package cdcbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.cdc.BenchAdapter
import Workloads._

/** The workloads. Each generates its inputs from the seed, sets up on its
  * live pipeline (a seed epoch, then a "settle" epoch so the steady-state
  * code paths are compiled before anything is timed), measures its write
  * window as closed-loop rounds of one group (one epoch) each, serves a
  * fixed number of closed-loop reads from the final state, then checks
  * every output and fills `run.metrics` (end-to-end) and, traced,
  * `run.layer` (per layer). */
object Scenarios {

  /** Workload parameters; DESIGN.md gives the reasons. */
  object P {
    // trickle: closed-loop CDC rounds over a mid-size state; `--seconds`
    // sets the number of rounds, one per `TrickleRoundSeconds`
    val TrickleCustomers = 1000
    val TrickleOrders = 10000
    val TrickleSeedFiles = 4
    val TrickleRoundFiles = 8
    val TrickleFileEvents = 30
    val TrickleRoundSeconds = 4.0
    val TrickleFilesPerTrigger = 64
    // docs: document backlogs through the text and vector maintainers, one
    // round per `DocsRoundSeconds` of `--seconds`
    val DocsSeed = 2000
    val DocsRoundFiles = 8
    val DocsFileEvents = 500
    val DocsRoundSeconds = 4.0
    val DocsFilesPerTrigger = 64
    val SettleEvents = 20
    // closed-loop reads on the final state, after untimed warm-up reads
    val Reads = 30
    val WarmReads = 10
    // host-speed diagnostic: untimed and timed runs of the fixed job, and
    // its size
    val CalibrationWarm = 1
    val CalibrationRuns = 7
    val CalibrationSmallJobs = 4
    val CalibrationRows = 20000L
    // decode alone (traced run): two generated input sizes per format
    val DecodeOrders = Seq(40000, 200000)
    val DecodeDocs = Seq(5000, 25000)
    val DecodeReps = 3
  }

  /** Host-speed diagnostic: the median time of a fixed Spark job that uses
    * no engine code but the kinds of work an epoch is made of (a run of
    * small jobs with an 8-partition shuffle, then JSON encode and decode
    * with a shuffle and an aggregate), after a GC and an untimed run. The
    * traced run takes it after the streaming query has stopped, so no
    * engine work overlaps it. No metric is scaled by it. */
  def calibrate(run: Run): Unit = {
    val spark = run.spark
    val schema = "id BIGINT, g BIGINT, t STRING"
    def job(): Double = {
      val t0 = System.nanoTime()
      for (i <- 0 until P.CalibrationSmallJobs)
        spark.range(0, 1000, 1, 8).groupBy((col("id") % (i + 2)).as("k")).count().collect()
      spark.range(0, P.CalibrationRows, 1, 2)
        .select(to_json(struct(col("id"), (col("id") % 97).as("g"),
          concat(lit("w"), (col("id") % 4000).cast("string")).as("t"))).as("j"))
        .select(from_json(col("j"), schema, Map.empty[String, String]).as("p"))
        .select("p.*")
        .groupBy("g").agg(sum("id"), max("t")).collect()
      (System.nanoTime() - t0) / 1e6
    }
    System.gc()
    for (_ <- 0 until P.CalibrationWarm) job()
    val samples = (0 until P.CalibrationRuns).map(_ => job())
    val ms = Stats.p50(samples)
    run.layer.put("host.calibration_ms", ms, "ms")
    run.log(f"calibration $ms%.0f ms (${samples.map(x => f"$x%.0f").mkString(" ")})")
  }

  /** Set-up ends here: process start to now, minus input generation. */
  def markSetup(run: Run): Unit = {
    val startMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    run.metrics.put("setup_s",
      (System.currentTimeMillis() - startMs) / 1e3 - run.inputGenNs / 1e9, "s")
    Trace.clear()
    run.log(f"set-up done (input generation ${run.inputGenNs / 1e9}%.1f s)")
  }

  def logEpochs(run: Run, eps: Seq[Epoch]): Unit =
    run.log("epochs (batch:rows:trigger_ms:addBatch_ms:compiles) " + eps.sortBy(_.batchId).map(e =>
      s"${e.batchId}:${e.rows}:${e.d("triggerExecution").toLong}:${e.d("addBatch").toLong}:" +
        e.compiles).mkString(" "))

  /** Rounds of a `--seconds` window, `roundSeconds` each, at least two. */
  def rounds(run: Run, roundSeconds: Double): Int =
    math.max(2, math.round(run.o.seconds / roundSeconds).toInt)

  /** Closed loop: publish each group, wait until the stream committed its
    * last event, then publish the next, so every group is exactly one epoch
    * whatever the host's speed. Returns each group with its publish time. */
  def closedLoop(run: Run, model: Model, groups: Seq[Group], landing: File,
                 what: String): Seq[(Group, Long)] =
    groups.map { g =>
      val t = publish(g, model.dir, landing)
      if (!awaitCommitted(run, g.cumEvents, 150))
        throw new IllegalStateException(s"$what (${g.name}) did not commit")
      g -> t
    }

  /** After the window: end-to-end metrics shared by both workloads, from
    * the window's groups (each with its publish time) and `base`, the events
    * committed before the window. Returns the window's epochs. */
  def finish(run: Run, published: Seq[(Group, Long)], base: Long,
             stateDirs: Seq[String]): Seq[Epoch] = {
    logEpochs(run, run.progress.all)
    val window = run.progress.all.filter(_.cumRows > base)
    run.attempted += window.size
    val fresh = freshness(run, published)
    run.metrics.put("freshness_p50_s", Stats.p50(fresh), "s")
    run.metrics.put("freshness_p90_s", Stats.quantile(fresh, 0.9), "s")
    run.layer.put("freshness.samples", fresh.size, "count")
    val lastEnd = window.map(_.endNs).maxOption.getOrElse(System.nanoTime())
    run.metrics.put("events_per_s",
      (published.last._1.cumEvents - base) / ((lastEnd - published.head._2) / 1e9), "events/s")
    readMetrics(run)
    Workloads.stateMb(run, stateDirs)
    window
  }

  // ---- trickle -------------------------------------------------------------

  /** Closed-loop CDC: rounds of `TrickleRoundFiles` files of
    * `TrickleFileEvents` events each (80% UPDATE, 10% INSERT, 10% DELETE on
    * Zipf keys, 1% customer segment moves) into a seeded orders + customer
    * state whose sink carries the composed maintainer chain. */
  def trickle(run: Run): Unit = {
    val o = run.o
    val root = run.dir("trickle")
    val gen = new OrdersGen(o.seed, new File(root, "pending"))
    val zipf = new Zipf(P.TrickleOrders, 0.99)
    generate(run) {
      gen.seed(P.TrickleCustomers, P.TrickleOrders, P.TrickleSeedFiles)
      gen.model.endGroup()
      // the settle group is a full round, so the window's rounds start warm
      for (_ <- 0 to rounds(run, P.TrickleRoundSeconds)) {
        for (_ <- 0 until P.TrickleRoundFiles) gen.changes(P.TrickleFileEvents, 0.1, 0.1, 0.01, zipf)
        gen.model.endGroup()
      }
    }
    val groups = gen.model.groups.toSeq
    val pipe = new OrdersPipe(run, root, gen, P.TrickleFilesPerTrigger)
    run.log("seed epoch")
    val q = pipe.start(Trigger.ProcessingTime(0))
    closedLoop(run, gen.model, groups.take(1), pipe.landing, "seed state")
    closedLoop(run, gen.model, groups.slice(1, 2), pipe.landing, "settle round")
    markSetup(run)

    val touched = trackManifest(run, pipe.dirs.state)
    val c0 = Counters.now()
    val published = closedLoop(run, gen.model, groups.drop(2), pipe.landing, "round")
    val c1 = Counters.now()
    q.stop()
    pipe.close()
    run.progress.onEpoch = _ => ()
    if (o.trace) calibrate(run)
    val r = new SplittableRandom(o.seed * 31 + 7)
    Reader.run(run, i => pipe.read(r, zipf, readKind(i)))

    val base = groups(1).cumEvents
    val window = finish(run, published, base, pipe.dirs.all)
    run.log("checks")
    checkReads(run, gen.model)
    pipe.check()
    run.metrics.put("peak_rss_mb", Counters.peakRssMb(), "MB")
    if (o.trace) {
      layerMetrics(run, window, groups.last.cumEvents - base, c1 - c0, touched)
      pipeLayer(run, window, pipe.hookMs.asScala.toSeq)
      run.layer.put("Buckets.read_ms",
        Stats.p50(Trace.all.filter(_.name == "serve.manifest").map(_.ms)), "ms")
      run.layer.put("Stream.files_per_bucket", filesPerBucket(run, pipe.dirs.state), "count")
      decodeRate(run, docs = false)
    }
  }

  /** Read mix, as a fixed cycle so every run issues the same mix: of each
    * ten reads, six readKey, three value lookups and one MV read. */
  def readKind(i: Int): Int = Seq(0, 1, 0, 0, 1, 0, 2, 0, 1, 0)(i % 10)

  // ---- docs ----------------------------------------------------------------

  /** Search-index maintenance: a seeded document state, then closed-loop
    * rounds, each a backlog of INSERT / text-rewriting UPDATE / DELETE
    * events published at once and drained in one epoch; each epoch runs
    * the text maintainer (postings, dict, stats, source index) and the
    * vector maintainer (frozen centroids) concurrently. */
  def docs(run: Run): Unit = {
    val o = run.o
    val root = run.dir("docs")
    val gen = new DocsGen(o.seed, new File(root, "pending"))
    val zipf = new Zipf(P.DocsSeed, 0.99)
    generate(run) {
      gen.changes(P.DocsSeed, 1.0, 0.0, zipf)
      gen.model.endGroup()
      gen.changes(P.SettleEvents, 0.3, 0.1, zipf)
      gen.model.endGroup()
      for (_ <- 0 until rounds(run, P.DocsRoundSeconds)) {
        for (_ <- 0 until P.DocsRoundFiles) gen.changes(P.DocsFileEvents, 0.3, 0.1, zipf)
        gen.model.endGroup()
      }
    }
    val groups = gen.model.groups.toSeq
    val pipe = new DocsPipe(run, root, gen)
    run.log("seed epoch")
    val q = pipe.start()
    closedLoop(run, gen.model, groups.take(1), pipe.landing, "seed documents")
    closedLoop(run, gen.model, groups.slice(1, 2), pipe.landing, "settle file")
    markSetup(run)

    val touched = trackManifest(run, pipe.textState)
    val c0 = Counters.now()
    val published = closedLoop(run, gen.model, groups.drop(2), pipe.landing, "document backlog")
    val c1 = Counters.now()
    q.stop()
    run.progress.onEpoch = _ => ()
    if (o.trace) calibrate(run)
    val r = new SplittableRandom(o.seed * 31 + 7)
    Reader.run(run, i => pipe.read(r, zipf, readKind(i)))

    val base = groups(1).cumEvents
    val window = finish(run, published, base, pipe.dirs)
    run.log("checks")
    checkReads(run, gen.model)
    pipe.check()
    run.metrics.put("peak_rss_mb", Counters.peakRssMb(), "MB")
    if (o.trace) {
      layerMetrics(run, window, groups.last.cumEvents - base, c1 - c0, touched)
      val spans = Trace.all
      for (n <- Seq("Search.text_maintain", "Similarity.vector_maintain"))
        run.layer.put(s"${n}_ms", Stats.p50(spans.filter(_.name == n).map(_.ms)), "ms")
      run.layer.put("Stream.files_per_bucket", filesPerBucket(run, pipe.textState), "count")
      run.layer.put("Buckets.read_ms",
        Stats.p50(Trace.all.filter(_.name == "serve.manifest").map(_.ms)), "ms")
      decodeRate(run, docs = true)
    }
  }

  /** The document pipeline: the changelog source feeding, per epoch, the
    * text and vector maintainers (each keeps its own document state). */
  final class DocsPipe(run: Run, root: File, gen: DocsGen) {
    val landing: File = { val f = new File(root, "landing"); f.mkdirs(); f }
    private def d(n: String) = new File(root, n).getPath
    val textState: String = d("text_state")
    val textIdx: String = d("text_idx")
    val vecState: String = d("vec_state")
    val vecIdx: String = d("vec_idx")
    def srcIdx: String = s"$textState/_srcidx"
    def statsMv: String = s"$textIdx/_stats"
    def dirs: Seq[String] = Seq(textState, textIdx, vecState, vecIdx)
    private val spark = run.spark

    val centroids: DataFrame = {
      import spark.implicits._
      gen.centres.zipWithIndex.toSeq.map { case (c, i) =>
        (i, c.toSeq, math.sqrt(c.map(x => x * x).sum))
      }.toDF("cl", "cvec", "cnrm").cache()
    }

    def start(): StreamingQuery = {
      val s2 = BenchAdapter.epochSession(spark)
      val decoded = BenchAdapter.decode(
        BenchAdapter.changelogStream(s2, landing.getPath, P.DocsFilesPerTrigger), DocsPayload,
        Envelope)
      run.progress.watch(root.getName)
      decoded.writeStream.queryName(root.getName)
        .option("checkpointLocation", d("ckpt"))
        .trigger(Trigger.ProcessingTime(0))
        .foreachBatch { (batch: DataFrame, epochId: Long) =>
          val b = batch.persist()
          try {
            val id = Trace.nextId()
            Trace.span("docs.epoch", epoch = epochId, id = id) {
              BenchAdapter.concurrently(
                () => layerSpan(run, "Search.text_maintain", id, epochId)(
                  BenchAdapter.maintainText(b.select("id", "seq", "op", "text", "source", "ts"),
                    epochId, textState, textIdx)),
                () => layerSpan(run, "Similarity.vector_maintain", id, epochId)(
                  BenchAdapter.maintainVectors(b.select("id", "seq", "op", "embedding"),
                    epochId, vecState, vecIdx, centroids)))
            }
          } finally b.unpersist()
        }
        .start()
    }

    /** One read: 0 = readKey on the text document state, 1 = source index
      * lookup, 2 = the corpus-stats MV. */
    def read(r: SplittableRandom, zipf: Zipf, kind: Int): Unit = {
      if (Trace.on) Trace.span("serve.manifest")(BenchAdapter.manifest(spark, textState))
      val t0 = System.nanoTime()
      val rec = kind match {
        case 0 =>
          val key = 1L + zipf.sample(r) % math.max(1L, gen.nextDoc - 1)
          val row = Trace.span("serve.read_key")(
            BenchAdapter.readKey(spark, textState, Seq("id" -> key)))
          ReadRec("read_key", key, "", t0, 0L, KeyResult(row.map(x =>
            (x.getAs[Long]("seq"), x.getAs[String]("source"),
              x.getAs[String]("text").split(' ').length.toLong))))
        case 1 =>
          val v = gen.source(r.nextInt(gen.nSources))
          ReadRec("lookup_value", 0L, v, t0, 0L, LookupResult(
            Trace.span("serve.lookup_value")(BenchAdapter.lookupByValue(spark, srcIdx, v))))
        case _ =>
          val rows = Trace.span("serve.read_mv")(BenchAdapter.readMv(spark, statsMv))
          ReadRec("read_mv", 0L, "", t0, 0L, MvResult(rows.map(x =>
            "" -> (x.getAs[Long]("n"), x.getAs[java.math.BigDecimal]("s").longValueExact))
            .toMap))
      }
      run.reads.add(rec.copy(endNs = System.nanoTime()))
    }

    /** Document states against the changelog fold; postings, corpus stats
      * and vector cells against a one-shot rebuild of the final documents. */
    def check(): Unit = {
      val cl = BenchAdapter.decode(BenchAdapter.changelogBatch(spark, landing.getPath),
        DocsPayload, Envelope).cache()
      val textCols = Seq("id", "text", "source", "ts")
      val docs = BenchAdapter.readState(spark, textState, textCols).cache()
      val vecs = BenchAdapter.readState(spark, vecState, Seq("id", "embedding")).cache()
      val rb = new File(run.o.work, "rebuild").getPath
      val rebuilt = scala.concurrent.Future(BenchAdapter.concurrently(
        () => BenchAdapter.maintainText(docs.select(col("id"), lit(1L).as("seq"),
          lit("INSERT").as("op"), col("text"), col("source"), col("ts")), 0L,
          s"$rb/text_state", s"$rb/text_idx"),
        () => BenchAdapter.maintainVectors(vecs.select(col("id"), lit(1L).as("seq"),
          lit("INSERT").as("op"), col("embedding")), 0L, s"$rb/vec_state", s"$rb/vec_idx",
          centroids)))(scala.concurrent.ExecutionContext.global)
      run.checkAll(
        "text document state hash-equals the Apply.latestState fold" -> (() =>
          sameRows(docs, BenchAdapter.latestState(cl, textCols))),
        "vector document state hash-equals the Apply.latestState fold" -> (() =>
          sameRows(vecs, BenchAdapter.latestState(cl, Seq("id", "embedding")))),
        "source index equals the live (source, id) pairs" -> (() => sameRows(
          BenchAdapter.readState(spark, srcIdx, Seq("v", "id")),
          docs.select(col("source").as("v"), col("id")))),
        "corpus stats equal the generator's model" -> (() =>
          BenchAdapter.readMv(spark, statsMv).map(x =>
            "" -> (x.getAs[Long]("n"), x.getAs[java.math.BigDecimal]("s").longValueExact)).toMap ==
            gen.model.mv.toMap))
      scala.concurrent.Await.result(rebuilt, scala.concurrent.duration.Duration.Inf)
      run.checkAll(
        "postings equal a one-shot maintainTextIndexBatch rebuild" -> (() => sameRows(
          BenchAdapter.readState(spark, textIdx, Seq("tok", "id", "tf")),
          BenchAdapter.readState(spark, s"$rb/text_idx", Seq("tok", "id", "tf")))),
        "corpus stats equal the rebuild's" -> (() => sameRows(
          BenchAdapter.readMvFrame(spark, statsMv),
          BenchAdapter.readMvFrame(spark, s"$rb/text_idx/_stats"))),
        "vector cells equal a one-shot maintainVectorIndexBatch rebuild" -> (() => sameRows(
          BenchAdapter.readState(spark, vecIdx, Seq("cell", "id")),
          BenchAdapter.readState(spark, s"$rb/vec_idx", Seq("cell", "id")))))
      docs.unpersist(); vecs.unpersist(); cl.unpersist()
    }
  }

  // ---- per-layer metrics (traced run) ---------------------------------------

  /** Manifest diff per epoch, read through `Buckets.read` on the listener
    * thread: how many buckets each epoch's commit rewrote. */
  def trackManifest(run: Run, stateDir: String): mutable.ArrayBuffer[Int] = {
    val out = mutable.ArrayBuffer.empty[Int]
    if (run.o.trace) {
      var last = BenchAdapter.manifest(run.spark, stateDir).getOrElse(Map.empty[Int, Long])
      run.progress.onEpoch = _ => {
        val now = BenchAdapter.manifest(run.spark, stateDir).getOrElse(Map.empty[Int, Long])
        out.synchronized(out += now.count { case (b, v) => last.get(b).forall(_ != v) })
        last = now
      }
    }
    out
  }

  /** Spark-level per-epoch metrics from progress and the job listener. */
  def layerMetrics(run: Run, window: Seq[Epoch], events: Long, c: Counters,
                   touched: mutable.ArrayBuffer[Int]): Unit = {
    val L = run.layer
    def p50(k: String) = Stats.p50(window.map(_.d(k)))
    L.put("spark.epochs", window.size, "count")
    L.put("spark.trigger_ms", p50("triggerExecution"), "ms")
    L.put("ChangelogSource.latest_offset_ms", p50("latestOffset"), "ms")
    L.put("spark.query_planning_ms", p50("queryPlanning"), "ms")
    L.put("spark.wal_commit_ms", p50("walCommit"), "ms")
    L.put("spark.add_batch_ms", p50("addBatch"), "ms")
    L.put("spark.commit_offsets_ms", p50("commitOffsets"), "ms")
    val perEpoch = window.map(epochJobs(run, _))
    L.put("spark.jobs_per_epoch", Stats.p50(perEpoch.map(_.size.toDouble)), "count")
    L.put("spark.stages_per_epoch", Stats.p50(perEpoch.map(_.map(_.stages).sum.toDouble)), "count")
    L.put("spark.tasks_per_epoch", Stats.p50(perEpoch.map(_.map(_.tasks).sum.toDouble)), "count")
    L.put("spark.codegen_compiles_per_epoch", c.compiles.toDouble / math.max(1, window.size), "count")
    L.put("Buckets.touched_per_epoch", Stats.p50(touched.synchronized(touched.toSeq).map(_.toDouble)),
      "count")
    L.put("fs.bytes_written_per_event", c.fsWritten.toDouble / math.max(1L, events), "B")
    L.put("fs.bytes_read_per_event", c.fsRead.toDouble / math.max(1L, events), "B")
    L.put("jvm.gc_ms", c.gcMs.toDouble, "ms")
    L.put("jvm.gc_count", c.gcCount.toDouble, "count")
    val jobs = perEpoch.flatten
    for (layer <- JobLayers)
      L.put(s"jobs.$layer.busy_ms", Trace.union(jobs.filter(_.layer == layer)
        .map(j => (j.startMs, j.endMs))).toDouble / math.max(1, window.size), "ms")
  }

  /** Where a job's time is charged: the maintainer module named by the
    * submitting thread's layer property, else the merge path ("Stream"). */
  val JobLayers: Seq[String] = Seq("Stream", "Materialize", "Index", "JoinMv", "Search", "Similarity")

  /** Non-read jobs that started inside the epoch's trigger interval. */
  def epochJobs(run: Run, e: Epoch): Seq[JobRec] =
    run.jobs.map(_.all).getOrElse(Nil)
      .filter(j => j.group != ReadGroup && j.startMs >= e.startMs && j.startMs <= e.endMs)
      .sortBy(_.startMs)

  /** Sink-side split of each epoch: the maintainer hook, its children, and
    * the merge's own time (addBatch minus hook minus the staging job, the
    * epoch's first job). */
  def pipeLayer(run: Run, window: Seq[Epoch], hooks: Seq[(Long, Double)]): Unit = {
    val L = run.layer
    val hookBy = hooks.toMap
    val spans = Trace.all
    L.put("ChangelogStateSink.maintainer_ms",
      Stats.p50(window.flatMap(e => hookBy.get(e.batchId))), "ms")
    for (n <- Seq("Materialize.mv_delta", "Materialize.join_mv_delta", "Index.delta",
        "JoinMv.maintain"))
      L.put(s"${n}_ms", Stats.p50(spans.filter(_.name == n).map(_.ms)), "ms")
    L.put("Stream.merge_self_ms", Stats.p50(window.map { e =>
      val staging = epochJobs(run, e).headOption.map(j => (j.endMs - j.startMs).toDouble)
        .getOrElse(0.0)
      e.d("addBatch") - hookBy.getOrElse(e.batchId, 0.0) - staging
    }), "ms")
  }

  /** Mean data files per written bucket of a state. */
  def filesPerBucket(run: Run, stateDir: String): Double = {
    val paths = BenchAdapter.bucketPaths(run.spark, stateDir)
    if (paths.isEmpty) 0.0
    else paths.map(p => Stats.countFiles(new File(p), _.getName.endsWith(".parquet"))).sum.toDouble /
      paths.size
  }

  /** Source decode alone, per event: batch reads of two generated inputs in
    * the workload's wire format (INSERTs), each consuming decoded payload
    * fields so the JSON parse cannot be pruned away. The slope between the
    * two sizes' median read times, in seconds per million events, leaves
    * out the batch job's fixed cost (launch, listing, planning). */
  def decodeRate(run: Run, docs: Boolean): Unit = {
    val spark = run.spark
    val sizes = if (docs) P.DecodeDocs else P.DecodeOrders
    val dirs = sizes.map { n =>
      val dir = new File(run.o.work, s"decode-$n")
      if (docs) new DocsGen(run.o.seed, dir).changes(n, 1.0, 0.0, new Zipf(1, 1.0))
      else new OrdersGen(run.o.seed, dir).seed(1000, n - 1000, 4)
      dir.getPath
    }
    def once(dir: String, events: Long): Double = {
      val t0 = System.nanoTime()
      val df = BenchAdapter.decode(BenchAdapter.changelogBatch(spark, dir),
        if (docs) DocsPayload else OrdersPayload, Envelope)
      val agg = if (docs) df.agg(count(lit(1)), sum(length(col("text"))), sum(size(col("embedding"))))
      else df.agg(count(lit(1)), sum(col("o_totalprice")), sum(col("c_acctbal")))
      val n = agg.head().getLong(0)
      if (n != events) run.fail(s"decode read $n events, expected $events")
      (System.nanoTime() - t0) / 1e9
    }
    val times = (0 until P.DecodeReps).flatMap(_ => sizes.zip(dirs).map { case (n, d) =>
      n -> once(d, n) }).groupMap(_._1)(_._2).view.mapValues(Stats.p50).toMap
    val (small, large) = (sizes.min, sizes.max)
    run.log(f"decode ${times(small)}%.3f s for $small events, ${times(large)}%.3f s for $large")
    run.layer.put("ChangelogSource.decode_s_per_mevent",
      (times(large) - times(small)) / ((large - small) / 1e6), "s")
  }
}
