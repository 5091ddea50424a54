package graft.cdc

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.io.LocalFs

/** Structured Streaming rendering of the reference pipeline (SURVEY.md §3):
  * changelog source → decode/dispatch → idempotent keyed upsert sink.
  *
  * The reference tails pgoutput and applies one synchronous ES call per
  * event (producer `producer.go:70-173`, consumer `utils.go:92-117`). Here
  * the source is a file-based changelog stream carrying the same
  * `DatabaseEvent` envelope (op, table, id, payload; `utils.go:22-26`) —
  * swap `readStream.parquet` for `readStream.format("kafka")` + Debezium in
  * deployment, the transform/sink are unchanged. Delivery semantics are a
  * strict upgrade over the reference (SURVEY.md §4.3): checkpointed offsets
  * (vs. lossy temporary slot), idempotent keyed upsert (vs. ES auto-ID
  * duplicate inserts), retained tombstones (so out-of-order replay cannot
  * resurrect deleted keys).
  *
  * State layout: the snapshot is hash-bucketed by key —
  * `state/bucket=B/v=N` with per-bucket versions — and each micro-batch
  * merges and rewrites ONLY the buckets its keys hash into (one Spark job:
  * read touched-bucket snapshots ∪ batch, per-key `max_by`, write
  * partitioned by bucket; then per-bucket atomic renames). Untouched
  * buckets are never read or rewritten, so per-batch IO is proportional to
  * `touched_buckets × bucket_size`, not to total state — the property that
  * keeps a 100 TB keyed state serviceable by small batches (at that scale
  * `numBuckets` grows to thousands; the mechanism is unchanged). Each
  * bucket version is `_SUCCESS`-fenced and written fresh (never
  * overwriting what it reads); replaying a batch after a crash mid-rename
  * is idempotent because the per-key `max_by(seq)` merge is.
  */
object ChangelogStream {

  /** INITIAL bucket count of a fresh keyed state (a power of two — it is
    * extendible hashing's starting depth). Sized so sf-test states stay
    * multi-file without drowning tiny batches in task overhead. The count
    * is NOT a ceiling: arm `upsertBatch(maxBucketBytes = …)` and any bucket
    * that outgrows the target splits in place (depth+1, rewriting only
    * itself — [[Buckets]]), so the layout follows the data instead of
    * degrading point reads and merge granularity as state grows. */
  val NumBuckets = 16

  // ── TRUNCATE fence ────────────────────────────────────────────────────
  // A TRUNCATE at seq T erases every event of its table with seq <= T.
  // Rather than rewriting every bucket (IO ∝ state), the sink commits the
  // per-table fence as O(1) versioned metadata under `_truncate/v=N` and
  // READERS apply it (`seq > fence`); rows the fence killed are physically
  // dropped whenever their bucket is next merged-or-compacted anyway. This
  // is the only rendering that stays O(batch) at 100 TB.

  /** Per-table TRUNCATE fences of a state: table → last truncate seq.
    * The empty-string table key fences states whose rows carry no `table`
    * column (single-table streams). */
  private[cdc] def truncateFences(spark: SparkSession, stateDir: String): Map[String, Long] = {
    val dir = s"$stateDir/_truncate"
    Versions.list(spark, dir).lastOption.map { v =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/v=$v/fence.txt")
      MetaFile.readExisting(LocalFs.fs(spark, p), p)
        .split('\n').filter(_.nonEmpty).map { line =>
          val i = line.lastIndexOf('\t')
          line.take(i) -> line.drop(i + 1).toLong
        }.toMap
    }.getOrElse(Map.empty)
  }

  /** Commit `fences` as the next `_truncate` version. */
  private def writeFences(spark: SparkSession, stateDir: String,
                          fences: Map[String, Long]): Unit =
    Versions.writeNext(spark, s"$stateDir/_truncate", "fence.txt",
      fences.toSeq.sortBy(_._1).map { case (t, s) => s"$t\t$s" }.mkString("\n"))

  /** Fold new truncate maxima into the fence and commit the next version
    * (idempotent: replaying a batch re-derives the same fence and skips
    * the write). */
  private def commitTruncateFence(spark: SparkSession, stateDir: String,
                                  updates: Map[String, Long]): Unit = {
    val cur = truncateFences(spark, stateDir)
    val merged = (cur.keySet ++ updates.keySet).map { t =>
      t -> math.max(cur.getOrElse(t, Long.MinValue), updates.getOrElse(t, Long.MinValue))
    }.toMap
    if (merged != cur) writeFences(spark, stateDir, merged)
  }

  /** SET the fence table wholesale — the RESTORE path ([[Buckets.restore]]):
    * unlike [[commitTruncateFence]]'s monotone fold, a rollback must
    * REGRESS fences to the pinned moment. A no-op when the live fences
    * already match (the idempotent re-restore). */
  private[cdc] def setTruncateFences(spark: SparkSession, stateDir: String,
                                     fences: Map[String, Long]): Unit =
    if (truncateFences(spark, stateDir) != fences)
      writeFences(spark, stateDir, fences)

  /** The reader-side fence predicate: a row survives if its seq is past its
    * table's fence (per-table when the state carries `table`, else the
    * global maximum — single-table states). */
  private[cdc] def fenceCondition(columns: Seq[String], fences: Map[String, Long]) =
    if (fences.isEmpty) lit(true)
    else if (columns.contains("table"))
      fences.foldLeft(lit(true).as("keep")) { case (acc, (t, s)) =>
        when(col("table") === t, col("seq") > s).otherwise(acc)
      }
    else col("seq") > lit(fences.values.max)

  /** Whether the batch currently driving a `beforeCommit` hook carries a
    * TRUNCATE fence. [[upsertBatch]] already knows (its probe job collects
    * the markers), so the hook must never pay a second eager action just to
    * re-derive it (ADVICE r13: one extra driver job per micro-batch on the
    * hot maintain path). Valid ONLY inside the hook invocation — the hook
    * runs synchronously on the merging thread. */
  private val hookTruncate = new ThreadLocal[java.lang.Boolean] {
    override def initialValue: java.lang.Boolean = java.lang.Boolean.FALSE
  }

  /** Read by maintainer hooks (Search/Similarity index maintainers): does
    * the batch being committed carry a TRUNCATE fence? */
  def hookBatchHasTruncate: Boolean = hookTruncate.get()

  private val hookPrevEmpty = new ThreadLocal[java.lang.Boolean] {
    override def initialValue: java.lang.Boolean = java.lang.Boolean.FALSE
  }

  /** Read by maintainer hooks: is the hook's `prev` frame EMPTY (no state
    * bucket had ever committed — the first batch)? The merge knows
    * driver-side for free, and hooks use it to skip work that is an
    * identity on an empty previous side — e.g. the touched-keys semi-join
    * (merged ≡ the batch's keys when prev is empty), a corpus × keys
    * shuffle join on the seed batch of every one-epoch index pass (r14). */
  def hookPrevIsEmpty: Boolean = hookPrevEmpty.get()

  private def withHookFence[T](has: Boolean, prevEmpty: Boolean)(body: => T): T = {
    // restore the PREVIOUS values, not defaults: a hook that itself runs a
    // hooked upsertBatch on the same thread must see its own flags again
    // (no such nesting exists today — this keeps the invariant local)
    val pt = hookTruncate.get()
    val pe = hookPrevEmpty.get()
    hookTruncate.set(has)
    hookPrevEmpty.set(prevEmpty)
    try body finally { hookTruncate.set(pt); hookPrevEmpty.set(pe) }
  }

  /** Columns [[upsertBatch]] adds to the batch itself: the bucket id, the
    * key-hash slice of a skewed bucket, and the merge partition id. */
  val ReservedColumns: Seq[String] = Seq("__bucket", "__slice", "__bin")

  /** The non-seed merge's partition plan: every touched bucket's slice
    * count, `bins` shared partitions (ids `[0, bins)`) for the 1-slice
    * buckets, and each skewed bucket's slices in their own partitions from
    * `skewBase(b)` on. */
  private[cdc] final case class MergeParts(slices: Map[Int, Int], bins: Int) {
    val skewed: Map[Int, Int] = slices.filter(_._2 > 1)
    val skewBase: Map[Int, Int] = {
      val bs = skewed.keys.toSeq.sorted
      bs.zip(bs.scanLeft(bins)(_ + skewed(_))).toMap
    }
    val count: Int = bins + skewed.values.sum
  }

  /** Size the merge from `prevBytes` (touched bucket → its committed
    * version's bytes) and the batch's size estimate. A batch whose
    * statistics are unknown — Spark reports `spark.sql.defaultSizeInBytes`
    * (Long.MaxValue unless set) for an RDD-built or otherwise unsized leaf
    * — counts as 0 bytes, so the plan follows the previous bytes alone
    * instead of splitting every bucket to the slice cap; all sums
    * saturate. See `upsertBatch`'s non-seed merge for the rules. */
  private[cdc] def mergeParts(spark: SparkSession, batch: DataFrame,
                              prevBytes: Map[Int, Long]): MergeParts = {
    val conf = spark.sessionState.conf
    val unknown = BigInt(conf.defaultSizeInBytes)
    val batchBytes = scala.util.Try {
      val plan = batch.queryExecution.optimizedPlan
      if ((plan +: plan.collectLeaves()).exists(_.stats.sizeInBytes >= unknown)) 0L
      else plan.stats.sizeInBytes.toLong
    }.getOrElse(0L)
    mergeParts(prevBytes, batchBytes,
      sliceTarget = spark.conf.get(
        "spark.graft.merge.slice.bytes", (256L << 20).toString).toLong,
      openCost = conf.filesOpenCostInBytes,
      parallelism = spark.sparkContext.defaultParallelism)
  }

  private[cdc] def mergeParts(prevBytes: Map[Int, Long], batchBytes: Long,
                              sliceTarget: Long, openCost: Long,
                              parallelism: Int): MergeParts = {
    def add(a: Long, b: Long) = if (a > Long.MaxValue - b) Long.MaxValue else a + b
    def ceilDiv(a: Long, d: Long) = a / d + (if (a % d == 0) 0 else 1)
    val perBucket = batchBytes / math.max(1, prevBytes.size)
    val bytes = prevBytes.map { case (b, n) => b -> add(n, perBucket) }
    val slices = bytes.map { case (b, n) =>
      b -> math.min(4096L, math.max(1L, ceilDiv(n, sliceTarget))).toInt }
    val small = bytes.filter { case (b, _) => slices(b) == 1 }.values
    val binBytes = math.max(1L, math.min(sliceTarget, math.max(openCost,
      bytes.values.foldLeft(0L)(add) / math.max(1, parallelism))))
    val bins = math.min(small.size.toLong,
      math.max(1L, ceilDiv(small.foldLeft(0L)(add), binBytes))).toInt
    MergeParts(slices, bins)
  }

  /** Merge one micro-batch into the keyed state (exactly the reference's
    * consumer dispatch `utils.go:103-113`, as one set-oriented merge).
    * Tombstones (op=DELETE) are kept in state; readers filter them.
    *
    * Incremental: only buckets containing batch keys are read, merged, and
    * rewritten — ONE Spark job regardless of how many buckets a batch
    * touches (union of touched snapshots + batch → per-key `max_by` → write
    * partitioned by bucket), followed by per-bucket renames into the next
    * `_SUCCESS`-fenced version. Untouched bucket files are left
    * byte-for-byte alone (asserted by StreamSpec).
    *
    * `beforeCommit(prev, merged)` — if supplied — runs after the merged
    * bucket contents are written but BEFORE any bucket version becomes
    * visible: `prev` is the touched buckets' previous rows (unrestricted),
    * `merged` their post-merge contents. This is the fence point derived
    * tables ([[Materialize]]) need: they can commit their own delta first,
    * so a crash at any point leaves either (no delta, old state) — replay
    * redoes both — or (delta committed, old state) — replay skips the
    * delta and redoes only the idempotent state merge.
    *
    * `bucketCols` (default: the key columns) choose the hash the buckets
    * are laid out by; they must be a prefix-functional subset of `keyCols`
    * so every merge group lands in exactly one bucket. A narrower bucket
    * key (e.g. bucket a (value, id)-keyed secondary index by `value`
    * alone) is what makes value-addressed point reads single-bucket. The
    * chosen columns are recorded in the state's manifest ([[Buckets]]), so
    * point reads hash the right subset without the caller re-stating it.
    *
    * `maxBucketBytes` arms RESCALING: after its merge, a touched bucket
    * larger than this splits (extendible hashing, depth+1) — rewriting
    * ONLY itself — until within bounds. Default off: a bounded test corpus
    * should produce a deterministic layout; a real deployment sets it to
    * target_bucket_bytes and the bucket count follows the data.
    *
    * `initialBuckets` sizes a FRESH state's uniform layout (power of two;
    * recorded in the manifest, so readers and later merges follow it) — a
    * tiny dimension state doesn't pay 16 bucket dirs per merge, a huge one
    * starts wide. Ignored once a layout exists.
    *
    * `warmHookCache` materializes the merged-plan cache in ONE clean job
    * BEFORE the write leg and the maintainer chain start: with SEVERAL
    * maintainers fanning out over the same (prev, merged) caches, their
    * concurrent first accesses serialize on the block manager's
    * per-partition locks while blocking executor threads — measured on the
    * composed pass (r14): hook 8.8 → 6.3 s and the overlapped bucket write
    * 4.0 → 1.4 s, NET win despite the extra ~2 s job. (This reverses the
    * r9 "no separate warm-up pass" call, which predates the 4-maintainer
    * chain.) Leave false for single-maintainer hooks — one branch pays the
    * fill exactly once either way, and multi-epoch streams would pay the
    * extra job per epoch.
    *
    * `noTruncate` asserts the batch can NEVER carry a TRUNCATE marker —
    * true for every DERIVED-event upsert (index/postings/codes deltas
    * synthesize only INSERT/DELETE) and for streams over marker-free
    * changelogs. Its effect: a batch into an EMPTY state (no committed
    * bucket version — the seed batch of every one-epoch index pass) skips
    * the probe job outright, because the probe's two outputs are worthless
    * there — the touched set only trims PREV reads (there are none) and
    * the marker collection is vacuous by assertion. Non-empty states keep
    * the probe (the touched-bucket contract at scale). The assertion is
    * ENFORCED like fullMerge's: a marker row on a probe-skipped path
    * raises in the merge plan. (r15 — the bootstrap/live index passes
    * paid ~1 s of probe per derived seed upsert, 10 probes per bootstrap
    * carrier.) */
  def upsertBatch(batch: DataFrame, stateDir: String,
                  keyCols: Seq[String] = Seq("id"),
                  beforeCommit: (DataFrame, DataFrame) => Unit = null,
                  bucketCols: Seq[String] = null,
                  maxBucketBytes: Long = Long.MaxValue,
                  initialBuckets: Int = NumBuckets,
                  warmHookCache: Boolean = false,
                  cacheBatch: Boolean = true,
                  fullMerge: Boolean = false,
                  noTruncate: Boolean = false): Unit = {
    val spark = batch.sparkSession
    val fs = LocalFs.fs(spark, stateDir)
    val bCols = Option(bucketCols).getOrElse(keyCols)
    require(bCols.forall(keyCols.contains),
      s"bucketCols $bCols must be a subset of keyCols $keyCols")
    // the merge adds these columns itself; a user column of the same name
    // would be silently replaced (and its values lost) rather than merged
    val collisions = batch.columns.filter(c =>
      ReservedColumns.exists(_.equalsIgnoreCase(c)))
    require(collisions.isEmpty,
      s"batch for $stateDir carries reserved column(s) " +
        s"${collisions.mkString(", ")}; rename them before the upsert")
    // adopt the stored manifest; a fresh state starts at the initial
    // uniform layout, committed IMMEDIATELY — before any bucket data is
    // written — so the manifest is the single source of the bucket count
    // from batch 0 and a crash before the first flip replays onto the
    // same layout. Bucket dirs without a manifest were therefore never
    // written by this engine: refuse them rather than merge over them.
    // ("Fresh" is about bucket data, not the root: the DSv2 sink stages
    // its first epoch under $stateDir/_staging before the first merge.)
    val layout = Buckets.read(spark, stateDir).getOrElse {
      val root = new org.apache.hadoop.fs.Path(stateDir)
      if (fs.exists(root) && fs.listStatus(root)
          .exists(s => s.isDirectory && s.getPath.getName.startsWith("bucket=")))
        throw new IllegalStateException(
          s"$stateDir holds bucket dirs but no _layout manifest — not a state " +
            "upsertBatch wrote; refusing to adopt it")
      val l = Buckets.initial(bCols, initialBuckets)
      Buckets.commit(spark, stateDir, l)
      l
    }
    require(layout.bucketCols == bCols,
      s"state at $stateDir is bucketed by ${layout.bucketCols}, not $bCols")
    val hasOp = batch.columns.contains("op")
    val withB = batch.withColumn("__bucket", Buckets.bucketExpr(layout, bCols))
    // `cacheBatch = false` skips pinning the batch: right when the source
    // is already-columnar parquet a second read of which costs less than
    // materializing the cache (the probe's dominant cost on big batches —
    // r14, qStateDiffVersions). The default caches: the sink's staged
    // JSON would otherwise re-parse per consumer.
    if (cacheBatch) withB.persist()
    try {
      // ONE job over the cached batch: the touched buckets of the DATA rows
      // plus any TRUNCATE markers' (table, seq) — markers are sink metadata
      // (they commit a fence below), never merged as state rows
      val tableCol =
        if (batch.columns.contains("table")) col("table") else lit("")
      val isTrunc = if (hasOp) col("op") === "TRUNCATE" else lit(false)
      // `fullMerge` skips the probe job and merges EVERY bucket: right for
      // small (few-bucket) states whose batches can never carry TRUNCATE
      // markers and are non-empty by construction — e.g. the bidi advance's
      // customer-sized 4-bucket states, where the probe was a fixed
      // driver-job round per batch just to learn which of 4 dirs to touch.
      // An (unexpectedly) empty batch stays CORRECT: every bucket rewrites
      // with identical content. `noTruncate` into an EMPTY state takes the
      // same probe-free path (the seed-batch case — see the parameter doc).
      val stateEmpty = layout.entries.values.forall(_._2 < 0)
      val skipProbe = fullMerge || (noTruncate && stateEmpty)
      val (touched, truncs) =
        if (skipProbe) (layout.entries.keys.toSeq.sorted, Map.empty[String, Long])
        else {
          val probe = Materialize.timed("probe", stateDir)(withB.agg(
            collect_set(when(!isTrunc, col("__bucket"))).as("bs"),
            collect_set(when(isTrunc,
              struct(tableCol.as("t"), col("seq").as("s")))).as("ts")).head())
          (probe.getSeq[Int](0).sorted,
            probe.getSeq[org.apache.spark.sql.Row](1)
              .map(r => r.getString(0) -> r.getLong(1))
              .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).max })
        }
      // fences BEFORE this batch's markers commit — the view derived tables
      // were maintained against
      val oldFences = Materialize.timed("fences", stateDir)(
        truncateFences(spark, stateDir))
      if (truncs.nonEmpty) commitTruncateFence(spark, stateDir, truncs)
      val newFences =
        if (truncs.nonEmpty) truncateFences(spark, stateDir) else oldFences
      // rows the NEW fence kills that the old fence still showed, drawn
      // from the given committed paths — the retraction set a registered
      // derived-table maintainer must see in `prev` (they vanish from the
      // state without ever being a touched-bucket delta, ADVICE r8 #2)
      def killedRows(paths: Seq[String]): Option[DataFrame] =
        if (paths.isEmpty) None
        else {
          val raw = VersionScan.scan(spark, paths)
          Some(raw
            .filter(fenceCondition(raw.columns, oldFences) &&
              !fenceCondition(raw.columns, newFences))
            .withColumn("__bucket", Buckets.bucketExpr(layout, bCols)))
        }
      if (touched.isEmpty) {
        // a truncate-only batch still drives the maintainer hook: the fence
        // delta is (killed rows, nothing) — MVs debit, indexes retract
        if (beforeCommit != null && truncs.nonEmpty)
          killedRows(layout.paths(stateDir)).foreach { killed =>
            killed.persist()
            try withHookFence(has = true, prevEmpty = false)(
              beforeCommit(killed, killed.limit(0)))
            finally killed.unpersist()
          }
        return
      }
      val prevPaths = touched.filter(layout.version(_) >= 0)
        .map(b => s"$stateDir/bucket=$b/v=${layout.version(b)}")
      // the NON-SEED merge's partition plan (see mergedPlan), sized from
      // each touched bucket's previous bytes, read once
      val parts =
        if (prevPaths.isEmpty) None
        else Some(mergeParts(spark, withB, touched.map { b =>
          val v = layout.version(b)
          b -> (if (v < 0) 0L
            else scala.util.Try(fs.getContentSummary(
              new org.apache.hadoop.fs.Path(s"$stateDir/bucket=$b/v=$v"))
              .getLength).getOrElse(0L))
        }.toMap))
      // prev rows carry no bucket column on disk; recompute it (cheap hash).
      // Truncate-fenced rows are dropped here — they can never be visible
      // again (the fence is monotone), so each merge physically purges its
      // touched buckets' dead rows; readers filter the rest until their
      // bucket is next touched or compacted ([[compactState]]).
      val prev =
        if (prevPaths.nonEmpty) {
          // footer schema (no inference job); buckets written before a
          // schema change lack the newer columns, and the union view must
          // carry them all (VersionScan.scan's mergeSchema fallback)
          val raw = VersionScan.scan(spark, prevPaths)
          raw.filter(fenceCondition(raw.columns, newFences))
            .withColumn("__bucket", Buckets.bucketExpr(layout, bCols))
            // the merge's byte-sized partition count, not one read task per
            // bucket file: every consumer of the persisted prev (the merge's
            // map side and each maintainer in the hook) pays a task per
            // partition
            .coalesce(parts.get.count)
        } else spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], withB.schema)
      // max_by hash aggregation (map-side combined) — see Apply.latestState;
      // grouping by (bucket, keys) keeps the bucket for the partitioned write
      // (bucket is key-functional, so groups are identical to groupBy(keys))
      // each attempt writes its OWN tmp dir (unique suffix): an interrupted
      // maintainer's zombie writer that outlives the bounded join below can
      // then never interleave files with an in-JVM replay of the same batch
      // — the replay promotes from ITS dir, the zombie's is swept as a
      // stale sibling by the next successful batch (ADVICE r11)
      val tmp = s"$stateDir/.merge-tmp-${java.util.UUID.randomUUID().toString.take(8)}"
      // Under fullMerge the probe that would have collected TRUNCATE
      // markers was skipped, so a marker that DID arrive would silently
      // lose its fence (no commitTruncateFence, no killed-rows hook) —
      // fail loudly instead (ADVICE r14): the no-TRUNCATE precondition is
      // asserted IN the merge plan (a per-row branch that only fires on a
      // marker — zero extra jobs), so misuse of the generic sink option is
      // an error, not an invisible correctness loss.
      val data =
        if (!hasOp) withB
        else if (skipProbe) withB.withColumn("op",
          when(col("op") === "TRUNCATE", raise_error(lit(
            s"fullMerge/noTruncate precondition violated at $stateDir: the " +
              "batch carries a TRUNCATE marker, whose fence the probe-free " +
              "path cannot commit — disable the option for this stream")))
            .otherwise(col("op")))
        else withB.filter(col("op") =!= "TRUNCATE")
      // SCHEMA EVOLUTION (the reference's RelationMessage re-announcement,
      // O3): the merge runs over the UNION of the batch's and the stored
      // rows' columns — a column added mid-stream null-pads history, a
      // dropped one null-pads the new rows — so the state follows the
      // changelog's schema without a rewrite
      val others = (data.columns ++ prev.columns).distinct.toSeq
        .filterNot(keyCols.contains).filterNot(_ == "__bucket")
      def mergedPlan(prevSide: DataFrame) = {
        val finalCols = Seq(col("__bucket")) ++ keyCols.map(col) ++
          others.map(c => col(s"last.$c").as(c))
        if (prevPaths.isEmpty) {
          // SEED batch (no committed bucket version anywhere in the touched
          // set): the union-with-an-empty-frame is a no-op on rows but NOT
          // on the plan — it plans (and codegen-compiles) a dead branch and,
          // worse, discards the batch's existing output partitioning, which
          // for derived-event upserts (postings/codes: events pre-grouped by
          // a subset of the merge keys) forces a second Exchange the merge
          // could otherwise reuse (guide §2.4). Skip it: `data` alone IS the
          // union's row set, and every column of `others` exists on it
          // (empty prev carries withB's own schema by construction).
          data.groupBy((Seq("__bucket") ++ keyCols).map(col): _*)
            .agg(max_by(struct(others.map(col): _*), col("seq")).as("last"))
            .select(finalCols: _*)
        } else {
          // NON-SEED merge: ONE exchange whose partitions are sized by BYTES
          // (guide §2.2 fewer-larger partitions, §6 small files), from the
          // plan [[mergeParts]] made of each touched bucket's previous
          // bytes plus the batch's size estimate:
          //  - a bucket past the slice target (spark.graft.merge.slice.bytes,
          //    default 256 MB) splits into ⌈bytes/target⌉ key-hash slices,
          //    each in its OWN partition — intra-bucket merge parallelism
          //    survives at 100 TB. __slice is xxhash64 of the keys:
          //    deliberately a DIFFERENT hash family than the murmur3 bucket
          //    id, whose pmod by a divisor of the bucket modulus would be
          //    constant within a bucket;
          //  - every 1-slice bucket goes to bin (bucket id mod bins), one of
          //    bins = ⌈small bytes / binBytes⌉ shared partitions (never more
          //    than there are such buckets), with Spark's own file-split
          //    rule binBytes = min(target, max(openCostInBytes,
          //    total / defaultParallelism)): a tiny merge runs ONE task
          //    instead of one per touched bucket, a large one keeps at
          //    least a partition per task slot.
          // ONE FILE PER SMALL BUCKET holds either way: the
          // partitionBy("__bucket") writer emits exactly one file per
          // bucket a task holds, and a bucket never spans bins.
          // __bin, the partition id, is a pure function of
          // (__bucket, __slice), and each slice a function of the keys, so
          // grouping by it changes no group — and because the grouping set
          // contains it, the aggregate REUSES this exchange rather than
          // adding its own. The bin count rides a stableLit (the map
          // literals are reference objects already), so the projection's
          // and aggregate's generated code does not change with it as the
          // state grows. Trade-off, disclosed:
          // rows cross the exchange un-combined (map-side partial
          // aggregation happens after the shuffle), which costs only the
          // intra-batch duplicate-key factor — the prev side is
          // latest-per-key already and never combined.
          val mp = parts.get
          // only SKEWED buckets ride the literal lookup maps: GetMapValue
          // on a map literal codegens a LINEAR key scan per row, so with
          // the 1-slice majority defaulted through coalesce the scan is
          // O(|skewed|) — the handful of outlier buckets slicing exists for
          val nSlices =
            if (mp.skewed.isEmpty) lit(1L)
            else coalesce(element_at(typedlit(mp.skewed), col("__bucket"))
              .cast("long"), lit(1L))
          val sliceOf = pmod(xxhash64(keyCols.map(col): _*), nSlices)
            .cast("int")
          val smallBin = pmod(col("__bucket"),
            graft.functions.StableLiterals.stableLit(math.max(mp.bins, 1)))
            .cast("int")
          val binOf =
            if (mp.skewed.isEmpty) smallBin
            else coalesce(element_at(typedlit(mp.skewBase), col("__bucket")) +
              col("__slice"), smallBin)
          prevSide.unionByName(data, allowMissingColumns = true)
            .withColumn("__slice", sliceOf)
            .withColumn("__bin", binOf)
            .repartitionById(mp.count, col("__bin"))
            .groupBy((Seq("__bin", "__bucket") ++ keyCols).map(col): _*)
            .agg(max_by(struct(others.map(col): _*), col("seq")).as("last"))
            .select(finalCols: _*)
        }
      }
      // plan capture for the committed plans/ artifacts: GRAFT_EXPLAIN=1
      // prints each state merge's physical plan (Exchange count / reuse is
      // the thing the r20 optimization notes assert) — dev-only, like
      // GRAFT_TIMING
      def explainMerge(df: DataFrame): Unit =
        if (sys.env.contains("GRAFT_EXPLAIN")) {
          println(s"##### upsert merge plan: $stateDir")
          df.explain("formatted")
        }
      if (beforeCommit == null) {
        val plan = mergedPlan(prev)
        explainMerge(plan)
        Materialize.timed("merge write", stateDir)(
          plan.write.partitionBy("__bucket")
            .mode(SaveMode.Overwrite).parquet(tmp))
      }
      else {
        // HOOK EPOCHS OVERLAP the bucket-file write with the maintainer
        // chain: `prev` is persisted so the merge's cache fill serves the
        // hook too (its first job re-materialized the same state read
        // before), the merged frame is persisted AS THE PLAN (not re-read
        // from tmp), and the tmp write + the hook run concurrently — both
        // consume the caches, and the commit point below still waits for
        // BOTH, so the crash ordering (maintainer fences commit before any
        // bucket version becomes visible) is exactly as before; tmp stays
        // invisible until promote either way.
        val prevCached = prev.persist()
        val merged = mergedPlan(prevCached).persist()
        explainMerge(merged)
        val hookPrev =
          if (truncs.isEmpty) prevCached
          else {
            // the hook's "before" view when this batch carries TRUNCATEs:
            // touched buckets under the OLD fence (rows the new fence just
            // killed still appear, and are absent from `merged` — the
            // retraction the maintainer needs) plus the UNTOUCHED buckets'
            // killed rows, which no merge would otherwise surface
            val touchedOld = prevPaths match {
              case Seq() => prev
              case ps =>
                val raw = VersionScan.scan(spark, ps)
                raw.filter(fenceCondition(raw.columns, oldFences))
                  .withColumn("__bucket", Buckets.bucketExpr(layout, bCols))
            }
            val untouchedPaths = layout.entries.toSeq
              .collect { case (b, (_, v)) if v >= 0 && !touched.contains(b) =>
                s"$stateDir/bucket=$b/v=$v" }
            killedRows(untouchedPaths) match {
              case Some(k) => touchedOld.unionByName(k, allowMissingColumns = true)
              case None => touchedOld
            }
          }
        // without a TRUNCATE (or with nothing to add to an empty touched
        // set) hookPrev IS prevCached: persist and unpersist each frame once
        val ownHookPrev = !(hookPrev eq prevCached)
        if (ownHookPrev) hookPrev.persist()
        if (warmHookCache)
          Materialize.timed("hook cache warm", stateDir)(merged.count())
        try {
          val writeFut = scala.concurrent.Future(scala.concurrent.blocking(
            Materialize.timed("merge write", stateDir)(
              merged.write.partitionBy("__bucket")
                .mode(SaveMode.Overwrite).parquet(tmp))))(Materialize.stateWriteEc)
          var hookErr: Throwable = null
          try Materialize.timed("hook total")(
            // prevEmpty only when NO fence rode along: a truncate batch's
            // hookPrev can carry killed rows from UNTOUCHED buckets even
            // when the touched set's own prev paths are empty
            withHookFence(truncs.nonEmpty,
              prevEmpty = prevPaths.isEmpty && truncs.isEmpty)(
              beforeCommit(hookPrev, merged)))
          catch { case t: Throwable => hookErr = t }
          // ALWAYS join the write before proceeding or unwinding — nothing
          // should still be writing when the batch commits or aborts. A
          // writer that outlives the bounded interrupted-path join below is
          // harmless now (it writes its own unique tmp dir, never a replay's)
          // but still joined best-effort. If this thread was interrupted
          // (maintainer cancellation), clear the flag for a bounded join,
          // then restore it.
          val joined =
            scala.util.Try(scala.concurrent.Await.result(writeFut,
              scala.concurrent.duration.Duration.Inf)) match {
              case f @ scala.util.Failure(_: InterruptedException) =>
                Thread.interrupted()
                scala.util.Try(scala.concurrent.Await.ready(writeFut,
                  scala.concurrent.duration.Duration(30, "s")))
                // a writer that outlives the bounded join is abandoned with
                // its unique dir; a LAST-batch abandonment would never see
                // the next batch's sweep (and the zombie's committer can
                // even recreate the dir under a mid-write sweep), so pin
                // the dir for exit-time deletion as the backstop
                graft.model.TempDirs.deleteOnExit(tmp)
                Thread.currentThread().interrupt(); f
              case r => r
            }
          if (hookErr != null) throw hookErr
          joined.get
        } finally {
          if (ownHookPrev) hookPrev.unpersist()
          prevCached.unpersist(); merged.unpersist()
        }
      }
      // write each touched bucket's NEXT version dir. The per-dir _SUCCESS
      // still marks a complete write, but visibility is now the manifest
      // flip below: a crash anywhere before it leaves every reader on the
      // previous consistent (bucket → version) set — no torn multi-bucket
      // reads — and the batch replay (checkpointed offsets) re-merges
      // idempotently onto the same version numbers
      var entries = layout.entries
      Materialize.timed("promote", stateDir)(touched.foreach { b =>
        val from = new org.apache.hadoop.fs.Path(tmp, s"__bucket=$b")
        // under a probe-skipped merge a bucket with no batch AND no prev
        // rows writes nothing — leave its pointer as-is (the probe path's
        // touched set can't contain such a bucket, so a missing dir there
        // stays fatal)
        if (skipProbe && !fs.exists(from)) ()
        else {
          val next = layout.version(b) + 1
          val bDir = new org.apache.hadoop.fs.Path(stateDir, s"bucket=$b")
          fs.mkdirs(bDir)
          // a replayed batch can leave a POPULATED uncommitted v=next,
          // which the promote clears
          if (!Versions.promote(fs, from, new org.apache.hadoop.fs.Path(bDir, s"v=$next")))
            throw new IllegalStateException(s"state promote failed: no $from")
          entries = entries.updated(b, (layout.depth(b), next))
        }
      })
      // rescale: split any touched bucket that outgrew the target — depth+1
      // per round, rewriting ONLY that bucket's rows into children b and
      // b + 2^d; children become visible with the manifest flip, so a crash
      // mid-split is invisible and the replay overwrites cleanly
      if (maxBucketBytes < Long.MaxValue) {
        var work = touched.toList
        while (work.nonEmpty) {
          val b = work.head; work = work.tail
          val (d, v) = entries(b)
          // v = -1: a fullMerge-touched bucket nothing ever wrote — no dir
          val size =
            if (v < 0) 0L
            else fs.getContentSummary(
              new org.apache.hadoop.fs.Path(s"$stateDir/bucket=$b/v=$v")).getLength
          if (size > maxBucketBytes && d < MaxDepth) {
            val sibling = b + (1 << d)
            val rows = spark.read.parquet(s"$stateDir/bucket=$b/v=$v")
            val owner = pmod(hash(bCols.map(col): _*), lit(1 << (d + 1)))
            def writeHalf(target: Int, version: Long): Unit = {
              val to = new org.apache.hadoop.fs.Path(s"$stateDir/bucket=$target/v=$version")
              if (fs.exists(to)) fs.delete(to, true)
              rows.filter(owner === target)
                .write.mode(SaveMode.Overwrite).parquet(to.toString)
            }
            writeHalf(b, v + 1)
            writeHalf(sibling, 0L)
            entries = entries
              .updated(b, (d + 1, v + 1))
              .updated(sibling, (d + 1, 0L))
            // both halves re-check: a skewed hash may need further rounds
            work = b :: sibling :: work
          }
        }
      }
      // THE commit point: one manifest version flips the whole batch live
      Materialize.timed("manifest+retention", stateDir) {
        Buckets.commit(spark, stateDir, Buckets.Layout(bCols, entries))
        // retention: keep each bucket's versions from the PREVIOUS manifest's
        // pointer up (readers that resolved that manifest must still find
        // their dirs), plus anything a savepoint pins
        sweepBelow(spark, stateDir, layout, touched)
        fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
        // sweep stale merge-tmp siblings (crashed/interrupted attempts'
        // unique dirs): by now any zombie writer's batch is long unwound,
        // and nothing ever promotes from a stale dir — pure garbage
        fs.listStatus(new org.apache.hadoop.fs.Path(stateDir)).toSeq
          .filter(s => s.getPath.getName.startsWith(".merge-tmp-") &&
            s.getPath.getName != new org.apache.hadoop.fs.Path(tmp).getName)
          .foreach(s => fs.delete(s.getPath, true))
      }
    } finally if (cacheBatch) withB.unpersist()
  }

  /** Extendible-split depth ceiling: 2^24 buckets ≈ 16M dirs is far past
    * any sane layout; the guard only stops a pathological hash pile-up
    * from splitting forever. */
  private val MaxDepth = 24

  /** The ILM SHRINK phase (r18, the ladder rung after forcemerge): rewrite
    * a write-retired state into a UNIFORM layout of `targetBuckets` — the
    * ES `_shrink` API's shard-count reduction for old read-mostly indices
    * (a year-old generation does not need the write-sized bucket count;
    * fewer buckets = fewer files opened per read and per clone at 100 TB).
    * One Spark job rewrites every live row into the new bucket space (the
    * extendible-hash family makes re-bucketing a plain pmod change), new
    * version dirs stay invisible until the ONE manifest flip (the
    * [[compactState]] crash protocol: a crashed shrink is invisible and a
    * re-run overwrites), and the sweep afterwards honors savepoint pins —
    * a pinned manifest carries its own layout copy, so time travel keeps
    * resolving the PRE-shrink buckets as long as their pinned versions
    * survive, which the sweep guarantees exactly like compactState's.
    * Rows pass through raw (truncate fences and tombstones keep applying
    * at read — shrink changes layout, never content). */
  def shrinkState(spark: SparkSession, stateDir: String,
                  targetBuckets: Int): Unit = {
    val layout = Buckets.read(spark, stateDir).getOrElse(
      throw new IllegalStateException(
        s"no manifest at $stateDir — shrink a state written by upsertBatch"))
    require(targetBuckets >= 1 && Integer.bitCount(targetBuckets) == 1,
      s"targetBuckets must be a power of two, got $targetBuckets")
    require(targetBuckets <= layout.entries.size,
      s"shrink to $targetBuckets: the layout has only ${layout.entries.size} " +
        "buckets — shrink reduces, the split path grows")
    val fs = LocalFs.fs(spark, stateDir)
    val paths = layout.paths(stateDir)
    val d = Integer.numberOfTrailingZeros(targetBuckets)
    val target = Buckets.initial(layout.bucketCols, targetBuckets)
    val tmp = s"$stateDir/.shrink-tmp"
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    // age out a PREVIOUS shrink's orphaned bucket ids (dirs the current
    // layout no longer names) — they were kept one cycle for readers that
    // had resolved the pre-shrink manifest (see the sweep below)
    sweepOrphanBuckets(spark, stateDir, layout)
    if (paths.isEmpty) { Buckets.commit(spark, stateDir, target); return }
    val raw = VersionScan.scan(spark, paths)
    raw.withColumn("__bucket", Buckets.bucketExpr(target, target.bucketCols))
      .repartition(col("__bucket"))
      .write.partitionBy("__bucket").parquet(tmp)
    var entries = target.entries
    (0 until targetBuckets).foreach { b =>
      // the new version must clear any EXISTING version of this bucket id
      // (ids < target exist in the old layout) so readers holding the old
      // manifest never see their pointed version replaced
      val vNew = layout.entries.get(b).map(_._2).getOrElse(-1L) + 1
      val to = new org.apache.hadoop.fs.Path(s"$stateDir/bucket=$b/v=$vNew")
      fs.mkdirs(to.getParent)
      promoteOrEmpty(spark, new org.apache.hadoop.fs.Path(tmp, s"__bucket=$b"), to,
        raw.schema)
      entries = entries.updated(b, (d, vNew))
    }
    Buckets.commit(spark, stateDir, target.copy(entries = entries))
    // sweep: only versions below the PRE-shrink pointed version — the
    // just-superseded version survives one cycle, exactly like
    // compactState's sweep, so a reader that resolved the pre-shrink
    // manifest before the flip (a lazy Spark plan collected after it)
    // never hits deleted files (ADVICE r18). Kept ids age the survivor
    // out at the next compact/shrink through the ordinary keepFrom;
    // disappearing ids (b >= targetBuckets) keep their pointed version
    // too and the whole dir ages out through sweepOrphanBuckets on the
    // next compact/shrink. Savepoint pins survive as always (a pinned
    // manifest copy still names its (bucket, version) paths).
    sweepBelow(spark, stateDir, layout, layout.entries.keys.toSeq.sorted)
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
  }

  /** Retention after a manifest flip: each of `buckets` keeps its versions
    * from `prev`'s pointer up (readers that resolved the `prev` manifest
    * must still find their dirs), plus every version a savepoint pins. */
  private def sweepBelow(spark: SparkSession, stateDir: String,
                         prev: Buckets.Layout, buckets: Seq[Int]): Unit = {
    val pinned = Buckets.pinnedVersions(spark, stateDir)
    buckets.foreach { b =>
      val keepFrom = math.max(prev.version(b), 0L)
      Versions.sweep(spark, s"$stateDir/bucket=$b")(v =>
        v < keepFrom && !pinned.getOrElse(b, Set.empty).contains(v))
    }
  }

  /** Promote a maintenance rewrite's bucket dir; a bucket whose rows all
    * died wrote no dir, so commit an empty version instead — the pointer
    * still advances and the dead bytes age out through retention. */
  private def promoteOrEmpty(spark: SparkSession, from: org.apache.hadoop.fs.Path,
                             to: org.apache.hadoop.fs.Path,
                             schema: org.apache.spark.sql.types.StructType): Unit =
    if (!Versions.promote(LocalFs.fs(spark, to), from, to))
      Versions.writeEmpty(spark, to, schema)

  /** Delete bucket dirs a previous [[shrinkState]] orphaned — ids the
    * current layout no longer names. Their pointed versions were kept one
    * cycle for readers holding the pre-shrink manifest; by the time the
    * NEXT compact/shrink runs, that manifest is two flips stale and the
    * dirs can go — except versions a savepoint still pins (the pinned
    * manifest's own layout copy keeps resolving them). */
  private def sweepOrphanBuckets(spark: SparkSession, stateDir: String,
                                 layout: Buckets.Layout): Unit = {
    val root = new org.apache.hadoop.fs.Path(stateDir)
    val fs = LocalFs.fs(spark, root)
    if (!fs.exists(root)) return
    val pinned = Buckets.pinnedVersions(spark, stateDir)
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
      .map(s => (s.getPath, s.getPath.getName.stripPrefix("bucket=").toInt))
      .filter(_._2 >= layout.entries.size)
      .foreach { case (bDir, b) =>
        Versions.sweep(spark, bDir.toString)(v => !pinned.getOrElse(b, Set.empty).contains(v))
        if (fs.listStatus(bDir).forall(!_.getPath.getName.startsWith("v=")))
          fs.delete(bDir, true)
      }
  }

  /** State OPTIMIZE: rewrite every bucket's pointed version in ONE Spark
    * job — dropping truncate-fenced rows (physically purging what readers
    * were filtering) and collapsing the per-merge file accretion to one
    * file per bucket (`repartition` on the bucket column puts each
    * bucket's rows in exactly one task) — then flip one manifest version.
    * Logical content is unchanged; bytes, file counts, and per-read open
    * costs drop. Tombstones are RETAINED — they still fence late replays.
    * Crash protocol identical to a merge: new version dirs are invisible
    * until the manifest flip, and a re-run overwrites them. This is the
    * maintenance pass a deployment schedules off-peak, the keyed-state
    * analog of [[graft.ops.Layout.compactPartitioned]].
    *
    * `tombstoneHorizon`: tombstones exist to stop late replays from
    * resurrecting deleted keys, so by default they are retained forever —
    * which means a delete-heavy stream's state grows with deletions, not
    * live keys. A deployment that bounds its replay window (checkpointed
    * offsets + source retention give one) can pass the horizon seq:
    * tombstones with `seq < tombstoneHorizon` are dropped during
    * compaction, safe because no replayable event can predate them — the
    * same contract a watermark gives streaming aggregations. */
  def compactState(spark: SparkSession, stateDir: String,
                   tombstoneHorizon: Option[Long] = None): Unit = {
    val layout = Buckets.read(spark, stateDir).getOrElse(
      throw new IllegalStateException(
        s"no manifest at $stateDir — compact a state written by upsertBatch"))
    val fs = LocalFs.fs(spark, stateDir)
    val paths = layout.paths(stateDir)
    if (paths.isEmpty) return
    val fences = truncateFences(spark, stateDir)
    val tmp = s"$stateDir/.compact-tmp"
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    val raw = VersionScan.scan(spark, paths)
    val keepTombstone = tombstoneHorizon match {
      case Some(h) if raw.columns.contains("op") =>
        col("op") =!= "DELETE" || col("seq") >= h
      case _ => lit(true)
    }
    raw.filter(fenceCondition(raw.columns, fences) && keepTombstone)
      .withColumn("__bucket", Buckets.bucketExpr(layout, layout.bucketCols))
      .repartition(col("__bucket"))
      .write.partitionBy("__bucket").parquet(tmp)
    var entries = layout.entries
    layout.entries.toSeq.sortBy(_._1).foreach { case (b, (d, v)) =>
      if (v >= 0) {
        // a bucket whose rows were all fenced commits an empty version
        promoteOrEmpty(spark, new org.apache.hadoop.fs.Path(tmp, s"__bucket=$b"),
          new org.apache.hadoop.fs.Path(s"$stateDir/bucket=$b/v=${v + 1}"), raw.schema)
        entries = entries.updated(b, (d, v + 1))
      }
    }
    Buckets.commit(spark, stateDir, layout.copy(entries = entries))
    sweepBelow(spark, stateDir, layout, layout.entries.keys.toSeq.sorted)
    // ...and age out any bucket ids a previous shrink orphaned (kept one
    // cycle for pre-shrink-manifest readers — see shrinkState's sweep)
    sweepOrphanBuckets(spark, stateDir, layout)
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
  }

  /** The state's current layout; a state with no manifest holds nothing
    * to read. */
  private[cdc] def requireLayout(spark: SparkSession, stateDir: String): Buckets.Layout =
    Buckets.read(spark, stateDir).getOrElse(
      throw new IllegalStateException(s"no state at $stateDir"))

  /** Read the materialized table: the manifest's pointed snapshot set minus
    * tombstones. `onlyBucket` restricts the read to a single bucket — the
    * bucket-pruned point-read path, served by [[readBucket]]. */
  def readState(spark: SparkSession, stateDir: String, payloadCols: Seq[String],
                onlyBucket: Option[Int] = None): DataFrame = {
    val layout = requireLayout(spark, stateDir)
    onlyBucket match {
      case Some(b) => readBucket(spark, stateDir, layout, b, payloadCols)
      case None => readResolved(spark, stateDir, layout.paths(stateDir), None, payloadCols)
    }
  }

  /** One bucket's live rows under an ALREADY-READ layout, read through
    * [[VersionScan]]: on the driver when the bucket's files total at most
    * `spark.sql.files.maxPartitionBytes`, through Spark (footer schema, no
    * inference job) above that. `point` pre-filters rows while they are
    * read ([[VersionScan.read]]); callers still apply their own filter. */
  private[cdc] def readBucket(spark: SparkSession, stateDir: String,
                              layout: Buckets.Layout, bucket: Int,
                              payloadCols: Seq[String],
                              point: Seq[(String, Any)] = Nil): DataFrame =
    layout.paths(stateDir, Some(bucket)) match {
      case Seq() => readResolved(spark, stateDir, Nil, Some(bucket), payloadCols)
      case dirs => live(spark, stateDir, VersionScan.read(spark, dirs, point), payloadCols)
    }

  /** As [[readState]], but restricted to a SET of buckets, resolved and
    * read as ONE parquet relation: a maintainer pruning to N touched
    * buckets pays one driver-side listing, not N (the per-bucket
    * `spark.read` calls dominated [[JoinMv]]'s per-batch wall clock —
    * ~100 ms of driver work per bucket × two states × every micro-batch). */
  def readStateBuckets(spark: SparkSession, stateDir: String,
                       payloadCols: Seq[String], buckets: Seq[Int]): DataFrame = {
    val layout = requireLayout(spark, stateDir)
    readResolved(spark, stateDir, bucketPaths(layout, stateDir, buckets),
      buckets.headOption, payloadCols)
  }

  /** The committed paths of a layout's given buckets (live manifest or a
    * savepoint's pinned one — the caller chose where the Layout came from). */
  private def bucketPaths(layout: Buckets.Layout, stateDir: String,
                          buckets: Seq[Int]): Seq[String] = {
    val wanted = buckets.toSet
    layout.entries.toSeq.sortBy(_._1)
      .collect { case (b, (_, v)) if v >= 0 && wanted.contains(b) =>
        s"$stateDir/bucket=$b/v=$v" }
  }

  /** As [[readStateBuckets]], over an ALREADY-READ layout — the one-manifest
    * path for callers that hashed their values through the same Layout
    * (live or savepointed) and must not re-read it. `fences` overrides the
    * live truncate fences (a savepoint read passes its PINNED fences —
    * r14: applying a post-pin fence to pinned buckets would erase rows the
    * savepoint still owns). */
  def readLayoutBuckets(spark: SparkSession, stateDir: String,
                        layout: Buckets.Layout, payloadCols: Seq[String],
                        buckets: Seq[Int],
                        fences: Option[Map[String, Long]] = None): DataFrame =
    readResolved(spark, stateDir, bucketPaths(layout, stateDir, buckets),
      buckets.headOption, payloadCols, fences)

  /** As [[readState]], but through the consistent (bucket → version) set a
    * [[Buckets.savepoint]] pinned — version-addressed time travel over the
    * state itself, no changelog re-apply. Filters by the PINNED truncate
    * fences, not the live ones (r14). */
  def readStateAt(spark: SparkSession, stateDir: String, savepointName: String,
                  payloadCols: Seq[String]): DataFrame = {
    val (layout, fences) = Buckets.readSavepoint(spark, stateDir, savepointName)
    readResolved(spark, stateDir, layout.paths(stateDir),
      None, payloadCols, Some(fences))
  }

  /** The bucket-PRUNED rendering of [[readStateAt]]: only the given
    * buckets' PINNED versions open — the value-addressed point-read
    * discipline composed with a savepoint (time-travel search reads a
    * term's bucket as-of the pin, never the whole pinned state). Callers
    * hash their values through [[Buckets.readAt]]'s layout, which the pin
    * froze together with the versions. */
  def readStateBucketsAt(spark: SparkSession, stateDir: String,
                         savepointName: String, payloadCols: Seq[String],
                         buckets: Seq[Int]): DataFrame = {
    val (layout, fences) = Buckets.readSavepoint(spark, stateDir, savepointName)
    readLayoutBuckets(spark, stateDir, layout, payloadCols, buckets,
      Some(fences))
  }

  private def readResolved(spark: SparkSession, stateDir: String,
                           latest: Seq[String], onlyBucket: Option[Int],
                           payloadCols: Seq[String],
                           fences: Option[Map[String, Long]] = None): DataFrame = {
    val df =
      if (latest.nonEmpty) VersionScan.scan(spark, latest)
      else {
        // a pruned read of a bucket no write has touched is legitimately
        // empty (nothing ever hashed there) — answer with an empty frame in
        // the state's schema, taken from any committed bucket's footer
        val any = onlyBucket.flatMap(_ =>
          Buckets.read(spark, stateDir).flatMap(_.paths(stateDir).headOption))
        any match {
          case Some(path) => VersionScan.empty(spark, path)
          case None => throw new IllegalStateException(s"no state at $stateDir")
        }
      }
    live(spark, stateDir, df, payloadCols, fences)
  }

  /** `df`'s live rows: tombstones and rows behind a truncate fence (the
    * live fences unless `fences` pins others) dropped. */
  private def live(spark: SparkSession, stateDir: String, df: DataFrame,
                   payloadCols: Seq[String],
                   fences: Option[Map[String, Long]] = None): DataFrame =
    df.filter(col("op") =!= "DELETE" &&
        fenceCondition(df.columns,
          fences.getOrElse(truncateFences(spark, stateDir))))
      .select(payloadCols.map(col): _*)

  /** Point lookup: the current row for ONE key — the reference's per-id ES
    * match query (`es.go:50-54`), served from the bucketed snapshot without
    * touching the rest of the state. The key tuple hashes (driver-side, no
    * job) to its bucket — the same hash the writer used — so the
    * read opens exactly one bucket's latest committed version —
    * O(bucket_size), not O(state). The bucket is read through
    * [[VersionScan]]: on the driver, keeping only the key's rows, when its
    * files total at most `spark.sql.files.maxPartitionBytes` (what Spark
    * would give one scan task), so the read runs no Spark job; above that,
    * one Spark job with the key filter pushed to parquet. Returns None for
    * absent or tombstoned keys.
    *
    * `key` pairs each key column with its value, with the exact runtime
    * types the state was written with (`upsertBatch`'s `keyCols`) — e.g.
    * `Seq("table" -> "orders", "id" -> 42L)` for the multi-table state. A
    * mismatched type would hash to the wrong bucket and silently miss,
    * which is why the key columns are part of the call. WHICH of them the
    * layout hashes comes from the state's manifest — so a point read on a
    * bucketCols-narrowed state (the value-bucketed secondary index)
    * automatically hashes the right subset. */
  def readKey(spark: SparkSession, stateDir: String,
              key: Seq[(String, Any)]): Option[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.Row
    val byName = key.toMap
    val latest = Buckets.read(spark, stateDir).flatMap { layout =>
      val vals = layout.bucketCols.map(c => byName.getOrElse(c,
        throw new IllegalArgumentException(
          s"key ${key.map(_._1)} lacks the layout's bucket column '$c'")))
      layout.paths(stateDir, Some(Buckets.bucketOfValues(layout, vals))).headOption
    }
    latest.flatMap { dir =>
      val df = VersionScan.read(spark, Seq(dir), point = key)
      df.filter(key.map { case (c, v) => col(c) === lit(v) }
          .reduce(_ && _) && col("op") =!= "DELETE" &&
          fenceCondition(df.columns, truncateFences(spark, stateDir)))
        .collect() match {
          case Array(row: Row) => Some(row)
          case Array() => None
          case rows => throw new IllegalStateException(
            s"key $key resolved to ${rows.length} rows — corrupt state")
        }
    }
  }

  /** Single-column convenience overload of [[readKey]] for the default
    * `id`-keyed state. */
  def readKey(spark: SparkSession, stateDir: String, key: Long,
              keyCol: String = "id"): Option[org.apache.spark.sql.Row] =
    readKey(spark, stateDir, Seq(keyCol -> key))

  /** End-to-end: synthesize the changelog, stream it through in bounded
    * micro-batches (AvailableNow + maxFilesPerTrigger so multiple batches
    * actually exercise the cross-batch merge), return the materialized
    * orders table. Result is identical to the batch [[Apply.latestState]] —
    * the stream/batch equivalence the engine guarantees. */
  def applyStreaming(spark: SparkSession, sfDir: String, workDir: String,
                     stagedClDir: Option[String] = None,
                     maxFilesPerTrigger: Int = 3): DataFrame = {
    // changelog files can be pre-staged (shared across runs); state and
    // checkpoint must stay per-run — an AvailableNow restart against an old
    // checkpoint sees no new files and would materialize nothing
    val clDir = stagedClDir.getOrElse {
      val d = s"$workDir/changelog"
      Changelog.fromOrders(spark, sfDir)
        .repartition(4).write.mode(SaveMode.Overwrite).parquet(d)
      d
    }
    val stateDir = s"$workDir/state"

    val stream = spark.readStream
      .schema(spark.read.parquet(clDir).schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(clDir)

    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // the orders changelog is marker-free; the first batch of each
        // fresh per-run state skips its probe (noTruncate)
        upsertBatch(batch, stateDir, noTruncate = true)
      }
      .option("checkpointLocation", s"$workDir/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    readState(spark, stateDir, Changelog.payloadCols)
  }

  /** Multi-table variant: one stream carries every table's events (the
    * reference's single CDC topic, `utils.go:31`), state is keyed by
    * (table, id), and each table's view is a filter over the shared state —
    * the per-table fan-out the consumer does with per-index writes
    * (`utils.go:105-112`). Differing table schemas union by name with
    * null padding (the superset-envelope encoding). */
  def applyStreamingMultiTable(spark: SparkSession, sfDir: String,
                               workDir: String): Map[String, DataFrame] = {
    // staged once per fixture dir, like the single-table path
    val clDir = Changelog.stageParquetMultiTable(spark, sfDir)
    val stateDir = s"$workDir/state"

    val stream = spark.readStream.schema(spark.read.parquet(clDir).schema)
      .option("maxFilesPerTrigger", 3).parquet(clDir)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        upsertBatch(batch, stateDir, keyCols = Seq("table", "id"),
          noTruncate = true) // marker-free multi-table fixture
      }
      .option("checkpointLocation", s"$workDir/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    Map(
      "orders" -> readState(spark, stateDir, "table" +: Changelog.payloadCols)
        .filter(col("table") === "orders").select(Changelog.payloadCols.map(col): _*),
      "customer" -> readState(spark, stateDir, "table" +: Changelog.customerPayloadCols)
        .filter(col("table") === "customer").select(Changelog.customerPayloadCols.map(col): _*))
  }

  /** Query-shaped wrapper: staged changelog shared across runs, fresh temp
    * workdir (state + checkpoint) per run. One-epoch drain (round-11
    * coarsening): the cross-batch merge this pass exists to demonstrate is
    * pinned by StreamSpec, which drives [[applyStreaming]] at the
    * multi-batch default plus kill-resume. */
  def qApplyStreaming(spark: SparkSession, sfDir: String): DataFrame = {
    val work = graft.model.TempDirs.deleteOnExit(
      Files.createTempDirectory(Paths.get("/tmp"), "graft-stream-").toString)
    // per-batch merges are touched-bucket-sized: query-local 8-partition
    // session (Materialize.sessionWithParts)
    applyStreaming(Materialize.sessionWithParts(spark, 8), sfDir, work,
      stagedClDir = Some(Changelog.stageParquet(spark, sfDir)),
      maxFilesPerTrigger = 4)
      .orderBy(col("o_orderkey"))
  }

  /** Streaming rendering of TRUNCATE-apply: the marker commits the O(1)
    * per-table fence (no bucket rewrite; see the fence notes above) and
    * the drained state equals [[Apply.truncateApply]]'s batch result;
    * shares cdc_apply_truncate's oracle. The DECLARED query drains the 3
    * staged files (inserts | marker | updates+deletes) in ONE epoch
    * (round-12 coarsening — the probe separates markers from data within
    * a batch, the fence commits before the merge, and readers fence
    * uniformly); the multi-batch rendering — marker batch rewriting NO
    * buckets, later events rebuilding — stays pinned by StreamSpec's
    * direct per-batch drill AND its 1-file-per-trigger run of this
    * exact pass. */
  def qApplyStreamingTruncate(spark: SparkSession, sfDir: String,
                              maxFilesPerTrigger: Int = 3): DataFrame = {
    val clDir = Changelog.stageParquetTruncatePhased(spark, sfDir)
    val work = graft.model.TempDirs.deleteOnExit(
      Files.createTempDirectory(Paths.get("/tmp"), "graft-trunc-").toString)
    val stateDir = s"$work/state"
    // per-batch merges run over touched-bucket-sized data; a query-local
    // 8-partition sibling session fits that without touching the shared
    // session's conf (the Materialize.sessionWithParts note)
    val s2 = Materialize.sessionWithParts(spark, 8)
    val stream = s2.readStream
      .schema(s2.read.parquet(clDir).schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(clDir)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) => upsertBatch(batch, stateDir) }
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    readState(spark, stateDir, Changelog.payloadCols).orderBy(col("o_orderkey"))
  }

  /** Version-addressed state diff: the changelog applies in TWO ordered
    * batches split on the seq axis; a [[Buckets.savepoint]] pins the
    * state's (bucket → version) set at the batch boundary, and the diff
    * reads that pinned snapshot against the live state directly — NO
    * changelog re-apply (cdc_state_diff recomputes both snapshots from
    * history; this is the committed-versions rendering of the same answer,
    * which is why the two queries share one oracle). Retention keeps the
    * pinned versions alive however many batches later the diff runs.
    *
    * The batches apply through the same [[upsertBatch]] merge every
    * streaming sink uses — the versioned-bucket machinery under test is
    * identical — without a per-query Structured Streaming run (checkpoint
    * dir, offset log, trigger scheduling: ~3 s of fixed overhead at sf0.1
    * that duplicated what seven other declared streaming applies already
    * exercise). The STREAMING rendering — savepoint pinned from inside a
    * foreachBatch epoch, mid-stream — stays spec-covered: StreamSpec's
    * "a mid-stream savepoint ..." drill runs this exact shape at
    * maxFilesPerTrigger=1. */
  private[cdc] val DiffSplitSeq = 500000L
  private val diffPasses = new graft.model.JvmMemo[String]()

  /** The shared two-batch orders apply with a MID-STREAM savepoint: the
    * changelog applies in two ordered batches split on the seq axis, and
    * "asof" pins the state's (bucket → version) set at the boundary.
    * Memoized per (JVM, fixture) — [[qStateDiffVersions]] (the pinned-vs-
    * live diff) and [[qSavepointRestore]] (the rollback-and-resume drill)
    * are both served from this one pass, so the diff query reads two
    * committed version sets with ZERO per-query re-application (VERDICT
    * r14 #3; the build cost rides whichever family member runs first).
    * Retention keeps the pinned versions alive however many batches (or
    * restores) follow. */
  private[graft] def diffPassRun(spark: SparkSession, sfDir: String): String =
    diffPasses.getOrRun(sfDir) {
      val work = graft.model.TempDirs.deleteOnExit(
        Files.createTempDirectory(Paths.get("/tmp"), "graft-vdiff-").toString)
      val stateDir = s"$work/state"
      // touched-bucket-sized per-batch stages (see qApplyStreamingTruncate)
      val s2 = Materialize.sessionWithParts(spark, 8)
      // the STAGED changelog (memoized per fixture, already warm from the
      // apply family) — each batch's probe reads 4 parquet files instead of
      // re-deriving the whole synthesis per filter (r14: the derivation ran
      // TWICE and dominated the first batch's probe)
      val cl = s2.read.parquet(Changelog.stageParquet(s2, sfDir))
      // 15k keys: an 8-bucket fresh layout (manifest-recorded) halves the
      // files both batches write and BOTH diff snapshots later open;
      // cacheBatch=false — each batch is a parquet filter, re-read cheaper
      // than the cache fill the probe would otherwise pay; noTruncate —
      // the orders changelog is marker-free, so batch 1's probe into the
      // fresh state is skipped outright
      upsertBatch(cl.filter(col("seq") <= DiffSplitSeq), stateDir,
        initialBuckets = 8, cacheBatch = false, noTruncate = true)
      Buckets.savepoint(s2, stateDir, "asof")
      upsertBatch(cl.filter(col("seq") > DiffSplitSeq), stateDir,
        cacheBatch = false, noTruncate = true)
      stateDir
    }

  /** Assert the shared pass's LIVE state is fully caught up to the
    * changelog (VERDICT r15 #7): [[qSavepointRestore]] mutates the
    * memoized pass (restore, gate, re-apply the tail inside the query
    * body) — safe under the sequential bench/verify order because the
    * re-apply completes before it returns, but a future reordering that
    * read the state MID-RESTORE (tail not yet re-applied) would silently
    * diff against rolled-back data. One column-pruned max(seq) over the
    * live state makes that crash-loud: the "asof" pin was taken at the
    * seq-split boundary, so a restored-not-resumed state carries ONLY
    * seqs ≤ [[DiffSplitSeq]], while any tail-applied state carries the
    * tail's updates above it. (Equality to the changelog's own max seq is
    * unattainable by construction — the max event is a DELETE whose key
    * leaves the live state.)
    *
    * Memoized per LAYOUT-MANIFEST VERSION (self-review r16: the max(seq)
    * scan cost ~0.4 s per diff call for a state that rarely changes):
    * every merge AND every restore commits a new manifest version, so a
    * cached verdict can never mask a later mutation — a restore flips the
    * version, the re-check runs, and the mid-restore read still throws.
    * Steady-state cost: one tiny manifest read. */
  private val diffPassVerified =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def assertDiffPassCaughtUp(spark: SparkSession,
                                     stateDir: String): Unit = {
    val manifestV = Versions.list(spark, s"$stateDir/_layout")
      .lastOption.getOrElse(-1L)
    // boxed compare: an absent entry is null, never a false version match
    if (java.lang.Long.valueOf(manifestV) == diffPassVerified.get(stateDir)) return
    val liveMax = readState(spark, stateDir, Seq("seq"))
      .agg(max(col("seq"))).collect()(0).getLong(0)
    if (liveMax <= DiffSplitSeq) throw new IllegalStateException(
      s"diff pass at $stateDir is mid-restore: live max seq $liveMax is at " +
        s"or below the savepoint boundary $DiffSplitSeq — the post-pin tail " +
        "has not been re-applied (qSavepointRestore must complete before " +
        "the live side of this diff is readable)")
    diffPassVerified.put(stateDir, manifestV)
  }

  def qStateDiffVersions(spark: SparkSession, sfDir: String): DataFrame = {
    val stateDir = diffPassRun(spark, sfDir)
    assertDiffPassCaughtUp(spark, stateDir)
    val cols = Seq("id") ++ Changelog.payloadCols
    Apply.stateDiffVersions(
      readStateAt(spark, stateDir, "asof", cols),
      readState(spark, stateDir, cols),
      Changelog.payloadCols, "o_orderkey", diffCols = Seq("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** Oracle-checked query: savepoint RESTORE, end-to-end (VERDICT r14
    * missing #2) — the shared pass's state ROLLS BACK to the mid-stream
    * "asof" pin ([[Buckets.restore]]: one manifest flip re-points every
    * bucket at its pinned version, fences reset), the restored LIVE read
    * is gated hash-equal to the as-of read (the two exceptAll legs inject
    * alien rows on any disagreement), and then the tail RE-APPLIES through
    * the ordinary merge — restore-then-resume must converge to the
    * never-restored state, so the result shares cdc_apply's oracle.
    * Idempotent as a whole (bench reps, replays): every run re-restores
    * from the same pin and re-applies the same tail. */
  def qSavepointRestore(spark: SparkSession, sfDir: String): DataFrame = {
    val stateDir = diffPassRun(spark, sfDir)
    val s2 = Materialize.sessionWithParts(spark, 8)
    Buckets.restore(s2, stateDir, "asof")
    val cols = Seq("id") ++ Changelog.payloadCols
    // both reads capture their version paths NOW (driver-side resolution),
    // and the "asof" pin keeps those versions retention-proof while the
    // tail re-applies below — the lazy exceptAll legs stay readable.
    // Gate legs on the 8-partition session: two exceptAll shuffles over
    // ~13k-row frames don't need 32 tasks a stage
    val restored = readState(s2, stateDir, cols)
    val asof = readStateAt(s2, stateDir, "asof", cols)
    // both sides are key-unique latest-state reads, so ONE full-outer
    // null-safe compare (the stateDiffVersions shape — 2 shuffles) gates
    // as strongly as the symmetric exceptAll pair (4 shuffles): any
    // added/removed/changed key injects an alien row into the hash
    val gate = Apply.stateDiffVersions(asof, restored, Changelog.payloadCols,
        "o_orderkey", diffCols = Seq("o_totalprice"))
      .select(Changelog.payloadCols.map(c =>
        if (c == "o_orderkey") col(c)
        else lit(null).cast(restored.schema(c).dataType).as(c)): _*)
    // resume: the post-pin tail re-applies through the same merge — the
    // MERGE's idempotence-and-associativity is what makes restore a safe
    // recovery point for a re-tailed changelog
    val cl = s2.read.parquet(Changelog.stageParquet(s2, sfDir))
    upsertBatch(cl.filter(col("seq") > DiffSplitSeq), stateDir,
      cacheBatch = false, noTruncate = true)
    readState(spark, stateDir, Changelog.payloadCols)
      .unionByName(gate)
      .orderBy(col("o_orderkey"))
  }

  /** Streaming apply fed by the engine's OWN DSv2 connector
    * ([[graft.sources.ChangelogMicroBatchStream]]): JSON-line DatabaseEvent
    * envelopes tailed as a MicroBatchStream (file-offset resume, bounded
    * micro-batches via maxFilesPerTrigger admission control), payload
    * schema-applied with from_json (O4/O9), then the same idempotent keyed
    * upsert sink. This is BASELINE's "Structured Streaming with CDC source
    * connector" literally — the reference's ordered resumable tail
    * (`producer.go:18-174`) as a first-class Spark source. Result is
    * identical to the batch [[Apply.latestState]]; shares cdc_apply's
    * oracle. */
  def applyStreamingDsv2(spark: SparkSession, clDir: String, workDir: String,
                         pSchema: org.apache.spark.sql.types.StructType,
                         maxFilesPerTrigger: Int = 1): DataFrame = {
    val stateDir = s"$workDir/state"
    val decoded = spark.readStream.format("changelog")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(clDir)
      .filter(col("table") === "orders")
      .select(Seq(col("id"), col("seq"), col("op")) :+
        from_json(col("payload"), pSchema).as("p"): _*)
      .select(Seq(col("id"), col("seq"), col("op")) ++
        Changelog.payloadCols.map(c => col(s"p.$c").as(c)): _*)
    val q = decoded.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        upsertBatch(batch, stateDir, noTruncate = true) // marker-free tail
      }
      .option("checkpointLocation", s"$workDir/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    readState(spark, stateDir, Changelog.payloadCols)
  }

  /** Query-shaped wrapper for [[applyStreamingDsv2]]: staged envelope files
    * shared across runs, fresh state/checkpoint per run. The declared
    * query drains all 4 text files in ONE epoch (round-11 coarsening, the
    * qApplyStreamingSinkDsv2 rationale): the per-epoch probe/merge chain
    * is fixed overhead the epoch count multiplies, and cross-batch merge +
    * offset-resume semantics are pinned by ChangelogSourceSpec's restart
    * drills at 1 file per batch. */
  def qApplyStreamingDsv2(spark: SparkSession, sfDir: String): DataFrame = {
    val clDir = Changelog.stageEnvelopeJson(spark, sfDir)
    val work = graft.model.TempDirs.deleteOnExit(
      Files.createTempDirectory(Paths.get("/tmp"), "graft-stream-dsv2-").toString)
    // query-local 8-partition session for the per-batch merges
    applyStreamingDsv2(Materialize.sessionWithParts(spark, 8), clDir, work,
      Changelog.payloadSchema(spark, sfDir), maxFilesPerTrigger = 4)
      .orderBy(col("o_orderkey"))
  }

  /** The fully connector-native pipeline: the engine's DSv2 SOURCE tails
    * the envelope files AND the engine's DSv2 SINK
    * ([[graft.sources.ChangelogStateSink]]) materializes the keyed state —
    * `readStream.format("changelog")` → decode → `writeStream
    * .format("changelog-state")`. No foreachBatch: the micro-batch rows are
    * staged by executor DataWriters and merged by the sink's epoch-fenced
    * driver commit, so the plan is end-to-end DSv2 — the reference's
    * producer half (`producer.go:18-174`) and consumer half (`es.go:13-144`)
    * each rendered as a first-class connector. Result is identical to the
    * batch [[Apply.latestState]]; shares cdc_apply's oracle. */
  def applyStreamingSinkDsv2(spark: SparkSession, clDir: String, workDir: String,
                             pSchema: org.apache.spark.sql.types.StructType,
                             maxFilesPerTrigger: Int = 2): DataFrame = {
    val stateDir = s"$workDir/state"
    val decoded = spark.readStream.format("changelog")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(clDir)
      .filter(col("table") === "orders")
      .select(Seq(col("id"), col("seq"), col("op")) :+
        from_json(col("payload"), pSchema).as("p"): _*)
      .select(Seq(col("id"), col("seq"), col("op")) ++
        Changelog.payloadCols.map(c => col(s"p.$c").as(c)): _*)
    val q = decoded.writeStream.format("changelog-state")
      .option("path", stateDir)
      .option("schema", decoded.schema.toDDL)
      .option("keyCols", "id")
      .option("noTruncate", "true") // the orders envelope tail is marker-free
      .option("checkpointLocation", s"$workDir/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    ChangelogStream.readState(spark, stateDir, Changelog.payloadCols)
  }

  /** Query-shaped wrapper for [[applyStreamingSinkDsv2]]: staged envelopes
    * shared across runs, fresh state/checkpoint per run. The declared query
    * drains the 4 staged files in ONE epoch (maxFilesPerTrigger=4): every
    * per-epoch cost in the source→sink path (staging write + re-read,
    * probe, merge, fence) is fixed overhead the epoch count multiplies,
    * and the multi-epoch semantics — fence replay, per-epoch merge — are
    * pinned by ChangelogStateSinkSpec, which runs this exact pass at
    * maxFilesPerTrigger=2 plus a mid-stream rescale drain. */
  def qApplyStreamingSinkDsv2(spark: SparkSession, sfDir: String): DataFrame = {
    val clDir = Changelog.stageEnvelopeJson(spark, sfDir)
    val work = graft.model.TempDirs.deleteOnExit(
      Files.createTempDirectory(Paths.get("/tmp"), "graft-sink-dsv2-").toString)
    applyStreamingSinkDsv2(spark, clDir, work, Changelog.payloadSchema(spark, sfDir),
      maxFilesPerTrigger = 4)
      .orderBy(col("o_orderkey"))
  }

  /** Multi-table tail through the engine's own connector: ONE envelope
    * stream carries every table (the reference's single CDC topic,
    * `utils.go:31`), the per-table dispatch is a filter above the source,
    * and the customer view materializes through the same bucketed upsert —
    * shares cdc_apply_customer's oracle. (Dispatch filters stay in the
    * query in streaming — StreamAlignmentSpec pins that contract.) */
  def qApplyStreamingCustomerDsv2(spark0: SparkSession, sfDir: String): DataFrame = {
    // query-local 8-partition session for the per-batch merges
    val spark = Materialize.sessionWithParts(spark0, 8)
    val clDir = Changelog.stageEnvelopeJsonMultiTable(spark, sfDir)
    val work = graft.model.TempDirs.deleteOnExit(
      Files.createTempDirectory(Paths.get("/tmp"), "graft-stream-mdsv2-").toString)
    val stateDir = s"$work/state"
    val pSchema = Changelog.fromCustomer(spark, sfDir)
      .select(Changelog.customerPayloadCols.map(col): _*).schema
    val decoded = spark.readStream.format("changelog")
      // one-epoch drain, same rationale as qApplyStreamingSinkDsv2: the
      // multi-batch dispatch contract is pinned by StreamAlignmentSpec and
      // the multi-table composed pass (PipelineSpec at 1 file/trigger)
      .option("maxFilesPerTrigger", 4)
      .load(clDir)
      .filter(col("table") === "customer")
      .select(Seq(col("id"), col("seq"), col("op")) :+
        from_json(col("payload"), pSchema).as("p"): _*)
      .select(Seq(col("id"), col("seq"), col("op")) ++
        Changelog.customerPayloadCols.map(c => col(s"p.$c").as(c)): _*)
    val q = decoded.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // ~3k customer keys: a 4-bucket fresh layout (manifest-recorded)
        // quarters the per-merge file/promote fan-out vs the 16 default
        upsertBatch(batch, stateDir, initialBuckets = 4, noTruncate = true)
      }
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    readState(spark, stateDir, Changelog.customerPayloadCols)
      .orderBy(col("c_custkey"))
  }
}
