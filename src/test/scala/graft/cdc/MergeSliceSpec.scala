package graft.cdc

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** The byte-sized merge exchange: the state merge packs small buckets into
  * byte-sized bins (one file per bucket either way) instead of one task per
  * touched bucket, while a bucket past the byte target still splits into
  * key-hash slices across tasks (intra-bucket parallelism at scale). */
class MergeSliceSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val rowSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "id BIGINT, seq BIGINT, op STRING, v STRING")

  /** An RDD-built batch: Spark knows nothing of its size (its statistics
    * read spark.sql.defaultSizeInBytes). */
  private def rddBatch(rows: Seq[(Long, Long, String, String)]) =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (i, s, o, v) => org.apache.spark.sql.Row(i, s, o, v) }, 4),
      rowSchema)

  /** Upsert `batch` with a hook that records the partition counts of the
    * `prev` and `merged` frames it is handed, and the merge plan's
    * exchange count. */
  private def upsertObserved(batch: org.apache.spark.sql.DataFrame,
                             stateDir: String, cacheBatch: Boolean = true) = {
    var seen = (-1, -1, -1)
    ChangelogStream.upsertBatch(batch, stateDir, cacheBatch = cacheBatch,
      beforeCommit = (prev, merged) => {
        merged.count()
        seen = (prev.rdd.getNumPartitions, merged.rdd.getNumPartitions,
          exchanges(merged.queryExecution.executedPlan))
      })
    seen
  }

  private def exchanges(p: org.apache.spark.sql.execution.SparkPlan): Int = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    p match {
      case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
      case q: QueryStageExec => exchanges(q.plan)
      case m: InMemoryTableScanExec => exchanges(m.relation.cachedPlan)
      case e: ShuffleExchangeLike => 1 + e.children.map(exchanges).sum
      case other => other.children.map(exchanges).sum
    }
  }

  private def assertOneFilePerBucket(stateDir: String): Unit =
    Buckets.read(spark, stateDir).get.entries
      .collect { case (b, (_, v)) if v >= 0 => b }.foreach { b =>
      val files = partFiles(latestVersionDir(stateDir, b))
      assert(files.size === 1,
        s"bucket $b: expected 1 merge file, got ${files.map(_.getName)}")
    }

  private def partFiles(dir: java.io.File): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(dir).filter(f => f.getName.startsWith("part-") &&
      f.getName.contains(".parquet") && !f.getName.endsWith(".crc"))
  }

  private def latestVersionDir(stateDir: String, bucket: Int): java.io.File = {
    val b = new java.io.File(s"$stateDir/bucket=$bucket")
    b.listFiles().filter(_.getName.startsWith("v="))
      .maxBy(_.getName.drop(2).toInt)
  }

  test("a non-seed merge writes ONE file per small touched bucket " +
    "(fan-out collapse), and the merged content is exact") {
    val stateDir = Files.createTempDirectory("graft-slice1-").toString + "/state"
    def mk(rows: (Long, Long, String, String)*) = rows.toDF("id", "seq", "op", "v")
    // seed: 64 keys over 4 buckets
    ChangelogStream.upsertBatch(
      mk((1L to 64L).map(i => (i, i, "INSERT", s"v$i")): _*),
      stateDir, initialBuckets = 4)
    // non-seed merge touching every bucket, with keys spread over all 4
    // shuffle partitions — the OLD plan wrote up to 4 files per bucket
    ChangelogStream.upsertBatch(
      mk((1L to 64L).map(i => (i, 1000L + i, "UPDATE", s"w$i")): _*), stateDir)
    assertOneFilePerBucket(stateDir)
    // content exact: latest seq per key
    val out = ChangelogStream.readState(spark, stateDir, Seq("id", "v"))
      .orderBy("id").as[(Long, String)].collect()
    assert(out.toSeq === (1L to 64L).map(i => (i, s"w$i")))
  }

  test("a bucket past the slice byte target splits into several files; " +
    "small buckets stay at one; results identical to the unsliced fold") {
    val stateDir = Files.createTempDirectory("graft-slice2-").toString + "/state"
    def mkN(n: Int, seqOff: Long, tag: String) = spark.range(n)
      .select(($"id" + 1).as("id"), ($"id" + 1 + seqOff).as("seq"),
        lit("INSERT").as("op"),
        concat(lit(tag), lpad(($"id" + 1).cast("string"), 6, "0"),
          lit("-" * 64)).as("v"))
    ChangelogStream.upsertBatch(mkN(512, 0L, "a"), stateDir, initialBuckets = 4)
    // force slicing: a tiny byte target makes every touched bucket's
    // prev+batch estimate exceed one slice
    spark.conf.set("spark.graft.merge.slice.bytes", "4096")
    try {
      ChangelogStream.upsertBatch(mkN(512, 100000L, "b"), stateDir)
    } finally spark.conf.unset("spark.graft.merge.slice.bytes")
    val layout = Buckets.read(spark, stateDir).get
    val perBucket = layout.entries.keys.toSeq.map { b =>
      partFiles(latestVersionDir(stateDir, b)).size
    }
    assert(perBucket.exists(_ > 1),
      s"no bucket sliced past one file under a 4 KB target: $perBucket")
    // the sliced merge computes the same state: latest-per-key everywhere
    val out = ChangelogStream.readState(spark, stateDir, Seq("id", "v"))
    assert(out.count() === 512)
    assert(out.filter(!$"v".startsWith("b")).count() === 0,
      "a key kept its superseded seed value — slice grouping broke the fold")
    // point reads route through the sliced files
    assert(ChangelogStream.readKey(spark, stateDir, 7L)
      .exists(_.getAs[String]("v").startsWith("b000007")))
  }

  test("a tiny non-seed merge over all 16 buckets runs as ONE partition: " +
    "the hook's prev and merged have one partition each, the plan one " +
    "Exchange, every bucket one file, and the content is the fold") {
    val stateDir = Files.createTempDirectory("graft-slice-tiny-").toString + "/state"
    def mk(rows: (Long, Long, String, String)*) = rows.toDF("id", "seq", "op", "v")
    val seed = (1L to 200L).map(i => (i, i, "INSERT", s"v$i"))
    ChangelogStream.upsertBatch(mk(seed: _*), stateDir)
    assert(Buckets.read(spark, stateDir).get.entries.size === 16)
    val next = (1L to 200L).filter(_ % 3 != 0).map(i => (i, 1000L + i, "UPDATE", s"w$i")) ++
      (201L to 240L).map(i => (i, 1000L + i, "INSERT", s"n$i")) ++
      Seq((3L, 2000L, "DELETE", null: String))
    val (prevParts, mergedParts, nExchanges) = upsertObserved(mk(next: _*), stateDir)
    assert(prevParts === 1, "prev should be coalesced to the merge's one bin")
    assert(mergedParts === 1, "16 small buckets should pack into one bin")
    assert(nExchanges === 1, "the aggregate must reuse the bin exchange")
    assertOneFilePerBucket(stateDir)
    val expected = Apply.latestState(mk(seed ++ next: _*), Seq("id", "v"))
      .as[(Long, String)].collect().sorted
    val out = ChangelogStream.readState(spark, stateDir, Seq("id", "v"))
      .as[(Long, String)].collect().sorted
    assert(out.toSeq === expected.toSeq)
  }

  test("a merge far above openCostInBytes keeps at least a partition per " +
    "task slot, one file per bucket, and exact content") {
    val stateDir = Files.createTempDirectory("graft-slice-wide-").toString + "/state"
    def mkN(n: Int, seqOff: Long, tag: String) = spark.range(n)
      .select(($"id" + 1).as("id"), ($"id" + 1 + seqOff).as("seq"),
        lit("INSERT").as("op"),
        concat(lit(tag), sha2(($"id" + 1).cast("string"), 256)).as("v"))
    ChangelogStream.upsertBatch(mkN(4000, 0L, "a"), stateDir)
    val slots = spark.sparkContext.defaultParallelism
    // a 1 KB open cost puts this ~100s-of-KB merge far above it
    spark.conf.set("spark.sql.files.openCostInBytes", "1024")
    val (prevParts, mergedParts, _) =
      try upsertObserved(mkN(4000, 100000L, "b"), stateDir)
      finally spark.conf.unset("spark.sql.files.openCostInBytes")
    assert(mergedParts >= slots && mergedParts <= 16,
      s"merge ran $mergedParts partitions on $slots task slots")
    assert(prevParts <= mergedParts)
    assertOneFilePerBucket(stateDir)
    val out = ChangelogStream.readState(spark, stateDir, Seq("id", "v"))
    assert(out.count() === 4000)
    assert(out.filter(!$"v".startsWith("b")).count() === 0)
  }

  test("unknown batch statistics (RDD-built input) into ONE touched bucket " +
    "do not size the merge, and the content is exact") {
    val stateDir = Files.createTempDirectory("graft-slice-rdd1-").toString + "/state"
    val layout = Buckets.initial(Seq("id"))
    val b0 = Buckets.bucketOfValues(layout, Seq(1L))
    val keys = Iterator.from(1).map(_.toLong)
      .filter(k => Buckets.bucketOfValues(layout, Seq(k)) == b0).take(20).toSeq
    ChangelogStream.upsertBatch(
      rddBatch(keys.map(k => (k, k, "INSERT", s"v$k"))), stateDir)
    val batch = rddBatch(keys.map(k => (k, 100L + k, "UPDATE", s"w$k")))
    // the uncached batch keeps Spark's "unknown" estimate into the sizing
    val (_, mergedParts, _) = upsertObserved(batch, stateDir, cacheBatch = false)
    assert(mergedParts === 1, s"one touched bucket ran $mergedParts partitions")
    assertOneFilePerBucket(stateDir)
    assert(ChangelogStream.readState(spark, stateDir, Seq("id", "v"))
      .as[(Long, String)].collect().sorted.toSeq ===
      keys.map(k => (k, s"w$k")).sorted)
  }

  test("unknown batch statistics (RDD-built input) into MANY touched " +
    "buckets do not split them to the slice cap; sums saturate") {
    val stateDir = Files.createTempDirectory("graft-slice-rddN-").toString + "/state"
    ChangelogStream.upsertBatch(
      rddBatch((1L to 300L).map(k => (k, k, "INSERT", s"v$k"))), stateDir)
    val batch = rddBatch((1L to 300L).map(k => (k, 1000L + k, "UPDATE", s"w$k")))
    // the sizing itself: the RDD batch's estimate counts as unknown, and a
    // byte count at the edge of Long saturates instead of wrapping
    assert(ChangelogStream.mergeParts(spark, batch.withColumn("b", lit(0)),
      Map(0 -> 1000L, 1 -> 1000L)).count === 1)
    val edge = ChangelogStream.mergeParts(Map(0 -> (Long.MaxValue - 5), 1 -> 10L),
      batchBytes = 100L, sliceTarget = 1L << 28, openCost = 4L << 20, parallelism = 2)
    assert(edge.slices === Map(0 -> 4096, 1 -> 1) && edge.bins === 1 &&
      edge.count === 4097)
    val touched = Buckets.read(spark, stateDir).get.entries.size
    val (_, mergedParts, _) = upsertObserved(batch, stateDir, cacheBatch = false)
    assert(mergedParts <= touched,
      s"$touched touched buckets ran $mergedParts merge partitions")
    assertOneFilePerBucket(stateDir)
    assert(ChangelogStream.readState(spark, stateDir, Seq("id", "v"))
      .as[(Long, String)].collect().sorted.toSeq ===
      (1L to 300L).map(k => (k, s"w$k")))
  }

  ChangelogStream.ReservedColumns.foreach { name =>
    test(s"a batch carrying the reserved column $name fails loudly") {
      val stateDir = Files.createTempDirectory("graft-slice-rsv-").toString + "/state"
      val batch = Seq((1L, 1L, "INSERT", "x")).toDF("id", "seq", "op", "v")
        .withColumn(name, lit(7))
      val e = intercept[IllegalArgumentException](
        ChangelogStream.upsertBatch(batch, stateDir))
      assert(e.getMessage.contains(name))
      assert(Buckets.read(spark, stateDir).isEmpty,
        "the rejected batch must leave no state behind")
    }
  }

  test("sessionWithParts memoizes per (context, parts) — the codegen cache " +
    "survives across passes instead of re-keying on a throwaway classloader") {
    val a = Materialize.sessionWithParts(spark, 8)
    val b = Materialize.sessionWithParts(spark, 8)
    val c = Materialize.sessionWithParts(spark, 4)
    assert(a eq b, "same (context, parts) must reuse the sibling session")
    assert(!(a eq c), "different parts must not share a session")
    assert(a.conf.get("spark.sql.shuffle.partitions") === "8")
    assert(c.conf.get("spark.sql.shuffle.partitions") === "4")
  }
}
