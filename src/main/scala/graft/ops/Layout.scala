package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.LocalFs

/** Data-layout sink: the write side of partition pruning.
  *
  * At 100 TB a table's directory layout IS the primary index:
  * `partitionBy` columns become `col=value` directories the reader prunes
  * without opening a file, and sorting within files gives parquet
  * min/max row-group statistics their selectivity. This operator writes a
  * DataFrame in that shape:
  *
  *  - `repartition(partCols)` first, so each partition directory is
  *    written by the tasks that own its rows (without it, every task
  *    writes a sliver of every partition — the classic small-files
  *    explosion: tasks × partitions files);
  *  - `sortWithinPartitions(sortCols)` so each written file is sorted and
  *    its row-group min/max actually bound the sort key;
  *  - `partitionBy(partCols)` for the directory layout.
  *
  * (`bucketBy` — the hash-bucketed, shuffle-free-join layout — needs the
  * table catalog; ScaleSpec's bucketed-join test covers that path.)
  */
object Layout {

  def writePartitionedSorted(df: DataFrame, dir: String,
                             partCols: Seq[String], sortCols: Seq[String]): Unit =
    // sort by partCols FIRST: the V1 write path requires ordering by the
    // partition columns and inserts its own Sort when the child's ordering
    // doesn't satisfy it — a bare sortWithinPartitions(sortCols) would then
    // survive only through in-memory TimSort stability and be lost the
    // moment the write-side sort spills. The partCols-prefixed sort
    // satisfies the requirement (prefix match), guarantees the in-file
    // order, and avoids the redundant second sort.
    df.repartition(partCols.map(col): _*)
      .sortWithinPartitions((partCols ++ sortCols).map(col): _*)
      .write.mode("overwrite")
      .partitionBy(partCols: _*)
      .parquet(dir)

  /** Read back with a partition predicate — the reader must prune to the
    * matching directories (assert via `PartitionFilters` in the scan). */
  def readPartition(spark: SparkSession, dir: String,
                    partCol: String, value: String): DataFrame =
    spark.read.parquet(dir).filter(col(partCol) === value)

  /** Stage orders + lineitem as hash-bucketed catalog tables (8 buckets on
    * the join key, sorted within buckets), once per JVM+fixture: bucketing
    * is THE layout that turns the biggest fact-fact join shuffle-free, and
    * it needs the catalog (bucket spec is table metadata, not file bytes).
    * External location under /tmp keeps the warehouse out of the repo. */
  def stageBucketedTables(spark: SparkSession, dir: String): (String, String) = {
    // table name embeds the fixture-content fingerprint: changed fixtures
    // re-stage instead of silently reusing stale buckets
    val fp = graft.model.Staging.fingerprint(dir, Seq("orders.parquet", "lineitem.parquet"))
    val base = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val (ordersT, lineitemT) =
      (s"graft_bkt_orders_${base}_$fp", s"graft_bkt_lineitem_${base}_$fp")
    def stage(t: String, df: DataFrame, key: String): Unit = {
      if (spark.catalog.tableExists(t)) return
      // files commit via Staging's temp-dir + atomic-rename protocol
      // (concurrent JVMs race safely); the bucketed write needs a catalog
      // entry, so write through a throwaway external table name pointed at
      // the temp dir, then drop it (external: files stay)
      val path = graft.model.Staging.ensure(s"/tmp/graft-bucketed/$t") { tmp =>
        val writer = t + "_w" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
        df.write.bucketBy(8, key).sortBy(key)
          .option("path", tmp).saveAsTable(writer)
        spark.sql(s"DROP TABLE $writer")
      }
      // bucket ids live in the file names, so registering the external
      // table over committed files restores the layout without a rewrite
      spark.sql(s"CREATE TABLE $t (${df.schema.toDDL}) USING PARQUET " +
        s"CLUSTERED BY ($key) SORTED BY ($key) INTO 8 BUCKETS LOCATION '$path'")
    }
    stage(ordersT, graft.model.Tables.orders(spark, dir), "o_orderkey")
    stage(lineitemT, graft.model.Tables.lineitem(spark, dir), "l_orderkey")
    (ordersT, lineitemT)
  }

  /** The bucketed join as a first-class query: lineitem ⋈ orders on the
    * bucket key with a merge-join hint — both sides read pre-sorted
    * buckets, so the JOIN plans with no Exchange on either input (asserted
    * in PlanShapeSpec); the only shuffle left is the tiny post-join
    * rollup. This is the layout-as-index story at 100 TB: co-bucketed
    * fact tables join at scan speed. */
  def qBucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val (ordersT, lineitemT) = stageBucketedTables(spark, dir)
    spark.table(lineitemT).hint("merge")
      .join(spark.table(ordersT), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_extendedprice").cast(DecimalType(18, 4))), 2)
          .cast("double").as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  /** Small-files compaction: rewrite a parquet directory into
    * ceil(bytes / targetFileBytes) files. Streaming sinks and per-batch
    * writers accrete files over time; at 100 TB each file costs a task +
    * open + footer parse on every read, so periodic compaction is standard
    * table maintenance (what table formats schedule as OPTIMIZE).
    *
    * Crash safety: the rewrite goes through a HIDDEN temp sibling dir
    * (`.name.compact-tmp` — invisible to Spark readers, see [[scratch]]),
    * then a two-rename swap. A crash between the renames leaves the data
    * only under the hidden `.name.compact-old` — [[recoverCompact]]
    * (called on entry here, and safe to call at reader startup) rolls that
    * window back, so no crash point loses the table.
    *
    * Partitioned layouts ([[writePartitionedSorted]] output) are rejected:
    * reading them flat would inline the `col=value` directories as data
    * columns and destroy the pruning layout — compact each leaf partition
    * directory instead. */
  /** Scratch siblings of `dir` for the two-rename swap. DOT-PREFIXED so
    * they are invisible to Spark readers: for a leaf INSIDE a partitioned
    * root (`root/event_type=a`), an un-hidden sibling like
    * `event_type=a.compact-tmp` would match partition discovery and
    * silently double or mis-attribute rows for any concurrent reader of
    * the root (or any reader after a mid-swap crash); hidden dirs are
    * skipped by every Spark/Hadoop file index. */
  private def scratch(dir: String, suffix: String): org.apache.hadoop.fs.Path = {
    val p = new org.apache.hadoop.fs.Path(dir)
    new org.apache.hadoop.fs.Path(p.getParent, s".${p.getName}$suffix")
  }

  def compact(spark: SparkSession, dir: String, targetFileBytes: Long = 128L << 20): Unit = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = LocalFs.fs(spark, path)
    recoverCompact(spark, dir)
    if (fs.listStatus(path).exists(s => s.isDirectory && s.getPath.getName.contains("=")))
      throw new IllegalArgumentException(
        s"$dir is a partitioned layout; compact its leaf partition dirs, not the root")
    val bytes = fs.getContentSummary(path).getLength
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val tmp = scratch(dir, ".compact-tmp")
    fs.delete(tmp, true)
    spark.read.parquet(dir).repartition(nFiles).write.parquet(tmp.toString)
    val old = scratch(dir, ".compact-old")
    fs.delete(old, true)
    // both renames checked: an unchecked failure of the first would make
    // the second nest the compacted output INSIDE the live table (Hadoop's
    // local rename falls back to copy-into-existing-dir)
    if (!fs.rename(path, old))
      throw new IllegalStateException(s"compact swap failed: $path -> $old")
    if (!fs.rename(tmp, path))
      throw new IllegalStateException(s"compact swap failed: $tmp -> $path")
    fs.delete(old, true)
  }

  /** Compact every leaf partition directory of a [[writePartitionedSorted]]
    * layout — the partitioned counterpart [[compact]] points to when it
    * rejects a partitioned root. Walks the `col=value` tree to its leaves
    * (multi-level layouts compact one leaf at a time) and compacts each in
    * place, so the directory layout — the reader's pruning index — is
    * untouched and the partition values stay encoded in the paths, never
    * inlined into files. Each leaf inherits [[compact]]'s two-rename crash
    * protocol, and a leaf that crashed mid-swap in a PREVIOUS run (visible
    * only as `.leaf.compact-old`) is rolled back during the walk, so no
    * crash point loses a partition. A non-partitioned root degenerates to
    * a single [[compact]].
    *
    * At 100 TB this is the maintenance unit you actually schedule: leaves
    * compact independently (parallelize across a job per leaf set), and a
    * failure confines itself to one partition. */
  def compactPartitioned(spark: SparkSession, dir: String,
                         targetFileBytes: Long = 128L << 20): Unit = {
    val fs = LocalFs.fs(spark, dir)
    def leaves(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] = {
      // a crashed swap leaves data only under the hidden
      // .<leaf>.compact-old with no live <leaf> dir — recover it before
      // scanning for partitions, which skip hidden names
      fs.listStatus(p)
        .filter(_.getPath.getName.endsWith(".compact-old"))
        .foreach { s =>
          val live = s.getPath.getName.stripPrefix(".").stripSuffix(".compact-old")
          recoverCompact(spark, new org.apache.hadoop.fs.Path(p, live).toString)
        }
      val parts = fs.listStatus(p).toSeq.filter(s => s.isDirectory &&
        s.getPath.getName.contains("=") && !s.getPath.getName.startsWith("."))
      if (parts.isEmpty) Seq(p) else parts.flatMap(s => leaves(s.getPath))
    }
    leaves(new org.apache.hadoop.fs.Path(dir))
      .foreach(leaf => compact(spark, leaf.toString, targetFileBytes))
  }

  /** Roll back a compact that crashed between its two renames (data only
    * under the hidden `.<name>.compact-old` sibling, nothing at `dir`).
    * Idempotent; call before compacting or at reader startup. */
  def recoverCompact(spark: SparkSession, dir: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = LocalFs.fs(spark, path)
    val old = scratch(dir, ".compact-old")
    if (!fs.exists(path) && fs.exists(old)) fs.rename(old, path)
  }
}
