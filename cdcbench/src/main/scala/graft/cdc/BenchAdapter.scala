package graft.cdc

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType

import graft.sources.ChangelogStateSink

/** Every call the CDC benchmark makes into the engine goes through this
  * object, so a move of an engine interface touches this file only.
  *
  * It lives in the engine's `graft.cdc` package because the composed
  * maintainer chain is built from package-qualified pieces (the MV and
  * secondary-index deltas, the concurrent maintainer runner and the
  * per-epoch sibling session). Nothing here keeps state or reads
  * engine-internal accumulators. */
object BenchAdapter {

  /** The per-epoch session the engine's own streaming passes run in
    * (same SparkContext, pinned shuffle partitions, AQE off). */
  def epochSession(spark: SparkSession): SparkSession =
    Materialize.sessionWithParts(spark, 8)

  // ---- source --------------------------------------------------------

  /** `readStream.format("changelog")` over a landing dir; the read limit
    * is a SOURCE option. */
  def changelogStream(spark: SparkSession, dir: String,
                      maxFilesPerTrigger: Int): DataFrame =
    spark.readStream.format("changelog")
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toLong)
      .load(dir)

  /** Batch `read.format("changelog")` over the same files. */
  def changelogBatch(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("changelog").load(dir)

  /** The envelope decoded against a payload schema: envelope columns plus
    * one flat column per payload field (absent fields read as null). */
  def decode(envelopes: DataFrame, payload: StructType,
             envelopeCols: Seq[String]): DataFrame =
    envelopes
      .select(envelopeCols.map(col) :+ from_json(col("payload"), payload).as("p"): _*)
      .select(envelopeCols.map(col) ++ payload.fieldNames.map(f => col(s"p.$f").as(f)): _*)

  // ---- sink ----------------------------------------------------------

  /** `writeStream.format("changelog-state")` keyed by (table, id), with a
    * registered maintainer hook. */
  def stateSink(decoded: DataFrame, stateDir: String, checkpoint: String,
                maintainerKey: String, trigger: Trigger): DataStreamWriter[Row] =
    decoded.writeStream.format("changelog-state")
      .option("path", stateDir)
      .option("schema", decoded.schema.toDDL)
      .option("keyCols", "table,id")
      .option("maintainer", maintainerKey)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)

  def registerMaintainer(key: String, hook: (DataFrame, DataFrame, Long) => Unit): Unit =
    ChangelogStateSink.maintainers.put(key, hook)

  def unregisterMaintainer(key: String): Unit =
    ChangelogStateSink.maintainers.remove(key)

  // ---- maintainers ---------------------------------------------------

  /** Output dirs of the orders + customer pipeline: the keyed state, the
    * per-status MV, the status index, the static-dimension join-MV and the
    * bidirectional join-MV with its two helper states. */
  case class OrderDirs(state: String, mv: String, idx: String, mvJoin: String, agg: String,
                       seg: String, mvBidi: String) {
    def all: Seq[String] = Seq(state, mv, idx, mvJoin, agg, seg, mvBidi)
  }

  val OrderCols: Seq[String] = Changelog.payloadCols
  val CustomerCols: Seq[String] = Changelog.customerPayloadCols

  /** The composed maintainer chain: per-status MV delta, static-dimension
    * join-MV delta, secondary index on status and the bidirectional
    * join-MV, run concurrently. This is a copy of `Pipeline.fullMaintainer`
    * (which reads its dimension from a fixture dir and cannot wrap each
    * maintainer in a span), kept in step by hand: a change to
    * `fullMaintainer` alone is not measured until it is copied here. `dim`
    * is the (c_custkey, c_mktsegment) dimension the static join-MV joins
    * against. `span(name)(body)` wraps each maintainer call. */
  def composedChain(dirs: OrderDirs, dim: DataFrame,
                    span: String => (() => Unit) => Unit): (DataFrame, DataFrame, Long) => Unit = {
    def orders(rows: DataFrame) = rows.filter(col("table") === "orders").drop(CustomerCols: _*)
    (prev: DataFrame, merged: DataFrame, epochId: Long) => {
      val prevEmpty = ChangelogStream.hookPrevIsEmpty
      val s = prev.sparkSession
      val mv: () => Unit = () => span("Materialize.mv_delta") { () =>
        Materialize.commitDelta(s, dirs.mv, epochId, orders(prev), orders(merged),
          Seq("o_orderstatus"), Materialize.aggContrib("o_orderstatus", "o_totalprice"),
          prevEmpty = prevEmpty)
      }
      val idx: () => Unit = () => span("Index.delta") { () =>
        Index.commitIndexDelta(orders(prev), orders(merged), epochId, dirs.idx,
          "o_orderstatus", initialBuckets = 8, prevEmpty = prevEmpty)
      }
      val joinMv: () => Unit = () => span("Materialize.join_mv_delta") { () =>
        Materialize.commitDelta(s, dirs.mvJoin, epochId, orders(prev), orders(merged),
          Seq("c_mktsegment"),
          Materialize.joinAggContrib(dim, "o_custkey", "c_custkey", "c_mktsegment",
            "o_totalprice"),
          prevEmpty = prevEmpty)
      }
      val bidi: () => Unit = () => span("JoinMv.maintain") { () =>
        JoinMv.maintain(prev, merged, epochId, dirs.agg, dirs.seg, dirs.mvBidi)
      }
      Materialize.runConcurrent(mv, joinMv, idx, bidi)
    }
  }

  /** One document micro-batch through the text maintainer (doc state,
    * postings, dict, stats, source index). */
  def maintainText(batch: DataFrame, batchId: Long, stateDir: String, idxDir: String): Unit =
    graft.ops.Search.maintainTextIndexBatch(batch, batchId, stateDir, idxDir,
      noTruncate = true, initialBuckets = 8)

  /** One embedding micro-batch through the vector maintainer against
    * frozen centroids `(cl, cvec, cnrm)`. */
  def maintainVectors(batch: DataFrame, batchId: Long, stateDir: String, idxDir: String,
                      centroids: DataFrame): Unit =
    graft.ops.Similarity.maintainVectorIndexBatch(batch, batchId, stateDir, idxDir,
      centroids, noTruncate = true)

  /** Run independent maintainer calls concurrently, like the engine does. */
  def concurrently(tasks: (() => Unit)*): Unit = Materialize.runConcurrent(tasks: _*)

  // ---- serving -------------------------------------------------------

  def readKey(spark: SparkSession, stateDir: String, key: Seq[(String, Any)]): Option[Row] =
    ChangelogStream.readKey(spark, stateDir, key)

  def lookupByValue(spark: SparkSession, idxDir: String, value: Any): Array[Long] =
    Index.lookupByValue(spark, idxDir, value).collect().map(_.getLong(0))

  def readMv(spark: SparkSession, mvDir: String): Array[Row] =
    Materialize.readMv(spark, mvDir).collect()

  def readMvFrame(spark: SparkSession, mvDir: String): DataFrame =
    Materialize.readMv(spark, mvDir)

  def readState(spark: SparkSession, stateDir: String, cols: Seq[String]): DataFrame =
    ChangelogStream.readState(spark, stateDir, cols)

  /** The bucket manifest: bucket → committed version (-1 = never written). */
  def manifest(spark: SparkSession, stateDir: String): Option[Map[Int, Long]] =
    Buckets.read(spark, stateDir).map(_.entries.map { case (b, (_, v)) => b -> v })

  /** Committed data dirs of a state, one per written bucket. */
  def bucketPaths(spark: SparkSession, stateDir: String): Seq[String] =
    Buckets.read(spark, stateDir).map(_.paths(stateDir)).getOrElse(Nil)

  // ---- reference fold ------------------------------------------------

  /** The engine's batch latest-row-wins fold over a changelog. */
  def latestState(changelog: DataFrame, payloadCols: Seq[String]): DataFrame =
    Apply.latestState(changelog, payloadCols)
}
