package graft.cdc

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Incremental materialized-view maintenance: per-batch group deltas from
  * touched keys only, equal to a full re-aggregation at every step; batch
  * replay must never double-apply a delta. */
class MaterializeSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def mk(rows: (Long, Long, String, String, Double)*) =
    rows.toDF("id", "seq", "op", "g", "v")

  private def mv(mvDir: String): Seq[(String, Long, Double)] =
    Materialize.readMv(spark, mvDir)
      .select(col("g"), col("n"), col("s").cast("double"))
      .orderBy(col("g")).as[(String, Long, Double)].collect().toSeq

  test("MV tracks inserts, updates (including group moves), and deletes") {
    val work = Files.createTempDirectory("graft-mvspec-").toString
    val (st, mvd) = (s"$work/state", s"$work/mv")
    // batch 0: three inserts across two groups
    Materialize.maintainAggBatch(
      mk((1L, 1L, "INSERT", "A", 10.0), (2L, 2L, "INSERT", "A", 20.0),
         (3L, 3L, "INSERT", "B", 5.0)), 0L, st, mvd, "g", "v")
    assert(mv(mvd) === Seq(("A", 2L, 30.0), ("B", 1L, 5.0)))
    // batch 1: id 2 MOVES group A→B with a new value; id 3 deleted — the
    // delta must debit A and credit B from the same update
    Materialize.maintainAggBatch(
      mk((2L, 4L, "UPDATE", "B", 25.0), (3L, 5L, "DELETE", "B", 5.0)),
      1L, st, mvd, "g", "v")
    assert(mv(mvd) === Seq(("A", 1L, 10.0), ("B", 1L, 25.0)))
    // batch 2: last member of A deleted — the group row disappears, it
    // does not linger as a zero
    Materialize.maintainAggBatch(mk((1L, 6L, "DELETE", "A", 10.0)), 2L, st, mvd, "g", "v")
    assert(mv(mvd) === Seq(("B", 1L, 25.0)))
  }

  test("a replayed batch is fenced: no double-applied delta, state still merged") {
    val work = Files.createTempDirectory("graft-mvreplay-").toString
    val (st, mvd) = (s"$work/state", s"$work/mv")
    Materialize.maintainAggBatch(
      mk((1L, 1L, "INSERT", "A", 10.0), (2L, 2L, "INSERT", "B", 20.0)),
      0L, st, mvd, "g", "v")
    val b1 = mk((1L, 3L, "UPDATE", "A", 15.0))
    Materialize.maintainAggBatch(b1, 1L, st, mvd, "g", "v")
    val committed = mv(mvd)
    assert(committed === Seq(("A", 1L, 15.0), ("B", 1L, 20.0)))
    // replay of batch 1 (crash between MV commit and checkpoint advance):
    // the fence skips the delta, the idempotent state merge re-runs
    Materialize.maintainAggBatch(b1, 1L, st, mvd, "g", "v")
    assert(mv(mvd) === committed, "replay double-applied the MV delta")
    val state = ChangelogStream.readState(spark, st, Seq("id", "g", "v"))
      .orderBy("id").as[(Long, String, Double)].collect().toSeq
    assert(state === Seq((1L, "A", 15.0), (2L, "B", 20.0)))
  }

  test("a TRUNCATE fence batch debits the MV and retracts the index") {
    val work = Files.createTempDirectory("graft-mvtrunc-").toString
    val (st, mvd, idx) = (s"$work/state", s"$work/mv", s"$work/idx")
    def hook(batchId: Long)(prev: org.apache.spark.sql.DataFrame,
                            merged: org.apache.spark.sql.DataFrame): Unit = {
      Materialize.commitDelta(spark, mvd, batchId, prev, merged,
        Seq("g"), Materialize.aggContrib("g", "v"))
      Index.commitIndexDelta(prev, merged, batchId, idx, "g")
    }
    ChangelogStream.upsertBatch(
      mk((1L, 1L, "INSERT", "A", 10.0), (2L, 2L, "INSERT", "B", 20.0)),
      st, beforeCommit = hook(0L))
    assert(mv(mvd) === Seq(("A", 1L, 10.0), ("B", 1L, 20.0)))
    assert(ChangelogStream.readState(spark, idx, Seq("v", "id")).count() === 2)
    // a FENCE-ONLY batch: the killed rows surface as the hook's prev frame
    // (across every bucket), so the MV debits and the index retracts even
    // though no bucket was merged
    val marker = Seq((-1L, 100L, "TRUNCATE")).toDF("id", "seq", "op")
      .select(col("id"), col("seq"), col("op"),
        lit(null).cast("string").as("g"), lit(null).cast("double").as("v"))
    ChangelogStream.upsertBatch(marker, st, beforeCommit = hook(1L))
    assert(mv(mvd).isEmpty, "truncated contributions must be debited")
    assert(ChangelogStream.readState(spark, idx, Seq("v", "id")).count() === 0,
      "truncated index entries must be retracted")
    // life continues past the fence: a later insert rebuilds both
    ChangelogStream.upsertBatch(mk((3L, 200L, "INSERT", "B", 7.0)),
      st, beforeCommit = hook(2L))
    assert(mv(mvd) === Seq(("B", 1L, 7.0)))
    assert(ChangelogStream.readState(spark, st, Seq("id", "g", "v"))
      .as[(Long, String, Double)].collect().toSeq === Seq((3L, "B", 7.0)))
  }

  test("an MV savepoint pins its version across retention; release frees it") {
    // the Buckets.savepoint discipline extended to MV version dirs (r13):
    // the time-travel search's stats row must survive any tail batching
    val work = Files.createTempDirectory("graft-mvpin-").toString
    val mvd = s"$work/mv"
    def rows(g: String, n: Long, v: Double) =
      Seq((g, n, v)).toDF("g", "n", "s")
        .select(col("g"), col("n"), col("s").cast(Materialize.SType).as("s"))
    Materialize.commitDeltaRows(spark, mvd, 0L, rows("A", 1L, 10.0), Seq("g"))
    Materialize.savepointMv(spark, mvd, "pin")
    Materialize.commitDeltaRows(spark, mvd, 1L, rows("A", 1L, 5.0), Seq("g"))
    Materialize.commitDeltaRows(spark, mvd, 2L, rows("B", 1L, 2.0), Seq("g"))
    Materialize.commitDeltaRows(spark, mvd, 3L, rows("B", 1L, 1.0), Seq("g"))
    // retention keeps: v3 (latest), v2 (one predecessor), v0 (PINNED);
    // v1 collected
    assert(Versions.list(spark, mvd) === Seq(0L, 2L, 3L))
    val pinned = Materialize.readMvAt(spark, mvd, "pin")
      .select(col("g"), col("n"), col("s").cast("double").as("s"))
      .as[(String, Long, Double)].collect().toSeq
    assert(pinned === Seq(("A", 1L, 10.0)))
    // release: the next delta's sweep collects the formerly-pinned version
    Materialize.releaseMvSavepoint(spark, mvd, "pin")
    Materialize.commitDeltaRows(spark, mvd, 4L, rows("B", 1L, 1.0), Seq("g"))
    assert(Versions.list(spark, mvd) === Seq(3L, 4L))
    // re-release of a missing pin is a no-op (replay contract)
    Materialize.releaseMvSavepoint(spark, mvd, "pin")
  }

  test("the maintained MV equals a full re-aggregation of the applied state") {
    val out = Materialize.qMvAgg(spark, sfDir)
      .as[(String, Long, Double)].collect().toSeq
    val full = Apply.latestState(Changelog.fromOrders(spark, sfDir), Changelog.payloadCols)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 4))), 2)
          .cast("double").as("sum_value"))
      .orderBy(col("o_orderstatus"))
      .as[(String, Long, Double)].collect().toSeq
    assert(out === full)
  }
}
