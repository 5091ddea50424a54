package graft.cdc

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Streaming pipeline: stream/batch equivalence + incremental upsert
  * semantics across micro-batches (SURVEY.md §5 item 3). */
class StreamSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("streamed changelog apply equals batch apply") {
    val work = Files.createTempDirectory("graft-streamspec-").toString
    val streamed = ChangelogStream.applyStreaming(spark, sfDir, work)
    val batch = Apply.latestState(Changelog.fromOrders(spark, sfDir), Changelog.payloadCols)
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
    assert(streamed.count() === batch.count())
  }

  test("initialBuckets sizes a fresh state; the manifest makes later merges and point reads follow it") {
    val stateDir = Files.createTempDirectory("graft-nbuckets-").toString + "/state"
    def mk(rows: (Long, Long, String, String)*) = rows.toDF("id", "seq", "op", "v")
    ChangelogStream.upsertBatch(mk((1L, 1L, "INSERT", "a"), (2L, 2L, "INSERT", "b")),
      stateDir, initialBuckets = 4)
    assert(Buckets.read(spark, stateDir).get.entries.size === 4)
    // a later merge with the DEFAULT arg adopts the stored 4-bucket layout
    ChangelogStream.upsertBatch(mk((3L, 3L, "INSERT", "c")), stateDir)
    assert(Buckets.read(spark, stateDir).get.entries.size === 4)
    assert(ChangelogStream.readState(spark, stateDir, Seq("id", "v")).count() === 3)
    // point reads hash through the manifest's 4-bucket layout
    assert(ChangelogStream.readKey(spark, stateDir, 3L).isDefined)
    assert(ChangelogStream.readKey(spark, stateDir, 99L).isEmpty)
    // non-power-of-two is rejected at creation
    intercept[IllegalArgumentException] {
      ChangelogStream.upsertBatch(mk((9L, 9L, "INSERT", "z")),
        Files.createTempDirectory("graft-nb-bad-").toString + "/state",
        initialBuckets = 6)
    }
    // the DSv2 sink creates $stateDir/_staging BEFORE the first merge —
    // a state with no bucket data must still count as FRESH (root
    // existence was the wrong test and silently dropped the sizing)
    val viaSink = Files.createTempDirectory("graft-nb-sink-").toString + "/state"
    assert(new java.io.File(s"$viaSink/_staging/q1").mkdirs())
    ChangelogStream.upsertBatch(mk((1L, 1L, "INSERT", "a")), viaSink,
      initialBuckets = 4)
    assert(Buckets.read(spark, viaSink).get.entries.size === 4)
  }

  test("a savepoint pins its truncate fences: as-of reads survive a later TRUNCATE") {
    // r14: a savepoint carries the fence set OF ITS MOMENT — applying the
    // LIVE fence to pinned buckets would erase rows the pin still owns
    val stateDir = Files.createTempDirectory("graft-sp-fence-").toString + "/state"
    def mk(rows: (Long, Long, String, String)*) = rows.toDF("id", "seq", "op", "v")
    ChangelogStream.upsertBatch(
      mk((1L, 1L, "INSERT", "a"), (2L, 2L, "INSERT", "b"), (3L, 3L, "INSERT", "c")),
      stateDir, initialBuckets = 4)
    Buckets.savepoint(spark, stateDir, "pre")
    // a later batch truncates at seq 10 and inserts key 4 past the fence
    ChangelogStream.upsertBatch(
      mk((-1L, 10L, "TRUNCATE", null), (4L, 11L, "INSERT", "d")), stateDir)
    // live: only the post-fence row
    assert(ChangelogStream.readState(spark, stateDir, Seq("id"))
      .collect().map(_.getLong(0)).toSeq.sorted === Seq(4L))
    // as-of "pre": the pinned fence set is EMPTY, so the pinned rows live
    assert(ChangelogStream.readStateAt(spark, stateDir, "pre", Seq("id"))
      .collect().map(_.getLong(0)).toSeq.sorted === Seq(1L, 2L, 3L))
    // and a savepoint taken AFTER the fence pins the fence with it
    Buckets.savepoint(spark, stateDir, "post")
    assert(Buckets.readFencesAt(spark, stateDir, "post") === Map("" -> 10L))
    assert(ChangelogStream.readStateAt(spark, stateDir, "post", Seq("id"))
      .collect().map(_.getLong(0)).toSeq.sorted === Seq(4L))
  }

  test("restore rolls the state back to its pin — fences regress, reads " +
    "equal the as-of read, and a resumed tail converges") {
    // r15 (VERDICT r14 missing #2): the second half of snapshot/restore.
    // The post-pin batch carries a TRUNCATE so the drill covers the fence
    // REGRESSION restore must perform (commitTruncateFence only advances).
    val stateDir = Files.createTempDirectory("graft-restore-").toString + "/state"
    def mk(rows: (Long, Long, String, String)*) = rows.toDF("id", "seq", "op", "v")
    ChangelogStream.upsertBatch(
      mk((1L, 1L, "INSERT", "a"), (2L, 2L, "INSERT", "b"), (3L, 3L, "INSERT", "c")),
      stateDir, initialBuckets = 4)
    Buckets.savepoint(spark, stateDir, "cut")
    // the disaster: a truncate erases everything, then a stray insert lands
    val tail = mk((-1L, 10L, "TRUNCATE", null), (4L, 11L, "INSERT", "d"))
    ChangelogStream.upsertBatch(tail, stateDir)
    assert(ChangelogStream.readState(spark, stateDir, Seq("id"))
      .collect().map(_.getLong(0)).toSeq.sorted === Seq(4L))
    // ROLL BACK: one manifest flip + fence reset — the LIVE read is the pin
    Buckets.restore(spark, stateDir, "cut")
    def liveIds = ChangelogStream.readState(spark, stateDir, Seq("id"))
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(liveIds === Seq(1L, 2L, 3L))
    assert(ChangelogStream.truncateFences(spark, stateDir) === Map.empty)
    assert(liveIds === ChangelogStream.readStateAt(spark, stateDir, "cut", Seq("id"))
      .collect().map(_.getLong(0)).toSeq.sorted)
    // idempotent: a crash-and-rerun of the restore converges
    Buckets.restore(spark, stateDir, "cut")
    assert(liveIds === Seq(1L, 2L, 3L))
    // RESUME: re-tailing the post-pin changelog converges to the
    // never-restored state (idempotent merge + re-committed fence)
    ChangelogStream.upsertBatch(tail, stateDir)
    assert(liveIds === Seq(4L))
    assert(ChangelogStream.truncateFences(spark, stateDir) === Map("" -> 10L))
  }

  test("restore refuses while another savepoint pins a later version — " +
    "release it and the restore proceeds") {
    // ADVICE r15: without the guard, the next merge of a restored bucket
    // writes pinned+1 and the promote path deletes the colliding dir a
    // LATER savepoint still points at — silent corruption of that pin.
    // restoreMv already fails loudly here; the keyed state must too.
    val stateDir = Files.createTempDirectory("graft-restore-guard-").toString + "/state"
    def mk(rows: (Long, Long, String, String)*) = rows.toDF("id", "seq", "op", "v")
    ChangelogStream.upsertBatch(mk((1L, 1L, "INSERT", "a")), stateDir,
      initialBuckets = 4)
    Buckets.savepoint(spark, stateDir, "early")
    ChangelogStream.upsertBatch(mk((1L, 2L, "UPDATE", "b")), stateDir)
    Buckets.savepoint(spark, stateDir, "late")
    val e = intercept[IllegalStateException] {
      Buckets.restore(spark, stateDir, "early")
    }
    assert(e.getMessage.contains("late"))
    assert(e.getMessage.contains("release"))
    // the refusal left the live state untouched
    assert(ChangelogStream.readState(spark, stateDir, Seq("v"))
      .collect().map(_.getString(0)).toSeq === Seq("b"))
    // releasing the later pin unblocks; the restored read is the early pin
    Buckets.releaseSavepoint(spark, stateDir, "late")
    Buckets.restore(spark, stateDir, "early")
    assert(ChangelogStream.readState(spark, stateDir, Seq("v"))
      .collect().map(_.getString(0)).toSeq === Seq("a"))
    // restoring TO the latest pin never blocks on earlier pins
    Buckets.savepoint(spark, stateDir, "again")
    Buckets.restore(spark, stateDir, "again")
    assert(ChangelogStream.readState(spark, stateDir, Seq("v"))
      .collect().map(_.getString(0)).toSeq === Seq("a"))
  }

  test("a TRUNCATE marker on a probe-skipped merge fails loudly instead of " +
    "silently losing the fence") {
    // ADVICE r14: fullMerge forces truncs empty and filters marker rows, so
    // a marker that DID arrive would vanish without a fence — the
    // precondition is now asserted in the merge plan
    val stateDir = Files.createTempDirectory("graft-fmguard-").toString + "/state"
    def mk(rows: (Long, Long, String, String)*) = rows.toDF("id", "seq", "op", "v")
    ChangelogStream.upsertBatch(mk((1L, 1L, "INSERT", "a")), stateDir,
      initialBuckets = 4)
    val bad = mk((-1L, 10L, "TRUNCATE", null), (2L, 11L, "INSERT", "b"))
    val e = intercept[Exception] {
      ChangelogStream.upsertBatch(bad, stateDir, fullMerge = true)
    }
    def rootMsg(t: Throwable): String =
      (Option(t.getMessage).getOrElse("") +
        Option(t.getCause).map(rootMsg).getOrElse(""))
    assert(rootMsg(e).contains("precondition violated"))
    // the guarded merge aborted before any promote: state unchanged
    assert(ChangelogStream.readState(spark, stateDir, Seq("id"))
      .collect().map(_.getLong(0)).toSeq === Seq(1L))
    // the same batch through the probe path commits the fence normally
    ChangelogStream.upsertBatch(bad, stateDir)
    assert(ChangelogStream.truncateFences(spark, stateDir) === Map("" -> 10L))
  }

  test("upsertBatch merges across batches with tombstones retained") {
    val work = Files.createTempDirectory("graft-upsert-").toString
    val stateDir = s"$work/state"
    def mk(rows: (Long, Long, String, String)*) =
      rows.toDF("id", "seq", "op", "v")
    // batch 1: two inserts
    ChangelogStream.upsertBatch(mk((1L, 1L, "INSERT", "a"), (2L, 2L, "INSERT", "b")), stateDir)
    // batch 2: update id 1, delete id 2
    ChangelogStream.upsertBatch(mk((1L, 3L, "UPDATE", "a2"), (2L, 4L, "DELETE", "b")), stateDir)
    // batch 3: LATE event for id 2 (seq 1 < tombstone seq 4) must not resurrect
    ChangelogStream.upsertBatch(mk((2L, 1L, "INSERT", "late")), stateDir)
    val out = ChangelogStream.readState(spark, stateDir, Seq("id", "v"))
      .orderBy("id").as[(Long, String)].collect()
    assert(out.toSeq === Seq((1L, "a2")))
  }

  test("a TRUNCATE batch fences prior state as O(1) metadata; later events rebuild") {
    val work = Files.createTempDirectory("graft-trunc-").toString
    val stateDir = s"$work/state"
    def mk(rows: (Long, Long, String, String, String)*) =
      rows.toDF("id", "seq", "op", "table", "v")
    ChangelogStream.upsertBatch(mk(
      (1L, 1L, "INSERT", "t", "a"), (2L, 2L, "INSERT", "t", "b"),
      (9L, 3L, "INSERT", "u", "x")), stateDir)
    // snapshot the bucket dirs: the truncate-only batch must rewrite NONE
    def bucketMtimes() = {
      def walk(f: java.io.File): Seq[(String, Long)] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else Seq(f.getPath -> f.lastModified)
      walk(new java.io.File(stateDir)).filterNot(_._1.contains("_truncate")).sortBy(_._1)
    }
    val before = bucketMtimes()
    ChangelogStream.upsertBatch(mk((-1L, 5L, "TRUNCATE", "t", null)), stateDir)
    assert(bucketMtimes() === before, "truncate must not rewrite any bucket")
    // reads apply the fence: table t empty, table u untouched
    assert(ChangelogStream.readState(spark, stateDir, Seq("table", "id", "v"))
      .orderBy("id").as[(String, Long, String)].collect().toSeq === Seq(("u", 9L, "x")))
    assert(ChangelogStream.readKey(spark, stateDir, 1L).isEmpty)
    assert(ChangelogStream.readKey(spark, stateDir, 9L).isDefined)
    // post-truncate events rebuild the table through the normal merge
    ChangelogStream.upsertBatch(mk((2L, 6L, "UPDATE", "t", "b2")), stateDir)
    assert(ChangelogStream.readState(spark, stateDir, Seq("id", "v"))
      .orderBy("id").as[(Long, String)].collect().toSeq === Seq((2L, "b2"), (9L, "x")))
    // that merge PHYSICALLY purged the fenced row from its touched bucket
    // (readers were already filtering it; the bytes go on next touch)
    def rawPointed() = {
      val paths = Buckets.read(spark, stateDir).get.paths(stateDir)
      spark.read.parquet(paths: _*)
    }
    assert(rawPointed().filter($"table" === "t" && $"id" === 2L && $"seq" <= 5L)
      .count() === 0)
    // compactState purges the REST (untouched buckets' fenced rows) in one
    // pass and collapses each bucket to one data file; content unchanged
    assert(rawPointed().filter($"table" === "t" && $"seq" <= 5L).count() > 0)
    ChangelogStream.compactState(spark, stateDir)
    assert(rawPointed().filter($"table" === "t" && $"seq" <= 5L).count() === 0)
    assert(ChangelogStream.readState(spark, stateDir, Seq("id", "v"))
      .orderBy("id").as[(Long, String)].collect().toSeq === Seq((2L, "b2"), (9L, "x")))
    Buckets.read(spark, stateDir).get.paths(stateDir).foreach { p =>
      val dataFiles = new java.io.File(p).listFiles()
        .filter(f => f.getName.endsWith(".parquet") || f.getName.startsWith("part-"))
      assert(dataFiles.length === 1, s"$p should hold one compacted file")
    }
    assert(ChangelogStream.readKey(spark, stateDir, 2L).isDefined)
    // end-to-end stream equals the batch truncate apply — at 1 file per
    // trigger (marker batch ALONE), the multi-batch fence rendering the
    // declared query's one-epoch drain no longer exercises
    val streamed = ChangelogStream.qApplyStreamingTruncate(spark, sfDir,
      maxFilesPerTrigger = 1)
    val batch = Apply.truncateApply(
      Changelog.fromOrdersTruncate(spark, sfDir), Changelog.payloadCols)
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("an oversized bucket splits in place; untouched buckets stay byte-identical") {
    val work = Files.createTempDirectory("graft-rescale-").toString
    val stateDir = s"$work/state"
    def mk(n: Int, offset: Long) = spark.range(n)
      .select(($"id" + offset).as("id"))
      .select($"id", $"id".as("seq"),
        lit("INSERT").as("op"), concat(lit("payload-"), $"id").as("v"))
    // batch 1: small state across all 16 buckets, no splits
    ChangelogStream.upsertBatch(mk(200, 0L), stateDir, maxBucketBytes = 1L << 20)
    val layout1 = Buckets.read(spark, stateDir).get
    assert(layout1.entries.keySet === (0 until 16).toSet)
    def files(dir: java.io.File): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(dir).map(f => f.getPath -> f.lastModified).toMap
    }
    // batch 2: bulk rows aimed at ONE bucket's key space; a tiny
    // threshold forces that bucket (and only touched buckets) to split
    val bulk = mk(3000, 1000L)
      .withColumn("b", pmod(hash($"id"), lit(16))).filter($"b" === 3).drop("b")
    val untouchedBefore = (0 until 16).filter(_ != 3).map { b =>
      b -> files(new java.io.File(s"$stateDir/bucket=$b"))
    }.toMap
    ChangelogStream.upsertBatch(bulk, stateDir, maxBucketBytes = 4096L)
    val layout2 = Buckets.read(spark, stateDir).get
    val splitBuckets = layout2.entries.filter(_._2._1 > 4)
    assert(splitBuckets.nonEmpty, "bucket 3 should have split past depth 4")
    assert(splitBuckets.keySet.forall(b => Math.floorMod(b, 16) == 3),
      s"only bucket 3's lineage may split, got ${splitBuckets.keySet}")
    // untouched buckets: same files, same mtimes
    (0 until 16).filter(_ != 3).foreach { b =>
      assert(files(new java.io.File(s"$stateDir/bucket=$b")) === untouchedBefore(b))
    }
    // the split state still answers correctly: full scan + point reads
    val expected = 200 + bulk.count()
    assert(ChangelogStream.readState(spark, stateDir, Seq("id", "v")).count() === expected)
    val probeIds = bulk.select("id").as[Long].take(5) :+ 5L
    probeIds.foreach { id =>
      val row = ChangelogStream.readKey(spark, stateDir, id)
      assert(row.isDefined && row.get.getAs[String]("v") === s"payload-$id")
    }
    // a third batch merges correctly into the deepened layout
    ChangelogStream.upsertBatch(
      mk(1, 0L).select($"id", ($"seq" + 100000L).as("seq"), $"op",
        lit("updated").as("v")), stateDir, maxBucketBytes = 4096L)
    assert(ChangelogStream.readKey(spark, stateDir, 0L).get.getAs[String]("v") === "updated")
    assert(ChangelogStream.readState(spark, stateDir, Seq("id", "v")).count() === expected)
  }

  test("a mid-stream savepoint (pinned inside a foreachBatch epoch) yields " +
    "the same version-addressed diff as the batch rendering") {
    // the declared query cdc_state_diff_versions applies its two phases as
    // ordered BATCHES since round 13; the STREAMING shape — savepoint
    // committed from inside the epoch that just merged phase 0, with the
    // stream still running — is pinned here at maxFilesPerTrigger=1
    val splitSeq = 500000L
    val clDir = Changelog.stageParquetSeqPhased(spark, sfDir, splitSeq)
    val work = Files.createTempDirectory("graft-vdiff-stream-").toString
    val stateDir = s"$work/state"
    val q = spark.readStream
      .schema(spark.read.parquet(clDir).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(clDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        ChangelogStream.upsertBatch(batch, stateDir, initialBuckets = 8)
        if (batchId == 0) Buckets.savepoint(spark, stateDir, "asof")
      }
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val cols = Seq("id") ++ Changelog.payloadCols
    val streamed = Apply.stateDiffVersions(
        ChangelogStream.readStateAt(spark, stateDir, "asof", cols),
        ChangelogStream.readState(spark, stateDir, cols),
        Changelog.payloadCols, "o_orderkey", diffCols = Seq("o_totalprice"))
      .orderBy(col("o_orderkey"))
    val batch = ChangelogStream.qStateDiffVersions(spark, sfDir)
    assert(streamed.collect().toSeq === batch.collect().toSeq)
  }

  test("a mid-restore diff pass is crash-loud: the pinned-vs-live diff " +
    "refuses until the tail re-applies, and both query orders pass") {
    // VERDICT r15 #7: qSavepointRestore mutates the shared memoized pass
    // (restore → gate → re-apply the tail inside the query body); the
    // coupling was held only by the bench's sort order. Both orders of the
    // declared pair must pass — each completed call leaves the pass caught
    // up — and a MID-restore read must throw, not silently diff
    // rolled-back data.
    assert(ChangelogStream.qStateDiffVersions(spark, sfDir).count() >= 0)
    assert(ChangelogStream.qSavepointRestore(spark, sfDir).count() > 0)
    assert(ChangelogStream.qStateDiffVersions(spark, sfDir).count() >= 0)
    // the reorder hazard: a restore whose tail has NOT re-applied yet
    val stateDir = ChangelogStream.diffPassRun(spark, sfDir)
    Buckets.restore(spark, stateDir, "asof")
    val e = intercept[IllegalStateException] {
      ChangelogStream.qStateDiffVersions(spark, sfDir)
    }
    assert(e.getMessage.contains("mid-restore"))
    // the declared restore query completes the re-apply; the diff reads again
    assert(ChangelogStream.qSavepointRestore(spark, sfDir).count() > 0)
    assert(ChangelogStream.qStateDiffVersions(spark, sfDir).count() >= 0)
  }

  test("a savepoint pins its versions through later batches and retention") {
    val work = Files.createTempDirectory("graft-savepoint-").toString
    val stateDir = s"$work/state"
    def mk(seq: Long, tag: String) = spark.range(50)
      .select($"id", lit(seq).as("seq"), lit("INSERT").as("op"),
        concat(lit(tag), $"id").as("v"))
    ChangelogStream.upsertBatch(mk(1L, "old-"), stateDir)
    Buckets.savepoint(spark, stateDir, "base")
    // several later batches rewrite every bucket; retention alone keeps
    // only pointer-1, so the pinned versions survive ONLY via the pin
    (2L to 5L).foreach(s => ChangelogStream.upsertBatch(mk(s, s"new$s-"), stateDir))
    val pinned = ChangelogStream.readStateAt(spark, stateDir, "base", Seq("id", "v"))
      .orderBy("id").as[(Long, String)].collect()
    assert(pinned.length === 50 && pinned.forall { case (i, v) => v == s"old-$i" })
    // version-addressed diff: every key UPDATED, old/new values correct
    val diff = Apply.stateDiffVersions(
      ChangelogStream.readStateAt(spark, stateDir, "base", Seq("id", "v")),
      ChangelogStream.readState(spark, stateDir, Seq("id", "v")),
      Seq("v"), "id", diffCols = Seq("v"))
      .orderBy("id").as[(Long, String, String, String)].collect()
    assert(diff.length === 50)
    assert(diff.forall { case (i, c, o, n) => c == "UPDATED" && o == s"old-$i" && n == s"new5-$i" })
  }

  test("a released savepoint's versions are reclaimed by the next retention sweep") {
    val work = Files.createTempDirectory("graft-release-").toString
    val stateDir = s"$work/state"
    def mk(seq: Long, tag: String) = spark.range(50)
      .select($"id", lit(seq).as("seq"), lit("INSERT").as("op"),
        concat(lit(tag), $"id").as("v"))
    ChangelogStream.upsertBatch(mk(1L, "old-"), stateDir)
    Buckets.savepoint(spark, stateDir, "base")
    val held = Buckets.readAt(spark, stateDir, "base").paths(stateDir)
    (2L to 4L).foreach(s => ChangelogStream.upsertBatch(mk(s, s"new$s-"), stateDir))
    // pinned: the savepoint's version dirs survive the sweeps above
    assert(held.forall(p => Files.exists(java.nio.file.Paths.get(p))))
    Buckets.releaseSavepoint(spark, stateDir, "base")
    Buckets.releaseSavepoint(spark, stateDir, "base") // idempotent
    // the release alone deletes nothing — reclaim is the NEXT sweep's job
    assert(held.forall(p => Files.exists(java.nio.file.Paths.get(p))))
    ChangelogStream.upsertBatch(mk(5L, "new5-"), stateDir)
    assert(held.forall(p => !Files.exists(java.nio.file.Paths.get(p))),
      s"released versions not reclaimed: ${held.mkString(", ")}")
    // the live state is untouched; the released name no longer resolves
    val live = ChangelogStream.readState(spark, stateDir, Seq("id", "v"))
      .orderBy("id").as[(Long, String)].collect()
    assert(live.length === 50 && live.forall { case (i, v) => v == s"new5-$i" })
    intercept[Exception](Buckets.readAt(spark, stateDir, "base"))
  }

  test("a column added (or dropped) mid-stream evolves the state schema") {
    val work = Files.createTempDirectory("graft-evolve-").toString
    val stateDir = s"$work/state"
    // v1 events lack column "b"
    ChangelogStream.upsertBatch(
      Seq((1L, 1L, "INSERT", "a1"), (2L, 2L, "INSERT", "a2"))
        .toDF("id", "seq", "op", "a"), stateDir)
    // v2 events carry "b" (RelationMessage re-announcement, O3): history
    // null-pads, the updated key carries both fields
    ChangelogStream.upsertBatch(
      Seq((1L, 3L, "UPDATE", "a1b", "b1"))
        .toDF("id", "seq", "op", "a", "b"), stateDir)
    val out = ChangelogStream.readState(spark, stateDir, Seq("id", "a", "b"))
      .orderBy("id").as[(Long, String, Option[String])].collect()
    assert(out.toSeq === Seq((1L, "a1b", Some("b1")), (2L, "a2", None)))
    // a later batch WITHOUT "b" must not erase the stored column for
    // untouched keys (the union keeps the stored side's schema)
    ChangelogStream.upsertBatch(
      Seq((3L, 4L, "INSERT", "a3")).toDF("id", "seq", "op", "a"), stateDir)
    val out2 = ChangelogStream.readState(spark, stateDir, Seq("id", "a", "b"))
      .orderBy("id").as[(Long, String, Option[String])].collect()
    assert(out2.toSeq === Seq(
      (1L, "a1b", Some("b1")), (2L, "a2", None), (3L, "a3", None)))
    assert(ChangelogStream.readKey(spark, stateDir, 1L)
      .get.getAs[String]("b") === "b1")
  }

  test("a merge over buckets written before and after a column was added " +
       "carries the union of columns, on both footer-schema paths") {
    // 2 buckets: batch 2 rewrites only key 1's bucket with column "b", so
    // batch 3's touched set holds bucket versions whose footers disagree
    def run(s: org.apache.spark.sql.SparkSession): Seq[(Long, String, Option[String])] = {
      import s.implicits._
      val stateDir = Files.createTempDirectory("graft-footer-").toString + "/state"
      ChangelogStream.upsertBatch((1L to 8L).map(i => (i, i, "INSERT", s"a$i"))
        .toDF("id", "seq", "op", "a"), stateDir, initialBuckets = 2)
      ChangelogStream.upsertBatch(Seq((1L, 20L, "UPDATE", "a1b", "b1"))
        .toDF("id", "seq", "op", "a", "b"), stateDir)
      val layout = Buckets.read(s, stateDir).get
      assert(layout.entries.values.map(_._2).toSet.size === 2,
        "one bucket rewritten by batch 2, the other not")
      ChangelogStream.upsertBatch((9L to 40L).map(i => (i, 100L + i, "INSERT", s"a$i"))
        .toDF("id", "seq", "op", "a"), stateDir)
      val after = Buckets.read(s, stateDir).get
      assert(layout.entries.keys.forall(b => after.version(b) > layout.version(b)),
        "batch 3 touched both buckets")
      ChangelogStream.readState(s, stateDir, Seq("id", "a", "b"))
        .orderBy("id").as[(Long, String, Option[String])].collect().toSeq
    }
    val footers = run(spark)
    assert(footers.size === 40)
    assert(footers.head === ((1L, "a1b", Some("b1"))))
    assert(footers.tail.forall(_._3.isEmpty))
    // above the discovery threshold the footers merge in Spark's own job
    val sparkMerge = spark.newSession()
    sparkMerge.conf.set("spark.sql.sources.parallelPartitionDiscovery.threshold", "1")
    assert(run(sparkMerge) === footers)
  }

  test("a crash before the manifest flip leaves readers on the previous batch") {
    val work = Files.createTempDirectory("graft-torn-").toString
    val stateDir = s"$work/state"
    def mk(rows: (Long, Long, String, String)*) = rows.toDF("id", "seq", "op", "v")
    val b2 = mk((1L, 3L, "UPDATE", "a2"), (2L, 4L, "INSERT", "b"))
    ChangelogStream.upsertBatch(mk((1L, 1L, "INSERT", "a")), stateDir)
    ChangelogStream.upsertBatch(b2, stateDir)
    // simulate the crash window: batch 2's bucket version dirs are written
    // (with their _SUCCESS) but the manifest flip "never happened"
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifests = Versions.list(spark, s"$stateDir/_layout")
    fs.delete(new org.apache.hadoop.fs.Path(s"$stateDir/_layout/v=${manifests.last}"), true)
    // readers resolve the PREVIOUS manifest: batch-1 content only, even
    // though batch-2 dirs sit committed on disk (no torn multi-bucket read)
    assert(ChangelogStream.readState(spark, stateDir, Seq("id", "v"))
      .orderBy("id").as[(Long, String)].collect().toSeq === Seq((1L, "a")))
    assert(ChangelogStream.readKey(spark, stateDir, 2L).isEmpty)
    // the checkpointed replay of batch 2 re-merges onto the same version
    // numbers and re-flips — final state correct, nothing double-applied
    ChangelogStream.upsertBatch(b2, stateDir)
    assert(ChangelogStream.readState(spark, stateDir, Seq("id", "v"))
      .orderBy("id").as[(Long, String)].collect().toSeq ===
      Seq((1L, "a2"), (2L, "b")))
  }

  test("compactState GCs tombstones behind the horizon; recent ones survive") {
    val work = Files.createTempDirectory("graft-tsgc-").toString
    val stateDir = s"$work/state"
    def mk(rows: (Long, Long, String, String)*) = rows.toDF("id", "seq", "op", "v")
    ChangelogStream.upsertBatch(mk(
      (1L, 1L, "INSERT", "a"), (2L, 2L, "INSERT", "b"), (3L, 3L, "INSERT", "c")), stateDir)
    ChangelogStream.upsertBatch(mk(
      (1L, 4L, "DELETE", "a"), (2L, 9L, "DELETE", "b")), stateDir)
    def tombstones() = {
      val paths = Buckets.read(spark, stateDir).get.paths(stateDir)
      spark.read.parquet(paths: _*).filter($"op" === "DELETE")
        .select($"id").as[Long].collect().toSet
    }
    assert(tombstones() === Set(1L, 2L))
    // horizon 5: key 1's tombstone (seq 4) is past the replay window, key
    // 2's (seq 9) is not
    ChangelogStream.compactState(spark, stateDir, tombstoneHorizon = Some(5L))
    assert(tombstones() === Set(2L))
    // a replay WITHIN the window still can't resurrect key 2; key 3 lives
    ChangelogStream.upsertBatch(mk((2L, 5L, "INSERT", "late")), stateDir)
    assert(ChangelogStream.readState(spark, stateDir, Seq("id", "v"))
      .orderBy("id").as[(Long, String)].collect().toSeq === Seq((3L, "c")))
  }

  test("point lookup touches exactly one bucket and honors tombstones") {
    val work = Files.createTempDirectory("graft-lookup-").toString
    val stateDir = s"$work/state"
    def mk(rows: (Long, Long, String, String)*) = rows.toDF("id", "seq", "op", "v")
    ChangelogStream.upsertBatch(
      mk((1L to 40L).map(i => (i, i, "INSERT", s"v$i")): _*), stateDir)
    ChangelogStream.upsertBatch(
      mk((1L, 100L, "UPDATE", "v1b"), (2L, 101L, "DELETE", "v2")), stateDir)
    assert(ChangelogStream.readKey(spark, stateDir, 1L)
      .exists(_.getAs[String]("v") === "v1b"))
    assert(ChangelogStream.readKey(spark, stateDir, 2L).isEmpty)   // tombstone
    assert(ChangelogStream.readKey(spark, stateDir, 999L).isEmpty) // absent
    // single-bucket proof: delete every OTHER bucket dir — the lookup must
    // not notice (it reads the manifest, never the other buckets)
    val b1 = spark.range(1).select(
      pmod(hash(lit(1L)), lit(ChangelogStream.NumBuckets))).head.getInt(0)
    new java.io.File(stateDir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bucket=") &&
        f.getName != s"bucket=$b1")
      .foreach(org.apache.commons.io.FileUtils.deleteDirectory)
    assert(ChangelogStream.readKey(spark, stateDir, 1L)
      .exists(_.getAs[String]("v") === "v1b"))
  }

  test("state retention keeps at most two snapshot versions per bucket") {
    val work = Files.createTempDirectory("graft-retain-").toString
    val stateDir = s"$work/state"
    def mk(rows: (Long, Long, String, String)*) = rows.toDF("id", "seq", "op", "v")
    // same key every batch -> the SAME bucket advances a version per batch
    (1 to 5).foreach { i =>
      ChangelogStream.upsertBatch(mk((7L, i.toLong, "INSERT", s"v$i")), stateDir)
    }
    val buckets = new java.io.File(stateDir).listFiles()
      .filter(_.getName.startsWith("bucket=")).toSeq
    assert(buckets.size === 1)
    val versions = buckets.head.listFiles()
      .filter(_.getName.startsWith("v=")).map(_.getName).sorted
    assert(versions.toSeq === Seq("v=3", "v=4"))
    val out = ChangelogStream.readState(spark, stateDir, Seq("id", "v"))
      .as[(Long, String)].collect()
    assert(out.toSeq === Seq((7L, "v5"))) // latest seq wins
  }

  test("a partial (uncommitted) snapshot directory is ignored") {
    val work = Files.createTempDirectory("graft-partial-").toString
    val stateDir = s"$work/state"
    ChangelogStream.upsertBatch(
      Seq((1L, 1L, "INSERT", "good")).toDF("id", "seq", "op", "v"), stateDir)
    // simulate a crash AFTER the promote rename but BEFORE the _SUCCESS
    // fence: the uncommitted v=1 is POPULATED with stale files (a bare
    // mkdirs would mask the rename-onto-nonempty-dir hazard)
    val bucket = new java.io.File(stateDir).listFiles()
      .filter(_.getName.startsWith("bucket=")).head
    val partial = new java.io.File(bucket, "v=1")
    partial.mkdirs()
    java.nio.file.Files.write(partial.toPath.resolve("part-stale.parquet"),
      "stale".getBytes("UTF-8"))
    val got = ChangelogStream.readState(spark, stateDir, Seq("id", "v"))
      .as[(Long, String)].collect()
    assert(got.toSeq === Seq((1L, "good"))) // v=0 stays the committed latest
    // the next upsert (= the checkpoint replay) must supersede the partial
    // dir cleanly — no nesting, no stale files surviving into v=1
    ChangelogStream.upsertBatch(
      Seq((1L, 2L, "UPDATE", "better")).toDF("id", "seq", "op", "v"), stateDir)
    val after = ChangelogStream.readState(spark, stateDir, Seq("id", "v"))
      .as[(Long, String)].collect()
    assert(after.toSeq === Seq((1L, "better")))
    assert(!new java.io.File(partial, "part-stale.parquet").exists(),
      "stale crash files must not survive the replay promote")
  }

  test("a batch rewrites only the buckets its keys hash into") {
    val work = Files.createTempDirectory("graft-buckets-").toString
    val stateDir = s"$work/state"
    // seed state across many buckets
    val seed = (1L to 200L).map(i => (i, i, "INSERT", s"v$i"))
      .toDF("id", "seq", "op", "v")
    ChangelogStream.upsertBatch(seed, stateDir)
    def filesNow(): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(stateDir))
        .map(f => f.getPath -> (f.length(), f.lastModified())).toMap
    }
    val before = filesNow()
    // one-key batch: exactly one bucket may change
    ChangelogStream.upsertBatch(
      Seq((42L, 1000L, "UPDATE", "fresh")).toDF("id", "seq", "op", "v"), stateDir)
    val after = filesNow()
    val changedBuckets = (before.keySet ++ after.keySet)
      .filter(p => before.get(p) != after.get(p))
      .flatMap(_.split('/').find(_.startsWith("bucket=")))
    assert(changedBuckets.size === 1, s"expected 1 touched bucket, got $changedBuckets")
    // untouched-bucket DATA files are byte-identical (same path, length,
    // mtime); the _layout manifest is excluded — it legitimately rotates
    // every batch (atomic flip + keep-two retention), including the initial
    // manifest a fresh state commits before its first bucket write
    val untouched = before.keySet.filter(_.contains("/bucket=")).filterNot(p =>
      changedBuckets.exists(b => p.contains(s"/$b/")))
    untouched.foreach(p => assert(before(p) === after(p), s"rewritten: $p"))
    // and the merge is still correct
    val got = ChangelogStream.readState(spark, stateDir, Seq("id", "v"))
      .filter($"id" === 42L).as[(Long, String)].collect()
    assert(got.toSeq === Seq((42L, "fresh")))
  }

  test("stream resumes from checkpoint without duplicating effects") {
    import org.apache.spark.sql.SaveMode
    val work = Files.createTempDirectory("graft-resume-").toString
    val clDir = s"$work/changelog"
    val stateDir = s"$work/state"
    val cl = Changelog.fromOrders(spark, sfDir)
    // phase 1: only INSERT events are available; run to completion
    cl.filter($"op" === "INSERT").repartition(4)
      .write.mode(SaveMode.Overwrite).parquet(clDir)
    def runOnce(): Unit = {
      val q = spark.readStream.schema(cl.schema)
        .option("maxFilesPerTrigger", 2).parquet(clDir)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          ChangelogStream.upsertBatch(b, stateDir)
        }
        .option("checkpointLocation", s"$work/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce() // "process dies" here — checkpoint remembers the offsets
    // phase 2: updates/deletes arrive; a NEW query resumes from checkpoint
    cl.filter($"op" =!= "INSERT").repartition(2)
      .write.mode(SaveMode.Append).parquet(clDir)
    runOnce()
    val got = ChangelogStream.readState(spark, stateDir, Changelog.payloadCols)
    val want = Apply.latestState(cl, Changelog.payloadCols)
    assert(got.exceptAll(want).count() === 0 && want.exceptAll(got).count() === 0)
  }

  test("multi-table stream materializes each table like its batch apply") {
    val work = Files.createTempDirectory("graft-multitable-").toString
    val states = ChangelogStream.applyStreamingMultiTable(spark, sfDir, work)
    val orders = Apply.latestState(Changelog.fromOrders(spark, sfDir), Changelog.payloadCols)
    val customer = Apply.latestState(Changelog.fromCustomer(spark, sfDir), Changelog.customerPayloadCols)
    assert(states("orders").exceptAll(orders).count() === 0)
    assert(orders.exceptAll(states("orders")).count() === 0)
    assert(states("customer").exceptAll(customer).count() === 0)
    assert(customer.exceptAll(states("customer")).count() === 0)
  }

  test("streaming dropDuplicates suppresses replays across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "fp")
      .dropDuplicates("fp") // keyed state: first writer per fingerprint wins
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    mem.addData((1L, "a"), (2L, "b"), (3L, "a")) // 3 duplicates 1 in-batch
    q.processAllAvailable()
    mem.addData((4L, "a"), (5L, "c")) // 4 duplicates 1 across batches
    q.processAllAvailable()
    val out = spark.table("dedup_out").select("fp").as[String].collect().sorted
    assert(out.toSeq === Seq("a", "b", "c"))
    q.stop()
  }

  test("dedup-within-watermark suppresses in-delay replays and EVICTS expired keys") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    def t(min: Int) = new java.sql.Timestamp(min * 60000L)
    val q = mem.toDF().toDF("id", "ts")
      .withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("id")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_wm_out")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    mem.addData((1L, t(0)), (2L, t(5)))
    q.processAllAvailable()
    mem.addData((1L, t(6))) // replay within the delay, next batch → deduped
    q.processAllAvailable()
    assert(spark.table("dedup_wm_out").count() === 2)
    // jump event time far ahead: watermark passes ids 1/2's expiry
    mem.addData((3L, t(1000)))
    q.processAllAvailable()
    mem.addData((4L, t(1001))) // next batch applies the advanced watermark
    q.processAllAvailable()
    // the bounded-state guarantee: expired keys left the store
    val stateRows = q.recentProgress.toSeq
      .flatMap(p => Option(p.stateOperators).toSeq.flatten)
      .map(_.numRowsTotal)
    assert(stateRows.nonEmpty && stateRows.last < stateRows.max,
      s"no state eviction observed: $stateRows")
    q.stop()
  }

  test("streaming session window merges events within the gap") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val df = mem.toDF().toDF("ts", "user_id")
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
    // session aggregations only support append (emit on finalize) in
    // streaming, so finalize via a watermark-advancing sentinel event
    val q = df.writeStream.outputMode("append")
      .format("memory").queryName("sess_out")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    mem.addData((t(0, 1), 1L), (t(0, 3), 1L), (t(0, 20), 1L), (t(0, 2), 2L))
    q.processAllAvailable()
    mem.addData((t(2, 0), 99L)) // watermark → 01:50, finalizing all sessions
    q.processAllAvailable()
    val rows = spark.table("sess_out")
      .filter(col("user_id") =!= 99L)
      .select(col("session_window.start").as("s"), col("user_id"), col("n"))
      .orderBy(col("user_id"), col("s")).collect()
    assert(rows.map(r => (r.getLong(1), r.getLong(2))).toSeq ===
      Seq((1L, 2L), (1L, 1L), (2L, 1L))) // user 1: [1,3] merged, [20] alone
    q.stop()
  }

  test("watermark drops data later than the threshold (append mode)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Double)]
    val df = mem.toDF().toDF("ts", "value")
      .withWatermark("ts", "5 minutes")
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n"))
    val q = df.writeStream.outputMode("append")
      .format("memory").queryName("late_out")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    mem.addData((t(0, 1), 1.0), (t(0, 2), 1.0))
    q.processAllAvailable()
    // advance watermark far past the first window so it finalizes
    mem.addData((t(1, 0), 1.0))
    q.processAllAvailable()
    // this event is >5min behind the watermark: must be DROPPED
    mem.addData((t(0, 3), 99.0))
    q.processAllAvailable()
    mem.addData((t(2, 0), 1.0))
    q.processAllAvailable()
    val first = spark.table("late_out")
      .select(col("window.start"), col("n"))
      .filter(col("start") === t(0, 0)).collect()
    assert(first.length === 1 && first.head.getLong(1) === 2) // late row excluded
    q.stop()
  }

  test("stream-stream interval join equals the batch theta join") {
    val got = graft.streaming.StreamQueries.qStreamingIntervalJoin(spark, sfDir)
    // plan sanity: a genuine streaming symmetric hash join ran, not a batch
    // join over collected data — the memory sink received append-mode rows
    val ev = graft.model.Tables.events(spark, sfDir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_event"), col("ts").as("p_ts"))
    val s = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("event_id").as("signup_event"), col("ts").as("s_ts"))
    val batch = p.join(s,
        col("user_id") === col("s_user") &&
        col("p_ts") >= col("s_ts") &&
        col("p_ts") < col("s_ts") + expr("INTERVAL 1 DAY"))
      .select(col("user_id"), col("purchase_event"), col("signup_event"))
    assert(got.count() > 0)
    assert(got.exceptAll(batch).count() === 0 && batch.exceptAll(got).count() === 0)
  }

  test("windowed streaming aggregation with watermark (MemoryStream)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val df = mem.toDF().toDF("ts", "user_id", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("v"))
    val q = df.writeStream.outputMode("complete")
      .format("memory").queryName("win_out")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")
    mem.addData((t(1), 1L, 1.0), (t(2), 1L, 2.0), (t(11), 1L, 5.0))
    q.processAllAvailable()
    val rows = spark.table("win_out")
      .select(col("window.start"), col("user_id"), col("n"), col("v"))
      .orderBy("start").collect()
    assert(rows.length === 2)
    assert(rows(0).getLong(2) === 2 && rows(0).getDouble(3) === 3.0)
    assert(rows(1).getLong(2) === 1 && rows(1).getDouble(3) === 5.0)
    q.stop()
  }

  test("shrink keeps pre-shrink pointed versions ONE cycle — a reader " +
    "holding the old manifest survives the flip; the next compact ages " +
    "orphans out, pins excepted (ADVICE r18)") {
    val stateDir = Files.createTempDirectory("graft-shrink-grace-").toString + "/state"
    def mk(rows: (Long, Long, String, String)*) = rows.toDF("id", "seq", "op", "v")
    ChangelogStream.upsertBatch(
      mk((1 to 16).map(i => (i.toLong, i.toLong, "INSERT", s"v$i")): _*),
      stateDir, initialBuckets = 8)
    val pre = Buckets.read(spark, stateDir).get
    val prePaths = pre.paths(stateDir)
    assert(prePaths.size === 8)
    ChangelogStream.shrinkState(spark, stateDir, 2)
    // every path the PRE-shrink manifest names still resolves — the
    // compactState one-cycle grace (a lazy plan that resolved the old
    // manifest before the flip collects after it without hitting
    // deleted files); the old sweep used the NEW pointed version as
    // keepFrom and deleted these immediately
    prePaths.foreach(p =>
      assert(new java.io.File(p).exists, s"pre-shrink path swept early: $p"))
    assert(spark.read.option("mergeSchema", "true").parquet(prePaths: _*)
      .count() === 16, "old-manifest reader lost rows")
    // the new layout answers identically
    assert(Buckets.read(spark, stateDir).get.entries.size === 2)
    assert(ChangelogStream.readState(spark, stateDir, Seq("id", "v")).count() === 16)
    // a savepoint ON THE SHRUNK layout must not block the orphan aging;
    // pin one orphan version by hand-copying a pre-shrink manifest pin:
    // use the real protocol — savepoint BEFORE a second shrink cycle
    ChangelogStream.compactState(spark, stateDir)
    // the next compact aged the grace versions out: the pre-shrink
    // pointed versions of kept ids are gone and the orphan dirs
    // (bucket ids the 2-bucket layout no longer names) are deleted
    prePaths.foreach(p =>
      assert(!new java.io.File(p).exists, s"grace version leaked: $p"))
    (2 until 8).foreach(b => assert(
      !new java.io.File(s"$stateDir/bucket=$b").exists,
      s"orphan dir bucket=$b leaked past its grace cycle"))
    assert(ChangelogStream.readState(spark, stateDir, Seq("id", "v")).count() === 16)
  }

  test("a savepoint pinned BEFORE a shrink keeps its orphan buckets " +
    "through later compacts; release frees them (ADVICE r18)") {
    val stateDir = Files.createTempDirectory("graft-shrink-pin-").toString + "/state"
    def mk(rows: (Long, Long, String, String)*) = rows.toDF("id", "seq", "op", "v")
    ChangelogStream.upsertBatch(
      mk((1 to 16).map(i => (i.toLong, i.toLong, "INSERT", s"v$i")): _*),
      stateDir, initialBuckets = 4)
    // only orphan ids the savepoint actually pins (nonempty at pin time)
    // must survive the sweeps — an empty orphan bucket pins nothing
    val pinnedOrphans = Buckets.read(spark, stateDir).get.entries.toSeq
      .collect { case (b, (_, v)) if b >= 2 && v >= 0 => b }.sorted
    assert(pinnedOrphans.nonEmpty, "fixture left every orphan bucket empty")
    Buckets.savepoint(spark, stateDir, "pre-shrink")
    ChangelogStream.shrinkState(spark, stateDir, 2)
    ChangelogStream.compactState(spark, stateDir)
    // the pinned manifest still resolves the 4-bucket view in full
    assert(ChangelogStream.readStateAt(spark, stateDir, "pre-shrink",
      Seq("id", "v")).count() === 16)
    pinnedOrphans.foreach(b => assert(
      new java.io.File(s"$stateDir/bucket=$b").exists,
      s"pinned orphan bucket=$b swept"))
    Buckets.releaseSavepoint(spark, stateDir, "pre-shrink")
    ChangelogStream.compactState(spark, stateDir)
    pinnedOrphans.foreach(b => assert(
      !new java.io.File(s"$stateDir/bucket=$b").exists,
      s"released orphan bucket=$b leaked"))
    assert(ChangelogStream.readState(spark, stateDir, Seq("id", "v")).count() === 16)
  }

  /** Every file and directory under `root`, relative, sorted: parquet
    * part files read `part-*` (their names carry write-job ids), `.txt`
    * files carry their content (lines joined by ` | `, tabs as spaces),
    * and checksum sidecars and temp names are left out. */
  private def layoutOf(root: String): Seq[String] = {
    val base = new java.io.File(root).toPath
    def walk(f: java.io.File): Seq[java.io.File] =
      f +: Option(f.listFiles()).toSeq.flatten.flatMap(walk)
    walk(new java.io.File(root)).tail
      .filterNot(f => f.getName.endsWith(".crc") || f.getName.contains("tmp"))
      .map { f =>
        val rel = base.relativize(f.toPath).toString
        if (f.isDirectory) rel + "/"
        else if (f.getName.startsWith("part-"))
          rel.stripSuffix(f.getName) + "part-*"
        else if (f.getName.endsWith(".txt")) rel + " = " + new String(
          Files.readAllBytes(f.toPath), "UTF-8").replace("\n", " | ").replace("\t", " ")
        else rel
      }.sorted
  }

  /** A hooked upsert into a 4-bucket state `st`: the batch's `(g, x)`
    * sum-MV delta commits to `mvd` at the beforeCommit point. */
  private def upsertWithMv(st: String, mvd: String, batchId: Long,
                           df: org.apache.spark.sql.DataFrame): Unit =
    ChangelogStream.upsertBatch(df, st, initialBuckets = 4,
      beforeCommit = (prev, merged) => Materialize.commitDelta(spark, mvd,
        batchId, prev, merged, Seq("g"), Materialize.aggContrib("g", "x"),
        prevEmpty = ChangelogStream.hookPrevIsEmpty))

  private def gx(rows: (Long, Long, String, String, Double)*) =
    rows.toDF("id", "seq", "op", "g", "x")

  test("a fixed sequence of commits leaves exactly the golden on-disk layout") {
    // three upserts (the second carries a TRUNCATE) with a hooked MV
    // delta each, a state + MV savepoint, compact, shrink, restore: every
    // versioned store's names, surviving versions and tiny-file contents
    // after each maintenance step
    val root = Files.createTempDirectory("graft-golden-").toString
    val st = s"$root/state"
    val mvd = s"$root/mv"
    def upsert(batchId: Long, df: org.apache.spark.sql.DataFrame): Unit =
      upsertWithMv(st, mvd, batchId, df)
    def mk(rows: (Long, Long, String, String, Double)*) = gx(rows: _*)
    val steps = Seq.newBuilder[(String, Seq[String])]
    def snap(step: String): Unit = steps += step -> layoutOf(root)
    upsert(0L, mk((1 to 8).map(i =>
      (i.toLong, i.toLong, "INSERT", if (i % 2 == 0) "A" else "B", i.toDouble)): _*))
    Buckets.savepoint(spark, st, "sp")
    Materialize.savepointMv(spark, mvd, "sp")
    upsert(1L, mk((-1L, 10L, "TRUNCATE", null, 0.0), (9L, 11L, "INSERT", "A", 9.0)))
    upsert(2L, mk((9L, 12L, "UPDATE", "B", 3.0), (10L, 13L, "INSERT", "A", 4.0)))
    snap("upserts")
    ChangelogStream.compactState(spark, st)
    snap("compact")
    ChangelogStream.shrinkState(spark, st, 2)
    snap("shrink")
    Buckets.restore(spark, st, "sp")
    Materialize.restoreMv(spark, mvd, "sp")
    snap("restore")
    val got = steps.result()
    val golden = Seq[(String, Seq[String])](
      "upserts" -> Seq(
        "mv/",
        "mv/_savepoints/",
        "mv/_savepoints/sp.txt = 0 | ",
        "mv/v=0/",
        "mv/v=0/_SUCCESS",
        "mv/v=0/part-*",
        "mv/v=1/",
        "mv/v=1/_SUCCESS",
        "mv/v=1/part-*",
        "mv/v=2/",
        "mv/v=2/_SUCCESS",
        "mv/v=2/part-*",
        "state/",
        "state/_layout/",
        "state/_layout/v=2/",
        "state/_layout/v=2/_SUCCESS",
        "state/_layout/v=2/layout.txt = cols id | 0 2 0 | 1 2 1 | 2 2 -1 | 3 2 0",
        "state/_layout/v=3/",
        "state/_layout/v=3/_SUCCESS",
        "state/_layout/v=3/layout.txt = cols id | 0 2 0 | 1 2 2 | 2 2 -1 | 3 2 0",
        "state/_savepoints/",
        "state/_savepoints/sp.txt = cols id | 0 2 0 | 1 2 0 | 2 2 -1 | 3 2 0",
        "state/_truncate/",
        "state/_truncate/v=0/",
        "state/_truncate/v=0/_SUCCESS",
        "state/_truncate/v=0/fence.txt =  10",
        "state/bucket=0/",
        "state/bucket=0/v=0/",
        "state/bucket=0/v=0/_SUCCESS",
        "state/bucket=0/v=0/part-*",
        "state/bucket=0/v=0/part-*",
        "state/bucket=0/v=0/part-*",
        "state/bucket=1/",
        "state/bucket=1/v=0/",
        "state/bucket=1/v=0/_SUCCESS",
        "state/bucket=1/v=0/part-*",
        "state/bucket=1/v=1/",
        "state/bucket=1/v=1/_SUCCESS",
        "state/bucket=1/v=1/part-*",
        "state/bucket=1/v=2/",
        "state/bucket=1/v=2/_SUCCESS",
        "state/bucket=1/v=2/part-*",
        "state/bucket=3/",
        "state/bucket=3/v=0/",
        "state/bucket=3/v=0/_SUCCESS",
        "state/bucket=3/v=0/part-*"),
      "compact" -> Seq(
        "mv/",
        "mv/_savepoints/",
        "mv/_savepoints/sp.txt = 0 | ",
        "mv/v=0/",
        "mv/v=0/_SUCCESS",
        "mv/v=0/part-*",
        "mv/v=1/",
        "mv/v=1/_SUCCESS",
        "mv/v=1/part-*",
        "mv/v=2/",
        "mv/v=2/_SUCCESS",
        "mv/v=2/part-*",
        "state/",
        "state/_layout/",
        "state/_layout/v=3/",
        "state/_layout/v=3/_SUCCESS",
        "state/_layout/v=3/layout.txt = cols id | 0 2 0 | 1 2 2 | 2 2 -1 | 3 2 0",
        "state/_layout/v=4/",
        "state/_layout/v=4/_SUCCESS",
        "state/_layout/v=4/layout.txt = cols id | 0 2 1 | 1 2 3 | 2 2 -1 | 3 2 1",
        "state/_savepoints/",
        "state/_savepoints/sp.txt = cols id | 0 2 0 | 1 2 0 | 2 2 -1 | 3 2 0",
        "state/_truncate/",
        "state/_truncate/v=0/",
        "state/_truncate/v=0/_SUCCESS",
        "state/_truncate/v=0/fence.txt =  10",
        "state/bucket=0/",
        "state/bucket=0/v=0/",
        "state/bucket=0/v=0/_SUCCESS",
        "state/bucket=0/v=0/part-*",
        "state/bucket=0/v=0/part-*",
        "state/bucket=0/v=0/part-*",
        "state/bucket=0/v=1/",
        "state/bucket=0/v=1/_SUCCESS",
        "state/bucket=0/v=1/part-*",
        "state/bucket=1/",
        "state/bucket=1/v=0/",
        "state/bucket=1/v=0/_SUCCESS",
        "state/bucket=1/v=0/part-*",
        "state/bucket=1/v=2/",
        "state/bucket=1/v=2/_SUCCESS",
        "state/bucket=1/v=2/part-*",
        "state/bucket=1/v=3/",
        "state/bucket=1/v=3/_SUCCESS",
        "state/bucket=1/v=3/part-*",
        "state/bucket=3/",
        "state/bucket=3/v=0/",
        "state/bucket=3/v=0/_SUCCESS",
        "state/bucket=3/v=0/part-*",
        "state/bucket=3/v=1/",
        "state/bucket=3/v=1/_SUCCESS",
        "state/bucket=3/v=1/part-*"),
      "shrink" -> Seq(
        "mv/",
        "mv/_savepoints/",
        "mv/_savepoints/sp.txt = 0 | ",
        "mv/v=0/",
        "mv/v=0/_SUCCESS",
        "mv/v=0/part-*",
        "mv/v=1/",
        "mv/v=1/_SUCCESS",
        "mv/v=1/part-*",
        "mv/v=2/",
        "mv/v=2/_SUCCESS",
        "mv/v=2/part-*",
        "state/",
        "state/_layout/",
        "state/_layout/v=4/",
        "state/_layout/v=4/_SUCCESS",
        "state/_layout/v=4/layout.txt = cols id | 0 2 1 | 1 2 3 | 2 2 -1 | 3 2 1",
        "state/_layout/v=5/",
        "state/_layout/v=5/_SUCCESS",
        "state/_layout/v=5/layout.txt = cols id | 0 1 2 | 1 1 4",
        "state/_savepoints/",
        "state/_savepoints/sp.txt = cols id | 0 2 0 | 1 2 0 | 2 2 -1 | 3 2 0",
        "state/_truncate/",
        "state/_truncate/v=0/",
        "state/_truncate/v=0/_SUCCESS",
        "state/_truncate/v=0/fence.txt =  10",
        "state/bucket=0/",
        "state/bucket=0/v=0/",
        "state/bucket=0/v=0/_SUCCESS",
        "state/bucket=0/v=0/part-*",
        "state/bucket=0/v=0/part-*",
        "state/bucket=0/v=0/part-*",
        "state/bucket=0/v=1/",
        "state/bucket=0/v=1/_SUCCESS",
        "state/bucket=0/v=1/part-*",
        "state/bucket=0/v=2/",
        "state/bucket=0/v=2/_SUCCESS",
        "state/bucket=0/v=2/part-*",
        "state/bucket=1/",
        "state/bucket=1/v=0/",
        "state/bucket=1/v=0/_SUCCESS",
        "state/bucket=1/v=0/part-*",
        "state/bucket=1/v=3/",
        "state/bucket=1/v=3/_SUCCESS",
        "state/bucket=1/v=3/part-*",
        "state/bucket=1/v=4/",
        "state/bucket=1/v=4/_SUCCESS",
        "state/bucket=1/v=4/part-*",
        "state/bucket=3/",
        "state/bucket=3/v=0/",
        "state/bucket=3/v=0/_SUCCESS",
        "state/bucket=3/v=0/part-*",
        "state/bucket=3/v=1/",
        "state/bucket=3/v=1/_SUCCESS",
        "state/bucket=3/v=1/part-*"),
      "restore" -> Seq(
        "mv/",
        "mv/_savepoints/",
        "mv/_savepoints/sp.txt = 0 | ",
        "mv/v=0/",
        "mv/v=0/_SUCCESS",
        "mv/v=0/part-*",
        "state/",
        "state/_layout/",
        "state/_layout/v=5/",
        "state/_layout/v=5/_SUCCESS",
        "state/_layout/v=5/layout.txt = cols id | 0 1 2 | 1 1 4",
        "state/_layout/v=6/",
        "state/_layout/v=6/_SUCCESS",
        "state/_layout/v=6/layout.txt = cols id | 0 2 0 | 1 2 0 | 2 2 -1 | 3 2 0",
        "state/_savepoints/",
        "state/_savepoints/sp.txt = cols id | 0 2 0 | 1 2 0 | 2 2 -1 | 3 2 0",
        "state/_truncate/",
        "state/_truncate/v=0/",
        "state/_truncate/v=0/_SUCCESS",
        "state/_truncate/v=0/fence.txt =  10",
        "state/_truncate/v=1/",
        "state/_truncate/v=1/_SUCCESS",
        "state/_truncate/v=1/fence.txt = ",
        "state/bucket=0/",
        "state/bucket=0/v=0/",
        "state/bucket=0/v=0/_SUCCESS",
        "state/bucket=0/v=0/part-*",
        "state/bucket=0/v=0/part-*",
        "state/bucket=0/v=0/part-*",
        "state/bucket=1/",
        "state/bucket=1/v=0/",
        "state/bucket=1/v=0/_SUCCESS",
        "state/bucket=1/v=0/part-*",
        "state/bucket=3/",
        "state/bucket=3/v=0/",
        "state/bucket=3/v=0/_SUCCESS",
        "state/bucket=3/v=0/part-*"))
    assert(got === golden, got.map { case (step, ls) =>
      ls.map(l => s"        \"$l\",").mkString(s"      \"$step\" -> Seq(\n", "\n", "),")
    }.mkString("\n", "\n", "\n"))
  }

  test("an uncommitted v=next leftover is cleared by the commit that writes " +
    "that version: manifest, fence, bucket promote and MV promote") {
    // a crash can leave the next version populated but without _SUCCESS;
    // each store's next commit must replace it, never nest into it
    val update = gx((1L, 5L, "UPDATE", "A", 5.0))
    // (store, the leftover's dir after one committed batch, the next batch)
    val cases = Seq[(String, (String, String) => String, org.apache.spark.sql.DataFrame)](
      ("manifest", (st, _) =>
        s"$st/_layout/v=${Versions.list(spark, s"$st/_layout").last + 1}", update),
      ("fence", (st, _) => s"$st/_truncate/v=0", gx((-1L, 5L, "TRUNCATE", null, 0.0))),
      ("bucket promote", (st, _) => {
        val l = Buckets.read(spark, st).get
        val b = Buckets.bucketOfValues(l, Seq(1L))
        s"$st/bucket=$b/v=${l.version(b) + 1}"
      }, update),
      ("MV promote", (_, mvd) => s"$mvd/v=1", update))
    cases.foreach { case (name, leftover, next) =>
      val root = Files.createTempDirectory("graft-leftover-").toString
      val (st, mvd) = (s"$root/state", s"$root/mv")
      upsertWithMv(st, mvd, 0L,
        gx((1L, 1L, "INSERT", "A", 1.0), (2L, 2L, "INSERT", "B", 2.0)))
      val dir = new java.io.File(leftover(st, mvd))
      assert(dir.mkdirs(), s"$name: $dir already exists")
      val stray = new java.io.File(dir, "stray")
      Files.write(stray.toPath, "stale".getBytes("UTF-8"))
      upsertWithMv(st, mvd, 1L, next)
      assert(!stray.exists, s"$name: the stray file survived the commit")
      assert(new java.io.File(dir, "_SUCCESS").exists, s"$name: $dir not committed")
    }
  }

  test("bucket dirs without a _layout manifest fail loudly instead of " +
    "being adopted") {
    val st = Files.createTempDirectory("graft-nolayout-").toString + "/state"
    Seq((1L, 1L, "INSERT", "a")).toDF("id", "seq", "op", "v")
      .write.parquet(s"$st/bucket=0/v=0")
    val e = intercept[IllegalStateException](ChangelogStream.upsertBatch(
      Seq((2L, 2L, "INSERT", "b")).toDF("id", "seq", "op", "v"), st))
    assert(e.getMessage.contains("no _layout manifest"), e.getMessage)
    intercept[IllegalStateException](
      ChangelogStream.readState(spark, st, Seq("id", "v")))
    assert(!new java.io.File(s"$st/_layout").exists,
      "the refused upsert committed a manifest over the foreign dirs")
    assert(ChangelogStream.readKey(spark, st, 1L).isEmpty)
  }
}
