package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec
import graft.cdc.Rollover

/** The rolled TEXT family ([[TextRollover]] + [[Search
  * .qCdcRolloverSearch]]): generation formation and spans, the replay
  * fence, span pruning in the query plan, the boundary `_tsidx` cut, the
  * cross-generation stats merge, and a generation-TARGETED update (the ES
  * write-to-concrete-index-name path) moving postings inside its
  * generation. */
class TextRolloverSpec extends AnyFunSuite with SparkSpec {

  private def fam = TextRollover.rolloverTextRun(spark, sfDir)
  private def m(day: String) = TextRollover.micros(day)

  test("four weekly epochs roll into four week-spanning generations; a " +
    "committed epoch's replay is a registry no-op") {
    val gens = Rollover.readRegistry(spark, fam)
    assert(gens.count(_.docs > 0) === 4 && gens.size === 5)
    def day(micros: Long) =
      java.time.Instant.ofEpochMilli(micros / 1000L).toString.take(10)
    gens.filter(_.docs > 0).zipWithIndex.foreach { case (g, w) =>
      assert(day(g.minTs) >= f"2024-01-${7 * w + 1}%02d")
      assert(day(g.maxTs) <= f"2024-01-${7 * w + 7}%02d")
    }
    // replay week 2 verbatim (the post-registry-commit crash point): the
    // seq fence must skip the whole write — registry unchanged
    val before = gens
    val dayCol = (col("doc_id") % 28).cast("int")
    val week2 = graft.model.Tables.documents(spark, sfDir)
      .filter(dayCol >= 7 && dayCol < 14)
      .select(col("doc_id").as("id"),
        (dayCol.cast("long") * 1000000L + col("doc_id")).as("seq"),
        lit("INSERT").as("op"), col("text"), col("source"),
        date_add(lit(java.sql.Date.valueOf("2024-01-01")), dayCol)
          .cast("timestamp").as("ts"))
    TextRollover.write(spark, fam, week2, maxDocs = 1L)
    assert(Rollover.readRegistry(spark, fam) === before)
  }

  test("the default range opens generations 1-3 only (2 boundary, 1 " +
    "interior) and generation 4 never appears in the plan") {
    val hit = TextRollover.hitGenerations(
      Rollover.readRegistry(spark, fam), m("2024-01-06"), m("2024-01-20"))
    assert(hit.map { case (g, i) => (g.dir.takeRight(10), i) } === Seq(
      ("gen-000001", false), ("gen-000002", true), ("gen-000003", false)))
    val q = Search.qCdcRolloverSearch(spark, sfDir)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("gen-000004"), s"pruned generation opened:\n$plan")
    assert(Seq("gen-000001", "gen-000002", "gen-000003")
      .forall(plan.contains), s"a hit generation is missing:\n$plan")
    assert(q.count() === 10L)
  }

  test("the boundary generation's _tsidx range read returns exactly the " +
    "in-range docs; merged stats equal the flat hit-corpus stats") {
    val gens = Rollover.readRegistry(spark, fam).filter(_.docs > 0)
    val ids = graft.cdc.OrderedIndex
      .lookupRange(spark, s"${gens.head.dir}/state/_tsidx",
        m("2024-01-06"), m("2024-01-20"))
      .collect().map(_.getLong(0)).toSet
    val expected = graft.model.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 28 >= 5 && col("doc_id") % 28 <= 6)
      .collect().map(_.getLong(0)).toSet
    assert(ids === expected)
    // Σ n_docs / Σ sum_dl over generations 1-3 ≡ one flat corpus over
    // weeks 0-2 (disjoint generation corpora — the stats merge is exact)
    val merged = gens.take(3)
      .map(g => Search.corpusStats(spark, s"${g.dir}/idx"))
      .reduce(_.unionByName(_))
      .agg(sum(col("n_docs")), sum(col("sum_dl"))).head()
    val flat = graft.model.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 28 <= 20)
      .select(size(split(col("text"), " ")).cast("long").as("dl"))
      .agg(count(lit(1)), sum(col("dl"))).head()
    assert(merged.getLong(0) === flat.getLong(0))
    assert(merged.getLong(1) === flat.getLong(1))
  }

  test("a CRUD family maintains _tsidx through ±1 movements: an UPDATE " +
    "moving a doc's ts retracts the old value, a DELETE retracts (r18)") {
    val work = graft.model.TempDirs.deleteOnExit(
      java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get("/tmp"), "graft-tsroll-").toString)
    import spark.implicits._
    def batch(rows: Seq[(Long, Long, String, String)]) =
      rows.toDF("id", "seq", "op", "day")
        .select($"id", $"seq", $"op",
          concat(lit("doc "), $"id").as("text"), lit("src1").as("source"),
          to_timestamp($"day").as("ts"))
    // epoch 1: docs 1-3 on days 2, 5, 9
    TextRollover.write(spark, work, batch(Seq(
      (1L, 1L, "INSERT", "2024-01-02"), (2L, 2L, "INSERT", "2024-01-05"),
      (3L, 3L, "INSERT", "2024-01-09"))), maxDocs = 100L)
    val gen = Rollover.readRegistry(spark, work).head.dir
    def live() = graft.cdc.OrderedIndex
      .liveValues(spark, s"$gen/state/_tsidx")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(live() === Map(1L -> m("2024-01-02"), 2L -> m("2024-01-05"),
      3L -> m("2024-01-09")))
    // epoch 2 (CRUD): doc 2's ts MOVES to day 20, doc 3 deletes, doc 4
    // inserts — the movement fold must retract the old values exactly
    TextRollover.write(spark, work, batch(Seq(
      (2L, 11L, "UPDATE", "2024-01-20"), (3L, 12L, "DELETE", "2024-01-09"),
      (4L, 13L, "INSERT", "2024-01-12"))), maxDocs = 100L)
    assert(live() === Map(1L -> m("2024-01-02"), 2L -> m("2024-01-20"),
      4L -> m("2024-01-12")))
    // the range read agrees: [Jan 4, Jan 10) holds nobody now (doc 2
    // moved out, doc 3 deleted)
    assert(graft.cdc.OrderedIndex.lookupRange(spark, s"$gen/state/_tsidx",
      m("2024-01-04"), m("2024-01-10")).count() === 0L)
    // replayed CRUD epoch: the ordered index's batch fence skips it
    TextRollover.write(spark, work, batch(Seq(
      (2L, 11L, "UPDATE", "2024-01-20"), (3L, 12L, "DELETE", "2024-01-09"),
      (4L, 13L, "INSERT", "2024-01-12"))), maxDocs = 100L)
    assert(live().size === 3)
  }

  test("distance_feature serves its ts doc-values from _tsidx — no state " +
    "stripe scan in the plan (r18, VERDICT r17 wrong #2)") {
    val df = Search.qCdcDistanceFeature(spark, sfDir)
    val scans = df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            f.location.rootPaths.map(_.toString)
          case _ => Seq.empty[String]
        }
    }.flatten
    val statePaths = scans.filter(_.contains("/state/"))
    assert(statePaths.nonEmpty, "expected _tsidx reads under the gen states")
    assert(statePaths.forall(_.contains("/_tsidx/")),
      s"doc-values read touched the doc state outside _tsidx:\n" +
        statePaths.mkString("\n"))
    assert(df.count() === 10L)
  }

  test("each doc is live in exactly one generation's _tsidx, so the one " +
    "cross-generation doc-values fold equals the per-generation union") {
    // the rollover router's invariant that OrderedIndex.liveValuesAll's
    // single Σd fold relies on
    val dirs = Rollover.readRegistry(spark, fam).filter(_.docs > 0)
      .map(g => s"${g.dir}/state/_tsidx")
    assert(dirs.size === 4)
    val perGen = dirs.map(d => graft.cdc.OrderedIndex.liveValues(spark, d))
      .reduce(_ unionByName _)
    val dup = perGen.groupBy(col("id")).count().filter(col("count") > 1).count()
    assert(dup === 0L, s"$dup ids live in more than one generation")
    val folded = graft.cdc.OrderedIndex.liveValuesAll(spark, dirs)
    assert(folded.exceptAll(perGen).count() === 0L &&
      perGen.exceptAll(folded).count() === 0L)
  }

  test("ILM retention: the expired generation deletes, the savepoint-" +
    "pinned one survives, forcemerge folds to single runs idempotently (r18)") {
    val fam = TextRollover.retentionRun(spark, sfDir)
    val gens = Rollover.readRegistry(spark, fam)
    val names = gens.map(g => new java.io.File(g.dir).getName)
    assert(!names.contains("gen-000001"), "week 0 must expire")
    assert(names.contains("gen-000002"), "the pinned week must survive")
    assert(!new java.io.File(s"$fam/gen-000001").exists(),
      "the expired generation's dir must be swept")
    assert(graft.cdc.Buckets
      .savepointNames(spark, s"$fam/gen-000002/state").nonEmpty)
    // forcemerge converged: term directory + ordered indexes hold ONE run
    gens.filter(_.docs > 0).foreach { g =>
      assert(Search.dictManifest(spark, s"${g.dir}/idx")._2.size === 1,
        s"${g.dir} dict not folded")
      assert(graft.cdc.OrderedIndex
        .manifest(spark, s"${g.dir}/state/_tsidx")._2.size === 1,
        s"${g.dir} _tsidx not folded")
    }
    // idempotent second forcemerge: the query answers identically
    val before = Search.qCdcRolloverRetention(spark, sfDir).collect().toSeq
    gens.filter(_.docs > 0).foreach(g => TextRollover.forcemerge(spark, g.dir))
    assert(Search.qCdcRolloverRetention(spark, sfDir).collect().toSeq === before)
    // a second expire is a registry no-op; the pin still blocks week 2
    val (exp2, pin2) = Rollover.expire(spark, fam,
      TextRollover.micros("2024-01-15"), keepLast = 1,
      isPinned = g => graft.cdc.Buckets
        .savepointNames(spark, s"${g.dir}/state").nonEmpty)
    assert(exp2.isEmpty)
    assert(pin2.map(g => new java.io.File(g.dir).getName) === Seq("gen-000002"))
  }

  test("ILM shrink: retained generations fold to 2-bucket layouts, the " +
    "answer is layout-invariant, and the savepoint pin survives (r18)") {
    val fam = TextRollover.shrinkRun(spark, sfDir)
    val gens = Rollover.readRegistry(spark, fam).filter(_.docs > 0)
    assert(gens.nonEmpty)
    gens.foreach { g =>
      assert(graft.cdc.Buckets.read(spark, s"${g.dir}/state").get
        .entries.size === 2, s"${g.dir} state not shrunk")
      assert(graft.cdc.Buckets.read(spark, s"${g.dir}/idx").get
        .entries.size === 2, s"${g.dir} idx not shrunk")
    }
    // layout-only: the shrunk family answers exactly like the (unshrunk)
    // retention family on the same query
    val pre = Search.qCdcRolloverRetention(spark, sfDir,
      query = Seq("filter", "join", "scan")).collect().toSeq
    val post = Search.qCdcRolloverShrink(spark, sfDir).collect().toSeq
    assert(post === pre, "shrink changed the answer — layout leaked into content")
    // the pinned savepoint still resolves: its manifest copy names
    // PRE-shrink buckets, which the pin-honoring sweep preserved
    val g2 = gens.find(_.dir.endsWith("gen-000002")).get
    assert(graft.cdc.Buckets
      .savepointNames(spark, s"${g2.dir}/state") === Seq("ret-pin"))
    assert(graft.cdc.ChangelogStream.readStateAt(spark, s"${g2.dir}/state",
      "ret-pin", Seq("id")).count() > 0L)
  }

  test("the family built through a foreachBatch STREAM (one file per " +
    "trigger, restarted mid-family) equals the batch-applied family") {
    import org.apache.spark.sql.streaming.Trigger
    val stage = graft.model.TempDirs.deleteOnExit(
      java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get("/tmp"), "graft-rollstream-").toString)
    val logDir = s"$stage/log"
    new java.io.File(logDir).mkdirs()
    val dayCol = (col("doc_id") % 28).cast("int")
    val log = graft.model.Tables.documents(spark, sfDir)
      .select(col("doc_id").as("id"),
        (dayCol.cast("long") * 1000000L + col("doc_id")).as("seq"),
        lit("INSERT").as("op"), col("text"), col("source"),
        date_add(lit(java.sql.Date.valueOf("2024-01-01")), dayCol)
          .cast("timestamp").as("ts"), dayCol.as("day"))
    def stageWeek(w: Int): Unit = {
      val tmp = s"$stage/w$w"
      log.filter(col("day") >= 7 * w && col("day") < 7 * (w + 1)).drop("day")
        .coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$logDir/week-$w.parquet"))
    }
    val fam2 = s"$stage/family"
    val schema = log.drop("day").schema
    def drain(): Unit = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(logDir)
      .writeStream.option("checkpointLocation", s"$stage/_ckpt")
      .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) =>
        TextRollover.write(spark, fam2, b, maxDocs = 1L))
      .trigger(Trigger.AvailableNow()).start()
      .awaitTermination()
    // first life: weeks 0-1 only, one epoch per trigger
    stageWeek(0); stageWeek(1)
    drain()
    assert(Rollover.readRegistry(spark, fam2).count(_.docs > 0) === 2)
    // RESTART from the checkpoint with the remaining weeks staged — the
    // second life resumes past the committed offsets (no re-delivery;
    // and a re-delivered epoch would hit the registry fence anyway)
    stageWeek(2); stageWeek(3)
    drain()
    // the streamed family's registry bookkeeping equals the
    // batch-applied fixture family's, generation by generation…
    val g1 = Rollover.readRegistry(spark, fam).filter(_.docs > 0)
    val g2 = Rollover.readRegistry(spark, fam2).filter(_.docs > 0)
    assert(g2.map(g => (g.minTs, g.maxTs, g.docs)) ===
      g1.map(g => (g.minTs, g.maxTs, g.docs)))
    // …and so do the per-generation corpus stats and doc-state counts
    g1.zip(g2).foreach { case (a, b) =>
      val sa = Search.corpusStats(spark, s"${a.dir}/idx").head()
      val sb = Search.corpusStats(spark, s"${b.dir}/idx").head()
      assert(sa.getLong(0) === sb.getLong(0) && sa.getLong(1) === sb.getLong(1))
      assert(graft.cdc.ChangelogStream
        .readState(spark, s"${a.dir}/state", Seq("id")).count() ===
        graft.cdc.ChangelogStream
          .readState(spark, s"${b.dir}/state", Seq("id")).count())
    }
  }

  test("a generation-TARGETED update (the ES concrete-index write) moves " +
    "postings inside its generation; registry bookkeeping untouched") {
    val gens0 = Rollover.readRegistry(spark, fam)
    val g1 = gens0.head
    // a day-5 doc (in gen 1, inside the default range)
    val docX = graft.model.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 28 === 5)
      .select(col("doc_id")).orderBy(col("doc_id")).head().getLong(0)
    val oldText = graft.cdc.ChangelogStream
      .readKey(spark, s"${g1.dir}/state", docX).get.getAs[String]("text")
    val oldTf = oldText.split(" ").count(_ == "merge").toLong
    val oldStats = Search.corpusStats(spark, s"${g1.dir}/idx").head()
    import spark.implicits._
    val update = Seq((docX, 1000000000L, "UPDATE",
        oldText + " merge merge merge merge", "srcX"))
      .toDF("id", "seq", "op", "text", "source")
      .withColumn("ts", lit("2024-01-06 00:00:00").cast("timestamp"))
    Search.maintainTextIndexBatch(update, 1000000000L,
      s"${g1.dir}/state", s"${g1.dir}/idx", noTruncate = true)
    // postings moved: tf grew by exactly the appended occurrences
    val newTf = graft.cdc.ChangelogStream
      .readState(spark, s"${g1.dir}/idx", Seq("tok", "id", "tf"))
      .filter(col("tok") === "merge" && col("id") === docX)
      .head().getLong(2)
    assert(newTf === oldTf + 4L)
    // the generation's stats row tracked the length growth (+4 tokens),
    // so the NEXT cross-generation query scores with the updated merge
    val newStats = Search.corpusStats(spark, s"${g1.dir}/idx").head()
    assert(newStats.getLong(0) === oldStats.getLong(0))
    assert(newStats.getLong(1) === oldStats.getLong(1) + 4L)
    // the registry is ILM bookkeeping, not a write path — untouched by a
    // targeted index write (exactly like ES writing to a concrete index)
    assert(Rollover.readRegistry(spark, fam) === gens0)
    // ...and the served search still answers (the updated doc scores with
    // its new tf through the merged stats — rank set stays k-sized)
    assert(Search.qCdcRolloverSearch(spark, sfDir).count() === 10L)
  }
}
