package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Full-text retrieval ([[Search]]): the staged term-bucketed inverted
  * index must serve BM25 exactly as a from-scratch derivation would, the
  * query-time scan must PRUNE to the query terms' partitions, and the
  * driver-side bucket hash must agree with the Spark-side one (the pruning
  * contract). */
class SearchSpec extends AnyFunSuite with SparkSpec {

  test("driver-side bucketOf agrees with the Spark-side termBucket for every corpus term") {
    val toks = graft.model.Tables.documents(spark, sfDir)
      .select(explode(Text.tokens(col("text"))).as("tok")).distinct()
      .select(col("tok"), Search.termBucket(col("tok")).as("pb"))
      .collect()
    assert(toks.nonEmpty)
    toks.foreach { r =>
      assert(Search.bucketOf(r.getString(0)) === r.getLong(1),
        s"bucket mismatch for '${r.getString(0)}'")
    }
  }

  test("BM25 over the staged index equals the from-scratch derivation, and the scan prunes") {
    val query = Seq("stream", "merge", "window")
    // from-scratch: postings re-derived inline (no index), same arithmetic
    val docs = graft.model.Tables.documents(spark, sfDir)
      .select(col("doc_id"), Text.tokens(col("text")).as("ws"))
      .select(col("doc_id"), col("ws"), size(col("ws")).cast("long").as("dl"))
    val post = docs.select(col("doc_id"), col("dl"), explode(col("ws")).as("tok"))
      .filter(col("tok").isin(query: _*))
      .groupBy(col("tok"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
    val stats = docs.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val df = post.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val idf = ((col("n_docs") - col("df")).cast("double") + 0.5) /
      (col("df").cast("double") + 0.5)
    val tfs = (col("tf").cast("double") * 2.2) /
      (col("tf").cast("double") +
        lit(1.2) * (lit(0.25) + lit(0.75) *
          (col("dl").cast("double") * col("n_docs") / col("sum_dl"))))
    val expect = post.join(df, Seq("tok")).crossJoin(stats)
      .select(col("doc_id"), round(idf * tfs, 6)
        .cast(org.apache.spark.sql.types.DecimalType(18, 8)).as("ts"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_t"), round(sum(col("ts")).cast("double"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val got = Search.qBm25(spark, sfDir)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq === expect.toSeq)
    // every reported doc matches at least one query term, ranks are 1..k
    val ranks = Search.qBm25(spark, sfDir).select(col("rk")).collect().map(_.getLong(0))
    assert(ranks.toSeq === (1L to ranks.length))

    // partition pruning: the postings scan's PartitionFilters must carry
    // the pb restriction (the inverted-list IO contract — a query touches
    // its terms' buckets, not the corpus)
    val root = Search.invertedIndex(spark, sfDir)
    val buckets = query.map(Search.bucketOf).distinct.sorted
    val pruned = spark.read
      .schema("tok STRING, doc_id BIGINT, dl BIGINT, tf BIGINT, " +
        "positions ARRAY<INT>, pb BIGINT")
      .parquet(s"$root/postings")
      .filter(col("pb").isin(buckets: _*) && col("tok").isin(query: _*))
    val scan = pruned.queryExecution.executedPlan.toString
    val pf = scan.linesIterator.find(_.contains("PartitionFilters:")).getOrElse("")
    assert(pf.contains("pb"), s"pb not in partition filters:\n$scan")
    // ...and the term filter pushes into the pruned files
    val pushed = scan.linesIterator.find(_.contains("PushedFilters:")).getOrElse("")
    assert(pushed.contains("tok"), s"tok filter not pushed:\n$scan")
  }

  test("CDC text index: postings follow the document — created, moved on update, retracted on delete") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-textidx-spec-").toString
    def batch(rows: Seq[(Long, Long, String, String)]) =
      rows.toDF("id", "seq", "op", "text")
    def postings(): Map[(String, Long), Long] =
      graft.cdc.ChangelogStream.readState(spark, s"$work/idx", Seq("tok", "id", "tf"))
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    def stats(): (Long, Long) = {
      val r = Search.corpusStats(spark, s"$work/idx").head()
      (r.getLong(0), r.getLong(1))
    }
    // batch 0: two docs indexed on insert
    Search.maintainTextIndexBatch(
      batch(Seq((1L, 1L, "INSERT", "spark merge merge"), (2L, 2L, "INSERT", "scan window"))),
      0L, s"$work/state", s"$work/idx")
    assert(postings() === Map(("spark", 1L) -> 1L, ("merge", 1L) -> 2L,
      ("scan", 2L) -> 1L, ("window", 2L) -> 1L))
    assert(stats() === (2L, 5L)) // 2 docs, 3 + 2 tokens
    // batch 1: doc 1's text changes — "merge" tf drops to 1, "spark"
    // vanishes (tombstoned), "join" appears
    Search.maintainTextIndexBatch(
      batch(Seq((1L, 3L, "UPDATE", "merge join"))), 1L, s"$work/state", s"$work/idx")
    assert(postings() === Map(("merge", 1L) -> 1L, ("join", 1L) -> 1L,
      ("scan", 2L) -> 1L, ("window", 2L) -> 1L))
    assert(stats() === (2L, 4L)) // doc 1 shrank 3 -> 2 tokens
    // batch 2: doc 2 deleted — all its postings retract
    Search.maintainTextIndexBatch(
      batch(Seq((2L, 4L, "DELETE", "scan window"))), 2L, s"$work/state", s"$work/idx")
    assert(postings() === Map(("merge", 1L) -> 1L, ("join", 1L) -> 1L))
    assert(stats() === (1L, 2L))
    // replay of batch 2 (the crash-replay contract): identical delta
    // re-absorbs, nothing resurrects — and the batch-fenced stats delta
    // SKIPS (a signed delta applied twice would double-debit the corpus)
    Search.maintainTextIndexBatch(
      batch(Seq((2L, 4L, "DELETE", "scan window"))), 2L, s"$work/state", s"$work/idx")
    assert(postings() === Map(("merge", 1L) -> 1L, ("join", 1L) -> 1L))
    assert(stats() === (1L, 2L))
  }

  test("a TRUNCATE batch retracts fence-killed docs from the maintained text index") {
    // the r13 touched-keys restriction must NOT apply to fence-carrying
    // batches: the killed docs surface in the hook's prev frame but are
    // not batch keys (r13 self-review #1)
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-texttrunc-spec-").toString
    def batch(rows: Seq[(Long, Long, String, String)]) =
      rows.toDF("id", "seq", "op", "text")
    def postings(): Map[(String, Long), Long] =
      graft.cdc.ChangelogStream.readState(spark, s"$work/idx", Seq("tok", "id", "tf"))
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    def stats(): (Long, Long) = {
      val r = Search.corpusStats(spark, s"$work/idx").head()
      (r.getLong(0), r.getLong(1))
    }
    Search.maintainTextIndexBatch(
      batch(Seq((1L, 1L, "INSERT", "spark merge"), (2L, 2L, "INSERT", "scan window"))),
      0L, s"$work/state", s"$work/idx")
    assert(stats() === (2L, 4L))
    // batch 1 carries a TRUNCATE at seq 10 plus one surviving insert: the
    // fence kills docs 1 and 2 — their postings retract and the stats
    // debit — while doc 3 (seq 11 > fence) indexes normally
    Search.maintainTextIndexBatch(
      batch(Seq((-1L, 10L, "TRUNCATE", null), (3L, 11L, "INSERT", "merge join"))),
      1L, s"$work/state", s"$work/idx")
    assert(postings() === Map(("merge", 3L) -> 1L, ("join", 3L) -> 1L))
    assert(stats() === (1L, 2L))
    // replay: the postings delta re-absorbs, the stats fence skips
    Search.maintainTextIndexBatch(
      batch(Seq((-1L, 10L, "TRUNCATE", null), (3L, 11L, "INSERT", "merge join"))),
      1L, s"$work/state", s"$work/idx")
    assert(postings() === Map(("merge", 3L) -> 1L, ("join", 3L) -> 1L))
    assert(stats() === (1L, 2L))
  }

  test("prefix search expands through the term directory and reads only the expansion's buckets") {
    // the doc-claims must hold in the EXECUTED plan (the r12 audit lesson):
    // since r14 the prefix expands via the SORTED TERM DIRECTORY, and the
    // returned plan's postings reads must be the EXPANSION terms' buckets —
    // never an all-buckets StartsWith scan (the r13 rendering)
    val (_, idxDir) = Search.textIndexRun(spark, sfDir)
    val expansion = Search.dictTerms(spark, idxDir)
      .filter(col("tok").startsWith("s"))
      .collect().map(_.getString(0)).toSeq
    assert(expansion.nonEmpty)
    val df = Search.qCdcPrefixSearch(spark, sfDir)
    val scans = df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            f.location.rootPaths.map(_.toString)
          case _ => Seq.empty[String]
        }
    }.flatten
    val layout = graft.cdc.Buckets.read(spark, idxDir).get
    val expBuckets = expansion
      .map(t => graft.cdc.Buckets.bucketOfValues(layout, Seq(t))).distinct
    val allBuckets = layout.entries.count(_._2._2 >= 0)
    assert(expBuckets.size < allBuckets,
      "fixture degenerate: expansion covers every bucket — the pruning assertion is vacuous")
    scans.filterNot(_.contains("/_stats")).foreach { p =>
      assert(expBuckets.exists(b => p.contains(s"/bucket=$b/")),
        s"non-expansion bucket read: $p (expansion buckets: $expBuckets)")
    }
    // the dictionary read itself pushes the range predicate into the
    // sorted runs
    val dictPlan = Search.dictTerms(spark, idxDir)
      .filter(col("tok").startsWith("s"))
      .queryExecution.executedPlan.toString
    assert(dictPlan.contains("StringStartsWith(tok,s)"),
      s"StartsWith not pushed into the dict runs:\n$dictPlan")
    // the filter keep frame serves from the maintained SOURCE index:
    // per filter value, exactly that value's index bucket opens (r14 —
    // the r13 rendering scanned the doc state with the predicate pushed)
    val (stateDir, _) = Search.textIndexRun(spark, sfDir)
    // (the version dirs each lookup opened, whether it read on the driver
    // or through a Spark file relation)
    val keep = Search.sourceKeepIds(spark, stateDir, Seq("src3", "src7"))
    val keepScans = graft.cdc.VersionScan.openedDirs(keep.queryExecution.analyzed)
    val srcLayout = graft.cdc.Buckets.read(spark, s"$stateDir/_srcidx").get
    val valueBuckets = Seq("src3", "src7")
      .map(v => graft.cdc.Buckets.bucketOfValues(srcLayout, Seq(v))).distinct
    assert(keepScans.nonEmpty)
    keepScans.foreach { p =>
      assert(p.contains("/_srcidx/"),
        s"keep frame read outside the source index: $p")
      assert(valueBuckets.exists(b => p.contains(s"/bucket=$b/")),
        s"keep frame read a non-value bucket: $p (value buckets: $valueBuckets)")
    }
    // ...and the keep set itself equals the state-derived one
    val fromState = graft.cdc.ChangelogStream
      .readState(spark, stateDir, Seq("id", "source"))
      .filter(col("source").isin("src3", "src7"))
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(keep.collect().map(_.getLong(0)).toSet === fromState)
  }

  test("range agg buckets the match set by dl with [from, to) bounds and reports empty ranges") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-rangeagg-spec-").toString
    // dl values: doc 1 -> 2 toks, doc 2 -> 3 toks, doc 3 -> 5 toks; query
    // 'merge' matches docs 1 and 3 only, so with bounds (3, 5): dl=2 falls
    // in *-3, dl=5 in 5-* (the boundary is EXCLUSIVE on `to`, inclusive on
    // `from`), and the middle range [3,5) reports 0 — the ES contract
    Search.maintainTextIndexBatch(
      Seq((1L, 1L, "INSERT", "merge scan"),
          (2L, 2L, "INSERT", "alpha beta gamma"),
          (3L, 3L, "INSERT", "merge a b c d"))
        .toDF("id", "seq", "op", "text"),
      0L, s"$work/state", s"$work/idx")
    // qCdcRangeAgg resolves its pass from sfDir (its full rendering —
    // empty-range left join included — is oracle-checked at three SFs);
    // this drill pins the BOUNDARY semantics of the same when-chain
    // against the hand-built maintained index
    val postings = graft.cdc.ChangelogStream
      .readState(spark, s"$work/idx", Seq("tok", "id", "dl"))
      .filter($"tok" === "merge")
      .select($"id".as("doc_id"), $"dl").distinct()
    val got = postings
      .select(when($"dl" < 3, 0).when($"dl" < 5, 1).otherwise(2).as("ord"))
      .groupBy($"ord").agg(count(lit(1)).as("doc_count"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got === Map(0 -> 1L, 2 -> 1L)) // dl=2 -> *-3; dl=5 -> 5-* (>= from)
  }

  test("aliases resolve, swap atomically, and fail loudly when missing") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-alias-spec-").toString
    def batch(rows: Seq[(Long, Long, String, String)]) =
      rows.toDF("id", "seq", "op", "text")
    // two indexes with DIFFERENT content — the swap must visibly change
    // what a search through the alias serves
    Search.maintainTextIndexBatch(
      batch(Seq((1L, 1L, "INSERT", "alpha beta"))), 0L, s"$work/s1", s"$work/i1")
    Search.maintainTextIndexBatch(
      batch(Seq((2L, 1L, "INSERT", "alpha gamma"))), 0L, s"$work/s2", s"$work/i2")
    val reg = s"$work/aliases"
    intercept[IllegalStateException] {
      Search.aliasResolve(spark, reg, "docs")
    }
    Search.aliasSet(spark, reg, "docs", s"$work/i1")
    assert(Search.aliasResolve(spark, reg, "docs") === s"$work/i1")
    def ids(): Seq[Long] = graft.cdc.ChangelogStream
      .readState(spark, Search.aliasResolve(spark, reg, "docs"), Seq("tok", "id"))
      .filter(col("tok") === "alpha").select(col("id"))
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(ids() === Seq(1L))
    Search.aliasSet(spark, reg, "docs", s"$work/i2") // the swap
    assert(ids() === Seq(2L))
    // idempotent re-set (a replayed reindex finalizer)
    Search.aliasSet(spark, reg, "docs", s"$work/i2")
    assert(ids() === Seq(2L))
  }

  test("the term directory tracks postings df through update, delete, truncate — and compaction folds runs") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-dict-spec-").toString
    def batch(rows: Seq[(Long, Long, String, String)]) =
      rows.toDF("id", "seq", "op", "text")
    def dict(): Map[String, Long] =
      Search.dictTerms(spark, s"$work/idx")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def postingsDf(): Map[String, Long] =
      graft.cdc.ChangelogStream.readState(spark, s"$work/idx", Seq("tok", "id"))
        .groupBy(col("tok")).agg(count(lit(1)).as("df"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Search.maintainTextIndexBatch(
      batch(Seq((1L, 1L, "INSERT", "spark merge merge"), (2L, 2L, "INSERT", "merge window"))),
      0L, s"$work/state", s"$work/idx")
    assert(dict() === Map("spark" -> 1L, "merge" -> 2L, "window" -> 1L))
    // update: doc 1 drops spark+merge, gains join; duplicate tokens in one
    // doc still count df once
    Search.maintainTextIndexBatch(
      batch(Seq((1L, 3L, "UPDATE", "join join"))), 1L, s"$work/state", s"$work/idx")
    assert(dict() === Map("merge" -> 1L, "window" -> 1L, "join" -> 1L))
    assert(dict() === postingsDf()) // the directory invariant
    // replay of batch 1: the manifest fence skips the non-idempotent delta
    Search.maintainTextIndexBatch(
      batch(Seq((1L, 3L, "UPDATE", "join join"))), 1L, s"$work/state", s"$work/idx")
    assert(dict() === postingsDf())
    // a TRUNCATE batch retracts fence-killed docs' terms (whole-frame hook)
    Search.maintainTextIndexBatch(
      batch(Seq((-1L, 10L, "TRUNCATE", null), (3L, 11L, "INSERT", "merge scan"))),
      2L, s"$work/state", s"$work/idx")
    assert(dict() === Map("merge" -> 1L, "scan" -> 1L))
    assert(dict() === postingsDf())
    // compaction folds the runs to ONE sorted base; totals unchanged and
    // the next batch keeps maintaining on top of the folded base
    val before = dict()
    Search.compactDict(spark, s"$work/idx")
    assert(dict() === before)
    Search.maintainTextIndexBatch(
      batch(Seq((4L, 12L, "INSERT", "merge"))), 3L, s"$work/state", s"$work/idx")
    assert(dict() === Map("merge" -> 2L, "scan" -> 1L))
    assert(dict() === postingsDf())
  }

  test("CDC-maintained search equals BM25 over the live documents") {
    // the maintained-index search and a from-scratch BM25 over the
    // changelog's live docs must agree rank for rank
    val live = graft.cdc.Apply.latestState(
      graft.cdc.Changelog.fromDocuments(spark, sfDir),
      graft.cdc.Changelog.documentsPayloadCols)
    val docs = live.select(col("doc_id"), Text.tokens(col("text")).as("ws"))
      .select(col("doc_id"), col("ws"), size(col("ws")).cast("long").as("dl"))
    val post = docs.select(col("doc_id"), col("dl"), explode(col("ws")).as("tok"))
      .filter(col("tok").isin("stream", "merge", "window"))
      .groupBy(col("tok"), col("doc_id"), col("dl")).agg(count(lit(1)).as("tf"))
    val stats = docs.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val df = post.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val idf = ((col("n_docs") - col("df")).cast("double") + 0.5) /
      (col("df").cast("double") + 0.5)
    val tfs = (col("tf").cast("double") * 2.2) /
      (col("tf").cast("double") + lit(1.2) * (lit(0.25) + lit(0.75) *
        (col("dl").cast("double") * col("n_docs") / col("sum_dl"))))
    val expect = post.join(df, Seq("tok")).crossJoin(stats)
      .select(col("doc_id"), round(idf * tfs, 6)
        .cast(org.apache.spark.sql.types.DecimalType(18, 8)).as("ts"))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("ts")).cast("double"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val got = Search.qCdcTextSearch(spark, sfDir)
      .collect().map(r => (r.getLong(1), r.getDouble(3)))
    assert(got.toSeq === expect.toSeq)
    // the normalization constants come from the MAINTAINED stats row and
    // equal a from-scratch derivation over the live docs...
    val expectStats = docs
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl")).head()
    val run = Search.qCdcTextIndex(spark, sfDir) // ensures the shared pass ran
    assert(run.count() > 0)
    // ...and the search PLAN never scans the doc state: its file scans read
    // only the index (postings buckets + the one-row stats version) —
    // VERDICT r11 #2's IO contract
    val plan = Search.qCdcTextSearch(spark, sfDir)
    val scans = plan.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            f.location.rootPaths.map(_.toString)
          case _ => Seq.empty[String]
        }
    }.flatten
    assert(scans.nonEmpty)
    assert(scans.forall(p => p.contains("/idx")),
      s"text search read outside the index: $scans")
    assert(!scans.exists(_.contains("/state")),
      s"text search scanned the doc state: $scans")
    // ...and the postings reads are BUCKET-PRUNED to the query terms'
    // tok-buckets (every non-stats path is one of the terms' buckets)
    val idxRoot = scans.head.replaceAll("/idx/.*", "/idx")
    val layout = graft.cdc.Buckets.read(spark, idxRoot).get
    val termBuckets = Seq("stream", "merge", "window")
      .map(t => graft.cdc.Buckets.bucketOfValues(layout, Seq(t))).distinct
    scans.filterNot(_.contains("/_stats")).foreach { p =>
      assert(termBuckets.exists(b => p.contains(s"/bucket=$b/")),
        s"non-term bucket read: $p (terms' buckets: $termBuckets)")
    }
    val statsRow = Search.corpusStats(spark, idxRoot).head()
    assert(statsRow.getLong(0) === expectStats.getLong(0))
    assert(statsRow.getLong(1) === expectStats.getLong(1))
  }

  test("wildcard expands through the term directory: LIKE translation, " +
    "bounded clauses, loud misses") {
    // *ow* must resolve exactly the three -ow- vocabulary terms; the
    // ranking itself is oracle-checked (cdc_wildcard_search)
    val hits = Search.qCdcWildcardSearch(spark, sfDir).collect()
    assert(hits.nonEmpty)
    // a pattern matching nothing fails loudly (the ES 4xx, not empty top-k)
    val e = intercept[IllegalArgumentException] {
      Search.qCdcWildcardSearch(spark, sfDir, pattern = "zzz*")
    }
    assert(e.getMessage.contains("no index term"))
    // the maxClauseCount contract: a catch-all pattern over a capped
    // clause budget fails loudly instead of scoring an unbounded OR
    val e2 = intercept[IllegalArgumentException] {
      Search.qCdcWildcardSearch(spark, sfDir, pattern = "*", maxClauses = 2)
    }
    assert(e2.getMessage.contains("maxClauseCount"))
  }

  test("wildcard-to-LIKE honors the ES escape contract: \\* and \\? are " +
    "literals, and literal LIKE specials escape") {
    // ADVICE r15: a pass-through backslash became a LIKE escape character
    // with semantics diverging from the ES wildcard contract
    assert(Search.wildcardToLike("*ow*") === "%ow%")
    assert(Search.wildcardToLike("a?c") === "a_c")
    assert(Search.wildcardToLike("""a\*b""") === "a*b") // escaped star: literal
    assert(Search.wildcardToLike("""a\?b""") === "a?b") // escaped ?: literal
    assert(Search.wildcardToLike("""a\\b*""") === """a\\b%""") // literal backslash
    assert(Search.wildcardToLike("""a\""") === """a\\""") // trailing backslash
    assert(Search.wildcardToLike("a%b_c") === """a\%b\_c""") // LIKE specials literal
    // end-to-end: an escaped star matches NOTHING in this corpus (no token
    // contains a literal '*') and fails loudly, instead of expanding as %
    val e = intercept[IllegalArgumentException] {
      Search.qCdcWildcardSearch(spark, sfDir, pattern = """\*ow\*""")
    }
    assert(e.getMessage.contains("no index term"))
  }

  test("multi-field index: per-field postings/stats/dict follow the data; " +
    "multi_match prunes to the queried (field, tok) buckets") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-mf-").toString
    def batch(rows: Seq[(Long, Long, String, String)]) =
      rows.toDF("id", "seq", "op", "text")
    // drill fields: title = the first TWO tokens (shorter than default so
    // title and body genuinely diverge on a 3-token doc)
    val fields: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "body" -> Text.tokens(col("text")),
      "title" -> slice(Text.tokens(col("text")), 1, 2))
    def postings(): Set[(String, String, Long)] =
      graft.cdc.ChangelogStream.readState(spark, s"$work/idx",
        Seq("field", "tok", "id"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    def stats(): Map[String, (Long, Long)] =
      Search.fieldStats(spark, s"$work/idx")
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    def dict(): Set[(String, String, Long)] =
      Search.fieldDictTerms(spark, s"$work/idx")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    Search.maintainMultiFieldTextIndexBatch(
      batch(Seq((1L, 1L, "INSERT", "alpha beta gamma"),
        (2L, 2L, "INSERT", "beta delta"))), 0L,
      s"$work/state", s"$work/idx", fields)
    assert(postings() === Set(
      ("body", "alpha", 1L), ("body", "beta", 1L), ("body", "gamma", 1L),
      ("body", "beta", 2L), ("body", "delta", 2L),
      ("title", "alpha", 1L), ("title", "beta", 1L),
      ("title", "beta", 2L), ("title", "delta", 2L)))
    assert(stats() === Map("body" -> (2L, 5L), "title" -> (2L, 4L)))
    assert(dict() === Set(
      ("body", "alpha", 1L), ("body", "beta", 2L), ("body", "gamma", 1L),
      ("body", "delta", 1L),
      ("title", "alpha", 1L), ("title", "beta", 2L), ("title", "delta", 1L)))
    // the tail: doc 1 rewrites (title AND body postings move), doc 2 dies
    Search.maintainMultiFieldTextIndexBatch(
      batch(Seq((1L, 10L, "UPDATE", "epsilon"),
        (2L, 11L, "DELETE", "beta delta"))), 1L,
      s"$work/state", s"$work/idx", fields)
    assert(postings() === Set(
      ("body", "epsilon", 1L), ("title", "epsilon", 1L)))
    assert(stats() === Map("body" -> (1L, 1L), "title" -> (1L, 1L)))
    assert(dict() === Set(
      ("body", "epsilon", 1L), ("title", "epsilon", 1L)))

    // per-field PRUNING, plan-walked on the fixture run: every non-meta
    // path the multi_match plan opens is one of the queried
    // (field, term) pairs' buckets
    val plan = Search.qCdcMultiMatch(spark, sfDir)
    val scans = plan.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            f.location.rootPaths.map(_.toString)
          case _ => Seq.empty[String]
        }
    }.flatten
    assert(scans.nonEmpty)
    val idxRoot = scans.find(_.contains("/idx/bucket="))
      .getOrElse(fail(s"no postings bucket read: $scans"))
      .replaceAll("/idx/.*", "/idx")
    val layout = graft.cdc.Buckets.read(spark, idxRoot).get
    val wanted = (for (f <- Seq("title", "body");
                       t <- Seq("stream", "merge", "window"))
      yield graft.cdc.Buckets.bucketOfValues(layout, Seq(f, t))).distinct
    scans.filterNot(p => p.contains("/_stats")).foreach { p =>
      assert(wanted.exists(b => p.contains(s"/bucket=$b/")),
        s"non-queried (field, tok) bucket read: $p (wanted: $wanted)")
    }
  }

  test("the analyzer view (stop filter + S-stemmer) buys recall the raw " +
    "field cannot see; its per-field postings/stats/dict follow the chain") {
    // VERDICT r15 missing #3: fields as analyzer views
    import spark.implicits._
    // the chain analyzes QUERY terms identically (the ES contract)
    assert(Search.analyzeQuery(Seq("streams", "the", "merges")) ===
      Seq("stream", "merge"))
    assert(Search.analyzeQuery(Seq("glass", "as"))
      === Seq("glass", "as")) // -ss and short tokens never stem
    // fixture-level recall: the raw body field NEVER indexed 'streams'
    // (zero recall), the analyzed field serves the plural query
    val (_, mfIdx) = Search.multiFieldIndexRun(spark, sfDir)
    assert(Search.fieldDictTerms(spark, mfIdx)
      .filter(col("field") === "body" && col("tok") === "streams")
      .count() === 0)
    assert(Search.qCdcAnalyzerSearch(spark, sfDir).count() > 0)
    // the analyzed field's normalization constants are its OWN: same
    // docs, shorter lengths (stopwords dropped)
    val st = Search.fieldStats(spark, mfIdx)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(st("body_en")._1 === st("body")._1)
    assert(st("body_en")._2 < st("body")._2)
    // synthetic chain-following drill: stem + stop at index time, and an
    // update that analyzes to NOTHING retracts postings but keeps the doc
    // countable (the null-tok carrier)
    val work = java.nio.file.Files.createTempDirectory("graft-analyzer-").toString
    def batch(rows: Seq[(Long, Long, String, String)]) =
      rows.toDF("id", "seq", "op", "text")
    Search.maintainMultiFieldTextIndexBatch(
      batch(Seq((1L, 1L, "INSERT", "the streams a merge"))), 0L,
      s"$work/state", s"$work/idx", Search.defaultFields)
    def enPostings(): Set[(String, Long)] =
      graft.cdc.ChangelogStream.readState(spark, s"$work/idx",
        Seq("field", "tok", "id"))
        .filter(col("field") === "body_en")
        .collect().map(r => (r.getString(1), r.getLong(2))).toSet
    def enStats(): (Long, Long) = {
      val m = Search.fieldStats(spark, s"$work/idx")
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      m("body_en")
    }
    assert(enPostings() === Set(("stream", 1L), ("merge", 1L)))
    assert(enStats() === (1L, 2L))
    Search.maintainMultiFieldTextIndexBatch(
      batch(Seq((1L, 10L, "UPDATE", "a the"))), 1L,
      s"$work/state", s"$work/idx", Search.defaultFields)
    assert(enPostings() === Set.empty)
    assert(enStats() === (1L, 0L))
    assert(Search.fieldDictTerms(spark, s"$work/idx")
      .filter(col("field") === "body_en").count() === 0)
  }

  test("compactDict folds a multi-field dictionary per (field, tok) — the " +
    "field column survives and per-field dfs never merge") {
    // ADVICE r15: the tok-only fold would silently merge per-field dfs and
    // drop the field column from the base run
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-mfcompact-").toString
    val fields: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "body" -> Text.tokens(col("text")),
      "title" -> slice(Text.tokens(col("text")), 1, 1))
    def batch(rows: Seq[(Long, Long, String, String)]) =
      rows.toDF("id", "seq", "op", "text")
    Search.maintainMultiFieldTextIndexBatch(
      batch(Seq((1L, 1L, "INSERT", "alpha beta"))), 0L,
      s"$work/state", s"$work/idx", fields)
    Search.maintainMultiFieldTextIndexBatch(
      batch(Seq((2L, 2L, "INSERT", "alpha gamma"))), 1L,
      s"$work/state", s"$work/idx", fields)
    def dict(): Set[(String, String, Long)] =
      Search.fieldDictTerms(spark, s"$work/idx")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val before = dict()
    // 'alpha' has DIFFERENT dfs per field (body 2, title 2; beta/gamma
    // body-only) — a tok-only fold would collapse them
    assert(before === Set(
      ("body", "alpha", 2L), ("body", "beta", 1L), ("body", "gamma", 1L),
      ("title", "alpha", 2L)))
    assert(Search.dictManifest(spark, s"$work/idx")._2.size === 2)
    Search.compactDict(spark, s"$work/idx")
    assert(Search.dictManifest(spark, s"$work/idx")._2.size === 1)
    assert(dict() === before)
    // the base run keeps the (field, tok, ddf) schema
    val base = Search.dictManifest(spark, s"$work/idx")._2.head
    assert(spark.read.parquet(s"$work/idx/_dict/$base").columns.toSeq ===
      Seq("field", "tok", "ddf"))
  }

  test("mget opens only the requested ids' buckets and reports misses " +
    "with found=0") {
    val got = Search.qCdcMget(spark, sfDir, ids = Seq(1L, 4L, 3L)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // id 4 is deleted by the %5==4 rule → requested, reported, not found
    assert(got === Seq((1L, 1L), (3L, 1L), (4L, 0L)))
    // plan walk: every doc-state path the job opens is one of the
    // requested ids' buckets
    val plan = Search.qCdcMget(spark, sfDir, ids = Seq(1L, 4L, 3L))
    val scans = plan.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            f.location.rootPaths.map(_.toString)
          case _ => Seq.empty[String]
        }
    }.flatten.filter(_.contains("/bucket="))
    assert(scans.nonEmpty)
    val stateRoot = scans.head.replaceAll("/bucket=.*", "")
    val layout = graft.cdc.Buckets.read(spark, stateRoot).get
    val wanted = Seq(1L, 4L, 3L)
      .map(id => graft.cdc.Buckets.bucketOfValues(layout, Seq(id))).distinct
    scans.foreach { p =>
      assert(wanted.exists(b => p.contains(s"/bucket=$b/")),
        s"non-requested bucket read: $p (wanted $wanted)")
    }
  }

  test("the ordered dl index tracks value movement across a range boundary; " +
    "the range read pushes its predicate into the sorted runs") {
    // VERDICT r15 missing #1: the ES range filter's serving structure.
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-rangeidx-").toString
    val dlDir = s"$work/state/_dlidx"
    def batch(rows: Seq[(Long, Long, String, String)]) =
      rows.toDF("id", "seq", "op", "text")
    def keep(gte: Long, lt: Long): Seq[Long] =
      graft.cdc.OrderedIndex.lookupRange(spark, dlDir, gte, lt)
        .collect().map(_.getLong(0)).toSeq.sorted
    // batch 0: doc 1 at dl 3, doc 2 at dl 5, doc 3 at dl 4
    Search.maintainTextIndexBatch(
      batch(Seq((1L, 1L, "INSERT", "a b c"),
        (2L, 2L, "INSERT", "a b c d e"),
        (3L, 3L, "INSERT", "a b c d"))), 0L,
      s"$work/state", s"$work/idx", noTruncate = true)
    assert(keep(4L, 6L) === Seq(2L, 3L))
    // batch 1: doc 1 grows INTO [4,6), doc 2 shrinks OUT of it, doc 3 dies
    Search.maintainTextIndexBatch(
      batch(Seq((1L, 10L, "UPDATE", "a b c d e"),
        (2L, 11L, "UPDATE", "a b"),
        (3L, 12L, "DELETE", "a b c d"))), 1L,
      s"$work/state", s"$work/idx")
    assert(keep(4L, 6L) === Seq(1L))
    assert(keep(1L, 100L) === Seq(1L, 2L)) // doc 3 fully retracted
    assert(keep(2L, 3L) === Seq(2L))
    // two runs live; the REPLAYED batch is fenced — no third run, same answer
    assert(graft.cdc.OrderedIndex.manifest(spark, dlDir)._2.size === 2)
    graft.cdc.OrderedIndex.commitDelta(spark, dlDir, 1L,
      Seq((99L, 99L, 1L)).toDF("v", "id", "d"))
    assert(graft.cdc.OrderedIndex.manifest(spark, dlDir)._2.size === 2)
    assert(keep(90L, 100L) === Seq.empty)
    // the range predicate PUSHES into the sorted runs' parquet scan
    val plan = graft.cdc.OrderedIndex.lookupRange(spark, dlDir, 4L, 6L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(v,4"), plan)
    assert(plan.contains("LessThan(v,6"), plan)
    // compaction folds to one base run; answers unchanged
    graft.cdc.OrderedIndex.compact(spark, dlDir)
    assert(graft.cdc.OrderedIndex.manifest(spark, dlDir)._2.size === 1)
    assert(keep(4L, 6L) === Seq(1L))
    assert(keep(1L, 100L) === Seq(1L, 2L))
  }

  test("stale events cannot resurrect postings (replayed/late changelog order)") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-textidx-stale-").toString
    def batch(rows: Seq[(Long, Long, String, String)]) =
      rows.toDF("id", "seq", "op", "text")
    def postings(): Set[(String, Long)] =
      graft.cdc.ChangelogStream.readState(spark, s"$work/idx", Seq("tok", "id"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    Search.maintainTextIndexBatch(
      batch(Seq((1L, 5L, "INSERT", "alpha beta"))), 0L, s"$work/state", s"$work/idx")
    assert(postings() === Set(("alpha", 1L), ("beta", 1L)))
    Search.maintainTextIndexBatch(
      batch(Seq((1L, 9L, "DELETE", "alpha beta"))), 1L, s"$work/state", s"$work/idx")
    assert(postings() === Set.empty)
    // a LATE insert (seq 7 < the delete's 9) arrives a batch later: the
    // doc state's max-seq merge keeps the tombstone, so the postings
    // delta sees no live row on either side — nothing resurrects
    Search.maintainTextIndexBatch(
      batch(Seq((1L, 7L, "INSERT", "alpha gamma"))), 2L, s"$work/state", s"$work/idx")
    assert(postings() === Set.empty)
    // ...and a genuinely NEWER insert after the delete re-indexes cleanly
    Search.maintainTextIndexBatch(
      batch(Seq((1L, 12L, "INSERT", "delta"))), 3L, s"$work/state", s"$work/idx")
    assert(postings() === Set(("delta", 1L)))
  }

  test("killing the text-index pass mid-drain and resuming converges state AND postings") {
    // the maintained index's crash story end-to-end: stop at an arbitrary
    // committed prefix (1 file per epoch), resume from the checkpoint —
    // the doc state re-merges idempotently and every replayed postings
    // delta re-derives identically for the max_by merge to absorb
    val clDir = graft.cdc.Changelog.stageParquetDocuments(spark, sfDir)
    val root = java.nio.file.Files.createTempDirectory("graft-textidx-kill-").toString
    def start() = {
      val stream = spark.readStream.schema(spark.read.parquet(clDir).schema)
        .option("maxFilesPerTrigger", 1).parquet(clDir)
      stream.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
          Search.maintainTextIndexBatch(batch, batchId, s"$root/state", s"$root/idx")
        }
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    val q1 = start()
    q1.awaitTermination(2500)
    q1.stop()
    val q2 = start()
    q2.awaitTermination()
    // final postings equal the live docs' postings, re-derived from batch
    val live = graft.cdc.Apply.latestState(
      graft.cdc.Changelog.fromDocuments(spark, sfDir),
      graft.cdc.Changelog.documentsPayloadCols)
    val expect = live.select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
      .groupBy(col("tok"), col("doc_id")).agg(count(lit(1)).as("tf"))
    val got = graft.cdc.ChangelogStream.readState(spark, s"$root/idx",
        Seq("tok", "id", "tf"))
      .select(col("tok"), col("id").as("doc_id"), col("tf"))
    assert(got.exceptAll(expect).count() === 0)
    assert(expect.exceptAll(got).count() === 0)
    // ...and the batch-FENCED corpus stats converge too: the kill can land
    // between a stats commit and its state promote, and the resumed
    // replay must skip the committed delta (not double-apply) while the
    // state re-merges — final (n_docs, sum_dl) = the live docs' stats
    val expectStats = live
      .agg(count(lit(1)), sum(size(Text.tokens(col("text"))).cast("long"))).head()
    val gotStats = Search.corpusStats(spark, s"$root/idx").head()
    assert(gotStats.getLong(0) === expectStats.getLong(0))
    assert(gotStats.getLong(1) === expectStats.getLong(1))
    // ...and the manifest-fenced ORDERED dl index (r16): replayed runs
    // must skip, retractions of moved/deleted lengths must land — the
    // full-range read equals the live docs' (dl, id) pairs exactly
    val expectDl = live.select(
      size(Text.tokens(col("text"))).cast("long").as("v"), col("doc_id").as("id"))
    val gotDl = graft.cdc.OrderedIndex
      .lookupRange(spark, s"$root/state/_dlidx", Long.MinValue, Long.MaxValue)
    assert(gotDl.count() === expectDl.count())
    // per-id equality via the index's (v, id) fold carrying v
    val gotPairs = spark.read.parquet(
        graft.cdc.OrderedIndex.manifest(spark, s"$root/state/_dlidx")._2
          .map(r => s"$root/state/_dlidx/$r"): _*)
      .groupBy(col("v"), col("id")).agg(sum(col("d")).as("d"))
      .filter(col("d") > 0).select(col("v"), col("id"))
    assert(gotPairs.exceptAll(expectDl).count() === 0)
    assert(expectDl.exceptAll(gotPairs).count() === 0)
  }

  test("hybrid RRF fusion unions the legs and rewards presence in both") {
    val lex = Search.qBm25(spark, sfDir, k = 20)
      .collect().map(_.getLong(1)).toSet
    val dense = Similarity.qCosineTopK(spark, sfDir, nQueries = 1, k = 20)
      .collect().map(r => r.getLong(2)).toSet
    val fused = Search.qHybridSearch(spark, sfDir).collect()
    assert(fused.length === 10)
    // union semantics: every fused doc came from at least one leg
    fused.foreach { r =>
      val d = r.getLong(1)
      assert(lex.contains(d) || dense.contains(d), s"doc $d from neither leg")
    }
    // a doc present in BOTH legs outranks one at the same single-leg rank:
    // the top fused doc must be in both legs whenever any doc is
    val both = fused.filter(r => !r.isNullAt(3) && !r.isNullAt(4))
    if (both.nonEmpty)
      assert(both.head.getLong(0) === fused.head.getLong(0) ||
        fused.head.getDouble(2) >= both.head.getDouble(2))
    // ranks are 1..k and scores non-increasing
    assert(fused.map(_.getLong(0)).toSeq === (1L to 10L))
    assert(fused.sliding(2).forall(p => p(0).getDouble(2) >= p(1).getDouble(2)))
  }

  test("phrase search counts exact word-sequence occurrences") {
    val got = Search.qPhraseSearch(spark, sfDir, "merge window")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // independent derivation from the token bigrams
    val ws = Text.tokens(col("text"))
    val bigrams = when(size(ws) >= 2,
      transform(sequence(lit(0), size(ws) - 2),
        i => concat_ws(" ", element_at(ws, i + 1), element_at(ws, i + 2))))
      .otherwise(array().cast("array<string>"))
    val expect = graft.model.Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        size(filter(bigrams, g => g === "merge window")).cast("long").as("hits"))
      .filter(col("hits") > 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expect)
    assert(got.nonEmpty)
    // the phrase is answered FROM THE INDEX: its plan partition-prunes to
    // the phrase terms' buckets (no documents.parquet scan anywhere)
    val plan = Search.qPhraseSearch(spark, sfDir, "merge window")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"),
      s"phrase search scanned the corpus:\n$plan")
    val pf = plan.linesIterator.filter(_.contains("PartitionFilters:")).toSeq
    assert(pf.nonEmpty && pf.forall(_.contains("pb")),
      s"pb not in partition filters:\n$plan")
  }

  test("phrase intersection counts overlapping occurrences (self-overlapping phrase)") {
    import spark.implicits._
    // 'a a a' contains 'a a' at starts 1 and 2 — overlapping counting, the
    // semantics the bigram oracle defines (a regexp_count rendering would
    // report 1; ADVICE r11 pinned the divergence, the index intersection
    // resolves it)
    val work = java.nio.file.Files.createTempDirectory("graft-phrase-ovl-").toString
    Search.maintainTextIndexBatch(
      Seq((1L, 1L, "INSERT", "a a a b"), (2L, 2L, "INSERT", "a b a"))
        .toDF("id", "seq", "op", "text"),
      0L, s"$work/state", s"$work/idx")
    val postings = graft.cdc.ChangelogStream
      .readState(spark, s"$work/idx", Seq("tok", "id", "positions"))
      .select(col("tok"), col("id").as("doc_id"), col("positions"))
    val hits = Search.phraseHits(postings, Seq("a", "a"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits === Map(1L -> 2L))
  }

  test("match_phrase_prefix completes the last term from the directory: " +
    "union of concrete completions, capped in term order, loud on empty") {
    // VERDICT r15 missing #4 — both halves existed (prefix expansion,
    // positional intersection); this drills their composition
    def hits(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pp = hits(Search.qCdcPhrasePrefix(spark, sfDir)) // "merge s"
    // identity: per doc, the prefix-phrase hits are the SUM over every
    // concrete s-completion's exact-phrase hits (one position holds one
    // token, so completions never double-count a start)
    val sTerms = Search.dictTerms(spark, sfDir_idx())
      .filter(col("tok").startsWith("s"))
      .collect().map(_.getString(0)).toSeq.sorted
    assert(sTerms.nonEmpty)
    val summed = sTerms.map(t => hits(Search.qCdcPhraseSearch(spark, sfDir, s"merge $t")))
      .foldLeft(Map.empty[Long, Long]) { (acc, m) =>
        (acc.keySet ++ m.keySet).map(k =>
          k -> (acc.getOrElse(k, 0L) + m.getOrElse(k, 0L))).toMap
      }
    assert(pp === summed)
    // a binding cap keeps the deterministic term-order rule: cap 1 IS the
    // first s-term's exact phrase
    assert(hits(Search.qCdcPhrasePrefix(spark, sfDir, "merge s",
      maxExpansions = 1)) ===
      hits(Search.qCdcPhraseSearch(spark, sfDir, s"merge ${sTerms.head}")))
    // loud when the prefix matches no index term (the ES 4xx)
    val e = intercept[IllegalArgumentException] {
      Search.qCdcPhrasePrefix(spark, sfDir, "merge zzz")
    }
    assert(e.getMessage.contains("no index term"))
  }

  private def sfDir_idx(): String = Search.textIndexRun(spark, sfDir)._2

  test("maintained phrase search follows the data: an update moves phrase hits") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-phrase-cdc-").toString
    def postings() = graft.cdc.ChangelogStream
      .readState(spark, s"$work/idx", Seq("tok", "id", "positions"))
      .select(col("tok"), col("id").as("doc_id"), col("positions"))
    def hits() = Search.phraseHits(postings(), Seq("merge", "window"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Search.maintainTextIndexBatch(
      Seq((1L, 1L, "INSERT", "merge window now"), (2L, 2L, "INSERT", "scan merge"))
        .toDF("id", "seq", "op", "text"),
      0L, s"$work/state", s"$work/idx")
    assert(hits() === Map(1L -> 1L))
    // doc 2's update CREATES the phrase; doc 1's update DESTROYS it
    Search.maintainTextIndexBatch(
      Seq((1L, 3L, "UPDATE", "merge then window"), (2L, 4L, "UPDATE", "scan merge window"))
        .toDF("id", "seq", "op", "text"),
      1L, s"$work/state", s"$work/idx")
    assert(hits() === Map(2L -> 1L))
    // delete retracts the remaining hit
    Search.maintainTextIndexBatch(
      Seq((2L, 5L, "DELETE", "")).toDF("id", "seq", "op", "text"),
      2L, s"$work/state", s"$work/idx")
    assert(hits() === Map.empty)
  }

  test("CDC phrase search equals the positional intersection over the live documents") {
    val live = graft.cdc.Apply.latestState(
      graft.cdc.Changelog.fromDocuments(spark, sfDir),
      graft.cdc.Changelog.documentsPayloadCols)
    val ws = Text.tokens(col("text"))
    val bigrams = when(size(ws) >= 2,
      transform(sequence(lit(0), size(ws) - 2),
        i => concat_ws(" ", element_at(ws, i + 1), element_at(ws, i + 2))))
      .otherwise(array().cast("array<string>"))
    val expect = live
      .select(col("doc_id"),
        size(filter(bigrams, g => g === "merge window")).cast("long").as("hits"))
      .filter(col("hits") > 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Search.qCdcPhraseSearch(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expect)
    assert(got.nonEmpty)
  }

  test("maintained hybrid search fuses the maintained legs and follows the data") {
    val fused = Search.qCdcHybridSearch(spark, sfDir).collect()
    assert(fused.length === 10)
    assert(fused.map(_.getLong(0)).toSeq === (1L to 10L))
    // deleted documents (id % 5 == 4 in the synthetic changelog) can appear
    // in NEITHER leg — their postings retracted, their cell entry tombstoned
    assert(!fused.exists(r => r.getLong(1) % 5 === 4),
      s"deleted doc in fused ranking: ${fused.map(_.getLong(1)).mkString(",")}")
    // the updates moved fused ranks: every %3 doc gained ' merge window r2'
    // (boosting its lexical leg) and had its vector reversed (moving its
    // dense leg), so the maintained fusion cannot equal the static one
    val staticF = Search.qHybridSearch(spark, sfDir).collect()
      .map(r => r.getLong(1) -> r.getLong(0)).toMap
    val maintained = fused.map(r => r.getLong(1) -> r.getLong(0)).toMap
    assert(maintained !== staticF,
      "maintained hybrid identical to static — updates did not move ranks")
    // every fused doc came from at least one maintained leg
    fused.foreach { r =>
      assert(!r.isNullAt(3) || !r.isNullAt(4),
        s"doc ${r.getLong(1)} has neither leg rank")
    }
  }

  test("sloppy phrase shares its slack budget across gaps, in order, counting per start") {
    import spark.implicits._
    // positions as the maintained index stores them (1-based, sorted)
    def posting(rows: (String, Long, Seq[Int])*) =
      rows.toDF("tok", "doc_id", "positions")
    val p = posting(
      ("a", 1L, Seq(1)), ("b", 1L, Seq(2)), ("c", 1L, Seq(3)),   // a b c
      ("a", 2L, Seq(1)), ("b", 2L, Seq(3)), ("c", 2L, Seq(4)),   // a x b c
      ("a", 3L, Seq(1)), ("b", 3L, Seq(3)), ("c", 3L, Seq(5)),   // a x b x c
      ("c", 4L, Seq(1)), ("b", 4L, Seq(2)), ("a", 4L, Seq(3)),   // c b a
      ("a", 5L, Seq(1, 2)), ("b", 5L, Seq(3)), ("c", 5L, Seq(4))) // a a b c
    def hits(slop: Int): Map[Long, Long] =
      Search.slopHits(p, Seq("a", "b", "c"), slop)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // slop 0 = the exact intersection: adjacent runs only
    assert(hits(0) === Map(1L -> 1L, 5L -> 1L))
    // slop 1: one interposed position total — doc 2 joins (1+0), doc 5's
    // FIRST 'a' now also starts a match (gap 1 then 0) → 2 starts
    assert(hits(1) === Map(1L -> 1L, 2L -> 1L, 5L -> 2L))
    // slop 2: doc 3's two gaps SHARE the budget (1+1); the reversed doc 4
    // never matches — order is part of the phrase
    assert(hits(2) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 2L))
  }

  test("match operator:and requires every term; the cut reshuffles the rare-term top-10") {
    val andTop = Search.qCdcMatchAnd(spark, sfDir).collect()
    // every returned doc matched all 3 query terms
    assert(andTop.nonEmpty && andTop.forall(_.getLong(2) === 3L))
    // the OR ranking over the same terms admits partial matchers at the
    // top (the rare term's idf dwarfs the common ones'), so the two
    // top-10s genuinely differ — the oracle can see the operator
    val orTop = Search.qCdcTextSearch(spark, sfDir,
      query = Seq("dup", "merge", "window"))
    assert(orTop.collect().exists(_.getLong(2) < 3L),
      "OR top-10 has no partial matcher — the AND cut would be invisible")
  }

  test("bool must_not excludes in filter context — survivors keep their must-only scores") {
    val must = Seq("dup", "merge")
    val bool = Search.qCdcBoolSearch(spark, sfDir).collect()
    assert(bool.nonEmpty)
    // filter context: df/idf derive BEFORE the cut, so every surviving doc
    // scores exactly what the must-only ranking gave it — exclusion
    // filters, never rescores
    val mustOnly = Search.qCdcMatchAnd(spark, sfDir, query = must, k = 1000)
      .collect().map(r => r.getLong(1) -> r.getDouble(3)).toMap
    bool.foreach { r =>
      assert(mustOnly(r.getLong(1)) === r.getDouble(3),
        s"doc ${r.getLong(1)} rescored under must_not")
    }
    // and the exclusion genuinely removed docs from the top-10
    val removed = Search.qCdcMatchAnd(spark, sfDir, query = must).collect()
      .map(_.getLong(1)).toSet -- bool.map(_.getLong(1)).toSet
    assert(removed.nonEmpty, "must_not removed nothing from the top-10")
  }

  test("rescore reorders ONLY the primary window, combining score + weight × phrase hits") {
    val rescored = Search.qCdcRescore(spark, sfDir).collect()
    assert(rescored.length === 10)
    assert(rescored.map(_.getLong(0)).toSeq === (1L to 10L))
    // window contract: every rescored doc came from the primary top-50 —
    // a doc outside the window never enters, no matter its phrase hits
    val window = Search.qCdcTextSearch(spark, sfDir, k = 50)
      .collect().map(r => r.getLong(1) -> r.getDouble(3)).toMap
    rescored.foreach { r =>
      assert(window.contains(r.getLong(1)),
        s"doc ${r.getLong(1)} rescored from outside the primary window")
    }
    // combined = round6(0.25 × primary + 0.5 × hits) — the full ES
    // query_weight/rescore_query_weight composition (r20), both weights
    // exact binary, the shared rounding discipline
    rescored.foreach { r =>
      val expect = BigDecimal(0.25 * window(r.getLong(1)) +
          0.5 * r.getLong(2))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(3) === expect,
        s"doc ${r.getLong(1)}: combined ${r.getDouble(3)} != $expect")
    }
    // the secondary scorer genuinely reshuffles: the rescored top-10 is
    // not the primary top-10 in primary order (else the oracle couldn't
    // see the feature)
    val primTop = Search.qCdcTextSearch(spark, sfDir).collect().map(_.getLong(1))
    assert(rescored.map(_.getLong(1)).toSeq !== primTop.toSeq,
      "rescore did not move the top-10")
    // and at least one winner was pulled UP by hits, not primary score
    assert(rescored.exists(_.getLong(2) > 0), "no phrase hits in the top-10")
  }

  test("completion suggester: weight-ranked prefix completions off the " +
    "directory, size-cut per input, no-match prefixes absent") {
    val q = Search.qCdcCompletion(spark, sfDir,
      prefixes = Seq("s", "wi", "zzz"), size = 3)
    val out = q.collect()
    // every completion extends its input; ranks are 1..≤size per input,
    // ordered by (weight desc, suggestion); a prefix matching nothing
    // returns no rows (the ES empty-options contract), never a null row
    assert(!out.exists(_.getString(0) == "zzz"))
    out.foreach { r =>
      assert(r.getString(2).startsWith(r.getString(0)))
      assert(r.getLong(1) >= 1L && r.getLong(1) <= 3L)
    }
    out.groupBy(_.getString(0)).foreach { case (in, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq === (1L to rows.length).toSeq)
      val keys = sorted.map(r => (-r.getLong(3), r.getString(2)))
      assert(keys.toSeq === keys.sortBy(identity).toSeq,
        s"'$in' completions not ranked by (weight desc, suggestion)")
    }
    // weights are live dfs: each equals a direct distinct-doc count over
    // the maintained postings (the directory is the postings' vocabulary
    // view — skip_duplicates by construction)
    val (_, idxDir) = Search.textIndexRun(spark, sfDir)
    val s01 = out.filter(_.getString(0) == "s")
    assert(s01.nonEmpty)
    val dict = Search.dictTerms(spark, idxDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    s01.foreach(r => assert(r.getLong(3) === dict(r.getString(2))))
    // the size cut genuinely bites: 's' expands well beyond 3 vocabulary
    // terms (stream/sort/scan/small/…) yet reports exactly 3
    assert(dict.keys.count(_.startsWith("s")) > 3 && s01.length === 3)
  }

  test("filters agg: every declared filter reports (zero included), " +
    "_other_ counts the no-match docs, declaration order holds") {
    val out = Search.qCdcFiltersAgg(spark, sfDir).collect()
    assert(out.map(_.getString(0)).toSeq ===
      Search.namedFilters.map(_._1) :+ "_other_")
    val m = out.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("nomatch") === 0L)
    // recount independently off the live doc state
    val live = graft.cdc.ChangelogStream
      .readState(spark, Search.textIndexRun(spark, sfDir)._1, Seq("id", "text"))
      .collect().map(r => r.getLong(0) -> r.getString(1).split(" ").toSet)
    Search.namedFilters.foreach { case (name, term) =>
      assert(m(name) === live.count(_._2.contains(term)).toLong, name)
    }
    val terms = Search.namedFilters.map(_._2).toSet
    assert(m("_other_") === live.count(d => terms.forall(!d._2.contains(_))).toLong)
  }

  test("rare_terms: the df cut off the directory, rare-first ordering") {
    // threshold at the lower quartile of the corpus's df distribution so
    // the cut genuinely bites both ways at every fixture SF (the fixture
    // vocabulary is dense — the CONTRACT, not an absolute count, is what
    // this pins)
    val (_, idxDir) = Search.textIndexRun(spark, sfDir)
    val dict = Search.dictTerms(spark, idxDir).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val thr = dict.map(_._2).sorted.apply(dict.length / 4)
    val out = Search.qCdcRareTerms(spark, sfDir, maxDocCount = thr).collect()
    assert(out.nonEmpty)
    assert(dict.exists(_._2 > thr), "threshold excluded nothing")
    val keys = out.map(r => (r.getLong(1), r.getString(0)))
    assert(keys.toSeq === keys.sortBy(identity).toSeq, "not rare-first")
    assert(out.forall(_.getLong(1) <= thr))
    // equals the directory's own cut exactly
    val want = dict.filter(_._2 <= thr)
      .sortBy { case (t, df) => (df, t) }.take(20)
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq === want.toSeq)
  }

  test("adjacency_matrix: singles match the filters agg, intersections " +
    "match an independent recount and never exceed their singles") {
    val out = Search.qCdcAdjacencyMatrix(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val live = graft.cdc.ChangelogStream
      .readState(spark, Search.textIndexRun(spark, sfDir)._1, Seq("id", "text"))
      .collect().map(r => r.getLong(0) -> r.getString(1).split(" ").toSet)
    val fs = Search.namedFilters.take(3)
    fs.foreach { case (name, term) =>
      assert(out(name) === live.count(_._2.contains(term)).toLong)
    }
    for {
      (na, ta) <- fs; (nb, tb) <- fs if na < nb
    } {
      val n = live.count(d => d._2.contains(ta) && d._2.contains(tb)).toLong
      val key = s"$na&$nb"
      if (n == 0) assert(!out.contains(key), s"$key must be omitted when empty")
      else {
        assert(out(key) === n)
        assert(n <= math.min(out(na), out(nb)))
      }
    }
  }

  test("distance_feature: final score ≡ the cross-generation BM25 plus " +
    "the exact recency saturation bonus") {
    val out = Search.qCdcDistanceFeature(spark, sfDir).collect()
    assert(out.nonEmpty)
    // the bm25-only scores over the same whole-family view
    val bm25 = Search.qCdcRolloverSearch(spark, sfDir,
        "2024-01-01", "2024-02-01", k = 1000).collect()
      .map(r => r.getLong(1) -> r.getDouble(3)).toMap
    out.foreach { r =>
      val (doc, score) = (r.getLong(1), r.getDouble(3))
      val bonus = 2.0 * (7.0 / (7.0 + (30 - (doc % 28)).toDouble))
      val want = BigDecimal(bm25(doc) + bonus)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(score === want, s"doc $doc")
    }
    // recency genuinely reorders: the top doc's BM25-only rank is not 1
    // for at least one of the top-3 (otherwise the bonus is invisible)
    val topBm25 = bm25.toSeq.sortBy { case (d, s) => (-s, d) }
      .take(3).map(_._1).toSet
    assert(out.take(3).map(_.getLong(1)).exists(!topBm25.contains(_)),
      "the recency bonus never changed the head ranking")
  }

  test("pinned query: curated ids rank first in declaration order, a dead " +
    "pinned id drops, the organic tail excludes pinned without rescoring") {
    val out = Search.qCdcPinnedQuery(spark, sfDir).collect()
    assert(out.length === 10)
    assert(out.take(2).map(r => (r.getLong(1), r.getLong(2))).toSeq ===
      Seq((42L, 1L), (3L, 1L)))
    assert(out.take(2).forall(_.isNullAt(3)), "pinned rows carry null scores")
    // organic rows: the plain ranking minus the pinned ids, scores equal
    val organic = out.drop(2)
    val plain = Search.qCdcTextSearch(spark, sfDir, k = 12).collect()
      .filterNot(r => Seq(42L, 3L).contains(r.getLong(1)))
    organic.zip(plain).foreach { case (o, p) =>
      assert(o.getLong(1) === p.getLong(1))
      assert(o.getDouble(3) === p.getDouble(3),
        "filter-context exclusion must not rescore")
    }
    // a DEAD pinned id (39 — the %5 delete) drops and the tail grows
    val dead = Search.qCdcPinnedQuery(spark, sfDir, pinned = Seq(39L, 42L))
      .collect()
    assert(dead.head.getLong(1) === 42L && dead.head.getLong(0) === 1L)
    assert(dead.count(_.getLong(2) == 1L) === 1)
    // a pin list LONGER than the page truncates to size (ADVICE r17: ES
    // caps pinned hits at `size`; the organic cut clamps at 0) — the live
    // pins among the first k declarations fill the whole page in order
    val wide = Search.qCdcPinnedQuery(spark, sfDir,
      pinned = Seq(42L, 3L, 7L, 1L), k = 3).collect()
    assert(wide.length === 3, s"page must stay k=3, got ${wide.length}")
    assert(wide.map(_.getLong(1)).toSeq === Seq(42L, 3L, 7L))
    assert(wide.forall(_.getLong(2) == 1L), "no organic row fits on the page")
  }

  test("match_bool_prefix equals the OR match over exact terms plus the " +
    "concrete prefix expansion") {
    val (_, idxDir) = Search.textIndexRun(spark, sfDir)
    val expansion = Search.dictTerms(spark, idxDir)
      .filter(col("tok").startsWith("mer")).collect().map(_.getString(0)).toSeq
    assert(expansion.contains("merge"))
    val got = Search.qCdcMatchBoolPrefix(spark, sfDir).collect()
    val want = Search.qCdcTextSearch(spark, sfDir,
      query = ("stream" +: expansion).distinct).collect()
    assert(got.map(_.toSeq).toSeq === want.map(_.toSeq).toSeq)
  }

  test("sliced scroll: slices are disjoint and exhaustive over the live corpus") {
    val slices = (0 until 4).map(i =>
      Search.qCdcSlicedScroll(spark, sfDir, slice = i, max = 4)
        .collect().map(_.getLong(0)).toSet)
    // pairwise disjoint…
    slices.combinations(2).foreach { case Seq(a, b) =>
      assert((a & b).isEmpty)
    }
    // …and the union is exactly the live doc set
    val live = graft.cdc.ChangelogStream
      .readState(spark, Search.textIndexRun(spark, sfDir)._1, Seq("id"))
      .collect().map(_.getLong(0)).toSet
    assert(slices.reduce(_ ++ _) === live)
  }

  test("suggest resolves misspellings by (distance, df desc, term) under the prefix-1 contract") {
    val q = Search.qCdcSuggest(spark, sfDir)
    // the prefix_length=1 equality must plan as a broadcast HASH join key
    // (first-char partitions of the vocabulary), never a nested loop over
    // |vocab| × |inputs|
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no hash join in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "prefix-1 key fell back to a nested-loop join")
    val out = q.collect()
    assert(out.nonEmpty)
    // the Lucene DirectSpellChecker contracts: a suggestion shares the
    // input's first char, is never the input itself, and sits within
    // maxEdits
    out.foreach { r =>
      val (in, sug, dist) = (r.getString(0), r.getString(2), r.getLong(3))
      assert(sug.head === in.head, s"'$sug' breaks prefix_length=1 for '$in'")
      assert(sug !== in)
      assert(dist >= 1L && dist <= 2L)
    }
    // per-input rank sequence is 1..n, ordered by (dist, df desc, term)
    out.groupBy(_.getString(0)).foreach { case (in, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq === (1L to rows.length).toSeq)
      val keys = sorted.map(r => (r.getLong(3), -r.getLong(4), r.getString(2)))
      assert(keys.toSeq === keys.sortBy(identity).toSeq,
        s"'$in' suggestions not ranked by (dist, df desc, term)")
    }
    // the two fixture misspellings with an obvious vocabulary neighbor
    // resolve to it at rank 1 (dist 1, dominant df)
    val top = out.filter(_.getLong(1) == 1L)
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(top("strem") === "stream")
    assert(top("windw") === "window")
  }

  test("function_score multiplies the FULL match set — a doubled doc enters from outside the primary top-10") {
    val out = Search.qCdcFunctionScore(spark, sfDir).collect()
    assert(out.length === 10)
    assert(out.map(_.getLong(0)).toSeq === (1L to 10L))
    // factors come only from the declared weight functions (or the 1.0
    // no-match default), and combined = round6(primary × factor) against
    // the full primary ranking (k large enough to cover the corpus)
    val primary = Search.qCdcTextSearch(spark, sfDir, k = 100000)
      .collect().map(r => r.getLong(1) -> r.getDouble(3)).toMap
    out.foreach { r =>
      val (doc, f, s) = (r.getLong(1), r.getDouble(3), r.getDouble(4))
      assert(Set(2.0, 0.5, 1.0).contains(f), s"unexpected factor $f")
      val expect = BigDecimal(primary(doc) * f)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(s === expect, s"doc $doc: $s != round6(${primary(doc)} × $f)")
    }
    // the weights genuinely reshuffle, and — the no-window contract that
    // separates this surface from rescore — at least one top-10 doc was
    // PROMOTED from outside the primary top-10 by its 2.0 factor
    val primTop = Search.qCdcTextSearch(spark, sfDir).collect().map(_.getLong(1)).toSet
    assert(out.map(_.getLong(1)).toSet !== primTop, "weights did not move the top-10")
    assert(out.exists(r => r.getDouble(3) == 2.0 && !primTop.contains(r.getLong(1))),
      "no doubled doc entered from outside the primary top-10 — the fixture can't see the no-window contract")
  }

  test("percolate matches live docs per registered query at its msm; deletes and updates percolate") {
    val out = Search.qCdcPercolate(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet === Search.percolateQueries.map(_._1).toSet)
    // query 6's term is absent from the corpus: a zero-match registration
    // still reports (the left-join-back contract)
    assert(out(6L) === 0L)
    // query 4 ('r2') matches exactly the UPDATED live docs: the changelog
    // appends 'merge window r2' to every %3 doc and deletes every %5==4 —
    // derive the expectation from the fixture rule, not the query
    val expected = graft.model.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 3 === 0 && col("doc_id") % 5 =!= 4)
      .count()
    assert(out(4L) === expected,
      s"'r2' percolation ${out(4L)} != the ${expected} updated live docs")
    // AND tightens: (dup AND r2) matches no more than either term alone
    assert(out(3L) <= out(1L) && out(3L) <= out(4L))
    assert(out.values.forall(_ >= 0L))
  }

  test("collapse keeps one best hit per source and re-ranks the winners globally") {
    val out = Search.qCdcCollapse(spark, sfDir).collect()
    assert(out.length === 5)
    assert(out.map(_.getLong(0)).toSeq === (1L to 5L))
    // one hit per collapse group, scores non-increasing in rank
    val srcs = out.map(_.getString(2))
    assert(srcs.toSet.size === srcs.length, "a source appears twice")
    val scores = out.map(_.getDouble(4))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    // the global best hit always survives collapsing (its group cannot
    // have a better member), and each winner IS its source's best match:
    // no other match from the same source outscores it
    val full = Search.qCdcTextSearch(spark, sfDir, k = 100000).collect()
      .map(r => r.getLong(1) -> r.getDouble(3)).toMap
    val bySource = graft.model.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.head.getLong(1) ===
      Search.qCdcTextSearch(spark, sfDir, k = 1).head().getLong(1))
    out.foreach { r =>
      val (doc, src, score) = (r.getLong(1), r.getString(2), r.getDouble(4))
      val better = full.filter { case (d, s) =>
        bySource.get(d).contains(src) &&
          (s > score || (s == score && d < doc))
      }
      assert(better.isEmpty, s"doc $doc is not $src's best: $better")
    }
  }

  test("top_hits returns the top buckets by matching-doc count, each with its ranked hits") {
    val out = Search.qCdcTopHits(spark, sfDir).collect()
    val buckets = out.map(_.getString(0)).distinct
    assert(buckets.length === 5)
    // rows arrive grouped (source, hit_rk) with hit_rk 1..≤2 per bucket,
    // hits ordered by (score desc, doc_id), and every hit's doc belongs
    // to its bucket's source
    val bySource = graft.model.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    out.groupBy(_.getString(0)).foreach { case (src, rows) =>
      val sorted = rows.sortBy(_.getLong(2))
      assert(sorted.map(_.getLong(2)).toSeq === (1L to rows.length).toSeq)
      val keys = sorted.map(r => (-r.getDouble(4), r.getLong(3)))
      assert(keys.toSeq === keys.sortBy(identity).toSeq)
      rows.foreach(r => assert(bySource(r.getLong(3)) === src))
      // doc_count is constant within the bucket
      assert(rows.map(_.getLong(1)).distinct.length === 1)
    }
    // bucket selection: no non-selected source has MORE matches than a
    // selected one (ties break by source name, so >= is the invariant)
    val counts = Search.qCdcTextSearch(spark, sfDir, k = 100000).collect()
      .groupBy(r => bySource(r.getLong(1))).map { case (s, rs) => s -> rs.length.toLong }
    val selectedMin = out.map(_.getLong(1)).min
    counts.filterNot { case (s, _) => buckets.contains(s) }.foreach {
      case (s, n) => assert(n <= selectedMin, s"bucket $s ($n) outcounts a selected bucket ($selectedMin)")
    }
  }

  test("search_after page 2 equals ranks 11-20 of the full ranking") {
    val page2 = Search.qCdcSearchAfter(spark, sfDir).collect()
    val full = Search.qCdcTextSearch(spark, sfDir, k = 20).collect()
      .filter(_.getLong(0) > 10L)
    assert(page2.length === full.length)
    page2.zip(full).foreach { case (p, f) =>
      assert(p.getLong(0) === f.getLong(0)) // rk
      assert(p.getLong(1) === f.getLong(1)) // doc_id
      assert(p.getDouble(3) === f.getDouble(3)) // score
    }
  }

  test("highlight serves positions from the index without reading the doc state") {
    val q = Search.qCdcHighlight(spark, sfDir)
    // the postings-highlighter contract: positions come from the index;
    // the doc text is never re-analyzed (no corpus or doc-state read in
    // the plan — the only file locations are the index's bucket dirs)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"),
      s"highlight scanned the corpus:\n$plan")
    assert(!plan.contains("/state"),
      s"highlight read the doc state:\n$plan")
    assert(plan.contains("/idx"), s"no index read in:\n$plan")
    val out = q.collect()
    val topDocs = Search.qCdcTextSearch(spark, sfDir, k = 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.map(_.getLong(1)).toSet === topDocs.values.toSet)
    out.foreach { r =>
      val (rk, doc, tok) = (r.getLong(0), r.getLong(1), r.getString(2))
      assert(topDocs(rk) === doc, "highlight rank disagrees with the search ranking")
      assert(Set("stream", "merge", "window").contains(tok))
      assert(r.getLong(3) >= 1L, "positions are 1-based")
      assert(r.getLong(4) >= 1L)
    }
    // spot-check one row against the LIVE text (the %3-updated docs carry
    // the appended suffix): first_pos/n_occ equal a direct re-analysis
    val sample = out.head
    val live = graft.cdc.ChangelogStream
      .readKey(spark, Search.textIndexRun(spark, sfDir)._1, sample.getLong(1))
      .get.getAs[String]("text").split(" ", -1)
    val occ = live.zipWithIndex.collect {
      case (t, i) if t == sample.getString(2) => i + 1
    }
    assert(sample.getLong(3) === occ.min.toLong)
    assert(sample.getLong(4) === occ.length.toLong)
  }

  test("highlight fragments cut from the stored doc by indexed offsets — " +
    "equal to a direct re-derivation, corpus never re-analyzed") {
    val q = Search.qCdcHighlightFragments(spark, sfDir)
    val out = q.collect()
    assert(out.nonEmpty)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"),
      s"fragments re-analyzed the corpus:\n$plan")
    val stateDir = Search.textIndexRun(spark, sfDir)._1
    out.foreach { r =>
      val (doc, tok, frag) =
        (r.getLong(1), r.getString(2), r.getString(3))
      val text = graft.cdc.ChangelogStream.readKey(spark, stateDir, doc)
        .get.getAs[String]("text")
      // re-derive: first token occurrence's char start (1-based), then
      // the 15-char window rule
      val toks = text.split(" ", -1)
      val starts = toks.scanLeft(1)((acc, t) => acc + t.length + 1)
      val o = toks.indices.collectFirst {
        case i if toks(i) == tok => starts(i)
      }.get
      val preStart = math.max(1, o - 15)
      val postStart = o + tok.length
      val expected =
        text.substring(preStart - 1, o - 1) + "<em>" + tok + "</em>" +
          text.substring(postStart - 1,
            math.min(text.length, postStart - 1 + 15))
      assert(frag === expected, s"doc $doc term '$tok'")
    }
    // the indexed offsets themselves align with the positions array: for
    // a sampled posting, offsets[i] is the char start of the token at
    // positions[i] in the live text (the Lucene offsets contract)
    val idxDir = Search.textIndexRun(spark, sfDir)._2
    val sample = graft.cdc.ChangelogStream
      .readState(spark, idxDir, Seq("tok", "id", "positions", "offsets"))
      .filter(size(col("positions")) >= 2).limit(5).collect()
    assert(sample.nonEmpty)
    sample.foreach { r =>
      val text = graft.cdc.ChangelogStream
        .readKey(spark, stateDir, r.getLong(1)).get.getAs[String]("text")
      val toks = text.split(" ", -1)
      val starts = toks.scanLeft(1)((acc, t) => acc + t.length + 1)
      val ps = r.getSeq[Int](2); val os = r.getSeq[Int](3)
      assert(ps.length === os.length)
      ps.zip(os).foreach { case (p, o) =>
        assert(starts(p - 1) === o && toks(p - 1) === r.getString(0))
      }
    }
  }

  test("PIT pagination pins the view: the seed-savepoint page 2 differs " +
    "from the live page 2 after the tail applied") {
    // the reason ES recommends PIT + search_after: a live index mutating
    // between pages shifts ranks (repeats/drops hits); the pinned view
    // cannot move
    val pit = Search.qCdcTextPit(spark, sfDir).collect().map(_.getLong(1)).toSeq
    val live = Search.qCdcSearchAfter(spark, sfDir).collect().map(_.getLong(1)).toSeq
    assert(pit.nonEmpty)
    assert(pit !== live) // the tail moved postings; the pinned view didn't
    // ...and a PIT re-read is STABLE (the pinned versions cannot change)
    assert(pit === Search.qCdcTextPit(spark, sfDir).collect().map(_.getLong(1)).toSeq)
  }

  test("bootstrap from a mid-changelog doc-state SNAPSHOT + tail equals the replay-built index") {
    // the declared query (cdc_text_bootstrap) seeds from the source table
    // (the pre-changelog snapshot); this drill seeds from a MID-changelog
    // doc-state snapshot — latest-state at seq ≤ 2e6, i.e. inserts +
    // updates applied — so the seed batch processes the STATE (one row per
    // live doc), not the history, and the tail (the delete phase) still
    // supersedes seeded entries
    import org.apache.spark.sql.expressions.Window
    val work = java.nio.file.Files.createTempDirectory("graft-boot-spec-").toString
    val cl = graft.cdc.Changelog.fromDocuments(spark, sfDir)
    val cut = 2000000L
    val head = cl.filter(col("seq") <= cut)
    val w = Window.partitionBy(col("id")).orderBy(col("seq").desc)
    val snapshot = head
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "DELETE").drop("rn")
      .withColumn("op", lit("INSERT"))
    // the bootstrap's whole point: the seed is state-sized, not history-sized
    assert(snapshot.count() < head.count(),
      "snapshot must be smaller than the history it replaces")
    Search.maintainTextIndexBatch(snapshot, 0L, s"$work/state", s"$work/idx")
    Search.maintainTextIndexBatch(cl.filter(col("seq") > cut), 1L,
      s"$work/state", s"$work/idx")
    // postings equality with the replay-built pass (qCdcTextIndex's view)
    val boot = graft.cdc.ChangelogStream
      .readState(spark, s"$work/idx", Seq("tok", "id", "tf"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val replay = Search.qCdcTextIndex(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(boot === replay)
    // the seeded-then-tailed stats row equals the live-docs derivation
    val st = Search.corpusStats(spark, s"$work/idx").head()
    val live = graft.cdc.Apply.latestState(cl,
      graft.cdc.Changelog.documentsPayloadCols)
    val expSt = live.select(size(Text.tokens(col("text"))).cast("long").as("dl"))
      .agg(count(lit(1)), sum(col("dl"))).head()
    assert((st.getLong(0), st.getLong(1)) === (expSt.getLong(0), expSt.getLong(1)))
    // and the DECLARED bootstrap query answers exactly like the
    // replay-served search
    val a = Search.qCdcTextBootstrapSearch(spark, sfDir).collect().toSeq
    val b = Search.qCdcTextSearch(spark, sfDir).collect().toSeq
    assert(a === b)
  }

  test("span_near in_order:false matches either direction within the width budget") {
    import spark.implicits._
    def posting(rows: (String, Long, Seq[Int])*) =
      rows.toDF("tok", "doc_id", "positions")
    val p = posting(
      ("a", 1L, Seq(1)), ("b", 1L, Seq(2)),        // a b       — adjacent
      ("b", 2L, Seq(1)), ("a", 2L, Seq(3)),        // b x a     — REVERSED
      ("a", 3L, Seq(1)), ("b", 3L, Seq(5)),        // a x x x b — 3 gaps
      ("a", 4L, Seq(1, 6)), ("b", 4L, Seq(3, 8)))  // two spans + a cross pair
    def hits(slop: Int): Map[Long, Long] =
      Search.spanNearHits(p, Seq("a", "b"), slop)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // slop 0: only the adjacent pair (order irrelevant but width must be 0)
    assert(hits(0) === Map(1L -> 1L))
    // slop 1: the REVERSED doc matches — in_order:false is the point; doc 4
    // has two within-budget spans (starts 1 and 6)
    assert(hits(1) === Map(1L -> 1L, 2L -> 1L, 4L -> 2L))
    // slop 3: the wide pair joins; doc 4's cross pair (6,3) adds start 3
    assert(hits(3) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 3L))
    // the ordered twin refuses the reversed doc at every budget the
    // unordered surface accepts it — the two query types genuinely differ
    val ordered = Search.slopHits(p, Seq("a", "b"), 1)
      .collect().map(_.getLong(0)).toSet
    assert(!ordered.contains(2L))
  }

  test("delete_by_query mutates the corpus: matching docs leave the state, " +
    "the stats retract, and survivors rescore (unlike must_not)") {
    val (stateDir, idxDir) = Search.deleteByQueryRun(spark, sfDir)
    import org.apache.spark.sql.functions._
    // no live doc contains the delete term any more
    val live = graft.cdc.ChangelogStream.readState(spark, stateDir,
      Seq("id", "text"))
    assert(live.filter(array_contains(Text.tokens(col("text")), "dup"))
      .count() === 0)
    // the pass FORKED the base index (the ES _clone): the mutation never
    // touched the source — its live docs still carry the term
    val (srcState, _) = Search.textIndexRun(spark, sfDir)
    assert(srcState !== stateDir)
    assert(graft.cdc.ChangelogStream.readState(spark, srcState,
        Seq("id", "text"))
      .filter(array_contains(Text.tokens(col("text")), "dup")).count() > 0)
    // the stats row followed the bulk delete exactly
    val st = Search.corpusStats(spark, idxDir).head()
    val exp = live.select(size(Text.tokens(col("text"))).cast("long").as("dl"))
      .agg(count(lit(1)), sum(col("dl"))).head()
    assert((st.getLong(0), st.getLong(1)) === (exp.getLong(0), exp.getLong(1)))
    // corpus-level mutation, not a filter: a surviving doc's score moved
    // because n_docs/df/sum_dl moved — must_not would have kept it exact
    val plain = Search.qCdcTextSearch(spark, sfDir, k = 10000).collect()
      .map(r => r.getLong(1) -> r.getDouble(3)).toMap
    val after = Search.qCdcDeleteByQuery(spark, sfDir, k = 10000).collect()
      .map(r => r.getLong(1) -> r.getDouble(3)).toMap
    assert(after.nonEmpty && after.keySet.subsetOf(plain.keySet))
    assert(after.keySet !== plain.keySet, "no matching doc was deleted")
    assert(after.exists { case (doc, s) => s != plain(doc) },
      "survivors kept their scores — the corpus statistics never moved")
  }

  test("span_near agrees with a brute-force reference on 200 seeded-random " +
    "docs at every slop 0-4") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val vocab = Vector("a", "b", "x")
    val docs = (1L to 200L).map { id =>
      id -> Seq.fill(3 + rnd.nextInt(10))(vocab(rnd.nextInt(3)))
    }
    val p = docs.flatMap { case (id, ws) =>
      ws.zipWithIndex.groupBy(_._1).map { case (t, xs) =>
        (t, id, xs.map(_._2 + 1).sorted)
      }
    }.toDF("tok", "doc_id", "positions")
    for (slop <- 0 to 4) {
      val got = Search.spanNearHits(p, Seq("a", "b"), slop)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = docs.flatMap { case (id, ws) =>
        val pa = ws.zipWithIndex.collect { case ("a", i) => i + 1 }
        val pb = ws.zipWithIndex.collect { case ("b", i) => i + 1 }
        val starts = (for { x <- pa; y <- pb; if math.abs(x - y) - 1 <= slop }
          yield math.min(x, y)).toSet
        if (starts.nonEmpty) Some(id -> starts.size.toLong) else None
      }.toMap
      assert(got === want, s"slop $slop")
    }
  }

  test("synonym contraction merges class postings: the canonical token's df " +
    "is the union df, members vanish from the view, other fields untouched") {
    import org.apache.spark.sql.functions._
    val (_, idxDir) = Search.multiFieldIndexRun(spark, sfDir)
    val dict = Search.fieldDictTerms(spark, idxDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // the member token left the synonym view entirely...
    assert(!dict.contains(("body_syn", "sort")))
    // ...and the canonical's df is the UNION df of the class, computed
    // independently from the live docs
    val live = graft.cdc.ChangelogStream.readState(spark,
        Search.multiFieldIndexRun(spark, sfDir)._1, Seq("id", "text"))
      .select(col("id"), Text.tokens(col("text")).as("ws"))
    val unionDf = live.filter(array_contains(col("ws"), "sort") ||
      array_contains(col("ws"), "order")).count()
    assert(dict(("body_syn", "order")) === unionDf)
    assert(dict(("body_syn", "order")) >
      dict(("body", "order")), "the class df must exceed the raw member df")
    // the raw body view kept both members (views are independent)
    assert(dict.contains(("body", "sort")) && dict.contains(("body", "order")))
    // query-side resolution: 'sluggish' scores through the class
    val top = Search.qCdcSynonymSearch(spark, sfDir,
      query = Seq("sluggish"), k = 100000).collect()
    val slowDf = live.filter(array_contains(col("ws"), "slow")).count()
    assert(top.length.toLong === slowDf)
  }

  test("rank_feature ADDS the saturation bonus: every final score is the " +
    "plain score plus boost × v/(v+pivot), and long docs gain rank") {
    import org.apache.spark.sql.functions._
    val plain = Search.qCdcTextSearch(spark, sfDir, k = 10000).collect()
      .map(r => r.getLong(1) -> r.getDouble(3)).toMap
    val rf = Search.qCdcRankFeature(spark, sfDir, k = 10000).collect()
      .map(r => r.getLong(1) -> r.getDouble(3)).toMap
    assert(rf.keySet === plain.keySet, "a should clause must not filter")
    val (_, idxDir) = Search.textIndexRun(spark, sfDir)
    val dls = graft.cdc.ChangelogStream.readState(spark, idxDir,
        Seq("id", "dl")).select(col("id"), col("dl")).distinct()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def r6(v: Double) = BigDecimal(v)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    rf.foreach { case (doc, s) =>
      val sat = r6(0.5 * (dls(doc).toDouble / (dls(doc).toDouble + 50.0)))
      assert(s === r6(plain(doc) + sat), s"doc $doc")
    }
    // the bonus is monotone in dl, so the composed ranking genuinely
    // differs from the plain one (long docs climb)
    val topPlain = Search.qCdcTextSearch(spark, sfDir).collect()
      .map(_.getLong(1)).toSeq
    val topRf = Search.qCdcRankFeature(spark, sfDir).collect()
      .map(_.getLong(1)).toSeq
    assert(topPlain !== topRf, "saturation bonus invisible in the top-10")
  }

  test("linear decay keeps scores within the offset, zeroes them beyond s, " +
    "and scales linearly between") {
    import org.apache.spark.sql.functions._
    val plain = Search.qCdcTextSearch(spark, sfDir, k = 10000).collect()
      .map(r => r.getLong(1) -> r.getDouble(3)).toMap
    val decayed = Search.qCdcDecayScore(spark, sfDir, k = 10000).collect()
      .map(r => r.getLong(1) -> r.getDouble(3)).toMap
    val (_, idxDir) = Search.textIndexRun(spark, sfDir)
    val dls = graft.cdc.ChangelogStream.readState(spark, idxDir,
        Seq("id", "dl")).select(col("id"), col("dl")).distinct()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(decayed.nonEmpty)
    var Seq(inOffset, zeroed, between) = Seq(0, 0, 0)
    decayed.foreach { case (doc, s) =>
      val dist = math.max(math.abs(dls(doc) - 50L) - 5L, 0L)
      if (dist == 0L) { assert(s === plain(doc)); inOffset += 1 }
      else if (dist >= 40L) { assert(s === 0.0); zeroed += 1 }
      else {
        assert(s < plain(doc) && s > 0.0, s"doc $doc: $s vs ${plain(doc)}")
        between += 1
      }
    }
    // the fixture genuinely exercises all three regimes
    assert(inOffset > 0 && between > 0,
      s"regimes uncovered: inOffset=$inOffset zeroed=$zeroed between=$between")
  }

  test("update_by_query re-indexes matching docs with the script applied: " +
    "the added token's df equals the hit count and the stats grew with it") {
    val (stateDir, idxDir) = Search.updateByQueryRun(spark, sfDir)
    import org.apache.spark.sql.functions._
    val live = graft.cdc.ChangelogStream.readState(spark, stateDir,
      Seq("id", "text"))
    val hitDocs = live
      .filter(array_contains(Text.tokens(col("text")), "slow")).count()
    assert(hitDocs > 0, "no live doc matches the update query")
    // every hit (and only hits) carries the script's token, at the end
    val reviewed = live
      .filter(array_contains(Text.tokens(col("text")), "reviewed"))
    assert(reviewed.count() === hitDocs)
    assert(reviewed.filter(!col("text").endsWith(" reviewed")).count() === 0)
    // the maintained postings moved with the script: df('reviewed') = hits
    val df = Search.dictTerms(spark, idxDir)
      .filter(col("tok") === "reviewed").collect()
    assert(df.length === 1 && df.head.getLong(1) === hitDocs)
    // and the stats credit the longer docs exactly
    val st = Search.corpusStats(spark, idxDir).head()
    val exp = live.select(size(Text.tokens(col("text"))).cast("long").as("dl"))
      .agg(count(lit(1)), sum(col("dl"))).head()
    assert((st.getLong(0), st.getLong(1)) === (exp.getLong(0), exp.getLong(1)))
    // the script-added token is searchable through the ordinary query path
    val top = Search.qCdcUpdateByQuery(spark, sfDir, query = Seq("reviewed"),
      k = 100000).collect()
    assert(top.length.toLong === hitDocs)
  }

  test("boosting demotes instead of excluding: negative matches keep half " +
    "their score and the full match set re-ranks") {
    val plain = Search.qCdcTextSearch(spark, sfDir, k = 10000).collect()
      .map(r => r.getLong(1) -> r.getDouble(3)).toMap
    val boosted = Search.qCdcBoosting(spark, sfDir, k = 10000).collect()
      .map(r => r.getLong(1) -> r.getDouble(3)).toMap
    // demote, never exclude: the match sets are identical
    assert(boosted.keySet === plain.keySet)
    // every doc scores either its plain value or exactly half of it
    val demoted = boosted.collect {
      case (doc, s) if s == plain(doc) * 0.5 && s != plain(doc) => doc
    }.toSet
    boosted.foreach { case (doc, s) =>
      assert(s === plain(doc) || demoted.contains(doc),
        s"doc $doc scored $s — neither plain ${plain(doc)} nor its half")
    }
    assert(demoted.nonEmpty, "no doc demoted — the negative query never fired")
    // ...and the demotion is visible in the top-10 (a ranking change,
    // which must_not could only render as an absence)
    val top = Search.qCdcBoosting(spark, sfDir).collect().map(_.getLong(1)).toSeq
    val plainTop = Search.qCdcTextSearch(spark, sfDir).collect()
      .map(_.getLong(1)).toSeq
    assert(top !== plainTop, "top-10 unchanged — demotion invisible at k")
  }

  test("dis_max tie_breaker credits the runner-up field; single-field docs " +
    "score exactly their best_fields value") {
    val dm = Search.qCdcDisMax(spark, sfDir, k = 1000).collect()
      .map(r => r.getLong(1) -> (r.getLong(2), r.getDouble(3))).toMap
    // unboosted best_fields over the same two fields = the tie_breaker-0
    // special case of dis_max
    val bf = Search.qCdcMultiMatch(spark, sfDir,
        boosts = Seq("title" -> 1.0, "body" -> 1.0), k = 1000).collect()
      .map(r => r.getLong(1) -> r.getDouble(3)).toMap
    assert(dm.keySet === bf.keySet, "dis_max and best_fields match sets differ")
    assert(dm.values.exists(_._1 === 2L), "no doc matched in both fields — " +
      "the tie_breaker term is untested")
    dm.foreach { case (doc, (nFields, score)) =>
      if (nFields === 1L)
        assert(score === bf(doc), s"single-field doc $doc: tie_breaker paid")
      else
        assert(score > bf(doc), s"two-field doc $doc: runner-up uncredited")
    }
  }

  test("cross_fields blends term statistics (max-df over fields) and " +
    "disagrees with field-centric best_fields on ranking (r18)") {
    val cross = Search.qCdcCrossFields(spark, sfDir).collect()
    assert(cross.length === 10)
    // the modes genuinely disagree: same fields, same terms, different
    // combine rule — the ranked lists must differ
    val bf = Search.qCdcMultiMatch(spark, sfDir,
      boosts = Seq("title" -> 1.0, "body" -> 1.0)).collect()
    assert(cross.map(_.getLong(1)).toSeq !== bf.map(_.getLong(1)).toSeq,
      "cross_fields ranked identically to best_fields — the blend is untested")
    // the blend's df side: title is a PREFIX view of body here, so every
    // term's body df dominates and the blended df must equal body's —
    // which is why a title match scores with body's (lower) idf instead
    // of title's inflated one (the skew the mode exists to remove)
    val (_, idxDir) = Search.multiFieldIndexRun(spark, sfDir)
    val dfs = Search.fieldDictTerms(spark, idxDir)
      .filter(col("tok").isin("stream", "merge", "window") &&
        col("field").isin("title", "body"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    Seq("stream", "merge", "window").foreach { t =>
      assert(dfs(("body", t)) >= dfs.getOrElse(("title", t), 0L),
        s"fixture drift: title df exceeds body df for '$t'")
    }
    // term-centric accrual: the top hit matched every query term
    // somewhere across the fields
    assert(cross.head.getLong(2) === 3L)
  }

  test("phrase suggester: per-token direct_generator shortlists compose " +
    "into LM-ranked whole phrases with exact integer scores (r18)") {
    val out = Search.qCdcPhraseSuggest(spark, sfDir).collect()
    assert(out.nonEmpty && out.length <= 3)
    val scores = out.map(_.getLong(3)).toSeq
    assert(scores === scores.sorted.reverse, "LM ranking must be desc")
    // composition: every suggestion's score is exactly Π(df+1) over its
    // tokens' maintained dfs — the Laplace unigram order statistic
    val (_, idxDir) = Search.textIndexRun(spark, sfDir)
    val dfs = Search.dictTerms(spark, idxDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      val toks = r.getString(2).split(' ')
      assert(toks.length === 2, s"phrase shape: ${r.getString(2)}")
      assert(toks.map(t => dfs(t) + 1L).product === r.getLong(3),
        s"score of '${r.getString(2)}' is not the df product")
    }
    // the lattice genuinely branched (a 1×1 lattice ranks nothing)
    assert(out.map(_.getString(2)).distinct.length > 1)
  }

  test("geo: the geohash interleave matches hand-computed cells at both " +
    "precisions; the bbox cuts in filter context without rescoring (r18)") {
    import spark.implicits._
    // doc 1: latE2 = 7919 (lat −10.81), lonE2 = 104729 % 36000 = 32729
    // (lon 147.29 — off Papua New Guinea, which real geohashes put in
    // 'r'). p1: lon3 = ⌊32729·8/36000⌋ = 7 (111), lat2 = ⌊7919·4/18000⌋
    // = 1 (01) → interleave l₂a₁l₁a₀l₀ = 10111 = 23 → 'r'. p2: lon5 =
    // 29 (11101), lat5 = 14 (01110) → chars 23, 22 → "rq".
    val gh = Seq(1L).toDF("id")
      .select(Search.geohashCol(col("id"), 1), Search.geohashCol(col("id"), 2))
      .head()
    assert(gh.getString(0) === "r" && gh.getString(1) === "rq")
    // filter context: every kept doc carries its UNFILTERED match score
    val bbox = Search.qCdcGeoBoundingBox(spark, sfDir).collect()
    assert(bbox.nonEmpty)
    val full = Search.qCdcTextSearch(spark, sfDir, k = 10000).collect()
      .map(r => r.getLong(1) -> r.getDouble(3)).toMap
    bbox.foreach(r => assert(full(r.getLong(1)) === r.getDouble(3),
      s"bbox rescored doc ${r.getLong(1)}"))
    // ...and the box genuinely cut: the bbox top-1 is not the plain top-1
    // unless the plain top-1 happens to sit inside the box — assert the
    // cut dropped at least one higher-ranked outsider from the page
    val plainTop = Search.qCdcTextSearch(spark, sfDir).collect()
      .map(_.getLong(1)).toSet
    assert(bbox.map(_.getLong(1)).toSet !== plainTop,
      "bbox page equals the unfiltered page — the cut is untested")
  }

  test("span_first: only in-window occurrences count, and a doc whose term " +
    "sits past the boundary is absent (r18)") {
    val out = Search.qCdcSpanFirst(spark, sfDir).collect()
    assert(out.nonEmpty)
    val live = graft.cdc.ChangelogStream.readState(spark,
        Search.textIndexRun(spark, sfDir)._1, Seq("id", "text")).collect()
    val expect = live.map(r => r.getLong(0) ->
        r.getString(1).split(' ').take(5).count(_ == "stream"))
      .filter(_._2 > 0).toMap
    assert(out.map(r => r.getLong(0) -> r.getLong(1).toInt).toMap === expect)
    // boundary: docs carrying 'stream' only PAST position 5 never report
    val beyond = live.filter { r =>
      val t = r.getString(1).split(' ')
      t.contains("stream") && !t.take(5).contains("stream")
    }
    assert(beyond.nonEmpty, "fixture degenerate: no doc has 'stream' only late")
    val ids = out.map(_.getLong(0)).toSet
    assert(beyond.forall(r => !ids.contains(r.getLong(0))))
  }

  test("regexp query: the anchored expansion matches exactly the directory " +
    "terms, and scoring equals the explicit OR match (r18)") {
    val (_, idxDir) = Search.textIndexRun(spark, sfDir)
    val expansion = Search.dictTerms(spark, idxDir).collect()
      .map(_.getString(0)).filter(_.matches("s[ct].*")).sorted.toSeq
    assert(expansion.size >= 2, s"fixture drift: expansion $expansion")
    val out = Search.qCdcRegexpQuery(spark, sfDir).collect()
    val explicit = Search.qCdcTextSearch(spark, sfDir,
      query = expansion).collect()
    assert(out.map(r => (r.getLong(1), r.getDouble(3))).toSeq ===
      explicit.map(r => (r.getLong(1), r.getDouble(3))).toSeq,
      "regexp must score as the explicit expansion's OR match")
    // anchoring: 'c[ct].*'-style UNanchored side matches must be absent —
    // every scored term genuinely full-matches the pattern
    assert(expansion.forall(_.matches("^(?:s[ct].*)$")))
  }

  test("terms_set: each candidate cuts against its OWN required count; " +
    "the static-msm match cannot express the result (r18)") {
    val out = Search.qCdcTermsSet(spark, sfDir, k = 100000).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(2) >= r.getLong(3),
        s"doc ${r.getLong(1)}: n_t ${r.getLong(2)} < required ${r.getLong(3)}")
      assert(r.getLong(3) === 1L + r.getLong(1) % 3)
    }
    // the per-doc rule genuinely varies the cut: required values 1, 2, 3
    // all appear, and the result differs from every static msm
    val reqs = out.map(_.getLong(3)).toSet
    assert(reqs === Set(1L, 2L, 3L), s"required values seen: $reqs")
    val ids = out.map(_.getLong(1)).toSet
    // static msm=m over the same terms = the full match cut at n_t >= m;
    // the per-doc rule must coincide with none of them
    val full = Search.qCdcTextSearch(spark, sfDir,
        query = Seq("stream", "merge", "window", "slow"), k = 100000)
      .collect().map(r => r.getLong(1) -> r.getLong(2))
    (1 to 3).foreach { msm =>
      val static = full.filter(_._2 >= msm).map(_._1).toSet
      assert(ids !== static, s"terms_set coincides with static msm=$msm")
    }
  }

  test("_explain: per-term contributions sum exactly to the hit's score, " +
    "and the explained hit IS text_search's rank 1 (r18)") {
    val out = Search.qCdcExplain(spark, sfDir).collect()
    assert(out.nonEmpty)
    val score = out.head.getDouble(7)
    assert(out.forall(_.getDouble(7) === score), "one hit, one score")
    // exact decimal sum of the round-6 contributions re-rounds to the
    // score — the decomposition IS the score, not an approximation of it
    val sum = out.map(r => BigDecimal(r.getDouble(6).toString)).sum
    assert(BigDecimal(sum.toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).doubleValue === score,
      s"contributions sum $sum != score $score")
    val top = Search.qCdcTextSearch(spark, sfDir, k = 1).head()
    assert(out.head.getLong(0) === top.getLong(1),
      "explain decomposed a different doc than the search's top hit")
    assert(score === top.getDouble(3))
  }

  test("geotile: zoom-3 tile hand-pinned for doc 1, counts conserve, and " +
    "parent tiles are the child's halved coordinates (r19)") {
    import spark.implicits._
    // doc 1: lonIdx = 32729 → x₃ = ⌊32729·8/36000⌋ = 7; latIdx = 7919 →
    // y₃ = 7 − ⌊7919·8/18000⌋ = 7 − 3 = 4 (row 0 north). zoom 1: x₁ = 1,
    // y₁ = 1 − ⌊7919·2/18000⌋ = 1.
    val gt = Seq(1L).toDF("id")
      .select(Search.geotileCol(col("id"), 3), Search.geotileCol(col("id"), 1))
      .head()
    assert(gt.getString(0) === "3/7/4" && gt.getString(1) === "1/1/1")
    // the tile pyramid: every doc's zoom-(z−1) tile is its zoom-z tile
    // with both coordinates halved — the property map clients zoom on
    val live = graft.cdc.ChangelogStream.readState(spark,
      Search.textIndexRun(spark, sfDir)._1, Seq("id"))
    val pyr = live.select(Search.geotileCol(col("id"), 3).as("c"),
      Search.geotileCol(col("id"), 2).as("p")).collect()
    pyr.foreach { r =>
      val Array(_, cx, cy) = r.getString(0).split('/')
      val Array(_, px, py) = r.getString(1).split('/')
      assert(px.toLong === cx.toLong / 2 && py.toLong === cy.toLong / 2,
        s"tile ${r.getString(0)} does not nest under ${r.getString(1)}")
    }
    // counts conserve: an uncut grid sums to the live corpus
    val total = Search.qCdcGeotileGrid(spark, sfDir, size = 1000000)
      .agg(sum(col("doc_count"))).head().getLong(0)
    assert(total === live.count())
  }

  test("geo_centroid: one bucket recomputed driver-side from the live ids; " +
    "counts conserve (r19)") {
    val out = Search.qCdcGeoCentroid(spark, sfDir).collect()
    assert(out.nonEmpty)
    val live = graft.cdc.ChangelogStream.readState(spark,
        Search.textIndexRun(spark, sfDir)._1, Seq("id"))
      .collect().map(_.getLong(0))
    assert(out.map(_.getLong(1)).sum === live.length)
    val top = out.head
    val members = live.filter { id =>
      val x = (id * 104729L) % 36000L * 2 / 36000
      val y = 1 - (id * 7919L) % 18000L * 2 / 18000
      s"1/$x/$y" == top.getString(0)
    }
    assert(members.length === top.getLong(1))
    def r6(v: Double) =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).doubleValue
    val latMean = r6(members.map(id => (id * 7919L) % 18000L).sum.toDouble /
      members.length / 100.0 - 90.0)
    val lonMean = r6(members.map(id => (id * 104729L) % 36000L).sum.toDouble /
      members.length / 100.0 - 180.0)
    assert(top.getDouble(2) === latMean && top.getDouble(3) === lonMean)
  }

  test("significant_text: JLH recomputed for the top term, every reported " +
    "term is overrepresented, and the sampler cut bites (r19)") {
    val out = Search.qCdcSignificantText(spark, sfDir).collect()
    assert(out.nonEmpty)
    val (stateDir, idxDir) = Search.textIndexRun(spark, sfDir)
    val nDocs = graft.cdc.ChangelogStream.readState(spark, stateDir, Seq("id")).count()
    // fg = top hits of the scored match (all of them at this fixture size
    // under the default sample), re-analyzed per-doc-distinct
    val hits = Search.qCdcTextSearch(spark, sfDir, k = 1000000).collect()
    val fgIds = hits.sortBy(r => (-r.getDouble(3), r.getLong(1)))
      .take(100).map(_.getLong(1)).toSet
    val fgDocs = graft.cdc.ChangelogStream
      .readState(spark, stateDir, Seq("id", "text")).collect()
      .filter(r => fgIds.contains(r.getLong(0)))
    val fgN = fgIds.size
    out.foreach { r =>
      val tok = r.getString(1)
      val fgDf = fgDocs.count(_.getString(1).split(' ').distinct.contains(tok))
      assert(fgDf.toLong === r.getLong(2), s"fg_df($tok)")
      val fgPct = fgDf.toDouble / fgN
      val bgPct = r.getLong(3).toDouble / nDocs
      assert(fgPct > bgPct, s"$tok not overrepresented")
      val jlh = BigDecimal((fgPct - bgPct) * fgPct / bgPct)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).doubleValue
      assert(r.getDouble(4) === jlh, s"JLH($tok)")
    }
    // the sampler is real: a biting cut changes the foreground and with it
    // the ranking (fixture has > 10 hits, so sampleSize 10 genuinely cuts)
    assert(hits.length > 10, "fixture degenerate: <= 10 hits")
    val sampled = Search.qCdcSignificantText(spark, sfDir, sampleSize = 10)
      .collect().map(r => (r.getString(1), r.getDouble(4))).toSeq
    val unsampled = Search.qCdcSignificantText(spark, sfDir,
      sampleSize = 1000000).collect()
      .map(r => (r.getString(1), r.getDouble(4))).toSeq
    assert(sampled !== unsampled,
      "sampleSize 10 and the full foreground agree — the sampler is untested")
  }

  test("constant_score: every hit scores the boost, the hit set IS the " +
    "posting list, and NO stats/df path opens (r19)") {
    val out = Search.qCdcConstantScore(spark, sfDir, k = 100000).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getDouble(2) === 1.5), "non-constant score")
    val (_, idxDir) = Search.textIndexRun(spark, sfDir)
    val postingIds = Search.qCdcTextSearch(spark, sfDir,
      query = Seq("merge"), k = 100000).collect().map(_.getLong(1)).toSet
    assert(out.map(_.getLong(1)).toSet === postingIds)
    // filter context reads the posting list and NOTHING else: the plan's
    // scan locations never touch the stats row (scoring IO skipped)
    val scans = Search.qCdcConstantScore(spark, sfDir)
      .queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              f.location.rootPaths.map(_.toString)
            case _ => Seq.empty[String]
          }
      }.flatten
    assert(scans.nonEmpty)
    assert(scans.forall(!_.contains("/_stats")),
      s"constant_score opened the stats row: $scans")
  }

  test("random_score: same seed reproduces, a different seed reorders, " +
    "and the factor recomputes exactly (r19)") {
    val a = Search.qCdcRandomScore(spark, sfDir).collect()
    val b = Search.qCdcRandomScore(spark, sfDir).collect()
    assert(a.map(r => (r.getLong(1), r.getDouble(3))).toSeq ===
      b.map(r => (r.getLong(1), r.getDouble(3))).toSeq,
      "same seed must reproduce the identical page")
    val other = Search.qCdcRandomScore(spark, sfDir, seed = 7L).collect()
    assert(a.map(_.getLong(1)).toSeq !== other.map(_.getLong(1)).toSeq,
      "a different seed left the ranking untouched — the factor is untested")
    // factor recompute for every returned hit
    val plain = Search.qCdcTextSearch(spark, sfDir, k = 100000).collect()
      .map(r => r.getLong(1) -> r.getDouble(3)).toMap
    a.foreach { r =>
      val id = r.getLong(1)
      val rnd = (((id + 42L) * 2654435761L) % (1L << 31)).toDouble / (1L << 31)
      val expect = BigDecimal(plain(id) * rnd)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).doubleValue
      assert(r.getDouble(3) === expect, s"factor mismatch for doc $id")
    }
  }

  test("msearch: each query's page equals its standalone search (r19)") {
    val out = Search.qCdcMsearch(spark, sfDir).collect()
      .groupBy(_.getLong(0))
    assert(out.keySet === Search.MsearchDefaults.map(_._1.toLong).toSet)
    Search.MsearchDefaults.foreach { case (qid, terms) =>
      val standalone = Search.qCdcTextSearch(spark, sfDir, query = terms,
        k = 5).collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
      val batched = out(qid.toLong).sortBy(_.getLong(1))
        .map(r => (r.getLong(2), r.getLong(3), r.getDouble(4)))
      assert(batched.toSeq === standalone.toSeq,
        s"query $qid: batched page differs from the standalone search")
    }
  }

  /** The LIVE documents after the fixture changelog drains — the drill
    * twin of the docsChangelogCte (INSERT all, UPDATE %3 appends
    * " merge window r2", DELETE %5==4), as (doc_id → tokens). */
  private def liveFixtureTokens(): Map[Long, Array[String]] =
    graft.model.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect().flatMap { r =>
        val id = r.getLong(0)
        if (id % 5 == 4) None
        else Some(id -> (if (id % 3 == 0) r.getString(1) + " merge window r2"
                         else r.getString(1)).split(' '))
      }.toMap

  test("rescore: the window cut IS the semantics — the windowed top-k " +
    "stays inside the primary window and disagrees with a whole-corpus " +
    "rerank (r20)") {
    val window = 10
    val windowed = Search.qCdcRescore(spark, sfDir, window = window)
      .collect().map(_.getLong(1))
    // the primary retriever's own top-`window` (same query, same index)
    val primary = Search.qCdcTextSearch(spark, sfDir, k = window)
      .collect().map(_.getLong(1)).toSet
    assert(windowed.toSet.subsetOf(primary),
      "a doc outside the rescore window entered the result")
    // a whole-corpus rerank (window >> corpus) admits docs the window cut
    // excluded — the disagreement that makes window_size semantics, not
    // an optimization
    val full = Search.qCdcRescore(spark, sfDir, window = 1000000)
      .collect().map(_.getLong(1))
    assert(windowed.toSeq !== full.toSeq,
      "fixture degenerate: the window cut never bit")
    assert(full.exists(id => !primary.contains(id)),
      "full rerank stayed inside the window — the drill shape is gone")
  }

  test("term suggester: sort: frequency disagrees with sort: score, " +
    "suggest_mode popular/missing gate on the input's own df (r20)") {
    import spark.implicits._
    // dists from 'aple': apple 1, ample 1, axle 1, apply 2
    val dict = Seq(("apple", 5L), ("ample", 5L), ("apply", 10L),
      ("axle", 2L)).toDF("tok", "df")
    def suggestions(sort: String, mode: String, in: String) =
      Search.termSuggest(spark, dict, Seq(in), 2, 4, sort, mode)
        .collect().map(_.getString(3)).toSeq
    assert(suggestions("score", "always", "aple") ===
      Seq("ample", "apple", "axle", "apply"))
    assert(suggestions("frequency", "always", "aple") ===
      Seq("apply", "ample", "apple", "axle"))
    // popular on a LIVE input (df 5): only strictly-more-frequent terms
    assert(suggestions("score", "popular", "apple") === Seq("apply"))
    // missing on a live input: no suggestions at all
    assert(suggestions("score", "missing", "apple") === Seq.empty)
    // missing on an absent input: everything within reach
    assert(suggestions("score", "missing", "aple").nonEmpty)
    // ...and the declared fixture query returns rows with the knobs on
    assert(Search.qCdcTermSuggest(spark, sfDir).count() > 0)
  }

  test("span_or inside span_near: matches exactly the union of the " +
    "per-alternative span_nears, hit counts recompute from the live " +
    "corpus with overlapping starts counted once (r20)") {
    val got = Search.qCdcSpanOr(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc-set identity with the per-alternative queries
    def docsOf(t: String): Set[Long] =
      Search.qCdcSpanNear(spark, sfDir, Seq("window", t), 2)
        .collect().map(_.getLong(0)).toSet
    val (dm, ds) = (docsOf("merge"), docsOf("sort"))
    assert(got.keySet === (dm ++ ds))
    assert((dm -- ds).nonEmpty && (ds -- dm).nonEmpty,
      "fixture degenerate: one alternative subsumes the other")
    // exact hit counts from the live corpus
    val want = liveFixtureTokens().flatMap { case (id, ws) =>
      val alt = ws.zipWithIndex.collect {
        case (t, i) if t == "merge" || t == "sort" => i + 1
      }
      val win = ws.zipWithIndex.collect { case ("window", i) => i + 1 }
      val starts = (for (a <- alt; w <- win
                         if math.max(a, w) - math.min(a, w) - 1 <= 2)
        yield math.min(a, w)).toSet
      if (starts.nonEmpty) Some(id -> starts.size.toLong) else None
    }
    assert(got === want)
  }

  test("span_not: include occurrences overlapping an exclude-phrase span " +
    "are removed, fully-excluded docs drop out (r20)") {
    val got = Search.qCdcSpanNot(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    var removed = 0L
    val want = liveFixtureTokens().flatMap { case (id, ws) =>
      val inc = ws.zipWithIndex.collect { case ("merge", i) => i + 1 }
      val starts = (0 until ws.length - 1).collect {
        case i if ws(i) == "merge" && ws(i + 1) == "window" => i + 1
      }
      val surv = inc.filterNot(p => starts.exists(s => p >= s && p <= s + 1))
      removed += inc.length - surv.length
      if (surv.nonEmpty) Some(id -> surv.length.toLong) else None
    }
    assert(got === want)
    assert(removed > 0, "fixture degenerate: the exclude span never bit")
    // a doc whose every 'merge' sits in a 'merge window' context DROPPED
    val raw = liveFixtureTokens().filter(_._2.contains("merge")).keySet
    assert((raw -- want.keySet).nonEmpty,
      "fixture degenerate: no fully-excluded doc")
  }

  test("search_as_you_type: the 2-gram subfield indexes exactly the live " +
    "text's shingles, and shingles CHANGE the ranking vs " +
    "match_bool_prefix on the same typed query (r20)") {
    val (_, mfIdx) = Search.multiFieldIndexRun(spark, sfDir)
    // (a) shingle-view postings of one live, never-updated doc
    val id = 1L
    val got2 = graft.cdc.ChangelogStream.readState(spark, mfIdx,
        Seq("field", "tok", "id", "tf"))
      .filter(col("field") === "say_2gram" && col("id") === id)
      .collect().map(r => r.getString(1) -> r.getLong(3)).toMap
    val ws = liveFixtureTokens()(id)
    val want2 = ws.sliding(2).map(_.mkString(" ")).toSeq
      .groupBy(identity).map { case (g, o) => g -> o.size.toLong }
    assert(got2 === want2)
    // (b) the shingle fields genuinely contribute (docs matched >1 field)
    val sayt = Search.qCdcSearchAsYouType(spark, sfDir).collect()
    assert(sayt.exists(_.getLong(2) > 1L),
      "no doc matched a shingle subfield — the mapping is dead weight")
    // (c) ranking disagreement with the single-field bool_prefix on the
    // same typed query ('stream merge wind'): contiguity pays only
    // through the shingle subfields
    val root = Search.qCdcMatchBoolPrefix(spark, sfDir,
        exact = Seq("stream", "merge"), prefix = "wind")
      .collect().map(_.getLong(1))
    assert(sayt.map(_.getLong(1)).toSeq !== root.toSeq,
      "fixture degenerate: shingles never changed the ranking")
  }

  test("intervals: any_of of ordered max_gaps matches — starts recompute " +
    "from the live corpus and both rules contribute (r20)") {
    val got = Search.qCdcIntervals(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ruleStarts(ws: Array[String], a: String, b: String,
                   gaps: Int): Set[Int] =
      (for (i <- ws.indices if ws(i) == a;
            j <- ws.indices if ws(j) == b && j > i && j - i - 1 <= gaps)
        yield i + 1).toSet
    var (only1, only2) = (0, 0)
    val want = liveFixtureTokens().flatMap { case (id, ws) =>
      val s1 = ruleStarts(ws, "merge", "window", 1)
      val s2 = ruleStarts(ws, "hash", "join", 1)
      if (s1.nonEmpty && s2.isEmpty) only1 += 1
      if (s2.nonEmpty && s1.isEmpty) only2 += 1
      val u = s1 ++ s2
      if (u.nonEmpty) Some(id -> u.size.toLong) else None
    }
    assert(got === want)
    assert(only1 > 0 && only2 > 0,
      "fixture degenerate: one any_of rule subsumes the other")
  }

  test("string_stats: per-source length statistics recompute from the " +
    "live corpus (r20)") {
    val got = Search.qCdcStringStats(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    val sources = graft.model.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val lens = liveFixtureTokens().toSeq.map { case (id, ws) =>
      sources(id) -> ws.mkString(" ").length.toLong
    }
    val want = lens.groupBy(_._1).map { case (s, g) =>
      val ls = g.map(_._2)
      s -> (ls.size.toLong, ls.min, ls.max, ls.sum.toDouble / ls.size)
    }
    assert(got === want)
    assert(got.size > 1, "fixture degenerate: one source only")
  }
}
