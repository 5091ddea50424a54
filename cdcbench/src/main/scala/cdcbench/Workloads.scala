package cdcbench

import java.io.File
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.cdc.BenchAdapter
import graft.cdc.BenchAdapter.OrderDirs

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, work: File,
                      traceFile: File)

/** What one read returned, reduced to what its check needs. */
sealed trait ReadResult
final case class KeyResult(row: Option[(Long, String, Long)]) extends ReadResult
final case class LookupResult(keys: Array[Long]) extends ReadResult
final case class MvResult(groups: Map[String, (Long, Long)]) extends ReadResult

/** One read: kind, argument, timing and result. */
final case class ReadRec(kind: String, key: Long, value: String, startNs: Long, endNs: Long,
                         result: ReadResult)

/** The state shared by one benchmark run: session, listeners, failure
  * bookkeeping and the metrics collected for the result line. */
final class Run(val o: Opts, val spark: SparkSession, val processStartNs: Long) {
  val progress = new ProgressProbe
  // streaming queries run in the engine's per-epoch session, whose query
  // manager is the one that reports their progress
  BenchAdapter.epochSession(spark).streams.addListener(progress)
  val jobs: Option[JobProbe] =
    if (o.trace) { val j = new JobProbe; spark.sparkContext.addSparkListener(j); Some(j) } else None
  val metrics = new Metrics
  val layer = new Metrics
  val problems = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  var inputGenNs = 0L
  val reads = new ConcurrentLinkedQueue[ReadRec]()

  def fail(msg: String): Unit = synchronized { failed += 1; problems += msg }

  /** A named end-state check: counts as one attempted operation. */
  def check(name: String)(ok: => Boolean): Unit = {
    synchronized(attempted += 1)
    val t0 = System.nanoTime()
    val good = try ok catch { case e: Exception => fail(s"$name threw $e"); return }
    log(f"check ${(System.nanoTime() - t0) / 1e9}%.1fs $name: ${if (good) "ok" else "FAILED"}")
    if (!good) fail(s"check failed: $name")
  }

  /** Run independent named checks concurrently, each as [[check]]. */
  def checkAll(checks: (String, () => Boolean)*): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.sequence(checks.map { case (n, ok) => Future(check(n)(ok())) }),
      scala.concurrent.duration.Duration.Inf)
  }

  def dir(name: String): File = { val f = new File(o.work, name); f.mkdirs(); f }

  /** Progress note on stderr (the run log). */
  def log(msg: String): Unit =
    System.err.println(f"[cdcbench ${(System.nanoTime() - processStartNs) / 1e9}%.1fs] $msg")
}

/** Closed-loop reads on the quiescent final state: each read is issued as
  * soon as the previous one returned, in their own job group. The first
  * `WarmReads` warm the read path and are not recorded. */
object Reader {
  def run(run: Run, read: Int => Unit): Unit = {
    val sc = run.spark.sparkContext
    sc.setJobGroup(Workloads.ReadGroup, "benchmark reads")
    try {
      System.gc()
      for (i <- 0 until Scenarios.P.WarmReads) read(i)
      run.reads.clear()
      Trace.clear("serve.")
      for (i <- 0 until Scenarios.P.Reads) read(i)
    } finally sc.clearJobGroup()
  }
}

object Workloads {
  val ReadGroup = "cdcbench-reads"
  /** Local property naming the maintainer a traced job was submitted by. */
  val LayerProp = "cdcbench.layer"

  val OrdersPayload: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", DateType), StructField("o_orderpriority", StringType),
    StructField("c_custkey", LongType), StructField("c_name", StringType),
    StructField("c_nationkey", LongType), StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  val DocsPayload: StructType = StructType(Seq(
    StructField("text", StringType), StructField("source", StringType),
    StructField("ts", TimestampType), StructField("embedding", ArrayType(FloatType))))

  val Envelope: Seq[String] = Seq("table", "id", "seq", "op")

  /** Publish a group: give its files a fresh mtime, then rename its
    * directory into the landing dir in one atomic step, so the source lists
    * either all of the group's files or none. The files stay there. Returns
    * the publish time. */
  def publish(g: Group, pending: File, landing: File): Long = {
    val src = new File(pending, g.name)
    val now = System.currentTimeMillis()
    Option(src.listFiles()).foreach(_.foreach(_.setLastModified(now)))
    java.nio.file.Files.move(src.toPath, new File(landing, g.name).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    System.nanoTime()
  }

  /** Generate inputs, timing the generation so set-up can exclude it. */
  def generate[T](run: Run)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally run.inputGenNs += System.nanoTime() - t0
  }

  /** Wrap a maintainer call as a span; traced, its thread's jobs also carry
    * the maintainer's module name. */
  def layerSpan(run: Run, name: String, parent: Long, epoch: Long)(body: => Unit): Unit =
    if (!Trace.on) body
    else {
      val sc = run.spark.sparkContext
      sc.setLocalProperty(LayerProp, name.takeWhile(_ != '.'))
      try Trace.span(name, parent = parent, epoch = epoch)(body)
      finally sc.setLocalProperty(LayerProp, null)
    }

  // ---- the orders + customer pipeline ---------------------------------

  /** The changelog source → `changelog-state` sink pipeline over the
    * orders + customer changelog, with the composed maintainer chain
    * registered as the sink's hook. */
  final class OrdersPipe(run: Run, root: File, gen: OrdersGen, maxFiles: Int) {
    val landing: File = { val f = new File(root, "landing"); f.mkdirs(); f }
    private def d(n: String) = new File(root, n).getPath
    val dirs: OrderDirs =
      OrderDirs(d("state"), d("mv"), d("idx"), d("mv_join"), d("agg"), d("seg"), d("mv_bidi"))
    private val hookKey = s"cdcbench-${java.util.UUID.randomUUID()}"
    private val hookSpan = new AtomicLong()
    /** (epoch, hook wall ms) of every maintainer hook call. */
    val hookMs = new ConcurrentLinkedQueue[(Long, Double)]()

    def start(trigger: Trigger): StreamingQuery = {
      val spark = run.spark
      import spark.implicits._
      val dim = gen.seedSegments.toSeq.toDF("c_custkey", "c_mktsegment").cache()
      val chain = BenchAdapter.composedChain(dirs, dim,
        name => body => layerSpan(run, name, hookSpan.get(), -1)(body()))
      BenchAdapter.registerMaintainer(hookKey, (prev, merged, epochId) => {
        val id = Trace.nextId()
        hookSpan.set(id)
        val t0 = System.nanoTime()
        try Trace.span("ChangelogStateSink.maintainer", epoch = epochId, id = id)(
          chain(prev, merged, epochId))
        finally hookMs.add((epochId, (System.nanoTime() - t0) / 1e6))
      })
      val s2 = BenchAdapter.epochSession(spark)
      val decoded = BenchAdapter.decode(
        BenchAdapter.changelogStream(s2, landing.getPath, maxFiles), OrdersPayload, Envelope)
      run.progress.watch(root.getName)
      BenchAdapter.stateSink(decoded, dirs.state, d("ckpt"), hookKey, trigger)
        .queryName(root.getName).start()
    }

    def close(): Unit = BenchAdapter.unregisterMaintainer(hookKey)

    /** One read: `kind` 0 = readKey on a Zipf-chosen key, 1 = lookup on a
      * random status, 2 = the status MV. */
    def read(r: SplittableRandom, zipf: Zipf, kind: Int): Unit = {
      val spark = run.spark
      if (Trace.on) Trace.span("serve.manifest")(BenchAdapter.manifest(spark, dirs.state))
      val t0 = System.nanoTime()
      val rec = kind match {
        case 0 =>
          val key = 1L + zipf.sample(r) % math.max(1L, gen.nextOrder - 1)
          val row = Trace.span("serve.read_key")(
            BenchAdapter.readKey(spark, dirs.state, Seq("table" -> "orders", "id" -> key)))
          ReadRec("read_key", key, "", t0, 0L, KeyResult(row.map(x =>
            (x.getAs[Long]("seq"), x.getAs[String]("o_orderstatus"),
              math.round(x.getAs[Double]("o_totalprice") * 100)))))
        case 1 =>
          val v = gen.status(r.nextInt(gen.nStatuses))
          val keys = Trace.span("serve.lookup_value")(BenchAdapter.lookupByValue(spark, dirs.idx, v))
          ReadRec("lookup_value", 0L, v, t0, 0L, LookupResult(keys))
        case _ =>
          val rows = Trace.span("serve.read_mv")(BenchAdapter.readMv(spark, dirs.mv))
          ReadRec("read_mv", 0L, "", t0, 0L, MvResult(rows.map(x =>
            x.getString(0) -> (x.getLong(1), x.getDecimal(2).movePointRight(2).longValueExact)).toMap))
      }
      run.reads.add(rec.copy(endNs = System.nanoTime()))
    }

    /** End state against the engine's batch fold of the changelog, and every
      * maintained view against its definition over that state. */
    def check(): Unit = {
      val spark = run.spark
      val cl = BenchAdapter.decode(BenchAdapter.changelogBatch(spark, landing.getPath),
        OrdersPayload, Envelope).cache()
      def table(t: String, cols: Seq[String]) =
        BenchAdapter.readState(spark, dirs.state, "table" +: cols).filter(col("table") === t)
          .select(cols.map(col): _*)
      val orders = table("orders", BenchAdapter.OrderCols).cache()
      val customers = table("customer", BenchAdapter.CustomerCols)
      def agg(df: DataFrame, g: String) = df.groupBy(col(g).as("g"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 4))).cast(DecimalType(28, 4)).as("s"))
      def mv(dir: String) = {
        val m = BenchAdapter.readMvFrame(spark, dir)
        m.select(col(m.columns.head).as("g"), col("n"), col("s").cast(DecimalType(28, 4)).as("s"))
      }
      import spark.implicits._
      val dim = gen.seedSegments.toSeq.toDF("c_custkey", "c_mktsegment")
      run.checkAll(
        "orders state hash-equals the Apply.latestState fold" -> (() => sameRows(orders,
          BenchAdapter.latestState(cl.filter(col("table") === "orders"), BenchAdapter.OrderCols))),
        "customer state hash-equals the Apply.latestState fold" -> (() => sameRows(customers,
          BenchAdapter.latestState(cl.filter(col("table") === "customer"),
            BenchAdapter.CustomerCols))),
        "status MV equals the aggregate over the state" -> (() =>
          sameRows(mv(dirs.mv), agg(orders, "o_orderstatus"))),
        "status MV equals the generator's model" -> (() =>
          BenchAdapter.readMv(spark, dirs.mv).map(x => x.getString(0) ->
            (x.getLong(1), x.getDecimal(2).movePointRight(2).longValueExact)).toMap ==
            gen.model.mv.toMap),
        "status index equals the live (value, key) pairs" -> (() => sameRows(
          BenchAdapter.readState(spark, dirs.idx, Seq("v", "id")),
          orders.select(col("o_orderstatus").as("v"), col("o_orderkey").as("id")))),
        "join MV equals orders joined to the static dimension" -> (() => sameRows(mv(dirs.mvJoin),
          agg(orders.join(dim, col("o_custkey") === col("c_custkey")), "c_mktsegment"))),
        "bidirectional join MV equals orders joined to the customer state" -> (() => sameRows(
          mv(dirs.mvBidi), agg(orders.join(customers.select("c_custkey", "c_mktsegment"),
            col("o_custkey") === col("c_custkey")), "c_mktsegment"))))
      orders.unpersist(); cl.unpersist()
    }
  }

  // ---- shared measurement pieces ---------------------------------------

  /** Order-insensitive digest equality: row count plus two hash folds over
    * all columns (one aggregate job per side). */
  def sameRows(a: DataFrame, b: DataFrame): Boolean = {
    def digest(df: DataFrame): Seq[Any] = {
      val cs = df.columns.sorted.map(col).toSeq
      df.agg(count(lit(1)), sum(hash(cs: _*).cast(LongType)), bit_xor(xxhash64(cs: _*)))
        .head().toSeq
    }
    a.columns.sorted.sameElements(b.columns.sorted) && digest(a) == digest(b)
  }

  /** Freshness of each published group: commit time of the epoch that
    * covered its last event minus its publish time. */
  def freshness(run: Run, published: Seq[(Group, Long)]): Seq[Double] = {
    val eps = run.progress.all.sortBy(_.cumRows)
    published.flatMap { case (g, publishNs) =>
      eps.find(_.cumRows >= g.cumEvents).map(e => (e.endNs - publishNs) / 1e9)
    }
  }

  /** Wait until the watched query has committed `events` events. */
  def awaitCommitted(run: Run, events: Long, timeoutS: Int): Boolean = {
    val deadline = System.nanoTime() + timeoutS * 1000000000L
    while (run.progress.committedRows.get() < events && System.nanoTime() < deadline)
      Thread.sleep(5)
    run.progress.committedRows.get() >= events
  }

  def readMetrics(run: Run): Unit = {
    import scala.jdk.CollectionConverters._
    val all = run.reads.asScala.toSeq
    def ms(rs: Seq[ReadRec]) = rs.map(r => (r.endNs - r.startNs) / 1e6)
    run.metrics.put("read_p50_ms", Stats.p50(ms(all)), "ms")
    run.metrics.put("read_p90_ms", Stats.quantile(ms(all), 0.9), "ms")
    run.layer.put("serve.reads", all.size, "count")
    for ((kind, name) <- Seq("read_key" -> "serve.read_key_ms",
        "lookup_value" -> "serve.lookup_value_ms", "read_mv" -> "serve.read_mv_ms"))
      run.layer.put(name, Stats.p50(ms(all.filter(_.kind == kind))), "ms")
  }

  /** Check every recorded read against the generator's model of the final
    * state: a key read returns the key's last written version (or nothing
    * once deleted), a lookup exactly the live keys holding the value, an MV
    * read exactly the model's aggregate. */
  def checkReads(run: Run, model: Model): Unit = {
    val byValue = model.live.toSeq.groupBy(_._2._2.indexed).map { case (v, kvs) =>
      v -> kvs.map(_._1).toSet }
    run.reads.forEach { r =>
      run.attempted += 1
      val ok = r.result match {
        case KeyResult(row) =>
          row == model.live.get(r.key).map { case (seq, v) => (seq, v.indexed, v.amount) }
        case LookupResult(got) =>
          got.length == got.toSet.size && got.toSet == byValue.getOrElse(r.value, Set.empty[Long])
        case MvResult(groups) => groups == model.mv.toMap
      }
      if (!ok) run.fail(s"read ${r.kind} key=${r.key} value=${r.value} returned a result " +
        "that differs from the generator's final state")
    }
  }

  def stateMb(run: Run, dirs: Seq[String]): Unit =
    run.metrics.put("state_mb", dirs.map(d => Stats.du(new File(d))).sum / 1e6, "MB")
}
