package graft.cdc

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Row, SparkSession}
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean
import graft.SparkSpec

/** The point-read path ([[VersionScan]]) against the Spark read: over
  * random keys (live, deleted, fenced by a TRUNCATE, absent) and values
  * (present, absent, hashing to a never-written bucket), `readKey`,
  * `lookupByValue` and `readMv` answer exactly what a Spark scan of the
  * whole state answers — on the driver under the size rule, and through
  * Spark in a sibling session whose `maxPartitionBytes` is below every
  * file. The driver reads run no Spark job; the Spark side runs one. */
object VersionScanProps extends Properties("VersionScan") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(30)

  private lazy val spark = SparkSpec.session
  /** Every version dir exceeds this session's size rule: reads go to Spark. */
  private lazy val tiny: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.files.maxPartitionBytes", "64")
    s
  }

  /** A (table, id)-keyed state over 4 buckets carrying an MV of `x` by
    * `g`, and an index on `g` over table t's rows: ids 1-40 of tables t
    * and u, every third id deleted, u truncated, then ids 31, 32 and 34 of
    * u inserted again after the fence. */
  private object fx {
    val work: String = Files.createTempDirectory("graft-vscan-").toString
    val state = s"$work/state"
    val mv = s"$work/mv"
    val idx = s"$work/idx"
    locally {
      val s = spark
      import s.implicits._
      def mk(rows: Seq[(String, Long, Long, String, String, Long)]) =
        rows.toDF("table", "id", "seq", "op", "g", "x")
      val ids = 1L to 40L
      val seed = for (t <- Seq("t", "u"); i <- ids)
        yield (t, i, i, "INSERT", s"g${i % 5}", i * 10)
      val deletes = for (t <- Seq("t", "u"); i <- ids if i % 3 == 0)
        yield (t, i, 100 + i, "DELETE", s"g${i % 5}", 0L)
      val truncate = Seq(("u", -1L, 200L, "TRUNCATE", null, 0L))
      val revived = Seq(31L, 32L, 34L).map(i => ("u", i, 300 + i, "INSERT", s"r$i", i))
      Seq(seed, deletes, truncate, revived).zipWithIndex.foreach { case (b, n) =>
        ChangelogStream.upsertBatch(mk(b), state, keyCols = Seq("table", "id"),
          initialBuckets = 4,
          beforeCommit = (prev, merged) =>
            Materialize.commitDelta(s, mv, n.toLong, prev, merged, Seq("g"),
              Materialize.aggContrib("g", "x"),
              prevEmpty = ChangelogStream.hookPrevIsEmpty))
      }
      Seq(seed, deletes).map(_.filter(_._1 == "t")).zipWithIndex.foreach { case (b, n) =>
        Index.maintainIndexBatch(mk(b).drop("table"), n.toLong, s"$work/istate", idx, "g")
      }
    }
  }

  private val cols = Seq("table", "id", "seq", "op", "g", "x")

  /** The whole state read through one Spark scan, as a Row per key. */
  private lazy val scanned: Map[(String, Long), Row] =
    ChangelogStream.readState(spark, fx.state, cols).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r).toMap

  private def project(r: Row): Row = Row.fromSeq(cols.map(c => r.get(r.fieldIndex(c))))

  private val keyGen = Gen.zip(Gen.oneOf("t", "u", "v"), Gen.chooseNum(0L, 45L))

  property("readKey equals the Spark scan on both sides of the size rule") =
    Prop.forAll(keyGen) { case (t, id) =>
      val want = scanned.get((t, id))
      val key = Seq("table" -> t, "id" -> id)
      val onDriver = ChangelogStream.readKey(spark, fx.state, key).map(project)
      val viaSpark = ChangelogStream.readKey(tiny, fx.state, key).map(project)
      (onDriver == want) :| s"driver $onDriver != scan $want" &&
        (viaSpark == want) :| s"spark $viaSpark != scan $want"
    }

  property("the key classes are all drawn: live, deleted, fenced, revived, absent") = {
    val live = scanned.keySet
    Prop(live.contains(("t", 1L)) && !live.contains(("t", 3L)) &&
      !live.contains(("u", 1L)) && live.contains(("u", 31L)) &&
      !live.contains(("t", 41L)) && !live.contains(("v", 1L)))
  }

  private lazy val indexed: Map[String, Set[Long]] =
    ChangelogStream.readState(spark, fx.idx, Seq("v", "id")).collect()
      .groupBy(_.getString(0)).map { case (v, rs) => v -> rs.map(_.getLong(1)).toSet }

  property("lookupByValue equals the Spark scan on both sides of the size rule") =
    Prop.forAll(Gen.oneOf(Gen.oneOf("g0", "g1", "g2", "g3", "g4"),
        Gen.chooseNum(5, 60).map(i => s"g$i"))) { v =>
      val want = indexed.getOrElse(v, Set.empty[Long])
      def ids(s: SparkSession) = Index.lookupByValue(s, fx.idx, v).collect()
        .map(_.getLong(0)).toSet
      (ids(spark) == want) :| s"driver ${ids(spark)} != scan $want" &&
        (ids(tiny) == want) :| s"spark ${ids(tiny)} != scan $want"
    }

  property("values cover present, absent, and never-written buckets") = {
    val layout = Buckets.read(spark, fx.idx).get
    val values = (0 to 60).map(i => s"g$i")
    val unwritten = values.map(v => Buckets.bucketOfValues(layout, Seq(v)))
      .filter(b => layout.version(b) < 0)
    Prop(indexed.keySet == Set("g0", "g1", "g2", "g3", "g4") && unwritten.nonEmpty)
  }

  property("readMv equals the Spark read, schema included") = {
    val dir = s"${fx.mv}/v=${Versions.list(spark, fx.mv).last}"
    val raw = spark.read.parquet(dir)
    val want = raw.collect().toSet
    val onDriver = Materialize.readMv(spark, fx.mv)
    val viaSpark = Materialize.readMv(tiny, fx.mv)
    (onDriver.schema == raw.schema) :| s"schema ${onDriver.schema} != ${raw.schema}" &&
      (onDriver.collect().toSet == want) :| "driver rows" &&
      (viaSpark.collect().toSet == want) :| "spark rows" &&
      (want.map(_.getString(0)) == scanned.values.map(_.getString(4)).toSet) :| "groups"
  }

  /** Spark jobs started by `body`, counted through a listener. Jobs are
    * posted in order, so a marker job seen after `body` means every job
    * `body` started has been delivered. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"graft-vscan-${System.nanoTime()}"
    val jobs = new AtomicInteger
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => jobs.incrementAndGet()
          case g if g == s"$group-end" => marker.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "point read")
      body
      sc.setJobGroup(s"$group-end", "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(marker.await(60, TimeUnit.SECONDS), "marker job never delivered")
      jobs.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  property("point reads run no Spark job on the driver and one through Spark") = {
    def reads(s: SparkSession): Seq[(String, Int)] = Seq(
      "readKey" -> jobsOf(ChangelogStream.readKey(s, fx.state, Seq("table" -> "t", "id" -> 1L))),
      "lookupByValue" -> jobsOf(Index.lookupByValue(s, fx.idx, "g1").collect()),
      "readMv" -> jobsOf(Materialize.readMv(s, fx.mv).collect()))
    val driver = reads(spark)
    val viaSpark = reads(tiny)
    driver.forall(_._2 == 0) :| s"driver jobs $driver" &&
      viaSpark.forall(_._2 == 1) :| s"spark jobs $viaSpark"
  }
}
