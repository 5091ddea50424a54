package cdcbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One recorded interval. `parent` is 0 for a root span. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long,
                      epoch: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Off (the default) it only runs the body, so the
  * untraced run pays nothing for it; on, spans are kept until [[write]]. */
object Trace {
  @volatile var on = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()

  def nextId(): Long = ids.incrementAndGet()

  def record(id: Long, parent: Long, name: String, startNs: Long, endNs: Long,
             epoch: Long = -1): Unit =
    if (on) spans.add(Span(id, parent, name, startNs, endNs, epoch))

  /** Time `body` as span `name` under `parent`; returns the body's value. */
  def span[T](name: String, parent: Long = 0, epoch: Long = -1, id: Long = 0)(body: => T): T =
    if (!on) body
    else {
      val sid = if (id != 0) id else nextId()
      val t0 = System.nanoTime()
      try body finally record(sid, parent, name, t0, System.nanoTime(), epoch)
    }

  def all: Seq[Span] = spans.asScala.toSeq
  def clear(): Unit = spans.clear()
  /** Drop the spans whose name starts with `prefix`. */
  def clear(prefix: String): Unit = spans.removeIf(_.name.startsWith(prefix))

  /** Self time of each span: its duration minus the union of its
    * children's intervals (clipped to the span). */
  def selfMs(all: Seq[Span]): Map[Long, Double] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs))))
      s.id -> ((s.endNs - s.startNs - covered) / 1e6)
    }.toMap
  }

  /** Total length covered by a set of [start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Write spans as a JSON array, each with its self time. */
  def write(file: File, all: Seq[Span], originNs: Long): Unit = {
    file.getParentFile.mkdirs()
    val self = selfMs(all)
    val w = new PrintWriter(file, "UTF-8")
    try {
      w.println("[")
      w.println(all.sortBy(_.startNs).map { s =>
        s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name.replace("\"", "'")}",""" +
          f""""start_ms":${(s.startNs - originNs) / 1e6}%.3f,"dur_ms":${s.ms}%.3f,""" +
          f""""self_ms":${self(s.id)}%.3f,"epoch":${s.epoch}}"""
      }.mkString(",\n"))
      w.println("]")
    } finally w.close()
  }

  /** The recorded spans plus one span per trigger (from progress
    * `durationMs`) and one per Spark job, the job under the trigger whose
    * interval holds its start; root spans of an epoch move under its
    * trigger. `msToNs` maps wall-clock milliseconds onto the span clock. */
  def withEpochs(all: Seq[Span], epochs: Seq[Epoch], jobs: Seq[JobRec],
                 msToNs: Long => Long): Seq[Span] = {
    val triggers = epochs.map(e => Span(nextId(), 0, "spark.trigger",
      e.endNs - e.durations.getOrElse("triggerExecution", 0L) * 1000000L, e.endNs, e.batchId))
    val byEpoch = triggers.map(t => t.epoch -> t.id).toMap
    val moved = all.map(s =>
      if (s.parent == 0 && s.epoch >= 0) s.copy(parent = byEpoch.getOrElse(s.epoch, 0L)) else s)
    val jobSpans = jobs.map { j =>
      val start = msToNs(j.startMs)
      val parent = triggers.find(t => start >= t.startNs && start <= t.endNs)
      Span(nextId(), parent.map(_.id).getOrElse(0L), s"job ${j.layer}: ${j.name}", start,
        msToNs(j.endMs), parent.map(_.epoch).getOrElse(-1L))
    }
    triggers ++ moved ++ jobSpans
  }
}

/** One micro-batch as the progress listener saw it. */
final case class Epoch(batchId: Long, rows: Long, cumRows: Long, endNs: Long, endMs: Long,
                       durations: Map[String, Long], compiles: Long) {
  def d(k: String): Double = durations.getOrElse(k, 0L).toDouble
  def startMs: Long = endMs - durations.getOrElse("triggerExecution", 0L)
}

/** Collects `StreamingQueryProgress` of the query the benchmark is
  * watching: per-epoch `durationMs`, input rows, and the running count of
  * committed events the read checks and freshness use. */
final class ProgressProbe extends StreamingQueryListener {
  private val watched = new AtomicReference[String]("")
  private val epochs = new ConcurrentLinkedQueue[Epoch]()
  val committedRows = new AtomicLong()
  /** Called on the listener thread after each recorded epoch. */
  @volatile var onEpoch: Epoch => Unit = _ => ()

  /** Follow the query named `name` from its first epoch on. */
  def watch(name: String): Unit = { epochs.clear(); committedRows.set(0); watched.set(name) }
  def all: Seq[Epoch] = epochs.asScala.toSeq

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.name == watched.get() && p.numInputRows > 0) {
      val now = System.nanoTime()
      val cum = committedRows.addAndGet(p.numInputRows)
      val ep = Epoch(p.batchId, p.numInputRows, cum, now, System.currentTimeMillis(),
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
      epochs.add(ep)
      onEpoch(ep)
    }
  }
}

/** One Spark job as the scheduler listener saw it. */
final case class JobRec(id: Int, startMs: Long, endMs: Long, name: String, stages: Int,
                        tasks: Int, group: String, layer: String)

/** Spark job/stage/task events (traced run only). A job's `name` is the
  * call site of its result stage; `layer` is the submitting thread's
  * [[Workloads.LayerProp]], "Stream" when unset. */
final class JobProbe extends SparkListener {
  private val starts =
    new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int, String, String)]()
  private val tasks = new java.util.concurrent.ConcurrentHashMap[Int, AtomicLong]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val done = new ConcurrentLinkedQueue[JobRec]()

  def all: Seq[JobRec] = done.asScala.toSeq

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val result = e.stageInfos.maxBy(_.stageId)
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    tasks.put(e.jobId, new AtomicLong())
    starts.put(e.jobId, (e.time, result.name, e.stageInfos.size,
      prop("spark.jobGroup.id").getOrElse(""), prop(Workloads.LayerProp).getOrElse("Stream")))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).flatMap(j => Option(tasks.get(j))).foreach(_.incrementAndGet())
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(starts.remove(e.jobId)).foreach { case (t0, name, stages, group, layer) =>
      done.add(JobRec(e.jobId, t0, e.time, name, stages,
        Option(tasks.remove(e.jobId)).map(_.get.toInt).getOrElse(0), group, layer))
    }
}

/** Process-wide counters read before and after the measured window. */
final case class Counters(gcMs: Long, gcCount: Long, fsRead: Long, fsWritten: Long,
                          compiles: Long) {
  def -(o: Counters): Counters = Counters(gcMs - o.gcMs, gcCount - o.gcCount,
    fsRead - o.fsRead, fsWritten - o.fsWritten, compiles - o.compiles)
}

object Counters {
  def now(): Counters = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val fs = Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file"))
    def fsLong(k: String): Long = fs.flatMap(s => Option(s.getLong(k))).map(_.longValue).getOrElse(0L)
    Counters(gcs.map(_.getCollectionTime).sum, gcs.map(_.getCollectionCount).sum,
      fsLong("bytesRead"), fsLong("bytesWritten"),
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
  }

  /** Peak resident set of this JVM (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

object Stats {
  /** Quantile by linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def p50(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Bytes under a directory tree. */
  def du(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)

  def countFiles(f: File, pred: File => Boolean): Int =
    if (!f.exists()) 0
    else if (f.isFile) (if (pred(f)) 1 else 0)
    else Option(f.listFiles()).map(_.map(countFiles(_, pred)).sum).getOrElse(0)
}

/** Accumulates named metric values for the result line, in insertion order. */
final class Metrics {
  private val values = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, value: Double, unit: String): Unit = values(name) = (value, unit)
  def get(name: String): Option[Double] = values.get(name).map(_._1)
}
