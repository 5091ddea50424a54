package cdcbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Entry point: `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --trace-file <file>`. Prints a human-readable report and, as
  * its last line, `RESULT <json>`; exits 1 when any check failed. */
object Main {
  val Workloads: Seq[String] = Seq("trickle", "docs")

  /** End-to-end metrics: every workload reports all of them. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "freshness_p50_s" -> "s", "freshness_p90_s" -> "s",
    "events_per_s" -> "events/s", "read_p50_ms" -> "ms", "read_p90_ms" -> "ms",
    "state_mb" -> "MB", "peak_rss_mb" -> "MB")

  /** Per-layer metrics of the traced run; a layer a workload does not
    * exercise reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "ChangelogSource.latest_offset_ms" -> "ms", "ChangelogSource.decode_s_per_mevent" -> "s",
    "spark.trigger_ms" -> "ms", "spark.query_planning_ms" -> "ms", "spark.wal_commit_ms" -> "ms",
    "spark.add_batch_ms" -> "ms", "spark.commit_offsets_ms" -> "ms",
    "spark.epochs" -> "count", "spark.jobs_per_epoch" -> "count",
    "spark.stages_per_epoch" -> "count", "spark.tasks_per_epoch" -> "count",
    "spark.codegen_compiles_per_epoch" -> "count",
    "Buckets.touched_per_epoch" -> "count", "Stream.merge_self_ms" -> "ms",
    "fs.bytes_written_per_event" -> "B", "fs.bytes_read_per_event" -> "B") ++
    Scenarios.JobLayers.map(s => s"jobs.$s.busy_ms" -> "ms") ++ Seq(
    "ChangelogStateSink.maintainer_ms" -> "ms", "Materialize.mv_delta_ms" -> "ms",
    "Materialize.join_mv_delta_ms" -> "ms", "Index.delta_ms" -> "ms", "JoinMv.maintain_ms" -> "ms",
    "serve.reads" -> "count", "serve.read_key_ms" -> "ms", "serve.lookup_value_ms" -> "ms",
    "serve.read_mv_ms" -> "ms", "Buckets.read_ms" -> "ms", "Stream.files_per_bucket" -> "count",
    "Search.text_maintain_ms" -> "ms", "Similarity.vector_maintain_ms" -> "ms",
    "jvm.gc_ms" -> "ms", "jvm.gc_count" -> "count",
    "freshness.samples" -> "count", "host.calibration_ms" -> "ms") ++
    EndToEnd.map { case (n, u) => s"trace.$n" -> u }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = a.getOrElse(k, sys.error(s"missing --$k"))
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", new File(need("work")), new File(need("trace-file")))
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}")
    require(o.seconds >= 1, "--seconds must be at least 1")
    Trace.on = o.trace
    o.work.mkdirs()
    val cores = math.min(2, Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"cdcbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the engine's session settings, as graft.Bench sets them
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.local.dir", new File(o.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(o.work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(o, spark, System.nanoTime())
    val code =
      try {
        o.workload match {
          case "trickle" => Scenarios.trickle(run)
          case "docs" => Scenarios.docs(run)
        }
        report(run)
        if (run.failed == 0) 0 else 1
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          System.out.println(s"error: $e")
          2
      }
    // the run's files are discarded by the caller, so the JVM ends without
    // Spark's shutdown work
    System.out.flush()
    System.err.flush()
    Runtime.getRuntime.halt(code)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def report(run: Run): Unit = {
    val out = System.out
    out.println(s"workload ${run.o.workload} seed ${run.o.seed} seconds ${run.o.seconds} " +
      s"trace ${if (run.o.trace) 1 else 0}")
    for ((n, u) <- EndToEnd) out.println(f"metric $n%-22s ${num(run.metrics.get(n).getOrElse(0.0))} $u")
    val share = run.failed.toDouble / math.max(1L, run.attempted)
    out.println(f"metric failed_ops_share       ${num(share)} ratio " +
      s"(${run.failed} of ${run.attempted} operations)")
    run.problems.take(20).foreach(p => out.println(s"problem: $p"))
    val metrics =
      if (!run.o.trace) EndToEnd.map { case (n, u) => (n, run.metrics.get(n).getOrElse(0.0), u) }
      else {
        EndToEnd.foreach { case (n, u) => run.layer.put(s"trace.$n", run.metrics.get(n).getOrElse(0.0), u) }
        PerLayer.map { case (n, u) => (n, run.layer.get(n).getOrElse(0.0), u) }
      }
    if (run.o.trace) {
      metrics.foreach { case (n, v, u) => out.println(f"layer $n%-40s ${num(v)} $u") }
      val jobs = run.jobs.map(_.all).getOrElse(Nil)
      val (originMs, originNs) = (System.currentTimeMillis(), System.nanoTime())
      val spans = Trace.withEpochs(Trace.all, run.progress.all, jobs,
        ms => originNs + (ms - originMs) * 1000000L)
      Trace.write(run.o.traceFile, spans, run.processStartNs)
      val names = jobs.groupBy(j => j.layer + " <- " + j.name).view
        .mapValues(_.size).toSeq.sortBy(-_._2).take(40)
      names.foreach { case (n, c) => out.println(s"job $c x $n") }
      out.println(s"trace written to ${run.o.traceFile} (${spans.size} spans)")
    }
    val json = metrics.map { case (n, v, u) => s""""$n":{"value":${num(v)},"unit":"$u"}""" }
      .mkString("{", ",", "}")
    out.println(s"""RESULT {"correct":${run.failed == 0},"attempted":${math.max(1L, run.attempted)},""" +
      s""""failed":${run.failed},"metrics":$json}""")
  }
}
