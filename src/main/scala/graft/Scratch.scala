package graft

import org.apache.spark.sql.SparkSession

/** Dev profiling harness (not part of the library surface): times each
  * named query from [[SparkEntry.queries]] given on the command line, or
  * explains it with `--explain`. Fixture dir comes from SPARK_GRAFT_SF_DIR.
  *
  * {{{
  * SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  *   sbt "runMain graft.Scratch doc_ngram_jaccard doc_dup_clusters"
  * sbt "runMain graft.Scratch --explain q_bloom_semijoin"
  * }}}
  */
object Scratch {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Bench's engine-level codegen-cache settings, env-overridable for
      // A/B forensics (GRAFT_CODEGEN_USE_ID=true / GRAFT_CODEGEN_CACHE=100
      // reproduces the stock-Spark behavior)
      .config("spark.sql.codegen.useIdInClassName",
        sys.env.getOrElse("GRAFT_CODEGEN_USE_ID", "false"))
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("GRAFT_CODEGEN_CACHE", "4096"))
      .config("spark.sql.artifact.isolation.enabled",
        sys.env.getOrElse("GRAFT_ARTIFACT_ISOLATION", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // --cgdebug: log every generated-code compilation at DEBUG so cache
    // misses can be diffed across epochs/runs (dev-only forensics for the
    // epoch-stable codegen work)
    if (args.contains("--cgdebug")) {
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator",
        org.apache.logging.log4j.Level.DEBUG)
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.WholeStageCodegenExec",
        org.apache.logging.log4j.Level.DEBUG)
    }
    val explain = args.contains("--explain")
    val names = args.filterNot(_.startsWith("--")) match {
      case Array() => Array("q1_pricing")
      case a => a
    }
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query '$name'; known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))
      if (explain) {
        println(s"##### $name")
        fn(spark, sfDir).explain("formatted")
      } else {
        // three repetitions: cold (cache fill) vs warm separate cleanly
        for (i <- 1 to 3) {
          val sp0 = graft.cdc.Materialize.Spans.snapshot()
          // Janino compile counters (dev evidence for the epoch-stable
          // codegen work): compilations this run = cache MISSES — an
          // epoch-stable plan family compiles once and hits the source-
          // keyed cache on every later epoch
          val cg0 = (org.apache.spark.metrics.source.CodegenMetrics
              .METRIC_COMPILATION_TIME.getCount,
            org.apache.spark.metrics.source.CodegenMetrics
              .METRIC_COMPILATION_TIME.getSnapshot.getMean)
          val t0 = System.nanoTime()
          val n = fn(spark, sfDir).count()
          println(f"[scratch] $name%-28s #$i ${(System.nanoTime() - t0) / 1e9}%8.3f s  rows=$n")
          if (args.contains("--codegen")) {
            val cnt = org.apache.spark.metrics.source.CodegenMetrics
              .METRIC_COMPILATION_TIME.getCount - cg0._1
            val mean = org.apache.spark.metrics.source.CodegenMetrics
              .METRIC_COMPILATION_TIME.getSnapshot.getMean
            println(f"[scratch]   codegen compiles=$cnt  mean=$mean%.1f ms")
          }
          if (args.contains("--spans")) {
            val sp1 = graft.cdc.Materialize.Spans.snapshot()
            sp1.toSeq.map { case (k, (sec, c)) =>
                val (s0, c0) = sp0.getOrElse(k, (0.0, 0L))
                (k, sec - s0, c - c0)
              }
              .filter(_._2 >= 0.05).sortBy(-_._2)
              .foreach { case (k, sec, c) =>
                println(f"[scratch]   span $k%-28s $sec%7.3f s  n=$c") }
          }
        }
      }
    }
    spark.stop()
  }
}
