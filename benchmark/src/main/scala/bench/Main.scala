package bench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.Sessions

/** The harness JVM behind `benchmark/run.py`. It runs one workload's
  * set-up and timed rounds and writes what it observed to `--out` as
  * one JSON object; run.py computes the metrics and checks the outputs.
  *
  *   --workload loader_enriched|loader_partitioned|query_sample
  *   --input DIR     staged input lines (loader workloads)
  *   --sf DIR        parquet tables (query_sample)
  *   --work DIR      scratch for checkpoints, outputs and results
  *   --warmups N     untimed set-up rounds
  *   --rounds N      timed rounds after them
  *   --seconds S     cap on the timed section
  *   --trace 0|1     record per-layer figures and spans
  *   --out FILE      result JSON
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")

    val t0 = System.nanoTime()
    val builder = Sessions.builder("benchmark")
      .config("spark.local.dir", s"$work/spark-local")
    if (trace) builder.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val h = new Harness(spark, workload, opts.getOrElse("input", ""), work,
      opts("seconds").toDouble, opts("warmups").toInt, opts("rounds").toInt, trace)
    val body = workload match {
      case "loader_enriched" | "loader_partitioned" => Loader.run(spark, h)
      case "query_sample" => Sample.run(spark, h, opts("sf"), s"$work/results")
      case other => sys.error(s"unknown workload $other")
    }

    val header = Json.obj(
      "session_s" -> sessionS,
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "master" -> spark.sparkContext.master,
      "spark_version" -> spark.version,
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filter(a => a.startsWith("-Xm") || a.startsWith("-XX")).toSeq,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "peak_rss_mb" -> peakRssMb())
    if (trace) Spans.write(Paths.get(opts("out") + ".spans.jsonl"))
    Files.writeString(Paths.get(opts("out")), Json(Json.obj("header" -> header, "body" -> body)))
    spark.stop()
  }

  /** VmHWM, the process's peak resident set, in MB. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)
}
