package bench

import java.net.{DatagramSocket, InetAddress}
import java.time.Instant

import org.apache.spark.benchmark.Bus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, split}
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.pipeline._

/** The loader workloads: repeated drains of one staged input through
  * `Pipeline.runOnce`, each with a fresh checkpoint, output and
  * dead-letter directory and the same fixed `now`. */
object Loader {

  /** Fixed `now` for object names: every drain of one input names its
    * objects identically. */
  val Now: Instant = Instant.parse("2026-03-02T00:00:00Z")
  val Prefix = "bench"

  /** Flush size (the buffer's byte limit) per workload: enriched
    * flushes are small and many, self-describing flushes large. */
  def byteLimit(workload: String): Long =
    if (workload == "loader_enriched") 2L << 20 else 4L << 20

  private def config(workload: String, input: String, out: String, bad: String,
                     statsdPort: Int): PipelineConfig = {
    val enriched = workload == "loader_enriched"
    PipelineConfig(
      region = None,
      purpose = if (enriched) Purpose.Enriched else Purpose.SelfDescribingJson,
      input = InputConfig("benchmark", input, InitialPosition.TrimHorizon, maxRecords = 10000),
      output = OutputConfig(
        S3OutputConfig(out, dateFormat = None, filenamePrefix = Some(Prefix),
          compression = Compression.Gzip, maxTimeout = 60000L),
        BadOutputConfig(bad)),
      buffer = BufferConfig(byteLimit(workload), recordLimit = 100000L, timeLimit = 1000L),
      monitoring =
        if (enriched) Some(MonitoringConfig(Some(StatsDConfig("127.0.0.1", statsdPort,
          Map("workload" -> workload), None))))
        else None)
  }

  /** The enriched lines carry their sequence number in txn_id (field 7). */
  private def seqExpr(workload: String) =
    if (workload == "loader_enriched") Some(split(col("value"), "\t", -1).getItem(7)) else None

  def run(spark: SparkSession, h: Harness): collection.Map[String, Any] = {
    // StatsD datagrams go to a local socket nobody reads: the send path
    // runs as in production, and nothing leaves the machine.
    val statsd = new DatagramSocket(0, InetAddress.getLoopbackAddress)
    try {
      def drain(round: Int, timed: Boolean): collection.Map[String, Any] = {
        val dir = s"${h.work}/r$round"
        val cfg = config(h.workload, h.input, s"$dir/out", s"$dir/bad", statsd.getLocalPort)
        val spanId = Spans.nextId()
        val timing = new TimingSource(FileSource, spanId)
        val source = if (h.trace) timing else FileSource
        val w = h.window()
        val result =
          try Right(Pipeline.runOnce(spark, cfg, seqExpr(h.workload), Some(s"$dir/ckpt"),
            exactNaming = true, now = Some(Now), source = source))
          catch { case scala.util.control.NonFatal(e) => Left(e) }
        val m = w.close()
        Spans.add(Span(spanId, 0L, "pipeline", "drain", Spans.epochNs(m.startNs), Spans.epochNs(m.endNs),
          Map("round" -> round, "timed" -> timed)))
        Bus.drain(spark.sparkContext)
        val progress = h.progress.take()
        val batches = result.toOption.map(_.batches).getOrElse(Nil)
        val layers =
          if (h.trace && timed) Some(LoaderLayers(h, progress, s"$dir/out", spanId, m, timing.ms,
            batches.map(_.badCount).sum))
          else None
        Json.obj(
          "round" -> round,
          "timed" -> timed,
          "dir" -> dir,
          "wall_s" -> m.wallS,
          "cpu_s" -> m.cpuS,
          "error" -> result.left.toOption.map(e => s"${e.getClass.getName}: ${e.getMessage}"),
          "batches" -> batches.map(b => Json.obj(
            "count" -> b.count, "bad" -> b.badCount,
            "earliest" -> b.earliestTstamp.map(_.toString), "files" -> b.files)),
          "meta" -> result.toOption.map(_.observedMeta).getOrElse(Nil).map(x => Json.obj(
            "count" -> x.count, "earliest" -> x.earliestTstamp.map(_.toString))),
          "batch_ms" -> progress.filter(_.numInputRows > 0)
            .map(p => ProgressLog.duration(p, "triggerExecution")),
          "layers" -> layers)
      }
      h.rounds(drain)
    } finally statsd.close()
  }
}

/** Per-layer figures of one traced drain, from Spark's progress events,
  * its listener events and the counting file system. Times are ms per
  * micro-batch unless the name says otherwise. run.py adds the figures
  * it reads from the committed objects (`rowtypes.per_batch`,
  * `codec.out_in_ratio`). */
object LoaderLayers {

  def apply(h: Harness, progress: Seq[StreamingQueryProgress], out: String,
            drainSpan: Long, m: Measured, linesMs: Double, badRows: Long): collection.Map[String, Any] = {
    val t = h.sparkTrace.get
    val ps = progress.filter(_.numInputRows > 0)
    val n = math.max(1, ps.size).toDouble
    def dur(keys: String*): Double = ps.map(p => keys.map(ProgressLog.duration(p, _)).sum).sum / n

    // Each micro-batch runs as one root SQL execution (the foreachBatch
    // sink); the Emitter's actions run nested under it, all with the
    // streaming query's call site. Classify them by physical plan: the
    // file write, or an aggregate over the flush: min/max(seq) for the
    // seq range, min over the collector-tstamp parse (its RLIKE gate)
    // for the earliest tstamp, a bare count(1) for the bad-row count.
    val nested = t.execs.values.filter(e => e.root != e.id && t.execs.contains(e.root)).toSeq
    def kind(e: t.Exec): String =
      if (e.plan.contains("InsertIntoHadoopFsRelationCommand")) "write"
      else if (e.plan.contains("max(seq")) "seq_range"
      else if (e.plan.contains("RLIKE(")) "earliest"
      else if (e.plan.contains("count(1)")) "bad_count"
      else "other"
    val byKind = nested.groupBy(kind)
    def ms(k: String): Double = byKind.getOrElse(k, Nil).map(_.ms).sum / n
    val roots = nested.map(_.root).distinct
    val jobsPerBatch = roots.map(r => t.jobsUnder(r).size).sum / n
    val writes = byKind.getOrElse("write", Nil)
    val writeJobs = writes.flatMap(e => t.jobs.values.filter(_.exec.contains(e.id)))
    val writeWallMs = writes.map(_.ms).sum.toDouble
    val cores = h.cores.toDouble

    // A span for every Emitter execution and file-system call of the drain.
    nested.foreach { e =>
      Spans.add(Span(Spans.nextId(), drainSpan, "emitter", kind(e), e.start * 1000000L,
        e.end * 1000000L, Map("execution" -> e.id, "root" -> e.root, "plan_root" -> e.planRoot)))
    }

    val fs = FsOps.take()
    fs.foreach(o => Spans.add(Span(Spans.nextId(), drainSpan, "fs", o.op,
      Spans.epochNs(o.startNs), Spans.epochNs(o.endNs),
      Map("path" -> o.path, "dest" -> o.dest, "thread" -> o.thread))))
    val commit = CommitOps(fs, out)

    val jobs = t.jobs.values
    Json.obj(
      "source.lines_ms" -> linesMs,
      "source.latest_offset_ms" -> dur("latestOffset"),
      "source.get_batch_ms" -> dur("getBatch"),
      "pipeline.batches" -> ps.size,
      "pipeline.planning_ms" -> dur("queryPlanning"),
      "pipeline.log_commit_ms" -> dur("walCommit", "commitOffsets"),
      "emitter.add_batch_ms" -> dur("addBatch"),
      "emitter.jobs_per_batch" -> jobsPerBatch,
      "emitter.passes_per_batch" ->
        (Seq("write", "seq_range", "earliest", "bad_count").map(k => byKind.getOrElse(k, Nil).size).sum / n),
      "emitter.seq_range_ms" -> ms("seq_range"),
      "emitter.earliest_ms" -> ms("earliest"),
      "emitter.bad_count_ms" -> ms("bad_count"),
      "emitter.write_ms" -> ms("write"),
      "emitter.write_tasks" -> writeJobs.map(_.tasks).sum / n,
      "emitter.write_core_util" ->
        (if (writeWallMs > 0) writeJobs.map(_.runMs).sum / (writeWallMs * cores) else 0.0),
      "commit.objects_per_batch" -> commit.objects / n,
      "commit.fs_ops" -> commit.ops / n,
      "commit.fs_ms" -> commit.ms / n,
      "emitter.bad_rows" -> badRows,
      "spark.task_cpu_s" -> jobs.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> m.gcMillis / 1e3,
      "spark.shuffle_mb" -> jobs.map(_.shuffleBytes).sum / 1e6,
      "spark.spill_mb" -> jobs.map(_.spillBytes).sum / 1e6,
      "spark.persist_mb" -> t.persistBytes.get / 1e6)
  }
}

/** The file-system calls `Emitter.commitStaged` makes for each batch,
  * picked out of the calls made outside Spark tasks: after the write job
  * marks `_staging/batch=N/_SUCCESS`, every such call on that batch's
  * staging directory (outside the committer's `_temporary`), on the
  * `_staging` parent, or on a final object path, until the next batch's
  * `_SUCCESS`. */
object CommitOps {
  final case class Totals(objects: Int, ops: Int, ms: Double)

  def apply(ops: Seq[FsOp], outRoot: String): Totals = {
    val root = new java.io.File(outRoot).getAbsolutePath
    val staging = s"$root/_staging"
    val Success = (java.util.regex.Pattern.quote(staging) + "/batch=(\\d+)/_SUCCESS").r
    var batch: Option[String] = None
    var objects = 0
    var count = 0
    var ns = 0L
    ops.filterNot(_.thread.startsWith("Executor task launch")).sortBy(_.startNs).foreach { o =>
      o.path match {
        case Success(b) if o.op == "create" => batch = Some(s"$staging/batch=$b")
        case p if batch.nonEmpty && (p == root || p.startsWith(root + "/")) =>
          val dir = batch.get
          val inBatch = (p == dir || p.startsWith(dir + "/")) && !p.contains("/_temporary")
          val finalObject = !p.startsWith(staging + "/") && p != staging
          if (inBatch || p == staging || finalObject) {
            count += 1
            ns += o.endNs - o.startNs
            if (o.op == "rename" && o.dest != null && !o.dest.startsWith(staging)) objects += 1
          }
        case _ => ()
      }
    }
    Totals(objects, count, ns / 1e6)
  }
}
