package bench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

import graft.pipeline.{PipelineConfig, Source}

/** A timed interval at a layer boundary, in epoch nanoseconds (listener
  * events carry epoch milliseconds; monotonic readings are shifted onto
  * the same clock). `parent` is the id of the span that caused it (0 for
  * none). Spans stay in memory and are written once, when the harness
  * exits. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      startNs: Long, endNs: Long, attrs: Map[String, Any] = Map.empty) {
  def ms: Double = (endNs - startNs) / 1e6
  def toJson: String = Json(Json.obj("id" -> id, "parent" -> parent, "layer" -> layer,
    "name" -> name, "start_ns" -> startNs, "end_ns" -> endNs, "attrs" -> attrs))
}

object Spans {
  private val ids = new AtomicLong()
  private val spans = new ConcurrentLinkedQueue[Span]()

  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def nextId(): Long = ids.incrementAndGet()

  /** A `System.nanoTime` reading as epoch nanoseconds. */
  def epochNs(nanoTime: Long): Long = nanoTime + epochOffsetNs

  def add(s: Span): Span = { spans.add(s); s }

  def time[A](layer: String, name: String, parent: Long = 0L)(f: => A): (A, Span) = {
    val id = nextId()
    val t0 = System.nanoTime()
    val a = f
    (a, add(Span(id, parent, layer, name, epochNs(t0), epochNs(System.nanoTime()))))
  }

  def write(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.asScala.foreach { s => w.write(s.toJson); w.newLine() }
    finally w.close()
  }
}

/** Streaming progress as Spark reports it: one event per micro-batch
  * of every streaming query. Registered in traced and untraced runs
  * alike; it only keeps the events Spark already produces. */
final class ProgressLog extends StreamingQueryListener {
  private val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    events.add(e.progress); ()
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  /** Every event delivered since the last call. */
  def take(): Seq[StreamingQueryProgress] = {
    val out = Seq.newBuilder[StreamingQueryProgress]
    var p = events.poll()
    while (p != null) { out += p; p = events.poll() }
    out.result()
  }
}

object ProgressLog {
  def duration(p: StreamingQueryProgress, key: String): Long =
    Option(p.durationMs.get(key)).map(_.longValue).getOrElse(0L)
}

/** Spark runtime events of the traced run: SQL executions (with their
  * plan root and nesting), jobs, task metrics and persisted blocks. */
final class SparkTrace extends SparkListener {
  final case class Exec(id: Long, root: Long, planRoot: String, plan: String, start: Long) {
    @volatile var end: Long = start
    def ms: Long = end - start
  }
  final class Job(val exec: Option[Long]) {
    var tasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
  }

  val execs = TrieMap.empty[Long, Exec]
  val jobs = TrieMap.empty[Int, Job]
  private val stageJob = TrieMap.empty[Int, Int]
  val persistBytes = new AtomicLong()

  def reset(): Unit = {
    execs.clear(); jobs.clear(); stageJob.clear(); persistBytes.set(0)
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      execs.put(e.executionId, Exec(e.executionId, e.rootExecutionId.getOrElse(e.executionId),
        e.sparkPlanInfo.nodeName, e.physicalPlanDescription, e.time))
      ()
    case e: SparkListenerSQLExecutionEnd =>
      execs.get(e.executionId).foreach(_.end = e.time)
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    jobs.put(e.jobId, new Job(exec))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (jid <- stageJob.get(e.stageId); job <- jobs.get(jid); m <- Option(e.taskMetrics))
      job.synchronized {
        job.tasks += 1
        job.runMs += m.executorRunTime
        job.cpuNs += m.executorCpuTime
        job.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        job.spillBytes += m.diskBytesSpilled
      }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isInstanceOf[RDDBlockId] && info.storageLevel.isValid)
      persistBytes.addAndGet(info.memSize + info.diskSize)
    ()
  }

  /** Jobs of one execution and of every execution nested under it. */
  def jobsUnder(root: Long): Iterable[Job] =
    jobs.values.filter(_.exec.exists(id => id == root || execs.get(id).exists(_.root == root)))
}

/** Analysis, optimization and planning time of every action, from
  * Spark's own per-query phase tracker. */
final class PhaseLog extends QueryExecutionListener {
  private val phases = new ConcurrentLinkedQueue[(String, Long)]()
  private def add(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, s) => phases.add(phase -> (s.endTimeMs - s.startTimeMs)) }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)

  /** Summed ms per phase since the last call. */
  def take(): Map[String, Long] = {
    val out = collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    var p = phases.poll()
    while (p != null) { out(p._1) += p._2; p = phases.poll() }
    out.toMap
  }
}

/** One call on the local file system, at the top of the call stack (a
  * call the file system makes on itself is not counted again). */
final case class FsOp(thread: String, op: String, path: String, dest: String,
                      startNs: Long, endNs: Long)

object FsOps {
  private val ops = new ConcurrentLinkedQueue[FsOp]()
  private val depth = ThreadLocal.withInitial[Integer](() => 0)

  def timed[A](op: String, p: Path, dest: Path = null)(f: => A): A = {
    val d = depth.get
    depth.set(d + 1)
    val t0 = System.nanoTime()
    try f
    finally {
      depth.set(d)
      if (d == 0)
        ops.add(FsOp(Thread.currentThread.getName, op, p.toUri.getPath,
          if (dest == null) null else dest.toUri.getPath, t0, System.nanoTime()))
    }
  }

  def take(): Seq[FsOp] = {
    val out = Seq.newBuilder[FsOp]
    var o = ops.poll()
    while (o != null) { out += o; o = ops.poll() }
    out.result()
  }
}

/** The local file system with every metadata and stream-opening call
  * recorded in [[FsOps]]. The traced run registers it through
  * `spark.hadoop.fs.file.impl`. */
class CountingFileSystem extends LocalFileSystem {
  override def getFileStatus(p: Path): FileStatus = FsOps.timed("getFileStatus", p)(super.getFileStatus(p))
  override def listStatus(p: Path): Array[FileStatus] = FsOps.timed("listStatus", p)(super.listStatus(p))
  override def mkdirs(p: Path, perm: FsPermission): Boolean = FsOps.timed("mkdirs", p)(super.mkdirs(p, perm))
  override def rename(src: Path, dst: Path): Boolean = FsOps.timed("rename", src, dst)(super.rename(src, dst))
  override def delete(p: Path, recursive: Boolean): Boolean = FsOps.timed("delete", p)(super.delete(p, recursive))
  override def open(p: Path, bufferSize: Int): FSDataInputStream = FsOps.timed("open", p)(super.open(p, bufferSize))
  override def create(p: Path, perm: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    FsOps.timed("create", p)(super.create(p, perm, overwrite, bufferSize, replication, blockSize, progress))
}

/** A [[Source]] that records how long building its stream takes. */
final class TimingSource(inner: Source, parent: Long) extends Source {
  @volatile var ms: Double = 0.0
  def lines(spark: SparkSession, config: PipelineConfig, checkpointDir: Option[String]): DataFrame = {
    val (df, span) = Spans.time("source", "lines", parent)(inner.lines(spark, config, checkpointDir))
    ms += span.ms
    df
  }
}
