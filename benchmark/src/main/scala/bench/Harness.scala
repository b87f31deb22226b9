package bench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Wall time, process CPU time and GC time of one measured interval. */
final case class Measured(startNs: Long, endNs: Long, cpuNanos: Long, gcMillis: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
  def cpuS: Double = cpuNanos / 1e9
}

/** What one run shares between the workloads: its options, its
  * listeners, resource meters and the set-up/timed round loop. */
final class Harness(
  val spark: SparkSession,
  val workload: String,
  val input: String,
  val work: String,
  val seconds: Double,
  val warmups: Int,
  val timedRounds: Int,
  val trace: Boolean) {

  val cores: Int = spark.sparkContext.defaultParallelism
  val progress = new ProgressLog
  spark.streams.addListener(progress)
  val sparkTrace: Option[SparkTrace] =
    if (trace) Some(new SparkTrace) else None
  sparkTrace.foreach(spark.sparkContext.addSparkListener)
  val phaseLog: Option[PhaseLog] = if (trace) Some(new PhaseLog) else None
  phaseLog.foreach(spark.listenerManager.register)

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = os.getProcessCpuTime
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  final class Window {
    private val cpu0 = cpuNs()
    private val gc0 = gcMs()
    private val t0 = System.nanoTime()
    def close(): Measured = {
      val t1 = System.nanoTime()
      Measured(t0, t1, cpuNs() - cpu0, gcMs() - gc0)
    }
  }

  /** Starts a measured interval; in a traced run it also clears what the
    * listeners and the file system recorded before it. */
  def window(): Window = {
    if (trace) {
      org.apache.spark.benchmark.Bus.drain(spark.sparkContext)
      sparkTrace.foreach(_.reset())
      phaseLog.foreach(_.take())
      FsOps.take()
    }
    new Window
  }

  /** `warmups` untimed set-up rounds, then `timedRounds` timed rounds.
    * `seconds` only caps the timed section: no further round starts once
    * it has run that long (the first always runs). Every round runs the
    * same operations, and a fixed count times the same stretch of the
    * JIT's warm-up curve in every run. */
  def rounds(round: (Int, Boolean) => collection.Map[String, Any]): collection.Map[String, Any] = {
    val setupS = collection.mutable.ArrayBuffer.empty[Double]
    val setup = (0 until warmups).map { i =>
      val t0 = System.nanoTime()
      val r = round(i, false)
      setupS += (System.nanoTime() - t0) / 1e9
      r
    }
    val timed = collection.mutable.ArrayBuffer.empty[collection.Map[String, Any]]
    val t0 = System.nanoTime()
    while (timed.isEmpty || (timed.size < timedRounds && System.nanoTime() - t0 < seconds * 1e9))
      timed += round(warmups + timed.size, true)
    Json.obj(
      "setup_rounds_s" -> setupS.toSeq,
      "timed_s" -> (System.nanoTime() - t0) / 1e9,
      "setup" -> setup,
      "timed" -> timed.toSeq)
  }
}
