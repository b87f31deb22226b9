package graft

import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-sink micro-batch cost probe (VERDICT r16 "Next round" #1): runs
  * each query named in SPARK_GRAFT_PROBE_QUERIES (comma list, default
  * the top streaming sinks), captures every StreamingQueryProgress the
  * run emits plus the Spark-job count, and prints ONE JSON line per
  * query with the durationMs breakdown summed over batches
  * (triggerExecution / addBatch / queryPlanning / walCommit /
  * commitOffsets / getBatch / latestOffset) and the state-store commit
  * totals. This is measurement tooling only — not on any query path,
  * not part of the driver contract.
  *
  * Run: SPARK_GRAFT_PROBE_QUERIES=q132_mb_outer_join \
  *        sbt "runMain graft.StreamProbe"
  */
object StreamProbe {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = sys.env.getOrElse("SPARK_GRAFT_PROBE_QUERIES",
      "q132_mb_outer_join,q174_cdc_resume,q180_state_reader,q215_mb_update_window," +
        "q202_timer_sessions,q191_exactly_once_sink,q90_mb_resume,q205_liststate_lastk," +
        "q223_rate_limiter,q204_mapstate_counts").split(',').map(_.trim).filter(_.nonEmpty)
    val spark = Sessions.local("graft-stream-probe")
    // A/B harness: SPARK_GRAFT_PROBE_CONF="k=v;k=v" applies session confs
    // before any query runs. It cannot switch the state-store provider:
    // the drains derive it per query (StreamingQueries.stateProvider) —
    // use SPARK_GRAFT_STATE_PROVIDER.
    sys.env.get("SPARK_GRAFT_PROBE_CONF").foreach(_.split(';').filter(_.contains("="))
      .foreach { kv => val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v) })

    val jobCount = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobCount.incrementAndGet(); () }
    })

    val progresses = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progresses.synchronized { progresses += e.progress; () }
    })

    val passes = sys.env.getOrElse("SPARK_GRAFT_PROBE_PASSES", "2").toInt
    for (name <- names; pass <- 1 to passes) {
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      progresses.synchronized(progresses.clear())
      jobCount.set(0L)
      spark.sparkContext.setJobDescription(s"probe: $name pass $pass")
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      // listener bus is async; give the final events a moment to land
      Thread.sleep(500)
      val ps = progresses.synchronized(progresses.toVector)
      val durKeys = Seq("triggerExecution", "addBatch", "queryPlanning",
        "walCommit", "commitOffsets", "getBatch", "latestOffset")
      val sums = durKeys.map { k =>
        k -> ps.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum
      }
      val custom = new mutable.LinkedHashMap[String, Long]
      ps.flatMap(_.stateOperators.toSeq).foreach { so =>
        so.customMetrics.forEach { (k, v) =>
          custom(k) = custom.getOrElse(k, 0L) + v.longValue
        }
      }
      val customJson = custom.filter(_._2 != 0L)
        .map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
      val stateCommit = ps.flatMap(_.stateOperators.toSeq).map(_.allUpdatesTimeMs).sum
      val allRemovals = ps.flatMap(_.stateOperators.toSeq).map(_.allRemovalsTimeMs).sum
      val commitTime = ps.flatMap(_.stateOperators.toSeq).map(_.commitTimeMs).sum
      val rows = ps.map(_.numInputRows).sum
      val json = s"""{"query": "$name", "pass": $pass, "sec": ${"%.3f".formatLocal(java.util.Locale.ROOT, sec)}, "batches": ${ps.size}, """ +
        s""""jobs": ${jobCount.get}, "input_rows": $rows, """ +
        sums.map { case (k, v) => s""""$k": $v""" }.mkString(", ") +
        s""", "stateUpdatesMs": $stateCommit, "stateRemovalsMs": $allRemovals, "stateCommitMs": $commitTime, "custom": $customJson}"""
      println(json)
    }
    spark.stop()
  }
}
