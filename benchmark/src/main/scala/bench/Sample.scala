package bench

import org.apache.spark.benchmark.Bus
import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The `query_sample` workload: a fixed list of `SparkEntry.queries`,
  * each run through the `noop` sink as `graft.Bench` does. The first
  * set-up pass writes every result to parquet for the oracle check. */
object Sample {

  val Queries: Seq[String] = Seq(
    // incremental band-index maintenance (MinHash signatures)
    "q259_incr_signatures",
    // a stateful streaming drain (mapGroupsWithState)
    "q33_stateful",
    // sub-second relational and sketch queries: fixed per-query cost
    "q02_top_orders",
    "q05_anti_join",
    "q12_distinct_agg",
    "q151_grouping_sets",
    "q167_scd2",
    "q59_heavy_hitters")

  def run(spark: SparkSession, h: Harness, sfDir: String, resultsDir: String): collection.Map[String, Any] = {
    val fns = SparkEntry.queries
    val missing = Queries.filterNot(fns.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(", ")}")

    def pass(round: Int, timed: Boolean): collection.Map[String, Any] = {
      val capture = round == 0
      val perQuery = Queries.map { name =>
        val preexisting = spark.sparkContext.getPersistentRDDs.keySet
        val w = h.window()
        val t0 = System.nanoTime()
        val error =
          try {
            val df = fns(name)(spark, sfDir)
            val t1 = System.nanoTime()
            if (capture) df.write.mode("overwrite").parquet(s"$resultsDir/$name")
            else df.write.format("noop").mode("overwrite").save()
            Left(t1)
          } catch { case scala.util.control.NonFatal(e) => Right(s"${e.getClass.getName}: ${e.getMessage}") }
        val m = w.close()
        // Released after the clock stops, as graft.Bench does.
        spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
          if (!preexisting.contains(id)) rdd.unpersist(blocking = false)
        }
        Bus.drain(spark.sparkContext)
        val progress = h.progress.take()
        val constructMs = error.left.toOption.map(t1 => (t1 - t0) / 1e6)
        val spanId = Spans.nextId()
        Spans.add(Span(spanId, 0L, "query", name, Spans.epochNs(m.startNs), Spans.epochNs(m.endNs),
          Map("round" -> round, "timed" -> timed)))
        val layers =
          if (h.trace && timed) Some(QueryLayers(h, progress, m, constructMs.getOrElse(0.0), spanId))
          else None
        Json.obj(
          "name" -> name,
          "wall_s" -> m.wallS,
          "cpu_s" -> m.cpuS,
          "error" -> error.toOption,
          "batch_ms" -> progress.filter(_.numInputRows > 0)
            .map(p => ProgressLog.duration(p, "triggerExecution")),
          "layers" -> layers)
      }
      Json.obj("round" -> round, "timed" -> timed, "queries" -> perQuery)
    }

    val out = h.rounds(pass)
    val oracle = Queries.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$resultsDir/oracle_sql.json"),
      Json(Json.obj(oracle: _*)))
    out
  }
}

/** Per-layer figures of one traced query: Spark's phase tracker,
  * listener events and the streaming progress of its drains. */
object QueryLayers {
  def apply(h: Harness, progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
            m: Measured, constructMs: Double, span: Long): collection.Map[String, Any] = {
    val t = h.sparkTrace.get
    val phases = h.phaseLog.get.take()
    val roots = t.execs.values.filter(e => e.root == e.id || !t.execs.contains(e.root))
    roots.foreach(e => Spans.add(Span(Spans.nextId(), span, "sql", e.planRoot,
      e.start * 1000000L, e.end * 1000000L, Map("execution" -> e.id))))
    val jobs = t.jobs.values
    val state = progress.flatMap(_.stateOperators)
    Json.obj(
      "query.construct_ms" -> constructMs,
      "query.analysis_ms" -> phases.getOrElse("analysis", 0L),
      "query.optimization_ms" -> phases.getOrElse("optimization", 0L),
      "query.planning_ms" -> phases.getOrElse("planning", 0L),
      "query.exec_ms" -> roots.map(_.ms).sum,
      "query.jobs" -> jobs.size,
      "query.tasks" -> jobs.map(_.tasks).sum,
      "query.shuffle_mb" -> jobs.map(_.shuffleBytes).sum / 1e6,
      "query.spill_mb" -> jobs.map(_.spillBytes).sum / 1e6,
      "query.gc_ms" -> m.gcMillis,
      "stream.batches" -> progress.size,
      "stream.add_batch_ms" -> progress.map(ProgressLog.duration(_, "addBatch")).sum,
      "stream.state_commit_ms" -> state.map(_.commitTimeMs).sum,
      "stream.state_rows" -> state.map(_.numRowsUpdated).sum,
      "spark.task_cpu_s" -> jobs.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> m.gcMillis / 1e3,
      "spark.shuffle_mb" -> jobs.map(_.shuffleBytes).sum / 1e6,
      "spark.spill_mb" -> jobs.map(_.spillBytes).sum / 1e6,
      "spark.persist_mb" -> t.persistBytes.get / 1e6)
  }
}
