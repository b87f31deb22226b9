package graft.pipeline

import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The streaming pipeline: Structured Streaming counterpart of the
  * reference's KCL dataflow (KinesisS3Pipeline.scala:38-51 →
  * KinesisS3Emitter.scala:65-86).
  *
  *   file/stream source → (value, seq, error)
  *   → foreachBatch { observed gzip emit + bad-row dead-letter }
  *
  * Mapping of the reference's pieces:
  *   - KCL worker/shard leases (KinesisSourceExecutor.scala:44-151) →
  *     Spark source tasks + the streaming checkpoint dir (exactly-once
  *     file output, an upgrade over KCL at-least-once; SURVEY §2.2).
  *   - BasicMemoryBuffer byte/record/time flush limits (Config.scala:172)
  *     → trigger interval (timeLimit) + `maxBytesPerTrigger` admission
  *     (byteLimit; see [[FileSource]] for the full mapping).
  *   - StatsD per-flush report (KinesisS3Emitter.scala:74-75) → the
  *     batch meta the Emitter observes on each flush's write, forwarded
  *     to StatsD.
  *
  * Scale: the per-batch plan is a narrow projection, scanned once by the
  * write (no shuffle except the exact-naming repartition of
  * self-describing flushes); source parallelism = input file/shard
  * count; write parallelism = task count, or partition-value count for
  * exact-named self-describing flushes (see [[Emitter]]).
  */
object Pipeline {

  final case class Result(
    batches: Seq[Emitter.BatchResult],
    observedMeta: Seq[StatsD.Meta])

  /** Build the per-record frame from a line source: `value`, `seq`,
    * `error` (null: the identity transform can't fail, matching
    * IdentityTransformer.scala:25-38).
    *
    * `seq` is the Kinesis-sequence-number slot for file naming. A
    * sequence-numbered source (e.g. [[ShardedSource]], or a real Kinesis
    * adapter where the number is RECORD METADATA, not payload) provides
    * its own `seq` column and wins; otherwise the caller's `seqExpr`
    * over `value` (e.g. the first TSV field) stands in.
    */
  def records(lines: DataFrame, seqExpr: Option[Column]): DataFrame = {
    val seqd =
      if (lines.columns.contains("seq")) lines
      else lines.withColumn("seq", seqExpr.getOrElse(lit(null)).cast("string"))
    seqd
      .withColumn("seq", col("seq").cast("string"))
      .withColumn("error", lit(null).cast("array<string>"))
  }

  /** Run until the source is drained (Trigger.AvailableNow), then return
    * per-batch results + observed meta. The offline equivalent of one
    * buffer-flush cycle; continuous mode uses the same plan with a
    * ProcessingTime trigger (buffer.timeLimit).
    */
  def runOnce(
    spark: SparkSession,
    config: PipelineConfig,
    seqExpr: Option[Column] = None,
    checkpointDir: Option[String] = None,
    exactNaming: Boolean = true,
    now: Option[Instant] = None,
    source: Source = FileSource): Result = {

    val checkpoint = checkpointDir.getOrElse(PipelinePaths.checkpoint(config))
    val results = new ConcurrentLinkedQueue[Emitter.BatchResult]()

    val query = records(source.lines(spark, config, Some(checkpoint)), seqExpr).writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        results.add(Emitter.emitBatch(df, config, batchId,
          now = now.getOrElse(Instant.now()),
          exactNaming = exactNaming))
        ()
      }
      .start()
    query.awaitTermination()

    import scala.jdk.CollectionConverters._
    val batches = results.asScala.toSeq
    val metas = batches.map(_.meta)

    // Reference reports StatsD after each successful emit
    // (KinesisS3Emitter.scala:74-75); we report per micro-batch.
    for {
      m <- config.monitoring
      sd <- m.statsd
      meta <- metas
    } StatsD.report(sd, meta)

    Result(batches, metas)
  }

  /** Continuous mode: same per-batch plan, ProcessingTime trigger from
    * the buffer's timeLimit (O5 mapping), StatsD per batch. Blocks.
    */
  def runContinuous(spark: SparkSession, config: PipelineConfig,
                    source: Source = FileSource): Unit = {
    val lifecycle = config.monitoring.flatMap(_.snowplow).map { sp =>
      val lc = new Lifecycle(sp.path, sp.appId)
      lc.start()
      lc
    }
    // O19 crash reporting: query death with an exception → failure event
    // on the tracking channel (reference Monitoring.scala:62-77).
    val crashListener = lifecycle.map { lc =>
      val l = new CrashListener(lc)
      spark.streams.addListener(l)
      l
    }
    // Per-micro-batch lag/health metrics on the same StatsD channel as
    // the batch-meta report: rows/s, trigger time, watermark lag, state
    // size — the continuous-mode observability surface.
    val statsD = config.monitoring.flatMap(_.statsd)
    val healthListener = statsD.map { sd =>
      val l = new StreamingMetrics(sd, StreamingMetrics.udpSink(sd))
      spark.streams.addListener(l)
      l
    }
    val checkpoint = PipelinePaths.checkpoint(config)
    val query = records(source.lines(spark, config, Some(checkpoint)), None).writeStream
      .trigger(Trigger.ProcessingTime(math.max(1000L, config.buffer.timeLimit)))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        try {
          val res = Emitter.emitBatch(df, config, batchId, observeEarliest = statsD.nonEmpty)
          statsD.foreach(StatsD.report(_, res.meta))
        } catch {
          case scala.util.control.NonFatal(e) =>
            lifecycle.foreach(_.storageWriteFailed(String.valueOf(e.getMessage)))
            throw e
        }
        ()
      }
      .start()
    try query.awaitTermination()
    finally {
      healthListener.foreach(spark.streams.removeListener)
      crashListener.foreach(spark.streams.removeListener)
      lifecycle.foreach(_.shutdown())
    }
  }

}
