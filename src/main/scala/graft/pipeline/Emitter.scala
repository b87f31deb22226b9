package graft.pipeline

import java.time.Instant

import org.apache.hadoop.fs.{ChecksumFileSystem, Path}
import org.apache.hadoop.io.IOUtils
import org.apache.spark.sql.{DataFrame, Observation, SaveMode}
import org.apache.spark.sql.functions._

import graft.functions.Tstamps

/** Micro-batch emitter: the Spark-native counterpart of the reference's
  * KinesisS3Emitter.emit (KinesisS3Emitter.scala:65-86) run inside
  * `foreachBatch`.
  *
  * Per batch:
  *   1. derive the row type (purpose-dependent, reference Common.scala:41-53),
  *   2. write good rows as newline-framed gzip text files, one file per
  *      partition value (the reference's one-object-per-flush semantics),
  *      named `[prefix-][partition-]yyyy-MM-dd-HHmmss-firstSeq-lastSeq.gz`
  *      under the date-decorated output dir (KinesisS3Emitter.scala:226-244,
  *      DynamicPath.scala:35-64),
  *   3. route bad rows (reading errors / upstream failures) as
  *      snowplow-badrows GenericError JSON lines to the dead-letter dir —
  *      synchronous, an upgrade over the reference's fire-and-forget
  *      KinesisSink.scala:97-107 (SURVEY §7.5.5).
  *
  * Scale notes: the batch meta (seq range, count, bad count, earliest
  * collector tstamp — reference Batch.scala:36-43, accumulated while
  * buffering) is an `Observation` on the write itself, so a flush with
  * good rows only is ONE scan and one write job. With one row type, a
  * codec without a post-commit index (gzip, bzip2) and a cluster-local
  * output (`file`, `hdfs`), every flush partition writes its own part
  * file and the commit concatenates them into the one reference object;
  * otherwise exact naming repartitions by row type, which sends each row
  * type through one task (a bottleneck for hot schemas at cluster
  * scale). Set `exactNaming=false` to keep Spark's parallel file
  * naming (many part files per partition, no extra shuffle): the content
  * contract (gzip, newline-framed, partition-dir layout) is identical.
  * Writes stage into `_staging/batch=N` and move atomically per file, so
  * batch retries never leave partial output under the final prefix.
  */
object Emitter {

  final case class BatchResult(
    count: Long,
    badCount: Long,
    earliestTstamp: Option[Instant],
    files: Seq[String]) {
    def meta: StatsD.Meta = StatsD.Meta(earliestTstamp, count)
  }

  /** Fixed backoff between output retries (reference
    * KinesisS3Emitter.scala:194-198: 10 000 ms); overridable for tests. */
  @volatile var retryBackoffMs: Long = 10000L

  private[pipeline] def retryForAtMost[A](maxTimeoutMs: Long, backoffMs: Long)(f: => A): A = {
    val deadline = System.nanoTime() + maxTimeoutMs * 1000000L
    @annotation.tailrec
    def attempt(): A = {
      val r = try Right(f) catch { case scala.util.control.NonFatal(e) => Left(e) }
      r match {
        case Right(a) => a
        case Left(e) if System.nanoTime() >= deadline =>
          throw new RuntimeException(
            s"Output failing continuously for over ${maxTimeoutMs}ms, giving up", e)
        case Left(_) =>
          Thread.sleep(math.max(1L, backoffMs))
          attempt()
      }
    }
    attempt()
  }

  /** @param df  batch frame with columns `value: string` (the record),
    *            `seq: any` (ordering id for file naming; nullable),
    *            `error: array<string>` (null = good record)
    * @param observeEarliest for Enriched, also observe the earliest
    *            collector tstamp (`BatchResult.earliestTstamp`)
    */
  def emitBatch(
    df: DataFrame,
    config: PipelineConfig,
    batchId: Long,
    now: Instant = Instant.now(),
    exactNaming: Boolean = true,
    observeEarliest: Boolean = true): BatchResult = {

    val selfDescribing = config.purpose == Purpose.SelfDescribingJson

    // Serializer seam (reference S3Loader.scala:41-44): resolve the
    // codec for the configured compression; unregistered → hard error
    // (same failure the reference's startup serializer selection gives).
    val codec = Serializers.resolve(config.output.s3.compression)
      .fold(msg => throw new IllegalStateException(msg), identity)
    val staging = s"${PipelinePaths.stripScheme(config.output.s3.path)}/_staging/batch=$batchId"

    // Batch meta over the WHOLE flush, good and bad rows: the seq range
    // the reference names all of a flush's objects with
    // (KinesisS3Emitter.scala:72-73), the record and bad-row counts, and
    // for Enriched the earliest collector tstamp (Batch.scala:36-43) —
    // a TSV split per record, so only when the caller reports it.
    val metrics = Seq(
      min(col("seq")).cast("string").as("first"),
      max(col("seq")).cast("string").as("last"),
      count(lit(1)).as("count"),
      count(col("error")).as("bad")) ++
      (if (config.purpose == Purpose.Enriched && observeEarliest)
        Seq(min(Tstamps.collectorTstamp(col("value"))).as("earliest"))
      else Nil)

    // One row type per flush (every purpose but SelfDescribingJson), a
    // multi-member codec (no per-object index hook) and an output where
    // the join is a cluster-local copy: no shuffle, one part file per
    // flush partition, concatenated at commit into the one reference
    // object. On s3a the join would download and re-upload the flush
    // through the driver, so a remote output keeps one task per object.
    val scheme = new Path(staging).getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration).getScheme
    val concatenate = exactNaming && !selfDescribing && codec.postCommit.isEmpty &&
      (scheme == "file" || scheme == "hdfs")
    val rowType =
      if (selfDescribing) RowTypes.partition(col("value"), col("error"))
      else lit(RowTypes.UnpartitionedName)

    // Reference retry semantics (KinesisS3Emitter.scala:116-148): keep
    // retrying the put with fixed backoff; after `maxTimeout` ms of
    // continuous failure, give up hard (the reference halts the JVM;
    // here the exception fails the streaming query, and the checkpoint
    // makes the batch replayable — same at-least-one-attempt-per-10s
    // behavior, stricter delivery). An Observation reports once, so
    // each attempt observes its own.
    val (meta, files) = retryForAtMost(config.output.s3.maxTimeout, retryBackoffMs) {
      val flush = Observation()
      // Good rows → text files. Bad rows are excluded here and routed
      // to the dead-letter channel below, like the reference's emit
      // returning them to fail() (KinesisS3Emitter.scala:83-84,100-105).
      val good = df.observe(flush, metrics.head, metrics.tail: _*)
        .filter(col("error").isNull)
        .select(col("value"), rowType.as("row_type"))
      val arranged = if (exactNaming && !concatenate) good.repartition(col("row_type")) else good
      arranged.write
        .mode(SaveMode.Overwrite)
        .partitionBy("row_type")
        .option("compression", codec.codecValue)
        .text(staging)
      val m = flush.get
      def seq(k: String) = Option(m(k)).fold(batchId.toString)(_.toString)
      (m, commitStaged(df.sparkSession, config.output.s3, staging, seq("first"), seq("last"), now, codec,
        concatenate))
    }

    // Bad rows → GenericError JSON lines, dead-letter directory. Only a
    // flush that observed one pays for this second pass.
    val badCount = meta("bad").asInstanceOf[Long]
    if (badCount > 0) {
      df.filter(col("error").isNotNull)
        .select(BadRows.asJson(BadRows.genericError(
          col("value"), col("error"), lit(now.toString).cast("timestamp"))).as("value"))
        .write.mode(SaveMode.Append).text(PipelinePaths.stripScheme(config.output.bad.streamName))
    }

    val earliest = meta.get("earliest").collect { case t: java.sql.Timestamp => t.toInstant }
    BatchResult(meta("count").asInstanceOf[Long], badCount, earliest, files)
  }

  /** Move each staged `row_type=X/part-*.txt.gz` file to its final
    * reference-style name; returns the final paths. With `concatenate`,
    * a row type's part files are first joined, in name order, into one
    * staged object (a multi-member gzip/bzip2 stream, RFC 1952 §2.2) that
    * takes the single reference name: a sequential copy through the
    * driver, done only on a local or HDFS path.
    */
  private def commitStaged(
    spark: org.apache.spark.sql.SparkSession,
    s3: S3OutputConfig,
    staging: String,
    firstSeq: String,
    lastSeq: String,
    now: Instant,
    codec: Serializers.Codec,
    concatenate: Boolean): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val stagingPath = new Path(staging)
    val fs = stagingPath.getFileSystem(conf)
    if (!fs.exists(stagingPath)) return Nil

    // Final object = <s3.path>/<decorated dateFormat>/<fileName> — same
    // absolute layout as the reference's bucket + [outputDirectory/]key
    // split (KinesisS3Emitter.scala:208-220,226-244).
    val root = new Path(PipelinePaths.stripScheme(s3.path))

    // Plan the rename fan-out on the driver (names are a function of
    // listing order + seq range; a concatenated object is joined here,
    // before its one move), then EXECUTE the per-file
    // mkdirs/delete/rename/postCommit on executors when the batch has
    // many part files — at 100× with exactNaming=false this loop is
    // otherwise the per-batch serial section. Small batches stay on the
    // driver: a Spark job costs more than a handful of local FS ops.
    val dirs = fs.listStatus(stagingPath).filter(_.isDirectory)
    val moves: Seq[(String, String)] = dirs.toSeq.flatMap { d =>
      val dirName = d.getPath.getName // row_type=<escaped value>
      val value = unescapePartitionValue(dirName.stripPrefix("row_type="))
      val partition = if (value == RowTypes.UnpartitionedName) None else Some(value)
      val parts = fs.listStatus(d.getPath)
        .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
        .map(_.getPath)
        .sortBy(_.getName)
      val key = DynamicPath.relativeKey(s3, firstSeq, lastSeq, partition, now)
      def dest(suffix: String) =
        new Path(root, DynamicPath.decorateDirectoryWithTime(s"$key$suffix${codec.extension}", now)).toString
      if (concatenate && parts.length > 1) {
        val joined = new Path(d.getPath, "object")
        val out = fs.create(joined, true)
        try parts.foreach { p =>
          val in = fs.open(p)
          try IOUtils.copyBytes(in, out, conf, false) finally in.close()
        } finally out.close()
        Seq(joined.toString -> dest(""))
      } else parts.toSeq.zipWithIndex.map { case (p, i) =>
        p.toString -> dest(if (parts.length > 1) f"-part$i%05d" else "")
      }
    }

    // Serializes only the hook + conf into the executor closure; a
    // user-registered postCommit that fans out must therefore be
    // serializable AND idempotent (it re-runs on task retry — the
    // built-in codecs' hooks are None).
    val hook = codec.postCommit
    def moveOne(c: org.apache.hadoop.conf.Configuration)(srcS: String, destS: String): Unit = {
      val src = new Path(srcS)
      val dest = new Path(destS)
      val f = dest.getFileSystem(c)
      // CONCURRENT-ATTEMPT safety (the executor path can run the same
      // move twice IN PARALLEL — task retry racing a zombie/speculative
      // attempt — unlike the old driver-sequential loop): dest content
      // is a deterministic function of (src, dest) for this batch, so a
      // dest that exists was committed by a completed rename of the same
      // bytes and must NEVER be deleted. The losing attempt's job is
      // only to drop the staged copy. (The old exists(src)/delete(dest)/
      // rename sequence let a stale attempt delete the winner's dest and
      // then fail its own rename — both copies gone.)
      if (f.exists(dest)) {
        if (f.exists(src)) f.delete(src, false)
        hook.foreach(h => h(c, dest))
        return
      }
      if (!f.exists(src)) {
        // the same race as the rename-false path below: a concurrent
        // duplicate attempt can complete the rename between our dest
        // check and this src check — re-check dest before crying loss
        if (f.exists(dest)) { hook.foreach(h => h(c, dest)); return }
        throw new java.io.IOException(
          s"staged file $srcS is gone and $destS does not exist — commit state lost")
      }
      // A checksummed file system (Hadoop's local one) keeps a hidden
      // `.<name>.crc` beside each staged file and renames it along;
      // dropping it first leaves exactly the object under the output.
      f match {
        case c: ChecksumFileSystem => c.delete(c.getChecksumFile(src), false)
        case _                     => ()
      }
      f.mkdirs(dest.getParent)
      if (!f.rename(src, dest)) {
        // rename reports failure as `false`, not an exception. One
        // legitimate false: a concurrent duplicate attempt renamed src
        // first — then dest now holds the committed object and this
        // attempt is a success. Anything else must surface so the
        // batch-level retry/maxTimeout budget actually fires.
        if (!f.exists(dest))
          throw new java.io.IOException(s"rename $srcS -> $destS failed")
      }
      hook.foreach(h => h(c, dest))
    }

    // Fan-out pays one scheduler round-trip per batch to buy parallel
    // renames — worth it exactly when a rename is a REMOTE call (s3a
    // copy+delete ~50-200 ms, hdfs namenode RPC ~ms) and the move count
    // amortizes the job. On a LOCAL filesystem a rename is microseconds,
    // so the job overhead can never win at realistic batch sizes —
    // measured at sf0.1 the executor path cost q68 ~0.6 s/run over the
    // driver loop. Hence a scheme-aware default (remote: 16, local:
    // 512) with an explicit conf override for tuning and tests.
    val fanOutThreshold = spark.conf.getOption("spark.graft.commit.fanOutThreshold")
      .map { s =>
        // fail FAST and CLEARLY on a malformed knob (the load-gate
        // parsing precedent): a bare NumberFormatException deep in a
        // batch commit would not name the conf key
        try s.trim.toInt
        catch { case _: NumberFormatException => throw new IllegalArgumentException(
          s"spark.graft.commit.fanOutThreshold must be an integer, got '$s'") }
      }
      .getOrElse(if (fs.getScheme == "file") 512 else 16)
    if (moves.length <= fanOutThreshold)
      moves.foreach { case (s, d) => moveOne(conf)(s, d) }
    else {
      val confBc = spark.sparkContext.broadcast(
        new org.apache.spark.SerializableWritable(conf))
      try
        spark.sparkContext
          .parallelize(moves, math.min(moves.length, spark.sparkContext.defaultParallelism))
          .foreachPartition { it =>
            it.foreach { case (s, d) => moveOne(confBc.value.value)(s, d) }
          }
      finally confBc.destroy()
    }
    fs.delete(stagingPath, true)
    // Clean empty _staging parent if this was the last batch dir.
    val stagingParent = stagingPath.getParent
    if (fs.exists(stagingParent) && fs.listStatus(stagingParent).isEmpty)
      fs.delete(stagingParent, true)
    moves.map(_._2)
  }

  /** Spark escapes partition values in dir names (e.g. '/' → '%2F'). */
  private[pipeline] def unescapePartitionValue(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '%' && i + 3 <= s.length) {
        try { sb += Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar; i += 3 }
        catch { case _: NumberFormatException => sb += s.charAt(i); i += 1 }
      } else { sb += s.charAt(i); i += 1 }
    }
    sb.toString
  }

}
