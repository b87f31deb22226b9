package graft.pipeline

import java.io.File
import java.nio.file.Files
import java.time.Instant
import scala.sys.process._

import graft.SparkSpec

/** End-to-end micro-batch pipeline: streaming file source → foreachBatch
  * → gzip files with reference naming (seq range + date decoration) +
  * bad-row dead-letter. The written files are verified with the external
  * gunzip binary (reference GZipSerializerSpec style).
  */
class PipelineSpec extends SparkSpec with org.scalatest.LoneElement {
  import org.apache.spark.sql.functions._

  private def listFilesRec(dir: File): Seq[File] = {
    val these = Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil)
    these.filter(_.isFile) ++ these.filter(_.isDirectory).flatMap(listFilesRec)
  }

  private def config(work: String, purpose: Purpose, dateFormat: Option[String] = Some("{yyyy}/{MM}")) =
    PipelineConfig(
      region = None,
      purpose = purpose,
      input = InputConfig("graft-test", s"$work/in", InitialPosition.TrimHorizon, maxRecords = 100),
      output = OutputConfig(
        S3OutputConfig(s"$work/out", dateFormat, Some("pre"), Compression.Gzip, 10000),
        BadOutputConfig(s"$work/bad")),
      buffer = BufferConfig(1 << 20, 1000, 0),
      monitoring = None)

  describe("Pipeline.runOnce (enriched purpose)") {
    it("writes gzip files with reference naming and drains the source") {
      withTempDir { tmp =>
        val work = tmp.getAbsolutePath
        import spark.implicits._
        val now = Instant.parse("2021-04-30T12:00:00Z")
        val lines = (1 to 50).map(i => s"$i\tapp\tweb\t2020-11-26 00:01:${"%02d".format(i % 60)}\tuser$i")
        lines.toDF("value").coalesce(1).write.text(s"$work/in")

        val result = Pipeline.runOnce(spark, config(work, Purpose.Enriched),
          seqExpr = Some(split(col("value"), "\t").getItem(0).cast("long")),
          checkpointDir = Some(s"$work/checkpoint"),
          now = Some(now))

        assert(result.batches.map(_.count).sum == 50)
        assert(result.batches.flatMap(_.files).nonEmpty)
        // observe()-based meta: count + earliest collector tstamp
        assert(result.observedMeta.map(_.count).sum == 50)
        // i runs 1..50 so the earliest second is :01
        assert(result.observedMeta.flatMap(_.earliestTstamp).min
          == Instant.parse("2020-11-26T00:01:01Z"))

        val files = listFilesRec(new File(s"$work/out")).filter(_.getName.endsWith(".gz"))
        assert(files.size == 1)
        val f = files.head
        // pre-yyyy-MM-dd-HHmmss-first-last.gz under out/2021/04/
        assert(f.getName.startsWith("pre-2021-04-30-120000-"))
        assert(f.getName.endsWith(".gz"))
        assert(f.getParentFile.getName == "04" && f.getParentFile.getParentFile.getName == "2021")
        // seq range: lexicographic min/max of string seqs 1..50
        assert(f.getName == "pre-2021-04-30-120000-1-9.gz")

        val out = s"gunzip -c ${f.getAbsolutePath}".!!
        assert(out.split("\n", -1).dropRight(1).sorted.toSeq == lines.sorted)
        // no bad rows
        assert(!new File(s"$work/bad").exists())
      }
    }
  }

  describe("Pipeline.runOnce (one scan per flush)") {
    it("an enriched flush runs at most 3 jobs and observes its seq range, count and earliest tstamp") {
      withTempDir { tmp =>
        val work = tmp.getAbsolutePath
        Files.createDirectories(new File(s"$work/in").toPath)
        // three input files, one flush each (the byte limit is below a
        // file's size); zero-padded seqs make string order numeric order
        val files = (0 until 3).map { f =>
          (1 to 40).map { i =>
            val n = f * 40 + i
            f"$n%04d\tapp\tweb\t2020-11-26 0${f + 1}:${(n * 7) % 60}%02d:${(n * 13) % 60}%02d\tuser$n"
          }
        }
        files.zipWithIndex.foreach { case (ls, f) =>
          Files.write(new File(s"$work/in/f$f.txt").toPath, ls.mkString("", "\n", "\n").getBytes("UTF-8"))
        }
        val base = config(work, Purpose.Enriched)
        val cfg = base.copy(buffer = base.buffer.copy(byteLimit = 10))

        // jobs by the micro-batch that ran them (Spark tags each job
        // started inside a batch with its id); a marker job after the
        // drain shows every earlier event has reached the listener
        val jobsPerBatch = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
        val marker = new java.util.concurrent.CountDownLatch(1)
        val listener = new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            val props = Option(e.properties)
            props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
              .foreach(b => jobsPerBatch.merge(b, 1, (a: Integer, c: Integer) => a + c))
            if (props.exists(_.getProperty("graft.spec.marker") != null)) marker.countDown()
          }
        }
        spark.sparkContext.addSparkListener(listener)
        val result =
          try {
            val r = Pipeline.runOnce(spark, cfg,
              seqExpr = Some(split(col("value"), "\t").getItem(0)),
              checkpointDir = Some(s"$work/checkpoint"),
              now = Some(Instant.parse("2021-04-30T12:00:00Z")))
            spark.sparkContext.setLocalProperty("graft.spec.marker", "1")
            try spark.range(1).count() finally spark.sparkContext.setLocalProperty("graft.spec.marker", null)
            assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
            r
          } finally spark.sparkContext.removeSparkListener(listener)

        import scala.jdk.CollectionConverters._
        assert(result.batches.size == 3)
        assert(jobsPerBatch.size == 3)
        assert(jobsPerBatch.values.asScala.forall(_ <= 3), s"jobs per flush: $jobsPerBatch")

        val Named = ".*-(\\d{4})-(\\d{4})\\.gz".r
        val got = result.batches.map { b =>
          val Named(first, last) = new File(b.files.loneElement).getName
          (first, last, b.count, b.badCount, b.earliestTstamp)
        }.sortBy(_._1)
        val want = files.map { ls =>
          val seqs = ls.map(_.split("\t")(0))
          val earliest = ls.map(_.split("\t")(3)).min.replace(' ', 'T') + "Z"
          (seqs.min, seqs.max, ls.size.toLong, 0L, Some(Instant.parse(earliest)))
        }
        assert(got == want)
        assert(result.observedMeta.map(_.count) == result.batches.map(_.count))
        // good rows only: the dead-letter channel is never written
        assert(!new File(s"$work/bad").exists())
      }
    }

    it("a multi-partition flush commits one object per row type, readable by gunzip and Spark") {
      withTempDir { tmp =>
        val work = tmp.getAbsolutePath
        import spark.implicits._
        val lines = (1 to 400).map(i => s"$i\tapp\tweb\t2020-11-26 00:01:05\tu$i")
        val df = lines.toDF("value").repartition(4)
          .withColumn("seq", split(col("value"), "\t").getItem(0))
          .withColumn("error", lit(null).cast("array<string>"))
        assert(df.rdd.getNumPartitions == 4)
        val now = Instant.parse("2021-04-30T12:00:00Z")

        for (compression <- Seq(Compression.Gzip, Compression.Bzip2)) {
          val base = config(s"$work/$compression", Purpose.Raw, dateFormat = None)
          val cfg = base.copy(output = base.output.copy(s3 = base.output.s3.copy(compression = compression)))
          val result = Emitter.emitBatch(df, cfg, batchId = 0, now = now)
          assert(result.count == 400 && result.badCount == 0)
          val ext = if (compression == Compression.Gzip) ".gz" else ".bz2"
          val obj = new File(result.files.loneElement)
          assert(obj.getName == s"pre-2021-04-30-120000-1-99$ext")
          // the output directory lists exactly the object: no staging
          // left, no hidden checksum beside it
          assert(listFilesRec(new File(s"$work/$compression/out")) == Seq(obj))
          val read = spark.read.text(obj.getAbsolutePath).as[String].collect().toSeq
          assert(read.sorted == lines.sorted)
          if (compression == Compression.Gzip) {
            val out = s"gunzip -c ${obj.getAbsolutePath}".!!
            assert(out.split("\n", -1).dropRight(1).sorted.toSeq == lines.sorted)
            // joined from the flush's partitions: the first member holds
            // only part of it
            assert(PipelineSpec.firstGzipMember(obj).size < lines.size)
          }
          assert(!new File(s"$work/$compression/bad").exists())
        }
      }
    }

    it("a concatenated bzip2 object re-reads whole when its splits cross stream boundaries") {
      withTempDir { tmp =>
        val work = tmp.getAbsolutePath
        import spark.implicits._
        val lines = (1 to 4000).map(i => s"$i\tapp\tweb\t2020-11-26 00:01:05\tu${i * 7919 % 10007}")
        val df = lines.toDF("value").repartition(4)
          .withColumn("seq", split(col("value"), "\t").getItem(0))
          .withColumn("error", lit(null).cast("array<string>"))
        val base = config(work, Purpose.Raw, dateFormat = None)
        val cfg = base.copy(output = base.output.copy(s3 = base.output.s3.copy(compression = Compression.Bzip2)))
        val obj = new File(Emitter.emitBatch(df, cfg, batchId = 0,
          now = Instant.parse("2021-04-30T12:00:00Z")).files.loneElement)
        // one bzip2 stream per flush partition: "BZh<level>" + block magic
        val bytes = Files.readAllBytes(obj.toPath)
        val streamStarts = bytes.indices.count { i =>
          i + 10 <= bytes.length && bytes(i) == 'B' && bytes(i + 1) == 'Z' && bytes(i + 2) == 'h' &&
            bytes.slice(i + 4, i + 10).sameElements(Array(0x31, 0x41, 0x59, 0x26, 0x53, 0x59).map(_.toByte))
        }
        assert(streamStarts == 4)
        val maxSplit = 300
        assert(bytes.length > 4 * maxSplit)
        val key = "spark.sql.files.maxPartitionBytes"
        val prior = spark.conf.getOption(key)
        spark.conf.set(key, maxSplit.toString)
        try {
          val read = spark.read.text(obj.getAbsolutePath)
          assert(read.rdd.getNumPartitions >= bytes.length / maxSplit)
          assert(read.as[String].collect().toSeq.sorted == lines.sorted)
        } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      }
    }

    it("a flush to a remote store is written by one task per object, not joined at commit") {
      withTempDir { tmp =>
        val work = tmp.getAbsolutePath
        import spark.implicits._
        val lines = (1 to 400).map(i => s"$i\tapp\tweb\t2020-11-26 00:01:05\tu$i")
        val df = lines.toDF("value").repartition(4)
          .withColumn("seq", split(col("value"), "\t").getItem(0))
          .withColumn("error", lit(null).cast("array<string>"))
        spark.sparkContext.hadoopConfiguration.set("fs.remotelike.impl", classOf[RemoteLikeFileSystem].getName)
        val base = config(work, Purpose.Raw, dateFormat = None)
        val cfg = base.copy(output = base.output.copy(s3 = base.output.s3.copy(path = s"remotelike://$work/out")))
        val result = Emitter.emitBatch(df, cfg, batchId = 0, now = Instant.parse("2021-04-30T12:00:00Z"))
        val obj = new java.net.URI(result.files.loneElement)
        assert(obj.getScheme == "remotelike")
        assert(new File(obj.getPath).getName == "pre-2021-04-30-120000-1-99.gz")
        // a single gzip member holds the whole flush
        assert(PipelineSpec.firstGzipMember(new File(obj.getPath)).sorted == lines.sorted)
      }
    }

    it("an enriched flush skips the earliest tstamp when the caller does not report it") {
      withTempDir { tmp =>
        val work = tmp.getAbsolutePath
        import spark.implicits._
        val df = Seq("1\tapp\tweb\t2020-11-26 00:01:05\tu1").toDF("value")
          .withColumn("seq", lit("1"))
          .withColumn("error", lit(null).cast("array<string>"))
        val result = Emitter.emitBatch(df, config(work, Purpose.Enriched), batchId = 0,
          now = Instant.parse("2021-04-30T12:00:00Z"), observeEarliest = false)
        assert(result.count == 1 && result.earliestTstamp.isEmpty && result.files.size == 1)
      }
    }

    it("an empty flush commits nothing and reports zero records") {
      withTempDir { tmp =>
        val work = tmp.getAbsolutePath
        import spark.implicits._
        val df = Seq.empty[String].toDF("value")
          .withColumn("seq", lit(null).cast("string"))
          .withColumn("error", lit(null).cast("array<string>"))
        val result = Emitter.emitBatch(df, config(work, Purpose.Enriched), batchId = 7,
          now = Instant.parse("2021-04-30T12:00:00Z"))
        assert(result == Emitter.BatchResult(0L, 0L, None, Nil))
        assert(listFilesRec(new File(s"$work/out")).isEmpty)
      }
    }
  }

  describe("Pipeline.runOnce (self-describing purpose)") {
    it("partitions by schema key with fallback buckets and dead-letters reading errors") {
      withTempDir { tmp =>
        val work = tmp.getAbsolutePath
        import spark.implicits._
        val now = Instant.parse("2021-04-30T12:00:00Z")
        val lines = Seq(
          """{"schema": "iglu:com.acme1/example1/jsonschema/2-0-1", "data": "a"}""",
          """{"schema": "iglu:com.acme1/example1/jsonschema/2-1-0", "data": "b"}""",
          """{"schema": "iglu:com.acme2/other/jsonschema/1-0-0", "data": "c"}""",
          """{"data": "no schema"}""",
          "not json at all")
        lines.toDF("value").coalesce(1).write.text(s"$work/in")

        val result = Pipeline.runOnce(spark, config(work, Purpose.SelfDescribingJson, dateFormat = None),
          checkpointDir = Some(s"$work/checkpoint"), now = Some(now))
        assert(result.batches.map(_.count).sum == 5)

        val files = listFilesRec(new File(s"$work/out")).filter(_.getName.endsWith(".gz"))
        val names = files.map(f => s"${f.getParentFile.getName}/${f.getName}").sorted
        // File name is prefix-partition-time-seqs and the SelfDescribing
        // partition contains '/' (vendor.name/format-model,
        // RowType.scala:28), so the prefix+vendor part becomes a
        // subdirectory: pre-com.acme1.example1/jsonschema-2-<time>-...
        assert(names.exists(_.startsWith("pre-com.acme1.example1/jsonschema-2-2021-04-30")))
        assert(names.exists(_.startsWith("pre-com.acme2.other/jsonschema-1-2021-04-30")))
        // unpartitioned bucket has no partition segment in the name
        assert(files.map(_.getName).exists(_.startsWith("pre-2021-04-30")))

        val contents = files.flatMap(f => s"gunzip -c ${f.getAbsolutePath}".!!.split("\n", -1).dropRight(1))
        assert(contents.size == 5 && contents.toSet == lines.toSet)
      }
    }
  }

  describe("Pipeline.runOnce (scalable naming mode)") {
    it("exactNaming=false writes the same content without the coalesce/rename") {
      withTempDir { tmp =>
        val work = tmp.getAbsolutePath
        import spark.implicits._
        val lines = (1 to 40).map(i => s"$i\tapp\tweb\t2020-11-26 00:01:05\tu$i")
        lines.toDF("value").repartition(4).write.text(s"$work/in")

        val result = Pipeline.runOnce(spark, config(work, Purpose.Raw, dateFormat = None),
          checkpointDir = Some(s"$work/checkpoint"), exactNaming = false,
          now = Some(Instant.parse("2021-04-30T12:00:00Z")))
        assert(result.batches.map(_.count).sum == 40)

        val files = listFilesRec(new File(s"$work/out")).filter(_.getName.endsWith(".gz"))
        // parallel naming: one file per writer task, each still
        // seq-range-named with a part suffix when multiple
        assert(files.nonEmpty)
        val contents = files.flatMap(f => s"gunzip -c ${f.getAbsolutePath}".!!.split("\n", -1).dropRight(1))
        assert(contents.sorted.toSeq == lines.sorted)
      }
    }

    it("a many-part-file batch commits through the executor-side rename fan-out") {
      withTempDir { tmp =>
        val work = tmp.getAbsolutePath
        import spark.implicits._
        val lines = (1 to 240).map(i => s"$i\tapp\tweb\t2020-11-26 00:01:05\tu$i")
        // a 24-partition batch frame stages 24 part files; forcing the
        // conf threshold to 16 (the local-FS default is 512 — a local
        // rename never amortizes a scheduler round-trip) sends the
        // commit's mkdirs/rename through the distributed path (the 100×
        // path); content and naming contract must be unchanged
        val df = lines.toDF("value").repartition(24)
          .withColumn("seq", split(col("value"), "\t").getItem(0).cast("long"))
          .withColumn("error", lit(null).cast("array<string>"))
        spark.conf.set("spark.graft.commit.fanOutThreshold", "16")
        val result =
          try Emitter.emitBatch(df, config(work, Purpose.Raw, dateFormat = None),
            batchId = 0, now = Instant.parse("2021-04-30T12:00:00Z"), exactNaming = false)
          finally spark.conf.unset("spark.graft.commit.fanOutThreshold")
        assert(result.count == 240)
        assert(result.files.size == 24)

        val files = listFilesRec(new File(s"$work/out")).filter(_.getName.endsWith(".gz"))
        assert(files.size == 24)
        assert(files.forall(_.getName.matches("pre-2021-04-30-120000-.*-part\\d{5}\\.gz")))
        val contents = files.flatMap(f => s"gunzip -c ${f.getAbsolutePath}".!!.split("\n", -1).dropRight(1))
        assert(contents.sorted.toSeq == lines.sorted)
      }
    }

    it("a replayed batch commit keeps already-committed objects untouched") {
      withTempDir { tmp =>
        val work = tmp.getAbsolutePath
        import spark.implicits._
        val lines = (1 to 40).map(i => s"$i\tapp\tweb\t2020-11-26 00:01:05\tu$i")
        val df = lines.toDF("value").repartition(4)
          .withColumn("seq", split(col("value"), "\t").getItem(0).cast("long"))
          .withColumn("error", lit(null).cast("array<string>"))
        def emit() = Emitter.emitBatch(df, config(work, Purpose.Raw, dateFormat = None),
          batchId = 0, now = Instant.parse("2021-04-30T12:00:00Z"), exactNaming = false)

        val first = emit()
        val committed = listFilesRec(new File(s"$work/out")).filter(_.getName.endsWith(".gz"))
          .map(f => f.getAbsolutePath -> f.lastModified).toMap
        // Replay the same batch (checkpoint recovery re-runs emitBatch
        // with identical inputs): every dest already exists, so the
        // move must KEEP the committed object — never a delete+rename
        // that a concurrent duplicate attempt could turn into data loss.
        val second = emit()
        assert(second.files.toSet == first.files.toSet)
        val after = listFilesRec(new File(s"$work/out")).filter(_.getName.endsWith(".gz"))
          .map(f => f.getAbsolutePath -> f.lastModified).toMap
        assert(after == committed) // same paths, same mtimes: kept, not rewritten
        val contents = after.keys.toSeq
          .flatMap(p => s"gunzip -c $p".!!.split("\n", -1).dropRight(1))
        assert(contents.sorted == lines.sorted)
      }
    }
  }

  describe("FileSource initial position") {
    it("TRIM_HORIZON / AT_TIMESTAMP / LATEST select three different record sets") {
      withTempDir { tmp =>
        val root = tmp.getAbsolutePath
        val now = Instant.now()

        def stage(work: String): Unit = {
          Files.createDirectories(new File(s"$work/in").toPath)
          def put(name: String, content: String, mtime: Instant): Unit = {
            val p = new File(s"$work/in/$name").toPath
            Files.write(p, (content + "\n").getBytes("UTF-8"))
            Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.from(mtime))
          }
          put("a.txt", "old", now.minusSeconds(7200))
          put("b.txt", "mid", now.minusSeconds(1800))
          // future mtime: deterministically "arrives after" LATEST's start
          put("c.txt", "new", now.plusSeconds(3600))
        }

        def run(name: String, pos: InitialPosition): Set[String] = {
          val work = s"$root/$name"
          stage(work)
          val cfg = config(work, Purpose.Raw, dateFormat = None)
          val posCfg = cfg.copy(input = cfg.input.copy(position = pos))
          Pipeline.runOnce(spark, posCfg, checkpointDir = Some(s"$work/checkpoint"),
            now = Some(Instant.parse("2021-04-30T12:00:00Z")))
          listFilesRec(new File(s"$work/out")).filter(_.getName.endsWith(".gz"))
            .flatMap(f => s"gunzip -c ${f.getAbsolutePath}".!!.split("\n", -1).dropRight(1))
            .toSet
        }

        assert(run("th", InitialPosition.TrimHorizon) == Set("old", "mid", "new"))
        assert(run("at", InitialPosition.AtTimestamp(now.minusSeconds(3600))) == Set("mid", "new"))
        assert(run("lt", InitialPosition.Latest) == Set("new"))
      }
    }

    it("LATEST's cutoff survives a restart: files arriving during downtime are kept") {
      withTempDir { tmp =>
        val work = tmp.getAbsolutePath
        Files.createDirectories(new File(s"$work/in").toPath)
        val cfg0 = config(work, Purpose.Raw, dateFormat = None)
        val cfg = cfg0.copy(input = cfg0.input.copy(position = InitialPosition.Latest))

        // first start: cutoff decided and persisted; a future-mtime file passes
        val p1 = new File(s"$work/in/a.txt").toPath
        Files.write(p1, "while-up\n".getBytes("UTF-8"))
        Files.setLastModifiedTime(p1,
          java.nio.file.attribute.FileTime.from(Instant.now().plusSeconds(3600)))
        val r1 = Pipeline.runOnce(spark, cfg, checkpointDir = Some(s"$work/checkpoint"),
          now = Some(Instant.parse("2021-04-30T12:00:00Z")))
        assert(r1.batches.map(_.count).sum == 1)

        // downtime: a file arrives with mtime AFTER the original cutoff
        // but BEFORE the restart instant — a re-evaluated now() filter
        // would drop it while the checkpoint commits it (data loss)
        Thread.sleep(5)
        val p2 = new File(s"$work/in/b.txt").toPath
        Files.write(p2, "while-down\n".getBytes("UTF-8"))
        val r2 = Pipeline.runOnce(spark, cfg, checkpointDir = Some(s"$work/checkpoint"),
          now = Some(Instant.parse("2021-04-30T13:00:00Z")))
        assert(r2.batches.map(_.count).sum == 1, "downtime arrival must be processed")
      }
    }
  }

  describe("FileSource byte-limit admission") {
    it("a small buffer.byteLimit splits the drain into multiple flushes") {
      withTempDir { tmp =>
        val work = tmp.getAbsolutePath
        Files.createDirectories(new File(s"$work/in").toPath)
        (1 to 4).foreach { i =>
          Files.write(new File(s"$work/in/f$i.txt").toPath,
            s"record-number-$i-padded-to-some-bytes\n".getBytes("UTF-8"))
        }
        val base = config(work, Purpose.Raw, dateFormat = None)
        val cfg = base.copy(buffer = base.buffer.copy(byteLimit = 10))
        val result = Pipeline.runOnce(spark, cfg, checkpointDir = Some(s"$work/checkpoint"),
          now = Some(Instant.parse("2021-04-30T12:00:00Z")))
        // 10-byte cap < any file: each flush admits exactly one file
        assert(result.batches.map(_.count).sum == 4)
        assert(result.batches.size == 4)
      }
    }
  }

  describe("Pipeline checkpoint resume (exactly-once upgrade, SURVEY §4.2)") {
    it("a restarted drain with the same checkpoint processes only NEW files") {
      withTempDir { tmp =>
        val work = tmp.getAbsolutePath
        import spark.implicits._
        val now = Instant.parse("2021-04-30T12:00:00Z")
        Files.createDirectories(new File(s"$work/in").toPath)
        Files.write(new File(s"$work/in/a.txt").toPath, "first\n".getBytes("UTF-8"))

        val cfg = config(work, Purpose.Raw, dateFormat = None)
        val r1 = Pipeline.runOnce(spark, cfg, checkpointDir = Some(s"$work/checkpoint"), now = Some(now))
        assert(r1.batches.map(_.count).sum == 1)

        // second drain, same checkpoint, nothing new → zero records
        val r2 = Pipeline.runOnce(spark, cfg, checkpointDir = Some(s"$work/checkpoint"), now = Some(now))
        assert(r2.batches.map(_.count).sum == 0)

        // new file arrives → only it is processed (no reprocessing of a.txt)
        Files.write(new File(s"$work/in/b.txt").toPath, "second\n".getBytes("UTF-8"))
        val r3 = Pipeline.runOnce(spark, cfg, checkpointDir = Some(s"$work/checkpoint"),
          now = Some(Instant.parse("2021-04-30T13:00:00Z")))
        assert(r3.batches.map(_.count).sum == 1)

        // total output across the three drains = each record exactly once
        val contents = listFilesRec(new File(s"$work/out")).filter(_.getName.endsWith(".gz"))
          .flatMap(f => s"gunzip -c ${f.getAbsolutePath}".!!.split("\n", -1).dropRight(1))
        assert(contents.sorted == Seq("first", "second"))
      }
    }
  }

  describe("Pipeline gzip input ingestion") {
    it("drains its own gzip output as input (self round-trip)") {
      withTempDir { tmp =>
        val work = tmp.getAbsolutePath
        import spark.implicits._
        val now = Instant.parse("2021-04-30T12:00:00Z")
        val lines = (1 to 20).map(i => s"rec-$i")
        lines.toDF("value").coalesce(1).write.text(s"$work/in")

        // first pass: text in → gzip out
        val cfg1 = config(work, Purpose.Raw, dateFormat = None)
        Pipeline.runOnce(spark, cfg1, checkpointDir = Some(s"$work/checkpoint1"), now = Some(now))
        val gzFiles = listFilesRec(new File(s"$work/out")).filter(_.getName.endsWith(".gz"))
        assert(gzFiles.nonEmpty)

        // second pass: the GZIP OUTPUT is the input (Spark's text source
        // decompresses by extension — the engine ingests its own object
        // format without any config)
        val cfg2 = PipelineConfig(
          region = None, purpose = Purpose.Raw,
          input = InputConfig("graft-test2", s"$work/out", InitialPosition.TrimHorizon, 100),
          output = OutputConfig(
            S3OutputConfig(s"$work/out2", None, Some("pre"), Compression.Gzip, 10000),
            BadOutputConfig(s"$work/bad2")),
          buffer = BufferConfig(1 << 20, 1000, 0),
          monitoring = None)
        val r2 = Pipeline.runOnce(spark, cfg2, checkpointDir = Some(s"$work/checkpoint2"), now = Some(now))
        assert(r2.batches.map(_.count).sum == 20)
        val contents = listFilesRec(new File(s"$work/out2")).filter(_.getName.endsWith(".gz"))
          .flatMap(f => s"gunzip -c ${f.getAbsolutePath}".!!.split("\n", -1).dropRight(1))
        assert(contents.sorted.toSeq == lines.sorted)
      }
    }
  }

  describe("Emitter bad-row channel") {
    it("routes upstream-failed records to the dead letter dir as GenericError JSON") {
      withTempDir { tmp =>
        val work = tmp.getAbsolutePath
        import spark.implicits._
        val df = Seq(
          ("good line", null),
          ("bad line", Seq("Error writing raw event to output stream. simulated")))
          .toDF("value", "error")
          .withColumn("seq", lit("0"))
        val result = Emitter.emitBatch(df, config(work, Purpose.Raw, None), batchId = 0,
          now = Instant.parse("2021-04-30T12:00:00Z"))
        assert(result.count == 2 && result.badCount == 1)

        val badFiles = listFilesRec(new File(s"$work/bad"))
          .filter(_.getName.startsWith("part-"))
        val rows = badFiles.flatMap(f => Files.readAllLines(f.toPath).toArray.toSeq.map(_.toString))
        assert(rows.size == 1)
        val json = rows.head
        assert(json.contains(""""artifact":"graft""""))
        assert(json.contains(""""errors":["Error writing raw event to output stream. simulated"]"""))
        val b64 = java.util.Base64.getEncoder.encodeToString("bad line".getBytes("UTF-8"))
        assert(json.contains(s""""payload":"$b64""""))
      }
    }
  }
}

object PipelineSpec {

  /** The lines of a gzip file's first member only: the whole content
    * exactly when one task wrote the object. */
  def firstGzipMember(f: File): Seq[String] = {
    val in = new org.apache.commons.compress.compressors.gzip.GzipCompressorInputStream(
      new java.io.BufferedInputStream(new java.io.FileInputStream(f)), false)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toSeq.toList
    finally in.close()
  }
}

/** The local file system under a scheme of its own, standing in for a
  * remote object store in specs. */
class RemoteLikeFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("remotelike:///")
  override def getScheme: String = "remotelike"
}
