package graft.pipeline

import java.io.File
import java.nio.file.Files
import java.time.Instant
import scala.sys.process._

import graft.SparkSpec

/** The serializer plug-in seam: an unregistered compression fails with a
  * readable message; a registered codec (here a stand-in "LZO" that
  * really rides the JVM's gzip codec, since hadoop-lzo's native part is
  * absent offline) flows through the emitter — writer option, final
  * extension, and post-commit hook (the reference's `.lzo.index` slot,
  * LzoSerializer.scala:42-60) — with no Emitter change.
  */
class SerializersSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  private def config(work: String) = PipelineConfig(
    region = None,
    purpose = Purpose.Raw,
    input = InputConfig("graft-test", s"$work/in", InitialPosition.TrimHorizon, maxRecords = 100),
    output = OutputConfig(
      S3OutputConfig(s"$work/out", None, Some("pre"), Compression.Lzo, 10000),
      BadOutputConfig(s"$work/bad")),
    buffer = BufferConfig(1 << 20, 1000, 0),
    monitoring = None)

  describe("Serializers registry") {
    it("rejects unregistered compressions with a registration hint, then accepts a drop-in") {
      withTempDir { tmp =>
        val work = tmp.getAbsolutePath
        import spark.implicits._
        val df = Seq("one", "two").toDF("value")
          .withColumn("seq", lit("0"))
          .withColumn("error", lit(null).cast("array<string>"))

        // Before registration: the emit fails like the reference's
        // startup serializer selection would.
        val err = intercept[IllegalStateException] {
          Emitter.emitBatch(df, config(work), batchId = 0,
            now = Instant.parse("2021-04-30T12:00:00Z"))
        }
        assert(err.getMessage.contains("No serializer registered"))

        // Drop-in codec: gzip-backed stand-in under the LZO slot, with a
        // post-commit hook writing the index side-file.
        Serializers.register(Compression.Lzo, Serializers.Codec(
          codecValue = "org.apache.hadoop.io.compress.GzipCodec",
          extension = ".lzo.test",
          postCommit = Some { (conf, path) =>
            val fs = path.getFileSystem(conf)
            fs.create(new org.apache.hadoop.fs.Path(path.toString + ".index")).close()
          }))
        try {
          val result = Emitter.emitBatch(df, config(work), batchId = 0,
            now = Instant.parse("2021-04-30T12:00:00Z"))
          assert(result.count == 2 && result.badCount == 0)
          val files = result.files.map(new File(_))
          assert(files.nonEmpty && files.forall(_.getName.endsWith(".lzo.test")))
          files.foreach { f =>
            assert(new File(f.getAbsolutePath + ".index").exists(), "post-commit index missing")
            val out = s"gunzip -c ${f.getAbsolutePath}".!!
            assert(out.split("\n", -1).dropRight(1).toSet == Set("one", "two"))
          }
        } finally {
          // restore the registry's offline default (unregistered LZO)
          // for any spec running after this one
          Serializers.unregister(Compression.Lzo)
        }
      }
    }

    it("a codec with a post-commit hook writes each object from one task, not joined from parts") {
      withTempDir { tmp =>
        val work = tmp.getAbsolutePath
        import spark.implicits._
        val lines = (1 to 200).map(i => s"line-$i")
        val df = lines.toDF("value").repartition(4)
          .withColumn("seq", lit("0"))
          .withColumn("error", lit(null).cast("array<string>"))
        // a gzip-backed stand-in whose hook indexes the object, as an
        // indexed-LZO plug-in's would (its index covers one stream)
        val hooked = new java.util.concurrent.ConcurrentLinkedQueue[String]()
        Serializers.register(Compression.Lzo, Serializers.Codec(
          codecValue = "org.apache.hadoop.io.compress.GzipCodec", extension = ".lzo.test",
          postCommit = Some((_, path) => { hooked.add(path.toUri.getPath); () })))
        try {
          val result = Emitter.emitBatch(df, config(work), batchId = 0,
            now = Instant.parse("2021-04-30T12:00:00Z"))
          assert(result.count == 200)
          // more than one staged part would commit as `-partNNNNN` objects
          assert(result.files.map(new File(_).getName) == Seq("pre-2021-04-30-120000-0-0.lzo.test"))
          import scala.jdk.CollectionConverters._
          assert(hooked.asScala.toSeq == result.files.map(new File(_).getAbsolutePath))
          // one gzip member holds every line: one task wrote the object
          assert(PipelineSpec.firstGzipMember(new File(result.files.head)).sorted == lines.sorted)
        } finally Serializers.unregister(Compression.Lzo)
      }
    }
  }
}
