package graft.pipeline

import scala.collection.concurrent.TrieMap

/** Serializer plug-in seam (reference `S3Loader.scala:41-44` selects the
  * serializer by `output.s3.compression`; `LzoSerializer.scala:29-65` is
  * the plug-in this build cannot ship because the hadoop-lzo native
  * codec is absent offline).
  *
  * The engine's serializers ride Spark's text writer, so a codec is just
  * (writer `compression` option value, file extension, optional
  * post-commit hook). GZIP is registered out of the box; an LZO adapter
  * registers `com.hadoop.compression.lzo.LzopCodec` + ".lzo" + an
  * index-writing post-commit (for the reference's `.lzo.index` pair,
  * `LzoSerializer.scala:42-60`) when its jar is on the classpath —
  * a drop-in, not an engine edit.
  */
object Serializers {

  /** @param codecValue value for the Spark text writer's `compression`
    *                   option — a short name ("gzip") or a Hadoop
    *                   `CompressionCodec` class name
    * @param extension  final-object extension including the dot (".gz")
    * @param postCommit called once per committed object with
    *                   (hadoopConf, final path) — e.g. LZO index writing.
    *                   A codec WITH a hook gets each object written by
    *                   one task; one without (gzip, bzip2: multi-member
    *                   formats) may have a one-row-type flush written
    *                   from every partition and its parts joined into
    *                   the object at commit (see [[Emitter]]), since an
    *                   index such as LZO's covers one stream only.
    */
  final case class Codec(
    codecValue: String,
    extension: String,
    postCommit: Option[(org.apache.hadoop.conf.Configuration, org.apache.hadoop.fs.Path) => Unit] = None)

  private val registry = TrieMap[Compression, Codec](
    Compression.Gzip -> Codec("gzip", ".gz"),
    // Hadoop's built-in pure-Java bzip2 — SPLITTABLE like indexed LZO
    // (a 100 TB re-read parallelizes over blocks of one object without
    // a sidecar index), and a second real codec through this registry.
    Compression.Bzip2 -> Codec("bzip2", ".bz2"))

  /** Register (or replace) the codec for a compression mode. */
  def register(compression: Compression, codec: Codec): Unit =
    registry.put(compression, codec)

  def unregister(compression: Compression): Unit =
    registry.remove(compression)

  def resolve(compression: Compression): Either[String, Codec] =
    registry.get(compression).toRight(
      s"No serializer registered for $compression — register one via Serializers.register " +
        "(LZO needs the hadoop-lzo codec jar; SURVEY §7.5.3)")
}
