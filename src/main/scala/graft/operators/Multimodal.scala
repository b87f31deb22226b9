package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) column handling: payloads are opaque
  * `binary` columns with a typed metadata struct, processed per-partition
  * in batches — the Spark-side plumbing (schema, partitioning, iterator
  * batch shape) a production media pipeline needs.
  *
  * All three decode paths are REAL, on JDK-only codecs:
  *  - image: [[ImageCodec]] — PNG/BMP/JPEG/GIF via `javax.imageio`,
  *    raster pixel statistics, `Graphics2D` resize;
  *  - audio: [[AudioCodec]] — WAV/AU/AIFF via `javax.sound.sampled`,
  *    16-bit PCM sample statistics over channel 0 (non-PCM payloads are
  *    converted when the JDK supports the conversion);
  *  - video: [[VideoCodec]] — multi-frame containers (animated GIF is
  *    the JDK-native one) via the `ImageIO` sequence reader: real frame
  *    count, every-k-th frame sampling under a cap, pixel statistics
  *    over the sampled frames only.
  *
  * A payload that does not parse falls back to [[ByteStats]] byte-level
  * stats plus metadata-derived dimensions, so feature extraction is
  * total. A production deployment swaps stronger codecs (e.g. FFmpeg
  * bindings) into the same per-partition decode seam.
  */
object Multimodal {

  // ImageIO defaults to a DISK-backed cache file per input stream — a
  // temp-file create+delete for every payload, including every failed
  // decode probe on non-image bytes (q29's totality path pays it for
  // all rows). Payloads here are always in-memory byte arrays, so the
  // memory cache is strictly better at any scale. Set once per JVM, at
  // the object level so both ImageCodec and VideoCodec (which also
  // calls createImageInputStream) see it regardless of init order.
  javax.imageio.ImageIO.setUseCache(false)

  /** media row schema: payload + typed metadata (the pattern: keep bytes
    * opaque, type the envelope). */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false), // image | audio | video
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("sample_rate", IntegerType, nullable = true),
      StructField("n_frames", IntegerType, nullable = true))), nullable = true)))

  val featureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("byte_sum", LongType, nullable = false),
    StructField("byte_min", IntegerType, nullable = false),
    StructField("byte_max", IntegerType, nullable = false),
    StructField("n_pixels", LongType, nullable = true),
    StructField("frames_sampled", IntegerType, nullable = true),
    StructField("resized_w", IntegerType, nullable = true),
    StructField("resized_h", IntegerType, nullable = true),
    // real-decode columns (null when the payload isn't decodable).
    // decoded_w/h + px_* are shared by the image path (whole raster) and
    // the video path (sampled frames). Channel contract per modality:
    // image stats read raster BAND 0 (gray for grayscale, red for RGB);
    // video stats read the palette-resolved LOW BYTE of getRGB (gray for
    // grayscale, blue for color) — identical on grayscale media (all
    // synthetic corpora), divergent on color payloads by design: a GIF
    // raster's band 0 is a palette index, not a pixel value.
    StructField("decoded_w", IntegerType, nullable = true),
    StructField("decoded_h", IntegerType, nullable = true),
    StructField("px_min", IntegerType, nullable = true),
    StructField("px_max", IntegerType, nullable = true),
    StructField("px_sum", LongType, nullable = true),
    // audio real-decode columns
    StructField("sample_rate", IntegerType, nullable = true),
    StructField("n_samples", LongType, nullable = true),
    StructField("smp_min", IntegerType, nullable = true),
    StructField("smp_max", IntegerType, nullable = true),
    StructField("smp_sum", LongType, nullable = true),
    StructField("duration_ms", LongType, nullable = true),
    // video real-decode: the container's true frame count (frames_sampled
    // above is how many of them the sampler actually read)
    StructField("n_frames", IntegerType, nullable = true)))

  /** REAL image codec on the JDK's javax.imageio — no external deps.
    * Pixel statistics read band 0 of the decoded raster (the gray
    * channel for grayscale images; red for RGB — deterministic either
    * way); resize is a real `Graphics2D` nearest-neighbor rescale.
    */
  object ImageCodec {
    import java.awt.image.BufferedImage
    import java.io.ByteArrayInputStream

    // ImageIO wraps every read/write stream in a DISK-backed
    // FileCacheImage{Input,Output}Stream by default — a temp file
    // created, written and deleted per codec call. All payloads here are
    // in-memory byte arrays (a few KB), so the file cache is pure
    // syscall overhead at corpus scale: switch the JVM to memory-backed
    // stream caches once. Answer-invariant (same decoded bytes).
    javax.imageio.ImageIO.setUseCache(false)

    final case class Decoded(width: Int, height: Int, pxMin: Int, pxMax: Int, pxSum: Long)

    def decode(payload: Array[Byte]): Option[BufferedImage] =
      if (payload == null || payload.isEmpty) None
      else try Option(javax.imageio.ImageIO.read(new ByteArrayInputStream(payload)))
      catch { case _: Exception => None }

    def stats(img: BufferedImage): Decoded = {
      val raster = img.getRaster
      val (w, h) = (img.getWidth, img.getHeight)
      var mn = Int.MaxValue
      var mx = Int.MinValue
      var sum = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val v = raster.getSample(x, y, 0)
          if (v < mn) mn = v
          if (v > mx) mx = v
          sum += v
          x += 1
        }
        y += 1
      }
      Decoded(w, h, mn, mx, sum)
    }

    /** Aspect-preserving resize to `targetW` (floor division, min height
      * 1 — the same dims contract as the stub's arithmetic). */
    def resize(img: BufferedImage, targetW: Int): BufferedImage = {
      val targetH = math.max(1, img.getHeight * targetW / img.getWidth)
      val out = new BufferedImage(targetW, targetH, BufferedImage.TYPE_BYTE_GRAY)
      val g = out.createGraphics()
      try {
        g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_NEAREST_NEIGHBOR)
        g.drawImage(img, 0, 0, targetW, targetH, null)
      } finally g.dispose()
      out
    }

    /** Deterministic 8-bit grayscale PNG: pixel(x, y) = f(x, y). Used by
      * the synthetic-image generator and golden tests (PNG gray is
      * lossless, so decode returns exactly these samples). */
    def encodeGrayPng(width: Int, height: Int)(f: (Int, Int) => Int): Array[Byte] = {
      val img = new BufferedImage(width, height, BufferedImage.TYPE_BYTE_GRAY)
      val raster = img.getRaster
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) { raster.setSample(x, y, 0, f(x, y) & 0xff); x += 1 }
        y += 1
      }
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }

    /** 64-bit difference hash (dHash) — the standard perceptual
      * image fingerprint: the decoded raster collapses to a 9×8 grid of
      * EXACT integer box means (cell (r, c) covers x ∈ [c·w/9,
      * (c+1)·w/9), y ∈ [r·h/8, (r+1)·h/8), floor boundaries — no
      * interpolation, so the reduction is replayable arithmetic, unlike
      * `Graphics2D` scaling whose filter kernels are
      * implementation-defined), then bit r·8+c = 1 iff mean(r, c+1) >
      * mean(r, c). Horizontal gradients survive re-encoding, scaling,
      * and small brightness shifts; hamming distance between hashes is
      * the near-dup signal. Band-0 contract like [[stats]]; degenerate
      * cells of images narrower than the grid read as mean 0. */
    def dhash64(img: BufferedImage): Long = {
      val raster = img.getRaster
      val (w, h) = (img.getWidth, img.getHeight)
      val means = Array.ofDim[Long](8, 9)
      var r = 0
      while (r < 8) {
        var c = 0
        while (c < 9) {
          val x0 = c * w / 9; val x1 = (c + 1) * w / 9
          val y0 = r * h / 8; val y1 = (r + 1) * h / 8
          var sum = 0L
          var n = 0
          var y = y0
          while (y < y1) {
            var x = x0
            while (x < x1) { sum += raster.getSample(x, y, 0); n += 1; x += 1 }
            y += 1
          }
          means(r)(c) = if (n == 0) 0L else sum / n
          c += 1
        }
        r += 1
      }
      var fp = 0L
      r = 0
      while (r < 8) {
        var c = 0
        while (c < 8) {
          if (means(r)(c + 1) > means(r)(c)) fp |= 1L << (r * 8 + c)
          c += 1
        }
        r += 1
      }
      fp
    }
  }

  /** REAL audio codec on the JDK's `javax.sound.sampled` — no external
    * deps. Decodes WAV (and AU/AIFF) containers; payloads not already
    * 16-bit signed PCM are converted when the JDK supports the
    * conversion. Statistics are over CHANNEL 0's 16-bit samples (the
    * same band-0 contract as the image path).
    */
  object AudioCodec {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    import java.io.ByteArrayInputStream

    final case class Decoded(sampleRate: Int, nSamples: Long,
                             smpMin: Int, smpMax: Int, smpSum: Long) {
      /** floor-division milliseconds — mirrors the SQL oracle's `//`. */
      def durationMs: Long = if (sampleRate <= 0) 0L else nSamples * 1000L / sampleRate
    }

    /** The JDK's registered audio container parsers, resolved ONCE per
      * JVM: `AudioSystem.getAudioInputStream` re-scans the provider
      * registry under a lock on every call, which serializes a 32-core
      * decode stage (measured on the q54 corpus). Holding the provider
      * handles is the per-partition-init discipline the mapPartitions
      * seam documents — and each parser is the same real JDK decoder.
      */
    private lazy val fileReaders: List[javax.sound.sampled.spi.AudioFileReader] = {
      val it = java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileReader]).iterator()
      val b = List.newBuilder[javax.sound.sampled.spi.AudioFileReader]
      while (it.hasNext) b += it.next()
      b.result()
    }

    private def parseContainer(payload: Array[Byte]): Option[AudioInputStream] =
      fileReaders.iterator.flatMap { r =>
        try Option(r.getAudioInputStream(new ByteArrayInputStream(payload)))
        catch { case _: Exception => None }
      }.take(1).toList.headOption

    def decode(payload: Array[Byte]): Option[Decoded] =
      if (payload == null || payload.isEmpty) None
      else try {
        val raw = parseContainer(payload).getOrElse(return None)
        val pcm16 = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
          raw.getFormat.getSampleRate, 16, raw.getFormat.getChannels,
          raw.getFormat.getChannels * 2, raw.getFormat.getSampleRate, false)
        val ais =
          if (raw.getFormat.matches(pcm16)) raw
          else AudioSystem.getAudioInputStream(pcm16, raw)
        try Some(channel0Stats(ais))
        finally ais.close()
      } catch { case _: Exception => None }

    private def channel0Stats(ais: AudioInputStream): Decoded = {
      val fmt = ais.getFormat
      val frameSize = fmt.getFrameSize // bytes per frame, all channels
      val buf = new Array[Byte](frameSize * 1024)
      var n = 0L
      var mn = Int.MaxValue
      var mx = Int.MinValue
      var sum = 0L
      var carry = 0 // bytes of an incomplete trailing frame in buf
      var read = ais.read(buf, carry, buf.length - carry)
      while (read > 0) {
        val avail = carry + read
        val whole = avail - avail % frameSize
        var off = 0
        while (off < whole) {
          // channel 0 = first 16-bit little-endian sample of the frame
          val s = ((buf(off) & 0xff) | (buf(off + 1) << 8)).toShort.toInt
          if (s < mn) mn = s
          if (s > mx) mx = s
          sum += s
          n += 1
          off += frameSize
        }
        carry = avail - whole
        var i = 0
        while (i < carry) { buf(i) = buf(whole + i); i += 1 }
        read = ais.read(buf, carry, buf.length - carry)
      }
      if (n == 0) Decoded(fmt.getSampleRate.toInt, 0L, 0, 0, 0L)
      else Decoded(fmt.getSampleRate.toInt, n, mn, mx, sum)
    }

    /** Decode channel 0 into the raw 16-bit sample array (same container
      * parsing and PCM conversion as [[decode]]), capped at `maxSamples`
      * — fingerprinting needs the waveform itself, not just aggregates.
      * The cap bounds executor memory against a pathological container
      * header (a 4 GiB-claiming WAV must not allocate 4 GiB): 2^22
      * samples = 8 MiB, ~4 min of 16 kHz audio, and [[energyHash64]]'s
      * coarse 65-frame grid is insensitive to tail truncation beyond it.
      */
    def decodeSamples(payload: Array[Byte], maxSamples: Int = 1 << 22): Option[Array[Int]] =
      if (payload == null || payload.isEmpty) None
      else try {
        val raw = parseContainer(payload).getOrElse(return None)
        val pcm16 = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
          raw.getFormat.getSampleRate, 16, raw.getFormat.getChannels,
          raw.getFormat.getChannels * 2, raw.getFormat.getSampleRate, false)
        val ais =
          if (raw.getFormat.matches(pcm16)) raw
          else AudioSystem.getAudioInputStream(pcm16, raw)
        try {
          val frameSize = ais.getFormat.getFrameSize
          val buf = new Array[Byte](frameSize * 1024)
          val out = Array.newBuilder[Int]
          var n = 0
          var carry = 0
          var read = ais.read(buf, carry, buf.length - carry)
          while (read > 0 && n < maxSamples) {
            val avail = carry + read
            val whole = avail - avail % frameSize
            var off = 0
            while (off < whole && n < maxSamples) {
              out += ((buf(off) & 0xff) | (buf(off + 1) << 8)).toShort.toInt
              n += 1
              off += frameSize
            }
            carry = avail - whole
            var i = 0
            while (i < carry) { buf(i) = buf(whole + i); i += 1 }
            read = ais.read(buf, carry, buf.length - carry)
          }
          Some(out.result())
        } finally ais.close()
      } catch { case _: Exception => None }

    /** 64-bit audio energy-delta hash — [[ImageCodec.dhash64]]'s
      * contract on a waveform: channel 0 collapses to 65 equal frames
      * (frame f covers samples [f·n/65, (f+1)·n/65), floor boundaries —
      * exact integer arithmetic, replayable in SQL), each frame reduces
      * to its mean |sample|, and bit f = 1 iff mean(f+1) > mean(f).
      * Means are compared as EXACT RATIONALS by cross-multiplication
      * (`sum(f+1)·n(f) > sum(f)·n(f+1)` — a floor-divided mean would
      * lose ties, and with them the invariance below; empty frames of
      * clips shorter than 65 samples read as the exact mean 0). The
      * gradient-of-energy envelope is therefore EXACTLY invariant under
      * uniform integer gain (both products scale by g — spec-pinned),
      * and hamming distance between hashes is the near-dup signal for
      * re-encoded / re-amplified copies. No overflow under
      * [[decodeSamples]]'s cap: sum ≤ 2^22·2^15 and n ≤ 2^22 keep the
      * products under 2^59.
      */
    def energyHash64(samples: Array[Int]): Long = {
      val n = samples.length
      val sums = new Array[Long](65)
      val cnts = new Array[Long](65)
      var f = 0
      while (f < 65) {
        val lo = f * n / 65
        val hi = (f + 1) * n / 65
        var sum = 0L
        var i = lo
        while (i < hi) { sum += math.abs(samples(i).toLong); i += 1 }
        sums(f) = sum
        cnts(f) = if (hi == lo) 1L else (hi - lo).toLong // sum 0, n 1 = exact mean 0
        f += 1
      }
      var fp = 0L
      f = 0
      while (f < 64) {
        if (sums(f + 1) * cnts(f) > sums(f) * cnts(f + 1)) fp |= 1L << f
        f += 1
      }
      fp
    }

    /** Deterministic 16-bit mono PCM WAV: sample(i) = f(i) (clamped to
      * short range). Used by the synthetic-audio generator and golden
      * tests — PCM is lossless, so decode returns exactly these samples.
      *
      * The canonical 44-byte RIFF/WAVE header is written by hand rather
      * than through `AudioSystem.write`: the javax.sound provider
      * registry serializes concurrent callers (measured: 5 000 writes
      * got SLOWER on 32 cores than on one), and the round-trip's point
      * is that the REAL registry-backed decoder reads these bytes —
      * which [[decode]] still proves.
      */
    def encodePcm16Wav(sampleRate: Int, nSamples: Int)(f: Int => Int): Array[Byte] = {
      val dataLen = nSamples * 2
      val out = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      out.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1) // PCM
        .putShort(1) // mono
        .putInt(sampleRate)
        .putInt(sampleRate * 2) // byte rate
        .putShort(2)            // block align
        .putShort(16)           // bits per sample
        .put("data".getBytes("US-ASCII")).putInt(dataLen)
      var i = 0
      while (i < nSamples) {
        out.putShort(math.max(Short.MinValue, math.min(Short.MaxValue, f(i))).toShort)
        i += 1
      }
      out.array()
    }
  }

  /** REAL video codec on the `ImageIO` sequence reader — no external
    * deps. Animated GIF is the JDK-native multi-frame container; any
    * registered multi-frame `ImageReader` works through the same path.
    * Samples every k-th frame up to a cap (the standard training-data
    * frame-sampling shape: never decode all frames of a long video) and
    * computes pixel statistics over the SAMPLED frames only, reading
    * values through `getRGB` (palette-resolved) for determinism across
    * indexed and gray rasters.
    */
  object VideoCodec {
    import java.io.ByteArrayInputStream

    // Same memory-backed stream-cache switch as ImageCodec (a caller may
    // touch only this object; the JVM-global flag is idempotent).
    javax.imageio.ImageIO.setUseCache(false)

    final case class Decoded(nFrames: Int, framesSampled: Int, width: Int, height: Int,
                             pxMin: Int, pxMax: Int, pxSum: Long)

    def decodeFrames(payload: Array[Byte], everyK: Int, cap: Int): Option[Decoded] = {
      require(everyK >= 1, s"everyK must be >= 1, got $everyK")
      // cap <= 0 would skip the sampling loop entirely and return a
      // Decoded full of sentinel stats (pxMin=MaxValue…) masquerading
      // as real values — fail loudly instead
      require(cap >= 1, s"cap must be >= 1, got $cap")
      if (payload == null || payload.isEmpty) return None
      var iis: javax.imageio.stream.ImageInputStream = null
      try {
        iis = javax.imageio.ImageIO.createImageInputStream(new ByteArrayInputStream(payload))
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) return None
        val reader = readers.next()
        try {
          reader.setInput(iis)
          val n = reader.getNumImages(true)
          if (n <= 0) return None
          var mn = Int.MaxValue
          var mx = Int.MinValue
          var sum = 0L
          var sampled = 0
          var w = 0
          var h = 0
          var idx = 0
          while (idx < n && sampled < cap) {
            val img = reader.read(idx)
            w = img.getWidth
            h = img.getHeight
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val v = img.getRGB(x, y) & 0xff // gray: R==G==B
                if (v < mn) mn = v
                if (v > mx) mx = v
                sum += v
                x += 1
              }
              y += 1
            }
            sampled += 1
            idx += everyK
          }
          Some(Decoded(n, sampled, w, h, mn, mx, sum))
        } finally reader.dispose()
      } catch { case _: Exception => None }
      finally if (iis != null) iis.close()
    }

    /** Deterministic multi-frame grayscale GIF: frame `fr` pixel(x, y) =
      * f(fr, x, y). Frames are TYPE_BYTE_INDEXED over an identity
      * 256-gray palette so the GIF encoder stores the exact values (no
      * web-palette quantization) and decode round-trips losslessly.
      */
    def encodeGrayGif(width: Int, height: Int, nFrames: Int)(f: (Int, Int, Int) => Int): Array[Byte] = {
      import java.awt.image.{BufferedImage, IndexColorModel}
      val grays = Array.tabulate[Byte](256)(_.toByte)
      val cm = new IndexColorModel(8, 256, grays, grays, grays)
      val baos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
      try {
        writer.setOutput(ios)
        // the JDK GIF writer defaults to INTERLACED frames, which its own
        // reader mis-rounds-trips on small rasters — write sequential
        val param = writer.getDefaultWriteParam
        param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DISABLED)
        writer.prepareWriteSequence(null)
        var fr = 0
        while (fr < nFrames) {
          val img = new BufferedImage(width, height, BufferedImage.TYPE_BYTE_INDEXED, cm)
          val raster = img.getRaster
          var y = 0
          while (y < height) {
            var x = 0
            while (x < width) { raster.setSample(x, y, 0, f(fr, x, y) & 0xff); x += 1 }
            y += 1
          }
          writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), param)
          fr += 1
        }
        writer.endWriteSequence()
      } finally {
        writer.dispose()
        ios.close()
      }
      baos.toByteArray
    }
  }

  /** Byte-level fallback when a payload doesn't parse in any codec (and
    * the metadata-arithmetic stand-ins for dimensions/frame counts when
    * only the envelope is trustworthy). Keeps feature extraction TOTAL:
    * every row gets byte stats even when decode fails.
    */
  object ByteStats {
    /** Byte-stream stats: (n_bytes, byte_sum, byte_min, byte_max). */
    def decode(payload: Array[Byte]): (Long, Long, Int, Int) = {
      var sum = 0L
      var mn = 255
      var mx = 0
      var i = 0
      while (i < payload.length) {
        val b = payload(i) & 0xff
        sum += b
        if (b < mn) mn = b
        if (b > mx) mx = b
        i += 1
      }
      if (payload.isEmpty) (0L, 0L, 0, 0) else (payload.length.toLong, sum, mn, mx)
    }

    /** Frame-count arithmetic (every k-th frame, capped) from the
      * METADATA frame count — the fallback when the container doesn't
      * parse; [[VideoCodec.decodeFrames]] does the real sampling. */
    def sampleFrames(nFrames: Int, everyK: Int, cap: Int): Int =
      math.min(cap, if (nFrames <= 0) 0 else (nFrames + everyK - 1) / everyK)

    /** Resize dimensions (aspect-preserving, floor division, min height
      * 1) from the METADATA dims — the fallback when the payload doesn't
      * decode; [[ImageCodec.resize]] rescales real pixels. */
    def resizeDims(width: Int, height: Int, targetW: Int): (Int, Int) =
      (targetW, math.max(1, height * targetW / width))
  }

  /** Per-partition batched feature extraction over the binary payloads.
    * `mapPartitions` (not a per-row UDF) so decoder/library initialization
    * amortizes per partition — the standard shape for native-lib media
    * work in Spark; payload bytes never hit the driver.
    *
    *  - kind = image: real `javax.imageio` decode → raster pixel stats +
    *    `Graphics2D` resize (decoded_* / px_* / resized_*);
    *  - kind = audio: real `javax.sound.sampled` decode → channel-0
    *    16-bit sample stats (sample_rate / n_samples / smp_* /
    *    duration_ms);
    *  - kind = video: real `ImageIO` sequence decode → true frame count,
    *    every-k-th-frame sampling under `frameCap`, pixel stats over the
    *    sampled frames (n_frames / frames_sampled / decoded_* / px_*).
    *
    * Undecodable payloads of any kind fall back to [[ByteStats]] +
    * metadata-derived dimensions/frame arithmetic, so the extraction is
    * total — every row yields a feature row.
    */
  def decodeFeatures(media: DataFrame, frameEveryK: Int = 10, frameCap: Int = 16,
                     resizeTargetW: Int = 32): DataFrame = {
    require(frameEveryK >= 1 && frameCap >= 1 && resizeTargetW >= 1,
      s"frameEveryK/frameCap/resizeTargetW must be >= 1, got $frameEveryK/$frameCap/$resizeTargetW")
    val spark = media.sparkSession
    val rows: Dataset[Row] = media.select("media_id", "kind", "payload",
      "meta.width", "meta.height", "meta.n_frames", "meta.sample_rate")
    val out = rows.queryExecution.toRdd.mapPartitions { it =>
      // per-partition init would go here (native codec handles, buffers)
      it.map { internal =>
        val mediaId = internal.getLong(0)
        val kind = internal.getUTF8String(1).toString
        val payload = if (internal.isNullAt(2)) Array.empty[Byte] else internal.getBinary(2)
        val width = if (internal.isNullAt(3)) None else Some(internal.getInt(3))
        val height = if (internal.isNullAt(4)) None else Some(internal.getInt(4))
        val nFrames = if (internal.isNullAt(5)) None else Some(internal.getInt(5))
        val metaRate = if (internal.isNullAt(6)) None else Some(internal.getInt(6))
        val (n, sum, mn, mx) = ByteStats.decode(payload)
        val decoded = kind match {
          case "image" => ImageCodec.decode(payload).map { img =>
            (ImageCodec.stats(img), ImageCodec.resize(img, resizeTargetW))
          }
          case _ => None
        }
        val audio = kind match {
          case "audio" => AudioCodec.decode(payload)
          case _       => None
        }
        val video = kind match {
          case "video" => VideoCodec.decodeFrames(payload, frameEveryK, frameCap)
          case _       => None
        }
        val nPixels = (decoded, video) match {
          case (Some((d, _)), _) => Some(d.width.toLong * d.height)
          case (_, Some(v))      => Some(v.width.toLong * v.height) // per-frame pixels
          case _                 => for (w <- width; h <- height) yield w.toLong * h
        }
        val sampled = (kind, video) match {
          case (_, Some(v))  => Some(v.framesSampled)
          case ("video", _)  => nFrames.map(f => ByteStats.sampleFrames(f, frameEveryK, frameCap))
          case _             => None
        }
        val resized = decoded match {
          case Some((_, r)) => Some((r.getWidth, r.getHeight))
          case None if kind == "image" =>
            for (w <- width; h <- height if w > 0) yield ByteStats.resizeDims(w, h, resizeTargetW)
          case None => None
        }
        val decodedDims = (decoded, video) match {
          case (Some((d, _)), _) => Some((d.width, d.height))
          case (_, Some(v))      => Some((v.width, v.height))
          case _                 => None
        }
        val px = (decoded, video) match {
          case (Some((d, _)), _) => Some((d.pxMin, d.pxMax, d.pxSum))
          case (_, Some(v))      => Some((v.pxMin, v.pxMax, v.pxSum))
          case _                 => None
        }
        Row(mediaId, kind, n, sum, mn, mx, nPixels.orNull, sampled.orNull,
          resized.map(_._1).orNull, resized.map(_._2).orNull,
          decodedDims.map(_._1).orNull, decodedDims.map(_._2).orNull,
          px.map(_._1).orNull, px.map(_._2).orNull, px.map(_._3).orNull,
          // undecodable audio keeps its envelope sample rate — the same
          // metadata fallback the image (dims/resize) and video
          // (frames_sampled) paths already have
          audio.map(_.sampleRate)
            .orElse(if (kind == "audio") metaRate else None).orNull,
          audio.map(_.nSamples).orNull,
          audio.map(_.smpMin).orNull, audio.map(_.smpMax).orNull,
          audio.map(_.smpSum).orNull, audio.map(_.durationMs).orNull,
          video.map(_.nFrames).orNull)
      }
    }
    spark.createDataFrame(out, featureSchema)
  }

  /** Read a directory of real media files into the [[mediaSchema]]
    * shape via Spark's `binaryFile` source — the production ingest
    * path: object-store files arrive as (path, modificationTime,
    * length, content) rows with predicate pushdown on the metadata
    * columns (e.g. `pathGlobFilter`, length limits), payload bytes
    * stay on executors, and [[decodeFeatures]] consumes the result
    * unchanged. `media_id` = hash of the path (stable, distributed);
    * `kind` from the extension; envelope metadata starts null — real
    * values come from decode, which is the trustworthy source anyway.
    */
  def readMediaDir(spark: SparkSession, dir: String, globFilter: Option[String] = None): DataFrame = {
    val reader = spark.read.format("binaryFile")
    val df = globFilter.fold(reader)(g => reader.option("pathGlobFilter", g)).load(dir)
    val ext = lower(regexp_extract(col("path"), "\\.([A-Za-z0-9]+)$", 1))
    df.select(
      xxhash64(col("path")).as("media_id"),
      when(ext.isin("png", "bmp", "jpg", "jpeg"), lit("image"))
        .when(ext.isin("wav", "au", "aiff"), lit("audio"))
        // gif routes to the sequence reader: it handles 1-frame GIFs and
        // reports the true frame count for animated ones
        .when(ext.isin("gif", "mp4", "webm", "mkv", "avi"), lit("video"))
        .otherwise(lit("unknown")).as("kind"),
      col("content").as("payload"),
      lit(null).cast(mediaSchema("meta").dataType).as("meta"))
  }

  /** Synthesize a deterministic media table from the documents corpus
    * (payload = UTF-8 bytes of the text; metadata derived from doc
    * stats) — the offline stand-in for reading real media files.
    */
  def syntheticMedia(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      col("text").cast("binary").as("payload"),
      struct(
        (col("n_chars") % 64 + 1).cast("int").as("width"),
        (col("n_chars") % 48 + 1).cast("int").as("height"),
        lit(16000).as("sample_rate"),
        (col("n_chars") % 100 + 1).cast("int").as("n_frames")).as("meta"))

  /** (doc_id) spread across the session's shuffle partitions BEFORE the
    * CPU-heavy per-row codec work: the documents table arrives as one
    * small parquet row group → one Spark partition → one core encoding
    * thousands of containers. The id-only shuffle is a few KB; the
    * encode work it parallelizes is the dominant cost. The partition
    * count is pinned to the cluster's parallelism EXPLICITLY: a bare
    * `repartition(col)` is a ~40 KB shuffle that AQE would coalesce
    * right back to one partition (it sizes by bytes, blind to the CPU
    * cost behind each row). Same shape as `Dedup.shingled`'s
    * pre-repartition.
    */
  private def spreadIds(docs: DataFrame): Dataset[Row] =
    docs.select(col("doc_id"))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism, col("doc_id"))

  /** Synthesize REAL grayscale PNG payloads, one per doc: width
    * `id%16+4`, height `id%12+4`, row-gradient pixel `(id+y)%256`. The
    * closed-form pixel function makes decoded statistics predictable by
    * a SQL oracle while the payload is a genuine PNG container that only
    * a real decoder can read. Encoded per-partition (same batch shape as
    * the decode side).
    */
  def syntheticImages(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val ids: Dataset[Row] = spreadIds(docs)
    val out = ids.queryExecution.toRdd.mapPartitions { it =>
      it.map { internal =>
        val id = internal.getLong(0)
        val w = (id % 16 + 4).toInt
        val h = (id % 12 + 4).toInt
        val png = ImageCodec.encodeGrayPng(w, h)((_, y) => ((id + y) % 256).toInt)
        Row(id, "image", png, Row(w, h, null, null))
      }
    }
    spark.createDataFrame(out, mediaSchema)
  }

  /** Synthetic 36×32 PNGs with CELL-UNIFORM intensity, built for
    * perceptual-hash oracles: the image is 9 columns × 8 rows of 4×4
    * cells, cell value `(seed·31 + r·13 + c²·7) % 200` with
    * `seed = id / 3` — every 3 consecutive ids share a pattern (planted
    * near-dup groups) and the `id % 3 = 2` member gets +55 on column
    * 4's top two rows (a small perturbation: hamming ≤ 4 from its
    * peers). Cell values come from the engine's shared 60-bit md5 hash
    * `hash60("<seed>:<r>:<c>") % 200` — a DuckDB-replayable source of
    * per-(seed, cell) pseudo-randomness whose pattern space (~2^60)
    * dwarfs any corpus, so unrelated seeds land ~32 hamming bits apart
    * and the near-dup pair set stays LINEAR in corpus size. (Arithmetic
    * patterns computed mod 200 collapse to ≤ ~200 distinct hashes —
    * seeds collide wholesale and pair counts grow QUADRATICALLY; the
    * first cut of this generator did exactly that.) Cell-aligned
    * uniform values make [[ImageCodec.dhash64]]'s box means EXACTLY the
    * cell values, so a SQL oracle predicts every hash bit while the
    * payload still round-trips through a real PNG encode/decode.
    */
  def syntheticCellImages(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val ids: Dataset[Row] = spreadIds(docs)
    val out = ids.queryExecution.toRdd.mapPartitions { it =>
      it.map { internal =>
        val id = internal.getLong(0)
        val seed = id / 3
        // one hash per CELL (8×9 grid), not per pixel — the encode
        // callback below runs per pixel (36×32 = 16 pixels/cell) and the
        // md5-backed hash60 is the generator's hot path
        val cells = Array.tabulate(8, 9) { (r, c) =>
          (graft.functions.TextFns.hash60Value(s"$seed:$r:$c") % 200).toInt
        }
        val png = ImageCodec.encodeGrayPng(36, 32) { (x, y) =>
          val c = x / 4
          cells(y / 4)(c) + (if (id % 3 == 2 && c == 4 && y < 8) 55 else 0)
        }
        Row(id, "image", png, Row(36, 32, null, null))
      }
    }
    spark.createDataFrame(out, mediaSchema)
  }

  /** Perceptual hashes over a media frame: decode each payload with the
    * real image codec and fingerprint it with [[ImageCodec.dhash64]];
    * undecodable payloads yield a null hash (total — callers filter or
    * audit). Pure per-partition map, payloads never leave executors;
    * feed the result (renamed to (doc_id, fp)) to
    * [[Dedup.hammingNearDups]] for complete hamming-≤k near-dup pairs.
    */
  def imagePhash(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val rows: Dataset[Row] = media.select("media_id", "payload")
    val out = rows.queryExecution.toRdd.mapPartitions { it =>
      it.map { internal =>
        val id = internal.getLong(0)
        val payload = if (internal.isNullAt(1)) Array.empty[Byte] else internal.getBinary(1)
        Row(id, ImageCodec.decode(payload).map(ImageCodec.dhash64).orNull)
      }
    }
    spark.createDataFrame(out, StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("phash", LongType, nullable = true))))
  }

  /** Synthesize REAL 16-bit mono PCM WAV payloads, one per doc: sample
    * rate 8/12/16 kHz by id, `id % 500 + 100` samples, sample(i) =
    * `(id·7 + i·13) % 4001 − 2000`. The closed-form sample function
    * makes decoded statistics predictable by a SQL oracle while the
    * payload is a genuine RIFF/WAVE container only a real audio decoder
    * can read. Encoded per-partition (same batch shape as decode).
    */
  def syntheticAudio(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val ids: Dataset[Row] = spreadIds(docs)
    val out = ids.queryExecution.toRdd.mapPartitions { it =>
      it.map { internal =>
        val id = internal.getLong(0)
        val rate = (8000 + (id % 3) * 4000).toInt
        val n = (id % 500 + 100).toInt
        val wav = AudioCodec.encodePcm16Wav(rate, n)(i => ((id * 7 + i * 13) % 4001 - 2000).toInt)
        Row(id, "audio", wav, Row(null, null, rate, null))
      }
    }
    spark.createDataFrame(out, mediaSchema)
  }

  /** Synthetic FRAME-UNIFORM WAVs built for perceptual-hash oracles —
    * the audio twin of [[syntheticCellImages]]: 520 samples = 65 frames
    * of 8, every sample in frame f holding the non-negative value
    * `hash60("aud:<seed>:<f>") % 2500` with `seed = id / 3` (groups of
    * 3 consecutive ids share a waveform; the `id % 3 = 2` member gets
    * +300 on frames 5–6 — hamming ≤ 3 from its peers, touching only
    * bits 4–6). hash60 keeps unrelated seeds ~32 bits apart and the
    * pair set LINEAR in corpus size (the same collision lesson the
    * image generator documents). Frame-aligned uniform values make
    * [[AudioCodec.energyHash64]]'s |sample| means EXACTLY the frame
    * values, so a SQL oracle predicts every hash bit while the payload
    * round-trips through a real RIFF/WAVE encode/decode. Sample rate
    * still varies by id (8/12/16 kHz) — the hash is rate-blind.
    */
  def syntheticFrameAudio(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val ids: Dataset[Row] = spreadIds(docs)
    val out = ids.queryExecution.toRdd.mapPartitions { it =>
      it.map { internal =>
        val id = internal.getLong(0)
        val seed = id / 3
        val frameVal = Array.tabulate(65) { f =>
          (graft.functions.TextFns.hash60Value(s"aud:$seed:$f") % 2500).toInt +
            (if (id % 3 == 2 && (f == 5 || f == 6)) 300 else 0)
        }
        val rate = (8000 + (id % 3) * 4000).toInt
        val wav = AudioCodec.encodePcm16Wav(rate, 520)(i => frameVal(i / 8))
        Row(id, "audio", wav, Row(null, null, rate, null))
      }
    }
    spark.createDataFrame(out, mediaSchema)
  }

  /** Perceptual hashes over an audio media frame — [[imagePhash]]'s
    * contract on waveforms: decode each payload with the real audio
    * codec and fingerprint it with [[AudioCodec.energyHash64]];
    * undecodable payloads yield a null hash (total). Pure per-partition
    * map, payloads never leave executors; feed (doc_id, fp) to
    * [[Dedup.hammingNearDups]] for complete hamming-≤k near-dup pairs.
    */
  def audioPhash(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val rows: Dataset[Row] = media.select("media_id", "payload")
    val out = rows.queryExecution.toRdd.mapPartitions { it =>
      it.map { internal =>
        val id = internal.getLong(0)
        val payload = if (internal.isNullAt(1)) Array.empty[Byte] else internal.getBinary(1)
        Row(id, AudioCodec.decodeSamples(payload).map(AudioCodec.energyHash64).orNull)
      }
    }
    spark.createDataFrame(out, StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("phash", LongType, nullable = true))))
  }

  /** Bootstrap a perceptual-fingerprint STORE from a media snapshot:
    * (media_id, payload_fp, phash, src='decoded') where `payload_fp` is
    * the byte-level `xxhash64(payload)` (cheap — no decode) and `phash`
    * comes from the caller's decode+fingerprint pass ([[imagePhash]] /
    * [[audioPhash]]). The store is what survives between crawls —
    * ~24 bytes/row against the multi-KB payloads — and is the `prev`
    * side of [[incrementalPhash]]; persist it with parquet +
    * `Staging.ensureFresh` keyed on the corpus source.
    */
  def phashStore(media: DataFrame, fingerprint: DataFrame => DataFrame): DataFrame =
    fingerprint(media)
      .join(media.select(col("media_id"), xxhash64(col("payload")).as("payload_fp")),
        "media_id")
      .select(col("media_id"), col("payload_fp"), col("phash"),
        lit("decoded").as("src"))

  /** Incremental perceptual-fingerprint maintenance — at 100 TB nobody
    * re-decodes the corpus to re-dedup it. Given the previous crawl's
    * fingerprint store ([[phashStore]] schema) and the NEW media
    * snapshot, [[SnapshotDiff.diffStored]] classifies every id by
    * byte-level xxhash64 — the old payloads are never re-read — and
    * only `added`/`changed` payloads go through the caller's decode
    * pass; `unchanged` ids keep their stored phash, `removed` ids drop.
    * The decode delta is surfaced as an `observe` metric
    * (`incr_phash_decodes`) so a pipeline can alert when decode volume
    * stops tracking the crawl delta. Returns the NEXT store: same
    * schema, `src` marking `decoded` vs `retained` provenance, so the
    * output of crawl N is the input of crawl N+1 and the decode cost of
    * every run is O(delta), never O(corpus) — a
    * [[Dedup.maintainStore]] binding.
    */
  def incrementalPhash(newMedia: DataFrame, prevStore: DataFrame,
                       fingerprint: DataFrame => DataFrame): DataFrame =
    Dedup.maintainStore(
        SnapshotDiff.diffStored(
          prevStore.select(col("media_id").as("id"), col("payload_fp").as("fp")),
          newMedia, col("media_id"), xxhash64(col("payload"))),
        newMedia, prevStore, Seq("media_id", "payload_fp", "phash"),
        "incr_phash_decodes", "n_decoded", computedTag = "decoded") {
      (toDecode, _) => fingerprint(toDecode)
    }

  /** Synthesize REAL multi-frame grayscale GIF payloads, one per doc:
    * `id % 20 + 2` frames of `(id%12+4)×(id%8+4)`, frame `fr` pixel(x,y)
    * = `(id + fr·31 + y) % 256` — a per-frame row gradient the SQL
    * oracle can integrate in closed form, inside a genuine animated-GIF
    * container only a real sequence decoder can read.
    */
  def syntheticVideos(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val ids: Dataset[Row] = spreadIds(docs)
    val out = ids.queryExecution.toRdd.mapPartitions { it =>
      it.map { internal =>
        val id = internal.getLong(0)
        val w = (id % 12 + 4).toInt
        val h = (id % 8 + 4).toInt
        val frames = (id % 20 + 2).toInt
        val gif = VideoCodec.encodeGrayGif(w, h, frames)((fr, _, y) => ((id + fr * 31 + y) % 256).toInt)
        Row(id, "video", gif, Row(w, h, null, frames))
      }
    }
    spark.createDataFrame(out, mediaSchema)
  }
}
