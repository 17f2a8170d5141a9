package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal columns: image/audio/video as opaque `binary` payloads with
  * typed metadata, plus the Spark-side plumbing for decode / feature-extract
  * / resize / frame-sample.
  *
  * The container has no image/audio codecs, so THE DECODE KERNEL IS A
  * CLEARLY-MARKED STUB ([[StubCodec]] — a deterministic fake driven by the
  * payload bytes). Everything around it is real and tested: the schema, the
  * binary column handling, partition-sized batch iteration (the Scala
  * analogue of `mapInPandas` — one buffer per partition, vectorized-shaped),
  * and the explode-based frame sampler. Swapping StubCodec for a real codec
  * (JNI/javacv) changes no plumbing.
  */
object Multimodal {

  /** Deterministic synthetic media table (seeded bytes; no external data). */
  def syntheticMedia(spark: SparkSession, n: Long, payloadBytes: Int = 256, seed: Long = 42L): DataFrame =
    spark.range(n).select(
      col("id"),
      when(pmod(col("id"), lit(3)) === 0, "image")
        .when(pmod(col("id"), lit(3)) === 1, "audio")
        .otherwise("video").as("modality"),
      // payload: concat of hashed 8-byte words — deterministic, incompressible-ish
      concat(
        (0 until payloadBytes / 8).map(i => unhex(lpad(hex(xxhash64(lit(seed), col("id"), lit(i))), 16, "0"))): _*
      ).as("media"),
      struct(
        (pmod(xxhash64(lit(seed + 1), col("id")), lit(1024)) + 16).cast("int").as("width"),
        (pmod(xxhash64(lit(seed + 2), col("id")), lit(768)) + 16).cast("int").as("height"),
        lit("stub").as("codec"),
        (pmod(xxhash64(lit(seed + 3), col("id")), lit(60000)) + 1000).cast("int").as("duration_ms")
      ).as("meta")
    )

  /** Pluggable decode kernel: payload bytes (+ declared metadata) →
    * (decoded width, decoded height, mean luminance). Implementations must
    * be Serializable — they ship inside the partition-map closure. */
  trait MediaCodec extends Serializable {
    def decode(payload: Array[Byte], declaredWidth: Int, declaredHeight: Int): (Int, Int, Double)
  }

  /** ??? decode seam — deterministic fake standing in for codecs the
    * container lacks (JPEG/PNG/audio/video). Returns the DECLARED
    * dimensions and byte-mean as "luminance". [[PgmCodec]] below is a real
    * codec exercising the same seam on a pure-JVM format. */
  object StubCodec extends MediaCodec {
    def decode(payload: Array[Byte], width: Int, height: Int): (Int, Int, Double) = {
      // REAL CODEC GOES HERE for formats needing native libs (JNI/javacv).
      var s = 0L
      var i = 0
      while (i < payload.length) { s += payload(i) & 0xff; i += 1 }
      (width, height, if (payload.isEmpty) 0.0 else s.toDouble / payload.length)
    }
  }

  /** REAL codec for binary PGM (P5) — pure JVM, no native deps: parses the
    * `P5 <w> <h> <maxval>` header (whitespace/#-comment tolerant per the
    * Netpbm spec, 8-bit maxval only) and averages the w·h gray samples.
    * The returned dimensions come from the HEADER, not the declared
    * metadata — a green oracle on this path proves actual bytes were
    * decoded, not metadata echoed. */
  object PgmCodec extends MediaCodec {
    def decode(payload: Array[Byte], declaredWidth: Int, declaredHeight: Int): (Int, Int, Double) = {
      var pos = 0
      def fail(msg: String): Nothing =
        throw new IllegalArgumentException(s"malformed PGM at byte $pos: $msg")
      def skipSpace(): Unit = {
        var going = true
        while (going && pos < payload.length) {
          val c = payload(pos)
          if (c == '#') while (pos < payload.length && payload(pos) != '\n') pos += 1
          else if (c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == 0x0b || c == '\f') pos += 1
          else going = false
        }
      }
      def int(): Int = {
        skipSpace()
        val start = pos
        // Long accumulator: an Int would wrap BEFORE the bound check could
        // see it (e.g. 4294967296 wraps back into range), silently
        // producing a garbage width — fail loudly on hostile headers
        // instead (a wrapped-negative width would also defeat the
        // raster-length check below, since w.toLong * h goes negative)
        var v = 0L
        while (pos < payload.length && payload(pos) >= '0' && payload(pos) <= '9') {
          v = v * 10L + (payload(pos) - '0'); pos += 1
          if (v > 1000000000L) fail("header integer exceeds 1e9")
        }
        if (pos == start) fail("expected integer")
        v.toInt
      }
      if (payload.length < 2 || payload(0) != 'P' || payload(1) != '5') fail("missing P5 magic")
      pos = 2
      val w = int()
      val h = int()
      val maxval = int()
      if (maxval != 255) fail(s"only 8-bit maxval supported, got $maxval")
      pos += 1 // exactly ONE whitespace byte separates header and raster
      val n = w.toLong * h
      if (payload.length - pos < n) fail(s"raster truncated: need $n, have ${payload.length - pos}")
      var s = 0L
      var i = 0
      while (i < n) { s += payload(pos + i) & 0xff; i += 1 }
      (w, h, if (n == 0) 0.0 else s.toDouble / n)
    }
  }

  /** REAL codec #2 for uncompressed 24-bit BMP — pure JVM, no native deps
    * (PGM proved the [[MediaCodec]] seam; a second independent format
    * proves the interface). Parses the BITMAPFILEHEADER ('BM' magic,
    * little-endian pixel-data offset) + BITMAPINFOHEADER (LE width,
    * signed LE height — negative = top-down, irrelevant to the mean —
    * biBitCount 24, biCompression BI_RGB only) and averages ALL channel
    * bytes over the w·h pixels, honoring the 4-byte row padding. The
    * returned dimensions come from the HEADER, not the declared metadata
    * — a green oracle on this path proves actual bytes were decoded.
    * Mean luma = Σ(channel bytes)/(3wh): for the gray images the oracle
    * synthesizes (B=G=R) this equals the per-pixel gray mean exactly
    * (same rational, one correctly-rounded divide). */
  object BmpCodec extends MediaCodec {
    def decode(payload: Array[Byte], declaredWidth: Int, declaredHeight: Int): (Int, Int, Double) = {
      def fail(msg: String): Nothing =
        throw new IllegalArgumentException(s"malformed BMP: $msg")
      def u16(off: Int): Int =
        (payload(off) & 0xff) | ((payload(off + 1) & 0xff) << 8)
      def i32(off: Int): Int =
        (payload(off) & 0xff) | ((payload(off + 1) & 0xff) << 8) |
          ((payload(off + 2) & 0xff) << 16) | ((payload(off + 3) & 0xff) << 24)
      if (payload.length < 54) fail(s"header truncated: ${payload.length} < 54 bytes")
      if (payload(0) != 'B' || payload(1) != 'M') fail("missing BM magic")
      val pixelOff = i32(10)
      val w = i32(18)
      val hRaw = i32(22)
      // |Int.MinValue| is still negative: a hostile 0x80000000 height would
      // slip a negative raster size past the truncation check below and
      // return garbage dims instead of raising — reject it explicitly
      if (hRaw == Int.MinValue) fail(s"unrepresentable height $hRaw")
      val h = math.abs(hRaw)
      val bitCount = u16(28)
      val compression = i32(30)
      if (w < 0) fail(s"negative width $w")
      if (bitCount != 24) fail(s"only 24-bit supported, got $bitCount")
      if (compression != 0) fail(s"only BI_RGB (0) supported, got $compression")
      val rowBytes = ((3L * w + 3L) / 4L) * 4L
      // multiplyExact: hostile w·h near Int.MaxValue² overflows a plain
      // Long product to negative, which would slip PAST the truncation
      // check and crash the pixel loop with an index error instead of
      // the codec's loud malformed-BMP contract
      val need =
        try math.multiplyExact(rowBytes, h.toLong)
        catch { case _: ArithmeticException => fail(s"raster size overflows: $w x $h") }
      if (pixelOff < 54 || pixelOff.toLong + need > payload.length)
        fail(s"raster truncated: need $need at offset $pixelOff, have ${payload.length}")
      var s = 0L
      var row = 0
      while (row < h) {
        val base = pixelOff + row * rowBytes
        var i = 0
        val rowPix = 3 * w
        while (i < rowPix) { s += payload((base + i).toInt) & 0xff; i += 1 }
        row += 1
      }
      val n = 3L * w * h
      (w, h, if (n == 0) 0.0 else s.toDouble / n)
    }
  }

  /** REAL codec #3 — RIFF/WAVE PCM, the AUDIO modality through the same
    * seam (PGM and BMP are both images; a third format in a second
    * modality proves the interface is modality-agnostic). Walks the RIFF
    * chunk list ('RIFF' size 'WAVE', then '<id> <le32 size> <payload>'
    * chunks with the spec's odd-size pad byte), requires a 'fmt ' chunk
    * with audioFormat 1 (PCM) and 16 bits/sample, and decodes the 'data'
    * chunk as little-endian SIGNED 16-bit frames. Returns
    * (frames-per-channel, channel count, mean SAMPLE VALUE) — the audio
    * analogue of (width, height, mean luma); all three numbers come from
    * the BYTES, not the declared metadata. Unknown chunks (LIST, cue,
    * fact…) are skipped, like any real reader. */
  object WavCodec extends MediaCodec {
    def decode(payload: Array[Byte], declaredWidth: Int, declaredHeight: Int): (Int, Int, Double) = {
      def fail(msg: String): Nothing =
        throw new IllegalArgumentException(s"malformed WAV: $msg")
      def u16(off: Int): Int =
        (payload(off) & 0xff) | ((payload(off + 1) & 0xff) << 8)
      def u32(off: Int): Long =
        (payload(off) & 0xffL) | ((payload(off + 1) & 0xffL) << 8) |
          ((payload(off + 2) & 0xffL) << 16) | ((payload(off + 3) & 0xffL) << 24)
      def tag(off: Int): String =
        new String(payload, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
      if (payload.length < 12) fail(s"header truncated: ${payload.length} < 12 bytes")
      if (tag(0) != "RIFF") fail("missing RIFF magic")
      if (tag(8) != "WAVE") fail("missing WAVE form type")
      var pos = 12
      var channels = -1
      var dataOff = -1
      var dataLen = -1L
      while (pos + 8 <= payload.length && (channels < 0 || dataOff < 0)) {
        val id = tag(pos)
        val size = u32(pos + 4)
        val body = pos + 8
        if (body + size > payload.length) fail(s"chunk '$id' overruns payload at byte $pos")
        id match {
          case "fmt " =>
            if (size < 16) fail(s"fmt chunk too short: $size")
            val audioFormat = u16(body)
            if (audioFormat != 1) fail(s"only PCM (1) supported, got format $audioFormat")
            val bits = u16(body + 14)
            if (bits != 16) fail(s"only 16-bit samples supported, got $bits")
            channels = u16(body + 2)
            if (channels < 1) fail(s"bad channel count $channels")
          case "data" =>
            if (channels < 0) fail("data chunk before fmt chunk")
            dataOff = body; dataLen = size
          case _ => () // LIST/cue/fact/…: skip like any real reader
        }
        pos = body + size.toInt + (size.toInt & 1) // odd chunks carry a pad byte
      }
      if (channels < 0) fail("no fmt chunk")
      if (dataOff < 0) fail("no data chunk")
      if (dataLen % (2L * channels) != 0)
        fail(s"data length $dataLen not a whole number of $channels-channel 16-bit frames")
      val nSamples = (dataLen / 2L).toInt
      var s = 0L
      var i = 0
      while (i < nSamples) {
        s += u16(dataOff + 2 * i).toShort // sign-extend the LE16
        i += 1
      }
      val frames = nSamples / channels
      (frames, channels, if (nSamples == 0) 0.0 else s.toDouble / nSamples)
    }
  }

  case class MediaRow(id: Long, modality: String, media: Array[Byte], width: Int, height: Int)
  case class MediaFeatures(id: Long, modality: String, width: Int, height: Int, mean_luma: Double, n_bytes: Int)

  /** Batch decode — partition-at-a-time iteration (the `mapInPandas` shape:
    * each partition is processed as one streaming batch; the kernel is
    * called per element but a real codec would process the whole buffer).
    * No driver collect, no shuffle. `codec` defaults to the stub;
    * [[PgmCodec]] runs real bytes through the identical plumbing. */
  def decodeFeatures(df: DataFrame, codec: MediaCodec = StubCodec): DataFrame = {
    val ds = df.select(
      col("id"), col("modality"), col("media"),
      col("meta.width").as("width"), col("meta.height").as("height")
    ).as(Encoders.product[MediaRow])
    ds.mapPartitions { it =>
      it.map { r =>
        val (w, h, luma) = codec.decode(r.media, r.width, r.height)
        MediaFeatures(r.id, r.modality, w, h, luma, r.media.length)
      }
    }(Encoders.product[MediaFeatures]).toDF()
  }

  /** Resize plan: pure metadata transform (target box, preserve aspect);
    * the pixel work would happen in the decode kernel. */
  def withResizePlan(df: DataFrame, maxW: Int, maxH: Int): DataFrame = {
    val scale = least(lit(maxW) / col("meta.width"), lit(maxH) / col("meta.height"), lit(1.0))
    df.withColumn("target_width", floor(col("meta.width") * scale).cast("int"))
      .withColumn("target_height", floor(col("meta.height") * scale).cast("int"))
  }

  /** Frame sampling for video rows: one output row per sampled frame at
    * `everyMs` intervals — explode of a generated offset sequence, fully
    * parallel, no UDF. */
  def sampleFrames(df: DataFrame, everyMs: Int): DataFrame =
    df.where(col("modality") === "video")
      .select(
        col("id"), col("media"), col("meta"),
        posexplode(sequence(lit(0), col("meta.duration_ms") - 1, lit(everyMs))).as(Seq("frame_idx", "offset_ms"))
      )
}
