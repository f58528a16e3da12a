package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, plus decode / feature-extract / resize / frame-sample
  * operators.
  *
  * The Spark-side shape is real — schemas, partition sizing, per-partition
  * batched decode via `mapPartitions` (the Scala analog of `mapInPandas`:
  * one iterator per partition, decoder amortized across the batch). The
  * default [[PixelStatsDecoder]] is a REAL decoder for the uncompressed
  * public formats PPM (P6) and BMP (24-bit uncompressed) — header parse +
  * per-channel pixel statistics, no external codec libraries; a production
  * deployment swaps in javax.imageio/ffmpeg behind the same [[MediaDecoder]]
  * trait with no change to plan shape, schema, or partitioning.
  */
object Multimodal {

  /** Typed metadata carried alongside the opaque payload. */
  val mediaMetaSchema: StructType = StructType(Seq(
    StructField("media_type", StringType, nullable = false),
    StructField("format", StringType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("checksum", StringType, nullable = false)))

  /** Decoded-image feature schema produced by [[extractImageFeatures]]. */
  val imageFeatureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false)))

  /** Full decode-outcome schema produced by [[extractImageFeaturesWithRejects]]:
    * every input row comes back out, undecodable payloads as `decode_ok =
    * false` rows with NULL features — the quarantine stream is DATA, never a
    * silent drop.
    */
  val imageDecodeSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("decode_ok", BooleanType, nullable = false),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = true)))

  /** Pluggable decoder boundary. The default [[PixelStatsDecoder]] reads
    * real PPM/BMP payloads; a production implementation wraps
    * javax.imageio / ffmpeg for the compressed formats.
    */
  trait MediaDecoder extends Serializable {
    /** bytes → (width, height, embedding); None when the payload is not a
      * format this decoder reads (callers drop or route such rows).
      */
    def decodeImage(bytes: Array[Byte], embeddingDim: Int): Option[(Int, Int, Array[Float])]
  }

  /** Real decoder for the two classic UNCOMPRESSED public image formats:
    *
    *  - PPM "P6" (netpbm): ASCII header `P6 <w> <h> <maxval>` (whitespace-
    *    separated, `#` comments allowed) + one whitespace byte, then
    *    `w*h*3` raw RGB bytes (maxval ≤ 255 supported).
    *  - BMP, 24-bit uncompressed (BITMAPINFOHEADER): little-endian header,
    *    bottom-up BGR rows padded to 4-byte boundaries.
    *
    * The "embedding" is the per-channel pixel-statistics vector
    * `[r_sum, g_sum, b_sum, min, max, n_pixels, first, last]` (cycled or
    * zero-padded to `embeddingDim`) — every slot an exact small integer, so
    * features are bit-stable across engines and oracle-checkable.
    */
  object PixelStatsDecoder extends MediaDecoder {

    override def decodeImage(bytes: Array[Byte], dim: Int): Option[(Int, Int, Array[Float])] =
      parse(bytes).map { case (w, h, px) =>
        var r = 0L; var g = 0L; var b = 0L
        var mn = 256; var mx = -1
        var i = 0
        while (i < px.length) {
          val v = px(i) & 0xFF
          (i % 3: @annotation.switch) match {
            case 0 => r += v
            case 1 => g += v
            case 2 => b += v
          }
          if (v < mn) mn = v
          if (v > mx) mx = v
          i += 1
        }
        val n = px.length / 3
        val stats = Array[Float](r.toFloat, g.toFloat, b.toFloat,
          (if (n == 0) 0 else mn).toFloat, (if (n == 0) 0 else mx).toFloat,
          n.toFloat,
          (if (px.length == 0) 0 else px(0) & 0xFF).toFloat,
          (if (px.length == 0) 0 else px(px.length - 1) & 0xFF).toFloat)
        (w, h, Array.tabulate(dim)(i => if (i < stats.length) stats(i) else 0f))
      }

    /** (width, height, top-down RGB pixel bytes) or None if unreadable.
      * Package-visible so [[resizeImages]] can source raw pixels.
      */
    private[ops] def parse(bytes: Array[Byte]): Option[(Int, Int, Array[Byte])] =
      if (bytes.length >= 2 && bytes(0) == 'P' && bytes(1) == '6') parsePpm(bytes)
      else if (bytes.length >= 2 && bytes(0) == 'B' && bytes(1) == 'M') parseBmp(bytes)
      else None

    private def parsePpm(bytes: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
      var pos = 2
      def nextInt(): Int = {
        // skip whitespace and '#'-to-EOL comments
        var done = false
        while (!done && pos < bytes.length) {
          val c = bytes(pos)
          if (c == '#') { while (pos < bytes.length && bytes(pos) != '\n') pos += 1 }
          else if (c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == 0x0B || c == '\f') pos += 1
          else done = true
        }
        var v = 0
        var any = false
        while (pos < bytes.length && bytes(pos) >= '0' && bytes(pos) <= '9') {
          v = v * 10 + (bytes(pos) - '0'); pos += 1; any = true
        }
        if (any) v else -1
      }
      val w = nextInt(); val h = nextInt(); val maxval = nextInt()
      pos += 1 // the single whitespace byte after maxval
      val n = w.toLong * h * 3
      if (w <= 0 || h <= 0 || maxval <= 0 || maxval > 255 ||
          pos + n > bytes.length) None
      else Some((w, h, java.util.Arrays.copyOfRange(bytes, pos, pos + n.toInt)))
    }

    private def parseBmp(bytes: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
      def le32(o: Int): Int = (bytes(o) & 0xFF) | ((bytes(o + 1) & 0xFF) << 8) |
        ((bytes(o + 2) & 0xFF) << 16) | ((bytes(o + 3) & 0xFF) << 24)
      def le16(o: Int): Int = (bytes(o) & 0xFF) | ((bytes(o + 1) & 0xFF) << 8)
      if (bytes.length < 54) return None
      val dataOff = le32(10)
      val w = le32(18)
      val hRaw = le32(22)
      val bpp = le16(28)
      val compression = le32(30)
      if (w <= 0 || hRaw == 0 || bpp != 24 || compression != 0) return None
      val h = math.abs(hRaw)
      val bottomUp = hRaw > 0
      val stride = ((w * 3 + 3) / 4) * 4
      if (dataOff.toLong + stride.toLong * h > bytes.length) return None
      val out = new Array[Byte](w * h * 3)
      var row = 0
      while (row < h) {
        val src = dataOff + (if (bottomUp) (h - 1 - row) else row) * stride
        var x = 0
        while (x < w) {
          // BGR on disk → RGB out
          out((row * w + x) * 3) = bytes(src + x * 3 + 2)
          out((row * w + x) * 3 + 1) = bytes(src + x * 3 + 1)
          out((row * w + x) * 3 + 2) = bytes(src + x * 3)
          x += 1
        }
        row += 1
      }
      Some((w, h, out))
    }
  }

  /** javax.imageio-backed decoder — the COMPRESSED public formats via the
    * JDK's built-in readers (PNG, JPEG, BMP, GIF, WBMP; zero external
    * codecs). Emits the SAME per-channel pixel-statistics vector as
    * [[PixelStatsDecoder]], channel values in R,G,B order per pixel, so a
    * LOSSLESS format (PNG) reproduces the uncompressed formats' stats
    * byte-for-byte (oracle-replayed by `media_png_features`); lossy JPEG is
    * gated on decode success + dimensions only. Headless-safe (no display
    * needed for ImageIO/BufferedImage).
    */
  object ImageIoDecoder extends MediaDecoder {
    override def decodeImage(bytes: Array[Byte], dim: Int): Option[(Int, Int, Array[Float])] = {
      val img =
        try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
        catch { case _: Exception => None }
      img.map { im =>
        val w = im.getWidth; val h = im.getHeight
        var r = 0L; var g = 0L; var b = 0L
        var mn = 256; var mx = -1
        var first = 0; var last = 0
        // Bulk row reads: one getRGB(0, y, w, 1, …) per scanline into a
        // reused buffer instead of a per-pixel virtual call with its own
        // color-model conversion — same ARGB values by spec (both paths
        // convert to default sRGB), ~5-10× less call overhead on photos.
        val rowBuf = new Array[Int](math.max(w, 1))
        var y = 0
        while (y < h) {
          im.getRGB(0, y, w, 1, rowBuf, 0, w)
          var x = 0
          while (x < w) {
            val rgb = rowBuf(x)
            val rr = (rgb >> 16) & 0xFF; val gg = (rgb >> 8) & 0xFF; val bb = rgb & 0xFF
            r += rr; g += gg; b += bb
            if (rr < mn) mn = rr; if (gg < mn) mn = gg; if (bb < mn) mn = bb
            if (rr > mx) mx = rr; if (gg > mx) mx = gg; if (bb > mx) mx = bb
            if (x == 0 && y == 0) first = rr
            if (x == w - 1 && y == h - 1) last = bb
            x += 1
          }
          y += 1
        }
        val n = w.toLong * h
        val stats = Array[Float](r.toFloat, g.toFloat, b.toFloat,
          (if (n == 0) 0 else mn).toFloat, (if (n == 0) 0 else mx).toFloat,
          n.toFloat, first.toFloat, last.toFloat)
        (w, h, Array.tabulate(dim)(i => if (i < stats.length) stats(i) else 0f))
      }
    }
  }

  /** Wrap a binary payload column into (payload, meta) — the ingest step.
    * Pure expressions: metadata derives from the bytes (cheap, codegen'd).
    */
  def withMediaMeta(df: DataFrame, bytesCol: String, mediaType: String,
                    format: String): DataFrame =
    df.withColumn("meta", struct(
      lit(mediaType).as("media_type"),
      lit(format).as("format"),
      octet_length(col(bytesCol)).cast(LongType).as("n_bytes"),
      md5(col(bytesCol)).as("checksum")))

  /** Batched decode over partitions, EVERY row accounted for: decodable
    * payloads become `decode_ok = true` feature rows, undecodable ones
    * `decode_ok = false` rows with NULL features — the quarantine stream a
    * real pipeline routes/counts instead of silently dropping (a corrupt
    * shard that decodes 0 rows must look different from an empty shard).
    *
    * Partition sizing is the scale lever: `targetPartitionBytes` bounds
    * decoder working-set per task (payloads are large; rows/partition must
    * track bytes, not row count). A 100 TB corpus at 256 MB per partition is
    * ~400k tasks — fine for a 1000-executor cluster.
    */
  /** Bytes-bounded `(id, payload)` repartition shared by every media
    * extractor. Partition COUNT is a heuristic, so it does not deserve its
    * own table scan: use, in order, (1) the caller's `totalBytesHint`
    * (ingest meta / file listing — exact), (2) Catalyst's plan-statistics
    * size estimate (zero jobs — file sizes for scans, propagated estimates
    * for derived frames; binary payloads barely compress, so the order of
    * magnitude is right, and an overestimate only makes partitions smaller
    * — the safe direction), (3) the exact one-aggregate scan, only when
    * stats are absent/absurd. Merely constructing an extractor therefore
    * runs NO Spark job on the common path (asserted in MultimodalSpec).
    * An EMPTY frame sizes to one partition ⇒ an empty result, not a crash
    * (the fallback sum() is NULL on empty input — coalesced).
    */
  private def bytesBoundedSlim(df: DataFrame, idCol: String, bytesCol: String,
                               targetPartitionBytes: Long,
                               totalBytesHint: Option[Long]): DataFrame = {
    val totalBytes = totalBytesHint.orElse {
      val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
      if (est > 0 && est < BigInt(1L << 50)) Some(est.toLong) else None
    }.getOrElse(
      df.agg(coalesce(sum(octet_length(col(bytesCol))), lit(0L))).head().getLong(0))
    val nParts = math.max(1, math.min(10000, (totalBytes / targetPartitionBytes) + 1).toInt)
    df.select(col(idCol).cast(LongType), col(bytesCol)).repartition(nParts)
  }

  def extractImageFeaturesWithRejects(df: DataFrame, idCol: String, bytesCol: String,
                                      embeddingDim: Int = 16,
                                      decoder: MediaDecoder = PixelStatsDecoder,
                                      targetPartitionBytes: Long = 256L << 20,
                                      totalBytesHint: Option[Long] = None): DataFrame = {
    val slim = bytesBoundedSlim(df, idCol, bytesCol, targetPartitionBytes, totalBytesHint)
    val enc = org.apache.spark.sql.Encoders.row(imageDecodeSchema)
    slim.mapPartitions { it =>
      // One decoder per partition — amortized init, batch-shaped like
      // mapInPandas batches.
      it.map { r =>
        decoder.decodeImage(r.getAs[Array[Byte]](1), embeddingDim) match {
          case Some((w, h, emb)) => Row(r.getLong(0), true, w, h, emb.toSeq)
          case None => Row(r.getLong(0), false, null, null, null)
        }
      }
    }(enc).toDF()
  }

  /** Feature extraction: the `decode_ok` rows of
    * [[extractImageFeaturesWithRejects]], features-only schema. Same single
    * mapPartitions plan plus a filter; callers that need the rejects as data
    * use the WithRejects form directly.
    */
  def extractImageFeatures(df: DataFrame, idCol: String, bytesCol: String,
                           embeddingDim: Int = 16,
                           decoder: MediaDecoder = PixelStatsDecoder,
                           targetPartitionBytes: Long = 256L << 20): DataFrame =
    extractImageFeaturesWithRejects(df, idCol, bytesCol, embeddingDim, decoder,
        targetPartitionBytes)
      .filter(col("decode_ok"))
      .select(col("media_id"), col("width"), col("height"), col("embedding"))

  /** Audio feature schema produced by [[extractAudioFeatures]]. */
  val audioFeatureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("decode_ok", BooleanType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = true),
    StructField("n_channels", IntegerType, nullable = true),
    StructField("n_samples", LongType, nullable = true),
    StructField("sum_amp", LongType, nullable = true),
    StructField("min_amp", IntegerType, nullable = true),
    StructField("max_amp", IntegerType, nullable = true),
    StructField("first_amp", IntegerType, nullable = true),
    StructField("last_amp", IntegerType, nullable = true)))

  /** REAL decoder for the classic uncompressed audio container: RIFF/WAVE,
    * PCM 16-bit little-endian (format tag 1). Chunk-walks the RIFF structure
    * (fmt then data, tolerating extra chunks), then computes exact integer
    * sample statistics — every value a small integer, so features are
    * bit-stable and oracle-replayable (`media_audio_features` rebuilds the
    * int16 decode in SQL). Returns None for anything that is not a
    * well-formed PCM16 WAV (the quarantine contract of the image path).
    */
  object WavPcmDecoder extends Serializable {
    final case class AudioStats(sampleRate: Int, nChannels: Int, nSamples: Long,
                                sum: Long, min: Int, max: Int, first: Int, last: Int)

    /** Chunk-walk to the PCM16 payload: (channels, sampleRate, dataOffset,
      * dataLength), or None for anything that is not well-formed PCM16 WAV.
      */
    private def walkPcm16(bytes: Array[Byte]): Option[(Int, Int, Int, Int)] = {
      def le32(o: Int): Int = (bytes(o) & 0xFF) | ((bytes(o + 1) & 0xFF) << 8) |
        ((bytes(o + 2) & 0xFF) << 16) | ((bytes(o + 3) & 0xFF) << 24)
      def le16(o: Int): Int = (bytes(o) & 0xFF) | ((bytes(o + 1) & 0xFF) << 8)
      def tag(o: Int): String = new String(bytes, o, 4, java.nio.charset.StandardCharsets.US_ASCII)
      if (bytes.length < 44 || tag(0) != "RIFF" || tag(8) != "WAVE") return None
      // Chunk walk: fmt may be followed by LIST/fact/etc. before data.
      var pos = 12
      var fmt: Option[(Int, Int, Int)] = None // (audioFormat, channels, sampleRate)
      var bps = 0
      var data: Option[(Int, Int)] = None // (offset, length)
      while (pos + 8 <= bytes.length && data.isEmpty) {
        val id = tag(pos); val len = le32(pos + 4)
        if (len < 0 || pos + 8 + len > bytes.length) return None
        if (id == "fmt ") {
          if (len < 16) return None
          fmt = Some((le16(pos + 8), le16(pos + 10), le32(pos + 12)))
          bps = le16(pos + 22)
        } else if (id == "data") data = Some((pos + 8, len))
        pos += 8 + len + (len & 1) // chunks are word-aligned
      }
      (fmt, data) match {
        case (Some((1, ch, rate)), Some((off, len)))
            if bps == 16 && ch > 0 && rate > 0 && len >= 2 && len % 2 == 0 =>
          Some((ch, rate, off, len))
        case _ => None
      }
    }

    /** The raw interleaved int16 sample stream, or None for anything that
      * is not well-formed PCM16 WAV — the sample-level accessor
      * [[Multimodal.audioEnvelopeHash]] builds on.
      */
    def decodeSamples(bytes: Array[Byte]): Option[Array[Short]] =
      walkPcm16(bytes).map { case (_, _, off, len) =>
        val n = len / 2
        val out = new Array[Short](n)
        var i = 0
        while (i < n) {
          val raw = (bytes(off + 2 * i) & 0xFF) | ((bytes(off + 2 * i + 1) & 0xFF) << 8)
          out(i) = (if (raw >= 0x8000) raw - 0x10000 else raw).toShort
          i += 1
        }
        out
      }

    def decode(bytes: Array[Byte]): Option[AudioStats] = {
      walkPcm16(bytes) match {
        case Some((ch, rate, off, len)) =>
          val n = len / 2
          var sum = 0L; var mn = Int.MaxValue; var mx = Int.MinValue
          var i = 0
          var first = 0; var last = 0
          while (i < n) {
            val raw = (bytes(off + 2 * i) & 0xFF) | ((bytes(off + 2 * i + 1) & 0xFF) << 8)
            val v = if (raw >= 0x8000) raw - 0x10000 else raw // int16 sign
            if (i == 0) first = v
            last = v
            sum += v
            if (v < mn) mn = v
            if (v > mx) mx = v
            i += 1
          }
          Some(AudioStats(rate, ch, n.toLong, sum, mn, mx, first, last))
        case _ => None
      }
    }
  }

  /** Minimal canonical PCM16 WAV writer (44-byte header + raw little-endian
    * samples) — the inverse of [[WavPcmDecoder]], used by fixtures/adapters.
    */
  def encodeWavPcm16(pcm: Array[Byte], sampleRate: Int, channels: Int): Array[Byte] = {
    require(pcm.length % 2 == 0, "PCM16 payload must be an even byte count")
    val out = new Array[Byte](44 + pcm.length)
    def ascii(o: Int, s: String): Unit = { s.getBytes("US-ASCII").copyToArray(out, o); () }
    def le32(o: Int, v: Int): Unit = {
      out(o) = (v & 0xFF).toByte; out(o + 1) = ((v >> 8) & 0xFF).toByte
      out(o + 2) = ((v >> 16) & 0xFF).toByte; out(o + 3) = ((v >> 24) & 0xFF).toByte
    }
    def le16(o: Int, v: Int): Unit = {
      out(o) = (v & 0xFF).toByte; out(o + 1) = ((v >> 8) & 0xFF).toByte
    }
    ascii(0, "RIFF"); le32(4, 36 + pcm.length); ascii(8, "WAVE")
    ascii(12, "fmt "); le32(16, 16); le16(20, 1); le16(22, channels)
    le32(24, sampleRate); le32(28, sampleRate * channels * 2)
    le16(32, channels * 2); le16(34, 16)
    ascii(36, "data"); le32(40, pcm.length)
    pcm.copyToArray(out, 44)
    out
  }

  /** Batched WAV decode with the same quarantine contract as the image
    * path: every row returns, `decode_ok = false` + NULL stats for anything
    * that is not well-formed PCM16 WAV. Same bytes-bounded partition sizing.
    */
  def extractAudioFeatures(df: DataFrame, idCol: String, bytesCol: String,
                           targetPartitionBytes: Long = 256L << 20,
                           totalBytesHint: Option[Long] = None): DataFrame = {
    val slim = bytesBoundedSlim(df, idCol, bytesCol, targetPartitionBytes, totalBytesHint)
    val enc = org.apache.spark.sql.Encoders.row(audioFeatureSchema)
    slim.mapPartitions { it =>
      it.map { r =>
        WavPcmDecoder.decode(r.getAs[Array[Byte]](1)) match {
          case Some(a) => Row(r.getLong(0), true, a.sampleRate, a.nChannels,
            a.nSamples, a.sum, a.min, a.max, a.first, a.last)
          case None => Row(r.getLong(0), false, null, null, null, null, null, null, null, null)
        }
      }
    }(enc).toDF()
  }

  /** Decoded-frame schema produced by [[sampleFramesDecoded]]. */
  val videoFrameSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("decode_ok", BooleanType, nullable = false),
    StructField("frame_no", IntegerType, nullable = true),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = true)))

  /** Split an MJPEG-style concatenated-frames payload into per-frame byte
    * ranges. Motion-JPEG is literally JPEGs stored back to back; the
    * self-delimiting frame container here is P6 PPM (each header declares
    * `w*h*3` pixel bytes, so the next frame's offset is computable without
    * an index). Returns None when position 0 is not a well-formed frame —
    * the container-level quarantine signal.
    */
  private[graft] def splitPpmFrames(bytes: Array[Byte], maxFrames: Int): Option[Seq[(Int, Int)]] = {
    var pos = 0
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    while (pos + 2 <= bytes.length && out.length < maxFrames &&
           bytes(pos) == 'P' && bytes(pos + 1) == '6') {
      var p = pos + 2
      def nextInt(): Int = {
        var done = false
        while (!done && p < bytes.length) {
          val c = bytes(p)
          if (c == '#') { while (p < bytes.length && bytes(p) != '\n') p += 1 }
          else if (c == ' ' || c == '\t' || c == '\n' || c == '\r') p += 1
          else done = true
        }
        var v = 0; var any = false
        while (p < bytes.length && bytes(p) >= '0' && bytes(p) <= '9') {
          v = v * 10 + (bytes(p) - '0'); p += 1; any = true
        }
        if (any) v else -1
      }
      val w = nextInt(); val h = nextInt(); val maxval = nextInt()
      p += 1 // single whitespace after maxval
      val npx = w.toLong * h * 3
      if (w <= 0 || h <= 0 || maxval <= 0 || maxval > 255 || p + npx > bytes.length)
        return if (out.isEmpty) None else Some(out.toSeq)
      val end = p + npx.toInt
      out += ((pos, end - pos))
      pos = end
    }
    if (out.isEmpty) None else Some(out.toSeq)
  }

  /** REAL frame sampling + decode for concatenated-frame video payloads:
    * split the container ([[splitPpmFrames]]), pick `n` frames with pinned
    * arithmetic (`frame i ← index i·nFrames div n` — deterministic, no
    * keyframe heuristics), decode each through the decoder to dimensions +
    * pixel statistics. Container-level failures surface as one
    * `decode_ok = false` row per payload (quarantine contract). Shape is
    * the production one: bytes-bounded partitions, one decoder per
    * partition, explode only AFTER the per-payload work.
    */
  def sampleFramesDecoded(df: DataFrame, idCol: String, bytesCol: String, n: Int,
                          embeddingDim: Int = 8,
                          decoder: MediaDecoder = PixelStatsDecoder,
                          targetPartitionBytes: Long = 256L << 20,
                          totalBytesHint: Option[Long] = None): DataFrame = {
    require(n > 0, "frame sample count must be positive")
    val slim = bytesBoundedSlim(df, idCol, bytesCol, targetPartitionBytes, totalBytesHint)
    val enc = org.apache.spark.sql.Encoders.row(videoFrameSchema)
    slim.mapPartitions { it =>
      it.flatMap { r =>
        val id = r.getLong(0)
        val bytes = r.getAs[Array[Byte]](1)
        splitPpmFrames(bytes, maxFrames = 10000) match {
          case None => Iterator.single(Row(id, false, null, null, null, null))
          case Some(frames) =>
            val nf = frames.length
            // i·nf div n is strictly increasing when nf ≥ n (step ≥ 1), so
            // picks are distinct; fewer frames than requested → all frames.
            val picks = if (n >= nf) 0 until nf else (0 until n).map(i => i * nf / n)
            picks.iterator.map { fi =>
              val (off, len) = frames(fi)
              val fb = java.util.Arrays.copyOfRange(bytes, off, off + len)
              decoder.decodeImage(fb, embeddingDim) match {
                case Some((w, h, emb)) => Row(id, true, fi, w, h, emb.toSeq)
                case None => Row(id, false, fi, null, null, null)
              }
            }
        }
      }
    }(enc).toDF()
  }

  /** Frame sampling for video payloads: emit `n` deterministic byte-slices
    * ("frames") per payload. Real impl would seek keyframes; the slicing,
    * explode shape, and output schema are the production plumbing.
    */
  def sampleFrames(df: DataFrame, idCol: String, bytesCol: String, n: Int): DataFrame = {
    val len = octet_length(col(bytesCol))
    val stride = floor(len.cast(DoubleType) / n).cast(IntegerType)
    val frames = transform(sequence(lit(0), lit(n - 1)), i => struct(
      i.as("frame_no"),
      col(bytesCol).substr(i * stride + 1, greatest(lit(1), stride)).as("frame_bytes")))
    df.select(col(idCol), explode(frames).as("frame"))
      .select(col(idCol), col("frame.frame_no"), col("frame.frame_bytes"))
  }

  /** Resized-image schema produced by [[resizeImages]]. */
  val resizedImageSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("decode_ok", BooleanType, nullable = false),
    StructField("payload", BinaryType, nullable = true),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true)))

  /** REAL image resize: decode (PPM/BMP via the native parser, PNG/JPEG/GIF
    * via javax.imageio), sample with EXPLICIT nearest-neighbor arithmetic —
    * `src(x,y) = (x*w div outW, y*h div outH)`, pinned here rather than
    * delegated to an AWT interpolator so the pixel selection is
    * deterministic and SQL-replayable (`media_resize` oracle) — and
    * re-encode as PNG (lossless: resized pixels survive bit-exact).
    * Quarantine contract as everywhere: undecodable rows return
    * `decode_ok = false` with NULL payload, never dropped.
    */
  def resizeImages(df: DataFrame, idCol: String, bytesCol: String,
                   outW: Int, outH: Int,
                   targetPartitionBytes: Long = 256L << 20,
                   totalBytesHint: Option[Long] = None): DataFrame = {
    require(outW > 0 && outH > 0, "resize dimensions must be positive")
    val slim = bytesBoundedSlim(df, idCol, bytesCol, targetPartitionBytes, totalBytesHint)
    val enc = org.apache.spark.sql.Encoders.row(resizedImageSchema)
    slim.mapPartitions { it =>
      it.map { r =>
        readPixels(r.getAs[Array[Byte]](1)) match {
          case Some((w, h, rgbAt)) =>
            val im = new java.awt.image.BufferedImage(outW, outH,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            var y = 0
            while (y < outH) {
              val sy = y * h / outH
              var x = 0
              while (x < outW) {
                im.setRGB(x, y, rgbAt(x * w / outW, sy))
                x += 1
              }
              y += 1
            }
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(im, "png", bos)
            Row(r.getLong(0), true, bos.toByteArray, outW, outH)
          case None => Row(r.getLong(0), false, null, null, null)
        }
      }
    }(enc).toDF()
  }

  /** dHash result schema produced by [[dHashImages]]. */
  val imageHashSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("decode_ok", BooleanType, nullable = false),
    StructField("dhash", LongType, nullable = true)))

  /** 64-bit DIFFERENCE HASH (dHash) per image — the perceptual signature
    * for raw-media near-dup detection: re-encoded (PNG↔PPM↔BMP) and
    * nearest-neighbor-resized copies of an image hash to the same (or
    * near-same) 64 bits, while unrelated images differ in ~32, so
    * Hamming-piece bucketing ([[Dedup.hammingNearDups64]]) pairs the
    * clones without an all-pairs join — the image-side analog of SimHash
    * text dedup.
    *
    * Algorithm, all EXACT integer arithmetic (no float rounding, so the
    * hash is bit-stable across engines): decode to RGB (either decoder
    * family), grayscale each pixel as r+g+b, average-pool onto a 9×8 grid
    * (pixel x → cell x·9 div w, y → y·8 div h), then bit (row·8 + x) = 1
    * iff cell (x+1, row) is brighter than cell (x, row) — compared by
    * cross-multiplied sums (`sum₁·n₀ > sum₀·n₁`), never divided averages.
    * Products are bounded by 765 · (wh/72)² < 2⁶³ up to ~500-megapixel
    * images. When source dims divide the grid (e.g. 18×16) an exact
    * nearest-neighbor upscale pools the identical pixel multiset per cell
    * — Hamming 0 by construction, spec'd in MultimodalSpec.
    *
    * Images smaller than the 9×8 grid (or undecodable) return
    * `decode_ok = false` — the quarantine contract, not a degenerate hash.
    */
  def dHashImages(df: DataFrame, idCol: String, bytesCol: String,
                  targetPartitionBytes: Long = 256L << 20,
                  totalBytesHint: Option[Long] = None): DataFrame = {
    val slim = bytesBoundedSlim(df, idCol, bytesCol, targetPartitionBytes, totalBytesHint)
    val enc = org.apache.spark.sql.Encoders.row(imageHashSchema)
    slim.mapPartitions { it =>
      it.map { r =>
        readPixels(r.getAs[Array[Byte]](1)).flatMap {
          case (w, h, rgbAt) => dhashOf(w, h, rgbAt)
        } match {
          case Some(hash) => Row(r.getLong(0), true, hash)
          case None => Row(r.getLong(0), false, null)
        }
      }
    }(enc).toDF()
  }

  /** The 9×8 pooled-gradient core shared by [[dHashImages]] and
    * [[videoFrameHashes]]; None for images smaller than the grid.
    */
  private def dhashOf(w: Int, h: Int, rgbAt: (Int, Int) => Int): Option[Long] = {
    if (w < 9 || h < 8) return None
    val sums = Array.ofDim[Long](8, 9)
    val cnts = Array.ofDim[Long](8, 9)
    var y = 0
    while (y < h) {
      val by = y * 8 / h
      var x = 0
      while (x < w) {
        val p = rgbAt(x, y)
        val g = ((p >> 16) & 0xFF) + ((p >> 8) & 0xFF) + (p & 0xFF)
        val bx = x * 9 / w
        sums(by)(bx) += g
        cnts(by)(bx) += 1
        x += 1
      }
      y += 1
    }
    var hash = 0L
    var row = 0
    while (row < 8) {
      var bx = 0
      while (bx < 8) {
        if (sums(row)(bx + 1) * cnts(row)(bx) > sums(row)(bx) * cnts(row)(bx + 1))
          hash |= 1L << (row * 8 + bx)
        bx += 1
      }
      row += 1
    }
    Some(hash)
  }

  /** Per-frame dHash signature schema produced by [[videoFrameHashes]]. */
  val videoHashSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("decode_ok", BooleanType, nullable = false),
    StructField("frame_no", IntegerType, nullable = true),
    StructField("dhash", LongType, nullable = true)))

  /** Perceptual VIDEO signature: sample `n` frames with the same pinned
    * arithmetic as [[sampleFramesDecoded]] (`frame i ← i·nFrames div n`)
    * and dHash each — a clip's signature is its (sample position, 64-bit
    * frame hash) rows. Two clips whose sampled frames all hash equal are
    * near-duplicates (re-muxed / per-frame re-encoded / exactly-upscaled
    * copies — the per-frame invariances are [[dHashImages]]'s); a clip
    * with a few replaced frames still matches on the rest, so callers
    * choose a match-count threshold. Pairing is an equality join on
    * `(frame_no, dhash)` — bucket cardinality ∝ corpus, never all-pairs,
    * and no banding is even needed (frame-exactness is the match).
    * Container-level failures and sub-grid frames surface as
    * `decode_ok = false` rows (quarantine contract).
    */
  def videoFrameHashes(df: DataFrame, idCol: String, bytesCol: String, n: Int,
                       targetPartitionBytes: Long = 256L << 20,
                       totalBytesHint: Option[Long] = None): DataFrame = {
    require(n > 0, "frame sample count must be positive")
    val slim = bytesBoundedSlim(df, idCol, bytesCol, targetPartitionBytes, totalBytesHint)
    val enc = org.apache.spark.sql.Encoders.row(videoHashSchema)
    slim.mapPartitions { it =>
      it.flatMap { r =>
        val id = r.getLong(0)
        val bytes = r.getAs[Array[Byte]](1)
        splitPpmFrames(bytes, maxFrames = 10000) match {
          case None => Iterator.single(Row(id, false, null, null))
          case Some(frames) =>
            val nf = frames.length
            val picks = if (n >= nf) 0 until nf else (0 until n).map(i => i * nf / n)
            picks.iterator.zipWithIndex.map { case (fi, pos) =>
              val (off, len) = frames(fi)
              val fb = java.util.Arrays.copyOfRange(bytes, off, off + len)
              PixelStatsDecoder.parse(fb).flatMap { case (w, h, px) =>
                dhashOf(w, h, (x, y) => {
                  val i = (y * w + x) * 3
                  ((px(i) & 0xFF) << 16) | ((px(i + 1) & 0xFF) << 8) | (px(i + 2) & 0xFF)
                })
              } match {
                case Some(hash) => Row(id, true, pos, hash)
                case None => Row(id, false, pos, null)
              }
            }
        }
      }
    }(enc).toDF()
  }

  /** Envelope-hash result schema produced by [[audioEnvelopeHash]]. */
  val audioHashSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("decode_ok", BooleanType, nullable = false),
    StructField("ahash", LongType, nullable = true)))

  /** 64-bit ENVELOPE DIFFERENCE HASH per audio payload — the audio member
    * of the perceptual near-dup family ([[dHashImages]] is the image one,
    * [[Dedup.hammingNearDups64]] the shared pairing): decode PCM16 WAV,
    * split the sample stream into 65 equal windows, sum |amplitude| per
    * window (exact long), and set bit i iff window i+1 carries more mean
    * energy than window i — compared by cross-multiplied sums, never
    * divided means, so the hash is bit-stable.
    *
    * What survives unchanged (Hamming 0 by construction):
    *  - container repacking — extra RIFF chunks, re-muxing; the chunk walk
    *    reads the same samples;
    *  - EXACT uniform gain changes (×2ᵏ on even samples): every window sum
    *    scales by the same factor, so every comparison is preserved.
    * Lossy re-encodes and resampling move few bits (the near-dup band),
    * while unrelated audio differs in ~32 of 64 — the same separation
    * argument as dHash. Exactness bound: cross-products stay under 2⁶³ up
    * to ~10⁹ samples (6+ hours at 44.1 kHz).
    *
    * Payloads that are not well-formed PCM16 WAV, or carry fewer than 65
    * samples, return `decode_ok = false` (quarantine contract).
    */
  def audioEnvelopeHash(df: DataFrame, idCol: String, bytesCol: String,
                        targetPartitionBytes: Long = 256L << 20,
                        totalBytesHint: Option[Long] = None): DataFrame = {
    val slim = bytesBoundedSlim(df, idCol, bytesCol, targetPartitionBytes, totalBytesHint)
    val enc = org.apache.spark.sql.Encoders.row(audioHashSchema)
    slim.mapPartitions { it =>
      it.map { r =>
        val bytes = r.getAs[Array[Byte]](1)
        val id = r.getLong(0)
        WavPcmDecoder.decodeSamples(bytes) match {
          case Some(samples) if samples.length >= 65 =>
            val n = samples.length
            val sums = new Array[Long](65)
            val cnts = new Array[Long](65)
            var i = 0
            while (i < n) {
              val w = (i.toLong * 65 / n).toInt
              sums(w) += math.abs(samples(i).toLong)
              cnts(w) += 1
              i += 1
            }
            var hash = 0L
            var w = 0
            while (w < 64) {
              if (sums(w + 1) * cnts(w) > sums(w) * cnts(w + 1))
                hash |= 1L << w
              w += 1
            }
            Row(id, true, hash)
          case _ => Row(id, false, null)
        }
      }
    }(enc).toDF()
  }

  /** (width, height, (x, y) → packed RGB) from any payload either decoder
    * family reads — PPM/BMP through the native parser first (cheap header
    * sniff), then the javax.imageio readers.
    */
  private def readPixels(bytes: Array[Byte]): Option[(Int, Int, (Int, Int) => Int)] =
    PixelStatsDecoder.parse(bytes).map { case (w, h, px) =>
      (w, h, (x: Int, y: Int) => {
        val i = (y * w + x) * 3
        ((px(i) & 0xFF) << 16) | ((px(i + 1) & 0xFF) << 8) | (px(i + 2) & 0xFF)
      })
    }.orElse {
      val img =
        try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
        catch { case _: Exception => None }
      img.map { im =>
        // One bulk grab instead of a per-pixel getRGB in the accessor: the
        // callers (resize / frame sampling) touch most pixels anyway, and
        // the int frame is the same order of memory as the uncompressed-
        // format branch's byte array above.
        val w = im.getWidth; val h = im.getHeight
        val px = im.getRGB(0, 0, w, h, null, 0, w)
        (w, h, (x: Int, y: Int) => px(y * w + x) & 0xFFFFFF)
      }
    }
}
