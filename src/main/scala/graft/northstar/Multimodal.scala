package graft.northstar

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing (BASELINE.json north-star; SURVEY.md §7.4):
  * image/audio/video travel as opaque BINARY columns + a typed metadata
  * struct; decode / feature-extraction / resize / frame-sampling run as
  * partition-local batch functions over the binary payloads.
  *
  * IMAGE decode is real — [[ImageCodec]] over the JDK's ImageIO
  * (PNG/BMP/GIF/JPEG), producing true pixel dimensions and
  * luminance-stripe features. AUDIO decode is real for WAV —
  * [[AudioCodec]] over javax.sound.sampled (PCM 8/16-bit), producing
  * frame/channel counts and RMS-stripe features. VIDEO metadata decode
  * is real for MP4 — [[VideoCodec]], a pure-JVM ISO-BMFF box parse
  * (moov→trak→tkhd for pixel dimensions, moov→mvhd for duration), zero
  * extra dependencies; sample/pixel decode of the compressed streams
  * would need av libraries this environment lacks, so features come from
  * the deterministic payload fingerprint. FLAC STREAMINFO metadata
  * ([[FlacCodec]]) and Matroska EBML metadata ([[MkvCodec]]) parse the
  * same way — real container fields, fingerprint features. Anything
  * none of the five codecs recognize falls back to [[StubCodec.decode]],
  * a deterministic
  * fake derived from the payload bytes. The surrounding plumbing — asset
  * schema, partition-batched execution shape, metadata extraction,
  * feature vectors, frame sampling — is identical for all modalities.
  *
  * Scale notes: payloads never pass through the driver; the decode is
  * mapPartitions (one codec init per partition, not per row, mirroring the
  * batch shape of Arrow-based UDFs); derived features are small fixed-size
  * arrays so downstream shuffles move features, not payloads. For 100 TB
  * of media, partition sizing is governed by files.maxPartitionBytes on
  * the payload table, and decode parallelism = partitions.
  */
object Multimodal {

  /** The asset table schema: id, modality tag, opaque payload, typed
    * metadata known WITHOUT decoding (byte length, source id).
    */
  val assetSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false),
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("n_bytes", LongType, nullable = false),
      StructField("source", StringType, nullable = true))), nullable = false),
  ))

  /** Wrap any table with a text/blob-ish column into asset form (used by
    * tests and the bench queries to synthesize binary payloads from the
    * documents table: payload = utf-8 bytes of the text).
    */
  def toAssets(df: DataFrame, idCol: String, payloadExpr: String,
               modality: String, sourceCol: String): DataFrame = {
    // ONE evaluation of the payload expression feeds both the stored
    // bytes and n_bytes (code-review r18): two independent `expr`
    // instances would disagree for a non-deterministic payload
    // expression, corrupting the "typed metadata known without
    // decoding" contract (n_bytes != length(payload) in the table)
    val payload = expr(payloadExpr).cast("binary")
    df.select(
        col(idCol).cast("long").as("asset_id"),
        lit(modality).as("modality"),
        payload.as("payload"),
        col(sourceCol).cast("string").as("__src"))
      .select(col("asset_id"), col("modality"), col("payload"),
        struct(
          coalesce(length(col("payload")).cast("long"), lit(0L))
            .as("n_bytes"),
          col("__src").as("source")).as("meta"))
  }

  /** Decoded representation produced by the (stubbed) codec. */
  case class Decoded(assetId: Long, width: Int, height: Int, format: String,
                     features: Array[Float])

  /** Deterministic stand-in for the real image/audio codec. */
  object StubCodec {
    val FeatureDim = 8

    /** STUB — a real implementation would parse the container format and
      * decode pixels/samples here. This fake derives (width, height,
      * format, features) deterministically from the bytes so the plumbing
      * is testable: dims from the first bytes, features = per-stripe byte
      * means normalized to [0,1].
      */
    def decode(assetId: Long, payload: Array[Byte]): Decoded = {
      if (payload == null || payload.isEmpty)
        return Decoded(assetId, 0, 0, "empty", Array.fill(FeatureDim)(0f))
      val w = 16 + (math.abs(payload.head.toInt) % 64)
      val h = 16 + (math.abs(payload.last.toInt) % 64)
      val stripe = math.max(1, payload.length / FeatureDim)
      val feats = Array.tabulate(FeatureDim) { i =>
        val from = i * stripe
        val until = math.min(payload.length, from + stripe)
        if (from >= payload.length) 0f
        else {
          var s = 0L; var j = from
          while (j < until) { s += (payload(j) & 0xFF); j += 1 }
          (s.toFloat / (until - from)) / 255f
        }
      }
      Decoded(assetId, w, h, "stub", feats)
    }
  }

  /** Real image codec over the JDK's `javax.imageio.ImageIO` — zero extra
    * dependencies. Handles the formats the JDK ships readers for
    * (PNG/BMP/GIF/JPEG): real pixel dimensions, container format from the
    * magic bytes, and features = mean luminance (Rec.601 weights) per
    * vertical stripe normalized to [0,1]. Payloads that are not images
    * (wrong magic, or truncated/corrupt containers ImageIO rejects)
    * return None and fall back to [[StubCodec]] — audio/video decode
    * still needs libraries this environment lacks.
    */
  object ImageCodec {
    javax.imageio.ImageIO.setUseCache(false) // no temp-file cache on executors

    /** Reader service providers resolved ONCE per JVM, keyed by the
      * magic-byte format ([[formatOf]]): `ImageIO.getImageReaders`
      * iterates the IIORegistry under its lock and probes every SPI's
      * `canDecodeInput` PER PAYLOAD — profiled r20 at 32 local cores,
      * the decode stages spent ~half their task time blocked on it
      * (run=14.1 s vs cpu=7.4 s), and a multi-core executor decoding a
      * 100 TB image corpus pays the same wall. The magic screen already
      * names the container, so the right reader is a map lookup; a
      * corrupt payload behind valid magic makes the reader throw, which
      * lands in the same catch → None fallback the registry probe fed.
      */
    private val readerSpis
        : Map[String, javax.imageio.spi.ImageReaderSpi] = {
      import scala.jdk.CollectionConverters._
      val spis = javax.imageio.spi.IIORegistry.getDefaultInstance
        .getServiceProviders(
          classOf[javax.imageio.spi.ImageReaderSpi], true).asScala.toList
      Seq("png", "bmp", "gif", "jpeg").flatMap { f =>
        spis.find(_.getFormatNames.exists(_.equalsIgnoreCase(f)))
          .map(f -> _)
      }.toMap
    }

    /** Cheap magic-byte pre-screen so non-image payloads never pay for an
      * ImageIO probe.
      */
    def looksLikeImage(p: Array[Byte]): Boolean =
      p != null && p.length >= 4 &&
        ((p(0) == 0x89.toByte && p(1) == 'P' && p(2) == 'N' && p(3) == 'G') ||
          (p(0) == 'B' && p(1) == 'M') ||
          (p(0) == 'G' && p(1) == 'I' && p(2) == 'F') ||
          (p(0) == 0xFF.toByte && p(1) == 0xD8.toByte))

    private def formatOf(p: Array[Byte]): String =
      if (p(0) == 0x89.toByte) "png"
      else if (p(0) == 'B') "bmp"
      else if (p(0) == 'G') "gif"
      else "jpeg"

    /** Pixel-count ceiling before any pixel decode: a LEGAL 50k×50k PNG
      * (decompression bomb, or an outlier scan) passes the magic screen
      * and `ImageIO.read` would materialize a ~10 GB BufferedImage —
      * OutOfMemoryError is an Error the Exception catch does NOT cover,
      * so the task died, the retry hit the same row, and the stage
      * failed (code-review r14). The reader API exposes header
      * dimensions without touching pixel data; over-limit images
      * degrade to the stub like every other undecodable payload.
      * 64M pixels ≈ 8k×8k ≈ 256 MB decoded — generous for corpus
      * imagery, far below executor-killing.
      */
    val MaxPixels: Long = 64L * 1024 * 1024

    def decode(assetId: Long, payload: Array[Byte]): Option[Decoded] =
      readImage(payload).flatMap(img =>
        decodePixels(assetId, payload, img))

    /** The guarded pixel read shared by [[decode]] and
      * [[perceptualHash]]: magic screen, header-only bomb ceiling,
      * reader lifecycle, corrupt-payload fallback. None = not an
      * image / undecodable / over-limit — callers degrade, never die.
      */
    private[northstar] def readImage(payload: Array[Byte])
        : Option[java.awt.image.BufferedImage] =
      if (!looksLikeImage(payload)) None
      // try/catch around the FULL decode, not just the read: a corrupt
      // payload that passes the 4-byte magic screen makes ImageIO throw
      // (IIOException/RuntimeException), and at corpus scale one bad
      // image must fall back to the stub, not kill the task (found by
      // the seeded codec fuzz test)
      else try {
        // reader from the per-JVM SPI cache — no registry iteration,
        // no canDecodeInput probes, no global lock (see readerSpis)
        readerSpis.get(formatOf(payload)) match {
          case None => None
          case Some(spi) =>
            val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
              new java.io.ByteArrayInputStream(payload))
            try {
              val reader = spi.createReaderInstance()
              try {
                reader.setInput(iis)
                // header-only: getWidth/getHeight read container
                // metadata, not pixels — the bomb never allocates
                val hw = reader.getWidth(0)
                val hh = reader.getHeight(0)
                if (hw.toLong * hh > MaxPixels || hw <= 0 || hh <= 0) None
                else Some(reader.read(0))
              } finally reader.dispose()
            } finally iis.close()
        }
      } catch { case _: Exception => None }

    /** 64-bit difference hash (dHash — the standard perceptual
      * image fingerprint: Krawetz, "Kind of Like That", 2013): block-
      * average the luminance onto a 9×8 grid, bit j = y*8+x set iff
      * grid(x,y) > grid(x+1,y). Robust to re-encoding, scaling, and
      * mild brightness shifts (comparisons are invariant to monotone
      * per-image transforms); Hamming distance between hashes is the
      * near-dup statistic ([[graft.northstar.Dedup.hammingPairs64]]
      * rides it with the SimHash banding). One pass over the rows via
      * the same bulk row reads as [[decode]]; a grid cell no pixel
      * maps to (degenerate tiny images) reads as mean 0 — documented,
      * deterministic. None = not a decodable image.
      */
    def perceptualHash(payload: Array[Byte]): Option[Long] =
      readImage(payload).map { img =>
        val gw = 9; val gh = 8
        val w = img.getWidth
        val h = img.getHeight
        val sums = Array.ofDim[Double](gh, gw)
        val counts = Array.ofDim[Long](gh, gw)
        val rowBuf = new Array[Int](w)
        var y = 0
        while (y < h) {
          img.getRGB(0, y, w, 1, rowBuf, 0, w)
          val gy = math.min(gh - 1, y * gh / h)
          var x = 0
          while (x < w) {
            val rgb = rowBuf(x)
            val lum = 0.299 * ((rgb >> 16) & 0xFF) +
              0.587 * ((rgb >> 8) & 0xFF) + 0.114 * (rgb & 0xFF)
            val gx = math.min(gw - 1, x * gw / w)
            sums(gy)(gx) += lum
            counts(gy)(gx) += 1
            x += 1
          }
          y += 1
        }
        def mean(gy: Int, gx: Int): Double =
          if (counts(gy)(gx) == 0) 0.0 else sums(gy)(gx) / counts(gy)(gx)
        var fp = 0L
        var gy = 0
        while (gy < gh) {
          var gx = 0
          while (gx < gw - 1) {
            if (mean(gy, gx) > mean(gy, gx + 1))
              fp |= 1L << (gy * 8 + gx)
            gx += 1
          }
          gy += 1
        }
        fp
      }

    private def decodePixels(assetId: Long, payload: Array[Byte],
                             img: java.awt.image.BufferedImage)
        : Option[Decoded] = {
      {
        val w = img.getWidth
        val h = img.getHeight
        val dim = StubCodec.FeatureDim
        val sums = new Array[Double](dim)
        val counts = new Array[Long](dim)
        // bulk row reads, not per-pixel getRGB (code-review r18): the
        // virtual per-call ColorModel conversion costs ~an order of
        // magnitude on the decode hot path at up to 64M pixels/image;
        // the bulk form returns identical sRGB values with one
        // row-width buffer of extra memory
        val rowBuf = new Array[Int](w)
        var y = 0
        while (y < h) {
          img.getRGB(0, y, w, 1, rowBuf, 0, w)
          var x = 0
          while (x < w) {
            val rgb = rowBuf(x)
            val lum = 0.299 * ((rgb >> 16) & 0xFF) +
              0.587 * ((rgb >> 8) & 0xFF) + 0.114 * (rgb & 0xFF)
            val s = math.min(dim - 1, x * dim / w)
            sums(s) += lum
            counts(s) += 1
            x += 1
          }
          y += 1
        }
        val feats = Array.tabulate(dim)(i =>
          if (counts(i) == 0) 0f else (sums(i) / counts(i) / 255.0).toFloat)
        Some(Decoded(assetId, w, h, formatOf(payload), feats))
      }
    }
  }

  /** Real audio codec for WAV payloads over the JDK's
    * `javax.sound.sampled` — zero extra dependencies. Decodes 16-bit
    * signed and 8-bit signed/UNSIGNED PCM WAV (8-bit WAV's standard
    * on-disk form is unsigned — javax.sound reports PCM_UNSIGNED for
    * it, and a signed-only gate silently stubbed every real-world
    * 8-bit corpus; code-review r18): `width` carries the frame count,
    * `height` the channel count, features = RMS amplitude per
    * time-stripe normalized to [0,1]. Non-WAV or non-PCM payloads
    * return None and fall back to [[StubCodec]] (video still needs
    * libraries this environment lacks).
    */
  object AudioCodec {

    /** RIFF....WAVE magic pre-screen. */
    def looksLikeWav(p: Array[Byte]): Boolean =
      p != null && p.length >= 12 &&
        p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
        p(8) == 'W' && p(9) == 'A' && p(10) == 'V' && p(11) == 'E'

    def decode(assetId: Long, payload: Array[Byte]): Option[Decoded] =
      stripeEnergies(payload, StubCodec.FeatureDim).map {
        case (rms, frames, channels) =>
          Decoded(assetId, frames, channels, "wav", rms.map(_.toFloat))
      }

    /** The RIFF chunk walk behind [[stripeEnergies]]: (channels, bits,
      * data offset, data length) of the first `fmt `/`data` chunk pair,
      * accepting exactly the payloads the old `javax.sound` path
      * accepted — WAVE_FORMAT_PCM (tag 1), 8-bit (unsigned, the WAV
      * on-disk convention) or 16-bit (signed little-endian); every
      * other tag (IEEE float, a/u-law, EXTENSIBLE) and any malformed
      * walk returns None, the same stub fallback as before.
      *
      * Why not `AudioSystem.getAudioInputStream`: the JDK's audio
      * service-provider lookup is a synchronized global
      * (`JDK13Services`), so concurrent decode tasks SERIALIZE on it —
      * profiled r20 at 32 local cores: the 33-task audio-hash stage
      * showed run=70.9 s vs cpu=3.1 s (96% of task time blocked on the
      * registry lock). Any multi-core executor decoding audio at 100 TB
      * pays the same wall; a direct parse of the 44-byte header format
      * this codec supports removes the global entirely (guide §1.2
      * per-task work).
      */
    private def riffPcm(p: Array[Byte]): Option[(Int, Int, Int, Int)] = {
      def u16(o: Int) = (p(o) & 0xFF) | ((p(o + 1) & 0xFF) << 8)
      def u32(o: Int): Long =
        (p(o) & 0xFFL) | ((p(o + 1) & 0xFFL) << 8) |
          ((p(o + 2) & 0xFFL) << 16) | ((p(o + 3) & 0xFFL) << 24)
      var off = 12 // past RIFF....WAVE
      var fmt: Option[(Int, Int)] = None // (channels, bits)
      while (off + 8 <= p.length) {
        val id = new String(p, off, 4, "ISO-8859-1")
        val len = u32(off + 4)
        val body = off + 8
        if (len < 0 || body + math.min(len, Int.MaxValue.toLong) < body)
          return None
        if (id == "fmt ") {
          if (len < 16 || body + 16 > p.length) return None
          val tag = u16(body)
          val channels = u16(body + 2)
          val bits = u16(body + 14)
          if (tag != 1) return None // non-PCM: the old encodingOk gate
          fmt = Some((channels, bits))
        } else if (id == "data") {
          // a truncated payload yields the bytes that exist, exactly
          // like the old stream's readAllBytes
          val avail = math.max(0L, (p.length - body).toLong)
          val dataLen = math.min(len, avail).toInt
          return fmt.collect {
            case (ch, bits) if bits == 8 || bits == 16 =>
              (ch, bits, body, dataLen)
          }
        }
        // chunks are word-aligned: odd sizes carry a pad byte
        off = body + len.toInt + (len.toInt & 1)
      }
      None
    }

    /** Per-stripe RMS energy of the decoded PCM — `dim` equal TIME
      * stripes over the frame axis, channels pooled into each stripe.
      * The shared walk behind [[decode]]'s feature vector (dim =
      * FeatureDim) and [[robustHash]]'s 65-stripe gradient pass; None
      * for non-WAV payloads and unsupported encodings. An empty stripe
      * reads 0.0 (the decode path's historical convention).
      */
    private def stripeEnergies(payload: Array[Byte], dim: Int)
        : Option[(Array[Double], Int, Int)] =
      if (!looksLikeWav(payload)) None
      else try {
        riffPcm(payload) match {
          case None => None
          case Some((channels, bits, dataOff, dataLen)) =>
            val unsigned8 = bits == 8 // WAV 8-bit PCM is unsigned on disk
            val bytes = java.util.Arrays.copyOfRange(
              payload, dataOff, dataOff + dataLen)
            val bytesPerSample = bits / 8
            val nSamples = bytes.length / bytesPerSample
            val frames = if (channels == 0) 0 else nSamples / channels
            val sumSq = new Array[Double](dim)
            val counts = new Array[Long](dim)
            var i = 0
            while (i < nSamples) {
              val v =
                if (bits == 8)
                  (if (unsigned8) ((bytes(i) & 0xFF) - 128).toDouble
                   else bytes(i).toDouble) / 128.0
                else {
                  val lo = bytes(2 * i) & 0xFF
                  val hi = bytes(2 * i + 1)
                  val s = (hi << 8) | lo // WAV 16-bit PCM is little-endian
                  s.toDouble / 32768.0
                }
              val frame = i / math.max(1, channels)
              // long arithmetic: frame * dim wraps Int negative past
              // ~268M frames (a 1.7h 44.1kHz 8-bit WAV), the AIOOBE was
              // swallowed by the blanket catch, and the asset silently
              // downgraded to stub metadata (code-review r14)
              val stripe = if (frames == 0) 0
                else math.min(dim - 1, (frame.toLong * dim / frames).toInt)
              sumSq(stripe) += v * v
              counts(stripe) += 1
              i += 1
            }
            val rms = Array.tabulate(dim)(s =>
              if (counts(s) == 0) 0.0
              else math.sqrt(sumSq(s) / counts(s)))
            Some((rms, frames, channels))
        }
      } catch { case _: Exception => None }

    /** 64-bit ROBUST AUDIO HASH — Haitsma & Kalker's sign-of-energy-
      * difference construction (ISMIR 2002, public knowledge), reduced
      * to the time axis this decoder already models: the PCM is pooled
      * into 65 equal time stripes and bit j is set iff stripe j+1's
      * RMS energy exceeds stripe j's. The audio twin of
      * [[ImageCodec.perceptualHash]]'s dHash: energy-GRADIENT signs
      * survive volume scaling (RMS is homogeneous), resampling, and
      * small local edits; absolute energies don't. None for non-WAV /
      * unsupported payloads. A constant signal (silence included)
      * hashes to 0L — all-silent assets read as exact near-dups, the
      * curation-correct answer. Completes the multimodal dedup family
      * (VERDICT r19 task 5) riding [[Dedup.hammingPairs64]] exactly as
      * images do.
      */
    def robustHash(payload: Array[Byte]): Option[Long] =
      stripeEnergies(payload, 65).map { case (rms, _, _) =>
        var h = 0L
        var j = 0
        while (j < 64) {
          if (rms(j + 1) > rms(j)) h |= 1L << j
          j += 1
        }
        h
      }
  }

  /** Real audio METADATA codec for FLAC payloads — a pure-JVM
    * STREAMINFO parse, zero extra dependencies (RFC 9639 / the public
    * FLAC format spec: `fLaC` magic, then length-prefixed metadata
    * blocks; block type 0 = STREAMINFO is REQUIRED to come first and
    * carries sample rate (20 bits), channels−1 (3), bits-per-sample−1
    * (5), and total samples (36) in a packed big-endian layout).
    * `width` carries the total sample count (clamped to Int.MaxValue),
    * `height` the channel count. Decoding the compressed subframes
    * would need a FLAC library this environment lacks, so `features`
    * reuse the deterministic payload fingerprint — metadata real,
    * content features a stand-in (the [[VideoCodec]] contract).
    * Non-FLAC or malformed payloads return None.
    */
  object FlacCodec {

    case class FlacMeta(sampleRate: Int, channels: Int,
                        bitsPerSample: Int, totalSamples: Long) {
      def durationMs: Long =
        if (sampleRate <= 0) 0L else totalSamples * 1000L / sampleRate
    }

    def looksLikeFlac(p: Array[Byte]): Boolean =
      p != null && p.length >= 4 &&
        p(0) == 'f' && p(1) == 'L' && p(2) == 'a' && p(3) == 'C'

    /** STREAMINFO fields, or None when not FLAC / malformed. */
    def parse(p: Array[Byte]): Option[FlacMeta] =
      if (!looksLikeFlac(p)) None
      else try {
        // METADATA_BLOCK_HEADER at offset 4: 1 bit last-flag, 7 bits
        // type, 24 bits big-endian length; STREAMINFO must be first
        if (p.length < 8) return None
        val blockType = p(4) & 0x7F
        val len = ((p(5) & 0xFF) << 16) | ((p(6) & 0xFF) << 8) | (p(7) & 0xFF)
        if (blockType != 0 || len < 34 || p.length < 8 + 34) return None
        val d = 8 // STREAMINFO data offset
        def u(i: Int): Int = p(d + i) & 0xFF
        // bytes 10..17 pack: sampleRate(20) | channels-1(3) | bps-1(5)
        // | totalSamples(36)
        val sampleRate = (u(10) << 12) | (u(11) << 4) | (u(12) >>> 4)
        val channels = ((u(12) >>> 1) & 0x7) + 1
        val bps = (((u(12) & 1) << 4) | (u(13) >>> 4)) + 1
        val totalSamples = ((u(13) & 0xF).toLong << 32) |
          (u(14).toLong << 24) | (u(15).toLong << 16) |
          (u(16).toLong << 8) | u(17).toLong
        // RFC 9639: sample rate 0 is invalid — reject rather than emit
        // a "flac" asset with bogus duration-0 metadata
        if (sampleRate == 0) None
        else Some(FlacMeta(sampleRate, channels, bps, totalSamples))
      } catch { case _: Exception => None }

    def decode(assetId: Long, payload: Array[Byte]): Option[Decoded] =
      parse(payload).map(m => Decoded(assetId,
        math.min(m.totalSamples, Int.MaxValue.toLong).toInt, m.channels,
        "flac", StubCodec.decode(assetId, payload).features))
  }

  /** Real video METADATA codec for MP4/ISO-BMFF payloads — a pure-JVM
    * box parse, zero extra dependencies (ISO/IEC 14496-12 box layout:
    * length-prefixed 4CC boxes; `moov→mvhd` carries timescale+duration,
    * `moov→trak→tkhd` carries 16.16-fixed-point track dimensions).
    * `width`/`height` are the first video track's true pixel dims;
    * duration is exposed via [[parse]] for callers that need it.
    * Decoding the compressed sample streams (H.264 etc.) would need av
    * libraries this environment lacks, so `features` reuse the
    * deterministic payload fingerprint — the metadata is real, the
    * content features are a stand-in. Non-MP4 payloads return None.
    */
  object VideoCodec {

    /** Parsed container metadata: pixel dims of the first sized track,
      * duration in milliseconds (mvhd duration / timescale).
      */
    case class Mp4Meta(width: Int, height: Int, durationMs: Long)

    /** `....ftyp` magic pre-screen (bytes 4-7 of the first box header). */
    def looksLikeMp4(p: Array[Byte]): Boolean =
      p != null && p.length >= 16 &&
        p(4) == 'f' && p(5) == 't' && p(6) == 'y' && p(7) == 'p'

    private def u32(p: Array[Byte], off: Int): Long =
      ((p(off) & 0xFFL) << 24) | ((p(off + 1) & 0xFFL) << 16) |
        ((p(off + 2) & 0xFFL) << 8) | (p(off + 3) & 0xFFL)

    private def u64(p: Array[Byte], off: Int): Long =
      (u32(p, off) << 32) | u32(p, off + 4)

    /** Iterate sibling boxes in [start, end); yield (type, payloadStart,
      * payloadEnd). Bails on malformed sizes rather than throwing.
      */
    private def boxes(p: Array[Byte], start: Int,
                      end: Int): Iterator[(String, Int, Int)] =
      new Iterator[(String, Int, Int)] {
        private var off = start
        def hasNext: Boolean = off + 8 <= end
        def next(): (String, Int, Int) = {
          val size32 = u32(p, off)
          val typ = new String(p, off + 4, 4, "ISO-8859-1")
          val (headerLen, size) =
            if (size32 == 1 && off + 16 <= end) (16, u64(p, off + 8))
            else if (size32 == 0) (8, (end - off).toLong) // box runs to EOF
            else (8, size32)
          // size is attacker-controlled and u64 can read NEGATIVE for
          // values >= 2^63; compare against the (small, non-negative)
          // remaining span instead of `off + size`, which overflows
          // Long for a crafted 64-bit size and let boxEnd move the
          // cursor backward — an AIOOBE escaping the per-task decode,
          // or a cursor loop hanging the executor (code-review r18)
          val boxEnd =
            if (size < headerLen || size > (end - off).toLong)
              end // malformed: stop
            else off + size.toInt
          val res = (typ, off + headerLen, boxEnd)
          off = boxEnd
          res
        }
      }

    private def findBox(p: Array[Byte], start: Int, end: Int,
                        typ: String): Option[(Int, Int)] =
      boxes(p, start, end).collectFirst { case (`typ`, s, e) => (s, e) }

    /** mvhd: version(1)+flags(3), then v0 creation/modification u32 each,
      * v1 u64 each; then timescale u32, duration (u32 v0 / u64 v1).
      */
    private def mvhdDurationMs(p: Array[Byte], s: Int, e: Int): Long = {
      if (s + 4 > e) return 0L
      val v = p(s) & 0xFF
      val (tsOff, durLen) = if (v == 1) (s + 4 + 16, 8) else (s + 4 + 8, 4)
      if (tsOff + 4 + durLen > e) return 0L
      val timescale = u32(p, tsOff)
      val duration =
        if (durLen == 8) u64(p, tsOff + 4) else u32(p, tsOff + 4)
      if (timescale <= 0) 0L else duration * 1000L / timescale
    }

    /** tkhd: after version+flags and the version-dependent time/id fields,
      * the last 8 payload bytes are width/height as 16.16 fixed point.
      */
    private def tkhdDims(p: Array[Byte], s: Int, e: Int): (Int, Int) = {
      if (s + 4 > e) return (0, 0)
      val v = p(s) & 0xFF
      // v0 payload = 84 bytes, v1 = 96; width at payload end-8
      val wOff = s + (if (v == 1) 88 else 76)
      if (wOff + 8 > e) return (0, 0)
      ((u32(p, wOff) >> 16).toInt, (u32(p, wOff + 4) >> 16).toInt)
    }

    /** Parse container metadata; None if not MP4 or no moov box.
      * Blanket-caught like the sibling codecs (code-review r18): a
      * malformed payload must downgrade to the stub, never kill the
      * task — a deterministic retry would just die on the same row.
      */
    def parse(p: Array[Byte]): Option[Mp4Meta] =
      if (!looksLikeMp4(p)) None
      else try findBox(p, 0, p.length, "moov").map { case (ms, me) =>
        val durMs = findBox(p, ms, me, "mvhd")
          .map { case (s, e) => mvhdDurationMs(p, s, e) }.getOrElse(0L)
        val dims = boxes(p, ms, me)
          .collect { case ("trak", ts, te) => findBox(p, ts, te, "tkhd") }
          .flatten
          .map { case (s, e) => tkhdDims(p, s, e) }
          .find { case (w, h) => w > 0 && h > 0 }
          .getOrElse((0, 0))
        Mp4Meta(dims._1, dims._2, durMs)
      } catch { case _: Exception => None }

    def decode(assetId: Long, payload: Array[Byte]): Option[Decoded] =
      parse(payload).map { m =>
        Decoded(assetId, m.width, m.height, "mp4",
          StubCodec.decode(assetId, payload).features)
      }
  }

  /** Matroska (MKV/WebM) container metadata via a pure-JVM EBML walk —
    * the sibling of [[VideoCodec]] for the other ubiquitous public
    * video container (Matroska spec / RFC 9559): EBML header magic
    * `1A 45 DF A3`, then Segment → Info (TimestampScale, Duration) and
    * Segment → Tracks → TrackEntry → Video (PixelWidth, PixelHeight).
    * EBML is all variable-length integers — element IDs keep their
    * length-marker bit, sizes clear it, an all-value-bits-ones size
    * means "unknown, runs to EOF" (streamed files) — so unlike ISO-BMFF
    * the walk needs a vint reader, not fixed offsets. Same contract as
    * the MP4 side: metadata is a REAL parse, content features reuse the
    * deterministic payload fingerprint (no av libraries here), non-MKV
    * payloads return None, malformed vints bail to None rather than
    * throwing.
    */
  object MkvCodec {

    /** Parsed container metadata: first sized video track's pixel dims,
      * duration in ms (Duration float × TimestampScale ns / 1e6).
      */
    case class MkvMeta(width: Int, height: Int, durationMs: Long)

    private val EbmlMagic = 0x1A45DFA3L
    // shared with the synthetic fixture builder: a second hand-kept
    // copy of the magic let parser and fixture silently disagree
    // (code-review r14)
    private[northstar] val SegmentId = 0x18538067L
    private val InfoId = 0x1549A966L
    private val TimestampScaleId = 0x2AD7B1L
    private val DurationId = 0x4489L
    private val TracksId = 0x1654AE6BL
    private val TrackEntryId = 0xAEL
    private val VideoId = 0xE0L
    private val PixelWidthId = 0xB0L
    private val PixelHeightId = 0xBAL

    def looksLikeMkv(p: Array[Byte]): Boolean =
      p != null && p.length >= 4 &&
        (p(0) & 0xFF) == 0x1A && (p(1) & 0xFF) == 0x45 &&
        (p(2) & 0xFF) == 0xDF && (p(3) & 0xFF) == 0xA3

    /** Element ID vint at `off`: value INCLUDES the marker bit (IDs are
      * compared with it, per spec). Returns (id, byteLen); None on
      * malformed/truncated input.
      */
    private def readId(p: Array[Byte], off: Int): Option[(Long, Int)] = {
      // off < 0 guards offsets computed from an overflowed size vint
      // (e.g. a crafted header size of 2^31) — bail, never index
      if (off < 0 || off >= p.length) return None
      val b0 = p(off) & 0xFF
      if (b0 == 0) return None
      val n = Integer.numberOfLeadingZeros(b0) - 23
      if (n > 4 || off + n > p.length) return None
      var v = b0.toLong
      var i = 1
      while (i < n) { v = (v << 8) | (p(off + i) & 0xFF); i += 1 }
      Some((v, n))
    }

    /** Size vint at `off`: marker bit cleared; all value bits set means
      * unknown size (returned as -1 — caller clamps to EOF).
      */
    private def readSize(p: Array[Byte], off: Int): Option[(Long, Int)] = {
      if (off < 0 || off >= p.length) return None
      val b0 = p(off) & 0xFF
      if (b0 == 0) return None
      val n = Integer.numberOfLeadingZeros(b0) - 23
      if (n > 8 || off + n > p.length) return None
      val mask = 0xFF >>> n
      var v = (b0 & mask).toLong
      var allOnes = (b0 & mask) == mask
      var i = 1
      while (i < n) {
        val b = p(off + i) & 0xFF
        v = (v << 8) | b; allOnes &&= b == 0xFF; i += 1
      }
      Some((if (allOnes) -1L else v, n))
    }

    /** Iterate sibling elements in [start, end); yields (id,
      * payloadStart, payloadEnd). Malformed input ends iteration.
      */
    private def elements(p: Array[Byte], start: Int,
                         end: Int): Iterator[(Long, Int, Int)] =
      new Iterator[(Long, Int, Int)] {
        private var off = start
        private var nextEl: Option[(Long, Int, Int)] = advance()
        private def advance(): Option[(Long, Int, Int)] =
          for {
            (id, idLen) <- readId(p, off) if off + idLen < end
            // the size vint must also live inside the parent extent:
            // without the ps <= end bound a child straddling the parent
            // boundary would parse its extent from the next sibling's
            // bytes
            (size, szLen) <- readSize(p, off + idLen)
            if off + idLen + szLen <= end
          } yield {
            val ps = off + idLen + szLen
            val pe = if (size < 0 || ps + size > end) end
                     else ps + size.toInt
            (id, ps, pe)
          }
        def hasNext: Boolean = nextEl.isDefined
        def next(): (Long, Int, Int) = {
          val res = nextEl.get
          off = res._3
          nextEl = if (off >= end) None else advance()
          res
        }
      }

    private def findEl(p: Array[Byte], start: Int, end: Int,
                       id: Long): Option[(Int, Int)] =
      elements(p, start, end).collectFirst { case (`id`, s, e) => (s, e) }

    /** Big-endian unsigned int of the element payload (1-8 bytes). */
    private def uintAt(p: Array[Byte], s: Int, e: Int): Long = {
      var v = 0L; var i = s
      while (i < e && i - s < 8) { v = (v << 8) | (p(i) & 0xFF); i += 1 }
      v
    }

    /** EBML float payload: 4-byte IEEE single or 8-byte double. */
    private def floatAt(p: Array[Byte], s: Int, e: Int): Double =
      (e - s) match {
        case 4 => java.lang.Float.intBitsToFloat(uintAt(p, s, e).toInt)
          .toDouble
        case 8 => java.lang.Double.longBitsToDouble(uintAt(p, s, e))
        case _ => 0.0
      }

    /** Parse container metadata; None if not Matroska or no Segment. */
    def parse(p: Array[Byte]): Option[MkvMeta] =
      if (!looksLikeMkv(p)) None
      else for {
        (EbmlMagic, hdrIdLen) <- readId(p, 0)
        // hdrSize bounded by the payload: an 8-byte vint can encode up
        // to 2^56, and .toInt of anything past Int.MaxValue would
        // overflow segOff negative
        (hdrSize, hdrSzLen) <- readSize(p, hdrIdLen)
        if hdrSize >= 0 && hdrSize < p.length
        segOff = hdrIdLen + hdrSzLen + hdrSize.toInt
        (SegmentId, segIdLen) <- readId(p, segOff)
        (segSize, segSzLen) <- readSize(p, segOff + segIdLen)
      } yield {
        val ss = segOff + segIdLen + segSzLen
        val se = if (segSize < 0) p.length
                 else math.min(p.length.toLong, ss + segSize).toInt
        val durMs = findEl(p, ss, se, InfoId).map { case (is, ie) =>
          val scaleNs = findEl(p, is, ie, TimestampScaleId)
            .map { case (s, e) => uintAt(p, s, e) }.getOrElse(1000000L)
          val dur = findEl(p, is, ie, DurationId)
            .map { case (s, e) => floatAt(p, s, e) }.getOrElse(0.0)
          math.round(dur * scaleNs / 1e6)
        }.getOrElse(0L)
        val dims = findEl(p, ss, se, TracksId).iterator.flatMap {
          case (ts, te) =>
            elements(p, ts, te).collect { case (TrackEntryId, es, ee) =>
              findEl(p, es, ee, VideoId).map { case (vs, ve) =>
                (findEl(p, vs, ve, PixelWidthId)
                   .map { case (s, e) => uintAt(p, s, e).toInt }.getOrElse(0),
                 findEl(p, vs, ve, PixelHeightId)
                   .map { case (s, e) => uintAt(p, s, e).toInt }.getOrElse(0))
              }
            }.flatten
        }.find { case (w, h) => w > 0 && h > 0 }.getOrElse((0, 0))
        MkvMeta(dims._1, dims._2, durMs)
      }

    def decode(assetId: Long, payload: Array[Byte]): Option[Decoded] =
      parse(payload).map { m =>
        Decoded(assetId, m.width, m.height, "mkv",
          StubCodec.decode(assetId, payload).features)
      }
  }

  /** Deterministic minimal Matroska payload from an id — EBML header +
    * Segment(Info(TimestampScale, Duration), Tracks(TrackEntry(Video(
    * PixelWidth, PixelHeight)))), vint-assembled to the RFC 9559
    * layout. Same role as [[syntheticMp4]]: driver-visible queries
    * exercise the REAL EBML walk without shipping binary fixtures.
    */
  def syntheticMkv(id: Long, w: Int = 640, h: Int = 360,
                   durationMs: Long = 5000L): Array[Byte] = {
    def idBytes(v: Long): Array[Byte] = {
      val n = (64 - java.lang.Long.numberOfLeadingZeros(v) + 7) / 8
      (0 until n).map(i => ((v >> (8 * (n - 1 - i))) & 0xFF).toByte).toArray
    }
    // 1-byte size vint (payloads here are all < 127 bytes)
    def el(eid: Long, payload: Array[Byte]): Array[Byte] = {
      require(payload.length < 127)
      idBytes(eid) ++ Array((0x80 | payload.length).toByte) ++ payload
    }
    def uintPayload(v: Long): Array[Byte] = {
      val n = math.max(1, (64 - java.lang.Long.numberOfLeadingZeros(v) + 7) / 8)
      (0 until n).map(i => ((v >> (8 * (n - 1 - i))) & 0xFF).toByte).toArray
    }
    def floatPayload(v: Double): Array[Byte] = {
      val bits = java.lang.Double.doubleToLongBits(v)
      (0 until 8).map(i => ((bits >> (8 * (7 - i))) & 0xFF).toByte).toArray
    }
    // EBML header: DocType "matroska", versions 1
    val hdr = el(0x1A45DFA3L,
      el(0x4286L, uintPayload(1)) ++      // EBMLVersion
      el(0x42F7L, uintPayload(1)) ++      // EBMLReadVersion
      el(0x4282L, "matroska".getBytes("ISO-8859-1")) ++ // DocType
      el(0x4287L, uintPayload(1)))        // DocTypeVersion
    val info = el(0x1549A966L,
      el(0x2AD7B1L, uintPayload(1000000L)) ++          // scale: 1 ms
      el(0x4489L, floatPayload(durationMs.toDouble)))  // duration
    val video = el(0xE0L,
      el(0xB0L, uintPayload(w)) ++ el(0xBAL, uintPayload(h)))
    val track = el(0xAEL,
      el(0xD7L, uintPayload(1)) ++        // TrackNumber
      el(0x83L, uintPayload(1)) ++        // TrackType: video
      video)
    val tracks = el(0x1654AE6BL, track)
    // deterministic content bytes from the id ride as a Void element
    val pad = el(0xECL,
      (0 until 32).map(i => (((id * 31 + i * 7) % 256) + 256).toByte).toArray)
    hdr ++ el(MkvCodec.SegmentId, info ++ tracks ++ pad)
  }

  /** Minimal valid FLAC header for tests: `fLaC` magic + a last-flagged
    * STREAMINFO block with the given stream parameters (frame data
    * omitted — the metadata parse never reads past the header), plus a
    * few id-derived trailing bytes so fingerprint features vary.
    */
  def syntheticFlac(id: Long, sampleRate: Int = 44100, channels: Int = 2,
                    bitsPerSample: Int = 16,
                    totalSamples: Long = 441000L): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Byte]('f', 'L', 'a', 'C'))
    out.write(0x80)                   // last-metadata-block flag | type 0
    out.write(0); out.write(0); out.write(34)
    val si = new Array[Byte](34)
    // min/max blocksize (16 bits each) — fixed 4096
    si(0) = 0x10; si(1) = 0x00; si(2) = 0x10; si(3) = 0x00
    // min/max framesize 24 bits each: leave 0 (unknown, legal)
    si(10) = ((sampleRate >>> 12) & 0xFF).toByte
    si(11) = ((sampleRate >>> 4) & 0xFF).toByte
    si(12) = (((sampleRate & 0xF) << 4) | (((channels - 1) & 0x7) << 1) |
      (((bitsPerSample - 1) >>> 4) & 1)).toByte
    si(13) = ((((bitsPerSample - 1) & 0xF) << 4) |
      ((totalSamples >>> 32) & 0xF)).toByte
    si(14) = ((totalSamples >>> 24) & 0xFF).toByte
    si(15) = ((totalSamples >>> 16) & 0xFF).toByte
    si(16) = ((totalSamples >>> 8) & 0xFF).toByte
    si(17) = (totalSamples & 0xFF).toByte
    out.write(si)
    (0 until 16).foreach(i => out.write(((id * 31 + i) & 0xFF).toInt))
    out.toByteArray
  }

  /** Deterministic minimal MP4 payload from an id — ftyp + moov(mvhd,
    * trak(tkhd)) + mdat, byte-assembled to the ISO-BMFF v0 box layout.
    * Payload synthesizer for tests and harness runs so driver-visible
    * queries exercise the REAL video metadata parse without shipping
    * binary fixtures. mdat bytes (and therefore the payload fingerprint
    * features) are a pure function of the id.
    */
  def syntheticMp4(id: Long, w: Int = 320, h: Int = 240,
                   durationMs: Long = 5000L): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def u32(v: Long): Unit = {
      bos.write(((v >> 24) & 0xFF).toInt); bos.write(((v >> 16) & 0xFF).toInt)
      bos.write(((v >> 8) & 0xFF).toInt); bos.write((v & 0xFF).toInt)
    }
    def fourcc(s: String): Unit = bos.write(s.getBytes("ISO-8859-1"))
    def zeros(n: Int): Unit = (0 until n).foreach(_ => bos.write(0))
    // ftyp: major brand isom, minor 0, compatible isom
    u32(24); fourcc("ftyp"); fourcc("isom"); u32(0); fourcc("isom"); u32(0)
    // mvhd v0: 8 header + 100 payload; timescale 1000 → duration == ms
    val mvhdLen = 108; val tkhdLen = 92
    val trakLen = 8 + tkhdLen; val moovLen = 8 + mvhdLen + trakLen
    u32(moovLen); fourcc("moov")
    u32(mvhdLen); fourcc("mvhd")
    u32(0)               // version+flags
    u32(0); u32(0)       // creation, modification
    u32(1000)            // timescale
    u32(durationMs)      // duration (timescale units)
    u32(0x00010000)      // rate 1.0
    zeros(2 + 2 + 8)     // volume, reserved, reserved[2]
    // identity matrix
    u32(0x00010000); u32(0); u32(0); u32(0); u32(0x00010000); u32(0)
    u32(0); u32(0); u32(0x40000000)
    zeros(24)            // pre_defined[6]
    u32(2)               // next_track_ID
    u32(trakLen); fourcc("trak")
    u32(tkhdLen); fourcc("tkhd")
    u32(0x00000007)      // version 0, flags: enabled|in_movie|in_preview
    u32(0); u32(0)       // creation, modification
    u32(1)               // track_ID
    u32(0)               // reserved
    u32(durationMs)      // duration
    zeros(8)             // reserved[2]
    zeros(2 + 2 + 2 + 2) // layer, alternate_group, volume, reserved
    u32(0x00010000); u32(0); u32(0); u32(0); u32(0x00010000); u32(0)
    u32(0); u32(0); u32(0x40000000)
    u32(w.toLong << 16); u32(h.toLong << 16) // 16.16 fixed dims
    // mdat: 64 deterministic content bytes from the id
    u32(8 + 64); fourcc("mdat")
    (0 until 64).foreach(i => bos.write((((id * 31 + i * 7) % 256) + 256).toInt % 256))
    bos.toByteArray
  }

  /** PNG encode through a writer SPI resolved ONCE per JVM —
    * `ImageIO.write(img, "png", out)` re-derives the writer (and the
    * output-stream SPI) through the IIORegistry PER CALL, the same
    * synchronized global the decode side stopped paying (see
    * [[ImageCodec.readerSpis]]); the fixture synthesizers call this
    * once per asset on every executor core. Byte-identical output:
    * `ImageIO.write` delegates to exactly this writer/param shape.
    */
  private lazy val pngWriterSpi
      : Option[javax.imageio.spi.ImageWriterSpi] = {
    import scala.jdk.CollectionConverters._
    javax.imageio.spi.IIORegistry.getDefaultInstance
      .getServiceProviders(
        classOf[javax.imageio.spi.ImageWriterSpi], true).asScala
      .find(_.getFormatNames.exists(_.equalsIgnoreCase("png")))
  }

  private def encodePng(img: java.awt.image.BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    pngWriterSpi match {
      case Some(spi) =>
        val w = spi.createWriterInstance()
        val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
        try {
          w.setOutput(ios)
          w.write(null, new javax.imageio.IIOImage(img, null, null), null)
        } finally { w.dispose(); ios.close() }
      case None => // registry without a PNG writer: the pre-cache path
        javax.imageio.ImageIO.write(img, "png", bos): Unit
    }
    bos.toByteArray
  }

  /** Deterministic tiny PNG payload from an id — a payload synthesizer
    * for tests and harness runs, so driver-visible queries exercise the
    * REAL image codec without shipping binary fixtures. The pixel
    * pattern (and therefore dims, format, and luminance features after
    * decode) is a pure function of the id.
    */
  def syntheticPng(id: Long, w: Int = 16, h: Int = 16): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = (((id * 31 + x * 7 + y * 13) % 256).toInt + 256) % 256
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    encodePng(img)
  }

  /** Partition-batched decode: binary payloads → typed decoded rows.
    * mapPartitions gives the per-batch execution shape (codec initialized
    * once per partition); output is a compact feature frame, payloads are
    * dropped immediately after decode. Image payloads get the real
    * [[ImageCodec]], WAV audio the real [[AudioCodec]], FLAC the real
    * [[FlacCodec]] STREAMINFO parse, MP4 video the real [[VideoCodec]]
    * metadata parse, Matroska the real [[MkvCodec]] EBML walk;
    * everything else falls back to the deterministic stub.
    */
  def decodeAssets(assets: DataFrame): DataFrame = {
    val spark = assets.sparkSession
    import spark.implicits._
    val ds: Dataset[Decoded] = assets
      .select(col("asset_id"), col("payload"))
      .mapPartitions { rows: Iterator[Row] =>
        // codec registry lookups are JVM-wide; per-partition init is the
        // seam where a real av codec would allocate its context
        rows.map { r =>
          // ordinals, not names: the select above pins (asset_id,
          // payload) = (0, 1), and per-row fieldIndex lookups are
          // wasted work on the decode-bound hot path (code-review r14)
          val id = r.getLong(0)
          val p = r.getAs[Array[Byte]](1)
          ImageCodec.decode(id, p)
            .orElse(AudioCodec.decode(id, p))
            .orElse(FlacCodec.decode(id, p))
            .orElse(VideoCodec.decode(id, p))
            .orElse(MkvCodec.decode(id, p))
            .getOrElse(StubCodec.decode(id, p))
        }
      }
    ds.toDF("asset_id", "width", "height", "format", "features")
  }

  /** Perceptual hashes of an asset table's image payloads:
    * (asset_id, phash) via [[ImageCodec.perceptualHash]], one codec
    * pass per partition (the [[decodeAssets]] execution shape).
    * Non-image / undecodable payloads are DROPPED — a near-dup pass
    * has nothing to say about them (route them through
    * [[decodeAssets]]' stub fallback for inventory). Payloads never
    * reach the driver; the output is 16 bytes/row, so every
    * downstream shuffle moves fingerprints, not pixels.
    */
  def imageHashes(assets: DataFrame,
                  idCol: String = "asset_id",
                  payloadCol: String = "payload"): DataFrame = {
    val spark = assets.sparkSession
    import spark.implicits._
    assets.select(col(idCol), col(payloadCol))
      .mapPartitions { rows: Iterator[Row] =>
        rows.flatMap { r =>
          ImageCodec.perceptualHash(r.getAs[Array[Byte]](1))
            .map(fp => (r.getLong(0), fp))
        }
      }.toDF("id", "sig")
  }

  /** IMAGE NEAR-DUP PAIRS (VERDICT r18 task 7; SURVEY.md §7.4 —
    * multimodal dedup is a first-class LLM-pipeline need): dHash
    * fingerprints ([[ImageCodec.perceptualHash]]) through the SimHash
    * banded-LSH machinery ([[Dedup.hammingPairs64]] — 16-bit chunk
    * banding, complete for maxHamming <= 3 by pigeonhole, mega-buckets
    * capped). Emits (asset_a, asset_b, hamming) for image pairs whose
    * perceptual distance is within `maxHamming`. Nothing does
    * all-pairs; cost is the banded candidate join over 8-byte
    * fingerprints.
    */
  def imageDupPairs(assets: DataFrame, maxHamming: Int = 3,
                    maxBucket: Int = 1000,
                    idCol: String = "asset_id",
                    payloadCol: String = "payload"): DataFrame =
    Dedup.hammingPairs64(imageHashes(assets, idCol, payloadCol),
        maxHamming, maxBucket)
      .select(col("doc_a").as("asset_a"), col("doc_b").as("asset_b"),
        col("hamming"))

  /** Ingest-side image near-dup screening: INCOMING image payloads
    * against a STATIC corpus fingerprint frame (id, sig) — the batch
    * body for a streaming foreachBatch ingest (no incoming×incoming
    * pairs, no corpus re-hash). Feed `corpusSigs` from the STORED
    * fingerprint artifact ([[Artifacts.CappedIndex.imageHash]]'s load
    * or indexFor — r20): the corpus is decoded and hashed ONCE at
    * index build, nightly batches append their own 8-byte fingerprints
    * (its append), and an
    * ingest restart loads the index instead of re-decoding the corpus
    * — at 100 TB of images the re-decode, not the join, is the
    * dominant cost this artifact removes.
    */
  def imageDupIncoming(incoming: DataFrame, corpusSigs: DataFrame,
                       maxHamming: Int = 3, maxBucket: Int = 1000,
                       idCol: String = "asset_id",
                       payloadCol: String = "payload"): DataFrame =
    Dedup.hammingPairs64Against(
        imageHashes(incoming, idCol, payloadCol), corpusSigs,
        maxHamming, maxBucket)
      .select(col("doc_a").as("asset_a"), col("doc_b").as("asset_b"),
        col("hamming"))

  /** Robust-hash fingerprints of audio assets — (id, sig: long), rows
    * whose payloads don't parse as supported WAV PCM dropped (the
    * [[imageHashes]] contract for audio: payloads never reach the
    * driver; downstream shuffles move 8 bytes/row, never samples).
    */
  def audioHashes(assets: DataFrame,
                  idCol: String = "asset_id",
                  payloadCol: String = "payload"): DataFrame = {
    val spark = assets.sparkSession
    import spark.implicits._
    assets.select(col(idCol), col(payloadCol))
      .mapPartitions { rows: Iterator[Row] =>
        rows.flatMap { r =>
          AudioCodec.robustHash(r.getAs[Array[Byte]](1))
            .map(fp => (r.getLong(0), fp))
        }
      }.toDF("id", "sig")
  }

  /** AUDIO NEAR-DUP PAIRS (VERDICT r19 task 5 — the multimodal dedup
    * family's audio member): [[AudioCodec.robustHash]] fingerprints
    * through the SAME banded-Hamming machinery as images
    * ([[Dedup.hammingPairs64]] — threshold-selected complete banding,
    * mega-buckets capped). Emits (asset_a, asset_b, hamming) for audio
    * pairs whose fingerprint distance is within `maxHamming`. Nothing
    * does all-pairs.
    */
  def audioDupPairs(assets: DataFrame, maxHamming: Int = 3,
                    maxBucket: Int = 1000,
                    idCol: String = "asset_id",
                    payloadCol: String = "payload"): DataFrame =
    Dedup.hammingPairs64(audioHashes(assets, idCol, payloadCol),
        maxHamming, maxBucket)
      .select(col("doc_a").as("asset_a"), col("doc_b").as("asset_b"),
        col("hamming"))

  /** Ingest-side audio near-dup screening against a static corpus
    * fingerprint frame — the [[imageDupIncoming]] contract for audio;
    * feed `corpusSigs` from the stored artifact
    * ([[Artifacts.CappedIndex.audioHash]]'s load or indexFor) so
    * restarts never re-decode the corpus.
    */
  def audioDupIncoming(incoming: DataFrame, corpusSigs: DataFrame,
                       maxHamming: Int = 3, maxBucket: Int = 1000,
                       idCol: String = "asset_id",
                       payloadCol: String = "payload"): DataFrame =
    Dedup.hammingPairs64Against(
        audioHashes(incoming, idCol, payloadCol), corpusSigs,
        maxHamming, maxBucket)
      .select(col("doc_a").as("asset_a"), col("doc_b").as("asset_b"),
        col("hamming"))

  /** 65-STRIPE constant-amplitude WAV whose [[AudioCodec.robustHash]]
    * is a CLOSED FORM of the id — the audio twin of
    * [[syntheticPatternPng]] and the oracle fixture for the audio
    * near-dup contract rows: stripe k (65 stripes × `spf` samples,
    * 16-bit PCM mono 8 kHz, canonical 44-byte RIFF header) is constant
    * amplitude 0.5 when bit k of md5(id.toString)'s first 65 bits is
    * set (hex-nibble MSB-first — the same extraction DuckDB spells as
    * `('0x'||substr(md5(id),k//4+1,1))>>(3-k%4) & 1`), 0.125
    * otherwise. A constant stripe's RMS is its amplitude exactly
    * (0.5 and 0.125 are exact in binary floating point), so hash bit
    * j = bit(j+1) AND NOT bit(j) — the REAL pipeline (RIFF parse →
    * PCM → stripe RMS → sign deltas) must reproduce pure id
    * arithmetic bit-for-bit. `flipFirst` inverts stripe 0: the planted
    * near-dup perturbation — only hash bit 0 can change, Hamming <= 1.
    */
  def syntheticPatternWav(id: Long, flipFirst: Boolean = false,
                          spf: Int = 64): Array[Byte] = {
    require(spf >= 1, s"spf must be >= 1, got $spf")
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val n = 65 * spf
    val data = new Array[Byte](n * 2)
    var k = 0
    while (k < 65) {
      var bit = (md5(k / 8) >> (7 - (k % 8))) & 1
      if (flipFirst && k == 0) bit = 1 - bit
      val amp = if (bit == 1) 16384 else 4096 // 0.5 / 0.125 of full scale
      var i = 0
      while (i < spf) {
        val off = (k * spf + i) * 2
        data(off) = (amp & 0xFF).toByte
        data(off + 1) = ((amp >> 8) & 0xFF).toByte
        i += 1
      }
      k += 1
    }
    val bos = new java.io.ByteArrayOutputStream(44 + data.length)
    def le32(v: Int): Unit = {
      bos.write(v & 0xFF); bos.write((v >> 8) & 0xFF)
      bos.write((v >> 16) & 0xFF); bos.write((v >> 24) & 0xFF)
    }
    def le16(v: Int): Unit = { bos.write(v & 0xFF); bos.write((v >> 8) & 0xFF) }
    def tag(s: String): Unit = bos.write(s.getBytes("ISO-8859-1"))
    tag("RIFF"); le32(36 + data.length); tag("WAVE")
    // fmt: PCM(1), mono, 8 kHz, byteRate 16000, blockAlign 2, 16-bit
    tag("fmt "); le32(16); le16(1); le16(1); le32(8000); le32(16000)
    le16(2); le16(16)
    tag("data"); le32(data.length)
    bos.write(data)
    bos.toByteArray
  }

  /** 9×8 BINARY-pattern PNG whose dHash is a CLOSED FORM of the id —
    * the oracle fixture for the image near-dup contract rows: cell
    * (x,y) is white (255) iff bit `y*9+x` of md5(id.toString)'s first
    * 72 bits is set (hex-nibble MSB-first, the same extraction DuckDB
    * spells as `('0x'||substr(md5(id),k/4+1,1))>>(3-k%4) & 1`), so
    * the REAL pipeline (PNG encode → ImageIO decode → luminance →
    * 9×8 grid → dHash) must reproduce pure id arithmetic bit-for-bit.
    * The image is exactly grid-sized, so block-averaging is the
    * identity and every comparison is 255-vs-0 — no float edge rides
    * the oracle. `flipTopLeft` inverts cell (0,0): the planted
    * near-dup perturbation, Hamming <= 1 from the original (only the
    * j=0 comparison can change).
    */
  def syntheticPatternPng(id: Long, flipTopLeft: Boolean = false,
                          scale: Int = 1): Array[Byte] = {
    // `scale` renders each cell as an s×s pixel block (a 9s×8s image):
    // the 9×8 grid block-average maps cells back exactly (w = 9s ⇒
    // gx = x/s), so the dHash — and the closed form — is
    // scale-invariant by construction, which is the property a
    // perceptual hash exists to have.
    require(scale >= 1, s"scale must be >= 1, got $scale")
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val img = new java.awt.image.BufferedImage(
      9 * scale, 8 * scale, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < 8 * scale) {
      var x = 0
      while (x < 9 * scale) {
        val k = (y / scale) * 9 + (x / scale)
        var bit = (md5(k / 8) >> (7 - (k % 8))) & 1
        if (flipTopLeft && x / scale == 0 && y / scale == 0) bit = 1 - bit
        val v = if (bit == 1) 255 else 0
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    encodePng(img)
  }

  /** "Resize": recompute features at a coarser grid — expressed on the
    * already-decoded feature frame (real pipelines resize pixels; the
    * stub pools adjacent feature stripes). Pure column math.
    */
  def poolFeatures(decoded: DataFrame, factor: Int = 2): DataFrame = {
    require(factor > 0 && StubCodec.FeatureDim % factor == 0,
      s"pool factor must be a positive divisor of ${StubCodec.FeatureDim}, " +
        s"got $factor — a non-divisor would silently drop the trailing " +
        "feature stripes")
    val n = StubCodec.FeatureDim / factor
    val pooled = array((0 until n).map { i =>
      val group = (0 until factor).map(j =>
        element_at(col("features"), i * factor + j + 1).cast("double"))
      round((group.reduce(_ + _) / factor), 6).cast("float")
    }: _*)
    decoded.withColumn("features_pooled", pooled)
  }

  /** Frame sampling for video-like payloads: every `stride`-th chunk of
    * `frameBytes` from the payload as its own row (asset_id, frame_no,
    * frame_bytes). Pure slice arithmetic over the binary column.
    * The trailing partial chunk IS a frame: ceil, not floor — the floor
    * form dropped the tail of any payload longer than one frame while
    * still emitting a short frame for sub-frameBytes payloads, so
    * coverage of the final bytes depended on payload size
    * (code-review r14).
    */
  def sampleFrames(assets: DataFrame, frameBytes: Int = 64,
                   stride: Int = 4): DataFrame = {
    // fail at plan-build time, not mid-job (code-review r18, the
    // poolFeatures guard's rationale): frameBytes=0 is an ANSI
    // DIVIDE_BY_ZERO task death (or, ANSI off, a null nFrames that
    // silently drops every row); stride=0 is a sequence step-zero
    // runtime error
    require(frameBytes > 0, s"frameBytes must be positive, got $frameBytes")
    require(stride > 0, s"stride must be positive, got $stride")
    val nFrames = ((length(col("payload")) + frameBytes - 1) / frameBytes)
      .cast("int")
    assets
      .select(col("asset_id"), col("payload"),
        explode(sequence(lit(0), greatest(nFrames - 1, lit(0)), lit(stride)))
          .as("frame_no"))
      .select(col("asset_id"), col("frame_no"),
        col("payload").substr(col("frame_no") * frameBytes + 1, lit(frameBytes))
          .as("frame_bytes"))
      .filter(length(col("frame_bytes")) > 0)
  }
}
