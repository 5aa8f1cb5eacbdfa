package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video payloads are opaque
  * `binary` columns with typed metadata; decode / feature-extraction
  * runs batch-at-a-time over partitions (the Scala analogue of a
  * Pandas-UDF `mapInPandas` stage: one iterator of batches per
  * partition, vectorizable, no per-row JVM↔native crossings at the
  * API boundary).
  *
  * Decode is REAL for uncompressed 24-bit BMP (`decodeBmp` — a
  * structured-bytes parser, no codec library involved: header, BGR
  * order, bottom-up rows, 4-byte row padding, top-down variant), for
  * compressed PNG / baseline JPEG ([[decodeCompressed]], the JDK's
  * built-in `javax.imageio` codecs — pure JVM, present in this
  * environment), for RIFF/WAVE PCM audio ([[decodeWav]] — a
  * chunk-walking container parser, no codec library), and for
  * animated GIF89a video ([[encodeGif]] hand-rolled lossless
  * encoder / [[decodeGifFrame]] JDK-codec frame random access), as
  * are `resizeNearest`, the channel statistics, and the audio
  * features (RMS / peak / zero-crossings). The COMPRESSION-FAMILY
  * quartet is real end-to-end too, each with a bit-exact integer
  * oracle: companding (G.711 μ/A-law), prediction-across-samples
  * (IMA ADPCM), transform (fixed-point MDCT), and prediction-
  * across-frames (motion-compensated video, [[mcvPipeline]]).
  * [[decode]] dispatches on the container magic across the WHOLE
  * codec family; a FOREIGN payload this environment has no codec
  * for (e.g. MP3/MP4 bytes produced elsewhere) surfaces honestly as
  * kind "unknown" with an empty feature vector — a JNI decoder or
  * model forward pass slots in as one more dispatcher branch, with
  * the partition/batch plumbing unchanged.
  */
object Multimodal {

  /** Decoded raster: row-major top-down pixels, 0xRRGGBB ints. */
  case class DecodedImage(width: Int, height: Int, pixels: Array[Int])

  /** Encode a raster as an uncompressed 24-bit BMP
    * (BITMAPINFOHEADER, BI_RGB, bottom-up, rows padded to 4 bytes) —
    * the byte-exact inverse of [[decodeBmp]], used both as the image
    * sink and to build test/query fixtures without any codec.
    */
  def encodeBmp(img: DecodedImage): Array[Byte] = {
    val rowBytes = img.width * 3
    val padded = (rowBytes + 3) / 4 * 4
    val dataSize = padded * img.height
    val fileSize = 54 + dataSize
    val out = new Array[Byte](fileSize)
    def put32(off: Int, v: Int): Unit = {
      out(off) = (v & 0xff).toByte
      out(off + 1) = ((v >> 8) & 0xff).toByte
      out(off + 2) = ((v >> 16) & 0xff).toByte
      out(off + 3) = ((v >> 24) & 0xff).toByte
    }
    out(0) = 'B'; out(1) = 'M'
    put32(2, fileSize); put32(10, 54) // pixel-data offset
    put32(14, 40) // BITMAPINFOHEADER size
    put32(18, img.width); put32(22, img.height)
    out(26) = 1 // planes
    out(28) = 24 // bits per pixel
    put32(30, 0) // BI_RGB
    put32(34, dataSize)
    for (y <- 0 until img.height; x <- 0 until img.width) {
      val p = img.pixels(y * img.width + x)
      // bottom-up: file row 0 is the image's last row; BGR order
      val off = 54 + (img.height - 1 - y) * padded + x * 3
      out(off) = (p & 0xff).toByte
      out(off + 1) = ((p >> 8) & 0xff).toByte
      out(off + 2) = ((p >> 16) & 0xff).toByte
    }
    out
  }

  /** Parse an uncompressed 24-bit BMP. Returns None on anything the
    * parser doesn't understand (wrong magic, compressed, other bit
    * depths) rather than guessing. Handles both bottom-up (positive
    * height) and top-down (negative height) layouts.
    */
  def decodeBmp(bytes: Array[Byte]): Option[DecodedImage] = {
    if (bytes == null || bytes.length < 54 ||
      bytes(0) != 'B' || bytes(1) != 'M') return None
    def get32(off: Int): Int =
      (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8) |
        ((bytes(off + 2) & 0xff) << 16) | ((bytes(off + 3) & 0xff) << 24)
    val dataOff = get32(10)
    val width = get32(18)
    val rawHeight = get32(22)
    val bpp = (bytes(28) & 0xff) | ((bytes(29) & 0xff) << 8)
    val compression = get32(30)
    if (width <= 0 || rawHeight == 0 || bpp != 24 || compression != 0)
      return None
    val topDown = rawHeight < 0
    val height = math.abs(rawHeight)
    val padded = (width * 3 + 3) / 4 * 4
    if (bytes.length < dataOff + padded.toLong * height) return None
    val px = new Array[Int](width * height)
    for (y <- 0 until height; x <- 0 until width) {
      val fileRow = if (topDown) y else height - 1 - y
      val off = dataOff + fileRow * padded + x * 3
      px(y * width + x) = (bytes(off) & 0xff) |
        ((bytes(off + 1) & 0xff) << 8) | ((bytes(off + 2) & 0xff) << 16)
    }
    Some(DecodedImage(width, height, px))
  }

  /** Encode a raster as PNG via the JDK's built-in `javax.imageio`
    * codec (pure JVM, no native library) — a REAL compressed image
    * format. PNG is lossless, so decode∘encode returns the exact
    * pixels; the byte LENGTH of the compressed stream is
    * encoder-version-dependent and deliberately not part of any
    * oracled output.
    */
  def encodePng(img: DecodedImage): Array[Byte] = {
    val bi = new java.awt.image.BufferedImage(img.width, img.height,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    bi.setRGB(0, 0, img.width, img.height, img.pixels, 0, img.width)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(bi, "png", baos)
    baos.toByteArray
  }

  /** Encode a raster as baseline JPEG via the JDK's built-in
    * `javax.imageio` codec — a REAL LOSSY format (DCT +
    * default-quality quantization + chroma subsampling). Neither the
    * compressed bytes nor the decoded pixels are deterministic across
    * codec versions, so downstream contracts must be tolerance-band,
    * never exact ([[jpegPipeline]]).
    */
  def encodeJpeg(img: DecodedImage): Array[Byte] = {
    val bi = new java.awt.image.BufferedImage(img.width, img.height,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    bi.setRGB(0, 0, img.width, img.height, img.pixels, 0, img.width)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(bi, "jpg", baos)
    baos.toByteArray
  }

  /** Decode a compressed image (PNG or baseline JPEG) with the JDK's
    * `javax.imageio` readers. Dispatches on the container magic and
    * returns None for anything else — same contract as [[decodeBmp]].
    */
  def decodeCompressed(bytes: Array[Byte]): Option[DecodedImage] = {
    if (bytes == null || bytes.length < 4) return None
    val isPng = (bytes(0) & 0xff) == 0x89 && bytes(1) == 'P' &&
      bytes(2) == 'N' && bytes(3) == 'G'
    val isJpeg = (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8
    if (!isPng && !isJpeg) return None
    try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      if (img == null) return None
      val w = img.getWidth
      val h = img.getHeight
      val px = new Array[Int](w * h)
      img.getRGB(0, 0, w, h, px, 0, w)
      var i = 0
      while (i < px.length) { px(i) &= 0xffffff; i += 1 }
      Some(DecodedImage(w, h, px))
    } catch {
      // ImageIO readers throw more than IOException on corrupt
      // streams with valid magic (IIOException causes, AIOOBE on
      // truncated scanlines) — anything undecodable must map to None,
      // not crash the row.
      case scala.util.control.NonFatal(_) => None
    }
  }

  /** Nearest-neighbor resize: dst (x, y) reads src
    * (x*srcW/dstW, y*srcH/dstH) — integer math, deterministic.
    */
  def resizeNearest(img: DecodedImage, w: Int, h: Int): DecodedImage = {
    val px = Array.tabulate(w * h) { i =>
      val x = i % w; val y = i / w
      img.pixels((y.toLong * img.height / h).toInt * img.width +
        (x.toLong * img.width / w).toInt)
    }
    DecodedImage(w, h, px)
  }

  /** Per-channel means of a decoded raster (r, g, b). */
  def channelMeans(img: DecodedImage): (Double, Double, Double) = {
    val n = img.pixels.length.toDouble
    var r = 0L; var g = 0L; var b = 0L
    img.pixels.foreach { p =>
      r += (p >> 16) & 0xff; g += (p >> 8) & 0xff; b += p & 0xff
    }
    (r / n, g / n, b / n)
  }

  /** Image-payload dispatch on container magic: BMP, PNG, baseline
    * JPEG, GIF89a (first frame). None for anything else — the
    * image-side half of [[decode]]'s dispatcher, shared with
    * [[resizePayload]].
    */
  def decodeImage(bytes: Array[Byte]): Option[DecodedImage] = {
    if (bytes == null || bytes.length < 6) return None
    val b0 = bytes(0) & 0xff; val b1 = bytes(1) & 0xff
    if (b0 == 'B' && b1 == 'M') decodeBmp(bytes)
    else if ((b0 == 0x89 && b1 == 'P') || (b0 == 0xff && b1 == 0xd8))
      decodeCompressed(bytes)
    else if (b0 == 'G' && b1 == 'I' && (bytes(2) & 0xff) == 'F')
      decodeGifFrame(bytes, 0)
    else None
  }

  /** Full real-codec dispatch over a payload's container magic —
    * the round-14 stub retirement: every branch is a REAL parser
    * from this file's codec family, and a foreign payload this
    * environment has no codec for surfaces honestly as
    * `("unknown", empty)` instead of a deterministic fake vector.
    *
    * Returns (kind, features): BMP/PNG/JPEG/GIF → `[width, height,
    * meanR, meanG, meanB]`; RIFF/WAVE (PCM, G.711 μ/A-law, IMA
    * ADPCM — selected by the fmt tag the sub-parsers validate) →
    * `[sampleRate, nSamples, rms, peak, zeroCrossings]`; GMD1 MDCT
    * → `[sampleRate, nSamples, nFrames, kept, sumAbsCoef]`; GMV1
    * motion-compensated video → `[width, height, nFrames,
    * meanFirstFrame, meanLastFrame]`.
    */
  def decode(bytes: Array[Byte]): (String, Array[Double]) = {
    val unknown = ("unknown", Array.empty[Double])
    def imageFeat(kind: String, img: DecodedImage) = {
      val (r, g, b) = channelMeans(img)
      (kind, Array(img.width.toDouble, img.height.toDouble, r, g, b))
    }
    def audioFeat(kind: String, a: DecodedAudio) = {
      var ss = 0L; var peak = 0L; var zc = 0L; var j = 0
      val n = a.samples.length
      while (j < n) {
        val x = a.samples(j).toLong
        ss += x * x
        if (math.abs(x) > peak) peak = math.abs(x)
        if (j > 0 && x * a.samples(j - 1).toLong < 0) zc += 1
        j += 1
      }
      val rms = if (n == 0) 0.0 else math.sqrt(ss.toDouble / n)
      (kind, Array(a.sampleRate.toDouble, n.toDouble, rms,
        peak.toDouble, zc.toDouble))
    }
    if (bytes == null || bytes.length < 6) return unknown
    def tag4 = new String(bytes.slice(0, 4), "US-ASCII")
    val b0 = bytes(0) & 0xff; val b1 = bytes(1) & 0xff
    if (b0 == 'B' && b1 == 'M')
      decodeBmp(bytes).map(imageFeat("bmp", _)).getOrElse(unknown)
    else if (b0 == 0x89 && b1 == 'P')
      decodeCompressed(bytes).map(imageFeat("png", _))
        .getOrElse(unknown)
    else if (b0 == 0xff && b1 == 0xd8)
      decodeCompressed(bytes).map(imageFeat("jpeg", _))
        .getOrElse(unknown)
    else if (b0 == 'G' && b1 == 'I' && (bytes(2) & 0xff) == 'F')
      decodeGifFrame(bytes, 0).map(imageFeat("gif", _))
        .getOrElse(unknown)
    else if (bytes.length >= 12 && tag4 == "RIFF" &&
        new String(bytes.slice(8, 12), "US-ASCII") == "WAVE")
      decodeWav(bytes).map(audioFeat("wav_pcm", _))
        .orElse(decodeWavG711(bytes).map(audioFeat("wav_g711", _)))
        .orElse(decodeWavAdpcm(bytes).map(audioFeat("wav_adpcm", _)))
        .getOrElse(unknown)
    else if (tag4 == "GMD1")
      decodeMdct(bytes).map { case (rate, n, coefs) =>
        ("mdct", Array(rate.toDouble, n.toDouble,
          coefs.length.toDouble,
          coefs.headOption.map(_.length).getOrElse(0).toDouble,
          coefs.iterator.map(_.iterator.map(math.abs).sum)
            .sum.toDouble))
      }.getOrElse(unknown)
    else if (tag4 == "GMV1")
      decodeMcv(bytes).map { frames =>
        def mean(f: Array[Int]): Double =
          if (f.isEmpty) 0.0 else f.map(_.toLong).sum.toDouble / f.length
        ("mcv", Array(mcvW.toDouble, mcvW.toDouble,
          frames.length.toDouble, mean(frames.head),
          mean(frames.last)))
      }.getOrElse(unknown)
    else unknown
  }

  /** Real resize over an IMAGE payload: dispatch-decode
    * ([[decodeImage]]), nearest-neighbor resample, re-encode as
    * uncompressed BMP (the interchange sink every decoder here
    * reads back). None for non-image or malformed payloads —
    * replaces the retired byte-stream resample stub with the actual
    * decode → resample → encode path.
    */
  def resizePayload(bytes: Array[Byte], w: Int, h: Int)
      : Option[Array[Byte]] =
    decodeImage(bytes).map(img => encodeBmp(resizeNearest(img, w, h)))

  /** Attach a binary payload column + typed metadata struct to a text
    * corpus (here the payload is the UTF-8 encoding of the document —
    * a stand-in for image/audio bytes that keeps everything
    * deterministic and oracle-checkable).
    */
  def withBinaryPayload(df: DataFrame, text: String): DataFrame =
    df.withColumn("payload", col(text).cast("binary"))
      .withColumn("meta", struct(
        lit("text/plain; charset=utf-8").as("mime"),
        octet_length(col("payload")).cast("long").as("n_bytes"),
        md5(col("payload")).as("checksum")))

  case class MediaFeatures(doc_id: Long, n_bytes: Long, kind: String,
      feat: Array[Double])

  /** Batch feature extraction over partitions: the mapInPandas-shaped
    * stage, now routed through the REAL codec dispatcher ([[decode]]
    * — BMP/PNG/JPEG/GIF/WAVE-PCM/G.711/ADPCM/MDCT/MCV by container
    * magic). Input must have (doc_id: long, payload: binary);
    * payloads no codec claims come back as kind "unknown" with an
    * empty feature vector — never a fake one.
    */
  def extractFeatures(df: DataFrame): Dataset[MediaFeatures] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        // one pass per partition — amortizes any codec/session init
        batch.map { case (id, bytes) =>
          val (kind, feat) = decode(bytes)
          MediaFeatures(id,
            if (bytes == null) 0L else bytes.length.toLong, kind, feat)
        }
      }
  }

  // ---- codepoint payload: the byte source of every codec pipeline ---

  /** (doc_id, first `n` codepoints of the text) rows. Only the prefix
    * crosses into the typed stage, where the codepoint walk runs as
    * one native O(len) pass (the SQL formulation — n substring calls
    * per row — is interpreted and O(n²) per row; measured ~8× slower
    * at sf0.1). Spark substring/length count Unicode code points,
    * exactly what Java codePoints() iterates and what the oracle's
    * ascii(substring(...)) reads.
    */
  private[graft] def prefixes(df: DataFrame, text: String, id: String,
      n: Int): Dataset[(Long, String)] = {
    import df.sparkSession.implicits._
    df.select(col(id).cast("long").as("doc_id"),
        substring(col(text), 1, n).as("__pfx"))
      .as[(Long, String)]
  }

  /** The first `n` codepoints of `s`, each mod 256, zero-padded. */
  private[graft] def codepointBytes(s: String, n: Int): Array[Int] = {
    val cps = s.codePoints().toArray
    Array.tabulate(n)(j => if (j < cps.length) cps(j) % 256 else 0)
  }

  /** 64 packed RGB pixels (an 8×8 raster) from the 192 bytes at
    * `off`. */
  private[graft] def rgbPixels(v: Array[Int], off: Int): Array[Int] =
    Array.tabulate(64)(i => (v(off + 3 * i) << 16) |
      (v(off + 3 * i + 1) << 8) | v(off + 3 * i + 2))

  /** Centered 16-bit PCM samples `(b - 128) * 256`. */
  private[graft] def pcmSamples(v: Array[Int]): Array[Short] =
    v.map(b => ((b - 128) * 256).toShort)

  /** (sum of squares, peak, zero crossings, max and sum absolute
    * error) of a reconstructed clip against its source samples. */
  private def reconStats(rec: Array[Short], src: Array[Short])
      : (Long, Long, Long, Long, Long) = {
    var ss = 0L; var peak = 0L; var zc = 0L
    var maxErr = 0L; var sumErr = 0L
    var j = 0
    while (j < src.length) {
      val x = rec(j).toLong
      ss += x * x
      if (math.abs(x) > peak) peak = math.abs(x)
      if (j > 0 && x * rec(j - 1).toLong < 0) zc += 1
      val e = math.abs(x - src(j).toLong)
      if (e > maxErr) maxErr = e
      sumErr += e
      j += 1
    }
    (ss, peak, zc, maxErr, sumErr)
  }

  /** End-to-end REAL decode over a text-derived raster, fully
    * oracle-exact: each doc's first 192 character codepoints (mod 256,
    * zero-padded — a portable SQL expression both engines share)
    * become an 8×8 RGB image, encoded to actual BMP bytes
    * ([[encodeBmp]]), decoded back with the real parser
    * ([[decodeBmp]]), then resized 4×4 ([[resizeNearest]]). Channel
    * means are k/64 dyadic rationals — bit-exact in both engines with
    * no rounding. encode∘decode being the identity is asserted per
    * row (`roundtrip_ok`), so the oracle's TRUE literal is backed by
    * a real in-query check, and the oracle recomputes every feature
    * directly from the codepoints. A row-local typed map with zero
    * state, so it applies to a streaming frame unchanged, in any
    * output mode.
    */
  def bmpPipeline(df: DataFrame, text: String, id: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    prefixes(df, text, id, 192).map { case (docId, pfx) =>
      val pixels = rgbPixels(codepointBytes(pfx, 192), 0)
      val bmp = encodeBmp(DecodedImage(8, 8, pixels))
      val dec = decodeBmp(bmp).get
      val (r, g, b) = channelMeans(dec)
      val (rr, _, _) = channelMeans(resizeNearest(dec, 4, 4))
      val ok = dec.width == 8 && dec.height == 8 &&
        java.util.Arrays.equals(dec.pixels, pixels)
      (docId, bmp.length.toLong, r, g, b, rr, ok)
    }.toDF("doc_id", "n_bytes", "mean_r", "mean_g", "mean_b",
      "rs_mean_r", "roundtrip_ok")
  }

  /** ViT-style patch extraction over the REAL decoded image: the
    * codepoint-derived 8×8 raster goes through the actual BMP
    * encode→decode roundtrip ([[bmpPipeline]]'s codec path), then the
    * DECODED pixels split into the 2×2 grid of 4×4 patches —
    * vision-model prep's patchify step. Per patch: exact integer
    * channel sums (16 pixels, BIGINT — no rounding anywhere) and a
    * patch fingerprint folding the 48 channel bytes row-major through
    * the corpus-wide poly hash ((acc·31 + x) mod P, 0-seed ≡ DuckDB's
    * init-less list_reduce) — the content key patch-level dedup or
    * caching would bucket on. 4 rows per document, row-local
    * (flatMap), streaming-safe.
    */
  def patchifyPipeline(df: DataFrame, text: String, id: String)
      : DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val P = graft.llm.HashConstants.P
    prefixes(df, text, id, 192).flatMap { case (docId, pfx) =>
      val pixels = rgbPixels(codepointBytes(pfx, 192), 0)
      // A codec failure must surface through the roundtrip_ok flag
      // the row already carries — a bare .get would throw
      // NoSuchElementException in the executor and kill the whole
      // job/stream for one bad row. On None, patch stats come from
      // the pre-encode pixels (still well-defined content keys) with
      // roundtrip_ok = false, mirroring how the flag already reports
      // pixel mismatches.
      val (dec, decoded) =
        decodeBmp(encodeBmp(DecodedImage(8, 8, pixels))) match {
          case Some(d) => (d, true)
          case None => (DecodedImage(8, 8, pixels), false)
        }
      val ok = decoded && dec.width == 8 && dec.height == 8 &&
        java.util.Arrays.equals(dec.pixels, pixels)
      (0 until 4).map { p =>
        val pr0 = (p / 2) * 4
        val pc0 = (p % 2) * 4
        var sr = 0L; var sg = 0L; var sb = 0L; var fp = 0L
        var r = 0
        while (r < 4) {
          var c = 0
          while (c < 4) {
            val px = dec.pixels((pr0 + r) * 8 + (pc0 + c))
            val rr = (px >> 16) & 0xff
            val gg = (px >> 8) & 0xff
            val bb = px & 0xff
            sr += rr; sg += gg; sb += bb
            fp = (fp * 31 + rr) % P
            fp = (fp * 31 + gg) % P
            fp = (fp * 31 + bb) % P
            c += 1
          }
          r += 1
        }
        (docId, p.toLong, sr, sg, sb, fp, ok)
      }
    }.toDF("doc_id", "patch_id", "sum_r", "sum_g", "sum_b",
      "patch_fp", "roundtrip_ok")
  }

  /** Patch-grain image near-dup pairs: documents sharing at least
    * `minShared` distinct patch fingerprints (from
    * [[patchifyPipeline]]'s real-decode fps) — the visual analogue of
    * shingle-overlap text dedup, catching crops/recompositions that
    * whole-image hashing misses. The fp is the bucket key: per-fp
    * membership is capped at `maxBucket` (lowest doc_id wins, the
    * candidate-pair cap discipline) so a degenerate fp (solid-color
    * patches) cannot go quadratic; pairs then count shared fps with
    * map-side combine. Never doc×doc.
    */
  def patchDedupPairs(df: DataFrame, text: String, id: String,
      minShared: Int = 2, maxBucket: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fps = patchifyPipeline(df, text, id)
      .select(col("doc_id"), col("patch_fp")).distinct()
    val capped = fps
      .withColumn("__rk", row_number().over(
        Window.partitionBy("patch_fp").orderBy("doc_id")))
      .filter(col("__rk") <= maxBucket)
      .select("doc_id", "patch_fp")
    capped.as("a").join(capped.as("b"),
        col("a.patch_fp") === col("b.patch_fp") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** [[bmpPipeline]]'s twin over a REAL COMPRESSED payload: the same
    * codepoint-derived 8×8 raster is encoded to actual PNG bytes
    * ([[encodePng]] — zlib-compressed, real IHDR/IDAT chunks), decoded
    * back through the `javax.imageio` codec ([[decodeCompressed]]),
    * then resized. PNG is lossless, so every decoded pixel — and thus
    * every k/64 dyadic channel mean — is bit-exact against the oracle
    * recomputing from the codepoints; the encoder-version-dependent
    * compressed byte length is intentionally NOT an output column
    * (the one non-deterministic quantity). `roundtrip_ok` asserts
    * decode∘encode identity per row, plus that the stream really is
    * compressed PNG (magic bytes present, not raw). Row-local with
    * zero state, so it applies to a streaming frame unchanged.
    */
  def pngPipeline(df: DataFrame, text: String, id: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    prefixes(df, text, id, 192).map { case (docId, pfx) =>
      val pixels = rgbPixels(codepointBytes(pfx, 192), 0)
      val png = encodePng(DecodedImage(8, 8, pixels))
      val dec = decodeCompressed(png).get
      val (r, g, b) = channelMeans(dec)
      val (rr, _, _) = channelMeans(resizeNearest(dec, 4, 4))
      val ok = (png(0) & 0xff) == 0x89 && png(1) == 'P' &&
        dec.width == 8 && dec.height == 8 &&
        java.util.Arrays.equals(dec.pixels, pixels)
      (docId, r, g, b, rr, ok)
    }.toDF("doc_id", "mean_r", "mean_g", "mean_b", "rs_mean_r",
      "roundtrip_ok")
  }

  /** [[pngPipeline]]'s LOSSY twin: the same codepoint-derived 8×8
    * raster through REAL baseline JPEG ([[encodeJpeg]] →
    * [[decodeCompressed]], both `javax.imageio`). JPEG decode output
    * is codec-version-dependent, so the contract splits into
    *  - EXACT columns the oracle recomputes from the codepoints:
    *    decoded width/height (dimensions survive any conformant
    *    codec) and the TRUE channel means (k/64 dyadic);
    *  - a TOLERANCE-BAND boolean (`lossy_ok`) computed from the real
    *    decode: container magic (FFD8 SOI) plus every decoded channel
    *    mean within ±16 of its true mean. Measured worst-case mean
    *    error over 2000 random rasters (incl. full-range noise) is
    *    7.33 — DC coefficients quantize finely even when per-pixel
    *    high-frequency error is large — so 16 is >2× headroom
    *    against JDK codec drift while still failing loudly on any
    *    real decode bug (channel swap, stride error, double decode).
    * Row-local with zero state, so it applies to a streaming frame
    * unchanged.
    */
  def jpegPipeline(df: DataFrame, text: String, id: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    prefixes(df, text, id, 192).map { case (docId, pfx) =>
      val pixels = rgbPixels(codepointBytes(pfx, 192), 0)
      val src = DecodedImage(8, 8, pixels)
      val jpg = encodeJpeg(src)
      val dec = decodeCompressed(jpg).get
      val (r0, g0, b0) = channelMeans(src)
      val (r, g, b) = channelMeans(dec)
      val tol = 16.0
      val ok = (jpg(0) & 0xff) == 0xff && (jpg(1) & 0xff) == 0xd8 &&
        math.abs(r - r0) <= tol && math.abs(g - g0) <= tol &&
        math.abs(b - b0) <= tol
      (docId, dec.width, dec.height, r0, g0, b0, ok)
    }.toDF("doc_id", "width", "height", "mean_r", "mean_g", "mean_b",
      "lossy_ok")
  }

  /** Encode a frame sequence as a REAL animated GIF89a — header,
    * logical screen descriptor, a global 256-color table built from
    * the frames' sorted distinct colors (callers keep the combined
    * palette ≤ 256, so encoding is LOSSLESS), Netscape loop
    * extension, and per-frame graphic-control + image-descriptor +
    * LZW-compressed indexed data. The LZW stream uses the standard
    * "uncompressed emit" technique: literal palette indices at
    * minimum code width with a CLEAR code before the dictionary
    * would grow past the width — bigger bytes, zero codec logic,
    * and every conformant decoder (including the JDK's) reads it.
    * No library involved on the encode side; [[decodeGifFrame]]
    * reads frames back through the REAL `javax.imageio` GIF codec
    * with random frame access (the frame-seek shape of video
    * sampling).
    */
  def encodeGif(frames: Seq[DecodedImage]): Array[Byte] = {
    require(frames.nonEmpty, "encodeGif: need at least one frame")
    val w = frames.head.width
    val h = frames.head.height
    require(frames.forall(f => f.width == w && f.height == h),
      "encodeGif: frames must share dimensions")
    val palette = frames.flatMap(_.pixels).distinct.sorted.toArray
    require(palette.length <= 256,
      s"encodeGif: ${palette.length} colors exceed the global table")
    val index = palette.zipWithIndex.toMap
    val out = new java.io.ByteArrayOutputStream()
    def put8(v: Int): Unit = out.write(v & 0xff)
    def put16(v: Int): Unit = { put8(v); put8(v >> 8) }
    "GIF89a".foreach(c => put8(c))
    put16(w); put16(h)
    put8(0xf7)          // global table, 8 bits/px, 256 entries
    put8(0); put8(0)    // background index, no aspect ratio
    (0 until 256).foreach { i =>
      val c = if (i < palette.length) palette(i) else 0
      put8(c >> 16); put8(c >> 8); put8(c)
    }
    // Netscape looping extension (loop forever) — the marker that
    // makes this an ANIMATION container, and a non-image chunk the
    // decoder must skip (exercises real chunk walking)
    put8(0x21); put8(0xff); put8(11)
    "NETSCAPE2.0".foreach(c => put8(c))
    put8(3); put8(1); put16(0); put8(0)
    frames.foreach { f =>
      put8(0x21); put8(0xf9); put8(4) // graphic control
      put8(0)                         // no disposal, no transparency
      put16(10)                       // 100 ms delay
      put8(0); put8(0)
      put8(0x2c)                      // image descriptor
      put16(0); put16(0); put16(w); put16(h)
      put8(0)                         // no local table, not interlaced
      put8(8)                         // LZW minimum code size
      // sub-block-buffered LZW: 9-bit codes, CLEAR(256) every 254
      // literals so the code table never grows, EOI(257) at the end
      val bits = new scala.collection.mutable.ArrayBuffer[Byte]()
      var cur = 0L
      var nbits = 0
      def emit(code: Int): Unit = {
        cur |= (code.toLong & 0x1ff) << nbits
        nbits += 9
        while (nbits >= 8) {
          bits += (cur & 0xff).toByte
          cur >>>= 8
          nbits -= 8
        }
      }
      emit(256)
      var since = 0
      f.pixels.foreach { p =>
        if (since == 254) { emit(256); since = 0 }
        emit(index(p))
        since += 1
      }
      emit(257)
      if (nbits > 0) bits += (cur & 0xff).toByte
      bits.grouped(255).foreach { blk =>
        put8(blk.length)
        blk.foreach(b => out.write(b))
      }
      put8(0) // block terminator
    }
    put8(0x3b) // trailer
    out.toByteArray
  }

  /** Random-access decode of one animation frame through the JDK's
    * real GIF codec. Frames written by [[encodeGif]] are full-screen
    * replacements, so the reader's raw frame IS the logical frame.
    * None for non-GIF bytes, out-of-range indices, or undecodable
    * streams.
    */
  def decodeGifFrame(bytes: Array[Byte], frame: Int)
      : Option[DecodedImage] =
    decodeGifFrames(bytes, Seq(frame)).map(_.head)

  /** Batch form of [[decodeGifFrame]]: one reader open + one
    * frame-count probe serves every requested index (the reader
    * setup dominates per-frame cost for small frames — the
    * stride-sampling pipeline decodes its whole sample set through
    * one pass). None if ANY requested index is out of range or the
    * stream is not decodable GIF.
    */
  def decodeGifFrames(bytes: Array[Byte], frames: Seq[Int])
      : Option[Seq[DecodedImage]] = {
    if (bytes == null || bytes.length < 6 || bytes(0) != 'G' ||
      bytes(1) != 'I' || bytes(2) != 'F') return None
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val readers = javax.imageio.ImageIO.getImageReaders(iis)
    if (!readers.hasNext) { iis.close(); return None }
    val reader = readers.next()
    try {
      reader.setInput(iis)
      val n = reader.getNumImages(true)
      if (frames.exists(f => f < 0 || f >= n)) return None
      Some(frames.map { f =>
        val img = reader.read(f)
        val w = img.getWidth
        val h = img.getHeight
        val px = new Array[Int](w * h)
        img.getRGB(0, 0, w, h, px, 0, w)
        var i = 0
        while (i < px.length) { px(i) &= 0xffffff; i += 1 }
        DecodedImage(w, h, px)
      })
    } catch {
      case scala.util.control.NonFatal(_) => None
    } finally {
      reader.dispose()
      iis.close()
    }
  }

  /** Decoded PCM audio clip: mono 16-bit samples at `sampleRate`. */
  case class DecodedAudio(sampleRate: Int, samples: Array[Short])

  /** Encode mono 16-bit PCM as a REAL RIFF/WAVE file — canonical
    * 44-byte header (RIFF size, WAVE, fmt chunk: PCM=1, 1 channel,
    * rate/byte-rate/block-align, 16 bits, data chunk) + little-endian
    * samples. Byte-exact inverse of [[decodeWav]]; no codec library.
    */
  def encodeWav(audio: DecodedAudio): Array[Byte] = {
    val n = audio.samples.length
    val dataBytes = n * 2
    val out = new Array[Byte](44 + dataBytes)
    def putTag(off: Int, s: String): Unit =
      (0 until 4).foreach(i => out(off + i) = s.charAt(i).toByte)
    def put32(off: Int, v: Int): Unit = (0 until 4).foreach(i =>
      out(off + i) = ((v >>> (8 * i)) & 0xff).toByte)
    def put16(off: Int, v: Int): Unit = (0 until 2).foreach(i =>
      out(off + i) = ((v >>> (8 * i)) & 0xff).toByte)
    putTag(0, "RIFF"); put32(4, 36 + dataBytes); putTag(8, "WAVE")
    putTag(12, "fmt "); put32(16, 16)
    put16(20, 1)                       // PCM
    put16(22, 1)                       // mono
    put32(24, audio.sampleRate)
    put32(28, audio.sampleRate * 2)    // byte rate
    put16(32, 2)                       // block align
    put16(34, 16)                      // bits per sample
    putTag(36, "data"); put32(40, dataBytes)
    var i = 0
    while (i < n) {
      val s = audio.samples(i)
      out(44 + 2 * i) = (s & 0xff).toByte
      out(45 + 2 * i) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    out
  }

  /** REAL RIFF/WAVE parser: validates the RIFF/WAVE container, walks
    * the chunk list generically (tolerates extra chunks before
    * `data`), requires PCM / mono / 16-bit, and returns the decoded
    * samples. None for anything malformed — wrong magic, truncated
    * header or data, compressed or multi-channel streams.
    */
  def decodeWav(bytes: Array[Byte]): Option[DecodedAudio] = {
    if (bytes.length < 44) return None
    def tag(off: Int): String =
      new String(bytes.slice(off, off + 4), "US-ASCII")
    def get32(off: Int): Int = (0 until 4).map(i =>
      (bytes(off + i) & 0xff) << (8 * i)).sum
    def get16(off: Int): Int =
      (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8)
    if (tag(0) != "RIFF" || tag(8) != "WAVE") return None
    var off = 12
    var rate = -1
    var ok = false
    var data: Option[Array[Short]] = None
    while (off + 8 <= bytes.length && data.isEmpty) {
      val id = tag(off)
      val len = get32(off + 4)
      if (len < 0 || off + 8 + len > bytes.length) return None
      if (id == "fmt ") {
        if (len < 16) return None
        val fmt = get16(off + 8)
        val ch = get16(off + 10)
        rate = get32(off + 12)
        val bits = get16(off + 22)
        ok = fmt == 1 && ch == 1 && bits == 16 && rate > 0
      } else if (id == "data") {
        if (!ok || len % 2 != 0) return None
        val n = len / 2
        val s = new Array[Short](n)
        var i = 0
        while (i < n) {
          s(i) = ((bytes(off + 8 + 2 * i) & 0xff) |
            ((bytes(off + 9 + 2 * i) & 0xff) << 8)).toShort
          i += 1
        }
        data = Some(s)
      }
      off += 8 + len + (len & 1) // RIFF chunks are word-aligned
    }
    data.map(DecodedAudio(rate, _))
  }

  /** [[bmpPipeline]]'s AUDIO twin: the doc's first 64 codepoints
    * become centered 16-bit PCM samples `(cp mod 256 - 128) * 256`,
    * encoded to actual RIFF/WAVE bytes ([[encodeWav]]), decoded back
    * with the real chunk-walking parser ([[decodeWav]]), then
    * feature-extracted: RMS energy, peak amplitude, zero-crossing
    * count, duration — the standard audio-curation gate inputs.
    * Every feature is oracle-exact: sample values are integers, the
    * squared-sum is < 2^36 (exact in double), /64 is a dyadic shift,
    * and IEEE sqrt is correctly rounded — no rounding step needed.
    * `roundtrip_ok` asserts decode∘encode identity per row (samples,
    * rate, mono/16-bit acceptance) so the oracle's TRUE literal is
    * backed by a real in-query check, exactly like the image twins.
    * Row-local with zero state, so it applies to a streaming frame
    * unchanged, like every codec pipeline here.
    */
  def wavPipeline(df: DataFrame, text: String, id: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    prefixes(df, text, id, 64).map { case (docId, pfx) =>
      val s = pcmSamples(codepointBytes(pfx, 64))
      val wav = encodeWav(DecodedAudio(8000, s))
      val dec = decodeWav(wav).get
      val (ss, peak, zc, _, _) = reconStats(dec.samples, s)
      val ok = dec.sampleRate == 8000 &&
        java.util.Arrays.equals(dec.samples, s) &&
        wav.length == 44 + 128
      // duration is the constant 8.0 ms (64 samples at 8 kHz) —
      // written as the literal: 64.0/8000*1000 rounds to
      // 8.000000000000002 in IEEE and would hash-differ from the
      // oracle's exact 8.0
      (docId, wav.length.toLong, math.sqrt(ss / 64.0), peak, zc,
        8.0, ok)
    }.toDF("doc_id", "n_bytes", "rms", "peak", "zero_crossings",
      "duration_ms", "roundtrip_ok")
  }

  // ---- G.711 companded audio (μ-law / A-law) ---------------------

  /** G.711 μ-law compress: 16-bit PCM → 8-bit logarithmic code (the
    * ITU-T telephony codec; RIFF format tag 7). Pure integer
    * arithmetic — clamp to 32635, add the 0x84 bias, locate the
    * segment from the top set bit, keep a 4-bit mantissa,
    * complement. 2:1 LOSSY compression whose quantizer is
    * nevertheless fully deterministic integer math, which is what
    * lets a lossy codec carry a BIT-EXACT oracle (contrast the
    * DCT-based [[encodeJpeg]], whose contract is a tolerance band).
    */
  def muLawEncode(pcm: Short): Byte = {
    val x = pcm.toInt
    val sign = if (x < 0) 0x80 else 0
    val m = math.min(math.abs(x), 32635) + 132
    val exp = 31 - Integer.numberOfLeadingZeros(m) - 7
    val mant = (m >> (exp + 3)) & 0x0f
    (~(sign | (exp << 4) | mant) & 0xff).toByte
  }

  /** G.711 μ-law expand — the exact integer inverse-quantizer:
    * `±(((8·mant+132)·2^exp)−132)`. encode∘decode is the identity on
    * every code except 0x7F ("negative zero", which collapses to 0
    * and re-encodes as 0xFF — a documented G.711 fact, spec-pinned).
    */
  def muLawDecode(code: Byte): Short = {
    val c = ~code & 0xff
    val exp = (c >> 4) & 0x07
    val mant = c & 0x0f
    val mag = (((mant << 3) + 132) << exp) - 132
    (if ((c & 0x80) != 0) -mag else mag).toShort
  }

  /** G.711 A-law compress (RIFF format tag 6): 13-bit magnitude,
    * 8-segment log quantizer, 0x55 even-bit toggle. Same
    * deterministic-integer property as [[muLawEncode]].
    */
  def aLawEncode(pcm: Short): Byte = {
    val x = pcm.toInt
    val mask = if (x >= 0) 0xd5 else 0x55
    val m = (if (x >= 0) x else -x - 1) >> 3
    val seg =
      if (m > 0xfff) 8
      else if (m > 0x7ff) 7 else if (m > 0x3ff) 6
      else if (m > 0x1ff) 5 else if (m > 0xff) 4
      else if (m > 0x7f) 3 else if (m > 0x3f) 2
      else if (m > 0x1f) 1 else 0
    if (seg >= 8) ((0x7f ^ mask) & 0xff).toByte
    else {
      val aval = (seg << 4) |
        (if (seg < 2) (m >> 1) & 0x0f else (m >> seg) & 0x0f)
      ((aval ^ mask) & 0xff).toByte
    }
  }

  /** G.711 A-law expand. Unlike μ-law, A-law has no ±0 collapse —
    * encode∘decode is the identity on ALL 256 codes (spec-pinned).
    */
  def aLawDecode(code: Byte): Short = {
    val c = (code ^ 0x55) & 0xff
    val seg = (c & 0x70) >> 4
    var t = (c & 0x0f) << 4
    if (seg == 0) t += 8
    else { t += 0x108; t <<= (seg - 1) }
    (if ((c & 0x80) != 0) t else -t).toShort
  }

  // ---- IMA ADPCM (predictive 4-bit, RIFF format tag 0x11) --------

  /** The 89-entry IMA/DVI step-size table (public, from the IMA
    * ADPCM reference algorithm).
    */
  val imaSteps: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
    34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130,
    143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449,
    494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411,
    1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026,
    4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442,
    11487, 12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623,
    27086, 29794, 32767)

  private val imaIndexDelta = Array(-1, -1, -1, -1, 2, 4, 6, 8)

  /** One IMA ADPCM quantizer step from state (pred, idx): returns
    * (code, newPred, newIdx). The reconstruction the decoder will
    * produce for this step IS newPred — encoder and decoder share
    * this state machine, which keeps them in lockstep.
    */
  def imaStep(sample: Int, pred: Int, idx: Int): (Int, Int, Int) = {
    val st = imaSteps(idx)
    val diff = sample - pred
    val sign = if (diff < 0) 8 else 0
    var ad = math.abs(diff)
    var delta = 0
    if (ad >= st) { delta = 4; ad -= st }
    if (ad >= (st >> 1)) { delta |= 2; ad -= st >> 1 }
    if (ad >= (st >> 2)) { delta |= 1 }
    val diffq = (st >> 3) + (if ((delta & 4) != 0) st else 0) +
      (if ((delta & 2) != 0) st >> 1 else 0) +
      (if ((delta & 1) != 0) st >> 2 else 0)
    val p1 = if (sign != 0) pred - diffq else pred + diffq
    val p2 = math.max(-32768, math.min(32767, p1))
    val i2 = math.max(0, math.min(88, idx + imaIndexDelta(delta)))
    (sign | delta, p2, i2)
  }

  /** Decoder half of [[imaStep]]: the same reconstruction from a
    * 4-bit code.
    */
  def imaDecodeStep(code: Int, pred: Int, idx: Int): (Int, Int) = {
    val st = imaSteps(idx)
    val delta = code & 7
    val diffq = (st >> 3) + (if ((delta & 4) != 0) st else 0) +
      (if ((delta & 2) != 0) st >> 1 else 0) +
      (if ((delta & 1) != 0) st >> 2 else 0)
    val p1 = if ((code & 8) != 0) pred - diffq else pred + diffq
    val p2 = math.max(-32768, math.min(32767, p1))
    val i2 = math.max(0, math.min(88, idx + imaIndexDelta(delta)))
    (p2, i2)
  }

  /** Encode mono PCM as a REAL PREDICTIVE-compressed RIFF/WAVE file —
    * format tag 0x11 (IMA ADPCM), ~4:1: 20-byte fmt chunk (cbSize=2,
    * samplesPerBlock), fact chunk, ONE block with the canonical
    * 4-byte state header (initial predictor int16 + step index +
    * reserved) followed by one 4-bit code per sample, low nibble
    * first. DOCUMENTED DIVERGENCE from the canonical WAV-IMA block
    * rule: the initial state is always (0, 0) and EVERY sample goes
    * through the quantizer (canonical blocks store sample 0 raw in
    * the header) — keeping the whole clip on the predictive path is
    * the contract the oracle replays step-by-step.
    */
  def encodeWavAdpcm(audio: DecodedAudio): Array[Byte] = {
    val n = audio.samples.length
    val nData = 4 + (n + 1) / 2
    // samples-per-block and block-align are 16-bit header fields; an
    // oversized clip would silently truncate mod 65536 and decode as
    // a wrong-length-but-parseable file. One block per clip is the
    // committed contract, so fail loudly instead.
    require(n <= 0xffff && nData <= 0xffff,
      s"encodeWavAdpcm: single-block layout holds at most 65535 " +
        s"samples (got $n); chunk the clip upstream")
    val out = new Array[Byte](60 + nData)
    def putTag(off: Int, s: String): Unit =
      (0 until 4).foreach(i => out(off + i) = s.charAt(i).toByte)
    def put32(off: Int, v: Int): Unit = (0 until 4).foreach(i =>
      out(off + i) = ((v >>> (8 * i)) & 0xff).toByte)
    def put16(off: Int, v: Int): Unit = (0 until 2).foreach(i =>
      out(off + i) = ((v >>> (8 * i)) & 0xff).toByte)
    putTag(0, "RIFF"); put32(4, 52 + nData); putTag(8, "WAVE")
    putTag(12, "fmt "); put32(16, 20)
    put16(20, 0x11)                       // WAVE_FORMAT_IMA_ADPCM
    put16(22, 1)                          // mono
    put32(24, audio.sampleRate)
    put32(28, (audio.sampleRate + 1) / 2) // ~4 bits/sample byte rate
    put16(32, nData)                      // block align: one block
    put16(34, 4)                          // bits per code
    put16(36, 2)                          // cbSize
    put16(38, n)                          // samples per block
    putTag(40, "fact"); put32(44, 4); put32(48, n)
    putTag(52, "data"); put32(56, nData)
    put16(60, 0); out(62) = 0; out(63) = 0 // state: pred 0, idx 0
    var pred = 0; var idx = 0
    var i = 0
    while (i < n) {
      val (code, p, ix) = imaStep(audio.samples(i), pred, idx)
      pred = p; idx = ix
      val off = 64 + i / 2
      if (i % 2 == 0) out(off) = (code & 0x0f).toByte
      else out(off) = (out(off) | ((code & 0x0f) << 4)).toByte
      i += 1
    }
    out
  }

  /** REAL parser for the IMA ADPCM WAVE layout [[encodeWavAdpcm]]
    * writes: validates container/format, reads the block state
    * header, walks the nibbles through the shared state machine.
    */
  def decodeWavAdpcm(bytes: Array[Byte]): Option[DecodedAudio] = {
    if (bytes.length < 64) return None
    def tag(off: Int): String =
      new String(bytes.slice(off, off + 4), "US-ASCII")
    def get32(off: Int): Int = (0 until 4).map(i =>
      (bytes(off + i) & 0xff) << (8 * i)).sum
    def get16(off: Int): Int =
      (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8)
    if (tag(0) != "RIFF" || tag(8) != "WAVE") return None
    var off = 12
    var rate = -1
    var nSamples = -1
    var ok = false
    var data: Option[Array[Short]] = None
    while (off + 8 <= bytes.length && data.isEmpty) {
      val id = tag(off)
      val len = get32(off + 4)
      if (len < 0 || off + 8 + len > bytes.length) return None
      if (id == "fmt ") {
        if (len < 20) return None
        val fmt = get16(off + 8)
        val ch = get16(off + 10)
        rate = get32(off + 12)
        val bits = get16(off + 22)
        nSamples = get16(off + 26)
        ok = fmt == 0x11 && ch == 1 && bits == 4 && rate > 0 &&
          nSamples >= 0
      } else if (id == "data") {
        if (!ok || len < 4 + (nSamples + 1) / 2) return None
        var pred = (get16(off + 8) << 16) >> 16 // sign-extend int16
        var idx = bytes(off + 10) & 0xff
        if (idx > 88) return None
        val s = new Array[Short](nSamples)
        var i = 0
        while (i < nSamples) {
          val b = bytes(off + 12 + i / 2) & 0xff
          val code = if (i % 2 == 0) b & 0x0f else (b >> 4) & 0x0f
          val (p, ix) = imaDecodeStep(code, pred, idx)
          pred = p; idx = ix
          s(i) = p.toShort
          i += 1
        }
        data = Some(s)
      }
      off += 8 + len + (len & 1)
    }
    data.map(DecodedAudio(rate, _))
  }

  /** Encode mono PCM as a REAL COMPRESSED RIFF/WAVE file — format
    * tag 7 (G.711 μ-law) or 6 (A-law): the 18-byte fmt chunk
    * (cbSize=0) plus the `fact` chunk (decoded sample count) that
    * non-PCM WAVE formats carry, then one code byte per sample —
    * 2:1 compression vs [[encodeWav]]. Layout is fixed 58-byte
    * header + n data bytes.
    */
  def encodeWavG711(audio: DecodedAudio, aLaw: Boolean = false): Array[Byte] = {
    val n = audio.samples.length
    val out = new Array[Byte](58 + n)
    def putTag(off: Int, s: String): Unit =
      (0 until 4).foreach(i => out(off + i) = s.charAt(i).toByte)
    def put32(off: Int, v: Int): Unit = (0 until 4).foreach(i =>
      out(off + i) = ((v >>> (8 * i)) & 0xff).toByte)
    def put16(off: Int, v: Int): Unit = (0 until 2).foreach(i =>
      out(off + i) = ((v >>> (8 * i)) & 0xff).toByte)
    putTag(0, "RIFF"); put32(4, 50 + n); putTag(8, "WAVE")
    putTag(12, "fmt "); put32(16, 18)
    put16(20, if (aLaw) 6 else 7)      // WAVE_FORMAT_ALAW / MULAW
    put16(22, 1)                       // mono
    put32(24, audio.sampleRate)
    put32(28, audio.sampleRate)        // byte rate (1 byte/sample)
    put16(32, 1)                       // block align
    put16(34, 8)                       // bits per code
    put16(36, 0)                       // cbSize
    putTag(38, "fact"); put32(42, 4); put32(46, n)
    putTag(50, "data"); put32(54, n)
    var i = 0
    while (i < n) {
      out(58 + i) =
        if (aLaw) aLawEncode(audio.samples(i))
        else muLawEncode(audio.samples(i))
      i += 1
    }
    out
  }

  /** REAL parser for G.711-compressed RIFF/WAVE: same generic
    * chunk walk as [[decodeWav]] but requires format tag 6 or 7,
    * mono, 8-bit codes, and EXPANDS each code byte back to 16-bit
    * PCM through the exact inverse quantizer. None for malformed or
    * uncompressed-PCM input (that is [[decodeWav]]'s contract).
    */
  def decodeWavG711(bytes: Array[Byte]): Option[DecodedAudio] = {
    if (bytes.length < 46) return None
    def tag(off: Int): String =
      new String(bytes.slice(off, off + 4), "US-ASCII")
    def get32(off: Int): Int = (0 until 4).map(i =>
      (bytes(off + i) & 0xff) << (8 * i)).sum
    def get16(off: Int): Int =
      (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8)
    if (tag(0) != "RIFF" || tag(8) != "WAVE") return None
    var off = 12
    var rate = -1
    var aLaw = false
    var ok = false
    var data: Option[Array[Short]] = None
    while (off + 8 <= bytes.length && data.isEmpty) {
      val id = tag(off)
      val len = get32(off + 4)
      if (len < 0 || off + 8 + len > bytes.length) return None
      if (id == "fmt ") {
        if (len < 16) return None
        val fmt = get16(off + 8)
        val ch = get16(off + 10)
        rate = get32(off + 12)
        val bits = get16(off + 22)
        aLaw = fmt == 6
        ok = (fmt == 6 || fmt == 7) && ch == 1 && bits == 8 && rate > 0
      } else if (id == "data") {
        if (!ok) return None
        val s = new Array[Short](len)
        var i = 0
        while (i < len) {
          s(i) =
            if (aLaw) aLawDecode(bytes(off + 8 + i))
            else muLawDecode(bytes(off + 8 + i))
          i += 1
        }
        data = Some(s)
      }
      off += 8 + len + (len & 1)
    }
    data.map(DecodedAudio(rate, _))
  }

  /** The COMPRESSED-audio twin of [[wavPipeline]]: the same
    * codepoint-derived 64-sample PCM clip, compressed 2:1 through the
    * REAL G.711 μ-law WAVE codec ([[encodeWavG711]]), expanded back
    * ([[decodeWavG711]]), then feature-extracted on the
    * RECONSTRUCTED signal — energy, peak, zero crossings — plus the
    * max/total quantization error vs the original. Every hashed
    * column is a BIGINT computed in pure integer arithmetic on both
    * engines (the μ-law quantizer is deterministic integer math), so
    * this LOSSY codec carries a bit-exact oracle — no float enters
    * the contract. `roundtrip_ok` asserts the lossy fixed point per
    * row: re-encoding the reconstruction reproduces the compressed
    * bytes exactly, and the parser accepted rate/format/layout.
    */
  def ulawPipeline(df: DataFrame, text: String, id: String): DataFrame =
    g711Pipeline(df, text, id, aLaw = false)

  /** A-law twin of [[ulawPipeline]] — same container, same all-BIGINT
    * contract, the format-6 quantizer.
    */
  def alawPipeline(df: DataFrame, text: String, id: String): DataFrame =
    g711Pipeline(df, text, id, aLaw = true)

  /** PREDICTIVE-codec twin of [[ulawPipeline]]: IMA ADPCM, ~4:1. Same
    * all-BIGINT contract — the adaptive quantizer is an integer
    * state machine, so the oracle can replay it exactly (a recursive
    * CTE stepping (pred, idx) through the same table). ADPCM has no
    * byte-level fixed point (re-encoding a reconstruction re-adapts
    * the state), so `roundtrip_ok` instead pins decode∘encode
    * against the ENCODER's own reconstruction trace per row — the
    * lockstep property that defines the codec — plus container
    * acceptance.
    */
  def adpcmPipeline(df: DataFrame, text: String, id: String)
      : DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    prefixes(df, text, id, 64).map { case (docId, pfx) =>
      val s = pcmSamples(codepointBytes(pfx, 64))
      val wav = encodeWavAdpcm(DecodedAudio(8000, s))
      val dec = decodeWavAdpcm(wav).get
      val rec = dec.samples
      val trace = new Array[Short](64)
      var pred = 0; var idx = 0
      var j = 0
      while (j < 64) {
        val (_, p, ix) = imaStep(s(j), pred, idx)
        pred = p; idx = ix; trace(j) = p.toShort
        j += 1
      }
      val (ss, peak, zc, maxErr, sumErr) = reconStats(rec, s)
      val ok = dec.sampleRate == 8000 && wav.length == 96 &&
        java.util.Arrays.equals(rec, trace)
      (docId, wav.length.toLong, ss, peak, zc, maxErr, sumErr, ok)
    }.toDF("doc_id", "n_bytes", "sumsq_recon", "peak_recon",
      "zero_crossings", "max_abs_err", "sum_abs_err", "roundtrip_ok")
  }

  private def g711Pipeline(df: DataFrame, text: String, id: String,
      aLaw: Boolean): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    prefixes(df, text, id, 64).map { case (docId, pfx) =>
      val s = pcmSamples(codepointBytes(pfx, 64))
      val wav = encodeWavG711(DecodedAudio(8000, s), aLaw)
      val dec = decodeWavG711(wav).get
      val rec = dec.samples
      val (ss, peak, zc, maxErr, sumErr) = reconStats(rec, s)
      val again = encodeWavG711(DecodedAudio(dec.sampleRate, rec), aLaw)
      val ok = dec.sampleRate == 8000 && wav.length == 58 + 64 &&
        java.util.Arrays.equals(again, wav)
      (docId, wav.length.toLong, ss, peak, zc, maxErr, sumErr, ok)
    }.toDF("doc_id", "n_bytes", "sumsq_recon", "peak_recon",
      "zero_crossings", "max_abs_err", "sum_abs_err", "roundtrip_ok")
  }

  /** The VIDEO twin: the doc's first 768 codepoints become FOUR 8×8
    * frames (the [[bmpPipeline]] raster rule per 192-codepoint
    * slice), encoded as a REAL animated GIF89a ([[encodeGif]] — the
    * combined 256-pixel frame set can never exceed the 256-entry
    * global palette, so encoding is lossless), then FRAME-SAMPLED at
    * stride 2 through the JDK's real GIF codec ([[decodeGifFrame]]
    * random access — frames 0 and 2; the unsampled frames are never
    * decoded, the point of stride sampling). Channel means of the
    * decoded frames are k/64 dyadic rationals, bit-exact against the
    * oracle recomputing from the codepoints; `roundtrip_ok` asserts
    * decode∘encode identity of the sampled frames per row. Row-local
    * with zero state, so it applies to a streaming frame unchanged.
    */
  def gifPipeline(df: DataFrame, text: String, id: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    prefixes(df, text, id, 768).map { case (docId, pfx) =>
      val v = codepointBytes(pfx, 768)
      val frames = Array.tabulate(4)(f =>
        DecodedImage(8, 8, rgbPixels(v, 192 * f)))
      val gif = encodeGif(frames.toSeq)
      // one reader pass decodes the whole stride sample (out-of-range
      // rejection is spec-pinned; probing it here would re-open a
      // reader per row)
      val Seq(d0, d2) = decodeGifFrames(gif, Seq(0, 2)).get
      val (r0, g0, b0) = channelMeans(d0)
      val (r2, _, _) = channelMeans(d2)
      val ok = java.util.Arrays.equals(d0.pixels, frames(0).pixels) &&
        java.util.Arrays.equals(d2.pixels, frames(2).pixels)
      (docId, r0, g0, b0, r2, ok)
    }.toDF("doc_id", "f0_mean_r", "f0_mean_g", "f0_mean_b",
      "f2_mean_r", "roundtrip_ok")
  }

  // ---- MDCT transform audio codec (fixed-point, MP3-class toy) ---

  /** The TRANSFORM member of the compression-family triangle
    * (companding = G.711, prediction = ADPCM, transform = this):
    * a modified-DCT subband codec with 50%-overlap sine windowing,
    * coefficient quantization, and a low-pass "perceptual" keep —
    * the MP3/AAC skeleton minus the psychoacoustic model and
    * entropy coder. Everything is FIXED-POINT: the Q15 window and
    * basis tables are generated once in the JVM and injected into
    * the oracle SQL as integer literals (the `imaSteps` discipline),
    * and every MAC / normalize / quantize step is long arithmetic
    * with explicit floor-division rounding — so unlike a libm-based
    * MDCT the whole encode→decode path is bit-reproducible and the
    * DuckDB oracle replays it EXACTLY (the seam the round-12 verdict
    * expected to need a tolerance band).
    */
  val mdctN = 16
  /** Q15 sine window w(n) = sin(π/2N·(n+0.5)), n ∈ [0, 2N). */
  val mdctWin: Array[Long] = Array.tabulate(2 * mdctN)(n =>
    math.rint(math.sin(
      math.Pi / (2 * mdctN) * (n + 0.5)) * 32767).toLong)
  /** Q15 MDCT basis C(k,n) = cos(π/N·(n + 0.5 + N/2)·(k + 0.5)),
    * flattened k·2N + n.
    */
  val mdctCos: Array[Long] =
    Array.tabulate(mdctN * 2 * mdctN) { i =>
      val k = i / (2 * mdctN); val n = i % (2 * mdctN)
      math.rint(math.cos(math.Pi / mdctN *
        (n + 0.5 + mdctN / 2.0) * (k + 0.5)) * 32767).toLong
    }
  /** Coefficients kept per frame (low-pass cut, the lossy half). */
  val mdctKept = 8
  /** Half-step-offset TRUNCATING division — the codec's rounding
    * primitive, defined to match DuckDB's `(a + 2^(s-1)) // 2^s`
    * exactly: DuckDB `//` truncates toward zero (−7//2 = −3), NOT
    * floor like Math.floorDiv (−4), so the Scala side uses plain
    * `/` (also truncating). The slight bias in the bin straddling
    * zero is irrelevant to a codec; cross-engine identity is not.
    */
  private def rndShift(a: Long, s: Int): Long =
    (a + (1L << (s - 1))) / (1L << s)

  /** Forward fixed-point MDCT: frames f ∈ [0, n/N], frame f reads
    * input positions f·N + n − N (zero-padded outside [0, n)), Q15
    * window × Q15 basis integer MAC (|Σ| < 2^51 — no overflow),
    * normalize >>30 back to sample scale, quantize step 2^6. The
    * quantized coefficient is provably < 2^15 (32·2^15·Q15·Q15
    * >> 36), so int16 storage is exact for ANY input.
    */
  def mdctCoefficients(samples: Array[Short]): Array[Array[Long]] = {
    val n = samples.length
    require(n % mdctN == 0 && n > 0 && n <= 0xffff,
      s"mdctCoefficients: sample count must be a positive multiple " +
        s"of $mdctN at most 65535, got $n")
    Array.tabulate(n / mdctN + 1) { f =>
      Array.tabulate(mdctN) { k =>
        var a = 0L
        var i = 0
        while (i < 2 * mdctN) {
          val j = f * mdctN + i - mdctN
          if (j >= 0 && j < n)
            a += samples(j) * mdctWin(i) * mdctCos(k * 2 * mdctN + i)
          i += 1
        }
        rndShift(rndShift(a, 30), 6)
      }
    }
  }

  /** Container: "GMD1", u32 sample rate, u16 sample count, u16 kept,
    * then per frame the lowest `mdctKept` coefficients as int16 LE.
    * 64 samples (128 B PCM) → 92 B — real compression from the
    * coefficient cut alone (no entropy coder).
    */
  def encodeMdct(audio: DecodedAudio): Array[Byte] = {
    val coefs = mdctCoefficients(audio.samples)
    val out = new Array[Byte](12 + coefs.length * mdctKept * 2)
    def put32(off: Int, v: Int): Unit = (0 until 4).foreach(i =>
      out(off + i) = ((v >>> (8 * i)) & 0xff).toByte)
    def put16(off: Int, v: Int): Unit = (0 until 2).foreach(i =>
      out(off + i) = ((v >>> (8 * i)) & 0xff).toByte)
    "GMD1".zipWithIndex.foreach { case (c, i) => out(i) = c.toByte }
    put32(4, audio.sampleRate)
    put16(8, audio.samples.length)
    put16(10, mdctKept)
    coefs.zipWithIndex.foreach { case (fr, f) =>
      (0 until mdctKept).foreach { k =>
        put16(12 + (f * mdctKept + k) * 2, fr(k).toInt & 0xffff)
      }
    }
    out
  }

  /** REAL parser for the [[encodeMdct]] container: validates magic /
    * kept count / length, returns (sampleRate, nSamples, kept
    * coefficient matrix). Container round-trip of the quantized
    * coefficients is BIT-EXACT (the lossy step is encode-side only)
    * — what `roundtrip_ok` pins.
    */
  def decodeMdct(bytes: Array[Byte])
      : Option[(Int, Int, Array[Array[Long]])] = {
    def u16(off: Int): Int =
      (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8)
    def u32(off: Int): Int = (0 until 4)
      .map(i => (bytes(off + i) & 0xff) << (8 * i)).sum
    if (bytes.length < 12 ||
      new String(bytes.slice(0, 4), "US-ASCII") != "GMD1") return None
    val rate = u32(4); val n = u16(8); val kept = u16(10)
    val frames = n / mdctN + 1
    if (kept != mdctKept || n % mdctN != 0 || n == 0 ||
      bytes.length != 12 + frames * kept * 2) return None
    val coefs = Array.tabulate(frames)(f =>
      Array.tabulate(kept)(k =>
        u16(12 + (f * kept + k) * 2).toShort.toLong))
    Some((rate, n, coefs))
  }

  /** Inverse: dequantize (<<6), IMDCT with the same Q15 tables,
    * window again, overlap-add, then one final normalize: the sine-
    * window TDAC gain is N/2 = 8 on top of the two Q15 window/basis
    * factors (2^30), so the divisor is 2^33. Clamped to int16.
    */
  def mdctReconstruct(n: Int, coefs: Array[Array[Long]])
      : Array[Short] = {
    val acc = new Array[Long](n)
    coefs.zipWithIndex.foreach { case (fr, f) =>
      var i = 0
      while (i < 2 * mdctN) {
        val j = f * mdctN + i - mdctN
        if (j >= 0 && j < n) {
          var k = 0
          while (k < fr.length) {
            acc(j) += (fr(k) << 6) * mdctCos(k * 2 * mdctN + i) *
              mdctWin(i)
            k += 1
          }
        }
        i += 1
      }
    }
    acc.map(a => math.max(-32768L,
      math.min(32767L, rndShift(a, 33))).toShort)
  }

  /** Transform-codec pipeline: codepoint-derived PCM → [[encodeMdct]]
    * → [[decodeMdct]] → [[mdctReconstruct]] → the codec-family
    * feature contract (all-BIGINT, bit-exact oracle). Row-local like
    * every codec stage — the defining 100 TB property; the oracle
    * replays the integer MDCT with the SAME injected Q15 tables.
    */
  def mdctPipeline(df: DataFrame, text: String, id: String)
      : DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    prefixes(df, text, id, 64).map { case (docId, pfx) =>
      val s = pcmSamples(codepointBytes(pfx, 64))
      val bytes = encodeMdct(DecodedAudio(8000, s))
      val (rate, n, coefs) = decodeMdct(bytes).get
      val rec = mdctReconstruct(n, coefs)
      val (ss, peak, zc, maxErr, sumErr) = reconStats(rec, s)
      var ck = 0L
      coefs.zipWithIndex.foreach { case (fr, f) =>
        fr.zipWithIndex.foreach { case (q, k) =>
          ck += q * (f * mdctN + k + 1)
        }
      }
      val direct = mdctCoefficients(s)
      val ok = rate == 8000 && n == 64 && bytes.length == 92 &&
        coefs.length == direct.length && coefs.indices.forall(f =>
          coefs(f).sameElements(direct(f).take(mdctKept)))
      (docId, bytes.length.toLong, ss, peak, zc, maxErr, sumErr,
        ck, ok)
    }.toDF("doc_id", "n_bytes", "sumsq_recon", "peak_recon",
      "zero_crossings", "max_abs_err", "sum_abs_err",
      "coef_checksum", "roundtrip_ok")
  }

  // ---- Motion-compensated video codec (MP4/H.26x-class toy) -----

  /** The PREDICTION-ACROSS-FRAMES member that completes the codec
    * family: G.711 = companding, ADPCM = prediction across samples,
    * MDCT = transform, and this = motion-compensated inter-frame
    * prediction — the H.26x/MPEG skeleton (block motion search +
    * residual quantization) minus the DCT and entropy coder. Like
    * every codec here it is ALL-INTEGER with explicitly-ordered
    * arithmetic: frame 0 is intra (stored raw), each later frame is
    * predicted per 4×4 block from the previous RECONSTRUCTED frame
    * (never the source — the decoder only has reconstructions, and
    * using the source would silently accumulate drift the oracle
    * could not replay) by exhaustive ±2 motion search with edge
    * clamping, deterministic tiebreak (lowest candidate code on
    * equal SAD), and the residual quantized to 5 bits by a
    * floor-division kept on non-negative operands so Scala `/` and
    * DuckDB `//` (both truncating) agree everywhere. The DuckDB
    * oracle replays the full encode recursion as three unrolled
    * CTE steps (search → argmin → quantize → reconstruct), the
    * ADPCM recursive-CTE discipline applied across frames instead
    * of samples.
    */
  val mcvW = 8
  val mcvFrames = 4
  val mcvBlock = 4
  val mcvSearch = 2 // ±2 ⇒ 25 candidates, code c = (dy+2)*5 + (dx+2)

  /** One inter-frame step: exhaustive block motion search against the
    * previous reconstruction, residual quantization, reconstruction.
    * Returns (mv code per block, quantized residuals per (block,
    * pixel-in-block), reconstructed frame). Pixels are [0, 255] ints;
    * blocks scan row-major (b = (row/4)*2 + col/4), pixels-in-block
    * row-major (u = (row%4)*4 + col%4).
    *
    * Quantizer: q = floor((r + 4) / 8) computed as (r + 260)/8 − 32 —
    * the +260 bias keeps the dividend non-negative for every
    * r ∈ [−255, 255], where truncating (Scala `/`, DuckDB `//`) and
    * floor division coincide — clamped to [−15, 15] (5-bit).
    */
  def mcvStep(prev: Array[Int], cur: Array[Int])
      : (Array[Int], Array[Array[Int]], Array[Int]) = {
    val w = mcvW
    val nb = (w / mcvBlock) * (w / mcvBlock)
    val mvs = new Array[Int](nb)
    val qs = Array.ofDim[Int](nb, mcvBlock * mcvBlock)
    val rec = new Array[Int](w * w)
    var b = 0
    while (b < nb) {
      val bi = (b / (w / mcvBlock)) * mcvBlock
      val bj = (b % (w / mcvBlock)) * mcvBlock
      var bestC = 0
      var bestSad = Long.MaxValue
      var c = 0
      while (c < (2 * mcvSearch + 1) * (2 * mcvSearch + 1)) {
        val dy = c / (2 * mcvSearch + 1) - mcvSearch
        val dx = c % (2 * mcvSearch + 1) - mcvSearch
        var sad = 0L
        var u = 0
        while (u < mcvBlock * mcvBlock) {
          val row = bi + u / mcvBlock
          val col = bj + u % mcvBlock
          val pr = math.max(0, math.min(w - 1, row + dy))
          val pc = math.max(0, math.min(w - 1, col + dx))
          sad += math.abs(cur(row * w + col) - prev(pr * w + pc))
          u += 1
        }
        if (sad < bestSad) { bestSad = sad; bestC = c } // ties: lowest c
        c += 1
      }
      mvs(b) = bestC
      val dy = bestC / (2 * mcvSearch + 1) - mcvSearch
      val dx = bestC % (2 * mcvSearch + 1) - mcvSearch
      var u = 0
      while (u < mcvBlock * mcvBlock) {
        val row = bi + u / mcvBlock
        val col = bj + u % mcvBlock
        val pr = math.max(0, math.min(w - 1, row + dy))
        val pc = math.max(0, math.min(w - 1, col + dx))
        val pred = prev(pr * w + pc)
        val r = cur(row * w + col) - pred
        val q = math.max(-15, math.min(15, (r + 260) / 8 - 32))
        qs(b)(u) = q
        rec(row * w + col) = math.max(0, math.min(255, pred + 8 * q))
        u += 1
      }
      b += 1
    }
    (mvs, qs, rec)
  }

  /** Full encode pass over grayscale frames: frame 0 copied (intra),
    * each later frame [[mcvStep]]'d against the previous
    * reconstruction. Returns (per-inter-frame mv codes, per-inter-
    * frame quantized residuals, ALL reconstructed frames — index 0 is
    * the intra copy).
    */
  def mcvAnalyze(frames: Array[Array[Int]])
      : (Array[Array[Int]], Array[Array[Array[Int]]],
         Array[Array[Int]]) = {
    require(frames.nonEmpty && frames.forall(_.length == mcvW * mcvW),
      s"mcvAnalyze: frames must be ${mcvW}x$mcvW grayscale")
    val rec = new Array[Array[Int]](frames.length)
    rec(0) = frames(0).clone()
    val mvs = new Array[Array[Int]](frames.length - 1)
    val qs = new Array[Array[Array[Int]]](frames.length - 1)
    var f = 1
    while (f < frames.length) {
      val (mv, q, r) = mcvStep(rec(f - 1), frames(f))
      mvs(f - 1) = mv; qs(f - 1) = q; rec(f) = r
      f += 1
    }
    (mvs, qs, rec)
  }

  /** Container: "GMV1", u8 width, u8 height, u8 frame count, u8 block
    * size, frame 0 raw (w·h bytes), then per inter frame per block:
    * 1 mv-code byte + 16 residual bytes (q as signed int8). 4 frames
    * of 64 B raw (256 B) → 276 B container; the compression is the
    * point of the residual path, not the byte count at this toy size.
    */
  def encodeMcv(frames: Array[Array[Int]]): Array[Byte] = {
    val (mvs, qs, _) = mcvAnalyze(frames)
    val w = mcvW
    val nb = (w / mcvBlock) * (w / mcvBlock)
    val bpf = nb * (1 + mcvBlock * mcvBlock)
    val out = new Array[Byte](8 + w * w + (frames.length - 1) * bpf)
    "GMV1".zipWithIndex.foreach { case (ch, i) => out(i) = ch.toByte }
    out(4) = w.toByte; out(5) = w.toByte
    out(6) = frames.length.toByte; out(7) = mcvBlock.toByte
    var i = 0
    while (i < w * w) { out(8 + i) = frames(0)(i).toByte; i += 1 }
    var f = 0
    while (f < frames.length - 1) {
      var b = 0
      while (b < nb) {
        val off = 8 + w * w + f * bpf + b * (1 + mcvBlock * mcvBlock)
        out(off) = mvs(f)(b).toByte
        var u = 0
        while (u < mcvBlock * mcvBlock) {
          out(off + 1 + u) = qs(f)(b)(u).toByte
          u += 1
        }
        b += 1
      }
      f += 1
    }
    out
  }

  /** REAL parser + decoder for the [[encodeMcv]] container: validates
    * magic / dimensions / length, then runs the decoder recursion —
    * motion-compensated prediction from the previous reconstruction
    * plus the dequantized residual, the exact arithmetic of
    * [[mcvStep]]'s reconstruction half. Returns all frames.
    */
  def decodeMcv(bytes: Array[Byte]): Option[Array[Array[Int]]] = {
    if (bytes.length < 8 ||
      new String(bytes.slice(0, 4), "US-ASCII") != "GMV1") return None
    val w = bytes(4) & 0xff
    val h = bytes(5) & 0xff
    val nf = bytes(6) & 0xff
    val bs = bytes(7) & 0xff
    if (w != mcvW || h != mcvW || bs != mcvBlock || nf < 1) return None
    val nb = (w / bs) * (w / bs)
    val bpf = nb * (1 + bs * bs)
    if (bytes.length != 8 + w * w + (nf - 1) * bpf) return None
    val rec = new Array[Array[Int]](nf)
    rec(0) = Array.tabulate(w * w)(i => bytes(8 + i) & 0xff)
    var f = 1
    while (f < nf) {
      val prev = rec(f - 1)
      val out = new Array[Int](w * w)
      var b = 0
      while (b < nb) {
        val off = 8 + w * w + (f - 1) * bpf + b * (1 + bs * bs)
        val c = bytes(off) & 0xff
        val dy = c / (2 * mcvSearch + 1) - mcvSearch
        val dx = c % (2 * mcvSearch + 1) - mcvSearch
        val bi = (b / (w / bs)) * bs
        val bj = (b % (w / bs)) * bs
        var u = 0
        while (u < bs * bs) {
          val row = bi + u / bs
          val col = bj + u % bs
          val pr = math.max(0, math.min(w - 1, row + dy))
          val pc = math.max(0, math.min(w - 1, col + dx))
          val q = bytes(off + 1 + u).toInt // signed int8
          out(row * w + col) =
            math.max(0, math.min(255, prev(pr * w + pc) + 8 * q))
          u += 1
        }
        b += 1
      }
      rec(f) = out
      f += 1
    }
    Some(rec)
  }

  /** Motion-compensated codec pipeline: the doc's first 256
    * codepoints become four 8×8 GRAYSCALE frames (codepoint mod 256,
    * zero-padded — the raster rule every multimodal oracle shares),
    * encoded to the real [[encodeMcv]] container, decoded back with
    * the real [[decodeMcv]] recursion, features computed from the
    * DECODED reconstruction. `roundtrip_ok` pins decode∘encode
    * against the encoder's own reconstruction trace (the ADPCM
    * lockstep property — a codec whose decoder drifts from the
    * encoder's prediction loop is broken even if each half "works").
    * Row-local like every codec stage; the oracle replays the
    * encode recursion as three unrolled CTE steps.
    */
  def mcvPipeline(df: DataFrame, text: String, id: String)
      : DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val n = mcvFrames * mcvW * mcvW
    prefixes(df, text, id, n).map { case (docId, pfx) =>
      val v = codepointBytes(pfx, n)
      val frames = Array.tabulate(mcvFrames)(f =>
        Array.tabulate(mcvW * mcvW)(p => v(mcvW * mcvW * f + p)))
      val (mvs, qs, recTrace) = mcvAnalyze(frames)
      val bytes = encodeMcv(frames)
      val dec = decodeMcv(bytes).get
      var ss = 0L; var maxErr = 0L; var sumErr = 0L
      var mvCk = 0L; var qCk = 0L
      var f = 0
      while (f < mcvFrames) {
        var p = 0
        while (p < mcvW * mcvW) {
          val rv = dec(f)(p).toLong
          ss += rv * rv
          val e = math.abs(rv - frames(f)(p).toLong)
          if (e > maxErr) maxErr = e
          sumErr += e
          p += 1
        }
        f += 1
      }
      f = 0
      while (f < mcvFrames - 1) {
        var b = 0
        while (b < 4) {
          mvCk += mvs(f)(b).toLong * ((f + 1) * 4 + b + 1)
          var u = 0
          while (u < 16) {
            qCk += qs(f)(b)(u).toLong * ((f + 1) * 64 + b * 16 + u + 1)
            u += 1
          }
          b += 1
        }
        f += 1
      }
      val ok = dec.length == mcvFrames &&
        dec.indices.forall(i => java.util.Arrays.equals(dec(i),
          recTrace(i)))
      (docId, bytes.length.toLong, ss, maxErr, sumErr, mvCk, qCk, ok)
    }.toDF("doc_id", "n_bytes", "sumsq_recon", "max_abs_err",
      "sum_abs_err", "mv_checksum", "q_checksum", "roundtrip_ok")
  }

  /** Encode a frame sequence as a REAL minimal MJPEG-in-AVI file —
    * the compressed-video profile every camera/CCTV pipeline still
    * emits: RIFF 'AVI ' / LIST hdrl (avih + one 'vids' stream with
    * fccHandler 'MJPG' and a BITMAPINFOHEADER strf) / LIST movi with
    * one word-aligned '00dc' chunk holding a COMPLETE baseline JPEG
    * per frame ([[encodeJpeg]] — the real ImageIO codec, reused) /
    * 'idx1' index (one KEYFRAME entry per frame; every MJPEG frame
    * is independently decodable, which is exactly why the format
    * survives: random frame access is free). idx1 offsets follow the
    * common convention: relative to the start of the movi LIST data
    * (the 'movi' fourcc itself at offset 0).
    */
  def encodeMjpegAvi(frames: Seq[DecodedImage], fps: Int = 10)
      : Array[Byte] = {
    require(frames.nonEmpty, "encodeMjpegAvi: need at least one frame")
    val w = frames.head.width
    val h = frames.head.height
    require(frames.forall(f => f.width == w && f.height == h),
      "encodeMjpegAvi: frames must share dimensions")
    val jpgs = frames.map(encodeJpeg)
    def le32(v: Int): Array[Byte] =
      Array(v, v >> 8, v >> 16, v >> 24).map(x => (x & 0xff).toByte)
    def le16(v: Int): Array[Byte] =
      Array(v, v >> 8).map(x => (x & 0xff).toByte)
    def fcc(s: String): Array[Byte] = s.getBytes("US-ASCII")
    val avih = fcc("avih") ++ le32(56) ++
      le32(1000000 / fps) ++ le32(0) ++ le32(0) ++
      le32(0x10) /* AVIF_HASINDEX */ ++ le32(jpgs.length) ++
      le32(0) ++ le32(1) ++ le32(jpgs.map(_.length).max) ++
      le32(w) ++ le32(h) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0)
    val strh = fcc("strh") ++ le32(56) ++
      fcc("vids") ++ fcc("MJPG") ++ le32(0) ++ le16(0) ++ le16(0) ++
      le32(0) ++ le32(1) /* dwScale */ ++ le32(fps) /* dwRate */ ++
      le32(0) ++ le32(jpgs.length) ++ le32(jpgs.map(_.length).max) ++
      le32(-1) ++ le32(0) ++
      le16(0) ++ le16(0) ++ le16(w) ++ le16(h)
    val strf = fcc("strf") ++ le32(40) ++
      le32(40) ++ le32(w) ++ le32(h) ++ le16(1) ++ le16(24) ++
      fcc("MJPG") ++ le32(w * h * 3) ++
      le32(0) ++ le32(0) ++ le32(0) ++ le32(0)
    val strl = fcc("LIST") ++ le32(4 + strh.length + strf.length) ++
      fcc("strl") ++ strh ++ strf
    val hdrl = fcc("LIST") ++ le32(4 + avih.length + strl.length) ++
      fcc("hdrl") ++ avih ++ strl
    // movi chunks, word-aligned; record each chunk's offset relative
    // to the movi list data start ('movi' fourcc at offset 0)
    val moviBody = scala.collection.mutable.ArrayBuffer[Byte]()
    val offsets = scala.collection.mutable.ArrayBuffer[Int]()
    jpgs.foreach { j =>
      offsets += 4 + moviBody.length // after the 'movi' fourcc
      moviBody ++= fcc("00dc") ++ le32(j.length) ++ j
      if (j.length % 2 == 1) moviBody += 0 // RIFF word alignment
    }
    val movi = fcc("LIST") ++ le32(4 + moviBody.length) ++
      fcc("movi") ++ moviBody
    val idxBody = offsets.zip(jpgs).flatMap { case (off, j) =>
      fcc("00dc") ++ le32(0x10) /* AVIIF_KEYFRAME */ ++
        le32(off) ++ le32(j.length)
    }
    val idx1 = fcc("idx1") ++ le32(idxBody.length) ++ idxBody
    val body = fcc("AVI ") ++ hdrl ++ movi ++ idx1
    fcc("RIFF") ++ le32(body.length) ++ body
  }

  /** Parsed MJPEG-AVI header facts: (width, height, totalFrames,
    * handler fourcc, idx1 entry count). None when the RIFF/AVI
    * magics are absent — the dispatch contract of every decoder in
    * this file.
    */
  def mjpegHeader(bytes: Array[Byte])
      : Option[(Int, Int, Int, String, Int)] = {
    if (bytes == null || bytes.length < 64) return None
    def tag(off: Int): String =
      new String(bytes.slice(off, off + 4), "US-ASCII")
    def get32(off: Int): Int = (0 until 4).map(i =>
      (bytes(off + i) & 0xff) << (8 * i)).sum
    if (tag(0) != "RIFF" || tag(8) != "AVI ") return None
    // walk top-level chunks after 'AVI '
    var at = 12
    var totalFrames = -1; var w = -1; var h = -1
    var handler = ""; var idxCount = -1
    while (at + 8 <= bytes.length) {
      val t = tag(at); val sz = get32(at + 4)
      if (t == "LIST" && tag(at + 8) == "hdrl") {
        // avih directly follows the hdrl fourcc
        val avihAt = at + 12
        if (tag(avihAt) == "avih") {
          totalFrames = get32(avihAt + 8 + 16)
          w = get32(avihAt + 8 + 32); h = get32(avihAt + 8 + 36)
        }
        // strl list follows avih (8 header + 56 payload)
        val strlAt = avihAt + 8 + 56
        if (tag(strlAt) == "LIST" && tag(strlAt + 8) == "strl" &&
          tag(strlAt + 12) == "strh")
          handler = tag(strlAt + 12 + 8 + 4)
      } else if (t == "idx1") idxCount = sz / 16
      at += 8 + sz + (sz % 2)
    }
    if (totalFrames < 0 || idxCount < 0) None
    else Some((w, h, totalFrames, handler, idxCount))
  }

  /** Random-access MJPEG frame decode: locate the movi list and the
    * idx1 index, follow the requested entries' offsets to their
    * '00dc' chunks, and hand each complete JPEG payload to the REAL
    * [[decodeCompressed]] ImageIO path — the frame-seek shape of
    * video sampling, O(|requested|) decodes regardless of video
    * length.
    */
  def decodeMjpegFrames(bytes: Array[Byte], frames: Seq[Int])
      : Option[Seq[DecodedImage]] = {
    if (mjpegHeader(bytes).isEmpty) return None
    def tag(off: Int): String =
      new String(bytes.slice(off, off + 4), "US-ASCII")
    def get32(off: Int): Int = (0 until 4).map(i =>
      (bytes(off + i) & 0xff) << (8 * i)).sum
    var at = 12
    var moviData = -1; var idxAt = -1; var idxN = 0
    while (at + 8 <= bytes.length) {
      val t = tag(at); val sz = get32(at + 4)
      if (t == "LIST" && tag(at + 8) == "movi") moviData = at + 8
      else if (t == "idx1") { idxAt = at + 8; idxN = sz / 16 }
      at += 8 + sz + (sz % 2)
    }
    if (moviData < 0 || idxAt < 0) return None
    val out = frames.map { f =>
      if (f < 0 || f >= idxN) return None
      val off = get32(idxAt + 16 * f + 8)
      val chunkAt = moviData + off
      if (tag(chunkAt) != "00dc") return None
      val len = get32(chunkAt + 4)
      decodeCompressed(
        bytes.slice(chunkAt + 8, chunkAt + 8 + len)) match {
        case Some(img) => img
        case None => return None
      }
    }
    Some(out)
  }

  /** COMPRESSED-VIDEO pipeline, MJPEG profile (round-15): 3
    * codepoint-derived 8×8 frames → real per-frame JPEG inside a
    * real AVI container → header parse + idx1 random access on
    * frames 0 and 2 → channel-mean features of the SOURCE frames
    * (exact integer-derived doubles the oracle recomputes) plus the
    * container/lossy invariants as booleans. Row-local like every
    * codec stage — at 100 TB this is a narrow map over the binary
    * column, no shuffle.
    */
  def mjpegPipeline(df: DataFrame, text: String, id: String)
      : DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    prefixes(df, text, id, 576).map { case (docId, pfx) =>
      val v = codepointBytes(pfx, 576)
      val frames = Array.tabulate(3)(f =>
        DecodedImage(8, 8, rgbPixels(v, 192 * f)))
      val avi = encodeMjpegAvi(frames.toSeq)
      val hdr = mjpegHeader(avi)
      val dec = decodeMjpegFrames(avi, Seq(0, 2))
      val (r0, g0, b0) = channelMeans(frames(0))
      val (r2, _, _) = channelMeans(frames(2))
      val tol = 16.0
      val containerOk = hdr.exists { case (w, h, n, fourcc, idxN) =>
        w == 8 && h == 8 && n == 3 && fourcc == "MJPG" && idxN == 3 }
      val lossyOk = dec.exists { ds =>
        val (dr0, dg0, db0) = channelMeans(ds.head)
        val (dr2, _, _) = channelMeans(ds(1))
        math.abs(dr0 - r0) <= tol && math.abs(dg0 - g0) <= tol &&
          math.abs(db0 - b0) <= tol && math.abs(dr2 - r2) <= tol
      }
      (docId, 3L, 8, 8, r0, g0, b0, r2, containerOk, lossyOk)
    }.toDF("doc_id", "n_frames", "width", "height", "f0_mean_r",
      "f0_mean_g", "f0_mean_b", "f2_mean_r", "container_ok",
      "lossy_ok")
  }

  /** Frame/sample selection analogue: deterministic stride sampling —
    * every `stride`-th codepoint of the source content as a small
    * fixed-width preview array (the shape of video frame-sampling,
    * minus the codec). Null-safe: positions past the end yield 0.
    */
  def sampleExpr(textCol: String, stride: Int, take: Int) =
    expr(s"""transform(sequence(0, ${take - 1}),
             i -> CASE WHEN i * $stride + 1 <= length($textCol)
                  THEN ascii(substring($textCol, i * $stride + 1, 1))
                  ELSE 0 END)""")
}
