package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column conventions: media as opaque `binary` columns with a
  * typed metadata struct alongside, plus the Spark-side plumbing for
  * per-partition decode/feature-extraction.
  *
  * Everything here is REAL: [[decodeImageHeader]] parses PNG/JPEG/GIF
  * container bytes (signatures, chunk/marker framing, dimension fields)
  * with no codec dependency; [[packImageHeader]] builds spec-valid bytes
  * for the reverse direction; and the pixel paths — [[extractFeatures]]
  * (decoded luminance histograms), [[resizeImages]] (decode →
  * nearest-neighbor rescale → re-encode), [[sampleFrames]] (animated-GIF
  * frame decode) — run the JDK's own `javax.imageio` codecs (PNG/JPEG/GIF,
  * headless-safe, deterministic). The schema convention, binary packing,
  * and `mapPartitions` batch shape (streamed rows, no collect, decode
  * map-side where the bytes live) are the 100 TB plumbing.
  */
object Multimodal {

  case class MediaRow(id: Long, media_type: String, n_bytes: Long,
      sha256: String, payload: Array[Byte])
  /** REAL decoded features: dims + normalized luminance histogram; None
    * fields degrade gracefully (pixels undecodable → header dims only;
    * unparseable → all null). */
  case class PixelFeatures(id: Long, width: Option[Int],
      height: Option[Int], features: Option[Array[Float]])
  /** Resize output: `resized = false` marks payloads the codecs couldn't
    * decode (payload passes through unchanged — never silently dropped). */
  case class ResizedRow(id: Long, media_type: String, n_bytes: Long,
      sha256: String, payload: Array[Byte], resized: Boolean)
  /** One sampled (every `stride`-th) frame of an animated GIF:
    * `n_frames` is the REAL container frame count, `frame_bin` the
    * argmax luminance-histogram bin of the decoded frame raster. */
  case class SampledFrame(id: Long, frame_idx: Long, n_frames: Long,
      frame_bin: Int)
  /** A parsed image-container header: canonical format tag + pixel dims. */
  case class ImageHeader(format: String, width: Int, height: Int)
  case class DecodedHeader(id: Long, format: Option[String],
      width: Option[Int], height: Option[Int])

  /** Pack a text column as a media payload: binary bytes + typed metadata.
    * (Stands in for image/audio ingestion; same schema convention.) */
  def pack(df: DataFrame, idCol: String, payloadCol: String,
      mediaType: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("id"),
      lit(mediaType).as("media_type"),
      octet_length(encode(col(payloadCol), "utf-8")).cast("long").as("n_bytes"),
      sha2(encode(col(payloadCol), "utf-8"), 256).as("sha256"),
      encode(col(payloadCol), "utf-8").as("payload"))

  // ---- real image-container header parsing (public formats, pure
  //      byte-work, no codec dependency) --------------------------------

  private def be16(p: Array[Byte], i: Int): Int =
    ((p(i) & 0xFF) << 8) | (p(i + 1) & 0xFF)
  private def be32(p: Array[Byte], i: Int): Long =
    ((p(i) & 0xFFL) << 24) | ((p(i + 1) & 0xFFL) << 16) |
      ((p(i + 2) & 0xFFL) << 8) | (p(i + 3) & 0xFFL)
  private def le16(p: Array[Byte], i: Int): Int =
    (p(i) & 0xFF) | ((p(i + 1) & 0xFF) << 8)

  private val PngSig =
    Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)

  /** REAL header decode for the three classic raster containers — the
    * dimensions a curation pipeline filters/buckets on, parsed from the
    * bytes themselves (no codec, no library):
    *
    *   - PNG: 8-byte signature, then the mandatory first chunk must be
    *     IHDR — width/height are the two big-endian u32s at offsets
    *     16/20 (PNG spec, W3C).
    *   - JPEG: SOI marker then a marker-segment walk (each segment
    *     `FF mm len_hi len_lo payload…`) until a frame header SOFn
    *     (C0–CF minus C4/C8/CC which are DHT/JPG/DAC) — height/width
    *     are the big-endian u16s at segment offsets 3/5 (ITU T.81
    *     §B.2.2). Fill bytes (repeated FF) and standalone markers
    *     (TEM/RSTn) are skipped; hitting SOS or EOI first fails.
    *   - GIF: "GIF87a"/"GIF89a", then the logical-screen-descriptor
    *     little-endian u16 pair at offsets 6/8.
    *
    * Returns None for anything unparseable (truncated, not an image,
    * zero dims) — callers surface that as a null row, never a crash. */
  def decodeImageHeader(p: Array[Byte]): Option[ImageHeader] = {
    def ok(f: String, w: Long, h: Long): Option[ImageHeader] =
      if (w > 0 && h > 0 && w <= Int.MaxValue && h <= Int.MaxValue)
        Some(ImageHeader(f, w.toInt, h.toInt))
      else None
    if (p.length >= 24 && p.take(8).sameElements(PngSig) &&
        (12 until 16).map(i => p(i).toChar).mkString == "IHDR")
      ok("png", be32(p, 16), be32(p, 20))
    else if (p.length >= 10 &&
        (0 until 6).map(i => p(i).toChar).mkString.matches("GIF8[79]a"))
      ok("gif", le16(p, 6), le16(p, 8))
    else if (p.length >= 4 && (p(0) & 0xFF) == 0xFF && (p(1) & 0xFF) == 0xD8)
      jpegDims(p).flatMap { case (w, h) => ok("jpeg", w, h) }
    else None
  }

  private def jpegDims(p: Array[Byte]): Option[(Int, Int)] = {
    var i = 2
    while (i + 1 < p.length) {
      if ((p(i) & 0xFF) != 0xFF) return None // lost marker sync
      var j = i
      while (j + 1 < p.length && (p(j + 1) & 0xFF) == 0xFF) j += 1 // fill
      if (j + 1 >= p.length) return None
      val m = p(j + 1) & 0xFF
      if (m == 0xD8 || m == 0x01 || (m >= 0xD0 && m <= 0xD7)) i = j + 2
      else if (m == 0xD9 || m == 0xDA) return None // EOI/SOS before SOF
      else {
        if (j + 3 >= p.length) return None
        val len = be16(p, j + 2)
        if (len < 2) return None
        val isSof = m >= 0xC0 && m <= 0xCF && m != 0xC4 && m != 0xC8 && m != 0xCC
        if (isSof) {
          if (j + 8 >= p.length) return None
          return Some((be16(p, j + 7), be16(p, j + 5))) // (width, height)
        }
        i = j + 2 + len
      }
    }
    None
  }

  private def pngChunk(typ: String, data: Array[Byte]): Array[Byte] = {
    val tb = typ.getBytes("US-ASCII")
    val bb = java.nio.ByteBuffer.allocate(12 + data.length)
    bb.putInt(data.length).put(tb).put(data)
    val crc = new java.util.zip.CRC32
    crc.update(tb); crc.update(data)
    bb.putInt(crc.getValue.toInt)
    bb.array()
  }

  /** Build REAL (spec-valid, CRC-correct) container bytes for a given
    * format + dimensions — the ingestion-side twin of
    * [[decodeImageHeader]], used to turn tabular fixtures into genuine
    * binary payloads. PNG carries a proper IHDR+IEND chunk pair; JPEG
    * carries JFIF APP0, a comment segment, and a baseline SOF0 (so the
    * decoder's marker walk is actually exercised); GIF is an 87a
    * logical-screen descriptor. Pixel data is irrelevant to header
    * decode and omitted. */
  def packImageHeader(format: String, width: Int, height: Int): Array[Byte] = {
    require(width > 0 && height > 0, s"bad dims ${width}x$height")
    format match {
      case "png" =>
        val ihdr = java.nio.ByteBuffer.allocate(13)
          .putInt(width).putInt(height)
          .put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
        PngSig ++ pngChunk("IHDR", ihdr.array()) ++
          pngChunk("IEND", Array.emptyByteArray)
      case "jpeg" =>
        require(width <= 0xFFFF && height <= 0xFFFF, "JPEG dims are u16")
        val app0 = Array[Int](0xFF, 0xE0, 0, 16, 'J', 'F', 'I', 'F', 0,
          1, 1, 0, 0, 1, 0, 1, 0, 0)
        val com = Array[Int](0xFF, 0xFE, 0, 7) ++ "graft".map(_.toInt)
        val sof0 = Array[Int](0xFF, 0xC0, 0, 11, 8,
          height >> 8, height & 0xFF, width >> 8, width & 0xFF,
          1, 1, 0x11, 0)
        (Array(0xFF, 0xD8) ++ app0 ++ com ++ sof0 ++ Array(0xFF, 0xD9))
          .map(_.toByte)
      case "gif" =>
        require(width <= 0xFFFF && height <= 0xFFFF, "GIF dims are u16")
        "GIF87a".getBytes("US-ASCII") ++ Array[Int](
          width & 0xFF, width >> 8, height & 0xFF, height >> 8,
          0, 0, 0, 0x3B).map(_.toByte)
      case other => throw new IllegalArgumentException(
        s"unknown format '$other' (png|jpeg|gif)")
    }
  }

  /** Distributed ingestion twin: build real container bytes row-by-row
    * from (id, format, width, height) columns into the standard packed
    * MediaRow frame — map-side only, no shuffle; sha256/n_bytes computed
    * from the actual payload bytes. */
  def packImages(spark: SparkSession, df: DataFrame, idCol: String,
      formatCol: String, widthCol: String, heightCol: String): Dataset[MediaRow] = {
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(formatCol),
        col(widthCol).cast("int"), col(heightCol).cast("int"))
      .as[(Long, String, Int, Int)]
      .map { case (id, fmt, w, h) =>
        val payload = packImageHeader(fmt, w, h)
        val sha = java.security.MessageDigest.getInstance("SHA-256")
          .digest(payload).map("%02x".format(_)).mkString
        MediaRow(id, s"image/$fmt", payload.length.toLong, sha, payload)
      }
  }

  /** Distributed header decode over packed media rows: (id, format,
    * width, height), nulls where the payload isn't a parseable image.
    * Same per-partition batch shape as [[extractFeatures]] — one scan,
    * no shuffle, decode runs map-side where the bytes live. */
  def decodeHeaders(spark: SparkSession, packed: DataFrame): Dataset[DecodedHeader] = {
    import spark.implicits._
    packed.select(col("id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          decodeImageHeader(payload) match {
            case Some(h) => DecodedHeader(id, Some(h.format), Some(h.width),
              Some(h.height))
            case None => DecodedHeader(id, None, None, None)
          }
        }
      }
  }

  // ---- REAL pixel codec (javax.imageio — in-JDK, headless-safe) -------

  /** One-time per-JVM: disable ImageIO's disk-backed stream cache so
    * every encode/decode stays in memory (a temp-file write per image
    * would dominate the cost at scale). */
  private lazy val imageIoInit: Unit =
    javax.imageio.ImageIO.setUseCache(false)

  /** Render a deterministic two-band grayscale fixture image: rows
    * `[0, h/2)` at gray `gTop`, rows `[h/2, h)` at gray `gBot`
    * (`gTop == gBot` gives a constant image — the pattern that survives
    * lossy JPEG and any resampling exactly). Grayscale means the Rec.601
    * luma of every pixel IS its gray value, so the oracle can predict
    * [[luminanceHistogram]] with integer arithmetic. */
  def renderGrayBands(fmt: String, w: Int, h: Int, gTop: Int,
      gBot: Int): Array[Byte] = {
    require(w > 0 && h > 0, s"bad dims ${w}x$h")
    require(gTop >= 0 && gTop <= 255 && gBot >= 0 && gBot <= 255,
      s"gray out of range: $gTop/$gBot")
    encodeImage(grayBandsRaster(w, h, gTop, gBot), fmt)
  }

  /** Bulk-filled two-band raster (one setRGB call — the per-pixel call
    * pays a ColorModel conversion each time). */
  private def grayBandsRaster(w: Int, h: Int, gTop: Int,
      gBot: Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val px = new Array[Int](w * h)
    val top = (gTop << 16) | (gTop << 8) | gTop
    val bot = (gBot << 16) | (gBot << 8) | gBot
    val split = (h / 2) * w
    java.util.Arrays.fill(px, 0, split, top)
    java.util.Arrays.fill(px, split, w * h, bot)
    img.setRGB(0, 0, w, h, px, 0, w)
    img
  }

  /** Encode a raster via the JDK's ImageIO writers (png/jpeg/gif ship in
    * JDK 17; writes are deterministic — probe-verified byte-identical
    * across calls). */
  def encodeImage(img: java.awt.image.BufferedImage,
      fmt: String): Array[Byte] = {
    imageIoInit
    val bos = new java.io.ByteArrayOutputStream()
    val ok = javax.imageio.ImageIO.write(img, fmt, bos)
    require(ok, s"no ImageIO writer for format '$fmt' (png|jpeg|gif)")
    bos.toByteArray
  }

  /** REAL pixel decode: ImageIO over the payload bytes. None for
    * anything the JDK codecs can't parse (truncated, header-only, not an
    * image) — callers surface that as nulls, never a crash. */
  def decodeImage(payload: Array[Byte]): Option[java.awt.image.BufferedImage] = {
    imageIoInit
    try Option(javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(payload)))
    catch { case _: Exception => None }
  }

  /** Integer Rec.601 luma histogram over decoded pixels: bin =
    * `luma / (256/bins)` with luma `(299R + 587G + 114B) / 1000` — exact
    * `v` for gray pixels `R=G=B=v`, so fixture histograms are
    * oracle-predictable. */
  def luminanceHistogram(img: java.awt.image.BufferedImage,
      bins: Int = 8): Array[Long] = {
    require(bins > 0 && 256 % bins == 0, "bins must divide 256")
    val width = 256 / bins
    val c = new Array[Long](bins)
    val w = img.getWidth
    val px = img.getRGB(0, 0, w, img.getHeight, null, 0, w) // one bulk read
    var i = 0
    while (i < px.length) {
      val rgb = px(i)
      val lum = (299 * ((rgb >> 16) & 0xFF) + 587 * ((rgb >> 8) & 0xFF) +
        114 * (rgb & 0xFF)) / 1000
      c(math.min(bins - 1, lum / width)) += 1
      i += 1
    }
    c
  }

  /** Distributed pixel-image ingestion: (id, format, w, h, gTop, gBot)
    * spec rows → REAL encoded rasters in the standard MediaRow frame.
    * Map-side only, no shuffle; sha256/n_bytes from the actual bytes. */
  def packPixelImages(spark: SparkSession, df: DataFrame, idCol: String,
      formatCol: String, widthCol: String, heightCol: String,
      gTopCol: String, gBotCol: String): Dataset[MediaRow] = {
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(formatCol),
        col(widthCol).cast("int"), col(heightCol).cast("int"),
        col(gTopCol).cast("int"), col(gBotCol).cast("int"))
      .as[(Long, String, Int, Int, Int, Int)]
      .map { case (id, fmt, w, h, gT, gB) =>
        val payload = renderGrayBands(fmt, w, h, gT, gB)
        val sha = java.security.MessageDigest.getInstance("SHA-256")
          .digest(payload).map("%02x".format(_)).mkString
        MediaRow(id, s"image/$fmt", payload.length.toLong, sha, payload)
      }
  }

  /** Per-partition REAL feature extraction over packed media rows: decode
    * via the JDK codecs, emit decoded dims + the `bins`-bin normalized
    * luminance histogram as the feature vector. Payloads whose pixels
    * don't decode fall back to the container-header parse for dims
    * (features null); fully unparseable payloads yield an all-null row.
    * Rows stream through one partition at a time — no shuffle, no
    * partition materialization; per-partition init (ImageIO cache-off)
    * happens once per JVM. */
  def extractFeatures(spark: SparkSession, packed: DataFrame,
      bins: Int = 8): Dataset[PixelFeatures] = {
    import spark.implicits._
    packed.select(col("id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          decodeImage(payload) match {
            case Some(img) =>
              val hist = luminanceHistogram(img, bins)
              val total = math.max(1L, hist.sum)
              PixelFeatures(id, Some(img.getWidth), Some(img.getHeight),
                Some(hist.map(c => (c.toDouble / total).toFloat)))
            case None => decodeImageHeader(payload) match {
              case Some(h) => PixelFeatures(id, Some(h.width),
                Some(h.height), None)
              case None => PixelFeatures(id, None, None, None)
            }
          }
        }
      }
  }

  /** REAL resize: decode → nearest-neighbor rescale to
    * (targetW, targetH) → re-encode in the payload's own container
    * format. Nearest-neighbor (pinned via RenderingHints) introduces no
    * new colors, so a fixture image's palette — and its luminance-bin
    * support — survives the rescale, which is what the oracle checks.
    * Undecodable payloads pass through unchanged with `resized = false`
    * (no silent drop). Map-side projection over the binary — no shuffle. */
  def resizeImages(spark: SparkSession, packed: DataFrame, targetW: Int,
      targetH: Int): Dataset[ResizedRow] = {
    require(targetW > 0 && targetH > 0, s"bad target ${targetW}x$targetH")
    import spark.implicits._
    packed.select(col("id"), col("media_type"), col("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, mt, payload) =>
          val out = decodeImage(payload).flatMap { img =>
            // re-encode in the format the bytes themselves declare
            decodeImageHeader(payload).map { hdr =>
              val dst = new java.awt.image.BufferedImage(targetW, targetH,
                java.awt.image.BufferedImage.TYPE_INT_RGB)
              val g2 = dst.createGraphics()
              try {
                g2.setRenderingHint(
                  java.awt.RenderingHints.KEY_INTERPOLATION,
                  java.awt.RenderingHints.VALUE_INTERPOLATION_NEAREST_NEIGHBOR)
                g2.drawImage(img, 0, 0, targetW, targetH, null)
              } finally g2.dispose()
              encodeImage(dst, hdr.format)
            }
          }
          val (bytes, resized) = out match {
            case Some(b) => (b, true)
            case None => (payload, false)
          }
          val sha = java.security.MessageDigest.getInstance("SHA-256")
            .digest(bytes).map("%02x".format(_)).mkString
          val tag = if (resized) s";resized=${targetW}x$targetH" else ""
          ResizedRow(id, mt + tag, bytes.length.toLong, sha, bytes, resized)
        }
      }
  }

  /** Payload near-duplicates: byte-block SimHash over the packed binary,
    * grouped per media_type — the multimodal twin of the x18 text
    * near-dup machinery ([[Dedup.simhashNearDups]]). Features are
    * OVERLAPPING `blockBytes`-byte windows of the payload (sliding by one
    * byte, as hex strings), so the signature survives insertions/shifts
    * the way text shingles do; the 64-bit signature and the pigeonhole
    * band join are exactly the x18 design — radius < bands guarantees
    * the banded result equals the all-pairs scan. NO codec stub in this
    * path: byte-block hashing is the real production algorithm for
    * near-identical binary payloads (re-encodes/crops need
    * decoded-feature ANN — [[extractFeatures]] + Similarity — instead).
    *
    * Scale shape: signatures are one per-row expression pass (the md5s
    * are the cost, ~n_bytes per row); candidates ride an id-only
    * (media_type, band, key) join — 16-bit band keys keep volume
    * ~n²/65536 per band within a media_type; the exact Hamming verify is
    * codegen'd integer xor/bit_count. Payloads shorter than `blockBytes`
    * carry no block evidence and are excluded (document-level exact dedup
    * already covers them via sha256).
    *
    * Returns (media_type, id_a, id_b, hamming), id_a < id_b. */
  def payloadNearDups(packed: DataFrame, radius: Int = 3, bands: Int = 4,
      blockBytes: Int = 4): DataFrame = {
    require(radius < bands, "pigeonhole needs radius < bands")
    require(64 % bands == 0, "bands must divide 64")
    require(blockBytes > 0, "blockBytes must be positive")
    val bandLen = 64 / bands
    // persisted: the band join reads this relation on BOTH sides, and the
    // signature pass (one md5 per distinct block — the dominant cost) must
    // not run twice. id+sig rows only, so residency is tiny; same
    // documented cache-residency trade as LmScore.bigramNll. The
    // signature itself is the native one-pass expression (bit-compatible
    // with simhash64Native over hex-window tokens — MultimodalSpec
    // asserts the equality — but skips materializing the hex string and
    // the per-row block array).
    val sigs = CacheScope.persist(
      packed.filter(col("n_bytes") >= blockBytes)
        .select(col("media_type"), col("id"),
          graft.expressions.TextExpressions
            .byteBlockSimhash64(col("payload"), blockBytes).as("sig"))
        .withColumn("hi", conv(substring(col("sig"), 1, 32), 2, 10).cast("long"))
        .withColumn("lo", conv(substring(col("sig"), 33, 32), 2, 10).cast("long")))
    val banded = sigs.select(col("media_type"), col("id"), col("hi"), col("lo"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          substring(col("sig"), b * bandLen + 1, bandLen).as("key"))): _*))
        .as("bk"))
      .select(col("media_type"), col("id"), col("hi"), col("lo"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    banded.select(col("media_type"), col("id").as("id_a"),
        col("hi").as("ha"), col("lo").as("la"), col("band"), col("key"))
      .join(banded.select(col("media_type"), col("id").as("id_b"),
        col("hi").as("hb"), col("lo").as("lb"), col("band"), col("key")),
        Seq("media_type", "band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("media_type"), col("id_a"), col("id_b"),
        (bit_count(expr("ha ^ hb")) + bit_count(expr("la ^ lb")))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= radius)
      .dropDuplicates("media_type", "id_a", "id_b")
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** gray(pat, x, y) = first 32 bits of md5("pat:x:y") mod 200 + cBase —
    * the engine-neutral noise pixel (cBase <= 55, so no 8-bit wrap: a +k
    * brightness shift moves every pixel by exactly k). High-entropy by
    * construction — a perceptual hash over a smooth synthetic gradient
    * degenerates (most images share the "bright half" bit pattern, and
    * the near-dup graph goes quadratic; measured 9.9k pairs vs the 50
    * planted ones), while md5 noise makes unrelated hashes uncorrelated. */
  def noiseGray(pat: Long, x: Int, y: Int, cBase: Int): Int = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(s"$pat:$x:$y"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val u = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    (u % 200).toInt + cBase
  }

  /** Deterministic noise raster over [[noiseGray]]. */
  def renderNoisePattern(pat: Long, w: Int, h: Int,
      cBase: Int): java.awt.image.BufferedImage = {
    require(w > 0 && h > 0, s"bad dims ${w}x$h")
    require(cBase >= 0 && cBase <= 55, s"cBase out of range: $cBase")
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val g = noiseGray(pat, x, y, cBase)
        px(y * w + x) = (g << 16) | (g << 8) | g
        x += 1
      }
      y += 1
    }
    img.setRGB(0, 0, w, h, px, 0, w)
    img
  }

  /** Distributed noise-image ingestion: (id, pattern seed, w, h, cBase)
    * spec rows → REAL PNG payloads (lossless, so decoded pixels equal
    * the md5 formula and an oracle can predict the perceptual hash
    * exactly). Map-side only, no shuffle. */
  def packNoiseImages(spark: SparkSession, df: DataFrame, idCol: String,
      patCol: String, widthCol: String, heightCol: String,
      cCol: String): Dataset[MediaRow] = {
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(patCol).cast("long"),
        col(widthCol).cast("int"), col(heightCol).cast("int"),
        col(cCol).cast("int"))
      .as[(Long, Long, Int, Int, Int)]
      .map { case (id, pat, w, h, cb) =>
        val payload = encodeImage(renderNoisePattern(pat, w, h, cb), "png")
        val sha = java.security.MessageDigest.getInstance("SHA-256")
          .digest(payload).map("%02x".format(_)).mkString
        MediaRow(id, "image/png", payload.length.toLong, sha, payload)
      }
  }

  /** One row of [[perceptualHash]]: decoded dims + the grid²-bit aHash
    * as a '0'/'1' string; nulls when the pixels don't decode. */
  case class PHashRow(id: Long, width: Option[Int], height: Option[Int],
      phash: Option[String])

  /** REAL perceptual hashing over decoded pixels — average hash (aHash),
    * the classic near-duplicate-image signature: nearest-neighbor
    * downsample to a grid×grid luma raster (source pixel (x·w/g, y·h/g),
    * integer division — deterministic and oracle-replicable, no
    * area-averaging codec variance), then bit_i = luma_i·grid² > Σ luma
    * (strictly above the mean, integer-exact). Invariant to uniform
    * brightness shifts (every luma moves with the mean) and to rescaling
    * that preserves the NN samples — the two perturbations byte-level
    * signatures ([[payloadNearDups]]) are blind to, because re-encoding
    * changes every compressed byte. Map-side mapPartitions over the
    * payload binary, no shuffle. */
  def perceptualHash(spark: SparkSession, packed: DataFrame,
      grid: Int = 8): Dataset[PHashRow] = {
    require(grid >= 2 && grid * grid <= 256, "grid must be in [2, 16]")
    import spark.implicits._
    packed.select(col("id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          decodeImage(payload) match {
            case Some(img) =>
              val w = img.getWidth; val h = img.getHeight
              val px = img.getRGB(0, 0, w, h, null, 0, w)
              val d = new Array[Long](grid * grid)
              var sum = 0L
              var y = 0
              while (y < grid) {
                var x = 0
                while (x < grid) {
                  val rgb = px((y * h / grid) * w + (x * w / grid))
                  val lum = (299 * ((rgb >> 16) & 0xFF) +
                    587 * ((rgb >> 8) & 0xFF) + 114 * (rgb & 0xFF)) / 1000
                  d(y * grid + x) = lum; sum += lum
                  x += 1
                }
                y += 1
              }
              val n = (grid * grid).toLong
              val bits = new StringBuilder(grid * grid)
              d.foreach(v => bits.append(if (v * n > sum) '1' else '0'))
              PHashRow(id, Some(w), Some(h), Some(bits.toString))
            case None => PHashRow(id, None, None, None)
          }
        }
      }
  }

  /** Perceptual near-duplicate pairs over [[perceptualHash]] output:
    * pigeonhole band join (Hamming <= radius over bands > radius bands
    * forces an identical band — the x18/payloadNearDups scheme), then
    * exact per-bit verification on the candidate pairs. The bit strings
    * stay strings end to end — no conv() to long, whose unsigned parse
    * nulls out hashes with the top bit set. */
  def perceptualNearDups(hashes: DataFrame, radius: Int = 3,
      bands: Int = 4): DataFrame = {
    require(radius < bands, "pigeonhole needs radius < bands")
    val h = CacheScope.persist(
      hashes.filter(col("phash").isNotNull)
        .select(col("id"), col("phash")))
    val probe = h.select(length(col("phash"))).take(1)
    if (probe.isEmpty)   // nothing decodable: empty pairs, stable schema
      return h.select(col("id").as("id_a"), col("id").as("id_b"),
        lit(0L).as("hamming")).limit(0)
    val bitLen = probe(0).getInt(0)
    require(bitLen % bands == 0, s"bands must divide hash length $bitLen")
    val bandLen = bitLen / bands
    val banded = h.select(col("id"), col("phash"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          substring(col("phash"), b * bandLen + 1, bandLen).as("key"))): _*))
        .as("bk"))
      .select(col("id"), col("phash"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    val diff = size(filter(sequence(lit(0), lit(bitLen - 1)),
      i => col("ha").substr(i + 1, lit(1)) =!= col("hb").substr(i + 1, lit(1))))
    banded.select(col("id").as("id_a"), col("phash").as("ha"),
        col("band"), col("key"))
      .join(banded.select(col("id").as("id_b"), col("phash").as("hb"),
        col("band"), col("key")), Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), diff.cast("long").as("hamming"))
      .filter(col("hamming") <= radius)
      .dropDuplicates("id_a", "id_b")
  }

  /** Distributed multi-frame GIF ingestion (the video stand-in whose
    * codec genuinely ships in the JDK): per spec row, write a REAL
    * animated GIF of `nFrames` full-size constant-gray frames — frame i
    * at gray `(gBase + i * gStep) mod 256` — via the ImageIO sequence
    * writer. Map-side only; sha256/n_bytes from the actual bytes. */
  def packAnimatedGifs(spark: SparkSession, df: DataFrame, idCol: String,
      widthCol: String, heightCol: String, nFramesCol: String,
      gBaseCol: String, gStepCol: String): Dataset[MediaRow] = {
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(widthCol).cast("int"),
        col(heightCol).cast("int"), col(nFramesCol).cast("int"),
        col(gBaseCol).cast("int"), col(gStepCol).cast("int"))
      .as[(Long, Int, Int, Int, Int, Int)]
      .map { case (id, w, h, n, gBase, gStep) =>
        require(n > 0, s"need at least one frame, got $n (id=$id)")
        imageIoInit
        val bos = new java.io.ByteArrayOutputStream()
        val writer =
          javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
        val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
        try {
          writer.setOutput(ios)
          writer.prepareWriteSequence(null)
          var i = 0
          while (i < n) {
            val g = java.lang.Math.floorMod(gBase + i * gStep, 256)
            writer.writeToSequence(
              new javax.imageio.IIOImage(grayBandsRaster(w, h, g, g),
                null, null), null)
            i += 1
          }
          writer.endWriteSequence()
          ios.flush()
        } finally { writer.dispose(); ios.close() }
        val payload = bos.toByteArray
        val sha = java.security.MessageDigest.getInstance("SHA-256")
          .digest(payload).map("%02x".format(_)).mkString
        MediaRow(id, "image/gif", payload.length.toLong, sha, payload)
      }
  }

  /** REAL frame sampling over animated GIFs: decode the container with
    * the JDK GIF reader, keep every `stride`-th frame, emit the decoded
    * frame's argmax luminance bin plus the container's REAL total frame
    * count. One input row streams out its sampled-frame rows inside
    * `mapPartitions` (flatMap shape — frame order preserved by
    * construction); non-GIF / undecodable payloads contribute no rows by
    * the same None-degradation convention as [[decodeHeaders]]. */
  def sampleFrames(spark: SparkSession, packed: DataFrame,
      stride: Int): Dataset[SampledFrame] = {
    require(stride > 0, "stride must be positive")
    import spark.implicits._
    packed.select(col("id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          imageIoInit
          val reader =
            javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
          try {
            reader.setInput(new javax.imageio.stream.MemoryCacheImageInputStream(
              new java.io.ByteArrayInputStream(payload)))
            val n = reader.getNumImages(true)
            (0 until n by stride).map { i =>
              val hist = luminanceHistogram(reader.read(i))
              val bin = hist.indexOf(hist.max) // ties → lowest bin
              SampledFrame(id, i.toLong, n.toLong, bin)
            }
          } catch {
            case _: Exception => Seq.empty[SampledFrame]
          } finally reader.dispose()
        }
      }
  }
}
