package graft.llm

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column handling: image/audio/video as opaque `binary`
  * columns with typed metadata, plus decode / feature-extract plumbing.
  *
  * Every default decode path is REAL with zero external dependencies:
  * IMAGE via the JDK's ImageIO (PNG/JPEG/BMP/GIF — `decodeImage`,
  * also `decodeFeatures`' default), AUDIO via pure byte arithmetic
  * over RIFF/PCM (`decodeWav`), VIDEO via the RIFF/AVI walker +
  * per-frame ImageIO (`decodeVideoFrames`). A deterministic stub
  * decoder survives only as an explicit TEST SEAM (`stubDecode`, never
  * a default) for formats with no in-JVM codec; its `stub:*`
  * provenance marks its rows. The Spark-side contract everywhere:
  * schema, batched per-partition execution (the Scala analog of
  * `mapInPandas`: one iterator pass per partition, no per-row task
  * overhead, no driver collect), partition sizing.
  */
object Multimodal {

  /** Attach a binary payload column + extracted metadata. In production
    * the payload arrives from parquet/binaryFile sources; here text bytes
    * stand in. Metadata extraction is expression-only (codegen'd).
    */
  def withBinaryMetadata(df: DataFrame, payloadCol: String): DataFrame = {
    val blob = encode(col(payloadCol), "UTF-8")
    df.withColumn("payload", blob)
      .withColumn("byte_len", length(blob).cast("long"))
      .withColumn("content_sha", sha2(blob, 256))
      // magic-byte sniffing pattern (real formats: 89504E47=PNG etc.)
      .withColumn("format_tag", hex(substring(blob, 1, 2)))
  }

  val FeatureDim = 16

  /** Batched "decode + feature extract" over binary payloads — the
    * mapInPandas-shaped pass, with a PLUGGABLE decoder. The DEFAULT
    * decoder is the REAL JDK ImageIO path ([[imageIoDecode]]:
    * PNG/JPEG/BMP/GIF → 4×4 mean-pooled luminance, the same proven
    * kernel as `decodeImageFeatures`); payloads ImageIO cannot decode
    * yield null features (corrupt-is-data). A stub decoder
    * ([[stubDecode]]) remains available as an explicit test seam for
    * formats with no in-JVM codec. The decoder's NAME travels in every
    * output row's `decoder` column: a 100 TB run downstream can always
    * tell — and filter on — whether features came from `imageio:*` or
    * `stub:*`, instead of stub features silently impersonating real
    * ones.
    */
  def decodeFeatures(df: DataFrame, idCol: String,
                     decoderName: String = ImageIoDecoderName,
                     decoder: Array[Byte] => Array[Float] = imageIoDecode)
      : DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("byte_len", LongType),
      StructField("decoder", StringType),
      StructField("features", ArrayType(FloatType))))
    val in = df.select(col(idCol).cast("long").as("id"), col("payload"))
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    in.mapPartitions { rows =>
      // One pass per partition; in production this is where a native
      // decoder batch-processes the payloads.
      rows.map { r =>
        val id = r.getLong(0)
        val payload = r.getAs[Array[Byte]](1)
        Row(id, payload.length.toLong, decoderName, decoder(payload))
      }
    }(encoder)
  }

  /** Name carried by [[decodeFeatures]]' default (real) decoder. */
  val ImageIoDecoderName = "imageio:gray-pool16"

  /** REAL default decoder for [[decodeFeatures]]: JDK ImageIO decode +
    * 4×4 mean-pooled luminance (16 floats, [[decodeImage]]'s kernel).
    * Null on undecodable payloads — corrupt blobs are data, not
    * exceptions.
    */
  def imageIoDecode(payload: Array[Byte]): Array[Float] =
    decodeImage(payload, 4).map(_._4).orNull

  /** Name carried by the [[stubDecode]] test-seam decoder — the
    * `stub:` prefix is the downstream contract for "not real features".
    */
  val StubDecoderName = "stub:pseudo-hash"

  /** STUB decoder (TEST SEAM ONLY — never a default): deterministic
    * pseudo-features from payload bytes, for exercising the plumbing
    * with formats that have no in-JVM codec.
    */
  def stubDecode(payload: Array[Byte]): Array[Float] = {
    val out = new Array[Float](FeatureDim)
    var h = 1125899906842597L
    var i = 0
    while (i < payload.length) { h = 31 * h + payload(i); i += 1 }
    var j = 0
    while (j < FeatureDim) {
      h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
      out(j) = ((h & 0xffff).toFloat / 0xffff.toFloat) - 0.5f
      j += 1
    }
    out
  }

  /** Frame-sampling plumbing: given per-asset frame counts, emit
    * (asset, frame_idx) rows for every nth frame — the fan-out shape a
    * video pipeline needs before per-frame decode. Pure expressions.
    */
  def sampleFrames(df: DataFrame, idCol: String, frameCountCol: String,
                   everyNth: Int): DataFrame =
    df.select(col(idCol),
        explode(sequence(lit(0), greatest(col(frameCountCol) - 1, lit(0)),
          lit(everyNth))).as("frame_idx"))

  // ----------------------------------------------------- real decode: image

  /** Deterministic 8-bit grayscale gradient image, PNG-encoded with the
    * JDK's ImageIO (pure JVM, lossless): pixel(x,y) = (id*31 + y*w + x)
    * mod 256. Exact by construction, so a decode can be oracle-checked
    * analytically (sum over pixels is computable in SQL).
    */
  def syntheticGrayPng(id: Long, w: Int = 8, h: Int = 8,
                       offset: Long = 0L): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        raster.setSample(x, y, 0, ((id * 31 + offset + y * w + x) % 256).toInt)
        x += 1
      }
      y += 1
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  /** Attach a real PNG payload per row (batched per-partition encode). */
  def withSyntheticImages(df: DataFrame, idCol: String,
                          w: Int = 8, h: Int = 8): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("payload", BinaryType)))
    val in = df.select(col(idCol).cast("long").as("id"))
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    in.mapPartitions { rows =>
      rows.map(r => Row(r.getLong(0), syntheticGrayPng(r.getLong(0), w, h)))
    }(encoder)
  }

  /** REAL image decode via the JDK's ImageIO (PNG/JPEG/BMP/GIF — no
    * external library): dimensions, exact integer luminance sum, and a
    * grid×grid mean-pooled luminance vector (the cheap "thumbnail
    * embedding" a vision pipeline feeds downstream). Non-decodable
    * payloads yield null fields — at corpus scale corrupt blobs are data,
    * not exceptions. Batched per partition like `decodeFeatures`.
    */
  def decodeImageFeatures(df: DataFrame, idCol: String,
                          grid: Int = 4): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("sum_gray", LongType),
      StructField("features", ArrayType(FloatType))))
    val in = df.select(col(idCol).cast("long").as("id"), col("payload"))
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    in.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        decodeImage(r.getAs[Array[Byte]](1), grid) match {
          case Some((w, h, sum, feats)) => Row(id, w, h, sum, feats)
          case None => Row(id, null, null, null, null)
        }
      }
    }(encoder)
  }

  /** REAL image resize: nearest-neighbor with integer floor mapping
    * (src = dst·srcDim/dstDim), re-encoded as grayscale PNG bytes. The
    * sampling is hand-rolled rather than Graphics2D's interpolating
    * drawImage so the output bytes are bit-deterministic across JVMs and
    * renderers — a resize whose pixels depend on the rasterizer can't be
    * content-addressed, deduped, or oracle-checked. Color inputs are
    * resized in the same Rec.601 integer-luma space `decodeImage` uses.
    * None on undecodable payloads (corrupt blobs are data, not
    * exceptions).
    */
  def resizeImage(bytes: Array[Byte], dstW: Int,
                  dstH: Int): Option[Array[Byte]] = {
    require(dstW > 0 && dstH > 0)
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      catch { case _: Exception => null }
    if (img == null) return None
    val w = img.getWidth; val h = img.getHeight
    if (w <= 0 || h <= 0) return None
    // a palette-indexed raster is also single-band, but its samples
    // are palette INDICES, not luminance - route it through getRGB
    val singleBand = img.getRaster.getNumBands == 1 &&
      !img.getColorModel.isInstanceOf[java.awt.image.IndexColorModel]
    val out = new java.awt.image.BufferedImage(
      dstW, dstH, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = out.getRaster
    var y = 0
    while (y < dstH) {
      val sy = y * h / dstH
      var x = 0
      while (x < dstW) {
        val sx = x * w / dstW
        val v =
          if (singleBand) img.getRaster.getSample(sx, sy, 0)
          else {
            val rgb = img.getRGB(sx, sy)
            (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff) +
              114 * (rgb & 0xff)) / 1000
          }
        raster.setSample(x, y, 0, v)
        x += 1
      }
      y += 1
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(out, "png", baos)
    Some(baos.toByteArray)
  }

  /** Batched per-partition resize over a binary payload column — the
    * thumbnail stage of an image-corpus pipeline (same mapPartitions
    * shape as the decode ops; at scale the batch amortizes codec setup).
    * Undecodable payloads become null thumbnails.
    */
  def resizeImages(df: DataFrame, idCol: String, dstW: Int,
                   dstH: Int): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("thumb", BinaryType)))
    val in = df.select(col(idCol).cast("long").as("id"), col("payload"))
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    in.mapPartitions { rows =>
      rows.map { r =>
        Row(r.getLong(0),
          resizeImage(r.getAs[Array[Byte]](1), dstW, dstH).orNull)
      }
    }(encoder)
  }

  /** @return (width, height, integer luminance sum, grid² mean-pool). */
  def decodeImage(bytes: Array[Byte],
                  grid: Int): Option[(Int, Int, Long, Array[Float])] = {
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      catch { case _: Exception => null }
    if (img == null) return None
    val w = img.getWidth; val h = img.getHeight
    if (w <= 0 || h <= 0) return None
    // Integer luminance per pixel: exact band sample for single-band
    // grayscale; Rec.601 integer luma for color. Both deterministic.
    // a palette-indexed raster is also single-band, but its samples
    // are palette INDICES, not luminance - route it through getRGB
    val singleBand = img.getRaster.getNumBands == 1 &&
      !img.getColorModel.isInstanceOf[java.awt.image.IndexColorModel]
    val lum = new Array[Int](w * h)
    var total = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v =
          if (singleBand) img.getRaster.getSample(x, y, 0)
          else {
            val rgb = img.getRGB(x, y)
            (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff) +
              114 * (rgb & 0xff)) / 1000
          }
        lum(y * w + x) = v
        total += v
        x += 1
      }
      y += 1
    }
    // grid×grid mean pool with WAV-window-style cell boundaries.
    val feats = new Array[Float](grid * grid)
    var gy = 0
    while (gy < grid) {
      val yLo = h * gy / grid; val yHi = h * (gy + 1) / grid
      var gx = 0
      while (gx < grid) {
        val xLo = w * gx / grid; val xHi = w * (gx + 1) / grid
        var ss = 0L; var n = 0
        var yy = yLo
        while (yy < yHi) {
          var xx = xLo
          while (xx < xHi) { ss += lum(yy * w + xx); n += 1; xx += 1 }
          yy += 1
        }
        feats(gy * grid + gx) = if (n > 0) ss.toFloat / n / 255f else 0f
        gx += 1
      }
      gy += 1
    }
    Some((w, h, total, feats))
  }

  // ---------------------------------------------- real decode: video (AVI)

  /** Parsed AVI container: header timing plus the raw per-frame payloads
    * (video stream chunks `##dc`/`##db`, in file order).
    */
  final case class AviInfo(usPerFrame: Long, totalFrames: Long,
                           frames: IndexedSeq[Array[Byte]])

  /** RIFF/AVI container walker — the same chunk arithmetic as the WAV
    * decoder, two levels deep: `LIST hdrl` → `avih` for timing,
    * `LIST movi` → video chunks for frame payloads. Handles the `rec `
    * grouping LISTs interleaved AVIs use. Returns None on anything that
    * is not a well-formed AVI.
    */
  def parseAvi(bytes: Array[Byte]): Option[AviInfo] = {
    def u8(i: Int) = bytes(i) & 0xff
    def le32(i: Int) = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) |
      (u8(i + 3) << 24)
    def tag(i: Int) = new String(bytes, i, 4, "US-ASCII")
    if (bytes.length < 24 || tag(0) != "RIFF" || tag(8) != "AVI ") return None

    var usPerFrame = 0L; var totalFrames = 0L; var seenAvih = false
    val frames = scala.collection.mutable.ArrayBuffer[Array[Byte]]()

    def isVideoChunk(id: String): Boolean =
      id.length == 4 && id(0).isDigit && id(1).isDigit &&
        (id.endsWith("dc") || id.endsWith("db"))

    def walkMovi(from: Int, to: Int): Boolean = {
      var pos = from
      while (pos + 8 <= to) {
        val id = tag(pos); val size = le32(pos + 4)
        if (size < 0 || pos + 8L + size > to) return false
        if (id == "LIST" && size >= 4 && tag(pos + 8) == "rec ") {
          if (!walkMovi(pos + 12, pos + 8 + size)) return false
        } else if (isVideoChunk(id)) {
          frames += java.util.Arrays.copyOfRange(bytes, pos + 8,
            pos + 8 + size)
        }
        pos += 8 + size + (size & 1)
      }
      true
    }

    def walkHdrl(from: Int, to: Int): Boolean = {
      var pos = from
      while (pos + 8 <= to) {
        val id = tag(pos); val size = le32(pos + 4)
        if (size < 0 || pos + 8L + size > to) return false
        if (id == "avih" && size >= 32) {
          // both DWORDs are unsigned: mask like usPerFrame so an AVI
          // declaring >= 2^31 frames reports the true count, not negative
          usPerFrame = le32(pos + 8).toLong & 0xffffffffL
          totalFrames = le32(pos + 8 + 16).toLong & 0xffffffffL
          seenAvih = true
        }
        pos += 8 + size + (size & 1)
      }
      true
    }

    var pos = 12
    while (pos + 8 <= bytes.length) {
      val id = tag(pos); val size = le32(pos + 4)
      if (size < 0 || pos + 8L + size > bytes.length) return None
      if (id == "LIST" && size >= 4) {
        val sub = tag(pos + 8)
        val ok =
          if (sub == "hdrl") walkHdrl(pos + 12, pos + 8 + size)
          else if (sub == "movi") walkMovi(pos + 12, pos + 8 + size)
          else true
        if (!ok) return None
      }
      pos += 8 + size + (size & 1)
    }
    if (!seenAvih || frames.isEmpty) None
    else Some(AviInfo(usPerFrame, totalFrames, frames.toIndexedSeq))
  }

  /** Minimal valid AVI writer (MJPG fourcc; frame payloads are whatever
    * ImageIO can decode — JPEG in real MJPEG files, PNG for lossless
    * oracle round trips). Used by tests and the m05 oracle query.
    */
  def buildAvi(frameBytes: Seq[Array[Byte]], width: Int, height: Int,
               usPerFrame: Int = 40000,
               recGrouped: Boolean = false): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def le32(v: Int): Array[Byte] = Array[Byte](
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val pad = body.length & 1
      id.getBytes("US-ASCII") ++ le32(body.length) ++ body ++
        Array.fill[Byte](pad)(0)
    }
    def list(subtype: String, body: Array[Byte]): Array[Byte] =
      chunk("LIST", subtype.getBytes("US-ASCII") ++ body)

    val avih = le32(usPerFrame) ++ le32(0) ++ le32(0) ++ le32(0) ++
      le32(frameBytes.length) ++ le32(0) ++ le32(1) ++ le32(0) ++
      le32(width) ++ le32(height) ++ Array.fill[Byte](16)(0)
    val strh = "vids".getBytes("US-ASCII") ++ "MJPG".getBytes("US-ASCII") ++
      le32(0) ++ le32(0) ++ le32(0) ++ le32(usPerFrame) ++ le32(1000000) ++
      le32(0) ++ le32(frameBytes.length) ++ le32(0) ++ le32(-1) ++ le32(0) ++
      Array.fill[Byte](8)(0)
    val strf = le32(40) ++ le32(width) ++ le32(height) ++
      Array[Byte](1, 0, 24, 0) ++ "MJPG".getBytes("US-ASCII") ++
      le32(width * height * 3) ++ Array.fill[Byte](16)(0)
    val hdrl = list("hdrl", chunk("avih", avih) ++
      list("strl", chunk("strh", strh) ++ chunk("strf", strf)))
    // interleaved AVIs wrap each frame group in a 'rec ' LIST; emit that
    // layout on request so the walker's recursion is testable
    val frameChunks = frameBytes.map(f => chunk("00dc", f))
    val movi = list("movi",
      (if (recGrouped) frameChunks.map(c => list("rec ", c))
       else frameChunks).flatten.toArray)
    val body = "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi
    out.write("RIFF".getBytes("US-ASCII")); out.write(le32(body.length))
    out.write(body)
    out.toByteArray
  }

  /** Attach a real AVI payload per row: `frames` PNG frames whose pixel
    * (x,y) of frame f is (id*31 + f*7 + y*w + x) mod 256 — analytic, so
    * decodes are oracle-checkable (see m05).
    */
  def withSyntheticVideos(df: DataFrame, idCol: String, frames: Int = 6,
                          w: Int = 8, h: Int = 8): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("payload", BinaryType)))
    val in = df.select(col(idCol).cast("long").as("id"))
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    in.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        Row(id, buildAvi(
          (0 until frames).map(f => syntheticGrayPng(id, w, h, f * 7L)),
          w, h))
      }
    }(encoder)
  }

  /** REAL video decode for the MJPEG/AVI family: walk the container
    * (`parseAvi`), take every `everyNth` frame (the `sampleFrames`
    * policy applied inside the asset), decode each sampled frame with
    * ImageIO, and emit one row per sampled frame with dimensions and the
    * exact luminance sum. Payloads that are not AVIs — or frames that do
    * not decode — contribute no rows (corrupt data is dropped, not
    * thrown). Modern codecs (H.264 etc.) need a native decoder and stay
    * out of scope; the container walk, sampling, and per-frame feature
    * shape are the same.
    */
  def decodeVideoFrames(df: DataFrame, idCol: String,
                        everyNth: Int = 1): DataFrame = {
    require(everyNth > 0, s"everyNth must be positive, got $everyNth")
    val outSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("frame_idx", IntegerType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("sum_gray", LongType)))
    val in = df.select(col(idCol).cast("long").as("id"), col("payload"))
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    in.mapPartitions { rows =>
      rows.flatMap { r =>
        val id = r.getLong(0)
        parseAvi(r.getAs[Array[Byte]](1)).toSeq.flatMap { avi =>
          (0 until avi.frames.length by everyNth).flatMap { fi =>
            decodeImage(avi.frames(fi), grid = 1).map {
              case (w, h, sum, _) => Row(id, fi, w, h, sum)
            }
          }
        }
      }
    }(encoder)
  }

  /** Per-frame content digests: walk the AVI container and md5 each
    * frame's bytes — the index behind exact CROSS-VIDEO frame matching
    * (stock-footage/intro-card detection). Videos then meet through a
    * 16-byte digest equi-join, never through pixel data; non-AVI
    * payloads contribute no rows.
    */
  def frameHashes(df: DataFrame, idCol: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("frame_md5", StringType, nullable = false)))
    val in = df.select(col(idCol).cast("long").as("id"), col("payload"))
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    in.mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.flatMap { r =>
        val id = r.getLong(0)
        parseAvi(r.getAs[Array[Byte]](1)).toSeq.flatMap { avi =>
          avi.frames.zipWithIndex.map { case (fb, i) =>
            Row(id, i, md.digest(fb).map("%02x".format(_)).mkString)
          }
        }
      }
    }(encoder)
  }

  /** 64-bit perceptual difference hash (dHash, the standard cheap
    * near-duplicate image fingerprint): decode → integer luminance →
    * 9×8 integer mean-pool → each bit compares horizontally adjacent
    * cells (`cell[r][c+1] > cell[r][c]`), row-major MSB-first. All
    * integer arithmetic (truncating cell means), so the hash is
    * bit-deterministic — and SCALE-INVARIANT whenever the resize
    * preserves cell means (e.g. pixel doubling), which is exactly what
    * byte-level digests (m09's `content_key`) cannot see: a re-encoded
    * or upscaled copy has different bytes but the same dHash. None on
    * undecodable payloads (corrupt blobs are data, not exceptions).
    */
  def dhashImage(bytes: Array[Byte]): Option[Long] = {
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      catch { case _: Exception => null }
    if (img == null) return None
    val w = img.getWidth; val h = img.getHeight
    if (w < 9 || h < 8) return None
    // a palette-indexed raster is also single-band, but its samples
    // are palette INDICES, not luminance - route it through getRGB
    val singleBand = img.getRaster.getNumBands == 1 &&
      !img.getColorModel.isInstanceOf[java.awt.image.IndexColorModel]
    val lum = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        lum(y * w + x) =
          if (singleBand) img.getRaster.getSample(x, y, 0)
          else {
            val rgb = img.getRGB(x, y)
            (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff) +
              114 * (rgb & 0xff)) / 1000
          }
        x += 1
      }
      y += 1
    }
    val cells = Array.ofDim[Long](8, 9)
    var r = 0
    while (r < 8) {
      val yLo = h * r / 8; val yHi = h * (r + 1) / 8
      var c = 0
      while (c < 9) {
        val xLo = w * c / 9; val xHi = w * (c + 1) / 9
        var ss = 0L; var n = 0L
        var yy = yLo
        while (yy < yHi) {
          var xx = xLo
          while (xx < xHi) { ss += lum(yy * w + xx); n += 1; xx += 1 }
          yy += 1
        }
        cells(r)(c) = if (n > 0) ss / n else 0L
        c += 1
      }
      r += 1
    }
    var hash = 0L
    r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        hash = (hash << 1) | (if (cells(r)(c + 1) > cells(r)(c)) 1L else 0L)
        c += 1
      }
      r += 1
    }
    Some(hash)
  }

  /** Batched per-partition dHash over a binary payload column — ONE
    * decode per image (the m09 lesson: decode IS the query cost at an
    * image-corpus scale). Undecodable payloads yield null.
    */
  def dhashes(df: DataFrame, idCol: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("dhash", LongType)))
    val in = df.select(col(idCol).cast("long").as("id"), col("payload"))
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    in.mapPartitions { rows =>
      rows.map { r =>
        Row(r.getLong(0),
          dhashImage(r.getAs[Array[Byte]](1))
            .map(Long.box).orNull)
      }
    }(encoder)
  }

  /** [[syntheticGrayPng]]'s scale-aware sibling: the `scale`× image is
    * the exact pixel-doubling (tripling, …) of the `scale`=1 base, so
    * perceptual fingerprints that pool in integer arithmetic (dHash
    * with base dims divisible by the 9×8 grid) are IDENTICAL across
    * scales while the encoded bytes differ — the planted ground truth
    * for near-duplicate (not byte-duplicate) image detection.
    */
  def syntheticGrayPngScaled(key: Long, baseW: Int, baseH: Int,
                             scale: Int): Array[Byte] = {
    val w = baseW * scale; val h = baseH * scale
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        raster.setSample(x, y, 0,
          ((key * 31 + (y / scale) * baseW + (x / scale)) % 256).toInt)
        x += 1
      }
      y += 1
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  /** Attach a scaled synthetic PNG per row from (key, scale) columns. */
  def withSyntheticImagesScaled(df: DataFrame, idCol: String,
                                keyCol: String, scaleCol: String,
                                baseW: Int, baseH: Int): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("payload", BinaryType)))
    val in = df.select(col(idCol).cast("long").as("id"),
      col(keyCol).cast("long").as("key"),
      col(scaleCol).cast("int").as("scale"))
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    in.mapPartitions { rows =>
      rows.map { r =>
        Row(r.getLong(0),
          syntheticGrayPngScaled(r.getLong(1), baseW, baseH, r.getInt(2)))
      }
    }(encoder)
  }

  // ------------------------------------------------------- real decode: WAV

  /** One modality decoded for REAL: WAV/PCM is RIFF chunks + little-endian
    * 16-bit samples — pure byte arithmetic, no native library. Parsed
    * fields plus per-window RMS energy (the standard cheap audio
    * fingerprint). Returns null fields on anything that is not a
    * well-formed 16-bit PCM WAV: at corpus scale corrupt payloads are
    * data, not exceptions.
    */
  def decodeAudioFeatures(df: DataFrame, idCol: String,
                          windows: Int = FeatureDim): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("sample_rate", IntegerType),
      StructField("num_samples", LongType),
      StructField("rms", ArrayType(FloatType))))
    val in = df.select(col(idCol).cast("long").as("id"), col("payload"))
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    in.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        decodeWav(r.getAs[Array[Byte]](1), windows) match {
          case Some((rate, n, rms)) => Row(id, rate, n, rms)
          case None => Row(id, null, null, null)
        }
      }
    }(encoder)
  }

  /** Minimal RIFF/WAVE writer (16-bit PCM mono) — the audio counterpart
    * of `buildAvi`, for synthesizing decodable payloads in-engine.
    */
  def buildWav(samples: Array[Short], rate: Int): Array[Byte] = {
    def le32(v: Int): Array[Byte] = Array[Byte](
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def le16(v: Int): Array[Byte] =
      Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    val data = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      data(2 * i) = (samples(i) & 0xff).toByte
      data(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = le16(1) ++ le16(1) ++ le32(rate) ++ le32(rate * 2) ++
      le16(2) ++ le16(16)
    val body = "WAVE".getBytes("US-ASCII") ++
      "fmt ".getBytes("US-ASCII") ++ le32(fmt.length) ++ fmt ++
      "data".getBytes("US-ASCII") ++ le32(data.length) ++ data
    "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
  }

  /** Deterministic synthetic WAV payloads: sample i of id is
    * `((id*31 + i*7) mod 65536) - 32768` — same arithmetic family as the
    * synthetic video frames, so oracles can reason about the fields.
    */
  /** @param genMod when > 0, samples derive from `id % genMod` instead
    *   of the raw id — ids in the same residue class get byte-identical
    *   audio (dup planting for the content-dedup gates, the audio twin
    *   of the image generator's mod-256 congruence).
    */
  def withSyntheticAudio(df: DataFrame, idCol: String,
                         nSamples: Int = 1000, rate: Int = 8000,
                         genMod: Long = 0L): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("payload", BinaryType)))
    val in = df.select(col(idCol).cast("long").as("id"))
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    in.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val gen = if (genMod > 0) id % genMod else id
        val samples = Array.tabulate(nSamples)(i =>
          (((gen * 31 + i.toLong * 7) % 65536) - 32768).toShort)
        Row(id, buildWav(samples, rate))
      }
    }(encoder)
  }

  /** [[withSyntheticAudio]]'s scale-aware sibling (the audio twin of
    * [[withSyntheticImagesScaled]]): the `scale`× rendition repeats each
    * base sample `scale` times (integer upsampling), so the
    * duration-invariant envelope ([[decodeWavEnvelope]]) is IDENTICAL
    * across scales while the encoded bytes and the decoded duration
    * differ — the planted ground truth for cross-duration audio
    * near-dup detection plus longest-rendition canonical election.
    * Base sample j of key k is ((k·31 + j·7) mod 65536) − 32768.
    */
  def withSyntheticAudioScaled(df: DataFrame, idCol: String,
                               keyCol: String, scaleCol: String,
                               baseSamples: Int = 1000,
                               rate: Int = 8000): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("payload", BinaryType)))
    val in = df.select(col(idCol).cast("long").as("id"),
      col(keyCol).cast("long").as("key"),
      col(scaleCol).cast("int").as("scale"))
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    in.mapPartitions { rows =>
      rows.map { r =>
        val key = r.getLong(1); val scale = r.getInt(2)
        val samples = Array.tabulate(baseSamples * scale)(i =>
          (((key * 31 + (i / scale).toLong * 7) % 65536) - 32768).toShort)
        Row(r.getLong(0), buildWav(samples, rate))
      }
    }(encoder)
  }

  /** DURATION-INVARIANT audio fingerprint: per-window truncating MEAN
    * energy (Σ amp² div window sample count) plus the decoded sample
    * count. An integer-upsampled rendition (each sample repeated k
    * times) has per-window energy k·E over k·c samples, and
    * floor(kE / kc) = floor(E / c) exactly — so envelopes agree across
    * scales while byte digests (m13's `content_key`) cannot, the audio
    * analogue of dHash's pooling invariance. Requires window boundaries
    * to land on whole base samples: sample counts divisible by
    * `windows` (the synthetic plants use 1000·scale over 10 windows).
    * @return (numSamples, per-window mean energies), None if not PCM WAV
    */
  def decodeWavEnvelope(bytes: Array[Byte], windows: Int)
      : Option[(Long, Array[Long])] = {
    def u8(i: Int) = bytes(i) & 0xff
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    val (_, channels, dataOff, n) = parsePcmWav(bytes) match {
      case Some(h) => h
      case None => return None
    }
    val frameBytes = 2 * channels
    val out = new Array[Long](windows)
    var w = 0
    while (w < windows) {
      val lo = (n.toLong * w / windows).toInt
      val hi = (n.toLong * (w + 1) / windows).toInt
      var ss = 0L; var i = lo
      while (i < hi) {
        var c = 0; var amp = 0L
        while (c < channels) {
          amp += le16(dataOff + i * frameBytes + 2 * c).toShort
          c += 1
        }
        ss += amp * amp; i += 1
      }
      out(w) = if (hi > lo) ss / (hi - lo) else 0L
      w += 1
    }
    Some((n.toLong, out))
  }

  /** Batched [[decodeWavEnvelope]]: one row per decodable payload with
    * (id, num_samples, envelope) — ONE decode per asset (the m09/m13
    * lesson); undecodable payloads yield no rows.
    */
  def audioEnvelopes(df: DataFrame, idCol: String, windows: Int = 10)
      : DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("num_samples", LongType),
      StructField("envelope", ArrayType(LongType))))
    val in = df.select(col(idCol).cast("long").as("id"), col("payload"))
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    in.mapPartitions { rows =>
      rows.flatMap { r =>
        val id = r.getLong(0)
        decodeWavEnvelope(r.getAs[Array[Byte]](1), windows) match {
          case Some((n, env)) => Iterator.single(Row(id, n, env))
          case None => Iterator.empty
        }
      }
    }(encoder)
  }

  /** RIFF/WAVE walker for 16-bit PCM (mono or stereo, channels averaged).
    * @return (sampleRate, numSamples, per-window RMS of [-1,1] samples)
    */
  def decodeWav(bytes: Array[Byte], windows: Int): Option[(Int, Long, Array[Float])] = {
    def u8(i: Int) = bytes(i) & 0xff
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    val (rate, channels, dataOff, n) = parsePcmWav(bytes) match {
      case Some(h) => h
      case None => return None
    }
    val frameBytes = 2 * channels

    // Per-window sum of squares in double; sequential order, reproducible.
    val rms = new Array[Float](windows)
    var w = 0
    while (w < windows) {
      val lo = (n.toLong * w / windows).toInt
      val hi = (n.toLong * (w + 1) / windows).toInt
      var ss = 0.0; var i = lo
      while (i < hi) {
        var c = 0; var acc = 0.0
        while (c < channels) {
          val s = le16(dataOff + i * frameBytes + 2 * c).toShort
          acc += s / 32768.0; c += 1
        }
        val x = acc / channels
        ss += x * x; i += 1
      }
      rms(w) = if (hi > lo) math.sqrt(ss / (hi - lo)).toFloat else 0f
      w += 1
    }
    Some((rate, n.toLong, rms))
  }

  /** RIFF/WAVE header walk shared by the decoders: returns
    * (sampleRate, channels, dataOffset, numFrames) for well-formed 16-bit
    * PCM (mono/stereo), None otherwise.
    */
  private def parsePcmWav(bytes: Array[Byte]): Option[(Int, Int, Int, Int)] = {
    def u8(i: Int) = bytes(i) & 0xff
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int) = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) |
      (u8(i + 3) << 24)
    def tag(i: Int) = new String(bytes, i, 4, "US-ASCII")
    if (bytes.length < 44 || tag(0) != "RIFF" || tag(8) != "WAVE") return None
    var fmtOk = false; var channels = 0; var rate = 0
    var dataOff = -1; var dataLen = 0
    var pos = 12
    while (pos + 8 <= bytes.length) {
      val id = tag(pos); val size = le32(pos + 4)
      if (size < 0 || pos + 8L + size > bytes.length) return None
      id match {
        case "fmt " if size >= 16 =>
          val audioFormat = le16(pos + 8)
          channels = le16(pos + 10)
          rate = le32(pos + 12)
          val bits = le16(pos + 22)
          fmtOk = audioFormat == 1 && bits == 16 &&
            (channels == 1 || channels == 2) && rate > 0
        case "data" => dataOff = pos + 8; dataLen = size
        case _ => ()
      }
      pos += 8 + size + (size & 1) // chunks are word-aligned
    }
    if (!fmtOk || dataOff < 0) return None
    val frameBytes = 2 * channels
    val n = dataLen / frameBytes
    if (n == 0) None else Some((rate, channels, dataOff, n))
  }

  /** EXACT per-window energy: Σ (channel-summed amplitude)² over each of
    * `windows` equal index ranges, as BIGINT — the integer counterpart of
    * [[decodeWav]]'s float RMS, so an analytic oracle can hash-match the
    * decode bit-for-bit (floats can't cross engines exactly; int64 can).
    */
  def decodeWavWindowEnergy(bytes: Array[Byte], windows: Int)
      : Option[Array[Long]] = {
    def u8(i: Int) = bytes(i) & 0xff
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    val (_, channels, dataOff, n) = parsePcmWav(bytes) match {
      case Some(h) => h
      case None => return None
    }
    val frameBytes = 2 * channels
    val out = new Array[Long](windows)
    var w = 0
    while (w < windows) {
      val lo = (n.toLong * w / windows).toInt
      val hi = (n.toLong * (w + 1) / windows).toInt
      var ss = 0L; var i = lo
      while (i < hi) {
        var c = 0; var amp = 0L
        while (c < channels) {
          amp += le16(dataOff + i * frameBytes + 2 * c).toShort
          c += 1
        }
        ss += amp * amp; i += 1
      }
      out(w) = ss; w += 1
    }
    Some(out)
  }

  /** Batched exact windowed audio energy: one row per (id, window) with
    * the BIGINT sum-of-squares energy. Same mapPartitions batching shape
    * as the other decoders; undecodable payloads yield no rows (corrupt
    * media is data, not an exception).
    */
  def audioWindowEnergy(df: DataFrame, idCol: String, windows: Int = 10)
      : DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("win", IntegerType),
      StructField("energy", LongType)))
    val in = df.select(col(idCol).cast("long").as("id"), col("payload"))
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    in.mapPartitions { rows =>
      rows.flatMap { r =>
        val id = r.getLong(0)
        decodeWavWindowEnergy(r.getAs[Array[Byte]](1), windows) match {
          case Some(es) => es.iterator.zipWithIndex.map {
            case (e, w) => Row(id, w, e)
          }
          case None => Iterator.empty
        }
      }
    }(encoder)
  }

  // ------------------------------------------------------------------
  // PNG chunk surgery: metadata extraction + ancillary-chunk strip —
  // the image-side compliance pass a training pipeline runs before
  // ingest (textual metadata out for privacy/provenance audit, payload
  // slimmed to its critical chunks). Pure chunk arithmetic on the
  // public PNG layout (8-byte signature; chunks of BE32 length + 4-char
  // type + data + CRC32 over type||data; ancillary chunks have a
  // lowercase first type letter), CRC-verified so bit rot is damage,
  // not garbage metadata. Corrupt-is-data: a damaged image keeps its
  // row with `corrupt = true` — never an executor exception.
  // ------------------------------------------------------------------

  private val PngSig = Array[Byte](0x89.toByte, 'P', 'N', 'G',
    0x0d, 0x0a, 0x1a, 0x0a)

  private def crc32(parts: Array[Byte]*): Long = {
    val c = new java.util.zip.CRC32()
    parts.foreach(p => c.update(p))
    c.getValue
  }

  private def be32(v: Long): Array[Byte] = Array[Byte](
    ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
    ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)

  private def readBe32(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) |
      ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)

  /** Walk a PNG's chunks: (type, dataOffset, dataLen) with every CRC
    * verified. Returns (chunks decoded before any damage, corrupt).
    */
  private[llm] def pngChunks(b: Array[Byte])
      : (Seq[(String, Int, Int)], Boolean) = {
    val out = scala.collection.mutable.ArrayBuffer[(String, Int, Int)]()
    try {
      require(b.length >= 8 && b.take(8).sameElements(PngSig), "not a PNG")
      var i = 8
      var end = false
      while (!end) {
        require(i + 8 <= b.length, "truncated chunk header")
        val len = readBe32(b, i)
        require(len <= Int.MaxValue && i + 12 + len <= b.length,
          "truncated chunk data")
        val typ = new String(b, i + 4, 4, "US-ASCII")
        val expect = readBe32(b, i + 8 + len.toInt)
        val got = crc32(java.util.Arrays.copyOfRange(b, i + 4,
          i + 8 + len.toInt))
        require(got == expect, s"CRC mismatch in $typ")
        out += ((typ, i + 8, len.toInt))
        if (typ == "IEND") end = true
        else i += 12 + len.toInt
      }
      (out.toSeq, false)
    } catch {
      case scala.util.control.NonFatal(_) => (out.toSeq, true)
    }
  }

  /** Insert `tEXt` keyword/value chunks immediately after IHDR —
    * deterministic bytes (fixed chunk order, CRC32 of type||data).
    */
  def pngInsertText(png: Array[Byte],
                    kvs: Seq[(String, String)]): Array[Byte] = {
    val ihdrLen = readBe32(png, 8).toInt
    val cut = 8 + 12 + ihdrLen // end of the IHDR chunk
    val buf = new java.io.ByteArrayOutputStream(png.length + 64)
    buf.write(png, 0, cut)
    kvs.foreach { case (k, v) =>
      val data = k.getBytes("ISO-8859-1") ++ Array[Byte](0) ++
        v.getBytes("ISO-8859-1")
      val typ = "tEXt".getBytes("US-ASCII")
      buf.write(be32(data.length.toLong))
      buf.write(typ); buf.write(data)
      buf.write(be32(crc32(typ, data)))
    }
    buf.write(png, cut, png.length - cut)
    buf.toByteArray
  }

  /** Keep only CRITICAL chunks (uppercase first type letter: IHDR,
    * PLTE, IDAT, IEND) — drops tEXt/zTXt/iTXt/tIME/eXIf and every other
    * ancillary chunk. Dropping whole chunks preserves the others'
    * CRCs, so the result is a valid PNG with identical pixel data.
    * Corrupt input comes back unchanged (the audit flag belongs to
    * [[pngMeta]]; a strip must never invent bytes).
    */
  def pngStripAncillary(png: Array[Byte]): Array[Byte] = {
    val (chunks, corrupt) = pngChunks(png)
    if (corrupt) png
    else {
      val buf = new java.io.ByteArrayOutputStream(png.length)
      buf.write(PngSig)
      chunks.foreach { case (typ, off, len) =>
        if ((typ.charAt(0) & 0x20) == 0)
          buf.write(png, off - 8, 12 + len)
      }
      buf.toByteArray
    }
  }

  /** Per-image metadata frame: one row per `tEXt` entry (images without
    * any get ONE row with NULL keyword/value — nothing vanishes), IHDR
    * geometry on every row, `bytes_saved` = octets an ancillary strip
    * would shed, `corrupt` latched from the CRC-verified walk.
    * Output: (id, width, height, bit_depth, color_type, keyword, value,
    * bytes_saved, corrupt).
    */
  def pngMeta(df: DataFrame, idCol: String,
              payloadCol: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("bit_depth", IntegerType),
      StructField("color_type", IntegerType),
      StructField("keyword", StringType),
      StructField("value", StringType),
      StructField("bytes_saved", LongType),
      StructField("corrupt", BooleanType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    df.select(col(idCol).cast("long"), col(payloadCol))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          val png = r.getAs[Array[Byte]](1)
          val (chunks, corrupt) = pngChunks(
            if (png == null) Array.emptyByteArray else png)
          val ihdr = chunks.find(_._1 == "IHDR")
          val (w, h, bd, ct) = ihdr match {
            case Some((_, off, len)) if len >= 13 =>
              (readBe32(png, off).toInt.asInstanceOf[Integer],
                readBe32(png, off + 4).toInt.asInstanceOf[Integer],
                (png(off + 8) & 0xff).asInstanceOf[Integer],
                (png(off + 9) & 0xff).asInstanceOf[Integer])
            case _ => (null: Integer, null: Integer,
              null: Integer, null: Integer)
          }
          val saved = chunks.filter(c => (c._1.charAt(0) & 0x20) != 0)
            .map(12L + _._3).sum.asInstanceOf[java.lang.Long]
          val texts = chunks.filter(_._1 == "tEXt").map { case (_, off, len) =>
            val data = new String(png, off, len, "ISO-8859-1")
            val z = data.indexOf(0.toChar)
            if (z < 0) (data, null: String)
            else (data.substring(0, z), data.substring(z + 1))
          }
          if (texts.isEmpty)
            Iterator.single(Row(id, w, h, bd, ct, null, null, saved, corrupt))
          else texts.iterator.map { case (k, v) =>
            Row(id, w, h, bd, ct, k, v, saved, corrupt)
          }
        }
      }(enc)
  }

  /** Strip twin as a frame op: (id, payload, bytes_saved). */
  def stripPngMeta(df: DataFrame, idCol: String,
                   payloadCol: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("payload", BinaryType),
      StructField("bytes_saved", LongType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    df.select(col(idCol).cast("long"), col(payloadCol))
      .mapPartitions { rows =>
        rows.map { r =>
          val png = r.getAs[Array[Byte]](1)
          val out = pngStripAncillary(
            if (png == null) Array.emptyByteArray else png)
          Row(r.getLong(0), out, (png.length - out.length).toLong)
        }
      }(enc)
  }

  // ------------------------------------------------------------------
  // JPEG segment surgery: EXIF metadata extraction + APPn/COM strip —
  // the m12 compliance pass for the format where real-world PII
  // metadata overwhelmingly lives (GPS coordinates, camera serials,
  // author strings ride in the APP1/Exif TIFF IFD). Pure marker
  // arithmetic on the public JPEG layout (FF-marker length-prefixed TLV
  // segments up to SOS, entropy-coded tail after) and the public
  // TIFF 6.0 IFD layout (byte-order II/MM, magic 42, 12-byte entries,
  // ASCII values inline when count <= 4 else offset-addressed).
  // Corrupt-is-data throughout: damage keeps the row with
  // `corrupt = true`, never an executor exception.
  // ------------------------------------------------------------------

  /** EXIF ASCII tags this pass extracts/plants (TIFF 6.0 baseline ids).
    * Fixed allow-list by design — the compliance pass targets the
    * provenance/PII strings, not arbitrary vendor IFDs.
    */
  val ExifAsciiTags: Map[Int, String] = Map(
    0x010e -> "description", 0x0110 -> "model", 0x0131 -> "software",
    0x013b -> "artist", 0x8298 -> "copyright")
  private val ExifTagIds: Map[String, Int] = ExifAsciiTags.map(_.swap)

  /** Deterministic 8-bit grayscale gradient JPEG (same pixel recipe as
    * [[syntheticGrayPng]], JPEG-encoded by the JDK's ImageIO). JPEG is
    * lossy, but the strip-losslessness proof only ever compares
    * strip(planted) against strip(original) of the SAME encode, so the
    * encoder's bit choices cancel out of every gate.
    */
  def syntheticGrayJpeg(id: Long, w: Int = 8, h: Int = 8): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        raster.setSample(x, y, 0, ((id * 31 + y * w + x) % 256).toInt)
        x += 1
      }
      y += 1
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", baos)
    baos.toByteArray
  }

  /** Attach a real JPEG payload per row (batched per-partition encode,
    * the [[withSyntheticImages]] shape).
    */
  def withSyntheticJpegs(df: DataFrame, idCol: String,
                         w: Int = 8, h: Int = 8): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("payload", BinaryType)))
    val in = df.select(col(idCol).cast("long").as("id"))
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    in.mapPartitions { rows =>
      rows.map(r => Row(r.getLong(0), syntheticGrayJpeg(r.getLong(0), w, h)))
    }(encoder)
  }

  /** Walk a JPEG's marker segments to SOS: (marker, offset, totalLen)
    * triples, `marker = -1` for the entropy-coded tail (SOS data + EOI,
    * copied verbatim — RST/stuffed-FF bytes inside are never parsed).
    * Returns (segments decoded before any damage, corrupt).
    */
  private[llm] def jpegSegments(b: Array[Byte])
      : (Seq[(Int, Int, Int)], Boolean) = {
    val out = scala.collection.mutable.ArrayBuffer[(Int, Int, Int)]()
    try {
      require(b.length >= 2 && (b(0) & 0xff) == 0xff &&
        (b(1) & 0xff) == 0xd8, "not a JPEG")
      out += ((0xd8, 0, 2))
      var i = 2
      var done = false
      while (!done) {
        require(i + 2 <= b.length && (b(i) & 0xff) == 0xff,
          "bad marker prefix")
        // Legal 0xFF fill bytes may pad before a marker id (ITU T.81
        // B.1.1.2) — skip the run instead of reading the second 0xFF
        // as the marker id (which latched corrupt and turned the strip
        // into a silent no-op on such real-world files). The run rides
        // as its own pseudo-segment (marker -2) so real offsets stay
        // marker-anchored and the strip rebuild keeps fill bytes
        // verbatim (-2 never matches the APPn/COM strip predicate).
        val fillStart = i
        while (i + 2 <= b.length && (b(i + 1) & 0xff) == 0xff) i += 1
        if (i > fillStart) out += ((-2, fillStart, i - fillStart))
        require(i + 2 <= b.length, "truncated marker")
        val m = b(i + 1) & 0xff
        if (m == 0xd9) { out += ((m, i, 2)); done = true }        // EOI
        else if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) {         // TEM/RSTn
          out += ((m, i, 2)); i += 2
        } else {
          require(i + 4 <= b.length, "truncated segment length")
          val len = ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
          require(len >= 2 && i + 2 + len <= b.length,
            "truncated segment data")
          out += ((m, i, 2 + len))
          if (m == 0xda) {                                        // SOS
            out += ((-1, i + 2 + len, b.length - (i + 2 + len)))
            done = true
          } else i += 2 + len
        }
      }
      (out.toSeq, false)
    } catch {
      case scala.util.control.NonFatal(_) => (out.toSeq, true)
    }
  }

  /** Little-endian TIFF byte writer — the ONE copy of the w16/w32
    * helpers the Exif and GPS segment builders share.
    */
  private final class TiffWriter {
    private val buf = new java.io.ByteArrayOutputStream(96)
    def w8(v: Int): Unit = buf.write(v & 0xff)
    def raw(bs: Array[Byte]): Unit = buf.write(bs, 0, bs.length)
    def w16(v: Int): Unit = { buf.write(v & 0xff); buf.write((v >> 8) & 0xff) }
    def w32(v: Long): Unit = {
      w16((v & 0xffff).toInt); w16(((v >> 16) & 0xffff).toInt)
    }
    def header(): Unit = {                              // Exif\0\0 + TIFF
      raw("Exif".getBytes("US-ASCII")); w8(0); w8(0)
      w8('I'); w8('I'); w16(42); w32(8L)                // IFD0 @ offset 8
    }
    def bytes: Array[Byte] = buf.toByteArray
  }

  /** Frame a TIFF payload as an APP1 JPEG segment — bounds-checked:
    * a JPEG segment length is 16-bit, so an oversized payload (a plant
    * from a huge value column) fails FAST here instead of wrapping the
    * length field and surfacing later as corrupt=true.
    */
  private def app1Segment(payload: Array[Byte]): Array[Byte] = {
    val len = payload.length + 2
    require(len <= 0xffff,
      s"APP1 payload too large for a JPEG segment: $len bytes")
    Array[Byte](0xff.toByte, 0xe1.toByte,
      ((len >> 8) & 0xff).toByte, (len & 0xff).toByte) ++ payload
  }

  /** Bounds-checked TIFF reader over `b[base, end)` — both byte orders;
    * the ONE copy of the r16/r32 helpers the Exif and GPS parsers share.
    * Constructor throws on a damaged preamble (caller latches corrupt).
    */
  private final class TiffReader(b: Array[Byte], val base: Int, val end: Int) {
    require(end <= b.length && base + 8 <= end, "truncated Exif body")
    val le: Boolean = (b(base) & 0xff, b(base + 1) & 0xff) match {
      case ('I', 'I') => true
      case ('M', 'M') => false
      case _ => throw new IllegalArgumentException("bad TIFF byte order")
    }
    def r16(i: Int): Int = {
      require(i >= base && i + 2 <= end, "truncated TIFF read")
      if (le) (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
      else ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
    }
    def r32(i: Int): Long = {
      require(i >= base && i + 4 <= end, "truncated TIFF read")
      if (le) (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
        ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)
      else ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) |
        ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)
    }
    def byteAt(i: Int): Int = {
      require(i >= base && i < end, "truncated TIFF read")
      b(i) & 0xff
    }
    require(r16(base + 2) == 42, "bad TIFF magic")
  }

  /** Build an APP1/Exif segment (little-endian TIFF, IFD0 only) holding
    * the given (tagName, value) ASCII entries — entries sorted by tag id
    * ascending as TIFF requires, values NUL-terminated, stored inline
    * when the terminated length fits the 4-byte value field and in the
    * value area past the IFD otherwise (both real EXIF layouts; the m15
    * oracle's byte arithmetic distinguishes them).
    */
  private[llm] def buildExifApp1(tags: Seq[(String, String)]): Array[Byte] = {
    val entries = tags.map { case (name, v) =>
      (ExifTagIds.getOrElse(name,
        throw new IllegalArgumentException(s"unknown EXIF tag: $name")),
        v.getBytes("ISO-8859-1") :+ 0.toByte)
    }.sortBy(_._1)
    val n = entries.size
    val w = new TiffWriter
    w.header()
    w.w16(n)
    var valueOff = 8 + 2 + 12 * n + 4                  // value area start
    entries.foreach { case (tag, bytes) =>
      w.w16(tag); w.w16(2)                             // type 2 = ASCII
      w.w32(bytes.length.toLong)                       // count incl. NUL
      if (bytes.length <= 4) {
        bytes.foreach(b => w.w8(b & 0xff))
        (bytes.length until 4).foreach(_ => w.w8(0))
      } else { w.w32(valueOff.toLong); valueOff += bytes.length }
    }
    w.w32(0L)                                          // no IFD1
    entries.foreach { case (_, bytes) =>
      if (bytes.length > 4) w.raw(bytes)
    }
    app1Segment(w.bytes)
  }

  /** Insert an APP1/Exif segment (built from `kvCols` row values)
    * immediately after SOI — the [[withPlantedText]] twin for JPEG.
    */
  def withPlantedExif(df: DataFrame, idCol: String, payloadCol: String,
                      kvCols: Seq[(String, String)]): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("payload", BinaryType)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val cols = col(idCol).cast("long") +: col(payloadCol) +:
      kvCols.map(kv => col(kv._2).cast("string"))
    df.select(cols: _*)
      .mapPartitions { rows =>
        rows.map { r =>
          val jpeg = r.getAs[Array[Byte]](1)
          // corrupt-is-data: a null payload passes through unchanged and
          // null tag values coalesce to "" (the extractors' convention —
          // jpegExif/stripJpegMeta null-guard theirs the same way)
          if (jpeg == null) Row(r.getLong(0), null)
          else {
            val seg = buildExifApp1(kvCols.zipWithIndex.map {
              case ((k, _), i) =>
                k -> (if (r.isNullAt(2 + i)) "" else r.getString(2 + i))
            })
            Row(r.getLong(0), jpeg.take(2) ++ seg ++ jpeg.drop(2))
          }
        }
      }(enc)
  }

  /** Parse the [[ExifAsciiTags]] entries out of one APP1/Exif payload
    * (both byte orders; inline and offset-addressed ASCII values).
    * Throws on structural damage — the caller latches `corrupt`.
    */
  private def parseExifAscii(b: Array[Byte], segOff: Int,
                             segLen: Int): Seq[(String, String)] = {
    val t = new TiffReader(b, segOff + 4 + 6, segOff + segLen)
    val ifd = t.base + t.r32(t.base + 4).toInt
    val n = t.r16(ifd)
    (0 until n).flatMap { k =>
      val e = ifd + 2 + 12 * k
      val tag = t.r16(e)
      val typ = t.r16(e + 2)
      val count = t.r32(e + 4).toInt
      ExifAsciiTags.get(tag) match {
        case Some(name) if typ == 2 && count > 0 =>
          val off = if (count <= 4) e + 8 else t.base + t.r32(e + 8).toInt
          require(off >= t.base && off + count <= t.end, "ASCII value OOB")
          val raw = new String(b, off, count, "ISO-8859-1")
          val z = raw.indexOf(0.toChar) // value ends at its NUL terminator
          Some(name -> (if (z < 0) raw else raw.substring(0, z)))
        case _ => None
      }
    }
  }

  /** Build an APP1/Exif segment holding ONLY a GPS IFD (little-endian):
    * IFD0 carries the GPSInfo pointer (tag 0x8825), the GPS IFD carries
    * LatitudeRef/Latitude/LongitudeRef/Longitude with the coordinate as
    * a single degree-slot RATIONAL of denominator 1e6 (a real layout —
    * decimal-degree writers use it), so micro-degrees survive EXACTLY
    * and the m16 oracle replays them as integers.
    */
  private[llm] def buildGpsApp1(latMicro: Long, lonMicro: Long): Array[Byte] = {
    val w = new TiffWriter
    w.header()
    // IFD0: one entry — the GPSInfo IFD pointer
    val gpsIfd = 8 + 2 + 12 + 4
    w.w16(1); w.w16(0x8825); w.w16(4); w.w32(1L); w.w32(gpsIfd.toLong)
    w.w32(0L)
    // GPS IFD: 4 entries + next + value area (two 3-slot RATIONALs)
    val valBase = gpsIfd + 2 + 4 * 12 + 4
    w.w16(4)
    def refEntry(tag: Int, c: Char): Unit = {
      w.w16(tag); w.w16(2); w.w32(2L)                 // ASCII "N\0" inline
      w.w8(c); w.w8(0); w.w8(0); w.w8(0)
    }
    def ratEntry(tag: Int, off: Int): Unit = {
      w.w16(tag); w.w16(5); w.w32(3L); w.w32(off.toLong) // RATIONAL x3
    }
    refEntry(1, if (latMicro < 0) 'S' else 'N')
    ratEntry(2, valBase)
    refEntry(3, if (lonMicro < 0) 'W' else 'E')
    ratEntry(4, valBase + 24)
    w.w32(0L)
    Seq(latMicro, lonMicro).foreach { m =>
      w.w32(math.abs(m)); w.w32(1000000L)             // degrees = |m|/1e6
      w.w32(0L); w.w32(1L); w.w32(0L); w.w32(1L)      // minutes, seconds = 0
    }
    app1Segment(w.bytes)
  }

  /** Plant a GPS Exif segment from integer micro-degree columns. */
  def withPlantedGps(df: DataFrame, idCol: String, payloadCol: String,
                     latMicroCol: String, lonMicroCol: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("payload", BinaryType)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    df.select(col(idCol).cast("long"), col(payloadCol),
        col(latMicroCol).cast("long"), col(lonMicroCol).cast("long"))
      .mapPartitions { rows =>
        rows.map { r =>
          val jpeg = r.getAs[Array[Byte]](1)
          // corrupt-is-data: null payload passes through; null
          // coordinates coalesce to 0 micro-degrees (the extractors'
          // null-guard convention)
          if (jpeg == null) Row(r.getLong(0), null)
          else {
            val seg = buildGpsApp1(
              if (r.isNullAt(2)) 0L else r.getLong(2),
              if (r.isNullAt(3)) 0L else r.getLong(3))
            Row(r.getLong(0), jpeg.take(2) ++ seg ++ jpeg.drop(2))
          }
        }
      }(enc)
  }

  /** Parse GPS coordinates out of one APP1/Exif payload: follows the
    * IFD0 GPSInfo pointer, reads the ref ASCII + the 3-slot RATIONAL,
    * converts to EXACT integer micro-degrees when the components divide
    * exactly (deg*1e6 + min*1e6/60 + sec*1e6/3600 — null when any
    * division is inexact: a lossy coordinate must not silently round).
    * Throws on structural damage — caller latches `corrupt`.
    */
  private def parseExifGps(b: Array[Byte], segOff: Int,
                           segLen: Int): Option[(Long, Long)] = {
    val t = new TiffReader(b, segOff + 4 + 6, segOff + segLen)
    import t.{r16, r32}
    val base = t.base
    val ifd0 = base + r32(base + 4).toInt
    val n0 = r16(ifd0)
    val gpsPtr = (0 until n0).collectFirst {
      case k if r16(ifd0 + 2 + 12 * k) == 0x8825 =>
        r32(ifd0 + 2 + 12 * k + 8)
    }
    gpsPtr.flatMap { off =>
      val g = base + off.toInt
      val ng = r16(g)
      var latRef = 'N'; var lonRef = 'E'
      var lat: Option[Long] = None
      var lon: Option[Long] = None
      def rational3(voff: Int): Option[Long] = {
        // deg/min/sec each (num, den); micro-degrees = num*1e6/(den*k)
        // with k = 1/60/3600 — kept EXACT (None on any inexact divide:
        // a lossy coordinate must not silently round)
        def part(i: Int, k: Long): Option[Long] = {
          val num = r32(voff + i * 8); val den = r32(voff + i * 8 + 4)
          val d = den * k
          if (d == 0) { if (num == 0) Some(0L) else None }
          else {
            val t = num * 1000000L
            if (t % d == 0) Some(t / d) else None
          }
        }
        for (d <- part(0, 1L); m <- part(1, 60L); s <- part(2, 3600L))
          yield d + m + s
      }
      (0 until ng).foreach { k =>
        val e = g + 2 + 12 * k
        val tag = r16(e); val typ = r16(e + 2); val count = r32(e + 4)
        tag match {
          case 1 if typ == 2 => latRef = t.byteAt(e + 8).toChar
          case 3 if typ == 2 => lonRef = t.byteAt(e + 8).toChar
          case 2 if typ == 5 && count == 3 =>
            lat = rational3(base + r32(e + 8).toInt)
          case 4 if typ == 5 && count == 3 =>
            lon = rational3(base + r32(e + 8).toInt)
          case _ => ()
        }
      }
      for (la <- lat; lo <- lon) yield
        ((if (latRef == 'S') -la else la), (if (lonRef == 'W') -lo else lo))
    }
  }

  /** Per-image GPS frame — the PII-extraction pass (the coordinates the
    * m15 strip removes): (id, lat_micro, lon_micro, corrupt); images
    * without GPS keep their row with nulls.
    */
  def jpegGps(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("lat_micro", LongType),
      StructField("lon_micro", LongType),
      StructField("corrupt", BooleanType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    df.select(col(idCol).cast("long"), col(payloadCol))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val jpeg = r.getAs[Array[Byte]](1)
          val (segs, walkCorrupt) = jpegSegments(
            if (jpeg == null) Array.emptyByteArray else jpeg)
          var corrupt = walkCorrupt
          val gps = segs
            .filter { case (m, off, len) =>
              m == 0xe1 && len >= 10 &&
                new String(jpeg, off + 4, 4, "US-ASCII") == "Exif"
            }
            .flatMap { case (_, off, len) =>
              try parseExifGps(jpeg, off, len)
              catch {
                case scala.util.control.NonFatal(_) =>
                  corrupt = true; None
              }
            }.headOption
          gps match {
            case Some((la, lo)) =>
              Row(id, java.lang.Long.valueOf(la),
                java.lang.Long.valueOf(lo), corrupt)
            case None => Row(id, null, null, corrupt)
          }
        }
      }(enc)
  }

  /** Per-image EXIF metadata frame — the [[pngMeta]] twin for JPEG: one
    * row per extracted ASCII tag (images without any keep ONE row with
    * NULL tag/value), SOF geometry on every row, `bytes_saved` = octets
    * an APPn/COM strip would shed, `corrupt` latched from the marker
    * walk AND from any damaged Exif body. Output: (id, width, height,
    * tag, value, bytes_saved, corrupt).
    */
  def jpegExif(df: DataFrame, idCol: String,
               payloadCol: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("tag", StringType),
      StructField("value", StringType),
      StructField("bytes_saved", LongType),
      StructField("corrupt", BooleanType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    df.select(col(idCol).cast("long"), col(payloadCol))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          val jpeg = r.getAs[Array[Byte]](1)
          val (segs, walkCorrupt) = jpegSegments(
            if (jpeg == null) Array.emptyByteArray else jpeg)
          // SOF0..SOF15 carry geometry; C4/C8/CC are DHT/JPG/DAC
          val sof = segs.find(s => s._1 >= 0xc0 && s._1 <= 0xcf &&
            s._1 != 0xc4 && s._1 != 0xc8 && s._1 != 0xcc && s._3 >= 9)
          val (w, h) = sof match {
            case Some((_, off, _)) =>
              ((((jpeg(off + 7) & 0xff) << 8) | (jpeg(off + 8) & 0xff))
                .asInstanceOf[Integer],
                ((((jpeg(off + 5) & 0xff) << 8) | (jpeg(off + 6) & 0xff))
                  .asInstanceOf[Integer]))
            case None => (null: Integer, null: Integer)
          }
          val saved = segs
            .filter(s => (s._1 >= 0xe1 && s._1 <= 0xef) || s._1 == 0xfe)
            .map(_._3.toLong).sum.asInstanceOf[java.lang.Long]
          var corrupt = walkCorrupt
          val tags = segs
            .filter { case (m, off, len) =>
              m == 0xe1 && len >= 10 &&
                new String(jpeg, off + 4, 4, "US-ASCII") == "Exif"
            }
            .flatMap { case (_, off, len) =>
              try parseExifAscii(jpeg, off, len)
              catch {
                case scala.util.control.NonFatal(_) =>
                  corrupt = true; Nil
              }
            }
          if (tags.isEmpty)
            Iterator.single(Row(id, w, h, null, null, saved, corrupt))
          else tags.iterator.map { case (k, v) =>
            Row(id, w, h, k, v, saved, corrupt)
          }
        }
      }(enc)
  }

  /** Strip APP1..APP15 + COM segments (JFIF APP0 and everything the
    * decoder needs survive; pixels untouched — the entropy-coded tail is
    * copied verbatim). Corrupt input comes back unchanged (the audit
    * flag belongs to [[jpegExif]]; a strip must never invent bytes).
    * Output: (id, payload, bytes_saved).
    */
  def stripJpegMeta(df: DataFrame, idCol: String,
                    payloadCol: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("payload", BinaryType),
      StructField("bytes_saved", LongType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    df.select(col(idCol).cast("long"), col(payloadCol))
      .mapPartitions { rows =>
        rows.map { r =>
          val jpeg = r.getAs[Array[Byte]](1)
          val bytes = if (jpeg == null) Array.emptyByteArray else jpeg
          val (segs, corrupt) = jpegSegments(bytes)
          val out =
            if (corrupt) bytes
            else {
              val buf = new java.io.ByteArrayOutputStream(bytes.length)
              segs.foreach { case (m, off, len) =>
                if (!((m >= 0xe1 && m <= 0xef) || m == 0xfe))
                  buf.write(bytes, off, len)
              }
              buf.toByteArray
            }
          Row(r.getLong(0), out, (bytes.length - out.length).toLong)
        }
      }(enc)
  }

  /** Plant `tEXt` chunks from row columns onto an existing PNG payload:
    * `kvCols` maps each keyword to the (string) column holding its
    * value. Batched per partition like the other encode passes.
    */
  def withPlantedText(df: DataFrame, idCol: String, payloadCol: String,
                      kvCols: Seq[(String, String)]): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("payload", BinaryType)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val cols = col(idCol).cast("long") +: col(payloadCol) +:
      kvCols.map(kv => col(kv._2).cast("string"))
    df.select(cols: _*)
      .mapPartitions { rows =>
        rows.map { r =>
          val kvs = kvCols.zipWithIndex.map { case ((k, _), i) =>
            k -> r.getString(2 + i)
          }
          Row(r.getLong(0), pngInsertText(r.getAs[Array[Byte]](1), kvs))
        }
      }(enc)
  }

  /** The degenerate-key pair VALVE on the real media decode path:
    * synthetic 200-sample WAVs for the docs below `bound` — every 10th
    * doc byte-identical (ONE degenerate content class), the rest spread
    * over `nClasses` bounded classes — through the RIFF decode to an
    * exact windowed-energy digest, then
    * [[Dedup.pairsWithinGroups]] capped at `maxGroupSize` (0 = uncapped):
    * the degenerate class drops WHOLE once it exceeds the cap, bounded
    * classes keep their exact pair sets.
    */
  def plantedMediaPairs(docs: DataFrame, bound: Long, nClasses: Int,
                        maxGroupSize: Int): DataFrame = {
    val keyed = docs.filter(col("doc_id") < bound)
      .select(col("doc_id").cast("long").as("id"),
        when(col("doc_id") % 10 === 0, lit(0L))
          .otherwise(col("doc_id") % nClasses + 1L).as("key"),
        lit(1).as("scale"))
    val wavs = withSyntheticAudioScaled(keyed, "id", "key", "scale",
      baseSamples = 200, rate = 8000)
    val feats = audioWindowEnergy(wavs, "id", windows = 10)
      .groupBy("id")
      .agg(md5(to_json(sort_array(
        collect_list(struct(col("win"), col("energy"))))))
        .as("content_key"))
    Dedup.pairsWithinGroups(feats, "content_key", "id",
      maxGroupSize = maxGroupSize)
  }

  /** Fixture ids for the composed media chains: doc_id < `bound`, key
    * doc_id mod `nKeys` (the planted duplicate clusters), scale 1 for
    * the first half of the ids and 2 for the second (the upsampled
    * renditions).
    */
  private def chainIds(docs: DataFrame, bound: Long, nKeys: Int)
      : DataFrame =
    docs.filter(col("doc_id") < bound)
      .select(col("doc_id").cast("long").as("id"),
        (col("doc_id") % nKeys).as("key"),
        when(col("doc_id") < bound / 2, 1).otherwise(2).as("scale"))

  /** TAR/WebDataset round trip for the media chains: `members` (id,
    * name, payload) → `parts` executor-written gzip shards under
    * `tarDir` → read back as the per-member sample frame (pinned in
    * `CacheScope.harness`: the TAR re-streams per action and every
    * stage hangs off it — one container decode). A corrupt shard fails
    * the chain.
    */
  private def tarRoundTrip(members: DataFrame, tarDir: String,
                           parts: Int): DataFrame = {
    graft.sources.TarIngest.writeTarDir(
      members.repartition(parts, col("id")).drop("id"), tarDir,
      gzip = true)
    val (read, audit) =
      graft.sources.TarIngest.readTarDir(members.sparkSession, tarDir)
    require(audit.filter(col("corrupt")).count() == 0,
      s"corrupt shards in $tarDir")
    graft.CacheScope.harness.track(
      graft.sources.TarIngest.wdsSamples(read)).toDF()
  }

  /** (id, payload) of one sample extension, id parsed from the key. */
  private def samplesByExt(samples: DataFrame, ext: String): DataFrame =
    samples.filter(col("ext") === ext)
      .select(regexp_extract(col("sample_key"), "(\\d+)$", 1)
        .cast("long").as("id"), col("payload"))

  /** The caption text of each sample's .txt member as (id, caption). */
  private def captions(samples: DataFrame): DataFrame =
    samplesByExt(samples, "txt")
      .select(col("id"), decode(col("payload"), "UTF-8").as("caption"))

  /** A doc's caption member: (id, name, payload). */
  private def captionMembers(docs: DataFrame, prefix: String): DataFrame =
    docs.select(col("doc_id").cast("long").as("id"),
      format_string(s"$prefix/%05d.txt", col("doc_id")).as("name"),
      encode(coalesce(col("text"), lit("")), "UTF-8").as("payload"))

  /** The MULTIMODAL end-to-end chain (the LAION/DataComp shape) from
    * the CONTAINER, over the first `bound` documents: synthetic
    * cross-scale PNGs (`nKeys` perceptual clusters, second half
    * pixel-doubled) carrying a planted GPS tEXt chunk, plus each doc's
    * caption, through `parts` TAR/WebDataset shards → GPS proven to
    * survive the round trip → ancillary strip, proven lossless against
    * a strip of the pristine encode → dHash over the stripped bytes →
    * star-edge connected components → canonical election by DECODED
    * width → caption join → interleaved packing (64 image tokens +
    * caption tokens, capacity 256, `blockSize`-doc blocks). Returns the
    * (stage, n_rows) report; [[imageChainOracleSql]] replays it. Pixels
    * never shuffle: hashes, widths and token counts travel.
    */
  def imageChain(docs: DataFrame, bound: Long, nKeys: Int, tarDir: String,
                 parts: Int, blockSize: Int): DataFrame = {
    val cp = CorpusPipeline
    val docsIn = docs.filter(col("doc_id") < bound)
    val pristine = withSyntheticImagesScaled(chainIds(docs, bound, nKeys),
      "id", "key", "scale", baseW = 36, baseH = 32)
    val gpsVals = docsIn.select(col("doc_id").cast("long").as("id"),
      format_string("lat=%d;lon=%d",
        col("doc_id") * 1003 % 180000000L - 90000000L,
        col("doc_id") * 2017 % 360000000L - 180000000L).as("gps_v"))
    val planted = withPlantedText(pristine.join(gpsVals, "id"), "id",
      "payload", Seq("gps" -> "gps_v"))
    val samples = tarRoundTrip(
      planted.select(col("id"),
          format_string("img/%05d.png", col("id")).as("name"),
          col("payload"))
        .unionByName(captionMembers(docsIn, "img")), tarDir, parts)
    val pngs = samplesByExt(samples, "png")
    val gpsSeen = pngMeta(pngs, "id", "payload")
      .filter(col("keyword") === "gps")
      .join(gpsVals, "id")
      .filter(col("value") === col("gps_v"))
    // strip INSIDE the chain, on the container bytes; pinned — the
    // dHash, the width decode and the restored-proof all read it
    val stripped = graft.CacheScope.harness.track(
      stripPngMeta(pngs, "id", "payload")
        .select(col("id"), col("payload"))).toDF()
    val restored = stripped
      .select(col("id"), md5(col("payload")).as("m1"))
      .join(stripPngMeta(pristine, "id", "payload")
        .select(col("id"), md5(col("payload")).as("m0")), "id")
      .filter(col("m1") === col("m0"))
    val hashed = dhashes(stripped, "id").filter(col("dhash").isNotNull)
    val cc = Dedup.connectedComponents(hashed.select(col("id")),
      Dedup.starEdges(hashed, "dhash", "id"))
    val meta = decodeImageFeatures(stripped, "id")
      .select(col("id"), col("width").cast("long").as("width"))
    // the map-side-combinable argmax election — never a rank window
    // over the connected-components rep key
    val canonical = Dedup.electCanonical(cc.join(meta, "id"), "rep", "id",
        "width")
      .select(col("rep"), col("canonical"))
    val caps = captions(samples)
    val withCap = canonical.join(caps, canonical("canonical") === caps("id"))
    val counts = withCap.select(col("canonical").as("doc_id"),
      (lit(64L) + TextAnalysis.tokenCount(col("caption"))).as("n_tokens"))
    val packed = cp.packByCount(counts, capacity = 256, blockSize = blockSize)
    // stage 0 counts the CACHED sample frame (one row per member), not
    // the reader's frame, which would re-stream the archives
    cp.stageReport(
      cp.stageRow("0_tar_members", samples),
      cp.stageRow("1_samples", samples, countDistinct(col("sample_key"))),
      cp.stageRow("2_gps_seen", gpsSeen),
      cp.stageRow("3_strip_restored", restored),
      cp.stageRow("4_canonical", canonical),
      cp.stageRow("5_caption_join", withCap),
      cp.stageRow("6_blocks", packed,
        countDistinct(col("block") * 10000L + col("bin"))),
      cp.stageRow("7_tokens", counts, sum(col("n_tokens"))))
  }

  /** DuckDB replay of [[imageChain]] over the `documents` table: the
    * cluster count via a recursive closure over the planted keys, the
    * election via the planted widths, the block count via the pack CTE.
    */
  def imageChainOracleSql(bound: Long, nKeys: Int, blockSize: Int): String =
    s"""WITH RECURSIVE ${chainIdsOracleCtes(bound, nKeys, 36)},
       |cnt AS (
       |  SELECT c.id AS doc_id,
       |    64 + CAST(len(list_filter(string_split_regex(
       |      trim(coalesce(d.text, '')), '\\s+'),
       |      t -> strlen(t) > 0)) AS BIGINT) AS nt
       |  FROM canon c JOIN documents d ON d.doc_id = c.id),
       |${packOracleCtes(256, blockSize)}
       |SELECT stage, n_rows FROM (
       |  SELECT '0_tar_members' AS stage,
       |    CAST(2 * count(*) AS BIGINT) AS n_rows FROM ids
       |  UNION ALL SELECT '1_samples', CAST(count(*) AS BIGINT)
       |    FROM ids
       |  UNION ALL SELECT '2_gps_seen', CAST(count(*) AS BIGINT)
       |    FROM ids
       |  UNION ALL SELECT '3_strip_restored',
       |    CAST(count(*) AS BIGINT) FROM ids
       |  UNION ALL SELECT '4_canonical',
       |    CAST(count(DISTINCT rep) AS BIGINT) FROM cc
       |  UNION ALL SELECT '5_caption_join',
       |    CAST(count(*) AS BIGINT) FROM canon
       |  UNION ALL SELECT '6_blocks',
       |    CAST(count(DISTINCT block * 10000 + bin) AS BIGINT)
       |    FROM pk_p
       |  UNION ALL SELECT '7_tokens',
       |    CAST(sum(nt) AS BIGINT) FROM cnt)
       |ORDER BY stage""".stripMargin

  /** The AUDIO/VIDEO end-to-end chain, [[imageChain]]'s twin for the
    * remaining modalities, over the first `bound` documents: synthetic
    * WAVs (`nKeys` envelope clusters, second half integer-upsampled 2×,
    * so envelopes collide while bytes and durations differ), 6-frame
    * MJPEG AVIs and captions through `parts` TAR/WebDataset shards →
    * WAV bytes proven restored through the round trip → RIFF/PCM decode
    * to the duration-invariant envelope → star-edge connected
    * components → longest-rendition election via the argmax aggregate
    * → AVI walk to scene-cut features → caption join → packing (128
    * audio tokens + caption tokens, capacity 384, `blockSize`-doc
    * blocks). Returns the (stage, n_rows) report; [[avChainOracleSql]]
    * replays it. Payloads never shuffle: envelopes, durations and
    * token counts travel.
    */
  def avChain(docs: DataFrame, bound: Long, nKeys: Int, tarDir: String,
              parts: Int, blockSize: Int): DataFrame = {
    val cp = CorpusPipeline
    val ids = chainIds(docs, bound, nKeys)
    val wavs = withSyntheticAudioScaled(ids, "id", "key", "scale",
      baseSamples = 1000, rate = 8000)
    val avis = withSyntheticVideos(ids, "id", frames = 6)
    val samples = tarRoundTrip(
      wavs.select(col("id"),
          format_string("av/%05d.wav", col("id")).as("name"),
          col("payload"))
        .unionByName(avis.select(col("id"),
          format_string("av/%05d.avi", col("id")).as("name"),
          col("payload")))
        .unionByName(captionMembers(docs.filter(col("doc_id") < bound),
          "av")), tarDir, parts)
    val wavsIn = samplesByExt(samples, "wav")
    // container round trip proven lossless on the audio bytes
    val restored = wavsIn
      .select(col("id"), md5(col("payload")).as("m1"))
      .join(wavs.select(col("id"), md5(col("payload")).as("m0")), "id")
      .filter(col("m1") === col("m0"))
    // ONE audio decode feeds dedup key, duration and the count
    val env = graft.CacheScope.harness.track(
      audioEnvelopes(wavsIn, "id", windows = 10)).toDF()
    val cc = Dedup.connectedComponents(env.select(col("id")),
      Dedup.starEdges(
        env.select(col("id"), md5(to_json(col("envelope"))).as("akey")),
        "akey", "id"))
    val canonical = Dedup.electCanonical(
      cc.join(env.select(col("id"), col("num_samples")), "id"),
      "rep", "id", "num_samples")
    // video features: the real AVI walk, the scene-cut rule
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("frame_idx")
    val cuts = decodeVideoFrames(samplesByExt(samples, "avi"), "id")
      .withColumn("prev", lag(col("sum_gray"), 1).over(w))
      .filter(col("prev").isNotNull &&
        abs(col("sum_gray") - col("prev")) > 300)
    val caps = captions(samples)
    val withCap = canonical.join(caps, canonical("canonical") === caps("id"))
    val counts = withCap.select(col("canonical").as("doc_id"),
      (lit(128L) + TextAnalysis.tokenCount(col("caption"))).as("n_tokens"))
    val packed = cp.packByCount(counts, capacity = 384, blockSize = blockSize)
    cp.stageReport(
      cp.stageRow("0_tar_members", samples),
      cp.stageRow("1_samples", samples, countDistinct(col("sample_key"))),
      cp.stageRow("2_wav_restored", restored),
      cp.stageRow("3_audio_envelopes", env),
      cp.stageRow("4_scene_cuts", cuts),
      cp.stageRow("5_clusters", cc, countDistinct(col("rep"))),
      cp.stageRow("6_canonical_idsum", canonical, sum(col("canonical"))),
      cp.stageRow("7_caption_join", withCap),
      cp.stageRow("8_blocks", packed,
        countDistinct(col("block") * 10000L + col("bin"))),
      cp.stageRow("9_tokens", counts, sum(col("n_tokens"))))
  }

  /** DuckDB replay of [[avChain]] over the `documents` table; the
    * scene cuts replay analytically from the planted pixel formula.
    */
  def avChainOracleSql(bound: Long, nKeys: Int, blockSize: Int): String =
    s"""WITH RECURSIVE ${chainIdsOracleCtes(bound, nKeys, 1000)},
       |fr AS (
       |  SELECT d.doc_id, f.frame_idx,
       |    (SELECT CAST(sum((d.doc_id*31 + f.frame_idx*7 + i) % 256)
       |       AS BIGINT) FROM range(64) t(i)) AS sum_gray
       |  FROM documents d CROSS JOIN
       |    (SELECT unnest(generate_series(0, 5)) AS frame_idx) f
       |  WHERE d.doc_id < $bound),
       |d2 AS (
       |  SELECT doc_id,
       |    abs(sum_gray - lag(sum_gray) OVER (PARTITION BY doc_id
       |      ORDER BY frame_idx)) AS delta
       |  FROM fr),
       |cnt AS (
       |  SELECT c.id AS doc_id,
       |    128 + CAST(len(list_filter(string_split_regex(
       |      trim(coalesce(d.text, '')), '\\s+'),
       |      t -> strlen(t) > 0)) AS BIGINT) AS nt
       |  FROM canon c JOIN documents d ON d.doc_id = c.id),
       |${packOracleCtes(384, blockSize)}
       |SELECT stage, n_rows FROM (
       |  SELECT '0_tar_members' AS stage,
       |    CAST(3 * count(*) AS BIGINT) AS n_rows FROM ids
       |  UNION ALL SELECT '1_samples', CAST(count(*) AS BIGINT)
       |    FROM ids
       |  UNION ALL SELECT '2_wav_restored', CAST(count(*) AS BIGINT)
       |    FROM ids
       |  UNION ALL SELECT '3_audio_envelopes',
       |    CAST(count(*) AS BIGINT) FROM ids
       |  UNION ALL SELECT '4_scene_cuts',
       |    (SELECT CAST(count(*) AS BIGINT) FROM d2
       |     WHERE delta IS NOT NULL AND delta > 300)
       |  UNION ALL SELECT '5_clusters',
       |    CAST(count(DISTINCT rep) AS BIGINT) FROM cc
       |  UNION ALL SELECT '6_canonical_idsum',
       |    (SELECT CAST(sum(id) AS BIGINT) FROM canon)
       |  UNION ALL SELECT '7_caption_join',
       |    CAST(count(*) AS BIGINT) FROM canon
       |  UNION ALL SELECT '8_blocks',
       |    CAST(count(DISTINCT block * 10000 + bin) AS BIGINT)
       |    FROM pk_p
       |  UNION ALL SELECT '9_tokens',
       |    CAST(sum(nt) AS BIGINT) FROM cnt)
       |ORDER BY stage""".stripMargin

  /** Oracle CTEs for [[chainIds]] and the canonical election: ids, the
    * planted-key edges e, their recursive closure reach, cc (id, rep)
    * and canon (rep, id) — the largest `unit · scale` rendition, ties to
    * the smaller id. Needs `WITH RECURSIVE`.
    */
  private def chainIdsOracleCtes(bound: Long, nKeys: Int,
                                 unit: Int): String =
    s"""ids AS (
       |  SELECT doc_id AS id, doc_id % $nKeys AS key,
       |    CASE WHEN doc_id < ${bound / 2} THEN 1 ELSE 2 END AS scale
       |  FROM documents WHERE doc_id < $bound),
       |e AS (
       |  SELECT a.id AS a, b.id AS b FROM ids a JOIN ids b
       |  ON a.key = b.key AND a.id <> b.id),
       |reach AS (
       |  SELECT id AS src, id AS dst FROM ids
       |  UNION
       |  SELECT r.src, e.b AS dst FROM reach r
       |  JOIN e ON r.dst = e.a),
       |cc AS (SELECT src AS id, min(dst) AS rep FROM reach
       |       GROUP BY src),
       |rk AS (
       |  SELECT rep, id,
       |    row_number() OVER (PARTITION BY rep
       |      ORDER BY $unit * i.scale DESC, id) AS rk
       |  FROM cc JOIN ids i USING (id)),
       |canon AS (SELECT rep, id FROM rk WHERE rk = 1)""".stripMargin

  /** Oracle CTEs pk_n/pk_p replaying [[CorpusPipeline.packByCount]]
    * over `cnt` (doc_id, nt): the greedy per-block bin walk.
    */
  private def packOracleCtes(capacity: Int, blockSize: Int): String =
    s"""pk_n AS (
       |  SELECT doc_id, doc_id // $blockSize AS block, nt,
       |    row_number() OVER (PARTITION BY doc_id // $blockSize
       |      ORDER BY doc_id) AS rn
       |  FROM cnt),
       |pk_p AS (
       |  SELECT doc_id, block, nt, rn, 0 AS bin, nt AS bt
       |  FROM pk_n WHERE rn = 1
       |  UNION ALL
       |  SELECT n.doc_id, n.block, n.nt, n.rn,
       |    CASE WHEN p.bt + n.nt <= $capacity THEN p.bin ELSE p.bin + 1
       |      END,
       |    CASE WHEN p.bt + n.nt <= $capacity THEN p.bt + n.nt ELSE n.nt
       |      END
       |  FROM pk_p p JOIN pk_n n
       |    ON n.block = p.block AND n.rn = p.rn + 1)""".stripMargin
}
