package graft.llm

import java.awt.image.BufferedImage

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import TextAnalysis.tokenCountSql

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
    * yield null features (corrupt-is-data), and a NULL payload a NULL
    * `byte_len` and NULL features. A stub decoder
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
      : DataFrame =
    batched(df, idCol, col("payload"))(new StructType()
        .add("id", LongType).add("byte_len", LongType)
        .add("decoder", StringType).add("features", ArrayType(FloatType))) {
      _.map { r =>
        val payload = r.getAs[Array[Byte]](1)
        if (payload == null) Row(r.getLong(0), null, decoderName, null)
        else Row(r.getLong(0), payload.length.toLong, decoderName,
          decoder(payload))
      }
    }

  /** The one row-batching pass of every frame op here: select `idCol`
    * (cast to long, as `id`) and `cols`, then walk each partition's rows
    * once through `f` into `out` rows (the Scala analog of
    * `mapInPandas`: no per-row task overhead, no driver collect).
    * Per-partition setup, such as a decoder or a digest, goes in `f`
    * before it walks the rows.
    */
  private def batched(df: DataFrame, idCol: String, cols: Column*)(
      out: StructType)(f: Iterator[Row] => Iterator[Row]): DataFrame =
    df.select(col(idCol).cast("long").as("id") +: cols: _*)
      .mapPartitions(f)(Encoders.row(out))

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

  /** The one synthetic raster: an 8-bit gray gradient of (w·scale)×(h·scale)
    * pixels whose pixel (x, y) is (key·31 + offset + (y/scale)·w + x/scale)
    * mod 256, written by the JDK's ImageIO writer for `format`. Exact by
    * construction, so a decode is oracle-checkable analytically
    * ([[grayPixelSumSql]] replays the luminance sum in SQL).
    */
  private def grayGradient(key: Long, w: Int, h: Int, offset: Long,
                           scale: Int, format: String): Array[Byte] = {
    val img = new BufferedImage(w * scale, h * scale,
      BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h * scale) {
      var x = 0
      while (x < w * scale) {
        raster.setSample(x, y, 0,
          ((key * 31 + offset + (y / scale) * w + x / scale) % 256).toInt)
        x += 1
      }
      y += 1
    }
    encodeImage(img, format)
  }

  private def encodeImage(img: BufferedImage, format: String): Array[Byte] = {
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, format, baos)
    baos.toByteArray
  }

  /** [[grayGradient]] as a lossless PNG. The `scale`× image is the exact
    * pixel-doubling (tripling, …) of the `scale` = 1 base, so perceptual
    * fingerprints that pool in integer arithmetic (dHash with base dims
    * divisible by its 9×8 grid) are IDENTICAL across scales while the
    * encoded bytes differ — the planted ground truth for near-duplicate
    * (not byte-duplicate) image detection.
    */
  def syntheticGrayPng(id: Long, w: Int = 8, h: Int = 8, offset: Long = 0L,
                       scale: Int = 1): Array[Byte] =
    grayGradient(id, w, h, offset, scale, "png")

  /** DuckDB: the exact luminance sum of [[syntheticGrayPng]]`(key, 8, 8,
    * offset)` as a BIGINT scalar subquery — Σ over `pixels` of
    * (key·31 + offset + pixel) mod 256, `pixel` the source index of output
    * pixel `i` (a resize samples a subset). The one SQL spelling of the
    * raster rule; `RegistryInvariantsSpec` fails any other.
    */
  def grayPixelSumSql(key: String, offset: String = "0", pixels: Int = 64,
                      pixel: String = "i"): String =
    s"(SELECT CAST(sum(($key*31 + $offset + $pixel) % 256) AS BIGINT) " +
      s"FROM range($pixels) t(i))"

  /** The one batched synthetic-payload pass: (id, payload) rows with
    * `gen(key, scale)` as the payload.
    */
  private def synthetic(df: DataFrame, idCol: String, key: Column,
                        scale: Column)(
      gen: (Long, Int) => Array[Byte]): DataFrame =
    batched(df, idCol, key.cast("long"), scale.cast("int"))(new StructType()
        .add("id", LongType, nullable = false).add("payload", BinaryType)) {
      _.map(r => Row(r.getLong(0), gen(r.getLong(1), r.getInt(2))))
    }

  /** Attach a real w×h PNG payload per row, keyed by the id. */
  def withSyntheticImages(df: DataFrame, idCol: String,
                          w: Int = 8, h: Int = 8): DataFrame =
    synthetic(df, idCol, col(idCol), lit(1))((k, _) =>
      syntheticGrayPng(k, w, h))

  /** Attach a scaled synthetic PNG per row from (key, scale) columns. */
  def withSyntheticImagesScaled(df: DataFrame, idCol: String,
                                keyCol: String, scaleCol: String,
                                baseW: Int, baseH: Int): DataFrame =
    synthetic(df, idCol, col(keyCol), col(scaleCol))((k, s) =>
      syntheticGrayPng(k, baseW, baseH, scale = s))

  /** Row-major integer luminance of a decoded image, and its sum. */
  private final case class Luma(w: Int, h: Int, px: Array[Int], total: Long)

  /** The one image reader: JDK ImageIO (PNG/JPEG/BMP/GIF — no external
    * library) to integer luminance — the exact band sample of a
    * single-band gray image, the Rec.601 integer luma of anything else.
    * A palette-indexed raster is single-band too, but its samples are
    * palette INDICES, not luminance, so it goes through getRGB. None on
    * payloads ImageIO cannot decode and on empty images: at corpus scale
    * corrupt blobs are data, not exceptions.
    */
  private def readLuma(bytes: Array[Byte]): Option[Luma] = {
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      catch { case _: Exception => null }
    if (img == null || img.getWidth <= 0 || img.getHeight <= 0) return None
    val w = img.getWidth; val h = img.getHeight
    val raster = img.getRaster
    val singleBand = raster.getNumBands == 1 &&
      !img.getColorModel.isInstanceOf[java.awt.image.IndexColorModel]
    val px = new Array[Int](w * h)
    var total = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v =
          if (singleBand) raster.getSample(x, y, 0)
          else {
            val rgb = img.getRGB(x, y)
            (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff) +
              114 * (rgb & 0xff)) / 1000
          }
        px(y * w + x) = v
        total += v
        x += 1
      }
      y += 1
    }
    Some(Luma(w, h, px, total))
  }

  /** (sum, count) of each cell of a rows×cols grid over `l`, row-major:
    * cell (r, c) spans pixel rows [h·r/rows, h·(r+1)/rows) and columns
    * [w·c/cols, w·(c+1)/cols) — the pooling of both the feature vector
    * and dHash, each of which takes its own mean of the integer sum.
    */
  private def cellSums(l: Luma, rows: Int, cols: Int): Array[(Long, Int)] =
    Array.tabulate(rows * cols) { i =>
      val (r, c) = (i / cols, i % cols)
      val (yHi, xLo, xHi) =
        (l.h * (r + 1) / rows, l.w * c / cols, l.w * (c + 1) / cols)
      var sum = 0L; var n = 0
      var y = l.h * r / rows
      while (y < yHi) {
        var x = xLo
        while (x < xHi) { sum += l.px(y * l.w + x); n += 1; x += 1 }
        y += 1
      }
      (sum, n)
    }

  /** REAL image decode: dimensions, exact integer luminance sum, and a
    * grid×grid mean-pooled luminance vector (the cheap "thumbnail
    * embedding" a vision pipeline feeds downstream). Non-decodable
    * payloads yield null fields. Batched per partition like
    * `decodeFeatures`.
    */
  def decodeImageFeatures(df: DataFrame, idCol: String,
                          grid: Int = 4): DataFrame =
    batched(df, idCol, col("payload"))(new StructType()
        .add("id", LongType).add("width", IntegerType)
        .add("height", IntegerType).add("sum_gray", LongType)
        .add("features", ArrayType(FloatType))) {
      _.map { r =>
        decodeImage(r.getAs[Array[Byte]](1), grid) match {
          case Some((w, h, sum, feats)) => Row(r.getLong(0), w, h, sum, feats)
          case None => Row(r.getLong(0), null, null, null, null)
        }
      }
    }

  /** @return (width, height, integer luminance sum, grid² mean-pool). */
  def decodeImage(bytes: Array[Byte],
                  grid: Int): Option[(Int, Int, Long, Array[Float])] =
    readLuma(bytes).map { l =>
      (l.w, l.h, l.total, cellSums(l, grid, grid).map { case (sum, n) =>
        if (n > 0) sum.toFloat / n / 255f else 0f
      })
    }

  /** REAL image resize: nearest-neighbor with integer floor mapping
    * (src = dst·srcDim/dstDim), re-encoded as grayscale PNG bytes. The
    * sampling is hand-rolled rather than Graphics2D's interpolating
    * drawImage so the output bytes are bit-deterministic across JVMs and
    * renderers — a resize whose pixels depend on the rasterizer can't be
    * content-addressed, deduped, or oracle-checked. Color inputs are
    * resized in `decodeImage`'s integer-luma space. None on undecodable
    * payloads.
    */
  def resizeImage(bytes: Array[Byte], dstW: Int,
                  dstH: Int): Option[Array[Byte]] = {
    require(dstW > 0 && dstH > 0)
    readLuma(bytes).map { l =>
      val out = new BufferedImage(dstW, dstH, BufferedImage.TYPE_BYTE_GRAY)
      val raster = out.getRaster
      for (y <- 0 until dstH; x <- 0 until dstW)
        raster.setSample(x, y, 0, l.px((y * l.h / dstH) * l.w + x * l.w / dstW))
      encodeImage(out, "png")
    }
  }

  /** Batched per-partition resize over a binary payload column — the
    * thumbnail stage of an image-corpus pipeline. Undecodable payloads
    * become null thumbnails.
    */
  def resizeImages(df: DataFrame, idCol: String, dstW: Int,
                   dstH: Int): DataFrame =
    batched(df, idCol, col("payload"))(
        new StructType().add("id", LongType).add("thumb", BinaryType)) {
      _.map(r => Row(r.getLong(0),
        resizeImage(r.getAs[Array[Byte]](1), dstW, dstH).orNull))
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
    * undecodable payloads and on images under 9×8.
    */
  def dhashImage(bytes: Array[Byte]): Option[Long] =
    readLuma(bytes).filter(l => l.w >= 9 && l.h >= 8).map { l =>
      val cells = cellSums(l, 8, 9).map { case (sum, n) =>
        if (n > 0) sum / n else 0L
      }
      var hash = 0L
      for (r <- 0 until 8; c <- 0 until 8)
        hash = (hash << 1) |
          (if (cells(r * 9 + c + 1) > cells(r * 9 + c)) 1L else 0L)
      hash
    }

  /** Batched per-partition dHash over a binary payload column — ONE
    * decode per image (the m09 lesson: decode IS the query cost at an
    * image-corpus scale). Undecodable payloads yield null.
    */
  def dhashes(df: DataFrame, idCol: String): DataFrame =
    batched(df, idCol, col("payload"))(
        new StructType().add("id", LongType).add("dhash", LongType)) {
      _.map(r => Row(r.getLong(0),
        dhashImage(r.getAs[Array[Byte]](1)).map(Long.box).orNull))
    }

  /** The planted cross-scale image fixture: per doc below `bound`, a
    * 36×32-base gradient PNG keyed doc_id mod `nKeys` (the planted
    * duplicate clusters; 36×32 divides the dHash grid), the first half
    * at scale 1 and the second half pixel-doubled. (id, payload).
    * [[chainIdsOracleCtes]] replays it.
    */
  def plantedImages(docs: DataFrame, bound: Long, nKeys: Int): DataFrame =
    withSyntheticImagesScaled(chainIds(docs, bound, nKeys), "id", "key",
      "scale", baseW = 36, baseH = 32)

  /** The highest-resolution rendition per perceptual cluster of (id,
    * payload) images: dHash → STAR edges (rep = min id per hash, linear
    * — one degenerate hash never fans out quadratically) → connected
    * components → election by DECODED width desc, id asc (resolution
    * read from the image, never trusted metadata) through the
    * map-side-combinable argmax, never a rank window over the rep key.
    * Pixels never shuffle: (id, dhash, width) scalars do. Output: (rep,
    * canonical, width, n_members).
    */
  def canonicalImages(imgs: DataFrame): DataFrame = {
    val hashed = dhashes(imgs, "id").filter(col("dhash").isNotNull)
    val cc = Dedup.connectedComponents(hashed.select(col("id")),
      Dedup.starEdges(hashed, "dhash", "id"))
    val meta = decodeImageFeatures(imgs, "id")
      .select(col("id"), col("width").cast("long").as("width"))
    Dedup.electCanonical(cc.join(meta, "id"), "rep", "id", "width")
  }
  // ---------------------------------------------- real decode: video (AVI)

  /** Parsed AVI container: header timing plus the raw per-frame payloads
    * (video stream chunks `##dc`/`##db`, in file order).
    */
  final case class AviInfo(usPerFrame: Long, totalFrames: Long,
                           frames: IndexedSeq[Array[Byte]])

  /** The one RIFF chunk walk (AVI and WAV): (fourcc, data offset, data
    * size) of each word-aligned chunk in `b[from, to)`. None when a
    * declared size overruns `to` — checked in Long arithmetic, so a size
    * near Int.MaxValue is damage, never a wrapped offset.
    */
  private def riffChunks(b: Array[Byte], from: Int,
                         to: Int): Option[Seq[(String, Int, Int)]] = {
    val out = scala.collection.mutable.ArrayBuffer[(String, Int, Int)]()
    var pos = from
    while (pos + 8 <= to) {
      val size = readLe32(b, pos + 4)
      if (size < 0 || pos + 8L + size > to) return None
      out += ((fourcc(b, pos), pos + 8, size))
      pos += 8 + size + (size & 1)
    }
    Some(out.toSeq)
  }

  private def readLe32(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) | ((b(i + 2) & 0xff) << 16) |
      ((b(i + 3) & 0xff) << 24)

  private def fourcc(b: Array[Byte], i: Int): String =
    new String(b, i, 4, "US-ASCII")

  /** RIFF/AVI container walker, two levels deep: `LIST hdrl` → `avih`
    * for timing, `LIST movi` → video chunks for frame payloads. Handles
    * the `rec ` grouping LISTs interleaved AVIs use. Returns None on
    * anything that is not a well-formed AVI.
    */
  def parseAvi(bytes: Array[Byte]): Option[AviInfo] = {
    if (bytes == null || bytes.length < 24 || fourcc(bytes, 0) != "RIFF" ||
        fourcc(bytes, 8) != "AVI ") return None
    var usPerFrame = 0L; var totalFrames = 0L; var seenAvih = false
    val frames = scala.collection.mutable.ArrayBuffer[Array[Byte]]()

    def isList(id: String, off: Int, size: Int, sub: String): Boolean =
      id == "LIST" && size >= 4 && fourcc(bytes, off) == sub
    def isVideoChunk(id: String): Boolean =
      id.length == 4 && id(0).isDigit && id(1).isDigit &&
        (id.endsWith("dc") || id.endsWith("db"))

    def walkMovi(from: Int, to: Int): Boolean =
      riffChunks(bytes, from, to).exists(_.forall { case (id, off, size) =>
        if (isList(id, off, size, "rec ")) walkMovi(off + 4, off + size)
        else {
          if (isVideoChunk(id))
            frames += java.util.Arrays.copyOfRange(bytes, off, off + size)
          true
        }
      })

    def walkHdrl(from: Int, to: Int): Boolean =
      riffChunks(bytes, from, to).map(_.foreach {
        case ("avih", off, size) if size >= 32 =>
          // both DWORDs are unsigned: mask like usPerFrame so an AVI
          // declaring >= 2^31 frames reports the true count, not negative
          usPerFrame = readLe32(bytes, off).toLong & 0xffffffffL
          totalFrames = readLe32(bytes, off + 16).toLong & 0xffffffffL
          seenAvih = true
        case _ => ()
      }).isDefined

    val ok = riffChunks(bytes, 12, bytes.length).exists(_.forall {
      case (id, off, size) =>
        if (isList(id, off, size, "hdrl")) walkHdrl(off + 4, off + size)
        else if (isList(id, off, size, "movi")) walkMovi(off + 4, off + size)
        else true
    })
    if (!ok || !seenAvih || frames.isEmpty) None
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
                          w: Int = 8, h: Int = 8): DataFrame =
    synthetic(df, idCol, col(idCol), lit(1))((k, _) => buildAvi(
      (0 until frames).map(f => syntheticGrayPng(k, w, h, f * 7L)), w, h))

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
    batched(df, idCol, col("payload"))(new StructType()
        .add("id", LongType).add("frame_idx", IntegerType)
        .add("width", IntegerType).add("height", IntegerType)
        .add("sum_gray", LongType)) {
      _.flatMap { r =>
        val id = r.getLong(0)
        parseAvi(r.getAs[Array[Byte]](1)).toSeq.flatMap { avi =>
          (0 until avi.frames.length by everyNth).flatMap { fi =>
            decodeImage(avi.frames(fi), grid = 1).map {
              case (w, h, sum, _) => Row(id, fi, w, h, sum)
            }
          }
        }
      }
    }
  }

  /** Scene cuts over [[decodeVideoFrames]]' rows: every frame after a
    * video's first, with `delta` = |Δ`sum_gray`| to the previous frame
    * and `is_cut` = delta > 300 — the standard cheap shot-boundary
    * signal. [[sceneCutsOracleCtes]] replays it.
    */
  def sceneCuts(frames: DataFrame): DataFrame = {
    val delta = abs(col("sum_gray") - col("prev"))
    frames.withColumn("prev", lag(col("sum_gray"), 1)
        .over(Window.partitionBy("id").orderBy("frame_idx")))
      .filter(col("prev").isNotNull)
      .select(col("id"), col("frame_idx"), delta.as("delta"),
        (delta > 300).cast("int").as("is_cut"))
  }

  /** DuckDB replay of [[sceneCuts]] over [[withSyntheticVideos]]' 6-frame
    * 8×8 videos of the docs below `bound`: `fr` (doc_id, frame_idx,
    * sum_gray), then `d2` (doc_id, frame_idx, delta; delta NULL on a
    * video's first frame).
    */
  def sceneCutsOracleCtes(bound: Long): String =
    s"""fr AS (
       |  SELECT d.doc_id, f.frame_idx,
       |    ${grayPixelSumSql("d.doc_id", "f.frame_idx*7")} AS sum_gray
       |  FROM documents d CROSS JOIN
       |    (SELECT unnest(generate_series(0, 5)) AS frame_idx) f
       |  WHERE d.doc_id < $bound),
       |d2 AS (
       |  SELECT doc_id, frame_idx,
       |    abs(sum_gray - lag(sum_gray) OVER (PARTITION BY doc_id
       |      ORDER BY frame_idx)) AS delta
       |  FROM fr)""".stripMargin

  /** Per-frame content digests: walk the AVI container and md5 each
    * frame's bytes — the index behind exact CROSS-VIDEO frame matching
    * (stock-footage/intro-card detection). Videos then meet through a
    * 16-byte digest equi-join, never through pixel data; non-AVI
    * payloads contribute no rows.
    */
  def frameHashes(df: DataFrame, idCol: String): DataFrame =
    batched(df, idCol, col("payload"))(new StructType()
        .add("id", LongType, nullable = false)
        .add("frame_idx", IntegerType, nullable = false)
        .add("frame_md5", StringType, nullable = false)) { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.flatMap { r =>
        val id = r.getLong(0)
        parseAvi(r.getAs[Array[Byte]](1)).toSeq.flatMap { avi =>
          avi.frames.zipWithIndex.map { case (fb, i) =>
            Row(id, i, md.digest(fb).map("%02x".format(_)).mkString)
          }
        }
      }
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
                          windows: Int = FeatureDim): DataFrame =
    batched(df, idCol, col("payload"))(new StructType()
        .add("id", LongType).add("sample_rate", IntegerType)
        .add("num_samples", LongType).add("rms", ArrayType(FloatType))) {
      _.map { r =>
        decodeWav(r.getAs[Array[Byte]](1), windows) match {
          case Some((rate, n, rms)) => Row(r.getLong(0), rate, n, rms)
          case None => Row(r.getLong(0), null, null, null)
        }
      }
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
    * @param genMod when > 0, samples derive from `id % genMod` instead
    *   of the raw id — ids in the same residue class get byte-identical
    *   audio (dup planting for the content-dedup gates, the audio twin
    *   of the image generator's mod-256 congruence).
    */
  def withSyntheticAudio(df: DataFrame, idCol: String,
                         nSamples: Int = 1000, rate: Int = 8000,
                         genMod: Long = 0L): DataFrame = {
    val id = col(idCol).cast("long")
    withSyntheticAudioScaled(df.select(id.as("id"),
        (if (genMod > 0) id % genMod else id).as("key"), lit(1).as("scale")),
      "id", "key", "scale", nSamples, rate)
  }

  /** The one synthetic WAV generator (the audio twin of
    * [[withSyntheticImagesScaled]]): base sample j of key k is
    * ((k·31 + j·7) mod 65536) − 32768, and the `scale`× rendition repeats
    * each base sample `scale` times (integer upsampling), so the
    * duration-invariant envelope ([[audioEnvelopes]]) is IDENTICAL across
    * scales while the encoded bytes and the decoded duration differ —
    * the planted ground truth for cross-duration audio near-dup
    * detection plus longest-rendition canonical election.
    */
  def withSyntheticAudioScaled(df: DataFrame, idCol: String,
                               keyCol: String, scaleCol: String,
                               baseSamples: Int = 1000,
                               rate: Int = 8000): DataFrame =
    synthetic(df, idCol, col(keyCol), col(scaleCol))((k, s) =>
      buildWav(Array.tabulate(baseSamples * s)(i =>
        (((k * 31 + (i / s).toLong * 7) % 65536) - 32768).toShort), rate))

  /** The one PCM window walk: over `windows` equal frame ranges
    * [n·w/windows, n·(w+1)/windows), each window's EXACT energy
    * Σ (channel-summed amplitude)² and its frame count. Every audio
    * feature here is a final step over it. None if not a 16-bit PCM WAV.
    */
  private final case class PcmWindows(rate: Int, channels: Int, frames: Int,
                                      energy: Array[Long], count: Array[Int])

  private def pcmWindows(bytes: Array[Byte], windows: Int): Option[PcmWindows] =
    parsePcmWav(bytes).map { case (rate, channels, dataOff, n) =>
      val frameBytes = 2 * channels
      val energy = new Array[Long](windows)
      val count = new Array[Int](windows)
      var w = 0
      while (w < windows) {
        val lo = (n.toLong * w / windows).toInt
        val hi = (n.toLong * (w + 1) / windows).toInt
        var ss = 0L; var i = lo
        while (i < hi) {
          var c = 0; var amp = 0L
          while (c < channels) {
            val at = dataOff + i * frameBytes + 2 * c // little-endian
            amp += ((bytes(at) & 0xff) | (bytes(at + 1) << 8)).toShort
            c += 1
          }
          ss += amp * amp; i += 1
        }
        energy(w) = ss; count(w) = hi - lo
        w += 1
      }
      PcmWindows(rate, channels, n, energy, count)
    }

  /** RIFF/WAVE decode for 16-bit PCM (mono or stereo, channels averaged).
    * Window RMS of the [-1, 1] samples is sqrt(E / 2^30 / ch² / frames)
    * over [[pcmWindows]]' integer energy E: each sample's square is an
    * exact double, so this is the sequential double sum of squares to
    * the last bit while a window holds fewer than 2^21 frames (2^23
    * mono).
    * @return (sampleRate, numSamples, per-window RMS)
    */
  def decodeWav(bytes: Array[Byte], windows: Int): Option[(Int, Long, Array[Float])] =
    pcmWindows(bytes, windows).map { p =>
      (p.rate, p.frames.toLong, Array.tabulate(windows) { w =>
        if (p.count(w) > 0) math.sqrt(p.energy(w).toDouble / (1 << 30) /
          (p.channels * p.channels) / p.count(w)).toFloat
        else 0f
      })
    }

  /** DURATION-INVARIANT audio fingerprint, one row per decodable payload:
    * (id, num_samples, envelope), the envelope holding each window's
    * truncating MEAN energy (energy div frame count). An
    * integer-upsampled rendition (each sample repeated k times) has
    * per-window energy k·E over k·c samples, and floor(kE / kc) =
    * floor(E / c) exactly — so envelopes agree across scales while byte
    * digests (m13's `content_key`) cannot, the audio analogue of dHash's
    * pooling invariance. Requires window boundaries to land on whole
    * base samples: sample counts divisible by `windows` (the synthetic
    * plants use 1000·scale over 10 windows). ONE decode per asset;
    * undecodable payloads yield no rows.
    */
  def audioEnvelopes(df: DataFrame, idCol: String, windows: Int = 10)
      : DataFrame =
    batched(df, idCol, col("payload"))(new StructType()
        .add("id", LongType).add("num_samples", LongType)
        .add("envelope", ArrayType(LongType))) {
      _.flatMap { r =>
        pcmWindows(r.getAs[Array[Byte]](1), windows).map { p =>
          Row(r.getLong(0), p.frames.toLong, Array.tabulate(windows) { w =>
            if (p.count(w) > 0) p.energy(w) / p.count(w) else 0L
          })
        }
      }
    }

  /** EXACT windowed audio energy: one row per (id, window) with
    * [[pcmWindows]]' BIGINT energy — the integer counterpart of
    * [[decodeWav]]'s float RMS, so an analytic oracle can hash-match the
    * decode bit-for-bit (floats can't cross engines exactly; int64 can).
    * Undecodable payloads yield no rows.
    */
  def audioWindowEnergy(df: DataFrame, idCol: String, windows: Int = 10)
      : DataFrame =
    batched(df, idCol, col("payload"))(new StructType()
        .add("id", LongType).add("win", IntegerType)
        .add("energy", LongType)) {
      _.flatMap { r =>
        pcmWindows(r.getAs[Array[Byte]](1), windows).iterator.flatMap {
          _.energy.iterator.zipWithIndex.map { case (e, w) =>
            Row(r.getLong(0), w, e)
          }
        }
      }
    }

  /** Exact audio content key of (id, payload) WAVs: (id, content_key),
    * the md5 of the sorted 10-window [[audioWindowEnergy]] list — byte-
    * identical PCM gets one key through the decode.
    */
  def audioContentKeys(wavs: DataFrame, idCol: String): DataFrame =
    audioWindowEnergy(wavs, idCol, windows = 10)
      .groupBy("id")
      .agg(md5(to_json(sort_array(
        collect_list(struct(col("win"), col("energy"))))))
        .as("content_key"))

  /** RIFF/WAVE header walk shared by the decoders: returns
    * (sampleRate, channels, dataOffset, numFrames) for well-formed 16-bit
    * PCM (mono/stereo), None otherwise.
    */
  private def parsePcmWav(bytes: Array[Byte]): Option[(Int, Int, Int, Int)] = {
    if (bytes == null || bytes.length < 44 || fourcc(bytes, 0) != "RIFF" ||
        fourcc(bytes, 8) != "WAVE") return None
    def le16(i: Int) = (bytes(i) & 0xff) | ((bytes(i + 1) & 0xff) << 8)
    var fmtOk = false; var channels = 0; var rate = 0
    var dataOff = -1; var dataLen = 0
    riffChunks(bytes, 12, bytes.length) match {
      case None => return None
      case Some(chunks) => chunks.foreach {
        case ("fmt ", off, size) if size >= 16 =>
          channels = le16(off + 2)
          rate = readLe32(bytes, off + 4)
          fmtOk = le16(off) == 1 && le16(off + 14) == 16 &&  // PCM, 16 bits
            (channels == 1 || channels == 2) && rate > 0
        case ("data", off, size) => dataOff = off; dataLen = size
        case _ => ()
      }
    }
    if (!fmtOk || dataOff < 0) return None
    val frameBytes = 2 * channels
    val n = dataLen / frameBytes
    if (n == 0) None else Some((rate, channels, dataOff, n))
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
              payloadCol: String): DataFrame =
    batched(df, idCol, col(payloadCol))(new StructType()
        .add("id", LongType, nullable = false)
        .add("width", IntegerType).add("height", IntegerType)
        .add("bit_depth", IntegerType).add("color_type", IntegerType)
        .add("keyword", StringType).add("value", StringType)
        .add("bytes_saved", LongType)
        .add("corrupt", BooleanType, nullable = false)) {
      _.flatMap { r =>
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
    }

  /** Strip twin as a frame op: (id, payload, bytes_saved). A NULL
    * payload stays NULL and saves nothing (corrupt-is-data).
    */
  def stripPngMeta(df: DataFrame, idCol: String,
                   payloadCol: String): DataFrame =
    batched(df, idCol, col(payloadCol))(new StructType()
        .add("id", LongType, nullable = false).add("payload", BinaryType)
        .add("bytes_saved", LongType, nullable = false)) {
      _.map { r =>
        val png = r.getAs[Array[Byte]](1)
        if (png == null) Row(r.getLong(0), null, 0L)
        else {
          val out = pngStripAncillary(png)
          Row(r.getLong(0), out, (png.length - out.length).toLong)
        }
      }
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
  def syntheticGrayJpeg(id: Long, w: Int = 8, h: Int = 8): Array[Byte] =
    grayGradient(id, w, h, 0L, 1, "jpg")

  /** Attach a real JPEG payload per row (the [[withSyntheticImages]]
    * shape).
    */
  def withSyntheticJpegs(df: DataFrame, idCol: String,
                         w: Int = 8, h: Int = 8): DataFrame =
    synthetic(df, idCol, col(idCol), lit(1))((k, _) =>
      syntheticGrayJpeg(k, w, h))

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
                      kvCols: Seq[(String, String)]): DataFrame =
    planted(df, idCol, payloadCol, kvCols) { (jpeg, kvs) =>
      jpeg.take(2) ++ buildExifApp1(kvs) ++ jpeg.drop(2)
    }

  /** The planters' shared pass: (id, payload) with `plant(payload, kvs)`
    * as the payload, kvs the keyword → value pairs read from `kvCols`.
    * Corrupt-is-data: a NULL payload passes through unchanged and NULL
    * values coalesce to "" (the extractors null-guard theirs the same
    * way).
    */
  private def planted(df: DataFrame, idCol: String, payloadCol: String,
                      kvCols: Seq[(String, String)])(
      plant: (Array[Byte], Seq[(String, String)]) => Array[Byte])
      : DataFrame =
    batched(df, idCol, col(payloadCol) +:
        kvCols.map(kv => col(kv._2).cast("string")): _*)(new StructType()
        .add("id", LongType, nullable = false).add("payload", BinaryType)) {
      _.map { r =>
        val payload = r.getAs[Array[Byte]](1)
        if (payload == null) Row(r.getLong(0), null)
        else Row(r.getLong(0), plant(payload, kvCols.zipWithIndex.map {
          case ((k, _), i) =>
            k -> (if (r.isNullAt(2 + i)) "" else r.getString(2 + i))
        }))
      }
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

  /** `parse` over each APP1/Exif segment of `segs` (the marker walk of
    * `jpeg`), and whether any parse threw: a damaged Exif body latches
    * `corrupt`, never an executor exception.
    */
  private def parseExif[T](jpeg: Array[Byte], segs: Seq[(Int, Int, Int)])(
      parse: (Array[Byte], Int, Int) => Seq[T]): (Seq[T], Boolean) = {
    var damaged = false
    val out = segs
      .filter { case (m, off, len) =>
        m == 0xe1 && len >= 10 &&
          new String(jpeg, off + 4, 4, "US-ASCII") == "Exif"
      }
      .flatMap { case (_, off, len) =>
        try parse(jpeg, off, len)
        catch { case scala.util.control.NonFatal(_) => damaged = true; Nil }
      }
    (out, damaged)
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
                     latMicroCol: String, lonMicroCol: String): DataFrame =
    batched(df, idCol, col(payloadCol), col(latMicroCol).cast("long"),
        col(lonMicroCol).cast("long"))(new StructType()
        .add("id", LongType, nullable = false).add("payload", BinaryType)) {
      _.map { r =>
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
  def jpegGps(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    batched(df, idCol, col(payloadCol))(new StructType()
        .add("id", LongType, nullable = false).add("lat_micro", LongType)
        .add("lon_micro", LongType)
        .add("corrupt", BooleanType, nullable = false)) {
      _.map { r =>
        val id = r.getLong(0)
        val jpeg = r.getAs[Array[Byte]](1)
        val (segs, walkCorrupt) = jpegSegments(
          if (jpeg == null) Array.emptyByteArray else jpeg)
        val (gps, damaged) = parseExif(jpeg, segs)(parseExifGps(_, _, _).toList)
        val corrupt = walkCorrupt || damaged
        gps.headOption match {
          case Some((la, lo)) =>
            Row(id, java.lang.Long.valueOf(la),
              java.lang.Long.valueOf(lo), corrupt)
          case None => Row(id, null, null, corrupt)
        }
      }
    }

  /** Per-image EXIF metadata frame — the [[pngMeta]] twin for JPEG: one
    * row per extracted ASCII tag (images without any keep ONE row with
    * NULL tag/value), SOF geometry on every row, `bytes_saved` = octets
    * an APPn/COM strip would shed, `corrupt` latched from the marker
    * walk AND from any damaged Exif body. Output: (id, width, height,
    * tag, value, bytes_saved, corrupt).
    */
  def jpegExif(df: DataFrame, idCol: String,
               payloadCol: String): DataFrame =
    batched(df, idCol, col(payloadCol))(new StructType()
        .add("id", LongType, nullable = false)
        .add("width", IntegerType).add("height", IntegerType)
        .add("tag", StringType).add("value", StringType)
        .add("bytes_saved", LongType)
        .add("corrupt", BooleanType, nullable = false)) {
      _.flatMap { r =>
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
        val (tags, damaged) = parseExif(jpeg, segs)(parseExifAscii)
        val corrupt = walkCorrupt || damaged
        if (tags.isEmpty)
          Iterator.single(Row(id, w, h, null, null, saved, corrupt))
        else tags.iterator.map { case (k, v) =>
          Row(id, w, h, k, v, saved, corrupt)
        }
      }
    }

  /** Strip APP1..APP15 + COM segments (JFIF APP0 and everything the
    * decoder needs survive; pixels untouched — the entropy-coded tail is
    * copied verbatim). Corrupt input comes back unchanged (the audit
    * flag belongs to [[jpegExif]]; a strip must never invent bytes).
    * A NULL payload stays NULL and saves nothing, as in [[stripPngMeta]].
    * Output: (id, payload, bytes_saved).
    */
  def stripJpegMeta(df: DataFrame, idCol: String,
                    payloadCol: String): DataFrame =
    batched(df, idCol, col(payloadCol))(new StructType()
        .add("id", LongType, nullable = false).add("payload", BinaryType)
        .add("bytes_saved", LongType, nullable = false)) {
      _.map { r =>
        val bytes = r.getAs[Array[Byte]](1)
        if (bytes == null) Row(r.getLong(0), null, 0L)
        else {
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
      }
    }

  /** Plant `tEXt` chunks from row columns onto an existing PNG payload:
    * `kvCols` maps each keyword to the (string) column holding its
    * value. Batched per partition like the other encode passes.
    */
  def withPlantedText(df: DataFrame, idCol: String, payloadCol: String,
                      kvCols: Seq[(String, String)]): DataFrame =
    planted(df, idCol, payloadCol, kvCols)(pngInsertText)

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
    Dedup.pairsWithinGroups(audioContentKeys(wavs, "id"), "content_key",
      "id", maxGroupSize = maxGroupSize)
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
    val pristine = plantedImages(docs, bound, nKeys)
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
    val canonical = canonicalImages(stripped)
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
       |    64 + ${tokenCountSql("coalesce(d.text, '')")} AS nt
       |  FROM canon c JOIN documents d ON d.doc_id = c.id),
       |${CorpusPipeline.packByCountOracleCtes("cnt", 256, blockSize)}
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
    val cuts = sceneCuts(decodeVideoFrames(samplesByExt(samples, "avi"), "id"))
      .filter(col("is_cut") === 1)
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
       |${sceneCutsOracleCtes(bound)},
       |cnt AS (
       |  SELECT c.id AS doc_id,
       |    128 + ${tokenCountSql("coalesce(d.text, '')")} AS nt
       |  FROM canon c JOIN documents d ON d.doc_id = c.id),
       |${CorpusPipeline.packByCountOracleCtes("cnt", 384, blockSize)}
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
  private[graft] def chainIdsOracleCtes(bound: Long, nKeys: Int,
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
}
