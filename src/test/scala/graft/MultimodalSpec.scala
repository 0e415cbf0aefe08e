package graft

import org.apache.spark.sql.functions._

import graft.llm.Multimodal

/** Multimodal binary-column plumbing: metadata extraction, batched
  * decode/feature pass (stub decoder), frame sampling.
  */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq((1L, "hello world"), (2L, "PNG-ish payload"))
    .toDF("doc_id", "text")

  test("binary metadata: byte length, sha, magic tag") {
    val out = Multimodal.withBinaryMetadata(docs, "text")
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("byte_len") == 11)
    assert(out(0).getAs[String]("content_sha") ==
      "b94d27b9934d3e08a52e52d7da7dabfac484efe37a5380ee9088f7ace2efcde9")
    assert(out(0).getAs[String]("format_tag") == "6865") // "he"
  }

  test("decodeFeatures default is the REAL ImageIO decoder; corrupt payloads yield null features") {
    // real PNG payloads decode through the default path with imageio
    // provenance and the proven pooled-luminance features
    val pngs = Multimodal.withSyntheticImages(
      Seq(1L, 2L).toDF("doc_id"), "doc_id")
    val out = Multimodal.decodeFeatures(pngs, "id")
    assert(out.schema.fieldNames.toSeq ==
      Seq("id", "byte_len", "decoder", "features"))
    val rows = out.orderBy("id").collect()
    assert(rows.forall(_.getAs[String]("decoder") ==
      Multimodal.ImageIoDecoderName))
    val f1 = rows(0).getSeq[Float](3)
    assert(f1.length == Multimodal.FeatureDim)
    // features replay decodeImageFeatures' kernel exactly
    val direct = Multimodal.decodeImageFeatures(pngs, "id")
      .orderBy("id").collect()(0).getSeq[Float](4)
    assert(f1 == direct)
    // non-image payloads are data, not exceptions: null features, same
    // provenance column
    val bad = Multimodal.decodeFeatures(
      Multimodal.withBinaryMetadata(docs, "text"), "doc_id")
      .orderBy("id").collect()
    assert(bad.forall(_.isNullAt(3)))
  }

  test("decodeFeatures stub seam: deterministic pseudo-features, stub provenance") {
    val stubbed = Multimodal.decodeFeatures(
      Multimodal.withBinaryMetadata(docs, "text"), "doc_id",
      Multimodal.StubDecoderName, Multimodal.stubDecode)
    val rows = stubbed.orderBy("id").collect()
    assert(rows.length == 2)
    // the stub can never impersonate a real codec: every row is marked
    assert(rows.forall(_.getAs[String]("decoder").startsWith("stub:")))
    val f1 = rows(0).getSeq[Float](3)
    assert(f1.length == Multimodal.FeatureDim)
    // deterministic: second run yields identical features
    val again = Multimodal.decodeFeatures(
      Multimodal.withBinaryMetadata(docs, "text"), "doc_id",
      Multimodal.StubDecoderName, Multimodal.stubDecode)
      .orderBy("id").collect()(0).getSeq[Float](3)
    assert(f1 == again)
    // pluggable: any decoder plugs in with its own name
    val real = Multimodal.decodeFeatures(
      Multimodal.withBinaryMetadata(docs, "text"), "doc_id",
      "len-probe", b => Array(b.length.toFloat))
      .orderBy("id").collect()
    assert(real.forall(_.getAs[String]("decoder") == "len-probe"))
    assert(real(0).getSeq[Float](3) ==
      Seq(real(0).getAs[Long]("byte_len").toFloat))
  }

  test("sampleFrames emits every nth frame index") {
    val assets = Seq((1L, 10), (2L, 1)).toDF("asset_id", "frames")
    val out = Multimodal.sampleFrames(assets, "asset_id", "frames", 4)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(out == Set((1L, 0), (1L, 4), (1L, 8), (2L, 0)))
  }

  /** Minimal RIFF/WAVE writer: 16-bit PCM, interleaved samples. */
  private def wavBytes(samples: Array[Short], rate: Int,
                       channels: Int = 1): Array[Byte] = {
    val dataLen = samples.length * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")); buf.putInt(36 + dataLen)
    buf.put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")); buf.putInt(16)
    buf.putShort(1); buf.putShort(channels.toShort)
    buf.putInt(rate); buf.putInt(rate * channels * 2)
    buf.putShort((channels * 2).toShort); buf.putShort(16)
    buf.put("data".getBytes("US-ASCII")); buf.putInt(dataLen)
    samples.foreach(buf.putShort)
    buf.array()
  }

  test("decodeAudioFeatures: real WAV/PCM decode, RMS of a known sine") {
    val rate = 8000
    val amp = 0.5
    val mono = Array.tabulate(rate)(i =>
      (amp * 32767 * math.sin(2 * math.Pi * 440 * i / rate)).toShort)
    // stereo: same signal in both channels → identical features
    val stereo = mono.flatMap(s => Array(s, s))
    val rows = Seq(
      (1L, wavBytes(mono, rate)),
      (2L, wavBytes(stereo, rate, channels = 2)),
      (3L, "not a wav at all, just bytes".getBytes("UTF-8"))
    ).toDF("doc_id", "payload")
    val out = Multimodal.decodeAudioFeatures(rows, "doc_id")
      .orderBy("id").collect()

    val expectedRms = amp / math.sqrt(2)
    for (r <- out.take(2)) {
      assert(r.getInt(1) == rate)
      assert(r.getLong(2) == rate.toLong)
      val rms = r.getSeq[Float](3)
      assert(rms.length == Multimodal.FeatureDim)
      rms.foreach(v => assert(math.abs(v - expectedRms) < 0.02,
        s"window RMS $v vs $expectedRms"))
    }
    // corrupt payload is DATA: null fields, no exception
    assert(out(2).isNullAt(1) && out(2).isNullAt(3))
  }

  test("decodeWav: integer-energy RMS equals the double sum-of-squares loop") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // decodeWav's per-sample double loop before its windows came from
    // the integer energy walk, kept as the reference
    def reference(s: Array[Short], channels: Int,
                  windows: Int): Array[Float] = {
      val n = s.length / channels
      Array.tabulate(windows) { w =>
        val lo = (n.toLong * w / windows).toInt
        val hi = (n.toLong * (w + 1) / windows).toInt
        var ss = 0.0; var i = lo
        while (i < hi) {
          var c = 0; var acc = 0.0
          while (c < channels) { acc += s(i * channels + c) / 32768.0; c += 1 }
          val x = acc / channels
          ss += x * x; i += 1
        }
        if (hi > lo) math.sqrt(ss / (hi - lo)).toFloat else 0f
      }
    }
    // mono and stereo, 1..2500 frames, 1..37 windows: most counts do
    // not divide the frame count, and short payloads leave empty windows
    val gen = for {
      channels <- Gen.oneOf(1, 2)
      frames <- Gen.chooseNum(1, 2500)
      windows <- Gen.chooseNum(1, 37)
      samples <- Gen.listOfN(frames * channels,
        Gen.chooseNum(Short.MinValue, Short.MaxValue))
    } yield (channels, samples.toArray, windows)
    def bits(a: Array[Float]) = a.toSeq.map(java.lang.Float.floatToIntBits)
    val res = SCTest.check(SCTest.Parameters.default
        .withMinSuccessfulTests(200), Prop.forAll(gen) {
      case (ch, s, windows) =>
        val Some((_, n, rms)) =
          Multimodal.decodeWav(wavBytes(s, 8000, channels = ch), windows)
        n == s.length / ch && bits(rms) == bits(reference(s, ch, windows))
    })
    assert(res.passed, res.status.toString)
    // full-scale stereo: every term at its largest magnitude
    val loud = Array.fill(4002)(Short.MinValue)
    assert(bits(Multimodal.decodeWav(wavBytes(loud, 8000, channels = 2),
      7).get._3) == bits(reference(loud, 2, 7)))
  }

  test("decodeImage: real PNG round trip, exact luminance sum + pooling") {
    val id = 7L
    val bytes = Multimodal.syntheticGrayPng(id, 8, 8)
    // genuinely a PNG: magic bytes
    assert((bytes(0) & 0xff) == 0x89 && bytes(1) == 'P'.toByte)
    val Some((w, h, sum, feats)) = Multimodal.decodeImage(bytes, grid = 4)
    assert(w == 8 && h == 8)
    val expected = (0 until 64).map(p => (id * 31 + p) % 256).sum
    assert(sum == expected)
    assert(feats.length == 16)
    // top-left 2×2 cell mean: pixels (0,0),(1,0),(0,1),(1,1) → p=0,1,8,9
    val cell = Seq(0, 1, 8, 9).map(p => ((id * 31 + p) % 256).toDouble)
    assert(math.abs(feats(0) - cell.sum / 4 / 255.0) < 1e-6)
  }

  test("decodeImage: color path uses integer Rec.601 luma") {
    val img = new java.awt.image.BufferedImage(
      2, 1, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xff0000) // pure red  → 299*255/1000 = 76
    img.setRGB(1, 0, 0x00ff00) // pure green → 587*255/1000 = 149
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val Some((w, h, sum, _)) = Multimodal.decodeImage(baos.toByteArray, 1)
    assert(w == 2 && h == 1 && sum == 76L + 149L)
  }

  test("AVI round trip: container walk, every-nth sampling, exact sums") {
    val id = 3L
    val frames = (0 until 6).map(f =>
      Multimodal.syntheticGrayPng(id, 8, 8, offset = f * 7L))
    val avi = Multimodal.buildAvi(frames, 8, 8, usPerFrame = 33333)
    assert(new String(avi, 8, 4, "US-ASCII") == "AVI ")
    val Some(info) = Multimodal.parseAvi(avi)
    assert(info.totalFrames == 6 && info.frames.length == 6)
    assert(info.usPerFrame == 33333L)

    val rows = Seq((id, avi)).toDF("doc_id", "payload")
    val out = Multimodal.decodeVideoFrames(rows, "doc_id", everyNth = 2)
      .orderBy("frame_idx").collect()
    assert(out.map(_.getInt(1)).toSeq == Seq(0, 2, 4))
    for (r <- out) {
      val f = r.getInt(1)
      val expected = (0 until 64).map(p => (id * 31 + f * 7 + p) % 256).sum
      assert(r.getInt(2) == 8 && r.getInt(3) == 8)
      assert(r.getLong(4) == expected, s"frame $f sum mismatch")
    }
  }

  test("AVI with real JPEG frames decodes (lossy: dims exact, sum close)") {
    val img = new java.awt.image.BufferedImage(
      16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 16)
      img.setRGB(x, y, 0x808080) // uniform mid-gray
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", baos)
    val avi = Multimodal.buildAvi(Seq(baos.toByteArray), 16, 16)
    val out = Multimodal.decodeVideoFrames(
      Seq((1L, avi)).toDF("doc_id", "payload"), "doc_id").collect()
    assert(out.length == 1)
    assert(out(0).getInt(2) == 16 && out(0).getInt(3) == 16)
    val mean = out(0).getLong(4).toDouble / 256
    assert(math.abs(mean - 128.0) < 4.0, s"JPEG mean $mean far from 128")
  }

  test("AVI rec-grouped movi lists and corrupt payloads") {
    // frames wrapped in 'rec ' LISTs (interleaved-AVI layout) must parse
    // identically to the flat layout
    val frame = Multimodal.syntheticGrayPng(1L)
    val std = Multimodal.buildAvi(Seq(frame, frame), 8, 8)
    val Some(info) = Multimodal.parseAvi(std)
    assert(info.frames.length == 2)
    val rec = Multimodal.buildAvi(Seq(frame, frame), 8, 8, recGrouped = true)
    val Some(infoRec) = Multimodal.parseAvi(rec)
    assert(infoRec.frames.length == 2)
    assert(infoRec.frames.map(_.toSeq) == info.frames.map(_.toSeq))
    // corrupt: truncated AVI and non-AVI bytes yield zero rows, no throw
    val bad = Seq(
      (1L, std.take(40)),
      (2L, "not an avi".getBytes("UTF-8"))
    ).toDF("doc_id", "payload")
    assert(Multimodal.decodeVideoFrames(bad, "doc_id").count() == 0)
  }

  test("RIFF walkers reject overflow-sized chunks without throwing") {
    // a declared chunk size near Int.MaxValue must fail the bounds check,
    // not overflow it (pos + 8 + size wrapping negative) and then crash
    def craft(container: String, chunkId: String): Array[Byte] = {
      val buf = java.nio.ByteBuffer.allocate(32)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes("US-ASCII")); buf.putInt(24)
      buf.put(container.getBytes("US-ASCII"))
      buf.put(chunkId.getBytes("US-ASCII")); buf.putInt(0x7ffffff0)
      buf.array()
    }
    assert(Multimodal.parseAvi(craft("AVI ", "LIST")).isEmpty)
    assert(Multimodal.decodeWav(craft("WAVE", "fmt "), 4).isEmpty)
  }

  test("decodeImageFeatures: dataframe pass, corrupt payloads as nulls") {
    val rows = Seq(
      (1L, Multimodal.syntheticGrayPng(1L)),
      (2L, "definitely not an image".getBytes("UTF-8"))
    ).toDF("doc_id", "payload")
    val out = Multimodal.decodeImageFeatures(rows, "doc_id")
      .orderBy("id").collect()
    assert(out(0).getInt(1) == 8 && out(0).getInt(2) == 8)
    assert(out(0).getLong(3) == (0 until 64).map(p => (31 + p) % 256).sum)
    assert(out(1).isNullAt(1) && out(1).isNullAt(4))
    // synth→decode end-to-end (the m03 shape)
    val ids = Seq(3L, 4L).toDF("doc_id")
    val rt = Multimodal.decodeImageFeatures(
      Multimodal.withSyntheticImages(ids, "doc_id"), "id")
      .orderBy("id").collect()
    assert(rt.forall(r => r.getInt(1) == 8 && !r.isNullAt(3)))
  }

  test("resizeImage: deterministic nearest-neighbor, analytic sums") {
    // 8×8 id-7 gradient → 4×4: floor mapping picks source (2x, 2y)
    val thumb = Multimodal.resizeImage(
      Multimodal.syntheticGrayPng(7L), 4, 4).get
    val Some((w, h, sum, _)) = Multimodal.decodeImage(thumb, 2)
    assert(w == 4 && h == 4)
    val expected = (for (y <- 0 until 4; x <- 0 until 4)
      yield (7L * 31 + (2 * y) * 8 + 2 * x) % 256).sum
    assert(sum == expected, s"$sum vs $expected")
    // byte-determinism: same input → identical encoded bytes
    val again = Multimodal.resizeImage(
      Multimodal.syntheticGrayPng(7L), 4, 4).get
    assert(java.util.Arrays.equals(thumb, again))
    // upscale also floor-maps (2×2 of the 4×4 thumb repeats pixels)
    val up = Multimodal.resizeImage(thumb, 8, 8).get
    val Some((uw, uh, usum, _)) = Multimodal.decodeImage(up, 2)
    assert(uw == 8 && uh == 8 && usum == 4 * sum)
    // corrupt payload → None, dataframe pass → null thumb
    assert(Multimodal.resizeImage("junk".getBytes, 4, 4).isEmpty)
    val df = Seq((1L, Multimodal.syntheticGrayPng(1L)),
      (2L, "junk".getBytes)).toDF("doc_id", "payload")
    val out = Multimodal.resizeImages(df, "doc_id", 4, 4)
      .orderBy("id").collect()
    assert(!out(0).isNullAt(1) && out(1).isNullAt(1))
  }

  test("PNG chunk surgery: plant -> extract -> strip restores the original bytes") {
    import spark.implicits._
    val mm = Multimodal
    val png = mm.syntheticGrayPng(7L, w = 10, h = 6)
    // the JDK PNG writer emits only critical chunks — pin the assumption
    // the m12 oracle's analytic planted_bytes relies on
    assert(mm.pngStripAncillary(png).sameElements(png),
      "JDK PNG unexpectedly carries ancillary chunks")
    val planted = mm.pngInsertText(png,
      Seq("author" -> "a b=c;d", "note" -> "", "lang" -> "en"))
    val df = Seq((7L, planted)).toDF("id", "payload")
    val rows = mm.pngMeta(df, "id", "payload").collect()
      .map(r => (r.getAs[String]("keyword"), r.getAs[String]("value"),
        r.getAs[Int]("width"), r.getAs[Int]("height"),
        r.getAs[Int]("bit_depth"), r.getAs[Int]("color_type"),
        r.getAs[Long]("bytes_saved"), r.getAs[Boolean]("corrupt")))
    assert(rows.map(x => (x._1, x._2)).toSeq ==
      Seq(("author", "a b=c;d"), ("note", ""), ("lang", "en")))
    assert(rows.forall(x => x._3 == 10 && x._4 == 6 && x._5 == 8 &&
      x._6 == 0 && !x._8))
    // bytes_saved = 3 tEXt chunks: (12 + k + 1 + v) each
    val expect = (13 + 6 + 7) + (13 + 4 + 0) + (13 + 4 + 2)
    assert(rows.head._7 == expect.toLong)
    // strip drops exactly the planted chunks, byte-for-byte
    assert(mm.pngStripAncillary(planted).sameElements(png))
    // and the stripped payload still decodes to the same pixels
    assert(mm.imageIoDecode(mm.pngStripAncillary(planted)).toSeq ==
      mm.imageIoDecode(png).toSeq)
  }

  test("PNG chunk walk: corruption and junk are audited rows, never exceptions") {
    import spark.implicits._
    val mm = Multimodal
    val png = mm.pngInsertText(mm.syntheticGrayPng(3L),
      Seq("k" -> "v"))
    // flip one byte inside the first tEXt chunk's data: CRC must catch it
    val bad = png.clone()
    val ihdrEnd = 8 + 12 + 13
    bad(ihdrEnd + 9) = (bad(ihdrEnd + 9) ^ 0x1).toByte
    val df = Seq((1L, bad), (2L, "not a png".getBytes),
      (3L, null.asInstanceOf[Array[Byte]])).toDF("id", "payload")
    val out = mm.pngMeta(df, "id", "payload").collect()
      .map(r => r.getLong(0) -> r.getAs[Boolean]("corrupt")).toMap
    assert(out == Map(1L -> true, 2L -> true, 3L -> true))
    // a corrupt image keeps IHDR fields decoded before the damage
    val r1 = mm.pngMeta(df.filter($"id" === 1L), "id", "payload")
      .collect().head
    assert(r1.getAs[Int]("width") == 8)
    // strip never invents bytes on damage
    assert(mm.pngStripAncillary(bad).sameElements(bad))
  }

  test("PNG ops pass NULL payloads through and read NULL values as \"\"") {
    import spark.implicits._
    val mm = Multimodal
    val png = mm.syntheticGrayPng(5L)
    val in = Seq((1L, png, "a"), (2L, null, "b"), (3L, png, null))
      .toDF("id", "payload", "v")
    val planted = mm.withPlantedText(in, "id", "payload", Seq("k" -> "v"))
    val p = planted.orderBy("id").collect()
    assert(p(1).isNullAt(1))                       // NULL payload rides
    val meta = mm.pngMeta(planted, "id", "payload").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getAs[String]("keyword"),
        r.getAs[String]("value"), r.getAs[Boolean]("corrupt")))
    assert(meta.toSeq == Seq((1L, "k", "a", false), (2L, null, null, true),
      (3L, "k", "", false)))
    val strip = mm.stripPngMeta(planted, "id", "payload").orderBy("id")
      .collect()
    assert(strip(0).getAs[Array[Byte]](1).sameElements(png))
    assert(strip.map(_.getLong(2)).toSeq == Seq(15L, 0L, 14L))
    assert(strip(1).isNullAt(1))
    assert(strip(2).getAs[Array[Byte]](1).sameElements(png))
  }

  test("NULL payloads are data in every decode and strip op, never an NPE") {
    val mm = Multimodal
    val nul = null.asInstanceOf[Array[Byte]]
    def withNull(valid: Array[Byte]) =
      Seq((1L, valid), (2L, nul)).toDF("doc_id", "payload")
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("id").collect().map(_.getLong(0)).distinct.sorted.toSeq
    val frame = mm.syntheticGrayPng(1L)
    val avi = withNull(mm.buildAvi(Seq(frame, frame), 8, 8))
    val wav = withNull(wavBytes(Array.tabulate(1000)(i => (i * 37).toShort),
      8000))
    // the ops that drop undecodable payloads emit no row for NULL
    assert(ids(mm.decodeVideoFrames(avi, "doc_id")) == Seq(1L))
    assert(ids(mm.frameHashes(avi, "doc_id")) == Seq(1L))
    assert(ids(mm.audioEnvelopes(wav, "doc_id")) == Seq(1L))
    assert(ids(mm.audioWindowEnergy(wav, "doc_id")) == Seq(1L))
    // the ops that keep one row per payload keep it with NULL fields
    val audio = mm.decodeAudioFeatures(wav, "doc_id").orderBy("id").collect()
    assert(audio.length == 2 && !audio(0).isNullAt(1))
    assert((1 to 3).forall(audio(1).isNullAt))
    val feats = mm.decodeFeatures(withNull(frame), "doc_id").orderBy("id")
      .collect()
    assert(feats.length == 2 && !feats(0).isNullAt(3))
    assert(feats(1).isNullAt(1) && feats(1).isNullAt(3) &&
      feats(1).getString(2) == mm.ImageIoDecoderName)
    // stripJpegMeta keeps NULL as NULL and saves nothing, like the PNG op
    val jpeg = mm.syntheticGrayJpeg(7L)
    val strip = mm.stripJpegMeta(withNull(jpeg), "doc_id", "payload")
      .orderBy("id").collect()
    assert(!strip(0).isNullAt(1))
    assert(strip(1).isNullAt(1) && strip(1).getLong(2) == 0L)
  }

  test("dHash: scale-invariant on pixel-doubled copies, key-sensitive, corrupt-safe") {
    // base dims divide the 9x8 grid, so the 2x pixel-doubled image has
    // identical integer cell means -> identical hash, different bytes
    val keys = 0L until 25L
    val h1 = keys.map(k => Multimodal.dhashImage(
      Multimodal.syntheticGrayPng(k, 36, 32, scale = 1)))
    val h2 = keys.map(k => Multimodal.dhashImage(
      Multimodal.syntheticGrayPng(k, 36, 32, scale = 2)))
    assert(h1.forall(_.isDefined))
    assert(h1 == h2)                       // perceptual equality
    assert(h1.map(_.get).distinct.size == 25)   // no key collision
    assert(!Multimodal.syntheticGrayPng(0L, 36, 32, scale = 1)
      .sameElements(Multimodal.syntheticGrayPng(0L, 36, 32, scale = 2)))
    // corrupt / undersized payloads are data, not exceptions
    assert(Multimodal.dhashImage("not a png".getBytes).isEmpty)
    assert(Multimodal.dhashImage(
      Multimodal.syntheticGrayPng(1L, 4, 4)).isEmpty)
    // dataframe pass: null dhash for corrupt rows, one decode per row
    val df = Seq((1L, Multimodal.syntheticGrayPng(7L, 36, 32, scale = 1)),
      (2L, "junk".getBytes)).toDF("id", "payload")
    val out = Multimodal.dhashes(df, "id").orderBy("id").collect()
    assert(out(0).getLong(1) == h1(7).get)
    assert(out(1).isNullAt(1))
  }

  test("dHash: palette-indexed PNG hashes its COLORS, not its palette indices") {
    // Same picture, two encodings: TYPE_BYTE_GRAY stores luminance
    // samples; TYPE_BYTE_INDEXED with a REVERSED gray palette stores
    // index (255 - v) rendering as color v. A raw single-band sample
    // read would hash the inverted gradient; the ColorModel-aware path
    // must yield the identical dHash for both.
    val w = 36; val h = 32
    def lum(x: Int, y: Int): Int = (7 * 31 + y * w + x) % 256
    val gray = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val cmap = Array.tabulate(256) { i =>
      val v = 255 - i; (0xff << 24) | (v << 16) | (v << 8) | v
    }
    val icm = new java.awt.image.IndexColorModel(
      8, 256, cmap, 0, false, -1,
      java.awt.image.DataBuffer.TYPE_BYTE)
    val idx = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
    for (y <- 0 until h; x <- 0 until w) {
      gray.getRaster.setSample(x, y, 0, lum(x, y))
      idx.getRaster.setSample(x, y, 0, 255 - lum(x, y))
    }
    def png(img: java.awt.image.BufferedImage): Array[Byte] = {
      val b = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", b); b.toByteArray
    }
    val hg = Multimodal.dhashImage(png(gray))
    val hi = Multimodal.dhashImage(png(idx))
    assert(hg.isDefined && hg == hi,
      s"palette indices leaked into the hash: $hg vs $hi")
  }

  // (stage, n_rows) report of a registry chain at sf0.001
  private def stageReport(name: String): Seq[(String, Long)] = {
    val out = SparkEntry.queries(name)(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    CacheScope.harness.release()
    spark.catalog.clearCache()
    out
  }

  test("imageChain (m18) stage report pinned at sf0.001") {
    assert(stageReport("m18_multimodal_chain") == Seq(
      "0_tar_members" -> 300L, "1_samples" -> 150L, "2_gps_seen" -> 150L,
      "3_strip_restored" -> 150L, "4_canonical" -> 25L,
      "5_caption_join" -> 25L, "6_blocks" -> 16L, "7_tokens" -> 3058L))
  }

  test("avChain (m19) stage report pinned at sf0.001") {
    assert(stageReport("m19_av_chain") == Seq(
      "0_tar_members" -> 450L, "1_samples" -> 150L,
      "2_wav_restored" -> 150L, "3_audio_envelopes" -> 150L,
      "4_scene_cuts" -> 743L, "5_clusters" -> 25L,
      "6_canonical_idsum" -> 2175L, "7_caption_join" -> 25L,
      "8_blocks" -> 16L, "9_tokens" -> 4658L))
  }

  test("media family: sf0.001 checksums pinned") {
    // (rows, xxhash64 sum) of each m-entry's output through
    // Bench.checksum, pinned so a changed bit in a shared decode,
    // generator or chain step fails here, without the DuckDB oracle
    val pins = Seq(
      "m01_binary_meta" -> (500L, 2906978541749670921L),
      "m02_decode_features" -> (500L, 4094780854738144392L),
      "m03_image_roundtrip" -> (500L, -5965473298798895590L),
      "m04_frame_sample" -> (1505L, 1655417364041114359L),
      "m05_video_roundtrip" -> (600L, 8375046100969467488L),
      "m06_image_resize" -> (500L, -1415378039861936815L),
      "m07_audio_roundtrip" -> (200L, 1812382525701563375L),
      "m08_shared_frames" -> (230L, 383727343444236028L),
      "m09_image_dups" -> (244L, 412276567965867381L),
      "m10_audio_energy" -> (2000L, 1943856637289810368L),
      "m11_scene_cuts" -> (750L, 3649908867125309109L),
      "m12_image_metadata" -> (400L, -7562420302215888002L),
      "m13_audio_dups" -> (560L, 5957085457468935255L),
      "m14_image_dhash_dups" -> (375L, 7241856558671318054L),
      "m15_jpeg_exif" -> (400L, -2122180802809405325L),
      "m16_jpeg_gps" -> (200L, -776187902180631493L),
      "m17_canonical_image" -> (25L, 8984772148047413483L),
      "m18_multimodal_chain" -> (8L, 7711290650199413975L),
      "m19_av_chain" -> (10L, 1648741754572155283L),
      "m20_capped_media_pairs" -> (504L, 3021538528125953996L),
      "m21_media_decontaminate" -> (150L, -4675577821334603769L))
    pins.foreach { case (name, (n, chk)) =>
      val got = Bench.checksum(SparkEntry.queries(name)(spark, sf))
      CacheScope.harness.release()
      assert(got == (n, Some(chk)), s"$name: $got")
    }
    spark.catalog.clearCache()
  }
}
