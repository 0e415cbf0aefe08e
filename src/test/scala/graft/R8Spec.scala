package graft

import org.apache.spark.sql.functions._

import graft.llm.{Multimodal, Ranking, TextAnalysis}

/** Round-8 operators: BM25 scoring, intra-doc token dedup, group OLS,
  * hash-stratified sampling, exact audio window energy.
  */
class R8Spec extends SparkSpec {
  import spark.implicits._

  test("bm25 ranks term-dense docs above term-free docs, 0 for no match") {
    val docs = Seq(
      (0L, "spark spark spark runs fast"),
      (1L, "spark is one word here now"),
      (2L, "nothing relevant in this document at all"),
      (3L, "")
    ).toDF("doc_id", "text")
    val out = Ranking.bm25(docs, "text", "doc_id", Seq("spark"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(0L) > out(1L), "higher tf must score higher")
    assert(out(1L) > 0.0)
    assert(out(2L) == 0.0 && out(3L) == 0.0)
  }

  test("bm25 idf favors the rarer of two equally-frequent-in-doc terms") {
    // 'rare' appears in 1 of 9 docs, 'common' in all 9; the probe doc has
    // each exactly once, so the rare term must contribute more.
    val docs = (Seq((0L, "rare common")) ++
      (1L to 8L).map(i => (i, "common filler words here"))).toDF("doc_id", "text")
    val rare = Ranking.bm25(docs, "text", "doc_id", Seq("rare"))
      .filter(col("id") === 0L).collect()(0).getDouble(2)
    val common = Ranking.bm25(docs, "text", "doc_id", Seq("common"))
      .filter(col("id") === 0L).collect()(0).getDouble(2)
    assert(rare > common)
  }

  test("bm25 stats merge losslessly: parts == whole, scores identical") {
    val docs = Seq(
      (0L, "spark runs here"), (1L, "spark spark again"),
      (2L, "other words entirely"), (3L, "more spark text now")
    ).toDF("doc_id", "text")
    val whole = Ranking.bm25Stats(docs, "text", "doc_id", Seq("spark"))
      .collect()(0)
    val merged = Ranking.mergeBm25Stats(
        Ranking.bm25Stats(docs.filter(col("doc_id") < 2),
          "text", "doc_id", Seq("spark")),
        Ranking.bm25Stats(docs.filter(col("doc_id") >= 2),
          "text", "doc_id", Seq("spark")))
      .collect()(0)
    assert(merged == whole, s"merged $merged != whole $whole")
    val direct = Ranking.bm25(docs, "text", "doc_id", Seq("spark"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val viaMerged = Ranking.bm25FromStats(docs, "text", "doc_id",
        Seq("spark"), Ranking.mergeBm25Stats(
          Ranking.bm25Stats(docs.filter(col("doc_id") < 2),
            "text", "doc_id", Seq("spark")),
          Ranking.bm25Stats(docs.filter(col("doc_id") >= 2),
            "text", "doc_id", Seq("spark"))))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(viaMerged == direct)
    // and the artifact survives a parquet round-trip (the persisted-
    // stats posture every incremental member now carries)
    val tmp = java.nio.file.Files.createTempDirectory("bm25-stats").toString
    Ranking.saveBm25Stats(Ranking.bm25Stats(docs, "text", "doc_id",
      Seq("spark")), tmp)
    val viaLoaded = Ranking.bm25FromStats(docs, "text", "doc_id",
        Seq("spark"), Ranking.loadBm25Stats(spark, tmp))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(viaLoaded == direct)
  }

  test("dedupTokens keeps first-occurrence order, once each") {
    val out = Seq("b a b c a b").toDF("text")
      .select(concat_ws(" ", TextAnalysis.dedupTokens(col("text"))))
      .collect()(0).getString(0)
    assert(out == "b a c")
    val empty = Seq("   ").toDF("text")
      .select(TextAnalysis.dedupTokens(col("text"))).collect()(0)
      .getSeq[String](0)
    assert(empty.isEmpty)
  }

  test("group OLS recovers a planted exact line per group") {
    // group g1: y = 3x + 7 exactly; g2: y = -2x + 100
    val rows =
      (1 to 50).map(x => ("g1", x.toDouble, 3.0 * x + 7.0)) ++
      (1 to 50).map(x => ("g2", x.toDouble, -2.0 * x + 100.0))
    val df = rows.toDF("g", "l_quantity", "l_extendedprice")
    // same exact-decimal pipeline as a41 (cents in, closed form out)
    val li = df.select(col("g"),
      round(col("l_quantity") * 100).cast("decimal(18,0)").as("x"),
      round(col("l_extendedprice") * 100).cast("decimal(18,0)").as("y"))
    val g = li.groupBy("g").agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sx2"))
    val nd = col("n").cast("double")
    val sx = col("sx").cast("double"); val sy = col("sy").cast("double")
    val slope = (nd * col("sxy").cast("double") - sx * sy) /
      (nd * col("sx2").cast("double") - sx * sx)
    val out = g.select(col("g"), slope.as("m"),
        ((sy - slope * sx) / nd).as("b"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    // cents scaling preserves slope; intercept is in cents
    assert(math.abs(out("g1")._1 - 3.0) < 1e-9)
    assert(math.abs(out("g1")._2 - 700.0) < 1e-6)
    assert(math.abs(out("g2")._1 + 2.0) < 1e-9)
    assert(math.abs(out("g2")._2 - 10000.0) < 1e-6)
  }

  test("audio window energy is exact and matches the synth formula") {
    val ids = Seq(7L).toDF("id")
    val out = Multimodal.audioWindowEnergy(
        Multimodal.withSyntheticAudio(ids, "id"), "id", windows = 10)
      .orderBy("win").collect()
    assert(out.length == 10)
    // replay the generator arithmetic for window w: samples 100w..100w+99
    val expect = (0 until 10).map { w =>
      (100 * w until 100 * (w + 1)).map { i =>
        val s = ((7L * 31 + i.toLong * 7) % 65536) - 32768
        s * s
      }.sum
    }
    out.zipWithIndex.foreach { case (r, w) =>
      assert(r.getAs[Long]("energy") == expect(w), s"window $w")
    }
  }

  test("piiCounts agrees with redactPii marker counts") {
    val samples = Seq(
      "mail me at a.b@x.co or 10.1.2.3 then +1 555 123 4567 ok",
      "no pii here at all",
      "two mails a@b.io c@d.org one ip 8.8.8.8",
      "")
    val df = samples.toDF("text")
    val (e, i, p) = TextAnalysis.piiCounts(col("text"))
    val counted = df.select(e.as("e"), i.as("i"), p.as("p")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // redaction markers are the ground truth for the same semantics
    val viaRedact = df.select(TextAnalysis.redactPii(col("text")))
      .collect().map(_.getString(0))
      .map { s =>
        def n(m: String) = m.r.findAllIn(s).size.toLong
        (n("<EMAIL>"), n("<IP>"), n("<PHONE>"))
      }
    assert(counted.toSeq == viaRedact.toSeq)
    assert(counted(0) == ((1L, 1L, 1L)) && counted(1) == ((0L, 0L, 0L)) &&
      counted(2) == ((2L, 1L, 0L)) && counted(3) == ((0L, 0L, 0L)))
  }

  test("audio window energy skips undecodable payloads") {
    val junk = Seq((1L, Array[Byte](1, 2, 3))).toDF("id", "payload")
    assert(Multimodal.audioWindowEnergy(junk, "id").count() == 0)
  }

  test("transition-graph entries (g01–g05): sf0.001 checksums pinned") {
    // (rows, xxhash64 sum) through Bench.checksum over the shared
    // Registry.transitionEdges graph
    val pins = Seq(
      "g01_pagerank" -> (15L, -5293393593440597544L),
      "g02_personalized_pagerank" -> (15L, -199751356201758024L),
      "g03_triangles" -> (1L, 3717988064596635477L),
      "g04_label_propagation" -> (15L, 6627424830155450705L),
      "g05_bfs_distances" -> (15L, 3554936871571739458L))
    pins.foreach { case (name, (n, chk)) =>
      val got = Bench.checksum(SparkEntry.queries(name)(spark, sf))
      assert(got == (n, Some(chk)), s"$name: $got")
    }
  }
}
