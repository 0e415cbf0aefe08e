package graft

import org.apache.spark.sql.functions._

import graft.llm.Similarity

/** ANN similarity search: cosine kernel, brute-force baseline, LSH recall. */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine kernel on known vectors") {
    val df = Seq((Array(1f, 0f, 0f), Array(0f, 1f, 0f),
      Array(2f, 0f, 0f), Array(1f, 1f, 0f))).toDF("a", "b", "c", "d")
    val r = df.select(
      Similarity.cosine(col("a"), col("b")),
      Similarity.cosine(col("a"), col("c")),
      Similarity.cosine(col("a"), col("d"))).collect()(0)
    assert(r.getDouble(0) == 0.0)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(2) - math.sqrt(0.5)) < 1e-12)
  }

  test("brute-force top-k ranks planted neighbors correctly") {
    val corpus = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0f, 1f)), (3L, Array(0.7f, 0.7f))
    ).toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") === 0L)
    val top = Similarity.bruteForceTopK(corpus, queries, "vec_id",
      "embedding", 2).select("neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(top == Map(1L -> 1, 3L -> 2)) // most-aligned first
  }

  test("LSH top-k achieves reasonable recall vs brute force on real data") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id",
        "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(emb, queries, "vec_id", "embedding", 5,
        nPlanes = 4)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.3, s"LSH recall too low: $recall")
  }

  test("IVF top-k: recall vs brute force on real embeddings") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id",
        "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopKPortable(emb, "vec_id", "embedding",
        queryMaxId = 10L, k = 5, nCells = 16, nProbe = 6)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.3, s"IVF recall too low: $recall")
  }

  test("cosine near-dup via buckets finds self-similar planted pair") {
    val df = Seq(
      (0L, Array.fill(8)(1f)),
      (1L, Array.fill(8)(1f).updated(0, 0.95f)), // near-identical
      (2L, Array.tabulate(8)(i => if (i % 2 == 0) 1f else -1f))
    ).toDF("vec_id", "embedding")
    val pairs = Similarity.cosineNearDups(df, "vec_id", "embedding",
        threshold = 0.99, nPlanes = 4, dim = 8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((0L, 1L)))
  }

  test("cosine near-dup is skew-safe: all-near-identical corpus stays sub-quadratic") {
    // 300 near-identical vectors collapse into ONE bucket per table — the
    // round-2 form exploded to C(300,2)=44850 candidate pairs. The capped
    // banded form is bounded at nTables*(cap^2 + N) and every member must
    // still reach the cluster representative (what dedup needs).
    val rnd = new scala.util.Random(7)
    val n = 300
    val df = (0L until n).map(i =>
      (i, Array.tabulate(16)(j => 1f + rnd.nextFloat() * 1e-3f)))
      .toDF("vec_id", "embedding")
    val pairs = Similarity.cosineNearDups(df, "vec_id", "embedding",
        threshold = 0.999, nPlanes = 8, nTables = 2, cap = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.length < 1000, s"pair count ${pairs.length} not bounded")
    val covered = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    assert(covered.size == n,
      s"only ${covered.size}/$n members linked into the dup cluster")
  }

  test("IVF with k-means fit: recall@3 >= 0.8 on a clustered corpus") {
    // 4 well-separated clusters: the k-means++ fit must spread its 8
    // cells over all four, and its centroids, quantized, serve as the
    // index of the portable query path.
    val rnd = new scala.util.Random(11)
    val centers = Array(
      Array.fill(16)(5f), Array.fill(16)(-5f),
      Array.tabulate(16)(i => if (i % 2 == 0) 5f else -5f),
      Array.tabulate(16)(i => if (i % 2 == 0) -5f else 5f))
    val corpus = (0L until 200L).map { i =>
      val c = centers((i % 4).toInt)
      (i, c.map(_ + rnd.nextFloat() * 0.1f))
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 8)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(corpus, queries,
      "vec_id", "embedding", 3))
    val index = Similarity.kmeansFit(corpus, "vec_id", "embedding", 8)
      .zipWithIndex.map { case (c, cell) => (cell, c) }.toSeq
      .toDF("cell", "c")
      .select(col("cell"), Similarity.quantized(col("c")).as("cv"))
    val ivf = pairs(Similarity.ivfTopKFromIndex(corpus, "vec_id",
      "embedding", index, queryMaxId = 8L, k = 3, nProbe = 2))
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.8, s"IVF recall too low: $recall")
  }

  test("recallAtK summaries: LSH and IVF recall@3 >= 0.8 on real data") {
    // The exact frames the registry entries n05/n06 compute: one row
    // (exact_pairs, hit_pairs, recall), no collect in the metric itself.
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id",
      "embedding", 3)
    val lsh = Similarity.recallAtK(exact, Similarity.lshTopK(emb, queries,
      "vec_id", "embedding", 3, nPlanes = 6, nTables = 8)).head()
    val ivf = Similarity.recallAtK(exact, Similarity.ivfTopKPortable(emb,
      "vec_id", "embedding", 5L, 3, nCells = 16, nProbe = 6)).head()
    assert(lsh.getAs[Long]("exact_pairs") == 15L)
    assert(lsh.getAs[Double]("recall") >= 0.8,
      s"LSH recall ${lsh.getAs[Double]("recall")} below floor")
    assert(ivf.getAs[Double]("recall") >= 0.8,
      s"IVF recall ${ivf.getAs[Double]("recall")} below floor")
  }

  test("ANN plans: corpus side is scanned once, queries broadcast") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    val plan = Similarity.bruteForceTopK(emb, queries, "vec_id",
      "embedding", 3).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("int8 quantization: codes bounded, zero-safe, cosine within 0.03") {
    import spark.implicits._
    import graft.plans.QCosineSim
    val vecs = Seq(
      (1L, Array(0.5f, -1.5f, 3.0f, 0.25f)),
      (2L, Array(-2.0f, 0.0f, 1.0f, 0.5f)),
      (3L, Array(0.0f, 0.0f, 0.0f, 0.0f))) // zero vector must not divide by 0
      .toDF("id", "v")
    val q = vecs.select(col("id"), Similarity.quantized(col("v")).as("qv"))
      .select(col("id"), Similarity.sqCodes("qv"))
      .as[(Long, Seq[Long])].collect.toMap
    assert(q(1L).max == 127 && q(1L).forall(b => b >= -127 && b <= 127))
    assert(q(3L).forall(_ == 0))
    // quantized cosine tracks exact cosine within the int8 step
    val pair = vecs.filter(col("id") < 3L)
      .agg(collect_list(col("v"))).as[Seq[Seq[Float]]].head
    val exact = Seq((pair(0).toArray, pair(1).toArray)).toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b"))).as[Double].head
    val approx = Seq((pair(0).toArray, pair(1).toArray)).toDF("a", "b")
      .select(Similarity.quantized(col("a")).as("qa"),
        Similarity.quantized(col("b")).as("qb"))
      .select(QCosineSim(Similarity.sqCodes("qa"), Similarity.sqCodes("qb")))
      .as[Double].head
    assert(math.abs(exact - approx) < 0.03, s"exact=$exact approx=$approx")
  }

  test("SQ brute-force top-k: recall@3 >= 0.9 vs the float baseline") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id",
      "embedding", 3)
    val sq = Similarity.sqTopKPortable(emb, "vec_id", "embedding", 5L, 3)
    val r = Similarity.recallAtK(exact, sq).head()
    assert(r.getAs[Long]("exact_pairs") == 15L)
    assert(r.getAs[Double]("recall") >= 0.9,
      s"SQ recall ${r.getAs[Double]("recall")} below floor")
  }

  test("sparseCosinePairs: hand-computed tf-cosine, shared-token only") {
    val docs = Seq(
      (0L, "a a b"),  // tf a:2 b:1, ||·||² = 5
      (1L, "a b b"),  // tf a:1 b:2, ||·||² = 5 → dot 4, cos 4/5 = 0.8
      (2L, "c c c"),  // shares nothing with 0/1
      (3L, "a c")     // all its pairs fall below 0.8
    ).toDF("doc_id", "text")
    // threshold below the expected 0.8: the cosine itself is a float
    // (4/(√5·√5) ≈ 0.8 − 1 ulp) — never pin a spec ON the threshold
    val out = Similarity.sparseCosinePairs(docs, "text", "doc_id", 0.75)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.map(p => (p._1, p._2)).toSeq == Seq((0L, 1L)), out.toSeq)
    assert(math.abs(out.head._3 - 0.8) < 1e-12, out.head._3.toString)
  }

  test("sparseCosinePairs maxTokenDf is conservative: only misses") {
    // docs 0/1 overlap ONLY through 'the' (df 4 > cap) → pair missed;
    // norms stay exact so no pair can ever be over-scored into existence
    val docs = Seq(
      (0L, "the alpha alpha"), (1L, "the beta beta"),
      (2L, "the gamma"), (3L, "the delta"),
      (4L, "same same same words"), (5L, "same same same words")
    ).toDF("doc_id", "text")
    val exact = Similarity.sparseCosinePairs(docs, "text", "doc_id", 0.5)
      .select("id_a", "id_b").collect().map(r =>
        (r.getLong(0), r.getLong(1))).toSet
    val capped = Similarity.sparseCosinePairs(docs, "text", "doc_id", 0.5,
        maxTokenDf = 3)
      .select("id_a", "id_b").collect().map(r =>
        (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(exact), s"capped=$capped exact=$exact")
    assert(capped.contains((4L, 5L))) // true dup survives the stoplist
  }

  test("PQ kernels: encode rebuilds codes, ADC matches hand math") {
    import graft.plans.{L2Normalize, PqAdc, PqEncode}
    // 4-dim, 2 subspaces, 2 centroids each — hand-checkable
    val cbs: Array[Array[Array[Double]]] = Array(
      Array(Array(0.0, 0.0), Array(1.0, 1.0)),
      Array(Array(1.0, 0.0), Array(0.0, 1.0)))
    val df = Seq((Array(0.9f, 1.1f, 0.1f, 0.9f),
      Array(0.1f, -0.1f, 0.9f, 0.2f))).toDF("a", "b")
    val codes = df.select(PqEncode(col("a"), cbs), PqEncode(col("b"), cbs))
      .collect()(0)
    assert(codes.getAs[Array[Byte]](0).toSeq ==
      Seq[Byte](1, 1)) // (0.9,1.1)→c1, (0.1,0.9)→c1
    assert(codes.getAs[Array[Byte]](1).toSeq ==
      Seq[Byte](0, 0)) // (0.1,-0.1)→c0, (0.9,0.2)→c0
    // ADC of query (1,1,0,1) vs codes of a = [1,1]:
    // ||(1,1)-(1,1)||² + ||(0,1)-(0,1)||² = 0
    val q = Seq((Array(1f, 1f, 0f, 1f), Array[Byte](1, 1))).toDF("q", "c")
    val adc = q.select(PqAdc(col("q"), col("c"), cbs)).collect()(0).getDouble(0)
    assert(adc == 0.0, adc.toString)
    // normalization: unit norm, zero-safe
    val n = Seq((Array(3f, 4f), Array(0f, 0f))).toDF("v", "z")
      .select(L2Normalize(col("v")), L2Normalize(col("z"))).collect()(0)
    assert(math.abs(n.getSeq[Double](0).map(x => x * x).sum - 1.0) < 1e-12)
    assert(n.getSeq[Double](1) == Seq(0.0, 0.0))
  }

  test("IVF-PQ top-k: recall@3 >= 0.5 on real data (cell-probe bound)") {
    // On the weakly-clustered real embeddings, nProbe=6/16 cell probing
    // alone bounds recall ~0.73 (same regime as the 0.3 LSH/IVF floors
    // above); the clustered-corpus test below isolates the PQ stages.
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 10)
    val r = Similarity.recallAtK(
      Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 3),
      Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding", 3,
        nCells = 16, nProbe = 6, m = 8, ksub = 32, rerank = 8))
      .collect()(0)
    val recall = r.getDouble(2)
    assert(recall >= 0.5, s"IVF-PQ recall@3 = $recall")
  }

  test("IVF-PQ: perfect recall on a clustered corpus (codes + re-rank)") {
    // Well-separated clusters: cell probing is exact, so any loss here
    // would be the PQ encode/ADC/shortlist stages themselves.
    val rnd = new scala.util.Random(11)
    val centers = Array(
      Array.fill(16)(5f), Array.fill(16)(-5f),
      Array.tabulate(16)(i => if (i % 2 == 0) 5f else -5f),
      Array.tabulate(16)(i => if (i % 2 == 0) -5f else 5f))
    val corpus = (0L until 200L).map { i =>
      val c = centers((i % 4).toInt)
      (i, c.map(_ + rnd.nextFloat() * 0.1f))
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 8)
    val r = Similarity.recallAtK(
      Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 3),
      Similarity.ivfPqTopK(corpus, queries, "vec_id", "embedding", 3,
        nCells = 8, nProbe = 2, m = 8, ksub = 32, rerank = 4))
      .collect()(0)
    val recall = r.getDouble(2)
    assert(recall >= 0.9, s"clustered IVF-PQ recall@3 = $recall")
  }

  test("pqTopKPortable: a vector width other than dim fails the query") {
    // 32 or 128 components against the default dim 64 give 4 or 16
    // subspaces, not m = 8: the query must fail, not return an empty
    // top-k
    Seq(32, 128).foreach { width =>
      val r = new scala.util.Random(width)
      val emb = (0 until 40).map(i =>
        (i.toLong, Array.fill(width)(r.nextGaussian().toFloat)))
        .toDF("vec_id", "embedding")
      val out = Similarity.pqTopKPortable(emb, "vec_id", "embedding",
        queryMaxId = 3L, k = 3)
      val e = intercept[Exception](out.collect())
      assert(e.getMessage.contains(s"vector dimension $width does not " +
        "match dim 64"), e.getMessage)
    }
  }

  test("semanticDedupPortable: planted dups collapse; bit-stable under repartitioning") {
    def vec(seed: Int) = {
      val r = new scala.util.Random(seed)
      Array.fill(16)(r.nextGaussian().toFloat)
    }
    val base = (0 until 30).map(i => (i.toLong, vec(i)))
    val dups = Seq(100L, 101L, 102L).map(id => (id, vec(5)))
    val emb = (base ++ dups).toDF("vec_id", "embedding")
    val out = Similarity.semanticDedupPortable(emb, "vec_id", "embedding",
        nCells = 4, threshold = 0.99)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out(5L) && !out(100L) && !out(101L) && !out(102L))
    assert(out.size == 33 && out.values.count(identity) == 30)
    // the portability claim: quantized-integer cosines + Forgy cells
    // must give BIT-identical rows however the input is partitioned
    val r1 = Similarity.semanticDedupPortable(emb.repartition(1),
      "vec_id", "embedding", nCells = 4, threshold = 0.99)
      .orderBy("id").collect().toSeq
    val r8 = Similarity.semanticDedupPortable(emb.repartition(8),
      "vec_id", "embedding", nCells = 4, threshold = 0.99)
      .orderBy("id").collect().toSeq
    assert(r1 == r8)
  }

  test("semanticDedupPortable: degenerate all-duplicate corpus stays sub-quadratic") {
    val v = Array.fill(8)(0.5f)
    val emb = (0 until 300).map(i => (i.toLong, v)).toDF("vec_id", "embedding")
    val out = Similarity.semanticDedupPortable(emb, "vec_id", "embedding",
      nCells = 2, threshold = 0.99, cap = 16)
    val kept = out.filter(col("kept")).select("id")
      .collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(0L), s"expected only id 0 kept, got $kept")
    // no cartesian in the plan (the capped topology is structural)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(600))
  }

  test("lshTopKPortable: finds planted near-neighbors, bit-stable, bucket-joined") {
    val r = new scala.util.Random(7)
    def vec() = Array.fill(64)(r.nextGaussian().toFloat)
    // queries 0..2; id 100+q = a tiny perturbation of query q (cosine
    // ~0.9999 — same sign-bucket in every table with overwhelming odds)
    val base = (0 until 3).map(i => (i.toLong, vec()))
    val near = base.map { case (i, v) =>
      (100L + i, v.map(x => x + 0.001f)) }
    val noise = (10 until 60).map(i => (i.toLong, vec()))
    val emb = (base ++ near ++ noise).toDF("vec_id", "embedding")
    val out = Similarity.lshTopKPortable(emb, "vec_id", "embedding",
      queryMaxId = 3L, k = 3)
    val top1 = out.filter(col("rank") === 1).collect()
      .map(rr => rr.getLong(0) -> rr.getLong(2)).toMap
    (0 until 3).foreach { q =>
      assert(top1.get(q.toLong).contains(100L + q),
        s"query $q should rank its planted twin first, got $top1")
    }
    // portability: bit-identical rows under repartitioning
    val a = Similarity.lshTopKPortable(emb.repartition(1), "vec_id",
      "embedding", 3L, 3).orderBy("query_id", "rank").collect().toSeq
    val b = Similarity.lshTopKPortable(emb.repartition(8), "vec_id",
      "embedding", 3L, 3).orderBy("query_id", "rank").collect().toSeq
    assert(a == b)
    // structural: candidates come from (table, bucket) equi-joins only
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(600))
  }

  test("ivfTopKPortable: planted twin ranks first, bit-stable, cell-joined") {
    val r = new scala.util.Random(11)
    def vec() = Array.fill(64)(r.nextGaussian().toFloat)
    val base = (0 until 3).map(i => (i.toLong, vec()))
    val near = base.map { case (i, v) =>
      (100L + i, v.map(x => x + 0.001f)) }
    val noise = (10 until 60).map(i => (i.toLong, vec()))
    val emb = (base ++ near ++ noise).toDF("vec_id", "embedding")
    val out = Similarity.ivfTopKPortable(emb, "vec_id", "embedding",
      queryMaxId = 3L, k = 3, nCells = 4, nProbe = 2)
    val top1 = out.filter(col("rank") === 1).collect()
      .map(rr => rr.getLong(0) -> rr.getLong(2)).toMap
    // a near-identical twin lands in the same nearest cell as its query
    // (argmax cosine is continuous), so a 2-probe always sees it
    (0 until 3).foreach { q =>
      assert(top1.get(q.toLong).contains(100L + q),
        s"query $q should rank its planted twin first, got $top1")
    }
    val a = Similarity.ivfTopKPortable(emb.repartition(1), "vec_id",
      "embedding", 3L, 3, 4, 2).orderBy("query_id", "rank").collect().toSeq
    val b = Similarity.ivfTopKPortable(emb.repartition(8), "vec_id",
      "embedding", 3L, 3, 4, 2).orderBy("query_id", "rank").collect().toSeq
    assert(a == b)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(600))
  }

  test("cosineNearDupsPortable: planted pairs found, ordered, bit-stable") {
    val r = new scala.util.Random(23)
    def vec() = Array.fill(64)(r.nextGaussian().toFloat)
    val base = (0 until 40).map(i => (i.toLong, vec()))
    // two planted near-identical pairs
    val twins = Seq((100L, base(3)._2.map(_ + 0.001f)),
      (101L, base(7)._2.map(_ + 0.001f)))
    val emb = (base ++ twins).toDF("vec_id", "embedding")
    val out = Similarity.cosineNearDupsPortable(emb, "vec_id", "embedding",
      threshold = 0.95)
    val pairs = out.collect().map(rr => (rr.getLong(0), rr.getLong(1))).toSet
    assert(pairs.contains((3L, 100L)) && pairs.contains((7L, 101L)),
      s"planted pairs missing: $pairs")
    assert(pairs.forall { case (x, y) => x < y }, "pairs must be ordered")
    val a = Similarity.cosineNearDupsPortable(emb.repartition(1),
      "vec_id", "embedding", 0.95).orderBy("id_a", "id_b").collect().toSeq
    val b = Similarity.cosineNearDupsPortable(emb.repartition(8),
      "vec_id", "embedding", 0.95).orderBy("id_a", "id_b").collect().toSeq
    assert(a == b)
    assert(!out.queryExecution.executedPlan.toString
      .contains("CartesianProduct"))
  }

  test("ivfAppend: appended cells are bit-identical to a full rebuild's") {
    // The maintenance contract: given the SAME centroids, assigning a
    // new batch incrementally must land every vector in exactly the cell
    // a from-scratch assignment would pick — append never degrades the
    // index, it only skips the refit. The prior corpus (ids < 400) holds
    // the first 8 ids, so a full Forgy assignment uses the same cells.
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val appended = Similarity.ivfAppendPortable(emb, "vec_id", "embedding",
        splitId = 400L, nCells = 8)
      .select("id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rebuilt = Similarity.forgyAssignPortable(emb, "vec_id", "embedding",
        nCells = 8)
      .filter(col("id") >= 400)
      .select("id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(appended.nonEmpty && appended == rebuilt)
  }

  test("ivfAppend outliers + refit signal: planted drift trips the threshold") {
    // Index fit on one subspace direction (prior ids < 100); the
    // "drifted" batch is orthogonal to every centroid → cosine 0 →
    // outlier. Signal is an exact integer cross-multiply: 3/10 > 0.25
    // trips, 2/10 does not.
    val prior = (0L until 20L)
      .map(i => (i, Array.tabulate(4)(j => if (j == 0) 1f else 0f)))
    def emb(nOut: Int) = (prior ++ (0 until (10 - nOut))
      .map(i => (100L + i, Array(1f, 0f, 0f, 0f))) ++
      (0 until nOut).map(i => (200L + i, Array(0f, 1f, 0f, 0f))))
      .toDF("vec_id", "embedding")
    def append(nOut: Int) = Similarity.ivfAppendPortable(emb(nOut),
      "vec_id", "embedding", splitId = 100L, nCells = 2, minCos = 0.5)
    val a3 = append(3)
    assert(a3.filter(col("is_outlier") === 1).count() == 3)
    val s3 = Similarity.ivfRefitSignal(a3, maxOutlierFrac = 0.25).collect()(0)
    assert(s3.getAs[Long]("n_assigned") == 10L &&
      s3.getAs[Long]("n_outliers") == 3L && s3.getAs[Boolean]("refit"))
    val s2 = Similarity.ivfRefitSignal(append(2), maxOutlierFrac = 0.25)
      .collect()(0)
    assert(s2.getAs[Long]("n_outliers") == 2L && !s2.getAs[Boolean]("refit"))
  }

  test("ivfAppend plan: batch never shuffles — codebook is broadcast") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val plan = Similarity.ivfAppendPortable(emb, "vec_id", "embedding",
        splitId = 400L, nCells = 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(600))
    // the only exchanges carry the ≤nCells index rows, never a
    // repartition of the batch
    assert(!plan.toLowerCase.contains("hashpartitioning(id"), plan.take(600))
    assert(!plan.toLowerCase.contains("rangepartitioning"), plan.take(600))
  }

  test("ivfAppendPortable: prior rows never re-assigned; verdicts bit-stable") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val out = Similarity.ivfAppendPortable(emb, "vec_id", "embedding",
      splitId = 400L)
    val rows = out.collect()
    // incremental contract: ONLY batch ids in the output
    assert(rows.nonEmpty && rows.forall(_.getAs[Long]("id") >= 400L))
    // bit-stability under repartitioning (the portable-twin invariant)
    val a = rows.map(r => (r.getLong(0), r.getInt(1), r.getDouble(2),
      r.getInt(3))).sortBy(_._1).toSeq
    val b = Similarity.ivfAppendPortable(emb.repartition(13), "vec_id",
        "embedding", splitId = 400L).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getInt(3)))
      .sortBy(_._1).toSeq
    assert(a == b)
  }

  test("kmeansLloydPortable: planted clusters converge; Lloyd improves on Forgy; bit-stable") {
    import spark.implicits._
    // two tight planted clusters far apart; Forgy seeds (first k by id)
    // both start inside cluster A, so round-1 Lloyd must MOVE a centroid
    // across to cluster B — the refinement the assignment-only twins
    // (n13/n18) never exercise
    def around(cx: Float, seed: Int) = {
      val r = new scala.util.Random(seed)
      Array.fill(8)(cx + r.nextFloat() * 0.01f)
    }
    val a = (0 until 20).map(i => (i.toLong, around(1.0f, i)))
    val b = (100 until 120).map(i => (i.toLong, around(-1.0f, i)))
    val emb = (a ++ b).toDF("vec_id", "embedding")
    val out = Similarity.kmeansLloydPortable(emb, "vec_id", "embedding",
        k = 2, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val cellsA = (0 until 20).map(i => out(i.toLong)).toSet
    val cellsB = (100 until 120).map(i => out(i.toLong)).toSet
    assert(cellsA.size == 1 && cellsB.size == 1 && cellsA != cellsB,
      s"planted clusters not separated: A=$cellsA B=$cellsB")
    // bit-stability: integer arithmetic end-to-end means identical rows
    // however the input is partitioned
    val r1 = Similarity.kmeansLloydPortable(emb.repartition(1),
      "vec_id", "embedding", k = 2, rounds = 2).orderBy("id")
      .collect().toSeq
    val r8 = Similarity.kmeansLloydPortable(emb.repartition(8),
      "vec_id", "embedding", k = 2, rounds = 2).orderBy("id")
      .collect().toSeq
    assert(r1 == r8)
    // Lloyd refinement strictly shrinks total within-cell distance vs
    // the Forgy start (rounds = 0 is assignment off the raw seeds)
    def cost(rounds: Int): Long =
      Similarity.kmeansLloydPortable(emb, "vec_id", "embedding",
          k = 2, rounds = rounds)
        .agg(org.apache.spark.sql.functions.sum("dist")).head.getLong(0)
    assert(cost(2) < cost(0), "refinement did not improve the Forgy start")
  }

  test("powerIterationPortable: finds the planted dominant axis; bit-stable") {
    import spark.implicits._
    // dimension 2 carries ~100x the variance of every other dimension:
    // the dominant eigenvector must align with it, so after iteration
    // the scaled vector is (near-)zero everywhere except |v(2)| = scale
    val rng = new scala.util.Random(42)
    val emb = (0 until 60).map { i =>
      val v = Array.fill(8)((rng.nextGaussian() * 0.01).toFloat)
      v(2) = (if (i % 2 == 0) 0.5f else -0.5f) + v(2)
      (i.toLong, v, 0)
    }.toDF("vec_id", "embedding", "label")
    val out = Similarity.powerIterationPortable(emb, "vec_id",
        "embedding", "label", label = 0)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(math.abs(out(2)) == 4000L,
      s"dominant axis not found: $out")
    (0 until 8).filter(_ != 2).foreach(p =>
      assert(math.abs(out(p)) < 400L, s"off-axis component too big: $out"))
    // bit-stability under repartitioning: all-integer covariance and
    // exact-double normalize leave nothing order-dependent
    val r1 = Similarity.powerIterationPortable(emb.repartition(1),
      "vec_id", "embedding", "label", 0).orderBy("pos").collect().toSeq
    val r8 = Similarity.powerIterationPortable(emb.repartition(8),
      "vec_id", "embedding", "label", 0).orderBy("pos").collect().toSeq
    assert(r1 == r8)
  }

  test("hardNegativesPortable: label-excluded, planted confusable ranks first") {
    val r = new scala.util.Random(19)
    def vec() = Array.fill(16)(r.nextGaussian().toFloat)
    // query 0 (label 0) has: a SAME-label near-twin (id 50, must be
    // excluded however similar) and a different-label near-twin (id 100,
    // must rank first among negatives)
    val q0 = vec()
    val rows = Seq((0L, q0, 0),
        (50L, q0.map(x => x + 0.001f), 0),
        (100L, q0.map(x => x + 0.002f), 1)) ++
      (10 until 40).map(i => (i.toLong, vec(), i % 3))
    val emb = rows.toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegativesPortable(emb, "vec_id",
      "embedding", "label", queryMaxId = 0L, k = 5)
    val got = out.orderBy("rank").collect()
    assert(got.length == 5)
    assert(got(0).getAs[Long]("neg_id") == 100L,
      s"different-label twin should rank first: ${got.toSeq}")
    assert(!got.map(_.getAs[Long]("neg_id")).contains(50L),
      "same-label twin must be excluded")
    // cos non-increasing by rank; bit-stable under repartitioning
    val cs = got.map(_.getAs[Double]("cos")).toSeq
    assert(cs == cs.sorted.reverse)
    val a = Similarity.hardNegativesPortable(emb.repartition(1),
      "vec_id", "embedding", "label", 0L, 5)
      .orderBy("rank").collect().toSeq
    val b = Similarity.hardNegativesPortable(emb.repartition(8),
      "vec_id", "embedding", "label", 0L, 5)
      .orderBy("rank").collect().toSeq
    assert(a == b)
  }

  test("IVF index artifact: save/load lossless, query-from-loaded ≡ " +
      "refit-and-query, and the loaded index pins results when the " +
      "corpus grows") {
    val r = new scala.util.Random(77)
    def vec() = Array.fill(16)(r.nextGaussian().toFloat)
    val emb = (0 until 40).map(i => (i.toLong, vec()))
      .toDF("vec_id", "embedding")
    val dir = Registry.scratchDir("ivf_artifact") + "/index"
    val cent = Similarity.ivfCentroidsPortable(
      emb, "vec_id", "embedding", nCells = 6)
    Similarity.saveIvfIndex(cent, dir)
    val loaded = Similarity.loadIvfIndex(spark, dir)
    // lossless: exact BIGINT components round-trip bit-for-bit
    assert(loaded.orderBy("cell").collect().toSeq ==
      cent.orderBy("cell").collect().toSeq)
    // query-from-loaded ≡ the one-shot fit+query wrapper
    val viaArtifact = Similarity.ivfTopKFromIndex(emb, "vec_id",
        "embedding", loaded, queryMaxId = 5L, k = 3)
      .orderBy("query_id", "rank").collect().toSeq
    val oneShot = Similarity.ivfTopKPortable(emb, "vec_id", "embedding",
        queryMaxId = 5L, k = 3, nCells = 6)
      .orderBy("query_id", "rank").collect().toSeq
    assert(viaArtifact == oneShot)
    // THE reason the artifact exists: a refit over a grown corpus
    // yields different Forgy cells (ids shift into the first-n window);
    // the persisted index keeps the cell geometry fixed
    val grown = emb.unionByName(
      Seq((-1L, vec())).toDF("vec_id", "embedding"))
    val refit = Similarity.ivfCentroidsPortable(
      grown, "vec_id", "embedding", nCells = 6)
    assert(refit.orderBy("cell").collect().toSeq !=
      loaded.orderBy("cell").collect().toSeq)
  }

  test("zero vector: cosine 0.0, never ranked first (float and int8 paths)") {
    val r = new scala.util.Random(5)
    def vec() = Array.fill(16)(r.nextGaussian().toFloat)
    val base = (0 until 20).map(i => (i.toLong, vec()))
    val zero = (999L, Array.fill(16)(0f))
    val emb = (base :+ zero).toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 3)
    Seq(
      Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 21),
      Similarity.sqTopKPortable(emb, "vec_id", "embedding", 3L, 21)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("int").as("rank"), col("cos").as("sim"))
    ).foreach { out =>
      val rows = out.collect()
      assert(rows.filter(_.getAs[Int]("rank") == 1)
        .forall(_.getAs[Long]("neighbor_id") != 999L))
      val zs = rows.filter(_.getAs[Long]("neighbor_id") == 999L)
      assert(zs.length == 3 && zs.forall(_.getAs[Double]("sim") == 0.0),
        zs.toSeq)
    }
    val c = Seq((zero._2, base(0)._2)).toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b"))).as[Double].head
    assert(c == 0.0)
  }

  test("quantized rounds half away from zero; scale is an argument") {
    val v = Seq(Tuple1(Array(-1.25, 1.25, -0.25, 0.25, -0.2, 0.0)))
      .toDF("v")
    val q = v.select(Similarity.quantized(col("v"), scale = 2L))
      .as[Seq[Long]].head
    assert(q == Seq(-3L, 3L, -1L, 1L, 0L, 0L))
    // ×10⁶ at doubles whose scaled value is exactly half-way
    val halves = Seq(-2.5e-6, -0.5e-6, -1.5e-6, -1.25e-5, 3.5e-6)
    assert(halves.forall(x => math.abs((x * 1000000.0) % 1.0) == 0.5))
    val q6 = Seq(Tuple1(halves.toArray)).toDF("v")
      .select(Similarity.quantized(col("v"))).as[Seq[Long]].head
    assert(q6 == Seq(-3L, -1L, -2L, -13L, 4L))
  }

  test("QCosineSim over BIGINT ≡ the cosSql long form; zero, overflow, " +
      "dimension, null edges") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    import graft.plans.QCosineSim
    val r = new scala.util.Random(3)
    // negative half-way components, a zero vector, random vectors
    val rows = Seq(
      (0L, Array(-2.5e-6, -0.5e-6, 0.25, -0.75)),
      (1L, Array(0.0, 0.0, 0.0, 0.0)),
      (2L, Array(-1.5e-6, 0.5, -0.5, 3.5e-6))) ++
      (3 until 12).map(i => (i.toLong, Array.fill(4)(r.nextGaussian())))
    val q = rows.toDF("id", "v")
      .select(col("id"), Similarity.quantized(col("v")).as("qv"))
    val pairs = q.as("a").crossJoin(q.as("b"))
      .select(col("a.qv").as("qa"), col("b.qv").as("qb"))
    def lam(f: String) = s"aggregate($f, 0L, (s, x) -> s + x)"
    val got = pairs.select(
        QCosineSim(col("qa"), col("qb")).as("k"),
        expr(Similarity.cosSql(
          lam("zip_with(qa, qb, (x, y) -> x * y)"),
          lam("transform(qa, x -> x * x)"),
          lam("transform(qb, x -> x * x)"))).as("s"))
      .as[(Double, Double)].collect()
    assert(got.length == 144 && got.exists(_._1 == 0.0))
    got.foreach { case (k, s) =>
      assert(java.lang.Double.doubleToRawLongBits(k) ==
        java.lang.Double.doubleToRawLongBits(s), s"kernel $k vs sql $s")
    }
    def longs(xs: Any*) = Literal(new GenericArrayData(xs.toArray),
      ArrayType(LongType, containsNull = true))
    assert(QCosineSim(longs(0L, 0L), longs(1L, 2L)).eval() == 0.0)
    intercept[ArithmeticException] {
      QCosineSim(longs(Long.MaxValue, 1L), longs(2L, 1L)).eval()
    }
    intercept[IllegalArgumentException] {
      QCosineSim(longs(1L, 2L), longs(1L, 2L, 3L)).eval()
    }
    assert(QCosineSim(longs(1L, null), longs(1L, 2L)).eval() == null)
  }

  test("SignBucket Long mode ≡ the lattice expr form; overflow, dimension, " +
      "null edges") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    import graft.plans.SignBucket
    val r = new scala.util.Random(9)
    val (nTables, nPlanes, dim) = (3, 6, 8)
    val rows = Seq((0L, Array.fill(dim)(-2.5e-6)), (1L, Array.fill(dim)(0.0))) ++
      (2 until 30).map(i => (i.toLong, Array.fill(dim)(r.nextGaussian())))
    val q = rows.toDF("id", "v")
      .select(col("id"), Similarity.quantized(col("v")).as("qv"))
    val kernel = (0 until nTables).flatMap { t =>
      val planes = Array.tabulate(nPlanes, dim)(
        Similarity.latticeWeight(t, _, _))
      q.select(col("id"), SignBucket(col("qv"), planes).as("bucket"))
        .as[(Long, Long)].collect().map { case (id, b) => (id, t, b) }
    }.toSet
    // the reference: the lattice SQL's long form — per-plane exact sums,
    // then the sign bits as powers of two
    val planes = spark.sql(
      s"""SELECT t, p, pos,
         |  (2654435761L * (t * 1000 + p * 100 + pos + 1)) % 1000003
         |    - 501001 AS w
         |FROM (SELECT explode(sequence(0, ${nTables - 1})) AS t)
         |LATERAL VIEW explode(sequence(0, ${nPlanes - 1})) vp AS p
         |LATERAL VIEW explode(sequence(0, ${dim - 1})) vd AS pos""".stripMargin)
    val reference = q.select(col("id"), posexplode(col("qv")).as(Seq("pos", "qe")))
      .join(planes, "pos")
      .groupBy("id", "t", "p").agg(sum(expr("qe * w")).as("sdot"))
      .groupBy("id", "t")
      .agg(sum(expr("CASE WHEN sdot >= 0 THEN " +
        "CAST(round(pow(2, p)) AS BIGINT) ELSE 0L END")).as("bucket"))
      .select(col("id"), col("t"), col("bucket"))
      .as[(Long, Int, Long)].collect().toSet
    assert(kernel.size == 30 * nTables && kernel == reference)
    def longs(xs: Any*) = Literal(new GenericArrayData(xs.toArray),
      ArrayType(LongType, containsNull = true))
    val big = Seq(Seq(4.0e15, 4.0e15))
    intercept[ArithmeticException] {
      SignBucket(longs(4000L, 4000L), big).eval()
    }
    intercept[IllegalArgumentException] {
      SignBucket(longs(1L, 2L, 3L), big).eval()
    }
    assert(SignBucket(longs(1L, null), big).eval() == null)
    assert(SignBucket(longs(1L, 2L), Seq(Seq(0.5, 1.0)))
      .checkInputDataTypes().isFailure)
  }

  test("portable similarity family: sf0.001 checksums pinned") {
    // (rows, xxhash64 sum) of each entry's output through Bench.checksum,
    // pinned so a changed bit in the shared portable arithmetic fails
    // here, without the DuckDB oracle
    val pins = Seq(
      "d24_semantic_dedup_portable" -> (500L, -5218888707532376060L),
      "l15_cluster_balanced_sample" -> (500L, -892075139936439777L),
      "n10_centroid_cosine" -> (50L, 5992677150988356351L),
      "n12_ann_lsh_portable" -> (15L, -8182952576424660659L),
      "n13_ann_ivf_portable" -> (15L, 2151220442889373044L),
      "n14_cosine_neardup_portable" -> (52L, -2757438923231770241L),
      "n15_sq_portable" -> (15L, -9170837913155493584L),
      "n16_pq_portable" -> (15L, 5950843277603428337L),
      "n18_ivf_append_portable" -> (100L, 3908435014828272423L),
      "n19_kmeans_portable" -> (500L, 2286068191271010380L),
      "n20_power_iteration" -> (64L, 177593510022357832L),
      "n21_hard_negatives" -> (55L, -8016413840658177253L),
      "n22_matryoshka_topk" -> (100L, 1014412829913338140L),
      "n23_ivf_persisted" -> (60L, 4139618371408559794L),
      "n04_ann_ivf" -> (15L, 2164929613074195303L),
      "n06_ivf_recall" -> (1L, -779494867681363133L),
      "n07_sq_recall" -> (1L, -779494867681363133L),
      "n17_ivf_append" -> (15L, -2687724174924903864L),
      "d16_semantic_dedup" -> (16L, -2901699131822786402L))
    val bad = pins.flatMap { case (name, (n, chk)) =>
      val got = Bench.checksum(SparkEntry.queries(name)(spark, sf))
      if (got == (n, Some(chk))) None else Some(s"$name: $got")
    }
    assert(bad.isEmpty, bad)
  }
}
