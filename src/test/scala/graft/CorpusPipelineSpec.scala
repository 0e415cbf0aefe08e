package graft

import org.apache.spark.sql.functions._

import graft.llm.CorpusPipeline

/** End-to-end corpus cleaning: each gate exercised by a planted doc. */
class CorpusPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog " +
    "and runs to the green hills"
  private val docs = Seq(
    (0L, base),                          // survivor (cluster representative)
    (1L, base),                          // exact dup of 0 → dropped
    (2L, base.replace("green", "blue")), // near dup of 0 → dropped
    (3L, "word junk"),                   // too short / no stopwords → quality gate
    (4L, "el perro de la casa y el gato en los arboles que corren del rio")
  ).toDF("doc_id", "text")               // doc 4: Spanish → language gate

  test("cleanCorpus: quality, language, exact-dup and near-dup gates") {
    val out = CorpusPipeline.cleanCorpus(docs)
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSet == Set(0L))
  }

  test("cleanStats reports the drop accounting") {
    val cleaned = CorpusPipeline.cleanCorpus(docs)
    val r = CorpusPipeline.cleanStats(docs, cleaned).head()
    assert(r.getAs[Long]("input_docs") == 5L)
    assert(r.getAs[Long]("surviving_docs") == 1L)
    assert(r.getAs[Long]("dropped_docs") == 4L)
  }

  test("minhash variant prunes the same planted near-dup cluster") {
    val out = CorpusPipeline.cleanCorpus(docs, useMinhash = true)
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSet == Set(0L))
  }

  test("transitive mode keeps exactly one doc per dup cluster") {
    val out = CorpusPipeline.cleanCorpus(docs, transitive = true)
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSet == Set(0L))
  }

  test("boilerplate stage strips chrome BEFORE dedup sees the text") {
    // two DIFFERENT articles wrapped in identical site chrome: without
    // the boilerplate stage the shared chrome drives their Jaccard over
    // the near-dup threshold and one article is wrongly dropped
    val chrome = "subscribe to the daily newsletter for all of the news\n" +
      "accept the cookie banner to continue to the site and the archive\n" +
      "copyright of the example news network all of the rights reserved\n"
    val a = "the quick brown fox jumps over the lazy dog in the morning"
    val b = "the slow green turtle walks under the tall tree in the evening"
    val wrapped = Seq(
      (0L, chrome + a), (1L, chrome + b), (2L, chrome + a) // 2 = true dup of 0
    ).toDF("doc_id", "text")
    val naive = CorpusPipeline.cleanCorpus(wrapped)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(naive == Set(0L),
      s"control: chrome should merge the distinct articles, got $naive")
    val staged = CorpusPipeline.cleanCorpus(wrapped,
        boilerplateFrac = Some(0.9))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(staged == Set(0L, 1L),
      s"boilerplate stage must keep both real articles, got $staged")
  }

  test("decontaminate drops exactly the docs sharing an eval n-gram") {
    val evalSet = Seq(
      (100L, "alpha beta gamma delta"),           // short: whole-text gram
      (101L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val train = Seq(
      (0L, "zz one two three four five six seven eight yy"), // shares 8-gram
      (1L, "prefix words then alpha beta gamma delta here"), // contains the
      //    short eval text but NOT as a whole-text gram → clean (its own
      //    grams are 8-grams of an 8+ token doc)
      (2L, "completely unrelated content with no overlap at all"),
      (3L, "alpha beta gamma delta")                  // exact short match
    ).toDF("doc_id", "text")
    val kept = CorpusPipeline.decontaminate(train, evalSet)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L), kept.toSeq.sorted)
  }

  test("fuzzy decontamination catches paraphrased benchmark leakage") {
    val benchmark = "the quick brown fox jumps over the lazy dog " +
      "and then runs across the wide green field toward the distant hills"
    val evalSet = Seq((100L, benchmark)).toDF("doc_id", "text")
    val train = Seq(
      (0L, benchmark),                                   // verbatim leak
      (1L, benchmark.replace("hills", "mountains")),     // paraphrase leak
      (2L, "a completely different document about cooking pasta " +
        "with garlic and fresh tomatoes in a large copper pot tonight")
    ).toDF("doc_id", "text")
    val kept = CorpusPipeline.decontaminateFuzzy(train, evalSet)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L), kept.toSeq.sorted)
    // the exact-gram gate (d10 twin) misses the paraphrase: that gap is
    // exactly why the fuzzy gate exists — with 8-grams doc 1 still shares
    // untouched 8-grams here, so tighten to the one-word-change case: a
    // SHORT doc where the edit breaks every long gram
    val shortEval = Seq((200L, "alpha beta gamma delta epsilon zeta eta " +
      "theta")).toDF("doc_id", "text")
    val shortTrain = Seq((10L, "alpha beta gamma delta epsilon zeta eta " +
      "iota")).toDF("doc_id", "text")
    val exactKept = CorpusPipeline.decontaminate(shortTrain, shortEval)
      .count()
    val fuzzyKept = CorpusPipeline.decontaminateFuzzy(
      shortTrain, shortEval).count()
    assert(exactKept == 1L, "exact gate should MISS the one-word edit")
    assert(fuzzyKept == 0L, "fuzzy gate should CATCH it")
  }

  test("mixSources keeps a deterministic per-source hash slice") {
    val docs = (0L until 1000L).map(i =>
      (i, s"text $i", if (i % 2 == 0) "keep_all" else "keep_none"))
      .toDF("doc_id", "text", "source")
    val out = CorpusPipeline.mixSources(docs,
      Map("keep_all" -> 1.0, "keep_none" -> 0.0))
    val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == (0L until 1000L by 2).toSet) // rate 1 keeps, rate 0 drops
    // fractional rate: deterministic (same twice) and near the target
    val half = CorpusPipeline.mixSources(docs, Map.empty,
      defaultWeight = 0.5).select("doc_id")
    val a = half.collect().map(_.getLong(0)).toSeq
    val b = half.collect().map(_.getLong(0)).toSeq
    assert(a == b)
    assert(math.abs(a.size - 500) < 100, s"got ${a.size} of 1000 at 0.5")
  }

  test("packSequences: greedy per-block bins, oversized doc isolated") {
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (0L, words(4)), (1L, words(4)), (2L, words(4)), (3L, words(4)),
      (4L, words(12)), // block 1, exceeds capacity → bin of its own
      (5L, words(2)),
      (8L, ""),        // block 2: an empty doc opens bin 0 at 0 tokens,
      (9L, words(12)), // so the empty bin takes the oversized doc
      (10L, words(2))
    ).toDF("doc_id", "text")
    val out = CorpusPipeline.packSequences(docs, capacity = 10,
        blockSize = 4)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3)))
    assert(out.toSeq == Seq(
      (0L, 0L, 0, 4L), (1L, 0L, 0, 4L),   // 4+4 fits in 10
      (2L, 0L, 1, 4L), (3L, 0L, 1, 4L),   // 8+4 > 10 → new bin
      (4L, 1L, 0, 12L),                   // oversized: own bin, block 1
      (5L, 1L, 1, 2L),
      (8L, 2L, 0, 0L), (9L, 2L, 0, 12L),  // empty bin takes any doc
      (10L, 2L, 1, 2L)), out.toSeq)
    // every bin except oversized ones is within capacity
    val binTotals = out.groupBy(r => (r._2, r._3)).map { case (_, rs) =>
      rs.map(_._4).sum
    }
    assert(binTotals.forall(t => t <= 10 || t == 12L))
  }

  test("packByCount generalizes packSequences (identical on word counts)" +
      " and packs real BPE counts") {
    def words(n: Int, p: String) = (1 to n).map(i => s"$p$i").mkString(" ")
    val docs = (0L until 40L).map(i =>
      (i, words(2 + (i % 7).toInt, s"d$i"))).toDF("doc_id", "text")
    val viaText = CorpusPipeline.packSequences(docs, capacity = 12,
      blockSize = 8).orderBy("doc_id").collect().toSeq
    val counts = docs.select(col("doc_id"),
      size(split(col("text"), " ")).as("n_tokens"))
    val viaCount = CorpusPipeline.packByCount(counts, capacity = 12,
      blockSize = 8).orderBy("doc_id").collect().toSeq
    assert(viaText == viaCount)
    // the l17 composition: BPE counts exceed word counts (chars+EOW
    // units), and the same fold packs them within capacity
    val merges = graft.llm.Bpe.fit(docs, "text", numMerges = 4,
      maxVocabWords = 50)
    val bpeCounts = graft.llm.Bpe
      .encodePortable(docs, "doc_id", "text", merges)
      .select(col("id").as("doc_id"),
        col("n_bpe_tokens").cast("long").as("n_tokens"))
    val packed = CorpusPipeline.packByCount(bpeCounts, capacity = 64,
      blockSize = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    val nt = bpeCounts.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(packed.forall(r => r._4 == nt(r._1)))
    for (((_, _), rs) <- packed.groupBy(r => (r._2, r._3))) {
      val total = rs.map(_._4).sum
      assert(total <= 64 || (rs.length == 1 && rs.head._4 > 64))
    }
  }

  test("packSequences properties hold on random corpora") {
    val rnd = new scala.util.Random(20260812L)
    for (trial <- 1 to 3) {
      val n = 50 + rnd.nextInt(150)
      val capacity = 20 + rnd.nextInt(60)
      val blockSize = 8 + rnd.nextInt(56)
      val docs = (0L until n.toLong).map { i =>
        // token counts 1..capacity+10: some docs exceed capacity
        (i, ("w " * (1 + rnd.nextInt(capacity + 10))).trim)
      }
      val out = CorpusPipeline.packSequences(docs.toDF("doc_id", "text"),
          capacity, blockSize)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          r.getLong(3)))
      val label = s"trial $trial (n=$n cap=$capacity block=$blockSize)"
      // every doc assigned exactly once
      assert(out.map(_._1).sorted.toSeq == (0L until n.toLong).toSeq, label)
      // token counts faithful
      val nt = docs.toMap.map { case (i, t) => i -> t.split(" ").length }
      assert(out.forall(r => r._4 == nt(r._1)), label)
      // bins never exceed capacity unless they hold ONE oversized doc
      for (((_, _), rs) <- out.groupBy(r => (r._2, r._3))) {
        val total = rs.map(_._4).sum
        assert(total <= capacity ||
          (rs.length == 1 && rs.head._4 > capacity), s"$label bin=$rs")
      }
      // greedy within block: a bin closes only because the NEXT doc did
      // not fit — total(bin k) + first-doc(bin k+1) must exceed capacity
      for ((_, rs) <- out.groupBy(_._2)) {
        val bins = rs.groupBy(_._3).toSeq.sortBy(_._1).map { case (b, xs) =>
          (b, xs.map(_._4).sum, xs.minBy(_._1)._4)
        }
        for (Seq((_, totalK, _), (_, _, firstNext)) <- bins.sliding(2)
               if bins.size >= 2) {
          assert(totalK + firstNext > capacity,
            s"$label: mergeable bins ($totalK + $firstNext <= $capacity)")
        }
      }
    }
  }

  test("shuffleOrder is a deterministic permutation by portable hash") {
    val docs = (0L until 1000L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    val a = CorpusPipeline.shuffleOrder(docs).select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    val b = CorpusPipeline.shuffleOrder(docs).select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(a == b)                                // reproducible
    assert(a.sorted == (0L until 1000L).toSeq)    // a permutation
    assert(a != (0L until 1000L).toSeq)           // actually shuffled
    // full-range key space: no id-ordered run survives — with the old
    // coarse modulus, colliding keys fell back to id order and produced
    // consecutive-id runs; 2^60 keys make a length-3 run ~impossible
    val runs = a.sliding(3).count(w => w(1) == w(0) + 1 && w(2) == w(1) + 1)
    assert(runs == 0, s"$runs length-3 consecutive-id runs in shuffle order")
  }

  test("sampleToTokenBudget keeps the hash-ordered prefix per source") {
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val docs = (0L until 40L).map(i =>
      (i, words(10), if (i < 20) "s1" else "s2")) // 10 tokens each
      .toDF("doc_id", "text", "source")
    val out = CorpusPipeline.sampleToTokenBudget(docs, budget = 55L)
      .select("doc_id", "source", "cum_tokens").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // 10-token docs into a 55 budget → exactly 5 docs per source
    assert(out.count(_._2 == "s1") == 5)
    assert(out.count(_._2 == "s2") == 5)
    assert(out.forall(_._3 <= 55L))
    // the kept docs are the PREFIX of the portable-hash order
    def key(id: Long) = (id * 2654435761L) % 100000L
    val expS1 = (0L until 20L).sortBy(i => (key(i), i)).take(5).toSet
    assert(out.filter(_._2 == "s1").map(_._1).toSet == expS1)
    // sample is per-source stable: dropping s2 entirely leaves s1 as-is
    val s1only = CorpusPipeline.sampleToTokenBudget(
        docs.filter(col("source") === "s1"), budget = 55L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s1only == expS1)
  }

  test("length-outlier pruning drops corpus-relative extremes only") {
    // 20 docs of 8..12 tokens (q1=9, q3=11 → fences [6, 14]), one
    // 2-token fragment and one 200-token blob: the fences adapt to the
    // corpus, so the normal spread survives and both extremes drop
    val normal = (0 until 20).map { i =>
      (i.toLong, ("tok " * (8 + i % 5)).trim)
    }
    val corpus = (normal :+ (100L, "tiny frag") :+
      (101L, ("tok " * 200).trim)).toDF("doc_id", "text")
    val kept = CorpusPipeline.dropLengthOutliers(corpus)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == (0 until 20).map(_.toLong).toSet, kept.toSeq.sorted)
  }

  test("epochRepeat: quality tiers decide the repeat count exactly") {
    val tiered = Seq(
      // all three quality conditions → 1.0 → 3 epochs
      (0L, "the quick brown fox jumps over the lazy dog again"),
      // ≥10 words but zero stopwords → 2/3 → 2 epochs
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      // short fragment → 1/3 → 1 epoch
      (2L, "hi")
    ).toDF("doc_id", "text")
    val out = CorpusPipeline.epochRepeat(tiered).collect()
      .groupBy(_.getLong(0))
    assert(out(0L).length == 3 && out(1L).length == 2 && out(2L).length == 1)
    // epochs are 1..repeats, so downstream interleaving can key on them
    assert(out(0L).map(_.getAs[Long]("epoch")).sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("contaminationReport: per-eval overlap fractions are exact") {
    import spark.implicits._
    def words(tag: String, a: Int, b: Int) =
      (a to b).map(i => s"$tag$i").mkString(" ")
    val train = Seq(
      (1L, words("t", 1, 10)),          // grams t1..t8 (8 trigrams)
      (2L, words("u", 1, 6))).toDF("doc_id", "text")
    val evals = Seq(
      (10L, words("t", 1, 10)),         // fully covered -> 1.0
      (20L, words("t", 1, 6) + " " + words("x", 1, 4)), // partial
      (30L, words("z", 1, 8))).toDF("doc_id", "text")   // disjoint -> 0.0
    val out = CorpusPipeline.contaminationReport(train, evals)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(10L) == ((8L, 8L, 1.0)), out.toString)
    assert(out(30L)._2 == 0L && out(30L)._3 == 0.0)
    // doc 20: 8 trigrams total; t-only windows t1t2t3..t4t5t6 = 4 hits
    assert(out(20L) == ((8L, 4L, 0.5)), out.toString)
    // scale shape: the train side streams against a BROADCAST gram set
    val plan = CorpusPipeline.contaminationReport(train, evals)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(600))
    assert(!plan.toLowerCase.contains("rangepartitioning"), plan.take(600))
  }

  test("waterfillBudget: allocations sum EXACTLY to the budget, caps " +
      "respected, small sources saturated, deterministic under " +
      "repartitioning — on a skewed mix") {
    // one whale source (~70% of mass), a few mid sources, many minnows
    val masses = (Seq(("whale", 70000L), ("mid1", 9000L),
      ("mid2", 8000L), ("mid3", 7000L)) ++
      (0 until 12).map(i => (s"minnow$i", 500L)))
      .toDF("source", "mass")
    val out = CorpusPipeline.waterfillBudget(masses, num = 3, den = 5)
      .collect().map(r => (r.getAs[String]("source"),
        r.getAs[Long]("mass"), r.getAs[Long]("alloc")))
    spark.catalog.clearCache() // runningTotal pins its range exchange
    val total = 70000L + 9000L + 8000L + 7000L + 12 * 500L // 100000
    val budget = total * 3 / 5 // 60000
    assert(out.map(_._3).sum == budget, out.mkString(","))
    // caps: never allocate more than a source has
    out.foreach { case (s, m, a) => assert(a <= m, s"$s: $a > $m") }
    // minnows + mids are below the waterline -> fully kept; the whale
    // absorbs the entire cut (60000 - 30000 = 30000)
    out.filter(_._1 != "whale").foreach { case (s, m, a) =>
      assert(a == m, s"$s should be saturated: $a != $m") }
    assert(out.find(_._1 == "whale").get._3 == 30000L)
    // deterministic under a different input partitioning
    val out2 = CorpusPipeline.waterfillBudget(masses.repartition(7),
        num = 3, den = 5)
      .collect().map(r => (r.getAs[String]("source"),
        r.getAs[Long]("mass"), r.getAs[Long]("alloc"))).sorted.toSeq
    spark.catalog.clearCache()
    assert(out2 == out.sorted.toSeq)
    // a budget that does not divide evenly: remainder placed one token
    // each, sum still exact
    val uneven = Seq(("a", 10L), ("b", 10L), ("c", 10L))
      .toDF("source", "mass")
    val got = CorpusPipeline.waterfillBudget(uneven, num = 2, den = 3)
      .collect().map(r => r.getAs[Long]("alloc")).sorted.toSeq
    spark.catalog.clearCache()
    assert(got.sum == 20L, got.toString) // 30*2/3
    assert(got == Seq(6L, 7L, 7L), got.toString)
  }

  // (stage, n_rows) report of a registry chain at sf0.001
  private def stageReport(name: String): Seq[(String, Long)] = {
    val out = SparkEntry.queries(name)(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    CacheScope.harness.release()
    spark.catalog.clearCache()
    out
  }

  test("l16 corpus-build report through temperatureSample/stageReport, " +
      "pinned at sf0.001") {
    assert(stageReport("l16_corpus_build_report") == Seq(
      "0_raw" -> 500L, "1_quality" -> 318L, "2_dedup" -> 312L,
      "3_decontam" -> 306L, "4_sampled" -> 97L, "5_blocks" -> 13L))
  }

  test("commonCrawlChain (l22) stage report pinned at sf0.001") {
    assert(stageReport("l22_commoncrawl_chain") == Seq(
      "0_warc_records" -> 300L, "1_c4_clean" -> 241L,
      "2_exact_substr" -> 231L, "3_sampled" -> 116L, "4_blocks" -> 15L))
  }

  test("BPE packing chains (l17, l18, l19): sf0.001 checksums pinned") {
    // (rows, xxhash64 sum) through Bench.checksum, pinned so a changed
    // bit in packBpe/dedupTokenizePack fails here without the oracle
    val pins = Seq(
      "l17_pack_bpe" -> (100L, -4937488396499647622L),
      "l18_dedup_tokenize_pack" -> (300L, -5029257151394803335L),
      "l19_full_prep_dag" -> (300L, -5418677412154292124L))
    pins.foreach { case (name, (n, chk)) =>
      val got = Bench.checksum(SparkEntry.queries(name)(spark, sf))
      CacheScope.harness.release()
      spark.catalog.clearCache()
      assert(got == (n, Some(chk)), s"$name: $got")
    }
  }
}
