package graft

import org.apache.spark.sql.functions._

import graft.llm.Dedup
import graft.plans.MinHashSig

/** Dedup operators: exact, MinHash-LSH (with planted near-dups), native
  * kernel parity, SimHash, n-gram Jaccard.
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  // varied vocabulary: 40 distinct words -> 38 distinct 3-grams, so one
  // edited word changes only 3 grams (jaccard ~0.85, solidly bandable)
  private val base = (1 to 40).map(i => s"alpha$i").mkString(" ")
  private val nearDup = base.replace("alpha20", "beta20")
  private val unrelated = (1 to 40).map(i => s"gamma$i").mkString(" ")

  private val docs = Seq(
    (0L, base), (1L, base),        // exact dups
    (2L, nearDup),                 // near dup of 0/1
    (3L, unrelated), (4L, "short doc")
  ).toDF("doc_id", "text")

  test("pairsWithinGroups: exact ordered pair set per key, distributed " +
      "(no one-row group)") {
    val df = Seq(
      (10L, "k1"), (11L, "k1"), (12L, "k1"), // triangle: 3 pairs
      (20L, "k2"), (21L, "k2"),              // 1 pair
      (30L, "k3")                            // singleton: nothing
    ).toDF("id", "key")
    val got = Dedup.pairsWithinGroups(df, "key", "id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == Seq((10L, 11L), (10L, 12L), (11L, 12L), (20L, 21L)))
    // plan: a join, never a collect_list group materialization
    val plan = Dedup.pairsWithinGroups(df, "key", "id")
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("collect_list"), plan.take(400))
    assert(plan.contains("Join"), plan.take(400))
  }

  test("pairsWithinGroups survives a degenerate 10^4-member key " +
      "(the solid-color-thumbnail hash)") {
    // the collect_list form held all 10^4 ids in ONE aggregate row and
    // exploded ~5*10^7 pairs from it in one task; the SMJ form streams
    // the group through a spillable buffer — this proves the shape
    // RUNS and the quadratic count is exact
    val n = 10000L
    val df = spark.range(n).select(col("id"), lit("hot").as("key"))
      .unionAll(spark.range(5).select((col("id") + 100000L).as("id"),
        concat(lit("cold"), col("id")).as("key")))
    val cnt = Dedup.pairsWithinGroups(df, "key", "id")
      .agg(count(lit(1))).head().getLong(0)
    assert(cnt == n * (n - 1) / 2)
  }

  test("pairsWithinGroups maxGroupSize: degenerate keys drop whole " +
      "(conservative miss), bounded keys keep exact pairs") {
    val df = (0L until 50L).map(i => (i, "hot"))
      .++(Seq((100L, "ok"), (101L, "ok"), (102L, "ok")))
      .toDF("id", "key")
    val got = Dedup.pairsWithinGroups(df, "key", "id", maxGroupSize = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // the 50-member hot key emits NOTHING (never a partial cluster);
    // the 3-member key is untouched
    assert(got == Seq((100L, 101L), (100L, 102L), (101L, 102L)))
  }

  test("starEdges: n-1 edges per group, connectivity-equivalent to the " +
      "pair set, linear on a degenerate key") {
    val df = Seq(
      (10L, "k1"), (11L, "k1"), (12L, "k1"),
      (20L, "k2"), (21L, "k2"),
      (30L, "k3")
    ).toDF("id", "key")
    val edges = Dedup.starEdges(df, "key", "id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(edges == Seq((10L, 11L), (10L, 12L), (20L, 21L)))
    // connected components over star edges == over the full pair set
    def reps(pairs: org.apache.spark.sql.DataFrame) =
      Dedup.connectedComponents(df.select(col("id")), pairs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(reps(Dedup.starEdges(df, "key", "id")) ==
      reps(Dedup.pairsWithinGroups(df, "key", "id")))
    spark.catalog.clearCache() // connectedComponents returns cached labels
    // linear on the degenerate key: 10^4 members -> 9999 edges, fast
    val hot = spark.range(10000L).select(col("id"), lit("h").as("key"))
    assert(Dedup.starEdges(hot, "key", "id")
      .agg(count(lit(1))).head().getLong(0) == 9999L)
  }

  test("exact dedup keeps one row per distinct text") {
    val out = Dedup.exactDedup(docs, "text", "doc_id")
    assert(out.count() == 4)
    // keep-first under id order: doc 0 survives, doc 1 dropped
    assert(out.filter(col("doc_id") === 1L).count() == 0)
    val stats = Dedup.exactDupStats(docs, "text").collect()(0)
    assert(stats.getAs[Long]("total_docs") == 5)
    assert(stats.getAs[Long]("exact_dups") == 1)
  }

  test("minhash LSH finds planted exact and near dups, skips unrelated") {
    val pairs = Dedup.minhashNearDups(docs, "text", "doc_id",
        k = 3, numHashes = 32, bands = 8, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))            // exact pair
    assert(pairs.contains((0L, 2L)) || pairs.contains((1L, 2L))) // near dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("native MinHashSig == expression-form signature, bit for bit") {
    val df = docs.select(col("doc_id"),
      MinHashSig(col("text"), 3, 32).as("fast"),
      Dedup.minhashSignature(Dedup.wordShingles(col("text"), 3), 32)
        .as("slow"))
    assert(df.filter(col("fast") =!= col("slow")).count() == 0)
  }

  test("native NgramHashes == xxhash64 over wordShingles, bit for bit") {
    val df = docs.select(
      array_sort(graft.plans.NgramHashes(col("text"), 3)).as("fast"),
      array_sort(transform(Dedup.wordShingles(col("text"), 3),
        g => xxhash64(g))).as("slow"))
    assert(df.filter(col("fast") =!= col("slow")).count() == 0)
  }

  test("simhash: identical docs share signature; distinct content differs") {
    val sims = Dedup.portableSimhash(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        java.lang.Long.parseUnsignedLong(r.getString(1), 16)).toMap
    assert(sims(0L) == sims(1L))
    assert(sims(0L) != sims(3L))
    // near-dup is hamming-close
    val ham = java.lang.Long.bitCount(sims(0L) ^ sims(2L))
    assert(ham <= 12, s"near-dup hamming=$ham")
  }

  test("ngram jaccard: identity=1, near-dup high, unrelated ~0") {
    val df = Seq((base, base, nearDup, unrelated))
      .toDF("a", "b", "c", "d")
    val r = df.select(
      Dedup.ngramJaccard(col("a"), col("b")),
      Dedup.ngramJaccard(col("a"), col("c")),
      Dedup.ngramJaccard(col("a"), col("d"))).collect()(0)
    assert(r.getDouble(0) == 1.0)
    assert(r.getDouble(1) > 0.5)
    assert(r.getDouble(2) < 0.05)
  }

  test("LSH join plan contains no cartesian product") {
    val plan = Dedup.minhashNearDups(docs, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"all-pairs product in plan:\n$plan")
  }

  test("exact n-gram near-dup (inverted index) finds planted pairs, no cartesian") {
    val out = Dedup.exactNgramNearDups(docs, "text", "doc_id",
      n = 3, threshold = 0.5)
    val pairs = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // exact dups 0/1 at jaccard 1.0; near-dup 2 pairs with both at ~0.85
    assert(pairs.map(p => (p._1, p._2)).toSet ==
      Set((0L, 1L), (0L, 2L), (1L, 2L)))
    assert(pairs.find(p => (p._1, p._2) == (0L, 1L)).get._3 == 1.0)
    assert(pairs.find(p => (p._1, p._2) == (0L, 2L)).get._3 > 0.8)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"all-pairs product in plan:\n$plan")
  }

  test("gram index fallback: short and empty docs pair on the whole-" +
      "string gram") {
    // Docs with < n tokens contribute ONE fallback gram (the whole token
    // string; "" when empty) — the path no testdata doc exercises. Two
    // identical 2-token docs must pair at jaccard 1.0 via the fallback,
    // the empty docs likewise, and neither may pair with a long doc.
    val short = Seq(
      (0L, "alpha beta"), (1L, "alpha beta"),       // short identical pair
      (2L, ""), (3L, "   "),                        // empty / blank pair
      (4L, "alpha beta gamma delta epsilon zeta"),  // long doc: no pairs
      (5L, null.asInstanceOf[String])               // NULL text == empty
    ).toDF("doc_id", "text")
    val pairs = Dedup.exactNgramNearDups(short, "text", "doc_id",
        n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.map(p => (p._1, p._2)).toSet ==
      Set((0L, 1L), (2L, 3L), (2L, 5L), (3L, 5L)), pairs.toSeq)
    assert(pairs.forall(_._3 == 1.0), pairs.toSeq)
  }

  test("hot-gram cap bounds the boilerplate blowup, keeps real pairs") {
    import spark.implicits._
    // every doc shares one boilerplate phrase; docs 0/1 also share a
    // genuinely duplicated body
    val boiler = "all rights reserved by the site"
    val body = "the quick brown fox jumps over the lazy dog again"
    val docs = ((0L until 20L).map { i =>
      val text =
        if (i <= 1) s"$body $boiler"
        else s"unique document number $i with its own words $i $boiler"
      (i, text)
    } ++ Seq((20L, boiler), (21L, boiler))) // boilerplate-ONLY dups
      .toDF("doc_id", "text")

    val uncapped = Dedup.exactNgramNearDups(docs, "text", "doc_id",
        n = 3, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // capped at df 5: boilerplate grams (df 22) leave the index
    val capped = Dedup.exactNgramNearDups(docs, "text", "doc_id",
        n = 3, threshold = 0.4, maxGramDf = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // uncapped (exact): the real pair AND the boilerplate-only pair
    assert(uncapped == Set((0L, 1L), (20L, 21L)), s"uncapped: $uncapped")
    // capped: the real pair survives via its body grams; the pair whose
    // ENTIRE overlap is hot grams is the documented conservative miss
    assert(capped == Set((0L, 1L)), s"capped: $capped")
  }

  test("portableSimhash: md5-bit signature, brute-force-exact band join") {
    // Signature is a pure function of the token multiset, hex-shaped
    val sigs = Dedup.portableSimhash(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sigs.values.forall(_.matches("[0-9a-f]{16}")), sigs.toString)
    assert(sigs(0L) == sigs(1L)) // identical docs share the signature
    assert(sigs(0L) != sigs(3L))
    def bits(s: String): Long = java.lang.Long.parseUnsignedLong(s, 16)
    // banded pairs == brute-force hamming<=3 over the same signatures
    val out = Dedup.portableSimhashNearDups(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = (for {
      (ia, sa) <- sigs.toSeq; (ib, sb) <- sigs.toSeq
      h = java.lang.Long.bitCount(bits(sa) ^ bits(sb))
      if ia < ib && h <= 3
    } yield (ia, ib, h.toLong)).toSet
    assert(out.toSet == expected, s"got ${out.toSeq}")
    assert(out.exists(p => p._1 == 0L && p._2 == 1L && p._3 == 0L))
    val plan = Dedup.portableSimhashNearDups(docs, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
  }

  test("connectedComponents: chains and sibling pairs resolve to the min rep") {
    val vertices = spark.range(0, 7).toDF("id")
    val pairs = Seq((0L, 1L), (1L, 2L), (4L, 6L), (5L, 6L))
      .toDF("id_a", "id_b")
    // {0,1,2} is a chain; {4,5,6} is the case greedy drop-id_b gets wrong
    // (4 and 5 never appear as id_b, so greedy would keep both); 3 is a
    // singleton. verify=true exercises the audit gate alongside the
    // star-forest witness.
    val out = Dedup.connectedComponents(vertices, pairs, verify = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L,
      4L -> 4L, 5L -> 4L, 6L -> 4L))
  }

  test("connectedComponents: deep path and reversed ids need multiple star rounds") {
    // A 10-node path with ids DESCENDING along the chain (worst case for
    // min-propagation direction), plus a binary-tree-ish component and a
    // duplicate/self-noise edge mix. Exercises multi-round convergence of
    // alternating large-star/small-star plus the verify gate.
    val vertices = spark.range(0, 16).toDF("id")
    val path = (0 until 9).map(i => (9L - i, 8L - i)) // 9-8, 8-7, ..., 1-0
    val tree = Seq((10L, 12L), (10L, 14L), (12L, 15L), (14L, 11L))
    val noise = Seq((5L, 5L), (9L, 8L)) // self edge + duplicate edge
    val pairs = (path ++ tree ++ noise).toDF("id_a", "id_b")
    val out = Dedup.connectedComponents(vertices, pairs, verify = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val expected =
      (0L to 9L).map(_ -> 0L).toMap ++
        Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 14L -> 10L, 15L -> 10L) ++
        Map(13L -> 13L)
    assert(out == expected, out.toSeq.sortBy(_._1).toString)
  }

  test("minhash recall vs exact near-dup set >= 0.9 on real documents") {
    // The d07 registry audit: banded-LSH verified pairs against the exact
    // inverted-index set at the same threshold.
    val real = spark.read.parquet(s"$sf/documents.parquet")
    val exact = Dedup.exactNgramNearDups(real, "text", "doc_id", 3, 0.5)
      .select(col("id_a").as("query_id"), col("id_b").as("neighbor_id"))
    val mh = Dedup.minhashNearDups(real, "text", "doc_id", k = 3,
        numHashes = 32, bands = 8, threshold = 0.5)
      .select(col("id_a").as("query_id"), col("id_b").as("neighbor_id"))
    val r = graft.llm.Similarity.recallAtK(exact, mh).head()
    assert(r.getAs[Long]("exact_pairs") > 0, "vacuous: no exact pairs")
    assert(r.getAs[Double]("recall") >= 0.9,
      s"minhash recall ${r.getAs[Double]("recall")} below floor")
  }

  test("incrementalDedup: drops prior-corpus dups, then within-batch") {
    import spark.implicits._
    val prior = Seq((0L, "seen before"), (1L, "also seen"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "seen before"),   // dup of prior → dropped
      (11L, "brand new"),     // survives
      (12L, "brand new"),     // within-batch dup of 11 → dropped
      (13L, "also new")       // survives
    ).toDF("doc_id", "text")
    val kept = Dedup.incrementalDedup(batch, prior, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(11L, 13L), kept.toSeq.sorted)
    // batch columns survive untouched (no helper column leaks)
    val cols = Dedup.incrementalDedup(batch, prior, "text", "doc_id").columns
    assert(cols.toSet == Set("doc_id", "text"), cols.toSeq)
  }

  test("incrementalNearDups: batch probes the prior index; prior pairs never re-emit") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val prior = Seq(
      (0L, base),
      (1L, base.replace("lazy", "sleepy")),  // prior×prior near-dup pair
      (2L, "completely different text about winter mountain weather patterns")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, base.replace("today", "tonight")),  // near-copy of prior 0
      (11L, "novel content one about rivers and long valleys and morning fog banks"),
      (12L, "novel content one about rivers and long valleys and morning fog hills"), // near-dup of 11
      (13L, "unrelated text regarding ancient library catalog systems entirely")
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalNearDups(batch,
        Dedup.lshBuckets(prior, "text", "doc_id"), prior,
        "text", "doc_id", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(out.contains((10L, 0L, "prior")),
      s"cross-snapshot near-copy must surface against the prior index: $out")
    assert(out.contains((11L, 12L, "batch")),
      s"within-batch near-dup must surface: $out")
    // the prior×prior pair (0,1) was found when that snapshot landed —
    // the incremental pass must NOT re-emit it
    assert(!out.exists(p => p._1 < 10L),
      s"prior docs can only appear on the other_id side: $out")
    assert(!out.exists(p => p._1 == 13L || p._2 == 13L), out.toString)
    // a re-crawled doc that KEEPS its id across snapshots must not be
    // reported as a near-dup of itself (id-spaces need not be disjoint).
    // Its text is IDENTICAL to prior doc 0, so every band collides and
    // without the id filter the (0, 0, prior) pair would surface.
    val recrawl = Seq((0L, base)).toDF("doc_id", "text")
    val self = Dedup.incrementalNearDups(recrawl,
        Dedup.lshBuckets(prior, "text", "doc_id"), prior,
        "text", "doc_id", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(!self.exists(p => p._1 == 0L && p._2 == 0L && p._3 == "prior"),
      s"shared id must not emit a self pair: ${self.toSeq}")
  }

  test("containment catches an excerpt Jaccard misses") {
    import spark.implicits._
    val page = (1 to 60).map(i => s"word$i").mkString(" ")
    val quote = (10 to 15).map(i => s"word$i").mkString(" ")
    val docs = Seq((1L, page), (2L, quote), (3L, "totally different text here"))
      .toDF("doc_id", "text")
    val contained = Dedup.containmentPairs(docs, "text", "doc_id",
        n = 3, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(contained.map(p => (p._1, p._2)).toSeq == Seq((1L, 2L)))
    assert(contained.head._3 == 1.0) // every quote gram is in the page
    // the same pair is invisible to the Jaccard gate at any useful bar
    val jac = Dedup.exactNgramNearDups(docs, "text", "doc_id", 3, 0.5)
      .collect()
    assert(jac.isEmpty, jac.mkString(","))
  }

  test("leakage-safe split: near-dup cluster members share one split") {
    import spark.implicits._
    // 40 distinct docs + a 3-member near-dup cluster spread across ids
    // that a per-doc hash split would scatter over train/val/test
    val dupText = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = ((0L until 40L).map(i =>
      (i, s"unique document number $i with its own words w$i x$i y$i")) ++
      Seq(100L, 200L, 300L).map(id => (id, dupText)))
      .toDF("doc_id", "text")
    val labels = Dedup.connectedComponents(
      docs.select(col("doc_id").as("id")),
      Dedup.exactNgramNearDups(docs, "text", "doc_id", 3, 0.5))
    val split = labels.select(col("id"),
      substring(md5(col("rep").cast("string")), 1, 2).as("h"))
      .select(col("id"),
        when(col("h") < "cd", "train").when(col("h") < "e6", "val")
          .otherwise("test").as("split"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(split.size == 43)
    assert(split(100L) == split(200L) && split(200L) == split(300L),
      s"cluster scattered: ${Seq(100L, 200L, 300L).map(split)}")
    // and the split is the REPRESENTATIVE's hash (id 100 is the min)
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest("100".getBytes("UTF-8")).take(1).map("%02x".format(_)).head
    val expected = if (h < "cd") "train" else if (h < "e6") "val" else "test"
    assert(split(100L) == expected)
  }

  test("d25 portable incremental twin: candidates are new-vs-prior and new-vs-new only") {
    val rows = SparkEntry.queries("d25_incremental_portable")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    assert(rows.nonEmpty, "the sf0.001 corpus must surface some near-dups")
    rows.foreach { case (batchId, otherId, vs, j) =>
      assert(batchId >= 300L, s"pair anchored on a prior doc: $batchId")
      assert(j >= 0.5 && j <= 1.0)
      vs match {
        case "prior" => assert(otherId < 300L,
          s"vs=prior but other in batch: $otherId")
        case "batch" => assert(otherId >= 300L && batchId < otherId,
          s"vs=batch violates ordering: ($batchId, $otherId)")
        case x => fail(s"unknown vs tag $x")
      }
    }
  }

  test("dupSpans catches a duplicated passage at ANY alignment (d22 cannot)") {
    import spark.implicits._
    val passage = (1 to 8).map(i => s"p$i").mkString(" ")
    def filler(tag: String, n: Int) =
      (1 to n).map(i => s"$tag$i").mkString(" ")
    // doc 1 embeds the passage at token offset 3, doc 2 at offset 6 —
    // misaligned for any disjoint segmentation, caught by stride-1 spans
    val df = Seq(
      (1L, s"${filler("a", 3)} $passage ${filler("b", 4)}"),
      (2L, s"${filler("c", 6)} $passage ${filler("d", 2)}")
    ).toDF("doc_id", "text")
    val out = Dedup.dupSpans(df, "text", "doc_id", w = 8, stride = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // the full-passage window sits at span_idx 3 in doc 1 and 6 in doc 2
    assert(out.contains((1L, 3L, 2L)), s"doc1 passage window missing: ${out.toSeq}")
    assert(out.contains((2L, 6L, 2L)), s"doc2 passage window missing: ${out.toSeq}")
    // no spurious full-width dup windows: every reported pair involves
    // the shared passage region (offsets within its 8-token windows) or
    // clamped suffix windows that end inside it
    assert(out.forall(_._3 == 2L))
    // and the DISJOINT segmenter indeed cannot see it at these offsets
    val segOut = Dedup.segmentDedup(df, "text", "doc_id", segWords = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(segOut(2L) == ((6 + 8 + 2 + 7) / 8).toLong,
      "disjoint segments should all survive (no aligned duplicate)")
  }

  test("dupSpans: span text never shuffles (digest-only exchanges)") {
    import spark.implicits._
    val docs = (1L to 50L).map(i => (i, (1 to 20).map(j => s"w${(i * j) % 13}").mkString(" ")))
      .toDF("doc_id", "text")
    val plan = Dedup.dupSpans(docs, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("rangepartitioning"), plan.take(600))
    assert(!plan.contains("hashpartitioning(span"), plan.take(600))
    assert(!plan.contains("hashpartitioning(text"), plan.take(600))
    assert(!plan.contains("hashpartitioning(words"), plan.take(600))
  }

  test("electCanonical: a degenerate 10^4-member cluster elects through " +
      "the argmax aggregate — no window, no sort, map-side combine") {
    // The solid-color-thumbnail scenario one level above the pair valve:
    // ONE rep with 10,000 members. The winner is (quality desc, id asc);
    // quality = id % 100 peaks at 99, first reached at id 99.
    val members = spark.range(10000).select(
      lit(0L).as("rep"), col("id"), (col("id") % 100L).as("width"))
      .unionByName(Seq((1L, 1L, 5L), (1L, 2L, 5L)) // small honest cluster
        .toDF("rep", "id", "width"))
    val out = Dedup.electCanonical(members, "rep", "id", "width")
    val rows = out.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows(0L) == ((99L, 99L, 10000L)))
    assert(rows(1L) == ((1L, 5L, 2L))) // tie on quality -> min id wins
    // plan shape: never a Window or a Sort (a rank window would sort the
    // degenerate cluster in one task); the argmax pre-combines map-side
    import org.apache.spark.sql.catalyst.plans.logical.{Sort, Window}
    out.queryExecution.optimizedPlan.foreach {
      case w: Window => fail(s"election planned a window: ${w.simpleString(80)}")
      case s: Sort => fail(s"election planned a sort: ${s.simpleString(80)}")
      case _ => ()
    }
    val phys = out.queryExecution.executedPlan.toString
    assert(phys.contains("partial_max_by"),
      "argmax must partial-aggregate before the exchange:\n" + phys.take(800))
  }

  test("portableNearDups (d20) and portableRecall (d30) output rows " +
      "pinned at sf0.001") {
    Seq("d20_minhash_portable" -> 28L, "d30_recall_portable" -> 28L)
      .foreach { case (name, rows) =>
        val n = SparkEntry.queries(name)(spark, sf).count()
        CacheScope.harness.release()
        spark.catalog.clearCache()
        assert(n == rows, name)
      }
  }
}
