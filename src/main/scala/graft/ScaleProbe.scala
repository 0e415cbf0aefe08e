package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling-exponent probe for the algorithmically-superlinear family —
  * the measurement BENCH_NOTES.md's "sf1 scaling probe" records: each
  * heavy OPERATOR runs on the same input shape at sf0.1 and at the
  * 10x probe tables (`tools/gen_scale_probe.py`), and this main prints
  * one JSON line per (probe, dir) with wall seconds AND total shuffle
  * records — so the observed exponent separates "CPU got 10x work"
  * (fine) from "the shuffle grew superlinearly" (a plan problem). It
  * also prints the largest stage's and the largest task's peak execution
  * memory, and that task's peak in memory pages (`task_pages`; Spark
  * fails a task that needs more than 8192 pages).
  *
  * Every row CALLS the library function (or the registry entry) the
  * system runs — never a copy of it. Where the registry pins a constant
  * absolute slice (the audit-valve posture), the probe passes the FULL
  * corpus or a constant FRACTION of it: it measures how cost grows when
  * the INPUT grows.
  *
  * Usage: runMain graft.ScaleProbe <dir1> <dir2> ...
  */
object ScaleProbe {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Registry.t(s, dir, "documents")

  /** The documents split at doc_id = num/den of the row count: (below,
    * at-or-above) — a constant FRACTION of the corpus at every scale.
    */
  private def split(s: SparkSession, dir: String, num: Long, den: Long)
      : (DataFrame, DataFrame) = {
    val d = docs(s, dir)
    val cut = num * d.count() / den
    (d.filter(col("doc_id") < cut), d.filter(col("doc_id") >= cut))
  }

  private def head(s: SparkSession, dir: String, num: Long, den: Long)
      : DataFrame = split(s, dir, num, den)._1

  private def nDocs(s: SparkSession, dir: String): Long =
    docs(s, dir).count()

  def probes: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // d26 shape: stride-1 window fingerprints over the FULL corpus
    "d26_dup_spans" -> SparkEntry.queries("d26_dup_spans"),
    // d31 shape: full ExactSubstr rewrite over the FULL corpus
    "d31_exact_substr" -> SparkEntry.queries("d31_exact_substr"),
    // g03 shape: degree-oriented wedge join over the FULL event stream
    "g03_triangles" -> SparkEntry.queries("g03_triangles"),
    // d08/d14 shape: gram-index near-dup pairs + connected components on
    // a constant 10% FRACTION (the registry pins 10% of sf0.1 = 500)
    "d08_cc_neardup" -> ((s, dir) =>
      graft.llm.Dedup.nearDupClusters(head(s, dir, 1, 10), "text",
        "doc_id", 3, 0.5)),
    // d20 shape: portable MinHash signatures -> banded bucket join on a
    // constant 40% fraction (d20's own fraction at sf0.1)
    "d20_lsh_candidates" -> ((s, dir) =>
      graft.llm.Dedup.portableCandidates(
        graft.llm.Dedup.portableMinhashBands(head(s, dir, 2, 5), "text",
          "doc_id"))),
    // d06/d08 df-cap VALVE measurement (round-12 probe finding: under
    // the fixed synthetic vocabulary, candidates-per-gram grow linearly
    // with corpus size, so the pair join goes quadratic at the next 10x
    // unless the cap bites). Same 10% slice as d08_cc_neardup, pairs
    // frame only (CC excluded so shuffle records isolate the valve):
    // uncapped vs maxGramDf=8 — the cap is chosen to be a NO-OP at
    // sf0.1 (max gram df there is 7) and to engage exactly where the
    // growth would go quadratic: rows = true pairs found (the
    // conservative-miss accounting), shuffle = the valve's effect.
    "d06_pairs_uncapped" -> ((s, dir) =>
      graft.llm.Dedup.exactNgramNearDups(head(s, dir, 1, 10), "text",
        "doc_id", 3, 0.5)),
    "d06_pairs_capped" -> ((s, dir) =>
      graft.llm.Dedup.exactNgramNearDups(head(s, dir, 1, 10), "text",
        "doc_id", 3, 0.5, maxGramDf = 8)),
    // t30 shape: KN trigram stats fitted AND scored over the FULL
    // corpus — measures the trigram-TYPE table's growth (the design
    // claim: stats tables are type-bounded, so they saturate under a
    // bounded vocabulary while the scored stream grows linearly)
    "t30_kn_trigram" -> ((s, dir) =>
      graft.llm.TextAnalysis.knTrigramScores(docs(s, dir), docs(s, dir),
        "doc_id", "text")),
    // d33 shape: digest-index BUILD on 90% (persisted through the real
    // bloom-filtered parquet layout — the write is part of the measured
    // cost) + one batch (10%) rewritten against the PERSISTED index via
    // readDigestIndex, exactly the registry entry's plan (an in-plan
    // digest frame would measure the d32 shape instead and skip the
    // index write + parquet probe that dominate real maintenance)
    "d33_index_rewrite" -> ((s, dir) => {
      val (base, batch) = split(s, dir, 9, 10)
      val idx = Registry.scratchDir("probe_d33_idx") + "/digests"
      graft.llm.Dedup.buildDigestIndex(base, "text", "doc_id", 8, idx,
        expectedNdv = 10000000L)
      graft.llm.Dedup.exactSubstrWithIndex(batch,
        graft.llm.Dedup.readDigestIndex(s, idx), "text", "doc_id", 8)
    }),
    // t32 shape (round-14): the steady-state LM maintenance step —
    // 90% of the corpus collapses to a persisted KN stats artifact
    // (the one-time build, inside the measurement like d33's index
    // build), a 10% batch's stats fold in by grouped addition, and the
    // batch scores from the folded stats. The claim measured: the fold
    // and scoring shuffle tracks the BATCH and the type-bounded stats
    // tables, never the scored history.
    "t32_kn_fold" -> ((s, dir) => {
      val (base, batch) = split(s, dir, 9, 10)
      val ta = graft.llm.TextAnalysis
      val statsDir = Registry.scratchDir("probe_kn_stats") + "/s"
      ta.saveKnStats(ta.knStats(base, "doc_id", "text"), statsDir)
      val folded = ta.mergeKnStats(ta.loadKnStats(s, statsDir),
        ta.knStats(batch, "doc_id", "text"))
      ta.knScoreFromStats(batch, folded, "doc_id", "text")
    }),
    // l07 shape (round-14): the per-source token-budget prefix sum as
    // the GROUPED runningTotal (range partition + per-key broadcast
    // offsets); its tasks stay bounded by data/parts
    "l07_budget_grouped" -> ((s, dir) =>
      graft.llm.CorpusPipeline.sampleToTokenBudget(docs(s, dir),
        budget = 100000L)),
    // t29 shape: unigram-LM fit (bounded driver EM over the word-freq
    // table) + full-corpus Viterbi encode — the encode pass should be
    // linear and the fit constant (the frequent-word table saturates)
    "t29_unigram_encode" -> ((s, dir) => {
      val d = docs(s, dir)
      val um = graft.llm.UnigramLm
      um.encode(d, "doc_id", "text", um.fit(d, "text", um.Params()),
        um.Params())
    }),
    // l22 shape (round-15): the COMPOSED CommonCrawl chain over the FULL
    // corpus — stages are probed individually (d31 above, l07/l13
    // shapes), but the chain is the product: executor-written gzip WARC
    // archives → container read-back → C4-lite line cleaning →
    // ExactSubstr-FULL → temperature mix → 512-token block count.
    "l22_chain" -> ((s, dir) =>
      graft.llm.CorpusPipeline.commonCrawlChain(docs(s, dir),
        Registry.scratchDir("probe_l22_warc"), parts = 32)),
    // m18 shape (round-15): the COMPOSED multimodal chain over the FULL
    // corpus (1000 perceptual clusters, half the corpus pixel-doubled).
    // The claim measured: pixels never shuffle (payloads stay
    // scan-side; hashes/widths/token counts travel), so the chain's
    // shuffle tracks members, not bytes, and CC rounds stay bounded
    // under 10x more clusters.
    "m18_chain" -> ((s, dir) =>
      graft.llm.Multimodal.imageChain(docs(s, dir), bound = nDocs(s, dir),
        nKeys = 1000, tarDir = Registry.scratchDir("probe_m18_tar"),
        parts = 32, blockSize = 64)),
    // m19 shape (round-16): the COMPOSED audio/video chain over the FULL
    // corpus (1000 envelope clusters, half integer-upsampled 2x). Claim
    // measured: samples/pixels never shuffle — envelopes, durations and
    // token counts travel — so the chain's shuffle tracks members, not
    // media bytes.
    "m19_chain" -> ((s, dir) =>
      graft.llm.Multimodal.avChain(docs(s, dir), bound = nDocs(s, dir),
        nKeys = 1000, tarDir = Registry.scratchDir("probe_m19_tar"),
        parts = 32, blockSize = 64)),
    // t34/l26 shape (round-16): the trained-filter fit+score at scale —
    // 10 integer-GD iterations over the cached presence-feature table.
    // Claim measured: iteration cost is linear in the count table
    // (built once, cached), the per-round driver round-trip stays <=257
    // rows, and the scoring pass is one broadcast join — so wall and
    // shuffle grow ~linearly with the corpus at a FIXED iteration count.
    "t34_logreg_fit" -> ((s, dir) => {
      val lr = graft.llm.LogReg
      val (train, rest) = lr.labelledSplit(
        lr.labelledDocs(docs(s, dir), "t34:"))
      lr.margins(rest, lr.fit(train, iters = 10, lrDen = 4L))
    }),
    // m13-shape media pair VALVE posture (round-16): the real audio
    // decode → envelope digest → pair join, planted with 1000 bounded
    // content classes (~0.09% of the corpus each) plus ONE degenerate
    // key holding 10% of the corpus (the solid-color-thumbnail story).
    // Uncapped, the hot key alone emits C(n/10, 2) pairs — quadratic in
    // corpus size; capped at the production posture (maxGroupSize 128,
    // above every honest cluster at both SFs) the hot key drops WHOLE
    // (conservative miss, the d35 contract) while bounded keys keep
    // their exact pair sets. rows = pairs emitted (the forgone-pairs
    // accounting), shuffle = the valve's effect.
    "m13_pairs_uncapped" -> ((s, dir) =>
      graft.llm.Multimodal.plantedMediaPairs(docs(s, dir), Long.MaxValue,
        nClasses = 1000, maxGroupSize = 0)),
    "m13_pairs_capped" -> ((s, dir) =>
      graft.llm.Multimodal.plantedMediaPairs(docs(s, dir), Long.MaxValue,
        nClasses = 1000, maxGroupSize = 128)),
    // round-16 batch 2: the shard-audit loop priced at scale — write
    // the corpus's shard files (64 shards), read them back, recompute
    // every manifest statistic and diff. The audit is one scan of the
    // JSONL files + a skinny groupBy; wall and shuffle should grow
    // linearly with the corpus.
    "l27_audit" -> ((s, dir) => {
      val sm = graft.llm.ShardManifest
      val packed = graft.llm.CorpusPipeline.packSequences(
        docs(s, dir), capacity = 120, blockSize = 256)
      val tmp = Registry.scratchDir("probe_l27")
      sm.writeShards(packed, tmp, nShards = 64)
      sm.auditShards(sm.readShards(s, tmp),
        sm.manifest(packed, nShards = 64), nShards = 64)
    }),
    // round-16 batch 2: waterfill over DOMAIN-cardinality sources (997
    // synthetic domains) — the distributed runningTotal path priced at
    // 10x; the corpus shuffles once into the skinny per-source frame.
    "l28_waterfill" -> ((s, dir) => {
      val cp = graft.llm.CorpusPipeline
      cp.waterfillBudget(cp.sourceMasses(docs(s, dir), col("doc_id") % 997),
        num = 3, den = 5)
    })
  )

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ScaleProbe <dir1> <dir2> ...")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val rec = new FixedCost.Recorder
    spark.sparkContext.addSparkListener(rec)
    val pageSize = org.apache.spark.SparkEnv.get.memoryManager.pageSizeBytes
    // dev iteration filter (comma-separated probe-name prefixes)
    val only = sys.env.get("SPARK_GRAFT_PROBE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    args.foreach { dir =>
      probes.filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
        .foreach { case (name, fn) =>
        CacheScope.harness.release()
        spark.catalog.clearCache()
        rec.reset()
        val t0 = System.nanoTime()
        // force EVERY output column through Bench.checksum (a bare
        // count() lets Catalyst eliminate cardinality-preserving joins
        // — d31's rebuild join vanished and the probe measured an
        // empty plan; sharing the ONE drive keeps Bench and the probe
        // from drifting, incl. the map/variant to_json routing)
        val (rows, _) = Bench.checksum(fn(spark, dir))
        val sec = (System.nanoTime() - t0) / 1e9
        val stages = rec.stages
        val shuffleRecords = stages.map(_.shuffleRecords).sum
        // execution memory: the largest stage (its tasks' summed peaks)
        // and the largest task, also in pages of this session's size
        val stageMem = stages.map(_.peakMem).maxOption.getOrElse(0L)
        val taskMem = stages.map(_.maxTaskPeakMem).maxOption.getOrElse(0L)
        val taskPages = (taskMem + pageSize - 1) / pageSize
        val line =
          f"""{"probe":"$name","dir":"$dir","sec":$sec%.2f,"rows":$rows,"shuffle_records":$shuffleRecords,"stage_peak_mem_mb":${stageMem / 1048576.0}%.1f,"task_peak_mem_mb":${taskMem / 1048576.0}%.1f,"task_pages":$taskPages}"""
        println(line)
      }
    }
    spark.stop()
  }
}
