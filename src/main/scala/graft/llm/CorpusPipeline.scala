package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import TextAnalysis.{langIdSql, qualityFeaturesSql, qualityScoreSql,
  tokenCountSql, tokensSql}

/** The end-to-end cleaning pass a training-data run actually executes,
  * composed from the engine's verified pieces so the WHOLE pipeline is
  * one declarative plan Catalyst can optimize across stage boundaries
  * (gates push into the scan; nothing materializes between stages):
  *
  *   1. quality gate   — `TextAnalysis.qualityScore >= minQuality`
  *   2. language gate  — `TextAnalysis.langId` ∈ `langs`
  *   3. exact dedup    — digest groupBy, keep-first by id
  *   4. near-dup prune — drop the higher id of every pair at
  *      `neardupThreshold` (greedy cluster representative = lowest id)
  *
  * Stage 4 uses the exact inverted-index pairs by default (DuckDB-
  * expressible, so the full pipeline hash-checks as `l01_clean_corpus`);
  * at web scale pass `useMinhash = true` to swap in the banded-LSH
  * candidate path — same contract, sub-quadratic always, recall audited
  * by `d07_minhash_recall`.
  */
object CorpusPipeline {

  /** @param transitive false = greedy pruning (drop every pair's higher
    *   id — cheap, one anti-join, but can keep two members of a cluster
    *   connected only through a third); true = connected components
    *   (`Dedup.connectedComponents`), keeping exactly the minimum id of
    *   every dup cluster. Greedy is the default because it is
    *   single-pass; flip to transitive when cluster-level guarantees
    *   matter more than the iteration cost.
    */
  /** @param redact apply PII redaction to the surviving text as the
    *   final stage. AFTER dedup on purpose: redaction placeholders must
    *   not merge documents that differed only in their PII, and dedup
    *   must see the content that was actually crawled.
    * @param boilerplateFrac when set, run `Boilerplate.removeBoilerplate`
    *   at this doc-fraction threshold BEFORE everything else: template
    *   chrome must not feed the quality gate (it inflates stopword hits)
    *   nor dedup (two different articles sharing a site template must
    *   not become near-dups through the chrome alone).
    */
  def cleanCorpus(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text", minQuality: Double = 0.6,
                  langs: Seq[String] = Seq("en"),
                  neardupThreshold: Double = 0.5,
                  useMinhash: Boolean = false,
                  transitive: Boolean = false,
                  redact: Boolean = false,
                  boilerplateFrac: Option[Double] = None): DataFrame = {
    val base = boilerplateFrac match {
      case Some(f) => Boilerplate.removeBoilerplate(docs, idCol, textCol, f)
      case None => docs
    }
    val gated = base.filter(
      TextAnalysis.qualityScore(col(textCol)) >= minQuality &&
        TextAnalysis.langId(col(textCol)).isin(langs: _*))
    val deduped = Dedup.exactDedup(gated, textCol, idCol)
    val pairs =
      if (useMinhash)
        Dedup.minhashNearDups(deduped, textCol, idCol,
          threshold = neardupThreshold)
      else
        Dedup.exactNgramNearDups(deduped, textCol, idCol,
          threshold = neardupThreshold)
    val losers =
      if (transitive)
        Dedup.connectedComponents(
            deduped.select(col(idCol).as("id")), pairs)
          .filter(col("rep") =!= col("id"))
          .select(col("id").as(idCol))
      else pairs.select(col("id_b").as(idCol)).distinct()
    val kept = deduped.join(losers, Seq(idCol), "left_anti")
    if (redact) kept.withColumn(textCol, TextAnalysis.redactPii(col(textCol)))
    else kept
  }

  /** DuckDB replay of [[cleanCorpus]] with its default gates (quality
    * >= 0.6, English, keep-first exact dedup, greedy exact-n-gram
    * near-dup pruning at 0.5) over `table` rows with `doc_id <
    * maxDocId`: CTEs ending in `kept` (doc_id, text), the unredacted
    * survivors ([[TextAnalysis.redactPiiSql]] replays `redact`).
    */
  def cleanCorpusOracleCtes(table: String, maxDocId: Long): String =
    s"""base AS (
       |  SELECT doc_id, text FROM $table WHERE doc_id < $maxDocId),
       |feat AS (
       |  SELECT doc_id, text, ${qualityFeaturesSql("text")},
       |    ${langIdSql("text")} AS lang_pred
       |  FROM base),
       |q AS (
       |  SELECT doc_id, text, lang_pred, $qualityScoreSql AS quality
       |  FROM feat),
       |dedup AS (
       |  SELECT doc_id, text FROM q
       |  WHERE quality >= 0.6 AND lang_pred IN ('en')
       |  QUALIFY row_number() OVER (PARTITION BY md5(text)
       |    ORDER BY doc_id) = 1),
       |${Dedup.wordGramsCte("t", "dedup", "doc_id", "text", "doc_id")},
       |${Dedup.nearDupsOracleCtes("t", 0.5)},
       |kept AS (
       |  SELECT doc_id, text FROM dedup
       |  WHERE doc_id NOT IN (SELECT id_b FROM near))""".stripMargin

  /** Length-outlier pruning (Tukey fences): drop documents whose token
    * count falls outside [q1 − k·IQR, q3 + k·IQR] of the corpus
    * distribution — the standard defense against truncated fragments and
    * concatenation blobs that absolute length cutoffs (the quality gate)
    * can't express because they don't adapt to the corpus. The quartiles
    * are ONE exact sort-based aggregate reduced to a single row, joined
    * back as a broadcast — the corpus is scanned twice but never
    * shuffled wide, and the filter composes with the scan.
    */
  def dropLengthOutliers(docs: DataFrame, idCol: String = "doc_id",
                         textCol: String = "text",
                         k: Double = 1.5): DataFrame = {
    val withN = docs.withColumn("__lo_n",
      TextAnalysis.tokenCount(col(textCol)))
    val fences = withN.agg(
        expr("percentile(__lo_n, 0.25)").as("__lo_q1"),
        expr("percentile(__lo_n, 0.75)").as("__lo_q3"))
      .select(col("__lo_q1"), col("__lo_q3"),
        (col("__lo_q1") - (col("__lo_q3") - col("__lo_q1")) * k)
          .as("__lo_lo"),
        (col("__lo_q3") + (col("__lo_q3") - col("__lo_q1")) * k)
          .as("__lo_hi"))
    withN.crossJoin(broadcast(fences))
      .filter(col("__lo_n") >= col("__lo_lo") &&
        col("__lo_n") <= col("__lo_hi"))
      .drop("__lo_n", "__lo_q1", "__lo_q3", "__lo_lo", "__lo_hi")
  }

  /** Benchmark decontamination: drop every training document that shares
    * at least one word `n`-gram with the evaluation set — the standard
    * exact-substring contamination gate run before any LLM training job.
    * The eval side reduces to its DISTINCT gram set first (benchmarks
    * are tiny next to the corpus — thousands of docs vs billions) and
    * broadcasts; the training side never shuffles.
    *
    * Two-pass shape for the corpus-wide scan: the full corpus streams
    * through a HASH prefilter — the native `NgramHashes` kernel emits
    * each doc's distinct gram xxhash64 values with no intermediate gram
    * strings, probed against the broadcast eval gram-hash set (the
    * bloom-style membership test, with a 64-bit hash standing in for
    * the bloom: same one-sided error) — and only the surviving suspects
    * re-derive actual gram STRINGS for the exact string-equality
    * verify. Exactness is unconditional: a truly contaminated doc
    * always passes the prefilter (same gram → same hash), and a hash
    * collision only sends a clean doc to the verify pass, which rejects
    * it. Only the (rare) contaminated doc-ids — never the documents —
    * travel to the final anti-join. A doc shorter than `n` tokens
    * contributes its whole text as one gram (`wordShingles` fallback),
    * so short eval answers still decontaminate.
    */
  def decontaminate(train: DataFrame, evalDocs: DataFrame,
                    idCol: String = "doc_id", textCol: String = "text",
                    n: Int = 8): DataFrame = {
    val evalGrams = evalDocs
      .select(explode(Dedup.wordShingles(col(textCol), n)).as("gram"))
      .distinct()
    val evalHashes = evalGrams.select(xxhash64(col("gram")).as("gh"))
    // pass 1 (whole corpus, hashes only): candidate doc-ids
    val suspects = train
      .select(col(idCol),
        explode(graft.plans.NgramHashes(col(textCol), n)).as("gh"))
      .join(broadcast(evalHashes), Seq("gh"))
      .select(col(idCol)).distinct()
    // pass 2 (suspects only): exact gram-string verify. No distinct on
    // the contaminated ids: LEFT ANTI is set-semantics on the probe
    // side already, so deduping here would only add a shuffle.
    val contaminated = train
      .join(broadcast(suspects), Seq(idCol), "left_semi")
      .select(col(idCol),
        explode(Dedup.wordShingles(col(textCol), n)).as("gram"))
      .join(broadcast(evalGrams), Seq("gram"))
      .select(col(idCol))
    train.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Per-eval-document contamination REPORT — where [[decontaminate]]
    * drops training docs, this quantifies the leakage the other way
    * round (the GPT-3-appendix-style audit): for each eval document,
    * the fraction of its distinct word-n-grams that appear ANYWHERE in
    * the training corpus. An eval task whose documents are 90%
    * train-covered is a compromised benchmark even if no single
    * training doc was similar enough for the near-dup gates.
    *
    * Scale: the eval gram set is the SMALL side and is broadcast; the
    * 100 TB training side streams through ONE scan emitting only
    * MATCHED grams (bounded by the eval gram count, not the corpus),
    * which dedupe in a tiny shuffle — training text never shuffles.
    * Matching is on gram STRINGS (not xxhash64) so the whole report is
    * exactly DuckDB-replayable; the string broadcast is the same size
    * class as [[decontaminate]]'s evalGrams broadcast.
    */
  def contaminationReport(train: DataFrame, evalDocs: DataFrame,
                          idCol: String = "doc_id",
                          textCol: String = "text",
                          n: Int = 3): DataFrame = {
    val evalGrams = evalDocs.select(col(idCol).as("eval_id"),
      explode(Dedup.wordShingles(col(textCol), n)).as("gram"))
    val evalGramSet = evalGrams.select(col("gram")).distinct()
    val matched = train
      .select(explode(Dedup.wordShingles(col(textCol), n)).as("gram"))
      .join(broadcast(evalGramSet), Seq("gram"))
      .distinct()
    evalGrams
      .join(matched.withColumn("__hit", lit(1L)), Seq("gram"), "left")
      .groupBy("eval_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_matched"))
      .withColumn("overlap_frac",
        col("n_matched").cast("double") / col("n_grams"))
  }

  /** FUZZY benchmark decontamination: where [[decontaminate]] needs an
    * exact shared n-gram, this drops training docs that are NEAR-DUPS of
    * eval docs (banded MinHash LSH + exact-Jaccard verify) — the gate
    * that catches paraphrased and lightly-edited benchmark leakage.
    * Cross-corpus by construction: training signatures are computed
    * scan-side and probe a BROADCAST of the (tiny) eval side's band
    * buckets, so no train×train candidate pairs are ever generated and
    * the corpus never shuffles for the search — only candidate
    * (train, eval) pairs are verified, and only contaminated ids reach
    * the final anti-join. Same LSH parameters/guarantees as
    * `Dedup.minhashNearDups` (recall audited there by d07).
    */
  def decontaminateFuzzy(train: DataFrame, evalDocs: DataFrame,
                         idCol: String = "doc_id",
                         textCol: String = "text", k: Int = 3,
                         numHashes: Int = 32, bands: Int = 8,
                         threshold: Double = 0.7): DataFrame = {
    val rowsPerBand = numHashes / bands
    def buckets(df: DataFrame, side: String) =
      df.select(col(idCol).as(s"${side}_id"), col(textCol).as(s"${side}_txt"))
        .withColumn("__bk", explode(Dedup.bandHashes(
          graft.plans.MinHashSig(col(s"${side}_txt"), k, numHashes),
          bands, rowsPerBand)))
        .select(col(s"${side}_id"), col(s"${side}_txt"),
          col("__bk.band").as("band"), col("__bk.bh").as("bh"))
    val eb = buckets(evalDocs, "eval")
    val candidates = buckets(train, "train")
      .join(broadcast(eb), Seq("band", "bh"))
      .select(col("train_id"), col("train_txt"),
        col("eval_id"), col("eval_txt"))
      .distinct()
    val contaminated = candidates
      .filter(Dedup.ngramJaccard(col("train_txt"), col("eval_txt"), k)
        >= threshold)
      .select(col("train_id").as(idCol))
    train.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Deterministic corpus mixing: keep each document with a per-source
    * probability (`weights`, missing sources fall back to
    * `defaultWeight`), decided by a multiplicative hash of the stable id
    * — NOT by `rand()`. Determinism is the point: the same mixture is
    * reproducible run-to-run, survives retries/speculative execution,
    * and composes with incremental reruns (a re-crawled doc keeps its
    * fate). Pure per-row filter — no shuffle, no sampling pass; pushes
    * into the scan. The hash is Knuth's multiplicative scheme over the
    * id (portable integer arithmetic, reproducible on any engine); for
    * string keys swap in `xxhash64` — same contract.
    */
  def mixSources(docs: DataFrame, weights: Map[String, Double],
                 defaultWeight: Double = 1.0, idCol: String = "doc_id",
                 sourceCol: String = "source"): DataFrame = {
    val scaled = weights.foldRight(
        lit((defaultWeight * 10000).round): Column) { case ((s, w), acc) =>
      when(col(sourceCol) === s, lit((w * 10000).round)).otherwise(acc)
    }
    // id reduced mod 10000 before the multiply: same modular value,
    // product bounded far below BIGINT overflow at any id range (wrap
    // vs DuckDB's overflow error can never diverge)
    docs.filter(pmod(pmod(col(idCol), lit(10000L)) * lit(2654435761L),
      lit(10000L)) < scaled)
  }

  /** Greedy sequence packing: assign whole documents, in id order, to
    * training bins of at most `capacity` tokens (first document of a bin
    * always fits by definition; a doc longer than `capacity` gets a bin
    * of its own — pre-chunk with `TextAnalysis.chunkTokens` if hard caps
    * are required). Packing is sequential by nature, so the corpus is
    * split into independent BLOCKS of `blockSize` consecutive ids and
    * packed per block: one shuffle on the block key, then a per-block
    * `aggregate` fold over the sorted (id, tokens) list — O(blockSize)
    * work per task, fully parallel across blocks, no driver loop. With
    * blockSize ≫ capacity/avg_doc_tokens the per-block seams waste a
    * vanishing fraction of bin space vs a (non-parallelizable) global
    * greedy pass. Returns (id, block, bin, n_tokens); (block, bin) is
    * the bin key. Deterministic — same corpus, same packing.
    */
  def packSequences(docs: DataFrame, capacity: Int, blockSize: Int = 256,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame =
    packByCount(docs.select(col(idCol),
        TextAnalysis.tokenCount(col(textCol)).as("__pack_nt")),
      capacity, blockSize, idCol, "__pack_nt")

  /** [[packSequences]] over a PRECOMPUTED per-doc token count — the
    * composition point for real tokenizers: whitespace counts are the
    * quick proxy, but the bins a trainer actually fills are BPE-token
    * sized, so the l17 chain feeds `Bpe.encodePortable`'s counts here.
    * Same greedy per-block fold, same determinism contract.
    */
  def packByCount(counts: DataFrame, capacity: Int, blockSize: Int = 256,
                  idCol: String = "doc_id",
                  countCol: String = "n_tokens"): DataFrame = {
    require(capacity > 0 && blockSize > 0)
    val withN = counts.select(col(idCol).as("id"),
        col(countCol).cast("long").as("nt"))
      .withColumn("block", floor(col("id") / blockSize).cast("long"))
    withN.groupBy("block")
      .agg(sort_array(collect_list(struct(col("id"), col("nt")))).as("ds"))
      .withColumn("packed", expr(s"""
        aggregate(ds,
          named_struct(
            'acc', CAST(array() AS ARRAY<STRUCT<id: BIGINT, nt: BIGINT,
                                               bin: INT>>),
            'bin', 0, 'bt', CAST(0 AS BIGINT)),
          (st, d) -> IF(st.bt = 0L OR st.bt + d.nt <= $capacity,
            named_struct(
              'acc', array_append(st.acc,
                named_struct('id', d.id, 'nt', d.nt, 'bin', st.bin)),
              'bin', st.bin, 'bt', st.bt + d.nt),
            named_struct(
              'acc', array_append(st.acc,
                named_struct('id', d.id, 'nt', d.nt, 'bin', st.bin + 1)),
              'bin', st.bin + 1, 'bt', d.nt)),
          st -> st.acc)"""))
      .select(col("block"), explode(col("packed")).as("p"))
      .select(col("p.id").as(idCol), col("block"), col("p.bin").as("bin"),
        col("p.nt").as("n_tokens"))
  }

  /** DuckDB CTEs `pk_n` and `pk_p` (doc_id, block, nt, rn, bin, bt)
    * replaying [[packByCount]] over `counts` (doc_id, nt): the same
    * greedy walk, one recursive step per doc, all blocks in parallel.
    * Needs `WITH RECURSIVE`.
    */
  def packByCountOracleCtes(counts: String, capacity: Int,
                            blockSize: Int): String = {
    // an empty bin takes the next doc whatever its size (the fold's rule)
    val fits = s"p.bt = 0 OR p.bt + n.nt <= $capacity"
    s"""pk_n AS (
       |  SELECT doc_id, doc_id // $blockSize AS block, nt,
       |    row_number() OVER (PARTITION BY doc_id // $blockSize
       |      ORDER BY doc_id) AS rn
       |  FROM $counts),
       |pk_p AS (
       |  SELECT doc_id, block, nt, rn, 0 AS bin, nt AS bt
       |  FROM pk_n WHERE rn = 1
       |  UNION ALL
       |  SELECT n.doc_id, n.block, n.nt, n.rn,
       |    CASE WHEN $fits THEN p.bin ELSE p.bin + 1 END,
       |    CASE WHEN $fits THEN p.bt + n.nt ELSE n.nt END
       |  FROM pk_p p JOIN pk_n n
       |    ON n.block = p.block AND n.rn = p.rn + 1)""".stripMargin
  }

  /** `WITH RECURSIVE ctes` selecting the packed rows of `pk_p`
    * (doc_id, block, bin BIGINT, n_tokens) by doc_id.
    */
  def packedOracleSql(ctes: Seq[String]): String =
    s"""WITH RECURSIVE ${ctes.mkString(",\n")}
       |SELECT doc_id, block, CAST(bin AS BIGINT) AS bin,
       |  nt AS n_tokens
       |FROM pk_p ORDER BY doc_id""".stripMargin

  /** [[packByCountOracleCtes]] over the whitespace token counts `pk_c`
    * (doc_id, nt) of `from`'s (doc_id, text) rows: the
    * [[packSequences]] replay.
    */
  def packSequencesOracleCtes(from: String, capacity: Int,
                              blockSize: Int): String =
    s"""pk_c AS (
       |  SELECT doc_id,
       |    ${tokenCountSql("text")} AS nt
       |  FROM $from),
       |${packByCountOracleCtes("pk_c", capacity, blockSize)}""".stripMargin

  /** Pack by BPE-token counts: fit `numMerges` BPE merges on `docs`
    * (doc_id, text), encode every doc with [[Bpe.encodePortable]] and
    * [[packByCount]] the counts. Returns (doc_id, block, bin BIGINT,
    * n_tokens); [[packBpeOracleCtes]] replays it.
    */
  def packBpe(docs: DataFrame, numMerges: Int, maxVocabWords: Int,
              capacity: Int, blockSize: Int): DataFrame = {
    val merges = Bpe.fit(docs, "text", numMerges, maxVocabWords)
    val counts = Bpe.encodePortable(docs, "doc_id", "text", merges)
      .select(col("id").as("doc_id"),
        col("n_bpe_tokens").cast("long").as("n_tokens"))
    packByCount(counts, capacity, blockSize)
      .select(col("doc_id"), col("block"),
        col("bin").cast("long").as("bin"), col("n_tokens"))
  }

  /** DuckDB CTEs replaying [[packBpe]] over the (doc_id, text) rows of
    * `table` with doc_id < `maxDocId`: the BPE chain of
    * [[Bpe.portableCtes]], `bp_counts` (doc_id, nt) and the pack walk
    * `pk_p`. Needs `WITH RECURSIVE`.
    */
  def packBpeOracleCtes(table: String, maxDocId: Long, numMerges: Int,
                        maxVocabWords: Int, capacity: Int,
                        blockSize: Int): Seq[String] =
    Bpe.portableCtes(table, "doc_id", "text", maxDocId, numMerges,
      maxVocabWords) ++ Seq(
      """bp_counts AS (
        |  SELECT d.id AS doc_id,
        |    CAST(coalesce(sum(len(e.toks)), 0) AS BIGINT) AS nt
        |  FROM bp_d d
        |  LEFT JOIN bp_w0 o ON o.id = d.id
        |  LEFT JOIN bp_enc e ON e.w = o.w
        |  GROUP BY 1)""".stripMargin,
      packByCountOracleCtes("bp_counts", capacity, blockSize))

  /** Dedup → tokenize → pack (Lee et al.: dedup BEFORE tokenization):
    * ExactSubstr (w = 8) cleans `docs` (doc_id, text), then [[packBpe]]
    * fits, encodes and packs the CLEANED text, so duplicated passages
    * no longer vote in BPE training. Returns (clean (doc_id, text),
    * packed); [[dedupTokenizePackOracleCtes]] replays both.
    */
  def dedupTokenizePack(docs: DataFrame, numMerges: Int,
                        maxVocabWords: Int, capacity: Int,
                        blockSize: Int): (DataFrame, DataFrame) = {
    val clean = Dedup
      .exactSubstrDedup(docs, "text", "doc_id", w = 8,
        floor = false) // clean feeds the iterative BPE fit
      .select(col("id").as("doc_id"), col("clean_text").as("text"))
    (clean, packBpe(clean, numMerges, maxVocabWords, capacity, blockSize))
  }

  /** DuckDB CTEs replaying [[dedupTokenizePack]] over the `documents`
    * rows with doc_id < `maxDocId`: the ExactSubstr chain (`es_`),
    * `clean_docs` (doc_id, text) and [[packBpeOracleCtes]] on it.
    * Needs `WITH RECURSIVE`.
    */
  def dedupTokenizePackOracleCtes(maxDocId: Long, numMerges: Int,
                                  maxVocabWords: Int, capacity: Int,
                                  blockSize: Int): Seq[String] =
    Dedup.exactSubstrOracleCtes("es_",
      s"documents WHERE doc_id < $maxDocId", w = 8) ++
    Seq("clean_docs AS (\n  SELECT id AS doc_id, clean_text AS text " +
      "FROM es_res)") ++
    packBpeOracleCtes("clean_docs", maxDocId, numMerges, maxVocabWords,
      capacity, blockSize)

  /** Per-source token-budget sampling: keep, for every source, the
    * hash-ordered prefix of documents whose RUNNING token total stays
    * within `budget` — "take ~1B tokens per source" as one declarative
    * pass. The order is the same portable multiplicative hash as
    * [[mixSources]]/[[shuffleOrder]] (unbiased, reproducible — never
    * `rand()`; the id is reduced mod 100000 BEFORE the multiply so the
    * product stays far from BIGINT overflow at any id range — the
    * modular value is identical, non-ANSI wrap vs DuckDB's overflow
    * error never diverges), the running total rides
    * [[graft.etl.Ids.runningTotalByKey]] — NOT a
    * `Window.partitionBy(source)`, which would sort a dominant
    * source's entire slice in one task — and the budget cut is a plain
    * filter on it. Monotone running sum ⇒ the kept set is a true
    * prefix: adding data to OTHER sources never changes this source's
    * sample.
    *
    * Cache lifecycle: the grouped running sum pins a range exchange in
    * `scope` (see [[graft.etl.Ids.runningTotalByKey]]); the scope's
    * owner releases it once the result is consumed.
    */
  def sampleToTokenBudget(docs: DataFrame, budget: Long,
                          sourceCol: String = "source",
                          idCol: String = "doc_id",
                          textCol: String = "text",
                          scope: graft.CacheScope = graft.CacheScope.harness)
      : DataFrame = {
    val keyed = docs
      .withColumn("__tb_key",
        pmod(pmod(col(idCol), lit(100000L)) * lit(2654435761L),
          lit(100000L)))
      .withColumn("__tb_nt", TextAnalysis.tokenCount(col(textCol)))
    graft.etl.Ids.runningTotalByKey(keyed, Seq(sourceCol),
        Seq(col("__tb_key"), col(idCol)), col("__tb_nt"),
        totalName = "cum_tokens", scope = scope)
      .filter(col("cum_tokens") <= budget)
      .drop("__tb_key", "__tb_nt")
  }

  /** Per-source token mass, the [[waterfillBudget]] input:
    * (source, mass) — whitespace tokens of `text` summed per `source`,
    * any grouping column of `docs`.
    */
  def sourceMasses(docs: DataFrame, source: Column): DataFrame =
    docs.groupBy(source.as("source"))
      .agg(sum(TextAnalysis.tokenCount(col("text"))).as("mass"))

  /** WATERFILLING token-budget allocation across sources — the
    * training-mix solve a budgeted pretraining run computes: given one
    * row per source with its token mass and a budget B =
    * total·num div den, allocate every source `min(mass, L)` tokens
    * with ONE common waterline L chosen so allocations sum to EXACTLY
    * B — small sources keep everything, big sources are capped at the
    * line (proportional-fair; the integer remainder goes one token
    * each to the first sources past the cut in (mass, source) order).
    * All exact BIGINT arithmetic; by the waterfill invariant the cut
    * row's available budget is positive, so `div`/`%` only ever see
    * positive operands (truncating vs floor division cannot diverge).
    *
    * Scale shape: source cardinality is DOMAIN cardinality at 100 TB,
    * so the cumulative mass rides the distributed
    * [[graft.etl.Ids.runningTotal]] (range partition + broadcast
    * offsets — never a one-task global window); the cut and its level
    * are one-row broadcasts. Output: (srcCol, mass, alloc).
    */
  def waterfillBudget(masses: DataFrame, num: Long, den: Long,
                      srcCol: String = "source",
                      massCol: String = "mass",
                      scope: graft.CacheScope = graft.CacheScope.harness)
      : DataFrame = {
    require(num > 0 && den > 0 && num < den,
      "waterfillBudget: need 0 < num/den < 1 (a budget below the corpus)")
    val ord = Seq(col(massCol), col(srcCol))
    val c1 = graft.etl.Ids.runningTotal(masses, ord, col(massCol),
      totalName = "__wf_cum", scope = scope)
    val c2 = graft.etl.Ids.runningTotal(c1, ord, lit(1L),
      totalName = "__wf_j", scope = scope)
    val tot = masses.agg(sum(col(massCol)).cast("long").as("__wf_t"),
      count(lit(1)).as("__wf_n"))
    val lv = c2.crossJoin(broadcast(tot))
      .withColumn("__wf_b", expr(s"__wf_t * ${num}L div ${den}L"))
      .withColumn("__wf_avail",
        col("__wf_b") - (col("__wf_cum") - col(massCol)))
      .withColumn("__wf_rem", col("__wf_n") - col("__wf_j") + 1L)
      .withColumn("__wf_lvl", expr("__wf_avail div __wf_rem"))
    val cut = lv.filter(col(massCol) >= col("__wf_lvl"))
      .agg(min(col("__wf_j")).as("__wf_cutj"))
    val cutRow = lv.join(broadcast(cut), col("__wf_j") === col("__wf_cutj"))
      .select(col("__wf_cutj"), col("__wf_lvl").as("__wf_cutlvl"),
        (col("__wf_avail") % col("__wf_rem")).as("__wf_cutrem"))
    lv.crossJoin(broadcast(cutRow))
      .select(col(srcCol), col(massCol),
        when(col("__wf_j") < col("__wf_cutj"), col(massCol))
          .otherwise(col("__wf_cutlvl") +
            when(col("__wf_j") - col("__wf_cutj") < col("__wf_cutrem"),
              1L).otherwise(0L)).as("alloc"))
  }

  /** Quality-tiered epoch repetition — the "repeat the good data"
    * mixing lever (wiki ×3, average web ×1): each document is emitted
    * `repeats` times, decided by its quality score against descending
    * `(threshold, repeats)` tiers (first match wins; below all tiers
    * → 1). `explode(sequence(...))` is a per-row generator — no
    * shuffle, no join, bounded fan-out — so it composes with
    * [[shuffleOrder]] downstream to interleave the epochs. Thresholds
    * compare quality values that are exact small-integer ratios, so
    * tier assignment is reproducible on any engine.
    */
  def epochRepeat(docs: DataFrame,
                  tiers: Seq[(Double, Int)] = Seq(0.9 -> 3, 0.5 -> 2),
                  idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    require(tiers.map(_._1) == tiers.map(_._1).sorted.reverse,
      "tiers must be in descending threshold order")
    val q = TextAnalysis.qualityScore(col(textCol))
    val repeats = tiers.foldRight(lit(1): Column) { case ((thr, n), acc) =>
      when(q > thr, n).otherwise(acc)
    }.cast("long")
    docs.select(col(idCol), repeats.as("repeats"))
      .select(col(idCol), col("repeats"),
        explode(sequence(lit(1L), col("repeats"))).as("epoch"))
  }

  /** Deterministic training-order shuffle: a global sort by a
    * 60-bit md5-derived hash of the stable id (ties broken by id). The
    * same portable-arithmetic rationale as [[mixSources]] —
    * reproducible run-to-run, verifiable on any engine. The key space
    * is the full 60-bit range (first 15 md5 hex digits), NOT a coarse
    * modulus: at web scale a small modulus (the old `mod 100000`) puts
    * ~N/100k docs in each key with id-ascending tie-break, so training
    * order stays locally id-clustered inside every bucket; with 2^60
    * keys, collisions — and therefore id-ordered runs — are negligible
    * at any corpus size. (md5 over the decimal id string rather than a
    * multiplicative hash: `id * K mod 2^63` needs wrap-around
    * multiplication, which Spark's ANSI mode rejects and DuckDB
    * silently promotes to HUGEINT — md5 arithmetic is the repo's
    * overflow-free portable idiom.) In Spark a global sort is a RANGE
    * partitioning (sampled boundaries) + per-partition sort, so at
    * 100 TB this is one shuffle producing already-shuffled-order output
    * files; no single-node sort anywhere.
    */
  def shuffleOrder(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    docs.withColumn("shuffle_key", expr(
        s"CAST(conv(substring(md5(CAST($idCol AS STRING)), 1, 15), 16, 10) AS BIGINT)"))
      .orderBy(col("shuffle_key"), col(idCol))

  /** Temperature (p^0.7) sampling, the multilingual-LM rebalance that
    * upsamples tail groups: each `keyCol` group keeps a document at rate
    * min(1, target · q_k / c_k), q_k = the group's p_k^0.7 share. Float
    * portability: the single pow() per group quantizes to integer
    * micro-mass BEFORE normalization, so the z-sum is associative
    * BIGINT. Selection is the md5 micro-uniform of `salt || doc_id`
    * below the group's `rate_micro` (added as a column) — deterministic,
    * stream-stable and replayed by [[temperatureSampleOracleCtes]].
    */
  def temperatureSample(docs: DataFrame, keyCol: String, salt: String,
                        target: Double): DataFrame = {
    val counts = docs.groupBy(keyCol).agg(count(lit(1)).as("c"))
    val q = counts.crossJoin(broadcast(counts.agg(sum("c").as("total"))))
      .withColumn("qs_micro",
        round(pow(col("c").cast("double") / col("total").cast("double"),
          0.7) * 1e9).cast("long"))
    val rates = q.crossJoin(broadcast(q.agg(sum("qs_micro").as("z_micro"))))
      .withColumn("rate_micro",
        least(lit(1000000L),
          round(lit(target) *
            (col("qs_micro").cast("double") /
              col("z_micro").cast("double")) /
            col("c").cast("double") * 1e6).cast("long")))
      .select(col(keyCol), col("rate_micro"))
    docs.join(broadcast(rates), keyCol)
      .filter(conv(substring(md5(concat(lit(salt),
        col("doc_id").cast("string"))), 1, 15), 16, 10)
        .cast("long") % 1000000L < col("rate_micro"))
  }

  /** DuckDB CTEs replaying [[temperatureSample]] over the relation
    * `input`: defines tp_c, tp_q, tp_r and `out` (input's columns plus
    * rate_micro). Splice into `WITH ...` of an oracle query.
    */
  def temperatureSampleOracleCtes(input: String, keyCol: String,
                                  salt: String, target: Double,
                                  out: String): String =
    s"""tp_c AS (
       |  SELECT $keyCol, count(*) AS c FROM $input GROUP BY $keyCol),
       |tp_q AS (
       |  SELECT $keyCol, c,
       |    CAST(round(pow(CAST(c AS DOUBLE) / CAST(total AS DOUBLE),
       |      0.7) * 1e9) AS BIGINT) AS qs_micro
       |  FROM tp_c, (SELECT sum(c) AS total FROM tp_c)),
       |tp_r AS (
       |  SELECT $keyCol,
       |    least(1000000,
       |      CAST(round($target
       |        * (CAST(qs_micro AS DOUBLE) / CAST(z_micro AS DOUBLE))
       |        / CAST(c AS DOUBLE) * 1e6) AS BIGINT)) AS rate_micro
       |  FROM tp_q,
       |    (SELECT CAST(sum(qs_micro) AS BIGINT) AS z_micro FROM tp_q)),
       |$out AS (
       |  SELECT i.*, tp_r.rate_micro FROM $input i JOIN tp_r USING ($keyCol)
       |  WHERE CAST(concat('0x', substr(md5(concat('$salt',
       |      CAST(i.doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
       |    % 1000000 < tp_r.rate_micro)""".stripMargin

  /** One row of a chain's (stage, n_rows) report: `agg` over `df`,
    * the row count by default.
    */
  def stageRow(name: String, df: DataFrame,
               agg: Column = count(lit(1))): DataFrame =
    df.agg(agg.as("n_rows")).select(lit(name).as("stage"), col("n_rows"))

  /** A composed chain's per-stage report, ordered by stage name. */
  def stageReport(rows: DataFrame*): DataFrame =
    rows.reduce(_ union _).orderBy("stage")

  /** The CommonCrawl END-TO-END chain, starting from the CONTAINER:
    * `docs` (doc_id, source, text) → executor-written gzip WARC archives
    * (`parts` files; the source rides target_uri and is parsed BACK
    * from the container) → C4-lite line cleaning (7-word lines, keep
    * lines of >= 3 words, a doc survives with >= 5 kept lines) →
    * ExactSubstr-FULL (w = 8) over the cleaned text → temperature
    * sampling over the post-dedup source distribution (target 100) →
    * 512-token block count. Returns the (stage, n_rows) report;
    * [[commonCrawlChainOracleSql]] replays every stage transition.
    * A corrupt archive fails the chain. The container decode, the C4
    * pass and the ExactSubstr rewrite each run once: every stage that
    * reads them hangs off a `CacheScope.harness` pin.
    */
  def commonCrawlChain(docs: DataFrame, warcDir: String,
                       parts: Int): DataFrame = {
    val s = docs.sparkSession
    val warcIn = docs.select(
      col("doc_id"),
      lit("conversion").as("warc_type"),
      concat(lit("<urn:graft:doc:"), col("doc_id"), lit(">"))
        .as("record_id"),
      concat(lit("https://example.org/"), col("source"), lit("/"),
        col("doc_id")).as("target_uri"),
      lit("2026-01-01T00:00:00Z").as("warc_date"),
      lit("text/plain").as("content_type"),
      encode(coalesce(col("text"), lit("")), "UTF-8").as("payload"))
    graft.sources.WarcIngest.writeWarcDir(
      warcIn.repartition(parts, col("doc_id")), warcDir, gzip = true)
    val (records, audit) = graft.sources.WarcIngest.readWarcDir(s, warcDir)
    require(audit.filter(col("corrupt")).count() == 0,
      "commonCrawlChain: corrupt archives")
    // readWarcDir re-STREAMS the gzip archives on every action; the
    // stage-0 count and the C4 pass both read this frame
    val fromWarc = graft.CacheScope.harness.track(records.select(
      regexp_extract(col("record_id"), "doc:(\\d+)", 1)
        .cast("long").as("doc_id"),
      regexp_extract(col("target_uri"), "example\\.org/([^/]+)/", 1)
        .as("source"),
      decode(col("payload"), "UTF-8").as("text"))).toDF()
    // C4-lite lines over the token array bound as a column. Four stage
    // aggregates hang off the cleaned frame.
    val c1 = graft.CacheScope.harness.track(
      fromWarc.filter(col("text").rlike("\\S"))
      .select(col("doc_id"), col("source"),
        TextAnalysis.tokens(col("text")).as("ws"))
      .select(col("doc_id"), col("source"), expr(
        """filter(
          |  transform(sequence(0, cast(ceil(size(ws) / 7.0) as int) - 1),
          |    i -> slice(ws, i * 7 + 1, 7)),
          |  l -> size(l) >= 3)""".stripMargin).as("kept"))
      .filter(size(col("kept")) >= 5)
      .select(col("doc_id"), col("source"), expr(
        "array_join(transform(kept, l -> array_join(l, ' ')), ' ')")
        .as("ctext"))).toDF()
    val dd = Dedup.exactSubstrDedup(c1, "ctext", "doc_id",
      w = 8, floor = false) // c1 is a cached derived frame, not a scan
    // dd derives from c1 (self-join lineage) — disambiguate by alias.
    // The rewrite feeds the sampling stage, its count AND the block
    // fold — one rewrite, not three.
    val surv = graft.CacheScope.harness.track(
      dd.as("dd").join(c1.as("c"), col("dd.id") === col("c.doc_id"))
      .select(col("c.doc_id").as("doc_id"),
        col("c.source").as("source"),
        (size(split(col("c.ctext"), " ")) -
          col("dd.n_tokens_removed")).cast("long").as("nt"))
      .filter(col("nt") > 0)).toDF()
    val q4 = temperatureSample(surv, "source", "l22-", 100.0)
    stageReport(
      stageRow("0_warc_records", fromWarc),
      stageRow("1_c4_clean", c1),
      stageRow("2_exact_substr", surv),
      stageRow("3_sampled", q4),
      stageRow("4_blocks", q4,
        expr("CAST((sum(nt) + 511) div 512 AS BIGINT)")))
  }

  /** DuckDB replay of [[commonCrawlChain]] over `docsSql`, a query
    * yielding (doc_id, source, text) with non-NULL text.
    */
  def commonCrawlChainOracleSql(docsSql: String): String =
    s"""WITH d AS ($docsSql),
       |w0 AS (
       |  SELECT doc_id, source,
       |    ${tokensSql("text")} AS ws
       |  FROM d WHERE regexp_matches(text, '\\S')),
       |k AS (
       |  SELECT doc_id, source,
       |    list_filter(list_transform(
       |      range(0, CAST(ceil(len(ws) / 7.0) AS INT)),
       |      i -> ws[i*7+1 : i*7+7]), l -> len(l) >= 3) AS kept
       |  FROM w0),
       |c1 AS (
       |  SELECT doc_id, source,
       |    array_to_string(list_transform(kept,
       |      l -> array_to_string(l, ' ')), ' ') AS text
       |  FROM k WHERE len(kept) >= 5),
       |${Dedup.exactSubstrOracleCtes("es_", "c1", w = 8).mkString(",\n")},
       |surv AS (
       |  SELECT c1.doc_id, c1.source,
       |    CAST(len(w.ws) - coalesce(ct.cut_tokens, 0) AS BIGINT) AS nt
       |  FROM c1
       |  JOIN es_words w ON w.id = c1.doc_id
       |  LEFT JOIN es_cutstats ct ON ct.id = c1.doc_id
       |  WHERE len(w.ws) - coalesce(ct.cut_tokens, 0) > 0),
       |${temperatureSampleOracleCtes("surv", "source", "l22-", 100.0,
            "q4")}
       |SELECT stage, n_rows FROM (
       |  SELECT '0_warc_records' AS stage,
       |    CAST(count(*) AS BIGINT) AS n_rows FROM d
       |  UNION ALL SELECT '1_c4_clean', CAST(count(*) AS BIGINT)
       |    FROM c1
       |  UNION ALL SELECT '2_exact_substr', CAST(count(*) AS BIGINT)
       |    FROM surv
       |  UNION ALL SELECT '3_sampled', CAST(count(*) AS BIGINT)
       |    FROM q4
       |  UNION ALL SELECT '4_blocks',
       |    CAST((sum(nt) + 511) // 512 AS BIGINT) FROM q4)
       |ORDER BY stage""".stripMargin

  /** One-row summary of a cleaning pass: input/survivor counts per stage
    * boundary are what a 100 TB run monitors (a gate that drops 99% of a
    * crawl is a bug, not a success).
    */
  def cleanStats(docs: DataFrame, cleaned: DataFrame,
                 idCol: String = "doc_id"): DataFrame = {
    val in = docs.agg(count(lit(1)).as("input_docs"))
    val out = cleaned.agg(count(lit(1)).as("surviving_docs"))
    in.crossJoin(out)
      .withColumn("dropped_docs", col("input_docs") - col("surviving_docs"))
  }
}
