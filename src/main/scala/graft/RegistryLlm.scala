package graft

import org.apache.spark.sql.functions._

import graft.llm.{Boilerplate, Bpe, CorpusPipeline, Dedup, Multimodal,
  Similarity, TextAnalysis}
import graft.llm.TextAnalysis.{langIdSql, punctRatioSql, qualityFeaturesSql,
  qualityScoreSql, redactPiiSql, stopwordRatioSql, tokenCountSql, tokensSql}
import graft.streaming.EventStream
import Registry._

/** LLM-training-data-pipeline operators (builder brief §extension): text
  * analysis, dedup, similarity search, multimodal plumbing, plus the
  * batch form of the streaming windowed aggregation. Oracle SQL is
  * provided wherever DuckDB can express the same computation; hash-based
  * ops whose hash family DuckDB lacks (xxhash64 minhash, seeded
  * LSH planes) register as rows-only checks with summary rows so the
  * check is never vacuous.
  */
object RegistryLlm {

  /** Generated DuckDB SQL replaying [[graft.llm.Dedup.portableSimhash]]
    * over `table` rows satisfying `pred`: tokenize exactly like
    * TextAnalysis.tokens(lower(text)), md5 each token, vote on the
    * first 64 md5 bits (nibble-major, MSB-first within the nibble),
    * rebuild the 16-char hex signature from the vote signs (tie → 0).
    * Yields columns (id, simhash).
    */
  private def simhashOracle(table: String, pred: String): String = {
    val votes = (0 until 64).map { i =>
      val j = i / 4; val b = 3 - (i % 4)
      s"SUM(CASE WHEN (((strpos('0123456789abcdef', substr(h, ${j + 1}, 1)) - 1) >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS v$i"
    }.mkString(",\n    ")
    val chars = (0 until 16).map { j =>
      val value = (0 until 4).map(k =>
        s"CASE WHEN v${4 * j + k} > 0 THEN ${1 << (3 - k)} ELSE 0 END")
        .mkString(" + ")
      s"substr('0123456789abcdef', ($value) + 1, 1)"
    }.mkString(" ||\n    ")
    s"""WITH tk_sh AS (
       |  SELECT doc_id AS id,
       |    unnest(${tokensSql("lower(text)")}) AS tok
       |  FROM $table WHERE $pred),
       |hh_sh AS (SELECT id, md5(tok) AS h FROM tk_sh),
       |vt_sh AS (SELECT id,
       |    $votes
       |  FROM hh_sh GROUP BY id)
       |SELECT id, $chars AS simhash FROM vt_sh""".stripMargin
  }

  def entries: Seq[Q] = Seq(

    // ---- T1: token counting ------------------------------------------------
    Q("t01_token_stats",
      (s, dir) => t(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.bpeishTokenCount(col("text")).as("n_bpeish"),
          TextAnalysis.charCount(col("text")).as("n_chars_calc"),
          TextAnalysis.meanWordLength(col("text")).as("mean_word_len"))
        .orderBy("doc_id"),
      Some(s"""WITH r AS (
             |  SELECT doc_id,
             |    ${tokensSql("text")} AS toks,
             |    text
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(len(toks) AS BIGINT) AS n_tokens,
             |  CAST(len(regexp_extract_all(text,
             |    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpeish,
             |  CAST(length(text) AS BIGINT) AS n_chars_calc,
             |  CAST(coalesce(list_sum(list_transform(toks, x -> length(x))),
             |      0) AS BIGINT)
             |    / CAST(greatest(len(toks), 1) AS BIGINT) AS mean_word_len
             |FROM r ORDER BY doc_id""".stripMargin)),

    // ---- T2: quality scoring -----------------------------------------------
    Q("t02_quality_score",
      (s, dir) => t(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.stopwordRatio(col("text")).as("stopword_ratio"),
          TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id"),
      Some(s"""WITH m AS (
             |  SELECT doc_id, ${qualityFeaturesSql("text")}
             |  FROM documents)
             |SELECT doc_id,
             |  $stopwordRatioSql AS stopword_ratio,
             |  $punctRatioSql AS punct_ratio,
             |  $qualityScoreSql AS quality
             |FROM m ORDER BY doc_id""".stripMargin)),

    // ---- T3: language ID (stopword-hit argmax; DuckDB struct-sort
    //      argmax as the oracle) -------------------------------------------
    Q("t03_lang_id",
      (s, dir) => t(s, dir, "documents").select(col("doc_id"), col("lang"),
          TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, lang, ${langIdSql("text")} AS lang_pred
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- T4: document fingerprint -------------------------------------------
    Q("t04_fingerprint",
      (s, dir) => t(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
             |  md5(array_to_string(list_sort(list_distinct(
             |    ${tokensSql("lower(text)")})), ' ')) AS fp
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- T5: PII redaction (corpus hygiene) — deterministic fake PII
    //      injected per doc so every pattern fires; both engines run the
    //      identical regex chain --------------------------------------------
    Q("t05_pii_redact",
      (s, dir) => {
        val injected = t(s, dir, "documents").select(col("doc_id"),
          concat(col("text"),
            lit(" contact user"), col("doc_id").cast("string"),
            lit("@mail.example.com or +1 555-01"),
            lpad(col("doc_id").cast("string"), 4, "0"),
            lit(" at 10.0."), (col("doc_id") % 256).cast("string"),
            lit(".7")).as("txt"))
        injected.select(col("doc_id"),
            TextAnalysis.redactPii(col("txt")).as("redacted"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id, ${redactPiiSql(
               "text || ' contact user' || CAST(doc_id AS VARCHAR)" +
               " || '@mail.example.com or +1 555-01'" +
               " || lpad(CAST(doc_id AS VARCHAR), 4, '0')" +
               " || ' at 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'")}
             |  AS redacted
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- D1: exact dedup stats ------------------------------------------------
    Q("d01_exact_dedup",
      (s, dir) => Dedup.exactDupStats(t(s, dir, "documents"), "text"),
      Some("""SELECT count(*) AS total_docs,
             |  count(DISTINCT md5(text)) AS distinct_docs,
             |  count(*) - count(DISTINCT md5(text)) AS exact_dups
             |FROM documents""".stripMargin)),

    // ---- D1b: exact dedup row output (keep-first under id order) -------------
    Q("d05_exact_dedup_rows",
      (s, dir) => Dedup.exactDedup(t(s, dir, "documents"), "text", "doc_id")
        .select(col("doc_id")).orderBy("doc_id"),
      Some("""SELECT doc_id FROM documents
             |QUALIFY row_number() OVER (PARTITION BY md5(text)
             |  ORDER BY doc_id) = 1
             |ORDER BY doc_id""".stripMargin)),

    // ---- D2: MinHash-LSH near-dup summary (banded, never all-pairs) ----------
    Q("d02_minhash_neardup",
      (s, dir) => {
        val pairs = Dedup.minhashNearDups(t(s, dir, "documents"),
          "text", "doc_id", k = 3, numHashes = 32, bands = 8,
          threshold = 0.5)
        pairs.agg(count(lit(1)).as("verified_pairs"),
          coalesce(max(col("jaccard")), lit(0.0)).as("max_jaccard"))
      },
      None),

    // ---- D3: SimHash signatures — the PORTABLE md5-bit variant, so the
    //      oracle replays the whole signature bit-for-bit in DuckDB SQL
    //      (generated below: 64 vote sums + 16 nibble chars), so this
    //      row hash-matches instead of the former rows-only gate -------
    Q("d03_simhash",
      (s, dir) => Dedup.portableSimhash(t(s, dir, "documents"),
          "text", "doc_id")
        .orderBy("id"),
      Some(simhashOracle("documents", "TRUE"))),

    // ---- D4: n-gram Jaccard (consecutive-doc pairs) -----------------------------
    Q("d04_ngram_jaccard",
      (s, dir) => {
        val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val a = docs.as("a"); val b = docs.as("b")
        a.join(b, col("a.doc_id") + 1 === col("b.doc_id"))
          .filter(col("a.doc_id") % 10 === 0)
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
            Dedup.ngramJaccard(col("a.text"), col("b.text"), 3).as("jaccard"))
          .orderBy("id_a")
      },
      Some(s"""WITH ${Dedup.wordGramsCte("g", "documents", "doc_id",
                 "text", "doc_id")}
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |  CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
             |    greatest(len(list_distinct(list_concat(a.grams, b.grams))), 1)
             |    AS jaccard
             |FROM g a JOIN g b ON a.doc_id + 1 = b.doc_id
             |WHERE a.doc_id % 10 = 0
             |ORDER BY id_a""".stripMargin)),

    // ---- D6: EXACT n-gram Jaccard near-dup pairs (inverted gram index) -------
    // Fully DuckDB-expressible, so the near-dup FAMILY gets a hash-checked
    // oracle row (the MinHash path then audits against this exact set in
    // d07). Input bounded to doc_id < 500 so the audit query is the same
    // size at every SF.
    Q("d06_exact_ngram_neardup",
      (s, dir) => Dedup.exactNgramNearDups(
          t(s, dir, "documents").filter(col("doc_id") < 500),
          "text", "doc_id", n = 3, threshold = 0.5)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH ${Dedup.wordGramsCte("t",
                 "documents WHERE doc_id < 500", "doc_id", "text", "doc_id")},
             |${Dedup.nearDupsOracleCtes("t", 0.5)}
             |SELECT id_a, id_b, jaccard FROM near
             |ORDER BY id_a, id_b""".stripMargin)),

    // ---- D7: MinHash recall vs the exact near-dup set ------------------------
    // Quantitative single-row audit (same shape as n05/n06): banded-LSH
    // verified pairs against d06's exact inverted-index pairs. No oracle
    // (seeded xxhash64 signatures); the >=0.9 floor is asserted in
    // DedupSpec.
    Q("d07_minhash_recall",
      (s, dir) => {
        val docs = t(s, dir, "documents").filter(col("doc_id") < 500)
        Similarity.recallAtK(
          Dedup.exactNgramNearDups(docs, "text", "doc_id", 3, 0.5)
            .select(col("id_a").as("query_id"),
              col("id_b").as("neighbor_id")),
          Dedup.minhashNearDups(docs, "text", "doc_id", k = 3,
              numHashes = 32, bands = 8, threshold = 0.5)
            .select(col("id_a").as("query_id"),
              col("id_b").as("neighbor_id")))
      },
      None),

    // ---- D9: SimHash near-dup summary (pigeonhole-exact banded join) ---------
    // Portable signatures make this hash-exact too: the oracle replays
    // the 4-band bucket join and the 16-nibble-xor Hamming verify in
    // DuckDB over the same md5-bit signatures. Summary row so the check
    // is never vacuous even when the corpus has no hamming<=3 pair;
    // exactness vs brute force is additionally asserted in DedupSpec.
    Q("d09_simhash_neardup",
      (s, dir) => Dedup.portableSimhashNearDups(
          t(s, dir, "documents").filter(col("doc_id") < 500),
          "text", "doc_id")
        .agg(count(lit(1)).as("neardup_pairs"),
          coalesce(min(col("hamming")), lit(-1L)).as("min_hamming")),
      Some(s"""WITH sig AS (${simhashOracle("documents", "doc_id < 500")}),
             |b AS (
             |  SELECT id, simhash, bb AS band,
             |    substr(simhash, bb * 4 + 1, 4) AS v
             |  FROM sig, unnest([0, 1, 2, 3]) AS t(bb)),
             |cand AS (
             |  SELECT DISTINCT a.id AS id_a, b2.id AS id_b,
             |    a.simhash AS sa, b2.simhash AS sb
             |  FROM b a JOIN b b2
             |    ON a.band = b2.band AND a.v = b2.v AND a.id < b2.id),
             |ham AS (
             |  SELECT id_a, id_b,
             |    CAST(${(0 until 16).map(j =>
                     s"bit_count(xor(strpos('0123456789abcdef', " +
                       s"substr(sa, ${j + 1}, 1)) - 1, " +
                       s"strpos('0123456789abcdef', " +
                       s"substr(sb, ${j + 1}, 1)) - 1))").mkString(" + ")}
             |      AS BIGINT) AS hamming
             |  FROM cand)
             |SELECT CAST(count(*) AS BIGINT) AS neardup_pairs,
             |  coalesce(min(hamming), -1) AS min_hamming
             |FROM ham WHERE hamming <= 3""".stripMargin)),

    // ---- D12: incremental snapshot dedup — today's batch (id >= 250)
    //      against the prior corpus digest set, then within-batch dedup.
    //      The raw corpus has zero exact dups, so the query PLANTS them
    //      deterministically (same construction in the oracle, the l03
    //      pattern): every 5th batch doc re-crawls a prior doc, every
    //      7th (not 5th) repeats batch doc 253's text ----------------------
    Q("d12_incremental_dedup",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val src = docs.select(col("doc_id"),
          when(col("doc_id") >= 250 && col("doc_id") % 5 === 0,
              col("doc_id") - 250)
            .when(col("doc_id") >= 250 && col("doc_id") % 7 === 0, lit(253L))
            .otherwise(col("doc_id")).as("src_id"))
        val derived = src.join(
            docs.select(col("doc_id").as("src_id"), col("text")), "src_id")
          .select(col("doc_id"), col("text"))
        Dedup.incrementalDedup(derived.filter(col("doc_id") >= 250),
            derived.filter(col("doc_id") < 250), "text", "doc_id")
          .select(col("doc_id")).orderBy("doc_id")
      },
      Some("""WITH src AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id >= 250 AND doc_id % 5 = 0
             |           THEN doc_id - 250
             |         WHEN doc_id >= 250 AND doc_id % 7 = 0 THEN 253
             |         ELSE doc_id END AS src_id
             |  FROM documents),
             |derived AS (
             |  SELECT s.doc_id, d.text
             |  FROM src s JOIN documents d ON d.doc_id = s.src_id)
             |SELECT doc_id FROM derived
             |WHERE doc_id >= 250
             |  AND md5(text) NOT IN (
             |    SELECT md5(text) FROM derived WHERE doc_id < 250)
             |QUALIFY row_number() OVER (PARTITION BY md5(text)
             |  ORDER BY doc_id) = 1
             |ORDER BY doc_id""".stripMargin)),

    // ---- D13: FUZZY decontamination — near-dup (not just exact-gram)
    //      benchmark leakage via cross-corpus MinHash LSH; seeded-hash op
    //      → rows-only summary (exact-gram d10 is the hash-checked twin) --
    Q("d13_fuzzy_decontaminate",
      (s, dir) => {
        val docs = tf(s, dir, "documents")
        val train = docs.filter(col("doc_id") % 10 =!= 0)
        val kept = graft.llm.CorpusPipeline.decontaminateFuzzy(
          train, docs.filter(col("doc_id") % 10 === 0), threshold = 0.5)
        train.agg(count(lit(1)).as("train_docs"))
          .crossJoin(kept.agg(count(lit(1)).as("surviving_docs")))
          .select(col("train_docs"), col("surviving_docs"),
            (col("train_docs") - col("surviving_docs")).as("dropped_docs"))
      },
      None),

    // ---- D14: canonical-doc selection — dedup that keeps the BEST copy,
    //      not the first: within each near-dup cluster (d08's connected
    //      components) pick by quality desc, length desc, id asc —
    //      through the map-side-combinable argmax (max_by over the
    //      (quality, len, −id) struct, the Dedup.electCanonical shape),
    //      never a rank window over the rep key: a degenerate cluster
    //      must never become a one-task sort. The winner's quality is
    //      the cluster max (quality is the primary order key), and the
    //      integer-derived t02 ratio makes the ordering bit-identical
    //      across engines -------------------------------------------------
    Q("d14_canonical_docs",
      (s, dir) => {
        val docs = t(s, dir, "documents").filter(col("doc_id") < 500)
        val cc = Dedup.connectedComponents(
          docs.select(col("doc_id").as("id")),
          Dedup.exactNgramNearDups(docs, "text", "doc_id", 3, 0.5))
        val scored = docs.select(col("doc_id").as("id"),
          TextAnalysis.qualityScore(col("text")).as("quality"),
          length(col("text")).cast("long").as("len"))
        cc.join(scored, "id")
          .groupBy(col("rep"))
          .agg(max_by(col("id"), struct(col("quality"), col("len"),
              negate(col("id")))).as("canonical"),
            max(col("quality")).as("quality"))
          .orderBy("rep")
      },
      Some(s"""WITH RECURSIVE ${Dedup.nearDupClustersOracleCtes(
                 "documents WHERE doc_id < 500", 0.5)},
             |q1 AS (
             |  SELECT doc_id AS id, ${qualityFeaturesSql("text")}
             |  FROM documents WHERE doc_id < 500),
             |scored AS (
             |  SELECT id, $qualityScoreSql AS quality, nchars AS len
             |  FROM q1)
             |SELECT rep, id AS canonical, quality FROM (
             |  SELECT cc.rep, cc.id, scored.quality,
             |    row_number() OVER (PARTITION BY cc.rep
             |      ORDER BY scored.quality DESC, scored.len DESC, cc.id)
             |      AS rk
             |  FROM cc JOIN scored ON cc.id = scored.id)
             |WHERE rk = 1 ORDER BY rep""".stripMargin)),

    // ---- D11: sparse TF-cosine near-dup pairs — inverted token index,
    //      integer dot/norms so the cosine is bit-stable; bounded-500 set
    //      (maxTokenDf is the web-scale valve, 0 here for exactness) ------
    Q("d11_tfidf_cosine",
      (s, dir) => Similarity.sparseCosinePairs(
          t(s, dir, "documents").filter(col("doc_id") < 500),
          "text", "doc_id", threshold = 0.8)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH tf AS (
             |  SELECT doc_id AS id, token, count(*) AS tf FROM (
             |    SELECT doc_id, unnest(${tokensSql("lower(text)")}) AS token
             |    FROM documents WHERE doc_id < 500)
             |  GROUP BY 1, 2),
             |norms AS (SELECT id, sum(tf * tf) AS n2 FROM tf GROUP BY 1),
             |dots AS (
             |  SELECT a.id AS id_a, b.id AS id_b,
             |    CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
             |  FROM tf a JOIN tf b ON a.token = b.token AND a.id < b.id
             |  GROUP BY 1, 2)
             |SELECT id_a, id_b,
             |  CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE))
             |    * sqrt(CAST(nb.n2 AS DOUBLE))) AS cosine
             |FROM dots
             |JOIN norms na ON na.id = id_a
             |JOIN norms nb ON nb.id = id_b
             |WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE))
             |    * sqrt(CAST(nb.n2 AS DOUBLE))) >= 0.8
             |ORDER BY id_a, id_b""".stripMargin)),

    // ---- D10: benchmark decontamination — drop training docs sharing any
    //      8-gram with the eval split (doc_id % 10 == 0 plays the
    //      benchmark); broadcast eval-gram anti-join, survivors out ------
    Q("d10_decontaminate",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.llm.CorpusPipeline.decontaminate(
            docs.filter(col("doc_id") % 10 =!= 0),
            docs.filter(col("doc_id") % 10 === 0), n = 8)
          .select(col("doc_id")).orderBy("doc_id")
      },
      Some(s"""WITH ${Dedup.wordGramsCte("g", "documents", "doc_id",
                 "text", "doc_id", n = 8)},
             |eg AS (SELECT DISTINCT unnest(grams) AS gram FROM g
             |       WHERE doc_id % 10 = 0),
             |cont AS (
             |  SELECT DISTINCT tr.doc_id
             |  FROM (SELECT doc_id, unnest(grams) AS gram FROM g
             |        WHERE doc_id % 10 <> 0) tr
             |  JOIN eg USING (gram))
             |SELECT doc_id FROM documents
             |WHERE doc_id % 10 <> 0
             |  AND doc_id NOT IN (SELECT doc_id FROM cont)
             |ORDER BY doc_id""".stripMargin)),

    // ---- D8: dup clusters = connected components over the exact pairs -------
    // rep = min id of the component; oracle is transitive closure via a
    // DuckDB recursive CTE over the same edge set d06 verifies.
    Q("d08_dup_clusters",
      (s, dir) => Dedup.nearDupClusters(
          t(s, dir, "documents").filter(col("doc_id") < 500),
          "text", "doc_id", 3, 0.5)
        .orderBy("id"),
      Some(s"""WITH RECURSIVE ${Dedup.nearDupClustersOracleCtes(
                 "documents WHERE doc_id < 500", 0.5)}
             |SELECT id, rep FROM cc ORDER BY id""".stripMargin)),

    // ---- L10: leakage-safe train/val/test split — the x21 hash split
    //      keyed by the near-dup CLUSTER representative (d08's connected
    //      components) instead of the doc id, so two near-duplicate
    //      documents can never land in different splits (the classic
    //      eval-contamination bug in naive per-doc splits). Exact oracle:
    //      d08's recursive-CTE closure + the same md5 thresholds --------
    Q("l10_leakage_safe_split",
      (s, dir) => {
        val docs = t(s, dir, "documents").filter(col("doc_id") < 500)
        Dedup.connectedComponents(
            docs.select(col("doc_id").as("id")),
            Dedup.exactNgramNearDups(docs, "text", "doc_id", 3, 0.5))
          .select(col("id").as("doc_id"),
            substring(md5(col("rep").cast("string")), 1, 2).as("h"))
          .select(col("doc_id"),
            when(col("h") < "cd", "train")
              .when(col("h") < "e6", "val")
              .otherwise("test").as("split"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE ${Dedup.nearDupClustersOracleCtes(
                 "documents WHERE doc_id < 500", 0.5)}
             |SELECT id AS doc_id,
             |  CASE WHEN substr(md5(CAST(rep AS VARCHAR)), 1, 2) < 'cd'
             |         THEN 'train'
             |       WHEN substr(md5(CAST(rep AS VARCHAR)), 1, 2) < 'e6'
             |         THEN 'val'
             |       ELSE 'test' END AS split
             |FROM cc ORDER BY doc_id""".stripMargin)),

    // ---- L1: end-to-end corpus cleaning (quality → lang → dedup → near-dup) --
    // The whole training-data pipeline as ONE hash-checked query: every
    // stage reuses a formula the t02/t03/d05/d06 oracles verify in
    // isolation, so this row proves the COMPOSITION (gates before dedup,
    // keep-first, greedy near-dup pruning) agrees across engines.
    Q("l01_clean_corpus",
      (s, dir) => graft.llm.CorpusPipeline.cleanCorpus(
          t(s, dir, "documents").filter(col("doc_id") < 500))
        .select(col("doc_id")).orderBy("doc_id"),
      Some(s"""WITH ${CorpusPipeline.cleanCorpusOracleCtes("documents", 500)}
             |SELECT doc_id FROM kept ORDER BY doc_id""".stripMargin)),

    // ---- L2: cleaning pipeline + PII redaction as the final stage —
    //      same CTE chain as l01 with the redacted text carried out ------
    Q("l02_clean_redacted",
      (s, dir) => graft.llm.CorpusPipeline.cleanCorpus(
          t(s, dir, "documents").filter(col("doc_id") < 500), redact = true)
        .select(col("doc_id"), col("text")).orderBy("doc_id"),
      Some(s"""WITH ${CorpusPipeline.cleanCorpusOracleCtes("documents", 500)}
             |SELECT doc_id, ${redactPiiSql("text")} AS text
             |FROM kept ORDER BY doc_id""".stripMargin)),

    // ---- L4: corpus-adaptive length-outlier pruning (Tukey fences over
    //      the token-count distribution; one-row quartile agg broadcast
    //      back) — survivors only --------------------------------------
    Q("l04_length_outliers",
      (s, dir) => graft.llm.CorpusPipeline.dropLengthOutliers(
          t(s, dir, "documents"))
        .select(col("doc_id")).orderBy("doc_id"),
      Some(s"""WITH n AS (
             |  SELECT doc_id,
             |    len(${tokensSql("text")}) AS nt
             |  FROM documents),
             |f AS (
             |  SELECT quantile_cont(nt, 0.25) AS q1,
             |    quantile_cont(nt, 0.75) AS q3
             |  FROM n)
             |SELECT doc_id FROM n, f
             |WHERE nt >= q1 - (q3 - q1) * 1.5
             |  AND nt <= q3 + (q3 - q1) * 1.5
             |ORDER BY doc_id""".stripMargin)),

    // ---- L5: deterministic corpus mixing — per-source keep rates decided
    //      by a multiplicative hash of doc_id (reproducible, not rand());
    //      src1/src2/src3 downweighted, everything else at 60% -----------
    Q("l05_mix_sources",
      (s, dir) => graft.llm.CorpusPipeline.mixSources(
          t(s, dir, "documents"),
          Map("src1" -> 0.75, "src2" -> 0.5, "src3" -> 0.25),
          defaultWeight = 0.6)
        .select(col("doc_id"), col("source")).orderBy("doc_id"),
      Some("""SELECT doc_id, source FROM documents
             |WHERE (doc_id % 10000) * 2654435761 % 10000 <
             |  CASE source WHEN 'src1' THEN 7500 WHEN 'src2' THEN 5000
             |    WHEN 'src3' THEN 2500 ELSE 6000 END
             |ORDER BY doc_id""".stripMargin)),

    // ---- L6: greedy sequence packing — whole docs in id order into
    //      120-token bins, packed independently per 256-id block (one
    //      shuffle + per-block fold); oracle replays the same greedy walk
    //      with a linear recursive CTE advancing all blocks in parallel --
    Q("l06_pack_sequences",
      (s, dir) => graft.llm.CorpusPipeline.packSequences(
          t(s, dir, "documents"), capacity = 120, blockSize = 256)
        .select(col("doc_id"), col("block"), col("bin").cast("long").as("bin"),
          col("n_tokens"))
        .orderBy("doc_id"),
      Some(graft.llm.CorpusPipeline.packedOracleSql(Seq(
        graft.llm.CorpusPipeline.packSequencesOracleCtes("documents",
          capacity = 120, blockSize = 256))))),

    // ---- L7: per-source token-budget sampling — the hash-ordered prefix
    //      whose running token total stays within 1200 tokens/source ------
    Q("l07_token_budget",
      (s, dir) => graft.llm.CorpusPipeline.sampleToTokenBudget(
          t(s, dir, "documents"), budget = 1200L)
        .select(col("doc_id"), col("source"), col("cum_tokens"))
        .orderBy("doc_id"),
      Some(s"""WITH n AS (
             |  SELECT doc_id, source,
             |    ${tokenCountSql("text")} AS nt
             |  FROM documents)
             |SELECT doc_id, source, cum_tokens FROM (
             |  SELECT doc_id, source,
             |    CAST(sum(nt) OVER (PARTITION BY source
             |      ORDER BY (doc_id % 100000) * 2654435761 % 100000, doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS cum_tokens
             |  FROM n)
             |WHERE cum_tokens <= 1200 ORDER BY doc_id""".stripMargin)),

    // ---- L8: epoch repetition — repeat high-quality docs across training
    //      epochs (×3 / ×2 / ×1 by quality tier). Pure per-row generator
    //      (explode of a bounded sequence): no shuffle at any scale --------
    Q("l08_epoch_repeat",
      (s, dir) => graft.llm.CorpusPipeline.epochRepeat(
          t(s, dir, "documents"))
        .orderBy("doc_id", "epoch"),
      Some(s"""WITH m AS (
             |  SELECT doc_id, ${qualityFeaturesSql("text")}
             |  FROM documents),
             |q AS (SELECT doc_id, $qualityScoreSql AS quality FROM m),
             |rep AS (
             |  SELECT doc_id,
             |    CAST(CASE WHEN quality > 0.9 THEN 3
             |              WHEN quality > 0.5 THEN 2
             |              ELSE 1 END AS BIGINT) AS repeats
             |  FROM q)
             |SELECT doc_id, repeats,
             |  unnest(generate_series(1, repeats)) AS epoch
             |FROM rep ORDER BY doc_id, epoch""".stripMargin)),

    // ---- N1: exact ANN (brute-force cosine top-k baseline) -----------------------
    Q("n01_ann_bruteforce",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 5)
        Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 3)
          .select(col("query_id"), col("neighbor_id"), col("rank"))
          .orderBy("query_id", "rank")
      },
      Some("""WITH q AS (
             |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
             |  FROM embeddings WHERE vec_id < 5),
             |scored AS (
             |  SELECT q.query_id, c.vec_id AS neighbor_id,
             |    CASE WHEN list_dot_product(q.qv, q.qv) = 0
             |      OR list_dot_product(c.embedding::DOUBLE[],
             |        c.embedding::DOUBLE[]) = 0 THEN 0.0
             |    ELSE list_cosine_similarity(q.qv, c.embedding::DOUBLE[])
             |    END AS sim
             |  FROM q JOIN embeddings c ON c.vec_id <> q.query_id)
             |SELECT query_id, neighbor_id,
             |  CAST(row_number() OVER (PARTITION BY query_id
             |    ORDER BY sim DESC, neighbor_id) AS INT) AS rank
             |FROM scored
             |QUALIFY rank <= 3
             |ORDER BY query_id, rank""".stripMargin)),

    // ---- N2: LSH-bucketed ANN (the scale path; planes not in SQL) -----------------
    Q("n02_ann_lsh",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 5)
        Similarity.lshTopK(emb, queries, "vec_id", "embedding", 3,
            nPlanes = 6, nTables = 8)
          .select(col("query_id"), col("neighbor_id"), col("rank"))
          .orderBy("query_id", "rank")
      },
      None),

    // ---- N4: IVF-bucketed ANN (centroid cells, multi-probe) -------------------------
    Q("n04_ann_ivf",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 5)
        Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 3,
            nProbe = 6)
          .select(col("query_id"), col("neighbor_id"), col("rank"))
          .orderBy("query_id", "rank")
      },
      None),

    // ---- N5/N6: recall@3 of the approximate paths vs the exact top-k ---------
    // Single-row quantitative summaries (exact_pairs, hit_pairs, recall) so
    // the rows-only driver check is non-vacuous; the >=0.8 floor is asserted
    // in SimilaritySpec. No oracle: the LSH planes / k-means fit are seeded
    // engine-side constructs DuckDB cannot reproduce.
    Q("n05_lsh_recall",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 5)
        Similarity.recallAtK(
          Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 3),
          Similarity.lshTopK(emb, queries, "vec_id", "embedding", 3,
            nPlanes = 6, nTables = 8))
      },
      None),

    Q("n07_sq_recall",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 5)
        Similarity.recallAtK(
          Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 3),
          Similarity.sqBruteForceTopK(emb, queries, "vec_id", "embedding", 3))
      },
      None),

    Q("n06_ivf_recall",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 5)
        Similarity.recallAtK(
          Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 3),
          Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 3,
            nProbe = 6))
      },
      None),

    // ---- N3: embedding-cosine near-dup summary -------------------------------------
    Q("n03_cosine_neardup",
      (s, dir) => Similarity.cosineNearDups(t(s, dir, "embeddings"),
          "vec_id", "embedding", threshold = 0.8, nPlanes = 10)
        .agg(count(lit(1)).as("neardup_pairs")),
      None),

    // ---- M1: multimodal binary metadata ----------------------------------------------
    Q("m01_binary_meta",
      (s, dir) => Multimodal.withBinaryMetadata(
          t(s, dir, "documents"), "text")
        .select(col("doc_id"), col("byte_len"), col("content_sha"),
          col("format_tag"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
             |  sha256(text) AS content_sha,
             |  substr(hex(encode(text)), 1, 4) AS format_tag
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- M2: batched decode/feature-extract over binary payloads with
    //      the DEFAULT (real, ImageIO) decoder — synthesize the m03
    //      gradient PNG per doc, run the generic decodeFeatures pass,
    //      and hash-match provenance + dim + an exact integer replay of
    //      the pooled features: each of the 16 features is a 2×2-cell
    //      luminance mean/255, so round(f·4·255) recovers the exact
    //      integer cell sum (float32 error ≪ 0.5) and their total is the
    //      analytic gradient sum Σ(id·31+i mod 256). The plumbing AND
    //      the feature values are oracle-gated. ------------------------
    Q("m02_decode_features",
      (s, dir) => {
        val ids = t(s, dir, "documents")
          .select(col("doc_id").cast("long").as("id"))
          .filter(col("id") < 500)
        Multimodal.decodeFeatures(
            Multimodal.withSyntheticImages(ids, "id"), "id")
          .select(col("id").as("doc_id"), col("decoder"),
            size(col("features")).cast("long").as("feature_dim"),
            expr("""CAST(aggregate(transform(features,
                   |  f -> CAST(round(CAST(f AS DOUBLE) * 1020D) AS BIGINT)),
                   |  0L, (acc, x) -> acc + x) AS BIGINT)""".stripMargin)
              .as("pooled_sum"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT CAST(doc_id AS BIGINT) AS doc_id,
             |  'imageio:gray-pool16' AS decoder,
             |  CAST(16 AS BIGINT) AS feature_dim,
             |  ${Multimodal.grayPixelSumSql("doc_id")} AS pooled_sum
             |FROM documents WHERE doc_id < 500
             |ORDER BY doc_id""".stripMargin)),

    // ---- M3: REAL image decode (JDK ImageIO), oracle-exact round trip —
    //      synthesize a deterministic gradient PNG per doc, decode it
    //      back, and check dimensions + exact integer luminance sum
    //      against the analytic value DuckDB computes. Proves an actual
    //      binary image decoder, not plumbing-with-a-stub. -----------------
    Q("m03_image_roundtrip",
      (s, dir) => {
        val ids = t(s, dir, "documents")
          .select(col("doc_id").cast("long").as("id"))
          .filter(col("id") < 500)
        Multimodal.decodeImageFeatures(
            Multimodal.withSyntheticImages(ids, "id"), "id")
          .select(col("id").as("doc_id"), col("width"), col("height"),
            col("sum_gray"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT CAST(doc_id AS BIGINT) AS doc_id, 8 AS width,
             |  8 AS height, ${Multimodal.grayPixelSumSql("doc_id")} AS sum_gray
             |FROM documents WHERE doc_id < 500
             |ORDER BY doc_id""".stripMargin)),

    // ---- M6: REAL image resize — 8×8 gradient → 4×4 nearest-neighbor
    //      thumbnail, re-encoded as PNG, re-decoded; the whole chain
    //      (encode → resize → encode → decode) hash-matches analytic
    //      sums: scale-2 floor mapping picks source pixels (2x, 2y) ------
    Q("m06_image_resize",
      (s, dir) => {
        val ids = t(s, dir, "documents")
          .select(col("doc_id").cast("long").as("id"))
          .filter(col("id") < 500)
        val thumbs = Multimodal.resizeImages(
          Multimodal.withSyntheticImages(ids, "id"), "id", 4, 4)
        Multimodal.decodeImageFeatures(
            thumbs.withColumnRenamed("thumb", "payload"), "id")
          .select(col("id").as("doc_id"), col("width"), col("height"),
            col("sum_gray"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT CAST(doc_id AS BIGINT) AS doc_id, 4 AS width,
             |  4 AS height,
             |  ${Multimodal.grayPixelSumSql("doc_id", pixels = 16,
                    pixel = "16*(i//4) + 2*(i%4)")} AS sum_gray
             |FROM documents WHERE doc_id < 500
             |ORDER BY doc_id""".stripMargin)),

    // ---- M5: REAL video decode (MJPEG/AVI family) — synthesize an AVI
    //      of gradient PNG frames per doc, walk the RIFF container,
    //      sample every 2nd frame, ImageIO-decode each, and hash-match
    //      dimensions + exact luminance sums against DuckDB's analytic
    //      values. Container parse + frame sampling + frame decode all
    //      proven end-to-end. ---------------------------------------------
    Q("m05_video_roundtrip",
      (s, dir) => {
        val ids = t(s, dir, "documents")
          .select(col("doc_id").cast("long").as("id"))
          .filter(col("id") < 200)
        Multimodal.decodeVideoFrames(
            Multimodal.withSyntheticVideos(ids, "id", frames = 6),
            "id", everyNth = 2)
          .select(col("id").as("doc_id"),
            col("frame_idx").cast("long").as("frame_idx"),
            col("width"), col("height"), col("sum_gray"))
          .orderBy("doc_id", "frame_idx")
      },
      Some(s"""SELECT CAST(d.doc_id AS BIGINT) AS doc_id, f.frame_idx,
             |  8 AS width, 8 AS height,
             |  ${Multimodal.grayPixelSumSql("d.doc_id", "f.frame_idx*7")}
             |    AS sum_gray
             |FROM documents d CROSS JOIN
             |  (SELECT unnest(generate_series(0, 4, 2)) AS frame_idx) f
             |WHERE d.doc_id < 200
             |ORDER BY doc_id, frame_idx""".stripMargin)),

    // ---- M4: video frame-sampling fan-out (every nth frame) --------------
    Q("m04_frame_sample",
      (s, dir) => Multimodal.sampleFrames(
          t(s, dir, "documents").select(col("doc_id"),
            (col("n_chars") % 120).cast("int").as("frame_count")),
          "doc_id", "frame_count", everyNth = 24)
        .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"))
        .orderBy("doc_id", "frame_idx"),
      Some("""SELECT doc_id, unnest(generate_series(0,
             |    greatest(CAST(n_chars % 120 AS INT) - 1, 0), 24))
             |    AS frame_idx
             |FROM documents
             |ORDER BY doc_id, frame_idx""".stripMargin)),

    // ---- W3: stateful rolling form (flatMapGroupsWithState, batch run);
    //      oracle = the equivalent ROWS window. goalsFor values are small
    //      integers so double sums are exact regardless of order. -------
    Q("w03_stateful_form",
      (s, dir) => {
        import s.implicits._
        val ds = t(s, dir, "orders").select(
            col("o_custkey").cast("string").as("team"),
            col("o_orderkey").cast("string").as("matchId"),
            col("o_orderdate").cast("timestamp").as("ts"),
            when(col("o_orderstatus") === "F", "W")
              .when(col("o_orderstatus") === "P", "D").otherwise("L")
              .as("result"),
            (col("o_orderkey") % 7).cast("double").as("goalsFor"))
          .as[graft.streaming.TeamFormState.MatchResult]
        graft.streaming.TeamFormState.rollingForm(ds, lookback = 7)
          .toDF()
          .select(col("team"), col("matchId").as("match_id"), col("matches"),
            col("winRatio").as("win_ratio"),
            col("avgGoalsFor").as("avg_goals"))
          .orderBy("team", "match_id")
      },
      Some("""WITH m AS (
             |  SELECT CAST(o_custkey AS VARCHAR) AS team,
             |    CAST(o_orderkey AS VARCHAR) AS match_id,
             |    CAST(o_orderdate AS TIMESTAMP) AS ts,
             |    CASE o_orderstatus WHEN 'F' THEN 2 WHEN 'P' THEN 1
             |      ELSE 0 END AS half,
             |    CAST(o_orderkey % 7 AS DOUBLE) AS goals
             |  FROM orders)
             |SELECT team, match_id,
             |  CAST(count(*) OVER w AS INT) AS matches,
             |  CAST(sum(half) OVER w AS BIGINT) / 2.0
             |    / count(*) OVER w AS win_ratio,
             |  sum(goals) OVER w / count(*) OVER w AS avg_goals
             |FROM m
             |WINDOW w AS (PARTITION BY team ORDER BY ts, match_id
             |  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
             |ORDER BY team, match_id""".stripMargin)),

    // ---- W2: tumbling-window aggregation (streaming-shared logic, batch run) --------
    Q("w02_event_window",
      (s, dir) => EventStream.windowedCounts(events(s, dir))
        .select(date_format(col("window_start"), "yyyy-MM-dd").as("day"),
          col("event_type"), col("events"), col("total_value"))
        .orderBy("day", "event_type"),
      Some("""SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             |  event_type, count(*) AS events,
             |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total_value
             |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin)),

    // ---- W9: stream-static enrichment join + windowed rollup — events
    //      joined to the customer dim (broadcast, stream side never
    //      shuffles for the join), counts per market segment per day;
    //      StreamingSpec runs the same definition as a real stream -------
    Q("w09_stream_enrich",
      (s, dir) => EventStream.enrichedCounts(events(s, dir),
          t(s, dir, "customer"), "user_id", "c_custkey", "c_mktsegment")
        .select(date_format(col("window_start"), "yyyy-MM-dd").as("day"),
          col("c_mktsegment"), col("events"), col("total_value"))
        .orderBy("day", "c_mktsegment"),
      Some("""SELECT strftime(date_trunc('day', e.ts), '%Y-%m-%d') AS day,
             |  coalesce(c.c_mktsegment, 'UNKNOWN') AS c_mktsegment,
             |  count(*) AS events,
             |  CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total_value
             |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
             |GROUP BY 1, 2 ORDER BY day, c_mktsegment""".stripMargin)),

    // ---- W10: stream-stream attribution join — clicks matched to the
    //      same user's purchases within 1 hour; in batch this is the
    //      interval join the oracle checks, in streaming the watermarks
    //      bound the join state (StreamingSpec runs it as two real
    //      file-source streams) ----------------------------------------
    Q("w10_stream_stream_join",
      (s, dir) => {
        val ev = events(s, dir)
        EventStream.attributionJoin(
            ev.filter(col("event_type") === "click"),
            ev.filter(col("event_type") === "purchase"), "user_id")
          .select(col("user_id"), col("left_id").as("click_id"),
            date_format(col("left_ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"),
            col("right_id").as("purchase_id"),
            date_format(col("right_ts"), "yyyy-MM-dd HH:mm:ss")
              .as("purchase_ts"))
          .orderBy("click_id", "purchase_id")
      },
      Some("""SELECT c.user_id,
             |  c.event_id AS click_id,
             |  strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
             |  p.event_id AS purchase_id,
             |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts
             |FROM events c JOIN events p
             |  ON c.user_id = p.user_id
             |  AND c.event_type = 'click' AND p.event_type = 'purchase'
             |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
             |ORDER BY click_id, purchase_id""".stripMargin)),

    // ---- W28: LEFT OUTER attribution join — same interval join as w10
    //      but clicks with NO purchase within the hour survive with null
    //      purchase columns (the unconverted-click funnel). Streaming
    //      semantics (null row emits only after the watermark finalizes
    //      no-match) are pinned in StreamingSpec; this entry pins the
    //      batch equivalence the stream must converge to. (Renamed from
    //      w12_stream_outer_join — the short id collided with
    //      w12_cohort_retention in the SURVEY §2.11 cross-reference.) ----
    Q("w28_stream_outer_join",
      (s, dir) => {
        val ev = events(s, dir)
        EventStream.attributionJoin(
            ev.filter(col("event_type") === "click"),
            ev.filter(col("event_type") === "purchase"), "user_id",
            joinType = "left_outer")
          .select(col("user_id"), col("left_id").as("click_id"),
            date_format(col("left_ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"),
            col("right_id").as("purchase_id"),
            date_format(col("right_ts"), "yyyy-MM-dd HH:mm:ss")
              .as("purchase_ts"))
          .orderBy("click_id", "purchase_id")
      },
      Some("""SELECT c.user_id,
             |  c.event_id AS click_id,
             |  strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
             |  p.event_id AS purchase_id,
             |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts
             |FROM events c LEFT JOIN events p
             |  ON c.user_id = p.user_id
             |  AND p.event_type = 'purchase'
             |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
             |WHERE c.event_type = 'click'
             |ORDER BY click_id, purchase_id""".stripMargin)),

    // ---- W6: sliding (hopping) windows — 2-day window, 1-day slide:
    //      every event lands in exactly two windows; the oracle fans each
    //      row out to its two window starts --------------------------------
    Q("w06_sliding_window",
      (s, dir) => events(s, dir)
        .groupBy(window(col("ts"), "2 days", "1 day").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("events"),
          decSum(col("value")).as("total_value"))
        .select(date_format(col("w.start"), "yyyy-MM-dd").as("window_start"),
          col("event_type"), col("events"), col("total_value"))
        .orderBy("window_start", "event_type"),
      Some("""SELECT strftime(CAST(ts AS DATE) - k, '%Y-%m-%d')
             |    AS window_start,
             |  event_type, count(*) AS events,
             |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total_value
             |FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k)
             |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin)),

    // ---- W7: session windows (30-min inactivity gap) — Spark's
    //      session_window vs the classic gaps-and-islands SQL. Session
    //      end = last event + gap, half-open, so a row landing exactly at
    //      the previous end starts a NEW session (>= in the oracle).
    //      events ts is µs-exact in both engines (no sub-µs nanos). ------
    Q("w07_session_window",
      (s, dir) => EventStream.sessionCounts(events(s, dir))
        .select(
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("session_start"),
          date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("session_end"),
          col("event_type"), col("events"))
        .orderBy("event_type", "session_start"),
      Some("""WITH m AS (
             |  SELECT event_type, CAST(ts AS TIMESTAMP) AS ts,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
             |         THEN 1 ELSE 0 END AS new_s
             |  FROM events
             |  WINDOW w AS (PARTITION BY event_type ORDER BY ts)),
             |s AS (
             |  SELECT event_type, ts,
             |    sum(new_s) OVER (PARTITION BY event_type ORDER BY ts
             |      ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM m)
             |SELECT
             |  strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
             |  strftime(max(ts) + INTERVAL 30 MINUTE,
             |    '%Y-%m-%d %H:%M:%S.%f') AS session_end,
             |  event_type, count(*) AS events
             |FROM s GROUP BY event_type, sid
             |ORDER BY event_type, session_start""".stripMargin)),

    // ---- A18: cube — all grouping-set marginals --------------------------
    Q("a18_cube",
      (s, dir) => t(s, dir, "orders")
        .select(year(col("o_orderdate").cast("date")).as("yr"),
          col("o_orderpriority").as("prio"), col("o_totalprice"))
        .cube(col("yr"), col("prio"))
        .agg(count(lit(1)).as("orders"),
          decSum(col("o_totalprice")).as("total"))
        .select(coalesce(col("yr").cast("string"), lit("ALL")).as("yr"),
          coalesce(col("prio"), lit("ALL")).as("prio"),
          col("orders"), col("total"))
        .orderBy("yr", "prio"),
      Some("""SELECT coalesce(CAST(yr AS VARCHAR), 'ALL') AS yr,
             |  coalesce(prio, 'ALL') AS prio,
             |  count(*) AS orders,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total
             |FROM (SELECT year(CAST(o_orderdate AS DATE)) AS yr,
             |        o_orderpriority AS prio, o_totalprice FROM orders)
             |GROUP BY CUBE (yr, prio)
             |ORDER BY yr, prio""".stripMargin)),

    // ---- T6: Gopher-style repetition signals — duplicate-trigram fraction
    //      and top-bigram fraction, exact integer counts + one division ----
    Q("t06_repetition",
      (s, dir) => tf(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.duplicateNgramFraction(col("text"), 3)
            .as("dup_trigram_frac"),
          TextAnalysis.topBigramFraction(col("text")).as("top_bigram_frac"))
        .orderBy("doc_id"),
      // identical sliding-gram construction: tokens of lower(text), grams
      // with multiplicity kept, distinct only where the measure needs it
      Some(s"""WITH toks AS (
             |  SELECT doc_id,
             |    ${tokensSql("lower(text)")} AS lt
             |  FROM documents),
             |grams AS (
             |  SELECT doc_id,
             |    CASE WHEN len(lt) >= 3 THEN
             |      list_transform(range(1, len(lt) - 1),
             |        i -> lt[i] || ' ' || lt[i+1] || ' ' || lt[i+2])
             |    ELSE [] END AS g3,
             |    CASE WHEN len(lt) >= 2 THEN
             |      list_transform(range(1, len(lt)),
             |        i -> lt[i] || ' ' || lt[i+1])
             |    ELSE [] END AS g2
             |  FROM toks)
             |SELECT doc_id,
             |  CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE)
             |    / greatest(len(g3), 1) AS dup_trigram_frac,
             |  CAST(coalesce(list_max(list_transform(list_distinct(g2),
             |      b -> len(list_filter(g2, x -> x = b)))), 0) AS DOUBLE)
             |    / greatest(len(g2), 1) AS top_bigram_frac
             |FROM grams ORDER BY doc_id""".stripMargin)),

    // ---- T7: corpus vocabulary (top-K tokens, occurrence + doc counts) —
    //      tokenizer-training input; integer-exact, global top-k ----------
    Q("t07_vocab",
      (s, dir) => TextAnalysis.vocabulary(t(s, dir, "documents"), "text", 100),
      Some(s"""WITH toks AS (
             |  SELECT doc_id,
             |    ${tokensSql("lower(text)")} AS lt
             |  FROM documents),
             |occ AS (
             |  SELECT token, count(*) AS occurrences FROM (
             |    SELECT unnest(lt) AS token FROM toks)
             |  GROUP BY 1),
             |dfreq AS (
             |  SELECT token, count(*) AS doc_count FROM (
             |    SELECT doc_id, unnest(list_distinct(lt)) AS token FROM toks)
             |  GROUP BY 1)
             |SELECT o.token, o.occurrences, d.doc_count
             |FROM occ o JOIN dfreq d USING (token)
             |ORDER BY o.occurrences DESC, o.token LIMIT 100""".stripMargin)),

    // ---- T8: top-3 distinctive terms per doc — tf desc, corpus df asc,
    //      token asc: the tf-idf ordering with integer-exact ranking ------
    Q("t08_top_terms",
      (s, dir) => TextAnalysis.topTermsPerDoc(
          t(s, dir, "documents"), "doc_id", "text", 3)
        .orderBy("doc_id", "rank"),
      Some(s"""WITH toks AS (
             |  SELECT doc_id,
             |    ${tokensSql("lower(text)")} AS lt
             |  FROM documents),
             |tf AS (
             |  SELECT doc_id, token, count(*) AS tf FROM (
             |    SELECT doc_id, unnest(lt) AS token FROM toks)
             |  GROUP BY 1, 2),
             |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1)
             |SELECT doc_id, rank, token, tf, df FROM (
             |  SELECT tf.doc_id, tf.token, tf.tf, d.df,
             |    row_number() OVER (PARTITION BY tf.doc_id
             |      ORDER BY tf.tf DESC, d.df ASC, tf.token ASC) AS rank
             |  FROM tf JOIN dfreq d USING (token))
             |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin)),

    // ---- T11: one-row corpus profile — the token-distribution health
    //      check run before any training job: vocab size, hapax fraction
    //      (1-occurrence tokens — OCR noise shows up here first),
    //      type-token ratio. All integer counts, single final divisions --
    Q("t11_corpus_profile",
      (s, dir) => {
        val toks = t(s, dir, "documents").select(
          explode(TextAnalysis.tokens(lower(col("text")))).as("token"))
        val occ = toks.groupBy("token").agg(count(lit(1)).as("occ"))
        occ.agg(
          sum(col("occ")).as("n_tokens"),
          count(lit(1)).as("vocab_size"),
          sum(when(col("occ") === 1, 1L).otherwise(0L)).as("hapax_count"))
        .select(col("n_tokens"), col("vocab_size"), col("hapax_count"),
          (col("hapax_count").cast("double") / col("vocab_size"))
            .as("hapax_frac"),
          (col("vocab_size").cast("double") / col("n_tokens"))
            .as("type_token_ratio"))
      },
      Some(s"""WITH occ AS (
             |  SELECT token, count(*) AS occ FROM (
             |    SELECT unnest(${tokensSql("lower(text)")}) AS token
             |    FROM documents)
             |  GROUP BY 1)
             |SELECT CAST(sum(occ) AS BIGINT) AS n_tokens,
             |  count(*) AS vocab_size,
             |  CAST(sum(CASE WHEN occ = 1 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS hapax_count,
             |  CAST(sum(CASE WHEN occ = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             |    / count(*) AS hapax_frac,
             |  CAST(count(*) AS DOUBLE) / CAST(sum(occ) AS BIGINT)
             |    AS type_token_ratio
             |FROM occ""".stripMargin)),

    // ---- T9: training-sequence chunking — 16-token windows, stride 8
    //      (50% overlap); every token covered, no redundant tail ---------
    Q("t09_seq_chunks",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(TextAnalysis.chunkTokens(col("text"), 16, 8))
            .as(Seq("chunk_idx", "chunk")))
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          col("chunk"),
          TextAnalysis.tokenCount(col("chunk")).as("chunk_tokens"))
        .orderBy("doc_id", "chunk_idx"),
      Some(s"""WITH toks AS (
             |  SELECT doc_id,
             |    ${tokensSql("text")} AS lt
             |  FROM documents),
             |c AS (
             |  SELECT doc_id, lt,
             |    CASE WHEN len(lt) <= 16 THEN 1
             |      ELSE (len(lt) - 16 + 7) // 8 + 1 END AS nc
             |  FROM toks),
             |fan AS (
             |  SELECT doc_id, lt,
             |    unnest(generate_series(0, CAST(nc - 1 AS INT))) AS i
             |  FROM c)
             |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
             |  array_to_string(lt[i*8+1:i*8+16], ' ') AS chunk,
             |  CAST(len(lt[i*8+1:i*8+16]) AS BIGINT) AS chunk_tokens
             |FROM fan ORDER BY doc_id, chunk_idx""".stripMargin)),

    // ---- T10: unigram-LM quality proxy, integer-exact core — per-doc
    //      mean corpus document-frequency of its tokens (gibberish/OCR
    //      noise scores low); single final division → bit-stable ---------
    Q("t10_rarity_score",
      (s, dir) => TextAnalysis.rarityScore(
          t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some(s"""WITH toks AS (
             |  SELECT doc_id,
             |    ${tokensSql("lower(text)")} AS lt
             |  FROM documents),
             |tok AS (SELECT doc_id, unnest(lt) AS token FROM toks),
             |dfreq AS (
             |  SELECT token, count(*) AS df FROM (
             |    SELECT doc_id, unnest(list_distinct(lt)) AS token FROM toks)
             |  GROUP BY 1)
             |SELECT doc_id,
             |  CAST(sum(df) AS DOUBLE) / count(*) AS mean_token_df,
             |  count(*) AS n_tokens
             |FROM tok JOIN dfreq USING (token)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- L3: corpus-frequency boilerplate-line removal (CCNet-style).
    //      documents.text is single-line, so the query injects a
    //      deterministic line structure (template chrome shared by every
    //      doc + unique content lines + a footer shared by 1/7 of docs,
    //      below the 50% threshold) — same construction in the oracle ----
    Q("l03_boilerplate",
      (s, dir) => {
        val lined = t(s, dir, "documents").select(col("doc_id"),
          concat_ws("\n",
            lit("subscribe to our newsletter"),
            substring(col("text"), 1, 60),
            lit("copyright 2024 example corp"),
            substring(col("text"), 61, 60),
            concat(lit("doc footer "), (col("doc_id") % 7).cast("string")))
            .as("text"))
        Boilerplate.removeBoilerplate(lined, "doc_id", "text",
            minDocFrac = 0.5, minDocs = 2L)
          .select(col("doc_id"), col("text")).orderBy("doc_id")
      },
      Some("""WITH docs AS (
             |  SELECT doc_id, concat_ws(chr(10),
             |    'subscribe to our newsletter',
             |    substr(text, 1, 60),
             |    'copyright 2024 example corp',
             |    substr(text, 61, 60),
             |    'doc footer ' || CAST(doc_id % 7 AS VARCHAR)) AS txt
             |  FROM documents),
             |lines AS (
             |  SELECT doc_id,
             |    unnest(string_split(txt, chr(10))) AS line,
             |    unnest(generate_series(1, len(string_split(txt, chr(10)))))
             |      AS pos
             |  FROM docs),
             |hot AS (
             |  SELECT line FROM lines GROUP BY line
             |  HAVING count(DISTINCT doc_id) >= greatest(2,
             |    ceil(0.5 * (SELECT count(DISTINCT doc_id) FROM docs)))),
             |kept AS (
             |  SELECT * FROM lines
             |  WHERE line NOT IN (SELECT line FROM hot)),
             |rebuilt AS (
             |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
             |  FROM kept GROUP BY doc_id)
             |SELECT d.doc_id, coalesce(r.text, '') AS text
             |FROM docs d LEFT JOIN rebuilt r USING (doc_id)
             |ORDER BY d.doc_id""".stripMargin)),

    // ---- M7: audio roundtrip — synthesize 16-bit PCM WAVs in-engine,
    //      decode them back through the real RIFF walker (batched
    //      mapPartitions). The structural fields are oracle-exact; the
    //      RMS float math is gated by MultimodalSpec's known-sine test
    //      (float summation order is not portable across engines) ---------
    Q("m07_audio_roundtrip",
      (s, dir) => {
        val ids = t(s, dir, "documents")
          .select(col("doc_id").cast("long").as("id"))
          .filter(col("id") < 200)
        Multimodal.decodeAudioFeatures(
            Multimodal.withSyntheticAudio(ids, "id"), "id")
          .select(col("id").as("doc_id"), col("sample_rate"),
            col("num_samples"), size(col("rms")).as("n_windows"),
            aggregate(col("rms"), lit(0),
              (acc, x) => acc + when(x > 0f, 1).otherwise(0))
              .as("live_windows"))
          .orderBy("doc_id")
      },
      Some("""SELECT CAST(doc_id AS BIGINT) AS doc_id,
             |  8000 AS sample_rate, CAST(1000 AS BIGINT) AS num_samples,
             |  16 AS n_windows, 16 AS live_windows
             |FROM documents WHERE doc_id < 200
             |ORDER BY doc_id""".stripMargin)),

    // ---- M8: cross-video shared-frame detection — videos sharing any
    //      byte-identical frame (stock footage / intro cards), found by
    //      md5-ing every decoded frame and equi-joining on the digest.
    //      The synthetic frames repeat with period 256 in (id*31 + f*7),
    //      so the oracle enumerates matches by modular arithmetic while
    //      the engine proves the REAL container-walk + hash-join path ----
    Q("m08_shared_frames",
      (s, dir) => {
        val ids = t(s, dir, "documents")
          .select(col("doc_id").cast("long").as("id"))
          .filter(col("id") < 120)
        val fh = Multimodal.frameHashes(
          Multimodal.withSyntheticVideos(ids, "id"), "id")
        val a = fh.select(col("id").as("id_a"), col("frame_md5"))
        val b = fh.select(col("id").as("id_b"), col("frame_md5"))
        a.join(b, Seq("frame_md5"))
          .filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b")).distinct()
          .orderBy("id_a", "id_b")
      },
      Some("""WITH ids AS (
             |  SELECT CAST(doc_id AS BIGINT) AS id FROM documents
             |  WHERE doc_id < 120),
             |f AS (SELECT unnest(generate_series(0, 5)) AS fi)
             |SELECT DISTINCT a.id AS id_a, b.id AS id_b
             |FROM ids a, ids b, f fa, f fb
             |WHERE a.id < b.id
             |  AND (a.id * 31 + fa.fi * 7) % 256
             |    = (b.id * 31 + fb.fi * 7) % 256
             |ORDER BY id_a, id_b""".stripMargin)),

    // ---- T12: BPE tokenizer — merges trained on the corpus word-
    //      frequency table (one shuffle + driver-side loop over a bounded
    //      vocab), greedy lowest-rank encode per word via mapPartitions
    //      with a distinct-word memo. Output: per-source token totals +
    //      compression vs whitespace words — rows-only (DuckDB has no
    //      BPE); BpeSpec pins the classic merge sequence, encode/train
    //      parity, and lossless round-trip --------------------------------
    Q("t12_bpe_tokens",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val merges = Bpe.fit(docs, "text", numMerges = 60)
        Bpe.encode(docs, "doc_id", "text", merges)
          .join(docs.select(col("doc_id").as("id"), col("source"),
            // Bpe.words' word count (lowercasing never adds whitespace)
            TextAnalysis.tokenCount(col("text")).as("n_words")), "id")
          .groupBy("source")
          .agg(count(lit(1)).as("docs"),
            sum(col("n_bpe_tokens").cast("long")).as("bpe_tokens"),
            sum(col("n_words").cast("long")).as("words"))
          .withColumn("tokens_per_word",
            col("bpe_tokens").cast("double") / col("words"))
          .orderBy("source")
      },
      None),

    // ---- D16: SemDeDup (arXiv:2303.09540) — semantic near-duplicate
    //      pruning via k-means cells + within-cell cosine threshold,
    //      keep-lowest-id; capped pair generation (cosineNearDups shape)
    //      so a degenerate cell is O(cap²+N), never O(N²). Per-cell
    //      summary keeps the rows-only check non-vacuous; planted-dup
    //      recall is pinned in SimilaritySpec ------------------------------
    Q("d16_semantic_dedup",
      (s, dir) => Similarity.semanticDedup(
          t(s, dir, "embeddings"), "vec_id", "embedding",
          nCells = 16, threshold = 0.92)
        .groupBy("cell")
        .agg(count(lit(1)).as("docs"),
          sum(col("kept").cast("long")).as("kept_docs"))
        .orderBy("cell"),
      None),

    // ---- N8: IVF-PQ recall audit — the 100 TB ANN composition: IVF
    //      cells bound which vectors a query touches, 8-byte PQ codes
    //      bound what each touch costs (asymmetric distance, corpus
    //      floats never cross the join). Recall@3 vs the exact cosine
    //      baseline; floor pinned in SimilaritySpec ------------------------
    Q("n08_pq_recall",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 5)
        Similarity.recallAtK(
          Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 3),
          Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding", 3,
            nCells = 16, nProbe = 6, m = 8, ksub = 32, rerank = 8))
      },
      None)
  )
}
