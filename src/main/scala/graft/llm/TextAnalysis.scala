package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM training-data pipelines: token
  * counting, quality scoring, language ID, document fingerprinting.
  * All pure column expressions → whole-stage codegen, embarrassingly
  * parallel, no shuffle: at 100 TB these run at scan speed.
  */
object TextAnalysis {

  /** Whitespace tokens (empty-safe). `split` never emits a NULL element,
    * so removing the empty strings (a leading tab or newline, or empty
    * text) is the whole filter — a compiled expression, no lambda.
    */
  def tokens(text: Column): Column =
    array_remove(split(trim(text), "\\s+"), lit(""))

  /** DuckDB replay of [[tokens]] over the SQL expression `textSql`: a
    * bare `string_split_regex` yields `['']` on empty text and a leading
    * `''` before a leading tab or newline, so the empty strings go here
    * too. Every oracle tokenizes through this one string.
    */
  def tokensSql(textSql: String): String =
    s"list_filter(string_split_regex(trim($textSql), '\\s+'), " +
      "x -> strlen(x) > 0)"

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** DuckDB replay of [[tokenCount]]. */
  def tokenCountSql(textSql: String): String =
    s"CAST(len(${tokensSql(textSql)}) AS BIGINT)"

  /** Intra-document repetition removal: drop every repeated occurrence of
    * a token, keeping first-occurrence order (the cheap in-doc analogue
    * of line-dedup in web-corpus cleaning). `array_distinct` keeps the
    * first occurrence of each element, so this is a pure column
    * expression — scan speed, no explode/groupBy, no shuffle.
    */
  def dedupTokens(text: Column): Column = array_distinct(tokens(text))

  /** BPE-ish token count: word / number / punctuation-run pattern — the
    * usual cheap proxy for subword tokenizers when the real tokenizer
    * can't ship with the engine.
    */
  val BpeishPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeishPattern), lit(0))).cast("long")

  /** Quality-score components: length, punctuation ratio, stopword ratio,
    * mean word length. Exact integer counts; single divisions → stable
    * doubles.
    */
  val DefaultStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  def charCount(text: Column): Column = length(text).cast("long")

  def stopwordCount(text: Column, stopwords: Seq[String] = DefaultStopwords): Column =
    size(filter(tokens(lower(text)), t => t.isin(stopwords: _*))).cast("long")

  /** `'a', 'b', ...` — a SQL IN list of string literals. */
  private def sqlList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString(", ")

  /** DuckDB replay of [[stopwordCount]] (default stopwords). */
  def stopwordCountSql(textSql: String): String =
    s"CAST(len(list_filter(${tokensSql(s"lower($textSql)")}, " +
      s"x -> x IN (${sqlList(DefaultStopwords)}))) AS BIGINT)"

  val PunctPattern = "[^A-Za-z0-9\\s]"

  def punctCount(text: Column): Column =
    size(regexp_extract_all(text, lit(PunctPattern), lit(0))).cast("long")

  def stopwordRatio(text: Column): Column =
    stopwordCount(text) / greatest(tokenCount(text), lit(1L))

  def punctRatio(text: Column): Column =
    punctCount(text) / greatest(charCount(text), lit(1L))

  def meanWordLength(text: Column): Column =
    aggregate(tokens(text), lit(0L), (acc, t) => acc + length(t)) /
      greatest(tokenCount(text), lit(1L))

  /** Quality phase: the number of gates (0..3) a document passes —
    * mid-length, not stopword-free keyword stuffing, not punctuation
    * soup (a heuristic in the C4/Gopher-rules family, reduced to
    * engine-friendly arithmetic). The exact integer form for bucketing
    * (curriculum phases, stratified reports), where a float score would
    * invite epsilon trouble.
    */
  def qualityPhase(text: Column): Column =
    (tokenCount(text).between(10, 100000)).cast("int") +
      (stopwordRatio(text) >= 0.01).cast("int") +
      (punctRatio(text) <= 0.2).cast("int")

  /** Composite quality score in [0,1]: [[qualityPhase]] / 3. */
  def qualityScore(text: Column): Column = qualityPhase(text).cast("double") / 3

  /** DuckDB replay of the quality features: a select-list fragment
    * naming `n` (tokens), `nsw` (stopwords), `npunct` and `nchars` over
    * `textSql`. `nchars` counts characters (`length`, Spark's
    * `length`), never bytes (`strlen`). [[stopwordRatioSql]],
    * [[punctRatioSql]], [[qualityPhaseSql]] and [[qualityScoreSql]]
    * read these columns.
    */
  def qualityFeaturesSql(textSql: String): String =
    s"""${tokenCountSql(textSql)} AS n,
       |    ${stopwordCountSql(textSql)} AS nsw,
       |    CAST(len(regexp_extract_all($textSql, '$PunctPattern'))
       |      AS BIGINT) AS npunct,
       |    CAST(length($textSql) AS BIGINT) AS nchars""".stripMargin

  val stopwordRatioSql = "nsw / greatest(n, 1)"
  val punctRatioSql = "npunct / greatest(nchars, 1)"
  private val qualityGatesSql =
    s"(CAST(n >= 10 AND n <= 100000 AS INT) + " +
      s"CAST($stopwordRatioSql >= 0.01 AS INT) + " +
      s"CAST($punctRatioSql <= 0.2 AS INT))"
  val qualityPhaseSql = s"CAST($qualityGatesSql AS INT)"
  val qualityScoreSql = s"$qualityGatesSql / 3.0"

  /** Language ID via stopword-hit scoring: argmax over per-language marker
    * sets. A cheap n-gram/stopword heuristic (fastText-style without the
    * model); ties broken by language code for determinism.
    */
  val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "del"),
    "de" -> Seq("der", "die", "und", "das", "nicht", "ist", "ich", "ein"),
    "fr" -> Seq("le", "la", "les", "des", "est", "une", "dans", "que"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不"))

  /** Character-class composition — the script/charset mix signal
    * (latin letters, digits, whitespace, other) corpus curation uses to
    * catch mis-labeled languages, code-as-prose, and mojibake (a doc
    * claiming English with 40% "other" bytes is suspect). Exact counts
    * via length-difference after class removal: pure `regexp_replace`
    * column arithmetic — codegen'd, scan-speed, shuffle-free, and the
    * identical RE2-safe patterns replay in the DuckDB oracle (with its
    * 'g' flag). Fractions divide by max(n_chars, 1) in one fixed IEEE
    * shape.
    */
  def charClassProfile(text: Column): Column = {
    val total = length(text).cast("long")
    def classCount(pattern: String): Column =
      total - length(regexp_replace(text, pattern, "")).cast("long")
    struct(total.as("n_chars"),
      classCount("[A-Za-z]").as("n_latin"),
      classCount("[0-9]").as("n_digit"),
      classCount("\\s").as("n_space"))
  }

  def langId(text: Column): Column = {
    val toks = tokens(lower(text))
    val scored = LangMarkers.toSeq.sortBy(_._1).map { case (lang, markers) =>
      struct(size(filter(toks, t => t.isin(markers: _*))).as("hits"),
        lit(lang).as("lang"))
    }
    // array_max on structs compares field-by-field: max hits, then max
    // lang code — a deterministic argmax.
    array_max(array(scored: _*)).getField("lang")
  }

  /** DuckDB replay of [[langId]]: `list_sort` orders the structs field
    * by field too, so its last element is the same argmax.
    */
  def langIdSql(textSql: String): String = {
    val toks = tokensSql(s"lower($textSql)")
    LangMarkers.toSeq.sortBy(_._1).map { case (lang, markers) =>
      s"{'hits': len(list_filter($toks, x -> x IN (${sqlList(markers)}))), " +
        s"'lang': '$lang'}"
    }.mkString("list_sort([\n      ", ",\n      ", "])[-1]['lang']")
  }

  /** Document fingerprint: md5 over the sorted distinct token set — an
    * order-insensitive canonical hash (rolling-hash fingerprint family).
    */
  /** PII redaction — standard training-corpus hygiene (emails, IPv4s,
    * phone-number-ish digit runs → typed placeholders). Order matters:
    * emails first (they embed digit runs), IPs before phones (dotted
    * quads must not be half-eaten by the phone pattern). A pure
    * `regexp_replace` chain: codegen'd, scan-speed, shuffle-free, and
    * expressible verbatim in the DuckDB oracle (t05).
    *
    * The phone shape demands >= 9 digits with at most ONE `-`/space
    * between consecutive digits, so ISO dates (8 digits), short numeric
    * ids, and "a - b" prose never redact; no upper bound so a 16-digit
    * card-like run is swallowed whole rather than leaving a tail digit.
    * Deliberately lookaround-free: the DuckDB oracle is RE2, which has
    * no lookahead, and both engines must run the identical pattern.
    * A 9+-digit timestamp prefix ("2024-01-01 10") is inherently
    * indistinguishable from a phone without lookarounds; corpus hygiene
    * errs on redaction for those.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val IpPattern = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
  val PhonePattern = "\\+?\\d(?:[\\- ]?\\d){8,}"

  def redactPii(text: Column): Column = {
    val email = regexp_replace(text, EmailPattern, "<EMAIL>")
    val ip = regexp_replace(email, IpPattern, "<IP>")
    regexp_replace(ip, PhonePattern, "<PHONE>")
  }

  /** DuckDB replay of [[redactPii]]: the same patterns in the same order. */
  def redactPiiSql(text: String): String =
    s"regexp_replace(regexp_replace(regexp_replace($text, " +
      s"'$EmailPattern', '<EMAIL>', 'g'), '$IpPattern', '<IP>', 'g'), " +
      s"'$PhonePattern', '<PHONE>', 'g')"

  /** Per-type PII counts with the SAME sequential semantics as
    * [[redactPii]] (emails counted on raw text, IPs on email-redacted,
    * phones on IP-redacted — so a digit run inside a redacted span never
    * double-counts). Returns (n_emails, n_ips, n_phones) columns; pure
    * expressions, scan speed.
    */
  def piiCounts(text: Column): (Column, Column, Column) = {
    val afterEmail = regexp_replace(text, EmailPattern, "<EMAIL>")
    val afterIp = regexp_replace(afterEmail, IpPattern, "<IP>")
    (size(regexp_extract_all(text, lit(EmailPattern), lit(0))).cast("long"),
     size(regexp_extract_all(afterEmail, lit(IpPattern), lit(0))).cast("long"),
     size(regexp_extract_all(afterIp, lit(PhonePattern), lit(0))).cast("long"))
  }

  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(lower(text))))))

  // ---------------------------------------------- repetition signals

  /** Sliding word n-grams, duplicates KEPT (unlike `Dedup.wordShingles`,
    * which is a distinct set for Jaccard): repetition measures need the
    * multiplicity. Docs shorter than n tokens yield an empty array.
    */
  def slidingNgrams(text: Column, n: Int): Column = {
    val toks = tokens(lower(text))
    // one-element-transform binding: referencing `toks` inside the gram
    // lambda would inline the regex-split tree and re-evaluate it PER
    // GRAM (the wordShingles trap — see BENCH_NOTES round 11)
    element_at(transform(array(toks), t =>
      when(size(t) < n, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), size(t) - (n - 1)),
          i => concat_ws(" ", slice(t, i, lit(n)))))), 1)
  }

  /** Fraction of n-gram occurrences that are repeats of an earlier
    * occurrence — the Gopher-rules "duplicate n-gram fraction" repetition
    * filter: boilerplate loops and keyword stuffing score high, normal
    * prose near zero. Exact integer counts, one double division; per-row
    * expression, so it runs shuffle-free at scan speed.
    */
  def duplicateNgramFraction(text: Column, n: Int = 3): Column =
    // gram array bound ONCE as a lambda variable: referencing the
    // slidingNgrams tree in several places would inline and re-evaluate
    // the whole gram build per reference (the BENCH_NOTES round-11
    // HOF-inlining trap)
    element_at(transform(array(slidingNgrams(text, n)), gs =>
      (size(gs) - size(array_distinct(gs))).cast("double") /
        greatest(size(gs), lit(1)).cast("double")), 1)

  /** Fraction of all bigram occurrences taken by the single most frequent
    * bigram (Gopher's "top n-gram fraction" family, n=2): a chant-like
    * doc ("buy now buy now …") approaches 1. O(distinct·total) per row —
    * bounded by doc length, no shuffle.
    */
  def topBigramFraction(text: Column): Column =
    // the bigram array MUST be a lambda variable here: the inner
    // filter(bg, ...) sits inside a per-distinct-gram lambda, so an
    // inlined slidingNgrams tree re-built the whole gram array PER
    // DISTINCT GRAM — O(distinct x total x gram-build) per row, 19.8 s
    // at sf0.1 once the checksum bench drive stopped project-pruning
    // this column (count() had hidden the cost since round 1)
    element_at(transform(array(slidingNgrams(text, 2)), bg =>
      coalesce(array_max(transform(array_distinct(bg),
          b => size(filter(bg, x => x === b)))), lit(0)).cast("double") /
        greatest(size(bg), lit(1)).cast("double")), 1)

  // ---------------------------------------------- corpus vocabulary

  /** Top-`topK` corpus vocabulary with occurrence and document counts —
    * the input to tokenizer training and stopword induction. One shuffle
    * on the token (map-side partial counts carry (occurrences, 1-doc)
    * pairs, never text), then a global top-k (`TakeOrderedAndProject`,
    * never a single-partition sort). Ties broken by token for a total
    * order. All counts are integers — exact at any parallelism.
    */
  def vocabulary(docs: DataFrame, textCol: String, topK: Int): DataFrame = {
    val occ = docs.select(explode(tokens(lower(col(textCol)))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("occurrences"))
    // doc_count explodes the per-doc DISTINCT token set, so each doc
    // contributes at most 1 per token
    val dfreq = docs
      .select(explode(array_distinct(tokens(lower(col(textCol))))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("doc_count"))
    occ.join(dfreq, Seq("token"))
      .orderBy(col("occurrences").desc, col("token"))
      .limit(topK)
  }

  /** Top-`k` most DISTINCTIVE terms per document: rank by term frequency
    * desc, then corpus document-frequency asc (rarer wins — the tf-idf
    * ordering without the float idf), then token asc. Integer-exact, so
    * the ranking is reproducible bit-for-bit on any engine. Two shuffles
    * (token df, then per-doc window) — both on narrow integer/token
    * columns.
    */
  def topTermsPerDoc(docs: DataFrame, idCol: String, textCol: String,
                     k: Int): DataFrame = {
    val tf = docs.select(col(idCol),
        explode(tokens(lower(col(textCol)))).as("token"))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token")
      .agg(count(lit(1)).as("df")) // tf rows are per (doc, token) → df
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("tf").desc, col("df").asc, col("token").asc)
    tf.join(dfreq, Seq("token"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("token"), col("tf"), col("df"))
  }

  /** Fixed-size training-sequence chunking: split a document's token
    * stream into windows of `chunkSize` tokens advancing by `stride`
    * (overlap = chunkSize − stride keeps context across boundaries —
    * the standard pre-packing step before sequences feed a trainer).
    * Covers every token with no redundant tail: a doc of `nt` tokens
    * yields 1 chunk if nt ≤ chunkSize, else ⌈(nt−chunkSize)/stride⌉+1.
    * Pure per-row expression (sequence + slice) — chunking 100 TB is a
    * scan, not a shuffle; pair with `posexplode` for (doc, idx, chunk)
    * rows.
    */
  def chunkTokens(text: Column, chunkSize: Int, stride: Int): Column = {
    require(stride > 0 && chunkSize >= stride,
      s"need 0 < stride <= chunkSize, got stride=$stride chunk=$chunkSize")
    val toks = tokens(text)
    // same one-element-transform binding as slidingNgrams: the chunk
    // lambda must slice a bound array, not re-tokenize per chunk
    element_at(transform(array(toks), t => {
      val nt = size(t)
      val nChunks = when(nt <= chunkSize, lit(1)).otherwise(
        floor((nt - chunkSize + stride - 1).cast("double") / stride)
          .cast("int") + 1)
      transform(sequence(lit(0), nChunks - 1),
        i => concat_ws(" ", slice(t, i * stride + 1, lit(chunkSize))))
    }), 1)
  }

  /** Per-document mean corpus document-frequency of its tokens — the
    * integer-exact core of unigram-LM quality scoring: gibberish, OCR
    * noise and boilerplate-free keyword stuffing score LOW (rare
    * tokens), natural prose scores high. Two passes over the corpus
    * (one to build the token→df table, one to score), both shuffling
    * only (token, count) pairs; the sum is a BIGINT so the single final
    * division is reproducible bit-for-bit on any engine.
    */
  def rarityScore(docs: DataFrame, idCol: String,
                  textCol: String): DataFrame = {
    val tok = docs.select(col(idCol),
      explode(tokens(lower(col(textCol)))).as("token"))
    val dfreq = docs
      .select(explode(array_distinct(tokens(lower(col(textCol)))))
        .as("token"))
      .groupBy("token").agg(count(lit(1)).as("df"))
    tok.join(dfreq, Seq("token"))
      .groupBy(col(idCol))
      .agg((sum(col("df")).cast("double") / count(lit(1)))
        .as("mean_token_df"),
        count(lit(1)).as("n_tokens"))
  }

  /** Unigram-LM mean log-probability per document (the perplexity proxy
    * quality filters actually threshold on): P(t) = occurrences(t) /
    * total corpus tokens, score = mean over the doc's tokens of ln P(t).
    * Same two-pass shape as `rarityScore` (which is the hash-checkable
    * integer core — use it when cross-engine exactness matters; floats
    * here are ln-sum order-dependent in the last ulp).
    */
  def unigramLogProb(docs: DataFrame, idCol: String,
                     textCol: String): DataFrame = {
    val tok = docs.select(col(idCol),
      explode(tokens(lower(col(textCol)))).as("token"))
    val occ = tok.groupBy("token").agg(count(lit(1)).as("occ"))
    val total = occ.agg(sum(col("occ")).as("tot"))
    tok.join(occ, Seq("token")).crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(avg(log(col("occ").cast("double") / col("tot")))
        .as("mean_logprob"))
  }

  /** Bigram-LM document scoring with add-one smoothing — the CONDITIONAL
    * upgrade of [[unigramLogProb]], and unlike it hash-exact across
    * engines: P(w2|w1) = (c(w1,w2)+1) / (c(w1·)+V), where c(w1·) is the
    * bigram-first count and V the unigram vocabulary size, so every
    * probability is a single exact-int/exact-int division; the one libm
    * `ln` per bigram is rounded to 9 digits and summed as DECIMAL
    * (order-independent), giving a bit-reproducible
    * `avg_logp = Σ round(ln P, 9) / n`.
    *
    * Scale: train = one groupBy over exploded bigrams producing a
    * (w1, w2, cb, cu) stats table (counts only — corpus text never
    * shuffles twice); score = one join of the exploded corpus against
    * that table + a per-doc aggregate. Docs with <2 tokens surface with
    * n_bigrams = 0 and NULL score rather than disappearing.
    */
  def bigramLmScores(docs: DataFrame, idCol: String,
                     textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
      tokens(lower(col(textCol))).as("ws"))
    // bigrams are the zip of two offset windows of the token array (the
    // knTris shape); size >= 2 keeps the slice length positive
    val n = size(col("ws")) - 1
    val bg = toks.filter(size(col("ws")) >= 2)
      .select(col("id"), explode(arrays_zip(
        slice(col("ws"), lit(1), n).as("w1"),
        slice(col("ws"), lit(2), n).as("w2"))).as("b"))
      .select(col("id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val stats = bg.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val firsts = bg.groupBy("w1").agg(count(lit(1)).as("cu"))
    val vocab = toks.select(explode(col("ws")).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    val scored = bg
      .join(stats, Seq("w1", "w2"))
      .join(firsts, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("id"),
        round(log((col("cb") + 1).cast("double") /
          (col("cu") + col("v")).cast("double")), 9)
          .cast("decimal(12,9)").as("lp"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("lp")).cast("double") / count(lit(1)), 9)
          .as("avg_logp"))
    docs.select(col(idCol).as("id")).join(scored, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("avg_logp"))
  }

  /** Cross-corpus n-gram NOVELTY score — the diversity/contribution
    * signal data-pruning pipelines rank on: for each document, the
    * fraction of its distinct word n-grams that appear in NO
    * earlier-id document (the deterministic stand-in for arrival
    * order). A boilerplate mirror scores ~0; the first copy of any
    * passage scores its grams. Dual of the d10/d27 contamination
    * family: those measure overlap against an external set, this
    * measures self-novelty within the corpus.
    *
    * Scale posture: grams leave the scan as 60-bit md5-prefix digests
    * (o08's key recipe — never gram strings), so both shuffles (the
    * per-gram first-occurrence min and the per-doc rollup) carry two
    * BIGINTs per gram; first-occurrence is a map-side-combinable min.
    * The ratio is one exact-int IEEE division — hash-stable.
    */
  def ngramNovelty(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 3): DataFrame = {
    val base = docs.select(col(idCol).as("id"),
      Dedup.wordShingles(col(textCol), n).as("gs"))
    // per-doc totals come scan-side; the per-gram argmin alone yields
    // the novel counts (each gram is novel in exactly its min-id doc),
    // so there is NO join back against the gram table — the only
    // G-sized shuffle is the map-side-combinable min
    val perDoc = base.select(col("id"),
      size(col("gs")).cast("long").as("n_grams"))
    val novel = base.select(col("id"), explode(col("gs")).as("gram"))
      .select(col("id"),
        conv(substring(md5(col("gram")), 1, 15), 16, 10)
          .cast("long").as("g"))
      .groupBy("g").agg(min(col("id")).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_novel"))
    perDoc.join(novel, Seq("id"), "left")
      .select(col("id"), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        (coalesce(col("n_novel"), lit(0L)).cast("double") /
          col("n_grams")).as("novelty"))
  }

  /** Interpolated Kneser-Ney TRIGRAM LM — the published perplexity-
    * filter recipe (CCNet thresholds on KN models; [[bigramLmScores]]'
    * add-one bigram is the proxy form): train on `train`, score `score`
    * — the honest held-out shape, so backoff genuinely executes
    * (unseen trigram → discounted continuation; unseen context →
    * lower order; OOV word → uniform floor).
    *
    * Model (fixed discount D = 3/4, exact in binary):
    *   P(w3|w1,w2) = [max(c(w123)-D,0) + D·N1+(w12·)·P_mid] / c(w12·)
    *   P_mid(w3|w2) = [max(N1+(·w23)-D,0) + D·N1+(w2·)·P_low] / N1+(·w2·)
    *   P_low(w3)   = (N1+(·w3) + 1) / (N1+(··) + V + 1)
    * with all N1+ type counts derived from ONE trigram-type table and
    * the +1/(+V+1) floor giving OOV words nonzero mass (no zero-prob
    * log). Unseen (w1,w2) context ⇒ P = P_mid; unseen w2 ⇒ P = P_low.
    *
    * Hash-exactness (the t19 posture): every count is an exact BIGINT;
    * each probability is ONE fixed-shape expression over casts of those
    * integers (correctly-rounded IEEE ops, bit-identical across
    * engines); ln rounds to 9 dp; the per-doc sum is DECIMAL.
    *
    * Scale: train collapses to trigram-TYPE stats tables (counts only,
    * text shuffles once into the type groupBy); scoring is key joins of
    * the scored trigram stream against those tables plus one broadcast
    * one-row global frame. Docs with <3 tokens surface with
    * n_trigrams = 0 and NULL score.
    */
  def knTrigramScores(train: DataFrame, score: DataFrame,
                      idCol: String, textCol: String): DataFrame =
    knScoreFromStats(score, knStats(train, idCol, textCol), idCol, textCol)

  /** (id, w1, w2, w3) trigram stream of `df` — shared by the stats fit
    * and the scoring pass.
    */
  private def knTris(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    // NB deliberately NO Scans.withParallelismFloor here: the train side
    // is read once into the trigram-type exchange that every stat
    // consumer reuses (the invariant is stated in knScoreFromStats), and
    // a floor on that small side multiplied task counts across the stat
    // trees — measured 2.3 -> 3.8 s on t30, the opposite of its effect
    // on the single-consumer md5 scans (d26/d31/d29).
    // Trigrams are the zip of three equal-length windows of the token
    // array (compiled expressions, no per-element lambda); size >= 3
    // keeps every slice length positive.
    val n = size(col("ws")) - 2
    df.select(col(idCol).as("id"), tokens(lower(col(textCol))).as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("id"), explode(arrays_zip(
        slice(col("ws"), lit(1), n).as("w1"),
        slice(col("ws"), lit(2), n).as("w2"),
        slice(col("ws"), lit(3), n).as("w3"))).as("t"))
      .select(col("id"), col("t.w1").as("w1"), col("t.w2").as("w2"),
        col("t.w3").as("w3"))
  }

  /** MERGEABLE Kneser-Ney statistics of a corpus slice — the LM member
    * of the incremental-stats family (t18's `bm25Stats` posture): one
    * frame of exact BIGINT counts,
    *
    *   - kind='tri' rows: (w1, w2, w3) trigram TYPE counts, words
    *     never NULL and c >= 1 (the contract [[knScoreFromStats]]
    *     states as filters) — every higher-order KN table (c2ctx/n1ctx/
    *     n1mid/nmidctx/nfol/n1low/ntot) derives from this table alone,
    *     so persisting it persists the whole model;
    *   - kind='uni' rows: (w1=word, NULL, NULL) unigram token counts —
    *     the vocabulary size V is the ROW count of this slice (counts
    *     carry the additive merge; distinct-word identity rides the
    *     grouping key).
    *
    * Counts over disjoint corpus parts merge losslessly by grouped
    * addition ([[mergeKnStats]]): fold a new batch in and score from
    * stats ([[knScoreFromStats]]) — scored history is never rescanned,
    * the same steady-state contract as d12/d19/t18/a33/d33/n17.
    */
  def knStats(train: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val tri = knTris(train, idCol, textCol)
      .groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c"))
      .select(lit("tri").as("kind"), col("w1"), col("w2"), col("w3"),
        col("c"))
    val uni = train
      .select(explode(tokens(lower(col(textCol)))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .select(lit("uni").as("kind"), col("w").as("w1"),
        lit(null).cast("string").as("w2"),
        lit(null).cast("string").as("w3"), col("c"))
    tri.unionByName(uni)
  }

  /** Lossless merge of two [[knStats]] frames (disjoint corpus parts):
    * grouped element-wise addition — trigram-type counts add, unigram
    * counts add, and the distinct-word rows union by key, so V (the
    * uni row count) is exactly the merged vocabulary size. Sums of
    * counts >= 1 stay >= 1, so the merge keeps the tri-row contract.
    */
  def mergeKnStats(a: DataFrame, b: DataFrame): DataFrame = {
    require(a.columns.sameElements(b.columns),
      "mergeKnStats: schema mismatch")
    a.unionByName(b).groupBy("kind", "w1", "w2", "w3")
      .agg(sum(col("c")).as("c"))
  }

  /** Persist / restore a [[knStats]] frame as a parquet artifact (the
    * saveVocab/loadVocab posture applied to the LM): fit once, fold new
    * batches in, score forever from stats. A load returns the rows
    * saved, so it keeps the tri-row contract of what was saved.
    */
  def saveKnStats(stats: DataFrame, dir: String): Unit =
    stats.write.mode("overwrite").parquet(dir)

  def loadKnStats(spark: org.apache.spark.sql.SparkSession, dir: String)
      : DataFrame =
    spark.read.parquet(dir).select("kind", "w1", "w2", "w3", "c")

  /** Score `score` against a PROVIDED stats frame (e.g. maintained
    * incrementally across batches) — identical arithmetic to
    * [[knTrigramScores]]: when `stats` is the merged stats of the same
    * training corpus, the two are bit-identical (counts are exact
    * integers; the float expressions are the same fixed shape).
    */
  def knScoreFromStats(score: DataFrame, stats: DataFrame,
                       idCol: String, textCol: String): DataFrame = {
    // tri feeds tri/ctx/mid and mid feeds mid/mctx/low/glob; each is
    // computed ONCE because every consumer compiles the same subtree
    // below its exchange and AQE reuses that exchange. That holds only
    // while the consumers ask the same of it, so the stats contract —
    // tri rows have non-null words and c >= 1, which knStats,
    // mergeKnStats and loadKnStats of their output guarantee — is
    // stated here as filters (no-ops on such stats): the left joins
    // then infer no extra per-consumer IsNotNull, and `c3 > 0` /
    // `n1mid > 0` keep the count in every consumer's column set.
    // Caching tri/mid instead was MEASURED SLOWER at sf0.1 (3.2/5.3/3.0
    // s vs 2.1/3.0/2.6 for t30/t31/t32): the InMemoryRelation barrier
    // costs more than it saves and interferes with the broadcast-join
    // pipeline on the scoring side.
    val tri = stats.filter(col("kind") === "tri")
      .select(col("w1"), col("w2"), col("w3"), col("c").as("c3"))
      .filter(col("c3") > 0 && col("w1").isNotNull &&
        col("w2").isNotNull && col("w3").isNotNull)
    val ctx = tri.groupBy("w1", "w2")
      .agg(sum(col("c3")).as("c2ctx"), count(lit(1)).as("n1ctx"))
    val mid = tri.groupBy("w2", "w3").agg(count(lit(1)).as("n1mid"))
      .filter(col("n1mid") > 0)
    val mctx = mid.groupBy("w2")
      .agg(sum(col("n1mid")).as("nmidctx"), count(lit(1)).as("nfol"))
    val low = mid.groupBy("w3").agg(count(lit(1)).as("n1low"))
    val glob = mid.agg(count(lit(1)).as("ntot")).crossJoin(
      stats.filter(col("kind") === "uni").agg(count(lit(1)).as("v")))
    val joined = knTris(score, idCol, textCol)
      .join(tri, Seq("w1", "w2", "w3"), "left")
      .join(ctx, Seq("w1", "w2"), "left")
      .join(mid, Seq("w2", "w3"), "left")
      .join(mctx, Seq("w2"), "left")
      .join(low, Seq("w3"), "left")
      .crossJoin(broadcast(glob))
    // expression SHAPE mirrored verbatim in the oracle — association
    // order matters for bit-identity
    val pLow = (coalesce(col("n1low"), lit(0L)) + 1).cast("double") /
      (col("ntot") + col("v") + 1).cast("double")
    val pMid = when(col("nmidctx").isNull, pLow).otherwise(
      (greatest(coalesce(col("n1mid"), lit(0L)).cast("double") - 0.75,
        lit(0.0)) +
        lit(0.75) * col("nfol").cast("double") * pLow) /
        col("nmidctx").cast("double"))
    val p3 = when(col("c2ctx").isNull, pMid).otherwise(
      (greatest(coalesce(col("c3"), lit(0L)).cast("double") - 0.75,
        lit(0.0)) +
        lit(0.75) * col("n1ctx").cast("double") * pMid) /
        col("c2ctx").cast("double"))
    val scored = joined
      .select(col("id"), round(log(p3), 9).cast("decimal(12,9)").as("lp"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_trigrams"),
        round(sum(col("lp")).cast("double") / count(lit(1)), 9)
          .as("avg_logp"))
    score.select(col(idCol).as("id")).join(scored, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        col("avg_logp"))
  }

  /** DuckDB replay of [[knTrigramScores]]: CTEs ending in
    * `kn_out(id, n_trigrams, avg_logp)` over `table` rows, trained on
    * `trainPred` and scored on `scorePred` — exposed so composed
    * oracles (the perplexity-bucket recompose) extend the same chain.
    */
  def knOracleCtes(table: String, idCol: String, textCol: String,
                   trainPred: String, scorePred: String): Seq[String] = {
    def toksCte(name: String, pred: String) =
      s"""$name AS (
         |  SELECT $idCol AS id, ${tokensSql(s"lower($textCol)")} AS ws
         |  FROM $table WHERE $pred)""".stripMargin
    def triCte(name: String, src: String) =
      s"""$name AS (
         |  SELECT id, ws[t.i + 1] AS w1, ws[t.i + 2] AS w2,
         |    ws[t.i + 3] AS w3
         |  FROM $src,
         |    LATERAL (SELECT unnest(range(len(ws) - 2)) AS i) t)""".stripMargin
    val pLow = "CAST(coalesce(l.n1low, 0) + 1 AS DOUBLE) " +
      "/ CAST(g.ntot + g.v + 1 AS DOUBLE)"
    val pMid = s"""CASE WHEN x.nmidctx IS NULL THEN $pLow
                  |  ELSE (greatest(CAST(coalesce(m.n1mid, 0) AS DOUBLE)
                  |      - 0.75, 0.0)
                  |    + 0.75 * CAST(x.nfol AS DOUBLE) * ($pLow))
                  |    / CAST(x.nmidctx AS DOUBLE) END""".stripMargin
    val p3 = s"""CASE WHEN c.c2ctx IS NULL THEN ($pMid)
                |  ELSE (greatest(CAST(coalesce(t.c3, 0) AS DOUBLE)
                |      - 0.75, 0.0)
                |    + 0.75 * CAST(c.n1ctx AS DOUBLE) * ($pMid))
                |    / CAST(c.c2ctx AS DOUBLE) END""".stripMargin
    Seq(
      toksCte("kn_tr", trainPred),
      toksCte("kn_sc", scorePred),
      triCte("kn_tg", "kn_tr"),
      "kn_tri AS (SELECT w1, w2, w3, count(*) AS c3 FROM kn_tg " +
        "GROUP BY 1, 2, 3)",
      "kn_ctx AS (SELECT w1, w2, CAST(sum(c3) AS BIGINT) AS c2ctx, " +
        "count(*) AS n1ctx FROM kn_tri GROUP BY 1, 2)",
      "kn_mid AS (SELECT w2, w3, count(*) AS n1mid FROM kn_tri " +
        "GROUP BY 1, 2)",
      "kn_mctx AS (SELECT w2, CAST(sum(n1mid) AS BIGINT) AS nmidctx, " +
        "count(*) AS nfol FROM kn_mid GROUP BY 1)",
      "kn_low AS (SELECT w3, count(*) AS n1low FROM kn_mid GROUP BY 1)",
      """kn_gl AS (
        |  SELECT (SELECT count(*) FROM kn_mid) AS ntot,
        |    (SELECT count(DISTINCT w) FROM
        |      (SELECT unnest(ws) AS w FROM kn_tr)) AS v)""".stripMargin,
      triCte("kn_sg", "kn_sc"),
      s"""kn_p AS (
         |  SELECT s.id, CAST(round(ln($p3), 9) AS DECIMAL(12,9)) AS lp
         |  FROM kn_sg s
         |  LEFT JOIN kn_tri t
         |    ON t.w1 = s.w1 AND t.w2 = s.w2 AND t.w3 = s.w3
         |  LEFT JOIN kn_ctx c ON c.w1 = s.w1 AND c.w2 = s.w2
         |  LEFT JOIN kn_mid m ON m.w2 = s.w2 AND m.w3 = s.w3
         |  LEFT JOIN kn_mctx x ON x.w2 = s.w2
         |  LEFT JOIN kn_low l ON l.w3 = s.w3
         |  CROSS JOIN kn_gl g)""".stripMargin,
      """kn_agg AS (
        |  SELECT id, count(*) AS n_trigrams,
        |    round(CAST(sum(lp) AS DOUBLE) / count(*), 9) AS avg_logp
        |  FROM kn_p GROUP BY 1)""".stripMargin,
      s"""kn_out AS (
         |  SELECT d.$idCol AS id,
         |    CAST(coalesce(a.n_trigrams, 0) AS BIGINT) AS n_trigrams,
         |    a.avg_logp
         |  FROM $table d LEFT JOIN kn_agg a ON a.id = d.$idCol
         |  WHERE d.$idCol IN (SELECT id FROM kn_sc))""".stripMargin)
  }

  /** CCNet-style perplexity buckets (t20, t31): head/middle/tail per
    * source, with tercile thresholds fitted on a BOUNDED DETERMINISTIC
    * per-source sample — the first 100 scored ids, by `row_number() <=
    * 100`, whose partial WindowGroupLimit prunes before the exchange —
    * exactly how CCNet thresholds on a sample rather than exact global
    * quantiles. Threshold ranks are integer arithmetic (ceil(n/3) =
    * (n+2) div 3); classification is a broadcast join, so no per-source
    * window runs over the corpus. `scored` has `id`, `source`,
    * `avg_logp` (NULL: "unscored") and `countCol`, the scored n-gram
    * count; only docs with `countCol > 0` enter the sample.
    */
  def perplexityBuckets(scored: DataFrame, countCol: String): DataFrame = {
    val bySource = org.apache.spark.sql.expressions.Window
      .partitionBy("source")
    val sample = scored.filter(col(countCol) > 0)
      .select(col("source"), col("id"), col("avg_logp"))
      .withColumn("s", row_number().over(bySource.orderBy("id")))
      .filter(col("s") <= 100).drop("s")
    val ranked = sample
      .withColumn("r", row_number().over(
        bySource.orderBy(col("avg_logp").desc, col("id"))))
      .withColumn("n", count(lit(1)).over(bySource))
    val th = ranked.filter(col("r") === expr("(n + 2) div 3"))
      .select(col("source"), col("avg_logp").as("t1"))
      .join(ranked.filter(col("r") === expr("(2 * n + 2) div 3"))
        .select(col("source"), col("avg_logp").as("t2")), "source")
    scored.join(broadcast(th), Seq("source"), "left")
      .select(col("id").as("doc_id"), col("source"),
        when(col("avg_logp").isNull, "unscored")
          .when(col("avg_logp") >= col("t1"), "head")
          .when(col("avg_logp") >= col("t2"), "middle")
          .otherwise("tail").as("bucket"))
      .orderBy("doc_id")
  }

  /** DuckDB replay of [[perplexityBuckets]]: `ctes` end in `scored`, a
    * CTE with the same columns as the Spark frame.
    */
  def perplexityBucketsOracleSql(ctes: Seq[String], scored: String,
                                 countCol: String): String =
    s"""WITH ${ctes.mkString(",\n")},
       |pb_smp AS (
       |  SELECT source, id, avg_logp FROM (
       |    SELECT source, id, avg_logp,
       |      row_number() OVER (PARTITION BY source ORDER BY id) AS sr
       |    FROM $scored WHERE $countCol > 0)
       |  WHERE sr <= 100),
       |pb_rk AS (
       |  SELECT source, id, avg_logp,
       |    row_number() OVER (PARTITION BY source
       |                       ORDER BY avg_logp DESC, id) AS r,
       |    count(*) OVER (PARTITION BY source) AS n
       |  FROM pb_smp),
       |pb_th AS (
       |  SELECT a.source, a.avg_logp AS t1, b.avg_logp AS t2
       |  FROM (SELECT source, avg_logp FROM pb_rk
       |        WHERE r = (n + 2) // 3) a
       |  JOIN (SELECT source, avg_logp FROM pb_rk
       |        WHERE r = (2 * n + 2) // 3) b
       |    ON b.source = a.source)
       |SELECT s.id AS doc_id, s.source,
       |  CASE WHEN s.avg_logp IS NULL THEN 'unscored'
       |    WHEN s.avg_logp >= t.t1 THEN 'head'
       |    WHEN s.avg_logp >= t.t2 THEN 'middle'
       |    ELSE 'tail' END AS bucket
       |FROM $scored s LEFT JOIN pb_th t ON t.source = s.source
       |ORDER BY doc_id""".stripMargin

  /** DuckDB replay of [[ngramNovelty]] (n = 3) over `table`. */
  def ngramNoveltyOracleSql(table: String, idCol: String,
                            textCol: String): String =
    s"""WITH ${Dedup.wordGramsCte("nv_t", table, idCol, textCol, "id")},
       |nv_g AS (
       |  SELECT id, CAST(concat('0x', substr(md5(gram), 1, 15)) AS BIGINT)
       |    AS g
       |  FROM (SELECT id, unnest(grams) AS gram FROM nv_t)),
       |nv_f AS (SELECT g, min(id) AS first_id FROM nv_g GROUP BY 1)
       |SELECT g.id AS $idCol, CAST(count(*) AS BIGINT) AS n_grams,
       |  CAST(sum(CASE WHEN f.first_id = g.id THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_novel,
       |  CAST(sum(CASE WHEN f.first_id = g.id THEN 1 ELSE 0 END)
       |    AS DOUBLE) / count(*) AS novelty
       |FROM nv_g g JOIN nv_f f ON f.g = g.g
       |GROUP BY 1
       |ORDER BY 1""".stripMargin
}
