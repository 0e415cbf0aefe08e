package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.llm.{Multimodal, Ranking, TextAnalysis}
import graft.llm.TextAnalysis.{qualityFeaturesSql, qualityPhaseSql, tokensSql}
import Registry.{events, t, tf}

/** Round-8 widening: retrieval-style corpus scoring (BM25, plus its
  * incrementally-merged stats variant), scan-speed intra-document
  * repetition removal, PII profiling, Zipf-law corpus fit, exact
  * group-wise OLS regression, deterministic hash-stratified sampling,
  * gaps-and-islands, linear time-series interpolation, calendar-interval
  * RANGE frames and PERCENTILE_CONT through the SQL parser, k-NN label
  * evaluation over embeddings, and exact-integer audio window energy +
  * video scene-cut detection over the real decode paths. Every entry is
  * oracle-exact — including the float outputs, which follow the repo's
  * determinism rules (exact integer/decimal aggregates into fixed-order
  * row-wise double arithmetic; round(…, 9) only where libm `ln` can
  * diverge in the last ulp).
  */
object RegistryR8 {

  /** BM25 query terms for t14 — mid-frequency corpus words, so idf
    * actually separates documents.
    */
  private val Bm25Terms = Seq("spark", "merge", "window")

  def entries: Seq[Q] = Seq(

    // ---- T14: BM25 relevance of every document against a fixed query —
    //      domain-targeted data mining. One codegen scan for tf/dl (no
    //      explode), one broadcast one-row corpus-stats aggregate: two
    //      jobs, corpus never shuffles, any corpus size. ----------------
    Q("t14_bm25",
      (s, dir) => Ranking.bm25(t(s, dir, "documents"), "text", "doc_id",
          Bm25Terms)
        .withColumnRenamed("id", "doc_id").orderBy("doc_id"),
      Some(Ranking.bm25OracleSql("documents", "text", "doc_id", Bm25Terms))),

    // ---- T18: INCREMENTAL BM25 — score with corpus stats MERGED from
    //      per-batch stats rows instead of a full-corpus pass: integer
    //      stats are additive over disjoint parts, so history is never
    //      rescanned when a batch arrives (the retrieval-stats member of
    //      the incremental family: a33 IVM, a36/a37 sketches, d12/d19
    //      dedup). Oracle = the SAME full-corpus replay as t14 — passing
    //      hash-exact PROVES the merge is lossless. ----------------------
    Q("t18_bm25_incremental",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val b0 = docs.filter(col("doc_id") % 2 === 0)
        val b1 = docs.filter(col("doc_id") % 2 =!= 0)
        val merged = Ranking.mergeBm25Stats(
          Ranking.bm25Stats(b0, "text", "doc_id", Bm25Terms),
          Ranking.bm25Stats(b1, "text", "doc_id", Bm25Terms))
        Ranking.bm25FromStats(docs, "text", "doc_id", Bm25Terms, merged)
          .withColumnRenamed("id", "doc_id").orderBy("doc_id")
      },
      Some(Ranking.bm25OracleSql("documents", "text", "doc_id", Bm25Terms))),

    // ---- T15: intra-document repetition removal — drop repeated tokens,
    //      keep first-occurrence order. Engine path is a pure column
    //      expression (array_distinct keeps first occurrence): scan
    //      speed, zero shuffle. The oracle replays first-occurrence
    //      order via min(position) + ordered string_agg. ----------------
    Q("t15_dedup_tokens",
      (s, dir) => {
        val toks = TextAnalysis.tokens(lower(col("text")))
        t(s, dir, "documents").select(
            col("doc_id"),
            size(toks).cast("long").as("n_tokens"),
            size(TextAnalysis.dedupTokens(lower(col("text"))))
              .cast("long").as("n_unique"),
            concat_ws(" ", TextAnalysis.dedupTokens(lower(col("text"))))
              .as("dedup_text"))
          .orderBy("doc_id")
      },
      Some(s"""WITH toks AS (
             |  SELECT doc_id,
             |    ${tokensSql("lower(text)")} AS lt
             |  FROM documents),
             |pos AS (
             |  SELECT doc_id, unnest(lt) AS w,
             |    unnest(range(len(lt))) AS i
             |  FROM toks),
             |firsts AS (
             |  SELECT doc_id, w, min(i) AS fp FROM pos GROUP BY 1, 2),
             |agg AS (
             |  SELECT doc_id, count(*) AS n_unique,
             |    string_agg(w, ' ' ORDER BY fp) AS dedup_text
             |  FROM firsts GROUP BY 1)
             |SELECT t.doc_id, CAST(len(t.lt) AS BIGINT) AS n_tokens,
             |  CAST(coalesce(a.n_unique, 0) AS BIGINT) AS n_unique,
             |  coalesce(a.dedup_text, '') AS dedup_text
             |FROM toks t LEFT JOIN agg a ON t.doc_id = a.doc_id
             |ORDER BY t.doc_id""".stripMargin)),

    // ---- A41: group-wise OLS regression (price ~ quantity per return
    //      flag) — the ML-feature agg shape. Exact: integer cents as
    //      DECIMAL(18,0) (wide enough for any row value; products and
    //      sums widen toward DECIMAL(38,0) identically on both engines;
    //      one shuffle, partial aggregation), then the closed-form slope /
    //      intercept as fixed-order IEEE double arithmetic — identical
    //      bits on both engines, no rounding needed. --------------------
    Q("a41_group_ols",
      (s, dir) => {
        val li = t(s, dir, "lineitem").select(
          col("l_returnflag"),
          round(col("l_quantity") * 100).cast("decimal(18,0)").as("x"),
          round(col("l_extendedprice") * 100).cast("decimal(18,0)").as("y"))
        val g = li.groupBy("l_returnflag").agg(
          count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sx2"))
        val nd = col("n").cast("double")
        val sx = col("sx").cast("double"); val sy = col("sy").cast("double")
        val sxy = col("sxy").cast("double")
        val sx2 = col("sx2").cast("double")
        val slope = (nd * sxy - sx * sy) / (nd * sx2 - sx * sx)
        g.select(col("l_returnflag"), col("n"),
            slope.as("slope"),
            ((sy - slope * sx) / nd).as("intercept"))
          .orderBy("l_returnflag")
      },
      Some("""WITH c AS (
             |  SELECT l_returnflag,
             |    CAST(round(l_quantity * 100) AS DECIMAL(18,0)) AS x,
             |    CAST(round(l_extendedprice * 100) AS DECIMAL(18,0)) AS y
             |  FROM lineitem),
             |g AS (
             |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
             |    CAST(sum(x * y) AS DOUBLE) AS sxy,
             |    CAST(sum(x * x) AS DOUBLE) AS sx2
             |  FROM c GROUP BY 1)
             |SELECT l_returnflag, n,
             |  (n * sxy - sx * sy) / (n * sx2 - sx * sx) AS slope,
             |  (sy - (n * sxy - sx * sy) / (n * sx2 - sx * sx) * sx) / n
             |    AS intercept
             |FROM g ORDER BY l_returnflag""".stripMargin)),

    // ---- A44: boolean/conditional aggregate surface — count_if,
    //      bool_and/bool_or (SQL every/any), any_value made
    //      deterministic via min (any_value's contract is
    //      "implementation picks"; pin it for the oracle), plus
    //      count(DISTINCT CASE …) — the reporting shorthand family no
    //      other entry exercises. One hash-agg shuffle. ------------------
    Q("a44_bool_aggregates",
      (s, dir) => {
        t(s, dir, "orders").createOrReplaceTempView("g_orders")
        s.sql("""
          SELECT o_orderpriority,
            count_if(o_totalprice > 100000) AS n_big,
            bool_and(o_totalprice > 0) AS all_positive,
            bool_or(o_orderstatus = 'F') AS any_filled,
            min(o_orderstatus) AS first_status,
            count(DISTINCT CASE WHEN o_orderstatus = 'F'
              THEN o_custkey END) AS filled_custs
          FROM g_orders
          GROUP BY o_orderpriority ORDER BY o_orderpriority""")
      },
      Some("""SELECT o_orderpriority,
             |  CAST(count(CASE WHEN o_totalprice > 100000 THEN 1 END)
             |    AS BIGINT) AS n_big,
             |  bool_and(o_totalprice > 0) AS all_positive,
             |  bool_or(o_orderstatus = 'F') AS any_filled,
             |  min(o_orderstatus) AS first_status,
             |  CAST(count(DISTINCT CASE WHEN o_orderstatus = 'F'
             |    THEN o_custkey END) AS BIGINT) AS filled_custs
             |FROM orders
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // ---- A42: deterministic hash-stratified sample — exactly k rows per
    //      stratum, chosen by smallest md5 of the key: reproducible
    //      across runs/engines (the property a19's random sample can't
    //      give an oracle), and the at-scale sampling idiom (hash order
    //      is data-independent, no RNG state to coordinate). -------------
    Q("a42_hash_stratified_sample",
      (s, dir) => {
        val h = md5(col("o_orderkey").cast("string"))
        val w = Window.partitionBy("o_orderpriority")
          .orderBy(h.asc, col("o_orderkey").asc)
        t(s, dir, "orders")
          .withColumn("sample_hash", h)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("o_orderpriority"), col("rn").cast("long").as("rn"),
            col("o_orderkey"), col("sample_hash"))
          .orderBy("o_orderpriority", "rn")
      },
      Some("""SELECT o_orderpriority, rn, o_orderkey, sample_hash FROM (
             |  SELECT o_orderpriority, o_orderkey,
             |    md5(CAST(o_orderkey AS VARCHAR)) AS sample_hash,
             |    CAST(row_number() OVER (PARTITION BY o_orderpriority
             |      ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey)
             |      AS BIGINT) AS rn
             |  FROM orders)
             |WHERE rn <= 3
             |ORDER BY o_orderpriority, rn""".stripMargin)),

    // ---- T17: PII profile — per-type counts (emails / IPs / phones)
    //      with the same sequential semantics as t05's redaction, so the
    //      two surfaces can never disagree about what counts as PII.
    //      Injects one of each per doc (t05's fixture) so counts are
    //      non-trivial; pure regexp expressions, scan speed. -------------
    Q("t17_pii_profile",
      (s, dir) => {
        val injected = t(s, dir, "documents").select(col("doc_id"),
          concat(col("text"),
            lit(" contact user"), col("doc_id").cast("string"),
            lit("@mail.example.com or +1 555-01"),
            lpad(col("doc_id").cast("string"), 4, "0"),
            lit(" at 10.0."), (col("doc_id") % 256).cast("string"),
            lit(".7")).as("txt"))
        val (emails, ips, phones) = TextAnalysis.piiCounts(col("txt"))
        injected.select(col("doc_id"), emails.as("n_emails"),
            ips.as("n_ips"), phones.as("n_phones"))
          .orderBy("doc_id")
      },
      Some("""WITH inj AS (
             |  SELECT doc_id,
             |    text || ' contact user' || CAST(doc_id AS VARCHAR)
             |      || '@mail.example.com or +1 555-01'
             |      || lpad(CAST(doc_id AS VARCHAR), 4, '0')
             |      || ' at 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
             |      AS txt
             |  FROM documents),
             |steps AS (
             |  SELECT doc_id, txt,
             |    regexp_replace(txt,
             |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
             |      '<EMAIL>', 'g') AS after_email
             |  FROM inj),
             |steps2 AS (
             |  SELECT doc_id, txt, after_email,
             |    regexp_replace(after_email,
             |      '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS after_ip
             |  FROM steps)
             |SELECT doc_id,
             |  CAST(len(regexp_extract_all(txt,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
             |    AS BIGINT) AS n_emails,
             |  CAST(len(regexp_extract_all(after_email,
             |    '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ips,
             |  CAST(len(regexp_extract_all(after_ip,
             |    '\+?\d(?:[\- ]?\d){8,}')) AS BIGINT) AS n_phones
             |FROM steps2 ORDER BY doc_id""".stripMargin)),

    // ---- N9: leave-one-out k-NN label evaluation — per-label accuracy
    //      of 5-NN majority vote over the embedding table: the standard
    //      "are these embeddings any good" audit before they gate a
    //      dedup/curation run. Brute force is the point here (it is the
    //      exact reference an ANN index is judged against), but the
    //      PROBE side is a bounded eval sample (first 500 ids) so the
    //      cost is O(|probes|·N), never corpus-quadratic; probes
    //      broadcast, corpus never shuffles. Majority ties break to the
    //      smallest label; accuracy is one exact-int division —
    //      deterministic, no rounding. -----------------------------------
    Q("n09_knn_eval",
      (s, dir) => {
        val emb = tf(s, dir, "embeddings")
        val probes = emb.filter(col("vec_id") < 500)
        val nn = graft.llm.Similarity.bruteForceTopK(
          emb, probes, "vec_id", "embedding", 5)
        val votes = nn
          .join(emb.select(col("vec_id").as("neighbor_id"),
            col("label").as("nl")), "neighbor_id")
          .groupBy("query_id", "nl").agg(count(lit(1)).as("votes"))
        val w = Window.partitionBy("query_id")
          .orderBy(col("votes").desc, col("nl").asc)
        val pred = votes.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("query_id").as("vec_id"), col("nl").as("pred"))
        emb.select("vec_id", "label").join(pred, "vec_id")
          .groupBy("label").agg(count(lit(1)).as("n"),
            sum((col("pred") === col("label")).cast("long")).as("correct"))
          .withColumn("acc",
            col("correct").cast("double") / col("n").cast("double"))
          .orderBy("label")
      },
      Some("""WITH scored AS (
             |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |    c.label AS nl,
             |    CASE WHEN list_dot_product(q.embedding::DOUBLE[],
             |        q.embedding::DOUBLE[]) = 0
             |      OR list_dot_product(c.embedding::DOUBLE[],
             |        c.embedding::DOUBLE[]) = 0 THEN 0.0
             |    ELSE list_cosine_similarity(q.embedding::DOUBLE[],
             |      c.embedding::DOUBLE[]) END AS sim
             |  FROM (SELECT * FROM embeddings WHERE vec_id < 500) q
             |  JOIN embeddings c ON c.vec_id <> q.vec_id),
             |nn AS (
             |  SELECT query_id, nl FROM (
             |    SELECT query_id, nl,
             |      row_number() OVER (PARTITION BY query_id
             |        ORDER BY sim DESC, neighbor_id) AS rank
             |    FROM scored) WHERE rank <= 5),
             |votes AS (
             |  SELECT query_id, nl, count(*) AS votes
             |  FROM nn GROUP BY 1, 2),
             |pred AS (
             |  SELECT query_id AS vec_id, nl AS pred FROM (
             |    SELECT query_id, nl,
             |      row_number() OVER (PARTITION BY query_id
             |        ORDER BY votes DESC, nl) AS rn
             |    FROM votes) WHERE rn = 1)
             |SELECT e.label, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CASE WHEN p.pred = e.label THEN 1 ELSE 0 END)
             |    AS BIGINT) AS correct,
             |  CAST(sum(CASE WHEN p.pred = e.label THEN 1 ELSE 0 END)
             |    AS DOUBLE) / CAST(count(*) AS DOUBLE) AS acc
             |FROM embeddings e JOIN pred p ON p.vec_id = e.vec_id
             |GROUP BY e.label ORDER BY e.label""".stripMargin)),

    // ---- X31: gaps & islands — runs of consecutive active days per
    //      user (the classic sessionization-on-dates SQL shape, absent
    //      elsewhere in the registry). day − row_number(day) is constant
    //      within an island: one distinct + one window + one groupBy,
    //      all partitioned by user — scales by key. Dates out as ISO
    //      strings per the oracle-parity convention. --------------------
    Q("x31_gaps_islands",
      (s, dir) => {
        val days = events(s, dir)
          .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        val w = Window.partitionBy("user_id").orderBy("day")
        days
          .withColumn("grp",
            datediff(col("day"), lit("1970-01-01").cast("date")) -
              row_number().over(w))
          .groupBy(col("user_id"), col("grp"))
          .agg(date_format(min(col("day")), "yyyy-MM-dd").as("island_start"),
            date_format(max(col("day")), "yyyy-MM-dd").as("island_end"),
            count(lit(1)).as("days"))
          .select("user_id", "island_start", "island_end", "days")
          .orderBy("user_id", "island_start")
      },
      Some("""WITH days AS (
             |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
             |  FROM events),
             |g AS (
             |  SELECT user_id, day,
             |    CAST(day - DATE '1970-01-01' AS BIGINT)
             |      - row_number() OVER (PARTITION BY user_id
             |                           ORDER BY day) AS grp
             |  FROM days)
             |SELECT user_id,
             |  CAST(min(day) AS VARCHAR) AS island_start,
             |  CAST(max(day) AS VARCHAR) AS island_end,
             |  count(*) AS days
             |FROM g GROUP BY user_id, grp
             |ORDER BY user_id, island_start""".stripMargin)),

    // ---- T16: Zipf-law fit of the corpus vocabulary — OLS of ln(freq)
    //      on ln(rank) over the top-100 words: the standard heavy-tail
    //      sanity check on a training corpus (a natural corpus fits
    //      slope ≈ −1). Determinism: each ln term is rounded to 9 dp and
    //      summed as DECIMAL (order-independent exact sums), then the
    //      closed form in fixed-order IEEE doubles. ---------------------
    Q("t16_zipf_fit",
      (s, dir) => {
        val freq = t(s, dir, "documents")
          .select(explode(TextAnalysis.tokens(lower(col("text"))))
            .as("word"))
          .groupBy("word").agg(count(lit(1)).as("freq"))
        // orderBy+limit compiles to TakeOrderedAndProject (distributed
        // per-partition top-k, no single-task sort of the whole
        // vocabulary — 10⁷–10⁸ rows at 100 TB); the rank window then
        // runs over just the 100 survivors. Same o01 pattern.
        val ranked = freq
          .orderBy(col("freq").desc, col("word").asc).limit(100)
          .withColumn("rank", row_number().over(
            Window.orderBy(col("freq").desc, col("word").asc)))
        val terms = ranked.select(
          round(log(col("rank").cast("double")), 9)
            .cast("decimal(12,9)").as("x"),
          round(log(col("freq").cast("double")), 9)
            .cast("decimal(12,9)").as("y"))
        val g = terms.agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sx2"))
        val nd = col("n").cast("double")
        val sx = col("sx").cast("double"); val sy = col("sy").cast("double")
        val slope = (nd * col("sxy").cast("double") - sx * sy) /
          (nd * col("sx2").cast("double") - sx * sx)
        g.select(col("n"), round(slope, 9).as("zipf_slope"),
          round((sy - slope * sx) / nd, 9).as("zipf_intercept"))
      },
      Some(s"""WITH freq AS (
             |  SELECT w AS word, count(*) AS freq FROM (
             |    SELECT unnest(${tokensSql("lower(text)")}) AS w
             |    FROM documents)
             |  GROUP BY 1),
             |ranked AS (
             |  SELECT freq, row_number() OVER (ORDER BY freq DESC, word)
             |    AS rank
             |  FROM freq QUALIFY rank <= 100),
             |terms AS (
             |  SELECT
             |    CAST(round(ln(CAST(rank AS DOUBLE)), 9)
             |      AS DECIMAL(12,9)) AS x,
             |    CAST(round(ln(CAST(freq AS DOUBLE)), 9)
             |      AS DECIMAL(12,9)) AS y
             |  FROM ranked),
             |g AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
             |    CAST(sum(x * y) AS DOUBLE) AS sxy,
             |    CAST(sum(x * x) AS DOUBLE) AS sx2
             |  FROM terms)
             |SELECT n,
             |  round((n * sxy - sx * sy) / (n * sx2 - sx * sx), 9)
             |    AS zipf_slope,
             |  round((sy - (n * sxy - sx * sy) / (n * sx2 - sx * sx) * sx)
             |    / n, 9) AS zipf_intercept
             |FROM g""".stripMargin)),

    // ---- A43: PERCENTILE_CONT … WITHIN GROUP — the interpolating
    //      ordered-set aggregate (a40 pins the discrete one). Quartiles
    //      of integer cents interpolate with frac ∈ {.25,.5,.75}: the
    //      products scale by powers of two, so lo + frac·(hi−lo) is
    //      EXACT in IEEE for either engine's algebraic form — bit-exact
    //      with no rounding. -----------------------------------------------
    Q("a43_percentile_cont",
      (s, dir) => {
        t(s, dir, "orders").createOrReplaceTempView("g_orders")
        s.sql("""
          SELECT o_orderpriority,
            percentile_cont(0.25) WITHIN GROUP (ORDER BY cents) AS p25,
            percentile_cont(0.5)  WITHIN GROUP (ORDER BY cents) AS p50,
            percentile_cont(0.75) WITHIN GROUP (ORDER BY cents) AS p75,
            count(*) AS n
          FROM (SELECT o_orderpriority,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
                FROM g_orders)
          GROUP BY o_orderpriority ORDER BY o_orderpriority""")
      },
      Some("""SELECT o_orderpriority,
             |  quantile_cont(cents, 0.25) AS p25,
             |  quantile_cont(cents, 0.5)  AS p50,
             |  quantile_cont(cents, 0.75) AS p75,
             |  count(*) AS n
             |FROM (SELECT o_orderpriority,
             |        CAST(round(o_totalprice * 100) AS BIGINT) AS cents
             |      FROM orders)
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // ---- W22: time-interval RANGE frame through the SQL parser —
    //      trailing 1-hour count + exact-cents sum per user, ordered by
    //      the raw timestamp with an INTERVAL frame bound (a01–a03 pin
    //      rangeBetween over cast longs via the DataFrame API; nothing
    //      else exercises calendar-interval frames in SQL). RANGE
    //      includes ts peers identically in both engines; one sort
    //      shuffle partitioned by user. ----------------------------------
    Q("w22_interval_range_frame",
      (s, dir) => {
        events(s, dir).createOrReplaceTempView("g_events")
        s.sql("""
          SELECT user_id, event_id, unix_micros(ts) AS us,
            count(*) OVER w AS n_1h,
            sum(cents) OVER w AS cents_1h
          FROM (SELECT user_id, event_id, ts,
                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                    AS cents
                FROM g_events)
          WINDOW w AS (PARTITION BY user_id ORDER BY ts
            RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
          ORDER BY user_id, us, event_id""")
      },
      Some("""SELECT user_id, event_id, epoch_us(ts) AS us,
             |  count(*) OVER w AS n_1h,
             |  CAST(sum(cents) OVER w AS BIGINT) AS cents_1h
             |FROM (SELECT user_id, event_id, ts,
             |        CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
             |          AS cents
             |      FROM events)
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts
             |  RANGE BETWEEN INTERVAL '1 hour' PRECEDING AND CURRENT ROW)
             |ORDER BY user_id, us, event_id""".stripMargin)),

    // ---- W23: DYNAMIC-gap session windows — `session_window` with a
    //      per-event gap expression (purchases hold a session open 30
    //      minutes, everything else 10): the Spark session operator's
    //      full form, which w07's fixed gap never exercises. The oracle
    //      replays the interval-union semantics directly: an event opens
    //      a new session iff its time ≥ the running max of prior
    //      (event + its own gap) ends; session end = max(event+gap).
    //      One sort shuffle per user — the same shape at any scale. ------
    Q("w23_dynamic_session_window",
      (s, dir) => {
        // session_window's gap must be CalendarIntervalType: ANSI
        // interval literals (DayTimeIntervalType) are rejected, so build
        // the gaps with make_interval
        val gap = when(col("event_type") === "purchase",
          expr("make_interval(0, 0, 0, 0, 0, 30, 0)"))
          .otherwise(expr("make_interval(0, 0, 0, 0, 0, 10, 0)"))
        events(s, dir)
          .withColumn("cents",
            (col("value").cast("decimal(18,2)") * 100).cast("long"))
          .groupBy(col("user_id"), session_window(col("ts"), gap))
          .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("cents"))
          .select(col("user_id"),
            unix_micros(col("session_window.start")).as("s_us"),
            unix_micros(col("session_window.end")).as("e_us"),
            col("n_events"), col("cents"))
          .orderBy("user_id", "s_us")
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_id, epoch_us(ts) AS us,
             |    CASE WHEN event_type = 'purchase' THEN 1800000000
             |         ELSE 600000000 END AS gap_us,
             |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
             |      AS cents
             |  FROM events),
             |o AS (
             |  SELECT *, max(us + gap_us) OVER (PARTITION BY user_id
             |      ORDER BY us, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |    AS max_end
             |  FROM e),
             |f AS (
             |  SELECT *, CASE WHEN max_end IS NULL OR us >= max_end
             |    THEN 1 ELSE 0 END AS new_s FROM o),
             |s AS (
             |  SELECT *, sum(new_s) OVER (PARTITION BY user_id
             |      ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM f)
             |SELECT user_id, min(us) AS s_us,
             |  CAST(max(us + gap_us) AS BIGINT) AS e_us,
             |  count(*) AS n_events, CAST(sum(cents) AS BIGINT) AS cents
             |FROM s GROUP BY user_id, sid
             |ORDER BY user_id, s_us""".stripMargin)),

    // ---- M11: scene-cut detection THROUGH the real video decode —
    //      per-frame luminance sums from the actual AVI container walk +
    //      ImageIO decode (m05's path), then consecutive-frame absolute
    //      delta with a threshold: the standard cheap shot-boundary
    //      signal. The synthetic frames advance 7 gray levels per frame
    //      with mod-256 wraps, so deltas take several distinct values
    //      and the cut label is non-trivial; all integers — the oracle
    //      replays the decode analytically, bit-for-bit. -----------------
    Q("m11_scene_cuts",
      (s, dir) => {
        val ids = t(s, dir, "documents")
          .select(col("doc_id").cast("long").as("id"))
          .filter(col("id") < 150)
        Multimodal.sceneCuts(Multimodal.decodeVideoFrames(
            Multimodal.withSyntheticVideos(ids, "id", frames = 6), "id"))
          .select(col("id").as("doc_id"),
            col("frame_idx").cast("long").as("frame_idx"), col("delta"),
            col("is_cut"))
          .orderBy("doc_id", "frame_idx")
      },
      Some(s"""WITH ${Multimodal.sceneCutsOracleCtes(150)}
             |SELECT CAST(doc_id AS BIGINT) AS doc_id,
             |  CAST(frame_idx AS BIGINT) AS frame_idx,
             |  CAST(delta AS BIGINT) AS delta,
             |  CAST(delta > 300 AS INT) AS is_cut
             |FROM d2 WHERE delta IS NOT NULL
             |ORDER BY doc_id, frame_idx""".stripMargin)),

    // ---- X33: linear interpolation of time-series gaps — per-user
    //      daily spend on the full per-user calendar spine, missing
    //      interior days filled as pv + (nv−pv)·(Δd/Δn) between the
    //      nearest known neighbors (a22's forward-fill is the step-
    //      function sibling). Spine endpoints always have values (the
    //      span comes from the data), so neighbors never miss. Exact
    //      integer inputs into one fixed-order IEEE expression →
    //      bit-identical across engines. One sort shuffle per window
    //      direction, spine bounded by the observed span. ----------------
    Q("x33_linear_interpolate",
      (s, dir) => {
        val daily = events(s, dir)
          .select(col("user_id"), to_date(col("ts")).as("day"),
            (col("value").cast("decimal(18,2)") * 100)
              .cast("long").as("cents"))
          .groupBy("user_id", "day").agg(sum(col("cents")).as("cents"))
        val spine = daily.groupBy("user_id")
          .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
          .select(col("user_id"),
            explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
        val j = spine.join(daily, Seq("user_id", "day"), "left")
        val wp = Window.partitionBy("user_id").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wn = Window.partitionBy("user_id").orderBy("day")
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        val knownDay = when(col("cents").isNotNull, col("day"))
        j.withColumn("pd", last(knownDay, ignoreNulls = true).over(wp))
          .withColumn("pv", last(col("cents"), ignoreNulls = true).over(wp))
          .withColumn("nd", first(knownDay, ignoreNulls = true).over(wn))
          .withColumn("nv", first(col("cents"), ignoreNulls = true).over(wn))
          .select(col("user_id"),
            date_format(col("day"), "yyyy-MM-dd").as("day"),
            when(col("cents").isNotNull, col("cents").cast("double"))
              .otherwise(col("pv").cast("double") +
                (col("nv") - col("pv")).cast("double") *
                  (datediff(col("day"), col("pd")).cast("double") /
                    datediff(col("nd"), col("pd")).cast("double")))
              .as("filled_cents"),
            col("cents").isNull.cast("int").as("is_interpolated"))
          .orderBy("user_id", "day")
      },
      Some("""WITH daily AS (
             |  SELECT user_id, CAST(ts AS DATE) AS day,
             |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100
             |      AS BIGINT)) AS BIGINT) AS cents
             |  FROM events GROUP BY 1, 2),
             |span AS (
             |  SELECT user_id, min(day) AS d0, max(day) AS d1
             |  FROM daily GROUP BY 1),
             |spine AS (
             |  SELECT user_id,
             |    CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
             |      AS DATE) AS day
             |  FROM span),
             |j AS (
             |  SELECT s.user_id, s.day, d.cents
             |  FROM spine s LEFT JOIN daily d USING (user_id, day)),
             |f AS (
             |  SELECT user_id, day, cents,
             |    last_value(CASE WHEN cents IS NOT NULL THEN day END
             |      IGNORE NULLS) OVER wp AS pd,
             |    last_value(cents IGNORE NULLS) OVER wp AS pv,
             |    first_value(CASE WHEN cents IS NOT NULL THEN day END
             |      IGNORE NULLS) OVER wn AS nd,
             |    first_value(cents IGNORE NULLS) OVER wn AS nv
             |  FROM j
             |  WINDOW wp AS (PARTITION BY user_id ORDER BY day
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             |    wn AS (PARTITION BY user_id ORDER BY day
             |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
             |SELECT user_id, CAST(day AS VARCHAR) AS day,
             |  CASE WHEN cents IS NOT NULL THEN CAST(cents AS DOUBLE)
             |    ELSE CAST(pv AS DOUBLE) + CAST(nv - pv AS DOUBLE) *
             |      (CAST(day - pd AS DOUBLE) / CAST(nd - pd AS DOUBLE))
             |  END AS filled_cents,
             |  CAST(cents IS NULL AS INT) AS is_interpolated
             |FROM f ORDER BY user_id, day""".stripMargin)),

    // ---- M10: EXACT windowed audio energy over the REAL WAV decode —
    //      synthesize deterministic PCM per doc, walk the RIFF container,
    //      and emit per-window Σ amplitude² as BIGINT. The oracle
    //      recomputes the same integers analytically from the synth
    //      formula: the decode chain hash-matches bit-for-bit, which the
    //      float RMS of m07 can never do across engines. ----------------
    Q("m10_audio_energy",
      (s, dir) => {
        val ids = t(s, dir, "documents")
          .select(col("doc_id").cast("long").as("id"))
          .filter(col("id") < 200)
        Multimodal.audioWindowEnergy(
            Multimodal.withSyntheticAudio(ids, "id"), "id", windows = 10)
          .select(col("id").as("doc_id"), col("win"), col("energy"))
          .orderBy("doc_id", "win")
      },
      Some("""SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
             |  CAST(i // 100 AS INT) AS win,
             |  CAST(sum(((d.doc_id * 31 + i * 7) % 65536 - 32768)
             |           * ((d.doc_id * 31 + i * 7) % 65536 - 32768))
             |    AS BIGINT) AS energy
             |FROM documents d, range(1000) t(i)
             |WHERE d.doc_id < 200
             |GROUP BY 1, 2 ORDER BY doc_id, win""".stripMargin)),

    // ---- W24: top-3 orders per customer as `row_number() <= 3`, which
    //      Spark plans natively (InferWindowGroupLimit): a partial
    //      WindowGroupLimit prunes each map partition to <=3 rows per
    //      customer BEFORE the exchange, so at 100 TB the shuffle carries
    //      ~|customers|*k rows instead of the fact table, and a final
    //      WindowGroupLimit above it. Total order (price desc, orderkey
    //      asc) => deterministic, oracle-exact. ------------------------
    Q("w24_native_topk",
      (s, dir) => t(s, dir, "orders")
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rn", row_number().over(Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))))
        .filter(col("rn") <= 3).drop("rn")
        .orderBy("o_custkey", "o_orderkey"),
      Some("""SELECT o_custkey, o_orderkey, o_totalprice FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |    row_number() OVER (PARTITION BY o_custkey
             |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
             |  FROM orders)
             |WHERE rn <= 3 ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // ---- G1: integer-exact PageRank (graph/PageRank.scala), 5 rounds
    //      over the user-transition graph (consecutive users within an
    //      event_type stream). Scaled fixed-point => the DuckDB CTE
    //      unroll replays every rank bit-for-bit — a float PageRank can
    //      never hash-match across engines. Unlike CC there is no
    //      driver sync per round; the edge relation is partitioned by
    //      src once and only the small rank table re-shuffles. ---------
    Q("g01_pagerank",
      (s, dir) => graft.graph.PageRank.ranksInt(
          Registry.transitionEdges(s, dir), iters = 5).orderBy("id"),
      Some(graft.graph.PageRank.oracleSql(Registry.transitionEdgesSql,
        iters = 5)))) ++ Seq(

    // ---- D21: per-domain document caps (RefinedWeb-style URL/domain
    //      frequency policy): keep at most 10 docs per source, chosen by
    //      portable md5 priority (an unbiased sample, not id-order bias).
    //      The `row_number() <= 10` window plans a partial
    //      WindowGroupLimit, so at 100 TB each map partition is pruned to
    //      <=10 rows per domain before anything shuffles. --------------
    Q("d21_domain_cap",
      (s, dir) => t(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          md5(concat(lit("cap:"), col("doc_id").cast("string"))).as("pri"))
        .withColumn("rn", row_number().over(Window.partitionBy("source")
          .orderBy(col("pri"), col("doc_id"))))
        .filter(col("rn") <= 10)
        .select("source", "doc_id").orderBy("source", "doc_id"),
      Some("""SELECT source, doc_id FROM (
             |  SELECT source, doc_id,
             |    row_number() OVER (PARTITION BY source
             |      ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)), doc_id)
             |      AS rn
             |  FROM documents)
             |WHERE rn <= 10 ORDER BY source, doc_id""".stripMargin)),

    // ---- D22: CCNet-style SUB-document dedup (llm/Dedup.segmentDedup):
    //      every 10-word segment duplicated anywhere in the corpus is cut
    //      from all but its first occurrence and documents are rebuilt —
    //      the content-rewrite dedup the doc-level gates (d01/d02) and
    //      pair finders (d04/d06) don't do. Segments shuffle as md5
    //      digests, never text. Exact oracle replays the whole rewrite. -
    Q("d22_segment_dedup",
      (s, dir) => graft.llm.Dedup.segmentDedup(
          t(s, dir, "documents"), "text", "doc_id")
        .withColumnRenamed("id", "doc_id").orderBy("doc_id"),
      Some("""WITH segs AS (
             |  SELECT d.doc_id AS id, t.i AS seg_idx,
             |    array_to_string(d.words[t.i*10+1:(t.i+1)*10], ' ') AS seg
             |  FROM (SELECT doc_id, string_split(text, ' ') AS words
             |        FROM documents) d,
             |    LATERAL (SELECT unnest(range((len(d.words) + 9) // 10)) AS i) t),
             |kept AS (
             |  SELECT id, seg_idx, seg FROM (
             |    SELECT id, seg_idx, seg,
             |      row_number() OVER (PARTITION BY md5(seg)
             |                         ORDER BY id, seg_idx) AS rn
             |    FROM segs) WHERE rn = 1),
             |agg AS (
             |  SELECT id, string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text,
             |    count(*) AS n_kept
             |  FROM kept GROUP BY id)
             |SELECT d.doc_id, COALESCE(a.clean_text, '') AS clean_text,
             |  CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept
             |FROM documents d LEFT JOIN agg a ON a.id = d.doc_id
             |ORDER BY doc_id""".stripMargin)),

    // ---- N10: per-label centroid + cosine-to-centroid ranking, EXACT:
    //      embeddings quantize to round(1e6·x) BIGINT, centroids are
    //      integer mean (sum div n) per dimension, dot/norms are integer
    //      sums — so the only floats are one row-wise sqrt/divide at the
    //      end, identical on any engine. Top-5 per label by
    //      `row_number() <= 5` (a partial WindowGroupLimit below the
    //      exchange). (The float-mean version of this can never
    //      hash-match: summation order.) --------------------------------
    Q("n10_centroid_cosine",
      (s, dir) => {
        val sim = graft.llm.Similarity
        val q = t(s, dir, "embeddings")
          .select(col("vec_id"), col("label"),
            posexplode(sim.quantized(col("embedding"))).as(Seq("pos", "qe")))
        val cent = q.groupBy("label", "pos")
          .agg(sum("qe").as("sq"), count(lit(1)).as("n"))
          .select(col("label"), col("pos"), expr("sq div n").as("cq"))
        val scored = q.join(cent, Seq("label", "pos"))
          .groupBy("vec_id", "label")
          .agg(sum(expr("qe * cq")).as("dot"),
            sum(expr("qe * qe")).as("n2v"),
            sum(expr("cq * cq")).as("n2c"))
          .withColumn("cos", expr(sim.cosSql("dot", "n2v", "n2c")))
        scored.select(col("label").cast("int").as("label"),
            col("vec_id"), col("cos"))
          .withColumn("rn", row_number().over(Window.partitionBy("label")
            .orderBy(col("cos").desc, col("vec_id"))))
          .filter(col("rn") <= 5).drop("rn")
          .orderBy("label", "vec_id")
      },
      Some(s"""WITH ${graft.llm.Similarity.qeSql("embeddings", "vec_id",
                "embedding", extra = " emb.label AS label,")},
             |cent AS (
             |  SELECT label, pos, CAST(sum(qe) AS BIGINT) // count(*) AS cq
             |  FROM qe GROUP BY label, pos),
             |sc AS (
             |  SELECT q.id AS vec_id, q.label,
             |    ${graft.llm.Similarity.dotNormsSql("q.qe", "c.cq")}
             |  FROM qe q JOIN cent c ON c.label = q.label AND c.pos = q.pos
             |  GROUP BY 1, 2),
             |r AS (
             |  SELECT label, vec_id,
             |    ${graft.llm.Similarity.cosSql("dot", "n2a", "n2b")} AS cos
             |  FROM sc)
             |SELECT CAST(label AS INT) AS label, vec_id, cos FROM (
             |  SELECT label, vec_id, cos,
             |    row_number() OVER (PARTITION BY label
             |                       ORDER BY cos DESC, vec_id) AS rn
             |  FROM r)
             |WHERE rn <= 5 ORDER BY label, vec_id""".stripMargin)),

    // ---- G2: PERSONALIZED PageRank — teleport mass restricted to a
    //      seed set (even user ids): non-seeds earn rank only via
    //      proximity to seeds, the standard recommendation/relatedness
    //      ranking. Same integer-exact machinery and one-lazy-plan
    //      shape as g01, so the oracle replays it bit-for-bit. ---------
    Q("g02_personalized_pagerank",
      (s, dir) => graft.graph.PageRank.ranksInt(
          Registry.transitionEdges(s, dir), iters = 5,
          seeds = Some(col("id") % 2 === 0))
        .orderBy("id"),
      Some(graft.graph.PageRank.oracleSql(Registry.transitionEdgesSql,
        iters = 5, seedPred = Some("id % 2 = 0")))),

    // ---- T19: bigram-LM quality scoring (llm/TextAnalysis
    //      .bigramLmScores) — a REAL conditional language model with
    //      add-one smoothing, trained and applied in the same plan, and
    //      hash-exact: integer counts, one exact division per bigram,
    //      ln rounded to 9 digits, DECIMAL sum. The perplexity-style
    //      filter LLM pipelines threshold on (gibberish scores low). --
    Q("t19_bigram_lm",
      (s, dir) => graft.llm.TextAnalysis.bigramLmScores(
          t(s, dir, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id").orderBy("doc_id"),
      Some(s"""WITH toks AS (
             |  SELECT doc_id AS id, ${tokensSql("lower(text)")} AS ws
             |  FROM documents),
             |bg AS (
             |  SELECT id, ws[t.i + 1] AS w1, ws[t.i + 2] AS w2
             |  FROM toks,
             |    LATERAL (SELECT unnest(range(len(ws) - 1)) AS i) t),
             |stats AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY 1, 2),
             |firsts AS (SELECT w1, count(*) AS cu FROM bg GROUP BY 1),
             |vocab AS (
             |  SELECT count(DISTINCT w) AS v FROM (
             |    SELECT unnest(ws) AS w FROM toks)),
             |sc AS (
             |  SELECT bg.id, CAST(round(ln(
             |      CAST(st.cb + 1 AS DOUBLE) / CAST(f.cu + vocab.v AS DOUBLE)),
             |      9) AS DECIMAL(12,9)) AS lp
             |  FROM bg
             |  JOIN stats st ON st.w1 = bg.w1 AND st.w2 = bg.w2
             |  JOIN firsts f ON f.w1 = bg.w1
             |  CROSS JOIN vocab),
             |agg AS (
             |  SELECT id, count(*) AS n_bigrams,
             |    round(CAST(sum(lp) AS DOUBLE) / count(*), 9) AS avg_logp
             |  FROM sc GROUP BY id)
             |SELECT d.doc_id, CAST(COALESCE(a.n_bigrams, 0) AS BIGINT)
             |    AS n_bigrams,
             |  a.avg_logp
             |FROM documents d LEFT JOIN agg a ON a.id = d.doc_id
             |ORDER BY doc_id""".stripMargin)),

    // ---- L11: curriculum ordering — the training-order policy between
    //      l08 (epoch repeat) and o08 (flat shuffle): docs grouped into
    //      quality phases (integer gate count, no float thresholds),
    //      highest-quality phase first, portable-hash shuffle WITHIN each
    //      phase. Emitting (phase, pri) sort keys and range-sorting makes
    //      this a file-layout operation at 100 TB — no global window,
    //      no single-node sort. ----------------------------------------
    Q("l11_curriculum",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          graft.llm.TextAnalysis.qualityPhase(col("text")).as("phase"),
          expr("(doc_id % 100000) * 2654435761 % 100000").as("pri"))
        .orderBy(col("phase").desc, col("pri"), col("doc_id")),
      Some(s"""WITH r AS (
             |  SELECT doc_id, ${qualityFeaturesSql("text")}
             |  FROM documents)
             |SELECT doc_id, $qualityPhaseSql AS phase,
             |  (doc_id % 100000) * 2654435761 % 100000 AS pri
             |FROM r ORDER BY phase DESC, pri, doc_id""".stripMargin)),

    // ---- G3: exact triangle counting with DEGREE ORIENTATION over the
    //      user co-occurrence graph — the wedge join's intermediate is
    //      bounded O(m^1.5) total regardless of degree skew (edges
    //      orient low→high (deg, id), so a celebrity node's d² wedges
    //      never materialize). All integer counts; the oracle replays
    //      the same orientation with SQL row-value comparisons. --------
    Q("g03_triangles",
      (s, dir) => graft.graph.Triangles.count(
        Registry.transitionEdges(s, dir)),
      Some(graft.graph.Triangles.oracleSql(Registry.transitionEdgesSql))),

    // ---- G4: deterministic synchronous label propagation (community
    //      detection) — 3 rounds, most-frequent neighbor label, ties to
    //      the smallest label, so the result is a pure function of the
    //      graph (async LPA's run-order dependence would be useless in a
    //      reproducible pipeline). Message relation partitioned once;
    //      each round is count + argmax-by-struct-min, no window, no
    //      driver action. ----------------------------------------------
    Q("g04_label_propagation",
      (s, dir) => graft.graph.LabelPropagation.labels(
          Registry.transitionEdges(s, dir), iters = 3).orderBy("id"),
      Some(graft.graph.LabelPropagation.oracleSql(
        Registry.transitionEdgesSql, iters = 3))),

    // ---- G5: seeded BFS / shortest-hop distances (graph/Bfs.scala) —
    //      "within k hops of a trusted seed set" curation, the graph
    //      analog of d10's decontamination. 4 rounds of integer
    //      Bellman-Ford relaxation over the user-transition graph from
    //      seeds user_id % 37 = 0; pure hop-count arithmetic with an
    //      unreached sentinel => the CTE unroll replays it bit-exactly.
    //      Edges partition once; each round shuffles only the reached
    //      distance rows. ----------------------------------------------
    Q("g05_bfs_distances",
      (s, dir) => graft.graph.Bfs.distances(
          Registry.transitionEdges(s, dir), col("id") % 37 === 0,
          maxHops = 4)
        .orderBy("id"),
      Some(graft.graph.Bfs.oracleSql(Registry.transitionEdgesSql,
        seedPred = "id % 37 = 0", maxHops = 4))),

    // ---- W25: CHAINED window aggregation — `window(window_time(w))`
    //      (Spark 3.4+ surface): hourly counts roll up into 6-hour
    //      buckets from the hourly AGGREGATES, never rescanning raw
    //      events — the batch shape of multi-resolution streaming
    //      rollups. n_hours pins that the outer agg really consumed
    //      hourly rows; the lossless-rollup property is proven by the
    //      oracle computing the 6h totals DIRECTLY from raw events. ----
    Q("w25_chained_windows",
      (s, dir) => {
        val hourly = events(s, dir)
          .groupBy(col("event_type"),
            window(col("ts"), "1 hour").as("w"))
          .agg(count(lit(1)).as("c1"))
        hourly
          .groupBy(col("event_type"),
            window(window_time(col("w")), "6 hours").as("w6"))
          .agg(sum(col("c1")).as("n_events"),
            count(lit(1)).as("n_hours"))
          .select(col("event_type"),
            date_format(col("w6.start"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
            col("n_events"), col("n_hours"))
          .orderBy("event_type", "bucket")
      },
      // NB DuckDB `//` is floor division only for INTEGER operands —
      // epoch() returns DOUBLE, so cast first or `//` silently becomes
      // plain division
      Some("""SELECT event_type,
             |  strftime(to_timestamp(
             |    (CAST(epoch(ts) AS BIGINT) // 21600) * 21600),
             |    '%Y-%m-%d %H:%M:%S') AS bucket,
             |  count(*) AS n_events,
             |  CAST(count(DISTINCT CAST(epoch(ts) AS BIGINT) // 3600)
             |    AS BIGINT) AS n_hours
             |FROM events
             |GROUP BY 1, 2 ORDER BY event_type, bucket""".stripMargin)),

    // ---- N11: per-label embedding COVARIANCE (upper triangle) — the
    //      distribution-statistics layer above n10's centroids (drift
    //      detection, whitening prep, PCA input). Vectors quantize to
    //      round(1e3·x) BIGINT; each contributes its d(d+1)/2 outer-
    //      product terms once via a pos_a<=pos_b self-join co-located on
    //      vec_id (no shuffle between the two sides), and the covariance
    //      NUMERATOR n·Σxy − Σx·Σy stays in exact integers end to end —
    //      zero float anywhere, so the oracle hash-matches trivially.
    //      Cost is bounded d²·|vecs|, the dense-covariance lower bound
    //      (for d in the thousands you'd block or sketch instead). -----
    Q("n11_embed_covariance",
      (s, dir) => {
        val q = tf(s, dir, "embeddings")
          .select(col("vec_id"), col("label").cast("int").as("label"),
            posexplode(col("embedding")).as(Seq("pos", "e")))
          .select(col("vec_id"), col("label"), col("pos"),
            expr("CAST(round(CAST(e AS DOUBLE) * 1000) AS BIGINT)").as("qe"))
        val a = q.as("a"); val b = q.as("b")
        a.join(b, col("a.vec_id") === col("b.vec_id") &&
            col("a.pos") <= col("b.pos"))
          .groupBy(col("a.label").as("label"), col("a.pos").as("pos_a"),
            col("b.pos").as("pos_b"))
          .agg(count(lit(1)).as("n"),
            sum(expr("a.qe * b.qe")).as("sxy"),
            sum(col("a.qe")).as("sx"), sum(col("b.qe")).as("sy"))
          .select(col("label"), col("pos_a"), col("pos_b"), col("n"),
            (col("n") * col("sxy") - col("sx") * col("sy")).as("cov_num"))
          .orderBy("label", "pos_a", "pos_b")
      },
      Some("""WITH q AS (
             |  SELECT emb.vec_id, CAST(emb.label AS INT) AS label,
             |    CAST(t.i AS INT) AS pos,
             |    CAST(round(CAST(emb.embedding[t.i + 1] AS DOUBLE) * 1000)
             |      AS BIGINT) AS qe
             |  FROM embeddings emb,
             |    LATERAL (SELECT unnest(range(len(emb.embedding))) AS i) t)
             |SELECT a.label, a.pos AS pos_a, b.pos AS pos_b,
             |  count(*) AS n,
             |  CAST(count(*) * CAST(sum(a.qe * b.qe) AS BIGINT)
             |    - CAST(sum(a.qe) AS BIGINT) * CAST(sum(b.qe) AS BIGINT)
             |    AS BIGINT) AS cov_num
             |FROM q a JOIN q b
             |  ON a.vec_id = b.vec_id AND a.pos <= b.pos
             |GROUP BY 1, 2, 3 ORDER BY a.label, pos_a, pos_b""".stripMargin)),

    // ---- X32: SQL UNPIVOT clause (x30's inverse — p05 pins only the
    //      DataFrame melt): four lineitem measures fold into
    //      (measure, value) rows THROUGH THE PARSER, then aggregate to
    //      exact integer cents per measure. Wide→long without 4 scans:
    //      one pass, the UNPIVOT generator fans out in the scan
    //      projection. INCLUDE NULLS pins the oracle equivalence: the
    //      UNION-ALL oracle counts every source row per measure, and
    //      UNPIVOT's default EXCLUDE NULLS would silently drop
    //      null-measure rows (diverging in n) if a measure were ever
    //      nullable — with INCLUDE NULLS both engines emit one row per
    //      (row, measure) and both sums skip nulls. ---------------------
    Q("x32_sql_unpivot",
      (s, dir) => {
        t(s, dir, "lineitem").createOrReplaceTempView("g_lineitem")
        s.sql("""
          SELECT measure,
            CAST(sum(CAST(round(val * 100) AS BIGINT)) AS BIGINT) AS cents,
            count(*) AS n
          FROM (SELECT l_quantity, l_extendedprice, l_discount, l_tax
                FROM g_lineitem)
          UNPIVOT INCLUDE NULLS (val FOR measure IN
            (l_quantity, l_extendedprice, l_discount, l_tax))
          GROUP BY measure ORDER BY measure""")
      },
      Some("""SELECT measure, cents, n FROM (
             |  SELECT 'l_quantity' AS measure,
             |    CAST(sum(CAST(round(l_quantity * 100) AS BIGINT))
             |      AS BIGINT) AS cents, count(*) AS n FROM lineitem
             |  UNION ALL
             |  SELECT 'l_extendedprice',
             |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
             |      AS BIGINT), count(*) FROM lineitem
             |  UNION ALL
             |  SELECT 'l_discount',
             |    CAST(sum(CAST(round(l_discount * 100) AS BIGINT))
             |      AS BIGINT), count(*) FROM lineitem
             |  UNION ALL
             |  SELECT 'l_tax',
             |    CAST(sum(CAST(round(l_tax * 100) AS BIGINT))
             |      AS BIGINT), count(*) FROM lineitem)
             |ORDER BY measure""".stripMargin)),

    // ---- D23: PORTABLE fuzzy decontamination — the hash-verified twin
    //      of d13 (which keeps the fast native MinHashSig path and is
    //      rows-only by necessity): train docs sharing an LSH band with
    //      any eval doc, verified by exact word-trigram Jaccard >= 0.5.
    //      Every stage — signatures, banding, candidate join, verify —
    //      replays in the oracle, so the WHOLE cross-set decontamination
    //      pipeline is hash-matched, not just row-counted. One signature
    //      pass over the union; eval membership is a filter, not a
    //      second scan. -----------------------------------------------
    Q("d23_decontaminate_portable",
      (s, dir) => {
        // same bounded universe as d20: the portable-hash pipeline costs
        // ~32x the digest work of the native kernel by construction —
        // it's the AUDIT path, priced for verification, not the hot path
        val docs = t(s, dir, "documents").filter(col("doc_id") < 2000)
        val bands = graft.llm.Dedup.portableMinhashBands(
            docs, "text", "doc_id")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val cand = bands.filter(col("id") % 10 =!= 0)
          .join(bands.filter(col("id") % 10 === 0)
              .select(col("id").as("eval_id"), col("band"), col("sig")),
            Seq("band", "sig"))
          .select(col("id").as("train_id"), col("eval_id")).distinct()
        cand
          .join(docs.select(col("doc_id").as("train_id"),
            col("text").as("ttxt")), "train_id")
          .join(docs.select(col("doc_id").as("eval_id"),
            col("text").as("etxt")), "eval_id")
          .select(col("train_id"), col("eval_id"),
            graft.llm.Dedup.ngramJaccard(col("ttxt"), col("etxt"), 3)
              .as("jaccard"))
          .filter(col("jaccard") >= 0.5)
          .orderBy("train_id", "eval_id")
      },
      Some(s"""WITH ${graft.llm.Dedup.portableBandsOracleSql(
                 "(SELECT * FROM documents WHERE doc_id < 2000)",
                 "doc_id", "text")},
              |cand AS (
              |  SELECT DISTINCT tb.id AS train_id, eb.id AS eval_id
              |  FROM pm_bands tb JOIN pm_bands eb
              |    ON tb.band = eb.band AND tb.sig = eb.sig
              |  WHERE tb.id % 10 <> 0 AND eb.id % 10 = 0),
              |j AS (
              |  SELECT c.train_id, c.eval_id,
              |    CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
              |      greatest(len(list_distinct(
              |        list_concat(a.grams, b.grams))), 1) AS jaccard
              |  FROM cand c
              |  JOIN pm_t a ON a.id = c.train_id
              |  JOIN pm_t b ON b.id = c.eval_id)
              |SELECT train_id, eval_id, jaccard FROM j
              |WHERE jaccard >= 0.5
              |ORDER BY train_id, eval_id""".stripMargin)),

    // ---- D24: PORTABLE SemDeDup twin (llm/Similarity.scala
    //      semanticDedupPortable) — the hash-verified audit twin of the
    //      rows-only d16, d23's pattern applied to embedding dedup:
    //      Forgy cells (first-n-by-id centroids, SQL-expressible where
    //      seeded k-means++ is not) + n10's BIGINT-quantized cosines,
    //      same capped within-cell candidate topology. DuckDB re-derives
    //      every cell assignment and keep/drop verdict bit-for-bit. ----
    Q("d24_semantic_dedup_portable",
      (s, dir) => graft.llm.Similarity.semanticDedupPortable(
          tf(s, dir, "embeddings"), "vec_id", "embedding",
          nCells = 8, threshold = 0.92, cap = 16)
        .orderBy("id"),
      Some(graft.llm.Similarity.semanticDedupPortableOracleSql(
        "embeddings", "vec_id", "embedding",
        nCells = 8, threshold = 0.92, cap = 16))),

    // ---- D25: PORTABLE incremental near-dup twin — the audit twin of
    //      the rows-only d19, closing the same gap d23 closed for
    //      decontamination: the steady-state daily shape (batch probes
    //      prior buckets; candidates only new×prior and new×new, never
    //      prior×prior) replayed end-to-end through the hash-verified
    //      `portableMinhashBands` + exact trigram verify. Bounded to the
    //      audit universe like d23; the native xxhash64 path (d19)
    //      remains the hot path. ----------------------------------------
    Q("d25_incremental_portable",
      (s, dir) => {
        val docs = t(s, dir, "documents").filter(col("doc_id") < 500)
        val bands = graft.llm.Dedup.portableMinhashBands(
            docs, "text", "doc_id")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val pb = bands.filter(col("id") < 300)
          .select(col("id").as("other_id"), col("band"), col("sig"))
        val bb = bands.filter(col("id") >= 300)
        val vsPrior = bb.join(pb, Seq("band", "sig"))
          .select(col("id").as("batch_id"), col("other_id"),
            lit("prior").as("vs")).distinct()
        val vsBatch = bb.join(bands.filter(col("id") >= 300)
              .select(col("id").as("other_id"), col("band"), col("sig")),
            Seq("band", "sig"))
          .filter(col("id") < col("other_id"))
          .select(col("id").as("batch_id"), col("other_id"),
            lit("batch").as("vs")).distinct()
        vsPrior.unionByName(vsBatch)
          .join(docs.select(col("doc_id").as("batch_id"),
            col("text").as("btxt")), "batch_id")
          .join(docs.select(col("doc_id").as("other_id"),
            col("text").as("otxt")), "other_id")
          .select(col("batch_id"), col("other_id"), col("vs"),
            graft.llm.Dedup.ngramJaccard(col("btxt"), col("otxt"), 3)
              .as("jaccard"))
          .filter(col("jaccard") >= 0.5)
          .orderBy("batch_id", "other_id", "vs")
      },
      Some(s"""WITH ${graft.llm.Dedup.portableBandsOracleSql(
                 "(SELECT * FROM documents WHERE doc_id < 500)",
                 "doc_id", "text")},
              |vp AS (
              |  SELECT DISTINCT nb.id AS batch_id, pb.id AS other_id,
              |    'prior' AS vs
              |  FROM pm_bands nb JOIN pm_bands pb
              |    ON nb.band = pb.band AND nb.sig = pb.sig
              |  WHERE nb.id >= 300 AND pb.id < 300),
              |vb AS (
              |  SELECT DISTINCT x.id AS batch_id, y.id AS other_id,
              |    'batch' AS vs
              |  FROM pm_bands x JOIN pm_bands y
              |    ON x.band = y.band AND x.sig = y.sig
              |  WHERE x.id >= 300 AND y.id >= 300 AND x.id < y.id),
              |cand AS (SELECT * FROM vp UNION ALL SELECT * FROM vb),
              |j AS (
              |  SELECT c.batch_id, c.other_id, c.vs,
              |    CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
              |      greatest(len(list_distinct(
              |        list_concat(a.grams, b.grams))), 1) AS jaccard
              |  FROM cand c
              |  JOIN pm_t a ON a.id = c.batch_id
              |  JOIN pm_t b ON b.id = c.other_id)
              |SELECT batch_id, other_id, vs, jaccard FROM j
              |WHERE jaccard >= 0.5
              |ORDER BY batch_id, other_id, vs""".stripMargin)),

    // ---- N12: PORTABLE sign-LSH ANN twin — the audit twin of the
    //      rows-only recall-gated n02/n05: integer-lattice hyperplanes
    //      (pure hash arithmetic, no seeded Gaussian) + BIGINT bucket
    //      sums + quantized-cosine ranking, so DuckDB re-derives every
    //      bucket, candidate and ranked neighbor bit-for-bit. Candidates
    //      exist only within (table, bucket) equi-joins — queries never
    //      scan the corpus. -------------------------------------------
    Q("n12_ann_lsh_portable",
      (s, dir) => graft.llm.Similarity.lshTopKPortable(
          t(s, dir, "embeddings"), "vec_id", "embedding",
          queryMaxId = 5L, k = 3)
        .orderBy("query_id", "rank"),
      Some(graft.llm.Similarity.lshTopKPortableOracleSql(
        "embeddings", "vec_id", "embedding", queryMaxId = 5L, k = 3))),

    // ---- D26: overlapping duplicate-SPAN detection (ExactSubstr-lite,
    //      llm/Dedup.dupSpans): every 8-token window at EVERY offset is
    //      fingerprinted and globally counted — the suffix-array-style
    //      "find duplicated passages at any alignment" primitive that
    //      d22's disjoint segments cannot express. Span text never
    //      shuffles or reaches the output (digest-only joins); exact
    //      oracle replays every window and count. ----------------------
    Q("d26_dup_spans",
      (s, dir) => graft.llm.Dedup.dupSpans(
          t(s, dir, "documents"), "text", "doc_id", w = 8, stride = 1)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "span_idx"),
      Some("""WITH segs AS (
             |  SELECT d.doc_id AS id, t.i AS span_idx,
             |    md5(array_to_string(d.words[t.i+1:t.i+8], ' ')) AS h
             |  FROM (SELECT doc_id, string_split(text, ' ') AS words
             |        FROM documents) d,
             |    LATERAL (SELECT unnest(range(greatest(
             |      len(d.words) - 7, 0))) AS i) t),
             |c AS (
             |  SELECT h, count(*) AS n_occurrences FROM segs
             |  GROUP BY h HAVING count(*) > 1)
             |SELECT s.id AS doc_id, CAST(s.span_idx AS BIGINT) AS span_idx,
             |  CAST(c.n_occurrences AS BIGINT) AS n_occurrences
             |FROM segs s JOIN c ON c.h = s.h
             |ORDER BY doc_id, span_idx""".stripMargin)),

    // ---- N13: PORTABLE IVF ANN twin — completes the audit family
    //      (brute force n01 exact, LSH n12 exact): Forgy cells +
    //      quantized-cosine assignment, queries probe their 2 nearest
    //      cells and rank only within them. Every cell assignment,
    //      probe choice and ranked neighbor replays bit-for-bit. -------
    Q("n13_ann_ivf_portable",
      (s, dir) => graft.llm.Similarity.ivfTopKPortable(
          tf(s, dir, "embeddings"), "vec_id", "embedding",
          queryMaxId = 5L, k = 3)
        .orderBy("query_id", "rank"),
      Some(graft.llm.Similarity.ivfTopKPortableOracleSql(
        "embeddings", "vec_id", "embedding", queryMaxId = 5L, k = 3))),

    // ---- D27: contamination REPORT (llm/CorpusPipeline
    //      contaminationReport) — the GPT-3-appendix audit d10's binary
    //      drop doesn't give: per eval doc, the fraction of its distinct
    //      trigrams found anywhere in train. Eval grams broadcast; train
    //      streams one scan emitting only matched grams. String-matched,
    //      so the whole report (counts AND fractions) hash-replays. ----
    Q("d27_contamination_report",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.llm.CorpusPipeline.contaminationReport(
            docs.filter(col("doc_id") % 10 =!= 0),
            docs.filter(col("doc_id") % 10 === 0))
          .orderBy("eval_id")
      },
      Some(s"""WITH ${graft.llm.Dedup.wordGramsCte("g", "documents",
                 "doc_id", "text", "doc_id")},
             |eg AS (SELECT doc_id AS eval_id, unnest(grams) AS gram
             |       FROM g WHERE doc_id % 10 = 0),
             |tg AS (SELECT DISTINCT unnest(grams) AS gram
             |       FROM g WHERE doc_id % 10 <> 0),
             |hits AS (
             |  SELECT e.eval_id, e.gram,
             |    CASE WHEN t.gram IS NULL THEN 0 ELSE 1 END AS hit
             |  FROM eg e LEFT JOIN tg t ON t.gram = e.gram),
             |agg AS (
             |  SELECT eval_id, count(*) AS n_grams,
             |    CAST(sum(hit) AS BIGINT) AS n_matched
             |  FROM hits GROUP BY eval_id)
             |SELECT eval_id, n_grams, n_matched,
             |  CAST(n_matched AS DOUBLE) / n_grams AS overlap_frac
             |FROM agg ORDER BY eval_id""".stripMargin)),

    // ---- T21: character-class / script-mix profile (llm/TextAnalysis
    //      charClassProfile): exact latin/digit/space/other counts per
    //      doc from length-difference after class removal — the
    //      mis-labeled-language / code-as-prose / mojibake signal.
    //      Scan-speed regexp arithmetic, zero shuffle; identical RE2
    //      patterns on the oracle side ('g' flag). -------------------
    Q("t21_script_mix",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          graft.llm.TextAnalysis.charClassProfile(col("text")).as("p"))
        .select(col("doc_id"), col("p.n_chars"), col("p.n_latin"),
          col("p.n_digit"), col("p.n_space"),
          (col("p.n_chars") - col("p.n_latin") - col("p.n_digit") -
            col("p.n_space")).as("n_other"),
          (col("p.n_latin").cast("double") /
            greatest(col("p.n_chars"), lit(1L))).as("latin_frac"))
        .orderBy("doc_id"),
      Some("""WITH p AS (
             |  SELECT doc_id,
             |    CAST(length(text) AS BIGINT) AS n_chars,
             |    CAST(length(text)
             |      - length(regexp_replace(text, '[A-Za-z]', '', 'g'))
             |      AS BIGINT) AS n_latin,
             |    CAST(length(text)
             |      - length(regexp_replace(text, '[0-9]', '', 'g'))
             |      AS BIGINT) AS n_digit,
             |    CAST(length(text)
             |      - length(regexp_replace(text, '\s', '', 'g'))
             |      AS BIGINT) AS n_space
             |  FROM documents)
             |SELECT doc_id, n_chars, n_latin, n_digit, n_space,
             |  n_chars - n_latin - n_digit - n_space AS n_other,
             |  CAST(n_latin AS DOUBLE) / greatest(n_chars, 1)
             |    AS latin_frac
             |FROM p ORDER BY doc_id""".stripMargin)),

    // ---- T20: CCNet-style perplexity buckets — head/middle/tail per
    //      source from the bigram-LM score (t19's bit-stable doubles),
    //      thresholds fitted on a bounded per-source sample
    //      (TextAnalysis.perplexityBuckets). -------------------------
    Q("t20_perplexity_buckets",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // NB scored is consumed twice (sample chain + final join), but
        // caching it was MEASURED SLOWER (2.2 -> 3.0 s): the cache
        // barrier costs more than exchange-reuse recomputation of the
        // post-shuffle aggregates
        TextAnalysis.perplexityBuckets(
          TextAnalysis.bigramLmScores(docs, "doc_id", "text")
            .join(docs.select(col("doc_id").as("id"), col("source")), "id"),
          "n_bigrams")
      },
      Some(TextAnalysis.perplexityBucketsOracleSql(Seq(s"""toks AS (
             |  SELECT doc_id AS id, ${tokensSql("lower(text)")} AS ws
             |  FROM documents),
             |bg AS (
             |  SELECT id, ws[t.i + 1] AS w1, ws[t.i + 2] AS w2
             |  FROM toks,
             |    LATERAL (SELECT unnest(range(len(ws) - 1)) AS i) t),
             |stats AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY 1, 2),
             |firsts AS (SELECT w1, count(*) AS cu FROM bg GROUP BY 1),
             |vocab AS (
             |  SELECT count(DISTINCT w) AS v FROM (
             |    SELECT unnest(ws) AS w FROM toks)),
             |sc AS (
             |  SELECT bg.id, CAST(round(ln(
             |      CAST(st.cb + 1 AS DOUBLE) / CAST(f.cu + vocab.v AS DOUBLE)),
             |      9) AS DECIMAL(12,9)) AS lp
             |  FROM bg
             |  JOIN stats st ON st.w1 = bg.w1 AND st.w2 = bg.w2
             |  JOIN firsts f ON f.w1 = bg.w1
             |  CROSS JOIN vocab),
             |agg AS (
             |  SELECT id, count(*) AS n_bigrams,
             |    round(CAST(sum(lp) AS DOUBLE) / count(*), 9) AS avg_logp
             |  FROM sc GROUP BY id),
             |scored AS (
             |  SELECT d.doc_id AS id, d.source, a.n_bigrams, a.avg_logp
             |  FROM documents d LEFT JOIN agg a ON a.id = d.doc_id)"""
          .stripMargin), "scored", "n_bigrams"))),

    // ---- A45: PORTABLE HyperLogLog — the audit twin of the rows-only
    //      a36 sketch store (the d23 pattern applied to sketches):
    //      md5-derived hashes, bin()-length rho, EXACT-integer harmonic
    //      sum, one fixed-shape final division — every register, the
    //      Z-sum, and the estimate replay bit-for-bit in DuckDB, next
    //      to the exact distinct count for the accuracy story. --------
    Q("a45_hll_portable",
      (s, dir) => {
        val ev = events(s, dir).select(col("event_type"), col("user_id"))
        val est = graft.functions.SketchStore.portableHllDistinct(
          ev, Seq("event_type"), "user_id")
        val exact = ev.groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("exact_users"))
        est.join(exact, "event_type")
          .select(col("event_type"), col("buckets_used"), col("zsum"),
            col("approx_distinct"), col("exact_users"))
          .orderBy("event_type")
      },
      Some(s"""WITH ${graft.functions.SketchStore.portableHllOracleSql(
                 "SELECT event_type, user_id FROM events",
                 Seq("event_type"), "user_id")},
              |ex AS (SELECT event_type,
              |         count(DISTINCT user_id) AS exact_users
              |       FROM events GROUP BY 1)
              |SELECT e.event_type, e.buckets_used, e.zsum,
              |  e.approx_distinct, x.exact_users
              |FROM ph_est e JOIN ex x ON x.event_type = e.event_type
              |ORDER BY e.event_type""".stripMargin)),

    // ---- A46: PORTABLE Count-Min — the audit twin of the rows-only
    //      a37: d=4 x w=271 counters from md5 row hashes, point
    //      estimates = min over addressed counters. All-integer; the
    //      one-sided never-undercount guarantee is re-derived per probe
    //      by the oracle itself. ---------------------------------------
    Q("a46_cm_portable",
      (s, dir) => {
        import s.implicits._
        val ev = events(s, dir)
        val sketch = graft.functions.SketchStore.portableCmSketch(
          ev, "event_type")
        val exact = ev.groupBy(col("event_type").cast("string").as("item"))
          .agg(count(lit(1)).as("exact_cnt"))
        // one deliberately-absent probe exercises the empty-counter →
        // est_cnt=0 path of portableCmProbe alongside the present items
        val probes = exact.select("item")
          .unionAll(Seq("__absent_probe__").toDF("item"))
        graft.functions.SketchStore.portableCmProbe(probes, sketch)
          .join(exact, Seq("item"), "left")
          .withColumn("exact_cnt", coalesce(col("exact_cnt"), lit(0L)))
          .withColumn("overestimate_ok", col("est_cnt") >= col("exact_cnt"))
          .orderBy("item")
      },
      Some("""WITH src AS (
             |  SELECT CAST(event_type AS VARCHAR) AS item FROM events),
             |cells AS (
             |  SELECT item, r.rw,
             |    CAST(concat('0x', substr(md5(concat('cm',
             |      CAST(r.rw AS VARCHAR), ':', item)), 1, 15)) AS BIGINT)
             |      % 271 AS cc
             |  FROM src, (SELECT unnest(range(4)) AS rw) r),
             |sk AS (
             |  SELECT rw, cc, count(*) AS cnt FROM cells GROUP BY 1, 2),
             |exact AS (
             |  SELECT item, count(*) AS exact_cnt FROM src GROUP BY 1),
             |probes AS (
             |  SELECT item FROM exact
             |  UNION ALL SELECT '__absent_probe__'),
             |probe AS (
             |  SELECT e.item, r.rw,
             |    CAST(concat('0x', substr(md5(concat('cm',
             |      CAST(r.rw AS VARCHAR), ':', e.item)), 1, 15)) AS BIGINT)
             |      % 271 AS cc
             |  FROM probes e, (SELECT unnest(range(4)) AS rw) r),
             |est AS (
             |  SELECT p.item,
             |    CAST(min(coalesce(sk.cnt, 0)) AS BIGINT) AS est_cnt
             |  FROM probe p LEFT JOIN sk ON sk.rw = p.rw AND sk.cc = p.cc
             |  GROUP BY 1)
             |SELECT e.item, e.est_cnt,
             |  coalesce(x.exact_cnt, 0) AS exact_cnt,
             |  e.est_cnt >= coalesce(x.exact_cnt, 0) AS overestimate_ok
             |FROM est e LEFT JOIN exact x ON x.item = e.item
             |ORDER BY e.item""".stripMargin)),

    // ---- N14: PORTABLE cosine near-dup pairs — the audit twin of the
    //      rows-only n03: the same integer-lattice sign-LSH banding as
    //      n12, the same head/star candidate cap as the native path,
    //      quantized-integer cosine verify. Every candidate pair and
    //      verdict replays bit-for-bit. The n-family audit twins are
    //      now complete: brute(n01)/LSH(n12)/IVF(n13)/pairs(n14). -----
    Q("n14_cosine_neardup_portable",
      // threshold 0.3: the synthetic embeddings are near-orthogonal, so
      // a production-style 0.8+ gate returns an empty (weak) result set;
      // 0.3 exercises candidate generation, cap topology AND non-trivial
      // verify verdicts at every SF
      (s, dir) => graft.llm.Similarity.cosineNearDupsPortable(
          t(s, dir, "embeddings"), "vec_id", "embedding",
          threshold = 0.3)
        .orderBy("id_a", "id_b"),
      Some(graft.llm.Similarity.cosineNearDupsPortableOracleSql(
        "embeddings", "vec_id", "embedding", threshold = 0.3)))
  )
}
