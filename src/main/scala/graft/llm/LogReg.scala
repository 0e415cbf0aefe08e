package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import TextAnalysis.tokensSql

/** In-engine TRAINED quality classifier: fixed-iteration batch
  * gradient descent for logistic regression over hashed token-bucket
  * counts — the "train the filter on the corpus itself" story the
  * published curation pipelines run (CCNet / LLaMA-style quality
  * classifiers), expressed so EVERY iteration is exact integer
  * arithmetic that an independent engine replays bit-for-bit (the
  * d29/t30 discipline).
  *
  * Zero IEEE operations anywhere: the sigmoid is the integer "fast
  * sigmoid" σ̃(x) = 1/2 + x / (2·(1 + |x|)) evaluated in micro units
  * with truncating integer division (Spark `div` ≡ DuckDB `//` on
  * BIGINT, both toward zero) — monotone, symmetric, range (0, 1),
  * gradient direction identical to the logistic's. Weights live in
  * integer micro units; margins and gradients are exact BIGINT sums;
  * the learning-rate step is one truncating division by
  * (lrDen · nTrain). Same data → same weights, on any engine, under
  * any partitioning.
  *
  * Scale shape: the feature frame is the per-(doc, bucket) count
  * table — ONE shuffle to build, cached across iterations. Each
  * iteration is (a) margin pass: broadcast-join the ≤(buckets+1)-row
  * weight frame onto the counts, groupBy doc; (b) gradient pass: join
  * the per-doc error back onto the counts by doc id, groupBy bucket —
  * a ≤(buckets+1)-row aggregate collected to the driver. The corpus
  * text is never rescanned; iteration cost is linear in the count
  * table.
  */
object LogReg {

  /** Hashed-unigram bucket PRESENCE features plus an intercept
    * pseudo-bucket b = -1: (id, y, b, c) with c = 1 per distinct
    * (doc, bucket). Presence, not counts, on purpose: raw counts make
    * the margin scale with document LENGTH, which swamps the class
    * signal under the bounded fast-sigmoid (measured: count features
    * never leave the majority-class corner on this corpus; presence
    * features reach ~0.71 held-out accuracy against a 0.55 majority
    * baseline). The md5-bucket recipe is t27's (portable: DuckDB
    * replays it exactly).
    */
  def hashedCounts(docs: DataFrame, idCol: String, labelCol: String,
                   textCol: String, buckets: Int): DataFrame = {
    val toks = TextAnalysis.tokens(lower(col(textCol)))
    val grams = docs.select(col(idCol).as("id"),
        col(labelCol).cast("boolean").as("y"), explode(toks).as("tok"))
      .select(col("id"), col("y"),
        (conv(substring(md5(col("tok")), 1, 8), 16, 10)
          .cast("long") % buckets).as("b"))
      .distinct()
      .withColumn("c", lit(1L))
    grams.unionByName(docs.select(col(idCol).as("id"),
      col(labelCol).cast("boolean").as("y"),
      lit(-1L).as("b"), lit(1L).as("c")))
  }

  /** Label-free twin of [[hashedCounts]] for SCORING unlabeled corpora
    * (the trained filter's steady state): (id, b, c) presence features
    * plus the intercept pseudo-bucket, same md5 bucket recipe —
    * `scores(features(batch), loadWeights(dir))` is the production
    * apply path.
    */
  def features(docs: DataFrame, idCol: String, textCol: String,
               buckets: Int): DataFrame = {
    val toks = TextAnalysis.tokens(lower(col(textCol)))
    docs.select(col(idCol).as("id"), explode(toks).as("tok"))
      .select(col("id"),
        (conv(substring(md5(col("tok")), 1, 8), 16, 10)
          .cast("long") % buckets).as("b"))
      .distinct()
      .withColumn("c", lit(1L))
      .unionByName(docs.select(col(idCol).as("id"),
        lit(-1L).as("b"), lit(1L).as("c")))
  }

  /** Integer margin per doc from a weight map, label-free: (id, m) with
    * m > 0 ⇔ predicted positive. Weight lookup is the O(1) dense-array
    * projection of [[weightedCounts]]; the only shuffle is the per-doc
    * groupBy.
    */
  def scores(feats: DataFrame, w: Map[Long, Long]): DataFrame =
    weightedCounts(feats, w)
      .groupBy("id")
      .agg(sum(col("__wc")).as("m"))

  /** Dense-range ceiling for the literal-array weight lookup: bucket
    * vocabularies are caller-bounded (≤ a few thousand), so anything
    * under this is safely materialized as one in-plan array.
    */
  private val denseMaxBucket = 1L << 20

  /** `feats` + `__wc` = c · w(b): the per-(doc, bucket) weighted count
    * every scorer aggregates. When the weight keys live in the dense
    * [-1, buckets) range every featurizer here produces, the lookup is a
    * LITERAL ARRAY indexed by b+1 — one O(1) codegen'd projection, no
    * broadcast exchange and no join in the plan at all. That matters in
    * [[fit]]: the old broadcast-join form shipped a fresh ≤257-row
    * broadcast AND ran a hash-join probe in EVERY GD iteration (10
    * broadcast jobs per fit, 5 registry entries replaying the fit);
    * the array form makes each iteration's margin pass a pure
    * map-side aggregate over the cached count table. Out-of-vocabulary
    * buckets score 0 exactly like the old left-join miss; keys outside
    * the dense range fall back to the broadcast join unchanged.
    */
  private def weightedCounts(feats: DataFrame,
                             w: Map[Long, Long]): DataFrame = {
    val dense = w.isEmpty ||
      (w.keys.min >= -1L && w.keys.max < denseMaxBucket)
    if (dense) {
      val mx = if (w.isEmpty) -1L else w.keys.max
      val arr = (0 to (mx + 1).toInt).map(i => w.getOrElse(i - 1L, 0L))
      val lookup =
        if (w.isEmpty) lit(0L)
        else when(col("b") >= -1L && col("b") <= lit(mx),
          coalesce(get(typedlit(arr), (col("b") + 1L).cast("int")),
            lit(0L))).otherwise(lit(0L))
      feats.withColumn("__wc", col("c") * lookup)
    } else {
      val spark = feats.sparkSession
      import spark.implicits._
      val wDf = w.toSeq.toDF("b", "w")
      feats.join(broadcast(wDf), Seq("b"), "left")
        .withColumn("__wc", col("c") * coalesce(col("w"), lit(0L)))
        .drop("w")
    }
  }

  /** CALIBRATION SWEEP over labeled margins — every DISTINCT margin
    * becomes a candidate threshold with its exact integer confusion
    * counts (tp/fp/fn/tn at "keep iff margin ≥ thr"). The cumulatives
    * ride the DISTRIBUTED [[graft.etl.Ids.runningTotal]] (range
    * partition + broadcast offsets — never a one-task global window
    * over the margin distribution, whose cardinality grows with the
    * corpus); the u11/l25 gate shape, so the oracle is the plain
    * window form. Input: [[margins]]' (id, y, m); output one row per
    * distinct m: (thr_micro, tp, fp, fn, tn).
    */
  def calibrationSweep(sc: DataFrame,
                       scope: graft.CacheScope = graft.CacheScope.harness)
      : DataFrame = {
    val byM = sc.groupBy(col("m").as("thr_micro"))
      .agg(sum(when(col("y"), 1L).otherwise(0L)).as("pos"),
        sum(when(col("y"), 0L).otherwise(1L)).as("neg"))
    val ord = Seq(negate(col("thr_micro")))
    // ONE range-partitioned pass annotates BOTH cumulatives and hands
    // back the grand totals from the per-partition sums the driver
    // already holds — the former two runningTotal calls + a third
    // whole-frame total aggregate + a re-join re-ranged, re-persisted
    // and re-scanned the SAME margin distribution three times for
    // numbers one pass produces (the fit replay upstream of `sc` is
    // the expensive part, and it sat under every one of those passes).
    val (cum, totals) = graft.etl.Ids.runningTotals(byM, ord,
      Seq(col("pos") -> "tp", col("neg") -> "fp"), scope)
    val Seq(tpos, tneg) = totals
    cum.select(col("thr_micro"), col("tp"), col("fp"),
      (lit(tpos) - col("tp")).as("fn"),
      (lit(tneg) - col("fp")).as("tn"))
  }

  /** The OPERATING POINT off a [[calibrationSweep]]: the threshold
    * maximizing F1 in exact integer fixed-point —
    * f1_micro = 2·tp·10⁶ div (2·tp + fp + fn), ties to the SMALLER
    * threshold (keep more). One argmax aggregate (the a35 machinery) —
    * the sweep never sorts globally. Output: one row
    * (thr_micro, f1_micro, tp, fp, fn, tn) — what a deployment pins.
    */
  def operatingPoint(cal: DataFrame): DataFrame = {
    val scored = cal.withColumn("f1_micro",
      expr("tp * 2000000L div (tp * 2L + fp + fn)"))
    scored.agg(max_by(
        struct(col("thr_micro"), col("f1_micro"), col("tp"), col("fp"),
          col("fn"), col("tn")),
        struct(col("f1_micro"), negate(col("thr_micro")))).as("b"))
      .select(col("b.thr_micro"), col("b.f1_micro"), col("b.tp"),
        col("b.fp"), col("b.fn"), col("b.tn"))
  }

  /** Persist trained weights as a ≤(buckets+1)-row parquet artifact —
    * the fit-once-score-forever posture every sibling artifact has (BPE
    * merges, Unigram vocab, KN stats, BM25): the production quality
    * filter is trained once and applied to every later drop, so the fit
    * must never re-run per job. Lossless by construction (exact BIGINT
    * columns); gated by t35's oracle replaying the full fit against the
    * score-after-load output.
    */
  def saveWeights(spark: SparkSession, w: Map[Long, Long],
                  dir: String): Unit = {
    import spark.implicits._
    w.toSeq.toDF("b", "w").repartition(1)
      .write.mode("overwrite").parquet(dir)
  }

  /** Load a [[saveWeights]] artifact back into the driver-side map the
    * scorers take (bounded: ≤ buckets+1 rows).
    */
  def loadWeights(spark: SparkSession, dir: String): Map[Long, Long] =
    spark.read.parquet(dir).select(col("b"), col("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Per-doc integer margin under a weight map (micro units):
    * (id, y, m). Unseen buckets score 0 — the same convention the
    * oracle uses. Groups by `id` ALONE (y is functionally dependent on
    * the doc id and rides along as an aggregate): when the feature
    * frame is already hash-partitioned by id — [[fit]] pins exactly
    * that before caching — the margin aggregate reuses the partitioning
    * with NO exchange, which is what keeps each GD iteration's shuffle
    * bounded instead of re-shuffling the corpus-sized count table
    * per round (measured: the (id, y) grouping re-keyed the table every
    * iteration — 21.5× shuffle growth for 10× input; this form is
    * ~bounded-partials per iteration).
    */
  def margins(feats: DataFrame, w: Map[Long, Long]): DataFrame =
    weightedCounts(feats, w)
      .groupBy("id")
      .agg(max(col("y")).as("y"),
        sum(col("__wc")).as("m"))
      .select(col("id"), col("y"), col("m"))

  /** `iters` rounds of batch GD; returns bucket → weight (micro).
    * The per-round driver round-trip is the ≤(buckets+1)-row gradient
    * — the bounded fit-collect discipline (d29/n13).
    *
    * Shuffle shape: the count table is REPARTITIONED BY id once and
    * cached — every iteration's margin aggregate (groupBy id) and
    * gradient join (on id) reuse that partitioning with no exchange,
    * so per-iteration shuffle is the bounded gradient partials, not
    * the corpus-sized count table. At a fixed iteration count total
    * shuffle grows linearly with the corpus (sf1 probe-pinned).
    */
  def fit(feats: DataFrame, iters: Int, lrDen: Long,
          scope: graft.CacheScope = graft.CacheScope.harness)
      : Map[Long, Long] = {
    // Partition count derived from the input's size estimate, clamped
    // to the configured shuffle-partition ceiling (guide §2: scale-
    // adaptive, never a constant): an explicit repartition(col) pins
    // spark.sql.shuffle.partitions tasks onto EVERY one of the
    // 10 iterations' passes — pure scheduling overhead when the count
    // table is small, full parallelism retained when it is not.
    // Partitioning never affects the result (exact integer sums).
    val train = scope.track(
      feats.repartition(graft.etl.Ids.adaptiveParts(feats),
        col("id"))).toDF()
    val nTrain = train.select(col("id")).distinct().count()
    require(nTrain > 0, "LogReg.fit: empty training set")
    var w = Map.empty[Long, Long].withDefaultValue(0L)
    for (_ <- 1 to iters) {
      val err = margins(train, w.toMap)
        .select(col("id"), (expr(
          "500000L + (m * 1000000L) div (2L * (1000000L + abs(m)))") -
          when(col("y"), 1000000L).otherwise(0L)).as("e"))
      val grad = train.join(err, "id")
        .groupBy("b").agg(sum(col("e") * col("c")).as("g"))
        .collect().map(r => r.getLong(0) -> r.getLong(1))
      w = (w ++ grad.map { case (b, g) =>
        b -> (w(b) - g / (lrDen * nTrain)) // toward-zero div, g exact
      }).withDefaultValue(0L)
    }
    w.toMap
  }

  /** The labelled-document fixture the trained-filter chains share:
    * a deterministic 70% train split (md5 micro-uniform of
    * `salt || doc_id`), `is_pos` = English, and a language marker token
    * (" m<lang>") appended on even ids — a partial planted class
    * signal. Yields (doc_id, is_train, is_pos, text) from a documents
    * frame; [[labelledOracleCtes]] is the DuckDB twin.
    */
  def labelledDocs(docs: DataFrame, salt: String): DataFrame =
    docs.select(col("doc_id"),
      (conv(substring(md5(concat(lit(salt), col("doc_id"))),
        1, 15), 16, 10).cast("long") % 100 < 70).as("is_train"),
      (col("lang") === "en").as("is_pos"),
      concat(col("text"), when(col("doc_id") % 2 === 0,
        concat(lit(" m"), col("lang"))).otherwise(lit("")))
        .as("text"))

  /** (train, held-out) [[hashedCounts]] tables of a [[labelledDocs]]
    * frame, 256 buckets.
    */
  def labelledSplit(labelled: DataFrame): (DataFrame, DataFrame) = {
    def feats(rows: DataFrame) =
      hashedCounts(rows, "doc_id", "is_pos", "text", buckets = 256)
    (feats(labelled.filter(col("is_train"))),
      feats(labelled.filter(!col("is_train"))))
  }

  /** Held-out verdicts from [[margins]] — the Spark twin of the
    * oracle's `lr_out`: (doc_id, label, score_micro, pred, correct).
    */
  def verdicts(sc: DataFrame): DataFrame =
    sc.select(col("id").as("doc_id"),
      col("y").cast("int").as("label"),
      col("m").as("score_micro"),
      (col("m") > 0).cast("int").as("pred"),
      ((col("m") > 0) === col("y")).cast("int").as("correct"))

  /** DuckDB CTE `name` (doc_id, is_train, is_pos, ts[]) replaying
    * [[labelledDocs]] of the `documents` table, `ts` its lowercase
    * tokens.
    */
  def labelledDocsCte(salt: String, name: String = "lr_d"): String = {
    val text = "text || CASE WHEN doc_id % 2 = 0 THEN ' m' || lang " +
      "ELSE '' END"
    s"""$name AS (
       |  SELECT doc_id,
       |    (CAST(concat('0x', substr(md5('$salt' ||
       |       CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
       |       % 100) < 70 AS is_train,
       |    lang = 'en' AS is_pos,
       |    ${tokensSql(s"lower($text)")} AS ts
       |  FROM documents)""".stripMargin
  }

  /** [[oracleCtes]] for a fit over [[labelledDocs]] of the `documents`
    * table (256 buckets, 10 iterations, lrDen 4), `lr_d` included.
    */
  def labelledOracleCtes(salt: String): Seq[String] =
    labelledDocsCte(salt) +: oracleCtes(buckets = 256, iters = 10, lrDen = 4L)

  /** Oracle CTE list replaying the ENTIRE fit — every margin, fast
    * sigmoid, gradient and weight update of every iteration — plus the
    * held-out scoring, in DuckDB SQL. The weight and feature CTEs are
    * AS MATERIALIZED: DuckDB inlines CTEs by default and each lr_w{k}
    * is referenced twice by round k+1, so an inlined chain re-evaluates
    * the fit 2^iters times — materialization keeps the replay linear. `docsCte` must yield
    * (doc_id, is_train, is_pos, ts[]) as `lr_d`. The final CTE is
    * `lr_out` (doc_id, label, score_micro, pred, correct).
    */
  def oracleCtes(buckets: Int, iters: Int, lrDen: Long): Seq[String] = {
    val base = Seq(
      s"""lr_g AS (
         |  SELECT doc_id, is_train, is_pos,
         |    CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT)
         |      % $buckets AS b
         |  FROM (SELECT doc_id, is_train, is_pos, unnest(ts) AS tok
         |        FROM lr_d))""".stripMargin,
      """lr_db AS MATERIALIZED (
        |  SELECT DISTINCT doc_id, is_train, is_pos, b,
        |    CAST(1 AS BIGINT) AS c
        |  FROM lr_g
        |  UNION ALL
        |  SELECT doc_id, is_train, is_pos, CAST(-1 AS BIGINT),
        |    CAST(1 AS BIGINT)
        |  FROM lr_d)""".stripMargin,
      """lr_n AS (
        |  SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n
        |  FROM lr_db WHERE is_train)""".stripMargin,
      """lr_w0 AS MATERIALIZED (
        |  SELECT b, CAST(0 AS BIGINT) AS w
        |  FROM (SELECT DISTINCT b FROM lr_db WHERE is_train))"""
        .stripMargin)
    val rounds = (1 to iters).flatMap { k =>
      Seq(
        s"""lr_m$k AS (
           |  SELECT db.doc_id, db.is_pos,
           |    CAST(sum(db.c * w.w) AS BIGINT) AS m
           |  FROM lr_db db JOIN lr_w${k - 1} w USING (b)
           |  WHERE db.is_train GROUP BY 1, 2)""".stripMargin,
        s"""lr_e$k AS (
           |  SELECT doc_id,
           |    (500000 + (m * 1000000) // (2 * (1000000 + abs(m))))
           |      - CASE WHEN is_pos THEN 1000000 ELSE 0 END AS e
           |  FROM lr_m$k)""".stripMargin,
        s"""lr_gr$k AS (
           |  SELECT db.b, CAST(sum(e.e * db.c) AS BIGINT) AS g
           |  FROM lr_db db JOIN lr_e$k e USING (doc_id)
           |  WHERE db.is_train GROUP BY 1)""".stripMargin,
        s"""lr_w$k AS MATERIALIZED (
           |  SELECT w.b, CAST(w.w - g.g // ($lrDen * n.n) AS BIGINT) AS w
           |  FROM lr_w${k - 1} w JOIN lr_gr$k g USING (b), lr_n n)"""
          .stripMargin)
    }
    val score = Seq(
      s"""lr_sc AS (
         |  SELECT db.doc_id, db.is_pos,
         |    CAST(sum(db.c * coalesce(w.w, 0)) AS BIGINT) AS m
         |  FROM lr_db db LEFT JOIN lr_w$iters w USING (b)
         |  WHERE NOT db.is_train GROUP BY 1, 2)""".stripMargin,
      """lr_out AS (
        |  SELECT doc_id, CAST(is_pos AS INT) AS label,
        |    m AS score_micro, CAST(m > 0 AS INT) AS pred,
        |    CAST((m > 0) = is_pos AS INT) AS correct
        |  FROM lr_sc)""".stripMargin)
    base ++ rounds ++ score
  }
}
