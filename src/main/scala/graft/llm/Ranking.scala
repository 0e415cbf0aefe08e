package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import TextAnalysis.tokensSql

/** Retrieval-style relevance scoring over a document corpus — the data-
  * curation counterpart of d11's tf-idf pair scoring: score every doc
  * against a fixed query-term set (BM25), e.g. to mine training data
  * that matches a target domain description.
  *
  * Scale design: the per-doc pass is ONE scan with no explode — term
  * frequencies come from `size(filter(tokens, _ === term))` per term, so
  * the whole document side stays inside whole-stage codegen. The corpus
  * statistics (N, avgdl, per-term document frequencies) are a single
  * one-row aggregate broadcast back over the doc frame: two jobs total,
  * no shuffle of the corpus itself, any number of docs.
  *
  * Determinism (oracle hash-exactness): tf/dl/df are exact integers;
  * avgdl is an exact BIGINT sum divided once; the per-term score terms
  * are summed in FIXED left-to-right term order (a row-wise expression,
  * not a float agg), and the final score is rounded to 9 dp to absorb
  * last-ulp libm `ln` divergence between engines (same convention as
  * t13's entropy).
  */
object Ranking {

  /** Per-doc (id, dl, tf0..tfk) frame — one codegen scan, no explode. */
  private def perDocFrame(docs: DataFrame, textCol: String, idCol: String,
                          terms: Seq[String]): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
      TextAnalysis.tokens(lower(col(textCol))).as("ts"))
    val tfCols = terms.zipWithIndex.map { case (term, i) =>
      size(filter(col("ts"), x => x === lit(term))).cast("long").as(s"tf$i")
    }
    toks.select(
      col("id") +: size(col("ts")).cast("long").as("dl") +: tfCols: _*)
  }

  /** Corpus statistics for BM25 as ONE persistable row:
    * (n_docs, sum_dl, df0..dfk). All exact integers, so stats of corpus
    * parts MERGE losslessly by element-wise addition ([[mergeBm25Stats]])
    * — new batches never force a rescan of scored history, the same
    * incremental contract as the sketch stores (a36/a37) and dedup
    * digests (d12/d19).
    */
  def bm25Stats(docs: DataFrame, textCol: String, idCol: String,
                terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "bm25: need at least one query term")
    val perDoc = perDocFrame(docs, textCol, idCol, terms)
    val statCols = count(lit(1)).as("n_docs") +:
      sum(col("dl")).as("sum_dl") +:
      terms.indices.map(i => sum((col(s"tf$i") > 0).cast("long")).as(s"df$i"))
    perDoc.agg(statCols.head, statCols.tail: _*)
  }

  /** Element-wise sum of two stats rows — the lossless merge law
    * (integer counts are additive over disjoint corpus parts).
    */
  def mergeBm25Stats(a: DataFrame, b: DataFrame): DataFrame = {
    val cols = a.columns
    require(b.columns.sameElements(cols), "mergeBm25Stats: schema mismatch")
    a.unionByName(b).agg(
      sum(col(cols.head)).as(cols.head),
      cols.tail.map(c => sum(col(c)).as(c)): _*)
  }

  /** Persist / restore the stats row as a parquet artifact (the
    * saveKnStats/WordFreq.save posture): count once per batch, fold by
    * [[mergeBm25Stats]], score forever from stats.
    */
  def saveBm25Stats(stats: DataFrame, dir: String): Unit =
    stats.write.mode("overwrite").parquet(dir)

  def loadBm25Stats(spark: org.apache.spark.sql.SparkSession, dir: String)
      : DataFrame = spark.read.parquet(dir)

  /** BM25 score of every document against `terms`.
    * Output: (id, dl, bm25) — dl = token count of the doc.
    */
  def bm25(docs: DataFrame, textCol: String, idCol: String,
           terms: Seq[String], k1: Double = 1.2, b: Double = 0.75)
      : DataFrame =
    bm25FromStats(docs, textCol, idCol, terms,
      bm25Stats(docs, textCol, idCol, terms), k1, b)

  /** Score `docs` against a PROVIDED stats row (e.g. maintained
    * incrementally across batches) — identical arithmetic to [[bm25]].
    */
  def bm25FromStats(docs: DataFrame, textCol: String, idCol: String,
                    terms: Seq[String], stats: DataFrame,
                    k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25: need at least one query term")
    val perDoc = perDocFrame(docs, textCol, idCol, terms)
    val scored = perDoc.crossJoin(broadcast(stats))
      .withColumn("avgdl",
        col("sum_dl").cast("double") / col("n_docs").cast("double"))
    val n = col("n_docs").cast("double")
    // Fixed-order sum of per-term contributions: tf = 0 contributes an
    // exact 0.0 through the formula itself (0 numerator, >0 denominator),
    // so no special-casing that would change the float path.
    val score = terms.indices.map { i =>
      val tf = col(s"tf$i").cast("double")
      val dfi = col(s"df$i").cast("double")
      val idf = log(lit(1.0) + (n - dfi + lit(0.5)) / (dfi + lit(0.5)))
      idf * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) +
          lit(b) * col("dl").cast("double") / col("avgdl")))
    }.reduce(_ + _)
    scored.select(col("id"), col("dl"), round(score, 9).as("bm25"))
  }

  /** The DuckDB replay of [[bm25]] for a given table/columns/terms —
    * generated next to the implementation so the two can never drift.
    */
  def bm25OracleSql(table: String, textCol: String, idCol: String,
                    terms: Seq[String], k1: Double = 1.2, b: Double = 0.75)
      : String = {
    val tfSel = terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(ts, x -> x = '$t')) AS tf$i"
    }.mkString(",\n    ")
    val dfSel = terms.indices.map(i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(", ")
    val scoreExpr = terms.indices.map { i =>
      s"""ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df$i AS DOUBLE) + 0.5)
         |      / (CAST(df$i AS DOUBLE) + 0.5))
         |    * (CAST(tf$i AS DOUBLE) * ${k1 + 1.0})
         |    / (CAST(tf$i AS DOUBLE) + $k1 * ((1.0 - $b)
         |        + $b * CAST(dl AS DOUBLE) / avgdl))""".stripMargin
    }.mkString("\n    + ")
    s"""WITH pd AS (
       |  SELECT $idCol, len(ts) AS dl,
       |    $tfSel
       |  FROM (SELECT $idCol,
       |          ${tokensSql(s"lower($textCol)")} AS ts
       |        FROM $table)),
       |st AS (
       |  SELECT count(*) AS n_docs,
       |    CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl,
       |    $dfSel
       |  FROM pd)
       |SELECT $idCol, CAST(dl AS BIGINT) AS dl,
       |  round($scoreExpr, 9) AS bm25
       |FROM pd, st ORDER BY $idCol""".stripMargin
  }
}
