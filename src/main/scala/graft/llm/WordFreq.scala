package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Mergeable WORD-FREQUENCY statistics — the corpus collapse BOTH
  * tokenizer fits start from ([[Bpe.fit]] and [[UnigramLm.fit]] each
  * tokenize + groupBy to (word, count) before their driver-side
  * training loops). Counts over disjoint corpus parts merge losslessly
  * by grouped addition, so the tokenizer REFITS from folded stats
  * without rescanning tokenized history — the incremental-stats
  * contract (d12/d19/t18/a33/d33/n17/t32) applied to the tokenizer
  * family. The frequent-word cap ([[topWords]]) applies AFTER the
  * merge, in engine collation (`orderBy(c desc, w)`), so
  * fit-from-merged-stats is bit-identical to fit-from-whole-corpus.
  *
  * Scale shape: the stats frame is vocabulary-TYPE-bounded (it
  * saturates under a bounded vocabulary while the corpus grows), each
  * fold shuffles only the new batch's counts, and only the capped
  * frequent-word table ever reaches the driver.
  */
object WordFreq {

  /** (w, c) word counts of a corpus slice — exact BIGINTs. */
  def stats(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextAnalysis.tokens(lower(col(textCol)))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))

  /** Lossless merge of two stats frames (disjoint corpus parts). */
  def merge(a: DataFrame, b: DataFrame): DataFrame = {
    require(a.columns.sameElements(b.columns),
      "WordFreq.merge: schema mismatch")
    a.unionByName(b).groupBy("w").agg(sum(col("c")).as("c"))
  }

  /** Persist / restore the artifact (the saveVocab/saveKnStats
    * posture): count once per batch, fold forever.
    */
  def save(stats: DataFrame, dir: String): Unit =
    stats.write.mode("overwrite").parquet(dir)

  def load(spark: org.apache.spark.sql.SparkSession, dir: String)
      : DataFrame =
    spark.read.parquet(dir).select("w", "c")

  /** The deterministic frequent-word cap both fits use: top
    * `maxVocabWords` by (count desc, word) in ENGINE binary collation —
    * never a driver-side Java sort, so the cap picks the same words
    * either engine's ORDER BY would.
    */
  def topWords(stats: DataFrame, maxVocabWords: Int): Seq[(String, Long)] =
    stats.orderBy(col("c").desc, col("w")).limit(maxVocabWords)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
}
