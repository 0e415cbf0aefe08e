package graft.llm

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import TextAnalysis.tokensSql

/** Byte-pair-encoding tokenizer — train and encode, Spark-first.
  *
  * Training follows the classic word-frequency formulation (Sennrich et
  * al. 2016): merges are learned from the corpus WORD-FREQUENCY table,
  * not the raw corpus, so the distributed work is one tokenize+groupBy
  * (any corpus size), and the iterative merge loop runs driver-side over
  * a BOUNDED vocabulary (`maxVocabWords` most frequent words — the
  * standard practice; a 100 TB corpus still has a driver-sized frequent-
  * word table). Determinism: vocabulary is capped by (count desc, word
  * asc), each merge picks the (count desc, pair asc) maximum, so the
  * merge list is a pure function of the corpus.
  *
  * Encoding is the greedy lowest-merge-rank loop (the GPT-2 scheme,
  * equivalent to replaying training merges in order) applied per word
  * inside `mapPartitions` — per-row iterative state no Catalyst
  * expression can express (SURVEY §2.10 escape-hatch order) — with a
  * per-partition word→tokens memo so each DISTINCT word is encoded once
  * per partition, which on natural-language skew (Zipf) makes the encode
  * pass ~dictionary-cost, not corpus-cost.
  */
object Bpe {

  /** End-of-word marker, appended as a distinct symbol so merges can
    * learn word-final units ("w</w>" vs mid-word "w").
    */
  val EOW = "</w>"

  /** Whitespace word-split after lowercasing — matches
    * `TextAnalysis.tokens`' notion of a word.
    */
  def words(text: String): Seq[String] =
    text.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq

  /** A word's initial segmentation: one symbol per code point (a
    * character outside the BMP is one symbol, not two UTF-16 units — the
    * DuckDB replay's character split), then [[EOW]].
    */
  def symbols(word: String): Vector[String] =
    word.codePoints.toArray.iterator
      .map(cp => new String(Character.toChars(cp))).toVector :+ EOW

  /** Train `numMerges` merges from a word-frequency table. Pure Scala —
    * callers feed it a collected (word, count) list (see `fit`).
    */
  def trainMerges(wordFreq: Seq[(String, Long)],
                  numMerges: Int): Seq[(String, String)] = {
    // each word as its symbol sequence; parallel count array
    val syms = wordFreq.map { case (w, _) =>
      scala.collection.mutable.ArrayBuffer[String](symbols(w): _*)
    }.toArray
    val counts = wordFreq.map(_._2).toArray
    val merges = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var iter = 0
    while (iter < numMerges) {
      val pairCounts =
        scala.collection.mutable.HashMap[(String, String), Long]()
      var i = 0
      while (i < syms.length) {
        val s = syms(i)
        var j = 0
        while (j < s.length - 1) {
          val p = (s(j), s(j + 1))
          pairCounts(p) = pairCounts.getOrElse(p, 0L) + counts(i)
          j += 1
        }
        i += 1
      }
      if (pairCounts.isEmpty) iter = numMerges
      else {
        // deterministic argmax: count desc, then pair lexicographic asc
        val best = pairCounts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
        merges += best
        val merged = best._1 + best._2
        i = 0
        while (i < syms.length) {
          val s = syms(i)
          var j = 0
          while (j < s.length - 1) {
            if (s(j) == best._1 && s(j + 1) == best._2) {
              s(j) = merged
              s.remove(j + 1)
            } else j += 1
          }
          i += 1
        }
        iter += 1
      }
    }
    merges.toSeq
  }

  /** Distributed fit: tokenize+count words (one shuffle), cap the
    * vocabulary deterministically, train merges driver-side.
    */
  def fit(docs: DataFrame, textCol: String, numMerges: Int,
          maxVocabWords: Int = 5000): Seq[(String, String)] =
    fitFromStats(WordFreq.stats(docs, textCol), numMerges, maxVocabWords)

  /** Fit from a PROVIDED word-frequency stats frame (maintained
    * incrementally via [[WordFreq.merge]]) — the frequent-word cap
    * applies after any merge, so fit-from-merged-stats ≡
    * fit-from-whole-corpus.
    */
  def fitFromStats(stats: DataFrame, numMerges: Int,
                   maxVocabWords: Int = 5000): Seq[(String, String)] =
    trainMerges(WordFreq.topWords(stats, maxVocabWords), numMerges)

  /** Persist a fitted merge list as a parquet artifact — the tokenizer
    * is trained ONCE and every later encode job loads the artifact
    * (the UnigramLm.saveVocab/loadVocab posture for the BPE family).
    * The merge list is ORDERED (rank decides which pair wins in
    * [[encodeWord]]), so each row carries its explicit rank and
    * [[loadMerges]] restores rank order — encode-after-load is
    * bit-identical to encode-after-fit.
    */
  def saveMerges(spark: org.apache.spark.sql.SparkSession,
                 merges: Seq[(String, String)], dir: String): Unit = {
    import spark.implicits._
    merges.zipWithIndex.map { case ((a, b), r) => (r, a, b) }
      .toDF("rank", "left", "right")
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  def loadMerges(spark: org.apache.spark.sql.SparkSession,
                 dir: String): Seq[(String, String)] =
    spark.read.parquet(dir).select("rank", "left", "right").collect()
      .sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2))).toSeq

  /** Encode one word with the greedy lowest-rank loop. */
  def encodeWord(word: String,
                 ranks: Map[(String, String), Int]): Seq[String] = {
    var s = symbols(word)
    var done = false
    while (!done && s.length > 1) {
      var bestRank = Int.MaxValue
      var bestAt = -1
      var j = 0
      while (j < s.length - 1) {
        val r = ranks.getOrElse((s(j), s(j + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; bestAt = j }
        j += 1
      }
      if (bestAt < 0) done = true
      else s = (s.take(bestAt) :+ (s(bestAt) + s(bestAt + 1))) ++
        s.drop(bestAt + 2)
    }
    s
  }

  /** Distributed encode: adds `tokens ARRAY<STRING>` (BPE units of the
    * lowercased whitespace words, each ending with its EOW-marked unit)
    * and `n_bpe_tokens`. The merge table rides to executors as a
    * closure-captured rank map (KBs); a per-partition memo makes the
    * cost per distinct word, not per occurrence.
    */
  def encode(docs: DataFrame, idCol: String, textCol: String,
             merges: Seq[(String, String)]): DataFrame = {
    val ranks = merges.zipWithIndex.toMap
    val outSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("tokens", ArrayType(StringType, containsNull = false)),
      StructField("n_bpe_tokens", IntegerType, nullable = false)))
    val input = docs.select(col(idCol).cast("long"),
      coalesce(col(textCol), lit("")))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    input.mapPartitions { rows =>
      val memo = scala.collection.mutable.HashMap[String, Seq[String]]()
      rows.map { r =>
        val toks = words(r.getString(1)).flatMap(w =>
          memo.getOrElseUpdate(w, encodeWord(w, ranks)))
        Row(r.getLong(0), toks, toks.length)
      }
    }(enc)
  }

  /** One in-order merge application: the left-to-right cascading fold
    * (identical to [[trainMerges]]' in-place apply loop — after a merge
    * the new token can never equal `a`, so the scan is a plain greedy
    * leftmost disjoint matching).
    */
  def applyMerge(s: Seq[String], a: String, b: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    s.foreach { t =>
      if (out.nonEmpty && out.last == a && t == b)
        out(out.length - 1) = a + b
      else out += t
    }
    out.toSeq
  }

  /** Encode by replaying the learned merges IN RANK ORDER, each applied
    * exhaustively — the apply-in-order form of BPE encode. Equivalent to
    * [[encodeWord]]'s greedy lowest-rank loop whenever no two merges
    * produce the same token string (a merge's operands are products of
    * strictly earlier merges, so a later merge can never enable an
    * earlier one) — `BpeSpec` pins the equivalence on the real corpus.
    * Unlike the greedy loop, this form is SQL-expressible (a bounded
    * chain of leftmost-merge passes), which is what makes the t23
    * portable twin's DuckDB replay possible.
    */
  def encodeInOrder(word: String,
                    merges: Seq[(String, String)]): Seq[String] =
    merges.foldLeft(symbols(word): Seq[String]) {
      case (s, (a, b)) => applyMerge(s, a, b)
    }

  /** Distributed encode through [[encodeInOrder]] — the hash-gated twin
    * of [[encode]] (same memoized mapPartitions shape).
    */
  def encodePortable(docs: DataFrame, idCol: String, textCol: String,
                     merges: Seq[(String, String)]): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("tokens", ArrayType(StringType, containsNull = false)),
      StructField("n_bpe_tokens", IntegerType, nullable = false)))
    val input = docs.select(col(idCol).cast("long"),
      coalesce(col(textCol), lit("")))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    input.mapPartitions { rows =>
      val memo = scala.collection.mutable.HashMap[String, Seq[String]]()
      rows.map { r =>
        val toks = words(r.getString(1)).flatMap(w =>
          memo.getOrElseUpdate(w, encodeInOrder(w, merges)))
        Row(r.getLong(0), toks, toks.length)
      }
    }(enc)
  }

  /** DuckDB replay of the ENTIRE BPE pipeline — training AND encode —
    * over `table` rows with `idCol < maxDocId`: word frequencies, the
    * deterministic vocab cap, `numMerges` training rounds (pair counts
    * over the current segmentation, argmax by count desc / pair asc,
    * exhaustive application), then every distinct word encoded by the
    * merges in rank order and documents reassembled in word order.
    *
    * Mechanics: a word's segmentation is a chr(31)-separated token
    * string (chr(31) never occurs in text); one merge application is a
    * chain of `passes` leftmost single-occurrence string substitutions
    * (strpos + substr surgery — each pass merges the leftmost eligible
    * pair, exactly the cascading fold, and a word of t tokens needs at
    * most t/2 passes per round); a `#NOFIXPOINT#` poison marker breaks
    * the hash if the pass budget is ever insufficient, so an undersized
    * `passes` can never silently pass. Training argmax ties and the
    * vocab cap replay [[trainMerges]]/[[fit]] bit-for-bit; the oracle
    * re-derives the merges INDEPENDENTLY, so the gate proves the whole
    * merge sequence, not just the encode. Every chained CTE is
    * MATERIALIZED — DuckDB inlines CTEs by default and the
    * best-of-round tables are referenced once per pass, which would
    * otherwise expand exponentially.
    */
  def portableOracleSql(table: String, idCol: String, textCol: String,
                        maxDocId: Long, numMerges: Int = 8,
                        maxVocabWords: Int = 200,
                        passes: Int = 6): String = {
    val ctes = portableCtes(table, idCol, textCol, maxDocId, numMerges,
      maxVocabWords, passes)
    s"""WITH ${ctes.mkString(",\n")}
       |SELECT d.id AS doc_id,
       |  CAST(coalesce(sum(len(e.toks)), 0) AS INTEGER) AS n_bpe_tokens,
       |  coalesce(string_agg(array_to_string(e.toks, ' '), ' '
       |      ORDER BY o.i), '') AS tokens_str
       |FROM bp_d d
       |LEFT JOIN bp_w0 o ON o.id = d.id
       |LEFT JOIN bp_enc e ON e.w = o.w
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** The CTE chain behind [[portableOracleSql]] (training + per-word
    * encode, ending in `bp_enc(w, toks)`; the doc slice is `bp_d(id,
    * txt)` and the word fan-out `bp_w0(id, w, i)`) — exposed so composed
    * oracles (l17's BPE-count packing) can append their own CTEs to the
    * SAME independently-re-derived merge sequence.
    */
  def portableCtes(table: String, idCol: String, textCol: String,
                   maxDocId: Long, numMerges: Int = 8,
                   maxVocabWords: Int = 200,
                   passes: Int = 6): Seq[String] = {
    val sep = "chr(31)"
    def passSql(prev: String, best: String, out: String): String =
      s"""$out AS MATERIALIZED (
         |  SELECT w, c, CASE WHEN strpos(s, pat) > 0 THEN
         |      substr(s, 1, strpos(s, pat) - 1) || rep ||
         |      substr(s, strpos(s, pat) + length(pat)) ELSE s END AS s
         |  FROM (SELECT w, c, s,
         |          $sep || a || $sep || b || $sep AS pat,
         |          $sep || a || b || $sep AS rep
         |        FROM $prev LEFT JOIN $best ON TRUE))""".stripMargin
    def poisonSql(prev: String, best: String, out: String): String =
      s"""$out AS MATERIALIZED (
         |  SELECT w, c,
         |    CASE WHEN strpos(s, $sep || a || $sep || b || $sep) > 0
         |      THEN s || '#NOFIXPOINT#' ELSE s END AS s
         |  FROM $prev LEFT JOIN $best ON TRUE)""".stripMargin
    val initSeg =
      s"$sep || array_to_string(list_transform(range(length(w)), " +
        s"i -> substr(w, i + 1, 1)), $sep) || $sep || '$EOW' || $sep"
    val ctes = scala.collection.mutable.ArrayBuffer[String]()
    ctes += s"""bp_d AS MATERIALIZED (
               |  SELECT $idCol AS id, lower(coalesce($textCol, '')) AS txt
               |  FROM $table WHERE $idCol < $maxDocId)""".stripMargin
    ctes += s"""bp_w0 AS MATERIALIZED (
               |  SELECT d.id, t.w, t.i
               |  FROM (SELECT id,
               |      ${tokensSql("txt")} AS ws FROM bp_d) d,
               |    LATERAL (SELECT unnest(d.ws) AS w,
               |             unnest(range(len(d.ws))) AS i) t)""".stripMargin
    ctes += s"""bp_vocab AS MATERIALIZED (
               |  SELECT w, c
               |  FROM (SELECT w, count(*) AS c FROM bp_w0 GROUP BY 1)
               |  ORDER BY c DESC, w LIMIT $maxVocabWords)""".stripMargin
    ctes += s"bp_seg0 AS MATERIALIZED (SELECT w, c, $initSeg AS s FROM bp_vocab)"
    for (r <- 1 to numMerges) {
      val prev = s"bp_seg${r - 1}"
      ctes += s"""bp_pairs$r AS (
                 |  SELECT l[i + 1] AS a, l[i + 2] AS b, sum(c) AS cnt
                 |  FROM (SELECT c, list_slice(string_split(s, $sep), 2,
                 |          len(string_split(s, $sep)) - 1) AS l
                 |        FROM $prev) q,
                 |    LATERAL (SELECT unnest(range(len(q.l) - 1)) AS i) t
                 |  GROUP BY 1, 2)""".stripMargin
      ctes += s"bp_best$r AS MATERIALIZED (SELECT a, b FROM bp_pairs$r " +
        "ORDER BY cnt DESC, a, b LIMIT 1)"
      var cur = prev
      for (p <- 1 to passes) {
        val nxt = s"bp_seg${r}_p$p"
        ctes += passSql(cur, s"bp_best$r", nxt)
        cur = nxt
      }
      ctes += poisonSql(cur, s"bp_best$r", s"bp_seg$r")
    }
    ctes += s"""bp_e0 AS MATERIALIZED (
               |  SELECT w, CAST(NULL AS BIGINT) AS c, $initSeg AS s
               |  FROM (SELECT DISTINCT w FROM bp_w0))""".stripMargin
    var cur = "bp_e0"
    for (r <- 1 to numMerges) {
      for (p <- 1 to passes) {
        val nxt = s"bp_e${r}_p$p"
        ctes += passSql(cur, s"bp_best$r", nxt)
        cur = nxt
      }
      ctes += poisonSql(cur, s"bp_best$r", s"bp_e$r")
      cur = s"bp_e$r"
    }
    ctes += s"""bp_enc AS MATERIALIZED (
               |  SELECT w, list_filter(string_split(s, $sep),
               |    x -> x <> '') AS toks
               |  FROM $cur)""".stripMargin
    ctes.toSeq
  }
}
