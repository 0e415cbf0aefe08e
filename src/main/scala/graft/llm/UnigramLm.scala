package graft.llm

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import TextAnalysis.tokensSql

/** Unigram-LM (SentencePiece-style) tokenizer — train and encode,
  * Spark-first. The second major tokenizer family a pretraining pipeline
  * runs (Kudo 2018, "Subword Regularization"): a piece VOCABULARY with
  * log-probabilities is learned from the corpus, and each word encodes
  * as its maximum-likelihood segmentation (Viterbi over the piece
  * lattice) — where BPE replays learned merges, unigram-LM solves a
  * shortest-path per word.
  *
  * Spark shape — identical to [[Bpe]]'s (reference: the same
  * word-frequency formulation): the DISTRIBUTED work is one
  * tokenize+groupBy to the word-frequency table (any corpus size); the
  * EM loop runs driver-side over the BOUNDED frequent-word table; encode
  * ships the final (piece → score) map to executors inside
  * `mapPartitions` with a per-partition word memo (Zipf skew makes the
  * pass dictionary-cost, not corpus-cost).
  *
  * Determinism (the whole fit is a pure function of the corpus, so the
  * DuckDB oracle re-derives it bit-for-bit):
  *  - the candidate seed is capped by (substring-frequency desc, piece
  *    asc); single-character pieces always survive seeding AND pruning
  *    (segmentation totality);
  *  - piece scores are integer MICRO-NATS — `round(ln(p)*1e6)` of
  *    identical IEEE doubles on both engines (the d29 recipe) — so
  *    every Viterbi comparison is exact BIGINT arithmetic;
  *  - hard-EM (Viterbi E-step): ties resolve to the SMALLEST split
  *    point (ascending-j scan keeping strict improvements = SQL
  *    `ORDER BY best DESC, bp` — both prefer the longest final piece);
  *  - smoothing is add-one over the piece set, so no mid-EM zeros.
  */
object UnigramLm {

  /** Fit hyper-parameters; the oracle generators take the same values
    * so the SQL replay is parameter-identical.
    */
  final case class Params(vocabSize: Int = 120, maxVocabWords: Int = 150,
                          seedSize: Int = 250, maxPieceLen: Int = 5,
                          emRounds: Int = 2, maxWordLen: Int = 12)

  /** Score for a single character absent from the piece table (the
    * `<unk>` floor — encode stays total on any input). A fixed integer
    * constant shared verbatim with the SQL replay.
    */
  val UnkScore: Long = -25000000L

  /** Sentinel piece for a word longer than `Params.maxWordLen` — the
    * replayability contract made explicit on BOTH engines: the oracle's
    * DP unroll is bounded at maxWordLen and emits this piece for longer
    * words, so [[encode]] emits the SAME sentinel (visible in output,
    * bit-identical across engines) instead of silently diverging; and
    * [[fitFromWordFreq]] refuses an overlong VOCAB word loudly (a
    * sentinel inside training counts would pollute the vocabulary).
    * Raise `maxWordLen` for corpora with longer words.
    */
  val TooLong: String = "#TOOLONG#"

  /** round(ln(x)*1e6) with HALF_UP — bit-compatible with DuckDB
    * `CAST(round(ln(x) * 1e6) AS BIGINT)` (both round the same IEEE
    * double half-away-from-zero).
    */
  def micronats(x: Double): Long =
    BigDecimal(math.log(x) * 1e6)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  /** Maximum-likelihood segmentation of one word: DP over positions,
    * best(i) = max over j in [i-maxPieceLen, i-1] of best(j) +
    * score(word[j,i)); single chars fall back to [[UnkScore]] when
    * absent. Ties keep the SMALLEST j (ascending scan, strict
    * improvement only).
    */
  def viterbi(word: String, scores: Map[String, Long],
              maxPieceLen: Int): Seq[String] = {
    val n = word.length
    if (n == 0) return Nil
    val NegInf = Long.MinValue / 4
    val best = Array.fill(n + 1)(NegInf)
    val bp = Array.fill(n + 1)(-1)
    best(0) = 0L
    var i = 1
    while (i <= n) {
      var j = math.max(0, i - maxPieceLen)
      while (j < i) {
        if (best(j) > NegInf) {
          val piece = word.substring(j, i)
          val sc = scores.get(piece) match {
            case Some(v) => v
            case None if i - j == 1 => UnkScore
            case None => Long.MinValue
          }
          if (sc != Long.MinValue && best(j) + sc > best(i)) {
            best(i) = best(j) + sc
            bp(i) = j
          }
        }
        j += 1
      }
      i += 1
    }
    // backtrace (always reachable: the single-char fallback is total)
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var e = n
    while (e > 0) {
      val s = bp(e)
      out += word.substring(s, e)
      e = s
    }
    out.reverse.toSeq
  }

  /** UTF-8 BYTE order for driver-side piece sorts — Java's natural
    * String order compares UTF-16 code units, which disagrees with the
    * UTF-8/code-point binary collation Spark's `orderBy` and DuckDB's
    * `ORDER BY` both use when supplementary (non-BMP) characters mix
    * with U+E000–U+FFFF. Tie-breaking with THIS ordering keeps the
    * seed cap / prune selection bit-identical to what either engine
    * would pick, on any vocabulary.
    */
  private[graft] val utf8Order: Ordering[String] =
    (a: String, b: String) => java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Train from a word-frequency table (pure Scala — callers feed it a
    * collected (word, count) list, see [[fit]]). Returns the final
    * vocabulary as (piece, em_count, score_micronats) sorted by piece.
    *
    * Chain: substring-seed → `emRounds` hard-EM rounds (Viterbi
    * segmentation of the weighted word table, add-one re-estimate) →
    * prune to `vocabSize` by (last-round count desc, piece asc) with
    * single chars forced in → final add-one scores over the kept set.
    */
  def fitFromWordFreq(wordFreq: Seq[(String, Long)],
                      p: Params = Params()): Seq[(String, Long, Long)] = {
    wordFreq.find(_._1.length > p.maxWordLen).foreach { case (w, _) =>
      throw new IllegalArgumentException(
        s"UnigramLm.fit: vocab word '$w' (${w.length} chars) exceeds " +
          s"maxWordLen=${p.maxWordLen} — the oracle's DP unroll bound; " +
          "raise Params.maxWordLen")
    }
    // seed candidates: every substring (multiplicity-weighted by word
    // frequency), capped to seedSize by (freq desc, piece asc); all
    // single characters bypass the cap
    val candFreq = scala.collection.mutable.HashMap[String, Long]()
    wordFreq.foreach { case (w, c) =>
      var i = 0
      while (i < w.length) {
        var l = 1
        while (l <= math.min(p.maxPieceLen, w.length - i)) {
          val piece = w.substring(i, i + l)
          candFreq(piece) = candFreq.getOrElse(piece, 0L) + c
          l += 1
        }
        i += 1
      }
    }
    val chars = candFreq.keysIterator.filter(_.length == 1).toSeq
    val top = candFreq.toSeq
      .sortBy { case (piece, f) => (-f, piece) }(
        Ordering.Tuple2(Ordering.Long, utf8Order))
      .take(p.seedSize).map(_._1)
    val seed: Seq[String] = (top ++ chars).distinct.sorted(utf8Order)
    val totalSeed = seed.iterator.map(candFreq).sum
    var scores: Map[String, Long] = seed.map(piece =>
      piece -> micronats(candFreq(piece).toDouble / totalSeed.toDouble)).toMap
    // hard-EM: E = Viterbi-segment the weighted word table; M = add-one
    // re-estimate over the FULL seed set (piece set stable until prune)
    var counts: Map[String, Long] = Map.empty
    var r = 1
    while (r <= p.emRounds) {
      val cnt = scala.collection.mutable.HashMap[String, Long]()
      wordFreq.foreach { case (w, c) =>
        viterbi(w, scores, p.maxPieceLen).foreach { piece =>
          cnt(piece) = cnt.getOrElse(piece, 0L) + c
        }
      }
      counts = cnt.toMap
      if (r < p.emRounds) {
        val tot = counts.valuesIterator.sum
        val n = seed.size
        scores = seed.map(piece => piece -> micronats(
          (counts.getOrElse(piece, 0L) + 1).toDouble / (tot + n).toDouble))
          .toMap
      }
      r += 1
    }
    // prune: top vocabSize by (count desc, piece asc); chars forced in
    val keptTop = counts.toSeq
      .sortBy { case (piece, c) => (-c, piece) }(
        Ordering.Tuple2(Ordering.Long, utf8Order))
      .take(p.vocabSize).map(_._1)
    val kept = (keptTop ++ chars).distinct.sorted(utf8Order)
    val totK = kept.iterator.map(counts.getOrElse(_, 0L)).sum
    val nK = kept.size
    kept.map { piece =>
      val c = counts.getOrElse(piece, 0L)
      (piece, c, micronats((c + 1).toDouble / (totK + nK).toDouble))
    }
  }

  /** Distributed fit: one tokenize+groupBy to word frequencies (the
    * [[Bpe.fit]] shuffle), deterministic vocab cap, EM driver-side.
    */
  def fit(docs: DataFrame, textCol: String,
          p: Params = Params()): Seq[(String, Long, Long)] =
    fitFromStats(WordFreq.stats(docs, textCol), p)

  /** Fit from a PROVIDED word-frequency stats frame (e.g. maintained
    * incrementally across batches via [[WordFreq.merge]]) — the
    * frequent-word cap applies here, after any merge, so
    * fit-from-merged-stats ≡ fit-from-whole-corpus bit-for-bit.
    */
  def fitFromStats(stats: DataFrame,
                   p: Params = Params()): Seq[(String, Long, Long)] =
    fitFromWordFreq(WordFreq.topWords(stats, p.maxVocabWords), p)

  /** Distributed encode: adds `pieces ARRAY<STRING>` (ML segmentation of
    * each lowercased whitespace word) and `n_pieces`. The vocabulary
    * rides to executors as a closure-captured score map (KBs); a
    * per-partition word memo makes the cost per distinct word.
    */
  def encode(docs: DataFrame, idCol: String, textCol: String,
             vocab: Seq[(String, Long, Long)],
             p: Params = Params()): DataFrame = {
    val scores: Map[String, Long] =
      vocab.map { case (piece, _, s) => piece -> s }.toMap
    val outSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("pieces", ArrayType(StringType, containsNull = false)),
      StructField("n_pieces", IntegerType, nullable = false)))
    val input = docs.select(col(idCol).cast("long"),
      coalesce(col(textCol), lit("")))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    input.mapPartitions { rows =>
      val memo = scala.collection.mutable.HashMap[String, Seq[String]]()
      rows.map { r =>
        val toks = Bpe.words(r.getString(1)).flatMap(w =>
          memo.getOrElseUpdate(w,
            if (w.length > p.maxWordLen) Seq(TooLong)
            else viterbi(w, scores, p.maxPieceLen)))
        Row(r.getLong(0), toks, toks.length)
      }
    }(enc)
  }

  /** Persist a fitted vocabulary as a parquet artifact — the tokenizer
    * is trained ONCE and every later encode job loads the artifact
    * (the d33/a33 persisted-member posture applied to the tokenizer
    * family; [[loadVocab]] restores the exact (piece, cnt, score)
    * list, so encode-after-load is bit-identical to encode-after-fit).
    */
  def saveVocab(spark: org.apache.spark.sql.SparkSession,
                vocab: Seq[(String, Long, Long)], dir: String): Unit = {
    import spark.implicits._
    vocab.toDF("piece", "cnt", "score_micronats")
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  def loadVocab(spark: org.apache.spark.sql.SparkSession,
                dir: String): Seq[(String, Long, Long)] =
    spark.read.parquet(dir)
      .select("piece", "cnt", "score_micronats").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)(utf8Order).toSeq

  // --------------------------------------------------------------------
  // DuckDB replay — the ENTIRE fit (seeding, both EM rounds, prune) and
  // encode re-derived independently, so the hash gate proves the whole
  // training chain, not just the segmentation.
  // --------------------------------------------------------------------

  /** One unrolled Viterbi DP + backtrace over the words of `wordsSrc`
    * (a CTE name with column `w`) against score table `scoreSrc`
    * (columns piece, s). Emits CTEs `{tag}_p0..{tag}_p{maxWordLen}`
    * (position tables: w, best, bp), `{tag}_all`, the RECURSIVE
    * backtrace `{tag}_bt`, and `{tag}_seg(w, s, e, piece)`. Words longer
    * than `maxWordLen` poison the output with a `#TOOLONG#` piece so an
    * undersized unroll can never silently pass (the Bpe `#NOFIXPOINT#`
    * posture).
    */
  private def viterbiCtes(tag: String, wordsSrc: String, scoreSrc: String,
                          p: Params): Seq[String] = {
    val ctes = scala.collection.mutable.ArrayBuffer[String]()
    ctes += s"""${tag}_p0 AS MATERIALIZED (
               |  SELECT w, CAST(0 AS BIGINT) AS best, 0 AS bp
               |  FROM $wordsSrc)""".stripMargin
    for (i <- 1 to p.maxWordLen) {
      val branches = scala.collection.mutable.ArrayBuffer[String]()
      for (j <- math.max(0, i - p.maxPieceLen) until i) {
        branches +=
          s"""SELECT q.w, q.best + sc.s AS best, $j AS bp
             |      FROM ${tag}_p$j q JOIN $scoreSrc sc
             |        ON sc.piece = substr(q.w, ${j + 1}, ${i - j})
             |      WHERE length(q.w) >= $i""".stripMargin
      }
      branches +=
        s"""SELECT q.w, q.best + ($UnkScore) AS best, ${i - 1} AS bp
           |      FROM ${tag}_p${i - 1} q
           |      WHERE length(q.w) >= $i AND NOT EXISTS (
           |        SELECT 1 FROM $scoreSrc sc
           |        WHERE sc.piece = substr(q.w, $i, 1))""".stripMargin
      ctes += s"""${tag}_p$i AS MATERIALIZED (
                 |  SELECT w, best, bp FROM (
                 |    SELECT w, best, bp,
                 |      row_number() OVER (PARTITION BY w
                 |        ORDER BY best DESC, bp) AS rn
                 |    FROM (${branches.mkString("\n      UNION ALL\n      ")}
                 |    ) u) q WHERE rn = 1)""".stripMargin
    }
    ctes += (1 to p.maxWordLen)
      .map(i => s"SELECT w, $i AS i, best, bp FROM ${tag}_p$i")
      .mkString(s"${tag}_all AS MATERIALIZED (\n  ",
        "\n  UNION ALL\n  ", ")")
    ctes += s"""${tag}_bt AS (
               |  SELECT a.w, a.i AS e, a.bp AS s
               |  FROM ${tag}_all a
               |  WHERE a.i = length(a.w)
               |  UNION ALL
               |  SELECT a.w, b.s AS e, a.bp AS s
               |  FROM ${tag}_bt b JOIN ${tag}_all a
               |    ON a.w = b.w AND a.i = b.s
               |  WHERE b.s > 0)""".stripMargin
    ctes += s"""${tag}_seg AS MATERIALIZED (
               |  SELECT w, s, e, substr(w, s + 1, e - s) AS piece
               |  FROM ${tag}_bt
               |  UNION ALL
               |  SELECT w, 0 AS s, length(w) AS e, '#TOOLONG#' AS piece
               |  FROM $wordsSrc WHERE length(w) > ${p.maxWordLen})""".stripMargin
    ctes.toSeq
  }

  /** The CTE chain re-deriving the fit: doc slice `ug_d(id, txt)`, word
    * fan-out `ug_w0(id, w, i)`, vocab, seed, EM rounds, ending in
    * `ug_fin(piece, cnt, s)` — exposed so composed oracles extend the
    * SAME independently-re-derived vocabulary.
    */
  def fitCtes(table: String, idCol: String, textCol: String,
              maxDocId: Long, p: Params = Params()): Seq[String] = {
    require(p.emRounds == 2,
      "oracle replay is generated for exactly 2 EM rounds")
    val ctes = scala.collection.mutable.ArrayBuffer[String]()
    ctes += s"""ug_d AS MATERIALIZED (
               |  SELECT $idCol AS id, lower(coalesce($textCol, '')) AS txt
               |  FROM $table WHERE $idCol < $maxDocId)""".stripMargin
    ctes += s"""ug_w0 AS MATERIALIZED (
               |  SELECT d.id, t.w, t.i
               |  FROM (SELECT id,
               |      ${tokensSql("txt")} AS ws FROM ug_d) d,
               |    LATERAL (SELECT unnest(d.ws) AS w,
               |             unnest(range(len(d.ws))) AS i) t)""".stripMargin
    ctes += s"""ug_vocab AS MATERIALIZED (
               |  SELECT w, c
               |  FROM (SELECT w, count(*) AS c FROM ug_w0 GROUP BY 1)
               |  ORDER BY c DESC, w LIMIT ${p.maxVocabWords})""".stripMargin
    // substring seed, multiplicity-weighted; chars bypass the cap
    ctes += s"""ug_cand AS MATERIALIZED (
               |  SELECT substr(v.w, CAST(s.i AS INT) + 1,
               |      CAST(l.j AS INT)) AS piece,
               |    CAST(sum(v.c) AS BIGINT) AS f
               |  FROM ug_vocab v,
               |    LATERAL (SELECT unnest(range(length(v.w))) AS i) s,
               |    LATERAL (SELECT unnest(range(1, ${p.maxPieceLen} + 1))
               |             AS j) l
               |  WHERE s.i + l.j <= length(v.w)
               |  GROUP BY 1)""".stripMargin
    // NB: inside a WITH RECURSIVE list DuckDB gives a CTE whose body is
    // a TOP-LEVEL set operation recursive-CTE treatment even without a
    // self-reference — a top-level UNION there does NOT globally dedup.
    // Nest the UNION ALL under SELECT DISTINCT instead (here and in
    // ug_keep).
    ctes += s"""ug_seed AS MATERIALIZED (
               |  SELECT DISTINCT piece, f FROM (
               |    SELECT piece, f FROM (
               |      SELECT piece, f FROM ug_cand
               |      ORDER BY f DESC, piece LIMIT ${p.seedSize})
               |    UNION ALL
               |    SELECT piece, f FROM ug_cand
               |    WHERE length(piece) = 1) u)""".stripMargin
    ctes += """ug_tot0 AS (SELECT CAST(sum(f) AS BIGINT) AS t,
              |  count(*) AS n FROM ug_seed)""".stripMargin
    ctes += s"""ug_s0 AS MATERIALIZED (
               |  SELECT piece, CAST(round(ln(CAST(f AS DOUBLE)
               |    / CAST(t.t AS DOUBLE)) * 1e6) AS BIGINT) AS s
               |  FROM ug_seed, ug_tot0 t)""".stripMargin
    // EM round 1: segment vocab words with s0, re-estimate over seed
    ctes ++= viterbiCtes("ug_e1", "(SELECT w FROM ug_vocab)", "ug_s0", p)
    ctes += s"""ug_c1 AS MATERIALIZED (
               |  SELECT g.piece, CAST(sum(v.c) AS BIGINT) AS cnt
               |  FROM ug_e1_seg g JOIN ug_vocab v ON v.w = g.w
               |  GROUP BY 1)""".stripMargin
    ctes += """ug_t1 AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM ug_c1)"""
    ctes += s"""ug_s1 AS MATERIALIZED (
               |  SELECT sd.piece,
               |    CAST(round(ln(CAST(coalesce(c.cnt, 0) + 1 AS DOUBLE)
               |      / CAST(t.t + n.n AS DOUBLE)) * 1e6) AS BIGINT) AS s
               |  FROM ug_seed sd
               |  LEFT JOIN ug_c1 c ON c.piece = sd.piece
               |  CROSS JOIN ug_t1 t
               |  CROSS JOIN (SELECT count(*) AS n FROM ug_seed) n)""".stripMargin
    // EM round 2: segment with s1; prune on its counts
    ctes ++= viterbiCtes("ug_e2", "(SELECT w FROM ug_vocab)", "ug_s1", p)
    ctes += s"""ug_c2 AS MATERIALIZED (
               |  SELECT g.piece, CAST(sum(v.c) AS BIGINT) AS cnt
               |  FROM ug_e2_seg g JOIN ug_vocab v ON v.w = g.w
               |  GROUP BY 1)""".stripMargin
    ctes += s"""ug_keep AS MATERIALIZED (
               |  SELECT DISTINCT piece FROM (
               |    SELECT piece FROM (
               |      SELECT piece FROM ug_c2
               |      ORDER BY cnt DESC, piece LIMIT ${p.vocabSize})
               |    UNION ALL
               |    SELECT piece FROM ug_seed
               |    WHERE length(piece) = 1) u)""".stripMargin
    ctes += s"""ug_fin AS MATERIALIZED (
               |  SELECT k.piece, CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt,
               |    CAST(round(ln(CAST(coalesce(c.cnt, 0) + 1 AS DOUBLE)
               |      / CAST(tk.t + nk.n AS DOUBLE)) * 1e6) AS BIGINT) AS s
               |  FROM ug_keep k
               |  LEFT JOIN ug_c2 c ON c.piece = k.piece
               |  CROSS JOIN (SELECT CAST(sum(coalesce(c2.cnt, 0)) AS BIGINT)
               |      AS t FROM ug_keep k2
               |      LEFT JOIN ug_c2 c2 ON c2.piece = k2.piece) tk
               |  CROSS JOIN (SELECT count(*) AS n FROM ug_keep) nk)""".stripMargin
    ctes.toSeq
  }

  /** t28 oracle: the fitted vocabulary itself — (piece, cnt,
    * score_micronats) ordered by piece.
    */
  def vocabOracleSql(table: String, idCol: String, textCol: String,
                     maxDocId: Long, p: Params = Params()): String = {
    val ctes = fitCtes(table, idCol, textCol, maxDocId, p)
    s"""WITH RECURSIVE ${ctes.mkString(",\n")}
       |SELECT piece, cnt, s AS score_micronats
       |FROM ug_fin ORDER BY piece""".stripMargin
  }

  /** The full fit + encode CTE chain (ending in `ug_enc(w, toks, np)` —
    * per-word pieces + piece counts) — exposed so composed oracles
    * (l21's unigram-count packing) extend the SAME independently
    * re-derived tokenizer.
    */
  def encodeCtes(table: String, idCol: String, textCol: String,
                 maxDocId: Long, p: Params = Params()): Seq[String] = {
    val ctes = scala.collection.mutable.ArrayBuffer[String]()
    ctes ++= fitCtes(table, idCol, textCol, maxDocId, p)
    ctes ++= viterbiCtes("ug_en", "(SELECT DISTINCT w FROM ug_w0)",
      "(SELECT piece, s FROM ug_fin)", p)
    ctes += """ug_enc AS MATERIALIZED (
              |  SELECT w, string_agg(piece, ' ' ORDER BY s) AS toks,
              |    count(*) AS np
              |  FROM ug_en_seg GROUP BY w)""".stripMargin
    ctes.toSeq
  }

  /** t29 oracle: fit + encode — every distinct corpus word segmented by
    * a third Viterbi pass against the final vocabulary, documents
    * reassembled in word order ([[Bpe.portableOracleSql]]'s tail shape).
    */
  def portableOracleSql(table: String, idCol: String, textCol: String,
                        maxDocId: Long, p: Params = Params()): String = {
    val ctes = encodeCtes(table, idCol, textCol, maxDocId, p)
    s"""WITH RECURSIVE ${ctes.mkString(",\n")}
       |SELECT d.id AS doc_id,
       |  CAST(coalesce(sum(e.np), 0) AS INTEGER) AS n_pieces,
       |  coalesce(string_agg(e.toks, ' ' ORDER BY o.i), '') AS pieces_str
       |FROM ug_d d
       |LEFT JOIN ug_w0 o ON o.id = d.id
       |LEFT JOIN ug_enc e ON e.w = o.w
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }
}
