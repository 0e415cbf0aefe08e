package graft

import org.apache.spark.sql.functions._

import graft.llm.Bpe

/** BPE tokenizer: classic merge sequence, encode/train parity, lossless
  * round-trip, memoized distributed encode.
  */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("trainMerges learns the classic merge sequence") {
    // Sennrich-style toy corpus: 'lo' dominates, then builds up 'low'
    val freq = Seq(("low", 5L), ("lower", 2L), ("newest", 6L),
      ("widest", 3L))
    val merges = Bpe.trainMerges(freq, 4)
    // est</w> path: (e,s) 9, (s,t) 9, (t,</w>) 9 ... tie-break is
    // lexicographic on the pair, so (e,s) wins the first merge
    assert(merges.head == ("e", "s"), merges.toString)
    assert(merges(1) == ("es", "t"), merges.toString)
    assert(merges(2) == ("est", Bpe.EOW), merges.toString)
    assert(merges(3) == ("l", "o"), merges.toString)
  }

  test("encodeWord replays training merges: trained words hit one token") {
    val freq = Seq(("low", 10L))
    val merges = Bpe.trainMerges(freq, 10)
    val ranks = merges.zipWithIndex.toMap
    assert(Bpe.encodeWord("low", ranks) == Seq("low" + Bpe.EOW))
    // unseen word falls back to learned subunits + chars, losslessly
    val toks = Bpe.encodeWord("lowlow", ranks)
    assert(toks.mkString == "lowlow" + Bpe.EOW, toks.toString)
  }

  test("encode is lossless: concatenated tokens rebuild each word") {
    val docs = Seq((1L, "The newest model is the widest model"),
      (2L, "lower and lower costs"), (3L, "")).toDF("doc_id", "text")
    val merges = Bpe.fit(docs, "text", numMerges = 20)
    val out = Bpe.encode(docs, "doc_id", "text", merges)
      .select("id", "tokens").as[(Long, Seq[String])].collect().toMap
    val rebuilt = out(1L).mkString.replace(Bpe.EOW, " ").trim
    assert(rebuilt == "the newest model is the widest model")
    assert(out(3L).isEmpty) // empty doc → zero tokens
    // every token is a learned unit or a single char (+EOW forms)
    val units = (merges.map(p => p._1 + p._2) ++
      ('a' to 'z').map(_.toString) :+ Bpe.EOW).toSet
    val decomposable = out.values.flatten.forall(t =>
      units.contains(t) || t.length <= 2 + Bpe.EOW.length ||
        merges.exists(p => p._1 + p._2 == t))
    assert(decomposable)
  }

  test("fit is deterministic and frequency-driven") {
    val docs = (1 to 50).map(i => (i.toLong,
      "alpha alpha beta " + (if (i % 5 == 0) "rare" else "alpha")))
      .toDF("doc_id", "text")
    val m1 = Bpe.fit(docs, "text", numMerges = 8)
    val m2 = Bpe.fit(docs.repartition(7), "text", numMerges = 8)
    assert(m1 == m2, "merges must not depend on partitioning")
    // the most frequent word's path is learned before the rare word's
    val alphaDone = m1.indexWhere(p => p._1 + p._2 == "alpha" + Bpe.EOW)
    val rareDone = m1.indexWhere(p => p._1 + p._2 == "rare" + Bpe.EOW)
    assert(alphaDone >= 0)
    assert(rareDone < 0 || alphaDone < rareDone)
  }

  test("randomized lossless property: tokens always rebuild the input") {
    val rnd = new scala.util.Random(13)
    val alphabet = "abcdef"
    def word() = (1 to 1 + rnd.nextInt(6))
      .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    (1 to 3).foreach { trial =>
      val docs = (1L to 30L).map(i =>
        (i, (1 to 5 + rnd.nextInt(10)).map(_ => word()).mkString(" ")))
      val df = docs.toDF("doc_id", "text")
      val merges = Bpe.fit(df, "text", numMerges = 15 * trial)
      val out = Bpe.encode(df, "doc_id", "text", merges)
        .select("id", "tokens").as[(Long, Seq[String])].collect().toMap
      docs.foreach { case (id, text) =>
        val rebuilt = out(id).mkString.replace(Bpe.EOW, " ").trim
        assert(rebuilt == text.toLowerCase.split("\\s+")
          .filter(_.nonEmpty).mkString(" "),
          s"trial $trial doc $id not lossless")
      }
    }
  }

  test("registry t12 shape: per-source totals, compression < 1 word") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val merges = Bpe.fit(docs, "text", numMerges = 40)
    val enc = Bpe.encode(docs, "doc_id", "text", merges)
    val n = enc.agg(sum("n_bpe_tokens")).head().getLong(0)
    assert(n > 0)
    // BPE must not produce fewer tokens than words (each word ≥1 token)
    val words = docs.select(sum(expr(
      "size(filter(split(lower(text), '\\\\s+'), x -> x != ''))")))
      .head().getLong(0)
    assert(n >= words, s"bpe=$n words=$words")
  }

  test("encodeInOrder == greedy encodeWord on the real corpus (t23 contract)") {
    // the portable twin encodes by replaying merges in rank order; the
    // production path (encode/t12) uses the greedy lowest-rank loop.
    // They are equivalent whenever no two merges produce the same token
    // string (operands of a merge are products of strictly earlier
    // merges) — pin it on every distinct corpus word, plus adversarial
    // shapes (cascades, overlapping runs, repeated pairs)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val merges = Bpe.fit(docs, "text", numMerges = 40)
    assert(merges.map { case (a, b) => a + b }.distinct.size ==
      merges.size, "duplicate merge products break the equivalence")
    val ranks = merges.zipWithIndex.toMap
    val words = docs
      .select(explode(split(lower(col("text")), "\\s+")).as("w"))
      .filter(col("w") =!= "").distinct().collect().map(_.getString(0))
    assert(words.nonEmpty)
    (words.toSeq ++ Seq("aaaaa", "abababa", "mississippi")).foreach { w =>
      assert(Bpe.encodeInOrder(w, merges) == Bpe.encodeWord(w, ranks),
        s"in-order vs greedy diverge on '$w'")
    }
  }

  test("t23 shape on non-ASCII words: one symbol per character") {
    // the DuckDB replay (`Bpe.portableCtes`) splits each word with
    // `length`/`substr` in characters and returns these same rows
    val docs = Seq((0L, "Été café naïve été café été naïve"))
      .toDF("doc_id", "text")
    val merges = Bpe.fit(docs, "text", numMerges = 8, maxVocabWords = 200)
    val out = Bpe.encodePortable(docs, "doc_id", "text", merges)
      .select(col("n_bpe_tokens"), concat_ws(" ", col("tokens")))
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(out == Seq((13, "été</w> c afé</w> n aïve </w> été</w> c afé</w> " +
      "été</w> n aïve </w>")), out.toString)
  }

  test("symbols split code points, as DuckDB does: a character outside " +
      "the BMP is one symbol") {
    val w = "a\uD83D\uDE00b" // a😀b: 4 UTF-16 units, 3 code points
    assert(Bpe.symbols(w) == Seq("a", "\uD83D\uDE00", "b", Bpe.EOW))
    assert(Bpe.encodeWord(w, Map.empty) == Bpe.symbols(w))
    assert(Bpe.encodeInOrder(w, Nil) == Bpe.symbols(w))
    // every merge joins whole code points: no lone surrogate is a symbol
    val merges = Bpe.trainMerges(Seq((w, 3L)), 2)
    assert(merges == Seq(("a", "\uD83D\uDE00"), ("a\uD83D\uDE00", "b")),
      merges.toString)
    assert(Bpe.encodeWord(w, merges.zipWithIndex.toMap) ==
      Seq("a\uD83D\uDE00b", Bpe.EOW))
    assert(Bpe.encodeInOrder(w, merges) == Seq("a\uD83D\uDE00b", Bpe.EOW))
  }

  test("applyMerge: cascading left-greedy fold matches the training loop") {
    // odd runs pair left-to-right: [a,a,a,a,a] -> [aa,aa,a]
    assert(Bpe.applyMerge(Seq("a", "a", "a", "a", "a"), "a", "a") ==
      Seq("aa", "aa", "a"))
    // a merged token never re-matches as the left operand
    assert(Bpe.applyMerge(Seq("a", "b", "b"), "a", "b") == Seq("ab", "b"))
    // interleaved occurrences all merge
    assert(Bpe.applyMerge(Seq("a", "b", "a", "b"), "a", "b") ==
      Seq("ab", "ab"))
    assert(Bpe.applyMerge(Seq("x"), "a", "b") == Seq("x"))
  }

  test("parts == whole: merges refit from folded word-freq stats " +
    "equal the whole-corpus fit") {
    import spark.implicits._
    import graft.llm.WordFreq
    val a = Seq((1L, "low lower lowest low"), (2L, "new newer newest"))
      .toDF("doc_id", "text")
    val b = Seq((3L, "low newer lowest"), (4L, "widest wide low"))
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("wf-bpe").toString
    WordFreq.save(WordFreq.stats(a, "text"), tmp)
    val folded = WordFreq.merge(WordFreq.load(spark, tmp),
      WordFreq.stats(b, "text"))
    val whole = Bpe.fit(a.unionByName(b), "text", numMerges = 25)
    assert(Bpe.fitFromStats(folded, numMerges = 25) == whole)
  }

  test("saveMerges/loadMerges: encode-after-load ≡ encode-after-fit, " +
    "rank order survives the round-trip") {
    import spark.implicits._
    val docs = Seq((1L, "low lower lowest new newer"),
      (2L, "low low newer newest")).toDF("doc_id", "text")
    val merges = Bpe.fit(docs, "text", numMerges = 20)
    val tmp = java.nio.file.Files.createTempDirectory("bpe-merges").toString
    Bpe.saveMerges(spark, merges, tmp)
    val loaded = Bpe.loadMerges(spark, tmp)
    assert(loaded == merges) // ordered list, not a set
    def enc(m: Seq[(String, String)]) =
      Bpe.encode(docs, "doc_id", "text", m)
        .orderBy("id").collect().map(_.toSeq).toSeq
    assert(enc(loaded) == enc(merges))
  }
}
