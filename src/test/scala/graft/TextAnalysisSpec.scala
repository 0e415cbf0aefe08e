package graft

import org.apache.spark.sql.functions._

import graft.llm.TextAnalysis

/** PII redaction edge cases (the bulk of TextAnalysis is covered by the
  * t01–t05 oracle gate; these pin the redaction-order semantics).
  */
class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  private def redact(s: String): String =
    Seq(s).toDF("t").select(TextAnalysis.redactPii(col("t"))).head.getString(0)

  test("tokens equals the filter-lambda form on whitespace, empty, " +
    "NULL and non-ASCII edges") {
    val texts = Seq("  lead and trail  ", "a  b   c", "\ttab\tsep\t",
      "line\nbreaks\n\nhere\n", " \t\n mixed \r\n ws ", "", "   ",
      "\t", null,
      "na\u00efve caf\u00e9 \u65e5\u672c\u8a9e \u00c5ngstr\u00f6m",
      "\u00a0nbsp\u00a0kept\u00a0", "one")
    val df = texts.toDF("t")
    // dropping the empty strings makes the trim irrelevant: the
    // untrimmed split is the same function
    val got = df.select(TextAnalysis.tokens(col("t")),
      filter(split(trim(col("t")), "\\s+"), x => length(x) > 0),
      filter(split(col("t"), "\\s+"), x => x =!= ""))
      .collect()
    assert(got.length == texts.length)
    got.zip(texts).foreach { case (r, t) =>
      val forms = (0 to 2).map(i => Option(r.getSeq[String](i)))
      assert(forms.distinct.size == 1,
        s"tokens(${Option(t).map(_.toSeq.map(_.toInt))})")
    }
    assert(got(1).getSeq[String](0) == Seq("a", "b", "c"))
    assert(got(8).isNullAt(0))
  }

  test("the punctuation gate counts characters, not bytes") {
    // 22 non-[A-Za-z0-9\s] of 107 characters (0.206 > 0.2: the gate
    // fails) but of 129 UTF-8 bytes (0.171): a byte count would pass it
    val t = "the caf\u00e9 na\u00efve " + Seq.fill(10)("\u00e9t\u00e9")
      .mkString(" ") + " and more plain ascii words here to pad the length ok"
    val r = Seq(t).toDF("t").select(TextAnalysis.punctRatio(col("t")),
      TextAnalysis.qualityPhase(col("t")),
      TextAnalysis.qualityScore(col("t"))).head
    assert(r.getDouble(0) == 22.0 / 107)
    assert(r.getInt(1) == 2 && r.getDouble(2) == 2.0 / 3)
  }

  test("bigram LM entries (t19, t20): sf0.001 checksums pinned") {
    // (rows, xxhash64 sum) through Bench.checksum of the zipped-slice
    // bigram stream
    val pins = Seq(
      "t19_bigram_lm" -> (500L, 7578995933431249667L),
      "t20_perplexity_buckets" -> (500L, -6390944922284544080L))
    val got = pins.map { case (name, _) =>
      name -> Bench.checksum(SparkEntry.queries(name)(spark, sf))
    }
    assert(got == pins.map { case (name, (n, chk)) =>
      name -> ((n, Some(chk))) })
  }

  test("emails, IPs, and phones redact to typed placeholders") {
    assert(redact("mail a.b+c@d-e.org now") == "mail <EMAIL> now")
    assert(redact("host 192.168.0.1 down") == "host <IP> down")
    assert(redact("call +44 20 7946 0958 ok") == "call <PHONE> ok")
    assert(redact("x 555-867-5309 y") == "x <PHONE> y")
  }

  test("ordering: emails keep their digits, IPs are not eaten by phones") {
    // the email's digit run must not surface as a phone after redaction
    assert(redact("u12345678@ex.com") == "<EMAIL>")
    // a dotted quad is an IP, not two phone fragments
    assert(redact("10.0.200.7") == "<IP>")
  }

  test("clean text passes through untouched") {
    val s = "a plain sentence with numbers like 42 and 7 in it"
    assert(redact(s) == s)
  }

  test("dates, short ids, and sparse digit runs are NOT phones") {
    // ISO date: 8 digits < the 9-digit phone floor
    assert(redact("logged 2024-01-01 ok") == "logged 2024-01-01 ok")
    // 8-digit numeric id survives; 9-digit run is phone-plausible PII
    assert(redact("order 12345678 shipped") == "order 12345678 shipped")
    assert(redact("ssn-ish 123456789 here") == "ssn-ish <PHONE> here")
    // double separators break the run: "1 - 2" style prose never matches
    assert(redact("range 1 - 23456789 - 0 end") == "range 1 - 23456789 - 0 end")
  }

  test("long card-like digit runs are swallowed whole") {
    assert(redact("card 1234-5678-9012-3456 x") == "card <PHONE> x")
    assert(redact("raw 12345678901234567890") == "raw <PHONE>")
  }

  test("redaction is idempotent (placeholders never re-match)") {
    val samples = Seq(
      "a@b.co and 10.1.2.3 and +1 555 123 4567 mixed",
      "u12345678@ex.com 10.0.200.7",
      "edge: 1.2.3.4.5.6 partial 999-99")
    for (s <- samples) assert(redact(redact(s)) == redact(s), s)
  }

  test("chunkTokens covers every token, stride overlap, no spare tail") {
    import spark.implicits._
    def chunks(text: String, c: Int, s: Int): Seq[String] =
      Seq(text).toDF("t")
        .select(TextAnalysis.chunkTokens(col("t"), c, s).as("ch"))
        .head().getSeq[String](0)
    val doc = (1 to 20).map(i => s"w$i").mkString(" ")
    // 20 tokens, chunk 8 stride 4 → ceil(12/4)+1 = 4 chunks
    val ch = chunks(doc, 8, 4)
    assert(ch.size == 4)
    assert(ch.head == (1 to 8).map(i => s"w$i").mkString(" "))
    assert(ch(1) == (5 to 12).map(i => s"w$i").mkString(" "))
    assert(ch.last == (13 to 20).map(i => s"w$i").mkString(" "))
    // short doc: one chunk, verbatim
    assert(chunks("a b c", 8, 4) == Seq("a b c"))
    // exact multiple: 16 tokens, chunk 8 stride 8 → exactly 2, no empty tail
    val even = chunks((1 to 16).map(i => s"w$i").mkString(" "), 8, 8)
    assert(even.size == 2 && even(1).startsWith("w9 "))
    intercept[IllegalArgumentException] {
      TextAnalysis.chunkTokens(col("t"), 4, 8) // stride > chunk
    }
  }

  test("rarityScore = mean corpus doc-frequency of the doc's tokens") {
    import spark.implicits._
    val docs = Seq(
      (0L, "the cat"),      // the: df 3, cat: df 2 → mean 2.5
      (1L, "the cat runs"), // (3 + 2 + 1) / 3
      (2L, "the")           // 3 / 1
    ).toDF("doc_id", "text")
    val m = TextAnalysis.rarityScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getLong(2))).toMap
    assert(m(0L) == ((2.5, 2L)))
    assert(m(1L) == ((2.0, 3L)))
    assert(m(2L) == ((3.0, 1L)))
  }

  test("unigramLogProb ranks common-token docs above rare-token docs") {
    import spark.implicits._
    val docs = Seq(
      (0L, "the the the the cat"), // common tokens
      (1L, "zyx qwv jkl pnm rst")  // singletons
    ).toDF("doc_id", "text")
    val m = TextAnalysis.unigramLogProb(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m(0L) > m(1L), m.toString)
    // doc 0: 4×ln(4/10) + 1×ln(1/10), mean
    val exp0 = (4 * math.log(0.4) + math.log(0.1)) / 5
    assert(math.abs(m(0L) - exp0) < 1e-9, s"${m(0L)} vs $exp0")
  }

  test("charClassProfile: exact per-class counts") {
    import spark.implicits._
    val out = Seq((1L, "Ab1 c,d\t2!")).toDF("id", "text")
      .select(TextAnalysis.charClassProfile(col("text")).as("p"))
      .select("p.n_chars", "p.n_latin", "p.n_digit", "p.n_space")
      .collect().head
    // "Ab1 c,d\t2!": 10 chars, letters A b c d = 4, digits 1 2 = 2,
    // spaces ' ' and tab = 2 (leaving , and ! as other)
    assert(out.getLong(0) == 10 && out.getLong(1) == 4 &&
      out.getLong(2) == 2 && out.getLong(3) == 2, out.toString)
  }

  test("ngramNovelty: first copy scores its grams, a mirror scores zero") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"), // exact mirror
      (3L, "the quick brown fox sat still today"),          // partial reuse
      (4L, "completely different words entirely here now"), // all novel
      (5L, "hi"))                                            // short-doc fallback gram
      .toDF("doc_id", "text")
    val out = TextAnalysis.ngramNovelty(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // doc 1: 7 distinct trigrams, all first occurrences
    assert(out(1L) == ((7L, 7L, 1.0)))
    // doc 2 mirrors doc 1 exactly: zero novelty
    assert(out(2L) == ((7L, 0L, 0.0)))
    // doc 3 shares the prefix trigrams "the quick brown", "quick brown
    // fox"; its other 3 are novel
    assert(out(3L)._1 == 5L && out(3L)._2 == 3L)
    // doc 4: fully novel
    assert(out(4L) == ((4L, 4L, 1.0)))
    // doc 5: < n tokens -> single whole-string fallback gram, novel
    assert(out(5L) == ((1L, 1L, 1.0)))
    // partition invariance: digests + exact counts only
    val r1 = TextAnalysis.ngramNovelty(docs.repartition(1), "doc_id",
      "text").orderBy("id").collect().toSeq
    val r8 = TextAnalysis.ngramNovelty(docs.repartition(8), "doc_id",
      "text").orderBy("id").collect().toSeq
    assert(r1 == r8)
  }
}
