package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._

import graft.llm.TextAnalysis
import graft.model.Tables

/** Kneser-Ney trigram LM: short-doc and unseen-ngram edges, backoff
  * ordering, and (near-)normalization of the smoothed distribution.
  */
class KnTrigramSpec extends SparkSpec {
  import spark.implicits._

  private val train = Seq(
    (1L, "a b c a b c a b c d e f"),
    (2L, "a b c d e f a b d"),
    (3L, "x y z x y z")).toDF("doc_id", "text")

  private def score(docs: Seq[(Long, String)]) =
    TextAnalysis.knTrigramScores(train,
        docs.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), Option(r.get(2)).map(_.toString.toDouble)))
      .toMap

  test("short docs surface with zero trigrams and NULL score") {
    val out = score(Seq((10L, "a b"), (11L, ""), (12L, "a b c")))
    assert(out(10L) == ((0L, None)))
    assert(out(11L) == ((0L, None)))
    assert(out(12L)._1 == 1L && out(12L)._2.isDefined)
  }

  test("backoff ordering: seen > unseen-in-context > unseen context > OOV") {
    val out = score(Seq(
      (20L, "a b c"),   // frequent seen trigram
      (21L, "a b f"),   // seen context (a,b), unseen continuation
      (22L, "c a x"),   // seen words, unseen context (c,a) middle backoff
      (23L, "q q q")))  // fully OOV — uniform floor only
    val lp = (id: Long) => out(id)._2.get
    // seen trigram beats an unseen continuation in the same context,
    // which beats a weaker (middle-backoff) context. The fully-OOV
    // floor is NOT comparable on a tiny corpus: 1/(ntot+V+1) can
    // exceed a twice-discounted backoff product — assert only that it
    // stays below the seen path and finite.
    assert(lp(20L) > lp(21L), s"${lp(20L)} vs ${lp(21L)}")
    assert(lp(21L) > lp(22L), s"${lp(21L)} vs ${lp(22L)}")
    assert(lp(20L) > lp(23L))
    // every path yields a FINITE negative log-prob (no zero-prob log)
    Seq(20L, 21L, 22L, 23L).foreach(id =>
      assert(lp(id) < 0 && !lp(id).isNegInfinity))
  }

  test("smoothed distribution (nearly) normalizes over the vocabulary") {
    // sum over all vocab w3 of P(w3 | a, b): each probe doc holds one
    // trigram, so exp(avg_logp) recovers its probability (9-dp round)
    val vocab = Seq("a", "b", "c", "d", "e", "f", "x", "y", "z")
    val probes = vocab.zipWithIndex.map { case (w, i) =>
      (100L + i, s"a b $w")
    }
    val out = score(probes)
    val mass = probes.map { case (id, _) => math.exp(out(id)._2.get) }.sum
    // < 1 (the held-out floor keeps OOV mass aside), but close
    assert(mass > 0.9 && mass <= 1.0 + 1e-9, mass.toString)
  }

  test("parts == whole: merged batch stats score bit-identically to " +
    "the full-corpus fit, incl. through a parquet round-trip") {
    val a = train.filter(col("doc_id") <= 2)
    val b = train.filter(col("doc_id") > 2)
    val probes = Seq((30L, "a b c x y z"), (31L, "a b f q q"),
      (32L, "x y z a b c d")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id").collect().map(_.toSeq).toSeq
    val whole = TextAnalysis.knTrigramScores(train, probes,
      "doc_id", "text")
    val tmp = java.nio.file.Files
      .createTempDirectory("kn-parts").toString
    TextAnalysis.saveKnStats(
      TextAnalysis.knStats(a, "doc_id", "text"), s"$tmp/a")
    val merged = TextAnalysis.mergeKnStats(
      TextAnalysis.loadKnStats(spark, s"$tmp/a"),
      TextAnalysis.knStats(b, "doc_id", "text"))
    val parts = TextAnalysis.knScoreFromStats(probes, merged,
      "doc_id", "text")
    assert(rows(parts) == rows(whole))
    // and the merged stats themselves equal the whole-corpus stats
    val wholeStats = TextAnalysis.knStats(train, "doc_id", "text")
      .orderBy("kind", "w1", "w2", "w3").collect().map(_.toSeq).toSeq
    val mergedStats = merged
      .orderBy("kind", "w1", "w2", "w3").collect().map(_.toSeq).toSeq
    assert(mergedStats == wholeStats)
  }

  test("KN entries (t30, t31, t32): sf0.001 checksums pinned") {
    // (rows, xxhash64 sum) through Bench.checksum; t32 scores from
    // folded stats what t30 scores from one fit, so the two agree
    val pins = Seq(
      "t30_kn_trigram_lm" -> (100L, -7054782743861372501L),
      "t31_kn_perplexity_buckets" -> (500L, 7679093905631607998L),
      "t32_kn_incremental" -> (100L, -7054782743861372501L))
    pins.foreach { case (name, (n, chk)) =>
      val got = Bench.checksum(SparkEntry.queries(name)(spark, sf))
      assert(got == (n, Some(chk)), s"$name: $got")
    }
  }

  test("one training pass: the train slice is scanned twice (trigram " +
    "types, unigrams) and every other stat consumer reuses an exchange") {
    val docs = Tables.table(spark, sf, "documents")
    val out = TextAnalysis.knTrigramScores(docs.filter(col("doc_id") < 400),
      docs.filter(col("doc_id") >= 400), "doc_id", "text")
    out.collect()
    val plan = out.queryExecution.executedPlan
    object H extends AdaptiveSparkPlanHelper
    val trainScans = H.collect(plan) {
      case s: FileSourceScanExec
          if s.dataFilters.exists(_.sql.contains("< 400")) => s
    }
    assert(trainScans.size <= 2, plan.toString)
    // tri/ctx/mid share the trigram-type exchange (2 reuses) and
    // mid/mctx/low/glob the mid exchange (3 reuses)
    def reusedWith(cols: Set[String]) = H.collect(plan) {
      case r: ReusedExchangeExec
          if r.child.output.map(_.name).toSet == cols => r
    }.size
    assert(reusedWith(Set("w1", "w2", "w3", "count")) == 2, plan.toString)
    assert(reusedWith(Set("w2", "w3", "count")) == 3, plan.toString)
  }
}
