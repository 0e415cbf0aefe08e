package graft

import org.apache.spark.sql.functions._

import graft.llm.LogReg

/** Integer logistic regression: convergence direction on planted
  * separable data, determinism under repartitioning, and the
  * intercept/unseen-bucket conventions the oracle relies on.
  */
class LogRegSpec extends SparkSpec {
  import spark.implicits._

  // planted separable corpus: positives carry "goodmark", negatives
  // "badmark"; SHARED noise tokens only (features are bucket presence,
  // so a per-doc unique token landing in a mark's bucket would pollute
  // the signal — verified: the marks and noise occupy distinct mod-16
  // md5 buckets)
  private def docs = (0L until 60L).map { i =>
    val pos = i % 2 == 0
    val mark = if (pos) "goodmark" else "badmark"
    (i, pos, s"filler the and $mark tail${i % 7}")
  }.toDF("doc_id", "is_pos", "text")

  test("planted separable data: 10 GD rounds classify the training set, " +
      "and weights move in the signal direction") {
    val feats = LogReg.hashedCounts(docs, "doc_id", "is_pos", "text",
      buckets = 16)
    val w = LogReg.fit(feats, iters = 10, lrDen = 4L)
    val scored = LogReg.margins(feats, w)
      .collect().map(r => (r.getBoolean(1), r.getLong(2)))
    assert(scored.nonEmpty)
    assert(scored.forall { case (y, m) => (m > 0) == y },
      scored.take(6).mkString(", "))
    // the signal buckets moved away from zero
    assert(w.values.exists(_ != 0L))
    spark.catalog.clearCache()
  }

  test("fit is deterministic under repartitioning (exact integer " +
      "arithmetic, no order dependence)") {
    val feats = LogReg.hashedCounts(docs, "doc_id", "is_pos", "text",
      buckets = 16)
    val w1 = LogReg.fit(feats, iters = 3, lrDen = 10L)
    val w2 = LogReg.fit(feats.repartition(13), iters = 3, lrDen = 10L)
    assert(w1 == w2)
    spark.catalog.clearCache()
  }

  test("margins: unseen buckets score 0 (the oracle's left-join " +
      "coalesce convention)") {
    val feats = Seq((1L, true, 99L, 5L), (1L, true, -1L, 1L))
      .toDF("id", "y", "b", "c")
    val m = LogReg.margins(feats, Map(-1L -> 7L))
      .collect().map(r => r.getLong(2)).head
    assert(m == 7L) // bucket 99 unseen -> 0; intercept 1 * 7
  }

  test("persistence: weights survive the parquet round trip losslessly " +
      "and score-after-load ≡ score-after-fit") {
    val feats = LogReg.hashedCounts(docs, "doc_id", "is_pos", "text",
      buckets = 16)
    val w = LogReg.fit(feats, iters = 5, lrDen = 4L)
    val dir = Registry.scratchDir("spec_lr_weights") + "/w"
    LogReg.saveWeights(spark, w, dir)
    val loaded = LogReg.loadWeights(spark, dir)
    assert(loaded == w) // exact BIGINT columns: bit-lossless
    val afterFit = LogReg.margins(feats, w)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val afterLoad = LogReg.margins(feats, loaded)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(afterLoad == afterFit)
    spark.catalog.clearCache()
  }

  test("label-free apply path: scores(features(docs)) == the labeled " +
      "margins (the streaming scorer's contract)") {
    val feats = LogReg.hashedCounts(docs, "doc_id", "is_pos", "text",
      buckets = 16)
    val w = LogReg.fit(feats, iters = 5, lrDen = 4L)
    val viaMargins = LogReg.margins(feats, w)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val viaScores = LogReg.scores(
        LogReg.features(docs, "doc_id", "text", buckets = 16), w)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaScores == viaMargins)
    spark.catalog.clearCache()
  }

  test("calibrationSweep counts are the sequential definition; " +
      "operatingPoint picks max-F1 with ties to the smaller threshold") {
    import spark.implicits._
    // hand-built margins: 4 positives at high scores, 2 negatives
    // interleaved — every confusion cell checkable by hand
    val sc = Seq((1L, true, 30L), (2L, true, 20L), (3L, false, 25L),
      (4L, true, 10L), (5L, false, 5L), (6L, true, 3L))
      .toDF("id", "y", "m")
    val cal = LogReg.calibrationSweep(sc)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    spark.catalog.clearCache()
    // thr=30: keep {30} -> tp1 fp0 fn3 tn2; thr=3: keep all -> tp4 fp2
    assert(cal(30L) == ((1L, 0L, 3L, 2L)))
    assert(cal(25L) == ((1L, 1L, 3L, 1L)))
    assert(cal(20L) == ((2L, 1L, 2L, 1L)))
    assert(cal(10L) == ((3L, 1L, 1L, 1L)))
    assert(cal(3L) == ((4L, 2L, 0L, 0L)))
    // F1 micro: thr=10 -> 6e6/8=750000; thr=3 -> 8e6/10=800000 (max);
    // thr=20 -> 4e6/7=571428
    val op = LogReg.operatingPoint(LogReg.calibrationSweep(sc)).collect()
    spark.catalog.clearCache()
    assert(op.length == 1)
    assert(op(0).getLong(0) == 3L, op(0).toString)   // thr_micro
    assert(op(0).getLong(1) == 800000L, op(0).toString) // f1_micro
    // tie case on a hand-built sweep frame: (tp1,fp0,fn1) and
    // (tp2,fp2,fn0) both give micro-F1 = 666666 — the SMALLER
    // threshold wins (keep more)
    val tie = Seq((5L, 1L, 0L, 1L, 9L), (3L, 2L, 2L, 0L, 7L))
      .toDF("thr_micro", "tp", "fp", "fn", "tn")
    val op2 = LogReg.operatingPoint(tie).collect()
    spark.catalog.clearCache()
    assert(op2(0).getLong(0) == 3L, op2(0).toString)
    assert(op2(0).getLong(1) == 666666L, op2(0).toString)
  }

  test("labelledDocs/labelledSplit chains (t34-t37) output rows " +
      "pinned at sf0.001") {
    Seq("t34_logreg_quality" -> 160L, "t35_logreg_persisted" -> 160L,
      "t36_filter_calibration" -> 147L, "t37_operating_point" -> 1L)
      .foreach { case (name, rows) =>
        val n = SparkEntry.queries(name)(spark, sf).count()
        CacheScope.harness.release()
        spark.catalog.clearCache()
        assert(n == rows, name)
      }
  }
}
