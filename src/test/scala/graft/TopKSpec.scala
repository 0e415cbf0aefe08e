package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-key top-k as `row_number() <= k` (w24, d21, n10, t20, t31): Spark
  * infers a `WindowGroupLimit` that prunes each map partition to k rows
  * per key before the exchange. Its rows must equal the plain window's,
  * the plan with the limit inference switched off.
  */
class TopKSpec extends SparkSpec {
  import spark.implicits._

  private def sample = Seq(
    ("a", 1L, 10.0), ("a", 2L, 30.0), ("a", 3L, 30.0), ("a", 4L, 20.0),
    ("b", 5L, 5.0), ("b", 6L, 1.0),
    ("c", 7L, 9.0)
  ).toDF("key", "id", "score").repartition(4)

  private def topK(df: DataFrame, order: Seq[org.apache.spark.sql.Column],
                   k: Int): DataFrame =
    df.withColumn("rn", row_number().over(
        Window.partitionBy("key").orderBy(order: _*)))
      .filter(col("rn") <= k).drop("rn")

  /** Rows of the window WITHOUT the inferred group limit. */
  private def plainWindow(df: => DataFrame): Seq[org.apache.spark.sql.Row] = {
    val key = "spark.sql.optimizer.windowGroupLimitThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val d = df
      assert(!d.queryExecution.optimizedPlan.toString
        .contains("WindowGroupLimit"))
      d.collect().toSeq
    } finally spark.conf.set(key, prev)
  }

  test("plan is partial prune -> exchange -> sort -> final prune") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val df = topK(sample, Seq(col("score").desc, col("id").asc), 2)
    assert(df.orderBy("key", "id").as[(String, Long, Double)].collect()
      .toSeq == Seq(("a", 2L, 30.0), ("a", 3L, 30.0), ("b", 5L, 5.0),
        ("b", 6L, 1.0), ("c", 7L, 9.0)))
    // AQE's toString prints Final + Initial sections; audit the final one
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // exactly one hash exchange (the repartition(4) is round-robin)
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1, plan)
    // the tree prints top-down: Final, the exchange, then Partial — so
    // Spark still prunes each map partition before the shuffle
    val limits = plan.linesIterator.zipWithIndex
      .filter(_._1.contains("WindowGroupLimit")).toSeq
    assert(limits.map(_._1.contains("Final")) == Seq(true, false), plan)
    assert(limits.map(_._1.contains("Partial")) == Seq(false, true), plan)
    val exchange = plan.linesIterator.indexWhere(
      _.contains("Exchange hashpartitioning"))
    assert(limits(0)._2 < exchange && exchange < limits(1)._2, plan)
  }

  test("ascending order and k larger than any group") {
    val order = Seq(col("score").asc, col("id").asc)
    assert(topK(sample, order, 2).orderBy("key", "id").collect().toSeq ==
      plainWindow(topK(sample, order, 2).orderBy("key", "id")))
    assert(topK(sample, order, 10).count() == 7)
  }

  test("null keys group together; null sort values follow SortOrder defaults") {
    val df = Seq(
      (Some("a"), 1L, Some(5.0)), (None, 2L, Some(3.0)),
      (None, 3L, Some(7.0)), (None, 4L, None), (Some("a"), 5L, None)
    ).toDF("key", "id", "score").repartition(3)
    val order = Seq(col("score").desc, col("id").asc)
    // desc puts NULL scores last: key a keeps 1 and 5, key NULL 3 and 2
    assert(topK(df, order, 2).orderBy("id").select("id").as[Long].collect()
      .toSeq == Seq(1L, 2L, 3L, 5L))
    assert(topK(df, order, 2).orderBy("id").collect().toSeq ==
      plainWindow(topK(df, order, 2).orderBy("id")))
  }

  test("randomized parity with the Window formulation (nulls, dup scores)") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val rows = (1 to 400).map { i =>
        val score: Option[Double] =
          if (rnd.nextInt(10) == 0) None
          else Some(rnd.nextInt(25).toDouble) // heavy ties on purpose
        (s"k${rnd.nextInt(15)}", i.toLong, score)
      }
      val df = rows.toDF("key", "id", "score")
        .repartition(1 + rnd.nextInt(8))
      for (k <- Seq(1, 2, 5)) {
        def q = topK(df, Seq(col("score").desc, col("id").asc), k)
          .orderBy("key", "id")
        assert(q.collect().toSeq == plainWindow(q), s"trial=$trial k=$k")
      }
    }
  }
}
