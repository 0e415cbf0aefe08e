package graft

import org.apache.spark.sql.functions._

import graft.etl.TeamMetrics

/** Randomized brute-force parity for the 90-day rolling window: Spark's
  * rangeBetween result must equal an O(n²) in-memory reference that
  * applies the pandas `rolling('90D', min_periods=1)` definition
  * literally — [t-90d, t] inclusive both ends, duplicate timestamps are
  * peers, every row emits (SURVEY §7.4).
  */
case class RollRec(team: String, epochDay: Int, value: Double)

/** A history row for the as-of property: NULL-able team, day, second of
  * the day, stat and result.
  */
case class AsOfRec(team: String, epochDay: Option[Int], second: Int,
                   value: Option[Double], result: String)

class RollingPropertySpec extends SparkSpec {
  import spark.implicits._

  test("rolling mean/sum/count match an O(n^2) reference on random data") {
    val rnd = new scala.util.Random(20260812L)
    val recs = (1 to 400).map { _ =>
      RollRec(s"t${rnd.nextInt(6)}", rnd.nextInt(400),
        (rnd.nextInt(2000) - 1000) / 100.0) // 2-decimal values, exact in dec
    }

    // brute-force reference: for each row, scan all rows of the team
    def expected(r: RollRec): (Double, Double, Long) = {
      val window = recs.filter(o => o.team == r.team &&
        o.epochDay <= r.epochDay && o.epochDay >= r.epochDay - 90)
      // exact arithmetic: sum cents as Long, divide once
      val cents = window.map(o => math.round(o.value * 100)).sum
      val n = window.size.toLong
      (cents / 100.0 / n, cents / 100.0, n)
    }

    val df = recs.toDF("team", "epochDay", "value")
      .withColumn("date", date_add(lit("2024-01-01").cast("date"),
        col("epochDay")))
    val rolled = TeamMetrics.rolling(df, "team", "date", Seq("value"),
        sumCols = Seq("value"))
      .select("team", "epochDay", "value", "rolling_value", "total_value",
        "window_n")
      .collect()

    // duplicate (team, day, value) rows: compare as sorted multisets per key
    val got = rolled.map(r => ((r.getString(0), r.getInt(1)),
      (r.getDouble(3), r.getDouble(4), r.getLong(5)))).toSeq.sorted
    val want = recs.map(r => ((r.team, r.epochDay), expected(r))).sorted
    assert(got.size == want.size)
    got.zip(want).foreach { case ((gk, gv), (wk, wv)) =>
      assert(gk == wk, s"key mismatch $gk vs $wk")
      assert(math.abs(gv._1 - wv._1) < 1e-9 && gv._2 == wv._2 &&
        gv._3 == wv._3,
        s"value mismatch at $gk: got $gv want $wv")
    }
  }

  test("asOf equals latestPerTeam(rolling) on its columns, bit for bit") {
    val rnd = new scala.util.Random(20261019L)
    def rec(team: String, day: Option[Int]): AsOfRec =
      AsOfRec(team, day, rnd.nextInt(86400),
        if (rnd.nextInt(10) == 0) None
        else Some((rnd.nextInt(2000) - 1000) / 100.0),
        Seq("W", "D", "L", "x", null)(rnd.nextInt(5)))
    val random = (1 to 300).map(_ =>
      rec(s"t${rnd.nextInt(5)}", Some(rnd.nextInt(200))))
    // the latest day twice, then rows exactly 1, 7, 90 days before it
    // and one day further out
    val edges = Seq(300, 300, 299, 298, 293, 292, 210, 209, 150)
      .map(d => rec("edges", Some(d)))
    val special =
      Seq(rec("solo", Some(42))) ++                       // one-row team
      Seq(10, 10, 55, 100).map(d => rec(null, Some(d))) ++ // the NULL team
      Seq.fill(3)(rec("undated", None)) ++                // all dates NULL
      Seq(rec("mixed", None), rec("mixed", Some(7)), rec("mixed", Some(5)))
    val base = rnd.shuffle(random ++ edges ++ special).toDF()
      .withColumn("date", date_add(lit("2024-01-01").cast("date"),
        col("epochDay")))
      .withColumn("ts", (col("date").cast("timestamp").cast("long") +
        col("second")).cast("timestamp"))
      .repartition(3)
    val cols = Seq("team", "date", "rolling_value", "total_value",
      "win_ratio", "window_n")

    for (dateCol <- Seq("date", "ts"); days <- Seq(1, 7, 90)) {
      val df = base.drop(if (dateCol == "date") "ts" else "date")
        .withColumnRenamed(dateCol, "date")
      val want = TeamMetrics.latestPerTeam(
          TeamMetrics.rolling(df, "team", "date", Seq("value"),
            Some("result"), Seq("value"), days),
          "team", "date", Nil)
        .select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
      val got = TeamMetrics.asOf(df, "team", "date", TeamMetrics.standard(
          Seq("value"), Some("result"), Seq("value")), days)
        .select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
      assert(want.size == 10, s"$dateCol/$days: teams $want")
      assert(got == want, s"$dateCol, $days days")
    }
  }
}
