package graft

import org.apache.spark.sql.functions._

import graft.etl.{CombineData, TeamMetrics}

/** J1 combined query semantics (`utils/data_utils.py:122-191`): prefix
  * fan-out, left-join nullability, and the faithful-vs-corrected join
  * multiplicity (SURVEY §7.4).
  */
class CombineDataSpec extends SparkSpec {
  import spark.implicits._

  private val fixtures = Seq(
    ("m1", "2025-05-01", "A", "B"),
    ("m2", "2025-05-02", "B", "Z")  // Z has no metrics
  ).toDF("match_id", "fdate", "home_team", "away_team")

  private val metrics = Seq(
    ("A", "2025-04-01", 0.8),
    ("A", "2025-04-20", 0.6), // latest for A
    ("B", "2025-04-10", 0.3)
  ).toDF("team", "date", "win_ratio")
    .withColumn("date", col("date").cast("date"))

  /** The corrected form's dim: each team's latest row. A one-day window
    * holds only that row, so its mean is the row's own ratio.
    */
  private val dim = TeamMetrics.asOf(metrics, "team", "date",
    Seq(TeamMetrics.Metric("win_ratio", col("win_ratio"), "decimal(9,1)")),
    windowDays = 1).drop("window_n")

  test("corrected mode: one row per fixture, latest metrics per team") {
    val out = CombineData.combine(fixtures, dim, "team",
      "home_team", "away_team")
    assert(out.count() == 2)
    val m1 = out.filter(col("match_id") === "m1").collect()(0)
    assert(m1.getAs[Double]("home_win_ratio") == 0.6) // latest, not 0.8
    assert(m1.getAs[Double]("away_win_ratio") == 0.3)
  }

  test("left join: unmatched away side is null, fixture kept") {
    val out = CombineData.combine(fixtures, dim, "team",
      "home_team", "away_team")
    val m2 = out.filter(col("match_id") === "m2").collect()(0)
    assert(m2.getAs[Double]("home_win_ratio") == 0.3)
    assert(m2.isNullAt(m2.fieldIndex("away_win_ratio")))
  }

  test("faithful mode reproduces the reference's row multiplication") {
    val out = CombineData.combine(fixtures, metrics, "team",
      "home_team", "away_team", faithful = true)
    // m1: home A matches 2 metric rows × away B 1 row = 2 rows
    assert(out.filter(col("match_id") === "m1").count() == 2)
  }

  test("prefix fan-out renames every non-key column") {
    val out = CombineData.combine(fixtures, dim, "team",
      "home_team", "away_team")
    val cols = out.columns.toSet
    assert(cols.contains("home_win_ratio") && cols.contains("away_win_ratio"))
    assert(cols.contains("home_date") && cols.contains("away_date"))
    assert(!cols.contains("team") && !cols.contains("win_ratio"))
  }

  test("metrics legs are broadcast (no shuffle of the fact side)") {
    val out = CombineData.combine(fixtures, dim, "team",
      "home_team", "away_team")
    val physical = out.queryExecution.executedPlan.toString
    assert(physical.contains("BroadcastHashJoin"),
      s"expected broadcast joins, got:\n$physical")
  }
}
