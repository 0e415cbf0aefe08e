package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

import graft.functions.Normalize

/** A1–A3: time-windowed rolling team metrics — the Spark-native form of
  * `utils/data_utils.py:238-301` (`aggregate_team_stats`).
  *
  * The reference groups per team, sets a DatetimeIndex and runs pandas
  * `rolling('90D', min_periods=1)` per group, then concatenates the per-
  * group frames back (A4). In Spark all of that is ONE window spec:
  * `partitionBy(team).orderBy(epochSeconds).rangeBetween(-90d, 0)` —
  * a single hash-shuffle on the team key, after which every rolling
  * column is computed in the same sort pass. No per-group collect, no
  * concat, no second shuffle: at 100 TB this is one exchange total.
  *
  * Window-frame parity (SURVEY §7.4): pandas `rolling('90D')` is
  * time-based, inclusive of both edges, duplicate timestamps allowed,
  * min_periods=1. `rangeBetween(-90*86400, 0)` over epoch seconds has
  * identical semantics (RANGE frames include all peers of the current
  * row, matching pandas' duplicate-date behavior).
  *
  * J1 reads only each team's LATEST row of that window. [[asOf]] computes
  * exactly those rows with aggregates instead of windows: no sort and no
  * shuffle of the history, only of per-partition partial aggregates.
  * Both forms evaluate one [[Metric]] list, so their values are the same
  * bits.
  */
object TeamMetrics {

  val DefaultWindowDays = 90

  /** One rolling metric: the exact sum of `value` cast to `decimal` over
    * the frame, as a double, divided by the frame's row count when `mean`.
    * Decimal addition is exact, so the result does not depend on the
    * order the rows are summed in — reproducible bit-for-bit under any
    * partitioning, window or aggregate (the DuckDB-oracle hash gate needs
    * it, and at cluster scale task order is nondeterministic).
    */
  final case class Metric(name: String, value: Column, decimal: String,
                          mean: Boolean = true)

  /** The A1–A3 set, in [[rolling]]'s column order: `rolling_<s>` means of
    * `statCols` (DECIMAL(18,2)), `total_<s>` sums of `sumCols`, and the
    * `win_ratio` mean of `resultCol`'s W/D/L points (DECIMAL(9,1)).
    */
  def standard(statCols: Seq[String], resultCol: Option[String] = None,
               sumCols: Seq[String] = Nil): Seq[Metric] =
    statCols.map(s => Metric(s"rolling_$s", col(s), "decimal(18,2)")) ++
      sumCols.map(s => Metric(s"total_$s", col(s), "decimal(18,2)",
        mean = false)) ++
      resultCol.toSeq.map(r =>
        Metric("win_ratio", Normalize.resultPoints(col(r)), "decimal(9,1)"))

  /** `metrics` as columns, given the frame's sum and its row count `n`. */
  private def evaluate(metrics: Seq[Metric], sumOf: Column => Column,
                       n: Column): Seq[Column] =
    metrics.map { m =>
      val total = sumOf(m.value.cast(m.decimal)).cast("double")
      (if (m.mean) total / n else total).as(m.name)
    }

  /** The frame's order key: whole epoch seconds of `dateCol`. */
  private def epochSeconds(dateCol: String): Column =
    col(dateCol).cast("timestamp").cast("long")

  /** Shared rolling frame: one shuffle for every metric column. */
  def rollingWindow(teamCol: String, dateCol: String,
                    windowDays: Int = DefaultWindowDays): WindowSpec =
    Window.partitionBy(teamCol)
      .orderBy(epochSeconds(dateCol))
      .rangeBetween(-windowDays.toLong * 86400L, 0L)

  /** Rolling mean of each stat column (A1), rolling sums of goals (A2),
    * rolling win ratio (A3) — all over the same frame; see [[standard]].
    */
  def rolling(df: DataFrame, teamCol: String, dateCol: String,
              statCols: Seq[String], resultCol: Option[String] = None,
              sumCols: Seq[String] = Nil,
              windowDays: Int = DefaultWindowDays): DataFrame = {
    val w = rollingWindow(teamCol, dateCol, windowDays)
    val n = count(lit(1)).over(w)
    val metrics = standard(statCols, resultCol, sumCols)
    df.select((df.columns.toIndexedSeq.map(col) ++
      evaluate(metrics, c => sum(c).over(w), n)) :+ n.as("window_n"): _*)
  }

  /** The as-of dim of J1: one row per team holding its latest row's
    * `dateCol`, `metrics` and `window_n` — the values `latestPerTeam` of
    * the rolling window over the same `metrics` gives ([[rolling]] for
    * the [[standard]] set), bit for bit, without a window. `dateCol` is a
    * DATE or TIMESTAMP.
    *
    * The latest row's RANGE frame is every row of the team whose epoch
    * second lies in `[last − windowDays·86400, last]`, `last` the team's
    * maximum (peers of the latest row included). One aggregate finds
    * `last` per team, a broadcast join hands it to the rows, and one
    * aggregate over the rows inside the frame evaluates the metrics. Both
    * aggregates combine map-side, so only per-partition partial rows are
    * shuffled. A team whose dates are all NULL has a NULL `last`; its
    * latest row is a NULL-dated one, whose frame is all of its rows. The
    * NULL team is one team, as in the window's partitioning.
    *
    * Like the combined join that reads it, the per-team maxima are a
    * dimension: one row per team, broadcast.
    */
  def asOf(df: DataFrame, teamCol: String, dateCol: String,
           metrics: Seq[Metric],
           windowDays: Int = DefaultWindowDays): DataFrame = {
    val ts = epochSeconds(dateCol)
    val last = df.groupBy(col(teamCol).as("__team"))
      .agg(max(ts).as("__last"))
    // ts <= __last for every row of the team, so the lower edge decides
    val inFrame = col("__last").isNull ||
      ts >= col("__last") - windowDays.toLong * 86400L
    val n = count(lit(1))
    df.join(broadcast(last), col(teamCol) <=> col("__team"))
      .filter(inFrame)
      .groupBy(col(teamCol))
      .agg(max(col(dateCol)).as(dateCol),
        (evaluate(metrics, c => sum(c), n) :+ n.as("window_n")): _*)
  }

  /** W1/O5 — latest row per team (rank-1) / per-group top-N: ranking
    * window the reference only implies via sort-desc + head
    * (`scrapers/team_scraper.py:606,767`). `tieBreak` must make the
    * ordering total, or "first" is nondeterministic under parallelism
    * (SURVEY §7.4 keep='first' risk).
    */
  def latestPerTeam(df: DataFrame, teamCol: String, dateCol: String,
                    tieBreak: Seq[Column], n: Int = 1): DataFrame = {
    val order = col(dateCol).desc +: tieBreak.map(_.desc)
    val w = Window.partitionBy(teamCol).orderBy(order: _*)
    df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= n)
      .drop("rn")
  }
}
