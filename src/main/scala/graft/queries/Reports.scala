package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Normalize

/** Report/analytics queries — `examples/visualize_data.py:59-314` and the
  * stats report in `daily_match_scraper.py:656-723`. Chart rendering (K5)
  * is out of engine; these return the small aggregate Datasets a plotting
  * layer would `collect()`.
  *
  * All means are exact decimal-sum / count (order-independent → stable
  * under any partitioning; see TeamMetrics).
  */
object Reports {

  private def meanOf(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double") / count(lit(1))

  /** A5 — team summary multi-agg (`examples/visualize_data.py:154-169`). */
  def teamSummary(history: DataFrame, teamCol: String, resultCol: String,
                  statCols: Seq[String]): DataFrame = {
    val winRatio = (sum(Normalize.resultPoints(col(resultCol))
      .cast("decimal(9,1)")).cast("double") / count(lit(1))).as("win_ratio")
    val means = statCols.map(c => meanOf(col(c)).as(s"avg_$c"))
    history.groupBy(col(teamCol))
      .agg(winRatio, means :+ count(lit(1)).as("matches"): _*)
  }

  /** A6 — count by league, most-played first (`:70-71`). */
  def countByKey(df: DataFrame, key: String): DataFrame =
    df.groupBy(col(key)).count().orderBy(desc("count"), col(key))

  /** O6 — global top-N with a total order (ties broken by key so the
    * result SET is deterministic — `sort_values().head(10)` in pandas is
    * order-dependent).
    */
  def topN(df: DataFrame, by: Column, tieBreak: Column, n: Int): DataFrame =
    df.orderBy(by.desc, tieBreak).limit(n)

  /** K5 — chart-sink boundary (`examples/visualize_data.py:74-314`):
    * charts render driver-side from SMALL aggregates; the collect is
    * guarded so an unaggregated frame cannot flood the driver.
    */
  def chartData(df: DataFrame, maxRows: Int = 10000)
      : Array[org.apache.spark.sql.Row] = {
    val rows = df.limit(maxRows + 1).collect()
    require(rows.length <= maxRows,
      s"chart data exceeds $maxRows rows; aggregate further before collecting")
    rows
  }

  /** A11 — stats report (`daily_match_scraper.py:670-701`): date coverage
    * summary in one aggregation.
    */
  def dateCoverage(df: DataFrame, dateCol: String): DataFrame =
    df.agg(
      min(col(dateCol)).as("start_date"),
      max(col(dateCol)).as("end_date"),
      countDistinct(col(dateCol)).as("days_covered"),
      count(lit(1)).as("total_rows"))
}
