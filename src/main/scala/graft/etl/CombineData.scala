package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** J1 — the reference's core query: fixtures double-left-joined against
  * team metrics with `home_`/`away_` column-prefix fan-out
  * (`utils/data_utils.py:122-191`; prefix fan-out `:153-172` = P3).
  *
  * Scale design: the metrics side is one row per team — a dimension, as
  * `TeamMetrics.asOf` builds it. Both legs are `broadcast()` hash joins:
  * zero shuffle of the (huge) fixtures fact at any scale. The reference
  * instead does two pandas merges on a single thread.
  *
  * Join-multiplicity semantics (SURVEY §7.4): the reference joins on team
  * only, so a fixture matches EVERY (team, date) metrics row — row
  * multiplication. `faithful = true` reproduces that bug-compatibly over
  * the raw metrics rows; the default joins the per-team dim (the
  * corrected as-of form the combined output implies).
  */
object CombineData {

  /** Rename every non-key column of `metrics` to `prefix<col>` (P3). */
  def prefixed(metrics: DataFrame, teamCol: String, prefix: String): DataFrame =
    metrics.select(col(teamCol) +: metrics.columns.toIndexedSeq
      .filter(_ != teamCol).map(c => col(c).as(s"$prefix$c")): _*)

  /** @param fixtures  fact side with `homeKey`/`awayKey` team columns
    * @param metrics   one row per team (`TeamMetrics.asOf`), or with
    *                  `faithful` the raw per-(team, date) rows
    * @param scope     tracks the plan-lifetime cache for explicit release
    *                  by the scope's owner (harness default; Pipeline.run
    *                  passes a per-run scope)
    */
  def combine(fixtures: DataFrame, metrics: DataFrame,
              teamCol: String, homeKey: String, awayKey: String,
              faithful: Boolean = false,
              scope: graft.CacheScope = graft.CacheScope.harness)
      : DataFrame = {
    // The per-team dim feeds BOTH join legs; the home/away alias
    // projections differ, so Spark cannot reuse the broadcast exchange and
    // would compute the upstream metrics aggregates twice. Persisting the
    // tiny dim computes it once (plan-audited: `graft.Explain`
    // j01_combined shows one InMemoryRelation of the metrics aggregates
    // under both broadcasts).
    // Lifecycle: the cached blocks outlive this call (the returned plan
    // references them lazily), so they register in `scope` and the owner
    // releases them once the joined result is consumed.
    val m = if (faithful) metrics else scope.track(metrics)
    // join keys get unique names so the post-join drop is by-name
    // (dropping by Column reference silently no-ops once the attribute
    // is wrapped in a broadcast subtree)
    val home = prefixed(m, teamCol, "home_").withColumnRenamed(teamCol, "__hk")
    val away = prefixed(m, teamCol, "away_").withColumnRenamed(teamCol, "__ak")
    fixtures
      .join(broadcast(home), fixtures(homeKey) === col("__hk"), "left")
      .drop("__hk")
      .join(broadcast(away), fixtures(awayKey) === col("__ak"), "left")
      .drop("__ak")
  }
}
