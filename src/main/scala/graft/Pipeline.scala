package graft

import java.util.concurrent.ConcurrentHashMap

import scala.concurrent.{Await, Promise}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.etl.{CombineData, Process, TeamMetrics}
import graft.functions.Normalize

/** End-to-end pipeline driver — the Spark-native form of `pipeline.py`
  * (`run()`, `pipeline.py:49-141`) minus the out-of-engine web scraping
  * (stages 1/3 become file reads of previously-captured feeds).
  *
  * One lazy DAG per stage with parquet/CSV checkpoints only at stage
  * boundaries (the reference materializes CSV after every step on one
  * thread). "today" is an explicit parameter, not `datetime.today()`
  * (SURVEY §7.4 determinism).
  */
object Pipeline {

  case class Config(
      fixturesPath: String,
      historyPath: String,
      outDir: String,
      today: String,
      windowDays: Int = 90,
      lookbackMatches: Int = 7,
      aliases: Map[String, String] = Normalize.defaultAliases,
      // webhook notification target (`pipeline.py:123-139` parity);
      // callers wire sys.env.get("SLACK_WEBHOOK_URL") through for the
      // reference's env contract
      webhookUrl: Option[String] = None)

  case class Stats(
      fixturesCount: Long,
      teamsCount: Long,
      joinedRecords: Long,
      leaguesCovered: Long,
      dataCompletion: Double,
      startDate: String,
      endDate: String,
      lookbackMatches: Int)

  /** K1 — CSV sink with header, overwrite, ISO string dates
    * (`processors/data_processor.py:119-120` et al).
    */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** S7 — CSV scan with declared schema (no inference job). */
  def readCsv(spark: SparkSession, path: String,
              schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** Full pipeline + the reference's webhook notifications: success
    * message after the stats land, error message if any stage throws
    * (`pipeline.py:123-139`). Both sends are driver-side, after all
    * Spark actions, and can never fail the run.
    *
    * Cache discipline: helpers like `CombineData.combine` persist
    * plan-lifetime blocks under the tracked [[CacheScope]] contract. This
    * entry point owns a PRIVATE scope per run — every stage's sink has
    * consumed its plan by the time stats return, so `run` releases
    * exactly the caches this run's stages registered: never pre-existing
    * user caches, and never caches created CONCURRENTLY by other jobs
    * sharing the SparkSession (which both a blunt `clearCache()` and a
    * before/after `getPersistentRDDs` diff would also drop). A full run
    * leaves the session's cache state untouched — spec-pinned in
    * `SinksSpec`.
    */
  def run(spark: SparkSession, cfg: Config): Stats = {
    val scope = new CacheScope
    val sinks = new SinkMetrics(spark)
    try {
      val stats = runStages(spark, cfg, scope, sinks)
      cfg.webhookUrl.foreach(u =>
        Notify.send(Notify.successMessage(stats), u))
      stats
    } catch {
      case scala.util.control.NonFatal(e) =>
        cfg.webhookUrl.foreach(u => Notify.send(Notify.errorMessage(e), u))
        throw e
    } finally {
      sinks.close()
      scope.release()
    }
  }

  /** The `observe` metrics of one run's sinks. Spark's `Observation`
    * completes through a session-wide `ObservationManager` listener that
    * stays registered for the session's lifetime, and in Spark 4.1.2 that
    * listener rethrows the analysis error of every later query that fails
    * analysis, which the listener bus logs as an ERROR with a full stack.
    * This listener lives for one run and reads only queries that
    * succeeded; its metric names carry a per-run id, so runs sharing a
    * session never read each other's.
    */
  private final class SinkMetrics(spark: SparkSession)
      extends QueryExecutionListener {
    private val id = java.util.UUID.randomUUID().toString.replace("-", "")
    private val results =
      new ConcurrentHashMap[String, Promise[Map[String, Any]]]()
    private def slot(name: String) =
      results.computeIfAbsent(name, _ => Promise[Map[String, Any]]())
    spark.listenerManager.register(this)

    def observe(df: DataFrame, name: String, metrics: Seq[Column]): DataFrame =
      df.observe(s"${name}_$id", metrics.head, metrics.tail: _*)

    /** `name`'s metrics, once the sink that computed them has finished. */
    def get(name: String): Map[String, Any] =
      Await.result(slot(s"${name}_$id").future, Duration.Inf)

    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit =
      qe.observedMetrics.foreach { case (k, row) =>
        if (k.endsWith(id)) slot(k).trySuccess(row.getValuesMap(row.schema.fieldNames))
      }

    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()

    def close(): Unit = spark.listenerManager.unregister(this)
  }

  /** The five stages, each run once. Every `Stats` field is observed on
    * a sink that runs anyway, so the stats stage submits no Spark job:
    *   - the fixtures are cleaned once: the run's `scope` tracks
    *     `Process.cleanFixtures`, the fixtures sink (which adds only the
    *     O1 sort) materializes the rows, and the combined stage reads the
    *     cached rows back;
    *   - one `observe` on the fixtures sink yields the row count, the
    *     per-column non-null counts, the date range and the league and
    *     team sets; the empty-fixtures guard reads its row count;
    *   - one `observe` on the combined sink yields `joinedRecords`;
    *   - the history is cleaned once the same way: the scope tracks
    *     `Process.cleanHistory`, the history sink (clean + O2) and its
    *     range sampling read the cache, and the combined stage's
    *     `TeamMetrics.asOf` aggregates the cached rows.
    * `CollectMetrics` rejects DISTINCT aggregates, so the distinct counts
    * are the sizes of `collect_set`s. Their driver-side buffers hold one
    * entry per distinct league or team: dimensions, bounded by the
    * leagues and clubs that exist, not by the number of fixtures.
    */
  private def runStages(spark: SparkSession, cfg: Config,
                        scope: CacheScope, sinks: SinkMetrics): Stats = {
    val today = lit(cfg.today).cast("date")

    // Stage 2 — process fixtures (extract stage 1 is the captured file).
    val rawFixtures = readCsv(spark, cfg.fixturesPath, graft.model.Tables.matches)
      .withColumn("match_id", lit(null).cast("string"))
      .withColumn("kickoff_time", col("start_time"))
    val fixtures = scope.track(
      Process.cleanFixtures(rawFixtures, today, cfg.aliases))
    // pipeline_stats parity (`pipeline.py:103-118`, A8/A9/A12)
    val fixtureCols = Seq("match_id", "date", "home_team", "away_team",
      "league", "kickoff_time")
    val fxStats = Seq(
      count(lit(1)).as("n"),
      size(collect_set(col("league"))).as("leagues"),
      size(array_union(collect_set(col("home_team")),
        collect_set(col("away_team")))).as("teams"),
      min(col("date")).cast("string").as("start_date"),
      max(col("date")).cast("string").as("end_date")) ++
      fixtureCols.map(c => count(col(c)).as(s"nn_$c"))
    // The sink's plan holds `fixtures` as a subtree, so the cache serves
    // it. Observations sit above the sinks' sorts: below one, the range
    // partitioner's sampling job runs them too and every row counts twice.
    writeCsv(isoDates(sinks.observe(
      Process.processFixtures(rawFixtures, today, cfg.aliases), "fixtures",
      fxStats)), s"${cfg.outDir}/fixtures")
    val fx = sinks.get("fixtures")
    def fxCount(name: String): Long = fx(name).asInstanceOf[Number].longValue
    val nFix = fxCount("n")

    // F7 — non-empty guard (`processors/data_processor.py:43-46` et al):
    // nothing upcoming → emit empty stats, skip the downstream stages.
    if (nFix == 0) {
      val empty = Stats(0, 0, 0, 0, 0.0, "", "", cfg.lookbackMatches)
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(cfg.outDir))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"${cfg.outDir}/pipeline_stats.json"),
        s"{\"fixtures_count\":0,\"teams_count\":0,\"joined_records\":0}")
      return empty
    }

    // Stage 4 — process team history. The run's scope tracks the clean
    // rows and the cache serves them to the sink's plan (clean + O2): its
    // range sampling job materializes them, the sink and the metrics read
    // them back, so the history CSV is parsed and cleaned once.
    val rawHistory = readCsv(spark, cfg.historyPath, graft.model.Tables.teamHistory)
    val history = scope.track(
      Process.cleanHistory(rawHistory, today, cfg.aliases))
    writeCsv(isoDates(Process.processHistory(rawHistory, today, cfg.aliases)),
      s"${cfg.outDir}/history")

    // Stage 5a — each team's latest rolling metrics (A1–A3, as-of J1).
    val statCols = Seq("goals_for", "goals_against", "shots",
      "shots_on_target", "xg", "possession")
    val metrics = TeamMetrics.asOf(history, "team", "date",
      TeamMetrics.standard(statCols, resultCol = Some("result"),
        sumCols = Seq("goals_for", "goals_against")),
      windowDays = cfg.windowDays).drop("window_n")

    // Stage 5b — combined output (J1 + P3), corrected as-of form.
    val combined = CombineData.combine(
      fixtures, metrics, "team", "home_team", "away_team", scope = scope)
      .withColumn("match_quality",
        Normalize.matchQuality(col("home_win_ratio"), col("away_win_ratio")))
      .orderBy("date", "match_id")                          // O3
    writeCsv(isoDates(sinks.observe(combined, "joined",
      Seq(count(lit(1)).as("rows")))), s"${cfg.outDir}/football_data")

    // A NULL team is one row of the parity form's `union … distinct()`,
    // while `collect_set` drops NULLs.
    val nullTeam =
      fxCount("nn_home_team") < nFix || fxCount("nn_away_team") < nFix
    val stats = Stats(
      fixturesCount = nFix,
      teamsCount = fxCount("teams") + (if (nullTeam) 1 else 0),
      joinedRecords = sinks.get("joined")("rows").asInstanceOf[Long],
      leaguesCovered = fxCount("leagues"),
      dataCompletion =
        fixtureCols.map(c => fxCount(s"nn_$c").toDouble / nFix).sum /
          fixtureCols.size,
      startDate = Option(fx("start_date")).fold("")(_.toString),
      endDate = Option(fx("end_date")).fold("")(_.toString),
      lookbackMatches = cfg.lookbackMatches)

    // K4 — stats JSON sink.
    val statsJson =
      s"""{"fixtures_count":${stats.fixturesCount},"teams_count":${stats.teamsCount},
         |"joined_records":${stats.joinedRecords},"leagues_covered":${stats.leaguesCovered},
         |"data_completion":"${(stats.dataCompletion * 100).round}%",
         |"start_date":"${stats.startDate}","end_date":"${stats.endDate}",
         |"lookback_matches":${stats.lookbackMatches}}""".stripMargin
      .replace("\n", "")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(cfg.outDir))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"${cfg.outDir}/pipeline_stats.json"), statsJson)
    stats
  }

  /** Date columns → ISO strings at sinks (golden parity with the
    * reference's string dates, SURVEY §7.4).
    */
  private def isoDates(df: DataFrame): DataFrame =
    df.schema.fields.filter(_.dataType ==
        org.apache.spark.sql.types.DateType)
      .foldLeft(df)((d, f) =>
        d.withColumn(f.name, date_format(col(f.name), "yyyy-MM-dd")))
}
