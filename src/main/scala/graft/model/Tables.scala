package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Table loaders + declared schemas.
  *
  * The reference (osegonte/football-etl) infers schemas dynamically from
  * scraped dicts (`daily_match_scraper.py:445-535`); we upgrade to declared
  * `StructType`s per SURVEY.md §1.2 and keep permissive ingest for raw
  * feeds. Synthetic scale fixtures (TESTDATA.md) are parquet and
  * self-describing.
  */
object Tables {

  /** Read one synthetic testdata table (TESTDATA.md). Parquet scan:
    * Catalyst pushes filters + prunes columns at the source, so callers
    * should filter/select early and let the optimizer do the rest.
    *
    * The footer-inferred schema is memoized per path for the JVM's
    * lifetime — the catalog-metadata role a metastore plays in
    * production. Without it EVERY query load runs a schema-inference
    * Spark job (~30-40 ms); a 337-query sweep pays that ~1000×. This
    * caches METADATA only (Spark itself already caches file listings
    * session-wide the same way); table data is re-read from parquet on
    * every use. The entry is keyed by the data files' (name, length,
    * mtime) too — one listing, no job — so a table rewritten in place
    * (a new schema) is re-inferred instead of read through the old
    * schema, which would null-fill its new columns.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val stamp = fileStamp(spark, path)
    val (_, st) = schemaCache.compute(path, (p, old) =>
      if (old != null && old._1 == stamp) old
      else (stamp, spark.read.parquet(p).schema))
    spark.read.schema(st).parquet(path)
  }

  /** (name, length, mtime) of the files under `path` (a parquet file or
    * directory); empty when the path is missing.
    */
  private def fileStamp(spark: SparkSession, path: String)
      : Seq[(String, Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .map(f => (f.getPath.getName, f.getLen, f.getModificationTime))
      .sorted
  }

  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Seq[(String, Long, Long)], StructType)]()

  // -- Football-domain schemas (SURVEY §1.2, FIXTURES.md) -----------------

  /** Flat matches table — fieldnames at `daily_match_scraper.py:543-546`. */
  val matches: StructType = StructType(Seq(
    StructField("date", DateType),
    StructField("id", StringType),
    StructField("home_team", StringType),
    StructField("away_team", StringType),
    StructField("league", StringType),
    StructField("country", StringType),
    StructField("start_timestamp", LongType),
    StructField("start_time", StringType),
    StructField("status", StringType),
    StructField("venue", StringType),
    StructField("round", StringType),
    StructField("source", StringType)
  ))

  /** Standardized fixtures — `scrapers/fixtures_scraper.py:115-126`. */
  val fixtures: StructType = StructType(Seq(
    StructField("match_id", StringType),
    StructField("date", DateType),
    StructField("home_team", StringType),
    StructField("away_team", StringType),
    StructField("league", StringType),
    StructField("country", StringType),
    StructField("venue", StringType),
    StructField("kickoff_time", StringType),
    StructField("status", StringType),
    StructField("competition_stage", StringType)
  ))

  /** Per-(team, past match) history superset — `scrapers/team_scraper.py:
    * 614-694` base + `:509-572` detail stats; heterogeneous rows (basic vs
    * detailed scrape) so every stat is nullable double and unions use
    * `unionByName(allowMissingColumns = true)`.
    */
  val teamHistory: StructType = {
    val base = Seq(
      StructField("team", StringType),
      StructField("season", StringType),
      StructField("date", DateType),
      StructField("competition", StringType),
      StructField("venue", StringType),
      StructField("opponent", StringType),
      StructField("result", StringType),
      StructField("goals_for", DoubleType),
      StructField("goals_against", DoubleType),
      StructField("is_home", IntegerType),
      StructField("home_team", StringType),
      StructField("away_team", StringType),
      StructField("match_id", StringType),
      StructField("match_url", StringType)
    )
    val stats = Seq(
      "xg", "xg_against", "possession", "total_passes", "pass_completion_pct",
      "shots", "shots_on_target", "big_chances_created", "corners",
      "fouls_committed", "yellow_cards", "red_cards"
    )
    val detail = stats.flatMap(s =>
      Seq(StructField(s, DoubleType), StructField(s"opponent_$s", DoubleType)))
    val derived = Seq(
      StructField("shot_accuracy", DoubleType),
      StructField("conversion_rate", DoubleType))
    StructType(base ++ detail ++ derived)
  }

  /** Nested raw SofaScore event — extraction paths at
    * `daily_match_scraper.py:449-527`; used with `spark.read.schema(...)
    * .json` / `from_json` (S1/S2).
    */
  val sofaEvent: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("tournament", StructType(Seq(
      StructField("name", StringType),
      StructField("category", StructType(Seq(
        StructField("name", StringType),
        StructField("country", StructType(Seq(
          StructField("alpha2", StringType),
          StructField("alpha3", StringType),
          StructField("name", StringType))))))),
      StructField("uniqueTournament", StructType(Seq(
        StructField("name", StringType),
        StructField("id", LongType))))))),
    StructField("season", StructType(Seq(
      StructField("name", StringType),
      StructField("year", StringType),
      StructField("id", LongType)))),
    StructField("roundInfo", StructType(Seq(StructField("round", IntegerType)))),
    StructField("status", StructType(Seq(
      StructField("code", IntegerType),
      StructField("description", StringType),
      StructField("type", StringType)))),
    StructField("homeTeam", StructType(Seq(
      StructField("name", StringType),
      StructField("slug", StringType),
      StructField("shortName", StringType)))),
    StructField("awayTeam", StructType(Seq(
      StructField("name", StringType),
      StructField("slug", StringType),
      StructField("shortName", StringType)))),
    StructField("startTimestamp", LongType),
    StructField("venue", StructType(Seq(StructField("name", StringType))))
  ))
}
