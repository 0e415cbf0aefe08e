package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Normalize

/** Cleaning/validation stages — `processors/data_processor.py:34-269` plus
  * `validate_data` (`utils/data_utils.py:194-235`).
  *
  * The reference's `datetime.today()` filters are nondeterministic; here
  * "today" is an explicit parameter (SURVEY §7.4).
  */
object Process {

  /** Stage 2 — process_fixtures (`processors/data_processor.py:34-136`):
    * [[cleanFixtures]], then the multi-key sort (O1).
    */
  def processFixtures(raw: DataFrame, today: Column,
                      aliases: Map[String, String] = Normalize.defaultAliases)
      : DataFrame =
    cleanFixtures(raw, today, aliases)
      .orderBy(col("date"), col("kickoff_time"))          // O1

  /** Stage 4 — process_team_history (`processors/data_processor.py:
    * 138-269`): [[cleanHistory]], then the mixed-direction sort (O2).
    */
  def processHistory(raw: DataFrame, today: Column,
                     aliases: Map[String, String] = Normalize.defaultAliases)
      : DataFrame =
    cleanHistory(raw, today, aliases)
      .orderBy(col("team"), col("date").desc)              // O2

  // O1 and O2 are the presentation orders of the two sinks. A consumer
  // that joins, windows or re-sorts reads the clean forms below: an
  // order it throws away still costs a range shuffle (Catalyst does not
  // drop a Sort below a Window).

  /** [[processFixtures]] without its sort: normalize names/dates
    * (X1/X2), kickoff cleanup (X9), dedup by match_id keep-first (U3 —
    * made deterministic with a total order), future filter (F1).
    */
  def cleanFixtures(raw: DataFrame, today: Column,
                    aliases: Map[String, String] = Normalize.defaultAliases)
      : DataFrame = {
    val normalized = raw
      .withColumn("home_team", Normalize.normalizeTeamName(col("home_team"), aliases))
      .withColumn("away_team", Normalize.normalizeTeamName(col("away_team"), aliases))
      .withColumn("date", Normalize.normalizeDate(col("date").cast("string")))
      .withColumn("kickoff_time", Normalize.cleanKickoffTime(col("kickoff_time")))
      .withColumn("match_id", coalesce(col("match_id"),
        Normalize.matchId(col("date"), col("home_team"), col("away_team"))))
    dedupFirst(normalized, Seq("match_id"), Seq(col("date"), col("home_team")))
      .filter(col("date") >= today)                       // F1
  }

  /** [[processHistory]] without its sort: result standardization (X5),
    * numeric coercion (X3), derived metrics (X7/X8), match_id backfill
    * (X4), past filter (F2).
    */
  def cleanHistory(raw: DataFrame, today: Column,
                   aliases: Map[String, String] = Normalize.defaultAliases)
      : DataFrame =
    raw
      .withColumn("team", Normalize.normalizeTeamName(col("team"), aliases))
      .withColumn("opponent", Normalize.normalizeTeamName(col("opponent"), aliases))
      .withColumn("result", Normalize.standardizeResult(col("result")))
      .withColumn("shot_accuracy",
        Normalize.shotAccuracy(col("shots"), col("shots_on_target")))
      .withColumn("conversion_rate",
        Normalize.conversionRate(col("shots_on_target"), col("goals_for")))
      .withColumn("match_id", coalesce(col("match_id"),
        Normalize.matchId(col("date"), Normalize.homeTeam(col("venue"),
          col("team"), col("opponent")), Normalize.awayTeam(col("venue"),
          col("team"), col("opponent")))))
      .filter(col("date") <= today)                        // F2

  /** U3/O7 — dedup-by-key keep-first under an explicit total order. The
    * pandas `drop_duplicates(keep='first')` depends on input order, which
    * Spark parallelism does not preserve; `orderCols` must make the
    * choice deterministic. One shuffle on the key.
    */
  def dedupFirst(df: DataFrame, keys: Seq[String], orderCols: Seq[Column])
      : DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderCols: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** A13/A14 — validation report (`utils/data_utils.py:194-235`): one
    * aggregation pass producing total rows, duplicate-key count and
    * per-required-column null counts. Single job, single row out.
    */
  def validate(df: DataFrame, keyCol: String, requiredCols: Seq[String])
      : DataFrame = {
    val nulls = requiredCols.map(c =>
      sum(col(c).isNull.cast("long")).as(s"nulls_$c"))
    val aggs = Seq(
      count(lit(1)).as("total_rows"),
      (count(lit(1)) - countDistinct(col(keyCol))).as("duplicate_keys")
    ) ++ nulls
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** A9 — dataset completion scalar (`pipeline.py:108`): mean over columns
    * of per-column non-null fraction. Exact integer counts divided once →
    * deterministic doubles.
    */
  def completion(df: DataFrame, cols: Seq[String]): DataFrame = {
    val fracs = cols.map(c =>
      (sum(col(c).isNotNull.cast("long")) / count(lit(1))).as(s"frac_$c"))
    val agg = df.agg(fracs.head, fracs.tail: _*)
    val mean = cols.map(c => col(s"frac_$c")).reduce(_ + _) / cols.size
    agg.withColumn("data_completion", mean)
  }
}
