package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar cleaning/normalization library — the Spark-native re-expression
  * of the reference's row-wise Python helpers (X1–X17 in SURVEY.md §2.8).
  *
  * Everything here is a pure `Column => Column` built from codegen'd
  * built-in expressions (no UDFs): the reference applies these via pandas
  * `.apply` per row — the slowest possible path — while these stay inside
  * whole-stage codegen and scale linearly with partitions.
  *
  * ANSI note: Spark 4 defaults to ANSI mode where failed casts throw.
  * These helpers use null-on-failure semantics (pandas `errors='coerce'`
  * parity), so engine sessions set `spark.sql.ansi.enabled=false`; the
  * few cast sites are also guarded so they stay total on dirty input.
  */
object Normalize {

  /** X1 — normalize_team_name (`utils/data_utils.py:14-33`; alias map
    * `config.py:40-76`): trim, strip club-suffix regex, then apply a
    * cross-source alias map. The map is a `typedLit` literal (constant
    * folded + broadcast with the plan — never a per-row UDF dictionary
    * like the reference); one `try_element_at` probe per row, null on a
    * miss under ANSI too, falls back to the stripped name. An alias
    * whose value is null leaves the name unchanged.
    */
  def normalizeTeamName(c: Column, aliases: Map[String, String]): Column = {
    val stripped = regexp_replace(trim(c), "\\s+(FC|CF|AFC)$", "")
    if (aliases.isEmpty) stripped
    else coalesce(try_element_at(typedLit(aliases), stripped), stripped)
  }

  /** The complete cross-source alias table (`config.py:40-76`,
    * `TEAM_NAME_MAPPING` verbatim, all 26 entries) — deliberately
    * bidirectional for most clubs, because the reference harmonizes names
    * in BOTH directions between its two sources. Callers may still pass
    * their own map.
    */
  val defaultAliases: Map[String, String] = Map(
    // Premier League
    "Manchester United" -> "Man United",
    "Manchester City" -> "Man City",
    "Tottenham" -> "Tottenham Hotspur",
    "Tottenham Hotspur" -> "Tottenham",
    "Newcastle" -> "Newcastle United",
    "Newcastle United" -> "Newcastle",
    "Wolverhampton Wanderers" -> "Wolves",
    "Wolves" -> "Wolverhampton Wanderers",
    // La Liga
    "Atletico Madrid" -> "Atlético Madrid",
    "Atlético Madrid" -> "Atletico Madrid",
    "Atletico" -> "Atlético Madrid",
    "Real Betis" -> "Betis",
    "Betis" -> "Real Betis",
    // Bundesliga
    "Bayern Munich" -> "Bayern München",
    "Bayern München" -> "Bayern Munich",
    "RB Leipzig" -> "Leipzig",
    "Leipzig" -> "RB Leipzig",
    "Bayer Leverkusen" -> "Leverkusen",
    "Leverkusen" -> "Bayer Leverkusen",
    // Serie A
    "Inter" -> "Inter Milan",
    "Inter Milan" -> "Inter",
    "AC Milan" -> "Milan",
    "Milan" -> "AC Milan",
    // Ligue 1
    "Paris Saint Germain" -> "PSG",
    "Paris Saint-Germain" -> "PSG",
    "PSG" -> "Paris Saint-Germain"
  )

  /** X2 — normalize_date (`utils/data_utils.py:36-71`): try an explicit
    * format list, first success wins, null otherwise. `try_to_date`
    * returns null on mismatch under BOTH ANSI modes — the exact analog
    * of the reference's try/except cascade (plain `to_date` would throw
    * under ANSI, Spark 4's default, the moment a value matches a later
    * format than the one being tried).
    *
    * The first 12 entries are the reference's format list VERBATIM and in
    * ITS order — order is semantics here: an ambiguous "03-05-2025" parses
    * day-first because `%d-%m-%Y` precedes `%m-%d-%Y` in the cascade.
    * The trailing `yyyy/MM/dd` stands in for the reference's
    * `pd.to_datetime` inference fallback (the one extra shape that
    * fallback accepts which the explicit list does not).
    */
  val defaultDateFormats: Seq[String] = Seq(
    "yyyy-MM-dd", "yyyyMMdd", "dd/MM/yyyy", "MM/dd/yyyy",
    "dd-MM-yyyy", "MM-dd-yyyy", "dd.MM.yyyy", "MM.dd.yyyy",
    "ddMMyyyy", "MMddyyyy", "MMM dd, yyyy", "dd MMM yyyy",
    "yyyy/MM/dd"
  )
  def normalizeDate(c: Column, formats: Seq[String] = defaultDateFormats): Column =
    coalesce(formats.map(f => try_to_date(c, f)): _*)

  /** X3 — clean_number (`utils/data_utils.py:74-98`): strip everything but
    * digits/dot/minus, cast to double, null on failure.
    */
  def cleanNumber(c: Column): Column =
    nullifEmpty(regexp_replace(c.cast("string"), "[^0-9.\\-]", "")).cast("double")

  private def nullifEmpty(c: Column): Column = when(c =!= "", c)

  /** X4 — generate_match_id (`utils/data_utils.py:101-119`):
    * `yyyyMMdd_{home}_{away}` with lowercased alnum-only team names.
    */
  def matchId(date: Column, home: Column, away: Column): Column =
    concat_ws("_",
      date_format(date, "yyyyMMdd"),
      regexp_replace(lower(home), "[^a-z0-9]", ""),
      regexp_replace(lower(away), "[^a-z0-9]", ""))

  /** X5 — result standardization (`processors/data_processor.py:182-193`):
    * map {W/Win/win/1→W, D/Draw/0.5→D, L/Loss/0→L, else→U}.
    */
  def standardizeResult(c: Column): Column = {
    val s = trim(c.cast("string"))
    when(s.isin("W", "Win", "win", "w", "1", "1.0"), "W")
      .when(s.isin("D", "Draw", "draw", "d", "0.5"), "D")
      .when(s.isin("L", "Loss", "loss", "l", "0", "0.0"), "L")
      .otherwise("U")
  }

  /** X6 — result→numeric {W:1, D:0.5, L:0} (`utils/data_utils.py:281-285`). */
  def resultPoints(c: Column): Column =
    when(c === "W", 1.0).when(c === "D", 0.5).otherwise(0.0)

  /** X7 — shot_accuracy (`processors/data_processor.py:207-212`). */
  def shotAccuracy(shots: Column, onTarget: Column): Column =
    when(shots > 0, onTarget / shots).otherwise(0.0)

  /** X8 — conversion_rate (`processors/data_processor.py:214-219`). */
  def conversionRate(onTarget: Column, goals: Column): Column =
    when(onTarget > 0, goals / onTarget).otherwise(0.0)

  /** X9 — kickoff-time cleanup (`processors/data_processor.py:86-95`):
    * token after the last space; null unless it contains ':'.
    */
  def cleanKickoffTime(c: Column): Column = {
    val tok = regexp_extract(trim(c), "([^ ]+)$", 1)
    when(tok.contains(":"), tok)
  }

  /** X10 — score split (`scrapers/team_scraper.py:656-667`): "2-1" →
    * (goals_for, goals_against), swapped when playing away.
    */
  def scoreGoalsFor(score: Column, isHome: Column): Column =
    when(isHome, element_at(split(score, "-"), 1).cast("double"))
      .otherwise(element_at(split(score, "-"), 2).cast("double"))
  def scoreGoalsAgainst(score: Column, isHome: Column): Column =
    scoreGoalsFor(score, !isHome)

  /** X11 — match_quality (`examples/visualize_data.py:276-279`). */
  def matchQuality(homeWinRatio: Column, awayWinRatio: Column): Column =
    (coalesce(homeWinRatio, lit(0.5)) + coalesce(awayWinRatio, lit(0.5))) / 2

  /** X12 — epoch seconds → "HH:mm" (`daily_match_scraper.py:486-492`);
    * session timezone must be UTC for golden parity.
    */
  def epochToHHmm(epochSeconds: Column): Column =
    date_format(timestamp_seconds(epochSeconds), "HH:mm")

  /** X13 — season derivation (`scrapers/team_scraper.py:152-174`):
    * month ≥ 8 → "Y-(Y+1)" else "(Y-1)-Y".
    */
  def season(date: Column): Column = {
    val startYear = when(month(date) >= 8, year(date)).otherwise(year(date) - 1)
    concat(startYear.cast("string"), lit("-"), (startYear + 1).cast("string"))
  }

  /** X15 — is_home flag + team/opponent derivation
    * (`scrapers/team_scraper.py:669-681`).
    */
  def isHome(venue: Column): Column = (venue === "Home").cast("int")
  def homeTeam(venue: Column, team: Column, opponent: Column): Column =
    when(venue === "Home", team).otherwise(opponent)
  def awayTeam(venue: Column, team: Column, opponent: Column): Column =
    when(venue === "Home", opponent).otherwise(team)

  /** X16 — percent strip (`scrapers/team_scraper.py:562-567`). */
  def stripPercent(c: Column): Column =
    nullifEmpty(regexp_replace(c.cast("string"), "%", "")).cast("double")
}
