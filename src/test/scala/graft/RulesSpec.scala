package graft

import org.apache.spark.sql.functions._

import graft.functions.Normalize

/** `Normalize.normalizeTeamName`'s alias lookup is one map probe under
  * either ANSI setting, and the native functions `GraftExtensions`
  * injects are callable from SQL.
  */
class RulesSpec extends SparkSpec {
  import spark.implicits._

  private val aliases = Map("Spurs" -> "Tottenham", "Wolves" -> "Wanderers")

  test("normalizeTeamName: one element_at, no CASE WHEN, ANSI off and on") {
    for (ansi <- Seq("false", "true")) {
      spark.conf.set("spark.sql.ansi.enabled", ansi)
      try {
        // a fresh frame per setting (a DataFrame caches its plan); a
        // parquet scan, because ConvertToLocalRelation would evaluate a
        // LocalRelation wholesale
        val optimized = spark.read.parquet(s"$sf/part.parquet")
          .select(Normalize.normalizeTeamName(col("p_name"), aliases)
            .as("team"))
          .queryExecution.optimizedPlan.toString
        assert("element_at\\(".r.findAllIn(optimized).length == 1,
          s"ansi=$ansi\n$optimized")
        assert(!optimized.contains("CASE WHEN"), s"ansi=$ansi\n$optimized")
        val got = Seq(Some("Spurs"), Some("Arsenal"), Some("Wolves FC"),
            Some(" Spurs AFC "), None).toDF("v")
          .select(Normalize.normalizeTeamName(col("v"), aliases))
          .as[Option[String]].collect().toSeq
        assert(got == Seq(Some("Tottenham"), Some("Arsenal"),
          Some("Wanderers"), Some("Tottenham"), None), s"ansi=$ansi")
      } finally spark.conf.set("spark.sql.ansi.enabled", "false")
    }
  }

  test("injected native functions are callable from SQL") {
    // GraftExtensions registers cosine_sim and minhash_sig via
    // injectFunction — the SparkSessionExtensions path a user session
    // reaches with spark.sql.extensions=graft.plans.GraftExtensions.
    val r = spark.sql(
      """SELECT cosine_sim(array(3.0D, 4.0D), array(3.0D, 4.0D)) AS c,
        |  size(minhash_sig('one two three four five', 2, 16)) AS m
        |""".stripMargin).head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(r.getInt(1) == 16)
  }
}
