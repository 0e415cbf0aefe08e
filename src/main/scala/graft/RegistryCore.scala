package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.{CombineData, Process, TeamMetrics}
import graft.queries.Reports
import Registry._

/** Relational operator inventory (SURVEY §2.1–§2.7) mapped onto the
  * synthetic testdata: orders plays the fixtures/fact role (o_custkey =
  * team, o_orderdate = match date, o_totalprice = stat, o_orderstatus =
  * result), customers/part/nation are dimensions.
  */
object RegistryCore {

  /** Orders in football shape: the base CTE most queries share. */
  private def ordersD(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"),
      col("o_orderdate").cast("date").as("date"),
      col("o_totalprice"), col("o_orderstatus"), col("o_orderpriority"))

  private val ordersDSql =
    """orders_d AS (
      |  SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS date,
      |         o_totalprice, o_orderstatus, o_orderpriority
      |  FROM orders
      |)""".stripMargin

  /** J1 flagship — fixtures double-left-join vs latest per-team rolling
    * metrics with home_/away_ prefix fan-out + X11 match quality
    * (`utils/data_utils.py:122-191`). The metrics are `TeamMetrics.asOf`'s
    * per-team dim: two map-side-combined aggregates, computed once and
    * broadcast to both legs; the orders rows are never sorted or
    * shuffled, only the final ORDER BY sorts.
    */
  def combinedQuery(s: SparkSession, dir: String): DataFrame = {
    val od = ordersD(s, dir)
    val fixtures = od.select(
      col("o_orderkey").as("match_id"), col("date"),
      col("o_custkey").as("home_team"),
      ((col("o_custkey") * 13 + 7) % 100).as("away_team"))
    val metrics = TeamMetrics.asOf(
        od.select(col("o_custkey").as("team"), col("date"),
          col("o_totalprice"), col("o_orderstatus")),
        "team", "date", Seq(
          TeamMetrics.Metric("win_ratio", statusPoints(col("o_orderstatus")),
            "decimal(9,1)"),
          TeamMetrics.Metric("avg_price", col("o_totalprice"),
            "decimal(18,2)")))
      .select("team", "win_ratio", "avg_price")
    val combined = CombineData.combine(fixtures, metrics,
      "team", "home_team", "away_team")
    combined.select(
        col("match_id"),
        date_format(col("date"), "yyyy-MM-dd").as("date"),
        col("home_team"), col("away_team"),
        col("home_win_ratio"), col("home_avg_price"),
        col("away_win_ratio"), col("away_avg_price"),
        graft.functions.Normalize.matchQuality(
          col("home_win_ratio"), col("away_win_ratio")).as("match_quality"))
      .orderBy("match_id")
  }

  private val combinedSql =
    s"""WITH $ordersDSql,
      |metrics AS (
      |  SELECT o_custkey AS team, date, o_orderkey,
      |    CAST(sum(CAST($statusPointsSql AS DECIMAL(9,1))) OVER w AS DOUBLE)
      |      / count(*) OVER w AS win_ratio,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
      |      / count(*) OVER w AS avg_price
      |  FROM orders_d
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY date
      |    RANGE BETWEEN INTERVAL 90 DAY PRECEDING AND CURRENT ROW)
      |),
      |latest AS (
      |  SELECT team, win_ratio, avg_price FROM metrics
      |  QUALIFY row_number() OVER (PARTITION BY team
      |    ORDER BY date DESC, o_orderkey DESC) = 1
      |),
      |fixtures AS (
      |  SELECT o_orderkey AS match_id, date, o_custkey AS home_team,
      |         (o_custkey*13+7)%100 AS away_team
      |  FROM orders_d
      |)
      |SELECT f.match_id, strftime(f.date, '%Y-%m-%d') AS date,
      |  f.home_team, f.away_team,
      |  h.win_ratio AS home_win_ratio, h.avg_price AS home_avg_price,
      |  a.win_ratio AS away_win_ratio, a.avg_price AS away_avg_price,
      |  (coalesce(h.win_ratio, 0.5) + coalesce(a.win_ratio, 0.5))/2
      |    AS match_quality
      |FROM fixtures f
      |LEFT JOIN latest h ON f.home_team = h.team
      |LEFT JOIN latest a ON f.away_team = a.team
      |ORDER BY f.match_id""".stripMargin

  def entries: Seq[Q] = Seq(

    // ---- S1: schema'd JSON payload scan (from_json, X17 sibling) -------
    Q("s01_json_scan",
      (s, dir) => events(s, dir)
        .select(col("event_id"),
          from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k BIGINT")).getField("k").as("k"))
        .orderBy("event_id"),
      Some("""SELECT event_id,
             |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
             |FROM events ORDER BY event_id""".stripMargin)),

    // ---- P1/P2: projection + derived-column projection ------------------
    Q("p01_projection",
      (s, dir) => t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"))
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
             |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    Q("p02_derived_projection",
      (s, dir) => ordersD(s, dir).select(
          col("o_orderkey").as("id"),
          year(col("date")).as("order_year"),
          upper(col("o_orderstatus")).as("status"),
          (col("o_totalprice") > 200000).cast("int").as("is_big"))
        .orderBy("id"),
      Some(s"""WITH $ordersDSql
              |SELECT o_orderkey AS id, year(date) AS order_year,
              |  upper(o_orderstatus) AS status,
              |  CAST(o_totalprice > 200000 AS INT) AS is_big
              |FROM orders_d ORDER BY id""".stripMargin)),

    // ---- F1/F2: date-boundary filters (today parameterized) -------------
    Q("f01_future_filter",
      (s, dir) => ordersD(s, dir)
        .filter(col("date") >= lit("1998-01-01").cast("date"))
        .select(col("o_orderkey"),
          date_format(col("date"), "yyyy-MM-dd").as("date"))
        .orderBy("o_orderkey"),
      Some(s"""WITH $ordersDSql
              |SELECT o_orderkey, strftime(date, '%Y-%m-%d') AS date
              |FROM orders_d
              |WHERE date >= DATE '1998-01-01' ORDER BY o_orderkey""".stripMargin)),

    Q("f02_past_filter",
      (s, dir) => ordersD(s, dir)
        .filter(col("date") <= lit("1996-12-31").cast("date"))
        .select(col("o_orderkey"),
          date_format(col("date"), "yyyy-MM-dd").as("date"))
        .orderBy("o_orderkey"),
      Some(s"""WITH $ordersDSql
              |SELECT o_orderkey, strftime(date, '%Y-%m-%d') AS date
              |FROM orders_d
              |WHERE date <= DATE '1996-12-31' ORDER BY o_orderkey""".stripMargin)),

    // ---- F3: case-insensitive substring membership (league filter) ------
    Q("f03_substring_filter",
      (s, dir) => t(s, dir, "part")
        .filter(lower(col("p_type")).contains("eco") ||
          lower(col("p_name")).contains("bolt"))
        .select(col("p_partkey"), col("p_name"), col("p_type"))
        .orderBy("p_partkey"),
      Some("""SELECT p_partkey, p_name, p_type FROM part
             |WHERE contains(lower(p_type), 'eco')
             |   OR contains(lower(p_name), 'bolt')
             |ORDER BY p_partkey""".stripMargin)),

    // ---- F4: isin priority filter + distinct -----------------------------
    Q("f04_isin_filter",
      (s, dir) => t(s, dir, "customer")
        .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("customers"))
        .orderBy("c_mktsegment"),
      Some("""SELECT c_mktsegment, count(*) AS customers FROM customer
             |WHERE c_mktsegment IN ('BUILDING','MACHINERY')
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // ---- F5: exact target-date filter ------------------------------------
    Q("f05_target_date",
      (s, dir) => t(s, dir, "lineitem")
        .filter(col("l_shipdate").cast("date") === lit("1997-03-15").cast("date"))
        .select(col("l_orderkey"), col("l_linenumber"))
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber FROM lineitem
             |WHERE CAST(l_shipdate AS DATE) = DATE '1997-03-15'
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // ---- F6: null-key drop (separator rows) ------------------------------
    Q("f06_null_drop",
      (s, dir) => ordersD(s, dir)
        .withColumn("prio", when(col("o_orderpriority") =!= "3-MEDIUM",
          col("o_orderpriority")))
        .na.drop(Seq("prio"))
        .groupBy(col("prio")).agg(count(lit(1)).as("n"))
        .orderBy("prio"),
      Some("""SELECT nullif(o_orderpriority, '3-MEDIUM') AS prio,
             |  count(*) AS n
             |FROM orders
             |WHERE nullif(o_orderpriority, '3-MEDIUM') IS NOT NULL
             |GROUP BY 1 ORDER BY prio""".stripMargin)),

    // ---- J1 + A1–A3 + W1 + P3 + X11: the core combined query -------------
    Q("j01_combined", combinedQuery _, Some(combinedSql)),

    // ---- J2/U2: distinct home ∪ away teams --------------------------------
    Q("j02_distinct_teams",
      (s, dir) => {
        val od = ordersD(s, dir)
        od.select(col("o_custkey").as("team"))
          .unionByName(od.select(((col("o_custkey") * 13 + 7) % 100).as("team")))
          .distinct().orderBy("team")
      },
      Some("""SELECT DISTINCT team FROM (
             |  SELECT o_custkey AS team FROM orders
             |  UNION ALL
             |  SELECT (o_custkey*13+7)%100 AS team FROM orders
             |) ORDER BY team""".stripMargin)),

    // ---- J3: substring theta-join vs tiny broadcast dim -------------------
    Q("j03_theta_join",
      (s, dir) => {
        val dim = s.createDataFrame(Seq(
          Tuple1("eco"), Tuple1("promo"), Tuple1("small")))
          .toDF("kw")
        t(s, dir, "part").crossJoin(broadcast(dim))
          .filter(lower(col("p_type")).contains(col("kw")))
          .select(col("p_partkey"), col("kw")).orderBy("p_partkey", "kw")
      },
      Some("""SELECT p_partkey, kw
             |FROM part JOIN (VALUES ('eco'),('promo'),('small')) t(kw)
             |  ON contains(lower(p_type), kw)
             |ORDER BY p_partkey, kw""".stripMargin)),

    // ---- J4: key-equality scalar lookup -----------------------------------
    Q("j04_key_lookup",
      (s, dir) => t(s, dir, "customer")
        .filter(col("c_custkey") === 42)
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment")),
      Some("""SELECT c_custkey, c_name, c_mktsegment FROM customer
             |WHERE c_custkey = 42""".stripMargin)),

    // ---- A1: 90-day rolling mean ------------------------------------------
    Q("a01_rolling_mean",
      (s, dir) => {
        val w = TeamMetrics.rollingWindow("o_custkey", "date")
        ordersD(s, dir).select(col("o_orderkey"), col("o_custkey"),
          date_format(col("date"), "yyyy-MM-dd").as("date"),
          (sum(col("o_totalprice").cast("decimal(18,2)")).over(w)
            .cast("double") / count(lit(1)).over(w)).as("rolling_avg_price"),
          count(lit(1)).over(w).as("window_n"))
          .orderBy("o_orderkey")
      },
      Some(s"""WITH $ordersDSql
              |SELECT o_orderkey, o_custkey,
              |  strftime(date, '%Y-%m-%d') AS date,
              |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
              |    / count(*) OVER w AS rolling_avg_price,
              |  count(*) OVER w AS window_n
              |FROM orders_d
              |WINDOW w AS (PARTITION BY o_custkey ORDER BY date
              |  RANGE BETWEEN INTERVAL 90 DAY PRECEDING AND CURRENT ROW)
              |ORDER BY o_orderkey""".stripMargin)),

    // ---- A2: 90-day rolling sum -------------------------------------------
    Q("a02_rolling_sum",
      (s, dir) => {
        val w = TeamMetrics.rollingWindow("o_custkey", "date")
        ordersD(s, dir).select(col("o_orderkey"),
          sum(col("o_totalprice").cast("decimal(18,2)")).over(w)
            .cast("double").as("total_price_90d"))
          .orderBy("o_orderkey")
      },
      Some(s"""WITH $ordersDSql
              |SELECT o_orderkey,
              |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
              |    AS total_price_90d
              |FROM orders_d
              |WINDOW w AS (PARTITION BY o_custkey ORDER BY date
              |  RANGE BETWEEN INTERVAL 90 DAY PRECEDING AND CURRENT ROW)
              |ORDER BY o_orderkey""".stripMargin)),

    // ---- A3: 90-day rolling win ratio -------------------------------------
    Q("a03_rolling_win_ratio",
      (s, dir) => {
        val w = TeamMetrics.rollingWindow("o_custkey", "date")
        ordersD(s, dir).select(col("o_orderkey"),
          (sum(statusPoints(col("o_orderstatus")).cast("decimal(9,1)")).over(w)
            .cast("double") / count(lit(1)).over(w)).as("win_ratio"))
          .orderBy("o_orderkey")
      },
      Some(s"""WITH $ordersDSql
              |SELECT o_orderkey,
              |  CAST(sum(CAST($statusPointsSql AS DECIMAL(9,1))) OVER w AS DOUBLE)
              |    / count(*) OVER w AS win_ratio
              |FROM orders_d
              |WINDOW w AS (PARTITION BY o_custkey ORDER BY date
              |  RANGE BETWEEN INTERVAL 90 DAY PRECEDING AND CURRENT ROW)
              |ORDER BY o_orderkey""".stripMargin)),

    // ---- A5: team summary multi-agg ---------------------------------------
    Q("a05_team_summary",
      (s, dir) => ordersD(s, dir)
        .withColumnRenamed("o_custkey", "team")
        .withColumn("result", when(col("o_orderstatus") === "F", "W")
          .when(col("o_orderstatus") === "P", "D").otherwise("L"))
        .transform(df => Reports.teamSummary(df, "team", "result",
          Seq("o_totalprice")))
        .orderBy("team"),
      Some("""SELECT o_custkey AS team,
             |  CAST(sum(CAST(CASE o_orderstatus WHEN 'F' THEN 1.0
             |    WHEN 'P' THEN 0.5 ELSE 0.0 END AS DECIMAL(9,1))) AS DOUBLE)
             |    / count(*) AS win_ratio,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    / count(*) AS avg_o_totalprice,
             |  count(*) AS matches
             |FROM orders GROUP BY o_custkey ORDER BY team""".stripMargin)),

    // ---- A6: count by key, most first -------------------------------------
    Q("a06_count_by_priority",
      (s, dir) => Reports.countByKey(ordersD(s, dir), "o_orderpriority"),
      Some("""SELECT o_orderpriority, count(*) AS count FROM orders
             |GROUP BY o_orderpriority
             |ORDER BY count DESC, o_orderpriority""".stripMargin)),

    // ---- A7: count by date ------------------------------------------------
    Q("a07_count_by_date",
      (s, dir) => ordersD(s, dir).groupBy(col("date"))
        .agg(count(lit(1)).as("n"))
        .select(date_format(col("date"), "yyyy-MM-dd").as("date"), col("n"))
        .orderBy("date"),
      Some(s"""WITH $ordersDSql
              |SELECT strftime(date, '%Y-%m-%d') AS date, count(*) AS n
              |FROM orders_d GROUP BY date ORDER BY date""".stripMargin)),

    // ---- A8: distinct count per group -------------------------------------
    Q("a08_distinct_count",
      (s, dir) => t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("distinct_parts"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, count(DISTINCT l_partkey) AS distinct_parts
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // ---- A9: dataset completion scalar ------------------------------------
    Q("a09_completion",
      (s, dir) => {
        val df = ordersD(s, dir)
          .withColumn("prio", when(col("o_orderpriority") =!= "3-MEDIUM",
            col("o_orderpriority")))
          .withColumn("status", when(col("o_orderstatus") =!= "P",
            col("o_orderstatus")))
        Process.completion(df, Seq("prio", "status"))
      },
      Some("""SELECT
             |  CAST(sum(CASE WHEN nullif(o_orderpriority,'3-MEDIUM')
             |    IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) / count(*)
             |    AS frac_prio,
             |  CAST(sum(CASE WHEN nullif(o_orderstatus,'P')
             |    IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) / count(*)
             |    AS frac_status,
             |  (CAST(sum(CASE WHEN nullif(o_orderpriority,'3-MEDIUM')
             |      IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) / count(*)
             |   + CAST(sum(CASE WHEN nullif(o_orderstatus,'P')
             |      IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) / count(*)) / 2
             |    AS data_completion
             |FROM orders""".stripMargin)),

    // ---- A10: pivot cross-tab ---------------------------------------------
    Q("a10_pivot",
      (s, dir) => t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(decSum(col("l_quantity")))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |  CAST(sum(CASE WHEN l_linestatus='F'
             |    THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "F",
             |  CAST(sum(CASE WHEN l_linestatus='O'
             |    THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "O"
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // ---- A11: date coverage report ----------------------------------------
    Q("a11_date_coverage",
      (s, dir) => Reports.dateCoverage(ordersD(s, dir), "date")
        .select(date_format(col("start_date"), "yyyy-MM-dd").as("start_date"),
          date_format(col("end_date"), "yyyy-MM-dd").as("end_date"),
          col("days_covered"), col("total_rows")),
      Some(s"""WITH $ordersDSql
              |SELECT strftime(min(date), '%Y-%m-%d') AS start_date,
              |  strftime(max(date), '%Y-%m-%d') AS end_date,
              |  count(DISTINCT date) AS days_covered,
              |  count(*) AS total_rows
              |FROM orders_d""".stripMargin)),

    // ---- A12: success-rate scalar -----------------------------------------
    Q("a12_success_rate",
      (s, dir) => ordersD(s, dir).agg(
        count(lit(1)).as("total"),
        sum((col("o_orderstatus") === "F").cast("long")).as("finished"),
        (sum((col("o_orderstatus") === "F").cast("long")) / count(lit(1)))
          .as("success_rate")),
      Some("""SELECT count(*) AS total,
             |  CAST(sum(CASE WHEN o_orderstatus='F' THEN 1 ELSE 0 END)
             |    AS BIGINT) AS finished,
             |  CAST(sum(CASE WHEN o_orderstatus='F' THEN 1 ELSE 0 END)
             |    AS BIGINT) / count(*) AS success_rate
             |FROM orders""".stripMargin)),

    // ---- A13/A14: validation counts ---------------------------------------
    Q("a13_validate",
      (s, dir) => {
        val df = t(s, dir, "lineitem")
          .withColumn("flag", when(col("l_returnflag") =!= "N",
            col("l_returnflag")))
        Process.validate(df, "l_orderkey", Seq("flag", "l_partkey"))
      },
      Some("""SELECT count(*) AS total_rows,
             |  count(*) - count(DISTINCT l_orderkey) AS duplicate_keys,
             |  CAST(sum(CASE WHEN nullif(l_returnflag,'N') IS NULL
             |    THEN 1 ELSE 0 END) AS BIGINT) AS nulls_flag,
             |  CAST(sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS "nulls_l_partkey"
             |FROM lineitem""".stripMargin)),

    // ---- W1/O5: per-group top-N ranking window -----------------------------
    Q("w01_topn_per_group",
      (s, dir) => TeamMetrics.latestPerTeam(
          ordersD(s, dir).select(col("o_custkey"), col("o_orderkey"),
            col("date")),
          "o_custkey", "date", Seq(col("o_orderkey")), n = 3)
        .orderBy(col("o_custkey"), col("date").desc, col("o_orderkey").desc)
        .select(col("o_custkey"), col("o_orderkey"),
          date_format(col("date"), "yyyy-MM-dd").as("date")),
      Some(s"""WITH $ordersDSql
              |SELECT o_custkey, o_orderkey, strftime(date, '%Y-%m-%d') AS date
              |FROM orders_d
              |QUALIFY row_number() OVER (PARTITION BY o_custkey
              |  ORDER BY date DESC, o_orderkey DESC) <= 3
              |ORDER BY o_custkey, date DESC, o_orderkey DESC""".stripMargin)),

    // ---- O1: multi-key sort (observable via global position). orderBy+
    //      limit compiles to TakeOrderedAndProject (distributed top-k, no
    //      single-partition sort); the rank window then runs on 100 rows.
    Q("o01_multikey_sort",
      (s, dir) => ordersD(s, dir)
        .select(col("o_orderkey"), col("date"))
        .orderBy(col("date"), col("o_orderkey")).limit(100)
        .withColumn("pos", row_number().over(
          Window.orderBy(col("date"), col("o_orderkey"))))
        .select(col("pos"), col("o_orderkey"),
          date_format(col("date"), "yyyy-MM-dd").as("date")),
      Some(s"""WITH $ordersDSql
              |SELECT row_number() OVER (ORDER BY date, o_orderkey) AS pos,
              |  o_orderkey, strftime(date, '%Y-%m-%d') AS date
              |FROM orders_d
              |QUALIFY pos <= 100 ORDER BY pos""".stripMargin)),

    // ---- O2: mixed-direction sort ------------------------------------------
    Q("o02_mixed_sort",
      (s, dir) => ordersD(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .orderBy(col("o_orderstatus"), col("o_totalprice").desc,
          col("o_orderkey")).limit(50)
        .withColumn("pos", row_number().over(
          Window.orderBy(col("o_orderstatus"), col("o_totalprice").desc,
            col("o_orderkey"))))
        .select(col("pos"), col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice")),
      Some("""SELECT row_number() OVER (ORDER BY o_orderstatus,
             |    o_totalprice DESC, o_orderkey) AS pos,
             |  o_orderkey, o_orderstatus, o_totalprice
             |FROM orders QUALIFY pos <= 50 ORDER BY pos""".stripMargin)),

    // ---- O3: sort by date (combined-output order; top-k observable form) ------
    Q("o03_sort_by_date",
      (s, dir) => ordersD(s, dir)
        .select(col("o_orderkey"), col("date"))
        .orderBy(col("date"), col("o_orderkey")).limit(200)
        .withColumn("pos", row_number().over(
          Window.orderBy(col("date"), col("o_orderkey"))))
        .select(col("pos"),
          date_format(col("date"), "yyyy-MM-dd").as("date"),
          col("o_orderkey")),
      Some(s"""WITH $ordersDSql
              |SELECT row_number() OVER (ORDER BY date, o_orderkey) AS pos,
              |  strftime(date, '%Y-%m-%d') AS date, o_orderkey
              |FROM orders_d
              |QUALIFY pos <= 200 ORDER BY pos""".stripMargin)),

    // ---- O6: global top-N ---------------------------------------------------
    Q("o06_global_topn",
      (s, dir) => Reports.topN(ordersD(s, dir)
          .select(col("o_orderkey"), col("o_totalprice")),
        col("o_totalprice"), col("o_orderkey"), 10),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)),

    // ---- O7/U3: keep-first dedup under a total order ------------------------
    Q("o08_shuffle_order",
      // deterministic training-order shuffle: global sort by a portable
      // 60-bit md5 id hash (full key range — no coarse modulus that
      // would leave id-clustered runs inside buckets at web scale) — a
      // RANGE partitioning, so output files come out pre-shuffled with
      // no single-node sort
      (s, dir) => graft.llm.CorpusPipeline.shuffleOrder(
          t(s, dir, "documents"))
        .select(col("doc_id"), col("shuffle_key")),
      Some("""SELECT doc_id,
             |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
             |    1, 15)) AS BIGINT) AS shuffle_key
             |FROM documents
             |ORDER BY shuffle_key, doc_id""".stripMargin)),

    Q("o07_ordered_dedup",
      (s, dir) => Process.dedupFirst(
          t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber")),
          Seq("l_orderkey"), Seq(col("l_linenumber")))
        .orderBy("l_orderkey"),
      Some("""SELECT l_orderkey, l_linenumber FROM lineitem
             |QUALIFY row_number() OVER (PARTITION BY l_orderkey
             |  ORDER BY l_linenumber) = 1
             |ORDER BY l_orderkey""".stripMargin)),

    // ---- U1: union-all of heterogeneous frames ------------------------------
    Q("u01_union_all",
      (s, dir) => {
        val od = ordersD(s, dir)
        val past = od.filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), lit("past").as("src"))
        val open = od.filter(col("o_orderstatus") === "O")
          .select(col("o_orderkey"), lit("open").as("src"))
        past.unionByName(open).groupBy(col("src"))
          .agg(count(lit(1)).as("n")).orderBy("src")
      },
      Some("""SELECT src, count(*) AS n FROM (
             |  SELECT o_orderkey, 'past' AS src FROM orders
             |    WHERE o_orderstatus='F'
             |  UNION ALL
             |  SELECT o_orderkey, 'open' AS src FROM orders
             |    WHERE o_orderstatus='O'
             |) GROUP BY src ORDER BY src""".stripMargin)),

    // ---- U2: distinct set union ---------------------------------------------
    Q("u02_distinct_union",
      (s, dir) => t(s, dir, "lineitem").select(col("l_partkey").as("k"))
        .unionByName(t(s, dir, "part").select(col("p_partkey").as("k")))
        .distinct().agg(count(lit(1)).as("distinct_keys")),
      Some("""SELECT count(*) AS distinct_keys FROM (
             |  SELECT l_partkey AS k FROM lineitem
             |  UNION
             |  SELECT p_partkey AS k FROM part
             |)""".stripMargin)),

    // ---- U3: dedup by key (set form) ----------------------------------------
    Q("u03_dedup_pairs",
      (s, dir) => t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag")).distinct()
        .orderBy("l_orderkey", "l_returnflag"),
      Some("""SELECT DISTINCT l_orderkey, l_returnflag FROM lineitem
             |ORDER BY l_orderkey, l_returnflag""".stripMargin))
  )
}
