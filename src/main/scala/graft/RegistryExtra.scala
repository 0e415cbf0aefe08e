package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.{AsOfJoin, CombineData, Impute, Merge, RangeJoin, SkewJoin}
import graft.sources.Ingest
import Registry._

/** Second-wave operator coverage: as-of join, ingest-side scan semantics
  * (S5/S6, X14), prefix fan-out / drop projections, ordered group-concat.
  */
object RegistryExtra {

  def entries: Seq[Q] = Seq(

    // ---- J5: point-in-time (as-of) join — union+last form, DuckDB ASOF
    //      JOIN as the oracle --------------------------------------------
    Q("j05_asof_join",
      (s, dir) => {
        val od = t(s, dir, "orders").select(
          col("o_orderkey"), col("o_custkey").as("team"),
          col("o_orderdate").cast("date").as("date"),
          col("o_totalprice"))
        val metrics = od.groupBy(col("team"), col("date"))
          .agg((decSum(col("o_totalprice")) / count(lit(1))).as("mprice"))
        val fixtures = od.select(col("o_orderkey").as("match_id"),
          col("team"), date_add(col("date"), 10).as("fdate"))
        AsOfJoin.asOf(fixtures, metrics, "team", "fdate", "date",
            valueCols = Seq("date", "mprice"))
          .select(col("match_id"), col("team"),
            date_format(col("fdate"), "yyyy-MM-dd").as("fdate"),
            date_format(col("asof_date"), "yyyy-MM-dd").as("asof_date"),
            col("asof_mprice"))
          .orderBy("match_id")
      },
      Some("""WITH orders_d AS (
             |  SELECT o_orderkey, o_custkey AS team,
             |         CAST(o_orderdate AS DATE) AS date, o_totalprice
             |  FROM orders),
             |metrics AS (
             |  SELECT team, date,
             |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |      / count(*) AS mprice
             |  FROM orders_d GROUP BY team, date),
             |fixtures AS (
             |  SELECT o_orderkey AS match_id, team,
             |         date + INTERVAL 10 DAY AS fdate
             |  FROM orders_d)
             |SELECT f.match_id, f.team,
             |  strftime(f.fdate, '%Y-%m-%d') AS fdate,
             |  strftime(m.date, '%Y-%m-%d') AS asof_date,
             |  m.mprice AS asof_mprice
             |FROM fixtures f
             |ASOF LEFT JOIN metrics m
             |  ON f.team = m.team AND f.fdate >= m.date
             |ORDER BY f.match_id""".stripMargin)),

    // ---- J1 faithful mode: the reference's team-only join with row
    //      multiplication, bug-compatible (SURVEY §7.4); fixtures sampled
    //      so the multiplied output stays bounded ------------------------
    Q("j06_faithful_combined",
      (s, dir) => {
        val od = t(s, dir, "orders").select(
          col("o_orderkey"), col("o_custkey"),
          col("o_orderdate").cast("date").as("date"), col("o_totalprice"))
        val fixtures = od.filter(col("o_orderkey") % 50 === 0).select(
          col("o_orderkey").as("match_id"),
          col("o_custkey").as("home_team"),
          ((col("o_custkey") * 13 + 7) % 100).as("away_team"))
        val metrics = od.select(col("o_custkey").as("team"),
          col("o_orderkey").as("mkey"), col("o_totalprice").as("price"))
        CombineData.combine(fixtures, metrics, "team",
            "home_team", "away_team", faithful = true)
          .select(col("match_id"), col("home_mkey"), col("away_mkey"),
            col("home_price"), col("away_price"))
          .orderBy("match_id", "home_mkey", "away_mkey")
      },
      Some("""WITH fixtures AS (
             |  SELECT o_orderkey AS match_id, o_custkey AS home_team,
             |    (o_custkey*13+7)%100 AS away_team
             |  FROM orders WHERE o_orderkey % 50 = 0),
             |metrics AS (
             |  SELECT o_custkey AS team, o_orderkey AS mkey,
             |    o_totalprice AS price
             |  FROM orders)
             |SELECT f.match_id, h.mkey AS home_mkey, a.mkey AS away_mkey,
             |  h.price AS home_price, a.price AS away_price
             |FROM fixtures f
             |LEFT JOIN metrics h ON f.home_team = h.team
             |LEFT JOIN metrics a ON f.away_team = a.team
             |ORDER BY match_id, home_mkey, away_mkey""".stripMargin)),

    // ---- X14: column-name pattern resolution (schema drift) -------------
    Q("x14_column_resolution",
      (s, dir) => {
        val drifted = t(s, dir, "lineitem").select(
          col("l_orderkey").as("RowId"),
          col("l_linenumber").as("Line No"),
          col("l_shipdate").cast("date").as("Match Date"),
          col("l_quantity").as("Gls For"))
        Ingest.resolveColumns(drifted, Seq(
            "id" -> "rowid", "line" -> "line no",
            "date" -> "date", "goals" -> "gls"))
          .select(col("id"), col("line"),
            date_format(col("date"), "yyyy-MM-dd").as("date"), col("goals"))
          .orderBy("id", "line")
      },
      Some("""SELECT l_orderkey AS id, l_linenumber AS line,
             |  strftime(CAST(l_shipdate AS DATE), '%Y-%m-%d') AS date,
             |  l_quantity AS goals
             |FROM lineitem ORDER BY id, line""".stripMargin)),

    // ---- S5: long→wide stat pivot ----------------------------------------
    Q("s05_stat_pivot",
      (s, dir) => {
        val long = t(s, dir, "lineitem").select(col("l_orderkey"),
          when(col("l_linenumber") % 3 === 0, "possession")
            .when(col("l_linenumber") % 3 === 1, "shots")
            .otherwise("corners").as("stat"),
          col("l_quantity").as("value"))
        Ingest.pivotStats(long, "l_orderkey", "stat", "value",
            Seq("possession", "shots", "corners"))
          .orderBy("l_orderkey")
      },
      Some("""SELECT l_orderkey,
             |  max(CASE WHEN l_linenumber % 3 = 0 THEN l_quantity END)
             |    AS possession,
             |  max(CASE WHEN l_linenumber % 3 = 1 THEN l_quantity END)
             |    AS shots,
             |  max(CASE WHEN l_linenumber % 3 = 2 THEN l_quantity END)
             |    AS corners
             |FROM lineitem GROUP BY l_orderkey
             |ORDER BY l_orderkey""".stripMargin)),

    // ---- S6: cache scan with freshness TTL -------------------------------
    Q("s06_cache_freshness",
      (s, dir) => Ingest.freshCache(
          events(s, dir).withColumn("cached_at", col("ts").cast("date")),
          "cached_at", lit("2024-01-10").cast("date"), ttlDays = 7)
        .select(col("event_id")).orderBy("event_id"),
      Some("""SELECT event_id FROM events
             |WHERE CAST(ts AS DATE) >= DATE '2024-01-03'
             |ORDER BY event_id""".stripMargin)),

    // ---- A4: ordered per-group concat ------------------------------------
    Q("a04_group_concat",
      (s, dir) => t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderdate").cast("date").as("date"),
          col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(concat_ws(",",
          transform(array_sort(collect_list(struct(col("date"),
            col("o_orderkey")))),
            x => x.getField("o_orderkey").cast("string"))).as("match_ids"))
        .orderBy("o_custkey"),
      Some("""SELECT o_custkey,
             |  string_agg(CAST(o_orderkey AS VARCHAR), ','
             |    ORDER BY CAST(o_orderdate AS DATE), o_orderkey)
             |    AS match_ids
             |FROM orders GROUP BY o_custkey
             |ORDER BY o_custkey""".stripMargin)),

    // ---- P3: prefix fan-out ----------------------------------------------
    Q("p03_prefix_fanout",
      (s, dir) => CombineData.prefixed(
          t(s, dir, "customer").select(col("c_custkey").as("team"),
            col("c_name"), col("c_acctbal")),
          "team", "home_")
        .orderBy("team"),
      Some("""SELECT c_custkey AS team, c_name AS home_c_name,
             |  c_acctbal AS home_c_acctbal
             |FROM customer ORDER BY team""".stripMargin)),

    // ---- A15: typed Aggregator UDAF (exact integer buffer) ----------------
    Q("a15_udaf_win_ratio",
      (s, dir) => t(s, dir, "orders")
        .withColumn("result", when(col("o_orderstatus") === "F", "W")
          .when(col("o_orderstatus") === "P", "D").otherwise("L"))
        .groupBy(col("o_custkey"))
        .agg(graft.functions.WinRatioAgg.column(col("result"))
          .as("win_ratio"))
        .orderBy("o_custkey"),
      Some("""SELECT o_custkey,
             |  CAST(sum(CASE o_orderstatus WHEN 'F' THEN 2
             |    WHEN 'P' THEN 1 ELSE 0 END) AS BIGINT) / 2.0 / count(*)
             |    AS win_ratio
             |FROM orders GROUP BY o_custkey
             |ORDER BY o_custkey""".stripMargin)),

    // ---- J7: binned range (interval) join — equi-join on bin id instead
    //      of the nested-loop plan a bare range predicate produces; the
    //      DuckDB range join is the oracle ---------------------------------
    Q("j07_range_join",
      (s, dir) => {
        val epoch = lit("1992-01-01").cast("date")
        val od = t(s, dir, "orders").select(col("o_orderkey"),
          col("o_orderdate").cast("date").as("date"))
        val points = od.select(col("o_orderkey").as("p_key"),
          datediff(col("date"), epoch).cast("long").as("day"))
        val intervals = od.filter(col("o_orderkey") % 97 === 0)
          .select(col("o_orderkey").as("i_key"),
            datediff(col("date"), epoch).cast("long").as("lo"))
          .withColumn("hi", col("lo") + 14)
        RangeJoin.binned(points, "day", intervals, "lo", "hi", binWidth = 16)
          .select(col("p_key"), col("i_key"))
          .orderBy("p_key", "i_key")
      },
      Some("""SELECT p.o_orderkey AS p_key, i.o_orderkey AS i_key
             |FROM orders p JOIN (
             |  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d
             |  FROM orders WHERE o_orderkey % 97 = 0) i
             |ON CAST(p.o_orderdate AS DATE) >= i.d
             | AND CAST(p.o_orderdate AS DATE) <= i.d + INTERVAL 14 DAY
             |ORDER BY p_key, i_key""".stripMargin)),

    // ---- J8: salted skew join — result identical to the plain join, so
    //      the plain join IS the oracle ------------------------------------
    Q("j08_salted_skew_join",
      (s, dir) => {
        val f = t(s, dir, "orders").select(col("o_orderkey"),
          col("o_custkey"), col("o_totalprice"))
        val d = t(s, dir, "customer").select(
          col("c_custkey").as("o_custkey"), col("c_name"), col("c_acctbal"))
        SkewJoin.salted(f, d, "o_custkey", "o_orderkey", salts = 8)
          .select(col("o_orderkey"), col("o_custkey"), col("c_name"),
            col("c_acctbal"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, c_name, c_acctbal
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |ORDER BY o_orderkey""".stripMargin)),

    // ---- J9/J10: anti and semi joins — the "missing fixtures" /
    //      "already scraped" detection shapes; no row multiplication,
    //      planner broadcasts the probe side ------------------------------
    Q("j09_anti_join",
      (s, dir) => t(s, dir, "customer")
        .join(t(s, dir, "orders")
            .filter(col("o_totalprice") > 400000)
            .select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer c
             |WHERE NOT EXISTS (SELECT 1 FROM orders o
             |                  WHERE o.o_custkey = c.c_custkey
             |                    AND o.o_totalprice > 400000)
             |ORDER BY c_custkey""".stripMargin)),

    Q("j10_semi_join",
      (s, dir) => t(s, dir, "customer")
        .join(t(s, dir, "orders")
            .filter(col("o_totalprice") > 300000)
            .select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer c
             |WHERE EXISTS (SELECT 1 FROM orders o
             |              WHERE o.o_custkey = c.c_custkey
             |                AND o.o_totalprice > 300000)
             |ORDER BY c_custkey""".stripMargin)),

    // ---- A17: rollup (hierarchical subtotals + grand total) --------------
    Q("a17_rollup",
      (s, dir) => t(s, dir, "orders")
        .select(year(col("o_orderdate").cast("date")).as("yr"),
          col("o_orderpriority").as("prio"), col("o_totalprice"))
        .rollup(col("yr"), col("prio"))
        .agg(count(lit(1)).as("orders"), decSum(col("o_totalprice")).as("total"))
        .select(coalesce(col("yr").cast("string"), lit("ALL")).as("yr"),
          coalesce(col("prio"), lit("ALL")).as("prio"),
          col("orders"), col("total"))
        .orderBy("yr", "prio"),
      Some("""SELECT coalesce(CAST(yr AS VARCHAR), 'ALL') AS yr,
             |  coalesce(prio, 'ALL') AS prio,
             |  count(*) AS orders,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total
             |FROM (SELECT year(CAST(o_orderdate AS DATE)) AS yr,
             |        o_orderpriority AS prio, o_totalprice FROM orders)
             |GROUP BY ROLLUP (yr, prio)
             |ORDER BY yr, prio""".stripMargin)),

    // ---- W4: ntile quartiles (deterministic total order) WITHOUT the
    //      single-partition window a global ntile naively needs: the
    //      exact global rank comes from `Ids.denseIds` (range partition
    //      → per-partition counts → broadcast offsets — every heavy step
    //      distributed), the row count from a one-row broadcast agg, and
    //      ntile's bucket boundaries are then pure arithmetic on
    //      (rank, N): with base = N div 4 and rem = N % 4 the first
    //      `rem` buckets hold base+1 rows (the SQL-standard fill order
    //      DuckDB implements too). Exactly the u07 machinery, as scale-
    //      safe as a global sort. -----------------------------------------
    Q("w04_ntile",
      (s, dir) => {
        val o = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
        val ranked = graft.etl.Ids.denseIds(o,
          Seq(col("o_totalprice"), col("o_orderkey")), "__rid")
        val n = ranked.agg(count(lit(1)).as("__n"))
        ranked.crossJoin(broadcast(n))
          .withColumn("price_quartile", expr(
            """CAST(CASE
              |  WHEN __base = 0 OR __rid <= __rem * (__base + 1)
              |    THEN (__rid - 1) div (__base + 1) + 1
              |  ELSE __rem + (__rid - __rem * (__base + 1) - 1) div __base + 1
              |END AS INT)""".stripMargin
              .replace("__base", "(__n div 4)")
              .replace("__rem", "(__n % 4)")))
          .select(col("o_orderkey"), col("o_totalprice"),
            col("price_quartile"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_totalprice,
             |  ntile(4) OVER (ORDER BY o_totalprice, o_orderkey)
             |    AS price_quartile
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // ---- W5: lead/lag — previous/next match date per team and rest days
    //      (one window pass, deterministic tiebreak) -----------------------
    Q("w05_lead_lag",
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("date"), col("o_orderkey"))
        t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_orderdate").cast("date").as("date"))
          .select(col("o_orderkey"), col("o_custkey"),
            date_format(col("date"), "yyyy-MM-dd").as("date"),
            date_format(lag(col("date"), 1).over(w), "yyyy-MM-dd")
              .as("prev_date"),
            datediff(col("date"), lag(col("date"), 1).over(w)).cast("long")
              .as("rest_days"),
            date_format(lead(col("date"), 1).over(w), "yyyy-MM-dd")
              .as("next_date"))
          .orderBy("o_orderkey")
      },
      Some("""WITH o AS (SELECT o_orderkey, o_custkey,
             |    CAST(o_orderdate AS DATE) AS date FROM orders),
             |w AS (SELECT o_orderkey, o_custkey, date,
             |    lag(date) OVER win AS prev_date,
             |    lead(date) OVER win AS next_date
             |  FROM o
             |  WINDOW win AS (PARTITION BY o_custkey
             |                 ORDER BY date, o_orderkey))
             |SELECT o_orderkey, o_custkey,
             |  strftime(date, '%Y-%m-%d') AS date,
             |  strftime(prev_date, '%Y-%m-%d') AS prev_date,
             |  CAST(date - prev_date AS BIGINT) AS rest_days,
             |  strftime(next_date, '%Y-%m-%d') AS next_date
             |FROM w ORDER BY o_orderkey""".stripMargin)),

    // ---- A16: sketch audit — HLL distinct + approx percentile against
    //      their exact counterparts. PARTIAL ORACLE: the exact side
    //      (distinct count; median in doubled-cent integer units, exact
    //      because prices are cent-valued so the interpolated median is
    //      a half-cent multiple) is recomputed by DuckDB, and the
    //      accuracy bounds are pinned as literal TRUE — a sketch
    //      drifting out of bounds now FAILS the driver's hash gate
    //      instead of merely flipping an unchecked flag. Raw estimates
    //      are engine-specific and live in the specs, not the row. ------
    Q("a16_sketch_audit",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        // countDistinct SPLIT from the other aggregates (the a31
        // multi-distinct trap: one Aggregate mixing a distinct with
        // non-distinct aggs rewrites to an Expand whose percentile
        // buffers ride a SortAggregate over the doubled relation —
        // ~10 s at sf0.1; two clean one-row aggregates cross-joined
        // read the scan twice but each pass is hash-aggregated)
        val distinctSide = li.agg(
          countDistinct(col("l_orderkey")).as("exact_orders"))
        val sketchSide = li.agg(
            // rsd 0.02; the audit bound below is 3×rsd
            approx_count_distinct(col("l_orderkey"), 0.02).as("hll_orders"),
            percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000))
              .as("approx_median_price"),
            // ONE exact-percentile buffer for all three cut points —
            // three scalar percentile() aggregates each build their own
            // value->count OpenHashMap over the whole column (3x the
            // dominant aggregation cost); the array form computes the
            // same interpolated values from a single buffer. The rank
            // window (0.48/0.52) exists because the sketch guarantees
            // RANK error, not a value tolerance (value gaps near the
            // median dominate at small n).
            expr("percentile(l_extendedprice, array(0.48, 0.5, 0.52))")
              .as("pcts"))
          .select(col("hll_orders"), col("approx_median_price"),
            col("pcts").getItem(1).as("exact_median_price"),
            col("pcts").getItem(0).as("p48"),
            col("pcts").getItem(2).as("p52"))
        distinctSide.crossJoin(sketchSide)
          .select(col("exact_orders"),
            (abs(col("hll_orders") - col("exact_orders")) /
              col("exact_orders") <= 0.06).as("hll_within_3rsd"),
            round(col("exact_median_price") * 200).cast("long")
              .as("exact_median_x200"),
            (col("approx_median_price") >= col("p48") &&
              col("approx_median_price") <= col("p52"))
              .as("median_in_rank_window"))
      },
      Some("""SELECT
             |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
             |  TRUE AS hll_within_3rsd,
             |  CAST(round(quantile_cont(l_extendedprice, 0.5) * 200)
             |    AS BIGINT) AS exact_median_x200,
             |  TRUE AS median_in_rank_window
             |FROM lineitem""".stripMargin)),

    // ---- J11: null-safe equi-join (<=> / IS NOT DISTINCT FROM) — null
    //      keys match null keys instead of dropping out -------------------
    Q("j11_null_safe_join",
      (s, dir) => {
        val od = t(s, dir, "orders")
        // null out a deterministic subset of keys on both sides
        val a = od.select(col("o_orderkey"),
          when(col("o_orderkey") % 10 === 0, lit(null))
            .otherwise(col("o_custkey")).as("k"))
        val b = od.filter(col("o_orderkey") % 50 === 0)
          .select(col("o_orderkey").as("b_orderkey"),
            when(col("o_orderkey") % 10 === 0, lit(null))
              .otherwise(col("o_custkey")).as("k"))
        a.join(b, a("k") <=> b("k"), "inner")
          .select(col("o_orderkey"), col("b_orderkey"))
          .orderBy("o_orderkey", "b_orderkey")
      },
      Some("""WITH a AS (SELECT o_orderkey,
             |    CASE WHEN o_orderkey % 10 = 0 THEN NULL
             |         ELSE o_custkey END AS k FROM orders),
             |b AS (SELECT o_orderkey AS b_orderkey,
             |    CASE WHEN o_orderkey % 10 = 0 THEN NULL
             |         ELSE o_custkey END AS k
             |  FROM orders WHERE o_orderkey % 50 = 0)
             |SELECT a.o_orderkey, b.b_orderkey
             |FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
             |ORDER BY a.o_orderkey, b.b_orderkey""".stripMargin)),

    // ---- X18: regexp group extraction ------------------------------------
    Q("x18_regexp_extract",
      (s, dir) => t(s, dir, "orders")
        .select(col("o_orderkey"),
          regexp_extract(col("o_orderpriority"), "^(\\d+)-([A-Z]+)", 1)
            .as("prio_num"),
          regexp_extract(col("o_orderpriority"), "^(\\d+)-([A-Z]+)", 2)
            .as("prio_word"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
             |  coalesce(regexp_extract(o_orderpriority,
             |    '^(\d+)-([A-Z]+)', 1), '') AS prio_num,
             |  coalesce(regexp_extract(o_orderpriority,
             |    '^(\d+)-([A-Z]+)', 2), '') AS prio_word
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // ---- X19: URL parsing — host/path/query-param extraction with
    //      Spark's parse_url; the oracle derives the same parts from the
    //      source fields, so a parse bug cannot self-confirm --------------
    Q("x19_url_parse",
      (s, dir) => t(s, dir, "documents")
        .withColumn("url", concat(lit("https://"), col("source"),
          lit(".example.com/docs/"), col("doc_id"),
          lit("?lang="), col("lang")))
        .select(col("doc_id"),
          parse_url(col("url"), lit("HOST")).as("host"),
          parse_url(col("url"), lit("PATH")).as("path"),
          parse_url(col("url"), lit("QUERY"), lit("lang")).as("lang_param"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  source || '.example.com' AS host,
             |  '/docs/' || doc_id AS path,
             |  lang AS lang_param
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- X20: z-order (Morton) value — the clustering key behind 2-D
    //      data skipping (Lake.writeZOrdered / OPTIMIZE ZORDER BY). All
    //      integer shift/mask arithmetic, so the oracle replays the same
    //      magic-number bit spread bit-for-bit ---------------------------
    Q("x20_zorder",
      (s, dir) => {
        import graft.functions.ZOrder
        val li = t(s, dir, "lineitem").select(col("l_orderkey"),
          col("l_linenumber"), col("l_partkey").cast("long").as("pk"),
          col("l_suppkey").cast("long").as("sk"))
        val b = li.agg(max(col("pk")).as("mx"), max(col("sk")).as("my"))
        li.crossJoin(broadcast(b))
          .select(col("l_orderkey"), col("l_linenumber"),
            ZOrder.zValue(ZOrder.quantize(col("pk"), col("mx")),
              ZOrder.quantize(col("sk"), col("my"))).as("z"))
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some("""WITH b AS (SELECT CAST(max(l_partkey) AS BIGINT) AS mx,
             |              CAST(max(l_suppkey) AS BIGINT) AS my
             |            FROM lineitem),
             |q AS (SELECT l_orderkey, l_linenumber,
             |    (CAST(l_partkey AS BIGINT) * 65536) // (mx + 1) AS qx,
             |    (CAST(l_suppkey AS BIGINT) * 65536) // (my + 1) AS qy
             |  FROM lineitem, b),
             |s1 AS (SELECT l_orderkey, l_linenumber,
             |    ((qx | (qx << 8)) & 16711935) AS x1,
             |    ((qy | (qy << 8)) & 16711935) AS y1 FROM q),
             |s2 AS (SELECT l_orderkey, l_linenumber,
             |    ((x1 | (x1 << 4)) & 252645135) AS x2,
             |    ((y1 | (y1 << 4)) & 252645135) AS y2 FROM s1),
             |s3 AS (SELECT l_orderkey, l_linenumber,
             |    ((x2 | (x2 << 2)) & 858993459) AS x3,
             |    ((y2 | (y2 << 2)) & 858993459) AS y3 FROM s2),
             |s4 AS (SELECT l_orderkey, l_linenumber,
             |    ((x3 | (x3 << 1)) & 1431655765) AS x4,
             |    ((y3 | (y3 << 1)) & 1431655765) AS y4 FROM s3)
             |SELECT l_orderkey, l_linenumber, (x4 | (y4 << 1)) AS z
             |FROM s4 ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // ---- A23: GROUPING SETS — priority and status marginals plus the
    //      grand total in ONE pass (one shuffle, grouping()-tagged) -------
    Q("a23_grouping_sets",
      (s, dir) => {
        val od = t(s, dir, "orders")
        od.groupingSets(
            Seq(Seq(col("o_orderpriority")), Seq(col("o_orderstatus")),
              Seq.empty[org.apache.spark.sql.Column]),
            col("o_orderpriority"), col("o_orderstatus"))
          .agg(count(lit(1)).as("n"), decSum(col("o_totalprice")).as("rev"),
            grouping(col("o_orderpriority")).cast("int").as("g_prio"),
            grouping(col("o_orderstatus")).cast("int").as("g_status"))
          .orderBy("g_prio", "g_status", "o_orderpriority", "o_orderstatus")
      },
      Some("""SELECT o_orderpriority, o_orderstatus, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS rev,
             |  CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
             |  CAST(GROUPING(o_orderstatus) AS INT) AS g_status
             |FROM orders
             |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
             |ORDER BY g_prio, g_status, o_orderpriority, o_orderstatus"""
        .stripMargin)),

    // ---- W11: cumulative distinct users by day — running COUNT(DISTINCT)
    //      via the first-seen trick (min event ts per user → new users per
    //      day → running sum): exact, no distinct-in-window needed --------
    Q("w11_cumulative_users",
      (s, dir) => {
        val firstSeen = events(s, dir).groupBy(col("user_id"))
          .agg(min(col("ts")).as("first_ts"))
          .select(date_format(col("first_ts"), "yyyy-MM-dd").as("day"))
        val daily = firstSeen.groupBy("day")
          .agg(count(lit(1)).as("new_users"))
        // global running total via the denseIds range-partition
        // machinery — a bare sum().over(Window.orderBy(day)) would pull
        // every day into ONE task; this stays distributed at any history
        // length (the bounded-window PlanShapeSpec invariant enforces it)
        graft.etl.Ids.runningTotal(daily, Seq(col("day")),
            col("new_users"), "cumulative_users")
          .select(col("day"), col("new_users"), col("cumulative_users"))
          .orderBy("day")
      },
      Some("""WITH fs AS (
             |  SELECT user_id, strftime(min(ts), '%Y-%m-%d') AS day
             |  FROM events GROUP BY 1),
             |daily AS (SELECT day, count(*) AS new_users FROM fs GROUP BY 1)
             |SELECT day, new_users,
             |  CAST(sum(new_users) OVER (ORDER BY day
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS BIGINT) AS cumulative_users
             |FROM daily ORDER BY day""".stripMargin)),

    // ---- W12: cohort retention — users bucketed by first-seen day,
    //      distinct active users per (cohort, activity day): two integer
    //      aggs + one join, the classic retention matrix ------------------
    Q("w12_cohort_retention",
      (s, dir) => {
        val ev = events(s, dir)
        val cohort = ev.groupBy(col("user_id"))
          .agg(date_format(min(col("ts")), "yyyy-MM-dd").as("cohort_day"))
        val active = ev.select(col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd").as("active_day")).distinct()
        cohort.join(active, "user_id")
          .groupBy(col("cohort_day"), col("active_day"))
          .agg(countDistinct(col("user_id")).as("users"))
          .orderBy("cohort_day", "active_day")
      },
      Some("""WITH cohort AS (
             |  SELECT user_id, strftime(min(ts), '%Y-%m-%d') AS cohort_day
             |  FROM events GROUP BY 1),
             |active AS (
             |  SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d')
             |    AS active_day
             |  FROM events)
             |SELECT cohort_day, active_day, count(DISTINCT c.user_id)
             |  AS users
             |FROM cohort c JOIN active a USING (user_id)
             |GROUP BY 1, 2 ORDER BY cohort_day, active_day""".stripMargin)),

    // ---- W14: time-weighted average — each reading weighted by how long
    //      it was current (lead-ts duration). Everything integer until
    //      the end: value in CENTS (2-decimal data) times INTEGER
    //      microseconds, summed wide (decimal-38 / HUGEINT — an int64 sum
    //      would overflow at ~1e3 rows·1e16 products), then ONE identical
    //      double division chain in both engines -------------------------
    Q("w14_time_weighted_avg",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        events(s, dir)
          .withColumn("cents",
            (col("value").cast("decimal(18,2)") * 100).cast("long"))
          .withColumn("dur_us",
            unix_micros(lead(col("ts"), 1).over(w)) -
              unix_micros(col("ts")))
          .filter(col("dur_us").isNotNull)
          .groupBy(col("user_id"))
          .agg(
            sum((col("cents") * col("dur_us")).cast("decimal(38,0)"))
              .as("vsum"),
            sum(col("dur_us")).as("dsum"),
            count(lit(1)).as("n_intervals"))
          .select(col("user_id"),
            (col("vsum").cast("double") / lit(100.0) /
              col("dsum").cast("double")).as("tw_avg_value"),
            col("n_intervals"))
          .orderBy("user_id")
      },
      Some("""WITH d AS (
             |  SELECT user_id,
             |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
             |      AS cents,
             |    epoch_us(lead(ts) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id)) - epoch_us(ts) AS dur_us
             |  FROM events)
             |SELECT user_id,
             |  CAST(sum(cents * dur_us) AS DOUBLE) / 100.0
             |    / CAST(CAST(sum(dur_us) AS BIGINT) AS DOUBLE)
             |    AS tw_avg_value,
             |  count(*) AS n_intervals
             |FROM d WHERE dur_us IS NOT NULL
             |GROUP BY 1 ORDER BY user_id""".stripMargin)),

    // ---- A25: mode (most frequent value) per group with a DETERMINISTIC
    //      tie-break (count desc, value asc) — never engine-default mode() -
    Q("a25_mode",
      (s, dir) => {
        val counts = t(s, dir, "orders")
          .groupBy(col("o_orderpriority"), col("o_orderstatus"))
          .agg(count(lit(1)).as("n"))
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("n").desc, col("o_orderstatus").asc)
        counts.withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .select(col("o_orderpriority"),
            col("o_orderstatus").as("mode_status"), col("n"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, mode_status, n FROM (
             |  SELECT o_orderpriority, o_orderstatus AS mode_status,
             |    count(*) AS n,
             |    row_number() OVER (PARTITION BY o_orderpriority
             |      ORDER BY count(*) DESC, o_orderstatus ASC) AS rk
             |  FROM orders GROUP BY 1, 2)
             |WHERE rk = 1 ORDER BY o_orderpriority""".stripMargin)),

    // ---- J14: fuzzy entity matching — dirty probe names resolved
    //      against the dim by edit distance (crossJoin of a BROADCAST dim
    //      — bounded by |dim|, never fact×fact; deterministic tie-break) --
    Q("j14_fuzzy_match",
      (s, dir) => {
        import s.implicits._
        val probes = Seq("NATION_3", "NATINO_7", "NATION_99", "NOTION_12")
          .toDF("probe")
        val dim = t(s, dir, "nation").select(col("n_name"))
        val w = Window.partitionBy(col("probe"))
          .orderBy(col("dist"), col("n_name"))
        probes.crossJoin(broadcast(dim))
          .withColumn("dist", levenshtein(col("probe"), col("n_name")))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .select(col("probe"), col("n_name").as("matched"),
            col("dist").cast("long").as("dist"))
          .orderBy("probe")
      },
      Some("""WITH probes(probe) AS (VALUES ('NATION_3'), ('NATINO_7'),
             |    ('NATION_99'), ('NOTION_12'))
             |SELECT probe, matched, dist FROM (
             |  SELECT p.probe, n.n_name AS matched,
             |    CAST(levenshtein(p.probe, n.n_name) AS BIGINT) AS dist,
             |    row_number() OVER (PARTITION BY p.probe
             |      ORDER BY levenshtein(p.probe, n.n_name), n.n_name)
             |      AS rk
             |  FROM probes p CROSS JOIN nation n)
             |WHERE rk = 1 ORDER BY probe""".stripMargin)),

    // ---- A26: exact-arithmetic correlation — corr()'s streaming FP sums
    //      are partitioning-dependent, so the moments are INTEGER sums
    //      (units × cents, decimal-38/HUGEINT wide) and the Pearson
    //      formula is ONE identical double expression in both engines ----
    Q("a26_exact_corr",
      (s, dir) => {
        val li = t(s, dir, "lineitem").select(col("l_returnflag"),
          col("l_quantity").cast("long").as("q"),
          (col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("long").as("c"))
        li.groupBy(col("l_returnflag"))
          .agg(count(lit(1)).cast("double").as("n"),
            sum(col("q")).cast("double").as("sx"),
            sum(col("c")).cast("double").as("sy"),
            sum((col("q") * col("q")).cast("decimal(38,0)"))
              .cast("double").as("sxx"),
            sum((col("c") * col("c")).cast("decimal(38,0)"))
              .cast("double").as("syy"),
            sum((col("q") * col("c")).cast("decimal(38,0)"))
              .cast("double").as("sxy"))
          .select(col("l_returnflag"),
            ((col("n") * col("sxy") - col("sx") * col("sy")) /
              (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
                sqrt(col("n") * col("syy") - col("sy") * col("sy"))))
              .as("corr_qty_price"),
            col("n").cast("long").as("n"))
          .orderBy("l_returnflag")
      },
      Some("""WITH m AS (
             |  SELECT l_returnflag,
             |    CAST(count(*) AS DOUBLE) AS n,
             |    CAST(CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
             |      AS DOUBLE) AS sx,
             |    CAST(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
             |      * 100 AS BIGINT)) AS BIGINT) AS DOUBLE) AS sy,
             |    CAST(sum(CAST(l_quantity AS BIGINT)
             |      * CAST(l_quantity AS BIGINT)) AS DOUBLE) AS sxx,
             |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
             |        * 100 AS BIGINT)
             |      * CAST(CAST(l_extendedprice AS DECIMAL(18,2))
             |        * 100 AS BIGINT)) AS DOUBLE) AS syy,
             |    CAST(sum(CAST(l_quantity AS BIGINT)
             |      * CAST(CAST(l_extendedprice AS DECIMAL(18,2))
             |        * 100 AS BIGINT)) AS DOUBLE) AS sxy
             |  FROM lineitem GROUP BY 1)
             |SELECT l_returnflag,
             |  (n * sxy - sx * sy)
             |    / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
             |    AS corr_qty_price,
             |  CAST(n AS BIGINT) AS n
             |FROM m ORDER BY l_returnflag""".stripMargin)),

    // ---- A27: key-skew diagnostics — the measurement that DECIDES
    //      whether a join needs j08's salting: heavy hitters and their
    //      share/skew-vs-average, via per-key counts + a broadcast of the
    //      two-scalar total and a sort+limit (TakeOrdered — no global
    //      window, no single-task stage at any scale) --------------------
    Q("a27_skew_stats",
      (s, dir) => {
        val c = t(s, dir, "lineitem")
          .groupBy(col("l_suppkey").as("k")).agg(count(lit(1)).as("cnt"))
        val tot = c.agg(sum(col("cnt")).as("total"), count(lit(1)).as("nk"))
        c.crossJoin(broadcast(tot))
          .select(col("k"), col("cnt"),
            (col("cnt").cast("double") / col("total")).as("share"),
            ((col("cnt") * col("nk")).cast("double") / col("total"))
              .as("skew_vs_avg"),
            col("total"), col("nk"))
          .orderBy(col("cnt").desc, col("k"))
          .limit(5)
      },
      Some("""WITH c AS (SELECT l_suppkey AS k, count(*) AS cnt
             |           FROM lineitem GROUP BY 1),
             |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
             |             count(*) AS nk FROM c)
             |SELECT k, cnt,
             |  CAST(cnt AS DOUBLE) / total AS share,
             |  CAST(cnt * nk AS DOUBLE) / total AS skew_vs_avg,
             |  total, nk
             |FROM c, t ORDER BY cnt DESC, k LIMIT 5""".stripMargin)),

    // ---- U7: dense surrogate ids — gap-free row_number in total order
    //      WITHOUT a one-task global window: range partition, per-
    //      partition counts (tiny driver collect), broadcast offsets ------
    Q("u07_dense_ids",
      (s, dir) => graft.etl.Ids.denseIds(
          t(s, dir, "documents").select(col("doc_id"), col("source")),
          Seq(col("source"), col("doc_id")))
        .select(col("row_id"), col("doc_id"), col("source"))
        .orderBy("row_id"),
      Some("""SELECT row_number() OVER (ORDER BY source, doc_id)
             |    AS row_id,
             |  doc_id, source
             |FROM documents ORDER BY row_id""".stripMargin)),

    // ---- W13: ordered funnel with stage deadlines — signup → first
    //      click within 8 h → first purchase within 8 h of that click;
    //      stage counts in one row (150/18/6 at sf0.01 — the deadline is
    //      what makes stages discriminate). Each stage is a min-ts
    //      aggregate + a broadcast-friendly join on user_id — no window
    //      over the full event stream ---------------------------------
    Q("w13_funnel",
      (s, dir) => {
        val ev = events(s, dir)
        def stage(tpe: String) = ev.filter(col("event_type") === tpe)
        val within = expr("INTERVAL 8 HOURS")
        val s1 = stage("signup").groupBy(col("user_id"))
          .agg(min(col("ts")).as("t1"))
        val s2 = stage("click").join(s1, "user_id")
          .filter(col("ts") >= col("t1") && col("ts") <= col("t1") + within)
          .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
        val s3 = stage("purchase").join(s2, "user_id")
          .filter(col("ts") >= col("t2") && col("ts") <= col("t2") + within)
          .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
        s1.agg(count(lit(1)).as("signed_up"))
          .crossJoin(s2.agg(count(lit(1)).as("clicked_after")))
          .crossJoin(s3.agg(count(lit(1)).as("purchased_after")))
      },
      Some("""WITH s1 AS (
             |  SELECT user_id, min(ts) AS t1 FROM events
             |  WHERE event_type = 'signup' GROUP BY 1),
             |s2 AS (
             |  SELECT e.user_id, min(e.ts) AS t2
             |  FROM events e JOIN s1 USING (user_id)
             |  WHERE e.event_type = 'click' AND e.ts >= s1.t1
             |    AND e.ts <= s1.t1 + INTERVAL 8 HOURS GROUP BY 1),
             |s3 AS (
             |  SELECT e.user_id, min(e.ts) AS t3
             |  FROM events e JOIN s2 USING (user_id)
             |  WHERE e.event_type = 'purchase' AND e.ts >= s2.t2
             |    AND e.ts <= s2.t2 + INTERVAL 8 HOURS GROUP BY 1)
             |SELECT (SELECT count(*) FROM s1) AS signed_up,
             |  (SELECT count(*) FROM s2) AS clicked_after,
             |  (SELECT count(*) FROM s3) AS purchased_after"""
        .stripMargin)),

    // ---- A24: sketch-accuracy audit for approx_percentile (the a16
    //      methodology, for quantiles). PARTIAL ORACLE, same split as
    //      a16: DuckDB recomputes the exact per-group medians (doubled-
    //      cent integer units — exact on cent-valued prices) and the
    //      group sizes, and pins the certificate as literal TRUE, so an
    //      out-of-bound sketch fails the hash gate. The certificate is
    //      a RANK window (approx lands between the exact 48th and 52nd
    //      percentiles) — what a rank-error sketch actually guarantees;
    //      a value tolerance would be data-density-dependent. The raw
    //      GK estimate (no DuckDB counterpart) stays in
    //      SketchAuditSpec, which certifies observed error directly. ---
    Q("a24_quantile_audit",
      (s, dir) => t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          expr("percentile(o_totalprice, 0.5)").as("exact_median"),
          expr("percentile(o_totalprice, 0.48)").as("p48"),
          expr("percentile(o_totalprice, 0.52)").as("p52"),
          expr("approx_percentile(o_totalprice, 0.5, 10000)")
            .as("approx_median"),
          count(lit(1)).as("n"))
        .select(col("o_orderpriority"),
          round(col("exact_median") * 200).cast("long")
            .as("exact_median_x200"),
          col("n"),
          (col("approx_median") >= col("p48") &&
            col("approx_median") <= col("p52")).as("in_rank_window"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority,
             |  CAST(round(quantile_cont(o_totalprice, 0.5) * 200)
             |    AS BIGINT) AS exact_median_x200,
             |  CAST(count(*) AS BIGINT) AS n,
             |  TRUE AS in_rank_window
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),
    // ---- U4/U5: INTERSECT / EXCEPT (distinct set semantics) --------------
    Q("u04_intersect",
      (s, dir) => {
        val od = t(s, dir, "orders")
        od.select(col("o_custkey").as("team"))
          .intersect(od.select(((col("o_custkey") * 13 + 7) % 100)
            .as("team")))
          .orderBy("team")
      },
      Some("""SELECT o_custkey AS team FROM orders
             |INTERSECT
             |SELECT (o_custkey*13+7)%100 AS team FROM orders
             |ORDER BY team""".stripMargin)),

    Q("u05_except",
      (s, dir) => {
        val od = t(s, dir, "orders")
        od.select(col("o_custkey").as("team"))
          .except(od.select(((col("o_custkey") * 13 + 7) % 100).as("team")))
          .orderBy("team")
      },
      Some("""SELECT o_custkey AS team FROM orders
             |EXCEPT
             |SELECT (o_custkey*13+7)%100 AS team FROM orders
             |ORDER BY team""".stripMargin)),

    // ---- P5: unpivot (wide→long melt — the inverse of the S5 pivot) ------
    Q("p05_unpivot",
      (s, dir) => t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_custkey").cast("double").as("o_custkey"))
        .unpivot(Array(col("o_orderkey")),
          Array(col("o_totalprice"), col("o_custkey")),
          "metric", "value")
        .orderBy("o_orderkey", "metric"),
      Some("""SELECT o_orderkey, 'o_totalprice' AS metric,
             |  o_totalprice AS value FROM orders
             |UNION ALL
             |SELECT o_orderkey, 'o_custkey', CAST(o_custkey AS DOUBLE)
             |  FROM orders
             |ORDER BY o_orderkey, metric""".stripMargin)),

    // ---- A19: stratified sampling audit (corpus mixing) — seeded
    //      sampleBy is engine-specific, so the row carries its own
    //      quantitative check: achieved vs target fraction per language.
    //      Bernoulli sampling at n≈target·N has σ≈sqrt(f(1-f)/N); the
    //      tolerance below is a loose multi-σ bound at sf0.001 scale. ----
    Q("a19_stratified_sample",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val fractions = Map("en" -> 0.5, "fr" -> 0.25, "es" -> 0.25,
          "de" -> 0.25, "zh" -> 0.25)
        val sampled = docs.stat.sampleBy("lang", fractions, seed = 42L)
        val base = docs.groupBy(col("lang"))
          .agg(count(lit(1)).as("total"))
        val got = sampled.groupBy(col("lang"))
          .agg(count(lit(1)).as("kept"))
        val target = typedLit(fractions)
        base.join(got, Seq("lang"), "left")
          .select(col("lang"), col("total"),
            coalesce(col("kept"), lit(0L)).as("kept"),
            element_at(target, col("lang")).as("target_frac"),
            (coalesce(col("kept"), lit(0L)) / col("total"))
              .as("achieved_frac"),
            (abs(coalesce(col("kept"), lit(0L)) / col("total") -
              element_at(target, col("lang"))) <= 0.15).as("within_tol"))
          .orderBy("lang")
      },
      None),

    // ---- P4: drop helper columns -----------------------------------------
    Q("p04_drop_columns",
      (s, dir) => t(s, dir, "orders")
        .withColumn("date", col("o_orderdate").cast("date"))
        .drop("o_orderdate", "o_orderpriority", "o_orderstatus")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          date_format(col("date"), "yyyy-MM-dd").as("date"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice,
             |  strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS date
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // ---- U6: MERGE-style upsert (snapshot refresh): updates modify 1/10
    //      of base keys, delete another 1/10, insert new synthetic keys;
    //      join-free union+window form (etl/Merge.upsert) ------------------
    Q("u06_upsert",
      (s, dir) => {
        val base = t(s, dir, "orders").select(col("o_orderkey"),
          col("o_custkey"), col("o_totalprice"), col("o_orderstatus"))
        val mods = base.filter(col("o_orderkey") % 10 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 1000)
          .withColumn("__del", lit(false))
        val dels = base.filter(col("o_orderkey") % 10 === 1)
          .withColumn("__del", lit(true))
        val ins = base.filter(col("o_orderkey") % 25 === 2)
          .withColumn("o_orderkey", col("o_orderkey") + 100000000L)
          .withColumn("__del", lit(false))
        val updates = mods.unionByName(dels).unionByName(ins)
        Merge.upsert(base, updates, Seq("o_orderkey"),
            deleteCol = Some("__del"))
          .orderBy("o_orderkey")
      },
      Some("""WITH base AS (
             |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
             |  FROM orders),
             |upd AS (
             |  SELECT o_orderkey, o_custkey, o_totalprice + 1000
             |      AS o_totalprice, o_orderstatus, false AS del
             |    FROM base WHERE o_orderkey % 10 = 0
             |  UNION ALL
             |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
             |      true FROM base WHERE o_orderkey % 10 = 1
             |  UNION ALL
             |  SELECT o_orderkey + 100000000, o_custkey, o_totalprice,
             |      o_orderstatus, false FROM base WHERE o_orderkey % 25 = 2)
             |SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
             |FROM (
             |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
             |    FROM upd WHERE NOT del
             |  UNION ALL
             |  SELECT * FROM base
             |    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd))
             |ORDER BY o_orderkey""".stripMargin)),

    // ---- W8: SCD2 history build — half-open validity intervals per key
    //      from a change log, one window (etl/Merge.scd2) ------------------
    Q("w08_scd2",
      (s, dir) => {
        val daily = t(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderdate").cast("date").as("date"),
            col("o_totalprice"))
          .groupBy(col("o_custkey"), col("date"))
          .agg((decSum(col("o_totalprice")) / count(lit(1))).as("price"))
        Merge.scd2(daily, Seq("o_custkey"), "date")
          .select(col("o_custkey"),
            date_format(col("date"), "yyyy-MM-dd").as("effective_from"),
            col("price"),
            coalesce(date_format(col("effective_to"), "yyyy-MM-dd"),
              lit("current")).as("effective_to"),
            col("is_current").cast("int").as("is_current"))
          .orderBy("o_custkey", "effective_from")
      },
      Some("""WITH daily AS (
             |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS date,
             |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |      / count(*) AS price
             |  FROM orders GROUP BY 1, 2)
             |SELECT o_custkey,
             |  strftime(date, '%Y-%m-%d') AS effective_from, price,
             |  coalesce(strftime(lead(date) OVER
             |    (PARTITION BY o_custkey ORDER BY date), '%Y-%m-%d'),
             |    'current') AS effective_to,
             |  CAST(lead(date) OVER
             |    (PARTITION BY o_custkey ORDER BY date) IS NULL AS INT)
             |    AS is_current
             |FROM daily ORDER BY o_custkey, effective_from""".stripMargin)),

    // ---- A20: histogram binning (width_bucket) — exact integer counts
    //      per fixed-width price bucket, the standard profiling op -------
    Q("a20_histogram",
      (s, dir) => t(s, dir, "orders")
        .select(expr("width_bucket(o_totalprice, 0, 600000, 12)").as("bucket"),
          col("o_totalprice"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("orders"),
          decSum(col("o_totalprice")).as("total"))
        .orderBy("bucket"),
      // DuckDB has no width_bucket; the explicit arithmetic is exactly
      // Spark's (bin width 600000/12 = 50000 is binary-exact, so
      // floor(v/50000)+1 reproduces the boundary behavior bit-for-bit)
      Some("""SELECT CASE WHEN o_totalprice < 0 THEN 0
             |    WHEN o_totalprice >= 600000 THEN 13
             |    ELSE CAST(floor(o_totalprice / 50000) AS BIGINT) + 1 END
             |    AS bucket,
             |  count(*) AS orders,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total
             |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // ---- A21: exact median / quartiles per group — Spark `percentile`
    //      (exact, sort-based) vs DuckDB quantile_cont: both linear-
    //      interpolation over the sorted group ---------------------------
    Q("a21_median",
      (s, dir) => t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(expr("percentile(o_totalprice, 0.25)").as("q1"),
          expr("percentile(o_totalprice, 0.5)").as("median"),
          expr("percentile(o_totalprice, 0.75)").as("q3"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority,
             |  quantile_cont(o_totalprice, 0.25) AS q1,
             |  quantile_cont(o_totalprice, 0.5) AS median,
             |  quantile_cont(o_totalprice, 0.75) AS q3,
             |  count(*) AS n
             |FROM orders GROUP BY 1 ORDER BY o_orderpriority""".stripMargin)),

    // ---- A22: forward fill (LOCF) — nulls planted deterministically on
    //      'view' events, filled from each user's last non-null value
    //      under the (ts, event_id) total order; leading nulls stay null --
    Q("a22_forward_fill",
      (s, dir) => {
        val ev = events(s, dir).withColumn("v",
          when(col("event_type") === "view", lit(null).cast("double"))
            .otherwise(col("value")))
        Impute.forwardFill(ev, Seq("user_id"),
            Seq(col("ts"), col("event_id")), Seq("v"))
          .select(col("event_id"), col("user_id"), col("v"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id,
             |  last_value(CASE WHEN event_type = 'view' THEN NULL
             |      ELSE value END IGNORE NULLS)
             |    OVER (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
             |FROM events ORDER BY event_id""".stripMargin)),

    // ---- J12: the runtime-bloom-filter join shape — selective dim filter
    //      + shuffle join on the fact key. At 100 TB Spark's
    //      InjectRuntimeFilter turns the dim filter into a bloom filter
    //      probed INSIDE the fact scan, cutting the shuffle to matching
    //      rows; BloomJoinSpec proves the injection fires (the thresholds
    //      are sized for real tables, so KB-scale test data needs the
    //      spec's tuned session, same pattern as the DPP proof) -----------
    Q("j12_runtime_filter_join",
      (s, dir) => {
        val li = t(s, dir, "lineitem").select(col("l_orderkey"),
          col("l_extendedprice"))
        val urgent = t(s, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey"), col("o_custkey"))
        li.join(urgent, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("items"),
            decSum(col("l_extendedprice")).as("revenue"))
          .orderBy("o_custkey")
      },
      Some("""SELECT o_custkey, count(*) AS items,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS revenue
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |WHERE o_orderpriority = '1-URGENT'
             |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin))
  )
}
