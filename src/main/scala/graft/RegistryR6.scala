package graft

import org.apache.spark.sql.functions._

import graft.functions.SketchStore
import graft.llm.Dedup
import Registry.{events, t}

/** Round-6 widening: mergeable sketch stores (incremental distinct /
  * frequency at 100 TB), Spark 4 VARIANT ingest for schema-on-read JSON,
  * and the collection higher-order-function surface. Variant and array
  * entries are oracle-exact; the sketch entries are rows-only by nature
  * (DuckDB has no Datasketches HLL / Count-Min) but carry their exact
  * counterparts IN-ROW so the driver's check is quantitative, with the
  * mergeability law asserted bit-for-bit in `SketchStoreSpec`.
  */
object RegistryR6 {

  def entries: Seq[Q] = Seq(

    // ---- A36: HLL sketch-store rollup — distinct users per event type
    //      from per-(type, day) sketches. merged_est is computed ONLY
    //      from the sketch table (the incremental path); direct_est and
    //      exact_users recompute from raw rows to witness, in-row, that
    //      (a) sketch merge is lossless (merged == direct, the register-
    //      max law) and (b) the estimate is tight (rel_err) ---------------
    Q("a36_hll_rollup",
      (s, dir) => {
        val evd = events(s, dir).withColumn("day", to_date(col("ts")))
        val st = SketchStore.distinctSketches(
          evd, Seq("event_type", "day"), "user_id")
        val rolled = SketchStore.rollupDistinct(st, Seq("event_type"))
        val direct = evd.groupBy("event_type").agg(
          round(hll_sketch_estimate(hll_sketch_agg(col("user_id"), 12)))
            .cast("long").as("direct_est"),
          countDistinct(col("user_id")).as("exact_users"))
        rolled.join(direct, "event_type")
          .withColumn("merge_lossless",
            col("approx_distinct") === col("direct_est"))
          .withColumn("rel_err",
            round(abs(col("approx_distinct") - col("exact_users"))
              .cast("double") / col("exact_users"), 4))
          .orderBy("event_type")
      },
      None),

    // ---- A37: Count-Min frequency probes — per-event-type estimated
    //      occurrence counts from a 0.1%-error sketch, with the exact
    //      count and the one-sided guarantee (est >= exact, overshoot
    //      <= eps*N) witnessed in-row. Fixed seed => deterministic ------
    Q("a37_cm_frequency",
      (s, dir) => {
        val ev = events(s, dir)
        val n = ev.count()
        val eps = 0.001
        val cm = SketchStore.cmBuild(ev, "event_type", eps = eps)
        val exact = ev.groupBy(col("event_type").cast("string").as("item"))
          .agg(count(lit(1)).as("exact_cnt"))
        SketchStore.cmProbe(exact.select("item"), "item", cm)
          .join(exact, "item")
          .withColumn("overestimate_ok", col("est_cnt") >= col("exact_cnt"))
          .withColumn("within_eps",
            col("est_cnt") - col("exact_cnt") <= lit((eps * n).toLong + 1))
          .orderBy("item")
      },
      None),

    // ---- S10: VARIANT ingest — schema-on-read JSON as Spark 4's binary
    //      variant type: parse once, extract typed paths (nested object,
    //      array index, boolean, JSON null, absent path). The crawl-
    //      metadata shape: producers evolve payloads freely, the engine
    //      reads any vintage without a declared schema. Oracle: DuckDB
    //      json_extract over the identical JSON text -----------------------
    Q("s10_variant_ingest",
      (s, dir) => {
        val raw = t(s, dir, "documents").select(col("doc_id"),
          concat(lit("{\"meta\":{\"lang\":\""), col("lang"),
            lit("\",\"n\":"), col("n_chars"),
            lit("},\"tags\":[\""), col("source"), lit("\",\"corpus\"],"),
            lit("\"flag\":"),
            when(pmod(col("doc_id"), lit(2)) === 0, lit("true"))
              .otherwise(lit("null")),
            lit("}")).as("raw"))
        raw.select(col("doc_id"), parse_json(col("raw")).as("v"))
          .select(col("doc_id"),
            variant_get(col("v"), "$.meta.lang", "string").as("lang"),
            variant_get(col("v"), "$.meta.n", "bigint").as("n"),
            variant_get(col("v"), "$.tags[1]", "string").as("tag1"),
            variant_get(col("v"), "$.flag", "boolean").as("flag"),
            try_variant_get(col("v"), "$.meta.missing", "bigint")
              .as("missing"))
          .orderBy("doc_id")
      },
      Some("""WITH j AS (
             |  SELECT doc_id,
             |    concat('{"meta":{"lang":"', lang, '","n":', n_chars,
             |      '},"tags":["', source, '","corpus"],"flag":',
             |      CASE WHEN doc_id % 2 = 0 THEN 'true' ELSE 'null' END,
             |      '}') AS raw
             |  FROM documents)
             |SELECT doc_id,
             |  json_extract_string(raw, '$.meta.lang') AS lang,
             |  CAST(json_extract(raw, '$.meta.n') AS BIGINT) AS n,
             |  json_extract_string(raw, '$.tags[1]') AS tag1,
             |  CAST(json_extract_string(raw, '$.flag') AS BOOLEAN) AS flag,
             |  CAST(NULL AS BIGINT) AS missing
             |FROM j ORDER BY doc_id""".stripMargin)),

    // ---- X24: collection higher-order-function surface — transform /
    //      filter / exists / forall / aggregate / zip_with / sort /
    //      distinct / slice over per-doc word arrays, all codegen'd
    //      column expressions (scan speed, zero shuffles). Integer
    //      accumulators only, so the DuckDB list_* oracle matches
    //      bit-for-bit ---------------------------------------------------
    Q("x24_array_surface",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val words = filter(split(col("text"), "\\s+"), w => w =!= "")
        val lens = transform(col("words"), w => length(w).cast("long"))
        docs.select(col("doc_id"), words.as("words"))
          .select(col("doc_id"), col("words"), lens.as("lens"))
          .select(col("doc_id"),
            size(col("words")).cast("long").as("n_words"),
            aggregate(col("lens"), lit(0L), (a, x) => a + x)
              .as("total_chars"),
            size(filter(col("words"), w => length(w) >= 7)).cast("long")
              .as("long_words"),
            exists(col("words"), w => w === "the").as("has_the"),
            forall(col("words"), w => length(w) < 40).as("all_short"),
            concat_ws(",", slice(array_sort(array_distinct(col("words"))),
              1, 3)).as("first3"),
            aggregate(zip_with(col("lens"), reverse(col("lens")),
              (a, b) => a * b), lit(0L), (a, x) => a + x).as("rev_dot"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (
             |  SELECT doc_id,
             |    list_filter(string_split_regex(text, '\s+'),
             |      w -> w <> '') AS words
             |  FROM documents),
             |l AS (
             |  SELECT doc_id, words,
             |    list_transform(words, w -> CAST(length(w) AS BIGINT))
             |      AS lens
             |  FROM d)
             |SELECT doc_id,
             |  len(words) AS n_words,
             |  CAST(coalesce(list_sum(lens), 0) AS BIGINT) AS total_chars,
             |  len(list_filter(words, w -> length(w) >= 7)) AS long_words,
             |  len(list_filter(words, w -> w = 'the')) > 0 AS has_the,
             |  len(list_filter(words, w -> length(w) >= 40)) = 0
             |    AS all_short,
             |  array_to_string(list_sort(list_distinct(words))[1:3], ',')
             |    AS first3,
             |  CAST(coalesce(list_dot_product(lens, list_reverse(lens)), 0)
             |    AS BIGINT) AS rev_dot
             |FROM l ORDER BY doc_id""".stripMargin)),

    // ---- A38: EXACT distinct via bucketed bitmaps — the exact
    //      counterpart of a36's HLL store: user ids partition into
    //      32k-id buckets, each (grain, bucket) holds one ≤4 KB bitmap,
    //      rollup = bitmap OR + popcount sum. Mergeable like HLL but
    //      EXACT, so the oracle is a plain COUNT(DISTINCT) — hash-match,
    //      not a tolerance. The per-(type,day,bucket) bitmap table is
    //      the incremental layer: yesterday's bitmaps never recompute --
    Q("a38_bitmap_distinct",
      (s, dir) => {
        val fine = SketchStore.bitmapTable(
          events(s, dir).withColumn("day", to_date(col("ts"))),
          Seq("event_type", "day"), "user_id")
        SketchStore.bitmapRollup(fine, Seq("event_type"))
          .withColumnRenamed("distinct_items", "distinct_users")
          .orderBy("event_type")
      },
      Some("""SELECT event_type,
             |  CAST(count(DISTINCT user_id) AS BIGINT) AS distinct_users
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- X25: map-function surface — map_from_arrays / map_concat /
    //      transform_values / map_filter / map_zip_with / map_keys /
    //      map_contains_key as column expressions. The oracle re-derives
    //      every output from the SOURCE fields (x19 pattern), so a map
    //      bug cannot self-confirm -------------------------------------
    Q("x25_map_surface",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val m = map_from_arrays(
          array(lit("lang"), lit("source")),
          array(col("lang"), col("source")))
        val mm = map_concat(m, map_from_arrays(array(lit("n")),
          array(col("n_chars").cast("string"))))
        val up = transform_values(mm, (_, v) => upper(v))
        docs.select(col("doc_id"),
          element_at(up, "lang").as("lang_up"),
          map_contains_key(mm, "n").as("has_n"),
          size(mm).cast("long").as("n_keys"),
          concat_ws(",", array_sort(map_keys(mm))).as("keys_sorted"),
          concat_ws(",", map_values(map_filter(mm, (k, _) => k =!= "n")))
            .as("vals_no_n"),
          element_at(map_zip_with(m, up, (_, a, b) => concat(a, b)),
            "source").as("zip_source"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  upper(lang) AS lang_up,
             |  true AS has_n,
             |  CAST(3 AS BIGINT) AS n_keys,
             |  'lang,n,source' AS keys_sorted,
             |  concat(lang, ',', source) AS vals_no_n,
             |  concat(source, upper(source)) AS zip_source
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- J18: TPC-H Q3 shape (shipping priority): filtered dim
    //      broadcasts into the orders fact, fact-fact equi-join to
    //      lineitem, revenue in exact integer units, top-10 under a
    //      total order. The canonical 3-table analytic join plan -------
    Q("j18_tpch_q3",
      (s, dir) => {
        val cents = round(col("l_extendedprice") * 100, 0)
          .cast("decimal(38,0)")
        val disc = round((lit(1) - col("l_discount")) * 100, 0)
          .cast("decimal(38,0)")
        val cust = t(s, dir, "customer")
          .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
        val ord = t(s, dir, "orders")
          .filter(to_date(col("o_orderdate")) < lit("1997-03-15"))
          .select(col("o_orderkey"), col("o_custkey"),
            to_date(col("o_orderdate")).cast("string").as("o_orderdate"))
        val li = t(s, dir, "lineitem")
          .filter(to_date(col("l_shipdate")) > lit("1997-03-15"))
          .select(col("l_orderkey"), (cents * disc).as("rev_units"))
        ord.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .join(li, col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"))
          .agg((sum(col("rev_units")).cast("double") / 10000.0)
            .as("revenue"))
          .select(col("l_orderkey"), col("revenue"), col("o_orderdate"))
          .orderBy(col("revenue").desc, col("o_orderdate"),
            col("l_orderkey"))
          .limit(10)
      },
      Some("""SELECT l_orderkey,
             |  CAST(sum(CAST(round(l_extendedprice * 100) AS HUGEINT)
             |      * CAST(round((1 - l_discount) * 100) AS HUGEINT))
             |    AS DOUBLE) / 10000.0 AS revenue,
             |  strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d')
             |    AS o_orderdate
             |FROM customer, orders, lineitem
             |WHERE c_mktsegment = 'BUILDING'
             |  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
             |  AND CAST(o_orderdate AS DATE) < DATE '1997-03-15'
             |  AND CAST(l_shipdate AS DATE) > DATE '1997-03-15'
             |GROUP BY l_orderkey, o_orderdate
             |ORDER BY revenue DESC, o_orderdate, l_orderkey
             |LIMIT 10""".stripMargin)),

    // ---- J19: TPC-H Q5 shape (local-supplier volume): six-table join
    //      where region→nation→supplier broadcast down into the fact
    //      chain, customer joins on the shuffle, and the
    //      same-nation-as-supplier condition lands as a post-join
    //      filter. Exact integer revenue units, deterministic order ----
    Q("j19_tpch_q5",
      (s, dir) => {
        val cents = round(col("l_extendedprice") * 100, 0)
          .cast("decimal(38,0)")
        val disc = round((lit(1) - col("l_discount")) * 100, 0)
          .cast("decimal(38,0)")
        val asiaNations = t(s, dir, "nation")
          .join(broadcast(t(s, dir, "region")
            .filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("n_name"))
        val sup = t(s, dir, "supplier")
          .join(broadcast(asiaNations),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
        val ord = t(s, dir, "orders")
          .filter(to_date(col("o_orderdate")) >= lit("1996-01-01") &&
            to_date(col("o_orderdate")) < lit("1997-01-01"))
          .select(col("o_orderkey"), col("o_custkey"))
        val li = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"),
            (cents * disc).as("rev_units"))
        li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_nationkey")),
            col("o_custkey") === col("c_custkey"))
          .filter(col("c_nationkey") === col("s_nationkey"))
          .groupBy(col("n_name"))
          .agg((sum(col("rev_units")).cast("double") / 10000.0)
            .as("revenue"))
          .orderBy(col("revenue").desc, col("n_name"))
      },
      Some("""SELECT n_name,
             |  CAST(sum(CAST(round(l_extendedprice * 100) AS HUGEINT)
             |      * CAST(round((1 - l_discount) * 100) AS HUGEINT))
             |    AS DOUBLE) / 10000.0 AS revenue
             |FROM customer, orders, lineitem, supplier, nation, region
             |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
             |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
             |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
             |  AND r_name = 'ASIA'
             |  AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
             |  AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
             |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin)),

    // ---- J20: TPC-H Q7 shape (volume shipping): the join shape nothing
    //      else pins — a FILTERED dim on BOTH fact sides. The nation
    //      pair filters supplier (broadcast into lineitem) AND customer
    //      (shuffle-joined: at scale the 2-of-25-nations customer slice
    //      is still fact-sized, so broadcasting it would be wrong), with
    //      the cross-pair predicate landing after both joins. Exact
    //      integer revenue units; year extracted from shipdate ----------
    Q("j20_tpch_q7",
      (s, dir) => {
        val cents = round(col("l_extendedprice") * 100, 0)
          .cast("decimal(38,0)")
        val disc = round((lit(1) - col("l_discount")) * 100, 0)
          .cast("decimal(38,0)")
        val pair = Seq("NATION_12", "NATION_10")
        val n = t(s, dir, "nation").filter(col("n_name").isin(pair: _*))
        val sup = t(s, dir, "supplier")
          .join(broadcast(n.select(col("n_nationkey"),
            col("n_name").as("supp_nation"))),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("supp_nation"))
        val cust = t(s, dir, "customer")
          .join(broadcast(n.select(col("n_nationkey").as("nk2"),
            col("n_name").as("cust_nation"))),
            col("c_nationkey") === col("nk2"))
          .select(col("c_custkey"), col("cust_nation"))
        val li = t(s, dir, "lineitem")
          .filter(to_date(col("l_shipdate")).between(
            lit("1996-01-01"), lit("1997-12-31")))
          .select(col("l_orderkey"), col("l_suppkey"),
            year(to_date(col("l_shipdate"))).cast("long").as("l_year"),
            (cents * disc).as("rev_units"))
        li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .join(t(s, dir, "orders").select(col("o_orderkey"),
            col("o_custkey")), col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .filter((col("supp_nation") === "NATION_12" &&
              col("cust_nation") === "NATION_10") ||
            (col("supp_nation") === "NATION_10" &&
              col("cust_nation") === "NATION_12"))
          .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
          .agg((sum(col("rev_units")).cast("double") / 10000.0)
            .as("revenue"))
          .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      },
      Some("""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             |  CAST(year(CAST(l_shipdate AS DATE)) AS BIGINT) AS l_year,
             |  CAST(sum(CAST(round(l_extendedprice * 100) AS HUGEINT)
             |      * CAST(round((1 - l_discount) * 100) AS HUGEINT))
             |    AS DOUBLE) / 10000.0 AS revenue
             |FROM supplier, lineitem, orders, customer,
             |  nation n1, nation n2
             |WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
             |  AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
             |  AND c_nationkey = n2.n_nationkey
             |  AND ((n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_10')
             |    OR (n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_12'))
             |  AND CAST(l_shipdate AS DATE)
             |    BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
             |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // ---- J21: TPC-H Q8 shape (national market share): eight-table join
    //      with TWO nation roles (supplier nation labels the volume,
    //      customer nation gates through region) and a conditional-sum
    //      ratio per order year. Part + supplier dims broadcast into
    //      lineitem; orders carries the year; the share divides two
    //      exact integer-unit sums ------------------------------------
    Q("j21_tpch_q8",
      (s, dir) => {
        val cents = round(col("l_extendedprice") * 100, 0)
          .cast("decimal(38,0)")
        val disc = round((lit(1) - col("l_discount")) * 100, 0)
          .cast("decimal(38,0)")
        val amNations = t(s, dir, "nation")
          .join(broadcast(t(s, dir, "region")
            .filter(col("r_name") === "AMERICA")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey").as("am_nk"))
        val supN = t(s, dir, "supplier")
          .join(broadcast(t(s, dir, "nation")
            .select(col("n_nationkey").as("snk"),
              col("n_name").as("nation"))),
            col("s_nationkey") === col("snk"))
          .select(col("s_suppkey"), col("nation"))
        val pt = t(s, dir, "part")
          .filter(col("p_type") === "ECONOMY").select(col("p_partkey"))
        val ord = t(s, dir, "orders")
          .filter(to_date(col("o_orderdate")).between(
            lit("1996-01-01"), lit("1997-12-31")))
          .select(col("o_orderkey"), col("o_custkey"),
            year(to_date(col("o_orderdate"))).cast("long").as("o_year"))
        val custAm = t(s, dir, "customer")
          .join(broadcast(amNations), col("c_nationkey") === col("am_nk"))
          .select(col("c_custkey"))
        t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
            (cents * disc).as("vol"))
          .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
          .join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
          .join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(custAm, col("o_custkey") === col("c_custkey"))
          .groupBy(col("o_year"))
          .agg((sum(when(col("nation") === "NATION_3", col("vol"))
              .otherwise(lit(0).cast("decimal(38,0)"))).cast("double") /
            sum(col("vol")).cast("double")).as("mkt_share"))
          .orderBy(col("o_year"))
      },
      Some("""SELECT o_year,
             |  CAST(sum(CASE WHEN nation = 'NATION_3' THEN vol
             |             ELSE 0 END) AS DOUBLE)
             |    / CAST(sum(vol) AS DOUBLE) AS mkt_share
             |FROM (
             |  SELECT CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT)
             |      AS o_year,
             |    CAST(round(l_extendedprice * 100) AS HUGEINT)
             |      * CAST(round((1 - l_discount) * 100) AS HUGEINT) AS vol,
             |    n2.n_name AS nation
             |  FROM part, supplier, lineitem, orders, customer,
             |    nation n1, nation n2, region
             |  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
             |    AND l_orderkey = o_orderkey AND o_custkey = c_custkey
             |    AND c_nationkey = n1.n_nationkey
             |    AND n1.n_regionkey = r_regionkey AND r_name = 'AMERICA'
             |    AND s_nationkey = n2.n_nationkey
             |    AND CAST(o_orderdate AS DATE)
             |      BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
             |    AND p_type = 'ECONOMY')
             |GROUP BY o_year ORDER BY o_year""".stripMargin)),

    // ---- J22: TPC-H Q17 shape (small-quantity-order revenue): a
    //      CORRELATED SCALAR SUBQUERY — each lineitem compares against
    //      0.2×avg(quantity) of ITS OWN part — through the SQL entry
    //      point, pinning Catalyst's decorrelation (the subquery
    //      rewrites to a per-part aggregate joined back; no per-row
    //      re-execution). Threshold doubles are bit-identical across
    //      engines: integer-valued quantity sums / exact counts, same
    //      division, same ×0.2. Exact integer cents for revenue --------
    Q("j22_tpch_q17",
      (s, dir) => {
        t(s, dir, "lineitem").createOrReplaceTempView("g_lineitem")
        t(s, dir, "part").createOrReplaceTempView("g_part")
        s.sql("""
          SELECT p_brand,
            CAST(sum(CAST(round(l_extendedprice * 100) AS DECIMAL(38,0)))
              AS DOUBLE) / 700.0 AS avg_yearly
          FROM g_lineitem, g_part
          WHERE p_partkey = l_partkey
            AND p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
            AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                              FROM g_lineitem l2
                              WHERE l2.l_partkey = p_partkey)
          GROUP BY p_brand ORDER BY p_brand""")
      },
      Some("""SELECT p_brand,
             |  CAST(sum(CAST(round(l_extendedprice * 100) AS HUGEINT))
             |    AS DOUBLE) / 700.0 AS avg_yearly
             |FROM lineitem, part
             |WHERE p_partkey = l_partkey
             |  AND p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
             |  AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
             |                    FROM lineitem l2
             |                    WHERE l2.l_partkey = p_partkey)
             |GROUP BY p_brand ORDER BY p_brand""".stripMargin)),

    // ---- J24: TPC-H Q4 shape — correlated EXISTS whose correlation
    //      carries a NON-EQUI predicate (line shipped >60 days after its
    //      own order's date; the reference's l_commitdate/l_receiptdate
    //      don't exist in this dataset). Catalyst must decorrelate to
    //      ONE left-semi hash join on l_orderkey with the date condition
    //      as an extra join predicate — never a per-order re-scan ------
    Q("j24_tpch_q4",
      (s, dir) => {
        t(s, dir, "orders").createOrReplaceTempView("g_orders")
        t(s, dir, "lineitem").createOrReplaceTempView("g_lineitem")
        s.sql("""
          SELECT o_orderpriority, count(*) AS order_count
          FROM g_orders o
          WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
            AND CAST(o_orderdate AS DATE) < DATE '1996-07-01'
            AND EXISTS (SELECT * FROM g_lineitem l
                        WHERE l.l_orderkey = o.o_orderkey
                          AND CAST(l.l_shipdate AS DATE)
                              > date_add(CAST(o.o_orderdate AS DATE), 60))
          GROUP BY o_orderpriority ORDER BY o_orderpriority""")
      },
      Some("""SELECT o_orderpriority, count(*) AS order_count
             |FROM orders o
             |WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
             |  AND CAST(o_orderdate AS DATE) < DATE '1996-07-01'
             |  AND EXISTS (SELECT * FROM lineitem l
             |              WHERE l.l_orderkey = o.o_orderkey
             |                AND CAST(l.l_shipdate AS DATE)
             |                    > CAST(o.o_orderdate AS DATE) + 60)
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // ---- J25: TPC-H Q21 shape — EXISTS and NOT EXISTS correlated to
    //      the SAME fact table with an inequality on the correlated key
    //      (another supplier's line in the same order / no OTHER
    //      supplier late). Decorrelates to a left-semi AND a left-anti
    //      join against lineitem on l_orderkey, each carrying the
    //      l_suppkey <> condition; "late" is a fixed ship-date cutoff
    //      (the reference's receipt-vs-commit pair isn't in this
    //      dataset) ----------------------------------------------------
    Q("j25_tpch_q21",
      (s, dir) => {
        t(s, dir, "supplier").createOrReplaceTempView("g_supplier")
        t(s, dir, "lineitem").createOrReplaceTempView("g_lineitem")
        t(s, dir, "orders").createOrReplaceTempView("g_orders")
        t(s, dir, "nation").createOrReplaceTempView("g_nation")
        s.sql("""
          SELECT s_name, count(*) AS numwait
          FROM g_supplier, g_lineitem l1, g_orders, g_nation
          WHERE s_suppkey = l1.l_suppkey
            AND o_orderkey = l1.l_orderkey
            AND CAST(l1.l_shipdate AS DATE) > DATE '2000-06-01'
            AND EXISTS (SELECT * FROM g_lineitem l2
                        WHERE l2.l_orderkey = l1.l_orderkey
                          AND l2.l_suppkey <> l1.l_suppkey)
            AND NOT EXISTS (SELECT * FROM g_lineitem l3
                            WHERE l3.l_orderkey = l1.l_orderkey
                              AND l3.l_suppkey <> l1.l_suppkey
                              AND CAST(l3.l_shipdate AS DATE)
                                  > DATE '2000-06-01')
            AND s_nationkey = n_nationkey AND n_name = 'NATION_3'
          GROUP BY s_name ORDER BY numwait DESC, s_name""")
      },
      Some("""SELECT s_name, count(*) AS numwait
             |FROM supplier, lineitem l1, orders, nation
             |WHERE s_suppkey = l1.l_suppkey
             |  AND o_orderkey = l1.l_orderkey
             |  AND CAST(l1.l_shipdate AS DATE) > DATE '2000-06-01'
             |  AND EXISTS (SELECT * FROM lineitem l2
             |              WHERE l2.l_orderkey = l1.l_orderkey
             |                AND l2.l_suppkey <> l1.l_suppkey)
             |  AND NOT EXISTS (SELECT * FROM lineitem l3
             |                  WHERE l3.l_orderkey = l1.l_orderkey
             |                    AND l3.l_suppkey <> l1.l_suppkey
             |                    AND CAST(l3.l_shipdate AS DATE)
             |                        > DATE '2000-06-01')
             |  AND s_nationkey = n_nationkey AND n_name = 'NATION_3'
             |GROUP BY s_name
             |ORDER BY numwait DESC, s_name""".stripMargin)),

    // ---- J26: TPC-H Q22 shape — uncorrelated scalar subquery as a
    //      filter threshold PLUS a correlated NOT EXISTS anti-join.
    //      The avg comparison is exact-rational (cents * N > sum_cents,
    //      all integers) so no engine's division rounding can flip a
    //      boundary row; "country code" is c_custkey % 7 (no c_phone in
    //      this dataset) and "no orders" is "no URGENT order" (every
    //      customer here has orders) -----------------------------------
    Q("j26_tpch_q22",
      (s, dir) => {
        t(s, dir, "customer").createOrReplaceTempView("g_customer")
        t(s, dir, "orders").createOrReplaceTempView("g_orders")
        s.sql("""
          SELECT cntrycode, count(*) AS numcust,
            CAST(sum(cents) AS DOUBLE) / 100.0 AS totacctbal
          FROM (SELECT c_custkey % 7 AS cntrycode,
                  CAST(round(c_acctbal * 100) AS BIGINT) AS cents
                FROM g_customer c
                WHERE c_custkey % 7 IN (1, 3, 5)
                  AND CAST(round(c_acctbal * 100) AS BIGINT) *
                      (SELECT count(*) FROM g_customer
                       WHERE c_acctbal > 0.0
                         AND c_custkey % 7 IN (1, 3, 5))
                    > (SELECT sum(CAST(round(c_acctbal * 100) AS BIGINT))
                       FROM g_customer
                       WHERE c_acctbal > 0.0
                         AND c_custkey % 7 IN (1, 3, 5))
                  AND NOT EXISTS (SELECT * FROM g_orders o
                                  WHERE o.o_custkey = c.c_custkey
                                    AND o.o_orderpriority = '1-URGENT'))
          GROUP BY cntrycode ORDER BY cntrycode""")
      },
      Some("""SELECT cntrycode, count(*) AS numcust,
             |  CAST(sum(cents) AS DOUBLE) / 100.0 AS totacctbal
             |FROM (SELECT c_custkey % 7 AS cntrycode,
             |        CAST(round(c_acctbal * 100) AS BIGINT) AS cents
             |      FROM customer c
             |      WHERE c_custkey % 7 IN (1, 3, 5)
             |        AND CAST(round(c_acctbal * 100) AS BIGINT) *
             |            (SELECT count(*) FROM customer
             |             WHERE c_acctbal > 0.0
             |               AND c_custkey % 7 IN (1, 3, 5))
             |          > (SELECT sum(CAST(round(c_acctbal * 100)
             |               AS BIGINT))
             |             FROM customer
             |             WHERE c_acctbal > 0.0
             |               AND c_custkey % 7 IN (1, 3, 5))
             |        AND NOT EXISTS (SELECT * FROM orders o
             |                        WHERE o.o_custkey = c.c_custkey
             |                          AND o.o_orderpriority =
             |                              '1-URGENT'))
             |GROUP BY cntrycode ORDER BY cntrycode""".stripMargin)),

    // ---- J27: TPC-H Q13 shape — LEFT OUTER join with a filter INSIDE
    //      the ON clause (dropped orders must NOT drop their customer),
    //      then a double aggregation: per-customer order count, then the
    //      distribution of those counts. Zero-order customers land in
    //      the c_count = 0 bucket — the outer-join null path is load-
    //      bearing, an inner join would silently lose them --------------
    Q("j27_tpch_q13",
      (s, dir) => {
        t(s, dir, "customer").createOrReplaceTempView("g_customer")
        t(s, dir, "orders").createOrReplaceTempView("g_orders")
        s.sql("""
          SELECT c_count, count(*) AS custdist
          FROM (SELECT c.c_custkey, count(o.o_orderkey) AS c_count
                FROM g_customer c LEFT OUTER JOIN g_orders o
                  ON c.c_custkey = o.o_custkey
                 AND o.o_orderpriority <> '1-URGENT'
                GROUP BY c.c_custkey) c_orders
          GROUP BY c_count ORDER BY custdist DESC, c_count DESC""")
      },
      Some("""SELECT c_count, count(*) AS custdist
             |FROM (SELECT c.c_custkey, count(o.o_orderkey) AS c_count
             |      FROM customer c LEFT OUTER JOIN orders o
             |        ON c.c_custkey = o.o_custkey
             |       AND o.o_orderpriority <> '1-URGENT'
             |      GROUP BY c.c_custkey) c_orders
             |GROUP BY c_count
             |ORDER BY custdist DESC, c_count DESC""".stripMargin)),

    // ---- J28: TPC-H Q18 shape — IN over a GROUP BY ... HAVING subquery
    //      (large-quantity orders) re-joined to the same fact for the
    //      final per-order aggregate. The IN decorrelates to a left-semi
    //      join against the aggregated subquery; quantities are integral
    //      doubles, summed exactly and emitted as BIGINT ----------------
    Q("j28_tpch_q18",
      (s, dir) => {
        t(s, dir, "customer").createOrReplaceTempView("g_customer")
        t(s, dir, "orders").createOrReplaceTempView("g_orders")
        t(s, dir, "lineitem").createOrReplaceTempView("g_lineitem")
        s.sql("""
          SELECT c_name, c.c_custkey, o.o_orderkey,
            date_format(CAST(o.o_orderdate AS DATE), 'yyyy-MM-dd')
              AS o_orderdate,
            o.o_totalprice,
            CAST(sum(l.l_quantity) AS BIGINT) AS total_qty
          FROM g_customer c, g_orders o, g_lineitem l
          WHERE o.o_orderkey IN (SELECT l_orderkey FROM g_lineitem
                                 GROUP BY l_orderkey
                                 HAVING sum(l_quantity) > 250)
            AND c.c_custkey = o.o_custkey
            AND o.o_orderkey = l.l_orderkey
          GROUP BY c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
            o.o_totalprice
          ORDER BY o.o_totalprice DESC, o_orderdate, o.o_orderkey""")
      },
      Some("""SELECT c_name, c.c_custkey, o.o_orderkey,
             |  strftime(CAST(o.o_orderdate AS DATE), '%Y-%m-%d')
             |    AS o_orderdate,
             |  o.o_totalprice,
             |  CAST(sum(l.l_quantity) AS BIGINT) AS total_qty
             |FROM customer c, orders o, lineitem l
             |WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem
             |                       GROUP BY l_orderkey
             |                       HAVING sum(l_quantity) > 250)
             |  AND c.c_custkey = o.o_custkey
             |  AND o.o_orderkey = l.l_orderkey
             |GROUP BY c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
             |  o.o_totalprice
             |ORDER BY o.o_totalprice DESC, o_orderdate,
             |  o.o_orderkey""".stripMargin)),

    // ---- J29: TPC-H Q12 shape — join + dual conditional counts (the
    //      CASE-sum pivot on a priority class; grouped by l_returnflag
    //      since this dataset has no l_shipmode). The year filter on
    //      l_shipdate unwraps its DATE cast and pushes to the scan ------
    Q("j29_tpch_q12",
      (s, dir) => {
        t(s, dir, "orders").createOrReplaceTempView("g_orders")
        t(s, dir, "lineitem").createOrReplaceTempView("g_lineitem")
        s.sql("""
          SELECT l_returnflag,
            CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
            CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT',
                       '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
          FROM g_orders, g_lineitem
          WHERE o_orderkey = l_orderkey
            AND CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
            AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
          GROUP BY l_returnflag ORDER BY l_returnflag""")
      },
      Some("""SELECT l_returnflag,
             |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT',
             |             '2-HIGH')
             |           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT',
             |             '2-HIGH')
             |           THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
             |FROM orders, lineitem
             |WHERE o_orderkey = l_orderkey
             |  AND CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
             |  AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
             |GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // ---- J30: TPC-H Q19 shape — disjunction of conjunctions spanning
    //      BOTH join sides (brand+size on the part dim, quantity on the
    //      fact). The per-side halves of each conjunct push into the
    //      respective scans; the cross-side residual evaluates after the
    //      broadcast join. Revenue in exact integer cent-units ----------
    Q("j30_tpch_q19",
      (s, dir) => {
        t(s, dir, "part").createOrReplaceTempView("g_part")
        t(s, dir, "lineitem").createOrReplaceTempView("g_lineitem")
        s.sql("""
          SELECT count(*) AS n_lines,
            CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * CAST(round((1 - l_discount) * 100) AS BIGINT))
              AS DOUBLE) / 10000.0 AS revenue
          FROM g_lineitem l JOIN g_part p ON p.p_partkey = l.l_partkey
          WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
                 AND l.l_quantity BETWEEN 1 AND 20)
             OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 10 AND 30
                 AND l.l_quantity BETWEEN 10 AND 35)""")
      },
      Some("""SELECT count(*) AS n_lines,
             |  CAST(sum(CAST(round(l_extendedprice * 100) AS HUGEINT)
             |      * CAST(round((1 - l_discount) * 100) AS HUGEINT))
             |    AS DOUBLE) / 10000.0 AS revenue
             |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
             |WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
             |       AND l.l_quantity BETWEEN 1 AND 20)
             |   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 10 AND 30
             |       AND l.l_quantity BETWEEN 10 AND 35)"""
        .stripMargin)),

    // ---- J31: TPC-H Q14 shape — promo revenue share: conditional sum /
    //      total sum over one month of the fact joined to the part dim.
    //      Both sums surface as exact BIGINT cent-units; the percentage
    //      is ONE IEEE division of two exactly-representable integers,
    //      so it is bit-identical across engines ------------------------
    Q("j31_tpch_q14",
      (s, dir) => {
        t(s, dir, "part").createOrReplaceTempView("g_part")
        t(s, dir, "lineitem").createOrReplaceTempView("g_lineitem")
        s.sql("""
          SELECT promo_units, total_units,
            100.0 * CAST(promo_units AS DOUBLE)
              / CAST(total_units AS DOUBLE) AS promo_pct
          FROM (
            SELECT
              CAST(sum(CASE WHEN p.p_type = 'PROMO' THEN
                  CAST(round(l_extendedprice * 100) AS BIGINT)
                  * CAST(round((1 - l_discount) * 100) AS BIGINT)
                ELSE 0 END) AS BIGINT) AS promo_units,
              CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                  * CAST(round((1 - l_discount) * 100) AS BIGINT))
                AS BIGINT) AS total_units
            FROM g_lineitem l JOIN g_part p ON p.p_partkey = l.l_partkey
            WHERE CAST(l.l_shipdate AS DATE) >= DATE '1997-09-01'
              AND CAST(l.l_shipdate AS DATE) < DATE '1997-10-01')""")
      },
      Some("""SELECT promo_units, total_units,
             |  100.0 * CAST(promo_units AS DOUBLE)
             |    / CAST(total_units AS DOUBLE) AS promo_pct
             |FROM (
             |  SELECT
             |    CAST(sum(CASE WHEN p.p_type = 'PROMO' THEN
             |        CAST(round(l_extendedprice * 100) AS HUGEINT)
             |        * CAST(round((1 - l_discount) * 100) AS HUGEINT)
             |      ELSE 0 END) AS BIGINT) AS promo_units,
             |    CAST(sum(CAST(round(l_extendedprice * 100) AS HUGEINT)
             |        * CAST(round((1 - l_discount) * 100) AS HUGEINT))
             |      AS BIGINT) AS total_units
             |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
             |  WHERE CAST(l.l_shipdate AS DATE) >= DATE '1997-09-01'
             |    AND CAST(l.l_shipdate AS DATE) < DATE '1997-10-01')"""
        .stripMargin)),

    // ---- J32: TPC-H Q1 shape — the canonical one-pass pricing summary:
    //      eight aggregates over one scan, fully map-side-combinable (two
    //      grouping keys × ~4 values → the partial agg collapses each
    //      task's output to a handful of rows before the one shuffle).
    //      All money math in integer units: base cents, disc-units
    //      (cents × discount-percent), charge-units (× tax-percent);
    //      averages are ONE IEEE division of exact integers -------------
    Q("j32_tpch_q1",
      (s, dir) => {
        t(s, dir, "lineitem").createOrReplaceTempView("g_lineitem")
        s.sql("""
          SELECT l_returnflag, l_linestatus,
            sum_qty, count_order,
            CAST(sum_base AS DOUBLE) / 100.0 AS sum_base_price,
            CAST(sum_disc AS DOUBLE) / 10000.0 AS sum_disc_price,
            CAST(sum_charge AS DOUBLE) / 1000000.0 AS sum_charge,
            CAST(sum_qty AS DOUBLE) / CAST(count_order AS DOUBLE)
              AS avg_qty,
            CAST(sum_base AS DOUBLE) / CAST(count_order AS DOUBLE)
              / 100.0 AS avg_price
          FROM (
            SELECT l_returnflag, l_linestatus,
              CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
              CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS sum_base,
              CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                  * CAST(round((1 - l_discount) * 100) AS BIGINT))
                AS BIGINT) AS sum_disc,
              CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                  * CAST(round((1 - l_discount) * 100) AS BIGINT)
                  * CAST(round((1 + l_tax) * 100) AS BIGINT))
                AS BIGINT) AS sum_charge,
              count(*) AS count_order
            FROM g_lineitem
            WHERE CAST(l_shipdate AS DATE) <= DATE '2001-09-02'
            GROUP BY l_returnflag, l_linestatus)
          ORDER BY l_returnflag, l_linestatus""")
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |  sum_qty, count_order,
             |  CAST(sum_base AS DOUBLE) / 100.0 AS sum_base_price,
             |  CAST(sum_disc AS DOUBLE) / 10000.0 AS sum_disc_price,
             |  CAST(sum_charge AS DOUBLE) / 1000000.0 AS sum_charge,
             |  CAST(sum_qty AS DOUBLE) / CAST(count_order AS DOUBLE)
             |    AS avg_qty,
             |  CAST(sum_base AS DOUBLE) / CAST(count_order AS DOUBLE)
             |    / 100.0 AS avg_price
             |FROM (
             |  SELECT l_returnflag, l_linestatus,
             |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
             |      AS sum_qty,
             |    CAST(sum(CAST(round(l_extendedprice * 100) AS HUGEINT))
             |      AS BIGINT) AS sum_base,
             |    CAST(sum(CAST(round(l_extendedprice * 100) AS HUGEINT)
             |        * CAST(round((1 - l_discount) * 100) AS HUGEINT))
             |      AS BIGINT) AS sum_disc,
             |    CAST(sum(CAST(round(l_extendedprice * 100) AS HUGEINT)
             |        * CAST(round((1 - l_discount) * 100) AS HUGEINT)
             |        * CAST(round((1 + l_tax) * 100) AS HUGEINT))
             |      AS BIGINT) AS sum_charge,
             |    count(*) AS count_order
             |  FROM lineitem
             |  WHERE CAST(l_shipdate AS DATE) <= DATE '2001-09-02'
             |  GROUP BY l_returnflag, l_linestatus)
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // ---- J33: TPC-H Q15 shape — a CTE referenced TWICE (once as the
    //      join input, once under the scalar max) selecting the top-
    //      revenue supplier(s). Pins CTE reuse + max-over-aggregate as a
    //      scalar subquery; the equality is on exact integer units so
    //      ties surface identically in both engines --------------------
    Q("j33_tpch_q15",
      (s, dir) => {
        t(s, dir, "supplier").createOrReplaceTempView("g_supplier")
        t(s, dir, "lineitem").createOrReplaceTempView("g_lineitem")
        s.sql("""
          WITH revenue AS (
            SELECT l_suppkey AS supplier_no,
              sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * CAST(round((1 - l_discount) * 100) AS BIGINT))
                AS total_units
            FROM g_lineitem
            WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
              AND CAST(l_shipdate AS DATE) < DATE '1997-04-01'
            GROUP BY l_suppkey)
          SELECT s_suppkey, s_name,
            CAST(total_units AS DOUBLE) / 10000.0 AS total_revenue
          FROM g_supplier, revenue
          WHERE s_suppkey = supplier_no
            AND total_units = (SELECT max(total_units) FROM revenue)
          ORDER BY s_suppkey""")
      },
      Some("""WITH revenue AS (
             |  SELECT l_suppkey AS supplier_no,
             |    sum(CAST(round(l_extendedprice * 100) AS HUGEINT)
             |      * CAST(round((1 - l_discount) * 100) AS HUGEINT))
             |      AS total_units
             |  FROM lineitem
             |  WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
             |    AND CAST(l_shipdate AS DATE) < DATE '1997-04-01'
             |  GROUP BY l_suppkey)
             |SELECT s_suppkey, s_name,
             |  CAST(total_units AS DOUBLE) / 10000.0 AS total_revenue
             |FROM supplier, revenue
             |WHERE s_suppkey = supplier_no
             |  AND total_units = (SELECT max(total_units) FROM revenue)
             |ORDER BY s_suppkey""".stripMargin)),

    // ---- J34: TPC-H Q6 shape — the pure scan-filter-aggregate
    //      forecasting query: no join, no group key, every predicate
    //      (date window, discount band, quantity cap) pushes into the
    //      parquet scan, and the whole plan is one WholeStageCodegen
    //      span ending in a single-row partial+final agg ----------------
    Q("j34_tpch_q6",
      (s, dir) => {
        t(s, dir, "lineitem").createOrReplaceTempView("g_lineitem")
        s.sql("""
          SELECT count(*) AS n_lines,
            CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * CAST(round(l_discount * 100) AS BIGINT))
              AS DOUBLE) / 10000.0 AS revenue
          FROM g_lineitem
          WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
            AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
            AND round(l_discount * 100) BETWEEN 5 AND 7
            AND l_quantity < 24""")
      },
      Some("""SELECT count(*) AS n_lines,
             |  CAST(sum(CAST(round(l_extendedprice * 100) AS HUGEINT)
             |      * CAST(round(l_discount * 100) AS HUGEINT))
             |    AS DOUBLE) / 10000.0 AS revenue
             |FROM lineitem
             |WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
             |  AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
             |  AND round(l_discount * 100) BETWEEN 5 AND 7
             |  AND l_quantity < 24""".stripMargin)),

    // ---- J35: TPC-H Q10 shape — returned-item revenue per customer:
    //      fact filtered on returnflag, one quarter of orders, customer
    //      and (broadcast) nation dims, top-20 by exact integer revenue
    //      with deterministic key tiebreak -----------------------------
    Q("j35_tpch_q10",
      (s, dir) => {
        t(s, dir, "customer").createOrReplaceTempView("g_customer")
        t(s, dir, "orders").createOrReplaceTempView("g_orders")
        t(s, dir, "lineitem").createOrReplaceTempView("g_lineitem")
        t(s, dir, "nation").createOrReplaceTempView("g_nation")
        s.sql("""
          SELECT c.c_custkey, c.c_name, n.n_name,
            CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * CAST(round((1 - l_discount) * 100) AS BIGINT))
              AS DOUBLE) / 10000.0 AS revenue
          FROM g_customer c, g_orders o, g_lineitem l, g_nation n
          WHERE c.c_custkey = o.o_custkey
            AND l.l_orderkey = o.o_orderkey
            AND CAST(o.o_orderdate AS DATE) >= DATE '1997-10-01'
            AND CAST(o.o_orderdate AS DATE) < DATE '1998-01-01'
            AND l.l_returnflag = 'R'
            AND c.c_nationkey = n.n_nationkey
          GROUP BY c.c_custkey, c.c_name, n.n_name
          ORDER BY revenue DESC, c.c_custkey
          LIMIT 20""")
      },
      Some("""SELECT c.c_custkey, c.c_name, n.n_name,
             |  CAST(sum(CAST(round(l_extendedprice * 100) AS HUGEINT)
             |      * CAST(round((1 - l_discount) * 100) AS HUGEINT))
             |    AS DOUBLE) / 10000.0 AS revenue
             |FROM customer c, orders o, lineitem l, nation n
             |WHERE c.c_custkey = o.o_custkey
             |  AND l.l_orderkey = o.o_orderkey
             |  AND CAST(o.o_orderdate AS DATE) >= DATE '1997-10-01'
             |  AND CAST(o.o_orderdate AS DATE) < DATE '1998-01-01'
             |  AND l.l_returnflag = 'R'
             |  AND c.c_nationkey = n.n_nationkey
             |GROUP BY c.c_custkey, c.c_name, n.n_name
             |ORDER BY revenue DESC, c.c_custkey
             |LIMIT 20""".stripMargin)),

    // ---- D20: PORTABLE MinHash+LSH near-dup with a FULL exact oracle —
    //      the cross-engine-reproducible variant of d02 (which keeps the
    //      fast native MinHashSig path). ONE md5 per gram (first 8 hex
    //      chars mod p=2^31-1 — Spark conv(...,16,10) ≡ DuckDB
    //      CAST('0x'||... AS BIGINT)), then the 32 seed hashes come from
    //      the universal family (a_i·g + b_i) mod p in pure BIGINT
    //      arithmetic (a_i·g < 2^62, no overflow) — 32× less digest work
    //      than hashing per (gram, seed). Signature = per-seed min,
    //      8 bands × 4 rows string-keyed, candidates verified by EXACT
    //      integer gram-set Jaccard. Every stage — shingle, hash, band,
    //      bucket-join, verify — is re-derived independently in the
    //      oracle SQL, so the whole LSH pipeline is hash-matched, not
    //      just row-counted ---------------------------------------------
    Q("d20_minhash_portable",
      (s, dir) => graft.llm.Dedup.portableNearDups(
          t(s, dir, "documents").filter(col("doc_id") < 2000),
          "text", "doc_id", threshold = 0.5)
        .orderBy("id_a", "id_b"),
      Some(graft.llm.Dedup.portableNearDupsOracleSql(
        "(SELECT * FROM documents WHERE doc_id < 2000)", "doc_id", "text",
        threshold = 0.5))),

    // ---- A40: ordered-set aggregate — PERCENTILE_DISC ... WITHIN GROUP
    //      (Spark 4 SQL surface). Disc quantiles SELECT an actual member
    //      of the group (smallest value whose cume_dist >= p), so on
    //      integer cents the result is bit-exact — no interpolation
    //      arithmetic to drift between engines (DuckDB's quantile_disc
    //      uses the same convention, probed empirically) ----------------
    Q("a40_percentile_disc",
      (s, dir) => {
        t(s, dir, "orders").createOrReplaceTempView("g_orders")
        s.sql("""
          SELECT o_orderpriority,
            percentile_disc(0.25) WITHIN GROUP (ORDER BY cents) AS p25,
            percentile_disc(0.5)  WITHIN GROUP (ORDER BY cents) AS p50,
            percentile_disc(0.75) WITHIN GROUP (ORDER BY cents) AS p75,
            count(*) AS n
          FROM (SELECT o_orderpriority,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
                FROM g_orders)
          GROUP BY o_orderpriority ORDER BY o_orderpriority""")
      },
      // DuckDB's quantile_disc picks a different index convention than the
      // SQL-standard percentile_disc for some group sizes, so the oracle
      // replays the standard definition literally: the smallest value
      // whose cume_dist reaches p, surfaced as DOUBLE like Spark's.
      Some("""WITH c AS (
             |  SELECT o_orderpriority, cents,
             |    cume_dist() OVER (PARTITION BY o_orderpriority
             |                      ORDER BY cents) AS cd
             |  FROM (SELECT o_orderpriority,
             |          CAST(round(o_totalprice * 100) AS BIGINT) AS cents
             |        FROM orders))
             |SELECT o_orderpriority,
             |  CAST(min(CASE WHEN cd >= 0.25 THEN cents END) AS DOUBLE) AS p25,
             |  CAST(min(CASE WHEN cd >= 0.5  THEN cents END) AS DOUBLE) AS p50,
             |  CAST(min(CASE WHEN cd >= 0.75 THEN cents END) AS DOUBLE) AS p75,
             |  count(*) AS n
             |FROM c GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // ---- X30: SQL PIVOT clause (not the DataFrame .pivot of s05) —
    //      status counts fanned to columns with explicit IN values, so
    //      the output schema is static at plan time (the only pivot form
    //      that's sane at scale: value discovery needs an extra pass).
    //      Missing combos surface as NULL from PIVOT; coalesce to 0 for
    //      the conditional-aggregation oracle --------------------------
    Q("x30_sql_pivot",
      (s, dir) => {
        t(s, dir, "orders").createOrReplaceTempView("g_orders")
        s.sql("""
          SELECT o_orderpriority,
            CAST(coalesce(f, 0) AS BIGINT) AS n_f,
            CAST(coalesce(o, 0) AS BIGINT) AS n_o,
            CAST(coalesce(p, 0) AS BIGINT) AS n_p
          FROM (SELECT o_orderpriority, o_orderstatus FROM g_orders)
          PIVOT (count(*) FOR o_orderstatus
                 IN ('F' AS f, 'O' AS o, 'P' AS p))
          ORDER BY o_orderpriority""")
      },
      Some("""SELECT o_orderpriority,
             |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_f,
             |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_o,
             |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_p
             |FROM orders
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // ---- J23: LATERAL correlated subquery with ORDER BY + LIMIT — the
    //      "top-n related rows per driving row" SQL shape (Spark 4
    //      lateral join). Catalyst rewrites the per-row LIMIT into a
    //      rank-window over the joined pairs — no per-customer
    //      re-execution; deterministic tiebreak keys make it
    //      hash-stable --------------------------------------------------
    Q("j23_lateral_topn",
      (s, dir) => {
        t(s, dir, "orders").createOrReplaceTempView("g_orders")
        t(s, dir, "customer").createOrReplaceTempView("g_customer")
        s.sql("""
          SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
          FROM g_customer c,
            LATERAL (SELECT o_orderkey, o_totalprice
                     FROM g_orders o
                     WHERE o.o_custkey = c.c_custkey
                     ORDER BY o_totalprice DESC, o_orderkey
                     LIMIT 2) t
          WHERE c.c_custkey % 50 = 0
          ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""")
      },
      Some("""SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
             |FROM customer c,
             |  LATERAL (SELECT o_orderkey, o_totalprice
             |           FROM orders o
             |           WHERE o.o_custkey = c.c_custkey
             |           ORDER BY o_totalprice DESC, o_orderkey
             |           LIMIT 2) t
             |WHERE c.c_custkey % 50 = 0
             |ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey"""
        .stripMargin)),

    // ---- X29: RECURSIVE CTE (Spark 4) — gap-free monthly spine from a
    //      seed row + add_months recursion, LEFT-joined to the order
    //      counts so zero-order months still appear (the calendar-
    //      gap-fill pattern; sequence() could build the spine, but this
    //      row pins the WITH RECURSIVE surface itself, depth ~80 within
    //      Spark's default 100-level recursion limit) -------------------
    Q("x29_recursive_spine",
      (s, dir) => {
        t(s, dir, "orders").createOrReplaceTempView("g_orders")
        s.sql("""
          WITH RECURSIVE spine AS (
            SELECT to_date('1995-01-01') AS m
            UNION ALL
            SELECT add_months(m, 1) FROM spine
            WHERE m < to_date('2001-08-01'))
          SELECT date_format(spine.m, 'yyyy-MM') AS month,
            CAST(coalesce(o.cnt, 0) AS BIGINT) AS orders
          FROM spine
          LEFT JOIN (SELECT trunc(CAST(o_orderdate AS DATE), 'MM') AS mm,
                       count(*) AS cnt
                     FROM g_orders GROUP BY 1) o
            ON spine.m = o.mm
          ORDER BY month""")
      },
      Some("""WITH RECURSIVE spine AS (
             |  SELECT DATE '1995-01-01' AS m
             |  UNION ALL
             |  SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM spine
             |  WHERE m < DATE '2001-08-01')
             |SELECT strftime(spine.m, '%Y-%m') AS month,
             |  CAST(coalesce(o.cnt, 0) AS BIGINT) AS orders
             |FROM spine
             |LEFT JOIN (SELECT date_trunc('month',
             |             CAST(o_orderdate AS DATE)) AS mm,
             |             count(*) AS cnt
             |           FROM orders GROUP BY 1) o
             |  ON spine.m = o.mm
             |ORDER BY month""".stripMargin)),

    // ---- T13: word-distribution Shannon entropy per doc — the
    //      information-density quality signal (low entropy = repetitive
    //      boilerplate). The -Σ p·ln(p) fold runs over the WORD-SORTED
    //      count list in both engines (w18's pinned-fold pattern), so
    //      the double sum has ONE defined order — no partitioning-
    //      dependent FP drift; a 9-dp round absorbs the only remaining
    //      divergence (JVM vs DuckDB libm ln() last-ulp) ---------------
    Q("t13_word_entropy",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val wc = docs.select(col("doc_id"),
          explode(filter(split(col("text"), "\\s+"), w => w =!= ""))
            .as("word"))
          .groupBy("doc_id", "word").agg(count(lit(1)).as("cnt"))
        wc.groupBy("doc_id")
          .agg(sort_array(collect_list(struct(col("word"), col("cnt"))))
            .as("wcs"))
          .withColumn("n_words",
            aggregate(col("wcs"), lit(0L), (a, s0) => a + s0.getField("cnt")))
          .withColumn("acc",
            aggregate(col("wcs"), lit(0.0), (a, s0) => {
              val p = s0.getField("cnt").cast("double") /
                col("n_words").cast("double")
              a + p * log(p)
            }))
          .select(col("doc_id"), col("n_words"),
            // round to 9 dp: JVM and DuckDB libm ln() can differ in the
            // final ulp — the fold ORDER is pinned, rounding absorbs
            // only that last-bit libm divergence
            round(when(col("acc") === 0.0, lit(0.0)).otherwise(-col("acc")),
              9).as("entropy"))
          .orderBy("doc_id")
      },
      Some("""WITH w AS (
             |  SELECT doc_id,
             |    unnest(list_filter(string_split_regex(text, '\s+'),
             |      x -> x <> '')) AS word
             |  FROM documents),
             |wc AS (
             |  SELECT doc_id, word, count(*) AS cnt FROM w GROUP BY 1, 2),
             |arr AS (
             |  SELECT doc_id,
             |    list(struct_pack(word := word, cnt := cnt)
             |      ORDER BY word) AS wcs,
             |    CAST(sum(cnt) AS BIGINT) AS n_words
             |  FROM wc GROUP BY 1),
             |e AS (
             |  SELECT doc_id, n_words,
             |    list_reduce(list_transform(wcs, s ->
             |      (CAST(s.cnt AS DOUBLE) / CAST(n_words AS DOUBLE))
             |        * ln(CAST(s.cnt AS DOUBLE) / CAST(n_words AS DOUBLE))),
             |      (a, b) -> a + b) AS acc
             |  FROM arr)
             |SELECT doc_id, n_words,
             |  round(CASE WHEN acc = 0 THEN 0.0 ELSE -acc END, 9)
             |    AS entropy
             |FROM e ORDER BY doc_id""".stripMargin)),

    // ---- X26: try_* ANSI-safety surface — the error-as-NULL arithmetic
    //      a pipeline needs under ANSI mode (the driver's session!):
    //      malformed parse, div-by-zero, int64 overflow, out-of-bounds
    //      element, unparseable date. Oracle re-derives each outcome
    //      from source fields (never hardcodes a Spark quirk it could
    //      self-confirm) ------------------------------------------------
    Q("x26_try_surface",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        docs.select(col("doc_id"),
          concat(lit("x"), col("n_chars").cast("string"))
            .try_cast("bigint").as("bad_parse"),
          col("n_chars").cast("string").try_cast("bigint").as("good_parse"),
          try_divide(col("n_chars"), col("n_chars") - col("n_chars"))
            .as("div0"),
          try_divide(col("n_chars").cast("double"), lit(4.0)).as("div4"),
          try_add(lit(Long.MaxValue), col("n_chars")).as("overflow_add"),
          try_mod(col("n_chars"), lit(0L)).as("mod0"),
          try_element_at(filter(split(col("text"), "\\s+"),
            w => w =!= ""), lit(1000000)).as("far_elem"),
          try_to_date(lit("not-a-date"), "yyyy-MM-dd").cast("string")
            .as("bad_date"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  CAST(NULL AS BIGINT) AS bad_parse,
             |  CAST(n_chars AS BIGINT) AS good_parse,
             |  CAST(NULL AS DOUBLE) AS div0,
             |  CAST(n_chars AS DOUBLE) / 4.0 AS div4,
             |  CASE WHEN n_chars >= 1 THEN CAST(NULL AS BIGINT)
             |    ELSE 9223372036854775807 + CAST(n_chars AS BIGINT) END
             |    AS overflow_add,
             |  CAST(NULL AS BIGINT) AS mod0,
             |  CASE WHEN len(list_filter(string_split_regex(text, '\s+'),
             |      x -> x <> '')) >= 1000000
             |    THEN 'impossible' ELSE CAST(NULL AS VARCHAR) END
             |    AS far_elem,
             |  CAST(NULL AS VARCHAR) AS bad_date
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- X27: XML surface — to_xml(struct) → from_xml(schema) round
    //      trip plus xpath extraction, the third semi-structured format
    //      beside JSON (s01/x17) and VARIANT (s10). Oracle re-derives
    //      every output from the source fields (x19 pattern), so an
    //      escape/roundtrip bug cannot self-confirm --------------------
    Q("x27_xml_surface",
      (s, dir) => {
        val xmlSchema = org.apache.spark.sql.types.StructType.fromDDL(
          "lang STRING, source STRING, n_chars BIGINT")
        t(s, dir, "documents").select(col("doc_id"),
          to_xml(struct(col("lang"), col("source"), col("n_chars")))
            .as("x"))
          .select(col("doc_id"),
            from_xml(col("x"), xmlSchema).as("r"),
            xpath_string(col("x"), lit("//lang")).as("xp_lang"),
            xpath_long(col("x"), lit("//n_chars")).as("xp_n"))
          .select(col("doc_id"),
            col("r.lang").as("lang"), col("r.source").as("source"),
            col("r.n_chars").as("n_chars"), col("xp_lang"), col("xp_n"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, source,
             |  CAST(n_chars AS BIGINT) AS n_chars,
             |  lang AS xp_lang, CAST(n_chars AS BIGINT) AS xp_n
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- F09: NOT IN null trap — the classic three-valued-logic
    //      correctness cliff: a NULL in the IN-list makes `NOT IN`
    //      unknowable for every non-matching row, so the first count is
    //      provably 0 while the null-filtered variant returns real rows.
    //      Runs through the SQL entry point (null-aware anti-join plan,
    //      not a LeftAnti NOT EXISTS) ---------------------------------
    Q("f09_not_in_trap",
      (s, dir) => {
        t(s, dir, "orders").createOrReplaceTempView("g_orders")
        t(s, dir, "customer").createOrReplaceTempView("g_customer")
        s.sql("""
          SELECT
            (SELECT count(*) FROM g_orders
             WHERE o_custkey NOT IN
               (SELECT CASE WHEN c_custkey % 100 = 0 THEN NULL
                       ELSE c_custkey END FROM g_customer))
              AS cnt_with_null,
            (SELECT count(*) FROM g_orders
             WHERE o_custkey NOT IN
               (SELECT c_custkey FROM g_customer
                WHERE c_custkey % 100 <> 0))
              AS cnt_no_null""")
      },
      Some("""SELECT
             |  CAST((SELECT count(*) FROM orders
             |   WHERE o_custkey NOT IN
             |     (SELECT CASE WHEN c_custkey % 100 = 0 THEN NULL
             |             ELSE c_custkey END FROM customer))
             |    AS BIGINT) AS cnt_with_null,
             |  CAST((SELECT count(*) FROM orders
             |   WHERE o_custkey NOT IN
             |     (SELECT c_custkey FROM customer
             |      WHERE c_custkey % 100 <> 0))
             |    AS BIGINT) AS cnt_no_null""".stripMargin)),

    // ---- A39: exact weighted median per group — smallest value whose
    //      running weight reaches half the total (integer comparisons
    //      only: 2*cum >= W, no FP thresholds). The weighted-percentile
    //      shape quality-weighted corpus stats need; one sort-shuffle --
    Q("a39_weighted_median",
      (s, dir) => {
        val li = t(s, dir, "lineitem").select(col("l_returnflag"),
          col("l_quantity").cast("long").as("v"),
          (col("l_linenumber").cast("long") + 1).as("wt"),
          (col("l_orderkey") * 10 + col("l_linenumber")).as("id"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("l_returnflag").orderBy(col("v"), col("id"))
        val tot = org.apache.spark.sql.expressions.Window
          .partitionBy("l_returnflag")
        li.withColumn("cum", sum(col("wt")).over(w))
          .withColumn("total", sum(col("wt")).over(tot))
          .filter(col("cum") * 2 >= col("total"))
          .groupBy("l_returnflag")
          .agg(min(col("v")).as("weighted_median"))
          .orderBy("l_returnflag")
      },
      Some("""WITH base AS (
             |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS v,
             |    CAST(l_linenumber AS BIGINT) + 1 AS wt,
             |    l_orderkey * 10 + l_linenumber AS id
             |  FROM lineitem),
             |c AS (
             |  SELECT l_returnflag, v,
             |    sum(wt) OVER (PARTITION BY l_returnflag
             |      ORDER BY v, id ROWS UNBOUNDED PRECEDING) AS cum,
             |    sum(wt) OVER (PARTITION BY l_returnflag) AS total
             |  FROM base)
             |SELECT l_returnflag, min(v) AS weighted_median
             |FROM c WHERE cum * 2 >= total
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- X28: bitwise surface — bit_and/bit_or/bit_xor aggregates plus
    //      shift/mask scalar ops, the bit-packing toolkit flag columns
    //      and id-encoding schemes rely on ----------------------------
    Q("x28_bitwise",
      (s, dir) => {
        val ev = events(s, dir)
        ev.select(col("event_type"),
          col("user_id").bitwiseAND(lit(255L)).as("masked"),
          shiftleft(col("user_id"), 3).bitwiseOR(lit(5L)).as("shifted"))
          .groupBy("event_type")
          .agg(bit_and(col("masked")).as("and_bits"),
            bit_or(col("masked")).as("or_bits"),
            bit_xor(col("shifted")).as("xor_shifted"),
            count(lit(1)).as("n"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type,
             |  bit_and(user_id & 255) AS and_bits,
             |  bit_or(user_id & 255) AS or_bits,
             |  bit_xor((user_id << 3) | 5) AS xor_shifted,
             |  count(*) AS n
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- D19: incremental near-dup — today's batch probes the PRIOR
    //      corpus's persisted LSH bucket table: prior signatures never
    //      recompute, candidates are only new×prior and new×new (the
    //      steady-state daily form of d02; prior×prior pairs were found
    //      when those snapshots landed). Rows-only (seeded xxhash64);
    //      cross-batch recall + no-prior-pair semantics pinned in
    //      DedupSpec ----------------------------------------------------
    Q("d19_incremental_neardup",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val prior = docs.filter(col("doc_id") < 400)
        val batch = docs.filter(col("doc_id") >= 400)
        val pairs = Dedup.incrementalNearDups(batch,
          Dedup.lshBuckets(prior, "text", "doc_id"), prior,
          "text", "doc_id", threshold = 0.6)
        pairs.agg(count(lit(1)).as("pairs"),
          sum(when(col("vs") === "prior", 1L).otherwise(0L)).as("vs_prior"),
          sum(when(col("vs") === "batch", 1L).otherwise(0L)).as("vs_batch"),
          round(coalesce(min("jaccard"), lit(0.0)), 6).as("min_jaccard"))
      },
      None)
  )
}
