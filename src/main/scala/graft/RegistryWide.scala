package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.{AsOfJoin, Merge, RangeJoin}
import graft.llm.{Dedup, Multimodal}
import graft.llm.TextAnalysis.tokensSql
import Registry.{decSum, events, t}

/** Round-5 widening: interval-overlap join, snapshot diff, deterministic
  * corpus splits, rank-fraction windows, ORC roundtrip, model-based
  * quality filtering. Every entry here is oracle-exact (DuckDB
  * hash-match); the approximate round-5 ops (BPE / SemDeDup / IVF-PQ)
  * live in RegistryLlm with their ScalaTest quality gates.
  */
object RegistryWide {

  /** l09's quality logit (a34 ranks it): a trained linear classifier
    * (weights are a model artifact, here fixed constants) over
    * codegen'd features of non-empty `txt`. Its token count is the
    * UNFILTERED whitespace split — a different feature from
    * `TextAnalysis.tokens` (a leading tab or newline counts one more),
    * kept as the model was fit.
    */
  private def qualityLogit(txt: Column): Column = {
    val nTok = size(split(trim(txt), "\\s+")).cast("double")
    val len = length(txt).cast("double")
    val punct = (len - length(regexp_replace(txt, "[.,!?]", ""))
      .cast("double")) / len
    val upper = (len - length(regexp_replace(txt, "[A-Z]", ""))
      .cast("double")) / len
    ((nTok * 0.01) - (punct * 3.0)) + (upper * 1.5)
  }

  /** DuckDB replay of [[qualityLogit]] over `text`. DuckDB
    * decimal-point literals are DECIMALs (exact arithmetic); Spark's are
    * doubles — `::DOUBLE` makes both engines round identically at every
    * step.
    */
  private[graft] val qualityLogitSql =
    """((CAST(len(regexp_split_to_array(trim(text), '\s+'))
      |      AS DOUBLE) * 0.01::DOUBLE)
      |   - ((CAST(length(text)
      |        - length(regexp_replace(text, '[.,!?]', '', 'g'))
      |        AS DOUBLE) / CAST(length(text) AS DOUBLE))
      |      * 3.0::DOUBLE))
      |  + ((CAST(length(text)
      |       - length(regexp_replace(text, '[A-Z]', '', 'g'))
      |       AS DOUBLE) / CAST(length(text) AS DOUBLE))
      |     * 1.5::DOUBLE)""".stripMargin

  def entries: Seq[Q] = Seq(

    // ---- J13: interval-overlap join (interval x interval), binned ------
    // Lineitems become shipping windows [shipdate, shipdate + qty%20
    // days]; two windows of the SAME supplier that overlap are a
    // candidate batching conflict. A bare overlap predicate plans as a
    // nested loop; RangeJoin.overlapBinned replicates each interval into
    // its 30-day bins and joins (supplier, bin) equi-style, emitting each
    // pair exactly once in the bin of max(lo) — no dedup shuffle, no
    // cartesian anywhere (PlanShapeSpec pins the join mode).
    Q("j13_interval_overlap",
      (s, dir) => {
        val base = t(s, dir, "lineitem")
          .filter(col("l_quantity") >= 48)
          .select(col("l_suppkey").as("skey"),
            (col("l_orderkey") * 10 + col("l_linenumber")).as("id"),
            datediff(to_date(col("l_shipdate")), lit("1992-01-01")).as("lo"),
            (col("l_quantity").cast("int") % 20).as("span"))
          .withColumn("hi", col("lo") + col("span"))
          .drop("span")
        val a = base.select(col("skey"), col("id").as("id_a"),
          col("lo").as("lo_a"), col("hi").as("hi_a"))
        val b = base.select(col("skey").as("skey_b"), col("id").as("id_b"),
          col("lo").as("lo_b"), col("hi").as("hi_b"))
        RangeJoin.overlapBinned(a, "lo_a", "hi_a", b, "lo_b", "hi_b",
            binWidth = 30, keys = Seq("skey"), bKeysIn = Seq("skey_b"))
          .filter(col("id_a") < col("id_b"))
          .select(col("skey"), col("id_a"), col("id_b"),
            (least(col("hi_a"), col("hi_b")) -
              greatest(col("lo_a"), col("lo_b")) + 1).as("overlap_days"))
          .orderBy("skey", "id_a", "id_b")
      },
      Some("""WITH f AS (
             |  SELECT l_suppkey AS skey,
             |    l_orderkey * 10 + l_linenumber AS id,
             |    date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE))
             |      AS lo,
             |    date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE))
             |      + CAST(l_quantity AS INT) % 20 AS hi
             |  FROM lineitem WHERE l_quantity >= 48)
             |SELECT a.skey, a.id AS id_a, b.id AS id_b,
             |  least(a.hi, b.hi) - greatest(a.lo, b.lo) + 1 AS overlap_days
             |FROM f a JOIN f b
             |  ON a.skey = b.skey AND a.id < b.id
             |  AND a.lo <= b.hi AND b.lo <= a.hi
             |ORDER BY 1, 2, 3""".stripMargin)),

    // ---- D15: snapshot diff — added/removed/changed/unchanged between
    //      two crawl snapshots, md5-fingerprint compare so the shuffle
    //      carries digests, never document text (etl/Merge.snapshotDiff).
    //      prev/curr are derived deterministically from `documents`:
    //      doc_id%7==0 missing from prev (-> added), %13==0 missing from
    //      curr (-> removed), %11==0 text-bumped in curr (-> changed) ----
    Q("d15_snapshot_diff",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val prev = docs.filter(col("doc_id") % 7 =!= 0)
          .select(col("doc_id"), col("text"))
        val curr = docs.filter(col("doc_id") % 13 =!= 0)
          .select(col("doc_id"),
            when(col("doc_id") % 11 === 0, concat(col("text"), lit(" [v2]")))
              .otherwise(col("text")).as("text"))
        Merge.snapshotDiff(prev, curr, Seq("doc_id"), Seq("text"))
          .orderBy("doc_id")
      },
      Some("""WITH prev AS (
             |  SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
             |curr AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 11 = 0 THEN text || ' [v2]'
             |         ELSE text END AS text
             |  FROM documents WHERE doc_id % 13 <> 0)
             |SELECT coalesce(p.doc_id, c.doc_id) AS doc_id,
             |  CASE WHEN p.doc_id IS NULL THEN 'added'
             |       WHEN c.doc_id IS NULL THEN 'removed'
             |       WHEN p.text <> c.text THEN 'changed'
             |       ELSE 'unchanged' END AS status
             |FROM prev p FULL OUTER JOIN curr c ON p.doc_id = c.doc_id
             |ORDER BY doc_id""".stripMargin)),

    // ---- X21: deterministic train/val/test split — the assignment every
    //      training pipeline needs to be REPRODUCIBLE and JOIN-FREE:
    //      split(doc) is a pure function of the id (first two hex chars
    //      of md5), so any job on any day computes the same split without
    //      a membership table. ~80/10/10 via hex thresholds 0xcd/0xe6
    //      (205/16ths, 25/16ths, 26/16ths of 256 buckets) ---------------
    Q("x21_hash_split",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          substring(md5(col("doc_id").cast("string")), 1, 2).as("h"))
        .select(col("doc_id"),
          when(col("h") < "cd", "train")
            .when(col("h") < "e6", "val")
            .otherwise("test").as("split"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd'
             |         THEN 'train'
             |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
             |         THEN 'val'
             |       ELSE 'test' END AS split
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- W15: rank fractions — percent_rank + cume_dist per priority
    //      group (ANSI semantics both engines); unique (price, orderkey)
    //      order makes the doubles exact integer ratios, hash-stable ----
    Q("w15_rank_fractions",
      (s, dir) => {
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"),
            col("o_totalprice"))
          .withColumn("pr", percent_rank().over(w))
          .withColumn("cd", cume_dist().over(w))
          .filter(col("o_orderkey") % 50 === 0)
          .orderBy("o_orderkey")
      },
      Some("""SELECT * FROM (
             |  SELECT o_orderkey, o_orderpriority, o_totalprice,
             |    percent_rank() OVER
             |      (PARTITION BY o_orderpriority
             |       ORDER BY o_totalprice, o_orderkey) AS pr,
             |    cume_dist() OVER
             |      (PARTITION BY o_orderpriority
             |       ORDER BY o_totalprice, o_orderkey) AS cd
             |  FROM orders)
             |WHERE o_orderkey % 50 = 0 ORDER BY o_orderkey""".stripMargin)),

    // ---- S7b: ORC roundtrip — the registry's parquet-independent
    //      columnar format: write nation to ORC, read it back, prove
    //      values and types survive (oracle reads the parquet directly) --
    Q("s07_orc_roundtrip",
      (s, dir) => {
        val tmp = Registry.scratchDir("orc_s07")
        t(s, dir, "nation").write.mode("overwrite").orc(tmp)
        s.read.orc(tmp)
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
          .orderBy("n_nationkey")
      },
      Some("""SELECT n_nationkey, n_name, n_regionkey
             |FROM nation ORDER BY n_nationkey""".stripMargin)),

    // ---- L9: model-based quality filter — a trained linear classifier
    //      (weights are a model artifact, here fixed constants) applied
    //      at scan speed: pure row-wise arithmetic over codegen'd
    //      features, no UDF, no shuffle. The logit (not the sigmoid) is
    //      the output so the oracle compare stays bit-exact — exp()
    //      rounding differs across engines, +*/- does not ----------------
    Q("l09_quality_logit",
      (s, dir) => t(s, dir, "documents")
        .filter(length(col("text")) > 0)
        .select(col("doc_id"), qualityLogit(col("text")).as("logit"))
        .withColumn("keep", (col("logit") > 0.4).cast("int"))
        .orderBy("doc_id"),
      Some(s"""WITH f AS (
             |  SELECT doc_id, $qualityLogitSql AS logit
             |  FROM documents WHERE length(text) > 0)
             |SELECT doc_id, logit,
             |  CAST(logit > 0.4::DOUBLE AS INT) AS keep
             |FROM f ORDER BY doc_id""".stripMargin)),

    // ---- W17: rolling exact median — `percentile` as a WINDOW function
    //      over a 7-row frame per priority group. Rolling quantiles have
    //      no streaming-aggregate shortcut; Spark evaluates the frame
    //      per row AFTER one (partition, order) sort-shuffle, which is
    //      the scale-correct plan (frame cost is bounded by the 7-row
    //      window, shuffle cost by the keys). Same interpolation as
    //      DuckDB quantile_cont (proved exact by a21) ----------------------
    Q("w17_rolling_median",
      (s, dir) => {
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(-6, Window.currentRow)
        t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"),
            col("o_orderdate"), col("o_totalprice"))
          .withColumn("med7",
            expr("percentile(o_totalprice, 0.5)").over(w))
          .filter(col("o_orderkey") % 50 === 0)
          .select(col("o_orderkey"), col("o_orderpriority"), col("med7"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_orderpriority, med7 FROM (
             |  SELECT o_orderkey, o_orderpriority,
             |    quantile_cont(o_totalprice, 0.5) OVER
             |      (PARTITION BY o_orderpriority
             |       ORDER BY o_orderdate, o_orderkey
             |       ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS med7
             |  FROM orders)
             |WHERE o_orderkey % 50 = 0 ORDER BY o_orderkey""".stripMargin)),

    // ---- A28: chi-square contingency — independence screening between
    //      two categorical columns. Output is PER-CELL contributions
    //      (observed, expected, (o-e)²/e), not the summed statistic:
    //      each cell is a fixed-order arithmetic expression over exact
    //      integer counts, so the oracle compare stays bit-exact (a
    //      cross-cell double SUM would be addition-order-dependent) -------
    Q("a28_chi_square",
      (s, dir) => {
        val obs = t(s, dir, "orders")
          .groupBy(col("o_orderpriority").as("prio"),
            col("o_orderstatus").as("status"))
          .agg(count(lit(1)).as("observed"))
        val rowT = obs.groupBy("prio")
          .agg(sum(col("observed")).as("row_total"))
        val colT = obs.groupBy("status")
          .agg(sum(col("observed")).as("col_total"))
        val total = obs.agg(sum(col("observed")).as("n"))
        obs.join(broadcast(rowT), "prio")
          .join(broadcast(colT), "status")
          .crossJoin(broadcast(total))
          .withColumn("expected",
            col("row_total").cast("double") * col("col_total").cast("double")
              / col("n").cast("double"))
          .withColumn("contrib",
            (col("observed").cast("double") - col("expected")) *
              (col("observed").cast("double") - col("expected")) /
              col("expected"))
          .select(col("prio"), col("status"), col("observed"),
            col("expected"), col("contrib"))
          .orderBy("prio", "status")
      },
      Some("""WITH obs AS (
             |  SELECT o_orderpriority AS prio, o_orderstatus AS status,
             |    count(*) AS observed
             |  FROM orders GROUP BY 1, 2),
             |rt AS (SELECT prio, CAST(sum(observed) AS BIGINT) AS row_total
             |       FROM obs GROUP BY 1),
             |ct AS (SELECT status, CAST(sum(observed) AS BIGINT) AS col_total
             |       FROM obs GROUP BY 1),
             |tot AS (SELECT CAST(sum(observed) AS BIGINT) AS n FROM obs)
             |SELECT prio, status, observed,
             |  CAST(row_total AS DOUBLE) * CAST(col_total AS DOUBLE)
             |    / CAST(n AS DOUBLE) AS expected,
             |  (CAST(observed AS DOUBLE)
             |     - CAST(row_total AS DOUBLE) * CAST(col_total AS DOUBLE)
             |       / CAST(n AS DOUBLE))
             |  * (CAST(observed AS DOUBLE)
             |     - CAST(row_total AS DOUBLE) * CAST(col_total AS DOUBLE)
             |       / CAST(n AS DOUBLE))
             |  / (CAST(row_total AS DOUBLE) * CAST(col_total AS DOUBLE)
             |       / CAST(n AS DOUBLE)) AS contrib
             |FROM obs JOIN rt USING (prio) JOIN ct USING (status), tot
             |ORDER BY prio, status""".stripMargin)),

    // ---- A29: data-contract expectations — the validation suite a lake
    //      runs before promoting a batch: one row per rule with its
    //      violation count (null / range / set / regex / uniqueness /
    //      referential integrity via anti-join). Each rule is a
    //      conditional aggregate over ONE shared scan (no per-rule
    //      passes); the FK rule is the only join and broadcasts the
    //      customer keys --------------------------------------------------
    Q("a29_expectations",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val inline = o.agg(
          sum(when(col("o_custkey").isNull, 1L).otherwise(0L))
            .as("null_custkey"),
          sum(when(col("o_totalprice") <= 0 ||
            col("o_totalprice") > 600000, 1L).otherwise(0L))
            .as("range_totalprice"),
          sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L)
            .otherwise(0L)).as("set_orderstatus"),
          sum(when(!col("o_orderpriority").rlike("^[1-5]-"), 1L)
            .otherwise(0L)).as("regex_orderpriority"),
          (count(col("o_orderkey")) -
            count_distinct(col("o_orderkey"))).as("unique_orderkey"))
        val orphans = o.join(
            t(s, dir, "customer").select(col("c_custkey")),
            col("o_custkey") === col("c_custkey"), "left_anti")
          .agg(count(lit(1)).as("fk_custkey"))
        inline.crossJoin(orphans)
          .select(expr("stack(6, " +
            "'fk_custkey', fk_custkey, " +
            "'null_custkey', null_custkey, " +
            "'range_totalprice', range_totalprice, " +
            "'regex_orderpriority', regex_orderpriority, " +
            "'set_orderstatus', set_orderstatus, " +
            "'unique_orderkey', unique_orderkey) AS (rule, violations)"))
          .orderBy("rule")
      },
      Some("""WITH inline AS (
             |  SELECT
             |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
             |      AS BIGINT) AS null_custkey,
             |    CAST(sum(CASE WHEN o_totalprice <= 0
             |      OR o_totalprice > 600000 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS range_totalprice,
             |    CAST(sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
             |      THEN 1 ELSE 0 END) AS BIGINT) AS set_orderstatus,
             |    CAST(sum(CASE WHEN NOT regexp_matches(o_orderpriority,
             |      '^[1-5]-') THEN 1 ELSE 0 END) AS BIGINT)
             |      AS regex_orderpriority,
             |    count(o_orderkey) - count(DISTINCT o_orderkey)
             |      AS unique_orderkey
             |  FROM orders),
             |orphans AS (
             |  SELECT count(*) AS fk_custkey FROM orders
             |  WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)),
             |rules AS (
             |  SELECT 'fk_custkey' AS rule, fk_custkey AS violations
             |    FROM orphans
             |  UNION ALL SELECT 'null_custkey', null_custkey FROM inline
             |  UNION ALL SELECT 'range_totalprice', range_totalprice
             |    FROM inline
             |  UNION ALL SELECT 'regex_orderpriority', regex_orderpriority
             |    FROM inline
             |  UNION ALL SELECT 'set_orderstatus', set_orderstatus
             |    FROM inline
             |  UNION ALL SELECT 'unique_orderkey', unique_orderkey
             |    FROM inline)
             |SELECT rule, violations FROM rules ORDER BY rule""".stripMargin)),

    // ---- U8/U9: bag (multiset) set-ops — EXCEPT ALL / INTERSECT ALL
    //      keep multiplicities (the set forms u04/u05 collapse them).
    //      Spark plans both as one hash aggregate over a union with
    //      signed counts — single shuffle, no join --------------------------
    Q("u08_except_all",
      (s, dir) => {
        val hi = t(s, dir, "lineitem").filter(col("l_quantity") >= 40)
          .select(col("l_suppkey"))
        val ret = t(s, dir, "lineitem").filter(col("l_returnflag") === "R" &&
          col("l_quantity") >= 45).select(col("l_suppkey"))
        hi.exceptAll(ret).groupBy("l_suppkey")
          .agg(count(lit(1)).as("surplus"))
          .orderBy("l_suppkey")
      },
      Some("""WITH d AS (
             |  SELECT l_suppkey FROM lineitem WHERE l_quantity >= 40
             |  EXCEPT ALL
             |  SELECT l_suppkey FROM lineitem
             |  WHERE l_returnflag = 'R' AND l_quantity >= 45)
             |SELECT l_suppkey, count(*) AS surplus
             |FROM d GROUP BY 1 ORDER BY l_suppkey""".stripMargin)),

    Q("u09_intersect_all",
      (s, dir) => {
        val hi = t(s, dir, "lineitem").filter(col("l_quantity") >= 40)
          .select(col("l_suppkey"))
        val ret = t(s, dir, "lineitem").filter(col("l_returnflag") === "R" &&
          col("l_quantity") >= 45).select(col("l_suppkey"))
        hi.intersectAll(ret).groupBy("l_suppkey")
          .agg(count(lit(1)).as("common"))
          .orderBy("l_suppkey")
      },
      Some("""WITH d AS (
             |  SELECT l_suppkey FROM lineitem WHERE l_quantity >= 40
             |  INTERSECT ALL
             |  SELECT l_suppkey FROM lineitem
             |  WHERE l_returnflag = 'R' AND l_quantity >= 45)
             |SELECT l_suppkey, count(*) AS common
             |FROM d GROUP BY 1 ORDER BY l_suppkey""".stripMargin)),

    // ---- J17: star-schema rollup (the TPC-H Q10 shape) — returned-item
    //      revenue per customer and nation over a quarter. The fact
    //      (lineitem) flows through key equi-joins Catalyst orders;
    //      nation broadcasts; revenue accumulates in exact integer
    //      1e-4-units (decimal-38 sums — w14's units×cents trick) so the
    //      top-50 ranking is bit-stable at any parallelism ---------------
    Q("j17_star_rollup",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .filter(col("l_returnflag") === "R")
          .select(col("l_orderkey"),
            (round(col("l_extendedprice") * 100, 0).cast("decimal(38,0)") *
              round((lit(1) - col("l_discount")) * 100, 0)
                .cast("decimal(38,0)")).as("rev4"))
        val o = t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-10-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-02-01").cast("timestamp"))
          .select(col("o_orderkey"), col("o_custkey"))
        val c = t(s, dir, "customer")
          .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
        val n = t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
          .agg((sum(col("rev4")).cast("double") / 10000.0).as("revenue"),
            count(lit(1)).as("items"))
          .orderBy(col("revenue").desc, col("c_custkey"))
          .limit(50)
      },
      Some("""SELECT c_custkey, c_name, n_name,
             |  CAST(sum(CAST(round(l_extendedprice * 100) AS HUGEINT)
             |      * CAST(round((1 - l_discount) * 100) AS HUGEINT))
             |    AS DOUBLE) / 10000.0 AS revenue,
             |  count(*) AS items
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |WHERE l_returnflag = 'R'
             |  AND o_orderdate >= TIMESTAMP '1996-10-01'
             |  AND o_orderdate < TIMESTAMP '1997-02-01'
             |GROUP BY 1, 2, 3
             |ORDER BY revenue DESC, c_custkey LIMIT 50""".stripMargin)),

    // ---- O9: keyset pagination — page N fetched by compound-key
    //      predicate + limit, the scale-correct pagination (OFFSET
    //      scans and discards every earlier row on every page; keyset
    //      pushes the predicate into the scan and TakeOrdered keeps
    //      only the page). The cursor is the last (date, key) of the
    //      previous page ------------------------------------------------
    Q("o09_keyset_pagination",
      (s, dir) => t(s, dir, "orders")
        .filter(col("o_orderdate") > lit("1995-06-01").cast("timestamp") ||
          (col("o_orderdate") === lit("1995-06-01").cast("timestamp") &&
            col("o_orderkey") > 5000))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .limit(20)
        .select(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          col("o_totalprice")),
      Some("""SELECT o_orderkey,
             |  strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d')
             |    AS o_orderdate,
             |  o_totalprice
             |FROM orders
             |WHERE o_orderdate > TIMESTAMP '1995-06-01'
             |  OR (o_orderdate = TIMESTAMP '1995-06-01'
             |      AND o_orderkey > 5000)
             |ORDER BY orders.o_orderdate, o_orderkey LIMIT 20""".stripMargin)),

    // ---- A30: exact heavy hitters, two-pass — per-task Space-Saving
    //      sketches NOMINATE candidates in O(cap) memory (any item above
    //      N/cap provably survives), then only candidates are counted
    //      exactly. The output carries no sketch estimates, so it
    //      hash-matches the plain GROUP BY oracle — a sketch used for
    //      memory bounds, not for approximation -------------------------
    Q("a30_heavy_hitters",
      (s, dir) => graft.functions.HeavyHitters.topK(
        t(s, dir, "documents")
          .select(explode(graft.llm.TextAnalysis.tokens(
            lower(col("text")))).as("token")),
        "token", k = 20),
      Some(s"""SELECT token AS item, count(*) AS cnt FROM (
             |  SELECT unnest(${tokensSql("lower(text)")}) AS token
             |  FROM documents)
             |GROUP BY 1 ORDER BY cnt DESC, item LIMIT 20""".stripMargin)),

    // ---- W18: exponentially weighted moving average — the recursive
    //      smoother no plain window frame expresses. Per key: one
    //      shuffle, values assembled in (ts, id) order, then ONE
    //      sequential fold `acc*0.8 + x*0.2` — written identically in
    //      both engines (Spark `aggregate` folds left; DuckDB
    //      `list_reduce` folds left seeded by the first element), so the
    //      doubles round identically step for step and the gate stays
    //      hash-exact. Per-key history must fit a task (document streams
    //      at 100 TB: bound the frame or chunk by epoch first) ------------
    Q("w18_ewma",
      (s, dir) => Registry.events(s, dir)
        .groupBy(col("user_id"))
        .agg(transform(
          sort_array(collect_list(struct(col("ts"), col("event_id"),
            col("value")))),
          e => e.getField("value")).as("vals"))
        .select(col("user_id"), size(col("vals")).as("n"),
          aggregate(
            slice(col("vals"), lit(2),
              greatest(size(col("vals")) - 1, lit(0))),
            element_at(col("vals"), 1),
            (acc, x) => acc * lit(0.8) + x * lit(0.2)).as("ewma"))
        .orderBy("user_id"),
      Some("""WITH seq AS (
             |  SELECT user_id, list(value ORDER BY ts, event_id) AS vals
             |  FROM events GROUP BY user_id)
             |SELECT user_id, CAST(len(vals) AS INT) AS n,
             |  list_reduce(vals, (acc, x) -> acc * 0.8 + x * 0.2) AS ewma
             |FROM seq ORDER BY user_id""".stripMargin)),

    // ---- A31: ANALYZE-style column profile — nulls / exact NDV /
    //      min / max for every column of a table in ONE pass (plus the
    //      NDVs' distinct shuffles), the stats block a CBO or data
    //      catalog ingests. Values surface as strings with per-type
    //      canonical formatting so one long table carries all columns ----
    Q("a31_table_stats",
      // Per-column single-distinct aggregates UNIONed, not one
      // multi-distinct agg: Spark rewrites 4 count_distincts into a 5x
      // Expand whose non-distinct aggs ride along as first() FILTER
      // (gid = 0) — which forces a SortAggregate, i.e. a full SORT of
      // the 5x-expanded relation. At 100 TB that sorts five times the
      // table just for stats. Four separate aggregates each scan ONE
      // parquet column (columnar pruning: total bytes read equal the
      // single full-width scan), each plans as a two-phase
      // HashAggregate with map-side partial distinct, and the union
      // stacks 4 one-row frames.
      (s, dir) => {
        val o = t(s, dir, "orders")
        def stats(cname: String, mn: org.apache.spark.sql.Column, mx: org.apache.spark.sql.Column) =
          o.agg(
              sum(when(col(cname).isNull, 1L).otherwise(0L)).as("n_nulls"),
              count_distinct(col(cname)).as("n_distinct"),
              mn.as("min_value"), mx.as("max_value"))
            .select(lit(cname).as("col_name"), col("n_nulls"),
              col("n_distinct"), col("min_value"), col("max_value"))
        stats("o_orderdate",
            date_format(min(col("o_orderdate")), "yyyy-MM-dd"),
            date_format(max(col("o_orderdate")), "yyyy-MM-dd"))
          .unionByName(stats("o_orderkey",
            min(col("o_orderkey")).cast("string"),
            max(col("o_orderkey")).cast("string")))
          .unionByName(stats("o_orderstatus",
            min(col("o_orderstatus")), max(col("o_orderstatus"))))
          .unionByName(stats("o_totalprice",
            min(col("o_totalprice")).cast("decimal(18,2)").cast("string"),
            max(col("o_totalprice")).cast("decimal(18,2)").cast("string")))
          .orderBy("col_name")
      },
      Some("""WITH a AS (
             |  SELECT
             |    CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
             |      AS BIGINT) AS nn_k,
             |    count(DISTINCT o_orderkey) AS nd_k,
             |    CAST(min(o_orderkey) AS VARCHAR) AS mn_k,
             |    CAST(max(o_orderkey) AS VARCHAR) AS mx_k,
             |    CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
             |      AS BIGINT) AS nn_s,
             |    count(DISTINCT o_orderstatus) AS nd_s,
             |    min(o_orderstatus) AS mn_s,
             |    max(o_orderstatus) AS mx_s,
             |    CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
             |      AS BIGINT) AS nn_p,
             |    count(DISTINCT o_totalprice) AS nd_p,
             |    CAST(CAST(min(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)
             |      AS mn_p,
             |    CAST(CAST(max(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)
             |      AS mx_p,
             |    CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)
             |      AS BIGINT) AS nn_d,
             |    count(DISTINCT o_orderdate) AS nd_d,
             |    strftime(CAST(min(o_orderdate) AS DATE), '%Y-%m-%d')
             |      AS mn_d,
             |    strftime(CAST(max(o_orderdate) AS DATE), '%Y-%m-%d')
             |      AS mx_d
             |  FROM orders)
             |SELECT col_name, n_nulls, n_distinct, min_value, max_value
             |FROM (
             |  SELECT 'o_orderdate' AS col_name, nn_d AS n_nulls,
             |    nd_d AS n_distinct, mn_d AS min_value, mx_d AS max_value
             |  FROM a
             |  UNION ALL SELECT 'o_orderkey', nn_k, nd_k, mn_k, mx_k FROM a
             |  UNION ALL SELECT 'o_orderstatus', nn_s, nd_s, mn_s, mx_s
             |    FROM a
             |  UNION ALL SELECT 'o_totalprice', nn_p, nd_p, mn_p, mx_p
             |    FROM a)
             |ORDER BY col_name""".stripMargin)),

    // ---- W19: batch sessionization (gaps-and-islands) — per-user
    //      sessions split on >30 min inactivity, built from two window
    //      passes over ONE (user, time) sort-shuffle: a lag() boundary
    //      flag and its running sum as the session id. The batch
    //      counterpart of w07's streaming session_window -----------------
    Q("w19_batch_sessions",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        events(s, dir)
          .select(col("user_id"), col("ts"), col("event_id"))
          .withColumn("news",
            when(lag(col("ts"), 1).over(w).isNull ||
              unix_micros(col("ts")) -
                unix_micros(lag(col("ts"), 1).over(w)) > 1800000000L, 1L)
              .otherwise(0L))
          .withColumn("sid", sum(col("news"))
            .over(w.rowsBetween(Window.unboundedPreceding,
              Window.currentRow)))
          .groupBy(col("user_id"), col("sid"))
          .agg(
            date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss.SSSSSS")
              .as("session_start"),
            date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss.SSSSSS")
              .as("session_end"),
            count(lit(1)).as("n_events"))
          .drop("sid")
          .orderBy("user_id", "session_start")
      },
      Some("""WITH o AS (
             |  SELECT user_id, ts, event_id,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
             |      THEN 1 ELSE 0 END AS news
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |s AS (
             |  SELECT user_id, ts,
             |    sum(news) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM o)
             |SELECT user_id,
             |  strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
             |  strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
             |  count(*) AS n_events
             |FROM s GROUP BY user_id, sid
             |ORDER BY user_id, session_start""".stripMargin)),

    // ---- D18: excerpt detection via n-gram CONTAINMENT — the
    //      asymmetric complement of d06's Jaccard: a short quote inside
    //      a long page has Jaccard ≈ 0 but containment 1.0. Corpus =
    //      docs + their synthesized 20-token excerpts (ids +1000), so
    //      every (parent, excerpt) pair must surface at exactly 1.0 -----
    Q("d18_containment",
      (s, dir) => {
        val docs = t(s, dir, "documents").filter(col("doc_id") < 300)
          .select(col("doc_id"), col("text"))
        val excerpts = docs.select((col("doc_id") + 1000).as("doc_id"),
          concat_ws(" ", slice(graft.llm.TextAnalysis.tokens(col("text")),
            1, 20)).as("text"))
        Dedup.containmentPairs(docs.unionByName(excerpts),
            "text", "doc_id", n = 3, threshold = 0.9)
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH corpus AS (
             |  SELECT doc_id, text FROM documents WHERE doc_id < 300
             |  UNION ALL
             |  SELECT doc_id + 1000 AS doc_id,
             |    array_to_string(${tokensSql("text")}[1:20], ' ') AS text
             |  FROM documents WHERE doc_id < 300),
             |${Dedup.wordGramsCte("t", "corpus", "doc_id", "text", "doc_id")},
             |${Dedup.gramPairsCtes("t")}
             |SELECT id_a, id_b,
             |  CAST(inter AS DOUBLE) / least(sa.n, sb.n) AS containment
             |FROM pairs
             |JOIN sizes sa ON sa.doc_id = id_a
             |JOIN sizes sb ON sb.doc_id = id_b
             |WHERE CAST(inter AS DOUBLE) / least(sa.n, sb.n) >= 0.9
             |ORDER BY id_a, id_b""".stripMargin)),

    // ---- A32: the TPC-H Q1 pricing summary — the canonical scan-heavy
    //      rollup, with every money sum in exact integer units (cents /
    //      1e-4 / 1e-6 via decimal-38 products) so sums and averages are
    //      bit-stable at any parallelism ---------------------------------
    Q("a32_pricing_summary",
      (s, dir) => {
        val cents = round(col("l_extendedprice") * 100, 0)
          .cast("decimal(38,0)")
        val disc = round((lit(1) - col("l_discount")) * 100, 0)
          .cast("decimal(38,0)")
        val tax = round((lit(1) + col("l_tax")) * 100, 0)
          .cast("decimal(38,0)")
        t(s, dir, "lineitem")
          .filter(to_date(col("l_shipdate")) <= lit("1998-09-02"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
              .as("sum_qty"),
            (sum(cents).cast("double") / 100.0).as("sum_base_price"),
            (sum(cents * disc).cast("double") / 10000.0)
              .as("sum_disc_price"),
            (sum(cents * disc * tax).cast("double") / 1000000.0)
              .as("sum_charge"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             |    AS sum_qty,
             |  CAST(sum(CAST(round(l_extendedprice * 100) AS HUGEINT))
             |    AS DOUBLE) / 100.0 AS sum_base_price,
             |  CAST(sum(CAST(round(l_extendedprice * 100) AS HUGEINT)
             |      * CAST(round((1 - l_discount) * 100) AS HUGEINT))
             |    AS DOUBLE) / 10000.0 AS sum_disc_price,
             |  CAST(sum(CAST(round(l_extendedprice * 100) AS HUGEINT)
             |      * CAST(round((1 - l_discount) * 100) AS HUGEINT)
             |      * CAST(round((1 + l_tax) * 100) AS HUGEINT))
             |    AS DOUBLE) / 1000000.0 AS sum_charge,
             |  count(*) AS count_order
             |FROM lineitem
             |WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
             |GROUP BY 1, 2 ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // ---- A33: incremental view maintenance — a maintained (key, cnt,
    //      sum) aggregate absorbs a change log (inserts + deletes) by
    //      re-summing ONLY |prev keys| + |delta| rows, never the base
    //      table. Maintained result must hash-equal the from-scratch
    //      aggregate of the post-change table (which is what the oracle
    //      computes directly) -------------------------------------------
    Q("a33_incremental_agg",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val cutHi = lit("1998-01-01").cast("timestamp")
        val cutLo = lit("1997-06-01").cast("timestamp")
        val prev = o.filter(col("o_orderdate") < cutHi)
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("o_totalprice").cast("decimal(28,6)"))
              .as("sum_o_totalprice"))
        val inserts = o.filter(col("o_orderdate") >= cutHi)
          .select(col("o_orderpriority"), col("o_totalprice"))
          .withColumn("del", lit(false))
        val deletes = o.filter(col("o_orderdate") >= cutLo &&
            col("o_orderdate") < cutHi)
          .select(col("o_orderpriority"), col("o_totalprice"))
          .withColumn("del", lit(true))
        Merge.maintainAgg(prev, inserts.unionByName(deletes),
            Seq("o_orderpriority"), Seq("o_totalprice"), "del")
          .select(col("o_orderpriority"), col("cnt"),
            col("sum_o_totalprice").cast("double").as("total"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS cnt,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
             |    AS total
             |FROM orders
             |WHERE o_orderdate < TIMESTAMP '1997-06-01'
             |   OR o_orderdate >= TIMESTAMP '1998-01-01'
             |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin)),

    // ---- W20: rolling distinct users (7-day window per day) — COUNT
    //      DISTINCT has no frame-based shortcut, so each event is
    //      replicated into the ≤7 day-buckets it influences (bounded
    //      fan-out, the range-join trick) and each bucket distinct-counts
    //      independently. One explode + one distinct-agg shuffle ----------
    Q("w20_rolling_distinct",
      (s, dir) => events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("d"))
        .withColumn("day", explode(sequence(col("d"),
          date_add(col("d"), 6))))
        .groupBy(date_format(col("day"), "yyyy-MM-dd").as("day"))
        .agg(count_distinct(col("user_id")).as("users"))
        .orderBy("day"),
      Some("""SELECT strftime(day, '%Y-%m-%d') AS day,
             |  count(DISTINCT user_id) AS users
             |FROM (
             |  SELECT user_id, CAST(ts AS DATE) + CAST(k AS INT) AS day
             |  FROM events
             |  CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS k))
             |GROUP BY 1 ORDER BY day""".stripMargin)),

    // ---- M9: content-identical image dedup THROUGH the decode path —
    //      images are grouped by the md5 of their decoded luminance
    //      features, not their container bytes (the same pixels saved by
    //      different encoders share a group; m08's byte-hash would not).
    //      Synthetic pixels repeat with period 256 in id*31, so ids
    //      congruent mod 256 decode identically and the oracle is pure
    //      arithmetic -------------------------------------------------------
    Q("m09_image_dups",
      (s, dir) => {
        val ids = t(s, dir, "documents")
          .select(col("doc_id").cast("long").as("id"))
        val feats = Multimodal.decodeImageFeatures(
            Multimodal.withSyntheticImages(ids, "id"), "id", grid = 4)
          .filter(col("features").isNotNull)
          .select(col("id"),
            md5(to_json(struct(col("sum_gray"), col("features"))))
              .as("content_key"))
        // pairs via the distributed self-equi-join on the digest: a
        // degenerate digest group streams across its partition's tasks
        // instead of materializing in one collect_list row. Exchange
        // reuse runs the ImageIO decode exactly once (both sides are
        // the same digest-partitioned subplan; the probe side replays
        // shuffle files) — single-decode is pinned in PlanShapeSpec.
        Dedup.pairsWithinGroups(feats, "content_key", "id")
          .orderBy("id_a", "id_b")
      },
      Some("""SELECT a.doc_id AS id_a, b.doc_id AS id_b
             |FROM documents a JOIN documents b
             |  ON a.doc_id < b.doc_id
             |  AND (a.doc_id * 31) % 256 = (b.doc_id * 31) % 256
             |ORDER BY id_a, id_b""".stripMargin)),

    // ---- P6: denormalize to training JSONL — orders exported as one
    //      nested document each, lineitems folded in as a sorted array
    //      (one groupBy + in-group sort). The JSON text is built with
    //      plain string ops, char-identical in both engines, because the
    //      export FORMAT is the contract a tokenizer downstream sees ------
    Q("p06_denormalize",
      (s, dir) => {
        val items = t(s, dir, "lineitem")
          .filter(col("l_orderkey") % 100 === 0)
          .select(col("l_orderkey"),
            format_string("{\"line\":%d,\"qty\":%d}",
              col("l_linenumber"),
              col("l_quantity").cast("int")).as("item"))
          .groupBy(col("l_orderkey"))
          .agg(concat(lit("["),
            array_join(sort_array(collect_list(col("item"))), ","),
            lit("]")).as("items_json"),
            count(lit(1)).as("n_items"))
        items
          .select(col("l_orderkey").as("order_key"),
            concat(lit("{\"order\":"), col("l_orderkey").cast("string"),
              lit(",\"items\":"), col("items_json"), lit("}")).as("doc"),
            col("n_items"))
          .orderBy("order_key")
      },
      // sort_array sorts the item STRINGS lexicographically; the oracle
      // orders string_agg by the same rendered string
      Some("""SELECT l_orderkey AS order_key,
             |  '{"order":' || CAST(l_orderkey AS VARCHAR) || ',"items":['
             |    || string_agg(item, ',' ORDER BY item) || ']}' AS doc,
             |  count(*) AS n_items
             |FROM (
             |  SELECT l_orderkey,
             |    '{"line":' || CAST(l_linenumber AS VARCHAR) || ',"qty":'
             |      || CAST(CAST(l_quantity AS INT) AS VARCHAR) || '}'
             |      AS item
             |  FROM lineitem WHERE l_orderkey % 100 = 0)
             |GROUP BY l_orderkey ORDER BY order_key""".stripMargin)),

    // ---- A34: exact ROC-AUC of the l09 quality logit against the
    //      is-English label — the Mann-Whitney rank form: AUC =
    //      (Σ ranks of positives − n⁺(n⁺+1)/2) / (n⁺·n⁻), with a
    //      deterministic total order (logit, doc_id) so both engines
    //      rank identically. The global 1..N rank comes from
    //      `Ids.denseIds` (range partition + broadcast offsets — never a
    //      one-task window), so model evaluation costs one range shuffle
    //      however large the eval set ------------------------------------
    Q("a34_auc",
      (s, dir) => {
        val scored = t(s, dir, "documents")
          .filter(length(col("text")) > 0)
          .select(col("doc_id"), col("lang"),
            qualityLogit(col("text")).as("logit"))
        val ranked = graft.etl.Ids.denseIds(scored,
          Seq(col("logit"), col("doc_id")), "rk")
        ranked.agg(
            sum(when(col("lang") === "en", col("rk").cast("long"))
              .otherwise(0L)).as("pos_rank_sum"),
            sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_pos"),
            sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("n_neg"))
          .select(col("n_pos"), col("n_neg"),
            expr("CAST(pos_rank_sum - (n_pos * (n_pos + 1)) div 2 " +
              "AS DOUBLE) / CAST(n_pos * n_neg AS DOUBLE)").as("auc"))
      },
      Some(s"""WITH f AS (
             |  SELECT doc_id, lang, $qualityLogitSql AS logit
             |  FROM documents WHERE length(text) > 0),
             |r AS (
             |  SELECT lang,
             |    row_number() OVER (ORDER BY logit, doc_id) AS rk
             |  FROM f),
             |agg AS (
             |  SELECT
             |    CAST(sum(CASE WHEN lang = 'en' THEN rk ELSE 0 END)
             |      AS BIGINT) AS pos_rank_sum,
             |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_pos,
             |    CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_neg
             |  FROM r)
             |SELECT n_pos, n_neg,
             |  CAST(pos_rank_sum - (n_pos * (n_pos + 1)) // 2 AS DOUBLE)
             |    / CAST(n_pos * n_neg AS DOUBLE) AS auc
             |FROM agg""".stripMargin)),

    // ---- A35: argmin/argmax aggregates — the "which row holds the
    //      extreme" question without a self-join or window: min_by /
    //      max_by with an explicit unique tie-break (the raw pair would
    //      be partitioning-dependent on duplicate prices) ----------------
    Q("a35_arg_extremes",
      (s, dir) => t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          max_by(col("o_orderkey"),
            struct(col("o_totalprice"), col("o_orderkey")))
            .as("max_price_order"),
          min_by(col("o_orderkey"),
            struct(col("o_totalprice"), col("o_orderkey")))
            .as("min_price_order"),
          max(col("o_totalprice")).as("max_price"),
          min(col("o_totalprice")).as("min_price"))
        .orderBy("o_orderpriority"),
      // DuckDB 1.0 arg_max has no struct ordering key; the oracle pins
      // the same row via two deterministic rank windows
      Some("""WITH r AS (
             |  SELECT o_orderpriority, o_orderkey, o_totalprice,
             |    row_number() OVER (PARTITION BY o_orderpriority
             |      ORDER BY o_totalprice DESC, o_orderkey DESC) AS rmax,
             |    row_number() OVER (PARTITION BY o_orderpriority
             |      ORDER BY o_totalprice ASC, o_orderkey ASC) AS rmin
             |  FROM orders)
             |SELECT o_orderpriority,
             |  max(CASE WHEN rmax = 1 THEN o_orderkey END)
             |    AS max_price_order,
             |  max(CASE WHEN rmin = 1 THEN o_orderkey END)
             |    AS min_price_order,
             |  max(o_totalprice) AS max_price,
             |  min(o_totalprice) AS min_price
             |FROM r GROUP BY 1 ORDER BY o_orderpriority""".stripMargin)),

    // ---- W21: value-picking windows — first/last/nth value over an
    //      explicit frame (UNBOUNDED..UNBOUNDED so last/nth see the whole
    //      partition; default frames famously truncate last_value) -------
    Q("w21_value_windows",
      (s, dir) => {
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice"), col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"),
            col("o_totalprice"))
          .withColumn("cheapest", first_value(col("o_orderkey")).over(w))
          .withColumn("priciest", last_value(col("o_orderkey")).over(w))
          .withColumn("third", nth_value(col("o_orderkey"), 3).over(w))
          .filter(col("o_orderkey") % 100 === 0)
          .drop("o_totalprice")
          .orderBy("o_orderkey")
      },
      Some("""SELECT * FROM (
             |  SELECT o_orderkey, o_orderpriority,
             |    first_value(o_orderkey) OVER w AS cheapest,
             |    last_value(o_orderkey) OVER w AS priciest,
             |    nth_value(o_orderkey, 3) OVER w AS third
             |  FROM orders
             |  WINDOW w AS (PARTITION BY o_orderpriority
             |    ORDER BY o_totalprice, o_orderkey
             |    ROWS BETWEEN UNBOUNDED PRECEDING
             |      AND UNBOUNDED FOLLOWING))
             |WHERE o_orderkey % 100 = 0 ORDER BY o_orderkey""".stripMargin)),

    // ---- X22: calendar arithmetic surface — trunc-to-month/quarter,
    //      month-end, add_months, quarter/week-of-year extraction: the
    //      date dimensions every reporting rollup keys on, all
    //      codegen'd built-ins -------------------------------------------
    Q("x22_calendar",
      (s, dir) => t(s, dir, "orders")
        .filter(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey"),
          date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd")
            .as("month_start"),
          date_format(date_trunc("quarter", col("o_orderdate")),
            "yyyy-MM-dd").as("quarter_start"),
          date_format(last_day(col("o_orderdate")), "yyyy-MM-dd")
            .as("month_end"),
          date_format(add_months(col("o_orderdate"), 3), "yyyy-MM-dd")
            .as("plus_quarter"),
          quarter(col("o_orderdate")).as("q"),
          weekofyear(col("o_orderdate")).as("iso_week"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
             |  strftime(date_trunc('month', o_orderdate), '%Y-%m-%d')
             |    AS month_start,
             |  strftime(date_trunc('quarter', o_orderdate), '%Y-%m-%d')
             |    AS quarter_start,
             |  strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d')
             |    AS month_end,
             |  strftime(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH,
             |    '%Y-%m-%d') AS plus_quarter,
             |  CAST(quarter(o_orderdate) AS INT) AS q,
             |  CAST(weekofyear(o_orderdate) AS INT) AS iso_week
             |FROM orders WHERE o_orderkey % 100 = 0
             |ORDER BY o_orderkey""".stripMargin)),

    // ---- F8: three-valued-logic edge coverage — NULLs planted via
    //      NULLIF, then the full predicate surface over them: null-safe
    //      equality, COALESCE chains, IS DISTINCT FROM, and the
    //      NULL-in-IN trap (x IN (...) is NULL, never TRUE, for NULL x) --
    Q("f08_null_semantics",
      (s, dir) => t(s, dir, "orders")
        .filter(col("o_orderkey") % 50 === 0)
        .select(col("o_orderkey"),
          nullif(col("o_orderstatus"), lit("O")).as("st"))
        .select(col("o_orderkey"),
          coalesce(col("st"), lit("OPEN")).as("status_or_default"),
          (col("st") <=> lit("F")).as("nullsafe_is_f"),
          (!(col("st") <=> lit("P"))).as("distinct_from_p"),
          when(col("st").isin("F", "P"), "terminal")
            .when(col("st").isNull, "unknown")
            .otherwise("other").as("bucket"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
             |  coalesce(st, 'OPEN') AS status_or_default,
             |  st IS NOT DISTINCT FROM 'F' AS nullsafe_is_f,
             |  st IS DISTINCT FROM 'P' AS distinct_from_p,
             |  CASE WHEN st IN ('F', 'P') THEN 'terminal'
             |       WHEN st IS NULL THEN 'unknown'
             |       ELSE 'other' END AS bucket
             |FROM (SELECT o_orderkey, nullif(o_orderstatus, 'O') AS st
             |      FROM orders WHERE o_orderkey % 50 = 0)
             |ORDER BY o_orderkey""".stripMargin)),

    // ---- X23: string-manipulation surface — pad/reverse/repeat/
    //      translate/overlay, the cleanup toolkit for id normalization --
    Q("x23_string_surface",
      (s, dir) => t(s, dir, "nation")
        .select(col("n_nationkey"),
          lpad(col("n_nationkey").cast("string"), 4, "0").as("padded_key"),
          rpad(col("n_name"), 12, ".").as("padded_name"),
          reverse(col("n_name")).as("reversed"),
          translate(col("n_name"), "_", "-").as("dashed"),
          concat(substring(col("n_name"), 1, 3), lit("***"))
            .as("masked"))
        .orderBy("n_nationkey"),
      Some("""SELECT n_nationkey,
             |  lpad(CAST(n_nationkey AS VARCHAR), 4, '0') AS padded_key,
             |  rpad(n_name, 12, '.') AS padded_name,
             |  reverse(n_name) AS reversed,
             |  replace(n_name, '_', '-') AS dashed,
             |  substr(n_name, 1, 3) || '***' AS masked
             |FROM nation ORDER BY n_nationkey""".stripMargin)),

    // ---- U10: schema-tolerant union — unionByName with missing columns
    //      null-filled, the shape every multi-vintage ingest needs when
    //      writer schemas drift (column added in vintage 2) --------------
    Q("u10_union_missing_cols",
      (s, dir) => {
        val v1 = t(s, dir, "documents").filter(col("doc_id") < 100)
          .select(col("doc_id"), col("source"))
        val v2 = t(s, dir, "documents")
          .filter(col("doc_id") >= 100 && col("doc_id") < 200)
          .select(col("doc_id"), col("source"), col("lang"))
        v1.unionByName(v2, allowMissingColumns = true)
          .select(col("doc_id"), col("source"),
            coalesce(col("lang"), lit("unknown")).as("lang"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, source, 'unknown' AS lang
             |FROM documents WHERE doc_id < 100
             |UNION ALL
             |SELECT doc_id, source, lang
             |FROM documents WHERE doc_id >= 100 AND doc_id < 200
             |ORDER BY doc_id""".stripMargin)),

    // ---- J16: as-of join with match tolerance — the j05 semantics plus
    //      a max-staleness cap: a preceding metric older than 30 days is
    //      no match (nulled), which is what any point-in-time feature
    //      store enforces. Same single-sort union+last plan as j05; the
    //      tolerance is a row-local post-filter, costing nothing extra ----
    Q("j16_asof_tolerance",
      (s, dir) => {
        val od = t(s, dir, "orders").select(
          col("o_orderkey"), col("o_custkey").as("team"),
          col("o_orderdate").cast("date").as("date"),
          col("o_totalprice"))
        val metrics = od.groupBy(col("team"), col("date"))
          .agg((decSum(col("o_totalprice")) / count(lit(1))).as("mprice"))
        val fixtures = od.select(col("o_orderkey").as("match_id"),
          col("team"), date_add(col("date"), 10).as("fdate"))
        val stale = datediff(col("fdate"), col("asof_date")) > 30
        AsOfJoin.asOf(fixtures, metrics, "team", "fdate", "date",
            valueCols = Seq("date", "mprice"))
          .select(col("match_id"), col("team"),
            date_format(col("fdate"), "yyyy-MM-dd").as("fdate"),
            when(stale, lit(null).cast("string"))
              .otherwise(date_format(col("asof_date"), "yyyy-MM-dd"))
              .as("asof_date"),
            when(stale, lit(null).cast("double"))
              .otherwise(col("asof_mprice")).as("asof_mprice"))
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
             |  CASE WHEN date_diff('day', m.date, CAST(f.fdate AS DATE)) > 30
             |    THEN NULL ELSE strftime(m.date, '%Y-%m-%d') END AS asof_date,
             |  CASE WHEN date_diff('day', m.date, CAST(f.fdate AS DATE)) > 30
             |    THEN NULL ELSE m.mprice END AS asof_mprice
             |FROM fixtures f
             |ASOF LEFT JOIN metrics m
             |  ON f.team = m.team AND f.fdate >= m.date
             |ORDER BY f.match_id""".stripMargin))
  )
}
