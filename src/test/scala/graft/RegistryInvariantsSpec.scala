package graft

import org.apache.spark.sql.functions._

/** Invariants for the registry-only analytics entries that the oracle gate
  * checks by value: partition-order independence (the property that makes
  * them safe on a 1000-executor cluster) and deterministic tie-breaks.
  */
class RegistryInvariantsSpec extends SparkSpec {

  test("a26_exact_corr: integer moments make Pearson partition-invariant") {
    val q = SparkEntry.queries("a26_exact_corr")
    val base = q(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(base.nonEmpty && base.values.forall(v => v >= -1.0 && v <= 1.0))
    // Built-in corr() streams FP sums, so its bits shift with partitioning;
    // the integer-moment formulation must not. Re-run under a different
    // shuffle width and require BIT equality, not approx equality.
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val again = q(spark, sf).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(again == base)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("round-8 float outputs are partition-order invariant (bit equality)") {
    // t14/a41/t16/n09 all emit doubles built from exact integer/decimal
    // aggregates through fixed-order row-wise arithmetic — so their bits
    // must not move when the shuffle width (and thus partial-agg merge
    // order) changes.
    val names = Seq("t14_bm25", "a41_group_ols", "t16_zipf_fit",
      "n09_knn_eval", "a43_percentile_cont", "x33_linear_interpolate",
      // this round's determinism claims: integer graph fixpoints, the
      // per-key top-k's total order, quantized-integer cosine,
      // round-9 bigram logprobs, and the portable LSH pipeline
      "g01_pagerank", "g03_triangles", "g04_label_propagation",
      "w24_native_topk", "d21_domain_cap", "n10_centroid_cosine",
      "t19_bigram_lm",
      "d22_segment_dedup", "d23_decontaminate_portable",
      // round-9 determinism claims: integer BFS distances, the portable
      // SemDeDup twin's quantized cosines, real-decode pooled features
      "g05_bfs_distances", "d24_semantic_dedup_portable",
      "m02_decode_features", "d25_incremental_portable",
      "n12_ann_lsh_portable", "n13_ann_ivf_portable", "d26_dup_spans",
      "d27_contamination_report", "t20_perplexity_buckets",
      "t21_script_mix", "a45_hll_portable", "a46_cm_portable",
      "n14_cosine_neardup_portable",
      // the rest of the portable similarity family, on the shared
      // integer-cosine kernels
      "n15_sq_portable", "n16_pq_portable", "n18_ivf_append_portable",
      "n19_kmeans_portable", "n20_power_iteration", "n21_hard_negatives",
      "n22_matryoshka_topk", "n23_ivf_persisted",
      "l15_cluster_balanced_sample",
      // the IVF, append, SemDeDup and SQ entries on the same family
      "n04_ann_ivf", "n06_ivf_recall", "n07_sq_recall", "n17_ivf_append",
      "d16_semantic_dedup",
      // the KN trigram LM: its stat exchanges are reused across
      // consumers, which must not depend on the shuffle width
      "t30_kn_trigram_lm", "t31_kn_perplexity_buckets",
      "t32_kn_incremental",
      // the flagship join: its as-of metrics are exact decimal sums from
      // partial aggregates merged in task order
      "j01_combined")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      val base = names.map(n =>
        n -> SparkEntry.queries(n)(spark, sf).collect().toSeq).toMap
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      names.foreach { n =>
        val again = SparkEntry.queries(n)(spark, sf).collect().toSeq
        assert(again == base(n), s"$n shifted under repartitioning")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("registry names are unique (queries is a toMap: a duplicate " +
      "would silently drop an entry)") {
    val names = Registry.all.map(_.name)
    val dupes = names.groupBy(identity).collect { case (n, v) if v.size > 1 => n }
    assert(dupes.isEmpty, s"duplicate registry names: $dupes")
    assert(Registry.queries.size == names.size)
  }

  test("no oracle defines a CTE name twice in one WITH clause") {
    // DuckDB rejects the statement ("Duplicate CTE name"); spliced CTE
    // builders are where a clash comes from. Names are keyed by the
    // innermost enclosing parenthesis, so nested WITHs are own scopes.
    val cte = ("(?i)(?:\\bWITH(?:\\s+RECURSIVE)?|,)\\s*([A-Za-z_]\\w*)" +
      "\\s+AS\\s+(?:MATERIALIZED\\s+)?\\(").r
    def clashes(sql: String): Seq[String] = {
      val scope = new Array[Int](sql.length)
      var open = List(-1)
      var quoted = false
      sql.indices.foreach { i =>
        sql(i) match {
          case '\'' => quoted = !quoted
          case '(' if !quoted => open = i :: open
          case ')' if !quoted => open = open.tail
          case _ =>
        }
        scope(i) = open.head
      }
      cte.findAllMatchIn(sql)
        .map(m => (scope(m.start(1)), m.group(1).toLowerCase)).toSeq
        .groupBy(identity).collect { case ((_, n), v) if v.size > 1 => n }
        .toSeq
    }
    assert(clashes("WITH a AS (SELECT 1), b AS (WITH a AS (SELECT 2) " +
      "SELECT * FROM a), a AS (SELECT 3) SELECT * FROM b") == Seq("a"))
    val bad = Registry.oracleSql.toSeq.flatMap { case (name, sql) =>
      clashes(sql).map(n => s"$name: $n")
    }
    assert(Registry.oracleSql.size == 325)
    assert(bad.isEmpty, bad)
  }

  test("every oracle tokenizes through TextAnalysis.tokensSql") {
    // A hand-copied tokenizer drifts from the Spark one it replays (an
    // unfiltered split keeps a '' token on empty or tab-led text). The
    // one other split is l09's logit feature (l09, and a34 ranking it):
    // the unfiltered count its model was fit on.
    import graft.llm.TextAnalysis.tokensSql
    val split = "(?:string_split_regex|regexp_split_to_array)\\(".r
    val prefix = "list_filter(string_split_regex(trim("
    def strays(sql: String): Seq[String] = {
      val rest = sql.replace(RegistryWide.qualityLogitSql, "")
      // index of the ')' closing the '(' at `open`, quotes skipped
      def close(open: Int): Int = {
        var depth = 0; var quoted = false; var i = open
        while (i < rest.length && !(depth == 1 && !quoted &&
            rest(i) == ')')) {
          rest(i) match {
            case '\'' => quoted = !quoted
            case '(' if !quoted => depth += 1
            case ')' if !quoted => depth -= 1
            case _ =>
          }
          i += 1
        }
        i
      }
      split.findAllMatchIn(rest).map(_.start).filterNot { i =>
        val start = i - "list_filter(".length
        start >= 0 && rest.startsWith(prefix, start) && {
          val open = start + prefix.length - 1
          val arg = rest.substring(open + 1, close(open))
          rest.startsWith(tokensSql(arg), start)
        }
      }.map(i => rest.slice(i - 12, i + 40)).toSeq
    }
    // positive control: the builder's output passes, hand copies do not
    assert(strays(s"SELECT ${tokensSql("lower(coalesce(text, ''))")}, " +
      s"len(${tokensSql("text")})").isEmpty)
    assert(strays("SELECT string_split_regex(trim(text), '\\s+')").size == 1)
    assert(strays("SELECT list_filter(regexp_split_to_array(trim(text), " +
      "'\\s+'), x -> length(x) > 0)").size == 1)
    assert(strays("SELECT list_filter(string_split_regex(trim(text), " +
      "'\\s+'), w -> w <> '')").size == 1)
    val bad = Registry.oracleSql.toSeq.flatMap { case (name, sql) =>
      strays(sql).map(x => s"$name: $x")
    }
    assert(bad.isEmpty, bad)
  }

  test("every synthetic pixel sum is Multimodal.grayPixelSumSql") {
    // The gradient raster has one Scala writer and one SQL replay; a
    // hand-spelled pixel-sum subquery drifts from the writer it replays.
    import graft.llm.Multimodal.grayPixelSumSql
    val sum = "(?s)% 256\\)\\s*AS BIGINT\\)\\s*FROM range\\(".r
    // the builder's layout, stopping at the first "% 256" after "(SELECT"
    val form = ("\\(SELECT CAST\\(sum\\(\\(([^)]*?)\\*31 \\+ ([^)]*?) \\+ " +
      "((?:(?!% 256).)*?)\\) % 256\\) AS BIGINT\\) FROM range\\((\\d+)\\) " +
      "t\\(i\\)\\)").r
    def strays(sql: String): Seq[String] =
      sum.findAllMatchIn(sql).map(_.start).filterNot { i =>
        val open = sql.lastIndexOf("(SELECT", i)
        open >= 0 && form.findPrefixMatchOf(sql.substring(open)).exists {
          m => sql.startsWith(grayPixelSumSql(m.group(1), m.group(2),
            m.group(4).toInt, m.group(3)), open)
        }
      }.map(i => sql.slice(i - 60, i + 20)).toSeq
    // positive control: the builder's output passes, hand copies do not
    assert(strays(s"SELECT ${grayPixelSumSql("doc_id")}, " +
      grayPixelSumSql("d.doc_id", "f.frame_idx*7", 16,
        "16*(i//4) + 2*(i%4)")).isEmpty)
    assert(strays("""SELECT (SELECT CAST(sum((doc_id*31 + i) % 256)
                    |  AS BIGINT) FROM range(64) t(i))""".stripMargin)
      .size == 1)
    assert(strays("SELECT (SELECT CAST(sum((d.doc_id*31 + f.frame_idx*7 " +
      "+ i) % 256) AS BIGINT)\n   FROM range(64) t(i))").size == 1)
    assert(strays("SELECT (SELECT CAST(sum((x*31 + 0 + i) % 256) AS BIGINT) " +
      "FROM range(64) t(j))").size == 1)
    val bad = Registry.oracleSql.toSeq.flatMap { case (name, sql) =>
      strays(sql).map(x => s"$name: $x")
    }
    assert(bad.isEmpty, bad)
  }

  test("rows-only ratchet: at most 12 entries lack an oracle") {
    val rowsOnly = Registry.all.filter(_.oracle.isEmpty).map(_.name)
    assert(rowsOnly.size <= 12,
      s"${rowsOnly.size} rows-only entries (the set never grows): $rowsOnly")
  }

  test("d14_canonical_docs: one canonical per cluster, none beats it") {
    import graft.llm.{Dedup, TextAnalysis}
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") < 500)
    val canon = SparkEntry.queries("d14_canonical_docs")(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    val cc = Dedup.connectedComponents(
        docs.select(col("doc_id").as("id")),
        Dedup.exactNgramNearDups(docs, "text", "doc_id", 3, 0.5))
      .join(docs.select(col("doc_id").as("id"),
        TextAnalysis.qualityScore(col("text")).as("q")), "id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // every rep got exactly one canonical, the canonical is a member of
    // its own cluster, and no member has strictly higher quality
    assert(canon.keySet == cc.map(_._2).toSet)
    cc.groupBy(_._2).foreach { case (rep, members) =>
      val (cId, cQ) = canon(rep)
      assert(members.exists(_._1 == cId), s"canonical $cId not in $rep")
      assert(members.forall(_._3 <= cQ), s"better member than $cId in $rep")
    }
  }

  test("j14_fuzzy_match: every probe resolves once, ties break by name") {
    val rows = SparkEntry.queries("j14_fuzzy_match")(spark, sf).collect()
    assert(rows.map(_.getString(0)).distinct.length == rows.length)
    val byProbe = rows.map(r =>
      r.getString(0) -> (r.getString(1), r.getLong(2))).toMap
    // exact hit wins at distance 0
    assert(byProbe("NATION_3") == (("NATION_3", 0L)))
    // NATION_99 is distance 1 from both NATION_19 (substitution) and
    // NATION_9 (deletion): the tie must break lexicographically.
    assert(byProbe("NATION_99")._1 == "NATION_19")
    assert(byProbe("NATION_99")._2 == 1L)
  }

  test("float-heavy round-5 queries are bit-stable across shuffle widths") {
    // The property the oracle gate implies but never re-checks: the SAME
    // bits under a different partitioning. Any order-dependent double
    // accumulation (a plain sum(double), a fold whose order follows task
    // order) fails this immediately at width 7 vs the session default.
    val names = Seq("w18_ewma", "j17_star_rollup", "a28_chi_square",
      "l09_quality_logit", "w17_rolling_median", "a33_incremental_agg")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      val base = names.map(n =>
        n -> SparkEntry.queries(n)(spark, sf).collect().map(_.toString).toSeq)
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      names.zip(base).foreach { case (n, (_, rows)) =>
        val again = SparkEntry.queries(n)(spark, sf)
          .collect().map(_.toString).toSeq
        assert(again == rows, s"$n drifted under shuffle width 7")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
