package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.llm.CorpusPipeline

/** Pins the SHUFFLE SHAPE of the corpus operators — the property that
  * actually decides whether they survive a 100 TB run. Counting Exchange
  * nodes in the physical plan is deliberate: a regression that slips in
  * an extra shuffle (or loses a broadcast) changes the plan string even
  * when 500-row results stay correct.
  */
class PlanShapeSpec extends SparkSpec {
  import spark.implicits._

  /** Partition counts are size-adaptive (Ids.adaptiveParts): a toy
    * frame legitimately coalesces to one partition. Tests pinning the
    * AT-SCALE multi-partition shape run under a 1-byte advisory
    * partition size so the machinery plans as it would on real data.
    */
  private def withTinyAdvisory[T](body: => T): T = {
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "1b")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
  private lazy val docs = (0L until 100L).map(i =>
    (i, words(10 + (i % 5).toInt), s"src${i % 3}"))
    .toDF("doc_id", "text", "source")

  private def exchanges(df: DataFrame): Int =
    "(?i)exchange".r.findAllIn(
      df.queryExecution.executedPlan.toString).size

  test("mixSources is a pure filter: zero shuffles") {
    assert(exchanges(CorpusPipeline.mixSources(docs,
      Map("src1" -> 0.5))) == 0)
  }

  test("shuffleOrder plans a RANGE partitioning, not a single sort task") {
    val plan = CorpusPipeline.shuffleOrder(docs)
      .queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning") ||
      plan.toLowerCase.contains("range"), plan.take(400))
  }

  test("sampleToTokenBudget: grouped running sum — range exchange, " +
    "no one-task-per-source window") {
    // The prefix sum must NOT be Window.partitionBy(source): a dominant
    // source would sort its whole slice in one task. The grouped
    // runningTotal range-partitions by (source, hash, id) and every
    // window group is (physical partition, source).
    val out = withTinyAdvisory(CorpusPipeline.sampleToTokenBudget(docs, 60L))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("rangepartitioning"), plan.take(600))
    import org.apache.spark.sql.catalyst.plans.logical.Window
    out.queryExecution.optimizedPlan.foreach {
      case w: Window =>
        val ps = w.partitionSpec.map(_.toString).mkString(",")
        assert(ps.contains("__part"),
          s"l07 window regressed to partitionBy(source) alone: $ps")
      case _ => ()
    }
    out.collect()
    spark.catalog.clearCache()
  }

  test("packSequences: one shuffle (the block groupBy)") {
    // partial aggregation makes collect_list's shuffle a single Exchange;
    // the fold itself is per-task
    assert(exchanges(CorpusPipeline.packSequences(docs, 30)) == 1)
  }

  test("decontaminate probes eval grams via BROADCAST, anti-joins back") {
    val evalDocs = docs.filter(col("doc_id") < 10)
    val train = docs.filter(col("doc_id") >= 10)
    val plan = CorpusPipeline.decontaminate(train, evalDocs)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(400))
    assert(plan.contains("LeftAnti"), plan.take(400))
    // the training side is never globally sorted or range-shuffled —
    // only the eval-distinct and the anti-join keys move
    assert(!plan.toLowerCase.contains("rangepartitioning"))
  }

  test("hash split is a pure projection: zero shuffles, no join") {
    val split = docs.select(col("doc_id"),
      substring(md5(col("doc_id").cast("string")), 1, 2).as("h"))
    assert(exchanges(split) == 0)
    assert(!split.queryExecution.executedPlan.toString.contains("Join"))
  }

  test("snapshotDiff shuffles digests, not payloads") {
    val prev = docs.filter(col("doc_id") % 2 === 0)
    val plan = graft.etl.Merge.snapshotDiff(prev, docs, Seq("doc_id"),
      Seq("text", "source")).queryExecution.executedPlan.toString
    // the md5 projection must sit BELOW the join exchange: text/source
    // appear in scans and projections but never in a shuffle attribute
    // set; the join carries (doc_id, __fp_*) only
    assert(plan.contains("FullOuter"), plan.take(600))
    val joinLine = plan.linesIterator
      .find(_.contains("SortMergeJoin")).getOrElse("")
    assert(!joinLine.contains("text"), joinLine)
  }

  test("semanticDedup pairs only within cells: no cartesian, one-row nested-loop builds") {
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    object H extends AdaptiveSparkPlanHelper
    val emb = (0L until 50L).map(i =>
      (i, Array.tabulate(8)(j => (i * 8 + j).toFloat))).toDF("vec_id", "embedding")
    val out = graft.llm.Similarity.semanticDedupPortable(emb, "vec_id",
      "embedding", nCells = 4)
    assert(out.collect().length == 50)
    val plan = out.queryExecution.executedPlan
    assert(!plan.toString.contains("CartesianProduct"), plan.toString.take(600))
    // the only nested loop scores each vector against the index, which
    // broadcasts as ONE array row: no pair is ever formed by a loop
    val builds = H.collect(plan) { case j: BroadcastNestedLoopJoinExec =>
      H.collect(if (j.buildSide == BuildRight) j.right else j.left) {
        case b: BroadcastExchangeExec => b.metrics("numOutputRows").value }
    }.flatten
    assert(builds.nonEmpty && builds.forall(_ == 1L), s"$builds\n$plan")
  }

  test("composite predicates and projections reach the parquet scan") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val q = orders
      .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH") &&
        col("o_totalprice") > 1000.0 &&
        col("o_orderstatus").startsWith("F"))
      .select("o_orderkey", "o_totalprice")
    // formatted mode prints the full PushedFilters list (the plain plan
    // string truncates it)
    val plan = q.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PushedFilters"), plan.take(800))
    val pushed = plan.linesIterator
      .find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("In(o_orderpriority") &&
      pushed.contains("GreaterThan(o_totalprice") &&
      pushed.contains("StringStartsWith(o_orderstatus"), pushed)
    // column pruning: the scan reads only the 4 referenced columns
    val readSchema = plan.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("o_custkey") &&
      !readSchema.contains("o_orderdate"), readSchema)
  }

  test("s15: the filter reaches the ORC scan (pushdown parity with parquet)") {
    // ORC is the one columnar container whose pushdown path is separate
    // code in Spark (OrcFilters, not ParquetFilters) — pin it too.
    val tmp = Registry.scratchDir("orc_planshape")
    docs.select(col("doc_id"), col("source"),
        length(col("text")).as("n_chars"))
      .write.mode("overwrite").orc(tmp)
    val q = spark.read.orc(tmp)
      .filter(col("n_chars") > 12 && col("source") === "src1")
      .select("doc_id", "n_chars")
    val plan = q.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val pushed = plan.linesIterator
      .find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("GreaterThan(n_chars") &&
      pushed.contains("EqualTo(source"), plan.take(1200))
    val readSchema = plan.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("text"), readSchema)
  }

  test("AQE splits a skewed join partition at runtime (the skew valve j08 complements)") {
    // j08's salting handles skew we PREDICT; AQE's skew-join handles skew
    // we didn't. Pin that the valve actually opens: under a sort-merge
    // join whose left side is 50%-one-key skewed, the FINAL adaptive plan
    // must mark the join skew=true (the skewed partition was split into
    // advisory-sized sub-reads instead of one straggler task eating it).
    val s2 = spark.newSession()
    val sqlc = s2.conf
    sqlc.set("spark.sql.adaptive.enabled", "true")
    sqlc.set("spark.sql.adaptive.skewJoin.enabled", "true")
    sqlc.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "16384")
    sqlc.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8192")
    sqlc.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
    sqlc.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    import s2.implicits._
    val left = (0 until 60000).map { i =>
      (if (i % 2 == 0) 0L else (i % 97).toLong, s"payload-$i-${"x" * 24}")
    }.toDF("k", "v")
    val right = (0L until 97L).map(k => (k, s"dim$k")).toDF("k", "name")
    val joined = left.join(right, "k")
    // materialize THIS plan (count() would execute a different one and
    // leave joined's adaptive plan unfinalized)
    val cnt = joined.collect().length
    // correctness unchanged by the split: every left row matches exactly once
    assert(cnt == 60000, s"skew split must not change the join result: $cnt")
    val finalPlan = joined.queryExecution.executedPlan.toString
    assert(finalPlan.contains("skew=true"),
      "final adaptive plan must mark the skewed SMJ partition as split:\n" +
        finalPlan.take(1200))
  }

  test("ivfPqTopK: corpus index carries codes, never raw floats, into the probe join") {
    val emb = (0L until 50L).map(i =>
      (i, Array.tabulate(8)(j => (i * 8 + j).toFloat))).toDF("vec_id", "embedding")
    val q = emb.filter(col("vec_id") < 3)
    val plan = graft.llm.Similarity.ivfPqTopK(emb, q, "vec_id", "embedding",
      2, nCells = 4, nProbe = 2, m = 4, ksub = 4)
      .queryExecution.executedPlan.toString
    // the cell equi-join must be a hash join (bucketed probe, no loop)
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("SortMergeJoin"), plan.take(600))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(600))
  }

  test("bm25: corpus never shuffles — stats come back via broadcast") {
    val plan = graft.llm.Ranking.bm25(docs, "text", "doc_id",
      Seq("w1", "w2"))
    val s = plan.queryExecution.executedPlan.toString
    // the only join is the one-row stats broadcast; the doc side carries
    // no Exchange (tf/dl are computed in the scan projection)
    assert(s.contains("BroadcastNestedLoopJoin") ||
      s.contains("BroadcastHashJoin"), s.take(600))
    // exactly the exchanges of the one-row aggregate + its broadcast —
    // never a repartition of the corpus itself
    assert(!s.toLowerCase.contains("rangepartitioning"), s.take(600))
    assert(!s.contains("hashpartitioning(id"), s.take(600))
  }

  test("dedupTokens is a pure projection: zero shuffles") {
    assert(exchanges(docs.select(
      graft.llm.TextAnalysis.dedupTokens(col("text")))) == 0)
  }

  test("segmentDedup: per-occurrence text never shuffles (no candidate join)") {
    val plan = graft.llm.Dedup.segmentDedup(docs, "text", "doc_id")
      .queryExecution.executedPlan.toString
    // winner selection is ONE map-side-combined aggregate on the md5
    // digest; never range-shuffle, never nested-loop, and no exchange
    // hash-partitions on a raw segment column
    assert(!plan.toLowerCase.contains("rangepartitioning"), plan.take(600))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(600))
    assert(!plan.contains("hashpartitioning(seg"), plan.take(600))
    // the old shape joined every (seg-string) occurrence row against the
    // winner set — one extra join and a full-text shuffle. The only join
    // left is the output-sized reassembly join back to the id universe.
    val joins = "Join".r.findAllIn(plan).size
    assert(joins <= 2, s"expected only the reassembly join, got $joins:\n" +
      plan.take(800))
  }

  test("a31 table stats: no multi-distinct Expand (per-column hash aggregates)") {
    val plan = SparkEntry.queries("a31_table_stats")(spark, sf)
      .queryExecution.executedPlan.toString
    // the old shape rewrote 4 count_distincts into a 5x Expand whose
    // non-distinct aggs became first() FILTER — forcing a full sort of
    // five times the table; the per-column union must never regress to it
    assert(!plan.contains("Expand"), plan.take(800))
    assert(plan.contains("HashAggregate"), plan.take(800))
    // the single string column (min/max over UTF8) may SortAggregate —
    // one narrow column with map-side combine, up to 4 phase nodes in
    // its one branch — but the other three branches must stay hash
    assert("SortAggregate".r.findAllIn(plan).size <= 4, plan.take(800))
  }

  test("t16 zipf: vocabulary top-100 is a distributed TakeOrdered, not a global sort") {
    val plan = SparkEntry.queries("t16_zipf_fit")(spark, sf)
      .queryExecution.executedPlan.toString
    // the full word-frequency table must flow through per-partition
    // top-k (TakeOrderedAndProject), never a total-order range shuffle
    // or a whole-vocabulary single-partition sort; the rank window then
    // touches only the 100 survivors (the o01 pattern)
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
    assert(!plan.toLowerCase.contains("rangepartitioning"), plan.take(800))
  }

  test("w04 ntile: exact global quartiles with every heavy step distributed") {
    val df = withTinyAdvisory(SparkEntry.queries("w04_ntile")(spark, sf))
    val plan = df.queryExecution.executedPlan.toString
    // the global rank comes from the denseIds range partitioning; every
    // Window in the plan is partitioned (no single-partition window over
    // the data), and the row count joins back via broadcast
    assert(plan.toLowerCase.contains("rangepartitioning"), plan.take(800))
    val windows = plan.linesIterator.filter(_.contains("windowspecdefinition"))
    assert(windows.nonEmpty && windows.forall(_.contains("__part")),
      "every window must be partitioned by __part:\n" + plan.take(800))
    // the only SinglePartition exchange feeds the one-row global count,
    // never the data path
    val singles = "SinglePartition".r.findAllIn(plan).size
    assert(singles <= 1, s"unexpected single-partition exchanges ($singles):\n" +
      plan.take(800))
  }

  test("pagerank is one lazy plan: edges shuffle once, ranks per round") {
    val edges = (0L until 50L).map(i => (i, (i * 7) % 50))
      .toDF("src", "dst")
    val ranked = graft.graph.PageRank.ranksInt(edges, iters = 3)
    val plan = ranked.queryExecution.executedPlan.toString
    // the src-hash partitioning of the edge relation appears ONCE
    // (persisted InMemoryRelation) however many rounds run
    assert("hashpartitioning\\(src".r.findAllIn(plan).size >= 1, plan.take(600))
    assert(plan.contains("InMemoryTableScan"), plan.take(600))
    ranked.collect() // sanity: the 3-round DAG actually executes
  }

  test("bigramLmScores: stats join back by token pair, no cartesian") {
    val plan = graft.llm.TextAnalysis.bigramLmScores(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(600))
    // the only nested-loop is the one-row vocab broadcast
    val nested = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(nested <= 1, plan.take(600))
  }

  test("m09 image dedup decodes each image exactly ONCE " +
      "(exchange reuse across the pair self-join)") {
    // At an image-corpus scale decode IS the query cost. The pair
    // emission is a sort-merge self-join on the digest (distributed —
    // a degenerate digest group streams through a spillable buffer,
    // never one collect_list row), and the merge hint forces identical
    // hash-partition exchanges on both sides so ReusedExchange replays
    // the decode stage's shuffle files for the probe side: exactly ONE
    // MapPartitions pass for the synthetic-PNG encode and one for the
    // ImageIO decode in the FINAL adaptive plan. An un-hinted broadcast
    // join would re-run the decode for its build side (2x cost class).
    val df = SparkEntry.queries("m09_image_dups")(spark, sf)
    df.collect() // finalize AQE stages — reuse shows in the final plan
    val fin = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val mp = "MapPartitions".r.findAllIn(fin).size
    assert(mp == 2, s"expected encode+decode = 2 MapPartitions, got $mp:\n" +
      fin.take(800))
    assert(fin.contains("SortMergeJoin"), fin.take(800))
    assert(fin.contains("ReusedExchange"),
      "probe side re-ran the decode instead of reusing the exchange:\n" +
        fin.take(800))
  }

  test("no registry plan collect_lists over a content-hash key " +
      "(the degenerate-group OOM shape)") {
    // pairsWithinGroups' old form grouped by a content hash and pulled
    // every same-hash id into ONE aggregate row — at 100 TB a single
    // degenerate perceptual hash (solid-color thumbnails) is a
    // single-task OOM. The legitimate collect_list sites group by a
    // per-document / per-session / per-block key whose group size is
    // bounded by construction. This lint walks EVERY registry plan and
    // fails any aggregate that collects a list while grouping by a
    // hash-like key column.
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.catalyst.expressions.aggregate.CollectList
    val hashLike =
      "(?i)(dhash|content_key|digest|simhash|minhash|md5|sha\\d*|xxh)".r
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val plan = fn(spark, sf).queryExecution.optimizedPlan
      plan.foreach {
        case a: Aggregate =>
          val collects = a.aggregateExpressions.exists(_.exists {
            case _: CollectList => true
            case _ => false
          })
          val hashKey = a.groupingExpressions.exists(_.references.exists(
            r => hashLike.findFirstIn(r.name).isDefined))
          if (collects && hashKey)
            offenders += s"$name: ${a.simpleString(80)}"
        case _ => ()
      }
      CacheScope.harness.release()
      spark.catalog.clearCache() // operators persist plan-lifetime caches
    }
    assert(offenders.isEmpty,
      "collect_list over a content-hash grouping key:\n" +
        offenders.mkString("\n"))
  }

  test("d29 DSIR: zero-shuffle gram build; fit broadcasts back onto the counts") {
    // The fit frame is <=1024 rows; if it ever came back as a shuffle
    // join the corpus would reshuffle on bucket id. Pin: the lldiff and
    // totals frames join via BROADCAST, no cartesian anywhere, and NO
    // window before the bucket groupBy (the old posexplode+lead form
    // paid an extra hash-exchange + sort carrying every token
    // occurrence — the gram build is array ops now).
    val df = SparkEntry.queries("d29_dsir_select")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
    assert(!plan.contains("CartesianProduct"), plan.take(800))
    assert(!plan.contains("SortMergeJoin"),
      "fit frame came back as a shuffle join:\n" + plan.take(800))
    assert(!plan.contains("WindowExec") && !plan.contains("Window "),
      "gram build regressed to a window:\n" + plan.take(800))
  }

  test("t27 NB filter: fit/prior broadcast back — corpus never re-shuffles on bucket id") {
    // Same contract as d29: the <=512-row fit frame, totals, and prior
    // all come back via BROADCAST; a shuffle join here would reshuffle
    // the per-doc bucket counts on bucket id.
    val plan = SparkEntry.queries("t27_nb_quality_filter")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
    assert(!plan.contains("CartesianProduct"), plan.take(800))
    assert(!plan.contains("SortMergeJoin"),
      "fit frame came back as a shuffle join:\n" + plan.take(800))
  }

  test("w27 funnel: every stage keys on user_id — bounded exchanges, no cartesian") {
    val df = SparkEntry.queries("w27_funnel_conversion")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(600))
    // regression bound from the measured plan: 3 stage aggregations,
    // their joins (the final one re-keys on (user_id, c_ts)), the
    // broadcast exchanges and the output sort — the count is the
    // fan-out ceiling, not a claim of minimality
    assert(exchanges(df) <= 12, plan.take(1500))
  }

  test("l16 corpus-build report: eval grams broadcast, no cartesian anywhere") {
    val df = SparkEntry.queries("l16_corpus_build_report")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(800))
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"), plan.take(800))
  }

  test("j36 entity resolution: canonical dim broadcasts, candidates block-joined") {
    // The canonical side is a broadcast dim and every candidate pair
    // exists only inside the first-char block equi-join — a cartesian
    // (or a shuffle of the dirty side against 64 names) would mean the
    // blocking key fell out of the plan.
    val plan = SparkEntry.queries("j36_entity_resolution")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
  }

  test("l13 temperature sampling: rates broadcast, corpus never shuffles") {
    // Selection is a per-row hash gate against a 5-row rate dim: the
    // documents scan must reach the filter through broadcasts only.
    val df = SparkEntry.queries("l13_temperature_sample")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("CartesianProduct"), plan.take(800))
  }

  test("d31 ExactSubstr: digest-only election, per-doc island window, " +
      "no cartesian") {
    // The window TEXT must never shuffle: the election groupBy and the
    // loser join carry md5 digests + two longs; the interval-union
    // window partitions by doc id (never global); the rebuild is an
    // equi-join on id. A cartesian or a partition-less window here
    // would be the 100 TB killer.
    val df = SparkEntry.queries("d31_exact_substr")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(800))
    assert(!plan.contains("BroadcastNestedLoop"), plan.take(800))
    // winner election is partial-aggregated (map-side min/count per
    // digest) so a hot window content pre-combines before the exchange
    assert(plan.contains("partial_min") && plan.contains("partial_count"),
      plan.take(1200))
    // every Window in the plan is partitioned (the island pass keys on id)
    val windows = "Window .*".r.findAllIn(plan).toSeq
    assert(windows.nonEmpty)
    assert(windows.forall(w => w.contains("id#")),
      windows.mkString("\n").take(600))
  }

  test("whole surface: Expand only in grouping/unpivot/sliding shapes; " +
      "cross joins only against one-row sides") {
    // Machine-checks the two anti-pattern sweeps the round-11 audit did
    // by hand: (1) Expand multiplies its input — it belongs ONLY to the
    // shapes that are defined by it (rollup/cube/grouping-sets/unpivot/
    // sliding windows); a multi-distinct rewrite sneaking an Expand into
    // an ordinary aggregate fails here (the a31 trap, now whole-surface).
    // (2) A condition-less Join is a cartesian — legal ONLY when one
    // side provably collapses to one-row-ish (a grouping-less aggregate,
    // OneRowRelation, or a product of such — the scalar-broadcast
    // pattern), or when the author DECLARED a bounded side with an
    // explicit broadcast() hint (codebooks, fit frames, bounded query
    // sets — the n13/d24/l15 audit shapes). An accidental un-hinted
    // crossJoin against unbounded data fails here.
    import org.apache.spark.sql.catalyst.plans.logical._
    val expandBlessed = Set("a17_rollup", "a18_cube", "a23_grouping_sets",
      "p05_unpivot", "w06_sliding_window", "x32_sql_unpivot")
    def oneRowish(p: LogicalPlan): Boolean = p match {
      case a: Aggregate if a.groupingExpressions.isEmpty => true
      case _: OneRowRelation => true
      case j: Join => oneRowish(j.left) && oneRowish(j.right)
      case _: LeafNode => false
      case other if other.children.nonEmpty => other.children.forall(oneRowish)
      case _ => false
    }
    def hintedBroadcast(j: Join): Boolean =
      j.hint.leftHint.exists(_.strategy.contains(BROADCAST)) ||
        j.hint.rightHint.exists(_.strategy.contains(BROADCAST))
    val badExpand = scala.collection.mutable.ArrayBuffer.empty[String]
    val badCross = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val plan = fn(spark, sf).queryExecution.optimizedPlan
      plan.foreach {
        case _: Expand if !expandBlessed(name) => badExpand += name
        case j: Join if j.condition.isEmpty &&
            !(oneRowish(j.left) || oneRowish(j.right) ||
              hintedBroadcast(j)) =>
          badCross += s"$name: ${j.simpleString(80)}"
        case _ => ()
      }
      CacheScope.harness.release()
      spark.catalog.clearCache() // operators persist plan-lifetime caches
    }
    assert(badExpand.isEmpty,
      "Expand outside the blessed shapes:\n" + badExpand.distinct.mkString("\n"))
    assert(badCross.isEmpty,
      "cartesian without a one-row side:\n" + badCross.mkString("\n"))
  }

  test("every partition-less Window in the registry sits above a bounded " +
      "input; no rank window partitions on a connected-components rep key") {
    // The blessed pattern for a global rank is limit-then-window (o01 /
    // t16 / the nCells and ksub centroid indexers): the single-task
    // WindowExec is harmless because its input is at most k rows. This
    // walks EVERY registry plan and proves the invariant stays true — a
    // future edit that grows a partition-less Window over unbounded data
    // fails here instead of shipping a single-node sort.
    //
    // The same walk also lints the CLUSTER-SKEW shape one level up: a
    // rank window (row_number/rank/dense_rank) partitioned by a
    // connected-components rep key sorts a degenerate perceptual
    // cluster's whole member list in ONE task to pick a single winner —
    // canonical election must ride Dedup.electCanonical's argmax
    // aggregate (map-side-combinable, O(1) state per rep) instead.
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.catalyst.expressions.{DenseRank, Rank, RowNumber}
    def bounded(p: LogicalPlan): Boolean = p match {
      case _: GlobalLimit | _: LocalLimit => true
      // a global (no grouping keys) aggregate is one row
      case a: Aggregate if a.groupingExpressions.isEmpty => true
      case j: Join => bounded(j.left) && bounded(j.right)
      case _: LeafNode => false
      case other if other.children.nonEmpty => other.children.forall(bounded)
      case _ => false
    }
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    val repRankers = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val plan = fn(spark, sf).queryExecution.optimizedPlan
      plan.foreach {
        case w: Window if w.partitionSpec.isEmpty && !bounded(w.child) =>
          offenders += s"$name: ${w.simpleString(80)}"
        case w: Window if w.partitionSpec.exists(_.references.exists(
              _.name == "rep")) &&
            w.windowExpressions.exists(_.exists {
              case _: RowNumber | _: Rank | _: DenseRank => true
              case _ => false
            }) =>
          repRankers += s"$name: ${w.simpleString(80)}"
        case _ => ()
      }
      CacheScope.harness.release()
      spark.catalog.clearCache() // operators persist plan-lifetime caches
    }
    assert(offenders.isEmpty,
      "unbounded partition-less Window(s):\n" + offenders.mkString("\n"))
    assert(repRankers.isEmpty,
      "rank window over a connected-components rep key (use " +
        "Dedup.electCanonical):\n" + repRankers.mkString("\n"))
  }

  test("low-cardinality dim windows (source/lang/league) ride the " +
      "grouped runningTotal or a bounded input") {
    // The l07/l20 class: a Window partitioned ONLY by a corpus dim of
    // cardinality ~10 sorts each dim's whole slice in one task — at
    // 100 TB where one source dominates, that is THE bottleneck. The
    // earlier partition-less audit can't see it (the window IS
    // partitioned); this sweep requires every such window to sit above
    // a per-group-bounded input: a limit, a per-dim aggregate (≤ |dims|
    // rows), or a WindowGroupLimit (≤ k rows per key). Unbounded per-dim
    // prefix sums must ride Ids.runningTotalByKey, whose window
    // partitions by (__part, dim) — not the dim alone.
    import org.apache.spark.sql.catalyst.plans.logical._
    val lowCard = Set("source", "lang", "league")
    def boundedPerGroup(p: LogicalPlan): Boolean = p match {
      case _: GlobalLimit | _: LocalLimit => true
      case a: Aggregate if a.groupingExpressions.isEmpty => true
      // an aggregate grouped only by low-card dims is ≤ |dims| rows
      case a: Aggregate if a.groupingExpressions.forall(e =>
        e.references.nonEmpty &&
          e.references.forall(r => lowCard(r.name))) => true
      // `row_number() <= k`'s per-key limit: ≤ k rows per window group
      case _: WindowGroupLimit => true
      case j: Join => boundedPerGroup(j.left) && boundedPerGroup(j.right)
      case _: LeafNode => false
      case other if other.children.nonEmpty =>
        other.children.forall(boundedPerGroup)
      case _ => false
    }
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val plan = fn(spark, sf).queryExecution.optimizedPlan
      plan.foreach {
        case w: Window if w.partitionSpec.nonEmpty &&
            w.partitionSpec.forall(e => e.references.nonEmpty &&
              e.references.forall(r => lowCard(r.name))) &&
            !boundedPerGroup(w.child) =>
          offenders += s"$name: ${w.simpleString(80)}"
        case _ => ()
      }
      CacheScope.harness.release()
      spark.catalog.clearCache() // operators persist plan-lifetime caches
    }
    assert(offenders.isEmpty,
      "one-task-per-dim Window(s) over unbounded input:\n" +
        offenders.mkString("\n"))
  }
}
