package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Seeded multi-source BFS — shortest HOP distances from a trusted seed
  * set, the reachability-with-distance operator the other graph ops
  * (CC / PageRank / LPA) don't give. This is the graph analog of d10's
  * decontamination for curation policies like "keep documents within k
  * citation/link hops of a vetted seed set" (reference semantics:
  * distance-bounded trust propagation over the link graph).
  *
  * Algorithm: k synchronous rounds of unit-weight Bellman-Ford
  * relaxation — dist_i(v) = min(dist_{i-1}(v), 1 + min over incoming
  * edges of dist_{i-1}(u)) — which after k rounds equals the exact BFS
  * distance for every node within k hops. All arithmetic is small
  * INTEGERS (hop counts with an unreached sentinel maxHops+1, no NULL
  * three-valued-logic anywhere), so the result is bit-identical on any
  * engine and any partitioning and a DuckDB CTE unroll replays it
  * exactly ([[oracleSql]]).
  *
  * Scale design (100 TB), same contract as [[PageRank.ranksInt]]: the
  * edge relation is the big side — hash-partitioned by `src` ONCE and
  * persisted; each round shuffles only the |nodes|-row distance table
  * into it, and only the REACHED subset of it sends messages (the
  * `dist < sentinel` filter prunes senders, shrinking round-1 traffic
  * to the frontier scale a seeded query actually touches). Incoming
  * candidates aggregate by `dst` with map-side-combined `min`. The k
  * rounds need no convergence count() (k bounds the horizon by
  * construction; a "within k hops" policy wants exactly that bound, not
  * a full-graph fixpoint).
  *
  * Lineage: every round reads the previous distances twice, so an
  * uncut plan is a tree of 2^k round copies — Catalyst's planning time
  * and the rounds' lineage grow as 2^k even though exchange reuse runs
  * each shuffle once (k = 8 planned 3,831 nodes and ran ~20 s on the
  * sf0.001 transition graph). Every 2 rounds, when more rounds follow,
  * the distance table is `localCheckpoint`ed: one eager job stores its
  * |nodes| rows in the executors' block managers (memory, spilling to
  * disk) and the next rounds plan over that leaf, so the plan holds at
  * most 2 rounds for any k. Lifetime of those blocks: the last cut's
  * live as long as the returned DataFrame (or anything derived from
  * it) is reachable on the driver; an earlier cut's become unreachable
  * once the next cut replaces it. Spark's ContextCleaner removes
  * unreachable ones after a driver GC, and `SparkContext.stop` removes
  * them all. They are not replicated: a lost executor fails the query
  * instead of recomputing it. For k <= 2 nothing is checkpointed and
  * the query stays one lazy plan with no driver action.
  */
object Bfs {

  /** Rounds between lineage cuts: of 2, 3 and 4, the fastest at k = 4,
    * 8 and 12 (build + run, sf0.001 transition graph, 4 cores).
    */
  private val CutEvery = 2

  /** @param edges   DataFrame with long columns `src`, `dst` (directed;
    *                run over the symmetrized union for undirected hops)
    * @param seeds   seed predicate over `id` — distance-0 nodes
    * @param maxHops horizon k; nodes further than k report -1
    * @return DataFrame (id: long, dist: long) — -1 = unreached within k
    */
  def distances(edges: DataFrame, seeds: Column, maxHops: Int): DataFrame = {
    require(maxHops >= 1, s"bfs: maxHops must be >= 1, got $maxHops")
    val big = maxHops + 1L // unreached sentinel; never overflows
    val eSel = edges.select(col("src").cast("long"), col("dst").cast("long"))
    // Every round reads dist_{i-1} twice and relies on exchange reuse;
    // a nondeterministic seed set (rand()) defeats that reuse, so each
    // consumer re-derives its input — 2^k recomputes for k hops, each
    // with its own seeds. Checked on the analyzed expression: no job.
    require(eSel.select(col("src").as("id")).select(seeds)
        .queryExecution.analyzed.expressions.forall(_.deterministic),
      s"bfs: the seeds predicate must be deterministic, got $seeds")
    // partition count derived from the edge relation's size estimate
    // (Ids.adaptiveParts): an explicit repartition(col) is AQE-exempt,
    // so a fixed count pins shuffle.partitions tasks onto every round's
    // passes even when the graph is small; result is partition-
    // independent (pure min/least relaxation)
    val e = eSel.repartition(graft.etl.Ids.adaptiveParts(eSel), col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id")))
      .distinct()
    // Round fusion (guide §2.4): message emission and the merge are ONE
    // grouped-min over the union of the previous distances and the
    // candidate rows — min(dist_{i-1}(v), 1 + min over senders) — so
    // each round is a single exchange on `id` instead of a message
    // aggregate PLUS a left join. Because every round now ENDS in an
    // aggregate, its exchange is the natural materialization point:
    // both consumers of dist_{i-1} (the sender join and the union arm)
    // reuse one shuffle, so the per-round MEMORY_AND_DISK snapshots the
    // old join form needed against 2^k lineage re-evaluation are gone —
    // at 100 TB the k pinned |nodes|-row tables with them.
    var dist = nodes.select(col("id"),
      when(seeds, lit(0L)).otherwise(lit(big)).cast("long").as("dist"))
    var i = 0
    while (i < maxHops) {
      val msgs = e
        .join(dist.withColumnRenamed("id", "src"), "src")
        .filter(col("dist") < big) // only reached nodes send
        .select(col("dst").as("id"), (col("dist") + 1L).as("dist"))
      dist = dist.unionByName(msgs)
        .groupBy("id").agg(min(col("dist")).as("dist"))
      i += 1
      if (i % CutEvery == 0 && i < maxHops) dist = dist.localCheckpoint()
    }
    dist.select(col("id"),
      when(col("dist") >= big, lit(-1L)).otherwise(col("dist")).as("dist"))
  }

  /** DuckDB replay of [[distances]]: unrolled CTE chain, one `d{i}` per
    * round, identical integer-sentinel relaxation. `edgeSql` must yield
    * columns (src, dst); `seedPred` is a predicate over `id`.
    */
  def oracleSql(edgeSql: String, seedPred: String, maxHops: Int): String = {
    val big = maxHops + 1L
    val sb = new StringBuilder
    sb.append(s"""WITH edges AS ($edgeSql),
                 |nodes AS (SELECT DISTINCT src AS id FROM edges
                 |          UNION SELECT DISTINCT dst FROM edges),
                 |d0 AS (SELECT id, CAST(CASE WHEN $seedPred THEN 0 ELSE $big
                 |               END AS BIGINT) AS dist FROM nodes)""".stripMargin)
    for (i <- 1 to maxHops) {
      sb.append(s""",
                   |d$i AS (
                   |  SELECT d.id,
                   |    CAST(least(d.dist, COALESCE(m.cand, $big)) AS BIGINT)
                   |      AS dist
                   |  FROM d${i - 1} d LEFT JOIN (
                   |    SELECT e.dst AS mid, min(p.dist + 1) AS cand
                   |    FROM edges e JOIN d${i - 1} p ON p.id = e.src
                   |    WHERE p.dist < $big
                   |    GROUP BY e.dst) m ON m.mid = d.id)""".stripMargin)
    }
    sb.append(s"""
                 |SELECT id, CAST(CASE WHEN dist >= $big THEN -1 ELSE dist
                 |         END AS BIGINT) AS dist
                 |FROM d$maxHops ORDER BY id""".stripMargin)
    sb.toString
  }
}
