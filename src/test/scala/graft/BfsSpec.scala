package graft

import org.apache.spark.sql.functions._

import graft.graph.Bfs

/** Seeded multi-source BFS (graph/Bfs.scala): hand-model graphs where
  * the hop distances are known by inspection — chain, star, multi-seed
  * min, horizon cutoff, directedness, disconnected components.
  */
class BfsSpec extends SparkSpec {
  import spark.implicits._

  private def run(edges: Seq[(Long, Long)], seed: Long => Boolean,
                  k: Int): Map[Long, Long] = {
    val seedIds = edges.flatMap(e => Seq(e._1, e._2)).distinct.filter(seed)
    Bfs.distances(edges.toDF("src", "dst"),
        col("id").isin(seedIds: _*), k)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("chain: hop counts climb from the seed, horizon cuts to -1") {
    // 1 -> 2 -> 3 -> 4 -> 5, seed {1}, k=2
    val d = run(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)), _ == 1L, 2)
    assert(d == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> -1L, 5L -> -1L))
  }

  test("star: every leaf is one hop from the hub") {
    val d = run(Seq((9L, 1L), (9L, 2L), (9L, 3L)), _ == 9L, 3)
    assert(d == Map(9L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("multiple seeds: nearest seed wins") {
    // 1 -> 2 -> 3 -> 4, seeds {1, 4}: node 3 is 2 hops from 1 but node 4
    // is a seed itself; distances are min over seeds
    val d = run(Seq((1L, 2L), (2L, 3L), (3L, 4L)), id => id == 1L || id == 4L, 3)
    assert(d == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 0L))
  }

  test("direction matters: edges only propagate src -> dst") {
    // 2 -> 1, seed {1}: nothing is downstream of the seed
    val d = run(Seq((2L, 1L)), _ == 1L, 3)
    assert(d == Map(1L -> 0L, 2L -> -1L))
    // symmetrize for undirected reachability
    val edges = Seq((2L, 1L)).toDF("src", "dst")
    val und = edges.union(edges.select(col("dst"), col("src")))
    val d2 = Bfs.distances(und, col("id") === 1L, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d2 == Map(1L -> 0L, 2L -> 1L))
  }

  test("disconnected component stays unreached") {
    val d = run(Seq((1L, 2L), (5L, 6L)), _ == 1L, 4)
    assert(d == Map(1L -> 0L, 2L -> 1L, 5L -> -1L, 6L -> -1L))
  }

  test("shortcut beats long path (true shortest hops, not visit order)") {
    // 1->2->3->4 and 1->4: dist(4) = 1
    val d = run(Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)), _ == 1L, 4)
    assert(d == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L))
  }

  test("no seeds: everything unreached, no crash") {
    val d = run(Seq((1L, 2L)), _ => false, 2)
    assert(d == Map(1L -> -1L, 2L -> -1L))
  }

  test("a nondeterministic seeds predicate fails fast; the registry's " +
      "seed predicate runs") {
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val e = intercept[IllegalArgumentException](
      Bfs.distances(edges, rand() < 0.5, 2))
    assert(e.getMessage.contains("deterministic"), e.getMessage)
    // g05's seeds: user_id % 37 = 0 over the transition graph
    val g05 = SparkEntry.queries("g05_bfs_distances")(spark, sf).collect()
    assert(g05.exists(_.getLong(1) == 0L) && g05.exists(_.getLong(1) > 0L))
  }

  test("k = 8 and 12 cut the lineage: driver-side BFS distances, a plan " +
      "no larger than twice k = 4's") {
    // a 30-node chain with a shortcut 0 -> 10 and a branch off node 3
    val edges = (0L until 29L).map(i => (i, i + 1)) ++
      Seq((0L, 10L), (3L, 40L), (40L, 41L))
    val adj = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    def driverBfs(k: Int): Map[Long, Long] = {
      var dist = Map(0L -> 0L)
      var frontier = Seq(0L)
      for (hop <- 1 to k) {
        frontier = frontier.flatMap(adj.getOrElse(_, Nil))
          .filterNot(dist.contains).distinct
        dist ++= frontier.map(_ -> hop.toLong)
      }
      nodes.map(n => n -> dist.getOrElse(n, -1L)).toMap
    }
    def planNodes(k: Int): Int = Bfs.distances(edges.toDF("src", "dst"),
      col("id") === 0L, k).queryExecution.optimizedPlan.collect {
        case p => p }.size
    for (k <- Seq(8, 12))
      assert(run(edges, _ == 0L, k) == driverBfs(k), s"k=$k")
    assert(driverBfs(12).values.max == 12L) // the horizon binds at 12
    assert(driverBfs(12).values.count(_ == -1L) == 8) // nodes 22..29
    val (p4, p12) = (planNodes(4), planNodes(12))
    assert(p12 <= 2 * p4, s"k=12: $p12 plan nodes, k=4: $p4")
  }

  test("partition count does not change distances") {
    val edges = (1L to 40L).map(i => (i, (i * 3) % 41))
    val base = Bfs.distances(edges.toDF("src", "dst").repartition(1),
      col("id") % 7 === 0, 3).collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val wide = Bfs.distances(edges.toDF("src", "dst").repartition(8),
      col("id") % 7 === 0, 3).collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(base == wide)
  }
}
