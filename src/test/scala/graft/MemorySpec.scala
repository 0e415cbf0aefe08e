package graft

import org.apache.spark.SparkEnv
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions._

/** Tungsten pages sized to the heap (`GraftSession.pageSizeFor`): small
  * operators hold a small page, and work that needs many pages, or a
  * record larger than a page, still runs exactly.
  */
class MemorySpec extends SparkSpec {
  private val MiB = 1L << 20
  private val GiB = 1L << 30
  private object H extends AdaptiveSparkPlanHelper

  /** Run `body` with one shuffle partition, so each aggregate is one task
    * and its `peakMemory` is that task's.
    */
  private def oneTask[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try body finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  private def executed(df: DataFrame): (Array[Row], SparkPlan) = {
    val rows = df.collect()
    (rows, df.queryExecution.executedPlan)
  }

  test("pageSizeFor: the smallest power of two in [1 MiB, 64 MiB] whose " +
      "8192 pages cover the heap") {
    val table = GraftSession.PageTableSize
    Seq(512 * MiB, 2 * GiB, 8 * GiB, 64 * GiB, 1024 * GiB).foreach { heap =>
      val page = GraftSession.pageSizeFor(heap)
      assert(java.lang.Long.bitCount(page) == 1, s"$heap -> $page")
      assert(page >= MiB && page <= 64 * MiB, s"$heap -> $page")
      if (heap <= 64 * MiB * table) assert(page * table >= heap, s"$heap")
      assert(page == MiB || page == 64 * MiB || page / 2 * table < heap,
        s"$heap -> $page is not the smallest")
    }
    assert(GraftSession.pageSizeFor(8 * GiB) == MiB)
    assert(GraftSession.pageSizeFor(64 * GiB) == 8 * MiB)
    assert(GraftSession.pageSizeFor(1024 * GiB) == 64 * MiB)
  }

  test("the live session's page size is pageSizeFor(this heap)") {
    assert(spark.sparkContext.getConf.contains("spark.buffer.pageSize"))
    assert(SparkEnv.get.memoryManager.pageSizeBytes ==
      GraftSession.pageSizeFor(Runtime.getRuntime.maxMemory))
  }

  test("a one-group hash aggregate holds at most 2 MiB") {
    val (rows, plan) = oneTask(executed(spark.range(0, 1000, 1, 1)
      .groupBy((col("id") % 1).as("k")).count()))
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((0L, 1000L)))
    val aggs = H.collect(plan) { case a: HashAggregateExec => a }
    assert(aggs.size == 2, plan.toString)
    aggs.foreach(a =>
      assert(a.metrics("peakMemory").value <= 2 * MiB, a.toString))
  }

  test("a broadcast string-key dim of 3 rows is at most 2 MiB") {
    import spark.implicits._
    val dim = Seq(("a", 1), ("b", 2), ("c", 3)).toDF("k", "v")
    val fact = spark.range(0, 30, 1, 1)
      .select(element_at(array(lit("a"), lit("b"), lit("c"), lit("d")),
        (col("id") % 4 + 1).cast("int")).as("k"))
    val (rows, plan) = executed(fact.join(broadcast(dim), "k")
      .agg(count(lit(1)), sum("v")))
    assert(rows.head.getLong(0) == 23L && rows.head.getLong(1) == 45L)
    val bcs = H.collect(plan) { case b: BroadcastExchangeExec => b }
    assert(bcs.size == 1, plan.toString)
    assert(bcs.head.metrics("dataSize").value <= 2 * MiB, bcs.head.toString)
  }

  test("many pages in one task: 200k distinct string keys aggregate " +
      "exactly") {
    val n = 200000L
    val (rows, plan) = oneTask(executed(spark.range(0, 2 * n, 1, 1)
      .select(concat(lit("key-"), (col("id") % n).cast("string")).as("k"))
      .groupBy("k").count()
      .agg(count(lit(1)), min("count"), max("count"), max("k"))))
    val r = rows.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)) ==
      ((n, 2L, 2L, "key-99999")))
    val page = SparkEnv.get.memoryManager.pageSizeBytes
    val peaks = H.collect(plan) {
      case a: HashAggregateExec if a.groupingExpressions.nonEmpty =>
        a.metrics("peakMemory").value
    }
    assert(peaks.nonEmpty && peaks.max > 4 * page, s"peaks $peaks, page $page")
  }

  test("a record larger than a page sorts and aggregates") {
    val len = 3 << 20
    val df = spark.range(0, 3, 1, 1).select(col("id"),
      when(col("id") === 0, repeat(lit("x"), len))
        .otherwise(concat(lit("y"), col("id").cast("string"))).as("s"))
    val sorted = oneTask(df.orderBy(col("s")).select(length(col("s")))
      .collect().map(_.getInt(0)).toSeq)
    assert(sorted == Seq(len, 2, 2))
    val grouped = oneTask(df.groupBy("s").count()
      .select(length(col("s")), col("count")).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq.sorted)
    assert(grouped == Seq((2, 1L), (2, 1L), (len, 1L)))
  }
}
