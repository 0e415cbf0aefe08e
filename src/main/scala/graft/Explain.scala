package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Plan-audit helper: prints `explain("formatted")` for the headline
  * queries so scan pruning / pushdown / join strategies can be reviewed
  * (builder-brief requirement: iterate on the plan, not just the result).
  * With a third argument `metrics`, it instead runs each query and prints
  * its final adaptive plan, one operator a line with its rows and memory
  * metrics ([[metricTree]]).
  *
  *   sbt "runMain graft.Explain <sf dir> j01_combined,t30_kn_trigram_lm metrics"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val names = if (args.length > 1) args(1).split(",").toSet else Set[String]()
    val metrics = args.length > 2 && args(2) == "metrics"
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => names.isEmpty || names.contains(q._1))
      .foreach { case (name, fn) =>
        println(s"\n========== $name ==========")
        val df = fn(spark, sfDir)
        if (metrics) {
          df.collect()
          metricTree(df.queryExecution.executedPlan).foreach(println)
        } else df.explain("formatted")
      }
    spark.stop()
  }

  private val shown = Seq("numOutputRows", "peakMemory", "dataSize",
    "spillSize")

  /** An executed plan as indented lines: each operator with the non-zero
    * values of [[shown]], summed over its tasks as Spark's UI sums them
    * (sizes also in MiB). Adaptive plans print their final plan, query
    * stages their stage plan.
    */
  private def metricTree(plan: SparkPlan, depth: Int = 0): Seq[String] = {
    val kids = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case p => p.children ++ p.subqueries
    }
    val ms = shown.flatMap(k => plan.metrics.get(k).filter(_.value > 0)
      .map { m =>
        if (m.metricType == "size") f"$k=${m.value} (${m.value / 1048576.0}%.2f MiB)"
        else s"$k=${m.value}"
      })
    (("  " * depth) + plan.nodeName + ms.map(" " + _).mkString) +:
      kids.flatMap(metricTree(_, depth + 1))
  }
}
