package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Decompose the FIXED per-query cost of the bench (guide §1: measure
  * first): for a sample of registry queries, run `reps` sweeps and
  * report, per sweep, wall seconds vs summed task time, Catalyst phase
  * times (QueryPlanningTracker), whole-stage-codegen compilation
  * time/count (CodegenMetrics' Codahale counters), and job/stage
  * counts. The gap `wall − tasks − phases − codegen` is scheduler/AQE
  * barrier latency.
  *
  *   sbt "runMain graft.FixedCost /root/testdata/sf0.1 2 a06,a07,j01"
  */
object FixedCost {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 2
    val prefixes = (if (args.length > 2) args(2) else "a06,a07,a12,j01,s01")
      .split(",").toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sel = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => prefixes.exists(n.startsWith) }

    // written on the listener-bus thread, read on this one
    val jobs, stages, tasks, taskMs = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(ev: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet(); tasks.addAndGet(ev.stageInfo.numTasks)
        taskMs.addAndGet(ev.stageInfo.taskMetrics.executorRunTime)
      }
    }
    spark.sparkContext.addSparkListener(listener)

    // CodegenMetrics' compilation histogram: one sample per compiled
    // unit, in ms (CodeGenerator records the nanoTime delta / 1e6)
    val compileMs =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME

    // warmup IO caches like the bench does
    Seq("orders", "lineitem", "customer", "part", "documents", "embeddings")
      .foreach { t =>
        try spark.read.parquet(s"$sfDir/$t.parquet").count()
        catch { case _: Throwable => () }
      }

    (1 to reps).foreach { r =>
      var wall = 0.0; var phaseMs = 0L
      Seq(jobs, stages, tasks, taskMs).foreach(_.set(0L))
      val cgN0 = compileMs.getCount
      sel.foreach { case (name, fn) =>
        CacheScope.harness.release()
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        Bench.forceAll(df)
        wall += (System.nanoTime() - t0) / 1e9
        phaseMs += df.queryExecution.tracker.phases.values
          .map(p => p.endTimeMs - p.startTimeMs).sum
      }
      Bench.awaitListenerDrain(stages.get)
      println(f"[fixed] sweep $r: n=${sel.size} wall $wall%.2f s " +
        f"taskTime ${taskMs.get / 1e3}%.2f s phases(outer df) ${phaseMs / 1e3}%.2f s " +
        f"codegenUnits ${compileMs.getCount - cgN0} jobs ${jobs.get} " +
        f"stages ${stages.get} tasks ${tasks.get}")
    }
    println(f"[fixed] codegen total: ${compileMs.getCount} units, " +
      f"mean ${compileMs.getSnapshot.getMean}%.1f ms")
    spark.stop()
  }
}
