package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Stage-level profiler for a single registry query (guide §1/§7: find
  * WHERE the time goes before touching anything). Runs `name` `reps`
  * times through the bench drive (`Bench.forceAll`) with a listener
  * aggregating per-stage task time, then prints stages sorted by cost:
  * stage name/callsite, task count, summed executor run time, wall
  * duration, shuffle read/write bytes. The UI is disabled in this
  * sandbox; this is the equivalent of its Stages tab for one query.
  *
  *   sbt "runMain graft.Prof /root/testdata/sf0.1 d31_exact_substr 2"
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val name = if (args.length > 1) args(1) else "j01_combined"
    val reps = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val fn = SparkEntry.queries(name)

    case class St(name: String, tasks: Int, runMs: Long, wallMs: Long,
                  shRead: Long, shWrite: Long, spill: Long)
    // filled on the listener-bus thread, read on this one
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[St]()
    val stageJob =
      new java.util.concurrent.ConcurrentHashMap[Int, (Int, String)]()
    @volatile var record = false
    val listener = new SparkListener {
      override def onJobStart(ev: SparkListenerJobStart): Unit =
        if (record) {
          val desc = Option(ev.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("")
          ev.stageIds.foreach(sid =>
            stageJob.put(sid, (ev.jobId, desc.take(60))))
        }
      override def onStageCompleted(ev: SparkListenerStageCompleted): Unit =
        if (record) {
          val si = ev.stageInfo
          val m = si.taskMetrics
          val (jid, desc) = stageJob.getOrDefault(si.stageId, (-1, ""))
          stages.add(St(s"job$jid s${si.stageId} " +
            si.name.takeWhile(_ != '\n') +
            (if (desc.nonEmpty) s" [$desc]" else ""), si.numTasks,
            m.executorRunTime,
            si.completionTime.getOrElse(0L) -
              si.submissionTime.getOrElse(0L),
            m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten,
            m.diskBytesSpilled))
        }
    }
    spark.sparkContext.addSparkListener(listener)
    (1 to reps).foreach { r =>
      CacheScope.harness.release()
      spark.catalog.clearCache()
      record = r == reps // profile only the last (warm) rep
      val t0 = System.nanoTime()
      Bench.forceAll(fn(spark, sfDir))
      println(f"[prof] rep $r wall ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    // let the listener bus drain before reading the buffer
    Bench.awaitListenerDrain(stages.size.toLong)
    import scala.jdk.CollectionConverters._
    val last = stages.asScala.toSeq
    val total = last.map(_.runMs).sum
    println(f"[prof] $name: ${last.size} stages, " +
      f"sum task time ${total / 1e3}%.2f s (last rep)")
    last.sortBy(-_.runMs).take(40).foreach { s =>
      println(f"[prof] ${s.runMs}%6d ms run ${s.wallMs}%6d ms wall " +
        f"${s.tasks}%4d tasks shR ${s.shRead}%9d shW ${s.shWrite}%9d " +
        f"spill ${s.spill}%8d  ${s.name}%s")
    }
    spark.stop()
  }
}
