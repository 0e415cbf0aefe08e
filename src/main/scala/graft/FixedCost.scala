package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Decompose the FIXED per-query cost of the bench (guide §1: measure
  * first): for a sample of registry queries, run `reps` sweeps and
  * report, per sweep, wall seconds vs summed task time, Catalyst phase
  * times (QueryPlanningTracker), whole-stage-codegen compilation
  * time/count (CodegenMetrics' Codahale counters), and job/stage
  * counts. The gap `wall − tasks − phases − codegen` is scheduler/AQE
  * barrier latency. The last sweep also prints its 40 costliest stages
  * (the UI's Stages tab, which is disabled here): task count, summed
  * run time, wall, shuffle read/write bytes, spill and execution memory
  * (the tasks' summed and largest `peakExecutionMemory`), named by query.
  *
  *   sbt "runMain graft.FixedCost /root/testdata/sf0.1 2 a06,a07,j01"
  *   sbt "runMain graft.FixedCost /root/testdata/sf0.1 2 d31_exact_substr"
  */
object FixedCost {

  /** One completed stage. `peakMem` sums its tasks' peak execution
    * memory (Tungsten pages and arrays); `maxTaskPeakMem` is the largest
    * single task's.
    */
  final case class Stage(name: String, tasks: Int, runMs: Long, wallMs: Long,
                         shuffleRead: Long, shuffleWrite: Long,
                         shuffleRecords: Long, spill: Long,
                         peakMem: Long, maxTaskPeakMem: Long)

  /** The measurement mains' one listener: jobs started and stages
    * completed since the last [[reset]]. Written on the listener-bus
    * thread; read [[stages]] on the caller's.
    */
  final class Recorder extends SparkListener {
    val jobs = new AtomicLong
    private val stageJob = new ConcurrentHashMap[Int, (Int, String)]()
    private val taskPeak = new ConcurrentHashMap[Int, java.lang.Long]()
    private val done = new ConcurrentLinkedQueue[Stage]()

    override def onJobStart(ev: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      val desc = Option(ev.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      ev.stageIds.foreach(sid => stageJob.put(sid, (ev.jobId, desc.take(60))))
    }

    override def onTaskEnd(ev: SparkListenerTaskEnd): Unit =
      Option(ev.taskMetrics).foreach { m =>
        taskPeak.merge(ev.stageId, m.peakExecutionMemory, (a, b) => math.max(a, b))
      }

    override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
      val si = ev.stageInfo
      val m = si.taskMetrics
      val (jid, desc) = stageJob.getOrDefault(si.stageId, (-1, ""))
      val maxPeak: Long = Option(taskPeak.remove(si.stageId)).fold(0L)(_.longValue)
      done.add(Stage(s"job$jid s${si.stageId} " +
          si.name.takeWhile(_ != '\n') +
          (if (desc.nonEmpty) s" [$desc]" else ""),
        si.numTasks, m.executorRunTime,
        si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
        m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleWriteMetrics.recordsWritten, m.diskBytesSpilled,
        m.peakExecutionMemory, maxPeak))
    }

    def reset(): Unit = {
      jobs.set(0L); stageJob.clear(); taskPeak.clear(); done.clear()
    }

    /** The stages completed since [[reset]], once the bus has drained. */
    def stages: Seq[Stage] = {
      Bench.awaitListenerDrain(done.size.toLong)
      done.asScala.toSeq
    }
  }

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

    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)

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
      val cgN0 = compileMs.getCount
      rec.reset()
      sel.foreach { case (name, fn) =>
        CacheScope.harness.release()
        spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(name)
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        Bench.forceAll(df)
        wall += (System.nanoTime() - t0) / 1e9
        phaseMs += df.queryExecution.tracker.phases.values
          .map(p => p.endTimeMs - p.startTimeMs).sum
      }
      spark.sparkContext.setJobDescription(null)
      val stages = rec.stages
      println(f"[fixed] sweep $r: n=${sel.size} wall $wall%.2f s " +
        f"taskTime ${stages.map(_.runMs).sum / 1e3}%.2f s " +
        f"phases(outer df) ${phaseMs / 1e3}%.2f s " +
        f"codegenUnits ${compileMs.getCount - cgN0} jobs ${rec.jobs.get} " +
        f"stages ${stages.size} tasks ${stages.map(_.tasks.toLong).sum}")
      if (r == reps) stages.sortBy(-_.runMs).take(40).foreach { s =>
        println(f"[fixed] ${s.runMs}%6d ms run ${s.wallMs}%6d ms wall " +
          f"${s.tasks}%4d tasks shR ${s.shuffleRead}%9d " +
          f"shW ${s.shuffleWrite}%9d spill ${s.spill}%8d " +
          f"mem ${s.peakMem >> 10}%7d KiB max ${s.maxTaskPeakMem >> 10}%6d KiB  " +
          s.name)
      }
    }
    println(f"[fixed] codegen total: ${compileMs.getCount} units, " +
      f"mean ${compileMs.getSnapshot.getMean}%.1f ms")
    spark.stop()
  }
}
