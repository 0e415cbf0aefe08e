package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.ListenerBusBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One wall clock for the benchmark's own spans, at nanosecond resolution
  * but anchored to epoch milliseconds so it lines up with listener event
  * times (which Spark stamps with `System.currentTimeMillis`).
  */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

final case class Span(id: Long, parent: Long, kind: String, name: String,
                      start: Double, end: Double) {
  def ms: Double = end - start
}

/** In-memory span store; written out once when the run ends. */
final class Spans {
  private val next = new AtomicLong(1)
  private val buf = scala.collection.mutable.ArrayBuffer.empty[Span]
  def newId(): Long = next.getAndIncrement()
  def add(s: Span): Span = { buf += s; s }
  def all: Seq[Span] = buf.toSeq
}

object Spans {
  /** Total length of the union of `ivs`, clipped to [lo, hi]. */
  def covered(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (curS.isNaN || s > curE) {
          if (!curS.isNaN) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Self time of each span: its length minus what its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      s.id -> (s.ms - covered(c, s.start, s.end))
    }.toMap
  }
}

/** A Spark job as the listener saw it: start/end (epoch ms), the span that
  * caused it (from the job tag the benchmark set), its call site (the
  * job's own, then that of the SQL execution it belongs to: adaptive
  * execution submits most jobs from Spark's threads, whose stacks hold no
  * caller frames), and whether any of its stages wrote output records.
  */
final case class JobRec(id: Int, start: Long, end: Long, parent: Long,
                        callSite: String, writes: Boolean)

/** Counters from Spark's public listener, query-execution and codegen
  * interfaces plus the JVM's management beans.
  *
  * Correct by construction: counters are `LongAdder`s (the listener bus
  * thread writes, the driver thread reads); reads happen only after
  * [[quiesce]] has drained the bus and every started job has ended.
  * Codegen compile time is the histogram's own unit (ms).
  */
final class Trace(spark: SparkSession) {
  import Trace._

  private val sc = spark.sparkContext
  private val counters = new ConcurrentHashMap[String, LongAdder]()
  private val started = new AtomicLong
  private val ended = new AtomicLong
  private val jobStarts = new ConcurrentHashMap[Integer, (Long, Long, String)]()
  private val jobEnds = new ConcurrentHashMap[Integer, java.lang.Long]()
  private val stageJob = new ConcurrentHashMap[Integer, Integer]()
  private val writingJobs = ConcurrentHashMap.newKeySet[Integer]()
  private val plans = new ConcurrentLinkedQueue[(Long, Long, Long)]()
  private val executionSites = new ConcurrentHashMap[java.lang.Long, String]()

  private def add(k: String, v: Long): Unit =
    counters.computeIfAbsent(k, _ => new LongAdder).add(v)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tags = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.tags"))).getOrElse("")
      val parent = tags.split(",").collectFirst {
        case t if t.startsWith(TagPrefix) => t.stripPrefix(TagPrefix).toLong
      }.getOrElse(-1L)
      // the result stage is created last, so it carries the job's call site
      val own = if (e.stageInfos.isEmpty) ""
        else e.stageInfos.maxBy(_.stageId).details
      val execution = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(executionSites.get(id.toLong))).getOrElse("")
      val site = own + "\n" + execution
      e.stageInfos.foreach(si => stageJob.put(si.stageId, e.jobId))
      jobStarts.put(e.jobId, (e.time, parent, site))
      started.incrementAndGet()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobEnds.put(e.jobId, e.time)
      ended.incrementAndGet()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      add("scheduler.stages", 1)
      add("scheduler.tasks", si.numTasks)
      val m = si.taskMetrics
      if (m != null) {
        add("tasks.run_ms", m.executorRunTime)
        add("tasks.cpu_ns", m.executorCpuTime)
        add("tasks.gc_ms", m.jvmGCTime)
        add("tasks.deser_ms", m.executorDeserializeTime)
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle.write_ns", m.shuffleWriteMetrics.writeTime)
        add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
        add("shuffle.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        add("sources.bytes_read", m.inputMetrics.bytesRead)
        add("sources.records_read", m.inputMetrics.recordsRead)
        add("sinks.bytes_written", m.outputMetrics.bytesWritten)
        add("sinks.records_written", m.outputMetrics.recordsWritten)
        if (m.outputMetrics.recordsWritten > 0)
          Option(stageJob.get(si.stageId)).foreach(writingJobs.add)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        executionSites.put(x.executionId, x.details)
      case _: SparkListenerSQLAdaptiveExecutionUpdate =>
        add("catalyst.aqe_replans", 1)
      case _ => ()
    }
  }

  /** Catalyst phases (analysis, optimization, planning) of every executed
    * query: (first phase start, planning end, summed phase ms).
    */
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty) {
        val planEnd = qe.tracker.phases.get("planning")
          .map(_.endTimeMs).getOrElse(ph.map(_.endTimeMs).max)
        plans.add((ph.map(_.startTimeMs).min, planEnd,
          ph.map(p => p.endTimeMs - p.startTimeMs).sum))
      }
    }
  }

  private var attached = false

  def attach(): Unit = if (!attached) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    quiesce()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    attached = false
  }

  /** Block until the listener bus has delivered every posted event and
    * every job that started has also ended.
    */
  def quiesce(): Unit = {
    val deadline = System.currentTimeMillis() + 60000
    ListenerBusBridge.waitUntilEmpty(sc, 60000)
    while (started.get != ended.get) {
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(
          s"jobs still running: ${started.get} started, ${ended.get} ended")
      Thread.sleep(5)
      ListenerBusBridge.waitUntilEmpty(sc, 60000)
    }
  }

  def counts: Map[String, Long] =
    counters.asScala.map { case (k, v) => k -> v.sum }.toMap +
      ("scheduler.jobs" -> started.get)

  /** Jobs that started in [from, to]. */
  def jobs(from: Double, to: Double): Seq[JobRec] =
    jobStarts.asScala.toSeq.collect {
      case (id, (s, parent, site)) if s >= from - 1 && s <= to + 1 =>
        val e = Option(jobEnds.get(id)).map(_.longValue).getOrElse(s)
        JobRec(id, s, e, parent, site, writingJobs.contains(id))
    }.sortBy(_.id)

  /** Catalyst plans whose first phase began in [from, to]. */
  def planning(from: Double, to: Double): Seq[(Long, Long, Long)] =
    plans.asScala.toSeq.filter { case (s, _, _) => s >= from - 1 && s <= to + 1 }
}

object Trace {
  val TagPrefix = "perfbench-span-"

  def tag(id: Long): String = TagPrefix + id

  /** Whole-stage codegen: (units compiled, compile ms). The histogram keeps
    * up to 1028 samples; past that the sum is scaled from the mean.
    */
  def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val n = h.getCount
    val snap = h.getSnapshot
    val ms = if (n <= snap.size) snap.getValues.sum.toDouble
      else snap.getMean * n
    (n, ms)
  }

  def jitMs(): Long =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** CPU time of the whole JVM process (all threads, ended ones too), in ms. */
  def processCpuMs(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Largest heap in use right after a collection (all pools together,
    * one collection at a time) since the last reset: the live set plus
    * the garbage the collection left, not the heap's capacity.
    */
  private val heapAfterGc = new AtomicLong

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case b: NotificationEmitter =>
      b.addNotificationListener((n: Notification, _: AnyRef) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
          heapAfterGc.accumulateAndGet(used, (a: Long, b: Long) => math.max(a, b))
        }, null, null)
    case _ => ()
  }

  def resetHeapPeak(): Unit = heapAfterGc.set(0)

  /** [[heapAfterGc]] in MB. */
  def heapPeakMb(): Double = heapAfterGc.get / 1048576.0
}
