package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.GraftSession

final case class Opts(workload: String, data: String, out: String, seed: Long,
                      seconds: Double, trace: Boolean, cores: Int,
                      launchMs: Double, expected: String,
                      makeExpected: Option[String])

/** One measured operation: a registry query, a `Pipeline.run`, or a
  * streaming micro-batch. `ok` is false when it threw or its output was
  * wrong.
  */
final case class Op(name: String, start: Double, end: Double, ok: Boolean) {
  def ms: Double = end - start
}

/** What one pass returns: its operations, its workload-specific layer
  * values (traced passes), and its output checks. The runner calls the
  * checks after it has stopped the pass clock and read the counters, so
  * checking costs neither.
  */
final case class Ran(ops: Seq[Op], layers: Map[String, Double],
                     checks: Seq[() => Boolean])

final case class Pass(index: Int, start: Double, end: Double, cpuMs: Double,
                      traced: Boolean, ops: Seq[Op], checked: Int, failed: Int,
                      layers: Map[String, Double]) {
  def seconds: Double = (end - start) / 1e3
}

/** What a workload's pass can use: the session, options, the trace (on
  * traced passes) and the span store.
  */
final class Ctx(val spark: SparkSession, val o: Opts, val trace: Option[Trace],
                val spans: Spans) {
  /** The same context with inputs read from `data/<sub>`. */
  def inputs(sub: String): Ctx =
    new Ctx(spark, o.copy(data = s"${o.data}/$sub"), trace, spans)

  def fail(what: String): Unit =
    System.err.println(s"[perfbench] FAILED: $what")

  /** Run `body` with every Spark job it starts tagged as a child of span
    * `id`; on untraced passes no tag is set.
    */
  def tagged[T](id: Long, traced: Boolean)(body: => T): T =
    if (!traced) body
    else {
      val sc = spark.sparkContext
      sc.addJobTag(Trace.tag(id))
      try body finally sc.removeJobTag(Trace.tag(id))
    }
}

/** A workload: how to warm up after set-up, and how to run one pass. */
trait Workload {
  def warmup(spark: SparkSession, o: Opts): Unit

  /** Runs pass `index` under span `passId`. */
  def pass(ctx: Ctx, index: Int, passId: Long, traced: Boolean): Ran

  /** Warm passes the end-to-end figures come from: the first ones after
    * the cold pass, a fixed number, so every run is judged on the same
    * passes however many more it fits in `--seconds`.
    */
  def steadyPasses: Int

  /** Workload-level figures printed with the result (not gated). */
  def info(warm: Seq[Pass]): Map[String, Double] = Map.empty
}

object Main {
  /** Stop starting passes after this long, whatever `--seconds` says. */
  val HardCapS = 110.0

  val CommonLayers: Seq[String] = Seq(
    "catalyst.plan_ms", "catalyst.aqe_replans",
    "codegen.units", "codegen.compile_ms",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks",
    "scheduler.driver_gap_ms", "scheduler.task_concurrency",
    "tasks.run_ms", "tasks.cpu_ms", "tasks.gc_ms", "tasks.deser_ms",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_ms",
    "shuffle.write_ms", "shuffle.spill_bytes",
    "sources.bytes_read", "sources.records_read",
    "sinks.bytes_written", "sinks.records_written", "sinks.write_ms",
    "jvm.jit_ms", "jvm.gc_ms", "jvm.heap_peak_mb",
    "self.pass_ms", "self.op_ms", "self.job_ms")

  /** Every traced run reports every layer; a workload that does not touch
    * a layer reports 0 for it.
    */
  val AllLayers: Seq[String] = (CommonLayers ++ RegistryWorkload.Layers ++
    PipelineJob.Layers ++ StreamJob.Layers).distinct

  def workload(name: String): Workload = name match {
    case "registry" => new RegistryWorkload
    case "reference_jobs" => new ReferenceJobsWorkload
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("data"), m("out"), m.getOrElse("seed", "0").toLong,
      m.getOrElse("seconds", "10").toDouble, m.getOrElse("trace", "0") == "1",
      m.getOrElse("cores", "4").toInt, m("launch-ms").toDouble,
      m.getOrElse("expected", ""), m.get("make-expected"))
  }

  def buildSession(o: Opts): SparkSession =
    GraftSession.builder(o.cores.toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()

  def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2)
    else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val w = workload(o.workload)
    // Set-up: from process launch (JVM start, class loading) until the
    // session is built and the warm-up reads are done.
    val spark = buildSession(o)
    w.warmup(spark, o)
    val setupS = (Clock.nowMs - o.launchMs) / 1e3
    val exit =
      try {
        o.makeExpected match {
          case Some(file) =>
            RegistryWorkload.makeExpected(spark, o, file)
          case None =>
            measure(spark, o, w, setupS)
        }
        0
      } catch {
        case NonFatal(e) =>
          e.printStackTrace()
          1
      } finally stopSession(spark)
    System.exit(exit)
  }

  /** Traced runs: the cold pass is traced, the first warm pass (still
    * much slower than the rest) is untraced and left out, and the passes
    * after it run in blocks of four, traced / untraced / untraced /
    * traced, so what is left of the JIT's pass-to-pass speed-up falls on
    * both sides alike when the tracing overhead is taken as traced minus
    * untraced.
    */
  def tracedPass(k: Int): Boolean = k == 0 || (k >= 2 && Set(0, 3)((k - 2) % 4))

  /** The passes a traced run compares: those after the first warm pass. */
  def compared(passes: Seq[Pass]): Seq[Pass] = passes.drop(2)

  private def measure(spark: SparkSession, o: Opts, w: Workload,
                      setupS: Double): Unit = {
    val spans = new Spans
    val trace = if (o.trace) Some(new Trace(spark)) else None
    val ctx = new Ctx(spark, o, trace, spans)
    val passes = ArrayBuffer.empty[Pass]
    val windowStart = Clock.nowMs
    def more: Boolean = {
      val el = (Clock.nowMs - windowStart) / 1e3
      val warmDone = passes.size - 1
      el < HardCapS && (el < o.seconds || warmDone < w.steadyPasses ||
        (o.trace && (warmDone < 5 || (warmDone - 1) % 4 != 0)))
    }
    var k = 0
    while (k == 0 || more) {
      passes += runPass(ctx, w, k, o.trace && tracedPass(k))
      k += 1
    }
    trace.foreach(_.detach())

    val warm = passes.drop(1).take(w.steadyPasses)
    val attempted = passes.map(_.checked).sum
    val failed = passes.map(_.failed).sum
    // latency of operations whose output checked out; a failed run still
    // reports numbers (its `correct` is false)
    val warmAll = warm.flatMap(_.ops)
    val warmOps = (if (warmAll.exists(_.ok)) warmAll.filter(_.ok) else warmAll).map(_.ms)
    // The gated pass figures are CPU seconds of the whole JVM: on a shared
    // host the wall time of a pass follows how much CPU the host leaves
    // the VM (hypervisor steal is not charged to the process), while the
    // CPU the program spends follows the program. Wall figures are in the
    // summary line.
    val metrics: Seq[(String, Double)] =
      if (!o.trace) Seq(
        "setup_s" -> setupS,
        "first_pass_cpu_s" -> passes.head.cpuMs / 1e3,
        "warm_pass_cpu_s" -> median(warm.map(_.cpuMs / 1e3).toSeq))
      else layerMetrics(passes.toSeq, spans)
    val traceInfo = if (!o.trace) Map.empty[String, Double] else Map(
      "trace_warm_traced" -> compared(passes.toSeq).count(_.traced).toDouble,
      "trace_warm_untraced" -> compared(passes.toSeq).count(!_.traced).toDouble)
    val info = traceInfo ++ Map(
      "first_pass_s" -> passes.head.seconds,
      "warm_pass_s" -> median(warm.map(_.seconds).toSeq),
      "op_p50_ms" -> median(warmOps.toSeq),
      "passes" -> passes.size.toDouble,
      "warm_ops" -> warmOps.size.toDouble,
      "failed_ratio" -> failed.toDouble / math.max(attempted, 1)) ++
      passes.map(p => s"pass${p.index}_s" -> p.seconds) ++
      passes.map(p => s"pass${p.index}_cpu_s" -> p.cpuMs / 1e3) ++ w.info(warm.toSeq)
    if (o.trace) writeSpans(o, spans)
    val json = new StringBuilder
    json ++= s"""{"correct": ${failed == 0 && attempted > 0}, "attempted": $attempted, "failed": $failed, "metrics": {"""
    json ++= metrics.map { case (k, v) => s""""$k": ${num(v)}""" }.mkString(", ")
    json ++= """}, "info": {"""
    json ++= info.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": ${num(v)}""" }.mkString(", ")
    json ++= "}}"
    Files.writeString(Paths.get(o.out, "result.json"), json.toString)
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  private def runPass(ctx: Ctx, w: Workload, k: Int, traced: Boolean): Pass = {
    val spans = ctx.spans
    val passId = spans.newId()
    ctx.trace.foreach(t => if (traced) t.attach() else t.detach())
    val c0 = ctx.trace.filter(_ => traced).map(_.counts).getOrElse(Map.empty)
    val (cgN0, cgMs0) = Trace.codegen()
    val jit0 = Trace.jitMs()
    val gc0 = Trace.gcMs()
    Trace.resetHeapPeak()
    val cpu0 = Trace.processCpuMs()
    val start = Clock.nowMs
    val ran = w.pass(ctx, k, passId, traced)
    val end = Clock.nowMs
    val cpuMs = Trace.processCpuMs() - cpu0
    val layers = ctx.trace.filter(_ => traced) match {
      case None => Map.empty[String, Double]
      case Some(t) =>
        t.quiesce()
        val c1 = t.counts
        def d(key: String): Double = (c1.getOrElse(key, 0L) - c0.getOrElse(key, 0L)).toDouble
        val (cgN1, cgMs1) = Trace.codegen()
        spans.add(Span(passId, 0, "pass", s"pass $k", start, end))
        val jobs = t.jobs(start, end)
        addJobSpans(spans, jobs, passId)
        val jobIvs = jobs.map(j => (j.start.toDouble, j.end.toDouble))
        val wall = end - start
        Map(
          "scheduler.jobs" -> jobs.size.toDouble,
          "scheduler.stages" -> d("scheduler.stages"),
          "scheduler.tasks" -> d("scheduler.tasks"),
          "scheduler.driver_gap_ms" -> (wall - Spans.covered(jobIvs, start, end)),
          "scheduler.task_concurrency" -> d("tasks.run_ms") / wall,
          "tasks.run_ms" -> d("tasks.run_ms"),
          "tasks.cpu_ms" -> d("tasks.cpu_ns") / 1e6,
          "tasks.gc_ms" -> d("tasks.gc_ms"),
          "tasks.deser_ms" -> d("tasks.deser_ms"),
          "shuffle.write_bytes" -> d("shuffle.write_bytes"),
          "shuffle.read_bytes" -> d("shuffle.read_bytes"),
          "shuffle.fetch_wait_ms" -> d("shuffle.fetch_wait_ms"),
          "shuffle.write_ms" -> d("shuffle.write_ns") / 1e6,
          "shuffle.spill_bytes" -> d("shuffle.spill_bytes"),
          "sources.bytes_read" -> d("sources.bytes_read"),
          "sources.records_read" -> d("sources.records_read"),
          "sinks.bytes_written" -> d("sinks.bytes_written"),
          "sinks.records_written" -> d("sinks.records_written"),
          "sinks.write_ms" -> jobs.filter(_.writes).map(j => (j.end - j.start).toDouble).sum,
          "catalyst.plan_ms" -> t.planning(start, end).map(_._3.toDouble).sum,
          "catalyst.aqe_replans" -> d("catalyst.aqe_replans"),
          "codegen.units" -> (cgN1 - cgN0).toDouble,
          "codegen.compile_ms" -> (cgMs1 - cgMs0),
          "jvm.jit_ms" -> (Trace.jitMs() - jit0).toDouble,
          "jvm.gc_ms" -> (Trace.gcMs() - gc0).toDouble,
          "jvm.heap_peak_mb" -> Trace.heapPeakMb()) ++ ran.layers
    }
    val failed = ran.checks.count(check => !check())
    // a pass with a wrong output contributes no latency samples
    val ops = if (failed == 0) ran.ops else ran.ops.map(_.copy(ok = false))
    Pass(k, start, end, cpuMs, traced, ops, ran.checks.size, failed, layers)
  }

  /** Job spans hang under the span their tag names, or, when that span has
    * child spans of its own (pipeline stages, stream batches), under the
    * child whose interval holds the job's start.
    */
  private def addJobSpans(spans: Spans, jobs: Seq[JobRec], passId: Long): Unit = {
    val kids = spans.all.groupBy(_.parent)
    def descend(p: Long, at: Double): Long =
      kids.getOrElse(p, Nil).find(s => s.kind != "job" && s.start <= at && at <= s.end)
        .map(s => descend(s.id, at)).getOrElse(p)
    jobs.foreach { j =>
      val parent = descend(if (j.parent > 0) j.parent else passId, j.start.toDouble)
      spans.add(Span(spans.newId(), parent, "job", s"job ${j.id} ${j.callSite.replace("\n", " | ")}",
        j.start.toDouble, j.end.toDouble))
    }
  }

  /** Per-layer metrics of a traced run: codegen and JIT from the cold pass
    * (what `first_pass_cpu_s` pays), everything else as the mean over the
    * compared traced warm passes, plus span self times and the tracing overhead (mean
    * traced minus mean untraced warm pass, see [[tracedPass]]).
    */
  private def layerMetrics(passes: Seq[Pass], spans: Spans): Seq[(String, Double)] = {
    val cold = passes.head.layers
    val warmTraced = compared(passes).filter(_.traced)
    val warmPlain = compared(passes).filterNot(_.traced)
    def layerMean(key: String): Double =
      if (warmTraced.isEmpty) 0.0
      else warmTraced.map(_.layers.getOrElse(key, 0.0)).sum / warmTraced.size
    val self = Spans.selfTimes(spans.all)
    val byPass = warmTraced.map { p =>
      spans.all.filter(s => s.start >= p.start - 1 && s.start <= p.end + 1)
    }
    def selfMs(kind: String): Double =
      if (byPass.isEmpty) 0.0
      else byPass.map(ss => ss.filter(_.kind == kind).map(s => self(s.id)).sum).sum / byPass.size
    val coldKeys = Set("codegen.units", "codegen.compile_ms", "jvm.jit_ms")
    AllLayers.map { k =>
      k -> (if (coldKeys(k)) cold.getOrElse(k, 0.0)
        else if (k.startsWith("self.")) selfMs(k.stripPrefix("self.").stripSuffix("_ms"))
        else layerMean(k))
    } ++ Seq(
      "trace.overhead_ms" ->
        (mean(warmTraced.map(_.seconds)) - mean(warmPlain.map(_.seconds))) * 1e3,
      "trace.spans" -> spans.all.size.toDouble)
  }

  private def writeSpans(o: Opts, spans: Spans): Unit = {
    val self = Spans.selfTimes(spans.all)
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val lines = spans.all.sortBy(_.start).map { s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "kind": ${q(s.kind)}, "name": ${q(s.name)}, "start_ms": ${num(s.start)}, "end_ms": ${num(s.end)}, "self_ms": ${num(self(s.id))}}"""
    }
    Files.writeString(Paths.get(o.out, "spans.jsonl"), lines.mkString("", "\n", "\n"))
  }
}
