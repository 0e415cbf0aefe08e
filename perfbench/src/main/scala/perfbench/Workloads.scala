package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Bench, CacheScope, Pipeline, SparkEntry}
import graft.model.Tables
import graft.streaming.EventStream

/** Registry queries through `SparkEntry.queries`, each forced through
  * `Bench.checksum` (the bench's own drive) and checked against the
  * (rows, xxhash64 sum) recorded for the generated dataset.
  */
final class RegistryWorkload extends Workload {
  import RegistryWorkload._

  val steadyPasses = 2

  private lazy val fns = {
    val all = SparkEntry.queries
    Queries.map(n => n -> all(n))
  }
  private var expected: Map[String, (Long, Option[Long])] = Map.empty

  def warmup(spark: SparkSession, o: Opts): Unit = {
    if (expected.isEmpty && Files.exists(Paths.get(o.expected)))
      expected = readExpected(o.expected)
    TableNames.foreach(t => spark.read.parquet(s"${o.data}/$t.parquet").count())
  }

  /** One query: build its DataFrame, then plan and execute the checksum.
    * Returns the op, its checksum, and its span ids and times.
    */
  private def runOne(ctx: Ctx, name: String,
                     fn: (SparkSession, String) => DataFrame,
                     traced: Boolean): (Op, Option[(Long, Option[Long])], Timed) = {
    CacheScope.harness.release()
    ctx.spark.catalog.clearCache()
    val spans = ctx.spans
    val ids = (spans.newId(), spans.newId(), spans.newId())
    val t0 = Clock.nowMs
    var t1 = t0
    val res =
      try {
        val df = ctx.tagged(ids._2, traced)(fn(ctx.spark, ctx.o.data))
        t1 = Clock.nowMs
        Some(ctx.tagged(ids._3, traced)(Bench.checksum(df)))
      } catch {
        case NonFatal(e) =>
          ctx.fail(s"$name threw ${e.getClass.getName}: ${e.getMessage}")
          None
      }
    val t2 = Clock.nowMs
    if (res.isEmpty) t1 = t2
    (Op(name, t0, t2, res.isDefined), res, Timed(ids, t0, t1, t2))
  }

  def pass(ctx: Ctx, index: Int, passId: Long, traced: Boolean): Ran = {
    val order = new scala.util.Random(ctx.o.seed * 1000003L + index).shuffle(fns)
    val results = order.map { case (name, fn) => runOne(ctx, name, fn, traced) }
    val ops = results.map(_._1)
    val layers = ctx.trace.filter(_ => traced) match {
      case None => Map.empty[String, Double]
      case Some(t) =>
        t.quiesce()
        val spans = ctx.spans
        val eager = results.map { case (op, _, Timed((opId, buildId, execId), t0, t1, t2)) =>
          // planning ends where the checksum query's Catalyst phases end
          val planEnd = t.planning(t1, t2).map(_._2.toDouble)
            .filter(_ <= t2).foldLeft(t1)(math.max)
          spans.add(Span(opId, passId, "op", op.name, t0, t2))
          spans.add(Span(buildId, opId, "build", op.name, t0, t1))
          spans.add(Span(spans.newId(), opId, "plan", op.name, t1, planEnd))
          spans.add(Span(execId, opId, "execute", op.name, planEnd, t2))
          t.jobs(t0, t1).count(_.parent == buildId).toDouble
        }
        Map("registry.build_ms" -> results.map(r => r._3.t1 - r._3.t0).sum,
          "registry.eager_jobs" -> eager.sum)
    }
    Ran(ops, layers, results.map { case (op, res, _) =>
      () => res.exists(r => matches(op.name, r, ctx))
    })
  }

  private def matches(name: String, got: (Long, Option[Long]), ctx: Ctx): Boolean =
    expected.get(name) match {
      case None =>
        ctx.fail(s"$name has no expected checksum"); false
      case Some((rows, chk)) =>
        val ok = got._1 == rows && chk.forall(c => got._2.contains(c))
        if (!ok) ctx.fail(s"$name returned $got, expected ($rows, ${chk.getOrElse("any")})")
        ok
    }
}

object RegistryWorkload {
  /** Span ids (op, build, execute) and the op's start, build end and end. */
  final case class Timed(ids: (Long, Long, Long), t0: Double, t1: Double, t2: Double)

  val TableNames: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** The measured queries: the reference's relational surface (the
    * flagship combined join, a TPC-H multi-join) and the LLM-data
    * operators over `documents` (MinHash dedup, BPE tokens, the KN
    * trigram LM with its long job chain).
    */
  val Queries: Seq[String] = Seq(
    "j01_combined", "j19_tpch_q5", "d02_minhash_neardup", "t12_bpe_tokens",
    "t30_kn_trigram_lm")

  val Layers: Seq[String] = Seq("registry.build_ms", "registry.eager_jobs",
    "self.build_ms", "self.plan_ms", "self.execute_ms")

  /** `name<TAB>rows<TAB>checksum`, checksum `-` when only rows are stable. */
  def readExpected(file: String): Map[String, (Long, Option[Long])] =
    Files.readAllLines(Paths.get(file)).asScala.toSeq
      .filterNot(l => l.isBlank || l.startsWith("#")).map { l =>
        val Array(n, r, c) = l.split("\t")
        n -> (r.toLong, if (c == "-" || c == "null") None else Some(c.toLong))
      }.toMap

  /** Runs every query of the workload twice, in two orders, and records its
    * checksum; a checksum that differs between the runs is recorded as
    * rows-only.
    */
  def makeExpected(spark: SparkSession, o: Opts, file: String): Unit = {
    def once(order: Seq[String]): Map[String, (Long, Option[Long])] =
      order.map { n =>
        CacheScope.harness.release()
        spark.catalog.clearCache()
        n -> Bench.checksum(SparkEntry.queries(n)(spark, o.data))
      }.toMap
    val a = once(Queries)
    val b = once(Queries.reverse)
    val lines = Queries.map { n =>
      require(a(n)._1 == b(n)._1, s"$n: row count differs between runs")
      val chk = if (a(n)._2 == b(n)._2) a(n)._2.map(_.toString).getOrElse("null") else "-"
      s"$n\t${a(n)._1}\t$chk"
    }
    val header = "# query\trows\txxhash64 sum (Bench.checksum) over the generated " +
      "registry tables; made by run.py --make-expected"
    Files.writeString(Paths.get(file), (header +: lines).mkString("", "\n", "\n"))
  }
}

/** The reference's own job: `Pipeline.run` over generated raw fixtures and
  * team-history CSVs. Each pass is one run; its `Stats` must equal what the
  * generator derived and its combined output must be identical across
  * passes.
  */
final class PipelineJob {
  private var expected: Map[String, String] = Map.empty
  private var firstDigest: Option[String] = None

  def warmup(spark: SparkSession, o: Opts): Unit = {
    expected = PipelineJob.readJson(s"${o.data}/expected.json")
    Pipeline.readCsv(spark, s"${o.data}/fixtures.csv", Tables.matches).count()
    Pipeline.readCsv(spark, s"${o.data}/history", Tables.teamHistory).count()
  }

  def pass(ctx: Ctx, passId: Long, traced: Boolean): Ran = {
    val o = ctx.o
    val outDir = s"${o.out}/pipeline-out"
    val cfg = Pipeline.Config(
      fixturesPath = s"${o.data}/fixtures.csv",
      historyPath = s"${o.data}/history",
      outDir = outDir,
      today = expected("today"))
    val opId = ctx.spans.newId()
    val t0 = Clock.nowMs
    val stats =
      try Some(ctx.tagged(opId, traced)(Pipeline.run(ctx.spark, cfg)))
      catch {
        case NonFatal(e) =>
          ctx.fail(s"Pipeline.run threw ${e.getClass.getName}: ${e.getMessage}")
          None
      }
    val t1 = Clock.nowMs
    val layers = ctx.trace.filter(_ => traced) match {
      case None => Map.empty[String, Double]
      case Some(t) =>
        t.quiesce()
        ctx.spans.add(Span(opId, passId, "op", "Pipeline.run", t0, t1))
        PipelineJob.stageSpans(ctx.spans, opId, t.jobs(t0, t1), t0, t1)
          .map(s => s"pipeline.${s.name}_ms" -> s.ms).toMap
    }
    Ran(Seq(Op("Pipeline.run", t0, t1, stats.isDefined)), layers,
      Seq(() => stats.exists(s => check(ctx, s, outDir))))
  }

  private def check(ctx: Ctx, s: Pipeline.Stats, outDir: String): Boolean = {
    val got = Map(
      "fixtures_count" -> s.fixturesCount.toString,
      "teams_count" -> s.teamsCount.toString,
      "joined_records" -> s.joinedRecords.toString,
      "leagues_covered" -> s.leaguesCovered.toString,
      "start_date" -> s.startDate,
      "end_date" -> s.endDate)
    val bad = got.filter { case (k, v) => expected(k) != v }
    val completionOk =
      math.abs(s.dataCompletion - expected("data_completion").toDouble) < 1e-12
    val digest = PipelineJob.csvDigest(Paths.get(outDir, "football_data"))
    if (firstDigest.isEmpty) firstDigest = Some(digest)
    val same = firstDigest.contains(digest)
    if (bad.nonEmpty || !completionOk)
      ctx.fail(s"Pipeline stats $got / ${s.dataCompletion} differ from $expected")
    if (!same) ctx.fail("Pipeline combined output changed between passes")
    bad.isEmpty && completionOk && same
  }

  def info(warm: Seq[Pass]): Map[String, Double] = {
    val rows = expected("input_rows").toDouble
    val runMs = warm.flatMap(_.ops).filter(_.name == "Pipeline.run").map(_.ms)
    Map("pipeline_input_rows" -> rows,
      "pipeline_run_ms" -> Main.median(runMs),
      "pipeline_rows_per_s" -> rows / Main.median(runMs) * 1e3)
  }
}

object PipelineJob {
  val Stages: Seq[String] = Seq("fixtures", "history", "combined", "stats")
  val Layers: Seq[String] = Stages.map(s => s"pipeline.${s}_ms") :+ "self.stage_ms"

  private val RunStagesLine = """graft\.Pipeline\$\.runStages\(Pipeline\.scala:(\d+)\)""".r
  private val SinkFrame = "graft.Pipeline$.writeCsv("

  /** Splits a `Pipeline.run` span into its four stages. Jobs submitted
    * from the caller's thread carry a call site through `runStages`; the
    * three CSV sinks are those whose stack passes through `writeCsv`, and
    * their `runStages` lines are the stage boundaries (fixtures sink,
    * history sink, combined sink, then stats). A stage ends when its last
    * such job ends, so the stages tile the run and the adaptive-execution
    * jobs submitted from Spark's own threads fall inside their stage.
    */
  def stageSpans(spans: Spans, opId: Long, jobs: Seq[JobRec],
                 t0: Double, t1: Double): Seq[Span] = {
    val placed = jobs.flatMap(j =>
      RunStagesLine.findFirstMatchIn(j.callSite).map(m => (j, m.group(1).toInt)))
    val sinkLines = placed.filter(_._1.callSite.contains(SinkFrame))
      .map(_._2).distinct.sorted
    if (sinkLines.size != 3) return Nil
    def stage(l: Int): Int =
      if (l < sinkLines(1)) 0 else if (l == sinkLines(1)) 1
      else if (l <= sinkLines(2)) 2 else 3
    val lastEnd = placed.groupBy { case (_, l) => stage(l) }
      .map { case (s, xs) => s -> xs.map(_._1.end.toDouble).max }
    var from = t0
    Stages.indices.map { i =>
      val to = if (i == Stages.size - 1) t1 else math.max(from, lastEnd.getOrElse(i, from))
      val span = spans.add(Span(spans.newId(), opId, "stage", Stages(i), from, to))
      from = to
      span
    }
  }

  /** SHA-256 over the sorted data lines of a CSV sink's part files. */
  def csvDigest(dir: Path): String = {
    val lines = Files.list(dir).iterator().asScala.toSeq
      .filter(p => p.getFileName.toString.startsWith("part-"))
      .flatMap(p => Files.readAllLines(p, StandardCharsets.UTF_8).asScala.drop(1))
      .sorted
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes(StandardCharsets.UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Flat JSON object of numbers and strings → key -> text. */
  def readJson(file: String): Map[String, String] = {
    val s = Files.readString(Paths.get(file))
    """"([^"]+)"\s*:\s*("([^"]*)"|[-0-9.eE+]+)""".r.findAllMatchIn(s).map { m =>
      m.group(1) -> Option(m.group(3)).getOrElse(m.group(2))
    }.toMap
  }
}

/** An AvailableNow file-source stream over a backlog of equal event files,
  * one file per micro-batch, through `EventStream.windowedCounts` into the
  * parquet sink of `EventStream.writeCounts`. Each pass drains the whole
  * backlog from a fresh checkpoint; the output must equal the batch
  * `windowedCounts` over the same files, on every window the final
  * watermark has closed.
  */
final class StreamJob {
  import StreamJob._

  private var inputRows = 0L
  private var reference: Map[Long, (Long, Option[Long])] = Map.empty

  def warmup(spark: SparkSession, o: Opts): Unit = {
    inputRows = spark.read.schema(Schema).parquet(s"${o.data}/events").count()
  }

  def pass(ctx: Ctx, passId: Long, traced: Boolean): Ran = {
    val spark = ctx.spark
    val o = ctx.o
    val sink = s"${o.out}/stream-out"
    val ckpt = s"${o.out}/stream-ckpt"
    val t0 = Clock.nowMs
    val drained =
      try {
        val q = ctx.tagged(passId, traced) {
          val src = spark.readStream.schema(Schema)
            .option("maxFilesPerTrigger", 1).parquet(s"${o.data}/events")
          EventStream.writeCounts(EventStream.windowedCounts(src), sink, ckpt).start()
        }
        try q.awaitTermination() finally q.stop()
        Some(q.recentProgress.toSeq)
      } catch {
        case NonFatal(e) =>
          ctx.fail(s"stream threw ${e.getClass.getName}: ${e.getMessage}")
          None
      }
    val t1 = Clock.nowMs
    val progress = drained.getOrElse(Nil)
    val batches = progress.filter(_.numInputRows > 0).map { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      Op(s"batch ${p.batchId}", start, start + p.durationMs.get("triggerExecution").toDouble, true)
    }
    val ops = if (drained.isEmpty) Seq(Op("stream", t0, t1, false)) else batches
    val layers = if (!traced || drained.isEmpty) Map.empty[String, Double] else {
      batches.foreach(b => ctx.spans.add(Span(ctx.spans.newId(), passId, "op", b.name, b.start, b.end)))
      def dur(k: String) = progress.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum
      val state = progress.lastOption.flatMap(_.stateOperators.headOption)
      Map(
        "streaming.batches" -> progress.size.toDouble,
        "streaming.add_batch_ms" -> dur("addBatch"),
        "streaming.query_planning_ms" -> dur("queryPlanning"),
        "streaming.wal_commit_ms" -> dur("walCommit"),
        "streaming.commit_offsets_ms" -> dur("commitOffsets"),
        "streaming.latest_offset_ms" -> dur("latestOffset"),
        "streaming.state_rows" -> state.map(_.numRowsTotal.toDouble).getOrElse(0.0),
        "streaming.state_bytes" -> state.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
        "streaming.rows_dropped_by_watermark" ->
          progress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark.toDouble).sum)
    }
    Ran(ops, layers, Seq { () =>
      val ok = drained.exists(check(ctx, _))
      Seq(sink, ckpt).foreach(p => deleteTree(Paths.get(p)))   // next pass starts fresh
      ok
    })
  }

  /** The sink holds exactly the batch result's windows that the final
    * watermark closed, and the stream dropped no row as late.
    */
  private def check(ctx: Ctx, progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]): Boolean = {
    val spark = ctx.spark
    val wm = progress.lastOption.flatMap(p => Option(p.eventTime.get("watermark")))
      .map(w => java.time.Instant.parse(w).toEpochMilli).getOrElse(0L)
    val want = reference.getOrElse(wm, {
      val all = EventStream.windowedCounts(
        spark.read.schema(Schema).parquet(s"${ctx.o.data}/events"))
      val closed = all.filter(
        col("window_start") + expr("INTERVAL 1 DAY") <= lit(new java.sql.Timestamp(wm)))
      val r = Bench.checksum(closed)
      reference += wm -> r
      r
    })
    val got = Bench.checksum(spark.read.parquet(s"${ctx.o.out}/stream-out"))
    val rows = progress.map(_.numInputRows).sum
    val dropped = progress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    val ok = got == want && want._1 > 0 && rows == inputRows && dropped == 0
    if (!ok) ctx.fail(s"stream output $got (input $rows rows, $dropped dropped) " +
      s"!= batch $want over $inputRows rows, watermark $wm")
    ok
  }

  /** Drain time: first micro-batch start to last micro-batch end. */
  def info(warm: Seq[Pass]): Map[String, Double] = {
    val batches = warm.map(_.ops.filter(_.name.startsWith("batch ")))
    val drainMs = batches.filter(_.nonEmpty).map(b => b.map(_.end).max - b.map(_.start).min)
    Map("stream_input_rows" -> inputRows.toDouble,
      "stream_rows_per_s" -> inputRows / Main.median(drainMs) * 1e3,
      "stream_batch_p50_ms" -> Main.median(batches.flatten.map(_.ms)))
  }
}

/** The reference's job end to end, in its batch and streaming forms: each
  * pass is one `Pipeline.run` over the fixtures and history CSVs, then one
  * drain of the event backlog (the streaming form of the reference's
  * per-day loop). Operations are the run and each micro-batch.
  */
final class ReferenceJobsWorkload extends Workload {
  val steadyPasses = 2
  private val pipeline = new PipelineJob
  private val stream = new StreamJob

  def warmup(spark: SparkSession, o: Opts): Unit = {
    pipeline.warmup(spark, o.copy(data = s"${o.data}/pipeline"))
    stream.warmup(spark, o.copy(data = s"${o.data}/stream"))
  }

  def pass(ctx: Ctx, index: Int, passId: Long, traced: Boolean): Ran = {
    val p = pipeline.pass(ctx.inputs("pipeline"), passId, traced)
    val s = stream.pass(ctx.inputs("stream"), passId, traced)
    Ran(p.ops ++ s.ops, p.layers ++ s.layers, p.checks ++ s.checks)
  }

  override def info(warm: Seq[Pass]): Map[String, Double] =
    pipeline.info(warm) ++ stream.info(warm)
}

object StreamJob {
  /** The sf0.1 `events` schema, with `ts` as TIMESTAMP (withWatermark
    * rejects TIMESTAMP_NTZ).
    */
  val Schema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  val Layers: Seq[String] = Seq("streaming.batches", "streaming.add_batch_ms",
    "streaming.query_planning_ms", "streaming.wal_commit_ms",
    "streaming.commit_offsets_ms", "streaming.latest_offset_ms",
    "streaming.state_rows", "streaming.state_bytes",
    "streaming.rows_dropped_by_watermark")

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.sortBy(-_.getNameCount)
        .foreach(Files.deleteIfExists)
}
