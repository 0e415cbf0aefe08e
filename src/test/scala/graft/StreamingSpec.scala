package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.EventStream

/** Structured-Streaming form of the daily incremental loop (SURVEY §2.9):
  * same windowedCounts logic runs batch and streaming.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val eventsDf = Seq(
    ("2024-01-01 01:00:00", "click", 1.0),
    ("2024-01-01 02:00:00", "click", 2.0),
    ("2024-01-01 03:00:00", "view", 5.0),
    ("2024-01-02 01:00:00", "click", 4.0)
  ).toDF("ts", "event_type", "value")
    .withColumn("ts", col("ts").cast("timestamp"))

  test("batch windowedCounts: daily tumbling windows, exact sums") {
    val out = EventStream.windowedCounts(eventsDf)
      .orderBy("window_start", "event_type").collect()
    assert(out.length == 3)
    assert(out(0).getAs[Long]("events") == 2)
    assert(out(0).getAs[Double]("total_value") == 3.0)
    assert(out(2).getAs[Long]("events") == 1)
    assert(out(2).getAs[Double]("total_value") == 4.0)
  }

  test("a repeated identical AvailableNow drain compiles no codegen class") {
    // Spark keys its codegen cache by (class loader, code). A streaming
    // start runs in a cloned session; with artifact isolation on, that
    // clone's tasks got a fresh class loader and every drain recompiled
    // the classes the previous one had compiled (GraftSession turns it off).
    val dir = Files.createTempDirectory("graft-codegen").toString
    Seq(Seq(("2024-01-01 01:00:00", "click", 1.0)),
        Seq(("2024-01-03 00:00:00", "view", 5.0))).foreach { data =>
      data.toDF("ts", "event_type", "value")
        .withColumn("ts", col("ts").cast("timestamp"))
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
    }
    def drain(run: Int): Unit = {
      val stream = EventStream.readEvents(spark, s"$dir/in",
        schema = eventsDf.schema, maxFilesPerTrigger = 1)
      EventStream.writeCounts(EventStream.windowedCounts(stream),
        s"$dir/out$run", s"$dir/cp$run").start().drain()
    }
    val compiled = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME
    drain(1)
    val before = compiled.getCount
    drain(2)
    assert(compiled.getCount == before,
      s"${compiled.getCount - before} classes compiled by the second drain")
    // the 2024-01-01 window closed, in both runs alike
    val outs = Seq(1, 2).map(r =>
      spark.read.parquet(s"$dir/out$r").collect().map(_.toString).toSeq)
    assert(outs(0).size == 1 && outs(1) == outs(0))
  }

  test("Append mode: a row later than the 1-day watermark is dropped") {
    // Two AvailableNow runs over one checkpoint: run 1 processes on-time
    // rows plus a 2024-01-03 row that advances the watermark to 01-02,
    // closing and emitting the 01-01 window. Run 2 appends a LATE row
    // inside that closed window; the persisted watermark must drop it —
    // the emitted 01-01 counts stay at 2 and the window is not re-emitted.
    val dir = Files.createTempDirectory("graft-late").toString
    val in = s"$dir/in"; val out = s"$dir/out"; val cp = s"$dir/cp"
    def append(data: Seq[(String, String, Double)]): Unit =
      data.toDF("ts", "event_type", "value")
        .withColumn("ts", col("ts").cast("timestamp"))
        .coalesce(1).write.mode("append").parquet(in)
    def runOnce(): Unit = {
      val stream = EventStream.readEvents(spark, in, schema = eventsDf.schema)
      val q = EventStream.writeCounts(
        EventStream.windowedCounts(stream), out, cp).start()
      q.drain()
    }
    append(Seq(
      ("2024-01-01 01:00:00", "click", 1.0),
      ("2024-01-01 02:00:00", "click", 2.0),
      ("2024-01-03 00:00:00", "view", 5.0)))
    runOnce()
    val run1 = spark.read.parquet(out)
      .filter(col("window_start") === "2024-01-01 00:00:00")
      .collect()
    assert(run1.length == 1 && run1(0).getAs[Long]("events") == 2,
      "run 1 must close and emit the 01-01 window via the no-data batch")

    append(Seq(("2024-01-01 12:00:00", "click", 100.0))) // late
    runOnce()
    val run2 = spark.read.parquet(out)
      .filter(col("window_start") === "2024-01-01 00:00:00")
      .collect()
    assert(run2.length == 1, "closed window must not be re-emitted")
    assert(run2(0).getAs[Long]("events") == 2 &&
      run2(0).getAs[Double]("total_value") == 3.0,
      "late row must be dropped by the persisted watermark")
  }

  test("readEvents admits maxFilesPerTrigger files per batch: a 6-file " +
      "backlog drains in 6 data batches and equals batch windowedCounts") {
    val dir = Files.createTempDirectory("graft-admission").toString
    val in = s"$dir/in"; val out = s"$dir/out"; val cp = s"$dir/cp"
    for (day <- 1 to 6)
      Seq((s"2024-01-0$day 01:00:00", "click", 1.0 * day),
        (s"2024-01-0$day 02:00:00", "click", 2.0),
        (s"2024-01-0$day 03:00:00", "view", 0.5))
        .toDF("ts", "event_type", "value")
        .withColumn("ts", col("ts").cast("timestamp"))
        .coalesce(1).write.mode("append").parquet(in)
    val q = EventStream.writeCounts(EventStream.windowedCounts(
      EventStream.readEvents(spark, in, schema = eventsDf.schema,
        maxFilesPerTrigger = 1)), out, cp).start()
    q.drain()
    val progress = q.recentProgress.toSeq
    assert(progress.filter(_.numInputRows > 0).map(_.numInputRows) ==
      Seq.fill(6)(3L), progress.map(_.numInputRows))
    assert(progress.flatMap(_.stateOperators)
      .map(_.numRowsDroppedByWatermark).sum == 0)
    // every window the final watermark closed is in the sink, equal to batch
    val watermark = java.sql.Timestamp.from(java.time.Instant.parse(
      progress.last.eventTime.get("watermark")))
    val batch = EventStream.windowedCounts(spark.read.parquet(in))
      .filter(col("window_start") + expr("INTERVAL 1 DAY") <= lit(watermark))
    val sink = spark.read.parquet(out)
    assert(sink.count() == 8, sink.collect().toSeq) // days 1-4, two types
    assert(sink.exceptAll(batch).isEmpty && batch.exceptAll(sink).isEmpty)
    intercept[IllegalArgumentException](
      EventStream.readEvents(spark, in, schema = eventsDf.schema,
        maxFilesPerTrigger = 0))
  }

  test("foreachBatch MERGE maintenance: change log folds into the lake table") {
    // The CDC shape end-to-end: a parquet change stream (inserts, updates,
    // tombstones) maintained into a query-ready table across TWO
    // AvailableNow drains of one checkpoint — batch 2 must merge into
    // batch 1's table, not rebuild it.
    val dir = Files.createTempDirectory("graft-maint").toString
    val in = s"$dir/in"; val table = s"$dir/table"; val cp = s"$dir/cp"
    def append(data: Seq[(Long, String, Long, Boolean)]): Unit =
      data.toDF("k", "name", "version", "del")
        .coalesce(1).write.mode("append").parquet(in)
    val schema = Seq((0L, "", 0L, false))
      .toDF("k", "name", "version", "del").schema
    def drain(): Unit =
      graft.sources.Lake.maintainUpsert(spark, in, schema, table, cp,
        keys = Seq("k"), versionCol = Some("version"),
        deleteCol = Some("del")).drain()

    append(Seq((1L, "a", 1L, false), (2L, "b", 1L, false)))
    drain()
    assert(spark.read.parquet(table).orderBy("k")
      .select("k", "name").as[(Long, String)].collect()
      .toSeq == Seq((1L, "a"), (2L, "b")))

    append(Seq((2L, "b2", 2L, false),  // update
      (1L, "a", 2L, true),             // tombstone delete
      (3L, "c", 2L, false)))           // insert
    drain()
    assert(spark.read.parquet(table).orderBy("k")
      .select("k", "name").as[(Long, String)].collect()
      .toSeq == Seq((2L, "b2"), (3L, "c")),
      "batch 2 must update 2, delete 1, insert 3 on top of batch 1's table")
  }

  test("maintainUpsert recovers a mid-swap crash: aside dir restores, no state lost") {
    // Simulate a crash BETWEEN the two swap renames: after drain 1 the
    // live dir is moved aside (exactly the on-disk state if the process
    // died after `live -> old` but before `tmp -> live`). The next batch
    // must restore the aside as the base and merge on top of it — NOT
    // silently rebuild the table from the new batch alone.
    val dir = Files.createTempDirectory("graft-crash").toString
    val in = s"$dir/in"; val table = s"$dir/table"; val cp = s"$dir/cp"
    def append(data: Seq[(Long, String, Long, Boolean)]): Unit =
      data.toDF("k", "name", "version", "del")
        .coalesce(1).write.mode("append").parquet(in)
    val schema = Seq((0L, "", 0L, false))
      .toDF("k", "name", "version", "del").schema
    def drain(): Unit =
      graft.sources.Lake.maintainUpsert(spark, in, schema, table, cp,
        keys = Seq("k"), versionCol = Some("version"),
        deleteCol = Some("del")).drain()

    append(Seq((1L, "a", 1L, false), (2L, "b", 1L, false)))
    drain()
    // crash simulation: live gone, merged state only in the aside
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(table),
      new org.apache.hadoop.fs.Path(s"$table.old-0")))
    append(Seq((3L, "c", 2L, false)))
    drain()
    assert(spark.read.parquet(table).orderBy("k")
      .select("k", "name").as[(Long, String)].collect()
      .toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")),
      "batch after a simulated mid-swap crash must merge onto the aside")
    // the swap leaves no aside/tmp litter once complete
    assert(fs.globStatus(new org.apache.hadoop.fs.Path(s"$table.old-*"))
      .isEmpty && fs.globStatus(
        new org.apache.hadoop.fs.Path(s"$table.tmp-*")).isEmpty)
  }

  test("transformWithState TTL: idle key state expires and the counter restarts") {
    // ttl != NONE must run under TimeMode.ProcessingTime (under
    // TimeMode.None Spark rejects the TTL at query start), and the TTL
    // must actually expire state: drain, idle past the TTL, drain again
    // — the second batch's counter restarts at 1 instead of continuing.
    val dir = Files.createTempDirectory("graft-ttl").toString
    val in = s"$dir/in"; val out = s"$dir/out"; val cp = s"$dir/cp"
    val schema = Seq((0L, 0.0)).toDF("user_id", "value").schema
    def append(data: Seq[(Long, Double)]): Unit =
      data.toDF("user_id", "value")
        .coalesce(1).write.mode("append").parquet(in)
    val prior = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    graft.streaming.RunningSpend.requiredConfs(spark)
    try {
      val ttl = org.apache.spark.sql.streaming.TTLConfig(
        java.time.Duration.ofSeconds(2))
      def drain(): Unit = {
        val stream = spark.readStream.schema(schema).parquet(in)
        val q = graft.streaming.RunningSpend.updates(stream, ttl)
          .writeStream.outputMode("update")
          .option("checkpointLocation", cp)
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[
              graft.streaming.RunningSpend.SpendUpdate], _: Long) =>
            batch.write.mode("append").parquet(out); ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.drainAvailable()
      }
      append(Seq((1L, 1.00)))
      drain()
      Thread.sleep(4000) // idle past the 2 s TTL
      append(Seq((1L, 2.00)))
      drain()
      val rows = spark.read.parquet(out).orderBy("total_cents")
        .as[graft.streaming.RunningSpend.SpendUpdate].collect().toSeq
      assert(rows == Seq(
        graft.streaming.RunningSpend.SpendUpdate(1L, 1L, 100L),
        graft.streaming.RunningSpend.SpendUpdate(1L, 1L, 200L)),
        s"expired state must restart the counter, got $rows")
    } finally {
      prior match {
        case Some(v) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("transformWithState: running spend state survives across drains (RocksDB)") {
    val dir = Files.createTempDirectory("graft-tws").toString
    val in = s"$dir/in"; val out = s"$dir/out"; val cp = s"$dir/cp"
    val schema = Seq((0L, 0.0)).toDF("user_id", "value").schema
    def append(data: Seq[(Long, Double)]): Unit =
      data.toDF("user_id", "value")
        .coalesce(1).write.mode("append").parquet(in)
    val prior = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    graft.streaming.RunningSpend.requiredConfs(spark)
    try {
      def drain(): Unit = {
        val stream = spark.readStream.schema(schema).parquet(in)
        val q = graft.streaming.RunningSpend.updates(stream)
          .writeStream.outputMode("update")
          .option("checkpointLocation", cp)
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[
              graft.streaming.RunningSpend.SpendUpdate], _: Long) =>
            batch.write.mode("append").parquet(out); ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.drain()
      }
      append(Seq((1L, 1.25), (1L, 2.00), (2L, 0.50)))
      drain()
      append(Seq((1L, 0.25), (3L, 9.99)))
      drain()
      // last emitted row per user = exact running totals across BOTH drains
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("events").desc)
      val finalsMap = spark.read.parquet(out)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(finalsMap == Map(
        1L -> (3L, 350L),   // 125 + 200 (+ 25 in drain 2) — state persisted
        2L -> (1L, 50L),
        3L -> (1L, 999L)), finalsMap.toString)
    } finally {
      prior match {
        case Some(v) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("timer-driven sessionization: idle key's session emits from the timer wheel") {
    // Key 1 receives events, then goes silent. No later event for key 1
    // ever arrives — its session must still emit, fired by the store's
    // processing-time timer during a later batch (here triggered by an
    // unrelated key). This is the capability session_window cannot
    // express (its close needs the event-time watermark to advance).
    val dir = Files.createTempDirectory("graft-sesstimer").toString
    val in = s"$dir/in"; val out = s"$dir/out"; val cp = s"$dir/cp"
    val schema = Seq((0L, 0.0)).toDF("user_id", "value").schema
    def append(data: Seq[(Long, Double)]): Unit =
      data.toDF("user_id", "value")
        .coalesce(1).write.mode("append").parquet(in)
    val prior = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    graft.streaming.RunningSpend.requiredConfs(spark)
    try {
      def drain(): Unit = {
        val stream = spark.readStream.schema(schema).parquet(in)
        val q = graft.streaming.SessionTimeout.sessions(stream, gapMs = 2000)
          .writeStream.outputMode("append")
          .option("checkpointLocation", cp)
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[
              graft.streaming.SessionTimeout.SessionOut], _: Long) =>
            batch.write.mode("append").parquet(out); ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.drainAvailable()
      }
      append(Seq((1L, 1.25), (1L, 2.00)))
      drain() // session open, timer armed (handleInputRows emits nothing)
      Thread.sleep(4000) // idle past the 2 s gap
      append(Seq((9L, 0.10))) // unrelated key drives the next batch
      drain() // key 1's expired timer fires during this batch
      val rows = spark.read.parquet(out)
        .filter(col("user_id") === 1L)
        .as[graft.streaming.SessionTimeout.SessionOut].collect().toSeq
      assert(rows == Seq(
        graft.streaming.SessionTimeout.SessionOut(1L, 2L, 325L)),
        s"idle key's completed session must emit exactly once, got $rows")
      // and the state was cleared: a NEW key-1 event starts a fresh session
      Thread.sleep(4000)
      append(Seq((1L, 0.50)))
      drain() // folds the new event; key 9 + old key 1 timers may fire
      Thread.sleep(4000)
      append(Seq((8L, 0.01)))
      drain() // fires key 1's fresh-session timer
      val again = spark.read.parquet(out)
        .filter(col("user_id") === 1L).orderBy("total_cents")
        .as[graft.streaming.SessionTimeout.SessionOut].collect().toSeq
      assert(again == Seq(
        graft.streaming.SessionTimeout.SessionOut(1L, 1L, 50L),
        graft.streaming.SessionTimeout.SessionOut(1L, 2L, 325L)),
        s"cleared state must restart, not resume: $again")
    } finally {
      prior match {
        case Some(v) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("sparse-trigger sessionization: late input closes the stale session, not extends it") {
    // No batch runs between a key's last event and a new event arriving
    // past the gap — the timer never had a chance to fire (the common
    // case under cron/AvailableNow triggers). The input-side staleness
    // check must emit the old session and start a fresh one, rather than
    // silently merging the two.
    val dir = Files.createTempDirectory("graft-sessparse").toString
    val in = s"$dir/in"; val out = s"$dir/out"; val cp = s"$dir/cp"
    val schema = Seq((0L, 0.0)).toDF("user_id", "value").schema
    def append(data: Seq[(Long, Double)]): Unit =
      data.toDF("user_id", "value")
        .coalesce(1).write.mode("append").parquet(in)
    val prior = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    graft.streaming.RunningSpend.requiredConfs(spark)
    try {
      def drain(): Unit = {
        val stream = spark.readStream.schema(schema).parquet(in)
        val q = graft.streaming.SessionTimeout.sessions(stream, gapMs = 2000)
          .writeStream.outputMode("append")
          .option("checkpointLocation", cp)
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[
              graft.streaming.SessionTimeout.SessionOut], _: Long) =>
            batch.write.mode("append").parquet(out); ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.drainAvailable()
      }
      append(Seq((1L, 1.00), (1L, 0.50)))
      drain() // session (2 events, 150¢) open, timer armed
      Thread.sleep(4000) // idle past the 2 s gap with NO intervening batch
      append(Seq((1L, 0.25)))
      drain() // the input path itself must close the stale session
      val rows = spark.read.parquet(out)
        .filter(col("user_id") === 1L)
        .as[graft.streaming.SessionTimeout.SessionOut].collect().toSeq
      // the old session closed AS IT WAS (2 events, 150¢) — the late
      // event did NOT merge into it. (The fresh 1-event session may
      // have already closed too if its own 2 s timer elapsed during
      // the drain's batches; that's timing, not semantics.)
      assert(rows.contains(
        graft.streaming.SessionTimeout.SessionOut(1L, 2L, 150L)),
        s"stale session must close unmerged on late input, got $rows")
      assert(!rows.exists(r => r.events == 3L),
        s"late event must not merge into the stale session: $rows")
      // the 0.25 event's FRESH session closes from the timer
      Thread.sleep(4000)
      append(Seq((7L, 0.01))) // unrelated key drives the firing batch
      drain()
      val again = spark.read.parquet(out)
        .filter(col("user_id") === 1L).orderBy("total_cents")
        .as[graft.streaming.SessionTimeout.SessionOut].collect().toSeq
      assert(again == Seq(
        graft.streaming.SessionTimeout.SessionOut(1L, 1L, 25L),
        graft.streaming.SessionTimeout.SessionOut(1L, 2L, 150L)),
        s"late event must open a fresh session: $again")
    } finally {
      prior match {
        case Some(v) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("state-store reader: checkpointed transformWithState state is queryable as a DataFrame") {
    // Spark 4's statestore data source — the ops surface for streaming
    // state: inspect (audit, debug, backfill) the RocksDB state of a
    // checkpoint WITHOUT replaying the stream. Drain the running-spend
    // query, then read its value state by variable name and check it
    // equals the exact per-key totals the stream computed.
    val dir = Files.createTempDirectory("graft-ssread").toString
    val in = s"$dir/in"; val out = s"$dir/out"; val cp = s"$dir/cp"
    val schema = Seq((0L, 0.0)).toDF("user_id", "value").schema
    val prior = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    graft.streaming.RunningSpend.requiredConfs(spark)
    try {
      Seq((1L, 1.25), (1L, 2.00), (2L, 0.50)).toDF("user_id", "value")
        .coalesce(1).write.mode("append").parquet(in)
      val q = graft.streaming.RunningSpend.updates(
          spark.readStream.schema(schema).parquet(in))
        .writeStream.outputMode("update")
        .option("checkpointLocation", cp)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[
            graft.streaming.RunningSpend.SpendUpdate], _: Long) =>
          batch.write.mode("append").parquet(out); ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.drain()
      val state = spark.read.format("statestore")
        .option("path", cp)
        .option("stateVarName", "spend")
        .load()
      val rows = state
        .select(col("key.value").as("user_id"),
          col("value.events").as("events"),
          col("value.total_cents").as("cents"))
        .orderBy("user_id")
        .as[(Long, Long, Long)].collect().toSeq
      assert(rows == Seq((1L, 2L, 325L), (2L, 1L, 50L)),
        s"state read back from the checkpoint must equal the stream's exact totals: $rows")
    } finally {
      prior match {
        case Some(v) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("state-store reader: LIST state (last-k ring) reads back flattened by element") {
    // The statestore source over a ListState variable: one row per
    // element with flattenCollectionTypes (the audit/backfill shape for
    // bounded per-key feature rings).
    val dir = Files.createTempDirectory("graft-ssl").toString
    val in = s"$dir/in"; val out = s"$dir/out"; val cp = s"$dir/cp"
    val schema = Seq((0L, 0.0)).toDF("user_id", "value").schema
    val prior = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    graft.streaming.RunningSpend.requiredConfs(spark)
    try {
      def drain(): Unit = {
        val q = graft.streaming.RecentEvents.features(
            spark.readStream.schema(schema).parquet(in), k = 3)
          .writeStream.outputMode("append")
          .option("checkpointLocation", cp)
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[
              graft.streaming.RecentEvents.Feature], _: Long) =>
            batch.write.mode("append").parquet(out); ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.drain()
      }
      Seq((1L, 0.10), (1L, 0.20), (2L, 0.50)).toDF("user_id", "value")
        .coalesce(1).write.mode("append").parquet(in)
      drain()
      Seq((1L, 0.30), (1L, 0.40)).toDF("user_id", "value")
        .coalesce(1).write.mode("append").parquet(in)
      drain() // key 1 ring trims to last 3: (20, 30, 40)
      // the emitted features saw the trimmed ring
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("recent_cents").desc)
      val finals = spark.read.parquet(out)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("user_id", "n_recent", "recent_cents")
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      assert(finals == Map(1L -> (3L, 90L), 2L -> (1L, 50L)),
        s"trimmed ring features: $finals")
      // offline audit: the checkpoint's list state, element-flattened
      val state = spark.read.format("statestore")
        .option("path", cp)
        .option("stateVarName", "recent")
        .option("flattenCollectionTypes", "true")
        .load()
        .select(col("key.value").as("user_id"),
          col("list_element.value").as("cents"))
        .as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      assert(state == Map(1L -> Set(20L, 30L, 40L), 2L -> Set(50L)),
        s"list state must hold exactly the trimmed ring: $state")
    } finally {
      prior match {
        case Some(v) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("state-store reader: registered TIMERS of an open session are auditable") {
    val dir = Files.createTempDirectory("graft-sst").toString
    val in = s"$dir/in"; val out = s"$dir/out"; val cp = s"$dir/cp"
    val schema = Seq((0L, 0.0)).toDF("user_id", "value").schema
    val prior = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    graft.streaming.RunningSpend.requiredConfs(spark)
    try {
      Seq((5L, 1.00)).toDF("user_id", "value")
        .coalesce(1).write.mode("append").parquet(in)
      val armMs = System.currentTimeMillis()
      val q = graft.streaming.SessionTimeout.sessions(
          spark.readStream.schema(schema).parquet(in), gapMs = 3600000L)
        .writeStream.outputMode("append")
        .option("checkpointLocation", cp)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[
            graft.streaming.SessionTimeout.SessionOut], _: Long) =>
          batch.write.mode("append").parquet(out); ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.drainAvailable()
      val timers = spark.read.format("statestore")
        .option("path", cp)
        .option("readRegisteredTimers", "true")
        .load()
        .select(col("key.value").as("user_id"),
          col("expiration_timestamp_ms").as("deadline_ms"))
        .as[(Long, Long)].collect().toSeq
      // exactly the one open session's timer, armed ~gapMs after the
      // batch ran (the batch runs at/after armMs; slack absorbs clock
      // granularity either side)
      assert(timers.map(_._1) == Seq(5L), s"timer keys: $timers")
      val deadline = timers.head._2
      assert(deadline >= armMs + 3500000L &&
          deadline <= System.currentTimeMillis() + 3700000L,
        s"deadline $deadline not ~1h after arm time $armMs")
    } finally {
      prior match {
        case Some(v) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming dedup: duplicates within the watermark are dropped") {
    val dir = Files.createTempDirectory("graft-dedup").toString
    val in = s"$dir/in"; val out = s"$dir/out"; val cp = s"$dir/cp"
    val withId = Seq(
      ("e1", "2024-01-01 01:00:00", 1.0),
      ("e1", "2024-01-01 01:05:00", 1.0), // duplicate id, same batch
      ("e2", "2024-01-01 02:00:00", 2.0)
    ).toDF("event_id", "ts", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
    withId.coalesce(1).write.mode("append").parquet(in)
    def runOnce(): Unit = {
      val stream = EventStream.readEvents(spark, in, schema = withId.schema)
      val q = EventStream.dedupedEvents(stream, "event_id").writeStream
        .format("parquet").option("path", out)
        .option("checkpointLocation", cp)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.drain()
    }
    runOnce()
    assert(spark.read.parquet(out).select("event_id").distinct().count() == 2)
    assert(spark.read.parquet(out).count() == 2, "in-batch duplicate kept")

    // a re-delivery of e1 in a later batch, still within the watermark,
    // must be dropped by the persisted dedup state
    Seq(("e1", "2024-01-01 03:00:00", 1.0), ("e3", "2024-01-01 04:00:00", 3.0))
      .toDF("event_id", "ts", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
      .coalesce(1).write.mode("append").parquet(in)
    runOnce()
    val ids = spark.read.parquet(out).groupBy("event_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ids == Map("e1" -> 1L, "e2" -> 1L, "e3" -> 1L),
      s"cross-batch duplicate not dropped: $ids")
  }

  test("session windows close and emit via the watermark (Append)") {
    val dir = Files.createTempDirectory("graft-session").toString
    val in = s"$dir/in"; val out = s"$dir/out"; val cp = s"$dir/cp"
    // two click sessions (10:00+10:10 merge; 11:30 is past the 30-min
    // gap) plus a next-day row that advances the watermark past both
    val data = Seq(
      ("2024-01-01 10:00:00", "click", 1.0),
      ("2024-01-01 10:10:00", "click", 1.0),
      ("2024-01-01 11:30:00", "click", 1.0),
      ("2024-01-02 09:00:00", "view", 1.0)
    ).toDF("ts", "event_type", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
    data.coalesce(1).write.parquet(in)
    val stream = EventStream.readEvents(spark, in, schema = data.schema)
    val q = EventStream.sessionCounts(stream).writeStream
      .format("parquet").option("path", out)
      .option("checkpointLocation", cp)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.drain()
    val rows = spark.read.parquet(out)
      .orderBy("session_start")
      .collect()
      .map(r => (r.getAs[java.sql.Timestamp]("session_start").toString,
        r.getAs[java.sql.Timestamp]("session_end").toString,
        r.getAs[Long]("events")))
    // only the CLOSED click sessions are emitted; the view session is
    // still open (watermark has not passed its end)
    assert(rows.toSeq == Seq(
      ("2024-01-01 10:00:00.0", "2024-01-01 10:40:00.0", 2L),
      ("2024-01-01 11:30:00.0", "2024-01-01 12:00:00.0", 1L)), rows.toSeq)
  }

  test("stream-static enrichment join runs as a real Append stream") {
    val dir = Files.createTempDirectory("graft-enrich").toString
    val in = s"$dir/in"; val out = s"$dir/out"; val cp = s"$dir/cp"
    val dim = Seq((10L, "RETAIL"), (20L, "AUTO")).toDF("k", "segment")
    val data = Seq(
      ("2024-01-01 01:00:00", 10L, 1.0),
      ("2024-01-01 02:00:00", 10L, 2.0),
      ("2024-01-01 03:00:00", 20L, 5.0),
      ("2024-01-01 04:00:00", 99L, 7.0), // no dim row → UNKNOWN
      ("2024-01-03 00:00:00", 10L, 1.0)  // advances watermark, closes 01-01
    ).toDF("ts", "user_id", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
    data.coalesce(1).write.parquet(in)
    val stream = EventStream.readEvents(spark, in, schema = data.schema)
    val q = EventStream.enrichedCounts(stream, dim, "user_id", "k", "segment")
      .writeStream
      .format("parquet").option("path", out)
      .option("checkpointLocation", cp)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.drain()
    val rows = spark.read.parquet(out)
      .filter(col("window_start") === "2024-01-01 00:00:00")
      .orderBy("segment")
      .collect()
      .map(r => (r.getAs[String]("segment"), r.getAs[Long]("events"),
        r.getAs[Double]("total_value")))
    assert(rows.toSeq == Seq(("AUTO", 1L, 5.0), ("RETAIL", 2L, 3.0),
      ("UNKNOWN", 1L, 7.0)), rows.toSeq)
  }

  test("stream-stream join matches within the time bound, drops outside") {
    val dir = Files.createTempDirectory("graft-ssj").toString
    val inL = s"$dir/clicks"; val inR = s"$dir/buys"
    val out = s"$dir/out"; val cp = s"$dir/cp"
    def df(rows: Seq[(String, String, Long)]) =
      rows.toDF("event_id", "ts", "user_id")
        .withColumn("ts", col("ts").cast("timestamp"))
    df(Seq(
      ("c1", "2024-01-01 10:00:00", 1L),
      ("c2", "2024-01-01 12:00:00", 2L)
    )).coalesce(1).write.parquet(inL)
    df(Seq(
      ("p1", "2024-01-01 10:30:00", 1L), // within 1h of c1 → match
      ("p2", "2024-01-01 09:30:00", 1L), // BEFORE c1 → no match
      ("p3", "2024-01-01 14:00:00", 2L)  // 2h after c2 → outside bound
    )).coalesce(1).write.parquet(inR)
    val schema = df(Nil).schema
    val q = EventStream.attributionJoin(
        EventStream.readEvents(spark, inL, schema = schema),
        EventStream.readEvents(spark, inR, schema = schema), "user_id")
      .writeStream
      .format("parquet").option("path", out)
      .option("checkpointLocation", cp)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.drain()
    val rows = spark.read.parquet(out)
      .select("left_id", "right_id").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(rows.toSeq == Seq(("c1", "p1")), rows.toSeq)
  }

  test("stream-stream LEFT OUTER join: null row emits only after the " +
      "watermark finalizes no-match") {
    val dir = Files.createTempDirectory("graft-ssoj").toString
    val inL = s"$dir/clicks"; val inR = s"$dir/buys"
    val out = s"$dir/out"; val cp = s"$dir/cp"
    def df(rows: Seq[(String, String, Long)]) =
      rows.toDF("event_id", "ts", "user_id")
        .withColumn("ts", col("ts").cast("timestamp"))
    // sentinels at 13:00 advance BOTH watermarks to 12:50 (10 min delay)
    // — past c1's 11:00 no-match horizon but NOT past their own, so the
    // sentinels themselves must stay in state, not emit
    df(Seq(
      ("c1", "2024-01-01 10:00:00", 1L), // never matched → outer row
      ("c2", "2024-01-01 10:05:00", 2L), // matched by p2
      ("sl", "2024-01-01 13:00:00", 3L)
    )).coalesce(1).write.parquet(inL)
    df(Seq(
      ("p2", "2024-01-01 10:30:00", 2L),
      ("sr", "2024-01-01 13:00:00", 4L)
    )).coalesce(1).write.parquet(inR)
    val schema = df(Nil).schema
    val q = EventStream.attributionJoin(
        EventStream.readEvents(spark, inL, schema = schema),
        EventStream.readEvents(spark, inR, schema = schema), "user_id",
        delay = "10 minutes", joinType = "left_outer")
      .writeStream
      .format("parquet").option("path", out)
      .option("checkpointLocation", cp)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.drain()
    val rows = spark.read.parquet(out)
      .select("left_id", "right_id").collect()
      .map(r => (r.getString(0), Option(r.getString(1)))).toSet
    assert(rows == Set(("c1", None), ("c2", Some("p2"))), rows)
  }

  test("state-store reader: MAP state (category totals) reads back flattened by entry") {
    // The statestore source over a MapState variable: one row per map
    // entry with flattenCollectionTypes — the audit/backfill shape for
    // per-key categorical aggregates.
    val dir = Files.createTempDirectory("graft-ssm").toString
    val in = s"$dir/in"; val out = s"$dir/out"; val cp = s"$dir/cp"
    val schema = Seq((0L, "", 0.0)).toDF("user_id", "category", "value").schema
    val prior = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    graft.streaming.RunningSpend.requiredConfs(spark)
    try {
      def drain(): Unit = {
        val q = graft.streaming.CategorySpend.totals(
            spark.readStream.schema(schema).parquet(in))
          .writeStream.outputMode("append")
          .option("checkpointLocation", cp)
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[
              graft.streaming.CategorySpend.CatTotal], _: Long) =>
            batch.write.mode("append").parquet(out); ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.drain()
      }
      Seq((1L, "food", 1.25), (1L, "fuel", 2.00), (2L, "food", 0.50))
        .toDF("user_id", "category", "value")
        .coalesce(1).write.mode("append").parquet(in)
      drain()
      Seq((1L, "food", 0.75)).toDF("user_id", "category", "value")
        .coalesce(1).write.mode("append").parquet(in)
      drain() // user 1 food: 125 + 75 = 200; untouched categories persist
      // last emitted row per (user, category) reflects the running total
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id", "category")
        .orderBy(col("total_cents").desc)
      val finals = spark.read.parquet(out)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("user_id", "category", "total_cents")
        .as[(Long, String, Long)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      assert(finals == Map((1L, "food") -> 200L, (1L, "fuel") -> 200L,
          (2L, "food") -> 50L),
        s"running category totals: $finals")
      // offline audit: the checkpoint's map state, entry-flattened
      val state = spark.read.format("statestore")
        .option("path", cp)
        .option("stateVarName", "totals")
        .option("flattenCollectionTypes", "true")
        .load()
        .select(col("key.value").as("user_id"),
          col("user_map_key.value").as("category"),
          col("user_map_value.value").as("cents"))
        .as[(Long, String, Long)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      assert(state == Map((1L, "food") -> 200L, (1L, "fuel") -> 200L,
          (2L, "food") -> 50L),
        s"map state must hold exactly the running totals: $state")
    } finally {
      prior match {
        case Some(v) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming incremental near-dup: cross-batch pair caught, prior×prior never re-emitted") {
    // The streaming member of the incremental-dedup family: LSH-bucket
    // MapState (docId → packed signature), new docs probe only their own
    // buckets. Two drains: batch 1 files docs 1/2 (identical) + 3
    // (unrelated); batch 2 adds doc 4 (identical to 1/2) and must emit
    // ONLY pairs touching 4 — the (1,2) pair found in batch 1 is never
    // re-emitted, because prior×prior pairs are structurally impossible.
    val dir = Files.createTempDirectory("graft-snd").toString
    val in = s"$dir/in"; val out = s"$dir/out"; val cp = s"$dir/cp"
    val dup = "the quick brown fox jumps over the lazy dog again " +
      "and again until the corpus repeats itself entirely"
    val other = "completely different prose about spark structured " +
      "streaming state stores and rocksdb column families"
    val schema = Seq((0L, "")).toDF("doc_id", "text").schema
    val prior = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    graft.streaming.RunningSpend.requiredConfs(spark)
    try {
      def drain(): Unit = {
        val q = graft.streaming.StreamingNearDup.nearDups(
            spark.readStream.schema(schema).parquet(in),
            "text", "doc_id")
          .writeStream.outputMode("append")
          .option("checkpointLocation", cp)
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[
              graft.streaming.StreamingNearDup.CandPair], bid: Long) =>
            batch.withColumn("drain_batch", lit(bid))
              .write.mode("append").parquet(out); ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.drain()
      }
      Seq((1L, dup), (2L, dup), (3L, other)).toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(in)
      drain()
      Seq((4L, dup)).toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(in)
      drain()
      // per-bucket emission duplicates a multi-band pair — dedup like the
      // batch path's .distinct() on candidates, then split by drain
      val pairs = spark.read.parquet(out)
        .select("drain_batch", "id_a", "id_b", "vs", "est_jaccard")
        .as[(Long, Long, Long, String, Double)].collect()
      val b1 = pairs.filter(_._1 == 0).map(p => (p._2, p._3, p._4)).toSet
      val b2 = pairs.filter(_._1 == 1).map(p => (p._2, p._3, p._4)).toSet
      assert(b1 == Set((1L, 2L, "batch")), s"drain 1 pairs: $b1")
      assert(b2 == Set((4L, 1L, "prior"), (4L, 2L, "prior")),
        s"drain 2 must only contain pairs touching doc 4: $b2")
      // identical docs agree on every MinHash component
      assert(pairs.forall(_._5 == 1.0), pairs.mkString(", "))
      // offline audit of the bucket state: every doc is filed in all 8 of
      // its band buckets, signatures stored as 32 packed longs
      val state = spark.read.format("statestore")
        .option("path", cp)
        .option("stateVarName", "filed")
        .option("flattenCollectionTypes", "true")
        .load()
        .select(col("key.value").as("bucket"),
          col("user_map_key.value").as("doc_id"),
          col("user_map_value.value").as("sig"))
        .as[(Long, Long, Array[Byte])].collect()
      assert(state.map(_._2).toSet == Set(1L, 2L, 3L, 4L), state.length)
      assert(state.forall(_._3.length == 32 * 8))
      // docs 1/2/4 are identical → share all 8 buckets, each filed once
      val dupBuckets = state.filter(s => Set(1L, 2L, 4L)(s._2))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      assert(dupBuckets.size == 8 &&
        dupBuckets.values.forall(_ == Set(1L, 2L, 4L)), dupBuckets)
    } finally {
      prior match {
        case Some(v) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming near-dup through EXACT verify: estimator survivor killed, true dups kept") {
    // Composes nearDups (signature-agreement candidates out of MapState)
    // with verifyCandidates (exact k-shingle Jaccard against a batch
    // view of the growing corpus) via verifiedForeachBatch — the
    // documented downstream mirroring Dedup.incrementalNearDups' verify
    // stage. Batch 2 plants BOTH kinds of candidate: doc 4 (a true dup
    // of prior docs 1/2) and doc 5 (overlaps doc 3 enough to clear the
    // low minAgree estimator gate but whose EXACT Jaccard ~0.47 fails
    // the 0.7 threshold) — the verify stage must keep the former and
    // kill the latter, and prior×prior pairs never re-emit. Bands are
    // 16 (2 MinHash rows each) so a 0.57-Jaccard pair band-collides
    // with near-certainty (1 - (1-0.57^2)^16 ≈ 0.998) while the exact
    // gate still rejects it; everything is seed-fixed → deterministic.
    val dir = Files.createTempDirectory("graft-sndv").toString
    val in = s"$dir/in"; val raw = s"$dir/raw"; val ver = s"$dir/ver"
    val cp = s"$dir/cp"
    val dup = "the quick brown fox jumps over the lazy dog again " +
      "and again until the corpus repeats itself entirely"
    val other = "completely different prose about spark structured " +
      "streaming state stores and rocksdb column families"
    // one mid-sentence word swapped vs `other`: 8 of 11 trigrams shared,
    // exact Jaccard 8/14 ≈ 0.571 — above the estimator gate, below 0.7
    val partial = "completely different prose about spark batchy " +
      "streaming state stores and rocksdb column families"
    val schema = Seq((0L, "")).toDF("doc_id", "text").schema
    val prior = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    graft.streaming.RunningSpend.requiredConfs(spark)
    try {
      val verified = graft.streaming.StreamingNearDup.verifiedForeachBatch(
        () => spark.read.schema(schema).parquet(in), "text", "doc_id",
        threshold = 0.7) { (vdf, bid) =>
        vdf.withColumn("drain", lit(bid))
          .write.mode("append").parquet(ver); ()
      }
      def drain(): Unit = {
        val q = graft.streaming.StreamingNearDup.nearDups(
            spark.readStream.schema(schema).parquet(in),
            "text", "doc_id", bands = 16, minAgree = 0.2)
          .writeStream.outputMode("append")
          .option("checkpointLocation", cp)
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[
              graft.streaming.StreamingNearDup.CandPair], bid: Long) =>
            batch.persist()
            batch.toDF().withColumn("drain", lit(bid))
              .write.mode("append").parquet(raw)
            verified(batch, bid)
            batch.unpersist(); ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.drain()
      }
      Seq((1L, dup), (2L, dup), (3L, other)).toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(in)
      drain()
      Seq((4L, dup), (5L, partial)).toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(in)
      drain()
      val rawPairs = spark.read.parquet(raw)
        .select("drain", "id_a", "id_b", "vs")
        .as[(Long, Long, Long, String)].collect()
        .groupBy(_._1).view
        .mapValues(_.map(p => (p._2, p._3, p._4)).toSet).toMap
      // the estimator-gate candidates: batch 2 must surface BOTH the
      // true dup pairs and the partial-overlap (5,3) pair
      assert(rawPairs(0L) == Set((1L, 2L, "batch")), rawPairs)
      assert(rawPairs(1L) == Set((4L, 1L, "prior"), (4L, 2L, "prior"),
        (5L, 3L, "prior")), rawPairs)
      val verPairs = spark.read.parquet(ver)
        .select("drain", "id_a", "id_b", "vs", "jaccard")
        .as[(Long, Long, Long, String, Double)].collect()
      val v0 = verPairs.filter(_._1 == 0L)
        .map(p => (p._2, p._3, p._4)).toSet
      val v1 = verPairs.filter(_._1 == 1L)
        .map(p => (p._2, p._3, p._4)).toSet
      assert(v0 == Set((1L, 2L, "batch")), s"verified drain 1: $v0")
      // (5,3) cleared the estimator but fails exact verify — killed;
      // the true dups survive with exact Jaccard 1.0
      assert(v1 == Set((4L, 1L, "prior"), (4L, 2L, "prior")),
        s"verified drain 2: $v1")
      assert(verPairs.forall(_._5 == 1.0), verPairs.mkString(", "))
    } finally {
      prior match {
        case Some(v) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("same logic runs as a file-source stream (AvailableNow)") {
    val dir = Files.createTempDirectory("graft-stream").toString
    eventsDf.write.parquet(s"$dir/in")
    val stream = EventStream.readEvents(spark, s"$dir/in",
      schema = eventsDf.schema)
    assert(stream.isStreaming)
    val q = EventStream.windowedCounts(stream).writeStream
      .format("memory").queryName("wc")
      .outputMode("complete") // memory+complete: watermark not needed to close
      .trigger(Trigger.AvailableNow())
      .start()
    q.drain()
    val out = spark.sql("SELECT * FROM wc ORDER BY window_start, event_type")
      .collect()
    assert(out.length == 3)
    assert(out.map(_.getAs[Long]("events")).sum == 4)
  }
}
