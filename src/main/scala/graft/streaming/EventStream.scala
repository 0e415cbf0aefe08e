package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.Row

/** Structured-Streaming form of the reference's per-date incremental loop
  * (`daily_match_scraper.py:574-628`, SURVEY §2.9): the reference appends
  * a CSV partition per day from a driver loop; natively that is a file-
  * source stream with a daily tumbling window + watermark.
  *
  * The windowed aggregation is defined once over a plain DataFrame so the
  * SAME code runs batch (correctness oracle) and streaming (incremental):
  * the Dataset API makes that free.
  */
object EventStream {

  /** Tumbling-window counts per event type — batch/stream shared logic.
    * In streaming mode the watermark bounds state: late rows beyond 1 day
    * are dropped, so state is O(open windows), not O(history).
    */
  def windowedCounts(events: DataFrame, windowLen: String = "1 day"): DataFrame =
    events
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(count(lit(1)).as("events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("events"), col("total_value"))

  /** Session windows (inactivity gap) — batch/stream shared like
    * `windowedCounts`: in batch the watermark is a no-op and this is the
    * w07 oracle-checked aggregation; in streaming, Append mode emits a
    * session once the watermark passes its end, and state is one open
    * session per (key, gap-island), evicted on close.
    */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
                    delay: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(session_window(col("ts"), gap).as("w"), col("event_type"))
      .agg(count(lit(1)).as("events"))
      .select(col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("event_type"), col("events"))

  /** Streaming exact dedup with BOUNDED state — the streaming analog of
    * the batch digest dedup (llm/Dedup.exact): duplicates of an id
    * arriving within the watermark delay are dropped, and state for ids
    * older than the watermark is evicted. Memory is O(ids per delay
    * window), not O(stream history) — the property that lets this run
    * forever on an unbounded 100 TB/day feed.
    */
  def dedupedEvents(events: DataFrame, idCol: String,
                    delay: String = "1 day"): DataFrame =
    events.withWatermark("ts", delay).dropDuplicatesWithinWatermark(idCol)

  /** Stream-static enrichment join + windowed rollup — the standard
    * "join the firehose to a dimension" shape. The dim side is a plain
    * batch DataFrame: Spark re-plans it per micro-batch and (small dim)
    * broadcasts it, so the stream side never shuffles for the join; at
    * 100 TB/day the only stateful operator is still the windowed agg,
    * bounded by the watermark. Shared batch/stream definition like
    * `windowedCounts` (the batch run is the w09 oracle).
    */
  def enrichedCounts(events: DataFrame, dim: DataFrame,
                     eventKey: String, dimKey: String, dimAttr: String,
                     windowLen: String = "1 day"): DataFrame =
    events
      .withWatermark("ts", "1 day")
      .join(broadcast(dim.select(col(dimKey), col(dimAttr))),
        col(eventKey) === col(dimKey), "left")
      .withColumn(dimAttr, coalesce(col(dimAttr), lit("UNKNOWN")))
      .groupBy(window(col("ts"), windowLen).as("w"), col(dimAttr))
      .agg(count(lit(1)).as("events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("w.start").as("window_start"), col(dimAttr),
        col("events"), col("total_value"))

  /** Stream-stream attribution join: match each left event (e.g. click)
    * to the same user's right events (e.g. purchase) within `within`
    * AFTER it — the canonical two-firehose join. The explicit time bound
    * plus both watermarks is what makes this runnable forever: Spark
    * derives from them exactly how long a left row can still find a
    * match, and evicts join state past that horizon, so state is
    * O(events per `within` + delay window), not O(stream history). In
    * batch the same definition is a plain interval join (the w10
    * oracle). Inner join: matches emit immediately, no watermark wait.
    * `left_outer` emits the null-padded row for an unmatched left event
    * only once the watermark passes `left.ts + within` — the earliest
    * moment "no match" is final — so outer results lag by the watermark
    * delay by construction, they are not missing.
    */
  def attributionJoin(left: DataFrame, right: DataFrame, keyCol: String,
                      within: String = "1 hour",
                      delay: String = "1 day",
                      joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark("ts", delay).alias("l")
    val r = right.withWatermark("ts", delay).alias("r")
    l.join(r,
        col(s"l.$keyCol") === col(s"r.$keyCol") &&
          col("r.ts") >= col("l.ts") &&
          col("r.ts") <= col("l.ts") + expr(s"INTERVAL $within"),
        joinType)
      .select(col(s"l.$keyCol").as(keyCol),
        col("l.event_id").as("left_id"), col("l.ts").as("left_ts"),
        col("r.event_id").as("right_id"), col("r.ts").as("right_ts"))
  }

  /** File-source stream over a directory of event data (the daily-append
    * directory pattern), parquet or json. Each micro-batch admits at most
    * `maxFilesPerTrigger` new files (default 1000), so a drain of a large
    * backlog — AvailableNow included — runs as bounded batches, not one
    * batch of the whole backlog.
    *
    * Admission follows file modification time: the source takes new
    * files oldest mtime first, so the event order a drain sees, and with
    * it the watermark, is the order of the mtimes, not of the file
    * names. Copying time-ordered files with a tool that truncates mtimes
    * to whole seconds ties them and can reorder them: such a copy of
    * the benchmark's six event files dropped 10 rows as late.
    */
  def readEvents(spark: SparkSession, dir: String, format: String = "parquet",
                 schema: org.apache.spark.sql.types.StructType,
                 maxFilesPerTrigger: Int = 1000): DataFrame = {
    require(maxFilesPerTrigger > 0,
      s"maxFilesPerTrigger must be positive, got $maxFilesPerTrigger")
    spark.readStream.format(format).schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toLong).load(dir)
  }

  /** Sink with checkpointing; append mode works because the watermark
    * closes windows.
    */
  def writeCounts(counts: DataFrame, outDir: String, checkpointDir: String)
      : DataStreamWriter[Row] =
    counts.writeStream
      .outputMode(OutputMode.Append)
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
}
