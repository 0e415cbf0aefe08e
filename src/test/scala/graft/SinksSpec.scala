package graft

import java.nio.file.Files
import java.util.concurrent.{Callable, ConcurrentHashMap, CountDownLatch,
  Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated,
  SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Sources/sinks (S1/S7, K1–K4) and set-ops on heterogeneous frames (U1). */
class SinksSpec extends SparkSpec {
  import spark.implicits._
  import SinksSpec.{edgeFixtures, twoFixtures}

  private def tmp(): String =
    Files.createTempDirectory("graft-test").toString

  test("K1/S7: CSV roundtrip with header + overwrite") {
    val dir = tmp() + "/out"
    val df = Seq(("m1", "2025-05-23", 2.5), ("m2", "2025-05-24", 3.0))
      .toDF("match_id", "date", "xg")
    Pipeline.writeCsv(df, dir)
    Pipeline.writeCsv(df, dir) // overwrite, not append
    val back = Pipeline.readCsv(spark, dir,
      org.apache.spark.sql.types.StructType.fromDDL(
        "match_id STRING, date STRING, xg DOUBLE"))
    assert(back.count() == 2)
    assert(back.orderBy("match_id").collect()(0).getDouble(2) == 2.5)
  }

  test("K2: column projection on write (fieldnames whitelist)") {
    val dir = tmp() + "/proj"
    val df = Seq(("m1", "A", "extra")).toDF("id", "team", "junk")
    Pipeline.writeCsv(df.select("id", "team"), dir)
    val header = Files.list(java.nio.file.Paths.get(dir)).toArray
      .map(_.toString).filter(_.endsWith(".csv"))
      .flatMap(p => scala.io.Source.fromFile(p).getLines().take(1)).head
    assert(header == "id,team")
  }

  test("K3/S1: JSON sink then schema'd JSON scan") {
    val dir = tmp() + "/json"
    Seq(("t1", 3), ("t2", 5)).toDF("team", "wins").write.json(dir)
    val back = spark.read.schema("team STRING, wins BIGINT").json(dir)
    assert(back.orderBy("team").collect().map(_.getLong(1)).toSeq ==
      Seq(3L, 5L))
  }

  test("S1: nested SofaScore-shaped event parses with declared schema") {
    val sample =
      """{"id":101,"tournament":{"name":"Premier League","category":
        |{"name":"England","country":{"alpha2":"EN","alpha3":"ENG",
        |"name":"England"}},"uniqueTournament":{"name":"Premier League",
        |"id":17}},"season":{"name":"24/25","year":"2025","id":1},
        |"roundInfo":{"round":38},"status":{"code":0,"description":
        |"Not started","type":"notstarted"},"homeTeam":{"name":"Arsenal",
        |"slug":"arsenal","shortName":"ARS"},"awayTeam":{"name":"Chelsea",
        |"slug":"chelsea","shortName":"CHE"},"startTimestamp":1747994400,
        |"venue":{"name":"Emirates"}}""".stripMargin.replace("\n", "")
    val df = Seq(sample).toDF("raw")
      .select(from_json(col("raw"), graft.model.Tables.sofaEvent).as("e"))
      .select(col("e.homeTeam.name").as("home"),
        col("e.tournament.name").as("league"),
        col("e.startTimestamp").as("ts"),
        col("e.roundInfo.round").as("round"))
    val r = df.collect()(0)
    assert(r.getString(0) == "Arsenal")
    assert(r.getString(1) == "Premier League")
    assert(r.getLong(2) == 1747994400L)
    assert(r.getInt(3) == 38)
  }

  test("U1: unionByName with missing columns (heterogeneous scrapes)") {
    val detailed = Seq(("A", 2.0, 0.7)).toDF("team", "goals_for", "xg")
    val basic = Seq(("B", 1.0)).toDF("team", "goals_for")
    val all = detailed.unionByName(basic, allowMissingColumns = true)
    assert(all.count() == 2)
    val b = all.filter(col("team") === "B").collect()(0)
    assert(b.isNullAt(b.fieldIndex("xg")))
  }

  private def pipelineInputs(dir: String, fixtures: Seq[SinksSpec.FixtureRow])
      : Pipeline.Config = SinksSpec.pipelineInputs(spark, dir, fixtures)

  private def statsJson(cfg: Pipeline.Config): String =
    Files.readString(java.nio.file.Paths.get(s"${cfg.outDir}/pipeline_stats.json"))

  test("Pipeline end-to-end: stages, sinks, stats JSON parity") {
    val dir = tmp()
    val cfg = pipelineInputs(dir, twoFixtures)

    spark.catalog.clearCache() // isolate the post-run cache assertion
    // A pre-existing user cache must SURVIVE the run (run releases only
    // what it created — not a blunt clearCache()).
    val userCached = Seq(1, 2, 3).toDF("x")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    userCached.count()
    val stats = Pipeline.run(spark, cfg)

    assert(stats.fixturesCount == 2)
    assert(stats.teamsCount == 4)
    assert(stats.joinedRecords == 2)
    assert(stats.leaguesCovered == 1)
    assert(stats.startDate == "2025-06-01" && stats.endDate == "2025-06-02")
    val statsJson = Files.readString(
      java.nio.file.Paths.get(s"$dir/out/pipeline_stats.json"))
    assert(statsJson.contains("\"fixtures_count\":2"))
    // combined CSV exists with home_ metrics for Arsenal
    val combined = spark.read.option("header", "true")
      .csv(s"$dir/out/football_data")
    assert(combined.count() == 2)
    val m1 = combined.filter(col("match_id").contains("arsenal")).collect()(0)
    assert(m1.getAs[String]("home_win_ratio").toDouble == 0.75) // W,D
    // Cache discipline: Pipeline.run is the OWNER of the plan-lifetime
    // caches its stages create (CombineData.combine's broadcast dim), so
    // a full run must release exactly those — and ONLY those: the
    // pre-existing user cache survives.
    // (the one surviving entry is the user cache's in-memory buffer; its
    // RDD id differs from userCached.rdd.id, so assert by count)
    val after = spark.sparkContext.getPersistentRDDs
    assert(after.size == 1,
      s"Pipeline.run cache leak or over-release: ${after.keySet}")
    userCached.unpersist()
  }

  /** Sorted data lines of a CSV sink's part files. */
  private def csvLines(dir: String): Seq[String] =
    Files.list(java.nio.file.Paths.get(dir)).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("part-"))
      .flatMap(p => Files.readAllLines(p).asScala.drop(1)).sorted

  test("Pipeline.run takes its stats from its sinks: parity values, no extra job") {
    val cfg = pipelineInputs(tmp(), edgeFixtures)
    // Call site of every job the run submits (tagged from this thread; the
    // adaptive-execution threads inherit the tag): the job's own, then
    // its SQL execution's, whose stack holds the caller frames.
    val tag = s"sinks-spec-${java.util.UUID.randomUUID}"
    val sites = new ConcurrentHashMap[Int, String]()
    val executions = new ConcurrentHashMap[Long, String]()
    val events = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        events.incrementAndGet()
        val props = Option(e.properties)
        if (props.flatMap(p => Option(p.getProperty("spark.job.tags")))
            .exists(_.split(",").contains(tag))) {
          val own = if (e.stageInfos.isEmpty) ""
            else e.stageInfos.maxBy(_.stageId).details
          val execution = props
            .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
            .flatMap(id => Option(executions.get(id.toLong))).getOrElse("")
          sites.put(e.jobId, own + "\n" + execution)
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        events.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          executions.put(x.executionId, x.details)
          events.incrementAndGet()
        case _ => ()
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val stats =
      try {
        sc.addJobTag(tag)
        try Pipeline.run(spark, cfg) finally sc.removeJobTag(tag)
      } finally {
        Bench.awaitListenerDrain(events.get)
        sc.removeSparkListener(listener)
      }

    // The parity formulas (`pipeline.py:103-118`) over the processed
    // fixtures: a NULL team is one team, a NULL league is no league.
    val fixtures = graft.etl.Process.processFixtures(
      Pipeline.readCsv(spark, cfg.fixturesPath, graft.model.Tables.matches)
        .withColumn("match_id", lit(null).cast("string"))
        .withColumn("kickoff_time", col("start_time")),
      lit(cfg.today).cast("date"))
    val teams = fixtures.select(col("home_team").as("team"))
      .unionByName(fixtures.select(col("away_team").as("team")))
      .distinct().count()
    val cols = Seq("match_id", "date", "home_team", "away_team", "league",
      "kickoff_time")
    val agg = fixtures.agg(count(lit(1)), (Seq(countDistinct(col("league")),
      min(col("date")).cast("string"), max(col("date")).cast("string")) ++
      cols.map(c => sum(col(c).isNotNull.cast("long")))): _*).first()
    val n = agg.getLong(0)
    val completion =
      cols.indices.map(i => agg.getLong(4 + i).toDouble / n).sum / cols.size
    val joined = spark.read.option("header", "true")
      .csv(s"${cfg.outDir}/football_data").count()
    assert(stats == Pipeline.Stats(n, teams, joined, agg.getLong(1),
      completion, agg.getString(2), agg.getString(3), cfg.lookbackMatches))
    assert((n, teams, joined, agg.getLong(1)) == ((4L, 7L, 4L, 2L)))
    assert(statsJson(cfg) == "{\"fixtures_count\":4,\"teams_count\":7," +
      "\"joined_records\":4,\"leagues_covered\":2," +
      "\"data_completion\":\"92%\",\"start_date\":\"2025-06-01\"," +
      "\"end_date\":\"2025-06-04\",\"lookback_matches\":7}")

    // Jobs placed by their `runStages` line, as the stage split of the
    // benchmark does: the three sinks are the jobs whose stack passes
    // through `writeCsv`; nothing may run after the combined sink, and
    // no job may come from a probe action.
    val RunStagesLine = """graft\.Pipeline\$\.runStages\(Pipeline\.scala:(\d+)\)""".r
    val placed = sites.values.asScala.toSeq.flatMap(s =>
      RunStagesLine.findFirstMatchIn(s).map(m => (s, m.group(1).toInt)))
    val sinkLines = placed.filter(_._1.contains("graft.Pipeline$.writeCsv("))
      .map(_._2).distinct.sorted
    assert(sinkLines.size == 3, s"sink lines $sinkLines of ${sites.size} jobs")
    val afterSinks = placed.filter(_._2 > sinkLines.last)
    assert(afterSinks.isEmpty, s"${afterSinks.size} jobs after the combined " +
      s"sink:\n${afterSinks.map(_._1.take(300)).mkString("\n--\n")}")
    val probes = sites.values.asScala.filter(s => Seq("Dataset.isEmpty(",
      "Dataset.count(", "Dataset.collect(").exists(s.contains))
    assert(probes.isEmpty, s"${probes.size} jobs from isEmpty/count/collect")
  }

  test("Pipeline.run reads the history CSV once and releases every block " +
      "it cached") {
    val dir = tmp()
    val cfg = pipelineInputs(dir, edgeFixtures)
      .copy(historyPath = s"$dir/long_history")
    val nHistory = SinksSpec.writeLongHistory(spark, cfg.historyPath)
    val nFixtures = edgeFixtures.size.toLong
    val recordsRead = new AtomicLong
    val cachedRdds = ConcurrentHashMap.newKeySet[Int]()
    val events = new AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        events.incrementAndGet()
        Option(e.taskMetrics).foreach(m =>
          recordsRead.addAndGet(m.inputMetrics.recordsRead))
      }
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
        events.incrementAndGet()
        e.blockUpdatedInfo.blockId.asRDDId.foreach(b => cachedRdds.add(b.rddId))
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val stats =
      try Pipeline.run(spark, cfg)
      finally {
        Bench.awaitListenerDrain(events.get)
        sc.removeSparkListener(listener)
      }
    assert(stats.fixturesCount == 4)
    // Task input records count CSV rows, and one record per cached batch
    // read back (a handful here). Parsing the history twice would add
    // another nHistory.
    val read = recordsRead.get
    assert(read >= nHistory + nFixtures && read < nHistory + nFixtures + 100,
      s"$read input records for $nHistory history and $nFixtures fixture rows")
    // The run cached the clean fixtures, the clean history and the dim,
    // and its scope's release removes their blocks.
    assert(cachedRdds.size == 3, s"cached RDDs $cachedRdds")
    val deadline = System.currentTimeMillis() + 30000
    def left = sc.getRDDStorageInfo.filter(i =>
      cachedRdds.contains(i.id) && i.numCachedPartitions > 0).map(_.id)
    while (left.nonEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    assert(left.isEmpty, s"blocks of RDDs ${left.toSeq} outlived the run")
  }

  test("Pipeline.run output does not depend on the shuffle width or AQE") {
    val dir = tmp()
    val base = pipelineInputs(dir, edgeFixtures)
      .copy(historyPath = s"$dir/long_history")
    SinksSpec.writeLongHistory(spark, base.historyPath)
    def run(tag: String, conf: (String, String)*)
        : (Pipeline.Stats, Seq[String]) = {
      val cfg = base.copy(outDir = s"$dir/out_$tag")
      val prev = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
      try {
        conf.foreach { case (k, v) => spark.conf.set(k, v) }
        (Pipeline.run(spark, cfg), csvLines(s"${cfg.outDir}/football_data"))
      } finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    val want = run("default")
    assert(want._2.size == 4)
    assert(run("p1", "spark.sql.shuffle.partitions" -> "1") == want)
    assert(run("p7", "spark.sql.shuffle.partitions" -> "7") == want)
    assert(run("noaqe", "spark.sql.adaptive.enabled" -> "false") == want)
  }

  test("Pipeline.run: concurrent runs in one session keep their own stats, " +
      "outputs and caches") {
    val cfgs = Seq(twoFixtures, edgeFixtures).map(f => pipelineInputs(tmp(), f))
    val alone = cfgs.map(Pipeline.run(spark, _))
    assert(alone.distinct.size == 2)
    val together = cfgs.map(c => c.copy(outDir = c.outDir + "_concurrent"))
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val pool = Executors.newFixedThreadPool(2)
    val stats =
      try {
        val go = new CountDownLatch(1)
        val runs = together.map(c => pool.submit(new Callable[Pipeline.Stats] {
          def call(): Pipeline.Stats = { go.await(); Pipeline.run(spark, c) }
        }))
        go.countDown()
        runs.map(_.get(10, TimeUnit.MINUTES))
      } finally pool.shutdown()
    assert(stats == alone)
    assert(together.map(statsJson) == cfgs.map(statsJson))
    for (sink <- Seq("fixtures", "history", "football_data"))
      assert(together.map(c => csvLines(s"${c.outDir}/$sink")) ==
        cfgs.map(c => csvLines(s"${c.outDir}/$sink")), sink)
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet == before)
  }
}

/** The `Pipeline.run` inputs of these specs, shared with `LocalFsSpec`. */
object SinksSpec {
  type FixtureRow = (String, String, String, String, String, String,
    String, String, String, String, String, String)

  /** Raw fixtures in the matches-table shape (FIXTURES.md §1). */
  def fixtureRow(date: String, id: String, home: String, away: String,
                 league: String, kickoff: String,
                 ts: String = "1748775000"): FixtureRow =
    (date, id, home, away, league, "England", ts, kickoff,
      "Not started", "", "1", "api")

  private val historyRows = Seq(
    ("Arsenal", "2024-2025", "2025-05-01", "PL", "Home", "Brentford",
      "W", "2", "0", "12", "5"),
    ("Arsenal", "2024-2025", "2025-05-10", "PL", "Away", "Fulham",
      "D", "1", "1", "9", "3"),
    ("Chelsea", "2024-2025", "2025-05-03", "PL", "Home", "Everton",
      "L", "0", "1", "7", "2"))

  /** Writes the raw fixtures and history CSVs under `dir` and returns the
    * run's config (today 2025-05-23, output in `dir/out`).
    */
  def pipelineInputs(spark: SparkSession, dir: String,
                     fixtures: Seq[FixtureRow]): Pipeline.Config = {
    import spark.implicits._
    fixtures.toDF("date", "id", "home_team", "away_team", "league", "country",
      "start_timestamp", "start_time", "status", "venue", "round", "source")
      .write.option("header", "true").csv(s"$dir/raw_fixtures")
    historyRows.toDF("team", "season", "date", "competition", "venue",
      "opponent", "result", "goals_for", "goals_against", "shots",
      "shots_on_target")
      .write.option("header", "true").csv(s"$dir/raw_history")
    Pipeline.Config(fixturesPath = s"$dir/raw_fixtures",
      historyPath = s"$dir/raw_history", outDir = s"$dir/out",
      today = "2025-05-23")
  }

  /** Writes a raw history CSV of 4,000 rows (40 teams, among them the
    * fixtures' teams by their raw names, over the 200 days before the
    * config's "today", with duplicate dates) in 3 part files and returns
    * its row count.
    */
  def writeLongHistory(spark: SparkSession, path: String): Long = {
    val teams = Seq("Arsenal", "Chelsea", "Man Utd", "Everton", "Fulham",
      "Barcelona") ++ (6 until 40).map(i => s"Club $i")
    val n = 4000L
    val id = col("id")
    spark.range(0, n, 1, 3).select(
        element_at(typedLit(teams), (id % teams.size + 1).cast("int")).as("team"),
        lit("2024-2025").as("season"),
        date_sub(lit("2025-05-23").cast("date"), (id * 7919 % 200).cast("int"))
          .cast("string").as("date"),
        lit("PL").as("competition"),
        when(id % 2 === 0, "Home").otherwise("Away").as("venue"),
        concat(lit("Opp "), (id % 13).cast("string")).as("opponent"),
        element_at(typedLit(Seq("W", "D", "L", "win")), (id % 4 + 1).cast("int"))
          .as("result"),
        (id % 5).cast("string").as("goals_for"),
        (id % 3).cast("string").as("goals_against"),
        (id % 17).cast("string").as("shots"),
        (id % 7).cast("string").as("shots_on_target"))
      .write.option("header", "true").csv(path)
    n
  }

  val twoFixtures = Seq(
    fixtureRow("2025-06-01", "1", "Arsenal FC", "Chelsea", "Premier League", "12:30"),
    fixtureRow("2025-06-02", "2", "Man Utd", "Spurs", "Premier League", "15:00",
      ts = "1748862000"))

  /** A NULL away team, a NULL league, a match_id that occurs twice once
    * the names are normalized, and a fixture before "today".
    */
  val edgeFixtures = Seq(
    fixtureRow("2025-06-01", "1", "Arsenal FC", "Chelsea", "Premier League", "12:30"),
    fixtureRow("2025-06-01", "1", "Arsenal", "Chelsea", "Premier League", "12:30"),
    fixtureRow("2025-06-02", "2", "Man Utd", null, "Premier League", "15:00"),
    fixtureRow("2025-06-03", "3", "Everton", "Fulham", null, "17:30"),
    fixtureRow("2025-06-04", "4", "Barcelona", "Chelsea", "La Liga", "20:00"),
    fixtureRow("2020-01-01", "5", "Old Town", "Gone United", "Premier League", "10:00"))
}
