// Dumps what a Pipeline.run and a stream drain leave on disk, to compare two
// commits. Not compiled with the project: copy it to src/test/scala/graft/
// (it needs `SinksSpec.pipelineInputs`) and run
//   OUT_DUMP=/path/to/dump.txt sbt "testOnly graft.OutputsDumpSpec"
// on each commit, then diff the two dumps. File names are listed with UUIDs
// masked; every non-.crc file is read in full through the session's
// FileSystem with checksum verification on (a bad or missing checksum
// throws), and its length is listed, except the query metadata and the
// offset, source and sink logs, which carry ids, timestamps and absolute
// paths.
package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._
import graft.streaming.EventStream

class OutputsDumpSpec extends SparkSpec {
  import spark.implicits._
  private val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r
  private def files(root: String): Seq[java.nio.file.Path] =
    Files.walk(Paths.get(root)).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
  private def name(root: String, p: java.nio.file.Path): String =
    uuid.replaceAllIn(Paths.get(root).relativize(p).toString, "UUID")
  private def listing(root: String): Seq[String] = files(root).map(name(root, _)).sorted
  private def readAll(root: String): Seq[String] = {
    val fs = FileSystem.get(new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    fs.setVerifyChecksum(true)
    files(root).filterNot(_.getFileName.toString.endsWith(".crc")).map { p =>
      val in = fs.open(new Path(p.toUri))
      val n = try in.readAllBytes().length finally in.close()
      s"${name(root, p)} $n"
    }.sorted
  }
  private def csvLines(dir: String): Seq[String] =
    Files.list(Paths.get(dir)).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("part-"))
      .flatMap(p => Files.readAllLines(p).asScala.drop(1)).sorted

  test("dump") {
    val out = new StringBuilder
    val base = Files.createTempDirectory("dump").toString
    for ((fx, label) <- Seq(SinksSpec.twoFixtures -> "two", SinksSpec.edgeFixtures -> "edge")) {
      val cfg = SinksSpec.pipelineInputs(spark, s"$base/$label", fx)
      Pipeline.run(spark, cfg)
      out ++= s"== pipeline $label files\n" + listing(cfg.outDir).mkString("\n") + "\n"
      out ++= s"== pipeline $label read\n" + readAll(cfg.outDir).mkString("\n") + "\n"
      for (sink <- Seq("fixtures", "history", "football_data"))
        out ++= s"== $label $sink lines\n" + csvLines(s"${cfg.outDir}/$sink").mkString("\n") + "\n"
      out ++= s"== $label stats\n" +
        Files.readString(Paths.get(s"${cfg.outDir}/pipeline_stats.json")) + "\n"
    }
    val in = s"$base/events"
    for (day <- 1 to 3)
      Seq((s"2024-01-0$day 01:00:00", "click", 1.0 * day), (s"2024-01-0$day 05:00:00", "view", 2.0))
        .toDF("ts", "event_type", "value").withColumn("ts", col("ts").cast("timestamp"))
        .coalesce(1).write.mode("append").parquet(in)
    val schema = spark.read.parquet(in).schema
    val src = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(in)
    EventStream.writeCounts(EventStream.windowedCounts(src), s"$base/sink", s"$base/ckpt")
      .start().drain()
    for (d <- Seq("ckpt", "sink")) {
      out ++= s"== stream $d files\n" + listing(s"$base/$d").mkString("\n") + "\n"
      out ++= s"== stream $d read\n" + readAll(s"$base/$d")
        .filterNot(l => Seq("metadata ", "offsets/", "sources/", "_spark_metadata/")
          .exists(l.startsWith)).mkString("\n") + "\n"
    }
    out ++= "== sink rows\n" + spark.read.parquet(s"$base/sink").collect().map(_.toString)
      .sorted.mkString("\n") + "\n"
    Files.writeString(Paths.get(sys.env("OUT_DUMP")), out.toString)
  }
}
