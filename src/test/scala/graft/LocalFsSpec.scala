package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

import graft.io.{NoForkLocalFileSystem, NoForkLocalFs, NoForkRawLocalFileSystem}
import graft.streaming.EventStream

/** `graft.io`: the session's local filesystem is the no-fork one, it
  * leaves the same mode bits and reports the same link status as Hadoop's
  * `RawLocalFileSystem`, and neither `Pipeline.run` nor a stream drain
  * starts a process from Hadoop.
  */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private def hadoopConf: Configuration = spark.sparkContext.hadoopConfiguration

  private def initialized[F <: FileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private lazy val stock = initialized(new RawLocalFileSystem)
  private lazy val noFork = initialized(new NoForkRawLocalFileSystem)

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("the session's local FileSystem and FileContext are the graft.io classes") {
    val fs = FileSystem.get(URI.create("file:///"), hadoopConf)
    assert(fs.isInstanceOf[NoForkLocalFileSystem], fs.getClass)
    assert(fs.asInstanceOf[NoForkLocalFileSystem].getRaw
      .isInstanceOf[NoForkRawLocalFileSystem])
    val afs = FileContext.getLocalFSFileContext(hadoopConf).getDefaultFileSystem
    assert(afs.isInstanceOf[NoForkLocalFs], afs.getClass)
  }

  test("rename onto an existing file fails, as in the unconfigured file: class") {
    val unconfigured = FileSystem.getFileSystemClass("file", new Configuration())
    val dir = Files.createTempDirectory("graft-localfs")
    val answers = Seq(initialized(unconfigured.getDeclaredConstructor().newInstance()),
        initialized(new NoForkLocalFileSystem)).map { fs =>
      val d = Files.createDirectory(dir.resolve(fs.getClass.getSimpleName))
      val Seq(a, b, _, free) = Seq("a", "b", "c", "free").map(d.resolve)
        .map(p => new Path(p.toUri))
      for (n <- Seq("a", "b", "c")) Files.writeString(d.resolve(n), n)
      val onFile = fs.rename(a, b)
      val onFree = fs.rename(b, free)
      val left = Files.list(d).iterator().asScala.map(_.getFileName.toString)
        .filterNot(_.endsWith(".crc")).toSeq.sorted
      (onFile, onFree, left)
    }
    assert(answers.distinct.size == 1, s"$unconfigured: ${answers.head}, " +
      s"no-fork: ${answers(1)}")
    assert(answers.head == ((false, true, Seq("a", "c", "free"))))
  }

  test("setPermission leaves the mode bits Hadoop's chmod leaves") {
    val dir = Files.createTempDirectory("graft-localfs")
    // octal 0600, 0644, 0755, 0777 and the sticky 01777
    for (m <- Seq(0x180, 0x1a4, 0x1ed, 0x1ff, 0x3ff); isDir <- Seq(false, true)) {
      val modes = Seq(stock, noFork).map { fs =>
        val p = Files.createTempFile(dir, "m", "")
        if (isDir) { Files.delete(p); Files.createDirectory(p) }
        fs.setPermission(new Path(p.toUri), new FsPermission(m.toShort))
        mode(p)
      }
      assert(modes.distinct.size == 1 && modes.head == m,
        f"mode $m%o (dir: $isDir): stock ${modes.head}%o, no-fork ${modes(1)}%o")
    }
    // `chmod 0755` keeps a directory's setgid; chmod(2) would clear it
    val modes = Seq(stock, noFork).map { fs =>
      val p = Files.createDirectory(dir.resolve(s"setgid-${fs.getClass.getSimpleName}"))
      assert(new ProcessBuilder("chmod", "2700", p.toString).start().waitFor() == 0)
      fs.setPermission(new Path(p.toString), new FsPermission(0x1ed.toShort))
      mode(p)
    }
    assert(modes == Seq(0x5ed, 0x5ed), modes.map(m => f"$m%o"))
  }

  test("getFileLinkStatus answers as Hadoop's does, symlinks included") {
    val dir = Files.createTempDirectory("graft-localfs")
    val file = Files.writeString(dir.resolve("f"), "data")
    val sub = Files.createDirectory(dir.resolve("d"))
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"),
      dir.resolve("nowhere"))
    def view(s: FileStatus) =
      (s.getPath, s.isFile, s.isDirectory, s.isSymlink, s.getLen,
        s.getModificationTime, s.getPermission,
        if (s.isSymlink) Some(s.getSymlink) else None)
    val paths = Seq(new Path(file.toUri), new Path(file.toString),
      new Path(sub.toString), new Path(link.toString), new Path(link.toUri),
      new Path(dangling.toString))
    for (p <- paths)
      assert(view(noFork.getFileLinkStatus(p)) == view(stock.getFileLinkStatus(p)),
        p.toString)
    assert(noFork.getFileLinkStatus(new Path(link.toString)).isSymlink)
    assert(noFork.getFileLinkStatus(new Path(dangling.toString)).isSymlink)
    for (missing <- Seq(new Path(dir.resolve("missing").toUri),
        new Path(dir.resolve("missing").toString)); fs <- Seq(stock, noFork))
      intercept[FileNotFoundException](fs.getFileLinkStatus(missing))
  }

  test("Pipeline.run and an AvailableNow drain start no process from Hadoop") {
    val dir = Files.createTempDirectory("graft-localfs").toString
    val cfg = SinksSpec.pipelineInputs(spark, s"$dir/pipeline", SinksSpec.twoFixtures)
    val in = s"$dir/events"
    for (day <- 1 to 3)
      Seq((s"2024-01-0$day 01:00:00", "click", 1.0 * day))
        .toDF("ts", "event_type", "value")
        .withColumn("ts", col("ts").cast("timestamp"))
        .coalesce(1).write.mode("append").parquet(in)
    val schema = spark.read.parquet(in).schema

    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val jfr = Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.start()
      Pipeline.run(spark, cfg)
      EventStream.writeCounts(EventStream.windowedCounts(
        EventStream.readEvents(spark, in, schema = schema)),
        s"$dir/stream-out", s"$dir/stream-ckpt").start().drain()
      // the recording sees a process this thread starts
      assert(new ProcessBuilder("true").start().waitFor() == 0)
      rec.stop()
      rec.dump(jfr)
    } finally rec.close()

    val starts = RecordingFile.readAllEvents(jfr).asScala.toSeq
    def frames(e: jdk.jfr.consumer.RecordedEvent) =
      Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
        .map(_.getMethod.getType.getName)
    assert(starts.exists(frames(_).contains(getClass.getName)),
      "the recording missed this spec's own process start")
    val hadoop = starts.filter(frames(_).exists(_.startsWith("org.apache.hadoop")))
    assert(hadoop.size == 0, s"${hadoop.size} process starts from Hadoop: " +
      hadoop.take(3).map(_.getValue[String]("command")).mkString("; "))
    assert(spark.read.parquet(s"$dir/stream-out").count() > 0)
  }
}
