package graft

import java.io.{ByteArrayOutputStream, File}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.zip.GZIPOutputStream

import graft.sources.TarIngest

/** WebDataset tar-shard ingest (sources/TarIngest.scala): hand-built
  * ustar shards round-trip (plain + gzip), the writer→reader round
  * trip incl. prefix-field and GNU-L long names, pax `x` overrides,
  * checksum verification as corruption detection, the oversize-member
  * audit, and the WebDataset sample projection.
  */
class TarIngestSpec extends SparkSpec {

  /** Hand-rolled ustar member (header + padded payload) — built
    * independently of the engine's writer so reader and writer can't
    * share a bug.
    */
  private def member(name: String, payload: Array[Byte],
                     typeflag: Char = '0',
                     checksumDelta: Int = 0): Array[Byte] = {
    val b = new Array[Byte](512)
    val nb = name.getBytes(StandardCharsets.UTF_8)
    System.arraycopy(nb, 0, b, 0, nb.length)
    def oct(v: Long, off: Int, len: Int): Unit = {
      val s = java.lang.Long.toOctalString(v)
      val p = ("0" * (len - 1 - s.length)) + s + "\u0000"
      System.arraycopy(p.getBytes(StandardCharsets.US_ASCII), 0, b, off,
        p.length)
    }
    oct(420, 100, 8); oct(0, 108, 8); oct(0, 116, 8)
    oct(payload.length, 124, 12); oct(0, 136, 12)
    b(156) = typeflag.toByte
    System.arraycopy(Array[Byte]('u', 's', 't', 'a', 'r', 0, '0', '0'),
      0, b, 257, 8)
    java.util.Arrays.fill(b, 148, 156, ' '.toByte)
    var s = 0L; b.foreach(x => s += (x & 0xff))
    val cs = java.lang.Long.toOctalString(s + checksumDelta)
    System.arraycopy((("0" * (6 - cs.length)) + cs + "\u0000 ")
      .getBytes(StandardCharsets.US_ASCII), 0, b, 148, 8)
    val pad = new Array[Byte]((512 - payload.length % 512) % 512)
    b ++ payload ++ pad
  }

  private def gz(b: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val g = new GZIPOutputStream(bos); g.write(b); g.close()
    bos.toByteArray
  }

  private val term = new Array[Byte](1024)

  test("hand-built shards: plain + gzip, dirs skipped, pax overrides") {
    val dir = Files.createTempDirectory("graft-tar").toFile
    val p1 = "alpha".getBytes(StandardCharsets.UTF_8)
    val p2 = ("x" * 1000).getBytes(StandardCharsets.UTF_8)
    // plain shard: a directory entry (no row), two files
    Files.write(new File(dir, "a.tar").toPath,
      member("samples/", Array.emptyByteArray, '5') ++
        member("samples/0001.txt", p1) ++
        member("samples/0001.cls", p2) ++ term)
    // gzip shard with a pax 'x' path+size override; each pax record is
    // "%d key=value\n" where %d counts the WHOLE record incl. itself
    def paxRec(key: String, value: String): String = {
      val body = s" $key=$value\n"
      var total = body.length + 1
      while (total.toString.length + body.length != total) total += 1
      s"$total$body"
    }
    val pax = (paxRec("path", "deep/override.txt") +
      paxRec("size", p1.length.toString) +
      paxRec("comment", "ignored")).getBytes(StandardCharsets.UTF_8)
    // the stub header lies about name and size; pax must win
    Files.write(new File(dir, "b.tar.gz").toPath,
      gz(member("PaxHeaders/0002", pax, 'x') ++
        member("stub-name.bin", p1) ++ term))
    // not a tar — glob must skip it
    Files.write(new File(dir, "noise.txt").toPath, "nope".getBytes)

    val (rows, audit) = TarIngest.readTarDir(spark, dir.getAbsolutePath)
    val got = rows.collect().map(r => (r.getAs[String]("name"),
      r.getAs[String]("rel_path"), r.getAs[Long]("member_idx"),
      new String(r.getAs[Array[Byte]]("payload"), StandardCharsets.UTF_8)))
      .sortBy(r => (r._2, r._3)).toSeq
    assert(got.map(_._1) ==
      Seq("samples/0001.txt", "samples/0001.cls", "deep/override.txt"))
    assert(got(0)._4 == "alpha" && got(1)._4 == "x" * 1000)
    assert(got(2)._4 == "alpha") // pax size override honored
    val a = audit.collect().map(r => r.getAs[String]("rel_path") ->
      ((r.getAs[Long]("n_members"), r.getAs[Boolean]("corrupt")))).toMap
    assert(a("a.tar") == ((2L, false)))
    assert(a("b.tar.gz") == ((1L, false)))
    assert(!a.contains("noise.txt"))
  }

  test("checksum mismatch is damage: members before it survive, corrupt latches") {
    val dir = Files.createTempDirectory("graft-tar-bad").toFile
    val good = member("ok.txt", "fine".getBytes)
    val bad = member("rotten.txt", "bits".getBytes, checksumDelta = 7)
    Files.write(new File(dir, "c.tar").toPath, good ++ bad ++ term)
    val (rows, audit) = TarIngest.readTarDir(spark, dir.getAbsolutePath)
    assert(rows.collect().map(_.getAs[String]("name")).toSeq == Seq("ok.txt"))
    val a = audit.collect().head
    assert(a.getAs[Long]("n_members") == 1L &&
      a.getAs[Boolean]("corrupt"))
  }

  test("oversize member keeps its row (name+size, NULL payload) and audits") {
    val dir = Files.createTempDirectory("graft-tar-big").toFile
    val big = Array.tabulate[Byte](2048)(i => (i & 0xff).toByte)
    Files.write(new File(dir, "d.tar").toPath,
      member("small.txt", "s".getBytes) ++
        member("huge.bin", big) ++
        member("after.txt", "a".getBytes) ++ term)
    val (rows, audit) =
      TarIngest.readTarDir(spark, dir.getAbsolutePath, maxMemberBytes = 1024)
    val got = rows.collect().map(r => (r.getAs[String]("name"),
      r.getAs[Long]("size"), r.getAs[Array[Byte]]("payload") == null,
      r.getAs[Boolean]("oversize"))).sortBy(_._1).toSeq
    assert(got == Seq(("after.txt", 1L, false, false),
      ("huge.bin", 2048L, true, true), ("small.txt", 1L, false, false)))
    val a = audit.collect().head
    assert(a.getAs[Long]("n_members") == 3L &&
      a.getAs[Long]("n_oversize") == 1L && !a.getAs[Boolean]("corrupt"))
  }

  test("writer → reader round trip: prefix-split and GNU-L long names") {
    import spark.implicits._
    val longSplit = ("p" * 120) + "/" + ("q" * 80) // prefix+name split
    val longUnsplit = "z" * 180                    // no '/': GNU L entry
    val df = Seq(
      ("00001.txt", "alpha"),
      ("deep/dir/00001.json", "{\"k\":1}"),
      (longSplit, "prefix-split"),
      (longUnsplit, "gnu-longname"))
      .toDF("name", "text")
      .withColumn("payload", org.apache.spark.sql.functions
        .encode(org.apache.spark.sql.functions.col("text"), "UTF-8"))
      .drop("text")
    for (gzip <- Seq(true, false)) {
      val out = Files.createTempDirectory(s"graft-tar-w$gzip").toString
      val n = TarIngest.writeTarDir(df.repartition(2), out, gzip = gzip)
      assert(n == 4L)
      val (rows, audit) = TarIngest.readTarDir(spark, out)
      assert(audit.filter("corrupt").count() == 0)
      val back = rows.collect()
        .map(r => r.getAs[String]("name") ->
          new String(r.getAs[Array[Byte]]("payload"),
            StandardCharsets.UTF_8)).toMap
      assert(back == Map("00001.txt" -> "alpha",
        "deep/dir/00001.json" -> "{\"k\":1}",
        longSplit -> "prefix-split", longUnsplit -> "gnu-longname"))
    }
  }

  test("wdsSamples: key up to the FIRST basename period, dirs kept") {
    import spark.implicits._
    val df = Seq(
      ("shard0/00042.jpg", 3L), ("shard0/00042.seg.json", 4L),
      ("00043.txt", 5L), ("README", 6L))
      .toDF("name", "size")
      .withColumn("rel_path", org.apache.spark.sql.functions.lit("s.tar"))
      .withColumn("member_idx", org.apache.spark.sql.functions.lit(0L))
      .withColumn("payload", org.apache.spark.sql.functions
        .encode(org.apache.spark.sql.functions.lit("x"), "UTF-8"))
      .withColumn("oversize", org.apache.spark.sql.functions.lit(false))
    val got = TarIngest.wdsSamples(df).collect()
      .map(r => (r.getAs[String]("sample_key"), r.getAs[String]("ext")))
      .toSet
    assert(got == Set(("shard0/00042", "jpg"), ("shard0/00042", "seg.json"),
      ("00043", "txt"), ("README", null)))
  }

  test("executors read and write through the session's Hadoop conf") {
    // the `graftscheme:` filesystem exists only as a key of the session's
    // Hadoop conf: a writer or reader that builds its own Configuration
    // on an executor cannot resolve the scheme (the writer fails, the
    // reader would audit every shard as corrupt). A running context takes
    // no new `spark.hadoop.*` key (Spark copies those into Hadoop when
    // the context starts), so the key is a runtime session key, which
    // `sessionState.newHadoopConf` carries the same way.
    import spark.implicits._
    val key = "fs.graftscheme.impl"
    spark.conf.set(key, classOf[SchemeOnlyLocalFs].getName)
    try {
      val out = "graftscheme://" +
        Files.createTempDirectory("graft-tar-scheme").toString
      val df = Seq(("a/00001.txt", "alpha"), ("a/00002.txt", "beta"))
        .toDF("name", "text")
        .select($"name", org.apache.spark.sql.functions.encode($"text",
          "UTF-8").as("payload"))
      assert(TarIngest.writeTarDir(df.repartition(2), out) == 2L)
      val (rows, audit) = TarIngest.readTarDir(spark, out)
      assert(audit.filter("corrupt").count() == 0)
      assert(rows.select("name").as[String].collect().sorted.toSeq ==
        Seq("a/00001.txt", "a/00002.txt"))
    } finally spark.conf.unset(key)
  }
}

/** The local disk under the `graftscheme:` scheme, which Hadoop resolves
  * only through `fs.graftscheme.impl`. Statuses are plain `FileStatus`es:
  * the local ones read their permissions through a `file:` URI.
  */
class SchemeOnlyLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FileStatus, Path}
  override def getUri: java.net.URI = java.net.URI.create("graftscheme:///")
  override def getScheme: String = "graftscheme"
  override def getFileStatus(f: Path): FileStatus = plain(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map(plain)
  private def plain(s: FileStatus): FileStatus = new FileStatus(s.getLen,
    s.isDirectory, s.getReplication, s.getBlockSize, s.getModificationTime,
    s.getPath)
}
