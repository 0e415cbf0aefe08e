package graft

import java.io.{ByteArrayOutputStream, File}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.sources.WarcIngest

/** WARC/WET crawl-archive ingest (sources/WarcIngest.scala): hand-built
  * multi-record archives round-trip (plain + per-record-member gzip +
  * whole-file gzip, CRLF + bare-LF), the writer→reader round trip,
  * the WET conversion projection, and the corrupt-file audit.
  */
class WarcIngestSpec extends SparkSpec {

  /** Render one record with the given line terminator. */
  private def record(warcType: String, id: String, uri: String,
                     payload: Array[Byte], eol: String): Array[Byte] = {
    val head = (s"WARC/1.0$eol" +
      s"WARC-Type: $warcType$eol" +
      s"WARC-Record-ID: $id$eol" +
      s"WARC-Date: 2026-01-01T00:00:00Z$eol" +
      s"WARC-Target-URI: $uri$eol" +
      s"Content-Type: text/plain$eol" +
      s"Content-Length: ${payload.length}$eol$eol")
      .getBytes(StandardCharsets.UTF_8)
    val tail = s"$eol$eol".getBytes(StandardCharsets.UTF_8)
    head ++ payload ++ tail
  }

  private def gz(b: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val g = new GZIPOutputStream(bos); g.write(b); g.close()
    bos.toByteArray
  }

  test("hand-built archives: plain CRLF, bare-LF, member-gzip, whole-gzip") {
    val dir = Files.createTempDirectory("graft-warc").toFile
    val p1 = "hello web".getBytes(StandardCharsets.UTF_8)
    val p2 = "payload\r\nwith embedded\n\nblank lines".getBytes(StandardCharsets.UTF_8)
    val p3 = "third".getBytes(StandardCharsets.UTF_8)
    // plain archive, CRLF, two records
    Files.write(new File(dir, "a.warc").toPath,
      record("conversion", "<urn:a:1>", "https://x/1", p1, "\r\n") ++
        record("response", "<urn:a:2>", "https://x/2", p2, "\r\n"))
    // bare-LF archive (real dumps mix terminators)
    Files.write(new File(dir, "b.wet").toPath,
      record("conversion", "<urn:b:1>", "https://x/3", p3, "\n"))
    // one gzip MEMBER per record (CommonCrawl layout)
    Files.write(new File(dir, "c.warc.gz").toPath,
      gz(record("conversion", "<urn:c:1>", "https://x/4", p1, "\r\n")) ++
        gz(record("conversion", "<urn:c:2>", "https://x/5", p3, "\r\n")))
    // whole-file gzip (single member over two records)
    Files.write(new File(dir, "d.wet.gz").toPath,
      gz(record("conversion", "<urn:d:1>", "https://x/6", p2, "\r\n") ++
        record("conversion", "<urn:d:2>", "https://x/7", p1, "\r\n")))
    // corrupt: truncated payload (Content-Length overruns the file)
    val trunc = record("conversion", "<urn:e:1>", "https://x/8", p1, "\r\n")
    Files.write(new File(dir, "e.warc").toPath,
      record("conversion", "<urn:e:0>", "https://x/9", p3, "\r\n") ++
        trunc.take(trunc.length - p1.length - 2).toArray)
    // not a WARC at all — glob must skip it
    Files.write(new File(dir, "noise.txt").toPath, "nope".getBytes)

    val (rows, audit) = WarcIngest.readWarcDir(spark, dir.getAbsolutePath)
    val got = rows.collect().map(r => (r.getAs[String]("record_id"),
      r.getAs[String]("rel_path"), r.getAs[Long]("record_idx"),
      new String(r.getAs[Array[Byte]]("payload"), StandardCharsets.UTF_8)))
      .sortBy(_._1).toSeq
    assert(got.map(_._1) == Seq("<urn:a:1>", "<urn:a:2>", "<urn:b:1>",
      "<urn:c:1>", "<urn:c:2>", "<urn:d:1>", "<urn:d:2>", "<urn:e:0>"))
    // payload bytes exact, including embedded CRLFs and blank lines
    assert(got.find(_._1 == "<urn:a:2>").get._4 ==
      "payload\r\nwith embedded\n\nblank lines")
    assert(got.find(_._1 == "<urn:d:2>").get._4 == "hello web")
    // record_idx counts within the file
    assert(got.find(_._1 == "<urn:c:2>").get._3 == 1L)

    val a = audit.collect().map(r => r.getAs[String]("rel_path") ->
      ((r.getAs[Long]("n_records"), r.getAs[Boolean]("corrupt")))).toMap
    assert(a("a.warc") == ((2L, false)))
    assert(a("b.wet") == ((1L, false)))
    assert(a("c.warc.gz") == ((2L, false)))
    assert(a("d.wet.gz") == ((2L, false)))
    // corrupt file keeps the records decoded before the damage
    assert(a("e.warc") == ((1L, true)))
    assert(!a.contains("noise.txt"))
  }

  test("writer → reader round trip (gzip and plain) + WET projection") {
    import spark.implicits._
    val df = Seq(
      ("conversion", "<urn:w:1>", "https://w/1", "2026-02-02T00:00:00Z",
        "text/plain", "alpha beta"),
      ("conversion", "<urn:w:2>", "https://w/2", "2026-02-02T00:00:00Z",
        "text/plain", "gamma"),
      ("request", "<urn:w:3>", "https://w/3", "2026-02-02T00:00:00Z",
        "application/http", "GET / HTTP/1.1"))
      .toDF("warc_type", "record_id", "target_uri", "warc_date",
        "content_type", "text")
      .withColumn("payload", org.apache.spark.sql.functions
        .encode(org.apache.spark.sql.functions.col("text"), "UTF-8"))
      .drop("text")
    for (gzip <- Seq(true, false)) {
      val out = Files.createTempDirectory(s"graft-warc-w$gzip").toString
      val n = WarcIngest.writeWarcDir(df.repartition(2), out, gzip = gzip)
      assert(n == 3L)
      val (rows, audit) = WarcIngest.readWarcDir(spark, out)
      assert(audit.filter("corrupt").count() == 0)
      val back = rows.collect()
        .map(r => r.getAs[String]("record_id") ->
          new String(r.getAs[Array[Byte]]("payload"),
            StandardCharsets.UTF_8)).toMap
      assert(back == Map("<urn:w:1>" -> "alpha beta",
        "<urn:w:2>" -> "gamma", "<urn:w:3>" -> "GET / HTTP/1.1"))
      // WET projection: conversion records only, payload decoded
      val wet = WarcIngest.wetText(rows).collect()
        .map(r => r.getAs[String]("record_id") -> r.getAs[String]("text"))
        .toMap
      assert(wet == Map("<urn:w:1>" -> "alpha beta", "<urn:w:2>" -> "gamma"))
    }
  }

  test("archives reach the same tasks whatever order the directory lists them in") {
    import org.apache.spark.sql.functions.{col, spark_partition_id}
    val archives = (0 until 8).map(i => f"a$i%02d.warc.gz" ->
      gz(record("conversion", s"<urn:o:$i>", s"https://o/$i",
        s"doc $i".getBytes(StandardCharsets.UTF_8), "\r\n")))
    // the same files in two directories, created in opposite orders
    def layout(files: Seq[(String, Array[Byte])]): Map[String, Int] = {
      val dir = Files.createTempDirectory("graft-warc-order").toFile
      files.foreach { case (n, b) => Files.write(new File(dir, n).toPath, b) }
      WarcIngest.readWarcDir(spark, dir.getAbsolutePath)._1
        .select(col("rel_path"), spark_partition_id()).collect()
        .map(r => r.getString(0) -> r.getInt(1)).toMap
    }
    val forward = layout(archives)
    assert(forward.size == 8)
    assert(layout(archives.reverse) == forward)
  }

  test("archive LARGER than the old 64 MB file cap streams through whole") {
    // The round-10 path listed files through a 64 MB cap and silently
    // dropped anything bigger (a standard ~1 GB CommonCrawl archive
    // would vanish), then buffered the whole inflated archive on-heap.
    // The streaming walk has NO file cap and holds at most one record:
    // a 66-record x 1 MB (~69 MB) archive must decode completely.
    val dir = Files.createTempDirectory("graft-warc-big").toFile
    val mb = 1024 * 1024
    val out = new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(new File(dir, "big.warc")), 1 << 20)
    (0 until 66).foreach { i =>
      val payload = Array.tabulate[Byte](mb)(j => ((i * 31 + j) & 0xff).toByte)
      out.write(record("conversion", s"<urn:big:$i>", s"https://b/$i",
        payload, "\r\n"))
    }
    out.close()
    assert(new File(dir, "big.warc").length() > 64L * 1024 * 1024)

    val (rows, audit) = WarcIngest.readWarcDir(spark, dir.getAbsolutePath)
    val a = audit.collect()
    assert(a.length == 1 && !a(0).getAs[Boolean]("corrupt") &&
      a(0).getAs[Long]("n_records") == 66L &&
      a(0).getAs[Long]("n_oversize") == 0L)
    // every payload survives byte-exact (md5 spot check, no collect of 69 MB)
    import org.apache.spark.sql.functions._
    val sums = rows.select(sum(length(col("payload"))).cast("long"),
      count_distinct(md5(col("payload")))).collect()(0)
    assert(sums.getLong(0) == 66L * mb)
    assert(sums.getLong(1) == 66L)
  }

  test("record over maxRecordBytes: row kept, payload skipped, audit counts it") {
    val dir = Files.createTempDirectory("graft-warc-over").toFile
    val small = "tiny".getBytes(StandardCharsets.UTF_8)
    val huge = Array.tabulate[Byte](5000)(i => (i % 251).toByte)
    // oversize record sits BETWEEN two normal ones: the skip must leave
    // the stream positioned exactly at the next record
    Files.write(new File(dir, "o.warc").toPath,
      record("conversion", "<urn:o:0>", "https://o/0", small, "\r\n") ++
        record("response", "<urn:o:1>", "https://o/1", huge, "\r\n") ++
        record("conversion", "<urn:o:2>", "https://o/2", small, "\r\n"))
    val (rows, audit) = WarcIngest.readWarcDir(spark, dir.getAbsolutePath,
      maxRecordBytes = 1024)
    val got = rows.orderBy("record_idx").collect()
    assert(got.map(_.getAs[String]("record_id")).toSeq ==
      Seq("<urn:o:0>", "<urn:o:1>", "<urn:o:2>"))
    val over = got(1)
    // headers intact, payload null, oversize flagged — the row never
    // silently vanishes and content_length still reports the true size
    assert(over.getAs[Boolean]("oversize") &&
      over.getAs[Array[Byte]]("payload") == null &&
      over.getAs[Long]("content_length") == 5000L &&
      over.getAs[String]("target_uri") == "https://o/1")
    assert(!got(0).getAs[Boolean]("oversize") &&
      !got(2).getAs[Boolean]("oversize"))
    assert(new String(got(2).getAs[Array[Byte]]("payload"),
      StandardCharsets.UTF_8) == "tiny")
    val a = audit.collect()
    assert(a.length == 1 && a(0).getAs[Long]("n_records") == 3L &&
      a(0).getAs[Long]("n_oversize") == 1L &&
      !a(0).getAs[Boolean]("corrupt"))
  }

  test("whole-file garbage decodes as zero records, corrupt, no exception") {
    val dir = Files.createTempDirectory("graft-warc-bad").toFile
    Files.write(new File(dir, "junk.warc").toPath,
      Array.tabulate[Byte](512)(i => (i * 7).toByte))
    val (rows, audit) = WarcIngest.readWarcDir(spark, dir.getAbsolutePath)
    assert(rows.count() == 0)
    val a = audit.collect()
    assert(a.length == 1 && a(0).getAs[Boolean]("corrupt") &&
      a(0).getAs[Long]("n_records") == 0L)
  }
}
