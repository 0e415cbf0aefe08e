package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

/** WARC / WET crawl-archive ingest (ISO 28500 / the CommonCrawl layout)
  * — the canonical input format of a web-scale text corpus, and the
  * third connector-free container format beside Avro OCF
  * ([[AvroIngest]]) and ORC. Spark ships no WARC reader, so this module
  * builds one on the Hadoop FileSystem API: a driver-side recursive
  * listing (paths + glob only — the same cost class as Spark's own
  * FileIndex) fans archives out across tasks, and each task STREAMS its
  * archives record-by-record over `fs.open` — gzip members inflate
  * incrementally, at most ONE record's payload is ever in memory, and a
  * standard ~1 GB CommonCrawl `.warc.gz` decodes in bounded heap
  * (formerly the whole inflated archive was buffered, and >64 MB files
  * were silently dropped by a listing-time cap; both were 100 TB
  * killers).
  *
  * Record walk (the public WARC 1.0/1.1 layout): a `WARC/x.y` version
  * line, `Name: value` header lines up to an empty line, exactly
  * `Content-Length` payload octets, then a blank-line record separator.
  * Both CRLF and bare-LF line ends are accepted (real crawl dumps mix
  * them). A `.gz` archive is the usual multi-member gzip — one
  * deflate member per record, concatenated — which
  * `java.util.zip.GZIPInputStream` walks transparently; plain archives
  * decode as-is (the gzip sniff is on magic bytes, not extension). WET
  * files ARE WARC files whose records are `conversion` text records, so
  * [[wetText]] is a projection, not a second parser.
  *
  * No silent caps: a record whose Content-Length exceeds
  * `maxRecordBytes` keeps its ROW — headers intact, `oversize = true`,
  * payload NULL — and its octets are skipped through the stream without
  * buffering; the per-file audit frame counts it in `n_oversize`.
  * Nothing ever vanishes from the row set.
  *
  * Corrupt-is-data (the 100 TB posture, same as `AvroIngest`): a
  * truncated or garbled archive contributes every record decoded
  * before the damage and is flagged in the audit frame — never an
  * executor exception. Only NonFatal damage is absorbed; OOM or task
  * kill still fails the task.
  *
  * Nothing is persisted: the decoded form is never materialized (at
  * crawl scale the inflated corpus dwarfs any cache tier), so each
  * ACTION over the returned frames re-streams the archives — scan cost,
  * the normal Spark re-computation posture. A caller consuming both the
  * records and the audit frame in separate actions pays two walks, or
  * persists a PROJECTION (digests, text lengths — never raw payloads)
  * itself.
  */
object WarcIngest {

  /** One decoded WARC record: position in its file, the five headers a
    * corpus pipeline filters on, the raw payload octets (NULL when the
    * record was over the size cap), and the oversize marker.
    */
  val recordSchema: StructType = StructType(Seq(
    StructField("record_idx", LongType, nullable = false),
    StructField("warc_type", StringType),
    StructField("record_id", StringType),
    StructField("target_uri", StringType),
    StructField("warc_date", StringType),
    StructField("content_type", StringType),
    StructField("content_length", LongType, nullable = false),
    StructField("payload", BinaryType),
    StructField("oversize", BooleanType, nullable = false)))

  private val auditFields = Seq(
    StructField("n_records", LongType),
    StructField("n_oversize", LongType),
    StructField("corrupt", BooleanType))

  /** One decoded record as the streaming iterator yields it. */
  private[sources] final case class Rec(idx: Long, warcType: String,
      recordId: String, targetUri: String, warcDate: String,
      contentType: String, contentLength: Long, payload: Array[Byte],
      oversize: Boolean)

  /** Header/version lines longer than this are not WARC — treat as
    * corruption instead of buffering unbounded junk as "a line".
    */
  private val MaxLineBytes = 64 * 1024

  /** Streaming record walk over ONE archive stream. Pull-based: each
    * `next()` decodes exactly one record; memory high-water is one
    * payload (or one 64 KB skip buffer for oversize records). The
    * constructor sniffs gzip magic and wraps transparently —
    * multi-member archives (one member per record, the CommonCrawl
    * layout) inflate incrementally across member boundaries. On NonFatal
    * damage the walk stops, `corrupt` latches true, and the stream
    * closes; records decoded before the damage were already emitted.
    */
  private[sources] final class RecordWalk(raw: java.io.InputStream,
      maxRecordBytes: Long) extends Iterator[Rec] {
    private val in: java.io.InputStream = {
      val pb = new java.io.PushbackInputStream(
        new java.io.BufferedInputStream(raw, 64 * 1024), 2)
      val b0 = pb.read(); val b1 = pb.read()
      if (b1 >= 0) pb.unread(b1)
      if (b0 >= 0) pb.unread(b0)
      if (b0 == 0x1f && b1 == 0x8b) new GZIPInputStream(pb, 64 * 1024)
      else pb
    }
    var corrupt = false
    private var finished = false
    private var pending: Rec = null
    private var idx = 0L
    private var closed = false

    def close(): Unit = if (!closed) {
      closed = true
      try in.close() catch { case scala.util.control.NonFatal(_) => () }
    }

    /** One line, CRLF or bare LF, UTF-8; null at clean EOF. */
    private def readLine(): String = {
      val buf = new ByteArrayOutputStream(80)
      var b = in.read()
      if (b < 0) return null
      while (b >= 0 && b != '\n') {
        buf.write(b)
        require(buf.size <= MaxLineBytes, "unterminated header line")
        b = in.read()
      }
      val bytes = buf.toByteArray
      val n = if (bytes.nonEmpty && bytes(bytes.length - 1) == '\r')
        bytes.length - 1 else bytes.length
      new String(bytes, 0, n, StandardCharsets.UTF_8)
    }

    private def readFully(len: Long): Array[Byte] = {
      val out = new Array[Byte](len.toInt)
      var off = 0
      while (off < out.length) {
        val n = in.read(out, off, out.length - off)
        require(n >= 0, s"payload truncated ($off < $len)")
        off += n
      }
      out
    }

    private def skipFully(len: Long): Unit = {
      var left = len
      val buf = new Array[Byte](64 * 1024)
      while (left > 0) {
        val n = in.read(buf, 0, math.min(left, buf.length.toLong).toInt)
        require(n >= 0, s"oversize payload truncated ($left octets short)")
        left -= n
      }
    }

    private def advance(): Unit = {
      if (finished) return
      try {
        var line = readLine()
        while (line != null && line.isEmpty) line = readLine()
        if (line == null) { finished = true; close(); return }
        require(line.startsWith("WARC/"),
          s"record $idx: expected WARC version line, got '${line.take(40)}'")
        val hdrs = scala.collection.mutable.Map.empty[String, String]
        var h = readLine()
        while (h != null && h.nonEmpty) {
          val c = h.indexOf(':')
          require(c > 0, s"record $idx: malformed header '${h.take(40)}'")
          hdrs += h.substring(0, c).trim.toLowerCase ->
            h.substring(c + 1).trim
          h = readLine()
        }
        require(h != null, s"record $idx: headers truncated")
        val len = hdrs.getOrElse("content-length",
          sys.error(s"record $idx: missing Content-Length")).toLong
        require(len >= 0, s"record $idx: negative Content-Length")
        val over = len > maxRecordBytes
        val payload = if (over) { skipFully(len); null } else readFully(len)
        pending = Rec(idx, hdrs.getOrElse("warc-type", null),
          hdrs.getOrElse("warc-record-id", null),
          hdrs.getOrElse("warc-target-uri", null),
          hdrs.getOrElse("warc-date", null),
          hdrs.getOrElse("content-type", null), len, payload, over)
        idx += 1
      } catch {
        case scala.util.control.NonFatal(_) =>
          corrupt = true; finished = true; close()
      }
    }

    override def hasNext: Boolean = {
      if (pending == null && !finished) advance()
      pending != null
    }
    override def next(): Rec = {
      if (!hasNext) throw new NoSuchElementException
      val r = pending; pending = null; r
    }
  }

  /** Read every WARC/WET archive under `dir` (default glob catches
    * `.warc`, `.warc.gz`, `.wet`, `.wet.gz`). Returns (records frame in
    * [[recordSchema]] + `rel_path`, per-file audit frame
    * (rel_path, n_records, n_oversize, corrupt)). See the object doc for
    * the streaming / no-silent-caps / no-persist contract.
    */
  def readWarcDir(spark: SparkSession, dir: String,
                  glob: String = "*.{warc,wet}*",
                  maxRecordBytes: Long = 64L * 1024 * 1024)
      : (DataFrame, DataFrame) = {
    import org.apache.hadoop.fs.{GlobFilter, Path}
    // driver-side listing: paths and sizes only, never content — the
    // same cost class as Spark's FileIndex (and ~100k archive names at
    // 100 TB is megabytes, not a collect of data)
    val basePath = new Path(dir)
    val hadoopConf = spark.sessionState.newHadoopConf()
    val fs = basePath.getFileSystem(hadoopConf)
    // executors open the archives under the session's conf (its
    // `spark.hadoop.*` keys), shipped from the driver
    val conf = new SerializableConfiguration(hadoopConf)
    val qualified = fs.makeQualified(basePath)
    val baseUriPath = qualified.toUri.getPath.stripSuffix("/")
    val filter = new GlobFilter(glob)
    val files = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val it = fs.listFiles(qualified, true)
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && filter.accept(st.getPath)) {
        val up = st.getPath.toUri.getPath
        val rel = if (up.startsWith(baseUriPath + "/"))
          up.substring(baseUriPath.length + 1) else up
        files += rel -> st.getPath.toString
      }
    }
    val combinedSchema = StructType(
      StructField("rel_path", StringType) +:
        (recordSchema.fields.toSeq ++ auditFields))
    val enc = RowEncoder.encoderFor(combinedSchema)
    import spark.implicits._
    val slices = math.max(1,
      math.min(files.length, spark.sparkContext.defaultParallelism))
    val decoded = files.toSeq.toDF("rel_path", "uri")
      .repartition(slices)
      .mapPartitions { part =>
        part.flatMap { fr =>
          val rel = fr.getString(0); val uri = fr.getString(1)
          new Iterator[Row] {
            private var walk: RecordWalk = null
            private var openFailed = false
            private var auditEmitted = false
            private var n = 0L; private var nOver = 0L
            private def ensureOpen(): Unit =
              if (walk == null && !openFailed) try {
                val p = new Path(uri)
                val pfs = p.getFileSystem(conf.value)
                walk = new RecordWalk(pfs.open(p), maxRecordBytes)
                val w = walk
                Option(org.apache.spark.TaskContext.get()).foreach(
                  _.addTaskCompletionListener[Unit](_ => w.close()))
              } catch {
                case scala.util.control.NonFatal(_) => openFailed = true
              }
            override def hasNext: Boolean = {
              ensureOpen()
              (walk != null && walk.hasNext) || !auditEmitted
            }
            override def next(): Row = {
              ensureOpen()
              if (walk != null && walk.hasNext) {
                val r = walk.next()
                n += 1; if (r.oversize) nOver += 1
                Row(rel, r.idx, r.warcType, r.recordId, r.targetUri,
                  r.warcDate, r.contentType, r.contentLength, r.payload,
                  r.oversize, null, null, null)
              } else {
                auditEmitted = true
                val bad = openFailed || (walk != null && walk.corrupt)
                Row(rel, -1L, null, null, null, null, null, -1L, null,
                  false, n, nOver, bad)
              }
            }
          }
        }
      }(enc)
    val recCols = col("rel_path") +:
      recordSchema.fieldNames.toSeq.map(col)
    val rows = decoded.filter(col("record_idx") >= 0).select(recCols: _*)
    val audit = decoded.filter(col("record_idx") < 0)
      .select(col("rel_path"), col("n_records"), col("n_oversize"),
        col("corrupt"))
    (rows, audit)
  }

  /** WET projection: `conversion` records as UTF-8 text — the shape a
    * training-data pipeline feeds straight into dedup/quality scoring.
    */
  def wetText(records: DataFrame): DataFrame =
    records.filter(col("warc_type") === "conversion")
      .select(col("record_id"), col("target_uri"), col("warc_date"),
        col("content_length"),
        decode(col("payload"), "UTF-8").as("text"))

  /** K-sink twin of [[readWarcDir]]: one archive per non-empty input
    * partition (`part-NNNNN.warc[.gz]`), records in partition order,
    * written through the Hadoop FileSystem API (file://, HDFS, object
    * stores). Executors write in parallel — no driver collect; returns
    * records written.
    *
    * Input schema: (warc_type, record_id, target_uri, warc_date,
    * content_type all STRING; payload BINARY). Headers render CRLF,
    * payloads verbatim, the standard blank-line separator after each
    * record — so [[readWarcDir]] (and any external WARC reader)
    * round-trips the archive.
    */
  def writeWarcDir(df: DataFrame, dir: String, gzip: Boolean = true): Long = {
    val schema = df.schema
    val fi = Map("warc_type" -> schema.fieldIndex("warc_type"),
      "record_id" -> schema.fieldIndex("record_id"),
      "target_uri" -> schema.fieldIndex("target_uri"),
      "warc_date" -> schema.fieldIndex("warc_date"),
      "content_type" -> schema.fieldIndex("content_type"),
      "payload" -> schema.fieldIndex("payload"))
    val ext = if (gzip) ".warc.gz" else ".warc"
    val conf = new SerializableConfiguration(
      df.sparkSession.sessionState.newHadoopConf())
    df.rdd.mapPartitionsWithIndex { (idx, rows) =>
      if (!rows.hasNext) Iterator.single(0L)
      else {
        val path = new org.apache.hadoop.fs.Path(dir, f"part-$idx%05d$ext")
        val fs = path.getFileSystem(conf.value)
        val raw = fs.create(path, true)
        // one gzip member per RECORD (the CommonCrawl layout): a reader
        // can seek to a member boundary and decode one record alone
        var n = 0L
        try {
          rows.foreach { r =>
            val payload = r.getAs[Array[Byte]](fi("payload"))
            val sb = new StringBuilder("WARC/1.0\r\n")
            def h(name: String, key: String): Unit = {
              val v = r.get(fi(key))
              if (v != null) sb.append(name).append(": ")
                .append(v.toString).append("\r\n")
            }
            h("WARC-Type", "warc_type")
            h("WARC-Record-ID", "record_id")
            h("WARC-Date", "warc_date")
            h("WARC-Target-URI", "target_uri")
            h("Content-Type", "content_type")
            sb.append("Content-Length: ").append(payload.length)
              .append("\r\n\r\n")
            val head = sb.toString.getBytes(StandardCharsets.UTF_8)
            val tail = "\r\n\r\n".getBytes(StandardCharsets.UTF_8)
            if (gzip) {
              val bos = new ByteArrayOutputStream(
                head.length + payload.length + 64)
              val gz = new GZIPOutputStream(bos)
              gz.write(head); gz.write(payload); gz.write(tail); gz.close()
              raw.write(bos.toByteArray)
            } else {
              raw.write(head); raw.write(payload); raw.write(tail)
            }
            n += 1
          }
        } finally raw.close()
        Iterator.single(n)
      }
    }.sum().toLong
  }
}
