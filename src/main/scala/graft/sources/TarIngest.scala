package graft.sources

import java.nio.charset.StandardCharsets
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

/** POSIX-tar shard ingest — the WebDataset layout (`.tar` / `.tar.gz`
  * shards whose members group into samples by basename prefix:
  * `00042.jpg` + `00042.txt` + `00042.json` = one training sample), the
  * de-facto container for multimodal image/text training corpora, and
  * the fourth connector-free container format beside Avro OCF, ORC and
  * WARC. Spark ships no tar reader, so this module builds one on the
  * Hadoop FileSystem API with the exact posture of [[WarcIngest]]
  * (reference for the ingest-surface contract:
  * `/root/reference/etl/process_data.py:1` reads whole directories of
  * scraped files; this is that surface at crawl scale):
  *
  *  - driver-side recursive listing (paths + glob only) fans shards out
  *    across tasks; each task STREAMS its shards header-by-header over
  *    `fs.open` — gzip inflates incrementally, at most ONE member
  *    payload is in memory, and a multi-GB shard decodes in bounded
  *    heap;
  *  - no silent caps: a member whose size exceeds `maxMemberBytes`
  *    keeps its ROW (name + size intact, payload NULL,
  *    `oversize = true`, octets skipped through the stream) and counts
  *    in the audit frame's `n_oversize`;
  *  - corrupt-is-data: a truncated or garbled shard contributes every
  *    member decoded before the damage and latches `corrupt = true` in
  *    the audit frame — never an executor exception. Header checksums
  *    ARE verified, so bit rot in a header is damage, not garbage rows;
  *  - nothing persists: every action re-streams the shards (at corpus
  *    scale the inflated payload dwarfs any cache tier).
  *
  * Format scope (the public ustar/pax family, ALL of which real
  * WebDataset writers emit): ustar name+prefix fields, GNU `L` long-name
  * entries, pax `x` extended headers (`path` and `size` overrides
  * honored, other keys ignored), base-256 GNU size encoding, and the
  * two-zero-block terminator (tolerating bare EOF). Only regular-file
  * members become rows; directories and link entries are walked over.
  */
object TarIngest {

  /** One regular-file tar member: position in its shard, full member
    * name, size, payload octets (NULL when over the cap), oversize flag.
    */
  val memberSchema: StructType = StructType(Seq(
    StructField("member_idx", LongType, nullable = false),
    StructField("name", StringType),
    StructField("size", LongType, nullable = false),
    StructField("payload", BinaryType),
    StructField("oversize", BooleanType, nullable = false)))

  private val auditFields = Seq(
    StructField("n_members", LongType),
    StructField("n_oversize", LongType),
    StructField("corrupt", BooleanType))

  private[sources] final case class Member(idx: Long, name: String,
      size: Long, payload: Array[Byte], oversize: Boolean)

  private val BlockSize = 512

  /** Streaming member walk over ONE shard stream. Pull-based: each
    * `next()` decodes exactly one regular-file member (skipping
    * directory/link entries and metadata entries, whose name/size
    * overrides it applies to the following member). Memory high-water is
    * one payload or one 64 KB skip buffer. On NonFatal damage the walk
    * stops, `corrupt` latches, the stream closes; members decoded before
    * the damage were already emitted.
    */
  private[sources] final class MemberWalk(raw: java.io.InputStream,
      maxMemberBytes: Long) extends Iterator[Member] {
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
    private var pending: Member = null
    private var idx = 0L
    private var closed = false
    // GNU 'L' / pax 'x' overrides for the NEXT header
    private var nextName: String = null
    private var nextSize: Long = -1L

    def close(): Unit = if (!closed) {
      closed = true
      try in.close() catch { case scala.util.control.NonFatal(_) => () }
    }

    /** One 512-byte block; null at clean EOF on a block boundary. */
    private def readBlock(): Array[Byte] = {
      val b = new Array[Byte](BlockSize)
      var off = 0
      var n = in.read(b, 0, BlockSize)
      if (n < 0) return null
      while (n >= 0 && off + n < BlockSize) {
        off += n
        n = in.read(b, off, BlockSize - off)
      }
      require(off + n == BlockSize, s"truncated header block ($off octets)")
      b
    }

    private def readFully(len: Long): Array[Byte] = {
      val out = new Array[Byte](len.toInt)
      var off = 0
      while (off < out.length) {
        val n = in.read(out, off, out.length - off)
        require(n >= 0, s"member payload truncated ($off < $len)")
        off += n
      }
      out
    }

    private def skipFully(len: Long): Unit = {
      var left = len
      val buf = new Array[Byte](64 * 1024)
      while (left > 0) {
        val n = in.read(buf, 0, math.min(left, buf.length.toLong).toInt)
        require(n >= 0, s"oversize member truncated ($left octets short)")
        left -= n
      }
    }

    /** Padding after a `len`-octet payload up to the block boundary. */
    private def skipPadding(len: Long): Unit = {
      val pad = (BlockSize - (len % BlockSize)) % BlockSize
      if (pad > 0) skipFully(pad)
    }

    private def str(b: Array[Byte], off: Int, len: Int): String = {
      var end = off
      while (end < off + len && b(end) != 0) end += 1
      new String(b, off, end - off, StandardCharsets.UTF_8)
    }

    /** Octal numeric field; GNU base-256 (high bit of first byte set)
      * also accepted — large members in the wild use it.
      */
    private def num(b: Array[Byte], off: Int, len: Int): Long = {
      if ((b(off) & 0x80) != 0) {
        var v = (b(off) & 0x7f).toLong
        var i = off + 1
        while (i < off + len) { v = (v << 8) | (b(i) & 0xff); i += 1 }
        v
      } else {
        val s = str(b, off, len).trim
        require(s.nonEmpty, "empty numeric header field")
        java.lang.Long.parseLong(s, 8)
      }
    }

    /** Standard tar checksum: unsigned byte sum with the checksum field
      * read as 8 spaces.
      */
    private def checksum(b: Array[Byte]): Long = {
      var s = 0L
      var i = 0
      while (i < BlockSize) {
        s += (if (i >= 148 && i < 156) 32 else b(i) & 0xff)
        i += 1
      }
      s
    }

    /** Pax extended header payload: repeated "%d key=value\n" records
      * (the length prefix covers the whole record incl. itself).
      */
    private def applyPax(payload: Array[Byte]): Unit = {
      val s = new String(payload, StandardCharsets.UTF_8)
      var i = 0
      while (i < s.length) {
        val sp = s.indexOf(' ', i)
        require(sp > i, "malformed pax record")
        val recLen = s.substring(i, sp).toInt
        require(recLen > sp - i, "malformed pax record length")
        val rec = s.substring(sp + 1, i + recLen)
        val eq = rec.indexOf('=')
        if (eq > 0) {
          val key = rec.substring(0, eq)
          val value = rec.substring(eq + 1).stripSuffix("\n")
          if (key == "path") nextName = value
          else if (key == "size") nextSize = value.toLong
        }
        i += recLen
      }
    }

    private def advance(): Unit = {
      if (finished) return
      try {
        while (pending == null && !finished) {
          val hdr = readBlock()
          if (hdr == null || hdr.forall(_ == 0)) {
            finished = true; close(); return
          }
          require(checksum(hdr) == num(hdr, 148, 8),
            s"member $idx: header checksum mismatch")
          val typeflag = hdr(156).toChar
          val rawName = {
            val base = str(hdr, 0, 100)
            val prefix =
              if (str(hdr, 257, 6).startsWith("ustar")) str(hdr, 345, 155)
              else ""
            if (prefix.isEmpty) base else prefix + "/" + base
          }
          val rawSize = num(hdr, 124, 12)
          typeflag match {
            case 'L' => // GNU long name: payload is the next member's name
              val nm = readFully(rawSize); skipPadding(rawSize)
              nextName = new String(nm, StandardCharsets.UTF_8)
                .stripSuffix("\u0000")
            case 'x' | 'g' => // pax extended header
              val px = readFully(rawSize); skipPadding(rawSize)
              if (typeflag == 'x') applyPax(px)
            case '0' | '\u0000' =>
              val name = if (nextName != null) nextName else rawName
              val size = if (nextSize >= 0) nextSize else rawSize
              nextName = null; nextSize = -1L
              val over = size > maxMemberBytes
              val payload = if (over) { skipFully(size); null }
                else readFully(size)
              skipPadding(size)
              pending = Member(idx, name, size, payload, over)
              idx += 1
            case _ => // directory, link, device: no payload rows
              skipFully(rawSize); skipPadding(rawSize)
              nextName = null; nextSize = -1L
          }
        }
      } catch {
        case scala.util.control.NonFatal(_) =>
          corrupt = true; finished = true; close()
      }
    }

    override def hasNext: Boolean = {
      if (pending == null && !finished) advance()
      pending != null
    }
    override def next(): Member = {
      if (!hasNext) throw new NoSuchElementException
      val m = pending; pending = null; m
    }
  }

  /** Read every tar shard under `dir` (default glob catches `.tar` and
    * `.tar.gz`). Returns (members frame in [[memberSchema]] +
    * `rel_path`, per-file audit frame (rel_path, n_members, n_oversize,
    * corrupt)). Streaming / no-silent-caps / no-persist — see object doc.
    */
  def readTarDir(spark: SparkSession, dir: String,
                 glob: String = "*.tar*",
                 maxMemberBytes: Long = 64L * 1024 * 1024)
      : (DataFrame, DataFrame) = {
    import org.apache.hadoop.fs.{GlobFilter, Path}
    val basePath = new Path(dir)
    val hadoopConf = spark.sessionState.newHadoopConf()
    val fs = basePath.getFileSystem(hadoopConf)
    // executors open the shards under the session's conf (its
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
        (memberSchema.fields.toSeq ++ auditFields))
    val enc = RowEncoder.encoderFor(combinedSchema)
    import spark.implicits._
    val slices = math.max(1,
      math.min(files.length, spark.sparkContext.defaultParallelism))
    // tasks by position in the path-sorted list: a local directory lists
    // in creation order, which parallel writer tasks make timing-dependent,
    // and a round-robin split orders rows by a hash of the full uris — so
    // either would group different shards per task from run to run
    val decoded = files.toSeq.sortBy(_._1).zipWithIndex
      .map { case ((rel, uri), i) => (rel, uri, i) }
      .toDF("rel_path", "uri", "pos")
      .repartition(slices, col("pos"))
      .mapPartitions { part =>
        part.flatMap { fr =>
          val rel = fr.getString(0); val uri = fr.getString(1)
          new Iterator[Row] {
            private var walk: MemberWalk = null
            private var openFailed = false
            private var auditEmitted = false
            private var n = 0L; private var nOver = 0L
            private def ensureOpen(): Unit =
              if (walk == null && !openFailed) try {
                val p = new Path(uri)
                val pfs = p.getFileSystem(conf.value)
                walk = new MemberWalk(pfs.open(p), maxMemberBytes)
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
                val m = walk.next()
                n += 1; if (m.oversize) nOver += 1
                Row(rel, m.idx, m.name, m.size, m.payload, m.oversize,
                  null, null, null)
              } else {
                auditEmitted = true
                val bad = openFailed || (walk != null && walk.corrupt)
                Row(rel, -1L, null, -1L, null, false, n, nOver, bad)
              }
            }
          }
        }
      }(enc)
    val memCols = col("rel_path") +:
      memberSchema.fieldNames.toSeq.map(col)
    val rows = decoded.filter(col("member_idx") >= 0).select(memCols: _*)
    val audit = decoded.filter(col("member_idx") < 0)
      .select(col("rel_path"), col("n_members"), col("n_oversize"),
        col("corrupt"))
    (rows, audit)
  }

  /** WebDataset sample projection: member name → (sample_key, ext) by
    * the WebDataset convention — the key is everything up to the FIRST
    * period of the basename (directories included), the extension is
    * everything after it (`a/b/00042.seg.json` → key `a/b/00042`, ext
    * `seg.json`; no period → ext NULL). Pure codegen'd column
    * expressions; grouping into one row per sample is the caller's
    * `groupBy(sample_key).pivot/agg` over this long form.
    */
  def wdsSamples(members: DataFrame): DataFrame = {
    val bn = regexp_extract(col("name"), "([^/]*)$", 1)
    val dir = regexp_extract(col("name"), "^(.*/)", 1)
    val parts = split(bn, "\\.", 2)
    members.select(
      concat(dir, element_at(parts, 1)).as("sample_key"),
      get(parts, lit(1)).as("ext"),
      col("rel_path"), col("member_idx"), col("size"), col("payload"),
      col("oversize"))
  }

  /** K-sink twin of [[readTarDir]]: one shard per non-empty input
    * partition (`part-NNNNN.tar[.gz]`), members in partition order,
    * written through the Hadoop FileSystem API by the executors in
    * parallel (no driver collect). Returns members written.
    *
    * Input schema: (name STRING, payload BINARY). Headers are plain
    * ustar with zeroed mtime/uid/gid (byte-deterministic shards — the
    * same input partition always produces the same octets); names longer
    * than 100 octets use the ustar prefix field when they split on a
    * `/`, else a GNU `L` long-name entry. Two zero blocks terminate the
    * shard, so external tar readers accept it.
    */
  def writeTarDir(df: DataFrame, dir: String, gzip: Boolean = true): Long = {
    val schema = df.schema
    val nameIdx = schema.fieldIndex("name")
    val payloadIdx = schema.fieldIndex("payload")
    val ext = if (gzip) ".tar.gz" else ".tar"
    val conf = new SerializableConfiguration(
      df.sparkSession.sessionState.newHadoopConf())
    df.rdd.mapPartitionsWithIndex { (idx, rows) =>
      if (!rows.hasNext) Iterator.single(0L)
      else {
        val path = new org.apache.hadoop.fs.Path(dir, f"part-$idx%05d$ext")
        val fs = path.getFileSystem(conf.value)
        val raw = fs.create(path, true)
        val out: java.io.OutputStream =
          if (gzip) new GZIPOutputStream(raw, 64 * 1024) else raw
        var n = 0L
        def octal(v: Long, len: Int): Array[Byte] = {
          val s = java.lang.Long.toOctalString(v)
          val padded = ("0" * (len - 1 - s.length)) + s
          (padded + "\u0000").getBytes(StandardCharsets.US_ASCII)
        }
        def put(b: Array[Byte], off: Int, s: Array[Byte]): Unit =
          System.arraycopy(s, 0, b, off, s.length)
        def header(name: String, size: Long, typeflag: Char): Array[Byte] = {
          val b = new Array[Byte](BlockSize)
          val nb = name.getBytes(StandardCharsets.UTF_8)
          if (nb.length <= 100) put(b, 0, nb)
          else {
            // split on a '/' so prefix ≤ 155 and base ≤ 100
            val cut = name.lastIndexOf('/',
              math.min(name.length - 1, 155))
            val base = name.substring(cut + 1)
              .getBytes(StandardCharsets.UTF_8)
            val prefix = name.substring(0, math.max(cut, 0))
              .getBytes(StandardCharsets.UTF_8)
            require(cut > 0 && base.length <= 100 && prefix.length <= 155,
              "unsplittable long name routed to 'L' entry by caller")
            put(b, 0, base); put(b, 345, prefix)
          }
          put(b, 100, octal(420, 8))           // mode 0644
          put(b, 108, octal(0, 8))             // uid
          put(b, 116, octal(0, 8))             // gid
          put(b, 124, octal(size, 12))
          put(b, 136, octal(0, 12))            // mtime: deterministic
          b(156) = typeflag.toByte
          put(b, 257, "ustar\u000000".getBytes(StandardCharsets.US_ASCII))
          java.util.Arrays.fill(b, 148, 156, ' '.toByte)
          var s = 0L
          b.foreach(x => s += (x & 0xff))
          val cs = java.lang.Long.toOctalString(s)
          put(b, 148, (("0" * (6 - cs.length)) + cs + "\u0000 ")
            .getBytes(StandardCharsets.US_ASCII))
          b
        }
        def pad(size: Long): Unit = {
          val p = ((BlockSize - (size % BlockSize)) % BlockSize).toInt
          if (p > 0) out.write(new Array[Byte](p))
        }
        def canUstar(name: String): Boolean = {
          val nb = name.getBytes(StandardCharsets.UTF_8)
          nb.length <= 100 || {
            val cut = name.lastIndexOf('/',
              math.min(name.length - 1, 155))
            cut > 0 &&
              name.substring(cut + 1)
                .getBytes(StandardCharsets.UTF_8).length <= 100 &&
              name.substring(0, cut)
                .getBytes(StandardCharsets.UTF_8).length <= 155
          }
        }
        try {
          rows.foreach { r =>
            val name = r.getString(nameIdx)
            val payload = r.getAs[Array[Byte]](payloadIdx)
            if (!canUstar(name)) {
              val nb = (name + "\u0000").getBytes(StandardCharsets.UTF_8)
              out.write(header("././@LongLink", nb.length, 'L'))
              out.write(nb); pad(nb.length)
              // stub name in the data header: <=100 ASCII octets (the
              // L entry carries the real name; the stub is cosmetic)
              val stub = name.getBytes(StandardCharsets.UTF_8).take(100)
                .map(b => if (b >= 0x20 && b < 0x7f) b.toChar else '_')
                .mkString
              out.write(header(stub, payload.length, '0'))
            } else {
              out.write(header(name, payload.length, '0'))
            }
            out.write(payload); pad(payload.length)
            n += 1
          }
          out.write(new Array[Byte](2 * BlockSize))
        } finally out.close()
        Iterator.single(n)
      }
    }.sum().toLong
  }
}
