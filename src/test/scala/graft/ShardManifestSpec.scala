package graft

import org.apache.spark.sql.functions._

import graft.llm.ShardManifest

/** Shard manifest + byte-stable shard sink: deterministic assignment,
  * exact order-independent checksum, and files whose bytes are a pure
  * function of the input (the K5/WARC golden posture).
  */
class ShardManifestSpec extends SparkSpec {
  import spark.implicits._

  // (doc_id, block, bin, n_tokens) — two blocks, three bins
  private val blockRows = Seq(
    (1L, 0L, 0L, 50L), (2L, 0L, 0L, 60L), (3L, 0L, 1L, 80L),
    (4L, 1L, 0L, 40L), (5L, 1L, 0L, 30L), (6L, 1L, 0L, 20L))
  private def blocks = blockRows.toDF("doc_id", "block", "bin", "n_tokens")

  private val P = 1000000007L
  private def shardOf(block: Long, bin: Long, n: Int): Long =
    ((block * 10000L + bin) % 100000L * 2654435761L % 100000L) % n
  private def h48(id: Long, nt: Long): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$id:$nt".getBytes("UTF-8"))
    java.lang.Long.parseLong(
      md.take(6).map(b => f"${b & 0xff}%02x").mkString, 16) % P
  }

  test("manifest: deterministic assignment, exact counts, " +
      "order-independent checksum == scala replay") {
    val got = ShardManifest.manifest(blocks, nShards = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
    val expected = blockRows
      .groupBy { case (_, block, bin, _) => shardOf(block, bin, 3) }
      .map { case (shard, rows) =>
        (shard,
          rows.map(r => r._2 * 10000L + r._3).distinct.size.toLong,
          rows.size.toLong,
          rows.map(_._4).sum,
          rows.map(r => h48(r._1, r._4)).sum % P)
      }.toSeq.sortBy(_._1)
    assert(got == expected)
    // shuffled input → identical manifest (order independence)
    val got2 = ShardManifest.manifest(
        blocks.orderBy(rand(42)).repartition(7), nShards = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
    assert(got2 == got)
  }

  test("writeShards: one JSONL file per shard, rows in (block, bin, id) " +
      "order, bytes a pure function of the input (double-write equal, " +
      "expected bytes exact)") {
    val dir = Registry.scratchDir("spec_shards") + "/out"
    val n = ShardManifest.writeShards(blocks, dir, nShards = 3)
    def fileBytes(): Map[String, String] =
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".jsonl"))
        .map { f =>
          val bytes = java.nio.file.Files.readAllBytes(f.toPath)
          f.getName -> new String(bytes, "UTF-8")
        }.toMap
    val first = fileBytes()
    assert(first.size == n.toInt)
    // expected content derived independently: shard rows in
    // (block, bin, id) order, one canonical JSONL line each
    val expected = blockRows
      .groupBy { case (_, block, bin, _) => shardOf(block, bin, 3) }
      .map { case (shard, rows) =>
        f"shard-$shard%05d.jsonl" -> rows
          .sortBy { case (id, block, bin, _) => (block, bin, id) }
          .map { case (id, block, bin, nt) =>
            s"""{"doc_id":$id,"block":$block,"bin":$bin,"n_tokens":$nt}\n"""
          }.mkString
      }
    assert(first == expected)
    // double-write from a differently-partitioned input → same bytes
    ShardManifest.writeShards(blocks.orderBy(rand(7)).repartition(5),
      dir, nShards = 3)
    assert(fileBytes() == first)
  }

  test("writeShards: stale shard files and orphaned attempt temps are " +
      "cleared; commit is rename-based, so finals are never torn") {
    val dir = Registry.scratchDir("spec_shards_stale") + "/out"
    new java.io.File(dir).mkdirs()
    // a previous larger-nShards run left an orphan a globbing loader
    // would mount, and a crashed attempt left a temp
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "shard-00099.jsonl"),
      "stale\n".getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, ".shard-00001.jsonl.42.tmp"),
      "torn".getBytes("UTF-8"))
    ShardManifest.writeShards(blocks, dir, nShards = 3)
    // ignore the local ChecksumFileSystem's .crc sidecars
    val names = new java.io.File(dir).listFiles().map(_.getName)
      .filterNot(_.endsWith(".crc")).toSet
    assert(!names.contains("shard-00099.jsonl"), names.toString)
    assert(!names.exists(_.endsWith(".tmp")), names.toString)
    assert(names.forall(_.matches("shard-\\d{5}\\.jsonl")), names.toString)
    // and a re-run into the same dir stays byte-identical (the rename
    // commit puts complete files only at final names)
    val bytes1 = names.map(n => n -> new String(java.nio.file.Files
      .readAllBytes(java.nio.file.Paths.get(dir, n)), "UTF-8")).toMap
    ShardManifest.writeShards(blocks.repartition(5), dir, nShards = 3)
    val bytes2 = new java.io.File(dir).listFiles()
      .filterNot(_.getName.endsWith(".crc")).map(f =>
        f.getName -> new String(java.nio.file.Files.readAllBytes(f.toPath),
          "UTF-8")).toMap
    assert(bytes2 == bytes1)
  }

  test("bkey collision guard: bin outside [0, 10000) fails fast " +
      "instead of silently merging distinct bins") {
    val bad = Seq((1L, 0L, 10000L, 5L), (2L, 0L, 0L, 7L))
      .toDF("doc_id", "block", "bin", "n_tokens")
    val e = intercept[Throwable] {
      ShardManifest.manifest(bad, nShards = 3).collect()
    }
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msg.contains("bin out of [0, 10000)"), msg.take(400))
  }

  test("balancedShards: non-positive total mass fails fast; empty " +
      "input short-circuits to an empty result") {
    val zero = Seq((0L, 0L, 1L, 0L), (0L, 1L, 1L, 0L))
      .toDF("block", "bin", "n_docs", "bin_tokens")
    val e = intercept[Throwable] {
      ShardManifest.balancedShards(zero, nShards = 4).collect()
    }
    spark.catalog.clearCache() // runningTotal pins its range exchange
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msg.contains("total token mass"), msg.take(400))
    val empty = Seq.empty[(Long, Long, Long, Long)]
      .toDF("block", "bin", "n_docs", "bin_tokens")
    assert(ShardManifest.balancedShards(empty, nShards = 4)
      .collect().isEmpty)
    spark.catalog.clearCache()
  }

  test("balancedShards: every shard within one max-bin of total/N, " +
      "contiguous ranges, deterministic under repartitioning") {
    // heavy-tailed bins on purpose: one bin holds ~30% of the mass
    val bins = ((0L until 40L).map(i => (i / 10L, i % 10L, 1L, 100L))
      :+ (4L, 0L, 1L, 1700L)).toDF("block", "bin", "n_docs", "bin_tokens")
    val out = graft.llm.ShardManifest.balancedShards(bins, nShards = 4)
      .collect().map(r => (r.getAs[Long]("block"), r.getAs[Long]("bin"),
        r.getAs[Long]("bin_tokens"), r.getAs[Long]("shard")))
    spark.catalog.clearCache() // runningTotal pins its range exchange
    assert(out.length == 41)
    val total = out.map(_._3).sum // 5700
    val maxBin = out.map(_._3).max // 1700
    val byShard = out.groupBy(_._4).view.mapValues(_.map(_._3).sum).toMap
    assert(byShard.keySet.subsetOf((0L until 4L).toSet))
    // each shard's mass is < total/N + one bin (the contiguous-cut bound)
    byShard.foreach { case (sh, mass) =>
      assert(mass < total / 4 + maxBin, s"shard $sh carries $mass")
    }
    // shards are contiguous in (block, bin) order
    val ordered = out.sortBy(r => (r._1, r._2)).map(_._4)
    assert(ordered.zip(ordered.tail).forall { case (a, b) => a <= b },
      ordered.mkString(","))
    // deterministic under a different input partitioning
    val out2 = graft.llm.ShardManifest.balancedShards(
        bins.repartition(7), nShards = 4)
      .collect().map(r => (r.getAs[Long]("block"), r.getAs[Long]("bin"),
        r.getAs[Long]("shard"))).sorted.toSeq
    spark.catalog.clearCache()
    assert(out2 == out.map(r => (r._1, r._2, r._4)).sorted.toSeq)
  }

  test("readShards round-trips writeShards; auditShards is all-ok on " +
      "pristine files") {
    val blocks = (0L until 60L).map(i => (i, i / 16L, i % 4L, 10L + i))
      .toDF("doc_id", "block", "bin", "n_tokens")
    val dir = Registry.scratchDir("sm_audit_ok") + "/out"
    ShardManifest.writeShards(blocks, dir, nShards = 3)
    val found = ShardManifest.readShards(spark, dir)
    assert(found.count() == 60L)
    val audit = ShardManifest.auditShards(found,
      ShardManifest.manifest(blocks, nShards = 3), nShards = 3)
      .collect()
    assert(audit.nonEmpty)
    assert(audit.forall(_.getAs[String]("status") == "ok"),
      audit.mkString("\n"))
    assert(audit.forall(_.getAs[Long]("n_misplaced") == 0L))
  }

  test("readShards names the directory: no FileNotFoundException is " +
      "logged for the shard-*.jsonl pattern") {
    val blocks = (0L until 20L).map(i => (i, i / 8L, i % 2L, 5L + i))
      .toDF("doc_id", "block", "bin", "n_tokens")
    val dir = Registry.scratchDir("sm_read_log") + "/out"
    ShardManifest.writeShards(blocks, dir, nShards = 3)
    val (n, logs) = capturingLogs {
      ShardManifest.readShards(spark, dir).count()
    }
    assert(n.get == 20L)
    val missing = logs.filter(e => Option(e.getThrown).exists(
        _.isInstanceOf[java.io.FileNotFoundException]) ||
      e.getMessage.getFormattedMessage.contains("shard-*.jsonl"))
    assert(missing.isEmpty, missing.map(_.getMessage.getFormattedMessage))
  }

  test("auditShards localizes a fully missing shard file and flags a " +
      "misplaced row") {
    val blocks = (0L until 60L).map(i => (i, i / 16L, i % 4L, 10L + i))
      .toDF("doc_id", "block", "bin", "n_tokens")
    val dir = Registry.scratchDir("sm_audit_bad") + "/out"
    ShardManifest.writeShards(blocks, dir, nShards = 3)
    val expected = ShardManifest.manifest(blocks, nShards = 3)
    // delete one whole shard file: its audit row reports EVERYTHING
    // missing (found side coalesced to zero), the others stay ok
    val victim = expected.orderBy("shard").first().getAs[Long]("shard")
    val vp = new java.io.File(dir, f"shard-$victim%05d.jsonl")
    assert(vp.delete(), vp.toString)
    val audit1 = ShardManifest.auditShards(
        ShardManifest.readShards(spark, dir), expected, nShards = 3)
      .collect().map(r => r.getAs[Long]("shard") -> r).toMap
    val bad = audit1(victim)
    assert(bad.getAs[String]("status") == "corrupt")
    assert(bad.getAs[Long]("n_docs_missing") > 0L)
    assert(!bad.getAs[Boolean]("checksum_match"))
    audit1.filterNot(_._1 == victim).values.foreach(r =>
      assert(r.getAs[String]("status") == "ok", r.toString))
    // a row sitting in the WRONG file: hand-build the found frame with
    // one row's file-shard swapped — the placement check names it while
    // manifest() (which re-derives the true shard) still balances
    val pristine = ShardManifest.assignShards(blocks, nShards = 3)
    val swapped = pristine.withColumn("shard",
      when(col("doc_id") === 0L, (col("shard") + 1L) % 3L)
        .otherwise(col("shard")))
    val trueShard = pristine.filter(col("doc_id") === 0L)
      .first().getAs[Long]("shard")
    val wrongShard = (trueShard + 1L) % 3L
    val audit2 = ShardManifest.auditShards(swapped, expected, nShards = 3)
      .collect().map(r => r.getAs[Long]("shard") -> r).toMap
    assert(audit2(wrongShard).getAs[Long]("n_misplaced") == 1L)
    assert(audit2(wrongShard).getAs[String]("status") == "corrupt")
    assert(audit2.values.count(_.getAs[Long]("n_misplaced") > 0L) == 1)
  }

  test("repairShards regenerates exactly the audited-corrupt shards " +
      "bit-identically, leaving healthy files untouched") {
    val blocks = (0L until 60L).map(i => (i, i / 16L, i % 4L, 10L + i))
      .toDF("doc_id", "block", "bin", "n_tokens")
    val dir = Registry.scratchDir("sm_repair") + "/out"
    ShardManifest.writeShards(blocks, dir, nShards = 3)
    val expected = ShardManifest.manifest(blocks, nShards = 3)
    def bytes(): Map[String, Seq[Byte]] =
      new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".jsonl")).map(f =>
          f.getName -> java.nio.file.Files.readAllBytes(f.toPath)
            .toSeq).toMap
    val pristine = bytes()
    // break two shards two different ways: delete one, truncate another
    val all = expected.orderBy("shard").collect()
      .map(_.getAs[Long]("shard"))
    assert(all.length == 3)
    val (lost, torn) = (all(0), all(1))
    assert(new java.io.File(dir, f"shard-$lost%05d.jsonl").delete())
    val tp = java.nio.file.Paths.get(dir, f"shard-$torn%05d.jsonl")
    java.nio.file.Files.write(tp,
      java.nio.file.Files.readAllBytes(tp).drop(20))
    // raw-NIO tamper bypasses the local ChecksumFileSystem — drop the
    // stale .crc sidecar (production object stores have none)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(dir, f".shard-$torn%05d.jsonl.crc"))
    // the repair loop: audit names the corrupt set, repair rewrites it
    val corrupt = ShardManifest.auditShards(
        ShardManifest.readShards(spark, dir), expected, nShards = 3)
      .filter(col("status") === "corrupt").collect()
      .map(_.getAs[Long]("shard")).toSeq.sorted
    assert(corrupt == Seq(lost, torn).sorted)
    val n = ShardManifest.repairShards(blocks, dir, nShards = 3, corrupt)
    assert(n == 2L)
    // byte-identical to the pristine write, healthy file untouched
    assert(bytes() == pristine)
    val reaudit = ShardManifest.auditShards(
        ShardManifest.readShards(spark, dir), expected, nShards = 3)
      .collect()
    assert(reaudit.forall(_.getAs[String]("status") == "ok"),
      reaudit.mkString("\n"))
    // empty repair list is a no-op
    assert(ShardManifest.repairShards(blocks, dir, 3, Nil) == 0L)
  }
}
