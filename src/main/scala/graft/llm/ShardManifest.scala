package graft.llm

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Training-shard manifest emission — the FINAL mile of the data-prep
  * DAG: the packer (CorpusPipeline.packByCount / packSequences)
  * assigns documents to (block, bin) training bins and l19 emits
  * shuffle keys, but a training job mounts FILES — a deterministic
  * shard assignment plus a manifest row per shard (bin count, doc
  * count, token count, content checksum) it can trust without
  * re-reading the corpus.
  *
  * Determinism discipline (the mixSources/u11 recipe): the shard of a
  * bin is a pure integer function of (block, bin) — Knuth
  * multiplicative hash over the bin key, reduced mod 100000 BEFORE the
  * multiply so the product can never overflow BIGINT and wrap
  * differently across engines. Same corpus, same packing → same
  * shards, run-to-run, engine-to-engine, under retries and
  * speculative execution.
  *
  * The checksum is an ORDER-INDEPENDENT exact sum: each row
  * contributes a 48-bit integer from the md5 of "doc_id:n_tokens",
  * reduced mod 1e9+7 per row and once more after the sum — plain
  * BIGINT arithmetic that any engine replays bit-for-bit and that
  * never depends on partitioning or arrival order (a concatenation
  * hash would need a per-shard global sort; a commutative sum needs
  * only the one groupBy the manifest already pays). Capacity: the
  * pre-reduction summands are < 1e9+7, so the BIGINT sum is exact up
  * to ~9.2e9 rows per shard.
  */
object ShardManifest {

  private val P = 1000000007L

  /** Per-row 48-bit content hash, reduced mod P (exact, portable). */
  private def rowHash(idCol: String, countCol: String) =
    conv(substring(md5(concat(col(idCol).cast("string"), lit(":"),
      col(countCol).cast("string"))), 1, 12), 16, 10)
      .cast("long") % P

  /** Deterministic shard id for every packed row: a pure projection
    * (no shuffle — pushes into whatever scan feeds it).
    */
  /** bkey = block·10000 + bin is collision-free ONLY while
    * bin ∈ [0, 10000) — a wider bin id would silently merge distinct
    * bins in shard assignment, n_bins and checksums. All public entry
    * points route through [[assignShards]], whose per-row guard fails
    * fast instead (every in-engine packer yields ≤ 256 bins/block, so
    * honest callers never pay more than the codegen'd range check).
    */
  private def guardedBkey(blockCol: String, binCol: String) = {
    val bin = col(binCol).cast("long")
    when(bin >= 0L && bin < 10000L,
      col(blockCol).cast("long") * 10000L + bin)
      .otherwise(raise_error(concat(
        lit("ShardManifest: bin out of [0, 10000) — bkey would "
          + "collide: "), bin.cast("string"))))
  }

  def assignShards(blocks: DataFrame, nShards: Int,
                   blockCol: String = "block", binCol: String = "bin")
      : DataFrame = {
    require(nShards > 0, "assignShards: nShards must be positive")
    blocks.withColumn("shard",
      pmod(pmod(pmod(guardedBkey(blockCol, binCol), lit(100000L))
        * lit(2654435761L), lit(100000L)), lit(nShards.toLong)))
  }

  /** The manifest: one row per shard — (shard, n_bins, n_docs,
    * n_tokens, checksum). ONE shuffle (the shard groupBy over skinny
    * scalar rows); the corpus text never moves.
    */
  def manifest(blocks: DataFrame, nShards: Int,
               idCol: String = "doc_id", blockCol: String = "block",
               binCol: String = "bin", countCol: String = "n_tokens")
      : DataFrame = {
    assignShards(blocks, nShards, blockCol, binCol)
      .select(col("shard"), guardedBkey(blockCol, binCol).as("__bkey"),
        col(idCol), col(countCol).cast("long").as("__nt"),
        rowHash(idCol, countCol).as("__h"))
      .groupBy("shard")
      .agg(countDistinct(col("__bkey")).as("n_bins"),
        count(lit(1)).as("n_docs"),
        sum(col("__nt")).as("n_tokens"),
        (sum(col("__h")) % P).as("checksum"))
  }

  /** Byte-stable shard files: every shard's rows as ONE JSONL file
    * `shard-NNNNN.jsonl` in (block, bin, id) order — the artifact a
    * training loader mounts. Executor-written (the WarcIngest sink
    * pattern): rows are hash-partitioned BY SHARD and sorted within
    * partitions, so each shard's rows are contiguous in one task and
    * stream to its file in deterministic order — same input, same
    * bytes, whatever the upstream partitioning was. Returns the number
    * of files written.
    *
    * Commit discipline (two-phase, the maintainUpsert posture): each
    * task streams to a PER-ATTEMPT dot-prefixed temp name and renames
    * onto the final name only after the shard's rows are fully written
    * — a crashed or superseded attempt can leave a stale `.tmp` (never
    * mounted: loaders glob `shard-*.jsonl`) but never a torn or
    * interleaved final file; duplicate attempts race only at the
    * rename, and both attempts carry identical bytes (the input is
    * deterministic per shard), so either winner is correct. Before
    * writing, stale `shard-*.jsonl` and orphaned temps from a previous
    * run are cleared — re-running with a smaller nShards must not leave
    * old shard files a globbing loader would mount.
    */
  def writeShards(blocks: DataFrame, dir: String, nShards: Int,
                  idCol: String = "doc_id", blockCol: String = "block",
                  binCol: String = "bin", countCol: String = "n_tokens")
      : Long = {
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val dfs = dirPath.getFileSystem(
      blocks.sparkSession.sessionState.newHadoopConf())
    if (dfs.exists(dirPath)) {
      (dfs.globStatus(new org.apache.hadoop.fs.Path(dirPath,
        "shard-*.jsonl")) ++
        dfs.globStatus(new org.apache.hadoop.fs.Path(dirPath,
          ".shard-*.jsonl.*.tmp")))
        .foreach(s => dfs.delete(s.getPath, false))
    }
    writeShardFiles(assignShards(blocks, nShards, blockCol, binCol),
      dir, nShards, idCol, blockCol, binCol, countCol)
  }

  /** SELECTIVE shard rewrite — the repair loop [[auditShards]] feeds: a
    * lost or corrupt shard file is regenerated from the packed rows
    * WITHOUT touching the healthy files (byte-stability means the
    * rewritten file is bit-identical to what the original write
    * produced — spec-pinned), so repairing one shard of a 100k-shard
    * directory costs one shard's rows, not a full rewrite. Same
    * two-phase per-attempt commit as [[writeShards]]. Returns the
    * number of files written.
    */
  def repairShards(blocks: DataFrame, dir: String, nShards: Int,
                   shards: Seq[Long], idCol: String = "doc_id",
                   blockCol: String = "block", binCol: String = "bin",
                   countCol: String = "n_tokens"): Long = {
    if (shards.isEmpty) return 0L
    writeShardFiles(
      assignShards(blocks, nShards, blockCol, binCol)
        .filter(col("shard").isin(shards: _*)),
      dir, nShards, idCol, blockCol, binCol, countCol)
  }

  private def writeShardFiles(assigned: DataFrame, dir: String,
                              nShards: Int, idCol: String,
                              blockCol: String, binCol: String,
                              countCol: String): Long = {
    val rows = assigned
      .select(col("shard"), col(blockCol).cast("long").as("block"),
        col(binCol).cast("long").as("bin"),
        col(idCol).cast("long").as("id"),
        col(countCol).cast("long").as("nt"))
      .repartition(nShards, col("shard"))
      .sortWithinPartitions("shard", "block", "bin", "id")
    val sessionConf = new org.apache.spark.util.SerializableConfiguration(
      assigned.sparkSession.sessionState.newHadoopConf())
    rows.rdd.mapPartitions { it =>
      if (!it.hasNext) Iterator.single(0L)
      else {
        val conf = sessionConf.value
        val attempt = Option(org.apache.spark.TaskContext.get())
          .map(_.taskAttemptId()).getOrElse(0L)
        var out: org.apache.hadoop.fs.FSDataOutputStream = null
        var tmp: org.apache.hadoop.fs.Path = null
        var current = -1L
        var files = 0L
        def commit(): Unit = if (out != null) {
          out.close(); out = null
          val fin = new org.apache.hadoop.fs.Path(
            dir, f"shard-$current%05d.jsonl")
          val fs = fin.getFileSystem(conf)
          fs.delete(fin, false) // duplicate attempts: identical bytes
          require(fs.rename(tmp, fin),
            s"writeShards: rename $tmp -> $fin failed")
        }
        try {
          it.foreach { r =>
            val shard = r.getLong(0)
            if (shard != current) { // sorted ⇒ shard change = file change
              commit()
              tmp = new org.apache.hadoop.fs.Path(
                dir, f".shard-$shard%05d.jsonl.$attempt.tmp")
              out = tmp.getFileSystem(conf).create(tmp, true)
              current = shard
              files += 1L
            }
            val line =
              s"""{"doc_id":${r.getLong(3)},"block":${r.getLong(1)},""" +
                s""""bin":${r.getLong(2)},"n_tokens":${r.getLong(4)}}""" + "\n"
            out.write(line.getBytes("UTF-8"))
          }
          commit()
        } finally if (out != null) out.close() // crash: temp only
        Iterator.single(files)
      }
    }.sum().toLong
  }

  /** Read [[writeShards]]' JSONL artifacts back: (shard, doc_id, block,
    * bin, n_tokens), shard parsed from the FILE NAME — the loader's
    * view of the corpus, scanned with an explicit schema (no inference
    * pass) and the `shard-*.jsonl` file-name filter (per-attempt `.tmp`
    * orphans are invisible by construction). The scan names the
    * directory, not a glob path: Spark looks up a single read path with
    * `getFileStatus` to find a streaming sink's metadata log, and on a
    * glob that lookup fails and logs a `FileNotFoundException` on every
    * read.
    */
  def readShards(spark: org.apache.spark.sql.SparkSession,
                 dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("block", LongType),
      StructField("bin", LongType), StructField("n_tokens", LongType)))
    // corrupt-is-data: a torn line (truncated file, bit rot) is DROPPED
    // here, so [[auditShards]] reports it as missing mass on its shard —
    // never an all-null row that would trip the bkey guard mid-audit
    spark.read.schema(schema).option("mode", "DROPMALFORMED")
      .option("pathGlobFilter", "shard-*.jsonl")
      .json(dir)
      .filter(col("doc_id").isNotNull && col("block").isNotNull &&
        col("bin").isNotNull && col("n_tokens").isNotNull)
      .withColumn("shard",
        regexp_extract(input_file_name(), "shard-(\\d+)\\.jsonl", 1)
          .cast("long"))
      .select(col("shard"), col("doc_id"), col("block"), col("bin"),
        col("n_tokens"))
  }

  /** SHARD-DIRECTORY INTEGRITY AUDIT — the check a training loader runs
    * before trusting mounted files: recompute every manifest statistic
    * (bin count, doc count, token count, order-independent checksum)
    * from the rows actually READ BACK from the shard files and diff
    * them against the trusted manifest, plus a placement check
    * (re-derive each row's shard from its (block, bin) and count rows
    * sitting in the wrong file). A truncated file, a lost row, a
    * flipped token count or a mis-landed bin each surface as a
    * per-shard `corrupt` row naming exactly what is missing; a shard
    * present in the manifest but absent on disk audits as fully
    * missing (found side coalesced to zero). One skinny-row shuffle
    * (the shard groupBy) + a broadcast join of two ≤nShards-row
    * frames — corpus text never moves, so the audit costs a scan of
    * the shard files and nothing else.
    */
  def auditShards(found: DataFrame, expected: DataFrame, nShards: Int)
      : DataFrame = {
    val recomputed = manifest(found, nShards, idCol = "doc_id",
      blockCol = "block", binCol = "bin", countCol = "n_tokens")
      .withColumnRenamed("n_bins", "f_bins")
      .withColumnRenamed("n_docs", "f_docs")
      .withColumnRenamed("n_tokens", "f_tokens")
      .withColumnRenamed("checksum", "f_checksum")
    // manifest() RE-DERIVES shard from (block, bin) — identical to the
    // writer's assignment — so a row in the wrong file would move its
    // stats to its TRUE shard and break both shards' rows; the explicit
    // misplacement count localizes that failure mode per shard.
    val misplaced = assignShards(found.withColumnRenamed("shard", "__fs"),
        nShards, blockCol = "block", binCol = "bin")
      .withColumnRenamed("shard", "__true")
      .groupBy(col("__fs").as("shard"))
      .agg(sum(when(col("__true") =!= col("__fs"), 1L).otherwise(0L))
        .as("n_misplaced"))
    expected.join(recomputed, Seq("shard"), "left")
      .join(misplaced, Seq("shard"), "left")
      .select(col("shard"),
        (col("n_docs") - coalesce(col("f_docs"), lit(0L)))
          .as("n_docs_missing"),
        (col("n_tokens") - coalesce(col("f_tokens"), lit(0L)))
          .as("n_tokens_missing"),
        (col("n_bins") - coalesce(col("f_bins"), lit(0L)))
          .as("n_bins_missing"),
        (coalesce(col("f_checksum"), lit(-1L)) === col("checksum"))
          .as("checksum_match"),
        coalesce(col("n_misplaced"), lit(0L)).as("n_misplaced"))
      .withColumn("status",
        when(col("n_docs_missing") === 0L &&
          col("n_tokens_missing") === 0L &&
          col("n_bins_missing") === 0L && col("checksum_match") &&
          col("n_misplaced") === 0L, lit("ok")).otherwise(lit("corrupt")))
  }

  /** Per-(shard, bin) partial stats — the MERGEABLE granularity of the
    * manifest (the incremental-stats discipline: d12/t32/t33): a bin
    * may receive documents from several batches, and (n_docs,
    * n_tokens, checksum) all fold by grouped addition (the checksum is
    * a sum mod P, so partial sums re-reduce losslessly). The manifest
    * itself ([[manifestFromBinStats]]) is a per-shard rollup of this
    * frame; maintaining bin stats incrementally keeps the training
    * manifest current as the corpus grows WITHOUT rescanning packed
    * history — provided batches are aligned to pack-block boundaries
    * (block = id div blockSize is id-derived and packing is per-block,
    * so block-aligned batches pack identically to a whole-corpus pack;
    * a batch that splits a block would bin its fragment differently).
    */
  def binStats(blocks: DataFrame, nShards: Int,
               idCol: String = "doc_id", blockCol: String = "block",
               binCol: String = "bin", countCol: String = "n_tokens")
      : DataFrame = {
    assignShards(blocks, nShards, blockCol, binCol)
      .select(col("shard"), guardedBkey(blockCol, binCol).as("bkey"),
        col(countCol).cast("long").as("__nt"),
        rowHash(idCol, countCol).as("__h"))
      .groupBy("shard", "bkey")
      .agg(count(lit(1)).as("n_docs"), sum(col("__nt")).as("n_tokens"),
        (sum(col("__h")) % P).as("checksum"))
  }

  /** Fold two bin-stats frames by grouped addition (disjoint DOC sets;
    * bins may overlap across the inputs — that is the point).
    */
  def mergeBinStats(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy("shard", "bkey")
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        (sum(col("checksum")) % P).as("checksum"))

  def saveBinStats(stats: DataFrame, dir: String): Unit =
    stats.write.mode("overwrite").parquet(dir)

  def loadBinStats(spark: org.apache.spark.sql.SparkSession,
                   dir: String): DataFrame = spark.read.parquet(dir)

  /** The manifest as a rollup of maintained bin stats — identical to
    * [[manifest]] over the same packed rows (oracle-gated: l24 folds
    * two batches and hash-matches l23's whole-corpus replay).
    */
  def manifestFromBinStats(stats: DataFrame): DataFrame =
    stats.groupBy("shard")
      .agg(count(lit(1)).as("n_bins"), sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        (sum(col("checksum")) % P).as("checksum"))

  /** SIZE-BALANCED shard assignment — the alternative to the hash
    * assignment when bins are heavy-tailed: bins are laid out in
    * (block, bin) order and cut into `nShards` contiguous token-mass
    * ranges, shard = ((cum_before_bin) · N) div total — every shard
    * carries ~total/N tokens ± one bin, whatever the bin-size skew.
    * All integer arithmetic; the cumulative mass rides the distributed
    * [[graft.etl.Ids.runningTotal]] (range partition + broadcast
    * offsets — never a single-task global window), and the oracle IS
    * the window form, so the u11-style gate proves the distributed
    * assignment identical. Input: one row per bin (the caller's
    * groupBy over packed rows); output adds (bin_cum, shard).
    */
  def balancedShards(bins: DataFrame, nShards: Int,
                     blockCol: String = "block", binCol: String = "bin",
                     tokensCol: String = "bin_tokens",
                     scope: graft.CacheScope = graft.CacheScope.harness)
      : DataFrame = {
    require(nShards > 0, "balancedShards: nShards must be positive")
    val cum = graft.etl.Ids.runningTotal(bins,
      Seq(col(blockCol), col(binCol)), col(tokensCol),
      totalName = "bin_cum", scope = scope)
    // fail fast on a non-positive total mass (all-zero/null token
    // masses) instead of dividing into a NULL shard column that flows
    // silently downstream; an EMPTY bins frame short-circuits to an
    // empty result by construction (no rows reach the expression)
    cum.crossJoin(broadcast(
        cum.agg(sum(col(tokensCol)).cast("long").as("__tot"))))
      .withColumn("shard",
        when(col("__tot") > 0L, least(lit(nShards.toLong - 1L),
          expr(s"((bin_cum - CAST($tokensCol AS BIGINT)) * " +
            s"${nShards}L) div __tot")))
          .otherwise(raise_error(concat(
            lit("balancedShards: total token mass must be positive, "
              + "got "), col("__tot").cast("string")))))
      .drop("__tot")
  }
}
