package graft

import org.apache.spark.sql.functions._

import Registry.t

/** Round-15 widening: the training-shard manifest (the final mile from
  * packed bins to the files a training job mounts), the in-engine
  * TRAINED quality classifier (fixed-iteration integer logistic
  * regression, every iteration oracle-replayed), and the multimodal
  * end-to-end chain (TAR/WebDataset container → decode → metadata
  * strip → perceptual dedup → canonical election → caption join →
  * interleaved packing — the LAION/DataComp shape, l22's image twin).
  */
object RegistryR15 {

  def entries: Seq[Q] = Seq(

    // ---- L23: training-shard MANIFEST — the artifact a training job
    //      reads: l06's packed bins ride a deterministic shard
    //      assignment (Knuth multiplicative hash of the bin key, the
    //      mixSources/u11 integer discipline) and each shard emits one
    //      manifest row: bin count, doc count, token count, and an
    //      ORDER-INDEPENDENT content checksum (48-bit md5 summands
    //      reduced mod 1e9+7 — exact BIGINT arithmetic, partition-
    //      order-proof, replayed bit-for-bit by the oracle). Upstream
    //      everything is hash-gated; this gates the last hop. Scale:
    //      one skinny-row shuffle (the shard groupBy); text never
    //      moves. The byte-stable FILE sink is spec-gated
    //      (ShardManifestSpec, the K5/WARC golden-hash posture). ------
    Q("l23_shard_manifest",
      (s, dir) => {
        val blocks = graft.llm.CorpusPipeline.packSequences(
          t(s, dir, "documents"), capacity = 120, blockSize = 256)
        graft.llm.ShardManifest.manifest(blocks, nShards = 7)
          .orderBy("shard")
      },
      Some("""WITH RECURSIVE n AS (
             |  SELECT doc_id, doc_id // 256 AS block,
             |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
             |      t -> strlen(t) > 0)) AS BIGINT) AS nt,
             |    row_number() OVER (PARTITION BY doc_id // 256
             |      ORDER BY doc_id) AS rn
             |  FROM documents),
             |p AS (
             |  SELECT doc_id, block, nt, rn, 0 AS bin, nt AS bt
             |  FROM n WHERE rn = 1
             |  UNION ALL
             |  SELECT n.doc_id, n.block, n.nt, n.rn,
             |    CASE WHEN p.bt + n.nt <= 120 THEN p.bin ELSE p.bin + 1 END,
             |    CASE WHEN p.bt + n.nt <= 120 THEN p.bt + n.nt ELSE n.nt END
             |  FROM p JOIN n ON n.block = p.block AND n.rn = p.rn + 1),
             |b AS (
             |  SELECT doc_id, nt, block * 10000 + bin AS bkey,
             |    ((((block * 10000 + bin) % 100000) * 2654435761)
             |      % 100000) % 7 AS shard
             |  FROM p),
             |h AS (
             |  SELECT shard, bkey, nt,
             |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)
             |      || ':' || CAST(nt AS VARCHAR)), 1, 12)) AS BIGINT)
             |      % 1000000007 AS hh
             |  FROM b)
             |SELECT shard, CAST(count(DISTINCT bkey) AS BIGINT) AS n_bins,
             |  CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(nt) AS BIGINT) AS n_tokens,
             |  CAST(sum(hh) % 1000000007 AS BIGINT) AS checksum
             |FROM h GROUP BY shard ORDER BY shard""".stripMargin)),

    // ---- T34: in-engine TRAINED quality classifier — fixed-iteration
    //      batch-GD logistic regression on hashed unigram buckets
    //      (t27's fixture: deterministic 70% md5 train split, partial
    //      planted class signal on even ids), with ZERO IEEE ops: the
    //      integer fast-sigmoid and truncating-division updates keep
    //      every margin, gradient and weight in exact BIGINT micro
    //      units, so the oracle replays ALL 10 iterations bit-for-bit
    //      (llm/LogReg.oracleCtes). Held-out docs come back with
    //      label/score/pred/correct — the l09 scoring shape, now with
    //      the WEIGHTS trained in-engine instead of fixed. Scale: the
    //      count table shuffles once and is cached; each iteration is
    //      a broadcast of ≤257 weight rows + one doc-keyed join; the
    //      per-round driver round-trip is the ≤257-row gradient.
    //      Features are bucket PRESENCE (see LogReg.hashedCounts):
    //      held-out accuracy 0.71 vs the 0.55 majority baseline —
    //      a trained filter that actually discriminates. --------
    Q("t34_logreg_quality",
      (s, dir) => {
        val lr = graft.llm.LogReg
        val (train, heldout) = lr.labelledSplit(
          lr.labelledDocs(t(s, dir, "documents"), "t34:"))
        lr.verdicts(lr.margins(heldout, lr.fit(train, iters = 10,
            lrDen = 4L)))
          .orderBy("doc_id")
      },
      Some(s"""WITH ${graft.llm.LogReg.labelledOracleCtes("t34:")
                 .mkString(",\n")}
              |SELECT doc_id, label, score_micro, pred, correct
              |FROM lr_out ORDER BY doc_id""".stripMargin)),

    // ---- M18: the MULTIMODAL end-to-end chain — l22's image twin,
    //      the published LAION/DataComp pipeline from the CONTAINER:
    //      executor-written TAR/WebDataset shards (s14's layout: a
    //      .png and a .txt caption member per sample) → PNG metadata
    //      extraction proving the planted GPS payload SURVIVED the
    //      container round-trip (2_gps_seen) → ancillary strip INSIDE
    //      the chain, proven lossless against a strip of the pristine
    //      encode (3_strip_restored) → perceptual dHash over the
    //      STRIPPED bytes (planted cross-scale duplicates: key mod 25,
    //      second half pixel-doubled — m14's plant) → connected
    //      components over STAR edges → canonical election by DECODED
    //      width (m17's rule) → caption join from the container's .txt
    //      members → interleaved image-text packing (64 image tokens +
    //      caption tokens per sample, l06's greedy fold). One (stage,
    //      n_rows) hash gate; DuckDB replays every stage transition —
    //      cluster count via the recursive closure, block count via
    //      the pack CTE over the elected canonicals — from source
    //      rows, so drift anywhere (a GPS tag lost, a strip that
    //      changed pixels, a closure or election flip, a bin seam)
    //      breaks the gate. Pixels never shuffle: hashes, widths and
    //      token counts travel; payloads stay scan-side. --------------
    Q("m18_multimodal_chain",
      (s, dir) => graft.llm.Multimodal.imageChain(t(s, dir, "documents"),
        bound = 150, nKeys = 25, tarDir = Registry.scratchDir("m18_tar"),
        parts = 4, blockSize = 8),
      Some(graft.llm.Multimodal.imageChainOracleSql(bound = 150,
        nKeys = 25, blockSize = 8))),

    // ---- D35: the degenerate-key pair VALVE, oracle-gated — the
    //      maxGroupSize cap on pairsWithinGroups with its
    //      conservative-miss contract on the hash path (the d06 hot-
    //      gram cap got the same treatment in its probe rows): one
    //      planted hot key (every 3rd doc) exceeds the cap and emits
    //      NOTHING — never a partial cluster — while bounded keys keep
    //      their exact ordered pair sets. At 100 TB this is the knob
    //      that keeps one solid-color-thumbnail perceptual hash from
    //      emitting 10¹² pairs; the oracle pins exactly what the cap
    //      drops. ---------------------------------------------------
    Q("d35_capped_pairs",
      (s, dir) => {
        val keyed = t(s, dir, "documents").filter(col("doc_id") < 300)
          .select(col("doc_id").cast("long").as("id"),
            when(col("doc_id") % 3 === 0, lit("hot"))
              .otherwise(concat(lit("k"), col("doc_id") % 20)).as("key"))
        graft.llm.Dedup.pairsWithinGroups(keyed, "key", "id",
            maxGroupSize = 50)
          .orderBy("id_a", "id_b")
      },
      Some("""WITH k AS (
             |  SELECT doc_id AS id,
             |    CASE WHEN doc_id % 3 = 0 THEN 'hot'
             |      ELSE 'k' || CAST(doc_id % 20 AS VARCHAR) END AS key
             |  FROM documents WHERE doc_id < 300),
             |sz AS (SELECT key, count(*) AS n FROM k GROUP BY key),
             |ok AS (SELECT k.id, k.key FROM k JOIN sz USING (key)
             |       WHERE sz.n <= 50)
             |SELECT a.id AS id_a, b.id AS id_b
             |FROM ok a JOIN ok b ON a.key = b.key AND a.id < b.id
             |ORDER BY id_a, id_b""".stripMargin)),

    // ---- L24: INCREMENTAL manifest maintenance — the steady-state
    //      form of l23 (the t32/t33 discipline applied to the final
    //      mile): per-(shard, bin) stats are the mergeable granularity
    //      (doc/token counts and the mod-P checksum all fold by
    //      grouped addition, bins may span batches), so the manifest a
    //      training job reads stays current as the corpus grows
    //      without rescanning packed history. Batches align to pack-
    //      block boundaries (block = id div blockSize is id-derived
    //      and packing is per-block, so block-aligned batches pack
    //      identically to the whole-corpus pack). This entry drives
    //      the full protocol — pack batch 1 (doc_id < 256, exactly
    //      block 0) → persist bin stats → load → fold batch 2's stats
    //      in → persist → load → roll up — against l23's WHOLE-corpus
    //      replay: the hash match proves fold+persist lossless (the
    //      t18 trick). -----------------------------------------------
    Q("l24_manifest_incremental",
      (s, dir) => {
        val sm = graft.llm.ShardManifest
        val docs = t(s, dir, "documents")
        def stats(lo: Long, hi: Long) = sm.binStats(
          graft.llm.CorpusPipeline.packSequences(
            docs.filter(col("doc_id") >= lo && col("doc_id") < hi),
            capacity = 120, blockSize = 256), nShards = 7)
        val tmp = Registry.scratchDir("sm_l24")
        sm.saveBinStats(stats(0L, 256L), s"$tmp/b1")
        sm.saveBinStats(sm.mergeBinStats(sm.loadBinStats(s, s"$tmp/b1"),
          stats(256L, 1000000L)), s"$tmp/b2")
        sm.manifestFromBinStats(sm.loadBinStats(s, s"$tmp/b2"))
          .orderBy("shard")
      },
      Some("""WITH RECURSIVE n AS (
             |  SELECT doc_id, doc_id // 256 AS block,
             |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
             |      t -> strlen(t) > 0)) AS BIGINT) AS nt,
             |    row_number() OVER (PARTITION BY doc_id // 256
             |      ORDER BY doc_id) AS rn
             |  FROM documents),
             |p AS (
             |  SELECT doc_id, block, nt, rn, 0 AS bin, nt AS bt
             |  FROM n WHERE rn = 1
             |  UNION ALL
             |  SELECT n.doc_id, n.block, n.nt, n.rn,
             |    CASE WHEN p.bt + n.nt <= 120 THEN p.bin ELSE p.bin + 1 END,
             |    CASE WHEN p.bt + n.nt <= 120 THEN p.bt + n.nt ELSE n.nt END
             |  FROM p JOIN n ON n.block = p.block AND n.rn = p.rn + 1),
             |b AS (
             |  SELECT doc_id, nt, block * 10000 + bin AS bkey,
             |    ((((block * 10000 + bin) % 100000) * 2654435761)
             |      % 100000) % 7 AS shard
             |  FROM p),
             |h AS (
             |  SELECT shard, bkey, nt,
             |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)
             |      || ':' || CAST(nt AS VARCHAR)), 1, 12)) AS BIGINT)
             |      % 1000000007 AS hh
             |  FROM b)
             |SELECT shard, CAST(count(DISTINCT bkey) AS BIGINT) AS n_bins,
             |  CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(nt) AS BIGINT) AS n_tokens,
             |  CAST(sum(hh) % 1000000007 AS BIGINT) AS checksum
             |FROM h GROUP BY shard ORDER BY shard""".stripMargin))
,

    // ---- L25: SIZE-BALANCED shard assignment — the alternative final
    //      mile when bins are heavy-tailed (l23's hash assignment gives
    //      each shard ~equal BIN COUNTS; this gives ~equal TOKEN MASS):
    //      bins in (block, bin) order are cut into contiguous
    //      token-mass ranges, shard = (mass before the bin) * N div
    //      total — every shard carries ~total/N tokens ± one bin. The
    //      cumulative mass rides the DISTRIBUTED runningTotal (range
    //      partition + broadcast offsets); the oracle IS the window
    //      form, so the gate proves the distributed assignment
    //      identical (the u11 trick). ---------------------------------
    Q("l25_balanced_shards",
      (s, dir) => {
        val packed = graft.llm.CorpusPipeline.packSequences(
          t(s, dir, "documents"), capacity = 120, blockSize = 256)
        val bins = packed.groupBy(col("block"), col("bin"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("bin_tokens"))
        graft.llm.ShardManifest.balancedShards(bins, nShards = 7)
          .groupBy("shard")
          .agg(count(lit(1)).as("n_bins"),
            sum(col("n_docs")).as("n_docs"),
            sum(col("bin_tokens")).as("n_tokens"))
          .orderBy("shard")
      },
      Some("""WITH RECURSIVE n AS (
             |  SELECT doc_id, doc_id // 256 AS block,
             |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
             |      t -> strlen(t) > 0)) AS BIGINT) AS nt,
             |    row_number() OVER (PARTITION BY doc_id // 256
             |      ORDER BY doc_id) AS rn
             |  FROM documents),
             |p AS (
             |  SELECT doc_id, block, nt, rn, 0 AS bin, nt AS bt
             |  FROM n WHERE rn = 1
             |  UNION ALL
             |  SELECT n.doc_id, n.block, n.nt, n.rn,
             |    CASE WHEN p.bt + n.nt <= 120 THEN p.bin ELSE p.bin + 1 END,
             |    CASE WHEN p.bt + n.nt <= 120 THEN p.bt + n.nt ELSE n.nt END
             |  FROM p JOIN n ON n.block = p.block AND n.rn = p.rn + 1),
             |bins AS (
             |  SELECT block, bin, count(*) AS nd,
             |    CAST(sum(nt) AS BIGINT) AS bt
             |  FROM p GROUP BY 1, 2),
             |tot AS (SELECT CAST(sum(bt) AS BIGINT) AS t FROM bins),
             |c AS (
             |  SELECT block, bin, nd, bt,
             |    CAST(sum(bt) OVER (ORDER BY block, bin
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS cum
             |  FROM bins),
             |sh AS (
             |  SELECT nd, bt,
             |    least(CAST(6 AS BIGINT),
             |      CAST(((cum - bt) * 7) // t AS BIGINT)) AS shard
             |  FROM c, tot)
             |SELECT shard, CAST(count(*) AS BIGINT) AS n_bins,
             |  CAST(sum(nd) AS BIGINT) AS n_docs,
             |  CAST(sum(bt) AS BIGINT) AS n_tokens
             |FROM sh GROUP BY shard ORDER BY shard""".stripMargin)),

    // ---- L26: TRAINED-filter corpus chain — t34's classifier DRIVING
    //      a corpus build (the published quality-filter-then-pack
    //      shape: CCNet/LLaMA train a filter on a labeled slice, score
    //      the web crawl, keep the keepers, pack what survives): fit
    //      the integer logistic regression on the deterministic 70%
    //      labeled split, score the REST from the trained weights,
    //      keep predicted-positive documents, greedy-pack the keepers
    //      into 512-token bins. The gate is the PACKED ASSIGNMENT —
    //      the oracle replays the whole composition (all 10 GD
    //      iterations, every verdict, the pack walk), so a weight
    //      flip, a verdict drift or a bin seam anywhere breaks it. ----
    Q("l26_trained_filter_chain",
      (s, dir) => {
        val lr = graft.llm.LogReg
        val docs = lr.labelledDocs(t(s, dir, "documents"), "l26:")
        val (train, rest) = lr.labelledSplit(docs)
        val w = lr.fit(train, iters = 10, lrDen = 4L)
        val kept = lr.margins(rest, w).filter(col("m") > 0)
          .select(col("id").as("doc_id"))
        val counts = kept.join(docs, "doc_id")
          .select(col("doc_id"),
            graft.llm.TextAnalysis.tokenCount(col("text"))
              .as("n_tokens"))
        graft.llm.CorpusPipeline.packByCount(counts,
            capacity = 512, blockSize = 32)
          .select(col("doc_id"), col("block"),
            col("bin").cast("long").as("bin"), col("n_tokens"))
          .orderBy("doc_id")
      },
      Some {
        val ctes = graft.llm.LogReg.labelledOracleCtes("l26:")
        s"""WITH RECURSIVE ${ctes.mkString(",\n")},
           |sel AS (SELECT doc_id FROM lr_out WHERE pred = 1),
           |txt AS (
           |  SELECT d.doc_id,
           |    d.text || CASE WHEN d.doc_id % 2 = 0
           |      THEN ' m' || d.lang ELSE '' END AS text
           |  FROM documents d JOIN sel USING (doc_id)),
           |pk_n AS (
           |  SELECT doc_id, doc_id // 32 AS block,
           |    CAST(len(list_filter(string_split_regex(trim(text),
           |      '\\s+'), x -> strlen(x) > 0)) AS BIGINT) AS nt,
           |    row_number() OVER (PARTITION BY doc_id // 32
           |      ORDER BY doc_id) AS rn
           |  FROM txt),
           |pk_p AS (
           |  SELECT doc_id, block, nt, rn, 0 AS bin, nt AS bt
           |  FROM pk_n WHERE rn = 1
           |  UNION ALL
           |  SELECT n.doc_id, n.block, n.nt, n.rn,
           |    CASE WHEN p.bt + n.nt <= 512 THEN p.bin ELSE p.bin + 1
           |      END,
           |    CASE WHEN p.bt + n.nt <= 512 THEN p.bt + n.nt ELSE n.nt
           |      END
           |  FROM pk_p p JOIN pk_n n
           |    ON n.block = p.block AND n.rn = p.rn + 1)
           |SELECT doc_id, block, CAST(bin AS BIGINT) AS bin,
           |  nt AS n_tokens
           |FROM pk_p ORDER BY doc_id""".stripMargin
      })

  )
}
