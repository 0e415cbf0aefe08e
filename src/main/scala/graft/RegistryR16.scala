package graft

import org.apache.spark.sql.functions._

import graft.llm.TextAnalysis.tokensSql
import Registry.{t, tf}

/** Round-16 widening: the trained-classifier ARTIFACT (fit once →
  * persist → score forever, the posture every sibling artifact already
  * has) and the audio/video end-to-end chain (m18's remaining-modality
  * twin: WebDataset shards carrying WAV + MJPEG AVI → real RIFF decode
  * → duration-invariant envelope dedup → longest-rendition election →
  * scene-cut features → caption join → packing).
  */
object RegistryR16 {

  def entries: Seq[Q] = Seq(

    // ---- T35: PERSISTED trained classifier — t34's logistic regression
    //      through the fit-once/score-forever protocol every sibling
    //      artifact has (BPE merges, Unigram vocab, KN stats, BM25):
    //      fit on the labeled 70% split → saveWeights (parquet, ≤257
    //      rows) → loadWeights → score the held-out batch FROM THE
    //      LOADED ARTIFACT. The oracle replays the ENTIRE fit (all 10
    //      integer-GD iterations) and the held-out scoring — identical
    //      to t34's — so the hash match PROVES the parquet round trip
    //      lossless: a single weight bit lost in persistence flips a
    //      margin and breaks the gate. At 100 TB: the production
    //      quality filter trains once and is applied to every later
    //      drop; without this artifact the l26 chain refits per run. --
    Q("t35_logreg_persisted",
      (s, dir) => {
        val lr = graft.llm.LogReg
        val (train, heldout) = lr.labelledSplit(
          lr.labelledDocs(t(s, dir, "documents"), "t34:"))
        val tmp = Registry.scratchDir("lr_t35")
        lr.saveWeights(s, lr.fit(train, iters = 10, lrDen = 4L),
          s"$tmp/w")
        lr.verdicts(lr.margins(heldout, lr.loadWeights(s, s"$tmp/w")))
          .orderBy("doc_id")
      },
      Some(s"""WITH ${graft.llm.LogReg.labelledOracleCtes("t34:")
                 .mkString(",\n")}
              |SELECT doc_id, label, score_micro, pred, correct
              |FROM lr_out ORDER BY doc_id""".stripMargin)),

    // ---- M19: the AUDIO/VIDEO end-to-end chain — m18's twin for the
    //      remaining modalities, the LAION-audio/video shape from the
    //      CONTAINER: executor-written TAR/WebDataset shards carrying a
    //      .wav, an .avi and a .txt caption per sample → WAV bytes
    //      proven restored bit-for-bit through the container round trip
    //      (2_wav_restored) → real RIFF/PCM decode to the DURATION-
    //      INVARIANT envelope (per-window truncating mean energy —
    //      planted cross-duration duplicates: same key mod 25, second
    //      half integer-upsampled 2×, so envelopes collide while bytes
    //      and durations differ) → star-edge connected components →
    //      LONGEST-RENDITION canonical election via the argmax
    //      aggregate (never a rank window; 6_canonical_idsum pins the
    //      exact winners, not just their count) → real MJPEG/AVI
    //      container walk to m11's scene-cut features (4_scene_cuts,
    //      replayed analytically from the planted pixel formula) →
    //      caption join from the container's .txt members → interleaved
    //      audio-text packing (128 audio tokens + caption tokens). One
    //      (stage, n_rows) hash gate; DuckDB replays every transition —
    //      closure, election, scene-cut count, pack walk — from source
    //      rows, so drift anywhere (a byte lost in the container, an
    //      envelope that stopped being scale-invariant, an election or
    //      bin seam flip) breaks the gate. Payloads never shuffle:
    //      envelopes, durations and token counts travel; pixels and
    //      samples stay scan-side. -----------------------------------
    Q("m19_av_chain",
      (s, dir) => graft.llm.Multimodal.avChain(t(s, dir, "documents"),
        bound = 150, nKeys = 25, tarDir = Registry.scratchDir("m19_tar"),
        parts = 4, blockSize = 8),
      Some(graft.llm.Multimodal.avChainOracleSql(bound = 150, nKeys = 25,
        blockSize = 8))),

    // ---- M20: the d35 valve contract ON THE REAL MEDIA DECODE PATH —
    //      m13's shape (WAV → RIFF decode → exact windowed-energy
    //      digest → distributed pair self-join) run with a PRODUCTION
    //      maxGroupSize: a planted degenerate envelope class (every
    //      10th doc byte-identical — 40 members, over the cap) drops
    //      WHOLE (conservative miss, never a partial cluster) while 97
    //      bounded content classes (≤5 members each) keep their exact
    //      ordered pair sets. Unlike d35 (scalar keys), content-key
    //      equality across congruent ids here RIDES THE DECODE — an
    //      envelope divergence between two byte-identical WAVs breaks
    //      the gate as surely as a wrong cap. This is the registry
    //      twin of the round-16 valve probe (BENCH_NOTES: at sf1 the
    //      uncapped hot key alone is C(5000,2) ≈ 12.5M pairs; capped,
    //      the quadratic term vanishes and bounded keys stay exact). --
    Q("m20_capped_media_pairs",
      (s, dir) => graft.llm.Multimodal.plantedMediaPairs(
          t(s, dir, "documents"), bound = 400, nClasses = 97,
          maxGroupSize = 8)
        .orderBy("id_a", "id_b"),
      Some("""WITH k AS (
             |  SELECT doc_id AS id,
             |    CASE WHEN doc_id % 10 = 0 THEN 0
             |      ELSE doc_id % 97 + 1 END AS key
             |  FROM documents WHERE doc_id < 400),
             |sz AS (SELECT key, count(*) AS n FROM k GROUP BY key),
             |ok AS (SELECT k.id, k.key FROM k JOIN sz USING (key)
             |       WHERE sz.n <= 8)
             |SELECT a.id AS id_a, b.id AS id_b
             |FROM ok a JOIN ok b ON a.key = b.key AND a.id < b.id
             |ORDER BY id_a, id_b""".stripMargin)),

    // ---- L27: SHARD-DIRECTORY INTEGRITY AUDIT — the check a training
    //      loader runs before trusting mounted files: pack → write the
    //      byte-stable JSONL shards → PLANT a corruption (shard 3's
    //      first line dropped on disk — a truncated file in the wild) →
    //      read the files back (explicit schema, shard from the file
    //      name) → recompute every manifest statistic from the
    //      read-back rows and diff against the trusted manifest, plus
    //      the placement check (re-derive each row's shard from its
    //      (block, bin)). The tampered shard audits `corrupt` naming
    //      exactly the missing doc's token mass; the other six audit
    //      `ok` — so the gate proves BOTH directions at once: the sink→
    //      scan→recompute loop is lossless where untouched, and a
    //      single lost line is detected and localized. The oracle
    //      replays pack, assignment, the (block, bin, id) write order
    //      (to name the dropped line) and both stat sets from source
    //      rows. Scale: the audit costs one scan of the shard files +
    //      a skinny groupBy; corpus text never moves. ----------------
    Q("l27_manifest_audit",
      (s, dir) => {
        val sm = graft.llm.ShardManifest
        val packed = graft.llm.CorpusPipeline.packSequences(
          t(s, dir, "documents"), capacity = 120, blockSize = 256)
        val tmp = Registry.scratchDir("l27_shards")
        sm.writeShards(packed, tmp, nShards = 7)
        // planted corruption: truncate shard 3's first line (absent at
        // tiny SFs where shard 3 is empty — the oracle's exclusion
        // matches by construction)
        val p = new org.apache.hadoop.fs.Path(s"$tmp/shard-00003.jsonl")
        val fs = p.getFileSystem(s.sessionState.newHadoopConf())
        if (fs.exists(p)) {
          val in = fs.open(p)
          val bytes =
            try {
              val buf = new java.io.ByteArrayOutputStream()
              val b = new Array[Byte](65536)
              var n = in.read(b)
              while (n > 0) { buf.write(b, 0, n); n = in.read(b) }
              buf.toByteArray
            } finally in.close()
          val nl = bytes.indexOf('\n'.toByte) + 1
          val out = fs.create(p, true)
          try out.write(bytes, nl, bytes.length - nl) finally out.close()
        }
        sm.auditShards(sm.readShards(s, tmp),
            sm.manifest(packed, nShards = 7), nShards = 7)
          .orderBy("shard")
      },
      Some(s"""WITH RECURSIVE ${graft.llm.CorpusPipeline
               .packSequencesOracleCtes("documents", capacity = 120,
                 blockSize = 256)},
             |b AS (
             |  SELECT doc_id, nt, block, bin, block * 10000 + bin AS bkey,
             |    ((((block * 10000 + bin) % 100000) * 2654435761)
             |      % 100000) % 7 AS shard
             |  FROM pk_p),
             |h AS (
             |  SELECT shard, bkey, nt,
             |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)
             |      || ':' || CAST(nt AS VARCHAR)), 1, 12)) AS BIGINT)
             |      % 1000000007 AS hh,
             |    row_number() OVER (PARTITION BY shard
             |      ORDER BY block, bin, doc_id) AS wr
             |  FROM b),
             |e AS (
             |  SELECT shard, count(DISTINCT bkey) AS e_bins,
             |    count(*) AS e_docs, sum(nt) AS e_tokens,
             |    sum(hh) % 1000000007 AS e_ck
             |  FROM h GROUP BY shard),
             |f AS (
             |  SELECT shard, count(DISTINCT bkey) AS f_bins,
             |    count(*) AS f_docs, sum(nt) AS f_tokens,
             |    sum(hh) % 1000000007 AS f_ck
             |  FROM h WHERE NOT (shard = 3 AND wr = 1) GROUP BY shard)
             |SELECT e.shard,
             |  CAST(e_docs - coalesce(f_docs, 0) AS BIGINT)
             |    AS n_docs_missing,
             |  CAST(e_tokens - coalesce(f_tokens, 0) AS BIGINT)
             |    AS n_tokens_missing,
             |  CAST(e_bins - coalesce(f_bins, 0) AS BIGINT)
             |    AS n_bins_missing,
             |  coalesce(f_ck, -1) = e_ck AS checksum_match,
             |  CAST(0 AS BIGINT) AS n_misplaced,
             |  CASE WHEN e_docs = coalesce(f_docs, 0)
             |    AND e_tokens = coalesce(f_tokens, 0)
             |    AND e_bins = coalesce(f_bins, 0)
             |    AND coalesce(f_ck, -1) = e_ck
             |    THEN 'ok' ELSE 'corrupt' END AS status
             |FROM e LEFT JOIN f USING (shard)
             |ORDER BY shard""".stripMargin)),

    // ---- T36: FILTER CALIBRATION — the threshold sweep a production
    //      quality-filter deployment runs before picking its operating
    //      point: t34's trained classifier scores the held-out split,
    //      and every DISTINCT margin becomes a candidate threshold with
    //      its exact integer confusion counts (tp/fp/fn/tn at
    //      "keep iff margin ≥ thr"). The cumulatives ride the
    //      DISTRIBUTED runningTotal (range partition + broadcast
    //      offsets — never a single-task global window over the
    //      margin distribution, whose cardinality grows with the
    //      corpus); the oracle IS the window form (the u11/l25 gate
    //      shape), so the hash match proves the distributed cumsum
    //      identical to the sequential definition — through the whole
    //      replayed 10-iteration fit. --------------------------------
    Q("t36_filter_calibration",
      (s, dir) => {
        val lr = graft.llm.LogReg
        val (train, heldout) = lr.labelledSplit(
          lr.labelledDocs(t(s, dir, "documents"), "t34:"))
        val sc = lr.margins(heldout, lr.fit(train, iters = 10, lrDen = 4L))
        lr.calibrationSweep(sc).orderBy("thr_micro")
      },
      Some {
        val ctes = graft.llm.LogReg.labelledOracleCtes("t34:")
        s"""WITH ${ctes.mkString(",\n")},
           |cal_m AS (
           |  SELECT score_micro AS thr_micro,
           |    CAST(sum(label) AS BIGINT) AS pos,
           |    CAST(sum(1 - label) AS BIGINT) AS neg
           |  FROM lr_out GROUP BY 1),
           |cal_c AS (
           |  SELECT thr_micro,
           |    sum(pos) OVER (ORDER BY thr_micro DESC
           |      ROWS UNBOUNDED PRECEDING) AS tp,
           |    sum(neg) OVER (ORDER BY thr_micro DESC
           |      ROWS UNBOUNDED PRECEDING) AS fp
           |  FROM cal_m),
           |cal_t AS (
           |  SELECT CAST(sum(pos) AS BIGINT) AS tpos,
           |    CAST(sum(neg) AS BIGINT) AS tneg FROM cal_m)
           |SELECT thr_micro, CAST(tp AS BIGINT) AS tp,
           |  CAST(fp AS BIGINT) AS fp,
           |  CAST(tpos - tp AS BIGINT) AS fn,
           |  CAST(tneg - fp AS BIGINT) AS tn
           |FROM cal_c, cal_t ORDER BY thr_micro""".stripMargin
      }),

    // ---- T37: OPERATING POINT — the choose-threshold step that closes
    //      the calibration loop (calibrate t36 → choose HERE → deploy
    //      t35/l26): the threshold maximizing F1 over the held-out
    //      sweep, in exact integer fixed-point (f1_micro = 2·tp·10⁶
    //      div (2·tp + fp + fn); denominator ≥ total positives > 0),
    //      ties to the SMALLER threshold (keep more). ONE argmax
    //      aggregate over the sweep (the a35 machinery) — never a
    //      global sort of the threshold distribution. The oracle
    //      replays fit → margins → window cumsum → fixed-point F1 →
    //      ORDER BY/LIMIT 1, so a one-micro drift in any confusion
    //      count flips the pick and breaks the hash. -----------------
    Q("t37_operating_point",
      (s, dir) => {
        val lr = graft.llm.LogReg
        val (train, heldout) = lr.labelledSplit(
          lr.labelledDocs(t(s, dir, "documents"), "t34:"))
        val sc = lr.margins(heldout, lr.fit(train, iters = 10, lrDen = 4L))
        lr.operatingPoint(lr.calibrationSweep(sc))
      },
      Some {
        val ctes = graft.llm.LogReg.labelledOracleCtes("t34:")
        s"""WITH ${ctes.mkString(",\n")},
           |cal_m AS (
           |  SELECT score_micro AS thr_micro,
           |    CAST(sum(label) AS BIGINT) AS pos,
           |    CAST(sum(1 - label) AS BIGINT) AS neg
           |  FROM lr_out GROUP BY 1),
           |cal_c AS (
           |  SELECT thr_micro,
           |    CAST(sum(pos) OVER (ORDER BY thr_micro DESC
           |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp,
           |    CAST(sum(neg) OVER (ORDER BY thr_micro DESC
           |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS fp
           |  FROM cal_m),
           |cal_t AS (
           |  SELECT CAST(sum(pos) AS BIGINT) AS tpos,
           |    CAST(sum(neg) AS BIGINT) AS tneg FROM cal_m),
           |cal_f AS (
           |  SELECT thr_micro, tp, fp,
           |    tpos - tp AS fn, tneg - fp AS tn,
           |    (tp * 2000000) // (tp * 2 + (fp + (tpos - tp)))
           |      AS f1_micro
           |  FROM cal_c, cal_t)
           |SELECT thr_micro, f1_micro, tp, fp, fn, tn
           |FROM cal_f ORDER BY f1_micro DESC, thr_micro ASC
           |LIMIT 1""".stripMargin
      }),

    // ---- M21: MEDIA DECONTAMINATION — d10's eval-set anti-join on the
    //      PERCEPTUAL axis: benchmark images leak into web corpora
    //      re-encoded and re-scaled, so byte digests miss them; the
    //      dHash blocklist catches the leak across scales. Plant: m14's
    //      verified 25-key fixture — corpus doc_id < 150 (key mod 25,
    //      second half exact pixel-doubling), eval set doc_id ∈
    //      [315, 325) at scale 1 covering keys 15–24 — so a corpus
    //      image is contaminated iff its key ≥ 15, INCLUDING the
    //      scale-2 renditions whose bytes never appeared in the eval
    //      set (the cross-scale catch is the point). Every corpus doc
    //      comes back with its verdict, so the gate pins both the
    //      catches and the keeps; a decode/pooling divergence on
    //      either side of the join breaks it. Scale: eval blocklists
    //      are tiny by nature — the hash side broadcasts; the corpus
    //      decodes once, scan-side, and only (id, dhash) travels. ----
    Q("m21_media_decontaminate",
      (s, dir) => {
        val mm = graft.llm.Multimodal
        val eval0 = t(s, dir, "documents")
          .filter(col("doc_id") >= 315 && col("doc_id") < 325)
          .select(col("doc_id").cast("long").as("id"),
            (col("doc_id") % 25).as("key"), lit(1).as("scale"))
        val corpusH = mm.dhashes(
            mm.plantedImages(t(s, dir, "documents"), 150, 25), "id")
          .filter(col("dhash").isNotNull)
        val evalH = mm.dhashes(mm.withSyntheticImagesScaled(
            eval0, "id", "key", "scale", baseW = 36, baseH = 32), "id")
          .filter(col("dhash").isNotNull)
          .select(col("dhash")).distinct()
          .withColumn("__hit", lit(1))
        corpusH.join(broadcast(evalH), Seq("dhash"), "left")
          .select(col("id"),
            coalesce(col("__hit"), lit(0)).as("contaminated"))
          .orderBy("id")
      },
      Some("""SELECT doc_id AS id,
             |  CAST(CASE WHEN doc_id % 25 >= 15 THEN 1 ELSE 0 END
             |    AS INT) AS contaminated
             |FROM documents WHERE doc_id < 150
             |ORDER BY id""".stripMargin)),

    // ---- N23: PERSISTED vector index — t35's fit-once/score-forever
    //      protocol on the ANN axis: a production vector index is
    //      trained once and mounted by every retrieval/dedup job, and
    //      a refit over a grown corpus yields DIFFERENT Forgy cells —
    //      a silently different index — so the artifact is the
    //      contract. Build the portable IVF centroids (first-10 Forgy
    //      over quantized vectors) → saveIvfIndex (≤10-row exact-
    //      BIGINT parquet) → loadIvfIndex → answer every query FROM
    //      THE LOADED ARTIFACT (3-probe, top-4 exact quantized-cosine
    //      rerank). The oracle replays the FULL build + query from
    //      source rows, so the hash match proves the parquet round
    //      trip lossless — one quantized centroid component off and a
    //      probe set shifts. Params differ from n13 (10 cells,
    //      3 probes, k=4) so the two gates pin different plans. ------
    Q("n23_ivf_persisted",
      (s, dir) => {
        val sim = graft.llm.Similarity
        val emb = tf(s, dir, "embeddings")
        val tmp = Registry.scratchDir("n23_ivf")
        sim.saveIvfIndex(sim.ivfCentroidsPortable(
          emb, "vec_id", "embedding", nCells = 10), s"$tmp/index")
        val cent = sim.loadIvfIndex(s, s"$tmp/index")
        sim.ivfTopKFromIndex(emb, "vec_id", "embedding", cent,
            queryMaxId = 15L, k = 4, nProbe = 3)
          .orderBy("query_id", "rank")
      },
      Some(graft.llm.Similarity.ivfTopKPortableOracleSql(
        "embeddings", "vec_id", "embedding", queryMaxId = 15L, k = 4,
        nCells = 10, nProbe = 3) + "")),

    // ---- L28: WATERFILLING token-budget allocation — the training-mix
    //      solve the l05/l13 family lacked: given per-source token
    //      masses and a total budget B (60% of the corpus here), give
    //      every source min(mass, L) tokens with ONE common level L
    //      chosen so allocations sum to exactly B — small sources keep
    //      everything, big sources are capped at the waterline (the
    //      proportional-fair mix every budgeted pretraining run
    //      computes; integer remainder goes one token each to the
    //      first sources past the cut in (mass, source) order, so the
    //      sum is EXACT). The cumulative mass rides the DISTRIBUTED
    //      runningTotal (source cardinality is domain cardinality at
    //      100 TB — never a one-task window); the oracle IS the window
    //      form (the u11/l25/t36 gate shape), replaying mass, prefix,
    //      cut row, level and remainder from source rows. ------------
    Q("l28_waterfill_budget",
      (s, dir) => graft.llm.CorpusPipeline.waterfillBudget(
          graft.llm.CorpusPipeline.sourceMasses(t(s, dir, "documents"),
            col("source")), num = 3, den = 5)
        .orderBy("source"),
      Some(s"""WITH m AS (
             |  SELECT source,
             |    CAST(sum(len(${tokensSql("text")})) AS BIGINT) AS mass
             |  FROM documents GROUP BY 1),
             |w AS (
             |  SELECT source, mass,
             |    sum(mass) OVER (ORDER BY mass, source
             |      ROWS UNBOUNDED PRECEDING) AS cum,
             |    CAST(row_number() OVER (ORDER BY mass, source)
             |      AS BIGINT) AS j
             |  FROM m),
             |b AS (SELECT CAST(sum(mass) AS BIGINT) AS t_mass,
             |        CAST(count(*) AS BIGINT) AS n_src FROM m),
             |lv AS (
             |  SELECT w.*, b.n_src,
             |    ((b.t_mass * 3) // 5) - (cum - mass) AS avail,
             |    b.n_src - j + 1 AS remaining
             |  FROM w, b),
             |fl AS (SELECT *, avail // remaining AS lvl FROM lv),
             |cut AS (SELECT min(j) AS cutj FROM fl WHERE mass >= lvl),
             |cl AS (SELECT f.lvl AS cut_lvl,
             |         f.avail % f.remaining AS cut_rem
             |       FROM fl f, cut WHERE f.j = cut.cutj)
             |SELECT source, mass,
             |  CAST(CASE WHEN j < cutj THEN mass
             |    ELSE cut_lvl + CASE WHEN j - cutj < cut_rem
             |      THEN 1 ELSE 0 END END AS BIGINT) AS alloc
             |FROM fl, cut, cl ORDER BY source""".stripMargin))
  )
}
