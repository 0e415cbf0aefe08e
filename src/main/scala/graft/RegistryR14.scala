package graft

import org.apache.spark.sql.functions._

import Registry.t

/** Round-14 widening: the incremental Kneser-Ney stats member (fold a
  * batch's trigram-type counts into a persisted artifact, score from
  * stats), the CommonCrawl end-to-end composition (WARC container →
  * C4 line cleaning → ExactSubstr → temperature mix → packing, one
  * auditable chain), and canonical-image selection (perceptual dHash
  * pairs → connected components → keep-best).
  */
object RegistryR14 {

  def entries: Seq[Q] = Seq(

    // ---- T32: INCREMENTAL Kneser-Ney — the LM member of the
    //      incremental-stats family (d12/d19/t18/a33/d33/n17): the
    //      trigram-TYPE and unigram count tables are exact integers, so
    //      batch stats MERGE losslessly by grouped addition. This entry
    //      drives the full steady-state protocol: fit batch 1
    //      (doc_id < 200) → persist the artifact → load → fold batch 2
    //      (200–399) in → persist → load → score HELD-OUT docs from
    //      stats. The oracle replays the FULL-corpus fit (doc_id < 400)
    //      — a hash match PROVES merge+persist lossless, the t18 trick.
    //      Scale: scored history is never rescanned; each fold shuffles
    //      only the new batch's type counts. ---------------------------
    Q("t32_kn_incremental",
      (s, dir) => {
        val ta = graft.llm.TextAnalysis
        val docs = t(s, dir, "documents")
        val tmp = Registry.scratchDir("kn_t32")
        ta.saveKnStats(
          ta.knStats(docs.filter(col("doc_id") < 200), "doc_id", "text"),
          s"$tmp/stats_b1")
        val folded = ta.mergeKnStats(
          ta.loadKnStats(s, s"$tmp/stats_b1"),
          ta.knStats(docs.filter(col("doc_id") >= 200 &&
            col("doc_id") < 400), "doc_id", "text"))
        ta.saveKnStats(folded, s"$tmp/stats_b2")
        ta.knScoreFromStats(docs.filter(col("doc_id") >= 400),
            ta.loadKnStats(s, s"$tmp/stats_b2"), "doc_id", "text")
          .withColumnRenamed("id", "doc_id").orderBy("doc_id")
      },
      Some {
        val ctes = graft.llm.TextAnalysis.knOracleCtes("documents",
          "doc_id", "text", "doc_id < 400", "doc_id >= 400")
        s"""WITH ${ctes.mkString(",\n")}
           |SELECT id AS doc_id, n_trigrams, avg_logp
           |FROM kn_out ORDER BY 1""".stripMargin
      }),

    // ---- L22: the CommonCrawl END-TO-END chain — the literal published
    //      pipeline a 100 TB web corpus runs, starting from the
    //      CONTAINER: executor-written WARC archives (s11's layout,
    //      source carried in target_uri and parsed BACK from the
    //      container — the metadata path is on the hash gate) → C4-lite
    //      line cleaning (7-word lines, keep >= 3 words, doc gate >= 5
    //      kept lines) → d31 ExactSubstr-FULL over the cleaned text
    //      (planted cross-doc passages vanish from every copy but the
    //      first) → l16 temperature sampling over the post-dedup source
    //      distribution → l06 512-token block count. One (stage,
    //      n_rows) report; DuckDB replays the ENTIRE chain from the
    //      source rows, so a drift at any stage transition — including
    //      inside the WARC round-trip — breaks the gate. ---------------
    Q("l22_commoncrawl_chain",
      (s, dir) => {
        // planted passage: 40 DISTINCT words (6 kept lines — clears the
        // 5-line C4 gate) — every 8-token window is unique within a doc
        // but identical across the planted docs, so ExactSubstr erases
        // all copies but the globally-first whole
        val dup = "alpha beta gamma delta epsilon zeta eta theta iota " +
          "kappa lambda mu nu xi omicron pi rho sigma tau upsilon phi " +
          "chi psi omega one two three four five six seven eight nine " +
          "ten eleven twelve thirteen fourteen fifteen sixteen"
        val docs = t(s, dir, "documents").filter(col("doc_id") < 300)
          .withColumn("text", when(col("doc_id") % 41 === 0, lit(dup))
            .otherwise(coalesce(col("text"), lit(""))))
        graft.llm.CorpusPipeline.commonCrawlChain(docs,
          Registry.scratchDir("warc_l22"), parts = 4)
      },
      Some(graft.llm.CorpusPipeline.commonCrawlChainOracleSql(
        """SELECT doc_id, source,
          |    CASE WHEN doc_id % 41 = 0
          |      THEN 'alpha beta gamma delta epsilon zeta eta theta' ||
          |        ' iota kappa lambda mu nu xi omicron pi rho sigma' ||
          |        ' tau upsilon phi chi psi omega one two three four' ||
          |        ' five six seven eight nine ten eleven twelve' ||
          |        ' thirteen fourteen fifteen sixteen'
          |      ELSE coalesce(text, '') END AS text
          |  FROM documents WHERE doc_id < 300""".stripMargin))),

    // ---- M17: CANONICAL-image selection — the d14 keep-best recipe on
    //      the perceptual axis: m14's dHash groups (planted cross-scale
    //      duplicates: same key mod 25, second half pixel-doubled) →
    //      d08 connected components over their STAR edges → keep the
    //      HIGHEST-RESOLUTION copy per perceptual cluster (DECODED
    //      width desc, id asc — the published "keep the best rendition"
    //      rule, with the resolution read from the image itself, not
    //      trusted metadata). Pixels never shuffle: the election runs
    //      on (id, dhash, width) scalars. The oracle replays the
    //      planted congruence AND the planted dimensions through the
    //      SAME recursive-CTE closure, so a decode/pooling/closure
    //      drift anywhere breaks the gate. ----------------------------
    Q("m17_canonical_image",
      (s, dir) => {
        val mm = graft.llm.Multimodal
        mm.canonicalImages(mm.plantedImages(t(s, dir, "documents"), 150, 25))
          .select(col("rep"), col("canonical"), col("width"),
            col("n_members"))
          .orderBy("rep")
      },
      Some(s"""WITH RECURSIVE ${graft.llm.Multimodal.chainIdsOracleCtes(
               150, 25, 36)}
             |SELECT c.rep, c.id AS canonical,
             |  CAST(36 * i.scale AS BIGINT) AS width,
             |  (SELECT CAST(count(*) AS BIGINT) FROM cc
             |   WHERE cc.rep = c.rep) AS n_members
             |FROM canon c JOIN ids i USING (id)
             |ORDER BY rep""".stripMargin)),

    // ---- T33: INCREMENTAL tokenizer refit — the word-frequency table
    //      both tokenizer fits start from becomes a mergeable persisted
    //      artifact (llm/WordFreq): count batch 1 (doc_id < 250) →
    //      persist → load → fold batch 2 (250–499) by grouped addition
    //      → refit the Unigram-LM from the MERGED stats. The
    //      frequent-word cap applies AFTER the merge in engine
    //      collation, so fit-from-folded-stats is bit-identical to
    //      fit-from-whole-corpus — proven by t28's full-training-chain
    //      oracle over doc_id < 500. At 100 TB: the stats frame is
    //      vocabulary-type-bounded, each fold shuffles only the new
    //      batch's counts, tokenized history is never rescanned. ------
    Q("t33_unigram_incremental",
      (s, dir) => {
        val wf = graft.llm.WordFreq
        val docs = t(s, dir, "documents")
        val tmp = Registry.scratchDir("wf_t33")
        wf.save(wf.stats(docs.filter(col("doc_id") < 250), "text"),
          s"$tmp/b1")
        val folded = wf.merge(wf.load(s, s"$tmp/b1"),
          wf.stats(docs.filter(col("doc_id") >= 250 &&
            col("doc_id") < 500), "text"))
        val vocab = graft.llm.UnigramLm.fitFromStats(folded,
          graft.llm.UnigramLm.Params())
        import s.implicits._
        vocab.toDF("piece", "cnt", "score_micronats").orderBy("piece")
      },
      Some(graft.llm.UnigramLm.vocabOracleSql("documents", "doc_id",
        "text", maxDocId = 500L, graft.llm.UnigramLm.Params())))
  )

  def entries2: Seq[Q] = Seq(

    // ---- U11: per-key dense ids — u07's grouped twin: gap-free
    //      1-based sequence numbers per source in hash order, via the
    //      grouped runningTotal (a running total of 1s), NEVER
    //      row_number over Window.partitionBy(source) — a dominant
    //      source must not collapse to one task. The oracle IS that
    //      window (DuckDB sorts each slice locally; the gate proves the
    //      distributed form computes the identical assignment). --------
    Q("u11_dense_ids_per_key",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .withColumn("__k",
            pmod(pmod(col("doc_id"), lit(100000L)) * lit(2654435761L),
              lit(100000L)))
        graft.etl.Ids.denseIdsByKey(docs, Seq("source"),
            Seq(col("__k"), col("doc_id")), "seq")
          .select(col("doc_id"), col("source"), col("seq"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, source,
             |  CAST(row_number() OVER (PARTITION BY source
             |    ORDER BY (doc_id % 100000) * 2654435761 % 100000,
             |      doc_id) AS BIGINT) AS seq
             |FROM documents ORDER BY doc_id""".stripMargin))
  )
}
