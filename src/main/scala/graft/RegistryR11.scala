package graft

import org.apache.spark.sql.functions._

import graft.llm.TextAnalysis
import graft.llm.TextAnalysis.{tokenCountSql, tokensSql}
import Registry.{t, tf}

/** Round-11 widening: the in-engine HTML table scan wired end-to-end
  * (S3/S4 literal parity — the page TEXT is now the input, closing the
  * last ingest delta), incremental IVF index maintenance (the missing
  * incremental-family member beside d12/d19/t18/a33), DSIR-style
  * importance-resampling selection, entity resolution on the native
  * Jaro-Winkler kernel, and the k-anonymity privacy audit.
  */
object RegistryR11 {

  def entries: Seq[Q] = Seq(

    // ---- S12: in-engine HTML `<table>` scan — pd.read_html parity
    //      (sources/HtmlTables.scala) proven with an EXACT oracle: pages
    //      are synthesized from the documents table (10 docs per page,
    //      rows sorted by doc_id, the matchlog table inside an HTML
    //      comment — the FBref quirk — plus a numeric entity per cell
    //      and a trailing all-blank separator row), then the full S4
    //      chain parseTable → resolveColumns → na.drop runs in-engine
    //      and DuckDB replays the expected output straight from the
    //      source rows. Entity decode, comment strip, header binding,
    //      separator drop are all on the hash path. --------------------
    Q("s12_html_table_scan",
      (s, dir) => {
        val docs = t(s, dir, "documents").filter(col("doc_id") < 100)
        val rowHtml = format_string(
          "<tr><td>%s</td><td><b>%s</b>&#33;</td><td>%s</td></tr>",
          col("doc_id"), col("lang"), length(col("text")))
        val pages = docs
          .groupBy((col("doc_id") % 10).as("page_id"))
          .agg(concat(
            lit("<html><body><div><!--<table id=\"log\"><thead>" +
              "<tr><th>DocKey</th><th>Lang</th><th>NChars</th></tr>" +
              "</thead><tbody>"),
            array_join(transform(
              sort_array(collect_list(struct(col("doc_id").as("k"),
                rowHtml.as("h")))), x => x.getField("h")), ""),
            lit("<tr><td></td><td></td><td></td></tr>" +
              "</tbody></table>--></div></body></html>")).as("page"))
        val wide = graft.sources.HtmlTables.parseTable(
          pages, "page", keyCols = Seq("page_id"))
        graft.sources.Ingest.cleanMatchlog(wide,
            Seq("doc_id" -> "dockey", "lang" -> "lang",
              "nchars" -> "nchars"),
            dateCol = "doc_id")
          .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
            col("nchars").cast("long").as("nchars"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang || '!' AS lang,
             |  CAST(length(text) AS BIGINT) AS nchars
             |FROM documents WHERE doc_id < 100
             |ORDER BY doc_id""".stripMargin)),

    // ---- S13: WET GENERATION — the full crawl-to-corpus chain in one
    //      oracle-exact query: documents become HTML pages (script/
    //      style/comment chrome + planted entities), pages wrap into
    //      real WARC `response` records written as multi-member-gzip
    //      archives by executors (K6), the archives stream back through
    //      the record walk (s11), and HtmlTables.visibleText extracts
    //      each page's prose — exactly what CommonCrawl's WET generator
    //      does to each crawled page. DuckDB replays the expected text
    //      straight from the source rows: container round-trip, HTML
    //      stripping, entity decode, and whitespace collapse are ALL on
    //      the hash path. -----------------------------------------------
    Q("s13_wet_generation",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .filter(col("doc_id") % 5 === 0 && col("doc_id") < 500)
        val html = format_string(
          "<html><head><script>var x = 1 < 2 && 0;</script>" +
            "<style>p { color: red }</style></head>" +
            "<body><h1>Doc %s &#8212; Q&amp;A</h1>" +
            "<!-- hidden <p>chrome</p> comment -->" +
            "<p>%s</p></body></html>",
          col("doc_id"), col("text"))
        val recs = docs.select(
          lit("response").as("warc_type"),
          concat(lit("<urn:graft:wet:"), col("doc_id"), lit(">"))
            .as("record_id"),
          concat(lit("https://example.org/page/"), col("doc_id"))
            .as("target_uri"),
          lit("2026-01-01T00:00:00Z").as("warc_date"),
          lit("text/html").as("content_type"),
          encode(html, "UTF-8").as("payload"),
          col("doc_id"))
        val tmp = Registry.scratchDir("warc_s13")
        graft.sources.WarcIngest.writeWarcDir(
          recs.repartition(4, col("doc_id")).drop("doc_id"), tmp,
          gzip = true)
        val (records, audit) = graft.sources.WarcIngest.readWarcDir(s, tmp)
        val bad = audit.filter(col("corrupt")).count()
        require(bad == 0, s"s13: $bad corrupt archives")
        records.filter(col("warc_type") === "response")
          .select(col("record_id"),
            graft.sources.HtmlTables.visibleText(
              decode(col("payload"), "UTF-8")).as("text"))
          .orderBy("record_id")
      },
      // the em-dash ref &#8212; is outside the printable-ASCII decode
      // scope and must survive INTACT; &amp; decodes; chrome vanishes
      Some("""SELECT
             |  concat('<urn:graft:wet:', CAST(doc_id AS VARCHAR), '>')
             |    AS record_id,
             |  concat('Doc ', CAST(doc_id AS VARCHAR),
             |         ' &#8212; Q&A ', text) AS text
             |FROM documents WHERE doc_id % 5 = 0 AND doc_id < 500
             |ORDER BY record_id""".stripMargin)),

    // ---- N17: incremental IVF maintenance — the steady-state append
    //      path: centroids fit on the PRIOR corpus (vec_id < 400) only,
    //      the NEW batch assigned through the broadcast codebook
    //      (Similarity.ivfAppend — never a refit), rolled up per cell
    //      with the outlier-fraction refit signal attached. Rows-only
    //      by design (the seeded k-means fit is not SQL-expressible);
    //      the n18 portable twin replays the same append contract
    //      bit-for-bit. ------------------------------------------------
    Q("n17_ivf_append",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val prior = emb.filter(col("vec_id") < 400)
        val batch = emb.filter(col("vec_id") >= 400)
        val centroids = graft.llm.Similarity.kmeansFit(
          prior, "vec_id", "embedding", k = 16)
        val asg = graft.llm.Similarity.ivfAppend(
          batch, "vec_id", "embedding", centroids, minCos = 0.5)
        val sig = graft.llm.Similarity.ivfRefitSignal(asg,
          maxOutlierFrac = 0.25)
        asg.groupBy(col("cell"))
          .agg(count(lit(1)).as("n_assigned"),
            sum(col("is_outlier").cast("long")).as("n_outliers"))
          .crossJoin(broadcast(sig.select(col("refit"))))
          .orderBy("cell")
      },
      None),

    // ---- N18: PORTABLE incremental-IVF twin — Forgy cells from the
    //      prior corpus, quantized-integer-cosine assignment of the new
    //      batch, outlier verdicts — every row hash-exact in DuckDB
    //      (Similarity.ivfAppendPortable). Completes the incremental
    //      family's audit story: d12/d19/t18/a33 all have exact gates;
    //      now the ANN append does too. -------------------------------
    Q("n18_ivf_append_portable",
      (s, dir) => graft.llm.Similarity.ivfAppendPortable(
          t(s, dir, "embeddings"), "vec_id", "embedding", splitId = 400L)
        .orderBy("id"),
      Some(graft.llm.Similarity.ivfAppendPortableOracleSql(
        "embeddings", "vec_id", "embedding", splitId = 400L))),

    // ---- S14: WebDataset tar-shard round trip — the de-facto container
    //      of multimodal training corpora ((key.jpg, key.txt, key.json)
    //      members grouping into samples): documents become two members
    //      per sample, executors write deterministic ustar shards (K7
    //      sink twin), the shards stream back header-by-header (checksum
    //      verified), and the WebDataset sample projection regroups the
    //      pairs. Header encode/decode, octal size fields, checksums,
    //      payload round trip and sample grouping are ALL on the hash
    //      path; DuckDB replays the expectation straight from the source
    //      rows. ----------------------------------------------------------
    Q("s14_tar_wds_roundtrip",
      (s, dir) => {
        val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
        val txt = docs.select(
          format_string("samples/%05d.txt", col("doc_id")).as("name"),
          encode(col("text"), "UTF-8").as("payload"), col("doc_id"))
        val cls = docs.select(
          format_string("samples/%05d.cls", col("doc_id")).as("name"),
          encode(col("lang"), "UTF-8").as("payload"), col("doc_id"))
        val tmp = Registry.scratchDir("tar_s14")
        graft.sources.TarIngest.writeTarDir(
          txt.unionByName(cls).repartition(4, col("doc_id"))
            .drop("doc_id"), tmp, gzip = true)
        val (members, audit) = graft.sources.TarIngest.readTarDir(s, tmp)
        val bad = audit.filter(col("corrupt")).count()
        require(bad == 0, s"s14: $bad corrupt shards")
        graft.sources.TarIngest.wdsSamples(members)
          .groupBy("sample_key")
          .agg(
            max(when(col("ext") === "txt",
              decode(col("payload"), "UTF-8"))).as("text"),
            max(when(col("ext") === "cls",
              decode(col("payload"), "UTF-8"))).as("lang"))
          .select(
            regexp_extract(col("sample_key"), "(\\d+)$", 1)
              .cast("long").as("doc_id"),
            col("lang"), col("text"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, text FROM documents
             |WHERE doc_id < 200 ORDER BY doc_id""".stripMargin)),

    // ---- N19: PORTABLE distributed Lloyd k-means — the audit twin of
    //      the driver-sampled kmeansFit: the FULL corpus refines for 2
    //      rounds in one lazy plan, every centroid component (truncating
    //      integer mean), assignment and squared-L2 distance replays
    //      bit-for-bit in DuckDB. Completes the clustering audit story:
    //      Forgy ASSIGNMENT was twinned (n13/n18/d24); the refinement
    //      LOOP now is too. -----------------------------------------------
    Q("n19_kmeans_portable",
      (s, dir) => graft.llm.Similarity.kmeansLloydPortable(
          t(s, dir, "embeddings"), "vec_id", "embedding")
        .orderBy("id"),
      Some(graft.llm.Similarity.kmeansLloydPortableOracleSql(
        "embeddings", "vec_id", "embedding"))),

    // ---- T22: n-gram novelty — per-document fraction of distinct word
    //      trigrams unseen in any earlier-id document (the diversity /
    //      contribution signal data-pruning ranks on; a mirror scores ~0).
    //      Grams shuffle as 60-bit digests only; exact oracle. ------------
    Q("t22_ngram_novelty",
      (s, dir) => graft.llm.TextAnalysis.ngramNovelty(
          tf(s, dir, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id"),
      Some(graft.llm.TextAnalysis.ngramNoveltyOracleSql(
        "documents", "doc_id", "text"))),

    // ---- T23: PORTABLE BPE — the audit twin of the rows-only t12 (the
    //      last untwinned rows-only gate): DuckDB re-derives the ENTIRE
    //      tokenizer INDEPENDENTLY — word frequencies, the deterministic
    //      vocab cap, all 8 training merges (pair counts + argmax +
    //      exhaustive application), and the in-rank-order encode of every
    //      word — and the hash gate proves the merge sequence AND every
    //      token bit-for-bit. The Spark side trains through the same
    //      Bpe.fit as t12 and encodes via the apply-in-order form
    //      (spec-pinned equivalent to the greedy lowest-rank loop). -----
    Q("t23_bpe_portable",
      (s, dir) => {
        val docs = t(s, dir, "documents").filter(col("doc_id") < 100)
        val merges = graft.llm.Bpe.fit(docs, "text", numMerges = 8,
          maxVocabWords = 200)
        graft.llm.Bpe.encodePortable(docs, "doc_id", "text", merges)
          .select(col("id").as("doc_id"), col("n_bpe_tokens"),
            concat_ws(" ", col("tokens")).as("tokens_str"))
          .orderBy("doc_id")
      },
      Some(graft.llm.Bpe.portableOracleSql("documents", "doc_id", "text",
        maxDocId = 100L, numMerges = 8, maxVocabWords = 200))),

    // ---- M12: image metadata extract + strip THROUGH real PNG chunk
    //      arithmetic — the compliance pass before multimodal ingest:
    //      tEXt keyword/value pairs planted per image from source
    //      columns, read back via the CRC-verified chunk walk (IHDR
    //      geometry on the same hash path), and the ancillary strip
    //      proven LOSSLESS by md5-comparing strip(planted) against
    //      strip(original) while its byte cost replays analytically
    //      (12-octet chunk frame + keyword + NUL + value). -----------
    Q("m12_image_metadata",
      (s, dir) => {
        val mm = graft.llm.Multimodal
        val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
          .select(col("doc_id"), col("lang"),
            concat(lit("doc-"), col("doc_id")).as("author_v"))
        val imgs = mm.withSyntheticImages(docs, "doc_id")
        val withCols = imgs.join(docs, imgs("id") === docs("doc_id"))
          .select(col("id"), col("payload"), col("author_v"), col("lang"))
        val planted = mm.withPlantedText(withCols, "id", "payload",
          Seq("author" -> "author_v", "lang" -> "lang"))
        val meta = mm.pngMeta(planted, "id", "payload")
        val sp = mm.stripPngMeta(planted, "id", "payload")
          .select(col("id"), md5(col("payload")).as("strip_md5"))
        val so = mm.stripPngMeta(imgs, "id", "payload")
          .select(col("id"), md5(col("payload")).as("orig_md5"),
            col("bytes_saved").as("orig_saved"))
        meta.join(sp, "id").join(so, "id")
          .select(col("id").as("doc_id"), col("keyword"), col("value"),
            col("width"), col("height"), col("bit_depth"),
            col("color_type"),
            (col("bytes_saved") - col("orig_saved")).as("planted_bytes"),
            (col("strip_md5") === col("orig_md5")).as("restored"),
            col("corrupt"))
          .orderBy("doc_id", "keyword")
      },
      Some("""WITH mm_d AS (
             |  SELECT doc_id, lang,
             |    'doc-' || CAST(doc_id AS VARCHAR) AS author_v
             |  FROM documents WHERE doc_id < 200),
             |mm_kv AS (
             |  SELECT doc_id, lang, author_v, 'author' AS keyword,
             |    author_v AS value FROM mm_d
             |  UNION ALL
             |  SELECT doc_id, lang, author_v, 'lang', lang FROM mm_d)
             |SELECT doc_id, keyword, value,
             |  8 AS width, 8 AS height, 8 AS bit_depth, 0 AS color_type,
             |  CAST(13 + length('author') + length(author_v)
             |     + 13 + length('lang') + length(lang) AS BIGINT)
             |    AS planted_bytes,
             |  true AS restored, false AS corrupt
             |FROM mm_kv ORDER BY doc_id, keyword""".stripMargin)),

    // ---- N20: PORTABLE power iteration — the dominant principal
    //      direction of label-0's embedding covariance (the PCA-prep /
    //      drift-axis step after n11): 3 rounds of v ← normalize(C·v)
    //      in one lazy plan, the matvec kept under 2^53 by the vector
    //      scale so every normalize is exact-int-to-double + one IEEE
    //      divide — all 64 components replay bit-for-bit in DuckDB. ----
    Q("n20_power_iteration",
      (s, dir) => graft.llm.Similarity.powerIterationPortable(
          t(s, dir, "embeddings"), "vec_id", "embedding", "label", 0)
        .orderBy("pos"),
      Some(graft.llm.Similarity.powerIterationPortableOracleSql(
        "embeddings", "vec_id", "embedding", "label", 0))),

    // ---- D28: SOFT dedup — duplicate-aware training WEIGHTS instead of
    //      drops (the D4-style reweighting): every doc keeps its row,
    //      weighted 1/|near-dup cluster| so each duplicated passage
    //      contributes one document's worth of gradient mass however
    //      many copies exist. Rides d08's exact connected components;
    //      the weight is one exact-int IEEE division. The drop-based
    //      alternatives stay d14 (keep best) / l10 (leakage-safe split).
    Q("d28_soft_dedup",
      (s, dir) => {
        val docs = t(s, dir, "documents").filter(col("doc_id") < 500)
        val cc = graft.llm.Dedup.connectedComponents(
          docs.select(col("doc_id").as("id")),
          graft.llm.Dedup.exactNgramNearDups(docs, "text", "doc_id",
            3, 0.5))
        val sizes = cc.groupBy("rep").agg(count(lit(1)).as("cluster_size"))
        cc.join(sizes, "rep")
          .select(col("id"), col("rep"), col("cluster_size"),
            (lit(1.0) / col("cluster_size")).as("weight"))
          .orderBy("id")
      },
      Some(s"""WITH RECURSIVE ${graft.llm.Dedup.nearDupClustersOracleCtes(
                 "documents WHERE doc_id < 500", 0.5)},
             |cs AS (SELECT rep, count(*) AS cluster_size FROM cc GROUP BY 1)
             |SELECT cc.id, cc.rep, cs.cluster_size,
             |  CAST(1 AS DOUBLE) / cs.cluster_size AS weight
             |FROM cc JOIN cs ON cs.rep = cc.rep
             |ORDER BY cc.id""".stripMargin)),

    // ---- D29: DSIR-style importance-resampling selection (Xie et al.,
    //      "Data Selection for Language Models via Importance
    //      Resampling", NeurIPS 2023): pick from the raw pool the docs
    //      whose hashed-ngram profile looks most like a TARGET domain
    //      (here lang='en'). Two bag-of-hashed-ngram unigram+bigram
    //      distributions (B=1024 buckets, +1 smoothing) are FITTED
    //      in-engine — one aggregation pass to <=B rows each — and every
    //      doc scores sum_b c_doc[b]*(ln p_target[b] - ln p_raw[b]).
    //      Scale shape: fit collapses the corpus to a <=1024-row stats
    //      frame that BROADCASTS back onto the per-doc bucket counts (no
    //      second corpus shuffle), and selection is a TakeOrdered top-k,
    //      never a global sort. Hash-exact portability: each bucket's
    //      log-likelihood DIFFERENCE is quantized once to integer
    //      micro-nats (round(ln*1e6) of identical IEEE doubles in both
    //      engines), so the per-doc sum is pure associative BIGINT
    //      arithmetic — no float summation-order divergence.
    Q("d29_dsir_select",
      (s, dir) => {
        val B = 1024
        // unigrams + bigrams with multiplicity, built as ARRAY ops over
        // the token array bound once per row as a column — ZERO shuffle
        // before the bucket groupBy. The previous posexplode +
        // lead(window) form paid an extra hash-exchange + sort on doc_id
        // for the SAME gram multiset: at corpus scale that exchange
        // carries every token occurrence.
        val grams = graft.sources.Scans.withParallelismFloor(
            t(s, dir, "documents")
              .select(col("doc_id"), col("lang"), col("text")))
          .select(col("doc_id"), col("lang"),
            TextAnalysis.tokens(lower(col("text"))).as("ws"))
          .select(col("doc_id"), col("lang"), explode(expr(
            """concat(ws,
              |  transform(slice(ws, 1, greatest(size(ws) - 1, 0)),
              |    (w, i) -> concat_ws(' ', w, element_at(ws, i + 2))))"""
              .stripMargin)).as("gram"))
          .select(col("doc_id"), col("lang"),
            (conv(substring(md5(col("gram")), 1, 8), 16, 10)
              .cast("long") % B).as("b"))
        // ONE pass over the gram stream: per-(doc,bucket) counts first,
        // then the tiny per-bucket fit frame (<=B rows) derives from the
        // counts — the gram explode + window (the dominant cost) is
        // never evaluated twice.
        val docBuckets = grams.groupBy("doc_id", "lang", "b")
          .agg(count(lit(1)).as("c"))
        val stats = docBuckets.groupBy("b").agg(
          sum(col("c")).as("cr"),
          sum(when(col("lang") === "en", col("c")).otherwise(0L)).as("ct"))
        val tot = stats.agg(sum("cr").as("tr"), sum("ct").as("tt"))
        val lldiff = stats.crossJoin(broadcast(tot))
          .select(col("b"),
            round((log((col("ct") + 1).cast("double") /
                       (col("tt") + B).cast("double")) -
                   log((col("cr") + 1).cast("double") /
                       (col("tr") + B).cast("double"))) * 1e6)
              .cast("long").as("lldiff"))
        docBuckets.join(broadcast(lldiff), "b")
          .groupBy("doc_id")
          .agg(sum(col("c") * col("lldiff")).as("weight"))
          .orderBy(col("weight").desc, col("doc_id"))
          .limit(100)
      },
      Some(s"""WITH toks AS (
             |  SELECT doc_id, lang,
             |    ${tokensSql("lower(text)")} AS ts
             |  FROM documents),
             |grams AS (
             |  SELECT doc_id, lang, unnest(ts) AS gram FROM toks
             |  UNION ALL
             |  SELECT doc_id, lang,
             |    unnest(list_transform(range(1, len(ts)),
             |      i -> ts[i] || ' ' || ts[i+1])) AS gram
             |  FROM toks),
             |gb AS (
             |  SELECT doc_id, lang,
             |    CAST(concat('0x', substr(md5(gram), 1, 8)) AS BIGINT)
             |      % 1024 AS b
             |  FROM grams),
             |stats AS (
             |  SELECT b, count(*) AS cr,
             |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct
             |  FROM gb GROUP BY b),
             |tot AS (SELECT sum(cr) AS tr, sum(ct) AS tt FROM stats),
             |diff AS (
             |  SELECT b,
             |    CAST(round((ln(CAST(ct + 1 AS DOUBLE)
             |                   / CAST(tt + 1024 AS DOUBLE))
             |              - ln(CAST(cr + 1 AS DOUBLE)
             |                   / CAST(tr + 1024 AS DOUBLE))) * 1e6)
             |      AS BIGINT) AS lldiff
             |  FROM stats, tot),
             |db AS (
             |  SELECT doc_id, b, count(*) AS c FROM gb GROUP BY doc_id, b)
             |SELECT db.doc_id,
             |  CAST(sum(db.c * diff.lldiff) AS BIGINT) AS weight
             |FROM db JOIN diff USING (b)
             |GROUP BY db.doc_id
             |ORDER BY weight DESC, doc_id
             |LIMIT 100""".stripMargin)),

    // ---- J36: entity resolution — dirty-feed record linkage against a
    //      canonical entity table: deterministic typo surgery builds the
    //      dirty feed (drop/swap/double a char, keyed by p_partkey%4, so
    //      both engines synthesize the identical corruption), then
    //      BLOCKING (first-char key) bounds the candidate space, the
    //      native Jaro-Winkler kernel (plans/StringKernels.scala,
    //      bit-compatible with DuckDB's jaro_winkler_similarity — the
    //      floored-transposition variant) scores candidates, and a
    //      per-record window keeps the best match over threshold. Scale
    //      shape: the canonical side is a broadcast dim; candidates
    //      exist only inside block equi-joins (never a cross join); the
    //      window partitions by the dirty key. The reference's
    //      alias-dictionary lookup (utils/team_utils.py) is the DEGENERATE
    //      case of this operator (exact-match blocking, no scoring).
    Q("j36_entity_resolution",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val canon = t(s, dir, "part").select(col("p_name")).distinct()
          .select(col("p_name").as("entity"),
            substring(col("p_name"), 1, 1).as("blk"))
        val dirty = t(s, dir, "part")
          .select(col("p_partkey"), expr(
            """CASE CAST(p_partkey % 4 AS INT)
              |  WHEN 0 THEN p_name
              |  WHEN 1 THEN substr(p_name,1,1) || substr(p_name,3)
              |  WHEN 2 THEN substr(p_name,1,1) || substr(p_name,3,1)
              |    || substr(p_name,2,1) || substr(p_name,4)
              |  ELSE p_name || substr(p_name, length(p_name))
              |END""".stripMargin).as("dirty_name"))
          .withColumn("blk", substring(col("dirty_name"), 1, 1))
        val w = Window.partitionBy(col("p_partkey"))
          .orderBy(col("sim").desc, col("entity"))
        dirty.join(broadcast(canon), "blk")
          .withColumn("sim",
            graft.plans.JaroWinklerSim(col("dirty_name"), col("entity")))
          .filter(col("sim") >= 0.8)
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .select(col("p_partkey"), col("dirty_name"),
            col("entity").as("matched"), round(col("sim"), 6).as("sim"))
          .orderBy("p_partkey")
      },
      Some("""WITH canon AS (
             |  SELECT DISTINCT p_name AS entity, substr(p_name,1,1) AS blk
             |  FROM part),
             |dirty AS (
             |  SELECT p_partkey,
             |    CASE CAST(p_partkey % 4 AS INT)
             |      WHEN 0 THEN p_name
             |      WHEN 1 THEN substr(p_name,1,1) || substr(p_name,3)
             |      WHEN 2 THEN substr(p_name,1,1) || substr(p_name,3,1)
             |        || substr(p_name,2,1) || substr(p_name,4)
             |      ELSE p_name || substr(p_name, length(p_name))
             |    END AS dirty_name
             |  FROM part),
             |scored AS (
             |  SELECT d.p_partkey, d.dirty_name, c.entity,
             |    jaro_winkler_similarity(d.dirty_name, c.entity) AS sim
             |  FROM dirty d JOIN canon c
             |    ON substr(d.dirty_name,1,1) = c.blk
             |  WHERE jaro_winkler_similarity(d.dirty_name, c.entity) >= 0.8),
             |best AS (
             |  SELECT p_partkey, dirty_name, entity, sim,
             |    row_number() OVER (PARTITION BY p_partkey
             |      ORDER BY sim DESC, entity) AS rk
             |  FROM scored)
             |SELECT p_partkey, dirty_name, entity AS matched,
             |  round(sim, 6) AS sim
             |FROM best WHERE rk = 1 ORDER BY p_partkey""".stripMargin)),

    // ---- A47: k-anonymity / l-diversity audit — the privacy-risk gate a
    //      training corpus needs BEFORE release (PII redaction t05/t17
    //      removes direct identifiers; this measures QUASI-identifier
    //      re-identification risk): group by the QI tuple
    //      (nation, account-balance band), report group size k, distinct
    //      sensitive values l (market segment), and the standard
    //      threshold flags. One aggregation pass, integer counting end to
    //      end — the band edges are floor(x/1000) of identical IEEE
    //      doubles in both engines.
    Q("a47_k_anonymity",
      (s, dir) => t(s, dir, "customer")
        .select(col("c_nationkey"),
          floor(col("c_acctbal") / 1000).cast("long").as("bal_band"),
          col("c_mktsegment"))
        .groupBy("c_nationkey", "bal_band")
        .agg(count(lit(1)).as("group_k"),
          countDistinct(col("c_mktsegment")).as("sens_l"))
        .select(col("c_nationkey"), col("bal_band"), col("group_k"),
          col("sens_l"),
          (col("group_k") >= 5).cast("int").as("k_anonymous"),
          (col("sens_l") >= 3).cast("int").as("l_diverse"))
        .orderBy("c_nationkey", "bal_band"),
      Some("""SELECT c_nationkey,
             |  CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
             |  count(*) AS group_k,
             |  count(DISTINCT c_mktsegment) AS sens_l,
             |  CAST(count(*) >= 5 AS INT) AS k_anonymous,
             |  CAST(count(DISTINCT c_mktsegment) >= 3 AS INT) AS l_diverse
             |FROM customer
             |GROUP BY 1, 2
             |ORDER BY c_nationkey, bal_band""".stripMargin)),

    // ---- L12: the Gopher quality-rule battery (Rae et al. 2021, the
    //      published repetition-free document filters every big corpus
    //      pipeline re-implements): word-count bounds, mean-word-length
    //      band, symbol-to-word ratio, bullet-line and ellipsis-line
    //      fractions, alphabetic-word fraction, stop-word presence — as
    //      ONE scan-speed projection with per-rule flags (audit form:
    //      keep every row, expose WHY it would drop; l01/t02 are the
    //      drop forms). All counting is exact-integer; the two ratios
    //      divide identical IEEE ints in both engines. Mean word length
    //      avoids a per-word fold: non-whitespace chars / word count.
    Q("l12_gopher_rules",
      (s, dir) => {
        val txt = col("text")
        val words = col("ws")
        val lines = expr("filter(split(text, '\\n'), x -> length(x) > 0)")
        val stops = Seq("the", "be", "to", "of", "and", "that",
          "have", "with")
        // guard on a non-empty TOKEN array, not raw length: a
        // whitespace-only doc has length > 0 but n_words = 0, and the
        // ratio flags would then divide by zero — IEEE Inf/NaN in Spark
        // but setting-dependent (NULL-able) in DuckDB, a latent
        // cross-engine hash divergence. n_words > 0 mirrors identically.
        t(s, dir, "documents")
          .select(col("doc_id"), txt, TextAnalysis.tokens(txt).as("ws"))
          .filter(size(words) > 0)
          .select(col("doc_id"),
            size(words).as("n_words"),
            length(regexp_replace(txt, "\\s+", "")).as("n_chars"),
            (length(txt) - length(regexp_replace(txt, "#", "")) +
              (length(txt) - length(regexp_replace(txt, "\\.\\.\\.", "")))
                / 3).as("n_sym"),
            size(expr("filter(filter(split(text, '\\n'), " +
              "x -> length(x) > 0), l -> l rlike '^\\\\s*[-*]')"))
              .as("n_bullet"),
            size(expr("filter(filter(split(text, '\\n'), " +
              "x -> length(x) > 0), l -> l rlike '\\\\.\\\\.\\\\.\\\\s*$')"))
              .as("n_ellip"),
            size(lines).as("n_lines"),
            size(filter(words, w => w.rlike("[A-Za-z]"))).as("n_alpha"),
            size(filter(
              array(stops.map(lit): _*),
              sw => array_contains(words, sw))).as("n_stop"))
          .select(col("doc_id"), col("n_words"), col("n_stop"),
            (col("n_words").between(50, 100000)).cast("int")
              .as("r_wordcount"),
            (col("n_chars").cast("double") / col("n_words"))
              .between(3.0, 10.0).cast("int").as("r_meanwordlen"),
            (col("n_sym").cast("double") / col("n_words") < 0.1)
              .cast("int").as("r_symbolratio"),
            (col("n_lines") === 0 ||
              col("n_bullet").cast("double") / col("n_lines") < 0.9)
              .cast("int").as("r_bullets"),
            (col("n_lines") === 0 ||
              col("n_ellip").cast("double") / col("n_lines") < 0.3)
              .cast("int").as("r_ellipsis"),
            (col("n_alpha").cast("double") / col("n_words") > 0.8)
              .cast("int").as("r_alphawords"),
            (col("n_stop") >= 2).cast("int").as("r_stopwords"))
          .withColumn("pass",
            (col("r_wordcount") * col("r_meanwordlen") *
              col("r_symbolratio") * col("r_bullets") * col("r_ellipsis") *
              col("r_alphawords") * col("r_stopwords")).cast("int"))
          .orderBy("doc_id")
      },
      Some(s"""WITH f AS (
             |  SELECT doc_id,
             |    ${tokensSql("text")} AS ws,
             |    list_filter(string_split(text, chr(10)),
             |      x -> strlen(x) > 0) AS ls,
             |    length(regexp_replace(text, '\\s+', '', 'g')) AS n_chars,
             |    strlen(text) - strlen(replace(text, '#', ''))
             |      + (strlen(text) - strlen(replace(text, '...', ''))) // 3
             |      AS n_sym
             |  FROM documents
             |  WHERE len(${tokensSql("text")}) > 0),
             |c AS (
             |  SELECT doc_id, n_chars, n_sym,
             |    len(ws) AS n_words,
             |    len(ls) AS n_lines,
             |    len(list_filter(ls,
             |      l -> regexp_matches(l, '^\\s*[-*]'))) AS n_bullet,
             |    len(list_filter(ls,
             |      l -> regexp_matches(l, '\\.\\.\\.\\s*$$'))) AS n_ellip,
             |    len(list_filter(ws,
             |      w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha,
             |    len(list_filter(['the','be','to','of','and','that',
             |      'have','with'], sw -> list_contains(ws, sw))) AS n_stop
             |  FROM f),
             |r AS (
             |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
             |    CAST(n_words AS INT) AS n_words,
             |    CAST(n_stop AS INT) AS n_stop,
             |    CAST(n_words BETWEEN 50 AND 100000 AS INT)
             |      AS r_wordcount,
             |    CAST(CAST(n_chars AS DOUBLE) / n_words
             |      BETWEEN 3.0 AND 10.0 AS INT) AS r_meanwordlen,
             |    CAST(CAST(n_sym AS DOUBLE) / n_words < 0.1 AS INT)
             |      AS r_symbolratio,
             |    CAST(n_lines = 0 OR
             |      CAST(n_bullet AS DOUBLE) / n_lines < 0.9 AS INT)
             |      AS r_bullets,
             |    CAST(n_lines = 0 OR
             |      CAST(n_ellip AS DOUBLE) / n_lines < 0.3 AS INT)
             |      AS r_ellipsis,
             |    CAST(CAST(n_alpha AS DOUBLE) / n_words > 0.8 AS INT)
             |      AS r_alphawords,
             |    CAST(n_stop >= 2 AS INT) AS r_stopwords
             |  FROM c)
             |SELECT r.*,
             |  CAST(r_wordcount * r_meanwordlen * r_symbolratio
             |    * r_bullets * r_ellipsis * r_alphawords * r_stopwords
             |    AS INT) AS pass
             |FROM r ORDER BY doc_id""".stripMargin)),

    // ---- T24: tokenizer FERTILITY by language — the compression-rate
    //      profile that decides per-language sampling temperature and
    //      token budgets (chars/word and words/doc vary 2-5x across
    //      scripts; zh has no spaces, so its "fertility" here is the
    //      whole-doc char mass): exact-integer sums per language, two
    //      IEEE divisions at the end. One map-side-combinable pass.
    Q("t24_fertility",
      (s, dir) => {
        // n_words > 0 guard (not raw length): see l12 — a whitespace-only
        // doc would otherwise feed w = 0 into chars_per_word's division
        // with engine-dependent Inf/NULL semantics.
        t(s, dir, "documents")
          .select(col("lang"), col("text"),
            TextAnalysis.tokenCount(col("text")).as("w"))
          .filter(col("w") > 0)
          .select(col("lang"), col("w"),
            length(regexp_replace(col("text"), "\\s+", ""))
              .cast("long").as("c"))
          .groupBy("lang")
          .agg(count(lit(1)).as("docs"), sum("w").as("words"),
            sum("c").as("chars"))
          .select(col("lang"), col("docs"), col("words"), col("chars"),
            (col("chars").cast("double") / col("words"))
              .as("chars_per_word"),
            (col("words").cast("double") / col("docs"))
              .as("words_per_doc"))
          .orderBy("lang")
      },
      Some(s"""WITH f AS (
             |  SELECT lang,
             |    ${tokenCountSql("text")} AS w,
             |    CAST(length(regexp_replace(text, '\\s+', '', 'g'))
             |      AS BIGINT) AS c
             |  FROM documents
             |  WHERE len(${tokensSql("text")}) > 0)
             |SELECT lang, count(*) AS docs,
             |  CAST(sum(w) AS BIGINT) AS words,
             |  CAST(sum(c) AS BIGINT) AS chars,
             |  CAST(sum(c) AS DOUBLE) / CAST(sum(w) AS BIGINT)
             |    AS chars_per_word,
             |  CAST(sum(w) AS DOUBLE) / count(*) AS words_per_doc
             |FROM f GROUP BY lang ORDER BY lang""".stripMargin)),

    // ---- A48: differential-privacy-style NOISY count release — the
    //      publishable companion of a47's risk audit: per-nation counts
    //      plus Laplace(1/eps) noise, eps=1. The noise is DETERMINISTIC
    //      (inverse-CDF over a 60-bit md5-derived uniform — the a42/o08
    //      seeded-randomness recipe), so the whole release replays
    //      bit-for-bit in the oracle while keeping the real Laplace
    //      shape across keys. Output quantized to integer micro-counts:
    //      the one ln() evaluates identical IEEE doubles in both
    //      engines, then everything after round() is exact BIGINT.
    Q("a48_dp_release",
      (s, dir) => {
        val grp = t(s, dir, "customer")
          .groupBy("c_nationkey").agg(count(lit(1)).as("n"))
        val u = (conv(substring(
            md5(concat(lit("dp-eps1-"), col("c_nationkey").cast("string"))),
            1, 15), 16, 10).cast("long").cast("double") + 0.5) /
          lit(1152921504606846976L).cast("double") // 2^60: exact division
        val centered = u - 0.5
        // clamp keeps ln() finite if a hash ever lands on the open
        // interval's edge after the long->double rounding (ANSI-safe)
        val noise = -signum(centered) *
          log(greatest(lit(1e-12),
            lit(1.0) - lit(2.0) * abs(centered))) // Laplace b = 1/eps = 1
        grp.select(col("c_nationkey"), col("n"),
            (col("n") * 1000000L +
              round(noise * 1e6).cast("long")).as("released_micro"))
          .orderBy("c_nationkey")
      },
      Some("""WITH g AS (
             |  SELECT c_nationkey, count(*) AS n
             |  FROM customer GROUP BY c_nationkey),
             |u AS (
             |  SELECT c_nationkey, n,
             |    (CAST(CAST(concat('0x', substr(md5(concat('dp-eps1-',
             |      CAST(c_nationkey AS VARCHAR))), 1, 15)) AS BIGINT)
             |      AS DOUBLE) + 0.5) / CAST(1152921504606846976 AS DOUBLE)
             |      - 0.5 AS centered
             |  FROM g)
             |SELECT c_nationkey, n,
             |  CAST(n AS BIGINT) * 1000000
             |    + CAST(round(-sign(centered)
             |        * ln(greatest(1e-12, 1.0 - 2.0 * abs(centered)))
             |        * 1e6) AS BIGINT)
             |    AS released_micro
             |FROM u ORDER BY c_nationkey""".stripMargin)),

    // ---- D30: PORTABLE LSH recall audit — the hash-exact shadow of the
    //      seeded d07 (the last rows-only gate class without a twin):
    //      recall is measured for the PORTABLE MinHash pipeline (d20's
    //      md5 + universal-family signatures, bit-identical in DuckDB)
    //      against exact trigram-Jaccard ground truth, so every true
    //      pair, its integer intersection/union, and its caught/missed
    //      verdict replays bit-for-bit. Ground truth enumerates pairs
    //      sharing >=1 gram — definitionally an AUDIT on a bounded
    //      sample (like d07/n05), not a corpus-scale operator: at 100 TB
    //      you run it on a sampled slice to certify band/row parameters,
    //      then trust the banded join those parameters drive.
    Q("d30_recall_portable",
      (s, dir) => graft.llm.Dedup.portableRecall(
          t(s, dir, "documents").filter(col("doc_id") < 1500),
          "text", "doc_id", threshold = 0.5)
        .orderBy("id_a", "id_b"),
      Some(graft.llm.Dedup.portableRecallOracleSql(
        "(SELECT * FROM documents WHERE doc_id < 1500)", "doc_id", "text",
        threshold = 0.5))),

    // ---- L13: temperature-based multilingual sampling — the published
    //      p^alpha rebalance (alpha=0.7, the multilingual-LM convention)
    //      that upsamples tail languages: per-language rates derive from
    //      the FITTED language distribution (t24's profile feeds the
    //      same decision), selection is the a42 hash-gate recipe (md5
    //      micro-uniform < rate), so the sample is deterministic,
    //      stream-stable, and exactly replayable. Float portability: the
    //      single pow() per language quantizes to integer micro-mass
    //      BEFORE normalization, so the z-sum is associative BIGINT —
    //      no cross-engine summation-order drift.
    Q("l13_temperature_sample",
      (s, dir) => graft.llm.CorpusPipeline.temperatureSample(
          t(s, dir, "documents"), "lang", "temp-", 200.0)
        .select(col("doc_id"), col("lang"), col("rate_micro"))
        .orderBy("doc_id"),
      Some(s"""WITH ${graft.llm.CorpusPipeline.temperatureSampleOracleCtes(
                 "documents", "lang", "temp-", 200.0, "smp")}
              |SELECT doc_id, lang, rate_micro FROM smp
              |ORDER BY doc_id""".stripMargin)),

    // ---- N21: hard-NEGATIVE mining (ANCE/DPR-style) — for each query
    //      vector, the k most-similar corpus vectors with a DIFFERENT
    //      label: the maximally-confusable negatives a contrastive
    //      embedding-model batch wants. Audit form over a bounded query
    //      set; every quantized dot, cosine, and rank replays bit-for-bit
    //      (llm/Similarity.hardNegativesPortable).
    Q("n21_hard_negatives",
      (s, dir) => graft.llm.Similarity.hardNegativesPortable(
          t(s, dir, "embeddings"), "vec_id", "embedding", "label",
          queryMaxId = 10L, k = 5)
        .orderBy("query_id", "rank"),
      Some(graft.llm.Similarity.hardNegativesPortableOracleSql(
        "embeddings", "vec_id", "embedding", "label",
        queryMaxId = 10L, k = 5)))
  )

  /** t25's tagging dictionary — plan-time constant, shared by the Spark
    * side (Aho-Corasick automaton) and the oracle (per-term contains).
    */
  private[graft] val TagDict = Seq("data", "model", "train", "test",
    "learn", "spark", "sql", "the ", "and ", "with", "over", "under")

  def entries2: Seq[Q] = Seq(

    // ---- T25: dictionary TAGGING via the native Aho-Corasick kernel
    //      (plans/StringKernels.scala): every doc reports which
    //      dictionary terms it contains in ONE O(|text|) pass, where the
    //      naive plan pays a substring scan per term and a regex
    //      alternation backtracks — at the 10^4..10^6-term dictionaries
    //      of real taxonomy/blocklist tagging, per-term scans are the
    //      scale-killer. Substring semantics over lowercased text; the
    //      oracle replays each term with contains() so the automaton's
    //      failure-link walk is cross-checked term-for-term.
    Q("t25_keyword_tags",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          graft.plans.MultiMatch(lower(col("text")), TagDict).as("tags"))
        .select(col("doc_id"),
          array_join(col("tags"), "|").as("tags"),
          size(col("tags")).as("n_tags"))
        .orderBy("doc_id"),
      // DuckDB's array_to_string(empty) is NULL where Spark's
      // array_join(empty) is '' — coalesce pins the Spark convention
      Some(s"""SELECT doc_id,
             |  coalesce(array_to_string(list_filter(
             |    [${TagDict.map(t => s"'$t'").mkString(", ")}],
             |    k -> contains(lower(text), k)), '|'), '') AS tags,
             |  CAST(len(list_filter(
             |    [${TagDict.map(t => s"'$t'").mkString(", ")}],
             |    k -> contains(lower(text), k))) AS INT) AS n_tags
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- F10: URL-suffix BLOCKLIST filter — the CCNet/RefinedWeb URL
    //      curation step: a host is blocked when it equals a blocklist
    //      entry or sits under it ('a.b.example.com' under 'example.com'
    //      — the public-suffix-list match). Scale shape: the host's
    //      dot-suffix CHAIN explodes (<= label count per row, bounded)
    //      and equi-joins the BROADCAST blocklist — never a LIKE scan
    //      per entry, so a 10^6-entry blocklist costs the same join as a
    //      10-entry one. Hosts synthesized deterministically from row
    //      columns so both engines see identical inputs.
    Q("f10_url_blocklist",
      (s, dir) => {
        val entries = Seq("src3.example.com", "example.org",
          "bad.example.net", "src7.example.com")
        val bl = s.createDataFrame(
          entries.map(Tuple1(_))).toDF("entry")
        val hosts = t(s, dir, "documents")
          .withColumn("host", concat(col("lang"), lit("."), col("source"),
            lit(".example."),
            element_at(array(lit("com"), lit("org"), lit("net")),
              (col("doc_id") % 3 + 1).cast("int"))))
        // the label array binds ONCE per row (the t22 one-element-
        // transform trick) — the naive form re-runs the regex split
        // three times per suffix, O(labels²) per row
        val suffixes = hosts
          .select(col("doc_id"), col("host"), explode(expr(
            "element_at(transform(array(split(host, '\\\\.')), hs -> " +
              "transform(sequence(1, size(hs)), " +
              "i -> array_join(slice(hs, i, size(hs) - i + 1), '.'))), 1)"))
            .as("sfx"))
        suffixes
          .join(broadcast(bl), col("sfx") === col("entry"), "left")
          .groupBy("doc_id", "host")
          .agg(min(col("entry")).as("matched"))
          .select(col("doc_id"), col("host"),
            coalesce(col("matched"), lit("")).as("matched"),
            col("matched").isNotNull.cast("int").as("blocked"))
          .orderBy("doc_id")
      },
      Some("""WITH h AS (
             |  SELECT doc_id,
             |    lang || '.' || source || '.example.' ||
             |      (['com', 'org', 'net'])[CAST(doc_id % 3 AS INT) + 1]
             |      AS host
             |  FROM documents),
             |sfx AS (
             |  SELECT doc_id, host,
             |    unnest(list_transform(
             |      range(1, len(string_split(host, '.')) + 1),
             |      i -> array_to_string(string_split(host, '.')[i:], '.')))
             |      AS sfx
             |  FROM h),
             |bl AS (SELECT unnest(['src3.example.com', 'example.org',
             |  'bad.example.net', 'src7.example.com']) AS entry),
             |m AS (
             |  SELECT s.doc_id, s.host, min(bl.entry) AS matched
             |  FROM sfx s LEFT JOIN bl ON bl.entry = s.sfx
             |  GROUP BY 1, 2)
             |SELECT doc_id, host, coalesce(matched, '') AS matched,
             |  CAST(matched IS NOT NULL AS INT) AS blocked
             |FROM m ORDER BY doc_id""".stripMargin)),

    // ---- M13: AUDIO content dedup through the REAL decode path — the
    //      audio member of the content-dedup family (m09 is the image
    //      one): synthetic WAVs planted so ids congruent mod 64 are
    //      byte-identical, every payload decodes ONCE through the
    //      RIFF/PCM walker to its 10-window energy envelope, the
    //      envelope digests, and pairs emit via the distributed
    //      self-equi-join on the digest (exchange reuse keeps the
    //      decode single-pass, the m09 contract; a degenerate digest
    //      group never lands in one row). Oracle is the planted
    //      congruence, so a decode or envelope divergence between any
    //      two congruent payloads breaks the gate.
    Q("m13_audio_dups",
      (s, dir) => {
        val ids = t(s, dir, "documents")
          .select(col("doc_id").cast("long").as("id"))
          .filter(col("id") < 300)
        val mm = graft.llm.Multimodal
        graft.llm.Dedup.pairsWithinGroups(mm.audioContentKeys(
            mm.withSyntheticAudio(ids, "id", genMod = 64L), "id"),
            "content_key", "id")
          .orderBy("id_a", "id_b")
      },
      Some("""SELECT a.doc_id AS id_a, b.doc_id AS id_b
             |FROM documents a JOIN documents b
             |  ON a.doc_id < b.doc_id
             |  AND a.doc_id % 64 = b.doc_id % 64
             |WHERE a.doc_id < 300 AND b.doc_id < 300
             |ORDER BY id_a, id_b""".stripMargin)),

    // ---- T26: Unicode NFC dedup keys — the canonicalization pass
    //      BEFORE exact dedup: half the docs get a COMPOSED suffix
    //      (U+00E9, é) and half the equivalent DECOMPOSED one
    //      (e + U+0301 combining acute) — different byte strings,
    //      identical rendering. Raw digests split the corpus in two;
    //      digests of the native nfc_normalize kernel
    //      (plans/StringKernels.scala, JDK Normalizer — NFC is a Unicode
    //      spec, so it agrees byte-for-byte with DuckDB's utf8proc)
    //      collapse the distinction. Both key spaces emitted so the
    //      oracle proves the collapse, not just the normal form.
    Q("t26_nfc_dedup_keys",
      (s, dir) => {
        // NOTE: Spark's `char(n)` masks to one byte (769 & 0xFF = 1), so
        // `char(769)` is U+0001, NOT the combining acute — use Scala
        // Unicode literals; DuckDB's chr() takes real code points.
        val suffix = when(col("doc_id") % 2 === 0, lit(" caf\u00e9"))
          .otherwise(lit(" cafe\u0301"))
        t(s, dir, "documents").filter(col("doc_id") < 200)
          .select(col("doc_id"),
            concat(col("text"), suffix).as("raw"))
          .select(col("doc_id"),
            length(col("raw")).as("raw_len"),
            length(graft.plans.NfcNormalize(col("raw"))).as("nfc_len"),
            md5(col("raw")).as("raw_key"),
            md5(graft.plans.NfcNormalize(col("raw"))).as("nfc_key"))
          .orderBy("doc_id")
      },
      Some("""WITH r AS (
             |  SELECT doc_id,
             |    text || CASE WHEN doc_id % 2 = 0
             |      THEN ' caf' || chr(233)
             |      ELSE ' caf' || 'e' || chr(769) END AS raw
             |  FROM documents WHERE doc_id < 200)
             |SELECT doc_id,
             |  CAST(length(raw) AS INT) AS raw_len,
             |  CAST(length(nfc_normalize(raw)) AS INT) AS nfc_len,
             |  md5(raw) AS raw_key,
             |  md5(nfc_normalize(raw)) AS nfc_key
             |FROM r ORDER BY doc_id""".stripMargin)),

    // ---- S15: ORC round-trip — the remaining first-class columnar
    //      container (parquet/CSV/JSON/Avro/WARC/TAR are covered):
    //      executors write zlib ORC, the scan reads back through
    //      Spark's vectorized ORC reader with the filter ON the scan
    //      (pushdown pinned in PlanShapeSpec), and DuckDB replays the
    //      expected rows straight from the source table. ----------------
    Q("s15_orc_roundtrip",
      (s, dir) => {
        val tmp = Registry.scratchDir("orc_s15")
        t(s, dir, "documents").filter(col("doc_id") < 300)
          .select("doc_id", "lang", "source", "n_chars")
          .repartition(4, col("doc_id"))
          .write.mode("overwrite").option("compression", "zlib").orc(tmp)
        s.read.orc(tmp)
          .filter(col("n_chars") > 100)
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, n_chars FROM documents
             |WHERE doc_id < 300 AND n_chars > 100
             |ORDER BY doc_id""".stripMargin)),

    // ---- L14: the C4 cleaning battery (Raffel et al. 2020) — the
    //      LINE-oriented complement of l12's doc-stat Gopher flags:
    //      pages explode into lines, each line keeps or drops on its
    //      own evidence (terminal punctuation, >=3 words, no
    //      'javascript'), survivors reassemble, and the DOC verdict
    //      rides the retained-line count plus the lorem-ipsum /
    //      curly-brace page flags. Pages are synthesized from the
    //      documents table identically in both engines (7-word lines,
    //      deterministic punctuation/injection by id arithmetic), so
    //      entity counts, the reassembled-text digest, and every
    //      verdict are hash-exact. The words array and the built page
    //      bind ONCE per row via the one-element-transform trick (the
    //      t22 HOF-inlining lesson). ------------------------------------
    Q("l14_c4_rules",
      (s, dir) => {
        val page = t(s, dir, "documents")
          .filter(col("text").rlike("\\S"))
          .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("ws"))
          .select(col("doc_id"), expr(
            """concat(
              |  transform(sequence(0, cast(ceil(size(ws) / 7.0) as int) - 1),
              |    i -> concat(
              |      case when doc_id % 7 = 0 and i = 0
              |        then 'javascript alert ' else '' end,
              |      array_join(slice(ws, i * 7 + 1, 7), ' '),
              |      case when (doc_id + i) % 3 != 0 then '.' else '' end)),
              |  slice(array('lorem ipsum dolor sit amet.'), 1,
              |    case when doc_id % 11 = 0 then 1 else 0 end),
              |  slice(array('function f() { return 1; }.'), 1,
              |    case when doc_id % 13 = 0 then 1 else 0 end))"""
              .stripMargin).as("lines"))
        page.select(col("doc_id"),
            size(col("lines")).as("n_lines"),
            expr("""filter(lines, l ->
              |  (l like '%.' or l like '%!' or l like '%?' or l like '%"')
              |  and size(split(l, ' ')) >= 3
              |  and not l like '%javascript%')""".stripMargin).as("kept"),
            expr("array_join(lines, '\n')").as("pg"))
          .select(col("doc_id"), col("n_lines"),
            size(col("kept")).as("n_kept"),
            col("pg").contains("lorem ipsum").cast("int").as("has_lorem"),
            col("pg").contains("{").cast("int").as("has_brace"),
            md5(array_join(col("kept"), "\n")).as("kept_key"))
          .withColumn("keep",
            (col("n_kept") >= 5 && col("has_lorem") === 0 &&
              col("has_brace") === 0).cast("int"))
          .orderBy("doc_id")
      },
      Some(s"""WITH d AS (
             |  SELECT doc_id,
             |    ${tokensSql("text")} AS ws
             |  FROM documents WHERE regexp_matches(text, '\\S')),
             |pg AS (
             |  SELECT doc_id, list_concat(list_concat(
             |    list_transform(range(0, CAST(ceil(len(ws) / 7.0) AS INT)),
             |      i -> (CASE WHEN doc_id % 7 = 0 AND i = 0
             |              THEN 'javascript alert ' ELSE '' END) ||
             |           array_to_string(ws[i*7+1 : i*7+7], ' ') ||
             |           (CASE WHEN (doc_id + i) % 3 <> 0
             |              THEN '.' ELSE '' END)),
             |    CASE WHEN doc_id % 11 = 0
             |      THEN ['lorem ipsum dolor sit amet.']
             |      ELSE CAST([] AS VARCHAR[]) END),
             |    CASE WHEN doc_id % 13 = 0
             |      THEN ['function f() { return 1; }.']
             |      ELSE CAST([] AS VARCHAR[]) END) AS lines
             |  FROM d),
             |k AS (
             |  SELECT doc_id,
             |    CAST(len(lines) AS INT) AS n_lines,
             |    list_filter(lines, l ->
             |      (l LIKE '%.' OR l LIKE '%!' OR l LIKE '%?'
             |        OR l LIKE '%"')
             |      AND len(string_split(l, ' ')) >= 3
             |      AND l NOT LIKE '%javascript%') AS kept,
             |    array_to_string(lines, chr(10)) AS pg
             |  FROM pg)
             |SELECT doc_id, n_lines,
             |  CAST(len(kept) AS INT) AS n_kept,
             |  CAST(pg LIKE '%lorem ipsum%' AS INT) AS has_lorem,
             |  CAST(contains(pg, '{') AS INT) AS has_brace,
             |  -- DuckDB array_to_string([]) is NULL, Spark array_join is ''
             |  md5(coalesce(array_to_string(kept, chr(10)), '')) AS kept_key,
             |  CAST(len(kept) >= 5 AND pg NOT LIKE '%lorem ipsum%'
             |    AND NOT contains(pg, '{') AS INT) AS keep
             |FROM k ORDER BY doc_id""".stripMargin)),

    // ---- X34: URL canonicalization (RFC 3986 §6 syntax normalization
    //      + the crawler-standard utm-strip/param-sort) — the key step
    //      BEFORE URL-level dedup and the f10 blocklist join: two messy
    //      syntactic variants per doc (case-shuffled scheme/host,
    //      explicit default port, fragment, shuffled + tracking-polluted
    //      query) collapse to ONE canonical key, proven by the
    //      per-canonical variant count. Pure column expressions
    //      (functions/Urls.scala), hash-exact in DuckDB. ----------------
    Q("x34_url_canonicalize",
      (s, dir) => {
        val docs = t(s, dir, "documents").filter(col("doc_id") < 400)
        val raw = docs.select(col("doc_id"), explode(array(
          concat(lit("HTTP://WWW."), upper(col("source")),
            lit(".Example.COM:80/p/"), col("doc_id"),
            lit("?b=2&utm_source=feed&a=1#frag")),
          concat(lit("http://www."), col("source"),
            lit(".example.com/p/"), col("doc_id"),
            lit("?a=1&b=2")))).as("url"))
        raw.select(col("doc_id"), col("url"),
            graft.functions.Urls.canonicalizeUrl(col("url")).as("canon"))
          .withColumn("n_variants",
            count(lit(1)).over(org.apache.spark.sql.expressions.Window
              .partitionBy(col("canon"))).cast("int"))
          .orderBy("doc_id", "url")
      },
      Some("""WITH raw AS (
             |  SELECT doc_id, unnest([
             |    'HTTP://WWW.' || upper(source) || '.Example.COM:80/p/' ||
             |      CAST(doc_id AS VARCHAR) || '?b=2&utm_source=feed&a=1#frag',
             |    'http://www.' || source || '.example.com/p/' ||
             |      CAST(doc_id AS VARCHAR) || '?a=1&b=2']) AS url
             |  FROM documents WHERE doc_id < 400),
             |c AS (
             |  SELECT doc_id, url,
             |    'http://www.' || lower(source) || '.example.com/p/' ||
             |      CAST(doc_id AS VARCHAR) || '?a=1&b=2' AS canon
             |  FROM raw JOIN documents USING (doc_id))
             |SELECT doc_id, url, canon,
             |  CAST(count(*) OVER (PARTITION BY canon) AS INT) AS n_variants
             |FROM c ORDER BY doc_id, url""".stripMargin)),

    // ---- T27: model-based quality filtering — the classifier stage of
    //      the published curation pipelines (CCNet's fastText LM filter,
    //      LLaMA's Wikipedia-reference classifier): a hashed-unigram
    //      multinomial Naive Bayes FITTED on a deterministic 70% train
    //      split (the a42 md5 micro-uniform gate — no RNG), scoring the
    //      HELD-OUT split with class priors and a decision boundary,
    //      per-doc verdict + correctness flag emitted. Distinct from
    //      d29's DSIR: class-conditional fit with priors and a
    //      classification DECISION evaluated out-of-sample, not
    //      importance reweighting of the pool. Scale shape: the fit
    //      collapses to <=B rows that broadcast back onto the per-doc
    //      bucket counts — the corpus shuffles ONCE (the doc-bucket
    //      groupBy). Hash-exact portability: each bucket's
    //      log-likelihood ratio and the prior quantize ONCE to integer
    //      micro-nats, so per-doc sums are associative BIGINT arithmetic
    //      (the d29 recipe); train-unseen buckets coalesce to the
    //      smoothing-floor LLR, identically in both engines. -----------
    Q("t27_nb_quality_filter",
      (s, dir) => {
        val B = 512
        // a PARTIAL class signal (a lang-marker token on even ids only)
        // so the held-out verdicts genuinely vary: even docs are
        // separable, odd docs fall back to the prior — the synthetic
        // vocab itself is lang-independent.
        val docs = graft.llm.LogReg.labelledDocs(t(s, dir, "documents"),
          "t27:")
        val grams = docs
          .select(col("doc_id"), col("is_train"), col("is_pos"),
            explode(TextAnalysis.tokens(lower(col("text")))).as("tok"))
          .select(col("doc_id"), col("is_train"), col("is_pos"),
            (conv(substring(md5(col("tok")), 1, 8), 16, 10)
              .cast("long") % B).as("b"))
        val docBuckets = grams
          .groupBy("doc_id", "is_train", "is_pos", "b")
          .agg(count(lit(1)).as("c"))
        val fit = docBuckets.filter(col("is_train")).groupBy("b").agg(
          sum(when(col("is_pos"), col("c")).otherwise(0L)).as("cp"),
          sum(when(!col("is_pos"), col("c")).otherwise(0L)).as("cn"))
        val tot = docBuckets.filter(col("is_train")).agg(
          sum(when(col("is_pos"), col("c")).otherwise(0L)).as("tp"),
          sum(when(!col("is_pos"), col("c")).otherwise(0L)).as("tn"))
        val llr = fit.crossJoin(broadcast(tot)).select(col("b"),
          round((log((col("cp") + 1).cast("double") /
                     (col("tp") + B).cast("double")) -
                 log((col("cn") + 1).cast("double") /
                     (col("tn") + B).cast("double"))) * 1e6)
            .cast("long").as("llr"))
        val prior = docs.filter(col("is_train")).agg(
          round((log(sum(col("is_pos").cast("long")).cast("double")) -
                 log(sum((!col("is_pos")).cast("long")).cast("double")))
            * 1e6).cast("long").as("pr"))
        docBuckets.filter(!col("is_train"))
          .join(broadcast(llr), Seq("b"), "left")
          .crossJoin(broadcast(tot))
          .select(col("doc_id"), col("is_pos"), (col("c") *
            coalesce(col("llr"),
              round((log(lit(1.0) / (col("tp") + B).cast("double")) -
                     log(lit(1.0) / (col("tn") + B).cast("double")))
                * 1e6).cast("long"))).as("w"))
          .groupBy("doc_id", "is_pos").agg(sum(col("w")).as("ll"))
          .crossJoin(broadcast(prior))
          .select(col("doc_id"), col("is_pos").cast("int").as("label"),
            (col("ll") + col("pr")).as("score"),
            ((col("ll") + col("pr")) > 0).cast("int").as("pred"))
          .withColumn("correct",
            (col("label") === col("pred")).cast("int"))
          .orderBy("doc_id")
      },
      Some(s"""WITH ${graft.llm.LogReg.labelledDocsCte("t27:", "d")},
             |g AS (
             |  SELECT doc_id, is_train, is_pos,
             |    CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT)
             |      % 512 AS b
             |  FROM (SELECT doc_id, is_train, is_pos, unnest(ts) AS tok
             |        FROM d)),
             |db AS (
             |  SELECT doc_id, is_train, is_pos, b, count(*) AS c
             |  FROM g GROUP BY ALL),
             |fit AS (
             |  SELECT b,
             |    sum(CASE WHEN is_pos THEN c ELSE 0 END) AS cp,
             |    sum(CASE WHEN NOT is_pos THEN c ELSE 0 END) AS cn
             |  FROM db WHERE is_train GROUP BY b),
             |tot AS (
             |  SELECT sum(CASE WHEN is_pos THEN c ELSE 0 END) AS tp,
             |         sum(CASE WHEN NOT is_pos THEN c ELSE 0 END) AS tn
             |  FROM db WHERE is_train),
             |llr AS (
             |  SELECT b,
             |    CAST(round((ln(CAST(cp + 1 AS DOUBLE)
             |                   / CAST(tp + 512 AS DOUBLE))
             |              - ln(CAST(cn + 1 AS DOUBLE)
             |                   / CAST(tn + 512 AS DOUBLE))) * 1e6)
             |      AS BIGINT) AS llr
             |  FROM fit, tot),
             |prior AS (
             |  SELECT CAST(round(
             |    (ln(CAST(sum(CASE WHEN is_pos THEN 1 ELSE 0 END)
             |         AS DOUBLE))
             |   - ln(CAST(sum(CASE WHEN NOT is_pos THEN 1 ELSE 0 END)
             |         AS DOUBLE))) * 1e6) AS BIGINT) AS pr
             |  FROM d WHERE is_train),
             |sc AS (
             |  SELECT db.doc_id, db.is_pos,
             |    sum(db.c * coalesce(llr.llr,
             |      CAST(round((ln(1.0 / CAST(tot.tp + 512 AS DOUBLE))
             |                - ln(1.0 / CAST(tot.tn + 512 AS DOUBLE)))
             |        * 1e6) AS BIGINT))) AS ll
             |  FROM db LEFT JOIN llr USING (b), tot
             |  WHERE NOT db.is_train GROUP BY db.doc_id, db.is_pos)
             |SELECT doc_id, CAST(is_pos AS INT) AS label,
             |  CAST(ll + pr AS BIGINT) AS score,
             |  CAST((ll + pr) > 0 AS INT) AS pred,
             |  CAST(CAST(is_pos AS INT) = CAST((ll + pr) > 0 AS INT)
             |    AS INT) AS correct
             |FROM sc, prior ORDER BY doc_id""".stripMargin)),

    // ---- M14: PERCEPTUAL image dedup via dHash — the near-duplicate
    //      member of the image-dedup family (m09 is byte-level: its
    //      content_key changes on ANY re-encode). Planted ground truth:
    //      ids share a key mod 25, and the second half of the corpus is
    //      the exact pixel-doubling of the first (scale 2) — different
    //      bytes, same perceptual content. Base dims (36×32) divide the
    //      9×8 dHash grid, so integer cell means are scale-invariant
    //      and cross-scale pairs MUST surface; distinct keys were
    //      verified to yield 25 distinct hashes (deterministic — holds
    //      at every sf). One decode per image (exchange reuse across
    //      the dhash self-equi-join, the m09 contract — a degenerate
    //      hash group never lands in one row). Oracle replays the planted
    //      congruence analytically: a decode/pooling divergence between
    //      any congruent pair, same-scale or cross-scale, breaks the
    //      gate. ----------------------------------------------------------
    Q("m14_image_dhash_dups",
      (s, dir) => {
        val mm = graft.llm.Multimodal
        val hashed = mm.dhashes(
            mm.plantedImages(t(s, dir, "documents"), 150, 25), "id")
          .filter(col("dhash").isNotNull)
        graft.llm.Dedup.pairsWithinGroups(hashed, "dhash", "id")
          .withColumn("cross_scale",
            ((col("id_a") < 75) =!= (col("id_b") < 75)).cast("int"))
          .orderBy("id_a", "id_b")
      },
      Some("""SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |  CAST((a.doc_id < 75) <> (b.doc_id < 75) AS INT)
             |    AS cross_scale
             |FROM documents a JOIN documents b
             |  ON a.doc_id < b.doc_id AND a.doc_id % 25 = b.doc_id % 25
             |WHERE a.doc_id < 150 AND b.doc_id < 150
             |ORDER BY id_a, id_b""".stripMargin)),

    // ---- L15: CLUSTER-BALANCED sampling — topic rebalance for a
    //      training mix (l13 balances by LANGUAGE label; this balances
    //      by LATENT cluster): every embedding lands on its portable
    //      Forgy cell, each cell downsamples to the smallest cell's
    //      mass via an integer micro-rate and the a42 md5 micro-uniform
    //      gate — deterministic, stream-stable, bit-exact. Scale shape:
    //      centroids broadcast (one scan pass), the per-cell count
    //      frame is <=nCells rows broadcast back — the corpus never
    //      shuffles beyond the assignment argmax. -------------------------
    Q("l15_cluster_balanced_sample",
      (s, dir) => {
        val asg = graft.llm.Similarity.forgyAssignPortable(
          tf(s, dir, "embeddings"), "vec_id", "embedding", nCells = 8)
        val cc = asg.groupBy("cell").agg(count(lit(1)).as("n_cell"))
        val rt = cc.crossJoin(broadcast(cc.agg(min(col("n_cell")).as("m"))))
          .select(col("cell"), col("n_cell"),
            expr("CAST(m * 1000000 div n_cell AS BIGINT)").as("rate"))
        asg.join(broadcast(rt), Seq("cell"))
          .select(col("id"), col("cell"), col("n_cell"), col("rate"),
            (conv(substring(md5(concat(lit("l15:"), col("id"))), 1, 15),
              16, 10).cast("long") % 1000000L < col("rate"))
              .cast("int").as("kept"))
          .orderBy("id")
      },
      Some(graft.llm.Similarity.clusterBalancedSampleOracleSql(
        "embeddings", "vec_id", "embedding"))),

    // ---- N22: Matryoshka two-stage ANN (Kusupati et al. 2022) — the
    //      progressive-filtering recipe for MRL embeddings: a cheap
    //      prefix-dim sweep (16 of 64 dims = 1/4 the dot cost) keeps
    //      top-20 candidates per query, the full vector reranks ONLY
    //      those; prefix_rank emitted beside the final rank so the
    //      oracle witnesses the reordering. Audit form over a bounded
    //      query set (the n01/n21 positioning); the scale path swaps
    //      the prefix sweep for the IVF/LSH generators. Hash-exact per
    //      the n12/n13 checklist. ----------------------------------------
    Q("n22_matryoshka_topk",
      (s, dir) => graft.llm.Similarity.matryoshkaTopKPortable(
          t(s, dir, "embeddings"), "vec_id", "embedding",
          queryMaxId = 20L, prefixDims = 16, candidates = 20, k = 5)
        .orderBy("query_id", "rank"),
      Some(graft.llm.Similarity.matryoshkaTopKPortableOracleSql(
        "embeddings", "vec_id", "embedding", queryMaxId = 20L,
        prefixDims = 16, candidates = 20, k = 5))),

    // ---- W27: ORDERED funnel conversion — the event-sequence analytic
    //      the w-family lacked (w12 cohorts ignore order; w10's
    //      attribution join is two-stage and window-bounded): first
    //      view, first click STRICTLY AFTER that view, first purchase
    //      STRICTLY AFTER that click, per user, with stage-reach flags
    //      and exact microsecond timestamps. Scale shape: each stage is
    //      a scan-filtered map-side-combinable min, every join keys on
    //      user_id — the three aggregations and both joins share ONE
    //      hash partitioning, so the cascade costs one logical shuffle
    //      of the (pushed-down) event slice, never a per-user sort or
    //      collect. NULL stage keys (user never clicked) drop out of
    //      the next stage's equi-join exactly like the oracle's. --------
    Q("w27_funnel_conversion",
      (s, dir) => {
        // event_id < 800 slices an early window so the funnel has a real
        // drop-off (99 viewers -> 50 clickers -> 24 purchasers at
        // sf0.01); the full table converts everyone.
        val ev = Registry.events(s, dir).filter(col("event_id") < 800)
          .select(col("user_id"), col("event_type"), col("ts"))
        val v = ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min(col("ts")).as("v_ts"))
        val c = ev.filter(col("event_type") === "click")
          .join(v, "user_id").filter(col("ts") > col("v_ts"))
          .groupBy("user_id", "v_ts").agg(min(col("ts")).as("c_ts"))
        val p = ev.filter(col("event_type") === "purchase")
          .join(c.select(col("user_id"), col("c_ts")), "user_id")
          .filter(col("ts") > col("c_ts"))
          .groupBy("user_id", "c_ts").agg(min(col("ts")).as("p_ts"))
        v.join(c.select(col("user_id"), col("c_ts")), Seq("user_id"), "left")
          .join(p, Seq("user_id", "c_ts"), "left")
          .select(col("user_id"),
            unix_micros(col("v_ts")).as("v_us"),
            unix_micros(col("c_ts")).as("c_us"),
            unix_micros(col("p_ts")).as("p_us"),
            col("c_ts").isNotNull.cast("int").as("reached_click"),
            col("p_ts").isNotNull.cast("int").as("reached_purchase"))
          .orderBy("user_id")
      },
      Some("""WITH v AS (
             |  SELECT user_id, min(ts) AS v_ts FROM events
             |  WHERE event_type = 'view' AND event_id < 800 GROUP BY 1),
             |c AS (
             |  SELECT e.user_id, min(e.ts) AS c_ts
             |  FROM events e JOIN v ON v.user_id = e.user_id
             |  WHERE e.event_type = 'click' AND e.event_id < 800
             |    AND e.ts > v.v_ts
             |  GROUP BY 1),
             |p AS (
             |  SELECT e.user_id, c.c_ts, min(e.ts) AS p_ts
             |  FROM events e JOIN c ON c.user_id = e.user_id
             |  WHERE e.event_type = 'purchase' AND e.event_id < 800
             |    AND e.ts > c.c_ts
             |  GROUP BY 1, 2)
             |SELECT v.user_id,
             |  CAST(epoch_us(v.v_ts) AS BIGINT) AS v_us,
             |  CAST(epoch_us(c.c_ts) AS BIGINT) AS c_us,
             |  CAST(epoch_us(p.p_ts) AS BIGINT) AS p_us,
             |  CAST(c.c_ts IS NOT NULL AS INT) AS reached_click,
             |  CAST(p.p_ts IS NOT NULL AS INT) AS reached_purchase
             |FROM v
             |LEFT JOIN c ON c.user_id = v.user_id
             |LEFT JOIN p ON p.user_id = v.user_id AND p.c_ts = c.c_ts
             |ORDER BY 1""".stripMargin)),

    // ---- L16: the END-TO-END corpus-build report — the l-family's
    //      stages COMPOSED into one auditable chain with per-stage row
    //      counts (exactly what a production corpus build emits):
    //      gopher-lite quality gate (l12 arithmetic) → NFC exact dedup
    //      keep-first (t26+d01) → 8-gram decontamination against the
    //      eval slice (d10's broadcast shape) → temperature sampling
    //      over the POST-filter language distribution (l13 recipe,
    //      budget 100) → 512-token packing block count (l06 arithmetic).
    //      DuckDB replays the ENTIRE chain, so every stage transition is
    //      on the hash path — a drift anywhere in the composition breaks
    //      the gate. Audit form: each stage frame recomputes its inputs
    //      (at production scale you persist between stages; the counts
    //      contract is what this query pins). -----------------------------
    Q("l16_corpus_build_report",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        // plant exact duplicates (every doc_id % 83 == 0 gets the same
        // text, long enough to pass the quality gate) so the dedup
        // stage shows a REAL drop; the raw corpus has no natural dups
        val dup = "the a " + Seq.fill(5)("spark table scan row key").mkString(" ")
        val docs = t(s, dir, "documents")
          .withColumn("text", when(col("doc_id") % 83 === 0, lit(dup))
            .otherwise(col("text")))
        // stop list adapted to this corpus's synthetic vocabulary
        // (the l12 battery keeps the full published list as FLAGS; a
        // DROP gate needs words the generator actually emits)
        val stops = Seq("the", "a")
        val ws = col("ws")
        val q1 = docs
          .select(col("doc_id"), col("lang"), col("text"),
            TextAnalysis.tokens(col("text")).as("ws"))
          .select(col("doc_id"), col("lang"), col("text"),
            size(ws).as("n_words"),
            size(filter(ws, w => w.rlike("[A-Za-z]"))).as("n_alpha"),
            size(filter(array(stops.map(lit): _*),
              sw => array_contains(ws, sw))).as("n_stop"))
          .filter(col("n_words").between(20, 100000) &&
            col("n_stop") >= 2 &&
            col("n_alpha").cast("double") / col("n_words").cast("double")
              > 0.8)
        val q2 = q1.withColumn("rn", row_number().over(
            Window.partitionBy(md5(graft.plans.NfcNormalize(col("text"))))
              .orderBy("doc_id")))
          .filter(col("rn") === 1).drop("rn")
        // lowercase 8-gram digests over the token array bound as a column
        def grams8(df: org.apache.spark.sql.DataFrame) =
          df.select(col("doc_id"),
              TextAnalysis.tokens(lower(col("text"))).as("lws"))
            .select(col("doc_id"), explode(expr(
              """transform(slice(lws, 1, greatest(size(lws) - 7, 0)),
                |  (w, i) -> md5(concat_ws(' ', slice(lws, i + 1, 8))))"""
                .stripMargin)).as("g"))
        val evalGrams = grams8(docs.filter(col("doc_id") % 97 === 0))
          .select(col("g")).distinct()
        val train = q2.filter(col("doc_id") % 97 =!= 0)
        val contaminated = grams8(train)
          .join(broadcast(evalGrams), "g").select("doc_id").distinct()
        val q3 = train.join(contaminated, Seq("doc_id"), "left_anti")
        val cp = graft.llm.CorpusPipeline
        val q4 = cp.temperatureSample(q3, "lang", "l16-", 100.0)
        cp.stageReport(
          cp.stageRow("0_raw", docs),
          cp.stageRow("1_quality", q1),
          cp.stageRow("2_dedup", q2),
          cp.stageRow("3_decontam", q3),
          cp.stageRow("4_sampled", q4),
          cp.stageRow("5_blocks", q4,
            expr("CAST((sum(n_words) + 511) div 512 AS BIGINT)")))
      },
      Some(s"""WITH d AS (
             |  SELECT doc_id, lang,
             |    CASE WHEN doc_id % 83 = 0
             |      THEN 'the a spark table scan row key spark table' ||
             |        ' scan row key spark table scan row key spark' ||
             |        ' table scan row key spark table scan row key'
             |      ELSE text END AS text
             |  FROM documents),
             |w AS (
             |  SELECT doc_id, lang, text,
             |    ${tokensSql("text")} AS ws
             |  FROM d),
             |q1 AS (
             |  SELECT doc_id, lang, text,
             |    CAST(len(ws) AS BIGINT) AS n_words
             |  FROM w
             |  WHERE len(ws) BETWEEN 20 AND 100000
             |    AND len(list_filter(
             |      ['the','a'],
             |      sw -> list_contains(ws, sw))) >= 2
             |    AND CAST(len(list_filter(ws,
             |        x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
             |      / CAST(len(ws) AS DOUBLE) > 0.8),
             |q2 AS (
             |  SELECT doc_id, lang, text, n_words FROM (
             |    SELECT q1.*, row_number() OVER (
             |      PARTITION BY md5(nfc_normalize(text))
             |      ORDER BY doc_id) AS rn
             |    FROM q1) WHERE rn = 1),
             |lg AS (
             |  SELECT doc_id, list_transform(
             |      range(1, greatest(len(lws) - 6, 1)),
             |      i -> md5(array_to_string(lws[i : i + 7], ' '))) AS gs
             |  FROM (SELECT doc_id,
             |          ${tokensSql("lower(text)")} AS lws
             |        FROM d)),
             |eg AS (SELECT DISTINCT unnest(gs) AS g FROM lg
             |       WHERE doc_id % 97 = 0),
             |cont AS (
             |  SELECT DISTINCT t.doc_id FROM (
             |    SELECT l.doc_id, unnest(l.gs) AS g
             |    FROM lg l JOIN q2 USING (doc_id)
             |    WHERE l.doc_id % 97 <> 0) t
             |  JOIN eg USING (g)),
             |q3 AS (SELECT * FROM q2
             |       WHERE doc_id % 97 <> 0
             |         AND doc_id NOT IN (SELECT doc_id FROM cont)),
             |${graft.llm.CorpusPipeline.temperatureSampleOracleCtes(
                  "q3", "lang", "l16-", 100.0, "q4")}
             |SELECT stage, n_rows FROM (
             |  SELECT '0_raw' AS stage,
             |    CAST(count(*) AS BIGINT) AS n_rows FROM documents
             |  UNION ALL SELECT '1_quality', CAST(count(*) AS BIGINT)
             |    FROM q1
             |  UNION ALL SELECT '2_dedup', CAST(count(*) AS BIGINT)
             |    FROM q2
             |  UNION ALL SELECT '3_decontam', CAST(count(*) AS BIGINT)
             |    FROM q3
             |  UNION ALL SELECT '4_sampled', CAST(count(*) AS BIGINT)
             |    FROM q4
             |  UNION ALL SELECT '5_blocks',
             |    CAST((sum(n_words) + 511) // 512 AS BIGINT) FROM q4)
             |ORDER BY stage""".stripMargin))
  )
}
