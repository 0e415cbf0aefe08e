package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.{CosineSim, NearestCells, QCosineSim, SignBucket, SqQuantize}

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Three paths:
  *  - brute-force top-k: broadcast the (small) query set against the
  *    corpus — a broadcast nested-loop that scans the corpus ONCE however
  *    large it is; correct baseline and the oracle for recall tests.
  *  - LSH-bucketed (random hyperplanes): corpus is bucketed by sign
  *    pattern scan-side, queries probe their bucket via an equi-join.
  *  - IVF (centroid cells): corpus assigned to nearest centroid, queries
  *    probe their nProbe nearest cells.
  *
  * All vector math runs through the native kernels in
  * `graft.plans.VectorKernels` — one compiled call per row instead of
  * per-element interpreted `aggregate`/`zip_with` dispatch (the round-2
  * scale blocker). Summation is a sequential left fold in double, so
  * results are reproducible across partitionings and match a
  * row-at-a-time oracle bit-for-bit. The hash-exact `*Portable` twins
  * run their integer arithmetic through the same kernels (see the
  * portable-family helpers below).
  *
  * The embedding dimension is DERIVED from the data (first row) wherever
  * hyperplanes/centroids are built, and every kernel fails fast on a
  * mismatched vector instead of silently null-padding (which would
  * collapse all vectors into one bucket).
  */
object Similarity {

  // ---- The portable family's arithmetic, one form per engine ----------
  //
  // Every `*Portable` operator below is hash-exact against a DuckDB
  // replay, and every replay depends on all call sites agreeing bit for
  // bit, so each piece is written ONCE per engine:
  //  - quantization: [[quantized]] / [[qeSql]] — `round(x·10⁶)` BIGINT
  //    components (both engines round half away from zero);
  //  - cosine: `QCosineSim` over the BIGINT arrays / [[dotNormsSql]] +
  //    [[cosSql]] over the long form — exact integer dot and norms, 0.0
  //    for a zero norm, else one IEEE divide of correctly-rounded square
  //    roots;
  //  - lattice LSH: [[latticeWeight]] planes in `SignBucket`'s exact Long
  //    mode / [[latticeBucketsSql]];
  //  - Forgy cells (first n vectors by id, SQL-expressible where a seeded
  //    k-means++ is not) and the nearest-cell argmax: [[forgyCells]] +
  //    [[nearestCell]] / [[forgySql]] + [[nearestCellSql]].

  /** `round(x·scale)` as BIGINT, per component — the portable family's
    * one quantization (×10⁶; power iteration uses ×10³). Integer dots
    * and norms over it are exact and order-independent.
    */
  def quantized(vec: Column, scale: Long = 1000000L): Column =
    transform(vec, e => round(e.cast("double") * lit(scale)).cast("long"))

  /** `(id, [extra...,] qv)`: each vector quantized once. */
  private def quantizedVecs(emb: DataFrame, idCol: String, vecCol: String,
                            extra: Column*): DataFrame =
    emb.select((col(idCol).as("id") +: extra) :+
      quantized(col(vecCol)).as("qv"): _*)

  /** Forgy cells: the first `n` rows of `ids` by id, numbered from 0 as
    * INT `cell`. `orderBy(id).limit(n)` is a distributed TakeOrdered; the
    * window runs over the n surviving rows only.
    */
  private def forgyCells(ids: DataFrame, n: Int): DataFrame =
    ids.orderBy("id").limit(n)
      .withColumn("cell",
        (row_number().over(Window.orderBy("id")) - 1).cast("int"))

  /** `(id, cell, cos)`: every quantized vector of `q (id, qv)` against
    * every centroid of `cent (cell, cv)` — the centroids broadcast
    * against one scan of `q`.
    */
  private def cellCosines(q: DataFrame, cent: DataFrame): DataFrame =
    q.crossJoin(broadcast(cent))
      .select(col("id"), col("cell"), QCosineSim(col("qv"), col("cv")).as("cos"))

  /** `(id, cell, cos)`: each id's nearest cell of a [[cellCosines]]
    * frame, ties to the smallest cell — `max(struct(cos, -cell))`, the
    * `row_number(ORDER BY cos DESC, cell)` of [[nearestCellSql]].
    */
  private def nearestCell(scored: DataFrame): DataFrame =
    scored.groupBy("id")
      .agg(max(struct(col("cos").as("cos"),
        (-col("cell")).cast("long").as("negcell"))).as("b"))
      .select(col("id"), (-col("b.negcell")).cast("int").as("cell"),
        col("b.cos").as("cos"))

  /** `(query_id, rank, neighbor_id, cos)`: per-query top-k of a scored
    * `(qid, id, cos)` frame by (cos DESC, id) — [[topKSql]]'s order.
    */
  private def topKByCos(scored: DataFrame, k: Int): DataFrame =
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("id"))))
      .filter(col("rank") <= k)
      .select(col("qid").as("query_id"), col("rank").cast("long").as("rank"),
        col("id").as("neighbor_id"), col("cos"))

  /** `(a, b, cos)`: the quantized cosine of each candidate pair, both
    * vectors joined back from `q (id, qv)` by id.
    */
  private def pairCosines(cand: DataFrame, q: DataFrame,
                          a: String, b: String): DataFrame =
    cand
      .join(q.select(col("id").as(a), col("qv").as("va")), a)
      .join(q.select(col("id").as(b), col("qv").as("vb")), b)
      .select(col(a), col(b), QCosineSim(col("va"), col("vb")).as("cos"))

  /** The integer-lattice hyperplane weight of table `t`, plane `p`,
    * component `pos`: pure hash arithmetic, the `pl` CTE of
    * [[latticeBucketsSql]].
    */
  private[graft] def latticeWeight(t: Int, p: Int, pos: Int): Long =
    (2654435761L * (t * 1000 + p * 100 + pos + 1)) % 1000003 - 501001

  /** `(id, t, bucket)`: the sign bucket of each quantized vector of
    * `q (id, qv)` in each of `nTables` lattice tables — `SignBucket`'s
    * exact Long mode, planes built once on the driver.
    */
  private def latticeBuckets(q: DataFrame, nTables: Int, nPlanes: Int,
                             dim: Int): DataFrame =
    q.select(col("id"), explode(array((0 until nTables).map { t =>
        val planes = Array.tabulate(nPlanes, dim)(latticeWeight(t, _, _))
        struct(lit(t).as("t"), SignBucket(col("qv"), planes).as("bucket"))
      }: _*)).as("tb"))
      .select(col("id"), col("tb.t").as("t"), col("tb.bucket").as("bucket"))

  /** SQL: the zero-guarded cosine of integer dot/norm columns. The text
    * is valid in both engines, so it is also the form for Spark long-form
    * callers (n10); `QCosineSim` computes the same bits.
    */
  def cosSql(dot: String, na: String, nb: String): String =
    s"CASE WHEN $na = 0 OR $nb = 0 THEN 0.0 " +
      s"ELSE $dot / (sqrt(CAST($na AS DOUBLE)) * sqrt(CAST($nb AS DOUBLE))) END"

  /** SQL: the exact `dot, n2a, n2b` triple of two quantized columns. */
  private[graft] def dotNormsSql(a: String, b: String): String =
    s"CAST(sum($a * $b) AS BIGINT) AS dot, " +
      s"CAST(sum($a * $a) AS BIGINT) AS n2a, CAST(sum($b * $b) AS BIGINT) AS n2b"

  /** SQL: the CTE `qe(id, [extra,] pos, qe)` — [[quantized]] in long
    * form, one row per component of `table`'s `vecCol`.
    */
  private[graft] def qeSql(table: String, idCol: String, vecCol: String,
                           extra: String = "", where: String = "",
                           scale: Long = 1000000L): String =
    s"""qe AS (
       |  SELECT emb.$idCol AS id,$extra CAST(t.i AS INT) AS pos,
       |    CAST(round(CAST(emb.$vecCol[t.i + 1] AS DOUBLE) * $scale)
       |      AS BIGINT) AS qe
       |  FROM $table emb,
       |    LATERAL (SELECT unnest(range(len(emb.$vecCol))) AS i) t$where)""".stripMargin

  /** SQL: [[forgyCells]] — `cid(id, cell)` over `table`, and `cent(cell,
    * pos, cq)`, the centroids' `qe` rows.
    */
  private def forgySql(table: String, idCol: String, n: Int,
                       where: String = "", cent: String = "cent",
                       cell: String = "cell", cellType: String = "INT"): String =
    s"""cid AS (SELECT $idCol AS id,
       |          CAST(row_number() OVER (ORDER BY $idCol) - 1 AS $cellType)
       |            AS $cell
       |        FROM $table$where ORDER BY $idCol LIMIT $n),
       |$cent AS (SELECT c.$cell, q.pos, q.qe AS cq
       |         FROM cid c JOIN qe q ON q.id = c.id)""".stripMargin

  /** SQL: [[cellCosines]] — `cosv(id, cell, cos)` over `qe` × `cent`. */
  private def cellCosSql(where: String = ""): String =
    s"""cosv AS (
       |  SELECT id, cell, ${cosSql("dot", "n2a", "n2b")} AS cos FROM (
       |    SELECT q.id, c.cell, ${dotNormsSql("q.qe", "c.cq")}
       |    FROM qe q JOIN cent c ON c.pos = q.pos$where
       |    GROUP BY 1, 2))""".stripMargin

  /** SQL: [[nearestCell]] over `cosv` — `(id, cell, cos)`. */
  private val nearestCellSql: String =
    """SELECT id, cell, cos FROM (
      |    SELECT id, cell, cos,
      |      row_number() OVER (PARTITION BY id ORDER BY cos DESC, cell)
      |        AS rn
      |    FROM cosv) WHERE rn = 1""".stripMargin

  /** SQL: the quantized cosine of each pair `(a, b)` of the CTE `cand`. */
  private def pairCosSql(a: String, b: String): String =
    s"""SELECT $a, $b, ${cosSql("dot", "n2a", "n2b")} AS cos FROM (
       |  SELECT c.$a, c.$b, ${dotNormsSql("qa.qe", "qb.qe")}
       |  FROM cand c
       |  JOIN qe qa ON qa.id = c.$a
       |  JOIN qe qb ON qb.id = c.$b AND qb.pos = qa.pos
       |  GROUP BY 1, 2)""".stripMargin

  /** SQL: [[topKByCos]] over a `(qid, id, cos)` relation. */
  private def topKSql(scored: String, k: Int): String =
    s"""SELECT qid AS query_id, CAST(rn AS BIGINT) AS rank,
       |  id AS neighbor_id, cos
       |FROM (
       |  SELECT qid, id, cos,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id)
       |      AS rn
       |  FROM $scored)
       |WHERE rn <= $k""".stripMargin

  /** SQL: [[latticeBuckets]] — the planes `pl`, per-plane dots `bits`
    * and `bk(id, t, bucket)` over `qe`.
    */
  private def latticeBucketsSql(nTables: Int, nPlanes: Int, dim: Int): String =
    s"""pl AS (
       |  SELECT t.t, p.p, d.pos,
       |    (2654435761 * (t.t * 1000 + p.p * 100 + d.pos + 1)) % 1000003
       |      - 501001 AS w
       |  FROM (SELECT unnest(range($nTables)) AS t) t,
       |       (SELECT unnest(range($nPlanes)) AS p) p,
       |       (SELECT unnest(range($dim)) AS pos) d),
       |bits AS (
       |  SELECT q.id, pl.t, pl.p,
       |    CAST(sum(q.qe * pl.w) AS BIGINT) AS sdot
       |  FROM qe q JOIN pl ON pl.pos = q.pos
       |  GROUP BY 1, 2, 3),
       |bk AS (
       |  SELECT id, t,
       |    CAST(sum(CASE WHEN sdot >= 0
       |      THEN CAST(round(pow(2, p)) AS BIGINT) ELSE 0 END) AS BIGINT)
       |      AS bucket
       |  FROM bits GROUP BY 1, 2)""".stripMargin

  /** Cosine similarity of two float-array columns, computed in double
    * (native kernel — codegen-compiled loop, not per-element dispatch).
    */
  def cosine(a: Column, b: Column): Column = CosineSim(a, b)

  /** Embedding dimension, derived from the first row. Fails fast on an
    * empty corpus — hyperplane/centroid construction needs a dimension.
    */
  def vecDim(df: DataFrame, vecCol: String): Int =
    df.select(size(col(vecCol))).head().getInt(0)

  /** Exact top-k neighbors for each query vector (broadcast nested loop +
    * per-query rank window). Deterministic: ties broken by corpus id.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = c.join(q, col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("sim"))
  }

  /** Deterministic random hyperplanes (fixed seed): `nPlanes` × `dim`. */
  def hyperplanes(dim: Int, nPlanes: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-pattern LSH bucket id for a vector column (native kernel). */
  def lshBucket(vec: Column, planes: Array[Array[Double]]): Column =
    SignBucket(vec, planes)

  /** Approximate top-k via MULTI-TABLE sign LSH: `nTables` independent
    * plane sets (seeded 42+t); corpus and queries are bucketed in every
    * table, the probe is an equi-join on `(table, bucket)`, and a pair is
    * a candidate when it collides in ANY table — the standard
    * recall-vs-cost dial for random-hyperplane LSH (single-table recall
    * tops out fast because one unlucky plane split hides a true
    * neighbor). Multi-probe adds the Hamming-1 buckets per table, which
    * costs only `nPlanes` probe rows per QUERY — corpus cost is
    * `nTables` rows per vector, never query-dependent.
    *
    * Candidates are deduplicated on the pair key BEFORE scoring, so a
    * pair colliding in several tables is scored once. The join is a
    * plain broadcast/shuffled equi-join — never a cartesian product.
    *
    * @param dim embedding dimension; -1 (default) derives it from the
    *            corpus first row. A corpus vector of any other length
    *            fails fast in the kernel.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int,
              nPlanes: Int = 8, dim: Int = -1,
              multiProbe: Boolean = true, nTables: Int = 4): DataFrame = {
    val d = if (dim > 0) dim else vecDim(corpus, vecCol)
    val tables = (0 until nTables)
      .map(t => t -> hyperplanes(d, nPlanes, seed = 42L + t))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .withColumn("tb", explode(array(tables.map { case (t, planes) =>
        struct(lit(t).as("t"), lshBucket(col("cv"), planes).as("bucket"))
      }: _*)))
      .select(col("neighbor_id"), col("cv"),
        col("tb.t").as("table"), col("tb.bucket").as("bucket"))
    val q = broadcast(queries.select(col(idCol).as("query_id"),
        col(vecCol).as("qv"))
      .withColumn("tb", explode(array(tables.map { case (t, planes) =>
        struct(lit(t).as("t"), lshBucket(col("qv"), planes).as("b0"))
      }: _*)))
      .withColumn("bucket",
        if (multiProbe)
          explode(array(col("tb.b0") +: (0 until nPlanes).map(i =>
            col("tb.b0").bitwiseXOR(lit(1L << i))): _*))
        else col("tb.b0"))
      .select(col("query_id"), col("qv"), col("tb.t").as("table"),
        col("bucket")))
    val candidates = c.join(q, Seq("table", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("qv"), col("cv"))
      .dropDuplicates("query_id", "neighbor_id")
    val scored = candidates.withColumn("sim", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("sim"))
  }

  /** Deterministic k-means fit over a bounded corpus sample: the first
    * `sampleSize` vectors by id seed a k-means++ init (seeded), then
    * Lloyd iterations run driver-side on the sample only. The SAMPLE is
    * bounded (default 2048 vectors) regardless of corpus size — fitting
    * centroids on a sample is the standard IVF construction; assignment
    * of the full corpus stays distributed.
    */
  def kmeansFit(corpus: DataFrame, idCol: String, vecCol: String,
                k: Int, sampleSize: Int = 2048, iters: Int = 10,
                seed: Long = 42L): Array[Array[Double]] = {
    val sample: Array[Array[Double]] =
      corpus.orderBy(col(idCol)).limit(sampleSize)
        .select(col(vecCol)).collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(sample.nonEmpty, "kmeansFit: empty corpus")
    kmeansOnSample(sample, k, iters, seed)
  }

  /** The k-means++/Lloyd core over an already-collected sample — shared
    * by the full-dimension fit (`kmeansFit`) and the per-subspace PQ
    * codebook fit (`pqFit`, which slices ONE sample M ways instead of
    * collecting M times).
    */
  def kmeansOnSample(sample: Array[Array[Double]], k: Int,
                     iters: Int = 10, seed: Long = 42L): Array[Array[Double]] = {
    require(sample.nonEmpty, "kmeansOnSample: empty sample")
    val dim = sample(0).length
    val rnd = new scala.util.Random(seed)

    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val x = a(i) - b(i); s += x * x; i += 1 }
      s
    }

    // k-means++ init: first centroid is the first sample vector (by id —
    // deterministic); each next is chosen proportional to D^2 using the
    // seeded RNG.
    val centroids = scala.collection.mutable.ArrayBuffer(sample(0).clone())
    while (centroids.length < math.min(k, sample.length)) {
      val dists = sample.map(v => centroids.map(c => d2(v, c)).min)
      val total = dists.sum
      if (total <= 0) {
        // all sample points already coincide with a centroid: pad with
        // copies (empty cells are harmless — no corpus vector lands there)
        centroids += sample(centroids.length % sample.length).clone()
      } else {
        var r = rnd.nextDouble() * total
        var i = 0
        while (i < sample.length - 1 && r > dists(i)) { r -= dists(i); i += 1 }
        centroids += sample(i).clone()
      }
    }
    while (centroids.length < k) centroids += centroids(0).clone()

    // Lloyd iterations on the sample.
    var cs = centroids.map(_.clone()).toArray
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      sample.foreach { v =>
        var best = 0; var bd = Double.MaxValue
        var i = 0
        while (i < k) { val d = d2(v, cs(i)); if (d < bd) { bd = d; best = i }; i += 1 }
        counts(best) += 1
        var j = 0
        while (j < dim) { sums(best)(j) += v(j); j += 1 }
      }
      cs = Array.tabulate(k) { i =>
        if (counts(i) == 0) cs(i)
        else { val c = sums(i); var j = 0; while (j < dim) { c(j) /= counts(i); j += 1 }; c }
      }
      it += 1
    }
    cs
  }

  /** Per-subspace PQ codebooks: ONE bounded corpus sample (first
    * `sampleSize` by id, like `kmeansFit`), sliced into `m` contiguous
    * subspaces, each fitted with its own seeded k-means. Returns
    * `m × ksub × (dim/m)` centroids for `PqEncode`/`PqAdc`. Vectors are
    * L2-normalized before the fit — the codebooks live in the same space
    * the index encodes (`ivfPqTopK` normalizes identically).
    */
  def pqFit(corpus: DataFrame, idCol: String, vecCol: String,
            m: Int, ksub: Int = 16, sampleSize: Int = 2048,
            iters: Int = 10, seed: Long = 42L): Array[Array[Array[Double]]] = {
    val sample: Array[Array[Double]] =
      corpus.orderBy(col(idCol)).limit(sampleSize)
        .select(graft.plans.L2Normalize(col(vecCol))).collect()
        .map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "pqFit: empty corpus")
    val dim = sample(0).length
    require(dim % m == 0, s"pqFit: dim $dim not divisible by m=$m")
    val dsub = dim / m
    Array.tabulate(m) { s =>
      val slice = sample.map(v => java.util.Arrays.copyOfRange(v, s * dsub,
        (s + 1) * dsub))
      kmeansOnSample(slice, ksub, iters, seed + s)
    }
  }

  /** IVF-style ANN — the other classic scale path: corpus vectors are
    * assigned to their nearest of K centroids (one scan-side pass,
    * bucketed by centroid id); queries probe their `nProbe` nearest
    * centroids and rank only within those cells. Centroids come from a
    * deterministic seeded k-means++ fit over a bounded corpus sample
    * (`kmeansFit`); cell assignment + ranking run through the native
    * `NearestCells` kernel — all K distances in one compiled pass.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int,
              nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    val centroids = kmeansFit(corpus, idCol, vecCol, nCells)

    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .withColumn("cell",
        element_at(NearestCells(col("cv"), centroids, 1), 1))
    val q = broadcast(queries.select(col(idCol).as("query_id"),
        col(vecCol).as("qv"))
      .withColumn("cell", explode(NearestCells(col("qv"), centroids, nProbe))))
    val scored = c.join(q, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("sim"))
  }

  /** IVF-PQ ANN — the composition that actually runs at 100 TB: IVF
    * cells bound WHICH corpus vectors a query touches (`nProbe` cells of
    * `nCells`), and PQ codes bound what each touch COSTS (M bytes + an
    * ADC distance against the query, never the raw floats). The corpus
    * index is (id, cell, M-byte codes) — 32× smaller than the float
    * embeddings, which at scale is the difference between an in-memory
    * index and one that spills.
    *
    * Both sides are L2-normalized first, so the squared-L2 ADC ranking
    * is exactly the cosine ranking (`L2Normalize` doc); the ADC pass
    * builds a `rerank*k` shortlist per query and an exact cosine
    * re-ranks only the shortlist (see inline note). Recall vs
    * `bruteForceTopK` is audited in `n08_pq_recall`. Final order
    * (sim desc, neighbor_id) — deterministic at any parallelism.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame,
                idCol: String, vecCol: String, k: Int,
                nCells: Int = 16, nProbe: Int = 4,
                m: Int = 8, ksub: Int = 16, rerank: Int = 4): DataFrame = {
    import graft.plans.{L2Normalize, PqAdc, PqEncode}
    val centroids = kmeansFit(corpus, idCol, vecCol, nCells)
    val codebooks = pqFit(corpus, idCol, vecCol, m, ksub)

    // corpus index: cell id from the FULL vector, codes from the
    // normalized vector — the raw floats never cross the join
    val c = corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("cv"))
      .withColumn("cell",
        element_at(NearestCells(col("cv"), centroids, 1), 1))
      .withColumn("codes", PqEncode(L2Normalize(col("cv")), codebooks))
      .select(col("neighbor_id"), col("cell"), col("codes"))
    val q = broadcast(queries.select(col(idCol).as("query_id"),
        L2Normalize(col(vecCol)).as("qn"), col(vecCol).as("qv"))
      .withColumn("cell", explode(NearestCells(col("qv"), centroids, nProbe)))
      .select(col("query_id"), col("qn"), col("cell")))
    val scored = c.join(q, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", PqAdc(col("qn"), col("codes"), codebooks))
    // ADC shortlist → exact re-rank: the standard PQ pipeline. ADC alone
    // ranks coarsely when true neighbors are tightly clustered (the
    // quantization step exceeds the inter-neighbor gaps), so the codes
    // select a small candidate set (rerank*k per query) and ONLY those
    // ids fetch their full-precision vector back for an exact cosine —
    // at scale that second read is |queries|*rerank*k rows, not the
    // corpus.
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").asc, col("neighbor_id"))
    val shortlist = scored.withColumn("arank", row_number().over(wAdc))
      .filter(col("arank") <= k.toLong * rerank)
      .select(col("query_id"), col("neighbor_id"))
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val cvBack = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"))
    val exact = shortlist
      .join(broadcast(qv), Seq("query_id"))
      .join(cvBack, Seq("neighbor_id"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    exact.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("sim"))
  }

  /** Incremental IVF index MAINTENANCE — fold a new embedding batch
    * into an existing index WITHOUT refit, the missing
    * incremental-family member beside `Dedup.incrementalDedup` /
    * `incrementalNearDups` / `Ranking.bm25Incremental` / the
    * incremental aggregates: a daily batch must not force a full
    * codebook rebuild. New vectors are assigned to their nearest
    * EXISTING cell through the same compiled `NearestCells` kernel the
    * initial build uses — an appended vector's cell is bit-identical to
    * what a full rebuild with the same centroids would assign — and
    * each carries its cosine to the assigned centroid so coverage decay
    * is observable per row (`is_outlier` = cos below `minCos`).
    *
    * Scale shape: ONE scan-side pass over the batch. The codebook is a
    * plan constant inside the kernel, the centroid-vector join is a
    * broadcast of `nCells` rows, and the batch itself never shuffles —
    * steady-state append cost is O(batch · nCells · dim), independent
    * of the indexed corpus size.
    */
  def ivfAppend(batch: DataFrame, idCol: String, vecCol: String,
                centroids: Array[Array[Double]],
                minCos: Double = 0.5): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val centDf = broadcast(centroids.toSeq.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toDF("cell", "cv"))
    batch.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("cell",
        element_at(NearestCells(col("v"), centroids, 1), 1))
      .join(centDf, Seq("cell"))
      .select(col("id"), col("cell"),
        cosine(col("v"), col("cv")).as("cos"))
      .withColumn("is_outlier", col("cos") < minCos)
  }

  /** One-row refit signal over [[ivfAppend]]'s output: when the batch's
    * outlier fraction exceeds `maxOutlierFrac`, the codebook no longer
    * describes the incoming data and the caller schedules a refit — the
    * assign-cheap / refit-rare steady state. The comparison is
    * cross-multiplied in exact integer arithmetic (no float fraction on
    * the decision path).
    */
  def ivfRefitSignal(assignments: DataFrame,
                     maxOutlierFrac: Double = 0.1): DataFrame =
    assignments.agg(
        count(lit(1)).as("n_assigned"),
        coalesce(sum(col("is_outlier").cast("long")), lit(0L))
          .as("n_outliers"))
      .select(col("n_assigned"), col("n_outliers"),
        (col("n_outliers") * lit(10000L) >
          col("n_assigned") * lit((maxOutlierFrac * 10000L).round))
          .as("refit"))

  /** Hash-verified PORTABLE twin of [[semanticDedup]] (the d23 pattern:
    * the fast native path stays rows-only-audited, this exact replay is
    * the one DuckDB re-derives bit-for-bit). Differences, each for
    * replayability only:
    *
    *  - cells come from a FORGY fit — the centroids are the first
    *    `nCells` corpus vectors by id (k-means with 0 Lloyd rounds on
    *    the ordered sample), expressible as `ORDER BY id LIMIT n` in
    *    SQL where a seeded k-means++ is not;
    *  - all cosines run in n10's BIGINT-quantized space
    *    (round(x·10⁶)): integer dots/norms are order-independent exact,
    *    and the final `dot / (sqrt(n2a)·sqrt(n2b))` is one fixed shape
    *    of correctly-rounded IEEE ops — bit-identical on any engine.
    *
    * Same candidate topology as [[semanticDedup]]: within-cell head
    * all-pairs capped at `cap`, tail rows star-paired against the
    * cell's min-id representative — O(cap² + N) per cell, never O(N²).
    * The centroid frame is `orderBy(id).limit(n)` (distributed
    * TakeOrdered, then a window over the n surviving rows) and joins
    * back via broadcast; nothing here collects the corpus.
    */
  def semanticDedupPortable(emb: DataFrame, idCol: String, vecCol: String,
                            nCells: Int = 8, threshold: Double = 0.95,
                            cap: Int = 16): DataFrame = {
    val q = quantizedVecs(emb, idCol, vecCol)
    val cent = ivfCentroidsPortable(emb, idCol, vecCol, nCells)
    val assigned = q.join(
      nearestCell(cellCosines(q, cent)).select("id", "cell"), "id")
    val wC = Window.partitionBy(col("cell")).orderBy(col("id"))
    val ranked = assigned.withColumn("rn", row_number().over(wC))
    val a = ranked.as("a"); val b = ranked.as("b")
    val headPairs = a.join(b,
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id") &&
          col("a.rn") <= cap && col("b.rn") <= cap)
      .select(col("a.qv").as("va"), col("b.id").as("id_b"),
        col("b.qv").as("vb"))
    val reps = ranked.filter(col("rn") === 1)
      .select(col("cell"), col("qv").as("rep_v"))
    val tailPairs = ranked.filter(col("rn") > cap).as("t")
      .join(reps, Seq("cell"))
      .select(col("rep_v").as("va"), col("t.id").as("id_b"),
        col("t.qv").as("vb"))
    val dropped = headPairs.unionByName(tailPairs)
      .filter(QCosineSim(col("va"), col("vb")) >= threshold)
      .select(col("id_b").as("id")).distinct()
      .withColumn("__drop", lit(true))
    assigned.join(dropped, Seq("id"), "left")
      .select(col("id"), col("cell"),
        coalesce(!col("__drop"), lit(true)).as("kept"))
  }

  /** DuckDB replay of [[semanticDedupPortable]] over `table` with long
    * id `idCol` and float-array `vecCol`: Forgy cells, quantized
    * cosines, capped candidate topology, keep/drop verdicts — the whole
    * rewrite, exactly.
    */
  def semanticDedupPortableOracleSql(table: String, idCol: String,
                                     vecCol: String, nCells: Int = 8,
                                     threshold: Double = 0.95,
                                     cap: Int = 16): String =
    s"""WITH ${qeSql(table, idCol, vecCol)},
       |${forgySql(table, idCol, nCells)},
       |${cellCosSql()},
       |best AS ($nearestCellSql),
       |ranked AS (
       |  SELECT id, cell,
       |    row_number() OVER (PARTITION BY cell ORDER BY id) AS rn
       |  FROM best),
       |cand AS (
       |  SELECT a.id AS id_a, b.id AS id_b
       |  FROM ranked a JOIN ranked b
       |    ON a.cell = b.cell AND a.id < b.id
       |   AND a.rn <= $cap AND b.rn <= $cap
       |  UNION ALL
       |  SELECT r1.id AS id_a, t.id AS id_b
       |  FROM ranked t JOIN ranked r1
       |    ON r1.cell = t.cell AND r1.rn = 1
       |  WHERE t.rn > $cap),
       |dropped AS (
       |  SELECT DISTINCT id_b AS id FROM (${pairCosSql("id_a", "id_b")})
       |  WHERE cos >= $threshold)
       |SELECT b.id, b.cell, (d.id IS NULL) AS kept
       |FROM best b LEFT JOIN dropped d ON d.id = b.id
       |ORDER BY b.id""".stripMargin

  /** Hash-verified PORTABLE sign-LSH ANN twin (the audit twin of the
    * rows-only recall-gated [[lshTopK]], completing the d23/d24/d25
    * family for similarity search): hyperplanes come from pure integer
    * HASH ARITHMETIC instead of a seeded Gaussian RNG —
    * `w(t,p,d) = (2654435761·(t·1000 + p·100 + d + 1)) mod 1000003 −
    * 501001` — so both the bucketing and the within-bucket quantized-
    * cosine ranking replay bit-for-bit in DuckDB SQL. (Integer-lattice
    * hyperplanes are a legitimate sign-LSH family: directions are
    * deterministic pseudo-uniform, and the sign test only needs the
    * direction.) Buckets per (table, vector) are exact `Long` dots in
    * `SignBucket`; ranking is the quantized cosine of `QCosineSim`.
    *
    * Scale shape = [[lshTopK]]: candidates exist only within a
    * (table, bucket) equi-join — queries never scan the corpus.
    *
    * @param queryMaxId rows with id < queryMaxId are the query set (a
    *                   SQL-replayable predicate, mirroring n02's shape)
    * @param dim hyperplane lattice width; must equal the embedding
    *            width — a vector of any other length fails fast in the
    *            kernel, as in [[lshTopK]].
    */
  def lshTopKPortable(emb: DataFrame, idCol: String, vecCol: String,
                      queryMaxId: Long, k: Int, nTables: Int = 2,
                      nPlanes: Int = 6, dim: Int = 64): DataFrame = {
    val q = quantizedVecs(emb, idCol, vecCol)
    val buckets = latticeBuckets(q, nTables, nPlanes, dim)
    val cand = buckets
      .join(buckets.filter(col("id") < queryMaxId)
          .select(col("id").as("qid"), col("t"), col("bucket")),
        Seq("t", "bucket"))
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id")).distinct()
    topKByCos(pairCosines(cand, q, "qid", "id"), k)
  }

  /** DuckDB replay of [[lshTopKPortable]] over `table`. `dim` must match
    * the Spark call — it is the hyperplane lattice width.
    */
  def lshTopKPortableOracleSql(table: String, idCol: String,
                               vecCol: String, queryMaxId: Long, k: Int,
                               nTables: Int = 2,
                               nPlanes: Int = 6, dim: Int = 64): String =
    s"""WITH ${qeSql(table, idCol, vecCol)},
       |${latticeBucketsSql(nTables, nPlanes, dim)},
       |cand AS (
       |  SELECT DISTINCT qb.id AS qid, cb.id
       |  FROM bk cb JOIN bk qb ON qb.t = cb.t AND qb.bucket = cb.bucket
       |  WHERE qb.id < $queryMaxId AND cb.id <> qb.id)
       |${topKSql(s"(${pairCosSql("qid", "id")})", k)}
       |ORDER BY query_id, rank""".stripMargin

  /** Hash-verified PORTABLE cosine near-dup twin — the audit twin of
    * the rows-only [[cosineNearDups]] (n03), built from the same
    * integer-lattice sign-LSH as [[lshTopKPortable]]: candidates
    * collide in any of `nTables` hash-arithmetic bucket tables, pair
    * generation uses the identical head/star cap, and the verify is the
    * quantized-integer cosine — so every candidate pair and every
    * verdict replays bit-for-bit in DuckDB. Returns distinct
    * (id_a < id_b, cos) pairs with cos >= threshold.
    *
    * @param dim hyperplane lattice width; must equal the embedding
    *            width — a vector of any other length fails fast.
    */
  def cosineNearDupsPortable(emb: DataFrame, idCol: String,
                             vecCol: String, threshold: Double = 0.95,
                             nTables: Int = 2, nPlanes: Int = 6,
                             cap: Int = 16, dim: Int = 64): DataFrame = {
    val q = quantizedVecs(emb, idCol, vecCol)
    val ranked = latticeBuckets(q, nTables, nPlanes, dim)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("t"), col("bucket")).orderBy(col("id"))))
    val a = ranked.as("a"); val b = ranked.as("b")
    val headPairs = a.join(b,
        col("a.t") === col("b.t") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id") &&
          col("a.rn") <= cap && col("b.rn") <= cap)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val reps = ranked.filter(col("rn") === 1)
      .select(col("t"), col("bucket"), col("id").as("rep_id"))
    val tailPairs = ranked.filter(col("rn") > cap).as("x")
      .join(reps, Seq("t", "bucket"))
      .select(col("rep_id").as("id_a"), col("x.id").as("id_b"))
    val cand = headPairs.unionByName(tailPairs).distinct()
    pairCosines(cand, q, "id_a", "id_b")
      .filter(col("cos") >= threshold)
  }

  /** DuckDB replay of [[cosineNearDupsPortable]] over `table`. `dim`
    * must match the Spark call — it is the hyperplane lattice width.
    */
  def cosineNearDupsPortableOracleSql(table: String, idCol: String,
                                      vecCol: String,
                                      threshold: Double = 0.95,
                                      nTables: Int = 2, nPlanes: Int = 6,
                                      cap: Int = 16, dim: Int = 64): String =
    s"""WITH ${qeSql(table, idCol, vecCol)},
       |${latticeBucketsSql(nTables, nPlanes, dim)},
       |rk AS (
       |  SELECT id, t, bucket,
       |    row_number() OVER (PARTITION BY t, bucket ORDER BY id) AS rn
       |  FROM bk),
       |cand AS (
       |  SELECT DISTINCT id_a, id_b FROM (
       |    SELECT a.id AS id_a, b.id AS id_b
       |    FROM rk a JOIN rk b
       |      ON a.t = b.t AND a.bucket = b.bucket AND a.id < b.id
       |     AND a.rn <= $cap AND b.rn <= $cap
       |    UNION ALL
       |    SELECT r1.id AS id_a, x.id AS id_b
       |    FROM rk x JOIN rk r1
       |      ON r1.t = x.t AND r1.bucket = x.bucket AND r1.rn = 1
       |    WHERE x.rn > $cap))
       |SELECT id_a, id_b, cos FROM (${pairCosSql("id_a", "id_b")})
       |WHERE cos >= $threshold
       |ORDER BY id_a, id_b""".stripMargin

  /** The PORTABLE IVF index itself: (cell, cv) — Forgy first-`nCells`
    * centroids over the quantized vectors, the artifact
    * [[saveIvfIndex]] persists and [[ivfTopKFromIndex]] queries. Split
    * out so the index can be BUILT ONCE and applied to every later
    * corpus drop (the fit-once/score-forever posture of every other
    * artifact — t35's protocol on the ANN axis).
    */
  def ivfCentroidsPortable(emb: DataFrame, idCol: String, vecCol: String,
                           nCells: Int): DataFrame =
    forgyCells(quantizedVecs(emb, idCol, vecCol), nCells)
      .select(col("cell"), col("qv").as("cv"))

  /** Persist a [[ivfCentroidsPortable]] index: ≤nCells rows of exact
    * BIGINT-quantized centroid components — lossless by construction,
    * the UnigramLm.saveVocab posture. A production vector index is
    * trained once and mounted by every retrieval/dedup job; without
    * the artifact each job refits (and a refit over a GROWN corpus
    * yields different Forgy cells — a silently different index).
    */
  def saveIvfIndex(cent: DataFrame, dir: String): Unit =
    cent.select(col("cell").cast("int"), col("cv"))
      .repartition(1).write.mode("overwrite").parquet(dir)

  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession,
                   dir: String): DataFrame =
    spark.read.parquet(dir).select(col("cell"), col("cv"))

  /** [[ivfTopKPortable]]'s query path against a GIVEN (possibly loaded)
    * index: corpus rows land on their nearest cell, queries probe their
    * `nProbe` nearest cells, candidates exist only inside the (cell)
    * equi-join, exact quantized-cosine rerank on the survivors. The
    * index broadcasts (≤nCells rows); one scan pass assigns the corpus.
    */
  def ivfTopKFromIndex(emb: DataFrame, idCol: String, vecCol: String,
                       cent: DataFrame, queryMaxId: Long, k: Int,
                       nProbe: Int = 2): DataFrame = {
    val q = quantizedVecs(emb, idCol, vecCol)
    val scored = cellCosines(q, cent)
    // corpus: nearest cell; queries: nProbe nearest cells
    val assigned = nearestCell(scored).select("id", "cell")
    val probes = scored.filter(col("id") < queryMaxId)
      .withColumn("pr", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("cos").desc, col("cell"))))
      .filter(col("pr") <= nProbe)
      .select(col("id").as("qid"), col("cell"))
    val cand = assigned.join(probes, Seq("cell"))
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id")).distinct()
    topKByCos(pairCosines(cand, q, "qid", "id"), k)
  }

  /** Hash-verified PORTABLE IVF ANN twin — completes the ANN audit
    * family (n01 brute force is exact by construction, [[lshTopKPortable]]
    * covers LSH): Forgy cells (first-`nCells`-by-id centroids, the same
    * SQL-expressible 0-round fit as [[semanticDedupPortable]]), corpus
    * vectors assigned to their quantized-cosine-nearest cell, queries
    * probing their `nProbe` nearest cells and ranking ONLY within those
    * cells' members by quantized cosine. Every cell assignment, probe
    * choice and ranked neighbor replays bit-for-bit in DuckDB.
    *
    * Scale shape = [[ivfTopK]]: the probe is a cell equi-join — touched
    * candidates are bounded by the probed cells' populations, never the
    * corpus.
    */
  def ivfTopKPortable(emb: DataFrame, idCol: String, vecCol: String,
                      queryMaxId: Long, k: Int, nCells: Int = 8,
                      nProbe: Int = 2): DataFrame =
    ivfTopKFromIndex(emb, idCol, vecCol,
      ivfCentroidsPortable(emb, idCol, vecCol, nCells),
      queryMaxId, k, nProbe)

  /** DuckDB replay of [[ivfTopKPortable]] over `table`. */
  def ivfTopKPortableOracleSql(table: String, idCol: String,
                               vecCol: String, queryMaxId: Long, k: Int,
                               nCells: Int = 8,
                               nProbe: Int = 2): String =
    s"""WITH ${qeSql(table, idCol, vecCol)},
       |${forgySql(table, idCol, nCells)},
       |${cellCosSql()},
       |assigned AS ($nearestCellSql),
       |probes AS (
       |  SELECT id AS qid, cell FROM (
       |    SELECT id, cell,
       |      row_number() OVER (PARTITION BY id ORDER BY cos DESC, cell)
       |        AS pr
       |    FROM cosv WHERE id < $queryMaxId) WHERE pr <= $nProbe),
       |cand AS (
       |  SELECT DISTINCT p.qid, a.id
       |  FROM assigned a JOIN probes p ON p.cell = a.cell
       |  WHERE a.id <> p.qid)
       |${topKSql(s"(${pairCosSql("qid", "id")})", k)}
       |ORDER BY query_id, rank""".stripMargin

  /** PORTABLE Forgy assignment of EVERY vector (the [[ivfAppendPortable]]
    * kernel without the incremental split): cells are the first `nCells`
    * vectors by id, every row lands on its quantized-cosine-nearest cell
    * — the cluster-membership primitive topic/balance operators build on
    * (l15 samples per cell; n04/n08 probe per cell). Broadcast centroids,
    * one scan pass, argmax via the one-shape struct-max; bit-exact in
    * DuckDB per the n12/n13 checklist.
    */
  def forgyAssignPortable(emb: DataFrame, idCol: String, vecCol: String,
                          nCells: Int = 8): DataFrame = {
    val cent = ivfCentroidsPortable(emb, idCol, vecCol, nCells)
    nearestCell(cellCosines(quantizedVecs(emb, idCol, vecCol), cent))
      .select("id", "cell")
  }

  /** DuckDB replay of [[forgyAssignPortable]] composed with the l15
    * balanced-sampling arithmetic: per-cell counts, micro-rate
    * `min_count*1e6 div count`, and the deterministic md5 micro-uniform
    * keep gate — every verdict bit-exact.
    */
  def clusterBalancedSampleOracleSql(table: String, idCol: String,
                                     vecCol: String, nCells: Int = 8,
                                     salt: String = "l15:"): String =
    s"""WITH ${qeSql(table, idCol, vecCol)},
       |${forgySql(table, idCol, nCells)},
       |${cellCosSql()},
       |asg AS ($nearestCellSql),
       |cc AS (SELECT cell, count(*) AS n_cell FROM asg GROUP BY cell),
       |mc AS (SELECT min(n_cell) AS m FROM cc),
       |rt AS (SELECT cc.cell, CAST(cc.n_cell AS BIGINT) AS n_cell,
       |         CAST(mc.m * 1000000 // cc.n_cell AS BIGINT) AS rate
       |       FROM cc, mc)
       |SELECT a.id, a.cell, rt.n_cell, rt.rate,
       |  CAST(CAST(concat('0x', substr(md5('$salt' ||
       |      CAST(a.id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000
       |    < rt.rate AS INT) AS kept
       |FROM asg a JOIN rt USING (cell)
       |ORDER BY a.id""".stripMargin

  /** Hash-verified PORTABLE incremental-IVF twin (the n13 pattern):
    * the index's cells are a Forgy fit over the PRIOR corpus (first
    * `nCells` vectors with id < `splitId`, by id — SQL-expressible
    * where the seeded k-means of [[ivfAppend]] is not), and the NEW
    * batch (id >= `splitId`) is assigned to its quantized-cosine-nearest
    * cell with the outlier verdict on the same quantized cosine — every
    * assignment and verdict replays bit-for-bit in DuckDB. The prior
    * corpus's own assignments never recompute: only batch rows appear
    * in the scored relation, the incremental contract.
    */
  def ivfAppendPortable(emb: DataFrame, idCol: String, vecCol: String,
                        splitId: Long, nCells: Int = 8,
                        minCos: Double = 0.5): DataFrame = {
    val cent = ivfCentroidsPortable(emb.filter(col(idCol) < splitId),
      idCol, vecCol, nCells)
    val batch = quantizedVecs(emb, idCol, vecCol).filter(col("id") >= splitId)
    nearestCell(cellCosines(batch, cent))
      .withColumn("is_outlier",
        when(col("cos") < minCos, 1).otherwise(0))
  }

  /** DuckDB replay of [[ivfAppendPortable]] over `table`. */
  def ivfAppendPortableOracleSql(table: String, idCol: String,
                                 vecCol: String, splitId: Long,
                                 nCells: Int = 8,
                                 minCos: Double = 0.5): String =
    s"""WITH ${qeSql(table, idCol, vecCol)},
       |${forgySql(table, idCol, nCells, where = s" WHERE $idCol < $splitId")},
       |${cellCosSql(where = s" WHERE q.id >= $splitId")}
       |SELECT id, cell, cos,
       |  CASE WHEN cos < $minCos THEN 1 ELSE 0 END AS is_outlier
       |FROM ($nearestCellSql)
       |ORDER BY id""".stripMargin

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication via embedding clustering — k-means cells bound the
    * candidate space (duplicates land in the same cell), then within
    * each cell any document whose cosine to a LOWER-id document exceeds
    * `threshold` is dropped (keep-lowest-id, the deterministic stand-in
    * for the paper's keep-lowest-centroid-distance).
    *
    * Scale shape: candidate pairs exist only WITHIN a cell, generated
    * with the same head/star cap as `cosineNearDups` — a cell of N
    * near-identical vectors costs O(cap² + N) pairs, never O(N²), and
    * every member still meets the cell's minimum-id representative, so
    * a degenerate all-duplicates cell still collapses to one survivor.
    * Returns (id, cell, kept) for every input row.
    */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
                    nCells: Int = 16, threshold: Double = 0.95,
                    cap: Int = 64): DataFrame = {
    val centroids = kmeansFit(emb, idCol, vecCol, nCells)
    val v = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("cell",
        element_at(NearestCells(col("v"), centroids, 1), 1))
    val wC = Window.partitionBy(col("cell")).orderBy(col("id"))
    val ranked = v.withColumn("rn", row_number().over(wC))

    val a = ranked.as("a"); val b = ranked.as("b")
    val headPairs = a.join(b,
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id") &&
          col("a.rn") <= cap && col("b.rn") <= cap)
      .select(col("a.v").as("va"), col("b.id").as("id_b"),
        col("b.v").as("vb"))
    val reps = ranked.filter(col("rn") === 1)
      .select(col("cell"), col("v").as("rep_v"))
    val tailPairs = ranked.filter(col("rn") > cap).as("t")
      .join(reps, Seq("cell"))
      .select(col("rep_v").as("va"), col("t.id").as("id_b"),
        col("t.v").as("vb"))

    val dropped = headPairs.unionByName(tailPairs)
      .filter(cosine(col("va"), col("vb")) >= threshold)
      .select(col("id_b").as("id")).distinct()
      .withColumn("__drop", lit(true))
    v.join(dropped, Seq("id"), "left")
      .select(col("id"), col("cell"),
        coalesce(!col("__drop"), lit(true)).as("kept"))
  }

  /** Embedding-cosine near-duplicate pairs, skew-safe: B independent
    * sign-LSH tables (banding — same family as `Dedup.bandHashes`), each
    * with `planesPerTable` bits, so a pair is a candidate when it
    * collides in ANY table. Within a bucket, pair generation is CAPPED:
    * the first `cap` members (by id) pair all-against-all; members
    * beyond the cap pair only against the bucket's minimum id (star
    * form). A degenerate corpus of N near-identical vectors therefore
    * produces O(B·(cap² + N)) candidates, never O(N²) — and every member
    * still reaches the dup-cluster representative, which is what
    * dedup needs.
    *
    * @param dim -1 derives the dimension from the data.
    */
  def cosineNearDups(df: DataFrame, idCol: String, vecCol: String,
                     threshold: Double = 0.95, nPlanes: Int = 12,
                     dim: Int = -1, nTables: Int = 4,
                     cap: Int = 64): DataFrame = {
    val d = if (dim > 0) dim else vecDim(df, vecCol)
    val planesPerTable = math.max(nPlanes / nTables, 1)
    val v = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("bk", explode(array((0 until nTables).map { t =>
        val planes = hyperplanes(d, planesPerTable, seed = 42L + t)
        struct(lit(t).as("table"), lshBucket(col("v"), planes).as("bucket"))
      }: _*)))
      .select(col("id"), col("v"), col("bk.table").as("table"),
        col("bk.bucket").as("bucket"))

    // Rank within each (table, bucket) so the cap is deterministic; the
    // rn=1 member is the bucket representative for the star fallback.
    val wB = Window.partitionBy(col("table"), col("bucket")).orderBy(col("id"))
    val ranked = v.withColumn("rn", row_number().over(wB))

    val a = ranked.as("a"); val b = ranked.as("b")
    // Head members: all-pairs among rn <= cap (bounded at cap² per bucket).
    val headPairs = a.join(b,
        col("a.table") === col("b.table") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id") &&
          col("a.rn") <= cap && col("b.rn") <= cap)
      .select(col("a.id").as("id_a"), col("a.v").as("va"),
        col("b.id").as("id_b"), col("b.v").as("vb"))
    // Tail members: star-pair against the bucket representative only.
    val reps = ranked.filter(col("rn") === 1)
      .select(col("table"), col("bucket"), col("id").as("rep_id"),
        col("v").as("rep_v"))
    val tailPairs = ranked.filter(col("rn") > cap).as("t")
      .join(reps, Seq("table", "bucket"))
      .select(col("rep_id").as("id_a"), col("rep_v").as("va"),
        col("t.id").as("id_b"), col("t.v").as("vb"))

    headPairs.unionByName(tailPairs)
      .withColumn("sim", cosine(col("va"), col("vb")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
      .distinct()
  }

  /** Int8 scalar quantization of an embedding column (native kernel):
    * 4× memory compression vs float32. Cosine is scale-invariant, so the
    * per-vector scale is dropped and `qCosine` ranks directly on the
    * codes — the standard SQ shortlist trick (quantized rank, optional
    * full-precision re-rank of the shortlist).
    */
  def quantize(vec: Column): Column = SqQuantize(vec)

  /** Cosine over two int8-quantized vectors (exact integer accumulation,
    * one double division).
    */
  def qCosine(a: Column, b: Column): Column = QCosineSim(a, b)

  /** Brute-force top-k over QUANTIZED vectors — same broadcast
    * nested-loop shape as `bruteForceTopK`, but the corpus scanned per
    * query is int8 codes (4× less memory traffic). Ranking error vs the
    * exact path is bounded by the quantization step; `n07_sq_recall`
    * audits recall@k against the float baseline.
    */
  def sqBruteForceTopK(corpus: DataFrame, queries: DataFrame,
                       idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      quantize(col(vecCol)).as("qq")))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      quantize(col(vecCol)).as("cq"))
    val scored = c.join(q, col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", qCosine(col("qq"), col("cq")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("sim"))
  }

  /** Sparse TF-cosine near-dup pairs over an inverted token index — the
    * bag-of-words complement to the shingle/embedding paths: robust to
    * local word reordering that breaks n-grams, cheaper than embeddings.
    * Two docs meet ONLY through a shared token (no all-pairs product);
    * the dot product is a count-weighted sum over the token equi-join
    * and the norms ride in from per-doc aggregates — all INTEGER sums,
    * so cosine = dot/(√na·√nb) is two correctly-rounded sqrts and a
    * divide: bit-stable at any parallelism, on any engine. `maxTokenDf`
    * is the scale valve: a token in f docs contributes f² join pairs, so
    * stoplist tokens above the cap (conservative like `maxGramDf` —
    * dropped from the INDEX only, norms stay exact, cosine only
    * underestimates; 0 = exact, for oracle checking on bounded sets).
    */
  def sparseCosinePairs(docs: DataFrame, textCol: String, idCol: String,
                        threshold: Double, maxTokenDf: Int = 0): DataFrame = {
    val tf = docs.select(col(idCol).as("id"),
        explode(TextAnalysis.tokens(lower(col(textCol)))).as("token"))
      .groupBy("id", "token").agg(count(lit(1)).as("tf"))
    val norms = tf.groupBy("id")
      .agg(sum(col("tf") * col("tf")).as("n2"))
    val idx =
      if (maxTokenDf <= 0) tf
      else {
        val hot = tf.groupBy("token").agg(count(lit(1)).as("df"))
          .filter(col("df") > maxTokenDf).select("token")
        tf.join(hot, Seq("token"), "left_anti")
      }
    val a = idx.as("a"); val b = idx.as("b")
    a.join(b, col("a.token") === col("b.token") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(sum(col("a.tf") * col("b.tf")).as("dot"))
      .join(norms.select(col("id").as("id_a"), col("n2").as("na")), "id_a")
      .join(norms.select(col("id").as("id_b"), col("n2").as("nb")), "id_b")
      .withColumn("cosine", col("dot").cast("double") /
        (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Hash-verified PORTABLE int8 scalar-quantization twin — the audit
    * twin of the rows-only recall-gated [[sqBruteForceTopK]] (n07),
    * completing the brute(n01)/LSH(n12)/IVF(n13)/pairs(n14) family for
    * the SQ path: per-vector max-abs int8 codes from pure INTEGER
    * arithmetic (`code = (qe·127) div maxabs` over the ×1e6-quantized
    * components — truncating division, identical in Spark `div` and
    * DuckDB `//`), then the integer-cosine ranking over the codes. The
    * per-vector scale cancels in cosine exactly as in the native
    * kernel, and every code, dot, and verdict replays bit-for-bit.
    *
    * Same shape as the native path: SQ is compression, not pruning —
    * the query set (id < queryMaxId, audit-bounded) broadcasts against
    * one corpus scan of 1-byte-per-component codes.
    */
  def sqTopKPortable(emb: DataFrame, idCol: String, vecCol: String,
                     queryMaxId: Long, k: Int): DataFrame = {
    // the per-vector max-abs binds once per row (a lambda variable), not
    // once per component
    val codes = quantizedVecs(emb, idCol, vecCol).select(col("id"),
      expr("element_at(transform(array(array_max(transform(qv, " +
        "x -> abs(x)))), m -> transform(qv, x -> CASE WHEN m = 0 " +
        "THEN 0L ELSE (x * 127L) div m END)), 1)").as("code"))
    val scored = codes.select(col("id"), col("code").as("cb"))
      .join(broadcast(codes.filter(col("id") < queryMaxId)
        .select(col("id").as("qid"), col("code").as("ca"))),
        col("id") =!= col("qid"))
      .select(col("qid"), col("id"), QCosineSim(col("ca"), col("cb")).as("cos"))
    topKByCos(scored, k)
  }

  /** DuckDB replay of [[sqTopKPortable]] over `table`. */
  def sqTopKPortableOracleSql(table: String, idCol: String,
                              vecCol: String, queryMaxId: Long,
                              k: Int): String =
    s"""WITH ${qeSql(table, idCol, vecCol)},
       |mx AS (SELECT id, max(abs(qe)) AS maxabs FROM qe GROUP BY 1),
       |codes AS (
       |  SELECT q.id, q.pos,
       |    CASE WHEN m.maxabs = 0 THEN 0
       |      ELSE (q.qe * 127) // m.maxabs END AS code
       |  FROM qe q JOIN mx m ON m.id = q.id),
       |sc AS (
       |  SELECT qa.id AS qid, qb.id, ${dotNormsSql("qa.code", "qb.code")}
       |  FROM codes qa
       |  JOIN codes qb ON qb.pos = qa.pos AND qb.id <> qa.id
       |  WHERE qa.id < $queryMaxId
       |  GROUP BY 1, 2)
       |${topKSql(s"(SELECT qid, id, ${cosSql("dot", "n2a", "n2b")} AS cos FROM sc)", k)}
       |ORDER BY query_id, rank""".stripMargin

  /** Hash-verified PORTABLE product-quantization twin — the audit twin
    * of the rows-only recall-gated [[ivfPqTopK]] (n08), isolating the
    * PQ machinery (encode + asymmetric-distance ranking) in
    * SQL-replayable form: Forgy codebooks (the subvectors of the first
    * `ksub` corpus vectors by id — the same fit-free construction n13
    * used for IVF cells), integer subspace distances
    * (`d2 = Σ(qe−cq)²` over ×1e6-quantized components), encode =
    * argmin d2 per (vector, subspace) with smallest-code tie-break, and
    * ADC = one equi-join on (subspace, code) summing the query's
    * precomputed per-code distances — every code assignment and every
    * ADC total replays bit-for-bit in DuckDB.
    *
    * Scale shape mirrors the real PQ story: the corpus side carries m
    * SMALL-int codes per vector (never raw floats) through the ADC
    * join, and the query side's distance table is queries × m × ksub
    * rows — broadcast-sized by construction.
    */
  def pqTopKPortable(emb: DataFrame, idCol: String, vecCol: String,
                     queryMaxId: Long, k: Int, m: Int = 8,
                     ksub: Int = 16, dim: Int = 64): DataFrame = {
    require(dim % m == 0, s"pqTopKPortable: dim $dim not divisible by m=$m")
    val dsub = dim / m
    val qe = emb.select(col(idCol).as("id"),
        posexplode(quantized(col(vecCol))).as(Seq("pos", "qe")))
      .withColumn("s", expr(s"pos div $dsub"))
    // Forgy codebooks: code c of subspace s = subvector of the (c+1)-th
    // corpus vector by id
    val cb = broadcast(qe.join(
        forgyCells(qe.select(col("id")).distinct(), ksub)
          .select(col("id"), col("cell").cast("long").as("code")),
        "id")
      .select(col("code"), col("s"), col("pos"), col("qe").as("cq")))
    // integer subspace distance of every vector to every code
    val d2 = qe.join(cb, Seq("s", "pos"))
      .groupBy("id", "s", "code")
      .agg(sum(expr("(qe - cq) * (qe - cq)")).as("d2"))
    // encode: argmin d2, smallest code on ties
    val enc = d2.groupBy("id", "s")
      .agg(min(struct(col("d2"), col("code"))).as("b"))
      .select(col("id"), col("s"), col("b.code").as("code"))
    // query-side ADC table: distance of each query subvector to each code
    val qd2 = broadcast(d2.filter(col("id") < queryMaxId)
      .select(col("id").as("qid"), col("s"), col("code"), col("d2")))
    val adc = enc.join(qd2, Seq("s", "code"))
      .filter(col("id") =!= col("qid"))
      .groupBy("qid", "id")
      .agg(sum(col("d2")).as("adc_dist"), count(lit(1)).as("n_sub"))
    // every subspace must contribute — a missing (s, code) join row
    // would silently shrink the distance instead of failing
    adc.filter(col("n_sub") === m)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("adc_dist").asc, col("id"))))
      .filter(col("rank") <= k)
      .select(col("qid").as("query_id"), col("rank").cast("long").as("rank"),
        col("id").as("neighbor_id"), col("adc_dist"))
  }

  /** DuckDB replay of [[pqTopKPortable]] over `table`. */
  def pqTopKPortableOracleSql(table: String, idCol: String,
                              vecCol: String, queryMaxId: Long, k: Int,
                              m: Int = 8, ksub: Int = 16,
                              dim: Int = 64): String = {
    val dsub = dim / m
    val codebooks = forgySql(table, idCol, ksub, cent = "cb", cell = "code",
      cellType = "BIGINT")
    s"""WITH ${qeSql(table, idCol, vecCol, extra = s" t.i // $dsub AS s,")},
       |$codebooks,
       |d2 AS (
       |  SELECT q.id, q.s, b.code,
       |    CAST(sum((q.qe - b.cq) * (q.qe - b.cq)) AS BIGINT) AS d2
       |  FROM qe q JOIN cb b ON b.pos = q.pos
       |  GROUP BY 1, 2, 3),
       |enc AS (
       |  SELECT id, s, code FROM (
       |    SELECT id, s, code,
       |      row_number() OVER (PARTITION BY id, s ORDER BY d2, code)
       |        AS rn
       |    FROM d2) WHERE rn = 1),
       |adc AS (
       |  SELECT q.id AS qid, e.id,
       |    CAST(sum(q.d2) AS BIGINT) AS adc_dist, count(*) AS n_sub
       |  FROM enc e
       |  JOIN d2 q ON q.s = e.s AND q.code = e.code
       |    AND q.id < $queryMaxId AND q.id <> e.id
       |  GROUP BY 1, 2)
       |SELECT qid AS query_id, CAST(rn AS BIGINT) AS rank,
       |  id AS neighbor_id, adc_dist
       |FROM (
       |  SELECT qid, id, adc_dist,
       |    row_number() OVER (PARTITION BY qid ORDER BY adc_dist, id)
       |      AS rn
       |  FROM adc WHERE n_sub = $m)
       |WHERE rn <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** PORTABLE distributed Lloyd k-means — the audit twin of the
    * driver-sampled [[kmeansFit]] (which collects a bounded 2048-vector
    * sample and fits seeded k-means++ on the driver): here the FULL
    * corpus participates in every round, the whole refinement loop is
    * ONE lazy plan (no per-round driver action), and every centroid
    * component, assignment and distance replays bit-for-bit in DuckDB.
    * Exactness recipe: vectors quantize to `round(1e6·x)` BIGINT,
    * distances are integer squared-L2 (order-independent exact sums),
    * centroid updates are the truncating integer mean `sum div count`
    * (re-quantization keeps every round in BIGINT — verified identical
    * to DuckDB's `//`), round-0 cells are Forgy first-k-by-id, argmin
    * ties break to the smallest cell. Scale posture: assignment is a
    * broadcast join of the k·d centroid rows against the (id, pos, qe)
    * long form — the corpus shuffles only for the per-id argmin and the
    * per-cell update, both map-side combinable; cost O(N·d·k) per round,
    * the dense Lloyd lower bound. Cells that lose every member vanish
    * (standard Lloyd degeneracy) — identically in both engines.
    */
  def kmeansLloydPortable(emb: DataFrame, idCol: String, vecCol: String,
                          k: Int = 8, rounds: Int = 2): DataFrame = {
    val qe = emb.select(col(idCol).as("id"),
      posexplode(quantized(col(vecCol))).as(Seq("pos", "qe")))
    val cid = forgyCells(emb.select(col(idCol).as("id")), k)
    def assign(cent: DataFrame): DataFrame =
      qe.join(broadcast(cent), "pos")
        .groupBy(col("id"), col("cell"))
        .agg(sum((col("qe") - col("cq")) * (col("qe") - col("cq")))
          .as("dist"))
        .groupBy("id")
        .agg(min(struct(col("dist"), col("cell"))).as("b"))
        .select(col("id"), col("b.cell").as("cell"),
          col("b.dist").as("dist"))
    var cent = qe.join(cid, "id")
      .select(col("cell"), col("pos"), col("qe").as("cq"))
    for (_ <- 1 to rounds)
      cent = qe.join(assign(cent).select("id", "cell"), "id")
        .groupBy("cell", "pos")
        .agg(expr("sum(qe) div count(qe)").as("cq"))
    assign(cent)
  }

  /** DuckDB replay of [[kmeansLloydPortable]] over `table` — the
    * refinement loop unrolled one CTE pair (assign, update) per round.
    */
  def kmeansLloydPortableOracleSql(table: String, idCol: String,
                                   vecCol: String, k: Int = 8,
                                   rounds: Int = 2): String = {
    def asgSql(cent: String): String =
      s"""SELECT id, cell, dist FROM (
         |    SELECT id, cell, dist,
         |      row_number() OVER (PARTITION BY id ORDER BY dist, cell)
         |        AS rn
         |    FROM (SELECT q.id, c.cell,
         |            CAST(sum((q.qe - c.cq) * (q.qe - c.cq)) AS BIGINT)
         |              AS dist
         |          FROM qe q JOIN $cent c ON c.pos = q.pos
         |          GROUP BY 1, 2)) WHERE rn = 1""".stripMargin
    val roundsSql = (1 to rounds).map { r =>
      s"""asg$r AS (
         |  ${asgSql(s"cent${r - 1}")}),
         |cent$r AS (
         |  SELECT a.cell, q.pos,
         |    CAST(CAST(sum(q.qe) AS HUGEINT) // count(*) AS BIGINT) AS cq
         |  FROM asg$r a JOIN qe q ON q.id = a.id
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${qeSql(table, idCol, vecCol)},
       |${forgySql(table, idCol, k, cent = "cent0")},
       |$roundsSql
       |SELECT id, cell, dist FROM (
       |  ${asgSql(s"cent$rounds")})
       |ORDER BY id""".stripMargin
  }

  /** PORTABLE power iteration — the dominant principal direction of an
    * embedding subset's covariance (the PCA-prep / drift-axis step that
    * follows n11's covariance): `iters` rounds of v ← normalize(C·v) as
    * ONE lazy plan, every intermediate bit-exact in DuckDB. Exactness
    * recipe: the covariance numerator is n11's all-integer form
    * (n·Σxy − Σx·Σy over round(1e3·x) BIGINT quantization); the matvec
    * is a BIGINT dot whose magnitude is kept UNDER 2^53 by the vector
    * scale (|C| ≤ ~2.6e10 on this data × d=64 × scale 4000 ≈ 6.7e15 <
    * 2^53), so the normalize step's CAST-to-DOUBLE is exact and the one
    * division + one multiply + round are correctly-rounded IEEE — bit-
    * identical across engines. Sign/convergence are deterministic
    * because v₀ is the uniform vector and every step is exact.
    * Scale posture: the covariance is the documented dense O(d²·N)
    * bound; each iteration is a d²-row join — persist the (tiny) d²
    * covariance when iterating at 100 TB rather than recomputing it
    * per action.
    */
  def powerIterationPortable(emb: DataFrame, idCol: String,
                             vecCol: String, labelCol: String,
                             label: Int, iters: Int = 3,
                             scale: Long = 4000L): DataFrame = {
    val q = emb.filter(col(labelCol) === label)
      .select(col(idCol).as("id"),
        posexplode(quantized(col(vecCol), scale = 1000L)).as(Seq("pos", "qe")))
    val cov = q.as("a").join(q.as("b"), col("a.id") === col("b.id"))
      .groupBy(col("a.pos").as("i"), col("b.pos").as("j"))
      .agg((count(lit(1)) * sum(expr("a.qe * b.qe")) -
        sum(col("a.qe")) * sum(col("b.qe"))).as("c"))
    var v = cov.select(col("i").as("j")).distinct()
      .withColumn("v", lit(scale))
    for (_ <- 1 to iters) {
      val w = cov.join(v, "j")
        .groupBy(col("i"))
        .agg(sum(col("c") * col("v")).as("w"))
      val mx = w.agg(max(abs(col("w"))).as("mx"))
      v = w.crossJoin(broadcast(mx))
        .select(col("i").as("j"),
          expr(s"CASE WHEN mx = 0 THEN 0L ELSE " +
            s"CAST(round(CAST($scale AS DOUBLE) * " +
            "(CAST(w AS DOUBLE) / CAST(mx AS DOUBLE))) AS BIGINT) END")
            .as("v"))
    }
    v.select(col("j").as("pos"), col("v"))
  }

  /** DuckDB replay of [[powerIterationPortable]] — iterations unrolled. */
  def powerIterationPortableOracleSql(table: String, idCol: String,
                                      vecCol: String, labelCol: String,
                                      label: Int, iters: Int = 3,
                                      scale: Long = 4000L): String = {
    val rounds = (1 to iters).map { r =>
      s"""pw$r AS (
         |  SELECT c.i, CAST(sum(c.c * v.v) AS BIGINT) AS w
         |  FROM pcov c JOIN pv${r - 1} v ON v.j = c.j GROUP BY 1),
         |pm$r AS (SELECT max(abs(w)) AS mx FROM pw$r),
         |pv$r AS (
         |  SELECT i AS j, CASE WHEN mx = 0 THEN 0 ELSE
         |      CAST(round(CAST($scale AS DOUBLE) *
         |        (CAST(w AS DOUBLE) / CAST(mx AS DOUBLE))) AS BIGINT)
         |    END AS v
         |  FROM pw$r, pm$r)""".stripMargin
    }.mkString(",\n")
    val qe = qeSql(table, idCol, vecCol,
      where = s"\n  WHERE emb.$labelCol = $label", scale = 1000L)
    s"""WITH $qe,
       |pcov AS (
       |  SELECT a.pos AS i, b.pos AS j,
       |    CAST(count(*) * CAST(sum(a.qe * b.qe) AS BIGINT)
       |      - CAST(sum(a.qe) AS BIGINT) * CAST(sum(b.qe) AS BIGINT)
       |      AS BIGINT) AS c
       |  FROM qe a JOIN qe b ON a.id = b.id
       |  GROUP BY 1, 2),
       |pv0 AS (SELECT DISTINCT i AS j, CAST($scale AS BIGINT) AS v
       |        FROM pcov),
       |$rounds
       |SELECT j AS pos, v FROM pv$iters ORDER BY pos""".stripMargin
  }

  /** PORTABLE Matryoshka-style two-stage ANN (Kusupati et al. 2022:
    * MRL embeddings nest — the first `prefixDims` components are
    * themselves a usable embedding): stage 1 scores every pair on the
    * PREFIX dims only (prefixDims/d of the full dot cost) and keeps the
    * top `candidates` per query; stage 2 reranks ONLY those candidates
    * on the full vector. At corpus scale the prefix pass is the cheap
    * sweep (or composes with IVF/LSH) and the full-dim cost is bounded
    * by `candidates` — the published progressive-filtering recipe.
    * `prefix_rank` is emitted beside the final rank so the oracle
    * witnesses the REORDERING (rerank ≠ prefilter order). Portability
    * per the n12/n13 checklist: integer dots/norms, the one-shape IEEE
    * cosine, row_number arg-top-k — every row hash-exact in DuckDB.
    */
  def matryoshkaTopKPortable(emb: DataFrame, idCol: String,
                             vecCol: String, queryMaxId: Long,
                             prefixDims: Int, candidates: Int,
                             k: Int): DataFrame = {
    val v = quantizedVecs(emb, idCol, vecCol)
    val queries = broadcast(v.filter(col("id") < queryMaxId)
      .select(col("id").as("qid"), col("qv").as("va")))
    def prefix(c: String): Column = slice(col(c), 1, prefixDims)
    val cand = v.join(queries, col("id") =!= col("qid"))
      .withColumn("cosp", QCosineSim(prefix("va"), prefix("qv")))
      .withColumn("prefix_rank", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("cosp").desc, col("id"))))
      .filter(col("prefix_rank") <= candidates)
      .select(col("qid"), col("id"), col("prefix_rank"))
    cand
      .join(queries, Seq("qid"))
      .join(v, Seq("id"))
      .withColumn("cos", QCosineSim(col("va"), col("qv")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("id"))))
      .filter(col("rank") <= k)
      .select(col("qid").as("query_id"),
        col("rank").cast("long").as("rank"),
        col("id").as("neighbor_id"),
        col("prefix_rank").cast("long").as("prefix_rank"), col("cos"))
  }

  /** DuckDB replay of [[matryoshkaTopKPortable]] over `table`. */
  def matryoshkaTopKPortableOracleSql(table: String, idCol: String,
                                      vecCol: String, queryMaxId: Long,
                                      prefixDims: Int, candidates: Int,
                                      k: Int): String = {
    def scores(pos: String): String =
      s"""SELECT qid, id, ${cosSql("dot", "n2a", "n2b")} AS cos FROM (
         |    SELECT q.id AS qid, c.id AS id, ${dotNormsSql("q.qe", "c.qe")}
         |    FROM qe q JOIN qe c ON c.pos = q.pos AND c.id <> q.id
         |    WHERE q.id < $queryMaxId$pos
         |    GROUP BY 1, 2)""".stripMargin
    s"""WITH ${qeSql(table, idCol, vecCol)},
       |pc AS (
       |  SELECT qid, id, row_number() OVER (PARTITION BY qid
       |      ORDER BY cos DESC, id) AS prefix_rank
       |  FROM (${scores(s" AND q.pos < $prefixDims")})),
       |cand AS (SELECT * FROM pc WHERE prefix_rank <= $candidates),
       |fullsc AS (${scores("")}),
       |rr AS (
       |  SELECT cand.qid, cand.id, cand.prefix_rank, f.cos,
       |    row_number() OVER (PARTITION BY cand.qid
       |      ORDER BY f.cos DESC, cand.id) AS rank
       |  FROM cand JOIN fullsc f ON f.qid = cand.qid AND f.id = cand.id)
       |SELECT qid AS query_id, CAST(rank AS BIGINT) AS rank,
       |  id AS neighbor_id, CAST(prefix_rank AS BIGINT) AS prefix_rank,
       |  cos
       |FROM rr WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** Hard-NEGATIVE mining for contrastive training — for each query
    * vector (`id <= queryMaxId`), the `k` most-cosine-similar corpus
    * vectors with a DIFFERENT label: maximally confusable negatives, the
    * published recipe for dense-retriever / embedding-model training
    * batches (ANCE/DPR-style). The label exclusion is the join
    * condition of the broadcast query set against one corpus scan, so
    * same-label pairs are never scored.
    *
    * Portability is the n12/n13 checklist: components quantize once to
    * `round(1e6·x)` BIGINT, dots and norms are associative integer sums,
    * the final cosine is the one IEEE shape
    * `dot / (sqrt(n2a) * sqrt(n2b))`, and the arg-top-k is
    * `row_number(ORDER BY cos DESC, id)` — every row hash-exact in
    * DuckDB. Audit form (brute force over a bounded query set, like
    * n01); the scale path composes the same exclusion filter with the
    * IVF/LSH candidate generators.
    */
  def hardNegativesPortable(emb: DataFrame, idCol: String, vecCol: String,
                            labelCol: String, queryMaxId: Long,
                            k: Int): DataFrame = {
    val v = quantizedVecs(emb, idCol, vecCol, col(labelCol).as("lab"))
    val scored = v.join(broadcast(v.filter(col("id") <= queryMaxId)
        .select(col("id").as("qid"), col("lab").as("qlab"),
          col("qv").as("qa"))),
        col("lab") =!= col("qlab"))
      .select(col("qid"), col("id"), QCosineSim(col("qa"), col("qv")).as("cos"))
    topKByCos(scored, k).withColumnRenamed("neighbor_id", "neg_id")
  }

  /** DuckDB replay of [[hardNegativesPortable]] over `table`. */
  def hardNegativesPortableOracleSql(table: String, idCol: String,
                                     vecCol: String, labelCol: String,
                                     queryMaxId: Long, k: Int): String =
    s"""WITH ${qeSql(table, idCol, vecCol, extra = s" emb.$labelCol AS lab,")},
       |ps AS (
       |  SELECT qa.id AS qid, qb.id, ${dotNormsSql("qa.qe", "qb.qe")}
       |  FROM qe qa JOIN qe qb
       |    ON qb.pos = qa.pos AND qa.lab <> qb.lab
       |  WHERE qa.id <= $queryMaxId
       |  GROUP BY 1, 2)
       |SELECT query_id, rank, neighbor_id AS neg_id, cos FROM (
       |${topKSql(s"(SELECT qid, id, ${cosSql("dot", "n2a", "n2b")} AS cos FROM ps)", k)})
       |ORDER BY query_id, rank""".stripMargin

  /** Recall@k summary of an approximate ANN result against the exact one:
    * one row `(exact_pairs, hit_pairs, recall)`. Both inputs are
    * `(query_id, neighbor_id, ...)` top-k frames; the comparison is a
    * left join on the pair key followed by one aggregation — no collect,
    * so the quality gate itself scales with the corpus.
    */
  def recallAtK(exact: DataFrame, approx: DataFrame): DataFrame = {
    val e = exact.select(col("query_id"), col("neighbor_id"))
    val a = approx.select(col("query_id"), col("neighbor_id"))
      .withColumn("hit", lit(1L))
    e.join(a, Seq("query_id", "neighbor_id"), "left")
      .agg(count(lit(1)).as("exact_pairs"),
        sum(coalesce(col("hit"), lit(0L))).as("hit_pairs"))
      .select(col("exact_pairs"), col("hit_pairs"),
        (col("hit_pairs").cast("double") / col("exact_pairs"))
          .as("recall"))
  }
}
