package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM training-data pipelines.
  *
  * Scale design: every near-dup path is banded-LSH — signatures are
  * computed scan-side (no shuffle), candidates come from a `groupBy`-
  * style equi-join on (band, bandHash) bucket keys, and only within-
  * bucket pairs are verified. There is NO all-pairs `crossJoin` anywhere:
  * cost is O(N · bands) shuffle + O(candidate pairs) verify, which
  * survives a 100×/1000× scale-up where N² does not.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup: hash-groupBy on a content digest. One shuffle on the
    * digest (not the document text — keys are 32 bytes regardless of doc
    * size).
    */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Incremental (cross-snapshot) exact dedup: from a new crawl batch,
    * drop documents already present in the prior corpus (by content
    * digest), then dedup within the batch itself. The prior side reduces
    * to its DISTINCT 32-byte digests — at 100 TB that digest table is
    * ~3 orders of magnitude smaller than the corpus and is the only
    * thing the anti-join shuffles (or probes via a runtime bloom when
    * Spark injects one); the batch never re-scans old text. This is the
    * steady-state form of [[exactDedup]]: full-corpus dedup once, then
    * per-snapshot increments forever.
    */
  def incrementalDedup(batch: DataFrame, prior: DataFrame,
                       textCol: String, idCol: String): DataFrame = {
    val priorDigests = prior.select(md5(col(textCol)).as("__digest"))
      .distinct()
    val fresh = batch.withColumn("__digest", md5(col(textCol)))
      .join(priorDigests, Seq("__digest"), "left_anti")
    exactDedup(fresh, textCol, idCol).drop("__digest")
  }

  /** All ordered id pairs (id_a < id_b) that share a group key — the
    * dup-pair EMISSION shape: a distributed self-equi-join on the key
    * over the skinny (key, id) projection. Pair output is quadratic in
    * the cluster size BY CONTRACT (callers declare pair output), but the
    * generation must distribute: the earlier `collect_list`-per-key form
    * materialized every identical-key group into ONE aggregate row, so a
    * single degenerate key (a solid-color thumbnail's perceptual hash
    * over a web-scale image corpus) was a single-task OOM before the
    * pair fan-out even started. The join shape spreads each group's
    * pairs across the key's shuffle partition peers and streams them.
    *
    * Upstream-evaluated-once: the join is HINTED sort-merge, so both
    * sides plan the SAME (key, id) subplan under an identical
    * hash-partition exchange and Spark's exchange reuse (ReusedExchange
    * / AQE stage reuse) runs the upstream pipeline — a media decode,
    * typically — exactly once, replaying shuffle files for the second
    * side. Without the hint, small-side stats pick a broadcast join
    * whose build side RE-RUNS the upstream (the double-decode trap).
    * SMJ also keys the memory story: the buffered same-key group is a
    * spillable row array (never one unspillable aggregate row), and
    * AQE's skew-join splitting can shard a degenerate key's partition.
    * Pinned in PlanShapeSpec (m09).
    *
    * `maxGroupSize > 0` is the degenerate-key valve (the d06 hot-gram
    * cap shape): keys with more than `maxGroupSize` members are dropped
    * from BOTH sides, so misses are conservative — a pair is lost only
    * when its key is degenerate, and no partial cluster is emitted.
    * Default 0 keeps the exact semantics the oracles check. Groups of
    * one emit nothing (no self-pairs survive `id_a < id_b`).
    */
  def pairsWithinGroups(df: DataFrame, keyCol: String, idCol: String,
                        maxGroupSize: Int = 0): DataFrame = {
    val base0 = df.select(col(keyCol).as("__k"), col(idCol).as("__id"))
    val base = if (maxGroupSize <= 0) base0 else {
      val hot = base0.groupBy(col("__k")).agg(count(lit(1)).as("__n"))
        .filter(col("__n") > maxGroupSize).select(col("__k"))
      base0.join(hot, Seq("__k"), "left_anti")
    }
    base.as("a").hint("merge").join(base.as("b"),
        col("a.__k") === col("b.__k") && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
  }

  /** Star edge set over identical-key groups: (rep, member) for every
    * non-representative member, rep = min id of the group — n−1 edges
    * per n-member group, fully linear, never materializing a group in
    * one row. Connectivity-equivalent to [[pairsWithinGroups]] (every
    * pair of a group is joined through the rep), so connected-components
    * consumers that only need the CLUSTERS — canonical-rendition
    * election, dedup-cluster labeling — must ride this, not the
    * quadratic pair set. The rep join is HINTED sort-merge (same
    * reasoning as [[pairsWithinGroups]]): member frame and per-key
    * min-agg shuffle on the key under identical exchanges, so exchange
    * reuse evaluates the upstream (a media decode, typically) once.
    * Singleton groups emit nothing.
    */
  def starEdges(df: DataFrame, keyCol: String, idCol: String): DataFrame = {
    val base = df.select(col(keyCol).as("__k"), col(idCol).as("__id"))
    val reps = base.groupBy(col("__k")).agg(min(col("__id")).as("__rep"))
    base.hint("merge").join(reps, "__k")
      .filter(col("__id") =!= col("__rep"))
      .select(col("__rep").as("id_a"), col("__id").as("id_b"))
  }

  /** Map-side-combinable CANONICAL election per duplicate cluster — the
    * keep-best step after [[connectedComponents]]: ONE argmax aggregate
    * per rep (`max_by` over a (quality, −id) struct — quality desc, id
    * asc tie-break), never a rank window. A
    * `row_number().over(Window.partitionBy(rep))` puts a degenerate
    * perceptual cluster's ENTIRE member list into one task to rank a
    * single winner (the solid-color-thumbnail story, one level above
    * the pair valve); the aggregate keeps O(1) state per rep, combines
    * map-side, and a web-scale cluster costs the same as a pair.
    * Output: (rep, canonical, <qualityCol> of the winner = the cluster
    * max, n_members). Total order ⇒ deterministic, oracle-exact.
    */
  def electCanonical(members: DataFrame, repCol: String = "rep",
                     idCol: String = "id", qualityCol: String = "width")
      : DataFrame =
    members.groupBy(col(repCol).as("rep"))
      .agg(
        max_by(col(idCol), struct(col(qualityCol), negate(col(idCol))))
          .as("canonical"),
        max(col(qualityCol)).as(qualityCol),
        count(lit(1)).as("n_members"))

  def exactDupStats(df: DataFrame, textCol: String): DataFrame =
    df.agg(
      count(lit(1)).as("total_docs"),
      countDistinct(md5(col(textCol))).as("distinct_docs"),
      (count(lit(1)) - countDistinct(md5(col(textCol)))).as("exact_dups"))

  // -------------------------------------------------------------- minhash

  /** Character k-shingles (distinct). Empty-safe for docs shorter than k. */
  def shingles(text: Column, k: Int = 5): Column =
    when(length(text) >= k,
      array_distinct(transform(sequence(lit(0), length(text) - k),
        i => substr(text, i + 1, lit(k)))))
      .otherwise(array(text))

  /** Word n-gram shingles (distinct) — ~5× fewer elements than char
    * shingles on normal text and far more selective LSH buckets; the
    * default unit for near-dup detection at scale.
    */
  def wordShingles(text: Column, n: Int = 3): Column = {
    val toks = TextAnalysis.tokens(lower(text))
    // Bind the token array ONCE per row via a one-element transform:
    // referencing `toks` directly inside the gram lambda would inline
    // the whole regex-split expression tree into the lambda body, where
    // it re-evaluates PER GRAM — O(tokens x re-split(text)) per row, an
    // 8x slowdown on real documents. The lambda variable `t` is a plain
    // array read.
    element_at(transform(array(toks), t =>
      when(size(t) >= n,
        array_distinct(transform(sequence(lit(0), size(t) - n),
          i => concat_ws(" ", slice(t, i + 1, lit(n))))))
        .otherwise(array(concat_ws(" ", t)))), 1)
  }

  /** MinHash signature: each shingle is hashed ONCE (xxhash64), then the
    * `numHashes` "permutations" are cheap linear maps `a_i*h + b_i`
    * (seeded, odd multipliers; wrap-around multiply is a fine
    * pseudo-permutation for LSH). The whole signature is one `aggregate`
    * fold so the hash array is evaluated once — O(shingles) hashes +
    * O(shingles·numHashes) mul-adds per row, zero shuffle.
    */
  def minhashSignature(shingleArr: Column, numHashes: Int = 32): Column = {
    val rnd = new scala.util.Random(0x5eed1e5L)
    val as = Array.fill(numHashes)(rnd.nextLong() | 1L)
    val bs = Array.fill(numHashes)(rnd.nextLong())
    def perms(h: Column): Column =
      array((0 until numHashes).map(i => h * lit(as(i)) + lit(bs(i))): _*)
    aggregate(
      transform(shingleArr, s => xxhash64(s)),
      array_repeat(lit(Long.MaxValue), numHashes),
      (acc, h) => zip_with(acc, perms(h), (x, y) => least(x, y)))
  }

  /** LSH band keys: split the signature into `bands` bands of
    * `numHashes/bands` rows; hash each band. Docs sharing ANY band hash
    * become candidates (classic banding: P[candidate] = 1-(1-j^r)^b).
    */
  def bandHashes(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map(b =>
      struct(lit(b).as("band"),
        xxhash64(slice(sig, b * rowsPerBand + 1, rowsPerBand)).as("bh"))): _*)

  /** Near-duplicate candidate pairs via banded MinHash LSH, verified with
    * exact Jaccard over the shingle sets. Returns (id_a, id_b, jaccard)
    * with id_a < id_b, jaccard >= threshold.
    */
  def minhashNearDups(df: DataFrame, textCol: String, idCol: String,
                      k: Int = 3, numHashes: Int = 32, bands: Int = 8,
                      threshold: Double = 0.7,
                      charShingles: Boolean = false): DataFrame = {
    val rowsPerBand = numHashes / bands
    val base = df.select(col(idCol).as("id"), col(textCol).as("txt"))
    // Signature via the native kernel (graft.plans.MinHashSig) for word
    // grams — bit-identical to minhashSignature(wordShingles(txt)) but one
    // compiled call per row instead of tokens*numHashes interpreted
    // expression evals. Char-shingle mode keeps the expression form.
    val sigCol =
      if (charShingles) minhashSignature(shingles(col("txt"), k), numHashes)
      else graft.plans.MinHashSig(col("txt"), k, numHashes)
    val withSig = base.select(col("id"), sigCol.as("sig"))
      .withColumn("bands", bandHashes(col("sig"), bands, rowsPerBand))

    // Explode to (bucket key → id); the join below is a plain shuffled
    // equi-join on small keys — never an all-pairs product. Persisted:
    // the self-join would otherwise recompute every signature twice (at
    // cluster scale this would be a checkpoint/bucketed table instead).
    // Lifecycle: the cache outlives this call (the returned plan reads it
    // lazily); long-lived sessions release via `spark.catalog.clearCache()`
    // between jobs, as Verify/Bench do per query.
    val buckets = withSig.select(col("id"), explode(col("bands")).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.bh").as("bh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val a = buckets.as("a")
    val b = buckets.as("b")
    val candidates = a.join(b,
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()

    // Exact-Jaccard verification: shingle sets are built ONLY for the
    // (few) candidate pairs, not the whole corpus.
    def sh(c: Column): Column =
      if (charShingles) shingles(c, k) else wordShingles(c, k)
    candidates
      .join(base.select(col("id").as("id_a"), col("txt").as("txt_a")), "id_a")
      .join(base.select(col("id").as("id_b"), col("txt").as("txt_b")), "id_b")
      .withColumn("jaccard",
        size(array_intersect(sh(col("txt_a")), sh(col("txt_b"))))
          .cast("double") /
          size(array_union(sh(col("txt_a")), sh(col("txt_b")))))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** The persisted-LSH-index shape: (id, band, bh) bucket rows for a
    * corpus — what a steady-state pipeline stores beside the corpus so
    * tomorrow's batch can probe WITHOUT recomputing today's signatures.
    */
  def lshBuckets(df: DataFrame, textCol: String, idCol: String,
                 k: Int = 3, numHashes: Int = 32,
                 bands: Int = 8): DataFrame = {
    val rowsPerBand = numHashes / bands
    df.select(col(idCol).as("id"),
        graft.plans.MinHashSig(col(textCol), k, numHashes).as("sig"))
      .withColumn("bands", bandHashes(col("sig"), bands, rowsPerBand))
      .select(col("id"), explode(col("bands")).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.bh").as("bh"))
  }

  /** Incremental (cross-snapshot) NEAR-dup detection — the steady-state
    * daily form of [[minhashNearDups]]: the new batch's signatures probe
    * the PRIOR corpus's persisted bucket table ([[lshBuckets]] output),
    * so prior signatures never recompute and the only candidate pairs
    * generated are new×prior and new×new — prior×prior pairs were
    * already found when those snapshots landed. Exact-Jaccard
    * verification fetches text for CANDIDATES only (point lookups into
    * the prior corpus, never a scan-wide rebuild).
    *
    * Returns (batch_id, other_id, vs ∈ {prior, batch}, jaccard) with
    * jaccard >= threshold; for vs=batch, batch_id < other_id. A shared
    * id across the two snapshots (a re-crawled doc keeping its id) is
    * NOT reported as its own dup — the vs=prior side filters
    * batch_id ≠ other_id, so id-spaces need not be disjoint.
    *
    * The batch's bucket rows are persisted only for this call: the
    * result is materialized (and itself cached, caller-owned — the same
    * lifecycle convention as [[minhashNearDups]]) before the bucket
    * cache is released, so repeated calls in a long-lived session leak
    * nothing.
    */
  def incrementalNearDups(batch: DataFrame, priorBuckets: DataFrame,
                          priorDocs: DataFrame, textCol: String,
                          idCol: String, k: Int = 3, numHashes: Int = 32,
                          bands: Int = 8,
                          threshold: Double = 0.7): DataFrame = {
    val bBase = batch.select(col(idCol).as("id"), col(textCol).as("txt"))
    val bBuckets = lshBuckets(batch, textCol, idCol, k, numHashes, bands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vsPrior = bBuckets.as("n")
      .join(priorBuckets.as("p"),
        col("n.band") === col("p.band") && col("n.bh") === col("p.bh") &&
          col("n.id") =!= col("p.id"))
      .select(col("n.id").as("batch_id"), col("p.id").as("other_id"),
        lit("prior").as("vs"))
      .distinct()
    val vsBatch = bBuckets.as("x")
      .join(bBuckets.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("batch_id"), col("y.id").as("other_id"),
        lit("batch").as("vs"))
      .distinct()
    val otherTxt = priorDocs
      .select(col(idCol).as("other_id"), col(textCol).as("txt_o"),
        lit("prior").as("vs"))
      .unionByName(bBase.select(col("id").as("other_id"),
        col("txt").as("txt_o"), lit("batch").as("vs")))
    val result = vsPrior.unionByName(vsBatch)
      .join(bBase.select(col("id").as("batch_id"), col("txt").as("txt_b")),
        "batch_id")
      .join(otherTxt, Seq("other_id", "vs"))
      .withColumn("jaccard",
        size(array_intersect(wordShingles(col("txt_b"), k),
          wordShingles(col("txt_o"), k))).cast("double") /
          size(array_union(wordShingles(col("txt_b"), k),
            wordShingles(col("txt_o"), k))))
      .filter(col("jaccard") >= threshold)
      .select(col("batch_id"), col("other_id"), col("vs"), col("jaccard"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    result.count() // materialize so the bucket cache can release NOW
    bBuckets.unpersist()
    result
  }

  // -------------------------------------------------------------- simhash

  /** 64-bit SimHash per document: per-token hash bit votes summed in ONE
    * groupBy over exploded tokens (64 aggregate columns, single shuffle),
    * then folded into a long.
    */
  def simhash(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = graft.sources.Scans.withParallelismFloor(
      df.select(col(idCol).as("id"), col(textCol).as("__t")))
      .select(col("id"),
        explode(TextAnalysis.tokens(lower(col("__t")))).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val votes = (0 until 64).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"b$i"))
    val agg = toks.groupBy(col("id")).agg(votes.head, votes.tail: _*)
    val sim = (0 until 64).map(i =>
      when(col(s"b$i") > 0, lit(1L << i)).otherwise(0L)).reduce(_ + _)
    agg.select(col("id"), sim.as("simhash"))
  }

  /** Decode one lowercase hex char to its 0–15 nibble value. */
  private def hexNibble(c: Column): Column = conv(c, 16, 10).cast("int")

  /** Portable 64-bit SimHash, emitted as a 16-char lowercase hex STRING.
    * Per-token bits are the first 64 bits of `md5(token)` (nibble-major,
    * MSB-first within each nibble), so the whole signature is replayable
    * bit-for-bit by ANY engine with md5 — the d03/d09 oracles recompute
    * it in DuckDB SQL, which the seeded-xxhash64 [[simhash]] cannot
    * offer. Every intermediate stays a 0–15 nibble int: no 64-bit
    * overflow anywhere, ANSI-safe in both engines. Same aggregation
    * shape as [[simhash]]: bit votes summed in ONE groupBy over exploded
    * tokens (64 aggregate columns, single shuffle), then 16 hex chars
    * rebuilt from the vote signs (tie → bit 0).
    */
  def portableSimhash(df: DataFrame, textCol: String,
                      idCol: String): DataFrame = {
    val hexDigits = "0123456789abcdef"
    // The first 64 md5 bits decode to TWO 32-bit integers per token
    // (one conv each), and every bit vote is then a shift+mask on a
    // long: bit i (nibble-major j = i/4, MSB-first b = 3 - i%4) of the
    // big-endian 8-hex-char value H is (H >> (31 - i)) & 1. The former
    // per-nibble decode ran 64 conv(substring) string conversions per
    // token row — ~30x the expression work per row for identical vote
    // sums (same bits, same ±1 votes).
    val toks = graft.sources.Scans.withParallelismFloor(
      df.select(col(idCol).as("id"), col(textCol).as("__t")))
      .select(col("id"),
        explode(TextAnalysis.tokens(lower(col("__t")))).as("tok"))
      .withColumn("h", md5(col("tok")))
      .withColumn("h1", conv(substring(col("h"), 1, 8), 16, 10)
        .cast("long"))
      .withColumn("h2", conv(substring(col("h"), 9, 8), 16, 10)
        .cast("long"))
    val votes = (0 until 64).map { i =>
      val (src, sh) = if (i < 32) (col("h1"), 31 - i) else (col("h2"), 63 - i)
      sum(when(shiftright(src, sh).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"v$i")
    }
    val agg = toks.groupBy(col("id")).agg(votes.head, votes.tail: _*)
    val chars = (0 until 16).map { j =>
      val value = (0 until 4).map(k =>
        when(col(s"v${4 * j + k}") > 0, 1 << (3 - k)).otherwise(0))
        .reduce(_ + _)
      lit(hexDigits).substr(value + 1, lit(1))
    }
    agg.select(col("id"), concat(chars: _*).as("simhash"))
  }

  /** Portable-SimHash near-dup pairs at Hamming distance <= `maxDist`
    * (<= 3), exact by the same 4-band pigeonhole as [[simhashNearDups]]
    * but over the hex-string signatures of [[portableSimhash]]: bands
    * are 4-hex-char substrings (16 bits), candidates come from the
    * band-bucket equi-join (never all-pairs), and the Hamming verify is
    * 16 nibble xor popcounts — all 0–15 ints, replayable in DuckDB.
    */
  def portableSimhashNearDups(df: DataFrame, textCol: String,
                              idCol: String, maxDist: Int = 3): DataFrame = {
    require(maxDist <= 3,
      s"maxDist $maxDist > 3 breaks the 4-band pigeonhole guarantee")
    val sigs = portableSimhash(df, textCol, idCol)
    val banded = sigs.withColumn("bk", explode(array((0 until 4).map(b =>
        struct(lit(b).as("b"),
          substring(col("simhash"), b * 4 + 1, 4).as("v"))): _*)))
      .select(col("id"), col("simhash"),
        col("bk.b").as("b"), col("bk.v").as("v"))
    val a = banded.as("a"); val b = banded.as("b")
    val hamming = (0 until 16).map(j =>
      bit_count(hexNibble(substring(col("sig_a"), j + 1, 1))
        .bitwiseXOR(hexNibble(substring(col("sig_b"), j + 1, 1)))))
      .reduce(_ + _)
    a.join(b, col("a.b") === col("b.b") && col("a.v") === col("b.v") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.simhash").as("sig_a"), col("b.simhash").as("sig_b"))
      .distinct()
      .select(col("id_a"), col("id_b"), hamming.cast("long").as("hamming"))
      .filter(col("hamming") <= maxDist)
  }

  /** SimHash near-duplicate pairs at Hamming distance <= `maxDist`,
    * EXACT by pigeonhole: the 64-bit signature splits into 4 bands of 16
    * bits, and a pair differing in at most 3 bits must agree on at least
    * one whole band — so the band-bucket equi-join loses NO qualifying
    * pair while never forming an all-pairs product. Verification is one
    * `bit_count(xor)` per candidate. `maxDist` > 3 would need more bands
    * to stay exact; the standard near-dup setting is 3.
    */
  def simhashNearDups(df: DataFrame, textCol: String, idCol: String,
                      maxDist: Int = 3): DataFrame = {
    require(maxDist <= 3,
      s"maxDist $maxDist > 3 breaks the 4-band pigeonhole guarantee")
    val sigs = simhash(df, textCol, idCol)
    val banded = sigs.withColumn("bk", explode(array((0 until 4).map(b =>
        struct(lit(b).as("b"),
          shiftright(col("simhash"), b * 16).bitwiseAND(lit(0xffffL))
            .as("v"))): _*)))
      .select(col("id"), col("simhash"),
        col("bk.b").as("b"), col("bk.v").as("v"))
    val a = banded.as("a"); val b = banded.as("b")
    a.join(b, col("a.b") === col("b.b") && col("a.v") === col("b.v") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** N-gram (word n-gram) Jaccard similarity between two text columns —
    * the verify kernel used on candidate pairs.
    */
  def ngramJaccard(a: Column, b: Column, n: Int = 3): Column = {
    val ga = wordShingles(a, n); val gb = wordShingles(b, n)
    size(array_intersect(ga, gb)).cast("double") /
      greatest(size(array_union(ga, gb)), lit(1))
  }

  /** Connected components over near-dup pairs → `(id, rep)` where `rep`
    * is the MINIMUM id of the component — the principled dup-cluster
    * assignment (greedy "drop every id_b" can keep two members of one
    * cluster when both only ever appear on the left of a pair).
    *
    * Alternating large-star / small-star (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC '14 — public algorithm):
    * each round rewires edges toward neighborhood minima —
    * large-star re-attaches every LARGER neighbor of u to
    * min(N(u) ∪ {u}); small-star, keyed by the larger endpoint,
    * attaches the smaller neighbors (and u itself) to their minimum.
    * The edge set converges to star forests centered at each
    * component's minimum in O(log² n) rounds — 1–2 in practice for
    * low-diameter dup clusters — vs O(component diameter) for min-label
    * propagation, with ONE small aggregate action per round instead of
    * a per-step changed-count. Each round persists+materializes its
    * edge frame (plans stay round-sized, no lineage blow-up) and the
    * previous round's blocks release eagerly.
    *
    * Convergence is detected EXACTLY, in each round's own action, by a
    * star-forest witness: the round output (every edge is child →
    * center, center < child) is a star forest iff no node appears on
    * both sides, so a round whose witness count is 0 is the last — no
    * "confirm" round, no fingerprint-collision caveat. Both star ops
    * preserve the input's components (Kiveris et al. Lemmas 1–2) and a
    * star's center is smaller than its children, so at witness 0 every
    * component is ONE star centered at its minimum, and
    * rep(u) = min(u, neighbors) is exact. Non-convergence within
    * `maxIter` throws rather than returning silently-wrong labels.
    *
    * `verify = true` additionally re-checks the final labels against
    * the ORIGINAL pairs (both endpoints of every pair must share a rep
    * — one join-count): redundant given the witness, kept as an
    * audit-mode belt for ad-hoc graphs; specs exercise it.
    *
    * The returned labels are materialized + cached (caller-owned, same
    * lifecycle convention as `minhashNearDups`); every intermediate
    * cache is released before returning.
    */
  def connectedComponents(vertices: DataFrame, pairs: DataFrame,
                          maxIter: Int = 20,
                          verify: Boolean = false): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

    // Each star step is ONE shuffle: the per-node neighborhood minimum
    // comes from a whole-partition window min over the grouping key —
    // not a groupBy + self-join back, which plans the (re-derived) edge
    // frame as several independent subtrees and costs 12+ exchanges per
    // round. (A high-degree node makes one heavy window partition — the
    // same skew a groupBy would see; large-star is itself the step that
    // splits such stars, so skew shrinks round over round.)
    import org.apache.spark.sql.expressions.Window
    val byU = Window.partitionBy("u")

    // large-star: every neighbor v > u re-attaches to min(N(u) ∪ {u}).
    // Symmetrization is an explode, not a self-union, so the input
    // subtree is read ONCE. No dedup here — duplicates can't change any
    // min, and small-star dedups the round's output once.
    def largeStar(e: DataFrame): DataFrame =
      e.select(explode(array(
          struct(col("u"), col("v")),
          struct(col("v").as("u"), col("u").as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
        .withColumn("m", least(min(col("v")).over(byU), col("u")))
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))

    // small-star: key each edge by its LARGER endpoint u; u and all its
    // (smaller) neighbors attach to m = min of them. Both emissions —
    // (v, m) for v ≠ m and (u, m), where m < u always — come from one
    // explode, so the windowed frame is read once.
    def smallStar(e: DataFrame): DataFrame =
      e.select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .where(col("u") =!= col("v"))
        .withColumn("m", min(col("v")).over(byU))
        .select(explode(array(
          struct(col("v").as("u"), col("m").as("v")),
          struct(col("u"), col("m").as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
        .where(col("u") =!= col("v"))
        .distinct()

    // Star-forest witness: 0 iff no node is both a child (u side) and a
    // center (v side) — the exact "this round was the last" test,
    // evaluated in the same action that materializes the round.
    def nonStarWitness(e: DataFrame): Long =
      e.select(explode(array(
          struct(col("u").as("n"), lit(1).as("ch"), lit(0).as("ce")),
          struct(col("v").as("n"), lit(0).as("ch"), lit(1).as("ce")))).as("x"))
        .groupBy(col("x.n"))
        .agg(max(col("x.ch")).as("ch"), max(col("x.ce")).as("ce"))
        .where(col("ch") === 1 && col("ce") === 1)
        .count()

    // The initial edge set is persisted so the (often expensive) pair
    // generation upstream is evaluated exactly once — round 0's job
    // materializes it as a side effect.
    val init = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
      .persist(MEMORY_AND_DISK)
    val dbg = sys.env.contains("GRAFT_CC_DEBUG")
    var converged = false
    var cached = init
    var i = 0
    while (!converged && i < maxIter) {
      val t0 = System.nanoTime()
      val next = smallStar(largeStar(cached)).persist(MEMORY_AND_DISK)
      val w = nonStarWitness(next) // one action: materializes + tests
      if (dbg) println(s"CCDBG round $i witness=$w ${(System.nanoTime() - t0) / 1e9}s")
      if (cached ne init) cached.unpersist() // superseded once next is live
      cached = next
      converged = w == 0L
      i += 1
    }
    require(converged,
      s"connectedComponents did not converge in $maxIter rounds")
    val nbrMin = cached.select(explode(array(
        struct(col("u").as("a"), col("v").as("b")),
        struct(col("v").as("a"), col("u").as("b")))).as("e"))
      .groupBy(col("e.a").as("id")).agg(min(col("e.b")).as("nm"))
    val labels = vertices.select(col("id"))
      .join(nbrMin, Seq("id"), "left")
      .select(col("id"),
        least(col("id"), coalesce(col("nm"), col("id"))).as("rep"))
      .persist(MEMORY_AND_DISK)
    if (verify) {
      // audit gate (see scaladoc): every original edge agrees on rep
      val bad = init
        .join(labels.select(col("id").as("u"), col("rep").as("ra")), "u")
        .join(labels.select(col("id").as("v"), col("rep").as("rb")), "v")
        .where(col("ra") =!= col("rb")).count()
      require(bad == 0,
        s"connectedComponents: $bad original pairs have endpoints in " +
          "different components — refusing to return wrong labels")
    } else {
      labels.count() // materialize before the edge caches release below
    }
    if (cached ne init) cached.unpersist()
    init.unpersist()
    labels
  }

  /** EXACT n-gram Jaccard near-dup pairs via an inverted gram index — the
    * exact counterpart to `minhashNearDups` (and its recall oracle). No
    * all-pairs product anywhere: two docs meet only when they SHARE a
    * gram (a pair below any positive threshold that shares none can never
    * qualify), `|A∩B|` is a count over the gram equi-join, and `|A∪B|`
    * comes from the per-doc distinct-gram sizes carried through the join.
    * Cost: O(Σ grams) shuffle + O(co-gram pairs) aggregate — scales where
    * verify-all-pairs O(N²) does not, PROVIDED gram document-frequency is
    * bounded. For web-scale corpora set `maxGramDf` to stoplist hot grams
    * (see the inline note on the conservative-miss semantics).
    */
  /** Inverted distinct-gram index `(id, gram, sz)` built with
    * posexplode + window leads instead of exploding a
    * `wordShingles` array: higher-order lambdas evaluate INTERPRETED
    * (no codegen) and cost ~2-4 ms per document — they dominated the
    * near-dup operators' runtime. The window/distinct shuffles move
    * O(corpus tokens) skinny rows through codegen'd operators instead.
    * Semantics identical to [[wordShingles]]: distinct lowercase word
    * n-grams; a doc with fewer than n tokens contributes its whole
    * token string as the single fallback gram ("" when empty).
    */
  private def gramIndex(df: DataFrame, textCol: String, idCol: String,
                        n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // coalesce: NULL text must behave like empty text (fallback gram ""),
    // matching wordShingles — size(NULL) is NULL and would silently drop
    // the doc from the fallback branch otherwise
    val toks = coalesce(TextAnalysis.tokens(lower(col(textCol))),
      array().cast("array<string>"))
    val base = df.select(col(idCol).as("id"), toks.as("toks"))
    val w = Window.partitionBy("id").orderBy("pos")
    val leads = (1 until n).map(j => lead(col("tok"), j).over(w))
    val full = base
      .select(col("id"), posexplode(col("toks")).as(Seq("pos", "tok")))
      .select(col("id"),
        concat_ws(" ", col("tok") +: leads: _*).as("gram"),
        (if (n > 1) leads.last.isNotNull else lit(true)).as("ok"))
      .where(col("ok")).select(col("id"), col("gram"))
    val fallback = base.where(size(col("toks")) < n)
      .select(col("id"), concat_ws(" ", col("toks")).as("gram"))
    full.union(fallback).distinct()
      .withColumn("sz", count(lit(1)).over(Window.partitionBy("id")))
  }

  def exactNgramNearDups(df: DataFrame, textCol: String, idCol: String,
                         n: Int = 3, threshold: Double = 0.5,
                         maxGramDf: Int = 0): DataFrame = {
    val inv0 = gramIndex(df, textCol, idCol, n)
    // Hot-gram cap (maxGramDf > 0): a gram shared by f docs contributes
    // f² candidate pairs, so one boilerplate phrase across a web-scale
    // corpus is a quadratic blowup. Grams with df above the cap are
    // dropped from the INDEX only — |A|/|B| stay exact, so jaccard can
    // only be underestimated (conservative): a pair is missed iff its
    // entire overlap is hot grams. maxGramDf = 0 keeps the exact
    // semantics d06 is oracle-checked under.
    val inv =
      if (maxGramDf <= 0) inv0
      else {
        val hot = inv0.groupBy(col("gram"))
          .agg(count(lit(1)).as("df"))
          .filter(col("df") > maxGramDf)
          .select(col("gram"))
        inv0.join(hot, Seq("gram"), "left_anti")
      }
    val a = inv.as("a"); val b = inv.as("b")
    a.join(b, col("a.gram") === col("b.gram") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sz").as("sza"), col("b.sz").as("szb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("sza") + col("szb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Near-duplicate CLUSTERS: [[connectedComponents]] over the
    * [[exactNgramNearDups]] pairs of `df` — (id, rep) for every doc.
    */
  def nearDupClusters(df: DataFrame, textCol: String, idCol: String,
                      n: Int, threshold: Double): DataFrame =
    connectedComponents(df.select(col(idCol).as("id")),
      exactNgramNearDups(df, textCol, idCol, n, threshold))

  /** Excerpt/subset detection via n-gram CONTAINMENT: score =
    * |A∩B| / min(|A|, |B|) — 1.0 when the smaller document's grams are
    * entirely inside the larger one, however large the larger is. This
    * is the asymmetric complement of [[exactNgramNearDups]]'s Jaccard: a
    * 20-line quote inside a 2000-line page has Jaccard ≈ 0.01 (invisible
    * to near-dup gates) but containment 1.0. Same inverted-index shape —
    * docs meet only through a shared gram, never all-pairs.
    */
  def containmentPairs(df: DataFrame, textCol: String, idCol: String,
                       n: Int = 3, threshold: Double = 0.9): DataFrame = {
    val inv = gramIndex(df, textCol, idCol, n)
    val a = inv.as("a"); val b = inv.as("b")
    a.join(b, col("a.gram") === col("b.gram") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sz").as("sza"), col("b.sz").as("szb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("containment", col("inter").cast("double") /
        least(col("sza"), col("szb")))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"))
  }

  /** CCNet-style sub-document dedup (Wenzek et al., arXiv:1911.00359
    * dedups paragraphs; here the unit is a fixed `segWords`-word segment
    * since the corpus has no paragraph breaks): across the WHOLE corpus,
    * each distinct segment is kept only at its first occurrence — the
    * smallest (doc_id, seg_idx) — and every other occurrence is cut out
    * of its document; surviving segments re-join in original order.
    *
    * This rewrites document CONTENT, unlike the doc-level dedups (which
    * keep/drop whole docs) and the pair finders (which only score).
    * Boilerplate that near-dup gates can't see (a footer pasted into
    * millions of otherwise-distinct pages) disappears here.
    *
    * Scale: segments shuffle as md5 digests + (doc_id, seg_idx) longs —
    * never the text; one min-aggregate per digest, one digest join, one
    * per-doc reassembly groupBy. All exact, no iteration.
    */
  /** PORTABLE banded MinHash signatures — the SQL-replayable scheme d20
    * proves out (one md5 per distinct word-trigram, 32 universal-family
    * seed hashes in pure BIGINT arithmetic, 8 string-keyed bands),
    * factored as a reusable (id, band, sig) frame so OTHER LSH
    * pipelines (cross-set decontamination, incremental probes) can be
    * hash-verified end to end instead of rows-only. The native
    * `MinHashSig` kernel remains the fast path (d02); this is the
    * auditable twin.
    */
  def portableMinhashBands(df: DataFrame, textCol: String, idCol: String,
                           numHashes: Int = 32, bands: Int = 8): DataFrame =
    portableBandsOfGrams(portableGrams(df, textCol, idCol), numHashes,
      bands)

  /** (id, gram): the distinct word trigrams of each doc — a doc with
    * fewer than 3 tokens is ONE gram, its whole token string (the
    * [[wordShingles]] convention, replayed by `pm_t`).
    */
  private def portableGrams(df: DataFrame, textCol: String,
                            idCol: String): DataFrame =
    graft.sources.Scans.withParallelismFloor(
        df.select(col(idCol).as("id"), col(textCol).as("__t")))
      .select(col("id"), explode(wordShingles(col("__t"), 3)).as("gram"))

  private def portableBandsOfGrams(gramRows: DataFrame, numHashes: Int,
                                   bands: Int): DataFrame = {
    // One min aggregate PER SEED over the gram stream instead of the
    // old explode(sequence(0, numHashes-1)): that form materialized and
    // SHUFFLED numHashes rows per gram occurrence (plus a second
    // (id, band) exchange for the collect_list), where this computes
    // all per-seed hashes as projections of one gram row — the seed is
    // a literal, so the (a, b) affine constants constant-fold — and
    // map-side partial mins reduce each partition to |docs| rows before
    // the single id exchange. Same mins, same band signatures, same
    // oracle (the CTE replays the explode form; integer mins agree).
    val p = 2147483647L
    val g = gramRows.select(col("id"),
      (conv(substring(md5(col("gram")), 1, 8), 16, 10)
        .cast("long") % p).as("g"))
    val mins = (0 until numHashes).map { s =>
      val a = 2654435761L * (s + 1) % p
      val b = 40503L * (s + 1) % p
      min((lit(a) * col("g") + lit(b)) % p).as(s"__mh$s")
    }
    val sig = g.groupBy("id").agg(mins.head, mins.tail: _*)
    val perBand = numHashes / bands
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws("-", (b * perBand until (b + 1) * perBand)
          .map(s => col(s"__mh$s").cast("string")): _*).as("sig"))
    }
    sig.select(col("id"), explode(array(bandCols: _*)).as("__bs"))
      .select(col("id"), col("__bs.band").as("band"),
        col("__bs.sig").as("sig"))
  }

  /** DuckDB CTE chain replaying [[portableMinhashBands]] over `table`:
    * defines pm_t (id, grams), pm_gs, pm_h, pm_bands (id, band, sig).
    * Splice into `WITH ...` of an oracle query.
    */
  def portableBandsOracleSql(table: String, idCol: String,
                             textCol: String): String =
    s"""pm_t AS (
       |  SELECT $idCol AS id,
       |    CASE WHEN len(toks) >= 3 THEN
       |      list_distinct(list_transform(range(1, len(toks) - 1),
       |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
       |    ELSE [array_to_string(toks, ' ')] END AS grams
       |  FROM (SELECT $idCol,
       |      list_filter(string_split_regex(trim(lower($textCol)), '\\s+'),
       |        x -> strlen(x) > 0) AS toks
       |    FROM $table)),
       |pm_gs AS (
       |  SELECT id, CAST(concat('0x', substr(md5(gram), 1, 8)) AS BIGINT)
       |    % 2147483647 AS g
       |  FROM (SELECT id, unnest(grams) AS gram FROM pm_t)),
       |pm_h AS (
       |  SELECT id, s.seed,
       |    min(((2654435761 * (s.seed + 1) % 2147483647) * g
       |      + 40503 * (s.seed + 1) % 2147483647) % 2147483647) AS mh
       |  FROM pm_gs CROSS JOIN (SELECT unnest(range(32)) AS seed) s
       |  GROUP BY id, s.seed),
       |pm_bands AS (
       |  SELECT id, seed // 4 AS band,
       |    string_agg(CAST(mh AS VARCHAR), '-' ORDER BY seed) AS sig
       |  FROM pm_h GROUP BY id, seed // 4)""".stripMargin

  /** Candidate pairs (id_a < id_b) sharing any band of a
    * [[portableMinhashBands]] frame: the banded bucket self-join.
    */
  def portableCandidates(bands: DataFrame): DataFrame =
    bands.alias("a").join(bands.alias("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig")
          && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()

  /** PORTABLE MinHash+LSH near-dup pairs with a FULL exact oracle: the
    * [[portableMinhashBands]] signatures, their [[portableCandidates]],
    * then EXACT integer gram-set Jaccard on the candidates only —
    * |A∩B| by gram equi-join, |A∪B| = |A| + |B| - |A∩B|. Returns
    * (id_a, id_b, inter, uni, jaccard) with jaccard >= `threshold`;
    * [[portableNearDupsOracleSql]] re-derives every stage.
    */
  def portableNearDups(df: DataFrame, textCol: String, idCol: String,
                       threshold: Double): DataFrame = {
    // read by the signatures, the intersection (twice) and the sizes
    val grams = graft.CacheScope.harness.track(
      portableGrams(df, textCol, idCol)).toDF()
    val inter = portableCandidates(portableBandsOfGrams(grams, 32, 8))
      .join(grams.select(col("id").as("id_a"), col("gram")), "id_a")
      .join(grams.select(col("id").as("id_b"), col("gram")),
        Seq("id_b", "gram"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    withGramUnion(inter, grams)
      .withColumn("jaccard",
        col("inter").cast("double") / col("uni").cast("double"))
      .filter(col("jaccard") >= threshold)
  }

  /** RECALL audit of the portable LSH pipeline: every TRUE near-dup
    * pair (exact gram-set Jaccard >= `threshold`, from the full
    * inverted gram index) with `caught` = 1 when [[portableCandidates]]
    * proposed it, else 0 — (id_a, id_b, inter, uni, caught). Ground
    * truth enumerates every pair sharing a gram, so this is an AUDIT
    * for a bounded sample, not a corpus-scale operator;
    * [[portableRecallOracleSql]] replays it.
    */
  def portableRecall(df: DataFrame, textCol: String, idCol: String,
                     threshold: Double): DataFrame = {
    // read by the signatures, the inverted-index join (twice), the sizes
    val grams = graft.CacheScope.harness.track(
      portableGrams(df, textCol, idCol)).toDF()
    val cand = portableCandidates(portableBandsOfGrams(grams, 32, 8))
    val inter = grams.select(col("id").as("id_a"), col("gram"))
      .join(grams.select(col("id").as("id_b"), col("gram")), "gram")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    withGramUnion(inter, grams)
      .filter(col("inter").cast("double") / col("uni").cast("double")
        >= threshold)
      .join(cand.withColumn("caught", lit(1)), Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"), col("inter"), col("uni"),
        coalesce(col("caught"), lit(0)).as("caught"))
  }

  /** (id_a, id_b, inter) pairs + `uni` = |A| + |B| - |A∩B| from the
    * per-doc gram counts of `grams` (id, gram).
    */
  private def withGramUnion(inter: DataFrame, grams: DataFrame)
      : DataFrame = {
    val sizes = grams.groupBy("id").agg(count(lit(1)).as("n"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("n").as("na")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"), col("inter"),
        (col("na") + col("nb") - col("inter")).as("uni"))
  }

  /** [[portableBandsOracleSql]] plus `cand` (id_a, id_b), the
    * [[portableCandidates]] replay.
    */
  private def portableCandidatesOracleSql(table: String, idCol: String,
                                          textCol: String): String =
    s"""${portableBandsOracleSql(table, idCol, textCol)},
       |cand AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM pm_bands a JOIN pm_bands b
       |    ON a.band = b.band AND a.sig = b.sig AND a.id < b.id)"""
      .stripMargin

  /** DuckDB replay of [[portableNearDups]] over `table`. */
  def portableNearDupsOracleSql(table: String, idCol: String,
                                textCol: String,
                                threshold: Double): String =
    s"""WITH ${portableCandidatesOracleSql(table, idCol, textCol)},
       |withg AS (
       |  SELECT c.id_a, c.id_b,
       |    CAST(len(list_intersect(ta.grams, tb.grams)) AS BIGINT)
       |      AS inter,
       |    CAST(len(list_distinct(list_concat(ta.grams, tb.grams)))
       |      AS BIGINT) AS uni
       |  FROM cand c
       |  JOIN pm_t ta ON ta.id = c.id_a
       |  JOIN pm_t tb ON tb.id = c.id_b)
       |SELECT id_a, id_b, inter, uni,
       |  CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) AS jaccard
       |FROM withg
       |WHERE CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) >= $threshold
       |ORDER BY id_a, id_b""".stripMargin

  /** DuckDB replay of [[portableRecall]] over `table`. */
  def portableRecallOracleSql(table: String, idCol: String,
                              textCol: String,
                              threshold: Double): String =
    s"""WITH ${portableCandidatesOracleSql(table, idCol, textCol)},
       |inv AS (SELECT id, unnest(grams) AS gram FROM pm_t),
       |sizes AS (SELECT id, len(grams) AS n FROM pm_t),
       |iv AS (
       |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
       |  FROM inv a JOIN inv b ON a.gram = b.gram AND a.id < b.id
       |  GROUP BY 1, 2),
       |tp AS (
       |  SELECT i.id_a, i.id_b, CAST(i.inter AS BIGINT) AS inter,
       |    CAST(sa.n + sb.n - i.inter AS BIGINT) AS uni
       |  FROM iv i
       |  JOIN sizes sa ON sa.id = i.id_a
       |  JOIN sizes sb ON sb.id = i.id_b
       |  WHERE CAST(i.inter AS DOUBLE)
       |    / (sa.n + sb.n - i.inter) >= $threshold)
       |SELECT tp.id_a, tp.id_b, tp.inter, tp.uni,
       |  CAST(CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END
       |    AS INT) AS caught
       |FROM tp LEFT JOIN cand c
       |  ON c.id_a = tp.id_a AND c.id_b = tp.id_b
       |ORDER BY tp.id_a, tp.id_b""".stripMargin

  /** Overlapping duplicate-SPAN detection — ExactSubstr-lite, the
    * token-window form of suffix-array training-data dedup ("find every
    * passage duplicated anywhere in the corpus"): each `w`-token window
    * starting at every `stride`-th token is fingerprinted, and windows
    * whose fingerprint occurs more than once ANYWHERE are reported with
    * their global occurrence count. Unlike [[segmentDedup]]'s DISJOINT
    * segments, windows OVERLAP — with stride=1 (the default) a
    * duplicated `w`-token run is caught at EVERY alignment, which is
    * exactly what disjoint segmentation cannot do; stride>1 is the
    * sampled variant (cost ÷ stride, catches only alignment-congruent
    * copies).
    *
    * Scale shape: span TEXT never shuffles and never reaches the
    * output — windows project to (id, span_idx, md5) in the scan, the
    * occurrence count is one map-side-combinable digest groupBy, and
    * the report join carries digests + two longs only. Cost is the
    * scan-side md5 CPU (~w× the corpus bytes at stride=1), the price
    * ExactSubstr pays in any engine.
    */
  def dupSpans(df: DataFrame, textCol: String, idCol: String,
               w: Int = 8, stride: Int = 1): DataFrame = {
    require(w >= 1, s"dupSpans: w must be >= 1, got $w")
    require(stride >= 1, s"dupSpans: stride must be >= 1, got $stride")
    // FULL w-token windows only (start offsets 0..size-w, stride-
    // adjusted) — ExactSubstr matches are fixed-length-w. Tail windows
    // shorter than w would fingerprint shared short suffixes (at
    // stride=1, even one common final word) as duplicate spans. The
    // filtered start-index set is a prefix of the candidate sequence, so
    // posexplode's position stays the window index; docs shorter than w
    // emit no windows at all.
    // parallelism floor before the stride-w md5 scan (see toWords)
    val segs = graft.sources.Scans.withParallelismFloor(
        df.select(col(idCol).as("id"), col(textCol).as("__t")))
      .select(col("id"), split(col("__t"), " ").as("words"))
      .select(col("id"), posexplode(expr(
        s"transform(filter(sequence(0, greatest(CAST((size(words) + ${stride - 1}) div $stride AS INT) - 1, 0)), " +
          s"i -> i * $stride + $w <= size(words)), " +
          s"i -> md5(array_join(slice(words, i * $stride + 1, $w), ' ')))"))
        .as(Seq("span_idx", "h")))
    val counts = segs.groupBy("h")
      .agg(count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") > 1)
    segs.join(counts, "h")
      .select(col("id"), col("span_idx").cast("long").as("span_idx"),
        col("n_occurrences"))
  }

  /** ExactSubstr-FULL: maximal duplicate-span REMOVAL — the published
    * suffix-array dedup semantics (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better") in the token-window
    * form: every `w`-token window at EVERY alignment is fingerprinted
    * ([[dupSpans]]' stride-1 scan); for each fingerprint occurring more
    * than once the GLOBALLY-FIRST occurrence (min (id, span_idx))
    * survives and all others mark their token interval `[i, i+w)` for
    * removal; per document the marked intervals merge into MAXIMAL spans
    * (interval union — sort + running-max island pass); the spans are
    * cut and the text rebuilt in token order. So a long passage
    * duplicated at ANY alignment disappears from every copy but the
    * first IN ONE PIECE — what [[segmentDedup]]'s disjoint segments and
    * [[dupSpans]]' report both stop short of.
    *
    * Scale shape: window TEXT never shuffles — the scan projects to
    * (id, span_idx, md5); winner election is one map-side-combinable
    * `min(struct(id, span_idx))` per digest; the loser join carries
    * digests + two longs; the island pass windows per `id` (partitioned,
    * never global); the rebuild joins the per-doc span list (bounded by
    * tokens/w) back and filters tokens with one array pass — docs
    * without cuts take the no-op fast path. Cost is dominated by the
    * stride-1 md5 scan, the price ExactSubstr pays in any engine.
    *
    * Output: (id, clean_text, n_spans_cut, n_tokens_removed).
    */
  def exactSubstrDedup(df: DataFrame, textCol: String, idCol: String,
                       w: Int = 8, minSpanChars: Long = 0L,
                       scope: graft.CacheScope = graft.CacheScope.harness,
                       floor: Boolean = true)
      : DataFrame = {
    require(w >= 1, s"exactSubstrDedup: w must be >= 1, got $w")
    import org.apache.spark.sql.expressions.Window
    // null text behaves as empty (the Bpe/encodePortable convention) so
    // the rebuilt clean_text is '' on both engines, never NULL vs ''.
    // `floor=false` for callers that feed the rebuilt text into
    // ITERATIVE consumers (BPE fits re-evaluate it per merge round —
    // l18/l19/l22 measured slower with the floor multiplied across
    // rounds) or pass a derived, non-scan frame.
    val words = toWords(df, textCol, idCol, floor = floor)
    // FULL w-token windows only, stride 1 (see dupSpans for why tails
    // are excluded): (id, span_idx, digest) — never the window text.
    // The fingerprint scan is the dominant cost and BOTH the winner
    // election and the loser join consume it — tracked plan-lifetime
    // cache (scope-released) so the md5 pass runs once, not twice.
    val segs = scope.track(toSegs(words, w))
    // Winner per duplicated digest: the globally-first (id, span_idx) —
    // one aggregate, partial-combined map-side.
    val winners = segs.groupBy("h")
      .agg(min(struct(col("id"), col("span_idx"))).as("first"),
        count(lit(1)).as("n"))
      .filter(col("n") > 1)
    // Every other occurrence marks its token interval for removal.
    val losers = segs.join(winners, "h")
      .filter(!(col("id") === col("first.id") &&
        col("span_idx") === col("first.span_idx")))
      .select(col("id"), col("span_idx").cast("long").as("s"),
        (col("span_idx") + w).cast("long").as("e"))
    maximalSpanRebuild(words, losers, minSpanChars)
  }

  /** (id, words) projection shared by the ExactSubstr family — null
    * text behaves as empty.
    */
  private[llm] def toWords(df: DataFrame, textCol: String,
                           idCol: String,
                           floor: Boolean = false): DataFrame = {
    // parallelism floor (opt-in) BEFORE the split + window-fingerprint
    // work: the md5 stride-1 pass is the family's dominant CPU and a
    // one-row-group input would otherwise run it on a single core
    // (no-op at scale); the exchange carries raw (id, text) only.
    // FULL-corpus rewrites opt in; the incremental/indexed variants'
    // small eager batches measured slower with it (d33 4.0 s vs 3.1 —
    // filter selectivity does not reach size estimates, so a guard
    // cannot tell a 50-doc batch from the corpus).
    val base = df.select(col(idCol).as("id"),
      coalesce(col(textCol), lit("")).as("__t"))
    val src = if (floor) graft.sources.Scans.withParallelismFloor(base)
      else base
    src.select(col("id"), split(col("__t"), " ").as("words"))
  }

  /** Stride-1 FULL-window fingerprint scan: (id, span_idx, h) — never
    * the window text (see [[dupSpans]] for the tail-window exclusion).
    */
  private[llm] def toSegs(words: DataFrame, w: Int): DataFrame =
    words.select(col("id"), posexplode(expr(
      s"transform(filter(sequence(0, greatest(size(words) - 1, 0)), " +
        s"i -> i + $w <= size(words)), " +
        s"i -> md5(array_join(slice(words, i + 1, $w), ' ')))"))
      .as(Seq("span_idx", "h")))

  /** The DISTINCT window-digest frame of a corpus — the CONTENT of the
    * persisted index [[exactSubstrWithIndex]] probes (one map-side-
    * combinable aggregate; digests only, text never shuffles).
    */
  def windowDigests(df: DataFrame, textCol: String, idCol: String,
                    w: Int = 8): DataFrame =
    toSegs(toWords(df, textCol, idCol), w).select("h").distinct()

  /** Build the persisted window-digest index: distinct digests written
    * through [[graft.sources.Lake.writeBloomFiltered]] — point probes
    * on a high-cardinality hash key are exactly the bloom layout's use
    * case (no sort order serves them; min/max stats are useless on
    * md5s interleaved across files).
    */
  def buildDigestIndex(df: DataFrame, textCol: String, idCol: String,
                       w: Int, dir: String, expectedNdv: Long): Unit =
    graft.sources.Lake.writeBloomFiltered(
      windowDigests(df, textCol, idCol, w), dir, Seq("h"), expectedNdv)

  def readDigestIndex(spark: org.apache.spark.sql.SparkSession,
                      dir: String): DataFrame = spark.read.parquet(dir)

  /** Fold a batch's digests into the index INCREMENTALLY: probe the
    * existing index for the batch's distinct digests and APPEND only
    * the misses as new files — prior index files are never rewritten,
    * rescanned for content, or compacted here (the index is a set, so
    * append-only new-distinct IS the maintenance operation).
    */
  def appendDigests(spark: org.apache.spark.sql.SparkSession,
                    df: DataFrame, textCol: String, idCol: String,
                    w: Int, dir: String, expectedNdv: Long): Unit = {
    val fresh = windowDigests(df, textCol, idCol, w)
      .join(readDigestIndex(spark, dir), Seq("h"), "left_anti")
    graft.sources.Lake.writeBloomFiltered(fresh, dir, Seq("h"),
      expectedNdv, mode = "append")
  }

  /** ExactSubstr-full against a PRE-BUILT window-digest index — the
    * steady-state form [[exactSubstrIncremental]]'s doc describes: the
    * prior corpus is represented ONLY by its digest index (built once
    * via [[buildDigestIndex]], maintained via [[appendDigests]]); the
    * batch probes it with one left-semi + one left-anti join and prior
    * TEXT is never scanned at all.
    */
  def exactSubstrWithIndex(batch: DataFrame, index: DataFrame,
                           textCol: String, idCol: String, w: Int = 8,
                           scope: graft.CacheScope = graft.CacheScope.harness)
      : DataFrame = {
    require(w >= 1, s"exactSubstrWithIndex: w must be >= 1, got $w")
    val words = toWords(batch, textCol, idCol, floor = true)
    // both the index probe (semi + anti) and the within-batch election
    // consume the batch scan — tracked once, scope-released
    val segs = scope.track(toSegs(words, w))
    val priorH = index.select("h")
    // any batch occurrence of an indexed window is a loser
    val fromPrior = segs.join(priorH, Seq("h"), "left_semi")
      .select(col("id"), col("span_idx").cast("long").as("s"),
        (col("span_idx") + w).cast("long").as("e"))
    // batch-only digests: the full-corpus election within the batch
    val batchOnly = segs.join(priorH, Seq("h"), "left_anti")
    val winners = batchOnly.groupBy("h")
      .agg(min(struct(col("id"), col("span_idx"))).as("first"),
        count(lit(1)).as("n"))
      .filter(col("n") > 1)
    val batchLosers = batchOnly.join(winners, "h")
      .filter(!(col("id") === col("first.id") &&
        col("span_idx") === col("first.span_idx")))
      .select(col("id"), col("span_idx").cast("long").as("s"),
        (col("span_idx") + w).cast("long").as("e"))
    // the two loser sets are disjoint by digest — plain union
    maximalSpanRebuild(words, fromPrior.unionAll(batchLosers))
  }

  /** ExactSubstr-full, INCREMENTAL — the steady-state form ([[d12
    * incrementalDedup]] : [[exactDedup]] :: this : [[exactSubstrDedup]]):
    * a NEW batch is rewritten against the PRIOR corpus without touching
    * it. A batch window whose fingerprint exists ANYWHERE in the prior
    * corpus is cut from every batch occurrence (the prior copy is by
    * definition first); windows duplicated only WITHIN the batch get the
    * [[exactSubstrDedup]] first-occurrence election. When every prior id
    * precedes every batch id, the result equals the full-corpus rewrite
    * restricted to the batch (spec-pinned).
    *
    * Scale shape: the prior corpus collapses to its DISTINCT window
    * digests (one map-side-combinable aggregate — at corpus scale this
    * is the persisted window-digest index a production build maintains
    * incrementally; it shuffles digests only) and the batch probes it
    * with one left-semi + one left-anti join. The prior TEXT is never
    * rewritten, re-shuffled, or even fully rescanned when the digest
    * index is supplied pre-built.
    */
  def exactSubstrIncremental(batch: DataFrame, prior: DataFrame,
                             textCol: String, idCol: String, w: Int = 8,
                             scope: graft.CacheScope = graft.CacheScope.harness)
      : DataFrame =
    exactSubstrWithIndex(batch, windowDigests(prior, textCol, idCol, w),
      textCol, idCol, w, scope)

  /** Shared tail of the ExactSubstr family: merge loser windows into
    * maximal per-doc spans (interval union) and rebuild the text.
    * `words` = (id, words array); `losers` = (id, s, e) token intervals.
    *
    * `minSpanChars` is the published-fidelity knob: Lee et al. dedup at
    * ≥50 CHARACTERS while the w-token windows approximate it — a merged
    * span whose character length (token lengths + single-space gaps)
    * falls below the threshold is NOT cut, so short incidental w-word
    * collisions survive where the published threshold would keep them.
    * The filter runs on the MERGED spans (cheap: spans are bounded by
    * tokens/w and the length is one array-slice fold); 0 disables it.
    */
  private def maximalSpanRebuild(words: DataFrame, losers: DataFrame,
                                 minSpanChars: Long = 0L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Interval union per doc: sort, running max of prior ends, new
    // island where a gap opens, then min/max per island = maximal span.
    val ord = Window.partitionBy("id").orderBy("s", "e")
    val merged = losers
      .withColumn("prev_max",
        max(col("e")).over(ord.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("brk",
        when(col("prev_max").isNull || col("s") > col("prev_max"), 1L)
          .otherwise(0L))
      .withColumn("g", sum(col("brk"))
        .over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("id", "g")
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
    val spans =
      if (minSpanChars <= 0L) merged
      else merged.join(words, Seq("id"))
        .withColumn("chars",
          expr("aggregate(slice(words, CAST(s AS INT) + 1, " +
            "CAST(e - s AS INT)), 0L, (acc, x) -> acc + length(x))") +
            (col("e") - col("s") - 1))
        .filter(col("chars") >= minSpanChars)
        .select("id", "s", "e")
    val cuts = spans.groupBy("id")
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("cuts"),
        count(lit(1)).as("n_spans_cut"),
        sum(col("e") - col("s")).as("n_tokens_removed"))
    // Rebuild: drop tokens whose index falls in any cut span. Docs with
    // no cuts (the vast majority) take the join-miss fast path.
    words.join(cuts, Seq("id"), "left")
      .select(col("id"),
        when(col("cuts").isNull, array_join(col("words"), " "))
          .otherwise(expr(
            """array_join(transform(filter(
              |  transform(words, (t, i) -> named_struct('t', t, 'i', CAST(i AS BIGINT))),
              |  p -> NOT exists(cuts, c -> p.i >= c.s AND p.i < c.e)),
              |  p -> p.t), ' ')""".stripMargin)).as("clean_text"),
        coalesce(col("n_spans_cut"), lit(0L)).as("n_spans_cut"),
        coalesce(col("n_tokens_removed"), lit(0L)).as("n_tokens_removed"))
  }

  def segmentDedup(df: DataFrame, textCol: String, idCol: String,
                   segWords: Int = 10): DataFrame = {
    val segs = df
      .select(col(idCol).as("id"), split(col(textCol), " ").as("words"))
      .select(col("id"), posexplode_outer(
        expr(s"transform(sequence(0, CAST((size(words) + ${segWords - 1}) div $segWords AS INT) - 1), " +
          s"i -> array_join(slice(words, i * $segWords + 1, $segWords), ' '))"))
        .as(Seq("seg_idx", "seg")))
    // Winner selection AND its text in ONE map-side-combined aggregate:
    // min(struct(id, seg_idx, seg)) picks the globally-first occurrence
    // per digest ((id, seg_idx) is unique, so `seg` never decides the
    // order), carrying the winning text along. Per-OCCURRENCE segment
    // text never shuffles — the partial combine reduces each map
    // partition to at most one string per distinct digest before the
    // exchange, and the old candidate join (which re-shuffled every
    // segment string) is gone entirely.
    val kept = segs.filter(col("seg").isNotNull)
      .groupBy(md5(col("seg")).as("h"))
      .agg(min(struct(col("id"), col("seg_idx"), col("seg"))).as("first"))
      .select(col("first.id").as("id"), col("first.seg_idx").as("seg_idx"),
        col("first.seg").as("seg"))
    df.select(col(idCol).as("id"))
      .join(kept.groupBy("id")
          .agg(array_join(expr("transform(array_sort(collect_list(struct(seg_idx, seg))), s -> s.seg)"),
            " ").as("clean_text"),
            count(lit(1)).as("n_kept")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }
}
