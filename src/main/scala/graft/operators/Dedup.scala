package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.functions.VectorOps

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, and character-n-gram Jaccard. (Embedding-cosine
  * near-dup lives in [[Similarity.cosinePairs]].)
  *
  * Scale design (the point — see builder brief):
  *  - every pipeline is shuffle-minimal: one `groupBy` per signature
  *    build (map-side partial aggregation does the heavy lifting), one
  *    shuffle for the bucket self-join;
  *  - candidate generation is always *bucketed* (LSH bands / hamming
  *    chunks / shared-gram inverted index), never an O(n²) cross join;
  *  - hot buckets (stop-grams, degenerate bands) are capped with a
  *    document-frequency filter so one pathological key cannot blow up
  *    a 100 TB run; AQE handles residual skew.
  *
  * The reference engine has nothing comparable (integer-only SELECT
  * subset, /root/reference/sqlengine.py); this is extension surface,
  * exercised against the driver's `documents` table.
  */
object Dedup {

  /** Exact dedup, representative form: one output row per distinct key
    * with the minimal id as the keeper + the group size. Single hash
    * shuffle; at 100 TB this is the cheapest possible exact pass. */
  def exactGroups(df: DataFrame, keyCols: Seq[String], idCol: String): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** Exact dedup, row-preserving form: keeps the full first row (by
    * `idCol`) of every duplicate group. One shuffle (window). */
  def exactRows(df: DataFrame, keyCols: Seq[String], idCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(idCol).asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  // =====================================================================
  // MinHash + LSH
  // =====================================================================

  /** MinHash/LSH tuning. numHashes = bands * rowsPerBand. Defaults catch
    * jaccard ≳ 0.5 with high probability ((1/16)^(1/4) ≈ 0.5 threshold
    * for 16 bands × 4 rows). */
  final case class MinHashParams(
      shingleSize: Int = 3, numHashes: Int = 64,
      bands: Int = 16, rowsPerBand: Int = 4) {
    require(bands * rowsPerBand == numHashes, "bands*rowsPerBand must equal numHashes")
  }

  /** Distinct word-`n`-gram shingles of a text column (whole text as a
    * single shingle when shorter than `n` tokens). Pure projection.
    *
    * NOTE for pipeline use: pass an already-materialized token-array
    * COLUMN (see [[shinglesFromTokens]]) — handing the raw text here
    * re-evaluates the tokenizer at every shingle position inside the
    * interpreted HOF lambda (the O(L²) trap documented in
    * TextAnalysis.withFingerprints). */
  def wordShingles(text: Column, n: Int): Column =
    shinglesFromTokens(TextAnalysis.tokens(text), n)

  /** Shingles from a token-array column (evaluated once per row when
    * `toks` is a plain column reference). */
  def shinglesFromTokens(toks: Column, n: Int): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(size(toks) - (n - 1), lit(1))),
      i => concat_ws(" ", slice(toks, i, lit(n)))))

  /** (id, signature array<long>) per document. Implementation: explode
    * shingles once, take k independent mins in ONE aggregation — the k
    * hash families are `xxhash64(seed_i, shingle)`. Partial (map-side)
    * min means the shuffle carries k longs per doc, not the shingles. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      p: MinHashParams = MinHashParams()): DataFrame =
    signaturesFromShingleSets(shingleSets(df, idCol, textCol, p), idCol, p)

  /** (id, __sh: array<string>) — tokens materialized in their own
    * projection so the shingle lambda reads a column, not a recomputed
    * tokenizer call. */
  private def shingleSets(df: DataFrame, idCol: String, textCol: String,
      p: MinHashParams): DataFrame =
    df.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), shinglesFromTokens(col("__toks"), p.shingleSize).as("__sh"))

  /** Signatures from a precomputed (id, __sh: array<string>) frame —
    * lets a pipeline compute shingles ONCE and reuse the set for both
    * signing and exact-jaccard verification. */
  private def signaturesFromShingleSets(sh: DataFrame, idCol: String,
      p: MinHashParams): DataFrame = {
    val exploded = sh.select(col(idCol), explode(col("__sh")).as("__shingle"))
    val mins = (0 until p.numHashes)
      .map(i => min(xxhash64(lit(i), col("__shingle"))).as(s"__h$i"))
    exploded.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
      .select(col(idCol),
        array((0 until p.numHashes).map(i => col(s"__h$i")): _*).as("signature"))
  }

  /** (id, band, key) — one row per LSH band per document; the band key
    * is a hash of that signature slice. Shared by the self-join
    * candidate generator and the cross-table incremental screen. */
  private def bandBuckets(sigs: DataFrame, idCol: String,
      p: MinHashParams): DataFrame = {
    val bandKeys = array((0 until p.bands).map { j =>
      struct(lit(j).as("band"),
        xxhash64(concat_ws(",",
          transform(slice(col("signature"), j * p.rowsPerBand + 1, p.rowsPerBand),
            _.cast("string")))).as("key"))
    }: _*)
    sigs.select(col(idCol), explode(bandKeys).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Per-band LSH index audit: bucket count, the largest bucket, and
    * the candidate pairs each band generates (Σ sz·(sz−1)/2 — the
    * actual cost the self-join pays). THE skew observability for a
    * banded index: a hot bucket shows up here as max_bucket and a
    * candidate-pair spike long before the pair join itself falls over,
    * and the numbers size the maxBucket guard. One extra rollup over
    * the same band frame the candidate join shuffles — no new scan. */
  def lshBucketStats(df: DataFrame, idCol: String, textCol: String,
      p: MinHashParams = MinHashParams()): DataFrame =
    bandBuckets(minhashSignatures(df, idCol, textCol, p), idCol, p)
      .groupBy("band", "key").agg(count(lit(1)).as("sz"))
      .groupBy(col("band").cast("long").as("band")).agg(
        count(lit(1)).as("n_buckets"),
        max(col("sz")).as("max_bucket"),
        sum(expr("sz * (sz - 1) DIV 2")).as("n_cand_pairs"))

  /** Candidate pairs (a < b) sharing at least one LSH band. The
    * self-join shuffles on the band key, so only same-bucket docs ever
    * meet. */
  def lshCandidates(sigs: DataFrame, idCol: String,
      p: MinHashParams = MinHashParams()): DataFrame = {
    val buckets = bandBuckets(sigs, idCol, p)
    val a = buckets.select(col("band"), col("key"), col(idCol).as("a"))
    val b = buckets.select(col("band"), col("key"), col(idCol).as("b"))
    a.join(b, Seq("band", "key")).filter(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** Estimated jaccard = fraction of agreeing minhash components. */
  def estimatedJaccard(sigA: Column, sigB: Column, numHashes: Int): Column =
    aggregate(zip_with(sigA, sigB, (x, y) => when(x === y, 1L).otherwise(0L)),
      lit(0L), _ + _).cast(DoubleType) / numHashes

  /** LSH recall against EXHAUSTIVE ground truth — the measurement a
    * pipeline runs on a bounded sample before trusting banded-LSH
    * settings at corpus scale (README's measured-recall protocol as a
    * first-class, oracle-verified operator). One row:
    * `(n_truth, n_found, n_hit, n_extra, recall_permille)` where
    * truth = ALL pairs with exact shingle-jaccard ≥ `threshold` and
    * found = [[minhashNearDuplicates]] at the same threshold. The
    * LSH pipeline verifies exact jaccard on the SAME shingle sets, so
    * found ⊆ truth by construction — `n_extra` pins that at 0
    * cross-engine instead of assuming it; `recall_permille` is the
    * integer (1000·hit) div truth (1000 when truth is empty).
    *
    * Exhaustiveness without a cartesian: jaccard ≥ t > 0 implies at
    * least one SHARED shingle, so the all-pairs search is an
    * inverted-index equi-join on the shingle (hence
    * `require(threshold > 0)`), never an n² cross product. The cost
    * driver is Σ df·(df−1)/2 over shingle document-frequencies — a
    * hot boilerplate shingle, not the doc count, is what blows an
    * inverted self-join up — so THAT quantity is what the in-plan
    * guard bounds (`maxCandPairs`, asserted from the df rollup BEFORE
    * the self-join runs), alongside the `maxDocs` sample-size cap:
    * this is an EVAL on a bounded sample and fails loudly otherwise.
    * Shingles are derived ONCE — the found side reuses the same
    * persisted sets via [[nearDuplicatesFromShingleSets]]. */
  def lshRecallEval(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, p: MinHashParams = MinHashParams(),
      maxDocs: Long = 100000L, maxCandPairs: Long = 100000000L): DataFrame = {
    require(threshold > 0.0,
      s"lshRecallEval: threshold must be > 0 (the shared-shingle " +
        s"exhaustiveness argument needs it), got $threshold")
    require(maxDocs > 0 && maxCandPairs > 0,
      "lshRecallEval: maxDocs and maxCandPairs must be positive")
    val nd = df.agg(count(lit(1)).as("__ndocs"))
    val guarded = df.crossJoin(broadcast(nd))
      .filter(assert_true(col("__ndocs") <= maxDocs,
        concat(lit("lshRecallEval: "), col("__ndocs"),
          lit(s" docs exceed maxDocs = $maxDocs — run the eval on a " +
            "bounded sample"))).isNull)
      .drop("__ndocs")
    val sh = Caching.persist(shingleSets(guarded, idCol, textCol, p))
    val inv = sh.select(col(idCol), explode(col("__sh")).as("__s"))
    // the actual cost quantity, asserted before the self-join pays it
    val cost = inv.groupBy("__s").agg(count(lit(1)).as("__df"))
      .agg(coalesce(sum(expr("__df * (__df - 1) div 2")), lit(0L))
        .as("__cand"))
    val invG = inv.crossJoin(broadcast(cost))
      .filter(assert_true(col("__cand") <= maxCandPairs,
        concat(lit("lshRecallEval: inverted-index candidate pairs "),
          col("__cand"),
          lit(s" exceed maxCandPairs = $maxCandPairs — a hot shingle " +
            "dominates; sample smaller or raise the cap deliberately")))
        .isNull)
      .drop("__cand")
    val cand = invG.toDF("a", "__s").join(inv.toDF("b", "__s"), "__s")
      .filter(col("a") < col("b")).select("a", "b").distinct()
    val truth = Caching.persist(cand
      .join(sh.select(col(idCol).as("a"), col("__sh").as("sh_a")), "a")
      .join(sh.select(col(idCol).as("b"), col("__sh").as("sh_b")), "b")
      .filter(size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType) /
        size(array_union(col("sh_a"), col("sh_b"))) >= threshold)
      .select("a", "b"))
    val found = Caching.persist(
      nearDuplicatesFromShingleSets(sh, idCol, threshold, p)
        .select("a", "b"))
    val hit = truth.join(found, Seq("a", "b"), "left_semi")
    val extra = found.join(truth, Seq("a", "b"), "left_anti")
    truth.agg(count(lit(1)).as("n_truth"))
      .crossJoin(broadcast(found.agg(count(lit(1)).as("n_found"))))
      .crossJoin(broadcast(hit.agg(count(lit(1)).as("n_hit"))))
      .crossJoin(broadcast(extra.agg(count(lit(1)).as("n_extra"))))
      .select(col("n_truth"), col("n_found"), col("n_hit"), col("n_extra"),
        when(col("n_truth") === 0L, lit(1000L))
          .otherwise(expr("(1000 * n_hit) div n_truth"))
          .as("recall_permille"))
  }

  /** Full near-duplicate pipeline: shingle → sign → LSH candidates →
    * exact-jaccard verification on the true shingle sets. Returns
    * (a, b, est_jaccard, jaccard) for pairs with jaccard ≥ threshold.
    *
    * The derived frames (shingle sets, signatures) are persisted: each
    * is consumed 2-3× (candidate generation + both sides of the
    * verification joins), and at 100 TB re-deriving them means
    * re-scanning the raw text corpus — signatures are ~512 B/doc and
    * shingle sets ~the tokenized text, both orders of magnitude smaller
    * than the input, so MEMORY_AND_DISK is safe and the scan happens
    * exactly once. */
  def minhashNearDuplicates(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, p: MinHashParams = MinHashParams()): DataFrame = {
    val sh = Caching.persist(shingleSets(df, idCol, textCol, p))
    nearDuplicatesFromShingleSets(sh, idCol, threshold, p)
  }

  /** The sign → candidates → verify pipeline from a precomputed
    * `(id, __sh)` shingle frame — the factoring that lets
    * [[lshRecallEval]] shingle the corpus ONCE for both its truth and
    * found sides instead of re-deriving the sets per branch. */
  private def nearDuplicatesFromShingleSets(sh: DataFrame, idCol: String,
      threshold: Double, p: MinHashParams): DataFrame = {
    val sigs = Caching.persist(signaturesFromShingleSets(sh, idCol, p))
    val cands = lshCandidates(sigs, idCol, p)
    val withEst = cands
      .join(sigs.select(col(idCol).as("a"), col("signature").as("sig_a")), "a")
      .join(sigs.select(col(idCol).as("b"), col("signature").as("sig_b")), "b")
      .select(col("a"), col("b"),
        estimatedJaccard(col("sig_a"), col("sig_b"), p.numHashes).as("est_jaccard"))
    withEst
      .join(sh.select(col(idCol).as("a"), col("__sh").as("sh_a")), "a")
      .join(sh.select(col(idCol).as("b"), col("__sh").as("sh_b")), "b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType) /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "est_jaccard", "jaccard")
  }

  /** Incremental near-dup screening — the shape a standing pipeline
    * actually runs: dedup TODAY'S batch against the historical corpus
    * without touching the corpus text. The index is the corpus's
    * minhash signature table ([[minhashSignatures]], ~512 B/doc —
    * write it once per snapshot, append each batch's signatures after
    * screening), and screening is a cross-table band join: batch band
    * buckets × index band buckets, then signature-estimate
    * verification. Returns (idCol, index_id, est_jaccard) for batch
    * docs whose estimate meets `threshold`.
    *
    * Verification here is the minhash ESTIMATE, not exact shingle
    * jaccard — deliberately: exact verification needs the corpus
    * shingle sets, i.e. re-reading 100 TB of history per batch. The
    * estimate's error is ±1/√numHashes (~12% at 64 hashes); pipelines
    * that need exact confirmation re-read the text of only the
    * FLAGGED index docs (tiny) — compose with
    * [[minhashNearDuplicates]] on that subset.
    *
    * Scale shape: the index side never rescans text (signatures are
    * precomputed); the batch side is one signature build; the join
    * shuffles band keys only; est verification joins two signature
    * tables of ~512 B/row. */
  def screenAgainstIndex(batch: DataFrame, idCol: String, textCol: String,
      index: DataFrame, threshold: Double,
      p: MinHashParams = MinHashParams()): DataFrame = {
    val bs = Caching.persist(minhashSignatures(batch, idCol, textCol, p))
    val bb = bandBuckets(bs, idCol, p)
      .select(col(idCol), col("band"), col("key"))
    val ib = bandBuckets(index, idCol, p)
      .select(col(idCol).as("index_id"), col("band"), col("key"))
    val cands = bb.join(ib, Seq("band", "key"))
      .select(col(idCol), col("index_id")).distinct()
    cands
      .join(bs.select(col(idCol), col("signature").as("__sig_b")), idCol)
      .join(index.select(col(idCol).as("index_id"),
        col("signature").as("__sig_i")), "index_id")
      .withColumn("est_jaccard",
        estimatedJaccard(col("__sig_b"), col("__sig_i"), p.numHashes))
      .filter(col("est_jaccard") >= threshold)
      .select(idCol, "index_id", "est_jaccard")
  }

  // =====================================================================
  // SimHash
  // =====================================================================

  /** 64-bit SimHash per document (Charikar '02 — public algorithm):
    * explode tokens, hash each, and take the sign of the per-bit vote
    * sum. The 64 votes are 64 partial-aggregating `sum` columns — one
    * shuffle carrying 64 longs per doc. */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val exploded = df.select(col(idCol),
      explode(TextAnalysis.tokens(col(textCol))).as("__tok"))
      .select(col(idCol), xxhash64(col("__tok")).as("__th"))
    val votes = (0 until 64).map { b =>
      sum(when(shiftright(col("__th"), b).bitwiseAND(1L) === 1L, 1L)
        .otherwise(-1L)).as(s"__v$b")
    }
    val bitCols = (0 until 64).map { b =>
      when(col(s"__v$b") >= 0, shiftleft(lit(1L), b)).otherwise(0L)
    }
    exploded.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
      .select(col(idCol), bitCols.reduce(_.bitwiseOR(_)).as("simhash"))
  }

  /** Near-pairs by hamming distance ≤ maxHamming over the 64-bit
    * simhash. Bucketing: split the hash into `chunks` equal pieces —
    * any pair within distance d < chunks must agree on ≥1 chunk
    * (pigeonhole), so the join on (chunkIdx, chunkValue) is exact,
    * never O(n²). Requires maxHamming < chunks (default 4 chunks → d≤3).
    *
    * Scale shape: the chunk join runs over DISTINCT simhash values, not
    * documents — a template corpus where thousands of docs share one
    * hash contributes ONE row to candidate generation; doc pairs are
    * expanded afterwards by joining members back in, so that work is
    * proportional to the OUTPUT (which is inherently pairwise), never
    * to cluster-size². Chunk-collision candidates scale D²/2^16 in the
    * number of distinct hashes D, not corpus size. */
  def simhashNearPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, chunks: Int = 4): DataFrame =
    hammingNearPairs(simhashSignatures(df, idCol, textCol), idCol, "simhash",
      maxHamming, chunks)

  /** Near-pairs by hamming distance over ANY precomputed 64-bit hash
    * column — the pigeonhole bucketing engine behind
    * [[simhashNearPairs]] (text simhash) and
    * [[Multimodal.perceptualHash]] (media blockhash) pair search.
    * `sigs` must hold one row per (idCol, hashCol); see
    * [[simhashNearPairs]] for the scale shape (distinct-hash candidate
    * generation, member expansion proportional to output). */
  def hammingNearPairs(sigs0: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int = 3, chunks: Int = 4): DataFrame = {
    require(maxHamming < chunks, "pigeonhole needs maxHamming < chunks")
    require(64 % chunks == 0, s"chunks must divide 64, got $chunks")
    val width = 64 / chunks
    val mask = (1L << width) - 1
    // consumed 3× (both member sides + distinct hashes): persist so the
    // upstream signature computation happens once (16 B/doc)
    val sigs = Caching.persist(sigs0)

    // pairs inside an identical-hash cluster: hamming 0, no bucketing
    val m1 = sigs.select(col(hashCol).as("h"), col(idCol).as("a"))
    val m2 = sigs.select(col(hashCol).as("h"), col(idCol).as("b"))
    val eqPairs = m1.join(m2, "h").filter(col("a") < col("b"))
      .select(col("a"), col("b"), lit(0).as("hamming"))

    // distinct-hash candidates via the pigeonhole chunk join
    val reps = sigs.select(hashCol).distinct()
    val chunkKeys = array((0 until chunks).map { c =>
      struct(lit(c).as("ci"),
        shiftright(col(hashCol), c * width).bitwiseAND(mask).as("cv"))
    }: _*)
    val buckets = reps.select(col(hashCol), explode(chunkKeys).as("ck"))
      .select(col(hashCol), col("ck.ci").as("ci"), col("ck.cv").as("cv"))
    val ha = buckets.select(col("ci"), col("cv"), col(hashCol).as("h_a"))
    val hb = buckets.select(col("ci"), col("cv"), col(hashCol).as("h_b"))
    val hashPairs = ha.join(hb, Seq("ci", "cv")).filter(col("h_a") < col("h_b"))
      .select("h_a", "h_b").distinct()
      .withColumn("hamming", bit_count(col("h_a").bitwiseXOR(col("h_b"))))
      .filter(col("hamming") <= maxHamming)

    // expand qualifying hash pairs to their member documents
    val crossPairs = hashPairs
      .join(m1.withColumnRenamed("h", "h_a"), "h_a")
      .join(m2.withColumnRenamed("h", "h_b"), "h_b")
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"), col("hamming"))

    eqPairs.unionByName(crossPairs)
  }

  /** Multi-index-hashing variant of [[hammingNearPairs]] for radii AT
    * OR BEYOND the chunk count — where the plain pigeonhole would need
    * chunks > radius and its key space collapses (8 chunks of 8 bits
    * have only 256 bucket values each, so buckets saturate with corpus
    * size and the candidate join goes quadratic — measured 13× cost on
    * 10× docs for the media phash at radius 7). MIH (Norouzi,
    * Punjani & Fleet, CVPR '12 — public algorithm): split the hash
    * into `chunks` WIDE substrings; by the pigeonhole, a pair within
    * `maxHamming` agrees within ⌊maxHamming/chunks⌋ bits on SOME
    * chunk. For per-chunk radius ≤ 1 each distinct hash PROBES its
    * chunk value plus that value's single-bit flips, joined against
    * the other side's DIRECT chunk values — 16-bit chunks keep 65 536
    * bucket values, so candidates scale D²/2^16 per chunk in distinct
    * hashes D while the probe fan-out stays a constant
    * `(1 + width) · chunks` keys per hash. Output is IDENTICAL to
    * [[hammingNearPairs]] (exact bit_count verification); only the
    * candidate generation changes. Radii below the chunk count
    * delegate to the plain pigeonhole (fewer keys, same buckets). */
  def hammingNearPairsMih(sigs0: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int = 7, chunks: Int = 4): DataFrame = {
    require(64 % chunks == 0, s"chunks must divide 64, got $chunks")
    if (maxHamming < chunks)
      return hammingNearPairs(sigs0, idCol, hashCol, maxHamming, chunks)
    val width = 64 / chunks
    require(maxHamming / chunks <= 1,
      s"per-chunk radius ⌊$maxHamming/$chunks⌋ > 1 unsupported; raise chunks")
    val mask = (1L << width) - 1
    val sigs = Caching.persist(sigs0)

    val m1 = sigs.select(col(hashCol).as("h"), col(idCol).as("a"))
    val m2 = sigs.select(col(hashCol).as("h"), col(idCol).as("b"))
    val eqPairs = m1.join(m2, "h").filter(col("a") < col("b"))
      .select(col("a"), col("b"), lit(0).as("hamming"))

    val reps = sigs.select(hashCol).distinct()
    def chunkVal(c: Int) =
      shiftright(col(hashCol), c * width).bitwiseAND(mask)
    val directKeys = array((0 until chunks).map { c =>
      struct(lit(c).as("ci"), chunkVal(c).as("cv"))
    }: _*)
    // the identity probe covers chunk-distance 0; each single-bit flip
    // covers chunk-distance 1 — one side probes, the other files once
    val probeKeys = array((for {
      c <- 0 until chunks
      b <- -1 until width
    } yield struct(lit(c).as("ci"),
      (if (b < 0) chunkVal(c)
       else chunkVal(c).bitwiseXOR(lit(1L << b))).as("cv"))): _*)
    val direct = reps.select(col(hashCol).as("h_b"), explode(directKeys).as("ck"))
      .select(col("ck.ci").as("ci"), col("ck.cv").as("cv"), col("h_b"))
    val probes = reps.select(col(hashCol).as("h_a"), explode(probeKeys).as("pk"))
      .select(col("pk.ci").as("ci"), col("pk.cv").as("cv"), col("h_a"))
    val hashPairs = probes.join(direct, Seq("ci", "cv"))
      .filter(col("h_a") < col("h_b"))
      .select("h_a", "h_b").distinct()
      .withColumn("hamming", bit_count(col("h_a").bitwiseXOR(col("h_b"))))
      .filter(col("hamming") <= maxHamming)

    val crossPairs = hashPairs
      .join(m1.withColumnRenamed("h", "h_a"), "h_a")
      .join(m2.withColumnRenamed("h", "h_b"), "h_b")
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"), col("hamming"))

    eqPairs.unionByName(crossPairs)
  }

  // =====================================================================
  // Character n-gram Jaccard
  // =====================================================================

  /** Distinct character n-grams of a text column. */
  def charNgrams(text: Column, n: Int): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(length(text) - (n - 1), lit(1))),
      i => text.substr(i, lit(n))))

  /** Exact n-gram-Jaccard pairs ≥ threshold via a shared-gram inverted
    * index: explode grams, drop grams appearing in more than `maxDf`
    * docs (stop-gram cap — the skew guard), self-join on the gram, count
    * shared grams per pair, then jaccard from the true set sizes.
    *
    * Correctness note: dropping a stop-gram can only *miss* pairs whose
    * every shared gram is a stop-gram — acceptable for near-dup mining;
    * raise maxDf for exactness on small corpora.
    *
    * Cost note: candidate volume is bounded by Σ_g df(g)² ≤ maxDf ·
    * Σ_g df(g) — maxDf is THE knob. A gram shared by maxDf docs already
    * carries no near-dup signal, so keep the cap tight (a few hundred):
    * 1000 → 200 cut the sf0.1 run 23.6 s → seconds with identical
    * output on the corpus (common-English 5-grams dominate above it). */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, threshold: Double = 0.5, maxDf: Int = 200): DataFrame =
    sharedGramCounts(df, idCol, textCol, n, maxDf)
      .withColumn("jaccard", col("common").cast(DoubleType) /
        (col("sz_a") + col("sz_b") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "jaccard")

  /** Shared-gram counts per candidate pair (a < b): (a, b, common,
    * sz_a, sz_b) — the inverted-index core of the n-gram family. */
  private def sharedGramCounts(df: DataFrame, idCol: String, textCol: String,
      n: Int, maxDf: Int): DataFrame = {
    // Gram arrays are materialized ONCE (an interpreted HOF transform —
    // the most expensive projection here) and persisted: sizes, the df
    // count, and both sides of the self-join all read the same frame
    // instead of re-tokenizing the corpus up to 4×.
    val gsets = Caching.persist(
      df.select(col(idCol), charNgrams(col(textCol), n).as("__g")))
    val grams = gsets.select(col(idCol), explode(col("__g")).as("g"))
    val sizes = gsets.select(col(idCol), size(col("__g")).as("sz"))
    // Document frequency via groupBy (map-side partial counts), NOT a
    // partitionBy(g) window: a window would shuffle every occurrence of
    // a stop-gram (" the " at corpus scale: billions of rows) to one
    // reducer before the cap could drop anything. The stop-gram set
    // itself is tiny (in practice the few hundred most common grams),
    // so the anti-join broadcasts under AQE and the gram stream never
    // skews.
    val stopGrams = grams.groupBy("g").agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxDf).select("g")
    // persisted: consumed by both sides of the self-join
    val kept = Caching.persist(grams.join(stopGrams, Seq("g"), "left_anti"))
    val shared = kept.select(col("g"), col(idCol).as("a"))
      .join(kept.select(col("g"), col(idCol).as("b")), "g")
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("common"))
    shared
      .join(sizes.select(col(idCol).as("a"), col("sz").as("sz_a")), "a")
      .join(sizes.select(col(idCol).as("b"), col("sz").as("sz_b")), "b")
  }

  /** DIRECTIONAL n-gram containment pairs: C(A→B) = |A∩B| / |A| ≥
    * `threshold` — catches a short document subsumed by a longer one,
    * which symmetric Jaccard structurally misses (a 50-gram doc inside
    * a 5000-gram doc has J ≈ 0.01 but containment 1.0). The standard
    * screen for quote/boilerplate subsumption and benchmark leakage
    * where the contaminated doc EMBEDS the benchmark item. Both
    * directions of every candidate pair are scored independently;
    * output (inner_id, outer_id, containment). Same inverted-index +
    * stop-gram-cap machinery — and the same "shared grams all stopped"
    * miss caveat — as [[ngramJaccardPairs]]. */
  def ngramContainmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, threshold: Double = 0.8, maxDf: Int = 200): DataFrame = {
    val both = Caching.persist(sharedGramCounts(df, idCol, textCol, n, maxDf))
    both.select(col("a").as("inner_id"), col("b").as("outer_id"),
        (col("common").cast(DoubleType) / col("sz_a")).as("containment"))
      .unionAll(both.select(col("b").as("inner_id"), col("a").as("outer_id"),
        (col("common").cast(DoubleType) / col("sz_b")).as("containment")))
      .filter(col("containment") >= threshold)
  }

  // =====================================================================
  // Blocked edit-distance join (entity resolution)
  // =====================================================================

  /** All DISTINCT-value pairs of `strCol` within Levenshtein distance
    * `maxDist` — the fuzzy-match primitive for entity resolution
    * (name/address/title matching). Candidate generation blocks on
    * STRING LENGTH: |len(a) − len(b)| ≤ maxDist is a necessary
    * condition for dist ≤ maxDist, so pairing only length-compatible
    * strings is lossless. Lengths are bucketed into slots of width
    * 2·maxDist+1 with each probe row replicated to its ≤2 covering
    * slots (the same exact-long slot trick as
    * [[TemporalJoins.boundedRangeJoin]]) — a bounded equi-join, never
    * an all-pairs product across length classes.
    *
    * Scale shape: the join runs over DISTINCT values (entity-name
    * domains are orders of magnitude smaller than fact tables). A hot
    * length class — a million 12-character names — would still go
    * quadratic on length alone, so blocking composes a SECOND lossless
    * axis: the char-class count f(s) = #chars of s in a fixed half-
    * alphabet class. Any single edit op moves f by at most 1 (insert/
    * delete of a class char: ±1; substitution across the class
    * boundary: ±1), so |f(a) − f(b)| ≤ maxDist is necessary exactly
    * like the length condition, and the same slot trick applies —
    * candidates within a (length, class-count) cell only, probe rows
    * replicated to ≤ 4 covering cells. A hot length class splits
    * across ~len/w class-count cells (names distribute their letters),
    * turning one quadratic bucket into many small ones without losing
    * a single true pair. The verify itself is Spark's codegen'd
    * `levenshtein`. Output (a, b, dist), a < b. */
  def editDistancePairs(df: DataFrame, strCol: String, maxDist: Int): DataFrame =
    editDistanceCandidates(df, strCol, maxDist)
      .withColumn("dist", levenshtein(col("a"), col("b")).cast(LongType))
      .filter(col("dist") <= maxDist)
      .select("a", "b", "dist")

  /** The pre-verify candidate pairs of [[editDistancePairs]] — package
    * surface so the blocking bound is pin-able: the spec counts these
    * on a hot-length-class fixture. */
  private[graft] def editDistanceCandidates(df: DataFrame, strCol: String,
      maxDist: Int): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    val w = 2L * maxDist + 1
    def slot(l: Column): Column = graft.functions.ExactMath.floorDiv(l, w)
    def classCount(s: Column): Column =
      (length(s) - length(translate(s, "abcdefghijklm", ""))).cast(LongType)
    val names = df.select(col(strCol).as("a")).distinct()
      .withColumn("__la", length(col("a")).cast(LongType))
      .withColumn("__fa", classCount(col("a")))
    val probe = names
      .withColumn("__slot", explode(array_distinct(array(
        slot(col("__la") - maxDist), slot(col("__la") + maxDist)))))
      .withColumn("__fslot", explode(array_distinct(array(
        slot(col("__fa") - maxDist), slot(col("__fa") + maxDist)))))
    val build = names.select(col("a").as("b"), col("__la").as("__lb"),
        col("__fa").as("__fb"))
      .withColumn("__slot", slot(col("__lb")))
      .withColumn("__fslot", slot(col("__fb")))
    probe.join(build, Seq("__slot", "__fslot"))
      .filter(col("a") < col("b") &&
        abs(col("__la") - col("__lb")) <= maxDist &&
        abs(col("__fa") - col("__fb")) <= maxDist)
      .select("a", "b")
  }

  /** EXACT set-similarity join via prefix filtering (Chaudhuri/Ganti/
    * Kaushik ICDE'06; Xiao et al.'s PPJoin family) over word-shingle
    * sets — the exactness-guaranteed complement to the approximate
    * dedups: [[minhashNearDuplicates]] loses pairs to banding
    * probability and [[ngramJaccardPairs]] to the stop-gram cap; this
    * join returns EVERY pair with Jaccard ≥ threshold, provably.
    *
    * Principle: order all shingles by a global rarest-first key
    * (corpus df, then the shingle itself); a set of size s keeps only
    * its p = s − ⌈t·s⌉ + 1 smallest shingles as its prefix. Any two
    * sets with J ≥ t overlap in ≥ ⌈t·max(sa,sb)⌉ shingles, too many to
    * hide in either suffix (length ⌈t·s⌉ − 1 < the overlap), so the
    * rarer end of the overlap necessarily lands in BOTH prefixes — the
    * prefix-shingle equi-join is a complete candidate generator, and
    * the exact verify only discards.
    *
    * Scale shape: one df-count aggregation (map-side partials), one
    * freq join, per-doc prefix selection via an in-row array_sort (no
    * global rank, no single-partition window), candidate equi-join on
    * prefix shingles, verify join against the persisted shingle-set
    * frame. Rarest-first is also why buckets stay small WITHOUT a cap:
    * prefixes are drawn from the low-df tail by construction — the
    * stop-shingle problem the n-gram path caps away cannot arise. Cost
    * grows with threshold looseness (smaller t → longer prefixes), the
    * documented PPJoin trade. */
  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, n: Int = 3): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1], got $threshold")
    val tsets = Caching.persist(
      df.select(col(idCol),
        shinglesFromTokens(graft.operators.TextAnalysis.tokens(col(textCol)), n).as("__s"))
        .filter(size(col("__s")) > 0))
    val sh = tsets.select(col(idCol), explode(col("__s")).as("sh"))
    val freq = sh.groupBy("sh").agg(count(lit(1)).as("__df"))
    val prefixes = sh.join(freq, Seq("sh"))
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("__df"), col("sh")))).as("__sorted"))
      .withColumn("__sz", size(col("__sorted")))
      .withColumn("__p",
        (col("__sz") - ceil(lit(threshold) * col("__sz")) + 1).cast("int"))
      .select(col(idCol), col("__sz"),
        explode(transform(slice(col("__sorted"), lit(1), col("__p")), x => x("sh"))).as("sh"))
    // PPJoin's length filter: J ≥ t ⇒ |A∩B| ≥ t·max(sa,sb), and the
    // overlap fits in the smaller set, so t·sb ≤ sa (and vice versa) —
    // prunes candidates inline at the equi-join, changes no output
    val cand = prefixes.select(col("sh"), col(idCol).as("a"), col("__sz").as("__sza"))
      .join(prefixes.select(col("sh"), col(idCol).as("b"), col("__sz").as("__szb")), "sh")
      .filter(col("a") < col("b"))
      .filter(col("__sza") >= lit(threshold) * col("__szb") &&
        col("__szb") >= lit(threshold) * col("__sza"))
      .select("a", "b").distinct()
    cand
      .join(tsets.select(col(idCol).as("a"), col("__s").as("__sa")), "a")
      .join(tsets.select(col(idCol).as("b"), col("__s").as("__sb")), "b")
      .withColumn("jaccard",
        size(array_intersect(col("__sa"), col("__sb"))).cast(DoubleType) /
          size(array_union(col("__sa"), col("__sb"))))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "jaccard")
  }

  /** Decontamination: corpus documents overlapping ANY benchmark
    * document by char-n-gram jaccard ≥ threshold — the train/test
    * contamination check every pretraining pipeline runs before
    * training. Output: (doc_id, bench_id, jaccard).
    *
    * Scale shape: the benchmark is test-set sized (thousands of docs),
    * so its exploded gram index is broadcast-sized and the join never
    * shuffles the corpus text; the corpus side is one gram explode with
    * the same corpus-df stop-gram cap as [[ngramJaccardPairs]] (a gram
    * in >maxDf corpus docs carries no contamination signal but would
    * fan every benchmark hit out across the corpus). Same cap caveat:
    * a pair whose EVERY shared gram is a stop-gram is missed — raise
    * maxDf for exactness on small corpora. */
  def ngramContamination(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 5, threshold: Double = 0.5,
      maxDf: Int = 200): DataFrame = {
    val cg = Caching.persist(
      corpus.select(col(idCol), charNgrams(col(textCol), n).as("__g")))
    val bg = benchmark.select(col(idCol).as("bench_id"),
      charNgrams(col(textCol), n).as("__g"))
    val corpusGrams = cg.select(col(idCol), explode(col("__g")).as("g"))
    contaminationFinish(corpusGrams, cg, bg, idCol, threshold, maxDf)
  }

  /** The shared tail of BOTH contamination pipelines — stop-gram df
    * cap over the (possibly Bloom-pruned) corpus grams, exact
    * benchmark gram equi-join, jaccard from the full set sizes,
    * threshold. ONE implementation on purpose: the bloom variant's
    * whole contract is output-identity with the plain form, and a
    * formula or cap change applied to a duplicated tail in only one
    * of them would break that silently. */
  private def contaminationFinish(corpusGrams: DataFrame, cg: DataFrame,
      bg: DataFrame, idCol: String, threshold: Double, maxDf: Int): DataFrame = {
    val benchGrams = bg.select(col("bench_id"), explode(col("__g")).as("g"))
    val stopGrams = corpusGrams.groupBy("g").agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxDf).select("g")
    val kept = corpusGrams.join(stopGrams, Seq("g"), "left_anti")
    val shared = kept.join(benchGrams, "g")
      .groupBy(idCol, "bench_id").agg(count(lit(1)).as("common"))
    shared
      .join(cg.select(col(idCol), size(col("__g")).as("sz_c")), idCol)
      .join(bg.select(col("bench_id"), size(col("__g")).as("sz_b")), "bench_id")
      .withColumn("jaccard", col("common").cast(DoubleType) /
        (col("sz_c") + col("sz_b") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(idCol, "bench_id", "jaccard")
  }

  /** Bloom-prefiltered decontamination — identical OUTPUT to
    * [[ngramContamination]], different 100 TB shape: instead of
    * shuffling every corpus gram into the stop-gram df aggregate and
    * the benchmark join, a Bloom filter of the benchmark's distinct
    * grams ([[RuntimeFilter]] — broadcast one-row bitmap, codegen'd
    * xxhash64 probes) drops the non-overlapping corpus-gram majority
    * map-side, BEFORE any shuffle. Against a test-set-sized benchmark
    * the overwhelming majority of a pretraining corpus's grams match
    * nothing; at 100 TB that majority never leaves its scan partition.
    * The prefilter's selectivity IS 1 − (corpus∩benchmark gram-
    * occurrence fraction): on a benchmark drawn from the corpus's own
    * distribution (e.g. the synthetic fixture, 99.7% overlap) there is
    * no prunable majority and the bloom build+probe is pure overhead —
    * use the plain [[ngramContamination]] there; the bloom form is for
    * the real decontamination setting (mostly-disjoint held-out text).
    *
    * Output equivalence is structural, not approximate:
    *  - no false negatives — every gram actually in the benchmark
    *    survives the prefilter, and ALL of its corpus occurrences do
    *    (membership depends only on the gram), so the surviving grams'
    *    document frequencies equal their full-corpus df and the
    *    stop-gram cap (> maxDf) fires for exactly the same grams;
    *  - false positives survive the prefilter but match nothing in the
    *    exact benchmark equi-join that follows — they cost shuffle
    *    volume (~fpp of the pruned majority), never correctness.
    * Size mBits for the benchmark's distinct gram count (~10-15
    * bits/gram; the 2^20 default covers ~100k grams at ~1% fpp). */
  def ngramContaminationBloom(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 5, threshold: Double = 0.5,
      maxDf: Int = 200, mBits: Int = 1 << 20, k: Int = 3): DataFrame = {
    val cg = Caching.persist(
      corpus.select(col(idCol), charNgrams(col(textCol), n).as("__g")))
    val bg = benchmark.select(col(idCol).as("bench_id"),
      charNgrams(col(textCol), n).as("__g"))
    val words = RuntimeFilter.buildBloom(
      bg.select(explode(col("__g")).as("g")).distinct(), "g", mBits, k)
    val pruned = RuntimeFilter.prune(
      cg.select(col(idCol), explode(col("__g")).as("g")), "g", words, mBits, k)
    // the shared tail computes the stop-gram df over the PRUNED grams:
    // for any gram that can reach the join (i.e. is in the benchmark)
    // pruned-df == full-df, so the cap fires identically; for bloom
    // false positives the cap only drops rows the exact join would
    // discard anyway.
    contaminationFinish(pruned, cg, bg, idCol, threshold, maxDf)
  }

  // =====================================================================
  // Cluster resolution (connected components)
  // =====================================================================

  /** Resolve pairwise near-duplicate matches into CLUSTERS — the last
    * stage of every real dedup pipeline: the pair lists emitted by
    * [[minhashNearDuplicates]] / [[simhashNearPairs]] /
    * [[ngramJaccardPairs]] are edges of a similarity graph, and "keep
    * one copy" means "keep one document per connected component", not
    * per pair (A~B and B~C must collapse A,B,C together even when A~C
    * was never emitted). Returns (idCol, cluster_id, keep) for EVERY
    * document: cluster_id = the minimum document id in the component,
    * keep = this document is the component's representative. Documents
    * in no pair are their own singleton cluster.
    *
    * Algorithm: distributed min-label propagation WITH pointer
    * jumping. Each vertex starts labeled with its own id; every round
    * (1) it takes the min of its label and its neighbors' labels, then
    * (2) compresses one hop: label(v) := label(label(v)). Step 2 is
    * the difference between O(diameter) and O(log diameter) rounds —
    * near-dup graphs are mostly dense near-cliques, but template-heavy
    * corpora DO produce long chains (A≈B≈C≈… with A,C dissimilar), and
    * plain propagation walks them one hop per round (observed: a
    * 10×-scale documents table whose chain diameter exceeded 20
    * rounds; with compression the same graph converges in 16). Both
    * steps keep the invariant label(v) ∈ component(v) ∧ label(v) ≤ v,
    * and the common fixpoint is one label per component = the
    * component's min id. Per round: two shuffle joins (edge × label,
    * label × label) + one map-side-partial min aggregation, all O(E) —
    * no collect, no driver-side graph. Throws if `maxIter` rounds
    * don't reach the fixpoint (silently-unmerged clusters would
    * corrupt a dedup downstream); 20 doubling rounds cover any
    * realistic diameter (~10⁶). The rounds run on [[Rounds]]. */
  def connectedComponents(vertices: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String = "a", bCol: String = "b",
      maxIter: Int = 20): DataFrame = Rounds(vertices.sparkSession) { loop =>
    // both edge directions in ONE pass over `pairs` (the shared
    // [[Graph.symmetricEdges]] construction)
    val edges = loop.persist(Graph.symmetricEdges(pairs, aCol, bCol))
    // iterate ONLY over edge endpoints: in a real corpus the near-dup
    // graph touches a small fraction of documents, and dragging every
    // singleton through each round's joins and checkpoints multiplies
    // the per-round cost by corpus/endpoints for no information —
    // singletons get their identity label in the final join instead
    val init = loop.checkpoint(edges.select(col("__u"))
      .distinct().withColumn("__lbl", col("__u")))
    // converged once no label moved — a scan of materialized round
    // output. Null-safe (ADVICE r20): under the exactly-one-self-row
    // invariant __old is never NULL, but if that invariant ever broke,
    // `=!=` would drop the NULL rows from the non-converged set and
    // silently declare a premature fixpoint (split clusters); `<=>`
    // keeps such rows non-converged so the breakage surfaces as a loud
    // non-convergence throw instead
    val ran = loop.rounds("connectedComponents", maxIter, init)(
        (_, next) => next.filter(!(col("__lbl") <=> col("__old"))).isEmpty) {
      (prev, _) =>
        // (the seed has no __old column: dropping it is then a no-op)
        val labels = prev.drop("__old")
        // (1) label(u) := min(own label, min over neighbor labels) — the
        // neighbor contributions and the self row fused into ONE union +
        // ONE aggregation (r20, guide §2.3/§2.4: the former per-round
        // nbrMin groupBy + left-join-back pair paid two extra exchanges,
        // and since the pointer jump's self-join evaluates `stepped`
        // twice — exchange reuse cannot kick in because the two sides
        // project different columns — the saving is doubled). An eager
        // checkpoint here instead would kill the double-compute outright
        // but was measured SLOWER end-to-end (one more materialization
        // barrier per round — +12 actions across the capstone's two CC
        // runs outweighed the saved recompute). __old (the pre-round
        // label) rides the SAME aggregation as the self row's label —
        // exactly one __self row exists per vertex.
        val stepped = edges
          .join(labels.withColumnRenamed("__u", "__v"), "__v")
          .select(col("__u"), col("__lbl"), lit(false).as("__self"))
          .unionByName(labels.select(col("__u"), col("__lbl"),
            lit(true).as("__self")))
          .groupBy("__u")
          .agg(min(col("__lbl")).as("__lbl"),
            min(when(col("__self"), col("__lbl"))).as("__old"))
        // (2) pointer jump: label(v) := label(label(v)) — path
        // compression, the difference between O(diameter) and
        // O(log diameter) rounds. Every label IS a vertex id (a min over
        // component member ids), so the inner self-join is total and the
        // jump only decreases the label. ONE jump per round: chaining a
        // second jump before the checkpoint nests self-joins of the same
        // un-materialized plan and planning/execution degenerates —
        // measured minutes instead of seconds per round.
        val parents = stepped
          .select(col("__u").as("__pu"), col("__lbl").as("__plbl"))
        loop.checkpoint(stepped.join(parents, col("__lbl") === col("__pu"))
          .select(col("__u"), col("__plbl").as("__lbl"), col("__old")))
    }
    if (!ran.fixpoint) throw new IllegalStateException(
      s"connectedComponents did not reach a fixpoint in $maxIter rounds; " +
        "raise maxIter (non-converged labels would silently split clusters)")
    vertices.select(col(idCol))
      .join(ran.state.drop("__old").withColumnRenamed("__u", idCol),
        Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__lbl"), col(idCol)).as("cluster_id"),
        (coalesce(col("__lbl"), col(idCol)) === col(idCol)).as("keep"))
  }

  /** Quality-aware cluster survivorship: [[connectedComponents]]'s
    * min-id keeper replaced by the keeper a curation pipeline
    * actually wants — the member that MAXIMIZES `score` (ties broken
    * by smallest id; a total deterministic order, so both engines
    * agree bit-for-bit). This is the "keep the best copy" rule of
    * the public dedup pipelines (C4 / CCNet-style near-dup
    * resolution keeps the longest or highest-LM-quality member, not
    * an arbitrary representative): min-id keeps WHICH cluster
    * deterministic, this keeps WHAT survives principled — a
    * truncated mirror of a page must lose to the full original even
    * when its id happens to be smaller.
    *
    * Scale shape: the CC labels (pointer-jumping, endpoint-only
    * rounds) plus one score join and one per-cluster `max_by`
    * argmax — a single extra key shuffle over the cluster id on top
    * of the CC cost; no windows over the corpus, no driver state.
    *
    * Returns one row per input document: (idCol, cluster_id,
    * n_members, keeper_id, keep) — `keep` marks the argmax member,
    * singletons keep themselves. */
  def keepBestPerCluster(df: DataFrame, idCol: String, pairs: DataFrame,
      score: Column, aCol: String = "a", bCol: String = "b",
      maxIter: Int = 20): DataFrame =
    keepBestFromClusters(
      connectedComponents(df.select(col(idCol)), idCol, pairs,
        aCol, bCol, maxIter).select(col(idCol), col("cluster_id")),
      df.select(col(idCol), score.as("__score")), idCol)

  /** The survivorship half of [[keepBestPerCluster]] over an ALREADY
    * RESOLVED cluster map — the piece that composes with
    * [[clustersMaintain]]'s maintained map so the curation DECISION
    * itself stays fresh under CDC (an updated doc whose quality grew
    * can take over its cluster; a deleted keeper's runner-up
    * surfaces). `clusters` is (idCol, cluster_id); `scored` is
    * (idCol, __score) and MUST cover every clustered id — a cluster
    * member missing from the score frame fails LOUDLY (raise_error)
    * instead of silently vanishing from the output, shrinking
    * n_members and possibly moving keeper_id (the stale/partial
    * score-frame hazard). Shuffle shape: one cluster-keyed count+max,
    * then a tie-filtered min — every stage keyed on cluster_id, so
    * the later exchanges reuse the first shuffle's partitioning. */
  def keepBestFromClusters(clusters: DataFrame, scored: DataFrame,
      idCol: String): DataFrame = {
    val members = clusters.join(scored, Seq(idCol), "left")
      .withColumn("__score",
        when(col("__score").isNull, raise_error(concat(
          lit("keepBestFromClusters: no score for clustered id "),
          col(idCol).cast("string"))))
          .otherwise(col("__score")))
    // argmax by (score DESC, id ASC) WITHOUT negating the id — the
    // -col(idCol) struct tie-break assumed a numeric id (string doc
    // ids failed to resolve; Long.MinValue negation overflows under
    // ANSI). Generic shape: per-cluster max score, then the SMALLEST
    // id among the score ties — the same total order as the oracle's
    // (sc DESC, doc_id ASC) window, for any orderable id type.
    val best = members.groupBy(col("cluster_id")).agg(
      count(lit(1)).as("n_members"), max(col("__score")).as("__best"))
    val withBest = members.join(best, Seq("cluster_id"))
    val keeper = withBest.filter(col("__score") === col("__best"))
      .groupBy(col("cluster_id")).agg(min(col(idCol)).as("keeper_id"))
    withBest.join(keeper, Seq("cluster_id"))
      .select(col(idCol), col("cluster_id"), col("n_members"),
        col("keeper_id"), (col(idCol) === col("keeper_id")).as("keep"))
  }

  /** The maintained near-dup cluster index: signatures (one 64-bit
    * simhash per live doc), the near-pair edge set at the HASH level
    * — (h_a, h_b) distinct-hash pairs within the radius, h_a < h_b —
    * and the cluster map. Hash-level edges (r19, replacing doc-level
    * pairs) make the state a pure function of the live corpus with
    * size O(docs + near-hash-pairs) instead of O(near-doc-pairs): a
    * pathological all-duplicates feed used to persist N²/2 hamming-0
    * edges in the `pairs/` stream home; identical-content
    * connectivity is now implicit in the signature index and
    * doc-level edges are derived per CC run by [[docEdges]]. */
  final case class ClusterIndexState(sigs: DataFrame, pairs: DataFrame,
      clusters: DataFrame)

  /** The CHANGE a maintenance fold made to each [[ClusterIndexState]]
    * home, as latest-wins delta rows — `__dop` 'U' (upsert, full
    * payload) / 'D' (delete, payload NULL) plus the home's columns,
    * at most one row per key, and every frame FEED-BOUNDED: sigs
    * tracks the batch's winner keys, pairs the affected-hash edge
    * churn, clusters the affected clusters' membership. Applying a
    * delta over the previous home (drop delta keys, add 'U' rows —
    * [[graft.streaming.DeltaStore.applyDelta]]) reproduces the next
    * home exactly; the streaming sinks persist THESE instead of the
    * corpus-sized full states (the r19 verdict's O(corpus)-write-per-
    * batch gap). */
  final case class ClusterIndexDeltas(sigs: DataFrame, pairs: DataFrame,
      clusters: DataFrame)

  /** A maintenance step's full result: the next standing state (what
    * batch callers consume) plus the per-home deltas (what the
    * streaming sinks commit). */
  final case class ClusterIndexUpdate(state: ClusterIndexState,
      deltas: ClusterIndexDeltas)

  /** Build the [[ClusterIndexState]] from scratch over a corpus — the
    * bootstrap, and the scratch-rebuild reference every maintenance
    * pin compares against (the state is a pure function of the live
    * corpus, so maintained ≡ bootstrap frame-for-frame).
    *
    * `checkpoint = true` eagerly `localCheckpoint`s the three state
    * frames (r21, guide §1.4/§3.3 lineage truncation): the COMPOSED
    * batch path (bootstrap ∘ [[clustersMaintain]]) runs ~150 AQE
    * stage-jobs, and with a lazy bootstrap every one of them re-plans
    * the full bootstrap subtree (signature build ∪ pigeonhole pair
    * search ∪ the CC run's final join) — the streaming twin gets flat
    * plans for free from its parquet homes, this flag is the batch
    * path's equivalent. Values are unchanged (same frames, cut
    * lineage); the blocks belong to the query scope ([[Caching]]), and
    * each frame is O(corpus keys), not O(corpus payload). The checkpointed sigs
    * frame replaces (not doubles) the persist — a checkpoint serves
    * repeat reads from its own blocks. */
  def clustersBootstrap(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, chunks: Int = 4, checkpoint: Boolean = false)
      : ClusterIndexState = {
    val sc = df.sparkSession.sparkContext
    val callerDesc = sc.getLocalProperty("spark.job.description")
    def flat(frame: DataFrame, label: String): DataFrame =
      if (!checkpoint) frame
      else {
        sc.setJobDescription(s"bootstrap $label")
        try Caching.localCheckpoint(frame)
        finally sc.setJobDescription(callerDesc)
      }
    // consumed by the pair search AND docEdges' canon + star
    val sigs =
      if (checkpoint) flat(simhashSignatures(df, idCol, textCol), "sigs")
      else Caching.persist(simhashSignatures(df, idCol, textCol))
    val hashPairs = flat(hashNearPairs(sigs, "simhash", maxHamming, chunks),
      "pairs")
    val clusters = flat(connectedComponents(df.select(col(idCol)), idCol,
        docEdges(sigs, idCol, "simhash", hashPairs))
      .select(col(idCol), col("cluster_id")), "clusters")
    ClusterIndexState(sigs, hashPairs, clusters)
  }

  /** Pigeonhole chunk-bucket keys for a 64-bit hash column — the
    * candidate-generation core shared by [[hammingNearPairs]]'s
    * scratch search and [[hashScreen]]'s probe. */
  private def chunkBuckets(reps: DataFrame, hashCol: String, out: String,
      chunks: Int): DataFrame = {
    val width = 64 / chunks
    val mask = (1L << width) - 1
    val chunkKeys = array((0 until chunks).map { c =>
      struct(lit(c).as("ci"),
        shiftright(col(hashCol), c * width).bitwiseAND(mask).as("cv"))
    }: _*)
    reps.select(col(hashCol).as(out), explode(chunkKeys).as("ck"))
      .select(col("ck.ci").as("ci"), col("ck.cv").as("cv"), col(out))
  }

  /** HASH-level near-pair search: all (h_a, h_b) pairs of DISTINCT
    * hash values within hamming ≤ maxHamming, h_a < h_b — the
    * pigeonhole chunk join of [[hammingNearPairs]] stopped BEFORE the
    * member expansion. This is the cluster index's stored edge
    * currency (see [[ClusterIndexState]]): hash-level pairs are a
    * pure function of the distinct-hash set, so N docs sharing one
    * hash contribute ZERO pair-state rows (identical-content
    * connectivity is implicit in the signature index) and two
    * near-dup template groups of sizes N and M contribute ONE row
    * instead of N·M. */
  private[graft] def hashNearPairs(sigs: DataFrame, hashCol: String,
      maxHamming: Int, chunks: Int): DataFrame = {
    require(maxHamming < chunks, "pigeonhole needs maxHamming < chunks")
    require(64 % chunks == 0, s"chunks must divide 64, got $chunks")
    val reps = sigs.select(hashCol).distinct()
    chunkBuckets(reps, hashCol, "h_a", chunks)
      .join(chunkBuckets(reps, hashCol, "h_b", chunks), Seq("ci", "cv"))
      .filter(col("h_a") < col("h_b"))
      .select("h_a", "h_b").distinct()
      .filter(bit_count(col("h_a").bitwiseXOR(col("h_b"))) <= maxHamming)
  }

  /** Probe-vs-index twin of [[hashNearPairs]]: hash pairs within the
    * radius where at least one side is a PROBE hash — the change
    * batch's (still-live) affected hashes — against the full live
    * hash set, which files once and never self-joins. Output
    * normalized (h_a < h_b), covering probe-probe pairs once. */
  private[graft] def hashScreen(probeHashes: DataFrame, allSigs: DataFrame,
      hashCol: String, maxHamming: Int, chunks: Int): DataFrame = {
    require(maxHamming < chunks, "pigeonhole needs maxHamming < chunks")
    require(64 % chunks == 0, s"chunks must divide 64, got $chunks")
    chunkBuckets(probeHashes.select(col("h").as(hashCol)), hashCol,
        "h_p", chunks)
      .join(chunkBuckets(allSigs.select(hashCol).distinct(), hashCol,
        "h_o", chunks), Seq("ci", "cv"))
      .filter(col("h_p") =!= col("h_o"))
      .select(least(col("h_p"), col("h_o")).as("h_a"),
        greatest(col("h_p"), col("h_o")).as("h_b"))
      .distinct()
      .filter(bit_count(col("h_a").bitwiseXOR(col("h_b"))) <= maxHamming)
  }

  /** Expand the hash-level edge state into DOC-level edges for a
    * connected-components run, with O(docs + hash-pairs) output:
    * within each hash group a STAR to the group's min-id member
    * (identical docs are near-dups by definition), and ONE edge per
    * qualifying hash pair between the two groups' min-id members.
    * Components equal the full pairwise expansion's — every member
    * reaches its group's representative, and representatives bridge
    * the groups — while a 500-copy template contributes 499 star
    * edges instead of ~125k pairs (and ZERO stored state). */
  private[graft] def docEdges(sigs: DataFrame, idCol: String,
      hashCol: String, hashPairs: DataFrame): DataFrame = {
    val canon = sigs.groupBy(col(hashCol)).agg(min(col(idCol)).as("__rep"))
    val eqStar = sigs.join(canon, Seq(hashCol))
      .filter(col(idCol) =!= col("__rep"))
      .select(least(col(idCol), col("__rep")).as("a"),
        greatest(col(idCol), col("__rep")).as("b"))
    val cross = hashPairs
      .join(canon.select(col(hashCol).as("h_a"), col("__rep").as("__ra")),
        Seq("h_a"))
      .join(canon.select(col(hashCol).as("h_b"), col("__rep").as("__rb")),
        Seq("h_b"))
      .select(least(col("__ra"), col("__rb")).as("a"),
        greatest(col("__ra"), col("__rb")).as("b"))
    eqStar.unionByName(cross)
  }

  /** Maintain the near-dup CLUSTER MAP under a document change feed —
    * the freshness family's graph member, and its second genuinely
    * NON-INVERTIBLE one: like MIN/MAX under deletes
    * ([[graft.operators.Cdc.maintainMinMaxView]]), cluster membership
    * cannot be repaired from the view alone — deleting a bridge
    * document SPLITS its component into parts no algebra can derive
    * without the edges, and one inserted near-dup can MERGE several
    * standing clusters. The honest split, same discipline:
    *
    *  - signatures fold in O(|Δ|): changed docs re-hash map-side, the
    *    carried index is touched by ONE key anti-join;
    *  - the stored edge set is HASH-level (see [[ClusterIndexState]])
    *    and changes only where the distinct-hash set changes: pairs
    *    touching an affected hash (a changed key's old hash or an
    *    upsert's new one) drop by two anti-joins and are re-derived
    *    by the [[hashScreen]] probe — affected-but-still-live hashes
    *    against the full live hash set, which files once and never
    *    self-joins. Pairs between two unaffected hashes carry over
    *    untouched (their membership may change, their distance
    *    cannot), so the maintained pair state stays a pure function
    *    of the live corpus;
    *  - ONLY the clusters touched by the batch recompute: the
    *    affected set is the old clusters of changed keys plus the
    *    clusters holding members of any affected hash or fresh-pair
    *    endpoint (≤ feed-bounded), their members are key-pruned from
    *    the carried map, and [[connectedComponents]] reruns on that
    *    induced subgraph alone over [[docEdges]]-derived edges.
    *    Untouched clusters carry over by one anti-join — correct
    *    because a carried cluster shares no vertex, no stored hash
    *    pair, and no hash group with the affected subgraph (same-hash
    *    docs always share a cluster), so merged-graph components
    *    never span the cut (the closure argument the spec pins by
    *    scratch-rebuild equality).
    *
    * Cluster ids are min-member-id — a pure function of membership —
    * so maintained ids are bit-equal to a scratch
    * [[clustersBootstrap]] over the merged corpus (the oracle's pin),
    * splits and merges included; so are the signature index and the
    * hash-level pair state.
    *
    * Feed contract: `(seqCol, opCol, idCol, textCol)`, op ∈ I/U/D,
    * payload NULL on deletes, seq feed-monotone. Cost per batch
    * tracks the FEED and the affected clusters' members — never the
    * corpus. */
  def clustersMaintain(prev: ClusterIndexState, changes: DataFrame,
      idCol: String, textCol: String, seqCol: String, opCol: String,
      maxHamming: Int = 3, chunks: Int = 4): ClusterIndexState =
    clustersMaintainUpdate(prev, changes, idCol, textCol, seqCol, opCol,
      maxHamming, chunks).state

  /** [[clustersMaintain]] that also returns the per-home DELTAS (see
    * [[ClusterIndexDeltas]]) — same algebra, same full next state; the
    * deltas fall out of frames the fold already computes (the batch
    * winner reduction, the affected-hash pair churn, the affected
    * clusters' membership), so asking for them adds joins only over
    * feed-bounded frames. */
  def clustersMaintainUpdate(prev: ClusterIndexState, changes: DataFrame,
      idCol: String, textCol: String, seqCol: String, opCol: String,
      maxHamming: Int = 3, chunks: Int = 4): ClusterIndexUpdate = {
    // persisted: the batch reduction feeds changedKeys (four key
    // anti/semi joins + the touched union) and ups (sigs + members) —
    // six lazy consumers would re-run the groupBy over the feed each
    val latest = Caching.persist(Cdc.latestChanges(
      changes.select(col(idCol), col(seqCol), col(opCol), col(textCol)),
      idCol, seqCol, opCol))
    val changedKeys = latest.select(col(idCol))
    val ups = latest.filter(col("__op") =!= "D")
      .select(col(idCol), col(textCol))
    val upsSigs = Caching.persist(simhashSignatures(ups, idCol, textCol))
    val nextSigs = Caching.persist(
      prev.sigs.join(changedKeys, Seq(idCol), "left_anti")
        .unionByName(upsSigs))
    // the sig home's delta IS the winner reduction: upserts carry
    // their new hash, delete winners a NULL one (a D for a key never
    // in the state is a harmless no-op under latest-wins)
    val sigDelta = upsSigs
      .select(lit("U").as("__dop"), col(idCol), col("simhash"))
      .unionByName(latest.filter(col("__op") === "D")
        .select(lit("D").as("__dop"), col(idCol),
          lit(null).cast(upsSigs.schema("simhash").dataType).as("simhash")))
    // persisted: the carried map is read by the affected derivation,
    // the carried-cluster anti-join, and the member semi-join — and in
    // the COMPOSED batch path (bootstrap ∘ maintain) each lazy read
    // would re-run the bootstrap's final labels join over the corpus
    val prevClusters = Caching.persist(prev.clusters)
    // affected hashes: a changed key's OLD hash (its group shrank or
    // died — one feed-bounded key join) plus every upsert's NEW hash
    val affectedHashes = Caching.persist(
      prev.sigs.join(changedKeys, Seq(idCol), "left_semi")
        .select(col("simhash").as("h"))
        .unionByName(upsSigs.select(col("simhash").as("h")))
        .distinct())
    val carriedPairs = prev.pairs
      .join(affectedHashes.select(col("h").as("h_a")), Seq("h_a"),
        "left_anti")
      .join(affectedHashes.select(col("h").as("h_b")), Seq("h_b"),
        "left_anti")
      // a USING join surfaces its key first — restore (h_a, h_b) so
      // the state schema (and positional consumers) stay stable
      .select(col("h_a"), col("h_b"))
    // re-derive the dropped pairs for affected hashes STILL LIVE in
    // the merged corpus; dead hashes (last member gone) stay dropped
    val liveAffected = affectedHashes
      .join(nextSigs.select(col("simhash").as("h")), Seq("h"), "left_semi")
    // persisted: feeds nextPairs AND (twice) the touched-hash set
    val freshPairs = Caching.persist(
      hashScreen(liveAffected, nextSigs, "simhash", maxHamming, chunks))
    val nextPairs = Caching.persist(carriedPairs.unionByName(freshPairs))
    // the pair home's delta: every stored pair touching an affected
    // hash that the screen did NOT re-derive is a delete; the screen's
    // fresh pairs are the upserts (a fresh pair that already existed
    // rewrites identical content — idempotent under latest-wins). The
    // two sides are disjoint by the anti-join, so the delta keeps the
    // one-row-per-key contract.
    val pairDelta = freshPairs
      .select(lit("U").as("__dop"), col("h_a"), col("h_b"))
      .unionByName(prev.pairs
        .join(affectedHashes.select(col("h").as("h_a"),
          lit(true).as("__ta")), Seq("h_a"), "left")
        .join(affectedHashes.select(col("h").as("h_b"),
          lit(true).as("__tb")), Seq("h_b"), "left")
        .filter(col("__ta").isNotNull || col("__tb").isNotNull)
        .select(col("h_a"), col("h_b"))
        .join(freshPairs, Seq("h_a", "h_b"), "left_anti")
        .select(lit("D").as("__dop"), col("h_a"), col("h_b")))
    // clusters that can change: those holding a changed key, a member
    // of an affected hash (an eq-merge partner group), or a fresh
    // hash pair's endpoint group. A DEAD hash contributes no members
    // here — but its former members are the changed keys themselves,
    // so their (possibly splitting) cluster is affected regardless.
    val touchedHashes = affectedHashes
      .unionByName(freshPairs.select(col("h_a").as("h")))
      .unionByName(freshPairs.select(col("h_b").as("h")))
      .distinct()
    val touched = changedKeys
      .unionByName(nextSigs
        .join(touchedHashes, nextSigs("simhash") === touchedHashes("h"),
          "left_semi")
        .select(col(idCol)))
      .distinct()
    // persisted: consumed by the carried-cluster anti-join AND the
    // member semi-join — one scan of the corpus-sized map, not two
    val affected = Caching.persist(
      prevClusters.join(touched, Seq(idCol), "left_semi")
        .select(col("cluster_id")).distinct())
    val carriedClusters = prevClusters
      .join(affected, Seq("cluster_id"), "left_anti")
      .select(col(idCol), col("cluster_id"))
    // localCheckpoint BOTH recompute inputs (eager): the CC loop
    // re-analyzes its per-round plans ~20×, and planning over the full
    // maintenance lineage (screen ∪ anti-joins ∪ the carried state's
    // own history) measured 49 s where the identical data behind a cut
    // lineage runs in 2.8 s — the pointer-jumping loop needs a flat
    // plan boundary, which the streaming twin gets for free from its
    // parquet homes. All frames are feed-bounded (affected members /
    // their signatures / their induced edges), so the checkpoints are
    // small by construction.
    val oldMembers = prevClusters
      .join(affected, Seq("cluster_id"), "left_semi")
      .select(col(idCol))
    val memberIds = oldMembers
      .join(changedKeys, Seq(idCol), "left_anti")
      .unionByName(ups.select(col(idCol)))
      .distinct()
    // every live member of a member's hash group is itself a member
    // (same-hash docs share a cluster, and that cluster is affected),
    // so the per-group min over memberSigs is the TRUE canon and
    // docEdges over the restriction is the true induced edge set.
    // ONE checkpoint instead of the former members + memberSigs pair
    // (r21): every member is live (old members anti changed keys, plus
    // upserts) and every live doc carries a signature in nextSigs, so
    // memberSigs.select(id) IS the member set — the separate member
    // checkpoint added an eager barrier for a frame this projection
    // reproduces exactly.
    val memberSigs = Caching.localCheckpoint(
      nextSigs.join(memberIds, Seq(idCol), "left_semi"))
    val members = memberSigs.select(col(idCol))
    val memberHashes = memberSigs.select(col("simhash")).distinct()
    val inducedHashPairs = nextPairs
      .join(memberHashes.select(col("simhash").as("h_a")), Seq("h_a"),
        "left_semi")
      .join(memberHashes.select(col("simhash").as("h_b")), Seq("h_b"),
        "left_semi")
    val inducedEdges = Caching.localCheckpoint(
      docEdges(memberSigs, idCol, "simhash", inducedHashPairs))
    val recomputed = connectedComponents(members, idCol, inducedEdges)
      .select(col(idCol), col("cluster_id"))
    // the cluster home's delta: the affected clusters' NEW membership
    // as upserts, their vanished members (deleted docs, and docs whose
    // recomputed cluster carries a different id — covered by the 'U'
    // overwrite) as deletes. Disjoint by the anti-join; both sides
    // bounded by the affected clusters' membership.
    val clusterDelta = recomputed
      .select(lit("U").as("__dop"), col(idCol), col("cluster_id"))
      .unionByName(oldMembers
        .join(recomputed.select(col(idCol)), Seq(idCol), "left_anti")
        .select(lit("D").as("__dop"), col(idCol),
          lit(null).cast(prevClusters.schema("cluster_id").dataType)
            .as("cluster_id")))
    ClusterIndexUpdate(
      ClusterIndexState(nextSigs, nextPairs,
        carriedClusters.unionByName(recomputed)),
      ClusterIndexDeltas(sigDelta, pairDelta, clusterDelta))
  }
}
