package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorOps._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Two paths:
  *  - [[bruteForceTopK]] — exact baseline: broadcast the (small) probe
  *    set against the corpus; the corpus is scanned once, map-only, no
  *    shuffle except the final per-probe top-k. Right answer whenever
  *    the probe set fits in a broadcast (the common "query batch"
  *    shape, even at 100 TB corpus scale).
  *  - [[lshTopK]] — scale path: random-hyperplane LSH buckets both
  *    sides, so candidate generation is a bucket-equi-join (shuffle on
  *    the bucket key) instead of a cross product. Recall is tunable via
  *    `planes` (fewer bits → bigger buckets → higher recall/cost).
  *
  * Hyperplanes are generated driver-side from a fixed seed and shipped
  * as literals — deterministic, no fitting step, no collect.
  */
object Similarity {

  /** Deterministic pseudo-Gaussian hyperplanes (seeded JVM RNG — the
    * java.util.Random algorithm is specified, so results are stable
    * across JVMs). */
  def randomPlanes(numPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(numPlanes)(Seq.fill(dim)(rng.nextGaussian()))
  }

  /** Deterministic uniform([-0.5, 0.5)) hyperplanes from a plain LCG
    * (glibc constants) over the flat index `seed + plane*dim + j`.
    * Statistically a bit weaker than [[randomPlanes]]' gaussians but
    * reproducible with pure integer arithmetic + one exact
    * power-of-two division in ANY engine — which makes LSH bucket
    * assignment itself cross-checkable against an independent SQL
    * engine (see the emb_cosine_pairs oracle in PipelineQueries). */
  def lcgPlanes(numPlanes: Int, dim: Int, seed: Long = 0L): Seq[Seq[Double]] =
    Seq.tabulate(numPlanes) { p =>
      Seq.tabulate(dim) { j =>
        val i = seed + p.toLong * dim + j
        ((1103515245L * i + 12345L) % 2147483648L).toDouble / 2147483648.0 - 0.5
      }
    }

  /** Exact cosine top-k of `corpus` for every row of `probes`.
    * Output: (probe_id, neighbor_id, cosine, rank). Excludes self-pairs. */
  def bruteForceTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cv"))
    val p = probes.select(col(idCol).as("probe_id"), asDouble(col(vecCol)).as("pv"))
    val scored = c.crossJoin(broadcast(p))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("pv"), col("cv")))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("probe_id", "neighbor_id", "cosine", "rank")
  }

  /** [[bruteForceTopK]] with the per-probe top-k computed by the native
    * [[graft.functions.TopKAggregate]] instead of a window: the map-side
    * partial aggregation reduces every partition to ≤ k candidates per
    * probe BEFORE the shuffle, so the exchange carries k·partitions rows
    * per probe instead of the whole scored corpus — the scale path for
    * exact ANN. Results are identical (same score-desc, id-asc order). */
  def bruteForceTopKAgg(corpus: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    import graft.functions.TopKAggregate.topK
    val c = corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cv"))
    val p = probes.select(col(idCol).as("probe_id"), asDouble(col(vecCol)).as("pv"))
    c.crossJoin(broadcast(p))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("pv"), col("cv")))
      .groupBy(col("probe_id"))
      .agg(topK(col("cosine"), col("neighbor_id"), col("neighbor_id"), k).as("top"))
      .select(col("probe_id"), posexplode(col("top")).as(Seq("pos", "entry")))
      .select(col("probe_id"), col("entry.payload").as("neighbor_id"),
        col("entry.score").as("cosine"), (col("pos") + 1).as("rank"))
  }

  /** Matryoshka truncation recall: for each prefix length in `dims`,
    * the measured recall@k of brute-force cosine search over the
    * TRUNCATED embedding (its first d components — the
    * Matryoshka-representation-learning deployment trick: one trained
    * vector, serve any prefix) against the full-dimension exact truth.
    * The before-you-truncate table — how much top-k fidelity each 2×
    * storage/compute saving costs on THIS corpus, in exact integers
    * (per-mille, `(1000·hits) div truth`), the ann-recall-eval
    * discipline applied to the dimension axis. Include the full
    * dimension in `dims` and its 1000‰ row is a built-in harness
    * audit.
    *
    * Scale shape: each prefix runs the same map-side bounded-heap
    * top-k as [[bruteForceTopKAgg]] (probes broadcast, corpus scanned
    * once per dim, never a probe×corpus shuffle); the recall join
    * touches only |probes|·k rows per dim. Truncation is a codegen'd
    * `slice`, no UDF. */
  def mrlRecallEval(corpus: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, dims: Seq[Int], k: Int): DataFrame = {
    require(dims.nonEmpty && dims.forall(_ >= 1),
      s"mrlRecallEval: dims must be non-empty positive, got $dims")
    val truth = bruteForceTopKAgg(corpus, probes, idCol, vecCol, k)
      .select("probe_id", "neighbor_id")
    dims.map { d =>
      val found = bruteForceTopKAgg(
          corpus.withColumn(vecCol, slice(col(vecCol), 1, d)),
          probes.withColumn(vecCol, slice(col(vecCol), 1, d)),
          idCol, vecCol, k)
        .select(col("probe_id"), col("neighbor_id"))
        .withColumn("__hit", lit(1L))
      truth.join(found, Seq("probe_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as("n_truth"),
          sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
        .select(lit(d.toLong).as("dims"), col("n_truth"), col("n_hit"),
          expr("(1000 * n_hit) div n_truth").as("recall_permille"))
    }.reduce(_.unionByName(_)).orderBy("dims")
  }

  /** All hamming-≤1 variants of a sign-bucket string — multi-probe LSH
    * (Lv et al., VLDB'07): probing the adjacent buckets recovers most
    * of the recall lost to a near-boundary hyperplane, for (planes+1)×
    * candidate cost on the (small) probe side only. */
  private def probeBuckets(bucket: Column, planes: Int): Column = {
    val flips = (0 until planes).map { i =>
      val bit = bucket.substr(i + 1, 1)
      concat(bucket.substr(lit(1), lit(i)),
        when(bit === "1", lit("0")).otherwise(lit("1")),
        bucket.substr(lit(i + 2), lit(planes - i - 1)))
    }
    array(bucket +: flips: _*)
  }

  /** LSH-bucketed approximate top-k: candidates are corpus rows sharing
    * (one of) the probe's hyperplane-sign buckets; exact cosine re-ranks
    * within the candidates. With b planes the corpus shards into ~2^b
    * buckets — choose b ≈ log2(corpus/expected-bucket-size) at scale.
    * Multi-probe (hamming-1 bucket expansion, probe side only) is on by
    * default: the corpus is still hashed ONCE into ONE bucket each, so
    * corpus-side cost is unchanged at 100 TB. */
  def lshTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, k: Int, planes: Int = 8, dim: Int = 64,
      seed: Long = 42L, multiProbe: Boolean = true,
      planeGen: (Int, Int, Long) => Seq[Seq[Double]] = randomPlanes): DataFrame = {
    val ps = planeGen(planes, dim, seed)
    val c = corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cv"))
      .withColumn("bucket", hyperplaneBucket(col("cv"), ps))
    val p0 = probes.select(col(idCol).as("probe_id"), asDouble(col(vecCol)).as("pv"))
      .withColumn("bucket0", hyperplaneBucket(col("pv"), ps))
    val p =
      if (multiProbe)
        p0.select(col("probe_id"), col("pv"),
          explode(probeBuckets(col("bucket0"), planes)).as("bucket"))
      else p0.withColumnRenamed("bucket0", "bucket")
    val scored = c.join(p, Seq("bucket"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("pv"), col("cv")))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("probe_id", "neighbor_id", "cosine", "rank")
  }

  // =====================================================================
  // IVF (inverted-file) ANN
  // =====================================================================

  /** Deterministic Lloyd's k-means over a driver-side training sample —
    * the IVF "train" step (Faiss-style: centroids are fitted on a small
    * sample, never the full corpus; at 100 TB you sample ~1M vectors).
    * Seeded start (evenly spaced sample points), fixed iteration count:
    * same input → same centroids on any cluster. */
  def fitCentroids(sample: Array[Array[Double]], nlist: Int,
      iters: Int = 10): Array[Array[Double]] = {
    require(sample.nonEmpty && sample.length >= nlist,
      s"need ≥ $nlist training vectors")
    val dim = sample.head.length
    var centroids = Array.tabulate(nlist)(i => sample(i * sample.length / nlist).clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(nlist)(new Array[Double](dim))
      val counts = new Array[Int](nlist)
      sample.foreach { v =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < nlist) {
          var d = 0.0; var j = 0
          while (j < dim) { val t = v(j) - centroids(c)(j); d += t * t; j += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        counts(best) += 1
        var j = 0
        while (j < dim) { sums(best)(j) += v(j); j += 1 }
      }
      centroids = Array.tabulate(nlist)(c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_ / counts(c)))
    }
    centroids
  }

  /** Squared-distance columns to each centroid:
    * ‖v‖² − 2·v·c + ‖c‖² — one native dot per centroid.
    * `private[operators]`: [[Quantization.ivfPqTopK]] rides the same
    * coarse quantizer so its cell assignment cannot drift from the
    * IVF family's. */
  private[operators] def centroidDists(v: Column, centroids: Array[Array[Double]]): Column = {
    val vNormSq = normSq(v)
    array(centroids.map { c =>
      val cLit = array(c.map(lit): _*)
      val cNormSq = c.map(x => x * x).sum
      vNormSq - lit(2.0) * dotNative(v, cLit) + lit(cNormSq)
    }: _*)
  }

  /** IVF-bucketed approximate top-k: the corpus is assigned ONCE to its
    * nearest of `nlist` centroid cells (the inverted file); each probe
    * searches its `nProbe` nearest cells. Candidate generation is an
    * equi-join on the cell id — shuffle ∝ corpus + probe×nProbe, never
    * O(n²). Exact cosine re-ranks candidates through the native top-k
    * aggregate. Recall/cost tune via nlist (cell size ≈ N/nlist) and
    * nProbe, independent of corpus scale. */
  /** Corpus-trained centroids on the deterministic UNIFORM sample:
    * order by a content hash of the id and take the first
    * `trainSample` — TakeOrderedAndProject keeps only trainSample rows
    * per partition before the driver merge, so this scales like
    * limit() but samples the whole corpus instead of a file-prefix (a
    * limit() sample is biased toward whatever happens to sort first on
    * disk — e.g. one source's documents). Shared by [[ivfTopK]],
    * [[semanticDedup]], and the standalone k-means fit/sample
    * operators so all four ride ONE trainer contract (and one oracle
    * re-derivation, the kmeansCellCtes chain in PipelineQueries). */
  def trainedCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, trainSample: Int): Array[Array[Double]] = {
    val train = corpus.select(asDouble(col(vecCol)), col(idCol))
      .orderBy(xxhash64(col(idCol)), col(idCol)).limit(trainSample)
      .collect().map(_.getSeq[Double](0).toArray)
    fitCentroids(train, nlist)
  }

  /** The inverted-file BUILD step alone: every corpus row filed under
    * its nearest of `centroids` (the expanded ‖v‖²−2v·c+‖c‖² argmin,
    * 1-based, ties to the lowest cell). Map-only codegen'd work —
    * factored out of [[ivfTopK]] so the index can be built once and
    * then MAINTAINED under a change feed ([[ivfMaintain]]) instead of
    * rebuilt per batch. Output: (neighbor_id, cv, cell). */
  def ivfAssign(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]]): DataFrame =
    corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cv"))
      .withColumn("__d", centroidDists(col("cv"), centroids))
      // 1-based argmin → the cell this vector files under
      .withColumn("cell",
        array_position(col("__d"), array_min(col("__d"))).cast("int"))
      .drop("__d")

  /** The SEARCH step over a pre-built (or incrementally-maintained)
    * inverted file `index` = (neighbor_id, cv, cell): each probe ranks
    * all cells by centroid distance, explodes into its `nProbe`
    * nearest, candidates come from ONE equi-join on the cell id, and
    * exact cosine re-ranks through the native top-k aggregate. */
  def ivfSearch(index: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, k: Int, centroids: Array[Array[Double]],
      nProbe: Int): DataFrame = {
    import graft.functions.TopKAggregate.topK
    val p = probeCells(probes, idCol, vecCol, centroids, nProbe)
    index.join(p, Seq("cell"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("pv"), col("cv")))
      .groupBy(col("probe_id"))
      .agg(topK(col("cosine"), col("neighbor_id"), col("neighbor_id"), k).as("top"))
      .select(col("probe_id"), posexplode(col("top")).as(Seq("pos", "entry")))
      .select(col("probe_id"), col("entry.payload").as("neighbor_id"),
        col("entry.score").as("cosine"), (col("pos") + 1).as("rank"))
  }

  /** The probe side of every IVF-family search: each probe exploded
    * into its `nProbe` nearest cells (full centroid ranking via one
    * array_sort over `nlist` struct entries — ties break to the lower
    * cell id through the struct's second field). Output one row per
    * (probe, probed cell): (probe_id, pv, cell). Factored verbatim
    * out of [[ivfSearch]] so [[Quantization.ivfPqTopK]]'s probe
    * ranking is the identical expression tree the IVF oracles pin. */
  private[operators] def probeCells(probes: DataFrame, idCol: String,
      vecCol: String, centroids: Array[Array[Double]],
      nProbe: Int): DataFrame = {
    val nlist = centroids.length
    require(nProbe <= nlist)
    probes.select(col(idCol).as("probe_id"), asDouble(col(vecCol)).as("pv"))
      .withColumn("__d", centroidDists(col("pv"), centroids))
      .withColumn("__ranked",
        slice(array_sort(zip_with(col("__d"),
          sequence(lit(1), lit(nlist)),
          (d, i) => struct(d.as("d"), i.as("cell")))), 1, nProbe))
      .select(col("probe_id"), col("pv"),
        explode(col("__ranked.cell")).as("cell"))
  }

  /** Maintain an inverted file under a CDC change feed — the "index
    * doesn't go stale" step a retrieval pipeline needs once the corpus
    * is no longer static. `changes` carries `(seqCol, opCol, idCol,
    * vecCol)` with op ∈ I/U/D and feed-monotone seq; each changed
    * vector is cell-assigned MAP-SIDE against the SAME fixed centroids
    * the index was built with (the Faiss protocol: the coarse
    * quantizer is trained once on a bootstrap sample and held fixed —
    * retraining is a periodic rebuild, not an incremental op), then
    * folded key-level by [[Cdc.applyChanges]]'s latest-wins max_by.
    * Because the cell is a pure function of (vector, centroids), the
    * maintained index is BIT-EQUAL to [[ivfAssign]] over the merged
    * corpus — pinned by IvfStreamSpec and the ann_ivf_incremental
    * oracle, not assumed. Cost per batch: one map pass + one key
    * shuffle of the batch — the index is touched only through the
    * full-outer key join, never rescanned. */
  def ivfMaintain(index: DataFrame, changes: DataFrame, idCol: String,
      vecCol: String, seqCol: String, opCol: String,
      centroids: Array[Array[Double]]): DataFrame = {
    val ch = changes.select(col(seqCol), col(opCol),
        col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cv"))
      .withColumn("__d", centroidDists(col("cv"), centroids))
      .withColumn("cell",
        array_position(col("__d"), array_min(col("__d"))).cast("int"))
      .drop("__d")
    Cdc.applyChanges(index, ch, "neighbor_id", seqCol, opCol)
  }

  def ivfTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, k: Int, nlist: Int = 16, nProbe: Int = 4,
      trainSample: Int = 4096): DataFrame = {
    val centroids = trainedCentroids(corpus, idCol, vecCol, nlist, trainSample)
    ivfSearch(ivfAssign(corpus, idCol, vecCol, centroids), probes,
      idCol, vecCol, k, centroids, nProbe)
  }

  /** Semantic deduplication, SemDeDup-style (Abbas et al. 2023,
    * arXiv:2303.09540): embeddings are k-means-assigned to `nlist`
    * cells; pairs with cosine ≥ `threshold` are sought WITHIN each
    * cell only; the resulting near-dup graph is resolved to components
    * and one keeper (min id) survives per semantic cluster. Output:
    * (id, cluster_id, keep) for every corpus row.
    *
    * Cross-cell near-duplicates are out of contract at the default
    * `nProbe = 1` — that locality approximation is exactly what makes
    * SemDeDup tractable: the quadratic pair search is bounded per
    * cell. `nProbe > 1` assigns each vector to its nProbe nearest
    * cells, recovering boundary pairs (two near-dups split by a cell
    * border still share a second-nearest cell) for ≈ nProbe²× the
    * per-cell pair-join cost — the same recall/cost dial as IVF's
    * probe count, applied to the corpus side. Scale
    * shape at 100 TB: centroids are fitted on a bounded driver-side
    * sample and shipped as literals (the paper's protocol — Faiss
    * trains on a sample too), cell assignment is a map-only codegen'd
    * argmin over `nlist` dots, and the within-cell join shuffles once
    * on the cell id with ~N/nlist rows per cell — hold cell size
    * constant by growing `nlist` ∝ N (the paper uses 11k cells for
    * LAION-440M). Cluster resolution is the same O(E)-per-round label
    * propagation as text dedup ([[Dedup.connectedComponents]]). */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nlist: Int = 16, trainSample: Int = 4096,
      nProbe: Int = 1): DataFrame = {
    require(nProbe >= 1 && nProbe <= nlist, s"nProbe must be in [1, $nlist]")
    val centroids = trainedCentroids(corpus, idCol, vecCol, nlist, trainSample)
    val withD = corpus
      .select(col(idCol), asDouble(col(vecCol)).as("__v"))
      .withColumn("__d", centroidDists(col("__v"), centroids))
    val assigned =
      if (nProbe == 1)
        // fast path: plain argmin (ties break to the lowest cell, same
        // as the sorted-slice path below)
        withD.withColumn("__cell",
          array_position(col("__d"), array_min(col("__d"))).cast("int"))
          .drop("__d")
      else
        withD.withColumn("__dc",
          explode(slice(array_sort(zip_with(col("__d"),
            sequence(lit(1), lit(nlist)),
            (d, i) => struct(d.as("d"), i.as("cell")))), 1, nProbe)))
          .withColumn("__cell", col("__dc.cell"))
          .drop("__d", "__dc")
    val lhs = assigned.select(col("__cell"), col(idCol).as("__ida"),
      col("__v").as("__va"))
    val rhs = assigned.select(col("__cell"), col(idCol).as("__idb"),
      col("__v").as("__vb"))
    val pairs0 = lhs.join(rhs, Seq("__cell"))
      .filter(col("__ida") < col("__idb"))
      .filter(cosine(col("__va"), col("__vb")) >= lit(threshold))
      .select(col("__ida").as("a"), col("__idb").as("b"))
    // a pair sharing several probe cells surfaces once per shared cell
    val pairs = if (nProbe > 1) pairs0.distinct() else pairs0
    Dedup.connectedComponents(corpus.select(col(idCol)), idCol, pairs)
  }

  /** All pairs (a < b) with cosine ≥ threshold, banded-LSH candidate
    * generation — the embedding-space near-duplicate detector.
    *
    * Scale shape (same banding trick as [[Dedup.lshCandidates]]): a
    * single LSH table forces an impossible trade — few planes for
    * recall means buckets of ~N/2^planes rows whose self-join is
    * quadratic in N. Instead: `bands` INDEPENDENT tables of
    * `planesPerBand` hyperplanes each. Recall per qualifying pair is
    * 1 − (1 − p^b)^r with p = 1 − θ/π, recovered by the union across
    * bands while each band's buckets stay small (~N/2^b rows). At
    * growing corpus scale, hold bucket size constant by raising
    * `planesPerBand` ≈ log2(N / targetBucketRows) and adding bands to
    * keep recall; `maxBucket` is the hard skew guard — a degenerate
    * bucket (e.g. all-zero template vectors) is dropped instead of
    * self-joined quadratically.
    *
    * Vectors ride INTO the bucket join (bands× the corpus in shuffle —
    * linear) so the exact cosine is computed and thresholded inline,
    * map-side, and only SURVIVING pairs reach the final distinct.
    * The alternative — dedup candidate id-pairs first, join vectors
    * back — shuffles the candidate set itself, which is quadratic in
    * bucket size and dwarfs the linear vector shuffle precisely when
    * buckets are busiest. Duplicate (a,b) from multi-band collisions
    * produce bit-identical cosines (same fold), so the post-filter
    * distinct collapses them exactly. */
  def cosinePairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bands: Int = 8, planesPerBand: Int = 8,
      dim: Int = 64, seed: Long = 42L, maxBucket: Long = 10000L,
      planeGen: (Int, Int, Long) => Seq[Seq[Double]] = randomPlanes): DataFrame = {
    val v = df.select(col(idCol), asDouble(col(vecCol)).as("v"))
    val bandKeys = array((0 until bands).map { r =>
      val ps = planeGen(planesPerBand, dim, seed + r.toLong * planesPerBand * dim)
      struct(lit(r).as("band"), hyperplaneBucket(col("v"), ps).as("key"))
    }: _*)
    // Persisted: the bucketed frame feeds the bucket-size count and
    // BOTH self-join sides; without the cache the bands×planes
    // hyperplane dots and the (interpreted-HOF) double cast re-run up
    // to 4× over the corpus. ~bands× the vector data in cache — cheap
    // next to re-scanning.
    val buckets0 = v.select(col(idCol), col("v"), explode(bandKeys).as("bk"))
      .select(col(idCol), col("v"), col("bk.band").as("band"), col("bk.key").as("key"))
    val buckets = Caching.persist(buckets0)
    val keptBuckets = buckets.groupBy("band", "key")
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxBucket).select("band", "key")
    val kept = buckets.join(keptBuckets, Seq("band", "key"), "left_semi")
    kept.select(col("band"), col("key"), col(idCol).as("a"), col("v").as("va"))
      .join(kept.select(col("band"), col("key"), col(idCol).as("b"), col("v").as("vb")),
        Seq("band", "key"))
      .filter(col("a") < col("b"))
      .withColumn("cosine", cosine(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
      .select("a", "b", "cosine").distinct()
  }

  /** Density-based pruning (the D4 / SemDeDup family — Tirumala et
    * al. 2023, arXiv:2308.12284: dense regions of embedding space are
    * redundant and over-trained on): a document's density is its
    * DEGREE in the cosine near-neighbor graph at `threshold`, and
    * pruning caps that degree — `keep = degree <= maxDegree`. Emits
    * one row per corpus id (degree 0 for isolated points) so the
    * decision column joins straight back onto the corpus.
    *
    * Scale shape: the pair generation IS [[cosinePairs]] — banded LSH
    * with capped buckets, never all-pairs — and the degree count adds
    * one groupBy over the (sparse) pair list plus a left join back to
    * the id column; both shuffle O(pairs + N), nothing quadratic. */
  def densityPrune(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, maxDegree: Long, bands: Int = 8,
      planesPerBand: Int = 8, dim: Int = 64, seed: Long = 42L,
      maxBucket: Long = 10000L,
      planeGen: (Int, Int, Long) => Seq[Seq[Double]] = randomPlanes): DataFrame = {
    val pairs = cosinePairs(df, idCol, vecCol, threshold, bands,
      planesPerBand, dim, seed, maxBucket, planeGen)
    val deg = pairs.select(col("a").as(idCol))
      .unionAll(pairs.select(col("b").as(idCol)))
      .groupBy(idCol).agg(count(lit(1)).as("degree"))
    df.select(col(idCol))
      .join(deg, Seq(idCol), "left")
      .withColumn("degree", coalesce(col("degree"), lit(0L)))
      .withColumn("keep", col("degree") <= maxDegree)
  }

  /** 64-bit sign-random-projection (SRP) sketch of an embedding
    * column: bit j is the sign of the dot product with LCG hyperplane
    * j, packed into one BIGINT — a 32× compression of a 64-float
    * vector that preserves angle (E[hamming] = 64·θ/π, Charikar '02,
    * public algorithm). The fingerprint an embedding column carries
    * ALONGSIDE the vectors at lake scale: near-dup screens and
    * coarse-angle filters read 8 bytes/row instead of 256, and the
    * hamming machinery ([[Dedup.hammingNearPairsMih]]) applies to
    * embeddings exactly as it does to media/simhash fingerprints.
    *
    * Determinism: the plane dots are the same left-to-right fold as
    * [[cosinePairs]] (bit-identical cross-engine), the sign rule is
    * `>= 0`, and the pack is a sum of distinct powers of two — Java
    * long addition is modular, so bit 63 (Long.MinValue) wraps to the
    * correct bit pattern; the SQL oracle sums in HUGEINT and wraps
    * explicitly (the Xxh64Sql signed-conversion idiom). Map-only: no
    * shuffle, one scan, codegen'd native dot products. */
  def srpSketch(df: DataFrame, idCol: String, vecCol: String,
      bits: Int = 64, dim: Int = 64, seed: Long = 300000L): DataFrame = {
    require(bits >= 1 && bits <= 64, s"bits must be in [1, 64], got $bits")
    val planes = lcgPlanes(bits, dim, seed)
    val v = asDouble(col(vecCol))
    val sketch = planes.zipWithIndex.map { case (w, j) =>
      when(dotNative(v, typedLit(w)) >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    df.select(col(idCol), sketch.as("sketch"))
  }

  /** Embedding near-duplicate pairs via the SRP sketch: sketch both
    * sides (map-only), then multi-index-hashing candidate generation +
    * exact hamming verification — never all-pairs. `maxHamming = 7`
    * over 64 bits keeps only pairs within ~20° of each other
    * (θ ≈ hamming·π/64); calibrate radius↔angle for a corpus with the
    * emb_srp_hamming query before trusting a threshold at scale.
    * Output: (a, b, hamming). */
  def srpNearPairs(df: DataFrame, idCol: String, vecCol: String,
      maxHamming: Int = 7, dim: Int = 64, seed: Long = 300000L): DataFrame =
    Dedup.hammingNearPairsMih(srpSketch(df, idCol, vecCol, 64, dim, seed),
      idCol, "sketch", maxHamming, chunks = 4)

  /** Exact second-moment (gram) matrix of an embedding column — the
    * input to corpus-level PCA/whitening (SemDeDup and most embedding
    * pipelines PCA-reduce before clustering; the d×d gram/covariance
    * matrix is the one global statistic that pass needs). Upper
    * triangle only (the matrix is symmetric): rows (i, j, n,
    * sum_xy_scaled, mean_xy) for 0 ≤ i ≤ j < dim, where each component
    * is first rounded to `scale` (1e-6 grid by default — the corpus
    * float convention, see emb_label_centroid), products and sums are
    * EXACT longs, and the only double op is the final mean division —
    * so the result hashes identically cross-engine and is independent
    * of row order and partitioning.
    *
    * Shape at 100 TB: one scan; each partition folds its rows into ONE
    * d(d+1)/2-cell long array (genuine per-partition imperative logic —
    * a per-row explode would materialize n·d²/2 structs for the same
    * shuffle), then emits that triangle as d(d+1)/2 rows. The shuffle
    * carries d(d+1)/2 × partitions rows REGARDLESS of corpus size
    * (d=64 → 2080/partition), and the final groupBy(i,j) reduces to one
    * d×d matrix. Driver-side eigen-iteration on the collected 64×64
    * result is bounded work (see SimilaritySpec's power-iteration
    * check). Exactness bound: per-partition and global sums stay below
    * 2^63 for up to ~9e6·(1e6·max|v|)⁻²-scaled rows per side — ~6e8
    * rows at unit-normalized max|v| ≈ 0.125; beyond that, widen the
    * global sum to decimals (same remedy note as ksDrift's cum·N
    * products). */
  def gramUpperTriangle(df: DataFrame, vecCol: String, dim: Int,
      scale: Long = 1000000L): DataFrame = {
    require(dim >= 1, s"dim must be positive, got $dim")
    val spark = df.sparkSession
    import spark.implicits._
    val m = dim * (dim + 1) / 2
    val rounded = df.select(expr(
      s"transform($vecCol, x -> CAST(round(CAST(x AS DOUBLE) * $scale) AS BIGINT))")
      .as("r")).as[Seq[Long]]
    val partials = rounded.mapPartitions { it =>
      val acc = new Array[Long](m)
      var n = 0L
      it.foreach { v =>
        require(v.length == dim,
          s"gramUpperTriangle: expected $dim-dim vectors, got ${v.length}")
        val a = v.toArray
        var k = 0
        var i = 0
        while (i < dim) {
          var j = i
          while (j < dim) { acc(k) += a(i) * a(j); j += 1; k += 1 }
          i += 1
        }
        n += 1
      }
      if (n == 0L) Iterator.empty
      else Iterator.tabulate(m) { k =>
        // invert the row-major triangle index k -> (i, j)
        var i = 0
        var base = 0
        while (base + (dim - i) <= k) { base += dim - i; i += 1 }
        (i, i + (k - base), acc(k), n)
      }
    }
    partials.toDF("__i", "__j", "__s", "__n")
      .groupBy("__i", "__j")
      .agg(sum(col("__s")).as("sum_xy_scaled"), sum(col("__n")).as("n"))
      .select(col("__i").cast("long").as("i"), col("__j").cast("long").as("j"),
        col("n"), col("sum_xy_scaled"),
        (col("sum_xy_scaled").cast("double") /
          (col("n").cast("double") * lit(scale.toDouble * scale.toDouble)))
          .as("mean_xy"))
  }

  /** Top-principal-component projection — the PCA apply step the gram
    * matrix exists for: collect the d(d+1)/2 exact-long gram triangle
    * ([[gramUpperTriangle]] — bounded driver work, d=64 → 2080 rows),
    * power-iterate for the top eigendirection ON THE DRIVER, then
    * project every corpus vector onto it in one map-only, codegen'd
    * scan (`pc1 = Σ_j r_j·v_j` over the scaled-long components).
    *
    * Determinism is the point: every double op is sequenced — the
    * matvec and norm are ascending-index left folds, the seed is
    * 1/√dim, the iteration count is fixed — so a DuckDB recursive CTE
    * running the same ops reproduces the eigenvector BIT-FOR-BIT
    * (verified: 100 iterations on the corpus gram, 64/64 components
    * bit-identical), and the projection rides the same sequential
    * fold. The eigenvector's SIGN is whatever the iteration converges
    * to from the positive seed — deterministic, not canonical.
    *
    * Scale shape: the iteration is O(d²·iters) driver arithmetic on
    * one collected d×d matrix (microseconds at d=64 — the same
    * bounded-driver contract as [[fitCentroids]]); the corpus never
    * moves — one gram pass (shuffle = d(d+1)/2 rows/partition) and
    * one projection scan. */
  /** Driver-side top-eigenpair fit over the exact gram triangle —
    * the shared core of [[pcaProject]] and [[pcaVariance]], factored
    * so the sequenced-double contract both oracles re-derive lives in
    * exactly one place. Returns (eigenvector, λ, trace) with λ and the
    * trace in the SCALED units of the long gram (λ/trace is the
    * unit-free variance-explained ratio either way). λ is the norm of
    * ONE extra sequenced matvec on the final iterate. */
  /** Collect the exact-long gram into a dense driver matrix (doubles)
    * plus its exact-long trace — the bounded-driver step both
    * [[fitTopEigen]] and [[pcaProject2]]'s deflation share. */
  private def collectGram(df: DataFrame, vecCol: String, dim: Int,
      scale: Long): (Array[Array[Double]], Long) = {
    val tri = gramUpperTriangle(df, vecCol, dim, scale)
      .select("i", "j", "sum_xy_scaled").collect()
    val a = Array.ofDim[Double](dim, dim)
    var trace = 0L
    tri.foreach { r =>
      val i = r.getLong(0).toInt; val j = r.getLong(1).toInt
      val gl = r.getLong(2)
      val g = gl.toDouble
      a(i)(j) = g; a(j)(i) = g
      if (i == j) trace += gl
    }
    (a, trace)
  }

  /** The sequenced power iteration on a collected matrix: `iters`
    * rounds of ascending-index matvec + normalize from the 1/√dim
    * seed, then λ as the norm of ONE extra matvec — every double op
    * in the exact order the DuckDB recursive-CTE oracle replays. */
  private def powerIterate(a: Array[Array[Double]], dim: Int,
      iters: Int): (Array[Double], Double) = {
    def matvec(x: Array[Double]): Array[Double] = {
      val av = new Array[Double](dim)
      var i = 0
      while (i < dim) {
        var s = 0.0
        var j = 0
        while (j < dim) { s += a(i)(j) * x(j); j += 1 }
        av(i) = s
        i += 1
      }
      av
    }
    def norm(x: Array[Double]): Double = {
      var n2 = 0.0
      var k = 0
      while (k < dim) { n2 += x(k) * x(k); k += 1 }
      math.sqrt(n2)
    }
    var v = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
    var t = 0
    while (t < iters) {
      val av = matvec(v)
      val nrm = norm(av)
      v = av.map(_ / nrm)
      t += 1
    }
    (v, norm(matvec(v)))
  }

  private def fitTopEigen(df: DataFrame, vecCol: String, dim: Int,
      scale: Long, iters: Int): (Array[Double], Double, Long) = {
    val (a, trace) = collectGram(df, vecCol, dim, scale)
    val (v, lambda) = powerIterate(a, dim, iters)
    (v, lambda, trace)
  }

  def pcaProject(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      scale: Long = 1000000L, iters: Int = 100): DataFrame = {
    val (v, _, _) = fitTopEigen(df, vecCol, dim, scale, iters)
    val vlit = array(v.map(lit): _*)
    df.select(col(idCol), expr(
        s"transform($vecCol, x -> CAST(round(CAST(x AS DOUBLE) * $scale) AS BIGINT))")
        .as("__r"))
      .withColumn("pc1",
        aggregate(zip_with(col("__r"), vlit, (r, w) => r * w),
          lit(0.0), (acc, x) => acc + x))
      .select(col(idCol), col("pc1"))
  }

  /** Two-component PCA projection via Hotelling deflation: fit the top
    * eigenpair ([[powerIterate]]), deflate A₂ = A − λ₁·v₁v₁ᵀ on the
    * driver (each cell ONE `a − λ·vᵢ·vⱼ` expression — left-assoc, the
    * order the oracle repeats), power-iterate A₂ for v₂, then project
    * every corpus vector onto BOTH directions in one map-only scan.
    * Output `(idCol, pc1, pc2)` — pc1 is bit-identical to
    * [[pcaProject]]'s (same fit, same sequenced fold).
    *
    * Determinism extends the single-component contract: the deflation
    * is closed-form arithmetic on already-bit-pinned (v₁, λ₁), and the
    * second iteration is the same fixed-count sequenced loop — so a
    * DuckDB re-run (second recursive CTE on the deflated matrix)
    * reproduces v₂ and both projections BIT-FOR-BIT. v₂ is orthogonal
    * to v₁ only up to the FIRST iteration's convergence residual
    * (deflating with an ε-converged v₁ leaks ~ε·λ₁ coupling into A₂;
    * measured cos(pc1, pc2) ≈ 3e-4 on the corpus at 100 iterations —
    * SimilaritySpec pins that bound). Not re-orthogonalized:
    * re-projection would add ops the oracle would have to mirror for
    * no ranking benefit.
    *
    * Scale shape unchanged from [[pcaProject]]: one gram pass
    * (d(d+1)/2 rows/partition), O(d²·iters) driver arithmetic twice,
    * one projection scan. */
  def pcaProject2(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      scale: Long = 1000000L, iters: Int = 100): DataFrame = {
    val (a, _) = collectGram(df, vecCol, dim, scale)
    val (v1, l1) = powerIterate(a, dim, iters)
    val a2 = Array.tabulate(dim, dim)((i, j) => a(i)(j) - l1 * v1(i) * v1(j))
    val (v2, _) = powerIterate(a2, dim, iters)
    val v1lit = array(v1.map(lit): _*)
    val v2lit = array(v2.map(lit): _*)
    df.select(col(idCol), expr(
        s"transform($vecCol, x -> CAST(round(CAST(x AS DOUBLE) * $scale) AS BIGINT))")
        .as("__r"))
      .withColumn("pc1",
        aggregate(zip_with(col("__r"), v1lit, (r, w) => r * w),
          lit(0.0), (acc, x) => acc + x))
      .withColumn("pc2",
        aggregate(zip_with(col("__r"), v2lit, (r, w) => r * w),
          lit(0.0), (acc, x) => acc + x))
      .select(col(idCol), col("pc1"), col("pc2"))
  }

  /** The PCA fit diagnostic every dimensionality-reduction decision
    * reads first: the top eigenvalue λ, the gram trace (= Σ of all
    * eigenvalues for a PSD matrix — exact long, order-free), and
    * variance-explained λ/trace ∈ (0, 1]. One corpus gram pass +
    * bounded driver iteration ([[fitTopEigen]]); the single-row result
    * is cross-engine exact: trace is integer arithmetic and λ rides
    * the same sequenced-double contract the projection oracle already
    * re-derives bit-for-bit. */
  def pcaVariance(df: DataFrame, vecCol: String, dim: Int,
      scale: Long = 1000000L, iters: Int = 100): DataFrame = {
    val (_, lambda, trace) = fitTopEigen(df, vecCol, dim, scale, iters)
    val spark = df.sparkSession
    import spark.implicits._
    Seq((lambda, trace, lambda / trace.toDouble))
      .toDF("lambda", "trace_scaled", "var_explained")
  }

  /** Two-eigenvalue fit diagnostic — the "is one component enough"
    * question [[pcaVariance]] cannot answer alone: λ₁, λ₂ (from the
    * same Hotelling deflation [[pcaProject2]] projects with), the
    * exact gram trace, and the cumulative two-component
    * variance-explained (λ₁+λ₂)/trace. A λ₂ ≈ λ₁ says the top
    * direction is not special (rotate/whiten before thresholding on
    * pc1); a collapsing λ₂ says one component carries the corpus.
    * Single row, cross-engine exact under the same sequenced-double
    * contract as the projections. */
  def pcaVariance2(df: DataFrame, vecCol: String, dim: Int,
      scale: Long = 1000000L, iters: Int = 100): DataFrame = {
    val (a, trace) = collectGram(df, vecCol, dim, scale)
    val (v1, l1) = powerIterate(a, dim, iters)
    val a2 = Array.tabulate(dim, dim)((i, j) => a(i)(j) - l1 * v1(i) * v1(j))
    val (_, l2) = powerIterate(a2, dim, iters)
    val spark = df.sparkSession
    import spark.implicits._
    Seq((l1, l2, trace, (l1 + l2) / trace.toDouble))
      .toDF("lambda1", "lambda2", "trace_scaled", "var2_explained")
  }

  // =====================================================================
  // Standalone k-means: corpus assignment, fit diagnostics, and
  // cluster-balanced sampling (the curation ops SemDeDup/IVF embed)
  // =====================================================================

  /** Every corpus row's k-means cell and squared distance to its
    * centroid: `(idCol, cell, d2)` with cells 0-based (ties break to
    * the lowest cell — the same ranked-argmin contract IVF and
    * SemDeDup assign with). The trainer is [[trainedCentroids]] —
    * bounded driver sample, centroids shipped as literals — so the
    * assignment itself is a map-only, codegen'd argmin over `nlist`
    * dots: one corpus scan, NO shuffle, at any corpus scale. */
  def kmeansCells(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 16, trainSample: Int = 4096): DataFrame = {
    val centroids = trainedCentroids(corpus, idCol, vecCol, nlist, trainSample)
    corpus
      .select(col(idCol), asDouble(col(vecCol)).as("__v"))
      .withColumn("__d", centroidDists(col("__v"), centroids))
      .select(col(idCol),
        (array_position(col("__d"), array_min(col("__d"))) - 1L)
          .cast("long").as("cell"),
        array_min(col("__d")).as("d2"))
  }

  /** K-means fit diagnostics per cell: `(cell, n, sum_d2_micro,
    * mean_d2)` — the cluster-size balance and within-cluster scatter
    * (inertia) every curation decision reads before trusting cell
    * boundaries (skewed cells ⇒ retrain with more centroids; a huge
    * mean_d2 cell is "everything else" noise). Distances are rounded
    * to the 1e-6 grid and summed as EXACT longs (the
    * emb_label_centroid convention), so the per-cell inertia is
    * order- and partition-invariant and hashes identically
    * cross-engine; mean_d2 is the single final double division.
    * Shape: one map-only assignment scan + one `nlist`-row groupBy —
    * the shuffle carries nlist×partitions rows regardless of corpus
    * size. */
  def kmeansFitStats(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 16, trainSample: Int = 4096,
      scale: Long = 1000000L): DataFrame =
    kmeansCells(corpus, idCol, vecCol, nlist, trainSample)
      .withColumn("__d2m", round(col("d2") * scale).cast("long"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n"), sum(col("__d2m")).as("sum_d2_micro"))
      .select(col("cell"), col("n"), col("sum_d2_micro"),
        (col("sum_d2_micro").cast("double") /
          (col("n").cast("double") * lit(scale.toDouble))).as("mean_d2"))

  /** Cluster-balanced sample: `perCell` rows from EVERY k-means cell,
    * chosen by content hash — the diversity-sampling primitive
    * (uniform over semantic clusters, not over rows, so a corpus that
    * is 90% one topic contributes that topic's share of clusters, not
    * 90% of the sample). Output `(cell, idCol, rk)`, rk 1-based in
    * (xxhash64(id), id) order within the cell.
    *
    * Scale shape: selection rides [[graft.functions.TopKAggregate]]
    * at CONSTANT score with the (hash, id) struct as the tie-break —
    * each partition keeps a bounded perCell-element heap per cell, so
    * the shuffle carries ≤ perCell×nlist×partitions rows instead of
    * the whole corpus (the row_number-window formulation would ship
    * every row to nlist reducers — exactly the skew the aggregate
    * exists to avoid; SimilaritySpec pins the two formulations
    * equal). */
  def clusterBalancedSample(corpus: DataFrame, idCol: String, vecCol: String,
      perCell: Int = 8, nlist: Int = 16, trainSample: Int = 4096): DataFrame = {
    import graft.functions.TopKAggregate.topK
    require(perCell >= 1, s"perCell must be >= 1, got $perCell")
    kmeansCells(corpus, idCol, vecCol, nlist, trainSample)
      .groupBy("cell")
      .agg(topK(lit(0.0),
        struct(xxhash64(col(idCol)), col(idCol)), col(idCol), perCell).as("__top"))
      .select(col("cell"), posexplode(col("__top")).as(Seq("__pos", "__e")))
      .select(col("cell"), col("__e.payload").as(idCol),
        (col("__pos") + 1L).cast("long").as("rk"))
  }

  /** Per-node top-k neighbor list from an undirected scored pair set
    * — the k-NN-graph step shared by the `emb_knn_graph` query and
    * anything else that materializes a neighbor graph from
    * [[cosinePairs]]' output. Symmetrizes (a, b, cosine) in one
    * explode pass, then takes each node's top `k` by (cosine DESC,
    * neighbor ASC) via the bounded-heap top-k aggregate — map-side
    * partials keep the node-keyed shuffle at ≤ k rows per node per
    * partition, never the full edge list. Output: (vec_id, rank,
    * neighbor_id, cosine); nodes absent from `pairs` emit nothing. */
  def knnFromPairs(pairs: DataFrame, k: Int): DataFrame = {
    import graft.functions.TopKAggregate.topK
    require(k >= 1, s"knnFromPairs: k must be >= 1, got $k")
    val sym = pairs.select(explode(array(
        struct(col("a").as("src"), col("b").as("dst"), col("cosine")),
        struct(col("b").as("src"), col("a").as("dst"), col("cosine"))))
        .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"),
        col("e.cosine").as("cosine"))
    sym.groupBy("src")
      .agg(topK(col("cosine"), col("dst"), col("dst"), k).as("top"))
      .select(col("src").as("vec_id"),
        posexplode(col("top")).as(Seq("pos", "entry")))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("rank"),
        col("entry.payload").as("neighbor_id"),
        col("entry.score").as("cosine"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009):
    * merge N ranked retrieval lists into one by
    * score(d) = Σ_lists 1/(k0 + rank_list(d)), the standard way a
    * hybrid retriever combines a lexical (BM25) and a semantic
    * (embedding top-k) list — RRF needs no score calibration between
    * the lists because only RANKS enter the sum, which is exactly why
    * it is the default fusion in production RAG stacks. `rankings`
    * maps a list name to a DataFrame carrying (`idCol`, `rankCol`)
    * with rank 1 = best; a document absent from a list contributes 0
    * for it. Output: (`idCol`, `<name>_rank`... one per list,
    * `rrf_score`), the `topK` best by (score desc, id asc).
    *
    * Determinism: each term is one double division and the terms are
    * added LEFT-TO-RIGHT in the caller's list order — a fixed-shape
    * expression tree any engine replays bit-for-bit (the sequenced-
    * fold contract, degenerate N-term case).
    *
    * Scale shape: the inputs are already top-k-bounded lists (the
    * expensive corpus-scale work happened inside the retrievers —
    * bm25TopK's one aggregate pass, bruteForceTopKAgg's map-side
    * heaps), so the fusion's full-outer joins and the final
    * TakeOrdered run on ≤ Σ kᵢ rows regardless of corpus size. */
  def rrfFuse(rankings: Seq[(String, DataFrame)], idCol: String,
      rankCol: String, k0: Int = 60, topK: Int = 20): DataFrame = {
    require(rankings.size >= 2, s"rrfFuse needs >= 2 lists, got ${rankings.size}")
    require(rankings.map(_._1).distinct.size == rankings.size,
      "rrfFuse list names must be distinct")
    require(k0 >= 1, s"k0 must be >= 1, got $k0")
    val prepared = rankings.map { case (nm, df) =>
      df.select(col(idCol), col(rankCol).cast("long").as(s"${nm}_rank"))
    }
    val joined = prepared.reduce((l, r) => l.join(r, Seq(idCol), "full_outer"))
    val score = rankings.map { case (nm, _) =>
      when(col(s"${nm}_rank").isNotNull,
        lit(1.0) / (lit(k0.toDouble) + col(s"${nm}_rank").cast("double")))
        .otherwise(lit(0.0))
    }.reduce(_ + _)
    joined.withColumn("rrf_score", score)
      .orderBy(col("rrf_score").desc, col(idCol).asc)
      .limit(topK)
  }

  /** Greedy k-center coreset selection (Gonzalez' farthest-point
    * traversal — the classic 2-approximation to the k-center
    * objective): seed with the min-id vector, then `k−1` times pick
    * the point FARTHEST from everything selected so far. The output
    * is the standard diversity coreset of data curation ("cover the
    * embedding space with k exemplars"), and the selection distances
    * are themselves the coverage-radius curve: dist2 at round r is
    * the squared radius needed to cover the corpus with r−1 centers.
    *
    * Determinism is total: the seed is an id argmin, each round's
    * argmax breaks ties (d DESC, id ASC), and every distance is the
    * fixed-shape expression `xx − 2.0·dot(x,c) + cc` over left-to-
    * right dot folds — so a single-threaded SQL engine unrolling the
    * same k rounds reproduces the selection bit-for-bit (degenerate
    * case included: if every remaining point duplicates a center,
    * BOTH engines re-pick the min-id point by the same tie rule).
    *
    * Scale shape: each round is ONE map-only scan of the corpus (the
    * new center rides along as a literal array — no join, no
    * shuffle) plus a TakeOrdered(1) reduction; the running min-
    * distance column is materialized each round (a [[Rounds]]
    * checkpoint, previous round freed), so round r really costs
    * one NEW dot product per point — O(n·k) total, with O(1)-deep
    * lineage however large k grows. Driver state is k rows (the
    * selected centers) — bounded by construction.
    *
    * Returns k rows: (sel_round, vec_id, dist2) with dist2 the
    * selected point's squared distance to the prior centers (0.0 for
    * the seed).
    *
    * Reference: /root/reference/sqlengine.py has no vector surface
    * (extension per the brief's similarity family). */
  def kCenterSelect(df: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"kCenterSelect: k must be >= 1, got $k")
    require(df.schema(idCol).dataType ==
      org.apache.spark.sql.types.LongType,
      s"kCenterSelect: $idCol must be LONG (the greedy rounds carry " +
        s"ids driver-side as longs), got ${df.schema(idCol).dataType}")
    val spark = df.sparkSession
    Rounds(spark) { loop =>
      val v = loop.persist(df.select(col(idCol).as("id"),
          asDouble(col(vecCol)).as("v"))
        .withColumn("xx", normSq(col("v"))))
      // xx − 2.0·dot(x, c) + cc, with cc folded driver-side in the
      // same left-to-right order as ArrayDotProduct (bit-equal)
      def d2(c: Seq[Double]): Column = {
        val cLit = array(c.map(lit): _*)
        val cc = c.foldLeft(0.0)((acc, x) => acc + x * x)
        col("xx") - lit(2.0) * dotNative(col("v"), cLit) + lit(cc)
      }
      val seedRows = v.orderBy(col("id").asc).limit(1)
        .select("id", "v").collect()
      require(seedRows.nonEmpty,
        "kCenterSelect: empty corpus — no seed to pick")
      val seed = seedRows.head
      val selected = scala.collection.mutable.ArrayBuffer(
        (1L, seed.getLong(0), 0.0))
      // the running min-distance column is MATERIALIZED each round —
      // chained least(..) expressions would re-evaluate every prior
      // center's dot product on each round's argmax action, turning
      // the claimed O(n·k) into O(n·k²); the last pick needs no
      // further distance column
      loop.rounds("kCenterSelect", k - 1,
          loop.checkpoint(v.withColumn("d", d2(seed.getSeq[Double](1)))))(
          Rounds.never) { (cur, i) =>
        val pick = cur.orderBy(col("d").desc, col("id").asc).limit(1)
          .select("id", "v", "d").collect().head
        selected += ((i + 1L, pick.getLong(0), pick.getDouble(2)))
        if (i == k - 1) cur
        else loop.checkpoint(cur.withColumn("d",
          least(col("d"), d2(pick.getSeq[Double](1)))))
      }
      import spark.implicits._
      selected.toSeq.toDF("sel_round", "vec_id", "dist2")
    }
  }
}
