package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Pins for the ANN operators (rows-only at the driver): cosine math
  * against hand-computed values, brute-force vs LSH agreement. */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  // 4-dim fixture: v1 ∥ v0 (cos 1), v2 ⟂ v0 (cos 0), v3 at 45°
  private lazy val vecs = Seq(
    (0L, Seq(1f, 0f, 0f, 0f)),
    (1L, Seq(2f, 0f, 0f, 0f)),
    (2L, Seq(0f, 3f, 0f, 0f)),
    (3L, Seq(1f, 1f, 0f, 0f)),
  ).toDF("vec_id", "embedding")

  test("bruteForceTopK ranks by exact cosine with deterministic tie-break") {
    val got = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" === 0L),
      "vec_id", "embedding", k = 3)
      .orderBy("rank")
      .select("neighbor_id", "cosine", "rank")
      .as[(Long, Double, Int)].collect().toSeq
    assert(got.map(_._1) == Seq(1L, 3L, 2L))
    assert(got(0)._2 == 1.0)
    assert(math.abs(got(1)._2 - math.sqrt(0.5)) < 1e-12)
    assert(got(2)._2 == 0.0)
  }

  test("mrlRecallEval: truncation flips a neighbor, full dimension audits at 1000 permille") {
    // probe 0 = (1, 0, 0, 2). Full-dim top-1: v2 = (0.1, 1, 0, 1)
    // (cos ≈ 0.66) beats v1 = (1, 0.1, 0, 0) (cos ≈ 0.45). Truncated
    // to the first TWO components, v1 ≈ (1, 0.1) is nearly parallel
    // to the probe prefix (1, 0) and v2 ≈ (0.1, 1) nearly orthogonal
    // — the prefix search returns the wrong neighbor, so recall@1 is
    // 0 at d=2 and 1000 at d=4.
    val m = Seq(
      (0L, Seq(1f, 0f, 0f, 2f)),
      (1L, Seq(1f, 0.1f, 0f, 0f)),
      (2L, Seq(0.1f, 1f, 0f, 1f)),
    ).toDF("vec_id", "embedding")
    val got = Similarity.mrlRecallEval(m, m.filter($"vec_id" === 0L),
        "vec_id", "embedding", dims = Seq(2, 4), k = 1)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((2L, 1L, 0L, 0L), (4L, 1L, 1L, 1000L)), s"got $got")
    // layout invariance: the recall table is an exact integer fact
    val re = Similarity.mrlRecallEval(m.repartition(5),
        m.filter($"vec_id" === 0L), "vec_id", "embedding",
        dims = Seq(2, 4), k = 1)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(re == got)
  }

  test("lshTopK finds the parallel vector (same bucket by construction)") {
    val got = Similarity.lshTopK(vecs, vecs.filter($"vec_id" === 0L),
      "vec_id", "embedding", k = 3, planes = 4, dim = 4)
      .select("neighbor_id", "cosine").as[(Long, Double)].collect().toSeq
    // v0 and v1 are positive multiples → identical hyperplane signs → same bucket
    assert(got.exists(p => p._1 == 1L && p._2 == 1.0))
  }

  test("cosinePairs returns each qualifying pair exactly once") {
    val got = Similarity.cosinePairs(vecs, "vec_id", "embedding",
      threshold = 0.9, bands = 2, planesPerBand = 2, dim = 4)
      .select("a", "b").as[(Long, Long)].collect().toSeq
    assert(got.distinct == got)
    assert(got.forall(p => p._1 < p._2))
    assert(got.contains((0L, 1L)))
  }

  test("pcaProject: exact collinear scaling and partition invariance") {
    val got = Similarity.pcaProject(vecs, "vec_id", "embedding", dim = 4)
      .orderBy("vec_id").select("vec_id", "pc1")
      .as[(Long, Double)].collect().toMap
    // v1 = 2·v0 → the projection fold scales by exactly 2 (power-of-two
    // double scaling is bitwise-exact through products and sums)
    assert(got(1L) == 2.0 * got(0L))
    assert(got(0L) != 0.0)
    // gram sums are exact longs and the iteration is driver-side, so
    // the projection is invariant under repartitioning
    val re = Similarity.pcaProject(vecs.repartition(7), "vec_id", "embedding", dim = 4)
      .orderBy("vec_id").select("vec_id", "pc1")
      .as[(Long, Double)].collect().toMap
    assert(re == got)
  }

  test("pcaVariance: PSD spectrum bounds and x-dominated fixture share") {
    val got = Similarity.pcaVariance(vecs, "embedding", dim = 4)
      .as[(Double, Long, Double)].collect().head
    val (lambda, trace, ve) = got
    // PSD gram: trace = Σ eigenvalues, so λ1 ∈ [trace/dim, trace]
    assert(lambda <= trace.toDouble * (1 + 1e-12))
    assert(lambda >= trace.toDouble / 4.0)
    assert(ve == lambda / trace.toDouble)
    // the fixture's mass is overwhelmingly on the x axis (1,2,3 of 4
    // vectors) — the top component must carry most of the variance
    assert(ve > 0.5, s"expected x-dominated spectrum, got $ve")
  }

  test("densityPrune: degree = near-neighbor count at threshold, keep = degree <= cap") {
    // clones of one vector plus an orthogonal singleton: the 3 clones
    // form a 0.9-cosine triangle (degree 2 each), the singleton is
    // isolated (degree 0) — with maxDegree = 1 only the singleton keeps
    val d = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)),
      (1L, Seq(2f, 0f, 0f, 0f)),
      (2L, Seq(3f, 0f, 0f, 0f)),
      (3L, Seq(0f, 1f, 0f, 0f)),
    ).toDF("vec_id", "embedding")
    val got = Similarity.densityPrune(d, "vec_id", "embedding",
      threshold = 0.9, maxDegree = 1L, bands = 2, planesPerBand = 2, dim = 4)
      .orderBy("vec_id").select("vec_id", "degree", "keep")
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(got == Seq((0L, 2L, false), (1L, 2L, false), (2L, 2L, false),
      (3L, 0L, true)))
  }

  test("cosinePairs bucket cap drops degenerate buckets instead of self-joining them") {
    // 50 identical vectors → every band hashes them into ONE bucket of
    // 50 rows; with maxBucket = 10 the cap must drop that bucket, so no
    // pairs survive — the skew guard that keeps a template-heavy corpus
    // from going quadratic.
    val clones = (0L until 50L).map(i => (i, Seq(1f, 2f, 3f, 4f))).toDF("vec_id", "embedding")
    val capped = Similarity.cosinePairs(clones, "vec_id", "embedding",
      threshold = 0.9, bands = 4, planesPerBand = 2, dim = 4, maxBucket = 10)
    assert(capped.count() == 0)
    val uncapped = Similarity.cosinePairs(clones, "vec_id", "embedding",
      threshold = 0.9, bands = 4, planesPerBand = 2, dim = 4, maxBucket = 10000)
    assert(uncapped.count() == 50L * 49 / 2) // identical vectors: all pairs
  }

  test("cosinePairs with lcgPlanes finds planted near-duplicates on the real corpus") {
    // The synthetic corpus is uniform-random (max pair cosine ≈ 0.48),
    // so plant the near-duplicates: noisy clones of 25 real vectors at
    // cosine ≈ 0.95+ — close pairs that can still split across buckets
    // on near-boundary hyperplanes, which is what banding must recover.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val rng = new scala.util.Random(7)
    val clones = emb.filter($"vec_id" < 25)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
      .map { case (id, v) =>
        (id + 100000L, v.map(x => x + 0.03f * rng.nextGaussian().toFloat))
      }.toSeq.toDF("vec_id", "embedding")
    val all = emb.select("vec_id", "embedding").unionByName(clones)
    val got = Similarity.cosinePairs(all, "vec_id", "embedding",
      threshold = 0.9, bands = 8, planesPerBand = 8, dim = 64, seed = 0L,
      planeGen = Similarity.lcgPlanes)
      .select("a", "b").as[(Long, Long)].collect().toSet
    // exact truth via brute force over the augmented corpus
    val want = {
      import graft.functions.VectorOps
      val v = all.select($"vec_id", VectorOps.asDouble($"embedding").as("v"))
      v.select($"vec_id".as("a"), $"v".as("va"))
        .crossJoin(v.select($"vec_id".as("b"), $"v".as("vb")))
        .filter($"a" < $"b")
        .filter(VectorOps.cosine($"va", $"vb") >= 0.9)
        .select("a", "b").as[(Long, Long)].collect().toSet
    }
    assert(want.size >= 20, s"expected ≥20 planted cos≥0.9 pairs, got ${want.size}")
    val recall = got.intersect(want).size.toDouble / want.size
    // 8 bands × 8 planes at cos ≥ 0.9 (p ≈ 0.857/plane): expected ≈ 0.93
    assert(recall > 0.7, s"banded-LSH recall $recall unexpectedly low (${got.size} got, ${want.size} true)")
    assert(got.subsetOf(want), "cosinePairs emitted a pair below the threshold")
  }

  test("lcgPlanes is deterministic and matches its integer formula") {
    val p1 = Similarity.lcgPlanes(2, 4, seed = 0L)
    val p2 = Similarity.lcgPlanes(2, 4, seed = 0L)
    assert(p1 == p2)
    val w10 = ((1103515245L * 4L + 12345L) % 2147483648L).toDouble / 2147483648.0 - 0.5
    assert(p1(1)(0) == w10) // plane 1, dim 0 → flat index 1*4+0
  }

  test("fitCentroids: deterministic, partitions the sample sensibly") {
    val sample = Array.tabulate(100)(i =>
      Array(if (i % 2 == 0) 10.0 else -10.0, i.toDouble / 100))
    val c1 = Similarity.fitCentroids(sample, nlist = 2)
    val c2 = Similarity.fitCentroids(sample, nlist = 2)
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq) // deterministic
    // the two clear clusters (x=±10) are separated
    assert(c1.map(_.head).sorted.toSeq.zip(Seq(-10.0, 10.0))
      .forall { case (got, want) => math.abs(got - want) < 1.0 })
  }

  test("ivfTopK: full probe (nProbe = nlist) equals brute force") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val probes = emb.filter($"vec_id" < 5)
    val exact = Similarity.bruteForceTopK(emb, probes, "vec_id", "embedding", k = 5)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val full = Similarity.ivfTopK(emb, probes, "vec_id", "embedding",
      k = 5, nlist = 8, nProbe = 8)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(full == exact) // searching every cell IS exact search
  }

  test("IVF recall on the real embeddings table vs brute force") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val probes = emb.filter($"vec_id" < 5)
    val exact = Similarity.bruteForceTopK(emb, probes, "vec_id", "embedding", k = 5)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.ivfTopK(emb, probes, "vec_id", "embedding",
      k = 5, nlist = 8, nProbe = 4)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall > 0.5, s"IVF recall $recall unexpectedly low")
  }

  test("LSH recall on the real embeddings table vs brute force") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val probes = emb.filter($"vec_id" < 5)
    val exact = Similarity.bruteForceTopK(emb, probes, "vec_id", "embedding", k = 5)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopK(emb, probes, "vec_id", "embedding",
      k = 5, planes = 4).select("probe_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    // 4 planes ≈ 16 buckets over ~500 vecs, multi-probe: solid recall
    // even though this data's nearest neighbors sit at cos≈0.5 (~60°,
    // per-plane collision only ~0.67)
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall > 0.4, s"LSH recall $recall unexpectedly low")
  }

  test("srpSketch packs the 64 plane signs exactly (incl. the bit-63 wrap)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter($"vec_id" < 20)
    val got = Similarity.srpSketch(emb, "vec_id", "embedding")
      .as[(Long, Long)].collect().toMap
    val planes = Similarity.lcgPlanes(64, 64, 300000L)
    val vecs = emb.select($"vec_id", $"embedding").as[(Long, Seq[Float])]
      .collect().toMap
    for ((id, v) <- vecs) {
      // same left-to-right fold as the native dot product
      val expect = planes.zipWithIndex.map { case (w, j) =>
        val dot = v.indices.foldLeft(0.0)((acc, i) => acc + v(i).toDouble * w(i))
        if (dot >= 0) 1L << j else 0L
      }.sum // modular long addition: bit 63 wraps to the sign bit
      assert(got(id) == expect, s"vec $id sketch mismatch")
    }
    assert(got.values.exists(_ < 0), "no sketch exercises the sign bit")
  }

  test("srpNearPairs finds planted near-angle replicas, never unrelated vectors") {
    val rng = new scala.util.Random(7L)
    val base = Seq.fill(8)(Array.fill(64)(rng.nextGaussian().toFloat))
    // replica k = base k with 2% relative noise → tiny angle → tiny hamming;
    // distinct gaussian bases are near-orthogonal (~90°) → hamming ≈ 32
    val rows = base.zipWithIndex.flatMap { case (v, k) =>
      val rep = v.map(x => x * (1f + 0.02f * rng.nextGaussian().toFloat))
      Seq((k.toLong, v.toSeq), (100L + k, rep.toSeq))
    }
    val df = rows.toDF("vec_id", "embedding")
    val pairs = Similarity.srpNearPairs(df, "vec_id", "embedding",
      maxHamming = 7)
      .select("a", "b").as[(Long, Long)].collect().toSet
    for (k <- 0 until 8)
      assert(pairs.contains((k.toLong, 100L + k)), s"planted pair $k missed")
    assert(pairs.forall { case (a, b) => b - a == 100L },
      s"unrelated vectors paired: ${pairs.filter { case (a, b) => b - a != 100L }}")
  }

  test("gramUpperTriangle: exact hand-computed sums, partition-invariant") {
    // r0 = [1e6, 2e6], r1 = [3e6, 4e6] (exact on the 1e-6 grid):
    //   s00 = 1e12 + 9e12 = 1e13;  s01 = 2e12 + 12e12 = 1.4e13;
    //   s11 = 4e12 + 16e12 = 2e13;  n = 2 → mean00 = 1e13/2e12 = 5.0
    val df = Seq((0L, Seq(1f, 2f)), (1L, Seq(3f, 4f))).toDF("vec_id", "embedding")
    def collect(d: org.apache.spark.sql.DataFrame) =
      d.as[(Long, Long, Long, Long, Double)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    val got = collect(Similarity.gramUpperTriangle(df, "embedding", dim = 2))
    assert(got.size == 3) // upper triangle of 2×2
    assert(got((0L, 0L)) == ((2L, 10000000000000L, 5.0)))
    assert(got((0L, 1L)) == ((2L, 14000000000000L, 7.0)))
    assert(got((1L, 1L)) == ((2L, 20000000000000L, 10.0)))
    // exact longs → identical under any partitioning (incl. empty ones)
    val got7 = collect(Similarity.gramUpperTriangle(df.repartition(7),
      "embedding", dim = 2))
    assert(got7 == got)
  }

  test("gramUpperTriangle feeds driver-side power iteration (the PCA path)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dim = 64
    val rows = Similarity.gramUpperTriangle(emb, "embedding", dim)
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(rows.length == dim * (dim + 1) / 2)
    // densify the symmetric matrix; power-iterate for the top
    // principal direction — bounded driver work on a 64×64 matrix
    val a = Array.ofDim[Double](dim, dim)
    rows.foreach { case (i, j, _, _, m) =>
      a(i.toInt)(j.toInt) = m; a(j.toInt)(i.toInt) = m
    }
    var v = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
    var lambda = 0.0
    for (_ <- 0 until 200) {
      val av = Array.tabulate(dim)(i =>
        (0 until dim).foldLeft(0.0)((s, j) => s + a(i)(j) * v(j)))
      val norm = math.sqrt(av.map(x => x * x).sum)
      lambda = norm
      v = av.map(_ / norm)
    }
    // the gram matrix is PSD: its top eigenvalue dominates every
    // diagonal entry, and the iterate must satisfy A·v ≈ λ·v
    val maxDiag = (0 until dim).map(i => a(i)(i)).max
    assert(lambda >= maxDiag - 1e-12,
      s"top eigenvalue $lambda below max diagonal $maxDiag")
    val av = Array.tabulate(dim)(i =>
      (0 until dim).foldLeft(0.0)((s, j) => s + a(i)(j) * v(j)))
    val resid = math.sqrt(av.zip(v).map { case (x, y) =>
      (x - lambda * y) * (x - lambda * y) }.sum)
    // the corpus gram's eigengap is modest, so 200 iterations land at
    // ~1e-7 relative residual; 1e-5 asserts convergence with margin
    assert(resid <= 1e-5 * lambda,
      s"power iteration not converged: residual $resid vs λ $lambda")
  }

  test("pcaProject2: pc1 identical to the single-component fit, pc2 decorrelated, partition-invariant") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val two = Similarity.pcaProject2(emb, "vec_id", "embedding", dim = 64)
      .orderBy("vec_id").as[(Long, Double, Double)].collect().toSeq
    val one = Similarity.pcaProject(emb, "vec_id", "embedding", dim = 64)
      .orderBy("vec_id").as[(Long, Double)].collect().toSeq
    assert(two.map(r => (r._1, r._2)) == one,
      "pc1 must be bit-identical to the single-component projection")
    // deflation orthogonality: Σ pc1·pc2 = v₁ᵀ(Σ rrᵀ)v₂ — bounded by
    // the FIRST iteration's convergence residual, not machine eps
    // (deflating with an ε-converged v₁ leaks ~ε·λ₁ of coupling into
    // A₂; measured cos ≈ 3e-4 on this corpus at 100 iterations, vs
    // ~0.5 for a non-deflated rerun that would just re-find v₁)
    val dot = two.map(r => r._2 * r._3).sum
    val n1 = math.sqrt(two.map(r => r._2 * r._2).sum)
    val n2 = math.sqrt(two.map(r => r._3 * r._3).sum)
    assert(math.abs(dot) / (n1 * n2) < 5e-3,
      s"pc2 not decorrelated from pc1: cos = ${dot / (n1 * n2)}")
    val re = Similarity.pcaProject2(emb.repartition(7, col("vec_id")),
      "vec_id", "embedding", dim = 64)
      .orderBy("vec_id").as[(Long, Double, Double)].collect().toSeq
    assert(re == two, "projections must be partition-invariant")
  }

  test("pcaVariance2: spectrum ordering, PSD bound, and lambda1 identity with the single fit") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (l1, l2, trace, v2) = Similarity.pcaVariance2(emb, "embedding", dim = 64)
      .as[(Double, Double, Long, Double)].head()
    val (l1single, traceSingle, v1) = Similarity.pcaVariance(emb, "embedding", dim = 64)
      .as[(Double, Long, Double)].head()
    assert(l1 == l1single && trace == traceSingle,
      "the two-eigen fit must reuse the single fit bit-for-bit")
    assert(l1 >= l2 && l2 > 0.0, s"spectrum out of order: λ1=$l1 λ2=$l2")
    assert(l1 + l2 <= trace.toDouble * (1 + 1e-12),
      "PSD: leading eigenvalues cannot exceed the trace")
    assert(v2 == (l1 + l2) / trace.toDouble && v2 > v1,
      "cumulative ratio must be the declared arithmetic and exceed one component's")
  }

  test("kmeansFitStats: sizes partition the corpus, inertia is exact and partition-invariant") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val stats = Similarity.kmeansFitStats(emb, "vec_id", "embedding")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(stats.map(_._2).sum == emb.count(),
      "cell sizes must partition the corpus")
    assert(stats.forall(s => s._1 >= 0 && s._1 < 16), "cells are 0-based < nlist")
    assert(stats.forall(s => s._4 == s._3.toDouble / (s._2.toDouble * 1e6)),
      "mean_d2 must be the single final division of the exact long sum")
    val re = Similarity.kmeansFitStats(
      emb.repartition(7, col("vec_id")), "vec_id", "embedding")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(re.sortBy(_._1) == stats.sortBy(_._1),
      "exact-long inertia must be partition-invariant")
  }

  test("clusterBalancedSample: per-cell cap, assignment-consistent, equals the window formulation") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val perCell = 5
    val got = Similarity.clusterBalancedSample(emb, "vec_id", "embedding",
      perCell = perCell).as[(Long, Long, Long)].collect().toSeq
    val byCell = got.groupBy(_._1)
    assert(byCell.values.forall(_.size <= perCell), "per-cell cap respected")
    assert(byCell.values.forall(g => g.map(_._3).sorted == (1 to g.size).map(_.toLong)),
      "ranks are dense 1..n within each cell")
    // every sampled row carries its true k-means cell
    val cells = Similarity.kmeansCells(emb, "vec_id", "embedding")
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap
    assert(got.forall(r => cells(r._2) == r._1), "sample rows keep their cell")
    // the bounded-heap aggregate must equal the row_number formulation
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cell"))
      .orderBy(xxhash64(col("vec_id")).asc, col("vec_id").asc)
    val want = Similarity.kmeansCells(emb, "vec_id", "embedding")
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= perCell)
      .select("cell", "vec_id", "rk").as[(Long, Long, Long)].collect().toSeq
    assert(got.sorted == want.sorted,
      "topK-aggregate sample must equal the window formulation")
  }

  test("knnFromPairs: symmetrization, per-node cap, and (cosine desc, id asc) tie-break equal the window formulation") {
    // node 1 has three neighbors with a score TIE at 0.8 (ids 3 and 4
    // — the tie must break to 3 first); node 5 only appears as a 'b'
    // side, so symmetrization must give it its row
    val pairs = Seq((1L, 2L, 0.9), (1L, 3L, 0.8), (1L, 4L, 0.8),
      (2L, 3L, 0.7), (4L, 5L, 0.5)).toDF("a", "b", "cosine")
    val got = Similarity.knnFromPairs(pairs, k = 2)
      .orderBy("vec_id", "rank")
      .as[(Long, Long, Long, Double)].collect().toSeq
    val want = Seq(
      (1L, 1L, 2L, 0.9), (1L, 2L, 3L, 0.8), // 4 cut by k=2 after the tie-break
      (2L, 1L, 1L, 0.9), (2L, 2L, 3L, 0.7),
      (3L, 1L, 1L, 0.8), (3L, 2L, 2L, 0.7),
      (4L, 1L, 1L, 0.8), (4L, 2L, 5L, 0.5),
      (5L, 1L, 4L, 0.5))
    assert(got == want, s"got $got")
    // the bounded-heap aggregate must equal the row_number window
    val sym = pairs.select(col("a").as("src"), col("b").as("dst"), col("cosine"))
      .unionByName(pairs.select(col("b").as("src"), col("a").as("dst"), col("cosine")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("src")
      .orderBy(col("cosine").desc, col("dst").asc)
    val viaWindow = sym.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 2)
      .select(col("src").as("vec_id"), col("rank"), col("dst").as("neighbor_id"), col("cosine"))
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    assert(got.sorted == viaWindow)
  }

  test("rrfFuse: rank arithmetic, missing-list zero contribution, id tie-break") {
    val lex = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("id", "rank")
    val sem = Seq((2L, 1L), (4L, 2L)).toDF("id", "rank")
    val got = Similarity.rrfFuse(Seq("lex" -> lex, "sem" -> sem),
      "id", "rank", k0 = 60, topK = 10)
      .as[(Long, Option[Long], Option[Long], Double)].collect().toSeq
    // id 2 is in both lists: 1/62 + 1/61; singles contribute one term;
    // absent list = 0, surfaced as a NULL rank
    val want = Seq(
      (2L, Some(2L), Some(1L), 1.0 / 62 + 1.0 / 61),
      (1L, Some(1L), None, 1.0 / 61),
      (4L, None, Some(2L), 1.0 / 62),
      (3L, Some(3L), None, 1.0 / 63))
    assert(got == want, s"got $got, want $want")
    // score ties (same ranks in mirrored lists) break by id ascending
    val l2 = Seq((7L, 1L), (5L, 2L)).toDF("id", "rank")
    val s2 = Seq((5L, 1L), (7L, 2L)).toDF("id", "rank")
    val tied = Similarity.rrfFuse(Seq("a" -> l2, "b" -> s2), "id", "rank",
      k0 = 60, topK = 1).as[(Long, Option[Long], Option[Long], Double)]
      .collect().toSeq
    assert(tied.map(_._1) == Seq(5L), s"tie must break to the lower id: $tied")
  }

  test("rrfFuse: duplicate list names rejected") {
    val l = Seq((1L, 1L)).toDF("id", "rank")
    val e = intercept[IllegalArgumentException] {
      Similarity.rrfFuse(Seq("x" -> l, "x" -> l), "id", "rank")
    }
    assert(e.getMessage.contains("distinct"))
  }

  test("kCenterSelect: farthest-point traversal matches the hand trace") {
    // seed = min id (0,0); then (10,0) at d²=100; then (5,5) whose
    // running min-dist 50 beats (0,1)'s 1; then (0,1)
    val pts = Seq(
      (1L, Seq(0f, 0f)), (2L, Seq(10f, 0f)),
      (3L, Seq(0f, 1f)), (4L, Seq(5f, 5f))).toDF("vec_id", "embedding")
    val got = Similarity.kCenterSelect(pts, "vec_id", "embedding", k = 4)
      .orderBy("sel_round")
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 1L, 0.0), (2L, 2L, 100.0),
      (3L, 4L, 50.0), (4L, 3L, 1.0)))
    // partition invariance: same bits under a different layout
    val got7 = Similarity.kCenterSelect(pts.repartition(7), "vec_id",
      "embedding", k = 4).orderBy("sel_round")
      .as[(Long, Long, Double)].collect().toSeq
    assert(got7 == got)
  }

  test("kCenterSelect: exhausted-corpus degenerate case re-picks by the tie rule") {
    // two identical points, k=3: rounds 2 and 3 see every distance at
    // 0 and the (d DESC, id ASC) rule re-picks the min id — the
    // documented deterministic degenerate both engines share
    val dup = Seq((1L, Seq(1f, 2f)), (2L, Seq(1f, 2f))).toDF("vec_id", "embedding")
    val got = Similarity.kCenterSelect(dup, "vec_id", "embedding", k = 3)
      .orderBy("sel_round")
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 1L, 0.0), (2L, 1L, 0.0), (3L, 1L, 0.0)))
  }
}
