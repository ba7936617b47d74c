package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DecimalType, DoubleType, IntegerType, LongType, StringType}

import graft.operators.{Caching, Dedup, Quantization, Sampling, Similarity,
  TemporalJoins, TextAnalysis}
import Queries.{Q, t}

/** LLM-data-pipeline extension queries over the `documents`,
  * `embeddings`, and `events` testdata tables — deduplication,
  * similarity search, text analysis, and event-stream analytics (batch
  * analogs; the Structured Streaming variants live in
  * graft.streaming and are exercised by the test suite).
  *
  * Oracles: engine-internal hash functions (xxhash64, minhash, simhash)
  * are not reproducible in DuckDB, so those queries are registered
  * without oracle SQL → the driver records a rows-only check; their
  * *semantics* are instead pinned by ScalaTest specs against
  * hand-computable fixtures. Everything arithmetic (token stats,
  * quality, sessionization, windowed aggregates) carries a full oracle.
  */
object PipelineQueries {

  private val D4 = DecimalType(18, 4)

  /** Input-skew remedy for compute-heavy corpus queries (guide §2.5:
    * "one huge unsplittable file … repartition immediately after the
    * read"). The testdata tables are single-file/single-row-group
    * parquet, so every scan plans as ONE task and the tokenizer/
    * hash-heavy map work upstream of the first exchange runs
    * single-threaded (measured: 0.5-0.8 s single-task stages under
    * dedup_minhash, doc_dup_span_removal and the capstones at sf0.1
    * on 32 cores). Scale-adaptive by construction: the round-robin
    * spread fires only when the planned scan parallelism is below
    * half the session's default parallelism — at cluster scale a real
    * corpus arrives in many splits and this is a no-op. Call ONLY on
    * scan-rooted frames (`.rdd` on a shuffle-bearing AQE frame would
    * eagerly materialize its stages). Row-to-partition assignment is
    * retry-deterministic (sortBeforeRepartition, on by default) and
    * no registered result depends on partitioning — the repo's
    * partitioning-invariance contract, re-verified by the oracle gate
    * after this change. */
  private def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 <= target) df.repartition(target)
    else df
  }

  // ---------------------------------------------------------------------
  // DuckDB oracle builders for the vector/LSH queries. All vector
  // arithmetic is a sequential left-to-right double fold in BOTH engines
  // (graft's ArrayDotProduct loop ≡ DuckDB's list_dot_product), so the
  // oracles compare bit-identical doubles — verified, not assumed.
  // ---------------------------------------------------------------------

  /** DuckDB expression reproducing one [[graft.operators.Similarity.lcgPlanes]]
    * weight vector at flat base index `idx0`: exact integer LCG + one
    * power-of-two division — bit-identical to the Scala side. */
  private def lcgVecSql(idx0: Long, dim: Int): String =
    s"list_transform(generate_series(0, ${dim - 1}), j -> " +
      s"((1103515245::BIGINT * ($idx0 + j) + 12345) % 2147483648) / 2147483648.0 - 0.5)"

  /** Cosine in the exact formula/order VectorOps.cosine uses. */
  private def cosSql(a: String, b: String): String =
    s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"

  private val CosBands = 8
  private val CosPlanes = 8
  private val CosDim = 64
  private val CosMaxBucket = 10000L

  /** Full independent re-implementation of the banded-LSH cosine-pairs
    * pipeline in DuckDB SQL: same LCG hyperplanes, same band keys, same
    * bucket cap, same exact-cosine verification. */
  private def cosinePairsOracle: String = {
    val keys = (0 until CosBands).map { r =>
      val bits = (0 until CosPlanes).map { p =>
        val w = lcgVecSql((r.toLong * CosPlanes + p) * CosDim, CosDim)
        s"CASE WHEN list_dot_product(v, $w) >= 0 THEN '1' ELSE '0' END"
      }
      s"concat(${bits.mkString(", ")})"
    }
    val bandIdx = (0 until CosBands).mkString(", ")
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |ks AS (SELECT vec_id, [${keys.mkString(", ")}] AS keys FROM v),
       |bkt AS (SELECT vec_id, unnest([$bandIdx]) AS band, unnest(keys) AS key FROM ks),
       |kept AS (SELECT band, key FROM bkt GROUP BY band, key HAVING count(*) <= $CosMaxBucket),
       |bk AS (SELECT bkt.vec_id, bkt.band, bkt.key FROM bkt SEMI JOIN kept USING (band, key)),
       |cand AS (SELECT DISTINCT x.vec_id AS ida, y.vec_id AS idb FROM bk x JOIN bk y USING (band, key) WHERE x.vec_id < y.vec_id)
       |SELECT ida AS a, idb AS b, ${cosSql("va.v", "vb.v")} AS cosine
       |FROM cand JOIN v va ON va.vec_id = ida JOIN v vb ON vb.vec_id = idb
       |WHERE cosine >= 0.4""".stripMargin.replace("\n", " ")
  }

  /** The PCA power iteration re-derived in DuckDB — ONE builder feeds
    * both the projection and the variance oracles: exact-long gram
    * matrix (corpus sum of scaled-component products), 100 iterations
    * as a recursive CTE whose matvec/norm are the same ascending-index
    * sequential folds the driver loop runs (list_sum over
    * list_transform(generate_series) — verified bit-identical). The
    * seed MUST be CAST AS DOUBLE: a bare 0.125 literal is DECIMAL in
    * DuckDB and poisons the whole iteration's type. Ends with `r`
    * (scaled vectors), `amat` (the matrix), `vfin` (the eigenvector). */
  private def pcaIterCtes: String =
    s"""r AS (SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS r FROM embeddings),
       |ge AS (SELECT i, j, CAST(SUM(r[i] * r[j]) AS DOUBLE) AS g FROM r, generate_series(1, 64) AS gi(i), generate_series(1, 64) AS gj(j) GROUP BY i, j),
       |arow AS (SELECT i, list(g ORDER BY j) AS row FROM ge GROUP BY i),
       |amat AS (SELECT list(row ORDER BY i) AS a FROM arow),
       |it AS (SELECT 0 AS t, list_transform(generate_series(1, 64), x -> CAST(1.0 AS DOUBLE) / sqrt(CAST(64 AS DOUBLE))) AS v
       |UNION ALL SELECT t + 1, list_transform(av, x -> x / sqrt(list_sum(list_transform(av, y -> y * y))))
       |FROM (SELECT t, list_transform(generate_series(1, 64), i -> list_sum(list_transform(generate_series(1, 64), j -> a[i][j] * v[j]))) AS av
       |FROM it, amat WHERE t < 100)),
       |vfin AS (SELECT v FROM it WHERE t = 100)""".stripMargin

  private def pcaProjectOracle: String =
    s"""WITH RECURSIVE $pcaIterCtes
       |SELECT vec_id, list_sum(list_transform(generate_series(1, 64), j -> r[j] * v[j])) AS pc1
       |FROM r, vfin ORDER BY vec_id""".stripMargin.replace("\n", " ")

  /** Two-component deflation oracle: λ₁ from the pinned first fit, the
    * deflated matrix a₂[i][j] = a[i][j] − λ·v[i]·v[j] as one
    * left-assoc expression per cell, a SECOND recursive power
    * iteration on a₂ (identical chain), and both sequenced projection
    * folds. */
  /** The deflation chain shared by the project2 and variance2
    * oracles: λ₁ from the pinned first fit, a₂ = a − λ·v·vᵀ, the
    * second recursive iteration, ending in `vfin2(w)`. */
  private def pcaDeflateCtes: String =
    s"""$pcaIterCtes,
       |avf AS MATERIALIZED (SELECT list_transform(generate_series(1, 64), i -> list_sum(list_transform(generate_series(1, 64), j -> a[i][j] * v[j]))) AS av FROM vfin, amat),
       |lam AS MATERIALIZED (SELECT sqrt(list_sum(list_transform(av, y -> y * y))) AS lambda FROM avf),
       |amat2 AS MATERIALIZED (SELECT list_transform(generate_series(1, 64), i -> list_transform(generate_series(1, 64), j -> a[i][j] - lambda * v[i] * v[j])) AS a2 FROM amat, vfin, lam),
       |it2 AS (SELECT 0 AS t, list_transform(generate_series(1, 64), x -> CAST(1.0 AS DOUBLE) / sqrt(CAST(64 AS DOUBLE))) AS v
       |UNION ALL SELECT t + 1, list_transform(av, x -> x / sqrt(list_sum(list_transform(av, y -> y * y))))
       |FROM (SELECT t, list_transform(generate_series(1, 64), i -> list_sum(list_transform(generate_series(1, 64), j -> a2[i][j] * v[j]))) AS av
       |FROM it2, amat2 WHERE t < 100)),
       |vfin2 AS MATERIALIZED (SELECT v AS w FROM it2 WHERE t = 100)""".stripMargin

  private def pcaProject2Oracle: String =
    s"""WITH RECURSIVE $pcaDeflateCtes
       |SELECT vec_id, list_sum(list_transform(generate_series(1, 64), j -> r[j] * v[j])) AS pc1,
       |list_sum(list_transform(generate_series(1, 64), j -> r[j] * w[j])) AS pc2
       |FROM r, vfin, vfin2 ORDER BY vec_id""".stripMargin.replace("\n", " ")

  /** λ₂ = the sequenced norm of one matvec of the DEFLATED matrix on
    * the second iterate — mirroring λ₁'s `lam`; cumulative ratio is
    * one addition + one division. */
  private def pcaVariance2Oracle: String =
    s"""WITH RECURSIVE $pcaDeflateCtes,
       |avf2 AS MATERIALIZED (SELECT list_transform(generate_series(1, 64), i -> list_sum(list_transform(generate_series(1, 64), j -> a2[i][j] * w[j]))) AS av FROM vfin2, amat2),
       |lam2 AS MATERIALIZED (SELECT sqrt(list_sum(list_transform(av, y -> y * y))) AS lambda2 FROM avf2),
       |tr2 AS (SELECT CAST(SUM(r[i] * r[i]) AS BIGINT) AS trace_scaled FROM r, generate_series(1, 64) AS gi(i))
       |SELECT lam.lambda AS lambda1, lam2.lambda2, tr2.trace_scaled,
       |(lam.lambda + lam2.lambda2) / CAST(tr2.trace_scaled AS DOUBLE) AS var2_explained
       |FROM lam, lam2, tr2""".stripMargin.replace("\n", " ")

  /** λ = the sequenced norm of one extra matvec on the final iterate;
    * trace = exact long Σ r_i² (order-free); ratio = one division. */
  private def pcaVarianceOracle: String =
    s"""WITH RECURSIVE $pcaIterCtes,
       |avf AS (SELECT list_transform(generate_series(1, 64), i -> list_sum(list_transform(generate_series(1, 64), j -> a[i][j] * v[j]))) AS av FROM vfin, amat),
       |lam AS (SELECT sqrt(list_sum(list_transform(av, y -> y * y))) AS lambda FROM avf),
       |tr AS (SELECT CAST(SUM(r[i] * r[i]) AS BIGINT) AS trace_scaled FROM r, generate_series(1, 64) AS gi(i))
       |SELECT lambda, trace_scaled, lambda / CAST(trace_scaled AS DOUBLE) AS var_explained
       |FROM lam, tr""".stripMargin.replace("\n", " ")

  /** Density-prune over the cosinePairs graph: wraps the full LSH
    * pair re-derivation, then degree + the keep decision. */
  private def densityPruneOracle: String =
    s"""WITH cp AS ($cosinePairsOracle),
       |deg AS (SELECT vid, COUNT(*) AS degree FROM (SELECT a AS vid FROM cp UNION ALL SELECT b AS vid FROM cp) GROUP BY vid)
       |SELECT e.vec_id, COALESCE(deg.degree, 0) AS degree, COALESCE(deg.degree, 0) <= 1 AS keep
       |FROM embeddings e LEFT JOIN deg ON deg.vid = e.vec_id ORDER BY vec_id""".stripMargin.replace("\n", " ")

  private val LshPlanes = 6
  private val LshSeed = 100000L

  /** Full multi-probe LSH top-k re-implemented in DuckDB: same LCG
    * hyperplanes, same sign buckets, same hamming-1 probe expansion,
    * same exact-cosine re-rank. */
  private def annLshOracle: String = {
    def signs(v: String): String = {
      val bits = (0 until LshPlanes).map { p =>
        val w = lcgVecSql(LshSeed + p.toLong * CosDim, CosDim)
        s"CASE WHEN list_dot_product($v, $w) >= 0 THEN '1' ELSE '0' END"
      }
      s"concat(${bits.mkString(", ")})"
    }
    // b0 plus the 6 hamming-1 bit flips (multi-probe, probe side only)
    val flips = (0 until LshPlanes).map { i =>
      s"concat(substr(b0, 1, $i), CASE WHEN substr(b0, ${i + 1}, 1) = '1' THEN '0' ELSE '1' END, substr(b0, ${i + 2}, ${LshPlanes - i - 1}))"
    }
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |c AS (SELECT vec_id AS neighbor_id, v, ${signs("v")} AS bucket FROM v),
       |p0 AS (SELECT vec_id AS probe_id, v AS pv, ${signs("v")} AS b0 FROM v WHERE vec_id < 10),
       |pb AS (SELECT probe_id, pv, unnest([b0, ${flips.mkString(", ")}]) AS bucket FROM p0),
       |scored AS (SELECT probe_id, neighbor_id, ${cosSql("pv", "c.v")} AS cosine
       |FROM c JOIN pb USING (bucket) WHERE neighbor_id <> probe_id)
       |SELECT probe_id, neighbor_id, cosine, rank FROM (
       |SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM scored)
       |WHERE rank <= 10""".stripMargin.replace("\n", " ")
  }

  /** The entire IVF pipeline re-derived in DuckDB — including Lloyd's
    * k-means itself: the hash-ordered training sample (xxh64 of the
    * BIGINT id — the 8-byte chunk of a long IS its unsigned value), 10
    * unrolled assign/average iterations with every float accumulation
    * an ORDERED list_sum (bit-identical to the Scala trainer's
    * sequential loops — verified, not assumed), then cell assignment
    * with the same ‖v‖²−2v·c+‖c‖² expression order, nProbe=4 probe
    * cells, and exact-cosine re-rank. MATERIALIZED on the per-iteration
    * CTEs — each references its predecessor twice, and without it the
    * inlined 10-level chain re-evaluates exponentially. */
  /** CTE chain re-deriving the IVF k-means train + assign in DuckDB,
    * ending in `ivcell`(vec_id, v, cell) — the full corpus with its
    * nearest-centroid cell after 10 Lloyd iterations on the same
    * hash-ordered 4096-vector sample the Spark side trains on. Shared
    * by the IVF top-k oracle (which adds probe scoring on `ivd`) and
    * the semantic-dedup oracle (which adds within-cell pairs). */
  /** Shared sample CTEs (`ivv` … `ivsamp`): the full corpus as double
    * lists plus the hash-ordered ≤4096-row training sample — the exact
    * xxh64-of-BIGINT ordering the Spark trainers
    * ([[operators.Similarity.ivfTopK]], [[operators.Quantization.pqTopK]])
    * collect. Used by both the full-dim IVF k-means and the
    * per-subspace PQ codebooks. */
  private def ivfSampleCtes: String = {
    import Xxh64Sql._
    val hfinal = xor64("b4", s"(b4 // ${1L << 32})")
    s"""ivv AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |ivk AS (SELECT vec_id, v, ${mulmod(rotl(mulmod("(vec_id::HUGEINT)", P2), 31), P1)} AS k FROM ivv),
       |ivx AS (SELECT vec_id, v, (${mulmod(rotl(xor64(Acc0Len8, "k"), 27), P1)} + $P4) % $M64 AS a3 FROM ivk),
       |ivy AS (SELECT vec_id, v, ${mulmod(xor64("a3", s"(a3 // ${1L << 33})"), P2)} AS b2 FROM ivx),
       |ivz AS (SELECT vec_id, v, ${mulmod(xor64("b2", s"(b2 // ${1L << 29})"), P3)} AS b4 FROM ivy),
       |ivh AS (SELECT vec_id, v, (CASE WHEN $hfinal >= 9223372036854775808 THEN $hfinal - $M64 ELSE $hfinal END)::BIGINT AS hs FROM ivz),
       |ivs0 AS (SELECT vec_id, v, row_number() OVER (ORDER BY hs ASC, vec_id ASC) AS pos FROM ivh),
       |ivsamp AS MATERIALIZED (SELECT * FROM ivs0 WHERE pos <= 4096)""".stripMargin.replace("\n", " ")
  }

  private def kmeansCellCtes: String = {
    val dist64 = "list_sum(list_transform(generate_series(1, 64), j -> (s.v[j] - c.clist[j]) * (s.v[j] - c.clist[j])))"
    val iters = new StringBuilder
    var prev = "ivc0"
    for (t <- 1 to 10) {
      iters ++= s"""iva$t AS MATERIALIZED (SELECT pos, v, cell FROM (
        |SELECT s.pos, s.v, c.cell, row_number() OVER (PARTITION BY s.pos ORDER BY $dist64 ASC, c.cell ASC) AS rn
        |FROM ivsamp s CROSS JOIN $prev c) WHERE rn = 1),
        |ivn$t AS (SELECT cell, count(*) AS cnt FROM iva$t GROUP BY cell),
        |ive$t AS (SELECT a.cell, d.j, list_sum(list(a.v[d.j] ORDER BY a.pos)) AS sm FROM iva$t a CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS j) d GROUP BY a.cell, d.j),
        |ivm$t AS (SELECT e.cell, list(e.sm / n.cnt ORDER BY e.j) AS ml FROM ive$t e JOIN ivn$t n ON n.cell = e.cell GROUP BY e.cell),
        |ivc$t AS MATERIALIZED (SELECT p.cell, COALESCE(m.ml, p.clist) AS clist FROM $prev p LEFT JOIN ivm$t m ON m.cell = p.cell),
        |""".stripMargin
      prev = s"ivc$t"
    }
    s"""$ivfSampleCtes,
       |ivc0 AS MATERIALIZED (SELECT c.cell, s.v AS clist FROM (SELECT unnest(generate_series(0, 15)) AS cell) c
       |JOIN ivsamp s ON s.pos = (c.cell * (SELECT count(*) FROM ivsamp)) // 16 + 1),
       |${iters}ivcn AS MATERIALIZED (SELECT cell, clist, list_sum(list_transform(clist, x -> x * x)) AS cnorm FROM ivc10),
       |ivvn AS (SELECT vec_id, v, list_dot_product(v, v) AS vn FROM ivv),
       |ivd AS MATERIALIZED (SELECT t.vec_id, t.v, c.cell, (t.vn - 2.0 * list_dot_product(t.v, c.clist)) + c.cnorm AS d
       |FROM ivvn t CROSS JOIN ivcn c),
       |ivcell AS (SELECT vec_id, v, cell FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cell ASC) AS rn FROM ivd) WHERE rn = 1)""".stripMargin.replace("\n", " ")
  }

  /** SQ8 search re-derived end-to-end: per-dim min/max fit, the same
    * clamped floor encode, midpoint decode, exact cosine of decoded
    * candidate vs raw probe, row_number top-10. Every step is the
    * identical expression tree Quantization.{sqEncode,sqDecode} emit,
    * so the doubles are bit-equal. */
  private def sqOracle: String = {
    val code = "CAST(least(255.0, greatest(0.0, floor((v[j] - mm.mn[j]) / (mm.mx[j] - mm.mn[j]) * 255.0))) AS INT)"
    s"""WITH sqv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |mm AS (SELECT list(mn ORDER BY j) AS mn, list(mx ORDER BY j) AS mx FROM (
       |  SELECT j, min(v[j]) AS mn, max(v[j]) AS mx FROM sqv
       |  CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS j) GROUP BY j)),
       |sqd AS (SELECT vec_id, list_transform(generate_series(1, 64), j ->
       |  mm.mn[j] + ((CASE WHEN mm.mx[j] = mm.mn[j] THEN 0 ELSE $code END) + 0.5) * ((mm.mx[j] - mm.mn[j]) / 255.0)) AS cv
       |  FROM sqv CROSS JOIN mm),
       |sqp AS (SELECT vec_id AS probe_id, v AS pv FROM sqv WHERE vec_id < 10),
       |sqs AS (SELECT p.probe_id, d.vec_id AS neighbor_id, ${cosSql("p.pv", "d.cv")} AS qcos
       |FROM sqd d CROSS JOIN sqp p WHERE d.vec_id <> p.probe_id)
       |SELECT probe_id, neighbor_id, qcos, rank FROM (
       |SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY qcos DESC, neighbor_id ASC) AS rank FROM sqs)
       |WHERE rank <= 10""".stripMargin.replace("\n", " ")
  }

  private def ivfOracle: String =
    s"""WITH $kmeansCellCtes,
       |ivpc AS (SELECT vec_id AS probe_id, v AS pv, cell FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cell ASC) AS rn FROM ivd WHERE vec_id < 10) WHERE rn <= 4),
       |ivscored AS (SELECT p.probe_id, c.vec_id AS neighbor_id, ${cosSql("p.pv", "c.v")} AS cosine
       |FROM ivcell c JOIN ivpc p ON p.cell = c.cell WHERE c.vec_id <> p.probe_id)
       |SELECT probe_id, neighbor_id, cosine, rank FROM (
       |SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM ivscored)
       |WHERE rank <= 10""".stripMargin.replace("\n", " ")

  /** Incremental-IVF oracle: a FULL SCRATCH REBUILD over the merged
    * corpus — the change feed's net effect replayed as one relational
    * transform (`%10 = 3` deleted, `%10 = 1` negated, everyone else
    * original), cell-assigned against the SAME `ivcn` centroids the
    * [[ivfOracle]] trains (the quantizer is fixed at index creation —
    * the Faiss protocol — so train stays on the full raw corpus), and
    * searched with the identical probe ranking + exact-cosine re-rank.
    * The Spark side must reach this bit-for-bit THROUGH the
    * incremental path (bootstrap assign + one maintained change
    * batch), so the hash pins maintained-index ≡ rebuilt-index, not
    * just "search still works". */
  private def ivfIncrementalOracle: String =
    s"""WITH $kmeansCellCtes,
       |fincr AS (SELECT vec_id, CASE WHEN vec_id % 10 = 1 THEN list_transform(v, x -> -x) ELSE v END AS v FROM ivv WHERE vec_id % 10 <> 3),
       |fvn AS (SELECT vec_id, v, list_dot_product(v, v) AS vn FROM fincr),
       |fdm AS MATERIALIZED (SELECT t.vec_id, t.v, c.cell, (t.vn - 2.0 * list_dot_product(t.v, c.clist)) + c.cnorm AS d
       |FROM fvn t CROSS JOIN ivcn c),
       |fcell AS (SELECT vec_id, v, cell FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cell ASC) AS rn FROM fdm) WHERE rn = 1),
       |ivpc AS (SELECT vec_id AS probe_id, v AS pv, cell FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cell ASC) AS rn FROM ivd WHERE vec_id < 10) WHERE rn <= 4),
       |fscored AS (SELECT p.probe_id, c.vec_id AS neighbor_id, ${cosSql("p.pv", "c.v")} AS cosine
       |FROM fcell c JOIN ivpc p ON p.cell = c.cell WHERE c.vec_id <> p.probe_id)
       |SELECT probe_id, neighbor_id, cosine, rank FROM (
       |SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM fscored)
       |WHERE rank <= 10""".stripMargin.replace("\n", " ")

  private val PqM = 8
  private val PqSub = 8
  private val PqNlist = 16
  private val PqShortlist = 100

  /** One PQ subspace's codebook, re-derived in DuckDB: Lloyd's k-means
    * on the `ivsamp` slice `v[lo+1 : lo+sub]` — the identical trainer
    * chain as [[kmeansCellCtes]] (seeded evenly-spaced init, ranked
    * assignment with Σ(v−c)² ties to the lowest cell, ORDERED list_sum
    * means, empty cells keep their centroid) — then every corpus
    * vector's code for that subspace via the expanded
    * (‖v_s‖²−2·v_s·c)+‖c‖² expression [[operators.Quantization.pqTopK]]
    * encodes with. Ends in `pq<s>cb`(cell, clist, cnorm) and
    * `pq<s>code`(vec_id, cell). */
  private def pqSubspaceCtes(s: Int): String = {
    val lo = s * PqSub
    val p = s"pq$s"
    val dist = s"list_sum(list_transform(generate_series(1, $PqSub), j -> (s.v[$lo + j] - c.clist[j]) * (s.v[$lo + j] - c.clist[j])))"
    val iters = new StringBuilder
    var prev = s"${p}c0"
    for (t <- 1 to 10) {
      iters ++= s"""${p}a$t AS MATERIALIZED (SELECT pos, v, cell FROM (
        |SELECT s.pos, s.v, c.cell, row_number() OVER (PARTITION BY s.pos ORDER BY $dist ASC, c.cell ASC) AS rn
        |FROM ivsamp s CROSS JOIN $prev c) WHERE rn = 1),
        |${p}n$t AS (SELECT cell, count(*) AS cnt FROM ${p}a$t GROUP BY cell),
        |${p}e$t AS (SELECT a.cell, d.j, list_sum(list(a.v[$lo + d.j] ORDER BY a.pos)) AS sm FROM ${p}a$t a CROSS JOIN (SELECT unnest(generate_series(1, $PqSub)) AS j) d GROUP BY a.cell, d.j),
        |${p}m$t AS (SELECT e.cell, list(e.sm / n.cnt ORDER BY e.j) AS ml FROM ${p}e$t e JOIN ${p}n$t n ON n.cell = e.cell GROUP BY e.cell),
        |${p}c$t AS MATERIALIZED (SELECT p.cell, COALESCE(m.ml, p.clist) AS clist FROM $prev p LEFT JOIN ${p}m$t m ON m.cell = p.cell),
        |""".stripMargin
      prev = s"${p}c$t"
    }
    s"""${p}c0 AS MATERIALIZED (SELECT c.cell, s.v[${lo + 1}:${lo + PqSub}] AS clist FROM (SELECT unnest(generate_series(0, ${PqNlist - 1})) AS cell) c
       |JOIN ivsamp s ON s.pos = (c.cell * (SELECT count(*) FROM ivsamp)) // $PqNlist + 1),
       |${iters}${p}cb AS MATERIALIZED (SELECT cell, clist, list_sum(list_transform(clist, x -> x * x)) AS cnorm FROM ${p}c10),
       |${p}vd AS (SELECT t.vec_id, c.cell, (list_dot_product(t.v[${lo + 1}:${lo + PqSub}], t.v[${lo + 1}:${lo + PqSub}]) - 2.0 * list_dot_product(t.v[${lo + 1}:${lo + PqSub}], c.clist)) + c.cnorm AS d FROM ivv t CROSS JOIN ${p}cb c),
       |${p}code AS MATERIALIZED (SELECT vec_id, cell FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cell ASC) AS rn FROM ${p}vd) WHERE rn = 1)""".stripMargin.replace("\n", " ")
  }

  /** PQ-ADC search fully re-derived: m independent subspace codebooks
    * (Lloyd's in SQL), the per-subspace encode, then the asymmetric
    * score — Σ_s probe-slice·centroid dots left-to-right, centroid
    * norms from the codebooks, the same (adot / (sqrt·sqrt)) tree as
    * pqTopK — and row_number top-10. The hash pins train + encode +
    * ADC rank cross-engine. */
  private def pqOracle: String = {
    val subCtes = (0 until PqM).map(pqSubspaceCtes).mkString(",\n")
    val joins = (0 until PqM).map(s => s"JOIN pq${s}code k$s ON k$s.vec_id = t.vec_id JOIN pq${s}cb b$s ON b$s.cell = k$s.cell").mkString(" ")
    val adot = (0 until PqM).map { s =>
      val lo = s * PqSub
      s"list_dot_product(p.pv[${lo + 1}:${lo + PqSub}], b$s.clist)"
    }.reduce((a, b) => s"($a + $b)")
    val cnorm = (0 until PqM).map(s => s"b$s.cnorm").reduce((a, b) => s"($a + $b)")
    s"""WITH $ivfSampleCtes,
       |$subCtes,
       |pqp AS (SELECT vec_id AS probe_id, v AS pv FROM ivv WHERE vec_id < 10),
       |pqsc AS (SELECT p.probe_id, t.vec_id AS neighbor_id,
       |$adot / (sqrt(list_dot_product(p.pv, p.pv)) * sqrt($cnorm)) AS qcos
       |FROM ivv t $joins CROSS JOIN pqp p WHERE t.vec_id <> p.probe_id),
       |pqsl AS (SELECT probe_id, neighbor_id FROM (
       |SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY qcos DESC, neighbor_id ASC) AS rn FROM pqsc)
       |WHERE rn <= $PqShortlist),
       |pqrr AS (SELECT sl.probe_id, sl.neighbor_id, ${cosSql("p.pv", "t.v")} AS cosine
       |FROM pqsl sl JOIN ivv t ON t.vec_id = sl.neighbor_id JOIN pqp p ON p.probe_id = sl.probe_id)
       |SELECT probe_id, neighbor_id, cosine, rank FROM (
       |SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM pqrr)
       |WHERE rank <= 10""".stripMargin.replace("\n", " ")
  }

  /** IVF×PQ oracle — the two pinned re-derivations COMPOSED, nothing
    * new derived: candidates come from the IVF chain's `ivcell`
    * (corpus cell assignment) joined to the probe side's rn ≤ nProbe
    * cell ranking (both exactly as [[ivfOracle]]), each candidate is
    * ADC-scored through its [[pqSubspaceCtes]] codes (exactly as
    * [[pqOracle]]), the per-probe shortlist is cut at rank ≤
    * `PqShortlist`, and the final top-10 re-ranks the shortlist by
    * exact cosine. A Spark row passes only if coarse assignment, probe
    * ranking, PQ encode, ADC arithmetic, AND the re-rank all agree
    * bit-for-bit. */
  private def ivfPqOracle: String = {
    val subCtes = (0 until PqM).map(pqSubspaceCtes).mkString(",\n")
    val joins = (0 until PqM).map(s =>
      s"JOIN pq${s}code k$s ON k$s.vec_id = c.vec_id JOIN pq${s}cb b$s ON b$s.cell = k$s.cell").mkString(" ")
    val adot = (0 until PqM).map { s =>
      val lo = s * PqSub
      s"list_dot_product(p.pv[${lo + 1}:${lo + PqSub}], b$s.clist)"
    }.reduce((a, b) => s"($a + $b)")
    val cnorm = (0 until PqM).map(s => s"b$s.cnorm").reduce((a, b) => s"($a + $b)")
    s"""WITH $kmeansCellCtes,
       |$subCtes,
       |qpp AS (SELECT vec_id AS probe_id, v AS pv FROM ivv WHERE vec_id < 10),
       |qpc AS (SELECT vec_id AS probe_id, v AS pv, cell FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cell ASC) AS rn FROM ivd WHERE vec_id < 10) WHERE rn <= 4),
       |qsc AS (SELECT p.probe_id, c.vec_id AS neighbor_id,
       |$adot / (sqrt(list_dot_product(p.pv, p.pv)) * sqrt($cnorm)) AS qcos
       |FROM ivcell c JOIN qpc p ON p.cell = c.cell $joins WHERE c.vec_id <> p.probe_id),
       |qsl AS (SELECT probe_id, neighbor_id FROM (
       |SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY qcos DESC, neighbor_id ASC) AS rn FROM qsc)
       |WHERE rn <= $PqShortlist),
       |qrr AS (SELECT sl.probe_id, sl.neighbor_id, ${cosSql("p.pv", "t.v")} AS cosine
       |FROM qsl sl JOIN ivv t ON t.vec_id = sl.neighbor_id JOIN qpp p ON p.probe_id = sl.probe_id)
       |SELECT probe_id, neighbor_id, cosine, rank FROM (
       |SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM qrr)
       |WHERE rank <= 10""".stripMargin.replace("\n", " ")
  }

  /** Semantic-dedup oracle: the same k-means cells, within-cell cosine
    * pairs at the same threshold, then the transitive closure via a
    * RECURSIVE CTE (min reachable id per component — the fixpoint the
    * Spark side reaches by label propagation). */
  private def semDedupOracle: String = semDedupOracleAt(nProbe = 1)

  /** Parameterized on nProbe: each vector joins its `nProbe` nearest
    * cells (rn <= nProbe over the same distance ranking the IVF probe
    * side uses); a pair sharing several cells collapses via DISTINCT —
    * exactly the Spark side's multi-cell assignment + distinct. */
  private def semDedupOracleAt(nProbe: Int): String =
    s"""WITH RECURSIVE $kmeansCellCtes,
       |sdcell AS (SELECT vec_id, v, cell FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cell ASC) AS rn FROM ivd) WHERE rn <= $nProbe),
       |sdp AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b FROM sdcell x JOIN sdcell y
       |ON x.cell = y.cell AND x.vec_id < y.vec_id
       |WHERE ${cosSql("x.v", "y.v")} >= 0.4),
       |sde AS (SELECT a AS u, b AS v FROM sdp UNION ALL SELECT b AS u, a AS v FROM sdp),
       |sdr(u, r) AS (
       |  SELECT vec_id AS u, vec_id AS r FROM embeddings
       |  UNION
       |  SELECT e.u, p.r FROM sde e JOIN sdr p ON p.u = e.v
       |)
       |SELECT u AS vec_id, MIN(r) AS cluster_id, (MIN(r) = u) AS keep
       |FROM sdr GROUP BY u""".stripMargin.replace("\n", " ")

  /** Shared one-cell assignment over the k-means chain: `kfa(vec_id,
    * cell, d)` — the rn = 1 ranking of `ivd` (ties to the lowest cell,
    * the Spark argmin contract). */
  private def kmeansAssignCte: String =
    "kfa AS (SELECT vec_id, cell, d FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cell ASC) AS rn FROM ivd) WHERE rn = 1)"

  /** Per-cell size + inertia on the 1e-6 long grid — the identical
    * round-then-exact-sum scheme as emb_label_centroid, over the same
    * `d` doubles the IVF oracle already ranks bit-equal. */
  private def kmeansFitOracle: String =
    s"""WITH $kmeansCellCtes, $kmeansAssignCte
       |SELECT CAST(cell AS BIGINT) AS cell, CAST(COUNT(*) AS BIGINT) AS n,
       |CAST(SUM(CAST(round(d * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_d2_micro,
       |CAST(SUM(CAST(round(d * 1000000.0) AS BIGINT)) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1000000.0) AS mean_d2
       |FROM kfa GROUP BY cell""".stripMargin.replace("\n", " ")

  /** Per-cell (xxh64(vec_id), vec_id)-ranked top-8: the `ivh` hash CTE
    * the sample ordering already re-derives, ranked within the
    * assignment cells instead of globally. */
  private def clusterSampleOracle: String =
    s"""WITH $kmeansCellCtes, $kmeansAssignCte,
       |ksr AS (SELECT a.cell, a.vec_id, row_number() OVER (PARTITION BY a.cell ORDER BY h.hs ASC, a.vec_id ASC) AS rk FROM kfa a JOIN ivh h ON h.vec_id = a.vec_id)
       |SELECT CAST(cell AS BIGINT) AS cell, vec_id, CAST(rk AS BIGINT) AS rk
       |FROM ksr WHERE rk <= 8""".stripMargin.replace("\n", " ")

  // fixed-reference CUSUM constants (micro-units): μ = 3 events/hour
  // (the corpus' per-type hourly mean is ≈2.95 — a trained-baseline
  // stand-in), κ = μ/4 slack, h = 2μ threshold. At sf0.01 this alarms
  // on 51 of 3,385 rows across all five types — rare, as a monitor
  // should be, but BOTH verdict paths carry real mass. Deliberately
  // scale-sensitive: a 10× corpus alarms everywhere, as a real
  // fixed-reference monitor would.
  private val CusumMu = 3000000L
  private val CusumKappa = 750000L
  private val CusumH = 6000000L

  private val RrfLexK = 50
  private val RrfSemK = 50
  private val RrfK0 = 60
  private val RrfTopK = 20

  /** Hybrid-retrieval RRF oracle: the [[bm25ScoredCtes]] lexical chain
    * ranked to its top-`RrfLexK`, the annBruteOracle cosine chain for
    * probe 0 ranked to its top-`RrfSemK`, fused by
    * 1/(k0+rank) + 1/(k0+rank) in the same lex-then-sem add order the
    * Spark expression tree uses — doubles bit-equal. */
  private def hybridRrfOracle: String = {
    def term(r: String) =
      s"CASE WHEN $r IS NOT NULL THEN 1.0::DOUBLE / ($RrfK0.0::DOUBLE + CAST($r AS DOUBLE)) ELSE 0.0::DOUBLE END"
    s"""WITH ${bm25FromCte("hb")}, ${bm25ScoredCtes(Bm25Terms, "hb")},
       |hlx AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS lex_rank FROM
       |(SELECT doc_id, score FROM hbsc ORDER BY score DESC, doc_id ASC LIMIT $RrfLexK)),
       |hv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |hpp AS (SELECT v AS pv FROM hv WHERE vec_id = 0),
       |hcs AS (SELECT c.vec_id AS doc_id, ${cosSql("pv", "c.v")} AS cosine FROM hv c CROSS JOIN hpp WHERE c.vec_id <> 0),
       |hsm AS (SELECT doc_id, sem_rank FROM (SELECT doc_id, CAST(row_number() OVER (ORDER BY cosine DESC, doc_id ASC) AS BIGINT) AS sem_rank FROM hcs) WHERE sem_rank <= $RrfSemK)
       |SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id, l.lex_rank AS lex_rank, s.sem_rank AS sem_rank,
       |${term("l.lex_rank")} + ${term("s.sem_rank")} AS rrf_score
       |FROM hlx l FULL OUTER JOIN hsm s ON s.doc_id = l.doc_id
       |ORDER BY rrf_score DESC, doc_id ASC LIMIT $RrfTopK""".stripMargin.replace("\n", " ")
  }

  private def annBruteOracle: String =
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |p AS (SELECT vec_id AS probe_id, v AS pv FROM v WHERE vec_id < 10),
       |scored AS (SELECT probe_id, c.vec_id AS neighbor_id, ${cosSql("pv", "c.v")} AS cosine
       |FROM v c CROSS JOIN p WHERE c.vec_id <> probe_id)
       |SELECT probe_id, neighbor_id, cosine, rank FROM (
       |SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM scored)
       |WHERE rank <= 10""".stripMargin.replace("\n", " ")

  private val MrlDims = Seq(8, 16, 32, 64)

  /** [[annBruteOracle]] over the first `d` embedding components —
    * the Matryoshka-truncated search list. */
  private def mrlBruteOracle(d: Int): String =
    s"""WITH v AS (SELECT vec_id, list_transform(embedding[1:$d], x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |p AS (SELECT vec_id AS probe_id, v AS pv FROM v WHERE vec_id < 10),
       |scored AS (SELECT probe_id, c.vec_id AS neighbor_id, ${cosSql("pv", "c.v")} AS cosine
       |FROM v c CROSS JOIN p WHERE c.vec_id <> probe_id)
       |SELECT probe_id, neighbor_id FROM (
       |SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM scored)
       |WHERE rank <= 10""".stripMargin.replace("\n", " ")

  /** Matryoshka recall oracle: per prefix length, the truncated
    * brute-force list left-joined to the full-dimension truth (the
    * ann_recall_eval composition on the dimension axis); the full-dim
    * row is the harness audit — 1000‰ by construction. */
  private def mrlRecallOracle: String =
    MrlDims.map { d =>
      s"""SELECT CAST($d AS BIGINT) AS dims, CAST(COUNT(*) AS BIGINT) AS n_truth,
         |CAST(SUM(CASE WHEN f.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         |(1000 * CAST(SUM(CASE WHEN f.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)) // COUNT(*) AS recall_permille
         |FROM ($annBruteOracle) t LEFT JOIN (${mrlBruteOracle(d)}) f
         |ON f.probe_id = t.probe_id AND f.neighbor_id = t.neighbor_id""".stripMargin.replace("\n", " ")
    }.mkString(" UNION ALL ") + " ORDER BY dims"

  /** Stopword-argmax language ID re-expressed over DuckDB's list
    * functions; the argmax tie-break (max hits, then lexicographically
    * greatest lang) rides on struct comparison in both engines. */
  private def langIdOracle: String = {
    val scored = operators.TextAnalysis.StopwordProfiles.toSeq.sortBy(_._1).map {
      case (l, ws) =>
        val lst = ws.map(w => s"'$w'").mkString("[", ", ", "]")
        s"struct_pack(hits := CAST(len(list_filter(toks, w -> list_contains($lst, w))) AS BIGINT), lang := '$l')"
    }
    s"""WITH tk AS (SELECT doc_id, lang, list_filter(string_split(text, ' '), w -> length(w) > 0) AS toks FROM documents),
       |h AS (SELECT doc_id, lang, list_aggregate([${scored.mkString(", ")}], 'max') AS best FROM tk)
       |SELECT doc_id, lang, CASE WHEN best.hits > 0 THEN best.lang ELSE 'und' END AS lang_pred FROM h""".stripMargin.replace("\n", " ")
  }

  /** Tokenizer as DuckDB SQL — filters empty strings exactly like
    * TextAnalysis.tokens, so the oracles hold even if the corpus ever
    * gains leading/double spaces. */
  private val ToksSql = "list_filter(string_split(text, ' '), w -> length(w) > 0)"

  /** The three BPE merge rounds as a shared CTE chain — each round
    * splits the guarded words back to symbols, counts adjacent pairs
    * weighted by word frequency, argmaxes (cnt desc, pair asc), and
    * rewrites the word table with DuckDB's greedy left-to-right
    * replace(). ONE builder feeds both the merge-table oracle and the
    * tokenize oracle, so a future change to the round SQL (tie-break,
    * guard encoding, replace semantics) cannot silently diverge them.
    * Ends with btb1..btb3 (the learned merges) and bts3 (the rewritten
    * word table). */
  private def bpeRoundCtes: String = {
    def round(n: Int, src: String): String =
      s"""bta$n AS (SELECT s, freq, string_split(substr(s, 2, length(s) - 2), '}{') AS a FROM $src),
         |bti$n AS (SELECT a, freq, unnest(generate_series(1, len(a) - 1)) AS i FROM bta$n WHERE len(a) >= 2),
         |btp$n AS (SELECT a[i] AS l, a[i + 1] AS r, SUM(freq) AS cnt FROM bti$n GROUP BY 1, 2),
         |btb$n AS (SELECT l, r, cnt FROM btp$n ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
         |bts$n AS (SELECT COALESCE(replace(s, '{' || b.l || '}{' || b.r || '}', '{' || b.l || b.r || '}'), s) AS s, freq
         |FROM $src LEFT JOIN btb$n b ON TRUE)""".stripMargin
    s"""btw AS (SELECT unnest($ToksSql) AS w FROM documents),
       |btf AS (SELECT w, COUNT(*) AS freq FROM btw GROUP BY w),
       |bts0 AS (SELECT regexp_replace(w, '(.)', '{\\1}', 'g') AS s, freq FROM btf),
       |${round(1, "bts0")},
       |${round(2, "bts1")},
       |${round(3, "bts2")}""".stripMargin
  }

  private def bpeMergesOracle: String =
    s"""WITH $bpeRoundCtes
       |SELECT * FROM (
       |SELECT CAST(1 AS BIGINT) AS rank, l AS left_sym, r AS right_sym, l || r AS merged, CAST(cnt AS BIGINT) AS cnt FROM btb1
       |UNION ALL SELECT CAST(2 AS BIGINT), l, r, l || r, CAST(cnt AS BIGINT) FROM btb2
       |UNION ALL SELECT CAST(3 AS BIGINT), l, r, l || r, CAST(cnt AS BIGINT) FROM btb3)
       |ORDER BY rank""".stripMargin.replace("\n", " ")

  /** Apply the three learned merges (the SHARED [[bpeRoundCtes]]
    * chain) to every document's words in learned order, then count the
    * surviving symbols per document. */
  private def bpeTokenizeOracle: String =
    s"""WITH $bpeRoundCtes,
       |btd AS (SELECT doc_id, unnest($ToksSql) AS w FROM documents),
       |btg AS (SELECT doc_id, regexp_replace(w, '(.)', '{\\1}', 'g') AS s FROM btd),
       |btz1 AS (SELECT doc_id, COALESCE(replace(s, '{' || b.l || '}{' || b.r || '}', '{' || b.l || b.r || '}'), s) AS s FROM btg LEFT JOIN btb1 b ON TRUE),
       |btz2 AS (SELECT doc_id, COALESCE(replace(s, '{' || b.l || '}{' || b.r || '}', '{' || b.l || b.r || '}'), s) AS s FROM btz1 LEFT JOIN btb2 b ON TRUE),
       |btz3 AS (SELECT doc_id, COALESCE(replace(s, '{' || b.l || '}{' || b.r || '}', '{' || b.l || b.r || '}'), s) AS s FROM btz2 LEFT JOIN btb3 b ON TRUE)
       |SELECT doc_id, CAST(SUM(len(string_split(substr(s, 2, length(s) - 2), '}{'))) AS BIGINT) AS n_bpe_tokens
       |FROM btz3 GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace("\n", " ")

  private val Bm25Terms = Seq("vector", "merge", "stream")

  /** BM25 (rational idf) CTE chain, prefix-parameterized — the same
    * expression tree TextAnalysis.bm25TopK builds, so the doubles are
    * bit-equal: idf·(tf·(k1+1))/(tf + k1·(1−b+b·dl/avgdl)) summed in
    * term order. Written ONCE and shared by the standalone bm25 oracle
    * and the hybrid-RRF oracle (the batteryStatsCtes idiom); ends in
    * `<p>sc(doc_id, score)`. */
  private def bm25ScoredCtes(terms: Seq[String], p: String): String = {
    val tfDefs = terms.zipWithIndex.map { case (tm, i) =>
      s"len(list_filter($ToksSql, w -> w = '$tm')) AS tf$i"
    }.mkString(", ")
    val dfDefs = terms.indices.map { i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i"
    }.mkString(", ")
    // every literal is ::DOUBLE — DuckDB otherwise parses 1.2/0.5 as
    // DECIMAL and keeps exact decimal arithmetic longer than Spark's
    // all-double tree, drifting by 1 ulp on some rows
    val scoreTerms = terms.indices.map { i =>
      s"((n - df$i + 0.5::DOUBLE) / (df$i + 0.5::DOUBLE)) * ((tf$i * (1.2::DOUBLE + 1.0::DOUBLE)) / (tf$i + 1.2::DOUBLE * (1.0::DOUBLE - 0.75::DOUBLE + 0.75::DOUBLE * (dl / (CAST(sdl AS DOUBLE) / n)))))"
    }.mkString(" + ")
    s"""${p}d AS (SELECT doc_id, len($ToksSql) AS dl, $tfDefs FROM ${p}from),
       |${p}s AS (SELECT count(*) AS n, sum(dl) AS sdl, $dfDefs FROM ${p}d),
       |${p}sc AS (SELECT doc_id, $scoreTerms AS score FROM ${p}d CROSS JOIN ${p}s)""".stripMargin
  }

  /** The corpus a BM25 chain scores: the plain table by default, or a
    * caller-supplied transformed body (the incremental-index oracle's
    * merged corpus). Always emitted as CTE `<p>from` so
    * [[bm25ScoredCtes]] needs no other seam. */
  private def bm25FromCte(p: String,
      body: String = "SELECT doc_id, text FROM documents"): String =
    s"${p}from AS ($body)"

  /** ONE definition of the document-freshness fixture shared by every
    * incremental-maintenance query over `documents`
    * (doc_bm25_incremental, doc_cms_incremental) AND, as
    * [[IncrMergedDocsSql]], by their oracles — so the Spark feed and
    * the SQL merged corpus cannot drift apart: bootstrap = 4/5 of the
    * corpus (doc_id ≢ 4 mod 5); one change batch with updates
    * (≡ 1 mod 10, text + ' merge merge' — a BM25 query term, moving
    * tf, dl, df, avgdl together), deletes (≡ 3 mod 10), and the
    * held-out fifth inserted; Debezium before-images carried in
    * `old_text`; seq = 10⁶ + doc_id (feed-monotone). Returns
    * (bootstrap, feed). */
  private def incrementalDocFeed(docs: DataFrame): (DataFrame, DataFrame) = {
    val boot = docs.filter(col("doc_id") % 5 =!= 4)
    val ups = docs.filter(col("doc_id") % 10 === 1)
      .select(lit("U").as("op"), col("doc_id"),
        concat(col("text"), lit(" merge merge")).as("text"),
        col("text").as("old_text"))
    val dels = docs.filter(col("doc_id") % 10 === 3)
      .select(lit("D").as("op"), col("doc_id"),
        lit(null).cast("string").as("text"),
        col("text").as("old_text"))
    val ins = docs.filter(col("doc_id") % 5 === 4)
      .select(lit("I").as("op"), col("doc_id"), col("text"),
        lit(null).cast("string").as("old_text"))
    (boot, ups.unionByName(dels).unionByName(ins)
      .withColumn("seq", lit(1000000L) + col("doc_id")))
  }

  /** [[incrementalDocFeed]] carrying `lang` (immutable per doc) in
    * both frames and keyed/shaped for [[graft.streaming
    * .ManifestStream]] — `(seq, op, id, text, lang)`, bootstrap as
    * inserts at seq = id (below the change batch's 10⁶ + id). ONE
    * definition shared by the `pipeline_manifest_stream` query and
    * ManifestStreamSpec's capstone pin, so the fixture cannot drift
    * from [[IncrMergedDocsLangSql]] copy-by-copy. */
  private[graft] def manifestStreamFeed(docs: DataFrame)
      : (DataFrame, DataFrame) = {
    val d = docs.select(col("doc_id").as("id"), col("text"), col("lang"))
    val fCols = Seq("seq", "op", "id", "text", "lang").map(col(_))
    val boot = d.filter(col("id") % 5 =!= 4)
      .select(col("id").as("seq"), lit("I").as("op"), col("id"),
        col("text"), col("lang"))
      .select(fCols: _*)
    val feed = d.filter(col("id") % 10 === 1)
      .select(lit("U").as("op"), col("id"),
        concat(col("text"), lit(" merge merge")).as("text"), col("lang"))
      .unionByName(d.filter(col("id") % 10 === 3)
        .select(lit("D").as("op"), col("id"),
          lit(null).cast("string").as("text"),
          lit(null).cast("string").as("lang")))
      .unionByName(d.filter(col("id") % 5 === 4)
        .select(lit("I").as("op"), col("id"), col("text"), col("lang")))
      .withColumn("seq", lit(1000000L) + col("id"))
      .select(fCols: _*)
    (boot, feed)
  }

  /** The merged corpus [[incrementalDocFeed]]'s batch produces, as the
    * oracle-side SELECT body — the scratch-rebuild input every
    * freshness pin compares against. */
  private val IncrMergedDocsSql: String =
    "SELECT doc_id, CASE WHEN doc_id % 10 = 1 THEN concat(text, ' merge merge') ELSE text END AS text " +
      "FROM documents WHERE doc_id % 10 <> 3"

  /** [[IncrMergedDocsSql]] carrying `lang` — the incremental-manifest
    * oracle's split stage needs it (lang is immutable per doc). */
  private val IncrMergedDocsLangSql: String =
    "SELECT doc_id, CASE WHEN doc_id % 10 = 1 THEN concat(text, ' merge merge') ELSE text END AS text, lang " +
      "FROM documents WHERE doc_id % 10 <> 3"

  /** [[incrementalDocFeed]] generalized to a churn MODULUS `m`: boot
    * = all docs except ≡ m−1 (mod m); one change batch with updates
    * (≡ 1 mod m, ' merge merge' appended), deletes (≡ 3 mod m), and
    * the held-out residue inserted — feed fraction 3/m. The
    * registered fixture's 40% churn exercises splits/merges hard but
    * makes the capstone's "affected clusters" ≈ the corpus
    * (VERDICT r19 missing #2); `m = 150` gives the ~2% churn a real
    * CDC tick looks like, so the benched number measures the O(Δ)
    * path, not a disguised rebuild. Returns (bootstrap, feed);
    * [[incrMergedDocsLangModSql]] is the oracle-side twin. */
  private[graft] def incrementalDocFeedMod(docs: DataFrame, m: Int)
      : (DataFrame, DataFrame) = {
    val boot = docs.filter(col("doc_id") % m =!= (m - 1))
    val ups = docs.filter(col("doc_id") % m === 1)
      .select(lit("U").as("op"), col("doc_id"),
        concat(col("text"), lit(" merge merge")).as("text"))
    val dels = docs.filter(col("doc_id") % m === 3)
      .select(lit("D").as("op"), col("doc_id"),
        lit(null).cast("string").as("text"))
    val ins = docs.filter(col("doc_id") % m === (m - 1))
      .select(lit("I").as("op"), col("doc_id"), col("text"))
    (boot, ups.unionByName(dels).unionByName(ins)
      .withColumn("seq", lit(1000000L) + col("doc_id")))
  }

  /** The merged corpus [[incrementalDocFeedMod]] produces, as the
    * oracle-side SELECT body (lang carried). */
  private def incrMergedDocsLangModSql(m: Int): String =
    s"SELECT doc_id, CASE WHEN doc_id % $m = 1 THEN concat(text, ' merge merge') ELSE text END AS text, lang " +
      s"FROM documents WHERE doc_id % $m <> 3"

  private def bm25Oracle(terms: Seq[String], k: Int): String =
    s"""WITH ${bm25FromCte("bm")}, ${bm25ScoredCtes(terms, "bm")}
       |SELECT doc_id, score FROM bmsc
       |ORDER BY score DESC, doc_id ASC LIMIT $k""".stripMargin.replace("\n", " ")

  /** Incremental-text-index oracle: the [[bm25Oracle]] chain scored
    * over the MERGED corpus (deletes ≡ 3 mod 10 absent, updates
    * ≡ 1 mod 10 with ' merge merge' appended — which moves tf, dl,
    * AND the global df/avgdl stats, so stale stats cannot pass —
    * plus the held-out fifth inserted). The Spark side must reach the
    * same ranked doubles THROUGH the maintained postings/lengths
    * frames, pinning maintained-index ≡ rebuilt end-to-end. */
  private def bm25IncrementalOracle(terms: Seq[String], k: Int): String =
    s"""WITH ${bm25FromCte("bm", IncrMergedDocsSql)},
       |${bm25ScoredCtes(terms, "bm")}
       |SELECT doc_id, score FROM bmsc
       |ORDER BY score DESC, doc_id ASC LIMIT $k""".stripMargin.replace("\n", " ")

  /** The quality-score formula as DuckDB SQL (same arithmetic order as
    * TextAnalysis.qualityScore — doubles come out bit-identical). */
  private val QualitySql =
    s"""least(1.0, CAST(len($ToksSql) AS DOUBLE) / 50.0) * 0.4
      | + CAST(len(list_distinct($ToksSql)) AS DOUBLE) / len($ToksSql) * 0.3
      | + least(1.0, (CAST(list_sum(list_transform($ToksSql, w -> length(w))) AS DOUBLE) / len($ToksSql)) / 5.0) * 0.3""".stripMargin.replace("\n", " ")

  /** The filter-battery rules re-derived in DuckDB. Threshold literals
    * MUST mirror the registered doc_filter_battery call; the failed
    * list is built in the same fixed rule order, so the comma-joined
    * attribution strings match byte for byte. */
  /** Battery token-stats CTE, prefix-parameterized and written ONCE —
    * shared by the per-doc battery oracle and the end-to-end manifest
    * oracle so the stats definitions cannot diverge. Carries the listed
    * extra columns through; ends in `<p>st`. */
  private def batteryStatsCtes(p: String, extraCols: String = "",
      from: String = "documents"): String = {
    val en = operators.TextAnalysis.StopwordProfiles("en")
      .map(w => s"'$w'").mkString("[", ", ", "]")
    s"""${p}tk AS (SELECT doc_id$extraCols, $ToksSql AS toks FROM $from),
       |${p}st AS (SELECT doc_id$extraCols, CAST(len(toks) AS BIGINT) AS n_tokens,
       |CAST(list_sum(list_transform(toks, w -> length(w))) AS DOUBLE) / len(toks) AS avg_len,
       |CAST(len(list_filter(toks, w -> regexp_matches(w, '[a-z]'))) AS DOUBLE) / len(toks) AS alpha,
       |CAST(len(list_filter(toks, w -> list_contains($en, w))) AS BIGINT) AS stop_hits,
       |CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS dr FROM ${p}tk)""".stripMargin
  }

  /** The six battery rules as (name, fail-condition SQL) over a
    * `<p>st` row — the single source for both battery oracles. */
  private def batteryRules(minTokens: Long, maxTokens: Long,
      minAvgLen: Double, maxAvgLen: Double, minAlphaRatio: Double,
      minStopwordHits: Long, minDistinctRatio: Double): Seq[(String, String)] = Seq(
    "too_few_tokens" -> s"n_tokens < $minTokens",
    "too_many_tokens" -> s"n_tokens > $maxTokens",
    "avg_token_len_oob" -> s"avg_len < $minAvgLen OR avg_len > $maxAvgLen",
    "low_alpha_ratio" -> s"alpha < $minAlphaRatio",
    "low_stopword_hits" -> s"stop_hits < $minStopwordHits",
    "low_distinct_ratio" -> s"dr < $minDistinctRatio")

  private def filterBatteryOracle(minTokens: Long, maxTokens: Long,
      minAvgLen: Double, maxAvgLen: Double, minAlphaRatio: Double,
      minStopwordHits: Long, minDistinctRatio: Double): String = {
    val cases = batteryRules(minTokens, maxTokens, minAvgLen, maxAvgLen,
      minAlphaRatio, minStopwordHits, minDistinctRatio)
      .map { case (name, cond) => s"CASE WHEN $cond THEN '$name' END" }
      .mkString(",\n|")
    s"""WITH ${batteryStatsCtes("")},
       |fl AS (SELECT doc_id, n_tokens, list_filter([
       |$cases], x -> x IS NOT NULL) AS failed FROM st)
       |SELECT doc_id, n_tokens, COALESCE(array_to_string(failed, ','), '') AS failed_rules,
       |(len(failed) = 0) AS keep FROM fl""".stripMargin.replace("\n", " ")
  }

  /** End-to-end training-manifest oracle: the filter battery's keep
    * predicate (the SAME thresholds and shared stats/rules SQL as the
    * registered `doc_filter_battery`) → the FULL minhash near-dup chain
    * over the kept subset → recursive-CTE transitive closure → one
    * keeper per cluster → the xxh64 split gate. Every stage is the same
    * SQL the per-stage oracles pin; composing them end-to-end pins the
    * PIPELINE (including that dedup runs on the filtered set, not the
    * corpus). */
  private def trainingManifestOracle: String = {
    // COALESCE(cond, FALSE) per rule: the battery's list_filter keeps a
    // row whose rule condition evaluates NULL (NULL never enters the
    // failed list), so the composed keep predicate must treat NULL as
    // pass too — a bare NOT(c1 OR c2 ...) would DROP the row when any
    // cond is NULL. Matters for configs where a NULL stat can reach a
    // rule without tripping another one first (e.g. minTokens = 0).
    val failAny = batteryRules(minTokens = 30, maxTokens = 100000,
      minAvgLen = 3.0, maxAvgLen = 10.0, minAlphaRatio = 0.8,
      minStopwordHits = 2, minDistinctRatio = 0.3)
      .map { case (_, cond) => s"COALESCE(($cond), FALSE)" }.mkString(" OR ")
    val bounds = Sampling.splitBounds(Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
    val cases = bounds.init.map { case (name, upper) =>
      s"WHEN bucket < $upper THEN '$name'"
    }.mkString(" ") + s" ELSE '${bounds.last._1}'"
    s"""WITH RECURSIVE
       |${batteryStatsCtes("tm", extraCols = ", text, lang")},
       |fbk AS (SELECT doc_id, text, lang FROM tmst WHERE NOT ($failAny)),
       |${minhashPairCtes("fbk")},
       |tme AS (SELECT ida AS a, idb AS b FROM mres WHERE jaccard >= 0.7),
       |tmedge AS (SELECT a AS u, b AS v FROM tme UNION ALL SELECT b AS u, a AS v FROM tme),
       |tmreach(u, r) AS (
       |  SELECT doc_id AS u, doc_id AS r FROM fbk
       |  UNION
       |  SELECT e.u, p.r FROM tmedge e JOIN tmreach p ON p.u = e.v
       |),
       |tmcomp AS (SELECT u AS doc_id, MIN(r) AS cluster_id FROM tmreach GROUP BY u),
       |tmkeep AS (SELECT doc_id FROM tmcomp WHERE doc_id = cluster_id),
       |$sampleBucketCtes
       |SELECT k.doc_id, b.lang, CASE $cases END AS split
       |FROM tmkeep k JOIN smb b USING (doc_id)""".stripMargin.replace("\n", " ")
  }

  /** Incremental-manifest oracle: the [[trainingManifestOracle]]
    * chain re-derived from scratch over the MERGED corpus, with the
    * dedup stage the maintained state uses (simhash radius-3 CC,
    * min-id keepers) — the manifest the pipeline serves from its
    * incremental state must equal this scratch rebuild row-for-row:
    * quality-failing updates are GONE (the feed gate turned them into
    * deletes), newly-passing docs are in, keepers re-resolved. */
  private def incrementalManifestOracle: String =
    incrementalManifestOracleFrom(IncrMergedDocsLangSql)

  /** [[incrementalManifestOracle]] parameterized by the merged-corpus
    * SELECT body, so the small-feed capstone variant (a different
    * churn modulus, same chain) shares every CTE byte-for-byte. */
  private def incrementalManifestOracleFrom(mergedSql: String): String = {
    val failAny = batteryRules(minTokens = 30, maxTokens = 100000,
      minAvgLen = 3.0, maxAvgLen = 10.0, minAlphaRatio = 0.8,
      minStopwordHits = 2, minDistinctRatio = 0.3)
      .map { case (_, cond) => s"COALESCE(($cond), FALSE)" }.mkString(" OR ")
    val bounds = Sampling.splitBounds(Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
    val cases = bounds.init.map { case (name, upper) =>
      s"WHEN bucket < $upper THEN '$name'"
    }.mkString(" ") + s" ELSE '${bounds.last._1}'"
    s"""WITH RECURSIVE
       |${batteryStatsCtes("im", extraCols = ", text, lang", from = s"($mergedSql)")},
       |imk AS (SELECT doc_id, text, lang FROM imst WHERE NOT ($failAny)),
       |${simhashPairCtesFrom("imk")},
       |imedge AS (SELECT a AS u, b AS v FROM shpairs UNION ALL SELECT b AS u, a AS v FROM shpairs),
       |imreach(u, r) AS (
       |  SELECT doc_id AS u, doc_id AS r FROM imk
       |  UNION
       |  SELECT e.u, p.r FROM imedge e JOIN imreach p ON p.u = e.v
       |),
       |imcomp AS (SELECT u AS doc_id, MIN(r) AS cluster_id FROM imreach GROUP BY u),
       |imkeep AS (SELECT doc_id FROM imcomp WHERE doc_id = cluster_id),
       |${sampleBucketCtesFrom("imk")}
       |SELECT k.doc_id, b.lang, CASE $cases END AS split
       |FROM imkeep k JOIN smb b USING (doc_id)""".stripMargin.replace("\n", " ")
  }

  private def mixTopkOracle: String =
    s"""WITH q AS (SELECT doc_id, lang, $QualitySql AS quality FROM documents)
       |SELECT lang, doc_id, quality, rank FROM (
       |SELECT lang, doc_id, quality, row_number() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id ASC) AS rank FROM q)
       |WHERE rank <= 5""".stripMargin.replace("\n", " ")

  private def tokenBudgetOracle: String =
    s"""WITH q AS (SELECT doc_id, lang, CAST(len($ToksSql) AS BIGINT) AS n_tokens, $QualitySql AS quality FROM documents)
       |SELECT doc_id, lang, n_tokens FROM (
       |SELECT doc_id, lang, n_tokens, COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY quality DESC, doc_id ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS taken FROM q)
       |WHERE taken < 2000""".stripMargin.replace("\n", " ")

  // ---------------------------------------------------------------------
  // xxHash64 re-implemented in DuckDB SQL (HUGEINT mod-2^64 arithmetic)
  // so even the hash-based pipelines get independent oracles. Public
  // algorithm (Collet's xxHash, seed 42 = Spark's xxhash64). Only the
  // ≤8-byte single-chunk path is generated — winnowing grams are
  // exactly k=8 ASCII chars (and every corpus doc is ≥ 44 chars).
  // ---------------------------------------------------------------------
  private object Xxh64Sql {
    val M64 = "18446744073709551616"
    // (a*b) mod 2^64 without int128 overflow: 32-bit split multiply
    def mulmod(a: String, b: String): String =
      s"((($a % 4294967296) * ($b % 4294967296) + " +
        s"((($a % 4294967296) * ($b // 4294967296) + ($a // 4294967296) * ($b % 4294967296)) % 4294967296) * 4294967296) % $M64)"
    def rotl(x: String, r: Int): String =
      s"((($x) * ${java.math.BigInteger.ONE.shiftLeft(r)} + ($x) // ${java.math.BigInteger.ONE.shiftLeft(64 - r)}) % $M64)"
    // 64-bit xor via the signed BIGINT view
    def xor64(a: String, b: String): String = {
      def sgn(v: String) = s"(CASE WHEN ($v) >= 9223372036854775808 THEN ($v) - $M64 ELSE ($v) END)::BIGINT"
      s"(CASE WHEN xor(${sgn(a)}, ${sgn(b)}) < 0 THEN xor(${sgn(a)}, ${sgn(b)})::HUGEINT + $M64 ELSE xor(${sgn(a)}, ${sgn(b)})::HUGEINT END)"
    }
    val P1 = "11400714785074694791"; val P2 = "14029467366897019727"
    val P3 = "1609587929392839161"; val P4 = "9650029242287828579"
    val P5 = "2870177450012600261"
    /** acc0 = (42 + PRIME64_5 + len) mod 2^64 for len = 8. */
    val Acc0Len8 = "2870177450012600311"
    /** 42 + PRIME64_5 (add the length per row). */
    val SeedPlusP5 = "2870177450012600303"

    private def pow2(k: Int) = java.math.BigInteger.ONE.shiftLeft(k).toString

    /** CTE block hashing a ≤8-char ASCII `tok` column (input CTE
      * `<p>src`(doc_id, tok)) through the xxh64 short path — one
      * optional 8-byte chunk, one optional 4-byte chunk, ≤3 tail
      * bytes, avalanche — ending in `<p>h`(doc_id, hu). Each round is
      * its own staged column, so generated SQL stays linear-size. */
    def tokenHashStages(p: String): String = {
      def ch(k: Int) = (0 until k).map(j =>
        s"ascii(tok[${j + 1}:${j + 1}])::HUGEINT * ${pow2(8 * j)}").mkString(" + ")
      val sb = new StringBuilder
      sb ++= s"${p}0 AS (SELECT doc_id, tok, length(tok) AS n, ($SeedPlusP5 + length(tok)) % $M64 AS acc0 FROM ${p}src),\n"
      sb ++= s"${p}c8 AS (SELECT *, CASE WHEN n = 8 THEN ${ch(8)} ELSE 0 END AS c8 FROM ${p}0),\n"
      sb ++= s"${p}k8 AS (SELECT *, ${mulmod(rotl(mulmod("c8", P2), 31), P1)} AS k8 FROM ${p}c8),\n"
      sb ++= s"${p}x8 AS (SELECT *, ${xor64("acc0", "k8")} AS x8 FROM ${p}k8),\n"
      sb ++= s"${p}a1 AS (SELECT *, CASE WHEN n = 8 THEN (${mulmod(rotl("x8", 27), P1)} + $P4) % $M64 ELSE acc0 END AS a1 FROM ${p}x8),\n"
      sb ++= s"${p}c4 AS (SELECT *, CASE WHEN n >= 4 AND n < 8 THEN ${ch(4)} ELSE 0 END AS c4 FROM ${p}a1),\n"
      sb ++= s"${p}x4 AS (SELECT *, ${xor64("a1", s"((c4 * $P1) % $M64)")} AS x4 FROM ${p}c4),\n"
      sb ++= s"${p}a2 AS (SELECT *, CASE WHEN n >= 4 AND n < 8 THEN (${mulmod(rotl("x4", 23), P2)} + $P3) % $M64 ELSE a1 END AS a2 FROM ${p}x4),\n"
      var prev = "a2"
      for (i <- 1 to 3) {
        val guard = s"(CASE WHEN n < 4 THEN n >= $i ELSE n < 8 AND n - 4 >= $i END)"
        val pos = s"(CASE WHEN n < 4 THEN $i ELSE ${4 + i} END)"
        val from = if (i == 1) s"${p}a2" else s"${p}a${i + 1}"
        sb ++= s"${p}p$i AS (SELECT *, CASE WHEN $guard THEN ascii(tok[$pos:$pos])::HUGEINT ELSE 0 END AS bt$i FROM $from),\n"
        sb ++= s"${p}xb$i AS (SELECT *, ${xor64(prev, s"((bt$i * $P5) % $M64)")} AS xb$i FROM ${p}p$i),\n"
        sb ++= s"${p}a${i + 2} AS (SELECT *, CASE WHEN $guard THEN ${mulmod(rotl(s"xb$i", 11), P1)} ELSE $prev END AS a${i + 2} FROM ${p}xb$i),\n"
        prev = s"a${i + 2}"
      }
      sb ++= s"${p}v1 AS (SELECT *, ${xor64("a5", s"(a5 // ${1L << 33})")} AS v1 FROM ${p}a5),\n"
      sb ++= s"${p}v2 AS (SELECT *, ${mulmod("v1", P2)} AS v2 FROM ${p}v1),\n"
      sb ++= s"${p}v3 AS (SELECT *, ${xor64("v2", s"(v2 // ${1L << 29})")} AS v3 FROM ${p}v2),\n"
      sb ++= s"${p}v4 AS (SELECT *, ${mulmod("v3", P3)} AS v4 FROM ${p}v3),\n"
      sb ++= s"${p}h AS (SELECT doc_id, ${xor64("v4", s"(v4 // ${1L << 32})")} AS hu FROM ${p}v4)"
      sb.toString
    }

    /** CTE block hashing a BIGINT column through xxh64 — Spark's
      * `xxhash64(longCol)` takes the dedicated 8-byte path (seed 42,
      * one full chunk whose little-endian byte value IS the unsigned
      * 64-bit value of the long): acc = (42+P5+8) ^ round(v), one
      * rotl27 mix, avalanche. Input CTE `<p>src`(doc_id, v) with v the
      * UNSIGNED value as HUGEINT; ends in `<p>h`(doc_id, hs) with the
      * SIGNED hash. */
    def longHashStages(p: String): String = {
      val sb = new StringBuilder
      sb ++= s"${p}k1 AS (SELECT doc_id, ${mulmod(rotl(mulmod("v", P2), 31), P1)} AS k1 FROM ${p}src),\n"
      sb ++= s"${p}x1 AS (SELECT doc_id, ${xor64(Acc0Len8, "k1")} AS x1 FROM ${p}k1),\n"
      sb ++= s"${p}a1 AS (SELECT doc_id, (${mulmod(rotl("x1", 27), P1)} + $P4) % $M64 AS a1 FROM ${p}x1),\n"
      sb ++= s"${p}f1 AS (SELECT doc_id, ${xor64("a1", s"(a1 // ${1L << 33})")} AS f1 FROM ${p}a1),\n"
      sb ++= s"${p}f2 AS (SELECT doc_id, ${mulmod("f1", P2)} AS f2 FROM ${p}f1),\n"
      sb ++= s"${p}f3 AS (SELECT doc_id, ${xor64("f2", s"(f2 // ${1L << 29})")} AS f3 FROM ${p}f2),\n"
      sb ++= s"${p}f4 AS (SELECT doc_id, ${mulmod("f3", P3)} AS f4 FROM ${p}f3),\n"
      sb ++= s"${p}f5 AS (SELECT doc_id, ${xor64("f4", s"(f4 // ${1L << 32})")} AS hu FROM ${p}f4),\n"
      sb ++= s"${p}h AS (SELECT doc_id, (CASE WHEN hu >= 9223372036854775808 THEN hu - $M64 ELSE hu END)::BIGINT AS hs FROM ${p}f5)"
      sb.toString
    }

    /** General ≤31-byte short path, seed-parameterized, in two phases:
      * everything fi-INDEPENDENT — chunk words and their fully-mixed
      * round values k_c, m4, mb_i (the xxh64 round functions don't see
      * the seed) — is computed ONCE per distinct input string (input
      * CTE `<p>dist`(sh)), and only the cheap accumulator chain runs on
      * the ×families cross join (`<p>fam`(fi, seed)). Ends in
      * `<p>h`(sh, fi, hs) with the SIGNED hash. Offsets per the xxh64
      * spec (8-byte stripes, 4-byte word, tail starts at n − n%4). */
    def seededShortHashStages(p: String): String = {
      def ch(off: String, k: Int) = (0 until k).map(j =>
        s"ascii(sh[($off + ${j + 1}):($off + ${j + 1})])::HUGEINT * ${pow2(8 * j)}").mkString(" + ")
      val sb = new StringBuilder
      // ---- phase 1: per distinct string ----
      sb ++= s"${p}n0 AS (SELECT sh, length(sh) AS n FROM ${p}dist),\n"
      for (c <- 1 to 3) {
        sb ++= s"${p}c$c AS (SELECT *, CASE WHEN n >= ${8 * c} THEN ${ch((8 * (c - 1)).toString, 8)} ELSE 0 END AS ch$c FROM ${p}${if (c == 1) "n0" else s"k${c - 1}"}),\n"
        sb ++= s"${p}k$c AS (SELECT *, ${mulmod(rotl(mulmod(s"ch$c", P2), 31), P1)} AS k$c FROM ${p}c$c),\n"
      }
      sb ++= s"${p}m4 AS (SELECT *, ((CASE WHEN n % 8 >= 4 THEN ${ch("(n - n % 8)", 4)} ELSE 0 END) * $P1) % $M64 AS m4 FROM ${p}k3),\n"
      for (i <- 1 to 3) {
        val pos = s"(n - n % 4 + $i)"
        sb ++= s"${p}mb$i AS (SELECT *, ((CASE WHEN n % 4 >= $i THEN ascii(sh[$pos:$pos])::HUGEINT ELSE 0 END) * $P5) % $M64 AS mb$i FROM ${p}${if (i == 1) "m4" else s"mb${i - 1}"}),\n"
      }
      // ---- phase 2: accumulator chain per (string, family) ----
      sb ++= s"${p}q0 AS (SELECT d.*, f.fi, (f.seed + $P5 + d.n) % $M64 AS a0 FROM ${p}mb3 d CROSS JOIN ${p}fam f),\n"
      var prev = "a0"
      for (c <- 1 to 3) {
        sb ++= s"${p}x$c AS (SELECT *, ${xor64(prev, s"k$c")} AS x$c FROM ${p}${if (c == 1) "q0" else s"r${c - 1}"}),\n"
        sb ++= s"${p}r$c AS (SELECT *, CASE WHEN n >= ${8 * c} THEN (${mulmod(rotl(s"x$c", 27), P1)} + $P4) % $M64 ELSE $prev END AS r$c FROM ${p}x$c),\n"
        prev = s"r$c"
      }
      sb ++= s"${p}x4 AS (SELECT *, ${xor64("r3", "m4")} AS x4 FROM ${p}r3),\n"
      sb ++= s"${p}r4 AS (SELECT *, CASE WHEN n % 8 >= 4 THEN (${mulmod(rotl("x4", 23), P2)} + $P3) % $M64 ELSE r3 END AS r4 FROM ${p}x4),\n"
      prev = "r4"
      for (i <- 1 to 3) {
        sb ++= s"${p}y$i AS (SELECT *, ${xor64(prev, s"mb$i")} AS y$i FROM ${p}${if (i == 1) "r4" else s"t${i - 1}"}),\n"
        sb ++= s"${p}t$i AS (SELECT *, CASE WHEN n % 4 >= $i THEN ${mulmod(rotl(s"y$i", 11), P1)} ELSE $prev END AS t$i FROM ${p}y$i),\n"
        prev = s"t$i"
      }
      sb ++= s"${p}w1 AS (SELECT *, ${xor64("t3", s"(t3 // ${1L << 33})")} AS w1 FROM ${p}t3),\n"
      sb ++= s"${p}w2 AS (SELECT *, ${mulmod("w1", P2)} AS w2 FROM ${p}w1),\n"
      sb ++= s"${p}w3 AS (SELECT *, ${xor64("w2", s"(w2 // ${1L << 29})")} AS w3 FROM ${p}w2),\n"
      sb ++= s"${p}w4 AS (SELECT *, ${mulmod("w3", P3)} AS w4 FROM ${p}w3),\n"
      sb ++= s"${p}w5 AS (SELECT *, ${xor64("w4", s"(w4 // ${1L << 32})")} AS hu FROM ${p}w4),\n"
      sb ++= s"${p}h AS (SELECT sh, fi, (CASE WHEN hu >= 9223372036854775808 THEN hu - $M64 ELSE hu END)::BIGINT AS hs FROM ${p}w5)"
      sb.toString
    }
  }

  /** MinHash+LSH near-duplicates fully re-derived in DuckDB: word-3-gram
    * shingles, 64 chained-seed xxh64 families (seed_i = xxh64(long i) —
    * precomputed constants, same chaining Spark's multi-arg xxhash64
    * uses), per-family minima, 16×4 banding by exact slice equality
    * (Spark bands by slice HASH — identical output short of a 2⁻⁶⁴
    * collision), and exact shingle-set jaccard verification. Shingles
    * here are ≤26 ASCII bytes (≤8-char corpus tokens), inside the
    * generator's ≤31-byte path. */
  /** Exact-join oracle: brute-force ALL doc pairs' shingle-set Jaccard
    * (no prefix filter, no index — the ground truth the prefix filter
    * must reproduce exactly). Same shingle construction as the minhash
    * CTEs. Quadratic by design; the driver runs it at sf0.01. */
  private def prefixExactOracle(threshold: Double): String = {
    val shingles =
      """list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 1)),
        |i -> array_to_string(toks[i:i+2], ' ')))""".stripMargin.replace("\n", " ")
    s"""WITH pxt AS (SELECT doc_id, list_filter(string_split(text, ' '), w -> length(w) > 0) AS toks FROM documents),
       |pxs AS (SELECT doc_id, $shingles AS s FROM pxt WHERE len($shingles) > 0),
       |pxj AS (SELECT x.doc_id AS a, y.doc_id AS b,
       |CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) / len(list_distinct(list_concat(x.s, y.s))) AS jaccard
       |FROM pxs x JOIN pxs y ON x.doc_id < y.doc_id)
       |SELECT a, b, jaccard FROM pxj WHERE jaccard >= $threshold""".stripMargin.replace("\n", " ")
  }

  /** Shared CTE chain for the minhash oracles: tokenize, shingle,
    * xxh64-family signatures, band slices — ends with `mband`(doc_id,
    * band, s4) and, via `msig`, feeds `mfull`/`msets` in the callers. */
  private def minhashSigCtes: String = minhashSigCtes("documents")

  /** As above with the corpus CTE/table parameterized, so a pipeline
    * oracle can run the identical chain over a FILTERED subset (the
    * training-manifest oracle feeds it the filter-battery keep set). */
  private def minhashSigCtes(from: String): String = {
    import Xxh64Sql._
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val seeds = (0 until 64).map { i =>
      // family column is an INT literal → Spark's 4-byte hashInt path
      val s = XXH64.hashInt(i, 42L)
      java.math.BigInteger.valueOf(s).add(
        if (s < 0) java.math.BigInteger.ONE.shiftLeft(64) else java.math.BigInteger.ZERO)
    }
    val famList = (0 until 64).mkString("[", ", ", "]")
    val seedList = seeds.map(_.toString + "::HUGEINT").mkString("[", ", ", "]")
    val shingles =
      """list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 1)),
        |i -> array_to_string(toks[i:i+2], ' ')))""".stripMargin.replace("\n", " ")
    s"""mtk AS (SELECT doc_id, list_filter(string_split(text, ' '), w -> length(w) > 0) AS toks FROM $from),
       |msh AS (SELECT doc_id, unnest($shingles) AS sh FROM mtk),
       |mhdist AS (SELECT DISTINCT sh FROM msh),
       |mhfam AS (SELECT unnest($famList) AS fi, unnest($seedList) AS seed),
       |${seededShortHashStages("mh")},
       |msig AS (SELECT m.doc_id, h.fi, min(h.hs) AS m FROM msh m JOIN mhh h ON h.sh = m.sh GROUP BY m.doc_id, h.fi),
       |mband AS (SELECT doc_id, fi // 4 AS band, list(m ORDER BY fi) AS s4 FROM msig GROUP BY doc_id, fi // 4)""".stripMargin.replace("\n", " ")
  }

  /** CTE chain ending in `mres`(ida, idb, est_jaccard, jaccard) —
    * shared by the minhash-pairs oracle and the end-to-end pipeline
    * oracle. */
  private def minhashPairCtes: String = minhashPairCtes("documents")

  private def minhashPairCtes(from: String): String = {
    s"""${minhashSigCtes(from)},
       |mcand AS (SELECT DISTINCT x.doc_id AS ida, y.doc_id AS idb FROM mband x JOIN mband y ON x.band = y.band AND x.s4 = y.s4 AND x.doc_id < y.doc_id),
       |mfull AS (SELECT doc_id, list(m ORDER BY fi) AS sig FROM msig GROUP BY doc_id),
       |msets AS (SELECT doc_id, list(sh) AS shs FROM msh GROUP BY doc_id),
       |mres AS (SELECT ida, idb,
       |CAST(list_sum(list_transform(generate_series(1, 64), i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) AS DOUBLE) / 64 AS est_jaccard,
       |CAST(len(list_intersect(pa.shs, pb.shs)) AS DOUBLE) / len(list_distinct(list_concat(pa.shs, pb.shs))) AS jaccard
       |FROM mcand JOIN mfull sa ON sa.doc_id = ida JOIN mfull sb ON sb.doc_id = idb
       |JOIN msets pa ON pa.doc_id = ida JOIN msets pb ON pb.doc_id = idb)""".stripMargin.replace("\n", " ")
  }

  private def minhashOracle: String =
    s"WITH $minhashPairCtes SELECT ida AS a, idb AS b, est_jaccard, jaccard FROM mres WHERE jaccard >= 0.7"

  /** LSH-recall eval oracle: exhaustive truth via the shared-shingle
    * inverted index (`msh` — jaccard > 0 ⟹ ≥ 1 shared shingle, so
    * the equi-join IS exhaustive), the same exact-jaccard expression
    * `mres` verifies with, then the one-row confusion counts.
    * MATERIALIZED on the multiply-referenced sets (the kcore/pca2
    * lesson — scalar-subquery counts would re-derive them). */
  private def lshRecallOracle: String =
    s"""WITH $minhashPairCtes,
       |rtc AS (SELECT DISTINCT x.doc_id AS ida, y.doc_id AS idb FROM msh x JOIN msh y ON x.sh = y.sh AND x.doc_id < y.doc_id),
       |rtt AS MATERIALIZED (SELECT ida, idb FROM rtc JOIN msets pa ON pa.doc_id = ida JOIN msets pb ON pb.doc_id = idb
       |WHERE CAST(len(list_intersect(pa.shs, pb.shs)) AS DOUBLE) / len(list_distinct(list_concat(pa.shs, pb.shs))) >= 0.7),
       |rtf AS MATERIALIZED (SELECT ida, idb FROM mres WHERE jaccard >= 0.7),
       |rth AS MATERIALIZED (SELECT t.ida, t.idb FROM rtt t SEMI JOIN rtf f ON f.ida = t.ida AND f.idb = t.idb),
       |rtx AS MATERIALIZED (SELECT f.ida, f.idb FROM rtf f ANTI JOIN rtt t ON t.ida = f.ida AND t.idb = f.idb)
       |SELECT CAST((SELECT COUNT(*) FROM rtt) AS BIGINT) AS n_truth,
       |CAST((SELECT COUNT(*) FROM rtf) AS BIGINT) AS n_found,
       |CAST((SELECT COUNT(*) FROM rth) AS BIGINT) AS n_hit,
       |CAST((SELECT COUNT(*) FROM rtx) AS BIGINT) AS n_extra,
       |CAST(CASE WHEN (SELECT COUNT(*) FROM rtt) = 0 THEN 1000
       |ELSE (1000 * (SELECT COUNT(*) FROM rth)) // (SELECT COUNT(*) FROM rtt) END AS BIGINT) AS recall_permille""".stripMargin.replace("\n", " ")

  /** End-to-end dedup pipeline oracle: the same minhash pairs, then the
    * transitive closure via a RECURSIVE CTE (min reachable id = the
    * component keeper — the fixpoint the Spark side reaches by label
    * propagation), then survivors with their cluster sizes. */
  private def dedupPipelineOracle: String =
    s"""WITH RECURSIVE $minhashPairCtes,
       |mp AS (SELECT ida AS a, idb AS b FROM mres WHERE jaccard >= 0.7),
       |pedge AS (SELECT a AS u, b AS v FROM mp UNION ALL SELECT b AS u, a AS v FROM mp),
       |preach(u, r) AS (
       |  SELECT doc_id AS u, doc_id AS r FROM documents
       |  UNION
       |  SELECT e.u, p.r FROM pedge e JOIN preach p ON p.u = e.v
       |),
       |pcomp AS (SELECT u AS doc_id, MIN(r) AS cluster_id FROM preach GROUP BY u)
       |SELECT cluster_id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_members
       |FROM pcomp GROUP BY cluster_id""".stripMargin.replace("\n", " ")

  /** Incremental screen re-derived: batch docs (doc_id % 3 = 0) band-
    * matched against the index subset (doc_id % 3 != 0), verified by
    * the signature ESTIMATE only — exactly the operator's contract
    * (the index keeps no shingle sets). */
  private def incrementalOracle: String = {
    s"""WITH $minhashSigCtes,
       |icand AS (SELECT DISTINCT x.doc_id AS doc_id, y.doc_id AS index_id
       |FROM mband x JOIN mband y ON x.band = y.band AND x.s4 = y.s4
       |WHERE x.doc_id % 3 = 0 AND y.doc_id % 3 != 0),
       |mfull AS (SELECT doc_id, list(m ORDER BY fi) AS sig FROM msig GROUP BY doc_id),
       |ires AS (SELECT c.doc_id, c.index_id,
       |CAST(list_sum(list_transform(generate_series(1, 64), i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) AS DOUBLE) / 64 AS est_jaccard
       |FROM icand c JOIN mfull sa ON sa.doc_id = c.doc_id JOIN mfull sb ON sb.doc_id = c.index_id)
       |SELECT doc_id, index_id, est_jaccard FROM ires WHERE est_jaccard >= 0.5""".stripMargin.replace("\n", " ")
  }

  /** SimHash near-pairs fully re-derived in DuckDB: per-token xxh64
    * (short path — corpus tokens are ≤8 ASCII chars), 64 bit-votes,
    * sign assembly, then a quadratic hamming check (the oracle can
    * afford O(n²) at sf0.01; the Spark operator's pigeonhole buckets
    * are the scale path, same output). */
  /** CTE chain ending in `shpairs`(a, b, hamming) — shared by the
    * simhash-pairs oracle and the cluster-resolution oracle. */
  private def simhashPairCtes: String = simhashPairCtesFrom("documents")

  /** [[simhashPairCtes]] with the corpus source parameterized — the
    * incremental-clusters oracle runs the identical hash → vote →
    * pair chain over the MERGED corpus instead of `documents`. */
  private def simhashPairCtesFrom(src: String): String = {
    import Xxh64Sql._
    s"""shsrc AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), w -> length(w) > 0)) AS tok FROM $src),
       |${tokenHashStages("sh")},
       |shb AS (SELECT doc_id, unnest(generate_series(0, 63)) AS b, hu FROM shh),
       |shv AS (SELECT doc_id, b, SUM(CASE WHEN (hu // (1::HUGEINT << b)) % 2 = 1 THEN 1 ELSE -1 END) AS v FROM shb GROUP BY doc_id, b),
       |shg AS (SELECT doc_id, CAST(SUM(CASE WHEN v >= 0 THEN (1::HUGEINT << b) ELSE 0::HUGEINT END) AS HUGEINT) AS su FROM shv GROUP BY doc_id),
       |shs AS (SELECT doc_id, (CASE WHEN su >= 9223372036854775808 THEN su - $M64 ELSE su END)::BIGINT AS h FROM shg),
       |shpairs AS (SELECT x.doc_id AS a, y.doc_id AS b, CAST(bit_count(xor(x.h, y.h)) AS INTEGER) AS hamming
       |FROM shs x JOIN shs y ON x.doc_id < y.doc_id
       |WHERE bit_count(xor(x.h, y.h)) <= 3)""".stripMargin.replace("\n", " ")
  }

  private def simhashOracle: String =
    s"WITH $simhashPairCtes SELECT a, b, hamming FROM shpairs"

  /** Hashed-feature linear-scorer oracle: same tokens → staged xxh64 →
    * bucket = hu % buckets (2^64 ≡ 0 mod 2^16, so the unsigned
    * remainder equals Spark's signed floorMod) → the fixture weight →
    * exact integer per-doc sums, ONE double division; token-less docs
    * re-enter via the left join with score 0. */
  private def qualityModelOracle: String = {
    import Xxh64Sql._
    s"""WITH qssrc AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), w -> length(w) > 0)) AS tok FROM documents),
       |${tokenHashStages("qs")},
       |qsw AS (SELECT doc_id, ((hu % 65536) * 2654435761) % 1024 - 512 AS w FROM qsh),
       |qsa AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(w) AS BIGINT) AS ws FROM qsw GROUP BY doc_id)
       |SELECT d.doc_id, COALESCE(a.n, 0) AS n_tokens, COALESCE(a.ws, 0) AS w_sum,
       |CASE WHEN COALESCE(a.n, 0) > 0 THEN CAST(a.ws AS DOUBLE) / a.n ELSE 0.0 END AS score,
       |CASE WHEN COALESCE(a.n, 0) > 0 THEN CAST(a.ws AS DOUBLE) / a.n > 0.0 ELSE FALSE END AS keep
       |FROM documents d LEFT JOIN qsa a USING (doc_id)""".stripMargin.replace("\n", " ")
  }

  /** Cluster resolution re-derived independently: the same simhash
    * pairs, then min-reachable-id per vertex via a RECURSIVE CTE (the
    * transitive closure the Spark side computes by label propagation —
    * totally different mechanics, same fixpoint). */
  private def clustersOracle: String =
    s"""WITH RECURSIVE $simhashPairCtes,
       |cedge AS (SELECT a AS u, b AS v FROM shpairs UNION ALL SELECT b AS u, a AS v FROM shpairs),
       |reach(u, r) AS (
       |  SELECT doc_id AS u, doc_id AS r FROM documents
       |  UNION
       |  SELECT e.u, p.r FROM cedge e JOIN reach p ON p.u = e.v
       |)
       |SELECT u AS doc_id, MIN(r) AS cluster_id, (MIN(r) = u) AS keep
       |FROM reach GROUP BY u""".stripMargin.replace("\n", " ")

  /** Incremental-clusters oracle: the [[clustersOracle]] transitive
    * closure re-derived from scratch over the MERGED corpus (updates'
    * appended text moves their simhashes, deletes' vertices and edges
    * are gone, inserts present) — the maintained map must equal this
    * scratch rebuild bit-for-bit, splits and merges included. */
  private def clustersIncrementalOracle: String =
    s"""WITH RECURSIVE ${simhashPairCtesFrom(s"($IncrMergedDocsSql)")},
       |cedge AS (SELECT a AS u, b AS v FROM shpairs UNION ALL SELECT b AS u, a AS v FROM shpairs),
       |reach(u, r) AS (
       |  SELECT doc_id AS u, doc_id AS r FROM ($IncrMergedDocsSql)
       |  UNION
       |  SELECT e.u, p.r FROM cedge e JOIN reach p ON p.u = e.v
       |)
       |SELECT u AS doc_id, MIN(r) AS cluster_id
       |FROM reach GROUP BY u ORDER BY doc_id""".stripMargin.replace("\n", " ")

  /** Hash-level pair-state oracle: the maintained cluster index's
    * edge currency re-derived from scratch — the same simhash chain
    * over the MERGED corpus, reduced to DISTINCT hash values, then
    * the quadratic hamming check over hash pairs (the oracle can
    * afford O(D²) at sf0.01; the Spark side's pigeonhole screen is
    * the scale path, same output). Pins that the maintained pair
    * state is a pure function of the live corpus cross-engine, not
    * just spec-side. */
  private def pairStateOracle: String =
    s"""WITH ${simhashPairCtesFrom(s"($IncrMergedDocsSql)")},
       |shd AS (SELECT DISTINCT h FROM shs)
       |SELECT x.h AS h_a, y.h AS h_b FROM shd x JOIN shd y ON x.h < y.h
       |WHERE bit_count(xor(x.h, y.h)) <= 3
       |ORDER BY h_a, h_b""".stripMargin.replace("\n", " ")

  /** Keep-best survivorship oracle: the [[clustersOracle]] transitive
    * closure, then the argmax window (sc DESC, doc_id ASC) — the same
    * total order the Spark side encodes as max_by over
    * (score, -id). */
  private def keepBestOracle: String = keepBestOracleFrom("documents")

  /** [[keepBestOracle]] with the corpus source parameterized — the
    * incremental row replays the identical survivorship over the
    * MERGED corpus, so a maintained-map + fresh-score composition is
    * pinned against the same scratch decision. */
  private def keepBestOracleFrom(src: String): String =
    s"""WITH RECURSIVE ${simhashPairCtesFrom(src)},
       |kedge AS (SELECT a AS u, b AS v FROM shpairs UNION ALL SELECT b AS u, a AS v FROM shpairs),
       |reach(u, r) AS (
       |  SELECT doc_id AS u, doc_id AS r FROM $src
       |  UNION
       |  SELECT e.u, p.r FROM kedge e JOIN reach p ON p.u = e.v
       |),
       |kcl AS (SELECT u AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY u),
       |ksc AS (SELECT c.doc_id, c.cluster_id, CAST(LENGTH(d.text) AS BIGINT) AS sc FROM kcl c JOIN $src d USING (doc_id)),
       |kb AS (SELECT doc_id, cluster_id,
       |  FIRST_VALUE(doc_id) OVER (PARTITION BY cluster_id ORDER BY sc DESC, doc_id ASC) AS keeper_id,
       |  CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_members FROM ksc)
       |SELECT doc_id, cluster_id, n_members, keeper_id, (doc_id = keeper_id) AS keep
       |FROM kb ORDER BY doc_id""".stripMargin.replace("\n", " ")

  private val LeakTestPermille = 200

  /** Leakage-safe split oracle: the [[clustersOracle]] transitive
    * closure (same simhash pairs, same min-reachable fixpoint) with
    * the xxh64-of-BIGINT gate applied to the CLUSTER id — the split
    * column is a pure function of cluster_id in both engines. */
  private def leakageSplitOracle: String = {
    val m = Sampling.DefaultDenom
    s"""WITH RECURSIVE $simhashPairCtes,
       |ledge AS (SELECT a AS u, b AS v FROM shpairs UNION ALL SELECT b AS u, a AS v FROM shpairs),
       |lreach(u, r) AS (
       |  SELECT doc_id AS u, doc_id AS r FROM documents
       |  UNION
       |  SELECT e.u, p.r FROM ledge e JOIN lreach p ON p.u = e.v
       |),
       |lcc AS (SELECT u AS doc_id, MIN(r) AS cluster_id FROM lreach GROUP BY u),
       |lssrc AS (SELECT doc_id, (CASE WHEN cluster_id < 0 THEN cluster_id::HUGEINT + ${Xxh64Sql.M64} ELSE cluster_id::HUGEINT END) AS v FROM lcc),
       |${Xxh64Sql.longHashStages("ls")}
       |SELECT l.doc_id, l.cluster_id,
       |CASE WHEN ((h.hs % $m + $m) % $m) * 1000 < $LeakTestPermille * $m THEN 'test' ELSE 'train' END AS split
       |FROM lcc l JOIN lsh h USING (doc_id) ORDER BY doc_id""".stripMargin.replace("\n", " ")
  }

  /** Winnowing fingerprints (k=8, window=4) fully re-derived in DuckDB:
    * per-gram xxh64, sliding window minima, distinct, then
    * order-independent digests (count / min / max / xor) that match the
    * Spark projection exactly. */
  private def fingerprintOracle: String = {
    import Xxh64Sql._
    val chunk = (0 until 8).map(j =>
      s"ascii(g[${j + 1}:${j + 1}])::HUGEINT * ${java.math.BigInteger.ONE.shiftLeft(8 * j)}").mkString(" + ")
    s"""WITH fg0 AS (SELECT doc_id, unnest(generate_series(1, greatest(length(text) - 7, 1))) AS i, text FROM documents),
       |fg1 AS (SELECT doc_id, i, substring(text, i, 8) AS g FROM fg0),
       |fc AS (SELECT doc_id, i, ($chunk) AS ch FROM fg1),
       |fs1 AS (SELECT doc_id, i, ${mulmod(rotl(mulmod("ch", P2), 31), P1)} AS k FROM fc),
       |fs2 AS (SELECT doc_id, i, ${xor64(Acc0Len8, "k")} AS a1 FROM fs1),
       |fs3 AS (SELECT doc_id, i, (${mulmod(rotl("a1", 27), P1)} + $P4) % $M64 AS a3 FROM fs2),
       |fv1 AS (SELECT doc_id, i, ${xor64("a3", s"(a3 // ${1L << 33})")} AS b1 FROM fs3),
       |fv2 AS (SELECT doc_id, i, ${mulmod("b1", P2)} AS b2 FROM fv1),
       |fv3 AS (SELECT doc_id, i, ${xor64("b2", s"(b2 // ${1L << 29})")} AS b3 FROM fv2),
       |fv4 AS (SELECT doc_id, i, ${mulmod("b3", P3)} AS b4 FROM fv3),
       |fv5 AS (SELECT doc_id, i, ${xor64("b4", s"(b4 // ${1L << 32})")} AS hu FROM fv4),
       |fh AS (SELECT doc_id, i, (CASE WHEN hu >= 9223372036854775808 THEN hu - $M64 ELSE hu END)::BIGINT AS hs FROM fv5),
       |fw AS (SELECT doc_id, i, min(hs) OVER (PARTITION BY doc_id ORDER BY i ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wm,
       |count(*) OVER (PARTITION BY doc_id) AS cnt FROM fh),
       |fd AS (SELECT DISTINCT doc_id, wm FROM fw WHERE i <= greatest(cnt - 3, 1))
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp, min(wm) AS fp_min, max(wm) AS fp_max, bit_xor(wm) AS fp_xor
       |FROM fd GROUP BY doc_id""".stripMargin.replace("\n", " ")
  }

  private def packOracle: String =
    s"""WITH q AS (SELECT doc_id, source, CAST(len($ToksSql) AS BIGINT) AS n_tokens FROM documents),
       |c AS (SELECT doc_id, source, CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum FROM q)
       |SELECT doc_id, source, cum // 512 AS pack_id, cum % 512 AS pack_offset FROM c""".stripMargin.replace("\n", " ")

  private val PackSpanBuckets = 16
  private val PackSpanLen = 512

  /** packSpans oracle: the SAME xxh64-of-BIGINT chain as the sampling
    * oracles orders the corpus by (UNSIGNED hash, id) — the operator's
    * range buckets are a monotone function of that order, so ONE
    * global exclusive prefix sum replays the two-level form bit-equal
    * — then the identical span arithmetic per (document, sequence)
    * intersection. */
  private def packSpansOracle: String =
    s"""WITH psq AS (SELECT doc_id, CAST(len($ToksSql) AS BIGINT) AS n FROM documents),
       |psn AS (SELECT doc_id, n FROM psq WHERE n > 0),
       |pssrc AS (SELECT doc_id, (CASE WHEN doc_id < 0 THEN doc_id::HUGEINT + ${Xxh64Sql.M64} ELSE doc_id::HUGEINT END) AS v FROM psn),
       |${Xxh64Sql.longHashStages("ps")},
       |psb AS (SELECT p.doc_id, p.n, (CASE WHEN h.hs < 0 THEN h.hs::HUGEINT + ${Xxh64Sql.M64} ELSE h.hs::HUGEINT END) AS u FROM psn p JOIN psh h USING (doc_id)),
       |psc AS (SELECT doc_id, n, CAST(COALESCE(SUM(n) OVER (ORDER BY u ASC, doc_id ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS st FROM psb),
       |pse AS (SELECT doc_id, n, st, UNNEST(generate_series(st // $PackSpanLen, (st + n - 1) // $PackSpanLen)) AS seq_id FROM psc)
       |SELECT seq_id, doc_id,
       |greatest(st, seq_id * $PackSpanLen) - st AS doc_from,
       |least(st + n, (seq_id + 1) * $PackSpanLen) - st AS doc_to,
       |greatest(st, seq_id * $PackSpanLen) - seq_id * $PackSpanLen AS seq_off
       |FROM pse ORDER BY seq_id, doc_id""".stripMargin.replace("\n", " ")

  /** Deterministically injected PII + the same ordered regex fold in
    * DuckDB ('g' = replace all, matching Spark's regexp_replace). */
  private def piiScrubOracle: String = {
    val dirty = "text || ' contact: user' || CAST(doc_id AS VARCHAR) || '@example.com id:' || CAST(doc_id * 7919 AS VARCHAR)"
    val clean = operators.TextAnalysis.PiiPatterns.foldLeft("dirty") {
      case (c, (p, r)) => s"regexp_replace($c, '$p', '$r', 'g')"
    }
    val email = operators.TextAnalysis.PiiPatterns.head._1
    s"""WITH d AS (SELECT doc_id, $dirty AS dirty FROM documents)
       |SELECT doc_id, $clean AS clean,
       |CAST(len(regexp_extract_all(dirty, '$email')) AS BIGINT) AS n_emails
       |FROM d""".stripMargin.replace("\n", " ")
  }

  /** Decontamination oracle: the corpus/benchmark split (bench =
    * doc_id % 50 == 0), cross-table shared-gram counts with the corpus
    * stop-gram cap, exact jaccard — all ANSI set arithmetic. */
  private def contaminationOracle: String = {
    val grams = "list_distinct(list_transform(generate_series(1, greatest(length(text) - 4, 1)), i -> text[i:i+4]))"
    s"""WITH corp AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0),
       |bench AS (SELECT doc_id AS bench_id, text FROM documents WHERE doc_id % 50 = 0),
       |cgr AS (SELECT doc_id, unnest($grams) AS g FROM corp),
       |bgr AS (SELECT bench_id, unnest($grams) AS g FROM bench),
       |stop AS (SELECT g FROM cgr GROUP BY g HAVING count(*) > 200),
       |kept AS (SELECT cgr.doc_id, cgr.g FROM cgr ANTI JOIN stop USING (g)),
       |shared AS (SELECT k.doc_id, b.bench_id, count(*) AS common FROM kept k JOIN bgr b USING (g) GROUP BY 1, 2),
       |csz AS (SELECT doc_id, len($grams) AS sz_c FROM corp),
       |bsz AS (SELECT bench_id, len($grams) AS sz_b FROM bench)
       |SELECT shared.doc_id, shared.bench_id, CAST(common AS DOUBLE) / (sz_c + sz_b - common) AS jaccard
       |FROM shared JOIN csz ON csz.doc_id = shared.doc_id JOIN bsz ON bsz.bench_id = shared.bench_id
       |WHERE CAST(common AS DOUBLE) / (sz_c + sz_b - common) >= 0.3""".stripMargin.replace("\n", " ")
  }

  /** Character-5-gram Jaccard pairs with the same maxDf=200 stop-gram
    * cap — pure set arithmetic, fully ANSI-expressible. */
  private def ngramOracle: String = {
    val grams = "list_distinct(list_transform(generate_series(1, greatest(length(text) - 4, 1)), i -> text[i:i+4]))"
    s"""WITH gr AS (SELECT doc_id, unnest($grams) AS g FROM documents),
       |stop AS (SELECT g FROM gr GROUP BY g HAVING count(*) > 200),
       |kept AS (SELECT gr.doc_id, gr.g FROM gr ANTI JOIN stop USING (g)),
       |sz AS (SELECT doc_id, len($grams) AS sz FROM documents),
       |shared AS (SELECT x.doc_id AS ida, y.doc_id AS idb, count(*) AS common FROM kept x JOIN kept y USING (g) WHERE x.doc_id < y.doc_id GROUP BY 1, 2)
       |SELECT ida AS a, idb AS b, CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) AS jaccard
       |FROM shared JOIN sz sa ON sa.doc_id = ida JOIN sz sb ON sb.doc_id = idb
       |WHERE jaccard >= 0.5""".stripMargin.replace("\n", " ")
  }

  /** Containment oracle: the same inverted-index CTEs as
    * [[ngramOracle]], but both directions of each candidate pair
    * scored as common/|side| — mirrors
    * [[operators.Dedup.ngramContainmentPairs]]. */
  private def containmentOracle: String = {
    val grams = "list_distinct(list_transform(generate_series(1, greatest(length(text) - 4, 1)), i -> text[i:i+4]))"
    s"""WITH gr AS (SELECT doc_id, unnest($grams) AS g FROM documents),
       |stop AS (SELECT g FROM gr GROUP BY g HAVING count(*) > 200),
       |kept AS (SELECT gr.doc_id, gr.g FROM gr ANTI JOIN stop USING (g)),
       |sz AS (SELECT doc_id, len($grams) AS sz FROM documents),
       |shared AS (SELECT x.doc_id AS ida, y.doc_id AS idb, count(*) AS common FROM kept x JOIN kept y USING (g) WHERE x.doc_id < y.doc_id GROUP BY 1, 2),
       |cb AS (SELECT ida, idb, common, sa.sz AS sz_a, sb.sz AS sz_b
       |FROM shared JOIN sz sa ON sa.doc_id = ida JOIN sz sb ON sb.doc_id = idb),
       |dir AS (SELECT ida AS inner_id, idb AS outer_id, CAST(common AS DOUBLE) / sz_a AS containment FROM cb
       |UNION ALL SELECT idb AS inner_id, ida AS outer_id, CAST(common AS DOUBLE) / sz_b AS containment FROM cb)
       |SELECT inner_id, outer_id, containment FROM dir WHERE containment >= 0.6""".stripMargin.replace("\n", " ")
  }

  /** The events table with `ts_s` = epoch seconds attached. The
    * physical type of `ts` has drifted across testdata generations
    * (int64 nanos → timestamp[us]); [[sources.EventsTime]] adapts per
    * schema so every event query works in integer seconds regardless —
    * which also sidesteps engine-specific timestamp-timezone rendering
    * in the oracle compare. */
  private def events(s: SparkSession, d: String): DataFrame =
    sources.EventsTime.load(s, d)

  /** Per-(process, dataset) scratch directory for the sink-roundtrip
    * queries. The pid keeps concurrent JVMs (a Verify beside an AllTime
    * sweep) from overwriting each other's lazily-read files; the
    * dataset-dir hash keeps TWO datasets in one JVM apart — without it,
    * constructing the query for a second `d` overwrites the directory
    * a previously returned frame still reads lazily. `overwrite` mode
    * means repeated runs for the SAME (jvm, dataset) reuse one
    * directory instead of leaking a copy per invocation. */
  private def scratchDir(tag: String, d: String): String = {
    // key on a 128-bit digest of the dataset path, not String.hashCode:
    // a 32-bit collision between two datasets in one JVM would silently
    // re-introduce the lazily-read-file overwrite hazard
    val md = java.security.MessageDigest.getInstance("MD5")
    val dig = md.digest(d.getBytes("UTF-8")).take(8)
      .map(b => f"${b & 0xff}%02x").mkString
    s"${System.getProperty("java.io.tmpdir")}/graft_${tag}_" +
      s"${ProcessHandle.current().pid()}_$dig"
  }

  /** Shared CTE for the corpus-gram oracles: tokenize → DISTINCT word
    * 3-grams per doc (including the shorter-than-n whole-text gram) —
    * the SQL mirror of `TextAnalysis.distinctDocGrams`, written ONCE so
    * dup-passages and novelty cannot diverge. Ends in `<p>g`(doc_id, g). */
  private def docGramCtes(p: String): String =
    s"""${p}tk AS (SELECT doc_id, $ToksSql AS toks FROM documents),
       |${p}g AS (SELECT DISTINCT doc_id, unnest(CASE WHEN len(toks) <= 2 THEN [array_to_string(toks, ' ')]
       |  ELSE list_transform(generate_series(1, len(toks) - 2), i -> array_to_string(toks[i:i+2], ' ')) END) AS g FROM ${p}tk)""".stripMargin

  /** Duplicated-passage oracle: gram document-frequency → per-doc
    * counts, all ANSI set arithmetic (counts only, no ratio doubles).
    * Mirrors [[TextAnalysis.duplicatedPassageStats]]. */
  private def dupPassagesOracle: String =
    s"""WITH ${docGramCtes("d")},
       |gdf AS (SELECT g, COUNT(*) AS df FROM dg GROUP BY g)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_passages,
       |CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
       |FROM dg JOIN gdf USING (g) GROUP BY doc_id""".stripMargin.replace("\n", " ")

  /** First-seen novelty oracle: same gram construction, with the
    * document-frequency aggregate replaced by first-seen `MIN(doc_id)`. */
  private def noveltyOracle: String =
    s"""WITH ${docGramCtes("nv")},
       |nvf AS (SELECT g, MIN(doc_id) AS first_doc FROM nvg GROUP BY g)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
       |CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
       |FROM nvg JOIN nvf USING (g) GROUP BY doc_id""".stripMargin.replace("\n", " ")

  /** Gopher-style repetition stats re-derived in DuckDB: same
    * tokenizer, ALL word 2-grams (duplicates kept), count per (doc,
    * gram), then the distinct/total and modal/total ratios. Identical
    * IEEE double ops on identical longs in both engines. */
  private def repetitionOracle: String =
    s"""WITH rtk AS (SELECT doc_id, $ToksSql AS toks FROM documents),
       |rg AS (SELECT doc_id, unnest(CASE WHEN len(toks) <= 1 THEN [array_to_string(toks, ' ')]
       |  ELSE list_transform(generate_series(1, len(toks) - 1), i -> array_to_string(toks[i:i+1], ' ')) END) AS g FROM rtk),
       |rc AS (SELECT doc_id, g, COUNT(*) AS c FROM rg GROUP BY doc_id, g)
       |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_ngrams,
       |1 - COUNT(*)::DOUBLE / SUM(c)::DOUBLE AS dup_ngram_frac,
       |MAX(c)::DOUBLE / SUM(c)::DOUBLE AS top_ngram_frac
       |FROM rc GROUP BY doc_id""".stripMargin.replace("\n", " ")

  /** Shared CTE for the sampling oracles: every document's sample
    * bucket = pmod(xxh64(doc_id), denom), the hash re-derived through
    * [[Xxh64Sql.longHashStages]] (Spark's 8-byte hashLong path).
    * DuckDB's % truncates toward zero exactly like Java's, so the
    * ((h % m) + m) % m pmod is bit-identical. */
  private def sampleBucketCtes: String = sampleBucketCtesFrom("documents")

  private def sampleBucketCtesFrom(from: String): String = {
    val m = Sampling.DefaultDenom
    s"""smsrc AS (SELECT doc_id, (CASE WHEN doc_id < 0 THEN doc_id::HUGEINT + ${Xxh64Sql.M64} ELSE doc_id::HUGEINT END) AS v FROM $from),
       |${Xxh64Sql.longHashStages("sm")},
       |smb AS (SELECT d.doc_id, d.lang, ((h.hs % $m) + $m) % $m AS bucket FROM $from d JOIN smh h USING (doc_id))""".stripMargin.replace("\n", " ")
  }

  /** Temperature-resampling oracle: per-source counts, the ordered
    * Σ√c (list_sum over a source-ordered list = the Scala fold), the
    * same ((√c/Σ)·target)/c rate with trunc(rate·denom) thresholds,
    * and the xxh64-of-BIGINT gate — mirrors
    * [[operators.Mixing.temperatureSample]] end to end. */
  private def temperatureOracle(target: Long): String = {
    val m = Sampling.DefaultDenom
    s"""WITH tsc AS (SELECT source, COUNT(*) AS c FROM documents GROUP BY source),
       |tst AS (SELECT list_sum(list(sqrt(CAST(c AS DOUBLE)) ORDER BY source)) AS total FROM tsc),
       |tsr AS (SELECT source, CAST(trunc(least(1.0, ((sqrt(CAST(c AS DOUBLE)) / total) * ${target.toDouble}) / CAST(c AS DOUBLE)) * $m) AS BIGINT) AS thr FROM tsc CROSS JOIN tst),
       |tpsrc AS (SELECT doc_id, (CASE WHEN doc_id < 0 THEN doc_id::HUGEINT + ${Xxh64Sql.M64} ELSE doc_id::HUGEINT END) AS v FROM documents),
       |${Xxh64Sql.longHashStages("tp")}
       |SELECT d.doc_id, d.source FROM documents d
       |JOIN tph h USING (doc_id) JOIN tsr r USING (source)
       |WHERE ((h.hs % $m) + $m) % $m < r.thr""".stripMargin.replace("\n", " ")
  }

  /** Priority-sampling oracle: the same xxhash64-of-BIGINT chain the
    * IVF sample selection uses (proven bit-exact by those oracles),
    * then u = ((h >>> 11) + 1) / 2^53 and priority = w/u — mirroring
    * Sampling.prioritySample's expression tree. */
  private def prioritySampleOracle(k: Int): String = {
    import Xxh64Sql._
    val hfinal = xor64("b4", s"(b4 // ${1L << 32})")
    s"""WITH psk AS (SELECT doc_id, len($ToksSql) AS n_tokens, ${mulmod(rotl(mulmod("(doc_id::HUGEINT)", P2), 31), P1)} AS k FROM documents),
       |psx AS (SELECT doc_id, n_tokens, (${mulmod(rotl(xor64(Acc0Len8, "k"), 27), P1)} + $P4) % $M64 AS a3 FROM psk),
       |psy AS (SELECT doc_id, n_tokens, ${mulmod(xor64("a3", s"(a3 // ${1L << 33})"), P2)} AS b2 FROM psx),
       |psz AS (SELECT doc_id, n_tokens, ${mulmod(xor64("b2", s"(b2 // ${1L << 29})"), P3)} AS b4 FROM psy),
       |psh AS (SELECT doc_id, n_tokens, CAST(($hfinal // 2048) + 1 AS DOUBLE) / 9007199254740992.0::DOUBLE AS u FROM psz)
       |SELECT doc_id, n_tokens, n_tokens / u AS priority FROM psh
       |ORDER BY priority DESC, doc_id ASC LIMIT $k""".stripMargin.replace("\n", " ")
  }

  /** Oracle for doc_dsir_sample: token-bucket histograms → integer ppm
    * ratios → per-doc mean → priority race, the SQL mirror of
    * [[Sampling.importanceResample]]. Buckets = hu % B on the UNSIGNED
    * hash ≡ Spark's pmod(signed, B) because B is a power of two. */
  private def dsirSampleOracle(k: Int, buckets: Int): String = {
    import Xxh64Sql._
    s"""WITH dstk0 AS (SELECT doc_id, unnest($ToksSql) AS tok0 FROM documents),
       |dstk AS (SELECT doc_id, tok0[1:8] AS tok FROM dstk0),
       |dsvoc AS (SELECT DISTINCT tok FROM dstk),
       |dssrc AS (SELECT tok AS doc_id, tok FROM dsvoc),
       |${tokenHashStages("ds")},
       |dsbkt AS (SELECT doc_id AS tok, hu % $buckets AS b FROM dsh),
       |dstb AS (SELECT t.doc_id, kk.b, (d.lang = 'en') AS tgt
       |FROM dstk t JOIN dsbkt kk USING (tok) JOIN documents d ON d.doc_id = t.doc_id),
       |dshist AS (SELECT b, COUNT(*) AS sc, SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS tc FROM dstb GROUP BY b),
       |dstot AS (SELECT SUM(sc) AS st, SUM(tc) AS tt FROM dshist),
       |dsrt AS (SELECT b, (((tc + 1) * 1000000000) // (tt + $buckets) * 1000000)
       | // greatest((sc + 1) * 1000000000 // (st + $buckets), 1) AS r
       |FROM dshist CROSS JOIN dstot),
       |dsw AS (SELECT doc_id, SUM(r) // COUNT(*) AS weight_ppm FROM dstb JOIN dsrt USING (b) GROUP BY doc_id),
       |dpsrc AS (SELECT doc_id, (CASE WHEN doc_id < 0 THEN doc_id::HUGEINT + $M64 ELSE doc_id::HUGEINT END) AS v FROM dsw),
       |${longHashStages("dp")},
       |dpu AS (SELECT doc_id, CAST((hu // 2048) + 1 AS DOUBLE) / 9007199254740992.0::DOUBLE AS u FROM dpf5)
       |SELECT w.doc_id, CAST(w.weight_ppm AS BIGINT) AS weight_ppm, w.weight_ppm / u.u AS priority
       |FROM dsw w JOIN dpu u USING (doc_id)
       |ORDER BY priority DESC, w.doc_id ASC LIMIT $k""".stripMargin.replace("\n", " ")
  }

  private def stratSampleOracle(rates: Map[String, Double], defaultRate: Double): String = {
    val cases = rates.toSeq.sortBy(_._1).map { case (l, r) =>
      s"WHEN lang = '$l' THEN ${Sampling.threshold(r)}"
    }.mkString(" ")
    s"""WITH $sampleBucketCtes
       |SELECT doc_id, lang FROM smb
       |WHERE bucket < CASE $cases ELSE ${Sampling.threshold(defaultRate)} END""".stripMargin.replace("\n", " ")
  }

  private def splitAssignOracle(fracs: Seq[(String, Double)]): String = {
    val bounds = Sampling.splitBounds(fracs)
    val cases = bounds.init.map { case (name, upper) =>
      s"WHEN bucket < $upper THEN '$name'"
    }.mkString(" ")
    s"""WITH $sampleBucketCtes
       |SELECT doc_id, CASE $cases ELSE '${bounds.last._1}' END AS split FROM smb""".stripMargin.replace("\n", " ")
  }

  // ---------------------------------------------------------------------
  // Text analysis over documents
  // ---------------------------------------------------------------------
  private val text = Vector(
    Q("doc_token_stats",
      (s, d) => TextAnalysis.withTokenStats(spread(t(s, d, "documents")))
        .select("doc_id", "n_tokens", "n_chars", "avg_token_len", "distinct_ratio"),
      Some(s"""SELECT doc_id,
             |len($ToksSql) AS n_tokens,
             |length(text) AS n_chars,
             |CAST(list_sum(list_transform($ToksSql, w -> length(w))) AS DOUBLE) / len($ToksSql) AS avg_token_len,
             |CAST(len(list_distinct($ToksSql)) AS DOUBLE) / len($ToksSql) AS distinct_ratio
             |FROM documents""".stripMargin.replace("\n", " ")),
      bench = true),
    Q("doc_quality",
      (s, d) => TextAnalysis.withTokenStats(t(s, d, "documents"))
        .withColumn("quality", TextAnalysis.qualityScore)
        .select("doc_id", "quality"),
      Some(s"SELECT doc_id, $QualitySql AS quality FROM documents")),
    // Model-based quality gate: a hashed-feature LINEAR classifier run
    // inside the scan (fasttext shape — hash token, gather weight,
    // mean). The weight table is a deterministic fixture so the oracle
    // re-derives every gathered weight through the same staged-xxh64
    // SQL the minhash/simhash chains pin; a trained model swaps the
    // fixture for a broadcast array, nothing else moves.
    Q("doc_quality_model",
      (s, d) => TextAnalysis.linearQualityScore(
        t(s, d, "documents"), "doc_id", "text"),
      Some(qualityModelOracle)),
    // The SAME classifier fed its weights as an EXTERNAL table (one-row
    // broadcast frame + per-token gather) — the path a trained model
    // ships through. The table here encodes the fixture, so the oracle
    // is identical: the green row proves table path ≡ fixture path.
    Q("doc_quality_model_ext",
      (s, d) => TextAnalysis.linearQualityScoreWith(
        t(s, d, "documents"), "doc_id", "text",
        TextAnalysis.fixtureWeights()),
      Some(qualityModelOracle)),
    // Gopher rule battery with per-rule attribution; thresholds tuned
    // so the synthetic corpus (10-99 tokens/doc) exercises both
    // verdicts and several distinct failure combinations
    Q("doc_filter_battery",
      (s, d) => TextAnalysis.filterBattery(t(s, d, "documents"),
        minTokens = 30, maxTokens = 100000, minAvgLen = 3.0, maxAvgLen = 10.0,
        minAlphaRatio = 0.8, minStopwordHits = 2, minDistinctRatio = 0.3),
      Some(filterBatteryOracle(minTokens = 30, maxTokens = 100000,
        minAvgLen = 3.0, maxAvgLen = 10.0, minAlphaRatio = 0.8,
        minStopwordHits = 2, minDistinctRatio = 0.3))),
    // Calibration / reliability table for the hashed linear quality
    // model (the ann_recall_eval discipline applied to the CLASSIFIER):
    // per 64-wide score bin, how often does the independent Gopher
    // rule battery agree the document is keepable? A monotone
    // pass-rate column says the score RANKS quality; a flat one says
    // the model is noise at that band — the check a team runs before
    // trusting a threshold. Bin = floor(score/64): both engines
    // compute the identical double (w_sum/n, /64) and floor it, the
    // brute-cosine bit-equality contract; counts and per-mille rates
    // exact integers.
    Q("doc_quality_calibration",
      (s, d) => {
        val q = TextAnalysis.linearQualityScore(
            t(s, d, "documents"), "doc_id", "text")
          .select(col("doc_id"),
            floor(col("score") / 64.0).cast(LongType).as("bin"))
        val f = TextAnalysis.filterBattery(t(s, d, "documents"),
            minTokens = 30, maxTokens = 100000, minAvgLen = 3.0,
            maxAvgLen = 10.0, minAlphaRatio = 0.8, minStopwordHits = 2,
            minDistinctRatio = 0.3)
          .select(col("doc_id"), col("keep"))
        q.join(f, "doc_id").groupBy("bin")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("keep"), 1L).otherwise(0L)).as("n_pass"))
          .select(col("bin"), col("n_docs"), col("n_pass"),
            expr("(1000 * n_pass) div n_docs").as("pass_permille"))
          .orderBy("bin")
      },
      Some(s"""SELECT CAST(FLOOR(q.score / 64.0) AS BIGINT) AS bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
              |CAST(SUM(CASE WHEN f.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
              |(1000 * CAST(SUM(CASE WHEN f.keep THEN 1 ELSE 0 END) AS BIGINT)) // COUNT(*) AS pass_permille
              |FROM ($qualityModelOracle) q JOIN (${filterBatteryOracle(minTokens = 30,
                maxTokens = 100000, minAvgLen = 3.0, maxAvgLen = 10.0,
                minAlphaRatio = 0.8, minStopwordHits = 2,
                minDistinctRatio = 0.3)}) f ON f.doc_id = q.doc_id
              |GROUP BY 1 ORDER BY bin""".stripMargin.replace("\n", " "))),
    Q("doc_bpeish_tokens",
      (s, d) => TextAnalysis.withBpeTokenCount(t(s, d, "documents"))
        .select("doc_id", "n_bpeish"),
      Some(s"""SELECT doc_id, CAST(len(regexp_extract_all(text, '${TextAnalysis.BpeishPattern}')) AS BIGINT) AS n_bpeish FROM documents""")),
    Q("doc_lang_id",
      (s, d) => TextAnalysis.withLangId(t(s, d, "documents"))
        .select("doc_id", "lang", "lang_pred"),
      Some(langIdOracle)),
    Q("doc_repetition",
      (s, d) => TextAnalysis.repetitionStats(t(s, d, "documents"), "doc_id", "text"),
      Some(repetitionOracle)),
    // corpus-wide top-K token counts (the vocabulary/BPE count step);
    // ties at the cutoff broken by token asc → deterministic set
    Q("doc_vocab_topk",
      (s, d) => TextAnalysis.vocabTopK(t(s, d, "documents"), "text", k = 100),
      Some(s"""WITH vt AS (SELECT unnest($ToksSql) AS token FROM documents)
             |SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM vt
             |GROUP BY token ORDER BY cnt DESC, token ASC LIMIT 100""".stripMargin.replace("\n", " "))),
    // per-document top-5 TF-IDF terms (keyword extraction — the
    // document side of bm25TopK's query side): rational log-free idf
    // (N+1)/(df+1), exact integer counts with one divide + one
    // multiply in the same order both engines, ranks via the
    // bounded-heap top-k aggregate (map-side ≤ k rows per doc)
    Q("doc_tfidf_topk",
      (s, d) => TextAnalysis.tfidfTopTerms(t(s, d, "documents"), "doc_id",
        "text", k = 5).orderBy("doc_id", "rank"),
      Some(s"""WITH tft AS (SELECT doc_id, w AS term, CAST(COUNT(*) AS BIGINT) AS tf FROM (SELECT doc_id, unnest($ToksSql) AS w FROM documents) GROUP BY 1, 2),
             |tdf AS (SELECT term, COUNT(*) AS df FROM tft GROUP BY term),
             |tn AS (SELECT COUNT(*) AS n FROM documents),
             |tsc AS (SELECT f.doc_id, f.term, CAST(f.tf AS DOUBLE) * (CAST(n + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE)) AS tfidf FROM tft f JOIN tdf USING (term) CROSS JOIN tn)
             |SELECT doc_id, term, tfidf, CAST(rnk AS BIGINT) AS rank FROM (
             |SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rnk FROM tsc)
             |WHERE rnk <= 5""".stripMargin.replace("\n", " "))),
    // one round of BPE merge-candidate counting (the tokenizer-fit
    // step): adjacent char pairs weighted by DISTINCT-word frequency —
    // the explode is vocabulary-bounded, not corpus-bounded
    Q("doc_bpe_pairs",
      (s, d) => TextAnalysis.bpePairCounts(t(s, d, "documents"), "text", k = 40),
      Some(s"""WITH bpw AS (SELECT unnest($ToksSql) AS w FROM documents),
             |bpf AS (SELECT w, COUNT(*) AS freq FROM bpw GROUP BY w),
             |bpp AS (SELECT w, freq, unnest(generate_series(1, length(w) - 1)) AS i FROM bpf WHERE length(w) >= 2)
             |SELECT substring(w, i, 2) AS pair, CAST(SUM(freq) AS BIGINT) AS cnt
             |FROM bpp GROUP BY pair ORDER BY cnt DESC, pair ASC LIMIT 40""".stripMargin.replace("\n", " "))),
    // the full BPE merge loop (3 rounds): count → argmax → merge over
    // the guarded-symbol word table; the oracle chains the same three
    // rounds in SQL (replace() ≡ java replaceAll: greedy left-to-right
    // non-overlapping), so the hash pins the learned merge table
    Q("doc_bpe_merges",
      (s, d) => TextAnalysis.bpeTrain(t(s, d, "documents"), "text", merges = 3),
      Some(bpeMergesOracle)),
    // the tokenizer APPLY step: per-doc token counts under the learned
    // merge table — fit (bounded driver collect of 3 merges) compiled
    // into a map-only replace chain over every word, one rollup shuffle
    Q("doc_bpe_tokenize",
      (s, d) => TextAnalysis.bpeTokenCounts(t(s, d, "documents"), "doc_id",
        "text", merges = 3).orderBy("doc_id"),
      Some(bpeTokenizeOracle)),
    // WordPiece greedy longest-match tokenization: fit the 48 most
    // frequent length-2..4 substrings (word-frequency weighted, total
    // (cnt DESC, piece ASC) cut), then per-doc token counts under the
    // longest-match rule with the char fallback. The oracle re-derives
    // vocab, jump table, and the cursor walk (a pointer-following
    // recursion — pos strictly increases, aggregate-free), so the hash
    // pins fit + inference end to end. BPE's bottom-up merge twin is
    // doc_bpe_tokenize; this is the top-down segmenter.
    Q("doc_wordpiece_tokens",
      (s, d) => TextAnalysis.wordpieceTokenCounts(t(s, d, "documents"),
        "doc_id", "text", vocabSize = 48, maxPieceLen = 4)
        .orderBy("doc_id"),
      Some(s"""WITH RECURSIVE wpw AS (SELECT doc_id, unnest($ToksSql) AS w FROM documents),
             |wpf AS (SELECT w, COUNT(*) AS freq FROM wpw GROUP BY w),
             |wpl AS (SELECT w, freq, unnest(generate_series(2, 4)) AS l FROM wpf),
             |wpi AS (SELECT w, freq, l, unnest(generate_series(1, length(w) - l + 1)) AS i FROM wpl WHERE length(w) >= l),
             |wpp AS (SELECT substring(w, i, l) AS p, SUM(freq) AS cnt FROM wpi GROUP BY p),
             |wpv AS (SELECT p FROM wpp ORDER BY cnt DESC, p ASC LIMIT 48),
             |wpg AS (SELECT w, length(w) AS len, unnest(generate_series(0, length(w) - 1)) AS pos FROM wpf),
             |wpc AS (SELECT w, len, pos, unnest(generate_series(2, 4)) AS l FROM wpg),
             |wpm AS (SELECT c.w, c.pos, MAX(c.l) AS bestl FROM wpc c JOIN wpv v
             |ON c.pos + c.l <= c.len AND substring(c.w, c.pos + 1, c.l) = v.p GROUP BY c.w, c.pos),
             |wpb AS (SELECT g.w, g.pos, g.pos + COALESCE(m.bestl, 1) AS nxt FROM wpg g
             |LEFT JOIN wpm m ON m.w = g.w AND m.pos = g.pos),
             |wps(w, pos, cnt) AS (SELECT w, 0, 0 FROM wpf
             |UNION ALL SELECT s.w, b.nxt, s.cnt + 1 FROM wps s JOIN wpb b ON b.w = s.w AND b.pos = s.pos),
             |wpt AS (SELECT w, MAX(cnt) AS n_tok FROM wps GROUP BY w)
             |SELECT d.doc_id, CAST(SUM(t.n_tok) AS BIGINT) AS n_wp_tokens
             |FROM wpw d JOIN wpt t ON t.w = d.w GROUP BY d.doc_id ORDER BY d.doc_id"""
        .stripMargin.replace("\n", " "))),
    // RefinedWeb-style duplicated-passage counts: distinct word 3-grams
    // per doc, flagged when shared with ≥1 other document
    Q("doc_dup_passages",
      (s, d) => TextAnalysis.duplicatedPassageStats(t(s, d, "documents"),
        "doc_id", "text", n = 3),
      Some(dupPassagesOracle)),
    // ExactSubstr-style maximal duplicated spans (Lee et al. '21): the
    // BOUNDARIES of each cross-document duplicated region — maximal
    // runs of consecutive shared 3-token window starts, merged by a
    // per-doc gaps-and-islands window. Where dup_passages counts and
    // segment_dedup edits on a fixed grid, this recovers (start,
    // length) of the exact region an ExactSubstr pipeline cuts.
    Q("doc_dup_spans",
      (s, d) => TextAnalysis.duplicatedSpans(t(s, d, "documents"),
        "doc_id", "text", n = 3),
      Some(s"""WITH dxk AS (SELECT doc_id, $ToksSql AS toks FROM documents WHERE len($ToksSql) >= 3),
             |dxw AS (SELECT doc_id, unnest(generate_series(0, len(toks) - 3)) AS i, toks FROM dxk),
             |dxg AS (SELECT doc_id, i, array_to_string(list_slice(toks, i + 1, i + 3), ' ') AS win FROM dxw),
             |dxf AS (SELECT win FROM (SELECT DISTINCT doc_id, win FROM dxg) GROUP BY win HAVING COUNT(*) >= 2),
             |dxs AS (SELECT g.doc_id, g.i FROM dxg g JOIN dxf f USING (win)),
             |dxr AS (SELECT doc_id, i, i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp FROM dxs)
             |SELECT doc_id, CAST(MIN(i) AS BIGINT) AS span_start, CAST(COUNT(*) AS BIGINT) AS n_windows,
             |CAST(MAX(i) - MIN(i) + 3 AS BIGINT) AS span_tokens
             |FROM dxr GROUP BY doc_id, grp""".stripMargin.replace("\n", " "))),
    // the ExactSubstr EDIT step: cut every token covered by a
    // duplicated span of ≥ 5 tokens, keep shorter shared grams
    // (ordinary language — the paper's threshold exists to avoid
    // over-deletion), reassemble survivors in order. At sf0.01 this
    // edits 485 of the ~2k docs and fully empties the boilerplate
    // ones (93-token spans), so cut / keep / NULL paths all run
    // against real mass.
    Q("doc_dup_span_removal",
      (s, d) => TextAnalysis.removeDuplicatedSpans(
        spread(t(s, d, "documents")), "doc_id", "text",
        n = 3, minSpanTokens = 5),
      Some(s"""WITH dyk AS (SELECT doc_id, $ToksSql AS toks FROM documents WHERE len($ToksSql) > 0),
             |dyw AS (SELECT doc_id, unnest(generate_series(0, len(toks) - 3)) AS i, toks FROM dyk WHERE len(toks) >= 3),
             |dyg AS (SELECT doc_id, i, array_to_string(list_slice(toks, i + 1, i + 3), ' ') AS win FROM dyw),
             |dyf AS (SELECT win FROM (SELECT DISTINCT doc_id, win FROM dyg) GROUP BY win HAVING COUNT(*) >= 2),
             |dys AS (SELECT g.doc_id, g.i FROM dyg g JOIN dyf f USING (win)),
             |dyr AS (SELECT doc_id, i, i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp FROM dys),
             |dyspan AS (SELECT doc_id, MIN(i) AS s, MAX(i) - MIN(i) + 3 AS l FROM dyr GROUP BY doc_id, grp HAVING MAX(i) - MIN(i) + 3 >= 5),
             |dycov0 AS (SELECT doc_id, s + unnest(generate_series(0, l - 1)) AS p FROM dyspan),
             |dycov AS (SELECT DISTINCT doc_id, p FROM dycov0),
             |dyp AS (SELECT doc_id, unnest(generate_series(0, len(toks) - 1)) AS p, toks FROM dyk),
             |dyt AS (SELECT doc_id, p, toks[p + 1] AS tok FROM dyp),
             |dykept AS (SELECT t.doc_id, t.p, t.tok FROM dyt t LEFT JOIN dycov c ON c.doc_id = t.doc_id AND c.p = t.p WHERE c.p IS NULL),
             |dyagg AS (SELECT doc_id, COUNT(*) AS n_kept, string_agg(tok, ' ' ORDER BY p) AS kept FROM dykept GROUP BY doc_id)
             |SELECT k.doc_id, CAST(len(k.toks) AS BIGINT) AS n_tokens,
             |CAST(len(k.toks) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
             |CASE WHEN COALESCE(a.n_kept, 0) = 0 THEN NULL ELSE a.kept END AS text_kept
             |FROM dyk k LEFT JOIN dyagg a USING (doc_id)""".stripMargin.replace("\n", " ")),
      // benched: the span-dedup family's hard member by plan shape
      // (positional explode → window df → islands window → anti-join
      // cut) — regression-timed every round per the r17 verdict
      bench = true),
    // first-seen novelty in doc_id order: a gram is novel only for the
    // document that introduces it (min-id aggregation, same two-
    // partial-agg + equi-join shape as dup_passages)
    Q("doc_ngram_novelty",
      (s, d) => TextAnalysis.noveltyStats(t(s, d, "documents"),
        "doc_id", "text", n = 3),
      Some(noveltyOracle)),
    // CCNet-style corpus segment dedup: 3-token segments shared by ≥2
    // docs are removed, the rest reassembled in order (at sf0.01 ~34%
    // of segments are shared and 26 docs empty out entirely, so the
    // removal, reassembly, and NULL-when-fully-boilerplate paths all
    // run against real mass)
    Q("doc_segment_dedup",
      (s, d) => TextAnalysis.segmentDedup(t(s, d, "documents"),
        "doc_id", "text", n = 3),
      Some(s"""WITH sdk AS (SELECT doc_id, $ToksSql AS toks FROM documents WHERE len($ToksSql) > 0),
             |sds AS (SELECT doc_id, unnest(generate_series(0, (len(toks)-1)//3)) AS seg_idx, toks FROM sdk),
             |sdg AS (SELECT doc_id, seg_idx, array_to_string(list_slice(toks, seg_idx*3+1, seg_idx*3+3), ' ') AS seg FROM sds),
             |sdf AS (SELECT seg, COUNT(DISTINCT doc_id) AS df FROM sdg GROUP BY seg)
             |SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_segments,
             |CAST(SUM(CASE WHEN f.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             |string_agg(CASE WHEN f.df = 1 THEN g.seg END, ' ' ORDER BY g.seg_idx) AS text_kept
             |FROM sdg g JOIN sdf f USING (seg) GROUP BY g.doc_id""".stripMargin.replace("\n", " "))),
    // count-min-sketch token counts (4 x 16 forces real collisions on
    // the 31-token vocab): the oracle re-derives the EXACT sketch —
    // same xxhash64, same Kirsch-Mitzenmacher buckets, same collision
    // mass — so est is value-pinned cross-engine, not just bounded
    Q("doc_cms_counts",
      (s, d) => TextAnalysis.cmsTokenCounts(t(s, d, "documents"), "text",
        depth = 4, width = 16),
      Some({
        import Xxh64Sql._
        s"""WITH cmtk AS (SELECT unnest($ToksSql) AS tok FROM documents),
           |cmv AS (SELECT tok, COUNT(*) AS cnt FROM cmtk GROUP BY tok),
           |cmsrc AS (SELECT tok AS doc_id, tok FROM cmv),
           |${tokenHashStages("cm")},
           |cmhh AS (SELECT doc_id AS tok, hu % 4294967296 AS h1, hu // 4294967296 AS h2 FROM cmh),
           |cmb AS (SELECT tok, r, (h1 + r * h2) % 16 AS bucket FROM cmhh CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS r)),
           |cmbt AS (SELECT r, bucket, SUM(cnt) AS tot FROM cmb JOIN cmv USING (tok) GROUP BY r, bucket),
           |cme AS (SELECT tok, MIN(tot) AS est FROM cmb JOIN cmbt USING (r, bucket) GROUP BY tok)
           |SELECT v.tok AS token, CAST(v.cnt AS BIGINT) AS cnt, CAST(e.est AS BIGINT) AS est
           |FROM cmv v JOIN cme e USING (tok)""".stripMargin.replace("\n", " ")
      })),
    // Sketch freshness under CDC — the LINEAR-sketch retraction story:
    // CMS counters are ± sums, so document deletes genuinely SUBTRACT
    // where the HLL family's register-max is monotone and cannot
    // forget. The sketch is bootstrapped from 4/5 of the corpus, one
    // Debezium-style change batch lands (updates ≡ 1 mod 10 append
    // two tokens with the pre-image carried; deletes ≡ 3 mod 10;
    // the held-out fifth inserted), delta mass = +tokens(new)
    // −tokens(old) folds through the SAME double-hash grid in one
    // d×w-row join — never a corpus rescan — and the oracle rebuilds
    // the sketch from scratch over the merged corpus: linearity is
    // pinned, not assumed. A negative-folding counter (lying
    // before-image) trips an in-plan assert.
    Q("doc_cms_incremental",
      (s, d) => {
        val (boot, feed) = incrementalDocFeed(
          t(s, d, "documents").select(col("doc_id"), col("text")))
        val sk0 = TextAnalysis.cmsSketch(boot, "text", depth = 4, width = 16)
        TextAnalysis.cmsMaintain(sk0, feed, "doc_id", "text", "old_text",
            "seq", "op", depth = 4, width = 16)
          .orderBy("r", "bucket")
      },
      Some({
        import Xxh64Sql._
        s"""WITH cifrom AS ($IncrMergedDocsSql),
           |citk AS (SELECT unnest($ToksSql) AS tok FROM cifrom),
           |civ AS (SELECT tok, COUNT(*) AS cnt FROM citk GROUP BY tok),
           |cisrc AS (SELECT tok AS doc_id, tok FROM civ),
           |${tokenHashStages("ci")},
           |cihh AS (SELECT doc_id AS tok, hu % 4294967296 AS h1, hu // 4294967296 AS h2 FROM cih),
           |cib AS (SELECT tok, r, (h1 + r * h2) % 16 AS bucket FROM cihh CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS r))
           |SELECT CAST(r AS BIGINT) AS r, CAST(bucket AS BIGINT) AS bucket, CAST(SUM(cnt) AS BIGINT) AS tot
           |FROM cib JOIN civ USING (tok) GROUP BY r, bucket""".stripMargin.replace("\n", " ")
      })),
    // overlapping token-window chunking (training-sample prep):
    // 64-token chunks every 48 tokens
    Q("doc_chunks",
      (s, d) => TextAnalysis.chunkTokens(t(s, d, "documents"),
        "doc_id", "text", chunkSize = 64, stride = 48),
      Some(s"""WITH tk AS (SELECT doc_id, $ToksSql AS toks, len($ToksSql) AS n FROM documents WHERE len($ToksSql) > 0),
             |ch AS (SELECT doc_id, toks, unnest(generate_series(0, (n-1)//48)) AS chunk_id FROM tk)
             |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
             |CAST(len(list_slice(toks, chunk_id*48+1, chunk_id*48+64)) AS BIGINT) AS n_chunk_tokens,
             |array_to_string(list_slice(toks, chunk_id*48+1, chunk_id*48+64), ' ') AS chunk_text
             |FROM ch""".stripMargin.replace("\n", " "))),
    // corpus-unigram frequency scoring (log-free LM-quality signal):
    // integer sums end-to-end, one double division at the end, so the
    // doubles hash-match cross-engine
    Q("doc_unigram_lm",
      (s, d) => TextAnalysis.corpusFrequency(t(s, d, "documents"),
        "doc_id", "text", rareMax = 2L),
      Some(s"""WITH utk AS (SELECT doc_id, unnest($ToksSql) AS tok FROM documents),
             |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM utk GROUP BY doc_id, tok),
             |vocab AS (SELECT tok, SUM(tf) AS cnt FROM tf GROUP BY tok)
             |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
             |CAST(SUM(tf * cnt) AS DOUBLE) / SUM(tf) AS mean_tok_freq,
             |CAST(SUM(CASE WHEN cnt <= 2 THEN tf ELSE 0 END) AS BIGINT) AS n_rare
             |FROM tf JOIN vocab USING (tok) GROUP BY doc_id""".stripMargin.replace("\n", " "))),
    // bigram LM scoring (sequence-aware quality gate): mean corpus
    // conditional probability of the doc's adjacent bigrams in exact
    // integer micro-units — q = (1e6·c2) div c1 per bigram, integer
    // sums, ONE double division at the end (the log-free idiom)
    Q("doc_bigram_lm",
      (s, d) => TextAnalysis.bigramLmScore(t(s, d, "documents"),
        "doc_id", "text").orderBy("doc_id"),
      Some(s"""WITH blk AS (SELECT doc_id, $ToksSql AS toks FROM documents WHERE len($ToksSql) >= 2),
             |blg AS (SELECT doc_id, unnest(generate_series(2, len(toks))) AS i, toks FROM blk),
             |blp AS (SELECT doc_id, toks[i - 1] AS w1, toks[i] AS w2 FROM blg),
             |blt AS (SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS tf FROM blp GROUP BY 1, 2, 3),
             |bl2 AS (SELECT w1, w2, CAST(SUM(tf) AS BIGINT) AS c2 FROM blt GROUP BY 1, 2),
             |bl1 AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM bl2 GROUP BY 1),
             |blq AS (SELECT w1, w2, (1000000 * c2) // c1 AS q FROM bl2 JOIN bl1 USING (w1))
             |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
             |CAST(SUM(tf * q) AS BIGINT) AS sum_cond_micro,
             |CAST(SUM(tf * q) AS DOUBLE) / SUM(tf) AS mean_cond_micro
             |FROM blt JOIN blq USING (w1, w2) GROUP BY doc_id
             |ORDER BY doc_id""".stripMargin.replace("\n", " "))),
    // deterministic hash-gated sampling: stratified per-language rates,
    // and the disjoint train/val/test split assignment
    Q("doc_sample_strat",
      (s, d) => Sampling.stratifiedHashSample(t(s, d, "documents"),
        "doc_id", "lang", Map("en" -> 0.5, "zh" -> 0.1), defaultRate = 0.25)
        .select("doc_id", "lang"),
      Some(stratSampleOracle(Map("en" -> 0.5, "zh" -> 0.1), 0.25))),
    // weight-proportional (token-count) priority sample — the oracle
    // re-derives xxhash64(doc_id), the (0,1] mapping, and w/u
    Q("doc_priority_sample",
      (s, d) => Sampling.prioritySample(
        TextAnalysis.withTokenStats(t(s, d, "documents")),
        "doc_id", "n_tokens", k = 50)
        .select("doc_id", "n_tokens", "priority"),
      Some(prioritySampleOracle(50))),
    // DSIR importance resampling (data selection): the 40 docs whose
    // hashed-unigram distribution is closest to the 'en' slice, via
    // exact-integer likelihood ratios (log-free — see
    // Sampling.importanceResample scaladoc) + the deterministic
    // weight-proportional priority draw. The oracle re-derives the
    // token xxhash buckets, both smoothed histograms, the ppm ratios,
    // and the priority race end-to-end in SQL.
    Q("doc_dsir_sample",
      (s, d) => Sampling.importanceResample(t(s, d, "documents"),
        "doc_id", "text", col("lang") === "en", k = 40)
        .select("doc_id", "weight_ppm", "priority"),
      Some(dsirSampleOracle(k = 40, buckets = 64))),
    Q("doc_split_assign",
      (s, d) => Sampling.assignSplits(t(s, d, "documents"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split"),
      Some(splitAssignOracle(Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))),
    // exact-count uniform cap per language (bounded-heap reservoir);
    // oracle re-ranks by the re-derived hash
    Q("doc_reservoir",
      (s, d) => Sampling.reservoirPerGroup(t(s, d, "documents"),
        Seq("lang"), "doc_id", k = 30).orderBy("lang", "rank"),
      Some(s"""WITH rsrc AS (SELECT doc_id, (CASE WHEN doc_id < 0 THEN doc_id::HUGEINT + ${Xxh64Sql.M64} ELSE doc_id::HUGEINT END) AS v FROM documents),
             |${Xxh64Sql.longHashStages("r")},
             |rrank AS (SELECT d.lang, d.doc_id,
             |ROW_NUMBER() OVER (PARTITION BY d.lang ORDER BY h.hs DESC, d.doc_id ASC) AS rnk
             |FROM documents d JOIN rh h USING (doc_id))
             |SELECT lang, doc_id, CAST(rnk AS BIGINT) AS "rank" FROM rrank WHERE rnk <= 30""".stripMargin.replace("\n", " "))),
    // class-balanced downsample: per-label keep rates derived FROM THE
    // DATA (minority count / label count), gated by the same stable id
    // hash — the oracle re-derives counts, thresholds, and gate
    Q("doc_rebalance",
      (s, d) => Sampling.rebalanceClasses(t(s, d, "documents"),
        "doc_id", "lang").select("doc_id", "lang"),
      Some(s"""WITH $sampleBucketCtes,
             |rbc AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
             |rbm AS (SELECT MIN(n) AS mn FROM rbc),
             |rbt AS (SELECT lang, CAST(trunc(CAST(mn AS DOUBLE) / n * ${Sampling.DefaultDenom}) AS BIGINT) AS thr
             |FROM rbc CROSS JOIN rbm)
             |SELECT smb.doc_id, smb.lang FROM smb JOIN rbt USING (lang)
             |WHERE smb.bucket < rbt.thr""".stripMargin.replace("\n", " "))),
    // Engine-internal hashes (xxhash64) — rows-only check; semantics
    // pinned in TextAnalysisSpec.
    Q("doc_fingerprint",
      // the documents file is a single split locally; spread the
      // CPU-heavy winnowing projection over all cores (a real corpus
      // has natural splits and would skip this). Registered output:
      // order-independent digests of the fingerprint SET, so the DuckDB
      // re-derivation (xxh64 in SQL) can hash-match; the doc_fp digest
      // stays in the withFingerprints API (spec-pinned).
      (s, d) => TextAnalysis.withFingerprints(
          t(s, d, "documents").repartition(s.sparkContext.defaultParallelism))
        .select(col("doc_id"),
          size(col("fingerprints")).cast(LongType).as("n_fp"),
          array_min(col("fingerprints")).as("fp_min"),
          array_max(col("fingerprints")).as("fp_max"),
          expr("aggregate(fingerprints, CAST(0 AS BIGINT), (a, x) -> a ^ x)").as("fp_xor")),
      Some(fingerprintOracle)),
  )

  // ---------------------------------------------------------------------
  // Deduplication over documents
  // ---------------------------------------------------------------------
  private val dedup = Vector(
    Q("dedup_exact",
      (s, d) => Dedup.exactGroups(t(s, d, "documents"), Seq("text"), "doc_id")
        .select("doc_id", "n_copies"),
      Some("SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies FROM documents GROUP BY text")),
    Q("dedup_exact_rows",
      (s, d) => Dedup.exactRows(t(s, d, "documents"), Seq("lang", "source"), "doc_id")
        .select("doc_id", "lang", "source"),
      Some("""SELECT doc_id, lang, source FROM (
             |SELECT doc_id, lang, source,
             |ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY doc_id ASC) AS rn
             |FROM documents) WHERE rn = 1""".stripMargin.replace("\n", " "))),
    Q("dedup_minhash",
      (s, d) => Dedup.minhashNearDuplicates(spread(t(s, d, "documents")),
        "doc_id", "text", threshold = 0.7).orderBy("a", "b"),
      Some(minhashOracle), bench = true),
    // LSH recall vs exhaustive ground truth (inverted-index all-pairs
    // — never a cartesian; doc count assert_true'd against maxDocs):
    // the before-you-trust-the-settings eval as a first-class op, its
    // confusion counts and found⊆truth containment hash-pinned
    Q("dedup_lsh_recall",
      (s, d) => Dedup.lshRecallEval(t(s, d, "documents"), "doc_id", "text",
        threshold = 0.7),
      Some(lshRecallOracle)),
    Q("dedup_simhash",
      (s, d) => Dedup.simhashNearPairs(t(s, d, "documents"), "doc_id", "text",
        maxHamming = 3).orderBy("a", "b"),
      Some(simhashOracle)),
    // cluster resolution: same simhash pairs → connected components →
    // one keeper per component (label propagation vs the oracle's
    // recursive transitive closure)
    Q("dedup_clusters",
      (s, d) => {
        val docs = t(s, d, "documents")
        Dedup.connectedComponents(docs, "doc_id",
          Dedup.simhashNearPairs(docs, "doc_id", "text", maxHamming = 3))
          .orderBy("doc_id")
      },
      Some(clustersOracle)),
    // Quality-aware survivorship over the SAME clusters: keep the
    // member maximizing a quality proxy (here LENGTH — the C4/CCNet
    // keep-the-fullest-copy rule) instead of dedup_clusters' min-id
    // representative; ties to the smallest id, one total order both
    // engines replay. A truncated mirror must lose to the full
    // original even when its id is smaller.
    Q("dedup_keep_best",
      (s, d) => {
        val docs = t(s, d, "documents")
        Dedup.keepBestPerCluster(docs, "doc_id",
          Dedup.simhashNearPairs(docs, "doc_id", "text", maxHamming = 3),
          length(col("text")).cast("long"))
          .orderBy("doc_id")
      },
      Some(keepBestOracle)),
    // Leakage-safe train/test split: the gate hashes the near-dup
    // CLUSTER id (same simhash pairs → CC as dedup_clusters), so a
    // paraphrase of a training document can never land in test — the
    // held-out contamination a per-document hash split commits
    // silently. Structural guarantee: split is a pure function of
    // cluster_id; both engines derive it through the pinned
    // xxh64-of-BIGINT chain.
    Q("doc_split_leakage_safe",
      (s, d) => {
        val docs = t(s, d, "documents")
        operators.Sampling.leakageSafeSplit(docs, "doc_id",
          Dedup.simhashNearPairs(docs, "doc_id", "text", maxHamming = 3),
          testPermille = LeakTestPermille)
          .orderBy("doc_id")
      },
      Some(leakageSplitOracle)),
    Q("dedup_ngram",
      (s, d) => Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text",
        n = 5, threshold = 0.5).orderBy("a", "b"),
      Some(ngramOracle)),
    // directional containment (|A∩B|/|A|): subsumption screening —
    // same inverted index, both directions scored per candidate pair
    Q("dedup_containment",
      (s, d) => Dedup.ngramContainmentPairs(t(s, d, "documents"), "doc_id",
        "text", n = 5, threshold = 0.6).orderBy("inner_id", "outer_id"),
      Some(containmentOracle)),
    // blocked edit-distance join over the distinct part-name domain:
    // length-slot candidate generation (lossless for dist ≤ k), exact
    // levenshtein verify — the entity-resolution fuzzy-match primitive
    Q("er_editdist_pairs",
      (s, d) => Dedup.editDistancePairs(t(s, d, "part"), "p_name", maxDist = 3)
        .orderBy("a", "b"),
      Some("""WITH n AS (SELECT DISTINCT p_name AS name FROM part)
             |SELECT a.name AS a, b.name AS b, CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
             |FROM n a JOIN n b ON a.name < b.name
             |WHERE levenshtein(a.name, b.name) <= 3""".stripMargin.replace("\n", " "))),
    // the ER RESOLUTION step on top of er_editdist_pairs: fuzzy-match
    // edges → transitive entity clusters (every record that chains
    // together is one entity) → a canonical survivor per entity (the
    // lexicographic-min name — deterministic survivorship both engines
    // replay). Singleton names — no fuzzy match at all — form their
    // own entity, so EVERY record leaves with an entity id: the
    // master-data contract. Same pointer-jumping CC as dedup_clusters
    // (string labels: `least` is lexicographic in both engines).
    Q("er_clusters",
      (s, d) => erEntityMap(s, d)
        .withColumnRenamed("cluster_id", "entity_id")
        .withColumnRenamed("keep", "is_canonical")
        .orderBy("name"),
      Some(s"""WITH RECURSIVE $erClusterCtes
             |SELECT u AS name, MIN(r) AS entity_id, (MIN(r) = u) AS is_canonical
             |FROM erc GROUP BY u ORDER BY name""".stripMargin.replace("\n", " "))),
    // the MDM terminal step on top of er_clusters: one GOLDEN RECORD
    // per resolved entity, attributes consolidated from every member
    // record by deterministic survivorship rules both engines replay —
    // representative key = min partkey, price = max over members (the
    // latest-list proxy), size = min, plus record/name counts so the
    // consolidation's mass is visible. Shape: the cluster map joins
    // the record table on the match key and one partial-agg rollup —
    // survivorship never re-reads the pair graph.
    Q("er_golden_record",
      (s, d) => t(s, d, "part")
        .select(col("p_partkey"), col("p_name"), col("p_retailprice"),
          col("p_size"))
        .join(erEntityMap(s, d).select(col("name"),
          col("cluster_id").as("entity_id")),
          col("p_name") === col("name"))
        .groupBy("entity_id").agg(
          count(lit(1)).as("n_records"),
          countDistinct(col("p_name")).as("n_names"),
          min(col("p_partkey")).as("record_key"),
          max(col("p_retailprice")).as("price_max"),
          min(col("p_size")).as("size_min"))
        .orderBy("entity_id"),
      Some(s"""WITH RECURSIVE $erClusterCtes,
             |erg AS (SELECT u AS name, MIN(r) AS entity_id FROM erc GROUP BY u)
             |SELECT g.entity_id, CAST(COUNT(*) AS BIGINT) AS n_records,
             |CAST(COUNT(DISTINCT p.p_name) AS BIGINT) AS n_names,
             |MIN(p.p_partkey) AS record_key, MAX(p.p_retailprice) AS price_max,
             |CAST(MIN(p.p_size) AS INTEGER) AS size_min
             |FROM part p JOIN erg g ON g.name = p.p_name
             |GROUP BY g.entity_id ORDER BY entity_id""".stripMargin.replace("\n", " "))),
    // EXACT prefix-filtered set-similarity join: the oracle brute-
    // forces ALL pairs, so the hash match proves the prefix filter
    // dropped no qualifying candidate (completeness, not just output
    // plausibility)
    // per-band LSH index audit (bucket sizes + candidate-pair cost):
    // the skew observability row a production banded index is sized by;
    // the oracle re-derives the whole signature chain and buckets by
    // the actual band slice (Spark buckets by its hash — same partition
    // of docs, and the hash-match proves it)
    Q("dedup_lsh_bucket_stats",
      (s, d) => Dedup.lshBucketStats(t(s, d, "documents"), "doc_id", "text"),
      Some(s"""WITH $minhashSigCtes,
             |lbs AS (SELECT band, s4, COUNT(*) AS sz FROM mband GROUP BY band, s4)
             |SELECT CAST(band AS BIGINT) AS band, COUNT(*) AS n_buckets,
             |CAST(MAX(sz) AS BIGINT) AS max_bucket,
             |CAST(SUM(sz * (sz - 1) // 2) AS BIGINT) AS n_cand_pairs
             |FROM lbs GROUP BY band""".stripMargin.replace("\n", " "))),
    // cross-source contamination matrix: the SAME banded minhash pairs,
    // rolled up by unordered source pair — the "which corpus leaked
    // into which" accounting a benchmark-decontamination audit reports.
    // The source lookup joins the SMALL pair list against the full
    // (id → source) projection — no broadcast hint on purpose: the
    // corpus side must never be broadcast, and AQE's runtime stats pick
    // the pair side when it fits. The matrix rollup is trivially small.
    Q("dedup_cross_source",
      (s, d) => {
        val src = t(s, d, "documents").select(col("doc_id"), col("source"))
        Dedup.minhashNearDuplicates(t(s, d, "documents"), "doc_id", "text",
            threshold = 0.7)
          .select("a", "b")
          .join(src.toDF("a", "sa"), Seq("a"))
          .join(src.toDF("b", "sb"), Seq("b"))
          .groupBy(least(col("sa"), col("sb")).as("source_a"),
            greatest(col("sa"), col("sb")).as("source_b"))
          .agg(count(lit(1)).as("n_pairs"))
      },
      Some(s"""WITH $minhashPairCtes,
             |xsp AS (SELECT ida, idb FROM mres WHERE jaccard >= 0.7)
             |SELECT least(da.source, db.source) AS source_a,
             |greatest(da.source, db.source) AS source_b, COUNT(*) AS n_pairs
             |FROM xsp p JOIN documents da ON da.doc_id = p.ida
             |JOIN documents db ON db.doc_id = p.idb
             |GROUP BY 1, 2""".stripMargin.replace("\n", " "))),
    Q("dedup_prefix_exact",
      (s, d) => Dedup.prefixJaccardPairs(t(s, d, "documents"), "doc_id", "text",
        threshold = 0.8).orderBy("a", "b"),
      Some(prefixExactOracle(0.8))),
    // incremental screen: every 3rd doc plays today's batch, the rest
    // is the historical corpus known only by its signature index
    Q("dedup_incremental",
      (s, d) => {
        val docs = t(s, d, "documents")
        val index = Dedup.minhashSignatures(
          docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text")
        Dedup.screenAgainstIndex(
          docs.filter(col("doc_id") % 3 === 0), "doc_id", "text",
          index, threshold = 0.5)
          .orderBy("doc_id", "index_id")
      },
      Some(incrementalOracle)),
    // Cluster-map freshness — the family's GRAPH member and its
    // second non-invertible one: a deleted bridge doc SPLITS its
    // component (unknowable from the map alone — the maintainer
    // carries the edge set), one inserted near-dup can MERGE standing
    // clusters. Bootstrap from 4/5 of the corpus, fold one Debezium
    // batch (updates re-hash and may re-wire, deletes drop vertices +
    // edges, held-out fifth inserted; new pairs via the batch-vs-
    // index hamming screen, never a corpus self-join), recompute ONLY
    // the touched clusters' induced subgraph. Min-member-id cluster
    // ids are a pure function of membership, so the maintained map is
    // bit-equal to the oracle's scratch rebuild over the merged
    // corpus — splits and merges included.
    Q("dedup_clusters_incremental",
      (s, d) => {
        val (boot, feed) = incrementalDocFeed(t(s, d, "documents"))
        val st = Dedup.clustersMaintain(
          Dedup.clustersBootstrap(boot, "doc_id", "text",
            checkpoint = true),
          feed.select("seq", "op", "doc_id", "text"),
          "doc_id", "text", "seq", "op")
        st.clusters.orderBy("doc_id")
      },
      Some(clustersIncrementalOracle)),
    // The curation DECISION kept fresh: keep-best survivorship
    // recomputed from the MAINTAINED cluster map + the merged
    // corpus's scores — an updated doc whose quality proxy grew can
    // take over its cluster, a deleted keeper's runner-up surfaces,
    // and the decision equals the scratch keep-best over the merged
    // corpus (same argmax order) — the composition a pipeline
    // actually serves from its incremental state.
    Q("dedup_keep_best_incremental",
      (s, d) => {
        val (boot, feed) = incrementalDocFeed(t(s, d, "documents"))
        val st = Dedup.clustersMaintain(
          Dedup.clustersBootstrap(boot, "doc_id", "text",
            checkpoint = true),
          feed.select("seq", "op", "doc_id", "text"),
          "doc_id", "text", "seq", "op")
        val merged = operators.Cdc.applyChanges(
          boot.select("doc_id", "text"),
          feed.select("doc_id", "text", "seq", "op"),
          "doc_id", "seq", "op")
        Dedup.keepBestFromClusters(st.clusters,
            merged.select(col("doc_id"),
              length(col("text")).cast("long").as("__score")), "doc_id")
          .orderBy("doc_id")
      },
      Some(keepBestOracleFrom(s"($IncrMergedDocsSql)"))),
    // the real customer path end-to-end: near-dup pairs → connected
    // components → keep-filter, composed from the SAME operators the
    // individual rows verify — this row pins that the stages compose
    // without column/type drift (pairs' a/b feed clusters; keepers are
    // cluster_id == doc_id) and that every survivor carries its
    // cluster size for downstream weighting
    Q("dedup_pipeline",
      (s, d) => {
        val docs = t(s, d, "documents")
        val pairs = Dedup.minhashNearDuplicates(docs, "doc_id", "text",
          threshold = 0.7)
        val clusters = Dedup.connectedComponents(docs, "doc_id", pairs)
        clusters.groupBy("cluster_id").agg(count(lit(1)).as("n_members"))
          .join(clusters.filter(col("keep")), Seq("cluster_id"))
          .select(col("doc_id"), col("n_members"))
          .orderBy("doc_id")
      },
      Some(dedupPipelineOracle)),
    // THE end-to-end prep run: quality-filter the corpus, near-dup
    // dedup the SURVIVORS (not the raw corpus — order matters: junk
    // must not become a cluster keeper), then deterministic train/val/
    // test assignment. One composed lazy plan; each stage is the
    // scale-audited operator above, and the oracle re-runs the whole
    // chain in SQL so the hash pins the composition, not just the parts.
    Q("pipeline_training_manifest",
      (s, d) => {
        val docs = spread(t(s, d, "documents"))
        // classify once (r21): checkpoint the keep-id list so the
        // battery pass is not re-run by the pair search and the CC
        // vertex set (see the capstone's bootKeepIds note)
        val keepIds = Caching.localCheckpoint(TextAnalysis.filterBattery(docs,
              minTokens = 30, maxTokens = 100000, minAvgLen = 3.0,
              maxAvgLen = 10.0, minAlphaRatio = 0.8, minStopwordHits = 2,
              minDistinctRatio = 0.3)
            .filter(col("keep")).select("doc_id"))
        val kept = docs.join(keepIds, Seq("doc_id"))
        val pairs = Dedup.minhashNearDuplicates(kept, "doc_id", "text",
          threshold = 0.7)
        val survivors = Dedup.connectedComponents(kept, "doc_id", pairs)
          .filter(col("keep")).select("doc_id")
        Sampling.assignSplits(
            survivors.join(docs.select("doc_id", "lang"), Seq("doc_id")),
            "doc_id", Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
          .select("doc_id", "lang", "split")
      },
      Some(trainingManifestOracle),
      // benched: the composed path IS the product — regression-time the
      // whole filter→dedup→split chain, not only its stages
      bench = true),
    // THE composed freshness story: the training manifest itself
    // maintained under CDC. The quality filter composes through
    // Cdc.gateFeed (a failing update RETRACTS the doc from the
    // curated view — becomes a D; a newly-passing doc enters), the
    // curated feed folds onto the maintained cluster state, keepers
    // are the map's min-id representatives, and the split gate is a
    // pure hash. The served manifest must equal the scratch
    // filter→dedup→split over the merged corpus row-for-row.
    Q("pipeline_incremental_manifest",
      (s, d) => {
        val docs = spread(t(s, d, "documents"))
        val (boot, feed) = incrementalDocFeed(docs)
        def battery(df: DataFrame): DataFrame =
          TextAnalysis.filterBattery(df,
            minTokens = 30, maxTokens = 100000, minAvgLen = 3.0,
            maxAvgLen = 10.0, minAlphaRatio = 0.8, minStopwordHits = 2,
            minDistinctRatio = 0.3)
        // classify the bootstrap corpus ONCE (r21): the keep-id list is
        // eagerly checkpointed (tiny — ids only), so the battery's
        // tokenizer pass over the corpus is not re-run by each
        // bootstrap-state consumer (it measured twice per run: the
        // signature build and the CC vertex set)
        val bootKeepIds = Caching.localCheckpoint(
          battery(boot).filter(col("keep")).select("doc_id"))
        val bootKept = boot.join(bootKeepIds, Seq("doc_id"))
        // eager checkpoint of the gated feed (r21, guide §1.4/§3.3 —
        // the streaming twin's shape): the maintenance fold runs ~150
        // AQE stage-jobs, and a lazy gate makes every one re-analyze
        // the spread → feed-union → battery-classify subtree (measured
        // ~10 s of driver gaps at sf0.1); the checkpoint is
        // feed-bounded and cuts that analysis to the one materialization
        val gated = Caching.localCheckpoint(operators.Cdc.gateFeed(
          feed.select("seq", "op", "doc_id", "text"),
          "doc_id", "seq", "op")(battery))
        val st = Dedup.clustersMaintain(
          Dedup.clustersBootstrap(bootKept, "doc_id", "text",
            checkpoint = true),
          gated, "doc_id", "text", "seq", "op")
        val keepers = st.clusters
          .filter(col("doc_id") === col("cluster_id")).select("doc_id")
        Sampling.assignSplits(
            keepers.join(docs.select("doc_id", "lang"), Seq("doc_id")),
            "doc_id", Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
          .select("doc_id", "lang", "split")
          .orderBy("doc_id")
      },
      Some(incrementalManifestOracle),
      // benched (r18 verdict #7): the capstone composition — gate +
      // screen + affected-cluster CC + splits — is exactly the shape
      // to regression-time every round
      bench = true),
    // the SAME capstone chain at a REALISTIC feed fraction (~2%
    // churn, modulus 150) — the r19 verdict's missing #2: the 40%-
    // churn fixture above makes "affected clusters" ≈ the corpus, so
    // its benched wall mostly times a disguised full rebuild; THIS
    // row is the benched demonstration that a small feed costs O(Δ).
    // FEEDCURVE.json (graft.FeedSweep) records the full feed-fraction
    // → wall curve the pair of rows anchors.
    Q("pipeline_incremental_manifest_2pct",
      (s, d) => {
        val docs = spread(t(s, d, "documents"))
        val (boot, feed) = incrementalDocFeedMod(docs, 150)
        def battery(df: DataFrame): DataFrame =
          TextAnalysis.filterBattery(df,
            minTokens = 30, maxTokens = 100000, minAvgLen = 3.0,
            maxAvgLen = 10.0, minAlphaRatio = 0.8, minStopwordHits = 2,
            minDistinctRatio = 0.3)
        // classify the bootstrap corpus ONCE (r21): the keep-id list is
        // eagerly checkpointed (tiny — ids only), so the battery's
        // tokenizer pass over the corpus is not re-run by each
        // bootstrap-state consumer (it measured twice per run: the
        // signature build and the CC vertex set)
        val bootKeepIds = Caching.localCheckpoint(
          battery(boot).filter(col("keep")).select("doc_id"))
        val bootKept = boot.join(bootKeepIds, Seq("doc_id"))
        // eager checkpoint of the gated feed (r21, guide §1.4/§3.3 —
        // the streaming twin's shape): the maintenance fold runs ~150
        // AQE stage-jobs, and a lazy gate makes every one re-analyze
        // the spread → feed-union → battery-classify subtree (measured
        // ~10 s of driver gaps at sf0.1); the checkpoint is
        // feed-bounded and cuts that analysis to the one materialization
        val gated = Caching.localCheckpoint(operators.Cdc.gateFeed(
          feed.select("seq", "op", "doc_id", "text"),
          "doc_id", "seq", "op")(battery))
        val st = Dedup.clustersMaintain(
          Dedup.clustersBootstrap(bootKept, "doc_id", "text",
            checkpoint = true),
          gated, "doc_id", "text", "seq", "op")
        val keepers = st.clusters
          .filter(col("doc_id") === col("cluster_id")).select("doc_id")
        Sampling.assignSplits(
            keepers.join(docs.select("doc_id", "lang"), Seq("doc_id")),
            "doc_id", Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
          .select("doc_id", "lang", "split")
          .orderBy("doc_id")
      },
      Some(incrementalManifestOracleFrom(incrMergedDocsLangModSql(150))),
      bench = true),
    // The maintained cluster index's EDGE STATE itself, driver-checked
    // (r19): hash-level (h_a, h_b) distinct-hash pairs within the
    // radius after a bootstrap + one maintenance fold — a pure
    // function of the live corpus, so the oracle re-derives it from
    // scratch over the merged corpus with a quadratic hash-pair check.
    // This is the cross-engine pin for the r19 pair-state redesign
    // (doc-level O(near-doc-pairs) edges → hash-level
    // O(near-hash-pairs)); the cluster MAP equality is
    // dedup_clusters_incremental's row above.
    Q("dedup_cluster_pair_state",
      (s, d) => {
        val (boot, feed) = incrementalDocFeed(t(s, d, "documents"))
        val st = Dedup.clustersMaintain(
          Dedup.clustersBootstrap(boot, "doc_id", "text",
            checkpoint = true),
          feed.select("seq", "op", "doc_id", "text"),
          "doc_id", "text", "seq", "op")
        st.pairs.orderBy("h_a", "h_b")
      },
      Some(pairStateOracle)),
    // The capstone's STREAMING twin as a driver-checked row (r19):
    // the same change feed folded through ManifestStream's five
    // DeltaStore homes plus its `f/` frontier snapshot (gate ∘ cluster
    // fold ∘ meta delta ∘ keep-best ∘ splits, frontier-first) — batch 0 is the bootstrap
    // corpus as inserts (maintaining from empty state ≡ bootstrap:
    // every home is a pure function of the folded prefix), batch 1
    // the change batch. Constant score ⇒ min-id keepers, so the
    // SERVED manifest shares pipeline_incremental_manifest's oracle
    // verbatim — the stream and the batch capstone are pinned to the
    // same scratch re-derivation by the driver itself.
    Q("pipeline_manifest_stream",
      (s, d) => {
        val (boot, feed) = manifestStreamFeed(t(s, d, "documents"))
        def battery(df: DataFrame): DataFrame =
          TextAnalysis.filterBattery(df, idCol = "id",
            minTokens = 30, maxTokens = 100000, minAvgLen = 3.0,
            maxAvgLen = 10.0, minAlphaRatio = 0.8, minStopwordHits = 2,
            minDistinctRatio = 0.3)
        val root = java.nio.file.Files
          .createTempDirectory("graft_mf_q").toString
        val splits = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)
        streaming.ManifestStream.foldBatch(boot, 0L, root,
          battery, lit(0.0), splits)
        streaming.ManifestStream.foldBatch(feed, 1L, root,
          battery, lit(0.0), splits)
        // materialize off the state homes (eager localCheckpoint —
        // the returned frame serves from executor blocks), then drop
        // the homes: every invocation otherwise leaves six parquet
        // state directories in /tmp
        val out = Caching.localCheckpoint(
          streaming.ManifestStream.readManifest(s, root)
            .select(col("id").as("doc_id"), col("lang"), col("split"))
            .orderBy("doc_id"))
        Harness.rmTree(root)
        out
      },
      Some(incrementalManifestOracle)),
    // train/test decontamination: every 50th document plays the held-out
    // benchmark; the rest is the training corpus being screened
    Q("dedup_decontaminate",
      (s, d) => {
        val docs = t(s, d, "documents")
        Dedup.ngramContamination(
          docs.filter(col("doc_id") % 50 =!= 0),
          docs.filter(col("doc_id") % 50 === 0),
          "doc_id", "text", n = 5, threshold = 0.3)
          .orderBy("doc_id", "bench_id")
      },
      Some(contaminationOracle)),
    // same contamination check, Bloom-prefiltered: the corpus-gram
    // majority is dropped map-side by a broadcast bitmap of the
    // benchmark's grams before any shuffle — the 100 TB shape. The
    // bloom pass has no false negatives and the exact gram join
    // confirms survivors, so the OUTPUT is identical row-for-row to
    // dedup_decontaminate and the same oracle SQL pins both.
    Q("dedup_decontaminate_bloom",
      (s, d) => {
        val docs = t(s, d, "documents")
        Dedup.ngramContaminationBloom(
          docs.filter(col("doc_id") % 50 =!= 0),
          docs.filter(col("doc_id") % 50 === 0),
          "doc_id", "text", n = 5, threshold = 0.3)
          .orderBy("doc_id", "bench_id")
      },
      Some(contaminationOracle)),
    // the report a contamination run actually publishes: per-SOURCE
    // flagged-document rates over the whole corpus (flagged = overlaps
    // ANY benchmark doc at the threshold), exact counts + one double
    // division per source. Left join keeps zero-contamination sources
    // in the report — absence of a source line would read as "not
    // checked", not "clean".
    Q("dedup_contamination_report",
      (s, d) => {
        val docs = t(s, d, "documents")
        val corpus = docs.filter(col("doc_id") % 50 =!= 0)
        val flagged = Dedup.ngramContamination(
            corpus, docs.filter(col("doc_id") % 50 === 0),
            "doc_id", "text", n = 5, threshold = 0.3)
          .select("doc_id").distinct()
          .withColumn("__flag", lit(1L))
        corpus.select("doc_id", "source")
          .join(flagged, Seq("doc_id"), "left")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(coalesce(col("__flag"), lit(0L))).as("n_flagged"))
          .withColumn("flagged_pct",
            col("n_flagged").cast(DoubleType) * 100.0 /
              col("n_docs").cast(DoubleType))
          .orderBy("source")
      },
      Some(s"""WITH cflags AS ($contaminationOracle),
             |cfd AS (SELECT DISTINCT doc_id FROM cflags)
             |SELECT source, COUNT(*) AS n_docs,
             |CAST(COALESCE(SUM(CASE WHEN cfd.doc_id IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_flagged,
             |CAST(COALESCE(SUM(CASE WHEN cfd.doc_id IS NOT NULL THEN 1 ELSE 0 END), 0) AS DOUBLE) * 100.0 / CAST(COUNT(*) AS DOUBLE) AS flagged_pct
             |FROM (SELECT doc_id, source FROM documents WHERE doc_id % 50 <> 0) c
             |LEFT JOIN cfd ON cfd.doc_id = c.doc_id
             |GROUP BY source ORDER BY source""".stripMargin.replace("\n", " "))),
  )

  // ---------------------------------------------------------------------
  // Data mixing over scored documents
  // ---------------------------------------------------------------------
  private def scoredDocs(s: SparkSession, d: String): DataFrame =
    TextAnalysis.withTokenStats(t(s, d, "documents"))
      .withColumn("quality", TextAnalysis.qualityScore)

  private val mixing = Vector(
    // per-language quality cap (the "at most N docs per cell" rule) —
    // native top-k aggregate: map-side heaps, shuffle ≤ k/(group,part)
    Q("doc_mix_topk",
      (s, d) => operators.Mixing.topKPerGroup(
        scoredDocs(s, d).select("doc_id", "lang", "quality"),
        Seq("lang"), "quality", "doc_id", k = 5),
      Some(mixTopkOracle)),
    // fill each language's token budget best-quality-first
    Q("doc_token_budget",
      (s, d) => operators.Mixing.tokenBudgetPerGroup(
        scoredDocs(s, d).select("doc_id", "lang", "n_tokens", "quality"),
        Seq("lang"), "n_tokens", "quality", "doc_id", budget = 2000L)
        .select("doc_id", "lang", "n_tokens"),
      Some(tokenBudgetOracle)),
    // concat-and-chunk packing into 512-token training sequences
    Q("doc_pack",
      (s, d) => operators.Mixing.packSequences(
        scoredDocs(s, d).select("doc_id", "source", "n_tokens"),
        Seq("source"), "n_tokens", "doc_id", seqLen = 512L)
        .select("doc_id", "source", "pack_id", "pack_offset"),
      Some(packOracle)),
    // Distributed concat-and-chunk SPAN layout: every (sequence, doc)
    // intersection as an exact [doc_from, doc_to) token slice at
    // seq_off — what the sequence writer materializes — in a
    // deterministic xxh64-shuffled corpus order via the TWO-LEVEL
    // prefix sum (per-bucket windows in parallel; only the ≤ buckets
    // bucket-totals frame ever sees a single-partition window), so one
    // giant mixture cell packs without a global window. The oracle
    // re-derives the hash order through the pinned xxh64-of-BIGINT
    // chain and replays the span arithmetic on ONE global cumsum —
    // bit-equal to the two-level form by construction.
    Q("doc_pack_spans",
      (s, d) => operators.Mixing.packSpans(
        scoredDocs(s, d).select("doc_id", "n_tokens"),
        "doc_id", "n_tokens", seqLen = PackSpanLen.toLong,
        buckets = PackSpanBuckets)
        .orderBy("seq_id", "doc_id"),
      Some(packSpansOracle), bench = true),
    // PII scrubbing: inject deterministic PII-shaped strings (the
    // synthetic corpus has none), then redact — both engines apply the
    // same ordered regex fold, so this cross-checks the scrub itself
    Q("doc_pii_scrub",
      (s, d) => {
        val dirty = concat(col("text"), lit(" contact: user"),
          col("doc_id").cast("string"), lit("@example.com id:"),
          (col("doc_id") * 7919).cast("string"))
        t(s, d, "documents").select(col("doc_id"),
          TextAnalysis.scrubPii(dirty).as("clean"),
          size(regexp_extract_all(dirty,
            lit(TextAnalysis.PiiPatterns.head._1), lit(0)))
            .cast(LongType).as("n_emails"))
      },
      Some(piiScrubOracle)),
    // α=0.5 temperature resampling across sources (keep rate ∝ √c/c):
    // the oracle re-derives counts, the ordered Σ√c, the truncated
    // per-source thresholds, AND the xxh64 gate — the full mixture
    // rule pinned cross-engine.
    Q("doc_mix_temperature",
      (s, d) => operators.Mixing.temperatureSample(
        t(s, d, "documents"), "doc_id", "source", target = 300L)
        .select("doc_id", "source"),
      Some(temperatureOracle(300L))),
  )

  // ---------------------------------------------------------------------
  // Similarity search over embeddings
  // ---------------------------------------------------------------------
  private def probes(df: DataFrame): DataFrame = df.filter(col("vec_id") < 10)

  private val KcenterK = 6

  /** Greedy k-center oracle: the `KcenterK` farthest-point rounds
    * unrolled — seed = id argmin, each round (d DESC, vec_id ASC)
    * argmax over the running min-distance frame, distances the same
    * fixed-shape `xx − 2.0·dot + cc` expression over list_dot_product
    * folds. MATERIALIZED per round: kd_t is read by both kc_{t+1} and
    * kd_{t+1} (the kcoreOracle re-evaluation lesson). */
  private val kcenterOracle: String = {
    val sb = new StringBuilder
    sb ++= "WITH kv0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), "
    sb ++= "kv AS MATERIALIZED (SELECT vec_id, v, list_dot_product(v, v) AS xx FROM kv0), "
    sb ++= "kc1 AS MATERIALIZED (SELECT vec_id AS cid, v AS cv, 0.0 AS d FROM kv ORDER BY vec_id ASC LIMIT 1), "
    sb ++= "kd1 AS MATERIALIZED (SELECT k.vec_id, k.v, k.xx, " +
      "k.xx - 2.0 * list_dot_product(k.v, c.cv) + list_dot_product(c.cv, c.cv) AS d " +
      "FROM kv k CROSS JOIN kc1 c), "
    (2 to KcenterK).foreach { r =>
      sb ++= s"kc$r AS MATERIALIZED (SELECT vec_id AS cid, v AS cv, d FROM kd${r - 1} ORDER BY d DESC, vec_id ASC LIMIT 1), "
      if (r < KcenterK)
        sb ++= s"kd$r AS MATERIALIZED (SELECT k.vec_id, k.v, k.xx, " +
          s"LEAST(k.d, k.xx - 2.0 * list_dot_product(k.v, c.cv) + list_dot_product(c.cv, c.cv)) AS d " +
          s"FROM kd${r - 1} k CROSS JOIN kc$r c), "
    }
    sb.setLength(sb.length - 2)
    sb ++= (1 to KcenterK).map(r =>
      s"SELECT CAST($r AS BIGINT) AS sel_round, cid AS vec_id, d AS dist2 FROM kc$r")
      .mkString(" ", " UNION ALL ", " ORDER BY sel_round")
    sb.result()
  }

  private val similarity = Vector(
    Q("emb_label_stats",
      (s, d) => t(s, d, "embeddings").groupBy("label")
        .agg(count(lit(1)).as("n")),
      Some("SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label")),
    // per-label centroid (the class-prototype vector a classifier /
    // SemDeDup seeding step needs): posexplode to (label, dim) cells,
    // components quantized to a 1e-6 grid (the mm_features idiom —
    // float→decimal casts round-trip differently at the half-way digit
    // cross-engine, exact integer sums do not), mean as ONE double
    // division at the end. Quantization error ≤ 5e-7 per component on
    // unit-norm embeddings. Shape: explode is map-side, the rollup
    // carries one row per (label, dim) per partition.
    Q("emb_label_centroid",
      (s, d) => t(s, d, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("label"), col("pos").cast(LongType).as("pos"))
        .agg((sum(round(col("v").cast(DoubleType) * 1000000).cast(LongType))
          .cast(DoubleType) / (count(lit(1)) * lit(1000000L))).as("mean_v")),
      Some("""SELECT label, CAST(j - 1 AS BIGINT) AS pos,
             |CAST(SUM(CAST(round(CAST(embedding[j] AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE) / (COUNT(*) * 1000000) AS mean_v
             |FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS j) j
             |GROUP BY 1, 2""".stripMargin.replace("\n", " "))),
    // exact corpus gram matrix (the PCA/whitening input): per-partition
    // long-array fold, shuffle bounded at 2080 rows per partition
    // regardless of corpus size; the oracle re-derives the identical
    // rounded-long products via a 64×64 lateral unnest
    Q("emb_gram_upper",
      (s, d) => Similarity.gramUpperTriangle(t(s, d, "embeddings"),
        "embedding", dim = 64),
      Some("""WITH gv AS (SELECT list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS r FROM embeddings),
             |gp AS (SELECT r, unnest(generate_series(1, 64)) AS i1 FROM gv),
             |gq AS (SELECT r, i1, unnest(generate_series(i1, 64)) AS j1 FROM gp)
             |SELECT CAST(i1 - 1 AS BIGINT) AS i, CAST(j1 - 1 AS BIGINT) AS j, CAST(COUNT(*) AS BIGINT) AS n,
             |CAST(SUM(r[i1] * r[j1]) AS BIGINT) AS sum_xy_scaled,
             |CAST(SUM(r[i1] * r[j1]) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1000000000000.0) AS mean_xy
             |FROM gq GROUP BY i1, j1""".stripMargin.replace("\n", " "))),
    // Exact ANN via the native top-k aggregate (map-side bounded heaps;
    // see TopKAggregate) — the window formulation is kept as
    // Similarity.bruteForceTopK and spec-pinned equal.
    Q("ann_brute_topk",
      (s, d) => {
        val e = t(s, d, "embeddings")
        Similarity.bruteForceTopKAgg(e, probes(e), "vec_id", "embedding", k = 10)
          .withColumn("rank", col("rank").cast(LongType))
      },
      Some(annBruteOracle), bench = true),
    Q("ann_lsh_topk",
      (s, d) => {
        val e = t(s, d, "embeddings")
        Similarity.lshTopK(e, probes(e), "vec_id", "embedding", k = 10,
          planes = LshPlanes, seed = LshSeed, planeGen = Similarity.lcgPlanes)
          .withColumn("rank", col("rank").cast(LongType))
      },
      Some(annLshOracle)),
    Q("ann_ivf_topk",
      (s, d) => {
        val e = t(s, d, "embeddings")
        Similarity.ivfTopK(e, probes(e), "vec_id", "embedding", k = 10)
          .withColumn("rank", col("rank").cast(LongType))
      },
      Some(ivfOracle)),
    // Index freshness under CDC: the inverted file is BOOTSTRAPPED
    // from 4/5 of the corpus, then ONE change batch lands — updates
    // (vec_id ≡ 1 mod 10 re-embedded as the exact negation: sign flip
    // is bit-exact in floating point and flips every cosine, so an
    // engine that ignored the update cannot pass), deletes (≡ 3 mod
    // 10), and the held-out fifth inserted — via ivfMaintain's
    // map-side cell assignment + key-level latest-wins fold. The
    // search then runs over the MAINTAINED index while the oracle
    // rebuilds from scratch over the merged corpus: the hash pins
    // maintained ≡ rebuilt end-to-end (assignment, membership, and
    // ranking). The crash/exactly-once protocol for the same fold is
    // IvfStream, pinned in IvfStreamSpec.
    Q("ann_ivf_incremental",
      (s, d) => {
        val e = t(s, d, "embeddings")
        val centroids = Similarity.trainedCentroids(e, "vec_id",
          "embedding", nlist = 16, trainSample = 4096)
        val boot = e.filter(col("vec_id") % 5 =!= 4)
        val idx0 = Similarity.ivfAssign(boot, "vec_id", "embedding", centroids)
        val ups = e.filter(col("vec_id") % 10 === 1)
          .select(lit("U").as("op"), col("vec_id").as("id"),
            transform(col("embedding"), x => -x.cast("double")).as("vec"))
        val dels = e.filter(col("vec_id") % 10 === 3)
          .select(lit("D").as("op"), col("vec_id").as("id"),
            lit(null).cast("array<double>").as("vec"))
        val ins = e.filter(col("vec_id") % 5 === 4)
          .select(lit("I").as("op"), col("vec_id").as("id"),
            transform(col("embedding"), _.cast("double")).as("vec"))
        val feed = ups.unionByName(dels).unionByName(ins)
          .withColumn("seq", lit(1000000L) + col("id"))
        val idx1 = Similarity.ivfMaintain(idx0, feed, "id", "vec",
          "seq", "op", centroids)
        Similarity.ivfSearch(idx1, probes(e), "vec_id", "embedding",
            k = 10, centroids, nProbe = 4)
          .withColumn("rank", col("rank").cast(LongType))
      },
      Some(ivfIncrementalOracle), bench = true),
    // SQ8 scalar quantization: the fit (per-dim min/max), the 8-bit
    // encode, the midpoint decode, and the search are ALL closed-form
    // arithmetic, so the oracle re-derives the entire quantization
    // pipeline — the hash pins fit+encode+decode+rank cross-engine.
    Q("ann_sq_topk",
      (s, d) => {
        val e = t(s, d, "embeddings")
        Quantization.sqTopK(e, probes(e), "vec_id", "embedding", k = 10)
          .withColumn("rank", col("rank").cast(LongType))
      },
      Some(sqOracle)),
    // PQ + exact re-rank: m=8 subspace codebooks (same deterministic
    // Lloyd trainer as IVF, same hash-ordered sample), per-subspace
    // argmin encode, ADC shortlist over the codes alone, exact-cosine
    // re-rank of shortlist rows only — the oracle re-runs all eight
    // k-means in SQL, so the hash covers train/encode/ADC/re-rank.
    Q("ann_pq_topk",
      (s, d) => {
        val e = t(s, d, "embeddings")
        Quantization.pqTopK(e, probes(e), "vec_id", "embedding", k = 10,
          m = PqM, nlist = PqNlist, shortlist = PqShortlist)
          .withColumn("rank", col("rank").cast(LongType))
      },
      Some(pqOracle)),
    // IVF × PQ — the Faiss IndexIVFPQ layout the component scaladocs
    // point at: IVF prunes candidates (nProbe of 16 cells), PQ
    // compresses the payload (candidates scored by ADC over m=8
    // codes), exact re-rank over the ≤100-row-per-probe shortlist.
    // Both quantizers are the already-pinned trainers, so the oracle
    // composes the ivf + pq re-derivations unchanged.
    Q("ann_ivfpq_topk",
      (s, d) => {
        val e = t(s, d, "embeddings")
        Quantization.ivfPqTopK(e, probes(e), "vec_id", "embedding",
          k = 10, m = PqM, nlist = PqNlist, ivfNlist = 16, nProbe = 4,
          shortlist = PqShortlist)
          .withColumn("rank", col("rank").cast(LongType))
      },
      Some(ivfPqOracle), bench = true),
    // Measured recall@10 of every approximate ANN method against the
    // exact brute-force truth — the before-you-trust-the-settings
    // table (the dedup_lsh_recall discipline applied to the ANN
    // family): each method's top-10 per probe left-joined to the
    // truth pairs, hits and per-mille recall in exact integers. The
    // oracle COMPOSES the four already-pinned ranked-list oracles as
    // parenthesized subqueries, so the eval's truth and found sets are
    // the very lists the individual hashes verify.
    Q("ann_recall_eval",
      (s, d) => {
        val e = t(s, d, "embeddings")
        val p = probes(e)
        val truth = Similarity.bruteForceTopKAgg(e, p, "vec_id",
          "embedding", k = 10).select("probe_id", "neighbor_id")
        def recallOf(name: String, found: DataFrame): DataFrame =
          truth.join(found.select(col("probe_id"), col("neighbor_id"))
              .withColumn("__hit", lit(1L)),
            Seq("probe_id", "neighbor_id"), "left")
            .agg(count(lit(1)).as("n_truth"),
              sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
            .select(lit(name).as("method"), col("n_truth"), col("n_hit"),
              expr("(1000 * n_hit) div n_truth").as("recall_permille"))
        recallOf("ivf", Similarity.ivfTopK(e, p, "vec_id", "embedding", k = 10))
          .unionByName(recallOf("lsh", Similarity.lshTopK(e, p, "vec_id",
            "embedding", k = 10, planes = LshPlanes, seed = LshSeed,
            planeGen = Similarity.lcgPlanes)))
          .unionByName(recallOf("pq", Quantization.pqTopK(e, p, "vec_id",
            "embedding", k = 10, m = PqM, nlist = PqNlist,
            shortlist = PqShortlist)))
          .unionByName(recallOf("ivfpq", Quantization.ivfPqTopK(e, p,
            "vec_id", "embedding", k = 10, m = PqM, nlist = PqNlist,
            ivfNlist = 16, nProbe = 4, shortlist = PqShortlist)))
          .unionByName(recallOf("sq", Quantization.sqTopK(e, p, "vec_id",
            "embedding", k = 10)))
          .orderBy("method")
      },
      Some(Seq("ivf" -> ivfOracle, "ivfpq" -> ivfPqOracle,
          "lsh" -> annLshOracle,
          "pq" -> pqOracle, "sq" -> sqOracle).map { case (m, osql) =>
        s"""SELECT '$m' AS method, CAST(COUNT(*) AS BIGINT) AS n_truth,
           |CAST(SUM(CASE WHEN f.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           |(1000 * CAST(SUM(CASE WHEN f.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)) // COUNT(*) AS recall_permille
           |FROM ($annBruteOracle) t LEFT JOIN ($osql) f
           |ON f.probe_id = t.probe_id AND f.neighbor_id = t.neighbor_id""".stripMargin.replace("\n", " ")
      }.mkString(" UNION ALL ") + " ORDER BY method")),
    // Matryoshka truncation recall: recall@10 of brute-force search
    // over each embedding PREFIX (8/16/32/64 of 64 components) vs the
    // full-dimension truth — the one-trained-vector-serve-any-prefix
    // deployment question ("how much fidelity does each 2× saving
    // cost on THIS corpus"), measured in exact per-mille integers.
    // The 64-row is a built-in harness audit: 1000‰ by construction.
    Q("emb_mrl_recall",
      (s, d) => {
        val e = t(s, d, "embeddings")
        Similarity.mrlRecallEval(e, probes(e), "vec_id", "embedding",
          dims = MrlDims, k = 10)
      },
      Some(mrlRecallOracle)),
    // Hybrid retrieval: BM25 top-50 (lexical) and exact-cosine top-50
    // for probe 0 (semantic) fused by reciprocal-rank fusion — only
    // RANKS enter the fused score, so no cross-list calibration is
    // needed (the production RAG default). Both retrievers are the
    // already-scale-shaped ops (bm25TopK's single aggregate pass,
    // bruteForceTopKAgg's map-side bounded heaps); the fusion joins
    // two ≤50-row lists. The lexical rank window is unpartitioned but
    // runs POST-limit (≤ RrfLexK rows by construction).
    Q("ann_hybrid_rrf",
      (s, d) => {
        val e = t(s, d, "embeddings")
        val lex = TextAnalysis.bm25TopK(t(s, d, "documents"), "doc_id",
            "text", Bm25Terms, RrfLexK)
          .withColumn("rank", row_number().over(
            Window.orderBy(col("score").desc, col("doc_id").asc))
            .cast(LongType))
          .select("doc_id", "rank")
        val sem = Similarity.bruteForceTopKAgg(e,
            e.filter(col("vec_id") === 0), "vec_id", "embedding",
            k = RrfSemK)
          .select(col("neighbor_id").as("doc_id"), col("rank"))
        Similarity.rrfFuse(Seq("lex" -> lex, "sem" -> sem), "doc_id",
          "rank", k0 = RrfK0, topK = RrfTopK)
      },
      Some(hybridRrfOracle), bench = true),
    // Banded LSH with LCG hyperplanes: the plane generation is exact
    // integer arithmetic both engines can reproduce, so bucket
    // assignment AND the exact-cosine verification are independently
    // re-computed by DuckDB — a full cross-engine check of the LSH
    // pipeline, not just of the final cosine math.
    Q("emb_cosine_pairs",
      (s, d) => Similarity.cosinePairs(t(s, d, "embeddings"), "vec_id", "embedding",
        threshold = 0.4, bands = CosBands, planesPerBand = CosPlanes,
        dim = CosDim, seed = 0L, maxBucket = CosMaxBucket,
        planeGen = Similarity.lcgPlanes).orderBy("a", "b"),
      Some(cosinePairsOracle)),
    // Thresholded k-NN graph over embeddings — the SemDeDup/D4
    // substrate surfaced as first-class output: per vector, its top-3
    // cosine neighbors among the θ≥0.4 banded-LSH near-pair set.
    // Candidates are LSH-bucketed (never all-pairs) and the per-node
    // top-k is the bounded-heap aggregate (map-side ≤ k rows per node
    // per partition), so both stages hold at corpus scale; isolated
    // vectors simply have no rows.
    Q("emb_knn_graph",
      (s, d) => Similarity.knnFromPairs(
        Similarity.cosinePairs(t(s, d, "embeddings"), "vec_id",
          "embedding", threshold = 0.4, bands = CosBands,
          planesPerBand = CosPlanes, dim = CosDim, seed = 0L,
          maxBucket = CosMaxBucket, planeGen = Similarity.lcgPlanes),
        k = 3).orderBy("vec_id", "rank"),
      Some(s"""WITH knp AS ($cosinePairsOracle),
             |kns AS (SELECT a AS src, b AS dst, cosine FROM knp UNION ALL SELECT b, a, cosine FROM knp),
             |knr AS (SELECT src, dst, cosine, row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst ASC) AS rank FROM kns)
             |SELECT src AS vec_id, CAST(rank AS BIGINT) AS rank, dst AS neighbor_id, cosine
             |FROM knr WHERE rank <= 3 ORDER BY vec_id, rank""".stripMargin.replace("\n", " "))),
    // PCA apply: gram → driver power iteration → map-only projection;
    // the oracle re-runs all 100 iterations in a recursive CTE and the
    // hash pins the projection doubles BIT-FOR-BIT cross-engine.
    Q("emb_pca_project",
      (s, d) => Similarity.pcaProject(t(s, d, "embeddings"), "vec_id", "embedding",
        dim = 64).orderBy("vec_id"),
      Some(pcaProjectOracle)),
    // two-component projection via Hotelling deflation: A₂ = A −
    // λ₁v₁v₁ᵀ on the driver, a second sequenced power iteration, both
    // folds in one scan — the oracle runs the SECOND recursive CTE on
    // the deflated matrix and the hash pins (pc1, pc2) bit-for-bit
    Q("emb_pca_project2",
      (s, d) => Similarity.pcaProject2(t(s, d, "embeddings"), "vec_id",
        "embedding", dim = 64).orderBy("vec_id"),
      Some(pcaProject2Oracle)),
    // the fit diagnostic: top eigenvalue, exact gram trace, and
    // variance-explained — the number that decides how many components
    // a reduction keeps; single row, cross-engine exact
    Q("emb_pca_variance",
      (s, d) => Similarity.pcaVariance(t(s, d, "embeddings"), "embedding",
        dim = 64),
      Some(pcaVarianceOracle)),
    // the two-eigenvalue extension: λ₂ from the deflated matrix (the
    // "is one component enough" answer λ₁ alone can't give) + the
    // cumulative (λ₁+λ₂)/trace — single row, both λ bit-exact
    Q("emb_pca_variance2",
      (s, d) => Similarity.pcaVariance2(t(s, d, "embeddings"), "embedding",
        dim = 64),
      Some(pcaVariance2Oracle)),
    // Standalone k-means fit diagnostics: per-cell size + exact-long
    // inertia (1e-6 grid) over the same trainer/assignment contract
    // IVF and SemDeDup embed — the oracle re-runs Lloyd's in SQL
    // (kmeansCellCtes), so the hash pins train + assign + scatter.
    Q("emb_kmeans_fit",
      (s, d) => Similarity.kmeansFitStats(t(s, d, "embeddings"), "vec_id",
        "embedding").orderBy("cell"),
      Some(kmeansFitOracle)),
    // Cluster-balanced sampling (uniform over semantic clusters, not
    // rows): perCell=8 per k-means cell by (xxhash64, id) order, via
    // the bounded-heap top-k aggregate at constant score — shuffle
    // ≤ perCell·nlist·partitions rows, never the corpus. The oracle
    // re-derives assignment AND the xxh64 ranking.
    Q("emb_cluster_sample",
      (s, d) => Similarity.clusterBalancedSample(t(s, d, "embeddings"),
        "vec_id", "embedding").orderBy("cell", "rk"),
      Some(clusterSampleOracle)),
    // Greedy k-center coreset (Gonzalez farthest-point, the diversity
    // dual of cluster-balanced sampling): k map-only corpus scans +
    // TakeOrdered(1) argmaxes, selection totally ordered by
    // (d DESC, id ASC) — the oracle unrolls the identical rounds and
    // the hash pins seed, picks, AND the coverage-radius curve.
    Q("emb_kcenter",
      (s, d) => Similarity.kCenterSelect(t(s, d, "embeddings"),
        "vec_id", "embedding", k = KcenterK).orderBy("sel_round"),
      Some(kcenterOracle)),
    // D4-style density pruning: degree in the 0.4-cosine graph, keep
    // iff ≤ 1 near-neighbor — the oracle wraps the full cosinePairs
    // re-derivation, so the hash pins LSH + degree count + decision.
    Q("emb_density_prune",
      (s, d) => Similarity.densityPrune(t(s, d, "embeddings"), "vec_id", "embedding",
        threshold = 0.4, maxDegree = 1L, bands = CosBands, planesPerBand = CosPlanes,
        dim = CosDim, seed = 0L, maxBucket = CosMaxBucket,
        planeGen = Similarity.lcgPlanes).orderBy("vec_id"),
      Some(densityPruneOracle)),
    // SemDeDup: k-means cells → within-cell cosine pairs → connected
    // components, one keeper per semantic cluster (oracle re-derives
    // the whole thing: Lloyd's in SQL + recursive-CTE closure).
    // SPARK_GRAFT_SEMDEDUP_NLIST is a SWEEP-ONLY override honoring the
    // nlist ∝ N contract (constant cell size) at larger scales — the
    // default (16, what the oracle pins) is never changed by Verify.
    Q("sem_dedup",
      (s, d) => Similarity.semanticDedup(t(s, d, "embeddings"), "vec_id",
        "embedding", threshold = 0.4,
        nlist = sys.env.get("SPARK_GRAFT_SEMDEDUP_NLIST").map { v =>
          v.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
            s"SPARK_GRAFT_SEMDEDUP_NLIST must be a positive integer, got '$v'"))
        }.getOrElse(16))
        .orderBy("vec_id"),
      Some(semDedupOracle)),
    // nProbe=2: each vector also files under its second-nearest cell,
    // recovering near-dup pairs split by a cell boundary (the recall
    // dial VERDICT r5 asked for) — oracle re-derives the multi-cell
    // assignment with the same distance ranking
    Q("sem_dedup_p2",
      (s, d) => Similarity.semanticDedup(t(s, d, "embeddings"), "vec_id",
        "embedding", threshold = 0.4, nProbe = 2).orderBy("vec_id"),
      Some(semDedupOracleAt(nProbe = 2))),
    // nProbe=4: the PRODUCTION point on the measured recall curve
    // (0.27 / 0.63 / 0.96 boundary-pair recall at nProbe 1/2/4 — see
    // README "Measured recall"); registered so the setting a real
    // pipeline would ship is itself hash-verified, not just measured.
    Q("sem_dedup_p4",
      (s, d) => Similarity.semanticDedup(t(s, d, "embeddings"), "vec_id",
        "embedding", threshold = 0.4, nProbe = 4).orderBy("vec_id"),
      Some(semDedupOracleAt(nProbe = 4))),
    // 64-bit SRP fingerprint of every embedding — the 8-byte/row angle
    // sketch a lake-scale embedding column carries alongside the
    // vectors. The oracle re-derives all 64 packed sign bits (same LCG
    // planes, same left-to-right dots, HUGEINT pack + signed wrap), so
    // a single hash row pins 640 × 64 plane signs cross-engine.
    Q("emb_srp_sketch",
      (s, d) => Similarity.srpSketch(t(s, d, "embeddings"), "vec_id", "embedding")
        .orderBy("vec_id"),
      Some(srpSketchOracle)),
    // Sketch calibration: SRP hamming vs exact cosine over the known
    // near-pair set (the emb_cosine_pairs rule) — the measurement that
    // turns a hamming radius into an angle threshold before anyone
    // trusts the 8-byte screen at scale. This corpus has no pairs
    // inside hamming 7 (checked: zero pairs at cosine ≥ 0.6), so the
    // radius-7 pair screen itself ([[Similarity.srpNearPairs]], MIH
    // candidates) is pinned by SimilaritySpec on planted near-dups —
    // an empty registered pair query would assert nothing.
    Q("emb_srp_hamming",
      (s, d) => {
        val pairs = Similarity.cosinePairs(t(s, d, "embeddings"), "vec_id", "embedding",
          threshold = 0.4, bands = CosBands, planesPerBand = CosPlanes,
          dim = CosDim, seed = 0L, maxBucket = CosMaxBucket,
          planeGen = Similarity.lcgPlanes)
        val sk = Similarity.srpSketch(t(s, d, "embeddings"), "vec_id", "embedding")
        pairs
          .join(sk.select(col("vec_id").as("a"), col("sketch").as("__sa")), "a")
          .join(sk.select(col("vec_id").as("b"), col("sketch").as("__sb")), "b")
          .select(col("a"), col("b"), col("cosine"),
            bit_count(col("__sa").bitwiseXOR(col("__sb"))).as("hamming"))
          .orderBy("a", "b")
      },
      Some(srpHammingOracle)),
  )

  /** DuckDB re-derivation of [[Similarity.srpSketch]]'s 64-bit pack:
    * `sk(vec_id, sketch)`. Sign bits sum in HUGEINT (bit 63 exceeds
    * BIGINT), then wrap to signed — the Xxh64Sql conversion idiom. */
  private def srpSketchCtes: String = {
    val terms = (0 until 64).map { j =>
      val w = lcgVecSql(300000L + j.toLong * 64, 64)
      val pow = if (j == 63) "9223372036854775808::HUGEINT"
        else s"${1L << j}::HUGEINT"
      s"(CASE WHEN list_dot_product(v, $w) >= 0 THEN $pow ELSE 0::HUGEINT END)"
    }
    s"""skv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |skh AS (SELECT vec_id, ${terms.mkString(" + ")} AS hu FROM skv),
       |sk AS (SELECT vec_id, (CASE WHEN hu >= 9223372036854775808 THEN hu - 18446744073709551616 ELSE hu END)::BIGINT AS sketch FROM skh)""".stripMargin
      .replace("\n", " ")
  }

  private def srpSketchOracle: String =
    s"WITH $srpSketchCtes SELECT vec_id, sketch FROM sk"

  private def srpHammingOracle: String =
    s"""WITH cp AS ($cosinePairsOracle), $srpSketchCtes
       |SELECT cp.a, cp.b, cp.cosine,
       |CAST(bit_count(xor(sa.sketch, sb.sketch)) AS INTEGER) AS hamming
       |FROM cp JOIN sk sa ON sa.vec_id = cp.a JOIN sk sb ON sb.vec_id = cp.b""".stripMargin
      .replace("\n", " ")

  // ---------------------------------------------------------------------
  // Event analytics (batch analogs of the streaming pipelines)
  // ---------------------------------------------------------------------
  /** Shared by `ev_sessionize` AND its skew twin `ev_sessionize_skew`:
    * the twin's output-identity claim ("same oracle verbatim") is true
    * by construction — an edit to the gap or tie-break here changes
    * BOTH registrations, so the twins cannot silently drift apart
    * while each keeps passing its own oracle. */
  private val sessionizeOracle =
    """SELECT user_id, session_idx, COUNT(*) AS n_events,
      |MAX(CAST(floor(epoch(ts)) AS BIGINT)) - MIN(CAST(floor(epoch(ts)) AS BIGINT)) AS duration_s
      |FROM (
      |  SELECT user_id, ts, event_id,
      |  CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT) ASC, event_id ASC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
      |  FROM (
      |    SELECT user_id, ts, event_id,
      |    CASE WHEN lag(ts, 1) OVER (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT) ASC, event_id ASC) IS NULL
      |         OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts, 1) OVER (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT) ASC, event_id ASC))) AS BIGINT) > 1800
      |         THEN 1 ELSE 0 END AS new_session
      |    FROM events))
      |GROUP BY user_id, session_idx""".stripMargin.replace("\n", " ")

  /** Shared by `ev_session_paths` AND `ev_session_paths_skew` — same
    * by-construction identity contract as [[sessionizeOracle]]. */
  private val sessionPathsOracle =
    """WITH spb AS (
      |  SELECT user_id, ts, event_id, event_type,
      |  CASE WHEN lag(ts, 1) OVER (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT) ASC, event_id ASC) IS NULL
      |       OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts, 1) OVER (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT) ASC, event_id ASC))) AS BIGINT) > 1800
      |       THEN 1 ELSE 0 END AS new_session FROM events),
      |sps AS (SELECT user_id, ts, event_id, event_type,
      |  SUM(new_session) OVER (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT) ASC, event_id ASC ROWS UNBOUNDED PRECEDING) AS session_idx FROM spb),
      |spp AS (SELECT user_id, session_idx, string_agg(event_type, '>' ORDER BY CAST(floor(epoch(ts)) AS BIGINT) ASC, event_id ASC) AS path
      |FROM sps GROUP BY user_id, session_idx)
      |SELECT path, COUNT(*) AS n_sessions FROM spp GROUP BY path
      |ORDER BY n_sessions DESC, path ASC LIMIT 20""".stripMargin.replace("\n", " ")

  private val HwPeriod = 24

  /** Holt–Winters oracle: list_reduce over flat (2+m)-double lists —
    * the holtForecast [x, 0] idiom widened to carry the seasonal
    * queue; slots rotate via list slicing ([l', b'] || acc[4:m+2] ||
    * [s']), every arithmetic expression textually mirrored from the
    * Spark fold so the doubles are bit-equal. */
  private val holtWintersOracle: String = {
    val m = HwPeriod
    val zeros = Seq.fill(m)("0.0::DOUBLE").mkString(", ")
    val lp = "(0.25::DOUBLE * (x[1] - acc[3]) + 0.75::DOUBLE * (acc[1] + acc[2]))"
    val bp = s"(0.25::DOUBLE * ($lp - acc[1]) + 0.75::DOUBLE * acc[2])"
    val sp = s"(0.25::DOUBLE * (x[1] - $lp) + 0.75::DOUBLE * acc[3])"
    s"""WITH hwm AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS bucket, COUNT(*) AS c FROM events GROUP BY 1, 2),
       |hwl AS (SELECT event_type, list(CAST(c AS DOUBLE) ORDER BY bucket ASC) AS l FROM hwm GROUP BY event_type),
       |hwf AS (SELECT event_type, CAST(len(l) AS BIGINT) AS n_buckets,
       |list_reduce(list_transform(l, x -> [x, 0.0::DOUBLE, $zeros]),
       |(acc, x) -> [$lp, $bp] || acc[4:${m + 2}] || [$sp]) AS st
       |FROM hwl)
       |SELECT event_type, n_buckets, st[1] AS level, st[2] AS trend, st[3] AS season_next,
       |st[1] + st[2] + st[3] AS forecast_next
       |FROM hwf ORDER BY event_type""".stripMargin.replace("\n", " ")
  }

  /** Rolling-origin backtest oracle: the forecastBacktest nested-fold
    * chain in DuckDB list lambdas — outer transform over origins,
    * inner prefix folds per model (EWMA scalar, Holt 2-list, HW
    * (2+m)-list via the same rotation), error sums prepended with the
    * same 0.0 the Spark fold initializes with. 1-based lists: Spark's
    * `__l[o]` (0-based actual) is `l[o+1]`, `slice(__l, 2, o−1)` is
    * `l[2:o]` — handled by list_reduce's first-element init. */
  private val forecastBacktestOracle: String = {
    val m = HwPeriod
    val zeros = Seq.fill(m)("0.0::DOUBLE").mkString(", ")
    val lp = "(0.25::DOUBLE * (x[1] - acc[3]) + 0.75::DOUBLE * (acc[1] + acc[2]))"
    val hlp = "(0.25::DOUBLE * x[1] + 0.75::DOUBLE * (acc[1] + acc[2]))"
    val ewmaF = "list_reduce(l[1:o], (acc, x) -> 0.25::DOUBLE * x + 0.75::DOUBLE * acc)"
    val holtF = "list_reduce(list_prepend(0.0::DOUBLE, " +
      "list_reduce(list_transform(l[1:o], x -> [x, 0.0::DOUBLE]), " +
      s"(acc, x) -> [$hlp, 0.25::DOUBLE * ($hlp - acc[1]) + 0.75::DOUBLE * acc[2]])[1:2]), " +
      "(s2, v) -> s2 + v)"
    val hwF = "list_reduce(list_prepend(0.0::DOUBLE, " +
      s"list_reduce(list_transform(l[1:o], x -> [x, 0.0::DOUBLE, $zeros]), " +
      s"(acc, x) -> [$lp, 0.25::DOUBLE * ($lp - acc[1]) + 0.75::DOUBLE * acc[2]] || acc[4:${m + 2}] || " +
      s"[0.25::DOUBLE * (x[1] - $lp) + 0.75::DOUBLE * acc[3]])[1:3]), " +
      "(s3, v) -> s3 + v)"
    def mae(f: String): String =
      "CASE WHEN len(os) > 0 THEN list_reduce(list_prepend(0.0::DOUBLE, " +
        s"list_transform(os, o -> abs(($f) - l[o+1]))), " +
        "(e1, e2) -> e1 + e2) / len(os) END"
    s"""WITH fbm AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS bucket, COUNT(*) AS c FROM events GROUP BY 1, 2),
       |fbl AS (SELECT event_type, list(CAST(c AS DOUBLE) ORDER BY bucket ASC) AS l FROM fbm GROUP BY event_type),
       |fbo AS (SELECT event_type, CAST(len(l) AS BIGINT) AS n_buckets, l,
       |CASE WHEN len(l) >= 2 THEN range(greatest(len(l) - 8, 1), len(l)) ELSE [] END AS os FROM fbl)
       |SELECT event_type, n_buckets, CAST(len(os) AS BIGINT) AS n_origins,
       |${mae(ewmaF)} AS mae_ewma, ${mae(holtF)} AS mae_holt, ${mae(hwF)} AS mae_hw
       |FROM fbo ORDER BY event_type""".stripMargin.replace("\n", " ")
  }

  // κ tuned on the committed corpus for a LIVE statistic (κ = 0 keeps
  // every key's S at 6–9 — pure residual noise; κ = 0.5 drains all but
  // one key to 0): at 0.25 the slack absorbs the noise floor and the
  // surviving spread (0.7–5.7) ranks the keys, with h = 4.0 alarming
  // exactly the one key whose unmodeled shift clears the band. Both
  // exactly-representable doubles — the bit-equal fold makes any
  // threshold deterministic, these make it informative.
  private val CsKappa = 0.25
  private val CsH = 4.0

  /** Seasonal-CUSUM oracle: the holtWintersOracle fold widened by two
    * slots (P, min P) — each step scores the one-step residual against
    * the PRE-update state, folds the prefix pair, then rotates the
    * seasonal queue; every expression textually mirrors the Spark
    * lambda so the doubles are bit-equal. */
  private val cusumSeasonalOracle: String = {
    val m = HwPeriod
    val zeros = Seq.fill(m)("0.0::DOUBLE").mkString(", ")
    val lp = "(0.25::DOUBLE * (x[1] - acc[3]) + 0.75::DOUBLE * (acc[1] + acc[2]))"
    val bp = s"(0.25::DOUBLE * ($lp - acc[1]) + 0.75::DOUBLE * acc[2])"
    val sp = s"(0.25::DOUBLE * (x[1] - $lp) + 0.75::DOUBLE * acc[3])"
    val term = s"((x[1] - (acc[1] + acc[2] + acc[3])) - $CsKappa::DOUBLE)"
    val pn = s"(acc[${m + 3}] + $term)"
    s"""WITH csm AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS bucket, COUNT(*) AS c FROM events GROUP BY 1, 2),
       |csl AS (SELECT event_type, list(CAST(c AS DOUBLE) ORDER BY bucket ASC) AS l FROM csm GROUP BY event_type),
       |csf AS (SELECT event_type, CAST(len(l) AS BIGINT) AS n_buckets,
       |list_reduce(list_transform(l, x -> [x, 0.0::DOUBLE, $zeros, 0.0::DOUBLE, 0.0::DOUBLE]),
       |(acc, x) -> [$lp, $bp] || acc[4:${m + 2}] || [$sp, $pn, least(acc[${m + 4}], $pn)]) AS st
       |FROM csl)
       |SELECT event_type, n_buckets, st[${m + 3}] AS p_resid,
       |st[${m + 3}] - least(0.0::DOUBLE, st[${m + 4}]) AS cusum_resid,
       |(st[${m + 3}] - least(0.0::DOUBLE, st[${m + 4}]) > $CsH::DOUBLE) AS alarm
       |FROM csf ORDER BY event_type""".stripMargin.replace("\n", " ")
  }

  private val eventQueries = Vector(
    // Tumbling 5-minute window: bucket emitted as epoch seconds (BIGINT)
    // to dodge timestamp-timezone representation skew between engines.
    Q("ev_window_tumbling",
      (s, d) => events(s, d)
        .groupBy((col("ts_s") - pmod(col("ts_s"), lit(300L))).as("bucket"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(D4)).cast(DoubleType).as("sum_value")),
      Some("""SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 300) * 300 AS bucket, event_type,
             |COUNT(*) AS n,
             |CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY 1, 2""".stripMargin.replace("\n", " ")),
      bench = true),
    // Sessionization with a 30-minute inactivity gap — the classic
    // stateful-stream op, expressed relationally (lag + running sum).
    Q("ev_sessionize",
      (s, d) => {
        val byUser = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_s").asc, col("event_id").asc)
        val e = events(s, d)
          .withColumn("prev_ts", lag(col("ts_s"), 1).over(byUser))
          .withColumn("new_session",
            when(col("prev_ts").isNull || col("ts_s") - col("prev_ts") > 1800, 1L)
              .otherwise(0L))
          .withColumn("session_idx",
            sum(col("new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
        e.groupBy("user_id", "session_idx")
          .agg(count(lit(1)).as("n_events"),
            (max(col("ts_s")) - min(col("ts_s"))).as("duration_s"))
      },
      Some(sessionizeOracle),
      bench = true),
    // The SKEW-RESISTANT twin of ev_sessionize: identical output (the
    // two registrations share the ONE sessionizeOracle val — same
    // rows, schema, hash by construction), different shuffle shape. The single per-user window above
    // puts a hot user's every event on one task (measured 1.9× under
    // the round-14 zipf sweep); Skew.sessionizeTwoLevel sessionizes
    // within (user, hour bucket) first — spreading the event-level
    // sort — then merges runs across bucket boundaries with the same
    // gap test over one row PER LOCAL SESSION. See the operator
    // scaladoc for the soundness argument and the adversarial bound.
    Q("ev_sessionize_skew",
      (s, d) => operators.Skew.sessionizeTwoLevel(
        events(s, d), "user_id", "ts_s", "event_id",
        gapSeconds = 1800L, bucketSeconds = 3600L),
      Some(sessionizeOracle)),
    Q("ev_top_users",
      (s, d) => events(s, d).groupBy("user_id")
        .agg(sum(col("value").cast(D4)).cast(DoubleType).as("total_value"),
          count(lit(1)).as("n_events"))
        .orderBy(col("total_value").desc, col("user_id").asc).limit(20),
      Some("""SELECT user_id, CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value, COUNT(*) AS n_events
             |FROM events GROUP BY user_id ORDER BY total_value DESC, user_id ASC LIMIT 20""".stripMargin.replace("\n", " "))),
    // Interval OVERLAP join (the two-sided TemporalJoins sibling):
    // concurrent in-flight shipments of the same part — lineitem
    // windows [ship_day, ship_day + 1 + (orderkey+linenumber) % 14)
    // on the integer day grid (the synthetic lineitem carries no
    // receiptdate; transit is proxied deterministically so both
    // engines derive the identical interval), self-joined on overlap
    // with (orderkey, linenumber) pair ordering. Spark-side the join
    // is slot-bucketed (slot 16 ≥ max transit ⇒ ≤2 buckets/row) with
    // the canonical-bucket exactly-once trick — never a per-key cross
    // product; the oracle states the same pairs as the plain
    // quadratic inequality join DuckDB can afford at sf0.01.
    Q("q_inflight_overlap",
      (s, d) => {
        val li = t(s, d, "lineitem").select(
          col("l_partkey").as("part_id"),
          col("l_orderkey"), col("l_linenumber"),
          datediff(col("l_shipdate").cast("date"),
            lit("1970-01-01").cast("date")).cast("long").as("s_day"))
          .withColumn("e_day", col("s_day") + 1L +
            (col("l_orderkey") + col("l_linenumber")) % 14)
        val a = li.select(col("part_id"),
          col("l_orderkey").as("a_orderkey"),
          col("l_linenumber").as("a_linenumber"),
          col("s_day").as("a_s"), col("e_day").as("a_e"))
        val b = li.select(col("part_id"),
          col("l_orderkey").as("b_orderkey"),
          col("l_linenumber").as("b_linenumber"),
          col("s_day").as("b_s"), col("e_day").as("b_e"))
        TemporalJoins.intervalOverlapJoin(a, b, Seq("part_id"),
            "a_s", "a_e", "b_s", "b_e", slot = 16L)
          .filter(col("a_orderkey") < col("b_orderkey") ||
            (col("a_orderkey") === col("b_orderkey") &&
              col("a_linenumber") < col("b_linenumber")))
          .select(col("part_id"), col("a_orderkey"), col("a_linenumber"),
            col("b_orderkey"), col("b_linenumber"),
            (least(col("a_e"), col("b_e")) -
              greatest(col("a_s"), col("b_s"))).as("overlap_days"))
          .orderBy("part_id", "a_orderkey", "a_linenumber",
            "b_orderkey", "b_linenumber")
      },
      Some("""WITH ivl AS (SELECT l_partkey AS part_id, l_orderkey, l_linenumber,
             |CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS s_day,
             |CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) + 1 + (l_orderkey + l_linenumber) % 14 AS e_day
             |FROM lineitem)
             |SELECT a.part_id AS part_id, a.l_orderkey AS a_orderkey, a.l_linenumber AS a_linenumber,
             |b.l_orderkey AS b_orderkey, b.l_linenumber AS b_linenumber,
             |LEAST(a.e_day, b.e_day) - GREATEST(a.s_day, b.s_day) AS overlap_days
             |FROM ivl a JOIN ivl b ON a.part_id = b.part_id
             |AND (a.l_orderkey < b.l_orderkey OR (a.l_orderkey = b.l_orderkey AND a.l_linenumber < b.l_linenumber))
             |AND a.s_day < b.e_day AND b.s_day < a.e_day
             |ORDER BY part_id, a_orderkey, a_linenumber, b_orderkey, b_linenumber""".stripMargin.replace("\n", " "))),
    // As-of join (union+window, one shuffle — see TemporalJoins): each
    // purchase gets the user's latest click at-or-before it. Oracle is
    // DuckDB's native ASOF LEFT JOIN — an independent implementation of
    // the same semantics. Timestamps compared at integer microseconds
    // (EventsTime.epochMicros), the native resolution of both engines.
    Q("ev_asof_click",
      (s, d) => {
        val e = sources.EventsTime.withEpochMicros(events(s, d))
        val purchases = e.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id"),
            col("ts_us").as("purchase_ts"))
        val clicks = e.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts_us").as("click_ts"),
            col("event_id").as("click_id"))
        TemporalJoins.asofJoin(purchases, clicks, Seq("user_id"),
            "purchase_ts", "click_ts", Seq("click_id", "click_ts"))
          .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
            col("asof_click_id").as("click_id"),
            col("asof_click_ts").as("click_ts"))
      },
      Some("""SELECT l.event_id AS purchase_id, l.user_id, epoch_us(l.ts) AS purchase_ts,
             |r.event_id AS click_id, epoch_us(r.ts) AS click_ts
             |FROM (SELECT * FROM events WHERE event_type = 'purchase') l
             |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
             |ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin.replace("\n", " ")),
      bench = true),
    // Multi-touch (U-shaped) attribution: every click in the 24-hour
    // lookback before a purchase gets position-based credit in EXACT
    // integer basis points — 100% to a lone click, 50/50 for two,
    // otherwise 40/40 to first/last with the middle 20% integer-split
    // (remainder to the first click, so credits sum to exactly 10000
    // per purchase). Pair generation reuses the slot-bucketed
    // boundedRangeJoin (constant replication, no inequality-join
    // blow-up); the ranking window partitions by purchase — fan-out
    // bounded by clicks-per-user-per-day (the 24 h lookback), not
    // corpus size.
    Q("ev_attribution",
      (s, d) => {
        val e = sources.EventsTime.withEpochMicros(events(s, d))
        val purchases = e.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id"),
            col("ts_us").as("purchase_ts"))
        val clicks = e.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts_us").as("click_ts"),
            col("event_id").as("click_id"))
        val pairs = TemporalJoins.boundedRangeJoin(purchases, clicks,
            Seq("user_id"), "purchase_ts", "click_ts",
            lo = -86400L * 1000000, hi = 0, payload = Seq("click_id"))
          .withColumnRenamed("__rts", "click_ts")
        val w = Window.partitionBy("purchase_id")
        val n = col("__n"); val pos = col("pos")
        pairs
          .withColumn("pos",
            row_number().over(w.orderBy(col("click_ts").asc, col("click_id").asc)))
          .withColumn("__n", count(lit(1)).over(w))
          .select(col("purchase_id"), col("click_id"),
            col("pos").cast(LongType).as("pos"),
            when(n === 1, 10000L)
              .when(n === 2, 5000L)
              .when(pos === 1,
                lit(4000L) + (lit(2000L) - (n - 2) * expr("2000 DIV (__n - 2)")))
              .when(pos === n, 4000L)
              .otherwise(expr("2000 DIV (__n - 2)")).as("credit_bps"))
      },
      Some("""WITH atp AS (SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS pts FROM events WHERE event_type = 'purchase'),
             |atc AS (SELECT event_id AS click_id, user_id, epoch_us(ts) AS cts FROM events WHERE event_type = 'click'),
             |atj AS (SELECT p.purchase_id, c.click_id, c.cts FROM atp p JOIN atc c
             |ON p.user_id = c.user_id AND c.cts >= p.pts - 86400000000 AND c.cts < p.pts),
             |atw AS (SELECT purchase_id, click_id,
             |ROW_NUMBER() OVER (PARTITION BY purchase_id ORDER BY cts ASC, click_id ASC) AS pos,
             |COUNT(*) OVER (PARTITION BY purchase_id) AS n FROM atj)
             |SELECT purchase_id, click_id, CAST(pos AS BIGINT) AS pos,
             |CAST(CASE WHEN n = 1 THEN 10000 WHEN n = 2 THEN 5000
             |WHEN pos = 1 THEN 4000 + (2000 - (n - 2) * (2000 // (n - 2)))
             |WHEN pos = n THEN 4000
             |ELSE 2000 // (n - 2) END AS BIGINT) AS credit_bps
             |FROM atw""".stripMargin.replace("\n", " "))),
    // Strict-order windowed funnel: users reaching each step of
    // view → click → purchase, where step k+1 must happen strictly
    // AFTER the user's first qualifying step-k time and within 24 h of
    // it (the standard sequential-funnel definition — a click before
    // any view does not count, a purchase a week later does not
    // convert). Each step is a user-level min-aggregate joined to the
    // previous step's frame: per-step frames shrink to user cardinality
    // immediately and are PERSISTED (each is consumed twice — by the
    // next step's join and by its own count branch; without the persist
    // the union plan re-derives every upstream subtree and the corpus
    // is scanned six times instead of one type-pruned scan per step).
    Q("ev_funnel_steps",
      (s, d) => {
        val e = sources.EventsTime.withEpochMicros(events(s, d))
          .select(col("user_id"), col("event_type"), col("ts_us"))
        val v = Caching.persist(e.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min("ts_us").as("t1")))
        val c = Caching.persist(
          e.filter(col("event_type") === "click").join(v, "user_id")
            .filter(col("ts_us") > col("t1") &&
              col("ts_us") <= col("t1") + lit(86400000000L))
            .groupBy("user_id").agg(min("ts_us").as("t2")))
        val p = e.filter(col("event_type") === "purchase").join(c, "user_id")
          .filter(col("ts_us") > col("t2") &&
            col("ts_us") <= col("t2") + lit(86400000000L))
          .groupBy("user_id").agg(min("ts_us").as("t3"))
        def cnt(df: DataFrame, i: Long, name: String) =
          df.agg(count(lit(1)).as("n_users"))
            .select(lit(i).as("step"), lit(name).as("step_name"),
              col("n_users"))
        cnt(v, 1L, "view").unionByName(cnt(c, 2L, "click"))
          .unionByName(cnt(p, 3L, "purchase"))
      },
      Some("""WITH fe AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
             |f1 AS (SELECT user_id, MIN(t) AS t1 FROM fe WHERE event_type = 'view' GROUP BY user_id),
             |f2 AS (SELECT e.user_id, MIN(e.t) AS t2 FROM fe e JOIN f1 USING (user_id)
             |WHERE e.event_type = 'click' AND e.t > t1 AND e.t <= t1 + 86400000000 GROUP BY e.user_id),
             |f3 AS (SELECT e.user_id, MIN(e.t) AS t3 FROM fe e JOIN f2 USING (user_id)
             |WHERE e.event_type = 'purchase' AND e.t > t2 AND e.t <= t2 + 86400000000 GROUP BY e.user_id)
             |SELECT CAST(1 AS BIGINT) AS step, 'view' AS step_name, (SELECT COUNT(*) FROM f1) AS n_users
             |UNION ALL SELECT 2, 'click', (SELECT COUNT(*) FROM f2)
             |UNION ALL SELECT 3, 'purchase', (SELECT COUNT(*) FROM f3)""".stripMargin.replace("\n", " "))),
    // Bounded range join (slot-bucketed equi-join, constant replication
    // — see TemporalJoins): events of the same user in the 5 minutes
    // strictly before each event.
    Q("ev_range_prior5m",
      (s, d) => {
        val e = events(s, d).select("event_id", "user_id", "ts_s")
        val pairs = TemporalJoins.boundedRangeJoin(
          e, e.select("user_id", "ts_s"), Seq("user_id"),
          "ts_s", "ts_s", lo = -300, hi = 0)
        e.select("event_id")
          .join(pairs.groupBy("event_id").agg(count(lit(1)).as("n_prior_5m")),
            Seq("event_id"), "left")
          .na.fill(0, Seq("n_prior_5m"))
      },
      Some("""SELECT a.event_id, COUNT(b.ts) AS n_prior_5m
             |FROM events a LEFT JOIN events b ON a.user_id = b.user_id
             |AND CAST(floor(epoch(b.ts)) AS BIGINT) >= CAST(floor(epoch(a.ts)) AS BIGINT) - 300
             |AND CAST(floor(epoch(b.ts)) AS BIGINT) < CAST(floor(epoch(a.ts)) AS BIGINT)
             |GROUP BY a.event_id""".stripMargin.replace("\n", " "))),
    // Batch twin of the stream-stream interval join
    // (EventStreams.purchasesWithRecentClicks): each purchase paired
    // with the same user's clicks in the strictly-preceding 10 minutes,
    // at µs precision — the SAME window arithmetic the watermarked
    // streaming join runs (EventStreamsSpec pins stream ≡ this shape;
    // this row pins the shape itself against DuckDB). The click id
    // rides through boundedRangeJoin's right payload, so no join-back.
    Q("ev_stream_join",
      (s, d) => {
        val e = sources.EventsTime.withEpochMicros(events(s, d))
        val purchases = e.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id"),
            col("ts_us").as("purchase_ts"))
        val clicks = e.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts_us").as("click_ts"),
            col("event_id").as("click_id"))
        TemporalJoins.boundedRangeJoin(purchases, clicks, Seq("user_id"),
            "purchase_ts", "click_ts", lo = -600L * 1000000L, hi = 0L,
            payload = Seq("click_id"))
          .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
            col("click_id"), col("__rts").as("click_ts"))
      },
      Some("""SELECT p.event_id AS purchase_id, p.user_id, epoch_us(p.ts) AS purchase_ts,
             |c.event_id AS click_id, epoch_us(c.ts) AS click_ts
             |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
             |JOIN (SELECT * FROM events WHERE event_type = 'click') c
             |ON p.user_id = c.user_id
             |AND epoch_us(c.ts) >= epoch_us(p.ts) - 600000000
             |AND epoch_us(c.ts) < epoch_us(p.ts)""".stripMargin.replace("\n", " "))),
    // Batch twin of the LEFT-OUTER stream-stream join
    // (EventStreams.purchasesWithRecentClicksOuter): every purchase
    // survives — matched ones as pairs, matchless ones with null click
    // columns (what the stream emits once the watermark proves the
    // verdict). Outer completion = purchases left-joined back onto the
    // inner boundedRangeJoin result on the unique purchase id.
    Q("ev_stream_join_outer",
      (s, d) => {
        val e = sources.EventsTime.withEpochMicros(events(s, d))
        val purchases = e.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id"),
            col("ts_us").as("purchase_ts"))
        val clicks = e.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts_us").as("click_ts"),
            col("event_id").as("click_id"))
        val pairs = TemporalJoins.boundedRangeJoin(purchases, clicks,
            Seq("user_id"), "purchase_ts", "click_ts",
            lo = -600L * 1000000L, hi = 0L, payload = Seq("click_id"))
          .select(col("purchase_id"), col("click_id"),
            col("__rts").as("click_ts"))
        purchases.join(pairs, Seq("purchase_id"), "left")
          .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
            col("click_id"), col("click_ts"))
      },
      Some("""SELECT p.event_id AS purchase_id, p.user_id, epoch_us(p.ts) AS purchase_ts,
             |c.event_id AS click_id, epoch_us(c.ts) AS click_ts
             |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
             |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
             |ON p.user_id = c.user_id
             |AND epoch_us(c.ts) >= epoch_us(p.ts) - 600000000
             |AND epoch_us(c.ts) < epoch_us(p.ts)""".stripMargin.replace("\n", " "))),
    // Batch analog of the stream-static enrichment join — runs the
    // ACTUAL EventStreams.enrichEvents (broadcast left-outer on the
    // dimension key), pinning the enrichment arithmetic cross-engine;
    // the streaming variant is the same plan minus the microbatch loop.
    Q("ev_enriched",
      (s, d) => graft.streaming.EventStreams.enrichEvents(
          events(s, d).select("event_id", "user_id", "event_type"),
          t(s, d, "customer").select(col("c_custkey").as("user_id"),
            col("c_name"), col("c_mktsegment")),
          "user_id")
        .select("event_id", "user_id", "event_type", "c_name", "c_mktsegment"),
      Some("""SELECT e.event_id, e.user_id, e.event_type, c.c_name, c.c_mktsegment
             |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey""".stripMargin.replace("\n", " "))),
    // Conversion funnel: per user, first click → first purchase AT OR
    // AFTER it, with time-to-convert. Two partial-aggregating shuffles
    // on user_id + one equi-join — no window over the event log, so at
    // 100 TB the shuffle carries one row per (user, stage), not the log.
    Q("ev_funnel",
      (s, d) => {
        val e = events(s, d)
        val clicks = e.filter(col("event_type") === "click")
          .groupBy("user_id").agg(min(col("ts_s")).as("first_click"))
        val purch = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts_s"))
          .join(clicks, Seq("user_id"))
          .filter(col("ts_s") >= col("first_click"))
          .groupBy("user_id").agg(min(col("ts_s")).as("first_purchase"))
        clicks.join(purch, Seq("user_id"), "left")
          .withColumn("secs_to_convert",
            col("first_purchase") - col("first_click"))
      },
      Some("""WITH c AS (SELECT user_id, MIN(CAST(floor(epoch(ts)) AS BIGINT)) AS first_click
             |FROM events WHERE event_type = 'click' GROUP BY user_id),
             |p AS (SELECT e.user_id, MIN(CAST(floor(epoch(e.ts)) AS BIGINT)) AS first_purchase
             |FROM events e JOIN c ON e.user_id = c.user_id
             |WHERE e.event_type = 'purchase' AND CAST(floor(epoch(e.ts)) AS BIGINT) >= c.first_click
             |GROUP BY e.user_id)
             |SELECT c.user_id, c.first_click, p.first_purchase,
             |p.first_purchase - c.first_click AS secs_to_convert
             |FROM c LEFT JOIN p ON c.user_id = p.user_id""".stripMargin.replace("\n", " "))),
    Q("ev_type_share",
      (s, d) => {
        val e = events(s, d).groupBy("event_type").agg(count(lit(1)).as("n"))
        e.withColumn("share", col("n").cast(DoubleType) /
          sum(col("n")).over(Window.partitionBy()))
      },
      Some("""SELECT event_type, COUNT(*) AS n,
             |CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER () AS share
             |FROM events GROUP BY event_type""".stripMargin.replace("\n", " "))),
    // Per-day event-type CONCENTRATION (Herfindahl–Hirschman index):
    // HHI = Σ share² — the diversity-collapse monitor the drift family
    // (chi²/KS/TV/W1 measure SHIFT between windows) does not cover: a
    // day whose traffic collapses onto one type alarms here even if
    // yesterday looked identical. Deliberately RATIONAL (unlike
    // entropy, whose log has no cross-engine bit contract — the
    // BM25-idf lesson): hhi_micro = (10⁶·Σc²) div N², exact integers
    // end to end. Products widen to DECIMAL(38,0) before multiplying
    // (the w1Drift overflow lesson: a busy day's N² wraps a long past
    // ~3e9 events/day) and Spark's integral divide on decimals
    // returns the same floor long DuckDB's HUGEINT // yields. Two
    // partial-agg shuffles — (day, type) counts, then per-day rollup.
    Q("ev_type_hhi",
      (s, d) => {
        val dec = org.apache.spark.sql.types.DecimalType(38, 0)
        val c = events(s, d)
          .select(graft.functions.ExactMath.floorDiv(col("ts_s"), 86400L)
            .as("day"), col("event_type"))
          .groupBy("day", "event_type").agg(count(lit(1)).as("__c"))
        c.groupBy("day").agg(
            sum(col("__c")).as("n_events"),
            sum(col("__c").cast(dec) * col("__c").cast(dec)).as("__sq"))
          .select(col("day"), col("n_events"),
            call_function("div",
              lit(1000000L).cast(dec) * col("__sq").cast(dec),
              col("n_events").cast(dec) * col("n_events").cast(dec))
              .as("hhi_micro"))
          .orderBy("day")
      },
      Some("""SELECT CAST(day AS BIGINT) AS day, CAST(n_events AS BIGINT) AS n_events,
             |CAST((1000000::HUGEINT * sum_sq) // (CAST(n_events AS HUGEINT) * CAST(n_events AS HUGEINT)) AS BIGINT) AS hhi_micro
             |FROM (SELECT day, SUM(c) AS n_events, SUM(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS sum_sq FROM (
             |SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day, event_type, COUNT(*) AS c FROM events GROUP BY 1, 2) GROUP BY day)
             |ORDER BY day""".stripMargin.replace("\n", " "))),
    // At-least-once delivery collapse: deterministic first event per
    // (user, type). Spark side uses min_by over a (ts, event_id) struct
    // ordering — a PARTIAL-AGGREGABLE one-shuffle plan (map-side
    // combine keeps one candidate row per key per partition; a
    // row_number window would instead sort every key group). The
    // oracle states the same semantics as QUALIFY-style SQL. Output ts
    // is second-granularity (ts_s, the ev_ oracle convention): DuckDB's
    // parquet reader truncates the ns timestamps to µs, so raw ns can't
    // cross the oracle — ROW SELECTION is still exact because the
    // full-ns Spark ordering and the µs DuckDB ordering agree (no two
    // events of a (user, type) share a microsecond; event_id breaks
    // any remaining tie identically in both engines).
    Q("ev_dedup",
      (s, d) => {
        val ord = struct(col("ts"), col("event_id"))
        events(s, d).groupBy("user_id", "event_type").agg(
          min_by(col("event_id"), ord).as("event_id"),
          min_by(col("ts_s"), ord).as("ts_s"),
          min_by(col("value"), ord).as("value"),
          min_by(col("props"), ord).as("props"))
      },
      Some("""SELECT user_id, event_type, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, value, props
             |FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts ASC, event_id ASC) AS rn FROM events)
             |WHERE rn = 1""".stripMargin.replace("\n", " "))),
    // Time-based RANGE frame: trailing-5-minute average per user — the
    // frame is defined by the ts VALUE (all peers included), so the
    // row set is deterministic under ties, and the decimal window sum
    // keeps the double bit-stable at any partitioning.
    Q("ev_trailing_avg",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts_s"))
          .rangeBetween(-300L, 0L)
        events(s, d).select(col("event_id"), col("user_id"), col("ts_s"),
          (sum(col("value").cast(D4)).over(w).cast(DoubleType) /
            count(lit(1)).over(w)).as("avg_5m"))
      },
      Some("""SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
             |CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) / COUNT(*) OVER w AS avg_5m
             |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
             |RANGE BETWEEN 300 PRECEDING AND CURRENT ROW)""".stripMargin.replace("\n", " "))),
    // Event-type co-occurrence (market-basket over the per-user type
    // set): distinct (user, type) first — the pair join then fans out
    // ≤ |types|² per user, a bounded constant, never the raw log; one
    // shuffle on user_id, one on the pair key.
    Q("ev_cooccurrence",
      (s, d) => {
        val dist = events(s, d).select(col("user_id"), col("event_type")).distinct()
        dist.toDF("user_id", "ta").join(dist.toDF("user_id", "tb"), Seq("user_id"))
          .filter(col("ta") < col("tb"))
          .groupBy("ta", "tb").agg(count(lit(1)).as("n_users"))
      },
      Some("""WITH d AS (SELECT DISTINCT user_id, event_type FROM events)
             |SELECT a.event_type AS ta, b.event_type AS tb, COUNT(*) AS n_users
             |FROM d a JOIN d b ON a.user_id = b.user_id AND a.event_type < b.event_type
             |GROUP BY 1, 2""".stripMargin.replace("\n", " "))),
    // Batch twin of the streaming trendingTopK (finalize-on-watermark
    // flatMapGroupsWithState): per tumbling window, the k most frequent
    // types — count DESC, type ASC, exactly the stream's deterministic
    // ranking. The rank window runs on the POST-AGG (window, type)
    // frame, never the log.
    Q("ev_trending_topk",
      (s, d) => {
        val counts = events(s, d)
          .groupBy((col("ts_s") - pmod(col("ts_s"), lit(300L)))
            .as("window_start"), col("event_type"))
          .agg(count(lit(1)).as("n"))
        counts
          .withColumn("rank", row_number().over(
            Window.partitionBy(col("window_start"))
              .orderBy(col("n").desc, col("event_type").asc)).cast(LongType))
          .filter(col("rank") <= 3)
      },
      Some("""SELECT window_start, event_type, n, "rank" FROM (
             |SELECT window_start, event_type, n,
             |row_number() OVER (PARTITION BY window_start ORDER BY n DESC, event_type ASC) AS "rank" FROM (
             |SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 300) * 300 AS window_start, event_type, COUNT(*) AS n
             |FROM events GROUP BY 1, 2)) WHERE "rank" <= 3""".stripMargin.replace("\n", " "))),
    // Spark's NATIVE session_window operator, cross-checked against an
    // independent gap-session derivation. Boundary rule (empirically
    // pinned, batch AND streaming agree): an event at EXACTLY
    // prev + gap still MERGES — Spark merges adjacent windows
    // (next.start <= prev.end), so a new session starts only when the
    // gap is STRICTLY GREATER than the duration. The oracle mirrors
    // that strict-> rule; the corpus has no exact-gap pairs
    // (verified), so the rule is additionally pinned by the
    // EventStreamsSpec boundary fixture.
    Q("ev_session_native",
      (s, d) => events(s, d)
        .withColumn("et", timestamp_seconds(col("ts_s")))
        .groupBy(col("user_id"),
          session_window(col("et"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          col("sw.start").cast(LongType).as("session_start"),
          // window end = last event + gap; recover the last-event time
          (col("sw.end").cast(LongType) - 1800L).as("session_end"),
          col("n_events")),
      Some("""SELECT user_id, MIN(ts_s) AS session_start, MAX(ts_s) AS session_end, COUNT(*) AS n_events FROM (
             |  SELECT user_id, ts_s, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_s ASC, event_id ASC ROWS UNBOUNDED PRECEDING) AS session_idx FROM (
             |    SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
             |    CASE WHEN lag(CAST(floor(epoch(ts)) AS BIGINT), 1) OVER (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT) ASC, event_id ASC) IS NULL
             |         OR CAST(floor(epoch(ts)) AS BIGINT) - lag(CAST(floor(epoch(ts)) AS BIGINT), 1) OVER (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT) ASC, event_id ASC) > 1800
             |         THEN 1 ELSE 0 END AS new_session FROM events))
             |GROUP BY user_id, session_idx""".stripMargin.replace("\n", " "))),
    // The session boundary rule with TEETH: seed, per user, a clone
    // event at EXACTLY first_event + gap. Under the true rule (merge at
    // exactly the gap; split strictly beyond) unbridged clones extend
    // the first session; under the plausible-but-wrong ">= splits"
    // reading every unbridged clone starts its own session — so the
    // hash genuinely distinguishes the two, which the organic corpus
    // cannot (it has no exact-gap pairs; verified). Keeps the native
    // operator's documented semantics oracle-verified, not just
    // spec-pinned on a fixture.
    Q("ev_session_boundary",
      (s, d) => {
        val e = events(s, d).select("user_id", "ts_s")
        val clones = e.groupBy("user_id")
          .agg((min(col("ts_s")) + 1800L).as("ts_s"))
        e.unionByName(clones)
          .withColumn("et", timestamp_seconds(col("ts_s")))
          .groupBy(col("user_id"),
            session_window(col("et"), "30 minutes").as("sw"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"),
            col("sw.start").cast(LongType).as("session_start"),
            (col("sw.end").cast(LongType) - 1800L).as("session_end"),
            col("n_events"))
      },
      Some("""WITH sbe AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s FROM events),
             |sbc AS (SELECT user_id, MIN(ts_s) + 1800 AS ts_s FROM sbe GROUP BY user_id),
             |sba AS (SELECT * FROM sbe UNION ALL SELECT * FROM sbc)
             |SELECT user_id, MIN(ts_s) AS session_start, MAX(ts_s) AS session_end, COUNT(*) AS n_events FROM (
             |  SELECT user_id, ts_s, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_s ASC ROWS UNBOUNDED PRECEDING) AS session_idx FROM (
             |    SELECT user_id, ts_s,
             |    CASE WHEN lag(ts_s, 1) OVER (PARTITION BY user_id ORDER BY ts_s ASC) IS NULL
             |         OR ts_s - lag(ts_s, 1) OVER (PARTITION BY user_id ORDER BY ts_s ASC) > 1800
             |         THEN 1 ELSE 0 END AS new_session FROM sba))
             |GROUP BY user_id, session_idx""".stripMargin.replace("\n", " "))),
    // Cohort retention matrix: cohort = a user's first active day; one
    // cell per (cohort, day offset) with the share of the cohort still
    // active. Shape at 100 TB: distinct (user, day) and min-day both
    // partial-agg on user_id, the retention rollup shuffles one row per
    // active (user, day) — never the raw log. Each user is distinct per
    // day, so the rollup is count(*), not a count-distinct; and since
    // every user is active on their own cohort day, cohort_size is the
    // offset-0 cell — recovered by a window over the POST-AGG matrix
    // (one row per cell) instead of a third events scan + join.
    Q("ev_cohort_retention",
      (s, d) => {
        val e = events(s, d)
          .select(col("user_id"), expr("ts_s DIV 86400").as("day"))
        val active = e.distinct()
        val cohort = e.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
        val cells = active.join(cohort, Seq("user_id"))
          .groupBy(col("cohort_day"),
            (col("day") - col("cohort_day")).as("day_offset"))
          .agg(count(lit(1)).as("n_active"))
        cells
          .withColumn("cohort_size",
            max(when(col("day_offset") === 0, col("n_active")))
              .over(Window.partitionBy(col("cohort_day"))))
          .withColumn("retention",
            col("n_active").cast(DoubleType) / col("cohort_size"))
          .select("cohort_day", "day_offset", "n_active", "cohort_size",
            "retention")
      },
      Some("""WITH ce AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day FROM events),
             |ca AS (SELECT DISTINCT user_id, day FROM ce),
             |cc AS (SELECT user_id, MIN(day) AS cohort_day FROM ce GROUP BY user_id),
             |cr AS (SELECT cc.cohort_day, ca.day - cc.cohort_day AS day_offset, COUNT(*) AS n_active
             |FROM ca JOIN cc ON ca.user_id = cc.user_id GROUP BY 1, 2),
             |cs AS (SELECT cohort_day, COUNT(*) AS cohort_size FROM cc GROUP BY 1)
             |SELECT cr.cohort_day, cr.day_offset, cr.n_active, cs.cohort_size,
             |CAST(cr.n_active AS DOUBLE) / cs.cohort_size AS retention
             |FROM cr JOIN cs ON cr.cohort_day = cs.cohort_day""".stripMargin.replace("\n", " "))),
    // Event-type transition counts (first-order Markov over each user's
    // ordered stream): lag over (user, ts, event_id) — the same
    // one-sort-per-user-partition shape as sessionize — then a
    // partial-agg rollup on the (prev, next) pair. Ordering uses the
    // full-ns ts with event_id tiebreak; the µs DuckDB ordering selects
    // the same rows (see ev_dedup's precision note).
    Q("ev_transitions",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)
        events(s, d)
          .withColumn("prev_type", lag(col("event_type"), 1).over(w))
          .filter(col("prev_type").isNotNull)
          .groupBy(col("prev_type"), col("event_type").as("next_type"))
          .agg(count(lit(1)).as("n"))
      },
      Some("""SELECT prev_type, event_type AS next_type, COUNT(*) AS n FROM (
             |SELECT event_type, lag(event_type) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_type
             |FROM events) WHERE prev_type IS NOT NULL GROUP BY 1, 2""".stripMargin.replace("\n", " "))),
    // Hopping (sliding) window counts via the NATIVE window() generator
    // — 10-minute windows every 5 minutes, so each event lands in
    // exactly 2 epoch-aligned windows; the same expression runs
    // unchanged under readStream (§2.9). Window membership is decided
    // by whole seconds (boundaries are second-aligned), so the
    // second-floor oracle reproduces it exactly.
    Q("ev_sliding_window",
      (s, d) => events(s, d)
        .withColumn("tsec", timestamp_seconds(col("ts_s")))
        .groupBy(window(col("tsec"), "600 seconds", "300 seconds"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(unix_timestamp(col("window.start")).as("ws_s"),
          col("event_type"), col("n")),
      Some("""WITH se AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS t, event_type FROM events)
             |SELECT (t // 300) * 300 - k.k AS ws_s, event_type, COUNT(*) AS n
             |FROM se CROSS JOIN (SELECT unnest([0, 300]) AS k) k
             |GROUP BY 1, 2""".stripMargin.replace("\n", " "))),
    // Calendar-spine gap fill: the per-(user, day) activity matrix with
    // explicit zero rows — the regular-series shape feature pipelines
    // and forecasting joins need (a groupBy alone silently drops the
    // inactive days). Spine = distinct users × sequence(min_day,
    // max_day): both sides come from partial aggs, the spine size is
    // users × days (documented, bounded), and the left join back is a
    // shuffle on (user, day) rollup rows — never the raw log.
    Q("ev_user_daily_gapfill",
      (s, d) => {
        val e = events(s, d)
          .select(col("user_id"), expr("ts_s DIV 86400").as("day"))
        val daily = e.groupBy("user_id", "day").agg(count(lit(1)).as("n"))
        val bounds = e.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        val spine = e.select("user_id").distinct()
          .crossJoin(broadcast(bounds))
          .select(col("user_id"),
            explode(sequence(col("d0"), col("d1"))).as("day"))
        spine.join(daily, Seq("user_id", "day"), "left")
          .na.fill(0L, Seq("n"))
      },
      Some("""WITH gfe AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day FROM events),
             |gfd AS (SELECT user_id, day, COUNT(*) AS n FROM gfe GROUP BY 1, 2),
             |gfb AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM gfe),
             |gfs AS (SELECT u.user_id, g.day FROM (SELECT DISTINCT user_id FROM gfe) u
             |CROSS JOIN (SELECT unnest(generate_series((SELECT d0 FROM gfb), (SELECT d1 FROM gfb))) AS day) g)
             |SELECT s.user_id, s.day, COALESCE(d.n, 0) AS n
             |FROM gfs s LEFT JOIN gfd d ON s.user_id = d.user_id AND s.day = d.day""".stripMargin.replace("\n", " "))),
    // Per-type inter-arrival gaps (burst/idle profile of each event
    // stream): one per-user lag — the sessionize sort shape — then a
    // per-type rollup of exact integer gap sums plus the pinned
    // percentile interpolation for the median.
    Q("ev_interarrival_stats",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("ts").asc, col("event_id").asc)
        events(s, d)
          .withColumn("prev_ts", lag(col("ts_s"), 1).over(w))
          .filter(col("prev_ts").isNotNull)
          .withColumn("gap_s", col("ts_s") - col("prev_ts"))
          .groupBy("event_type").agg(
            count(lit(1)).as("n_gaps"),
            sum(col("gap_s")).as("sum_gap_s"),
            (sum(col("gap_s")).cast(DoubleType) / count(lit(1))).as("mean_gap_s"),
            expr("percentile(gap_s, 0.5D)").as("p50_gap_s"))
      },
      Some("""WITH iag AS (SELECT event_type,
             |CAST(floor(epoch(ts)) AS BIGINT) -
             |lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (PARTITION BY user_id, event_type ORDER BY ts ASC, event_id ASC) AS gap_s
             |FROM events)
             |SELECT event_type, COUNT(*) AS n_gaps, CAST(SUM(gap_s) AS BIGINT) AS sum_gap_s,
             |CAST(SUM(gap_s) AS DOUBLE) / COUNT(*) AS mean_gap_s,
             |quantile_cont(gap_s, 0.5) AS p50_gap_s
             |FROM iag WHERE gap_s IS NOT NULL GROUP BY event_type""".stripMargin.replace("\n", " "))),
    // Semi-structured payload extraction: the props column is a JSON
    // blob; from_json with an explicit schema gives the TYPED column
    // Catalyst can prune/push (a single JsonToStructs projection in the
    // scan stage — map-only, no shuffle before the rollup). The oracle
    // re-extracts with DuckDB's JSON path functions.
    Q("ev_props_extract",
      (s, d) => events(s, d)
        .withColumn("k", from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k BIGINT")).getField("k"))
        .groupBy("event_type")
        .agg(count(col("k")).as("n_with_k"),
          sum(col("k")).as("sum_k"),
          max(col("k")).as("max_k")),
      Some("""SELECT event_type,
             |COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k,
             |CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             |MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
             |FROM events GROUP BY 1""".stripMargin.replace("\n", " "))),
    // Growth accounting: each active (user, day) is new (first day),
    // retained (also active the day before) or resurrected (returning
    // after a gap); churned(d) = active(d-1) − retained(d). Shape at
    // 100 TB: distinct (user, day) partial-agg, one per-user window
    // (sorted within user partitions), per-day rollup; the churn lag
    // runs on the POST-AGG day series. Cumulative users = running sum
    // of n_new over that same tiny series.
    Q("ev_growth_accounting",
      (s, d) => operators.Analytics.growthAccounting(
        events(s, d).select(col("user_id"), expr("ts_s DIV 86400").as("day"))),
      Some("""WITH gud AS (SELECT DISTINCT user_id, CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day FROM events),
             |gst AS (SELECT user_id, day, lag(day) OVER (PARTITION BY user_id ORDER BY day) AS prev_day FROM gud),
             |gda AS (SELECT day,
             |CAST(SUM(CASE WHEN prev_day IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
             |CAST(SUM(CASE WHEN day - prev_day = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
             |CAST(SUM(CASE WHEN prev_day IS NOT NULL AND day - prev_day > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
             |FROM gst GROUP BY day)
             |SELECT day, n_new, n_retained, n_resurrected,
             |n_new + n_retained + n_resurrected AS n_active,
             |CASE WHEN lag(day) OVER (ORDER BY day) = day - 1
             |THEN lag(n_new + n_retained + n_resurrected) OVER (ORDER BY day) - n_retained END AS n_churned,
             |CAST(SUM(n_new) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cume_users
             |FROM gda""".stripMargin.replace("\n", " "))),
    // Lag-1 autocorrelation of the per-minute event rate (burstiness /
    // seasonality screen). The minute rollup is a partial-agg shuffle
    // over the log; the lead() runs on the POST-AGG minute series (one
    // row per observed minute — a single-partition window, fine at any
    // scale that fits a year of minutes, ~526k rows). Sufficient sums
    // are exact integer products; the closed form (incl. IEEE-exact
    // sqrt) is the identical op sequence in both engines. Gap minutes
    // (zero events) are absent from the series by construction —
    // documented observed-minute semantics.
    Q("ev_autocorr_lag1",
      (s, d) => {
        val m = events(s, d)
          .groupBy(expr("ts_s DIV 60").as("minute"))
          .agg(count(lit(1)).as("c"))
        val pairs = m
          .withColumn("cn", lead(col("c"), 1).over(Window.orderBy(col("minute"))))
          .filter(col("cn").isNotNull)
        pairs.agg(
            count(lit(1)).cast(DoubleType).as("n"),
            sum(col("c")).cast(DoubleType).as("sx"),
            sum(col("cn")).cast(DoubleType).as("sy"),
            sum(col("c") * col("cn")).cast(DoubleType).as("sxy"),
            sum(col("c") * col("c")).cast(DoubleType).as("sxx"),
            sum(col("cn") * col("cn")).cast(DoubleType).as("syy"))
          .select(col("n").cast(LongType).as("n_pairs"),
            ((col("n") * col("sxy") - col("sx") * col("sy")) /
              (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
                sqrt(col("n") * col("syy") - col("sy") * col("sy"))))
              .as("autocorr_lag1"))
      },
      Some("""WITH am AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) // 60 AS minute, COUNT(*) AS c FROM events GROUP BY 1),
             |ap AS (SELECT c, lead(c) OVER (ORDER BY minute) AS cn FROM am),
             |ast AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, CAST(SUM(c) AS DOUBLE) AS sx, CAST(SUM(cn) AS DOUBLE) AS sy,
             |CAST(SUM(c * cn) AS DOUBLE) AS sxy, CAST(SUM(c * c) AS DOUBLE) AS sxx, CAST(SUM(cn * cn) AS DOUBLE) AS syy
             |FROM ap WHERE cn IS NOT NULL)
             |SELECT CAST(n AS BIGINT) AS n_pairs,
             |(n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS autocorr_lag1
             |FROM ast""".stripMargin.replace("\n", " "))),
    // Consecutive-day unique-user overlap by HLL SKETCH ALGEBRA
    // (DataSketches hll_sketch_agg/hll_union): one scan builds one
    // ~KB sketch per day; the pairwise union is sketch-only, so at
    // 100 TB the persisted per-day sketches answer any
    // overlap/retention question without rescans. Intersection via
    // inclusion–exclusion (no unbiased sketch estimator exists);
    // verdict bound is union-relative because I–E compounds three
    // estimates' errors on the union's scale.
    Q("ev_uniques_overlap",
      (s, d) => operators.Analytics.uniqueOverlapDays(events(s, d),
        col("ts_s"), col("user_id")).orderBy("day"),
      Some("""WITH uod AS (SELECT DISTINCT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day, user_id FROM events),
             |uoc AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n FROM uod GROUP BY 1),
             |uov AS (SELECT x.day AS day, CAST(COUNT(*) AS BIGINT) AS exact_overlap FROM uod x JOIN uod y ON y.user_id = x.user_id AND y.day = x.day + 1 GROUP BY 1)
             |SELECT a.day, COALESCE(o.exact_overlap, 0) AS exact_overlap,
             |a.n + b.n - COALESCE(o.exact_overlap, 0) AS exact_union, TRUE AS within_bound
             |FROM uoc a JOIN uoc b ON b.day = a.day + 1 LEFT JOIN uov o ON o.day = a.day
             |ORDER BY a.day""".stripMargin.replace("\n", " "))),
    // Per-day unique users, sketched: the "daily uniques" dashboard
    // aggregate at 100 TB runs on HLL (mergeable across partitions, one
    // small register set per day flowing through the shuffle), not on
    // count-distinct. PER-GROUP the multi-distinct Expand trap that bit
    // q_approx_distinct does not apply (no countDistinct mixed in);
    // exact counts come from a separate distinct-then-count pass joined
    // back, and the oracle pins the ≤2% error CONTRACT per day (the
    // sketch value itself is engine-specific).
    Q("ev_daily_uniques_approx",
      (s, d) => {
        val e = events(s, d)
          .select(col("user_id"), expr("ts_s DIV 86400").as("day"))
        val approx = e.groupBy("day").agg(
          approx_count_distinct(col("user_id"), rsd = 0.005).as("approx"))
        val exact = e.distinct().groupBy("day")
          .agg(count(lit(1)).as("exact_users"))
        exact.join(approx, Seq("day"))
          .select(col("day"), col("exact_users"),
            (abs(col("approx") - col("exact_users")) / col("exact_users")
              <= 0.02).as("within_2pct"))
      },
      Some("""SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
             |COUNT(DISTINCT user_id) AS exact_users, TRUE AS within_2pct
             |FROM events GROUP BY 1""".stripMargin.replace("\n", " "))),
    // the per-5-min-window twin, running the STREAMING code path
    // (EventStreams.windowedApproxUniques — watermark no-ops in batch);
    // contract oracle shape: exact uniques per window + an error
    // verdict (the sketch value itself is engine-specific). The bound
    // is absolute-OR-relative — |err| ≤ max(2%·exact, 3) — because a
    // relative clause alone is meaningless at window cardinalities of
    // a handful of users: Spark's HLL++ has no exact sparse mode, so a
    // single register collision costs ~1 absolute, which is >2% of an
    // 11-user window however good the sketch (measured: 29/8640 sf0.1
    // windows off by one at rsd 0.01). Unlike the MG twin, HLL's
    // register-max merges are order-free, so EventStreamsSpec pins
    // stream ≡ batch row-equal on the estimates.
    Q("ev_window_uniques",
      (s, d) => {
        val e = events(s, d)
          .withColumn("event_time", timestamp_seconds(col("ts_s")))
        val approx = streaming.EventStreams.windowedApproxUniques(e)
        val exact = e.select(expr("(ts_s DIV 300) * 300").as("bucket"),
            col("user_id"))
          .distinct().groupBy("bucket").agg(count(lit(1)).as("exact_users"))
        exact.join(approx, Seq("bucket"))
          .select(col("bucket"), col("exact_users"),
            (abs(col("approx_users") - col("exact_users")) <=
              greatest(lit(3.0), lit(0.02) * col("exact_users")))
              .as("within_bound"))
      },
      Some("""SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 300) * 300 AS bucket,
             |COUNT(DISTINCT user_id) AS exact_users, TRUE AS within_bound
             |FROM events GROUP BY 1""".stripMargin.replace("\n", " "))),
    // Rate-spike anomaly flags: each observed minute's count z-scored
    // against its trailing 60-observed-minute window (ROWS frame on the
    // POST-AGG minute series — same observed-minute semantics as
    // ev_autocorr_lag1). Moved into Profiling.rateSpikes, which bounds
    // the single-partition minute frame with the same in-plan
    // assert_true guard ksDrift/tvDrift carry (maxMinutes, default
    // 2^20 ≈ two years of minutes) — see its scaladoc; ProfilingSpec
    // drives a deliberately wide series into the guard.
    Q("ev_rate_spikes",
      (s, d) => operators.Profiling.rateSpikes(events(s, d), col("ts_s")),
      Some("""WITH rsm AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) // 60 AS minute, COUNT(*) AS c FROM events GROUP BY 1),
             |rsw AS (SELECT minute, c,
             |COUNT(c) OVER win AS np, CAST(SUM(c) OVER win AS BIGINT) AS sp, CAST(SUM(c * c) OVER win AS BIGINT) AS sq
             |FROM rsm WINDOW win AS (ORDER BY minute ROWS BETWEEN 60 PRECEDING AND 1 PRECEDING))
             |SELECT minute, c, z FROM (
             |SELECT minute, c,
             |(c - CAST(sp AS DOUBLE) / np) / sqrt(CAST(sq AS DOUBLE) / np - (CAST(sp AS DOUBLE) / np) * (CAST(sp AS DOUBLE) / np)) AS z
             |FROM rsw WHERE np >= 30 AND CAST(sq AS DOUBLE) / np - (CAST(sp AS DOUBLE) / np) * (CAST(sp AS DOUBLE) / np) > 0)
             |WHERE z > 3.0""".stripMargin.replace("\n", " "))),
    // EWMA of the hourly rate, one series per event type — the
    // geometric-decay counterpart of ev_rate_spikes' windowed z
    // (hourly grid: at this corpus density per-minute counts are
    // almost surely 1, which would make the fold a tautology). The
    // fold is SEQUENCED over the bucket-sorted counts (α = 0.25,
    // exactly representable), so DuckDB's list_reduce replays the
    // identical double chain bit-for-bit; the (key, bucket) frame is
    // counted map-side and assert_true'd against maxPoints before any
    // collect_list runs (the rateSpikes guard contract —
    // ProfilingSpec drives the guard).
    Q("ev_ewma",
      (s, d) => operators.Profiling.ewmaRate(events(s, d), col("ts_s"),
          col("event_type"), bucketSec = 3600)
        .withColumnRenamed("key", "event_type").orderBy("event_type"),
      Some("""WITH ewm AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS bucket, COUNT(*) AS c FROM events GROUP BY 1, 2),
             |ewl AS (SELECT event_type, list(CAST(c AS DOUBLE) ORDER BY bucket ASC) AS l FROM ewm GROUP BY event_type)
             |SELECT event_type, CAST(len(l) AS BIGINT) AS n_buckets,
             |CAST(list_reduce(l, (s, x) -> 0.25::DOUBLE * x + 0.75::DOUBLE * s) AS DOUBLE) AS ewma
             |FROM ewl""".stripMargin.replace("\n", " "))),
    // CUSUM change-point monitor on the hourly per-type rate: the
    // SUSTAINED-shift alarm beside ev_rate_spikes' single-bucket z and
    // ev_ewma's smoothed level. Everything is integer (the statistic
    // scaled by 4n; see Profiling.cusum) and the sequential recurrence
    // is computed by its prefix-sum closed form — two ordered windows,
    // no fold, bit-equal on any partitioning and any engine.
    Q("ev_cusum",
      (s, d) => operators.Profiling.cusum(events(s, d), col("ts_s"),
          col("event_type"), bucketSec = 3600)
        .withColumnRenamed("key", "event_type")
        .orderBy("event_type", "bucket"),
      Some("""WITH cuf AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS bucket, CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1, 2),
             |cug AS (SELECT event_type, bucket, c, CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n, CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS t FROM cuf),
             |cup AS (SELECT event_type, bucket, c, t, CAST(SUM(4 * n * c - 5 * t) OVER (PARTITION BY event_type ORDER BY bucket ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS p FROM cug),
             |cus AS (SELECT event_type, bucket, c, t, p - LEAST(CAST(0 AS BIGINT), CAST(MIN(p) OVER (PARTITION BY event_type ORDER BY bucket ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)) AS cusum_scaled FROM cup)
             |SELECT event_type, bucket, c, cusum_scaled, (cusum_scaled > 8 * t) AS alarm FROM cus
             |ORDER BY event_type, bucket""".stripMargin.replace("\n", " "))),
    // Conversion lag: per user, first view → first purchase AT OR
    // AFTER it, rolled up by day-of-first-view — the
    // time-to-convert funnel metric beside ev_funnel's reach counts.
    // Two aggregate passes + one broadcastable user join; lags stay
    // exact integer seconds, ONE double division for the mean.
    Q("ev_conversion_lag",
      (s, d) => {
        val e = events(s, d)
        val fv = e.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min(col("ts_s")).as("v"))
        val fp = e.filter(col("event_type") === "purchase")
          .join(fv, "user_id")
          .filter(col("ts_s") >= col("v"))
          .groupBy("user_id").agg(min(col("ts_s")).as("p"))
        fv.join(fp, Seq("user_id"), "left")
          .select(expr("v DIV 86400").as("day"), col("v"), col("p"))
          .groupBy("day").agg(
            count(lit(1)).as("n_viewed"),
            count(col("p")).as("n_converted"),
            sum(col("p") - col("v")).as("sum_lag_sec"),
            max(col("p") - col("v")).as("max_lag_sec"))
          .withColumn("avg_lag_sec",
            when(col("n_converted") > 0,
              col("sum_lag_sec").cast(DoubleType) / col("n_converted")))
          .orderBy("day")
      },
      Some("""WITH clv AS (SELECT user_id, MIN(CAST(floor(epoch(ts)) AS BIGINT)) AS v FROM events WHERE event_type = 'view' GROUP BY 1),
             |clp AS (SELECT e.user_id, MIN(CAST(floor(epoch(e.ts)) AS BIGINT)) AS p FROM events e JOIN clv USING (user_id) WHERE e.event_type = 'purchase' AND CAST(floor(epoch(e.ts)) AS BIGINT) >= clv.v GROUP BY 1),
             |clj AS (SELECT v.user_id, v.v, p.p FROM clv v LEFT JOIN clp p USING (user_id))
             |SELECT v // 86400 AS day, CAST(COUNT(*) AS BIGINT) AS n_viewed, CAST(COUNT(p) AS BIGINT) AS n_converted,
             |CAST(SUM(p - v) AS BIGINT) AS sum_lag_sec, CAST(MAX(p - v) AS BIGINT) AS max_lag_sec,
             |CASE WHEN COUNT(p) > 0 THEN CAST(SUM(p - v) AS DOUBLE) / COUNT(p) END AS avg_lag_sec
             |FROM clj GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " "))),
    // Holt's linear-trend smoothing: ev_ewma with a TREND state, so a
    // steadily growing rate forecasts UP instead of lagging — the
    // capacity-planning forecast (l+b). Sequenced (l, b)-struct fold,
    // bit-equal to DuckDB's list_reduce over [x, 0] pairs.
    Q("ev_holt_forecast",
      (s, d) => operators.Profiling.holtForecast(events(s, d), col("ts_s"),
          col("event_type"), bucketSec = 3600)
        .withColumnRenamed("key", "event_type").orderBy("event_type"),
      Some("""WITH hfm AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS bucket, COUNT(*) AS c FROM events GROUP BY 1, 2),
             |hfl AS (SELECT event_type, list(CAST(c AS DOUBLE) ORDER BY bucket ASC) AS l FROM hfm GROUP BY event_type),
             |hff AS (SELECT event_type, CAST(len(l) AS BIGINT) AS n_buckets,
             |list_reduce(list_transform(l, x -> [x, 0.0::DOUBLE]),
             |(acc, x) -> [0.25::DOUBLE * x[1] + 0.75::DOUBLE * (acc[1] + acc[2]),
             |0.25::DOUBLE * (0.25::DOUBLE * x[1] + 0.75::DOUBLE * (acc[1] + acc[2]) - acc[1]) + 0.75::DOUBLE * acc[2]]) AS ab
             |FROM hfl)
             |SELECT event_type, n_buckets, ab[1] AS level, ab[2] AS trend, ab[1] + ab[2] AS forecast_next
             |FROM hff ORDER BY event_type""".stripMargin.replace("\n", " "))),
    // Holt–Winters additive seasonal forecast, period 24 on the hourly
    // grid (the daily cycle): the smoothing family's third rung —
    // level (ev_ewma), +trend (ev_holt_forecast), +seasonal profile.
    // Cold-start init (l=x₁, b=0, s≡0) documented in the scaladoc; the
    // state is a flat 26-double array rotated one slot per step, so
    // DuckDB's list_reduce replays the identical sequenced chain over
    // 26-lists and every double is bit-equal.
    Q("ev_holt_winters",
      (s, d) => operators.Profiling.holtWinters(events(s, d), col("ts_s"),
          col("event_type"), period = HwPeriod, bucketSec = 3600)
        .withColumnRenamed("key", "event_type").orderBy("event_type"),
      Some(holtWintersOracle)),
    // Theil–Sen robust trend per event type: the median of all pairwise
    // bucket slopes — where one corrupted bucket drags OLS
    // (q_regr_slope) arbitrarily far, the pairwise median shrugs
    // (29.3% breakdown). Each slope is ONE IEEE division of exact
    // integer differences (dy may be negative, where div/// disagree
    // across engines — the double quotient doesn't); the median is the
    // q_median-pinned exact interpolating percentile.
    Q("ev_theil_sen",
      (s, d) => operators.Profiling.theilSen(events(s, d), col("ts_s"),
          col("event_type"), bucketSec = 3600)
        .withColumnRenamed("key", "event_type").orderBy("event_type"),
      Some("""WITH tnm AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS bucket, COUNT(*) AS c FROM events GROUP BY 1, 2),
             |tnp AS (SELECT a.event_type, CAST(b.c - a.c AS DOUBLE) / CAST(b.bucket - a.bucket AS DOUBLE) AS sl
             |FROM tnm a JOIN tnm b ON a.event_type = b.event_type AND a.bucket < b.bucket),
             |tnn AS (SELECT event_type, COUNT(*) AS n_buckets FROM tnm GROUP BY 1),
             |tns AS (SELECT event_type, COUNT(*) AS n_pairs, quantile_cont(sl, 0.5) AS sen_slope FROM tnp GROUP BY 1)
             |SELECT n.event_type, n.n_buckets, COALESCE(s.n_pairs, 0) AS n_pairs, s.sen_slope
             |FROM tnn n LEFT JOIN tns s USING (event_type)
             |ORDER BY event_type""".stripMargin.replace("\n", " "))),
    // Rolling-origin backtest of the whole smoothing family — the
    // model-selection query run BEFORE wiring any one smoother into a
    // monitor: walk-forward one-step errors at the last 8 cut points,
    // per model, per key (never a random split — that leaks the future
    // into the fit). Every fit is the production fold over a prefix
    // slice (the HW lambda text shared verbatim); the oracle replays
    // the whole nested-lambda chain and every double is bit-equal.
    Q("ev_forecast_backtest",
      (s, d) => operators.Profiling.forecastBacktest(events(s, d),
          col("ts_s"), col("event_type"), period = HwPeriod, origins = 8,
          bucketSec = 3600)
        .withColumnRenamed("key", "event_type").orderBy("event_type"),
      Some(forecastBacktestOracle)),
    // the FIXED-reference CUSUM — μ/κ/h as micro-unit constants from a
    // trained baseline, the deployable and ONLY streamable form (the
    // self-mean variant's term rescales history every bucket); the
    // CusumStream snapshot is pinned against this query's p_micro
    // prefix column in CusumStreamSpec
    Q("ev_cusum_ref",
      (s, d) => operators.Profiling.cusumFixed(events(s, d), col("ts_s"),
          col("event_type"), muMicro = CusumMu, kappaMicro = CusumKappa,
          hMicro = CusumH, bucketSec = 3600)
        .withColumnRenamed("key", "event_type")
        .orderBy("event_type", "bucket"),
      Some(s"""WITH crf AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS bucket, CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1, 2),
             |crp AS (SELECT event_type, bucket, c, CAST(SUM(1000000 * c - ${CusumMu + CusumKappa}) OVER (PARTITION BY event_type ORDER BY bucket ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS p_micro FROM crf),
             |crs AS (SELECT event_type, bucket, c, p_micro, p_micro - LEAST(CAST(0 AS BIGINT), CAST(MIN(p_micro) OVER (PARTITION BY event_type ORDER BY bucket ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)) AS cusum_micro FROM crp)
             |SELECT event_type, bucket, c, p_micro, cusum_micro, (cusum_micro > $CusumH) AS alarm FROM crs
             |ORDER BY event_type, bucket""".stripMargin.replace("\n", " ")),
      bench = true),
    // Seasonal-aware CUSUM — the round's composition of the forecast
    // family with the change-point family: Page's statistic over the
    // Holt–Winters ONE-STEP RESIDUALS, so a daily-cycling rate stops
    // burning slack on pure seasonality and the alarm accumulates only
    // unmodeled level shifts (the backtest pin shows HW winning on
    // exactly these cyclic keys). One sequenced per-key fold sharing
    // the hwLambda step texts verbatim; DuckDB replays the identical
    // widened state chain, bit-equal doubles.
    Q("ev_cusum_seasonal",
      (s, d) => operators.Profiling.cusumSeasonal(events(s, d),
          col("ts_s"), col("event_type"), period = HwPeriod,
          h = CsH, kappa = CsKappa, bucketSec = 3600)
        .withColumnRenamed("key", "event_type").orderBy("event_type"),
      Some(cusumSeasonalOracle)),
    // Top session paths (the product-analytics "user journey" rollup):
    // the ev_sessionize segmentation, each session's ordered type
    // sequence folded to a path string (array_sort on (ts_s, id, type)
    // structs — per-session lists are bounded by the 30-minute gap
    // semantics), then a partial-agg path rollup and bounded top-k.
    // The path sort key is (ts_s, event_id) — the SAME key the
    // sessionization lag uses and the same second-floor precision both
    // engines agree on (DuckDB truncates the nanos ts to µs, so a full-
    // precision ts key could order two same-µs events differently).
    Q("ev_session_paths",
      (s, d) => {
        val byUser = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_s").asc, col("event_id").asc)
        val e = events(s, d)
          .withColumn("prev_ts", lag(col("ts_s"), 1).over(byUser))
          .withColumn("new_session",
            when(col("prev_ts").isNull || col("ts_s") - col("prev_ts") > 1800, 1L)
              .otherwise(0L))
          .withColumn("session_idx",
            sum(col("new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
        e.groupBy("user_id", "session_idx")
          .agg(concat_ws(">", transform(
            array_sort(collect_list(struct(col("ts_s"), col("event_id"),
              col("event_type")))),
            x => x.getField("event_type"))).as("path"))
          .groupBy("path").agg(count(lit(1)).as("n_sessions"))
          .orderBy(col("n_sessions").desc, col("path").asc).limit(20)
      },
      Some(sessionPathsOracle)),
    // Skew-resistant twin of ev_session_paths — the WORST degrader in
    // the round-14 zipf sweep (2.8×: the hot user's one-task window
    // carries whole event structs). Skew.sessionPathsTwoLevel builds
    // each (user, hour-bucket) run's sorted payload segment locally,
    // then concatenates segments in run order during the boundary
    // merge; the top-20 rollup tail is identical. Both registrations
    // share the ONE sessionPathsOracle val — rows, schema, hash equal
    // by construction.
    Q("ev_session_paths_skew",
      (s, d) => operators.Skew.sessionPathsTwoLevel(
        events(s, d), "user_id", "ts_s", "event_id", "event_type",
        gapSeconds = 1800L, bucketSeconds = 3600L)
        .groupBy("path").agg(count(lit(1)).as("n_sessions"))
        .orderBy(col("n_sessions").desc, col("path").asc).limit(20),
      Some(sessionPathsOracle)),
    // Two-sample chi-squared drift between the early and late half of
    // the stream over fixed value deciles — the scheduled data-quality
    // gate that catches upstream distribution shifts. Transcendental-
    // free on purpose (PSI's ln() is not bit-stable cross-engine): the
    // statistic is rational in the bin counts, every double op in the
    // same order in both engines. Shape: one scan + one 10-row
    // aggregate; the expected-count terms come from window sums over
    // the 10-row frame, not a second scan. (The long products in the
    // expected counts are exact up to ~2^63; beyond that the statistic
    // saturates double precision anyway.)
    Q("ev_drift_chi2",
      (s, d) => {
        val e = events(s, d).select(col("ts_s"),
          least(lit(9L), floor(col("value") / 50).cast(LongType)).as("bin"))
        val mid = e.agg(expr("(MIN(ts_s) + MAX(ts_s)) DIV 2").as("__mid"))
        val g = e.crossJoin(broadcast(mid)).groupBy("bin").agg(
          sum(when(col("ts_s") <= col("__mid"), 1L).otherwise(0L)).as("n_early"),
          sum(when(col("ts_s") > col("__mid"), 1L).otherwise(0L)).as("n_late"))
        val tot = Window.partitionBy()
        val tbin = col("n_early") + col("n_late")
        val grand = col("te") + col("tl")
        def term(o: Column, e: Column): Column =
          (o.cast(DoubleType) - e) * (o.cast(DoubleType) - e) / e
        g.withColumn("te", sum(col("n_early")).over(tot))
          .withColumn("tl", sum(col("n_late")).over(tot))
          .select(col("bin"), col("n_early"), col("n_late"),
            (term(col("n_early"), (col("te") * tbin).cast(DoubleType) / grand) +
              term(col("n_late"), (col("tl") * tbin).cast(DoubleType) / grand))
              .as("chi2_term"))
      },
      Some("""WITH de AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS t,
             |LEAST(9, CAST(floor(value / 50) AS BIGINT)) AS bin FROM events),
             |dm AS (SELECT (MIN(t) + MAX(t)) // 2 AS mid FROM de),
             |dg AS (SELECT bin, SUM(CASE WHEN t <= mid THEN 1 ELSE 0 END) AS n_early,
             |SUM(CASE WHEN t > mid THEN 1 ELSE 0 END) AS n_late FROM de CROSS JOIN dm GROUP BY bin),
             |dt AS (SELECT bin, n_early, n_late, SUM(n_early) OVER () AS te, SUM(n_late) OVER () AS tl FROM dg)
             |SELECT bin, CAST(n_early AS BIGINT) AS n_early, CAST(n_late AS BIGINT) AS n_late,
             |(CAST(n_early AS DOUBLE) - CAST(te * (n_early + n_late) AS DOUBLE) / (te + tl))
             | * (CAST(n_early AS DOUBLE) - CAST(te * (n_early + n_late) AS DOUBLE) / (te + tl))
             | / (CAST(te * (n_early + n_late) AS DOUBLE) / (te + tl))
             |+ (CAST(n_late AS DOUBLE) - CAST(tl * (n_early + n_late) AS DOUBLE) / (te + tl))
             | * (CAST(n_late AS DOUBLE) - CAST(tl * (n_early + n_late) AS DOUBLE) / (te + tl))
             | / (CAST(tl * (n_early + n_late) AS DOUBLE) / (te + tl)) AS chi2_term
             |FROM dt""".stripMargin.replace("\n", " "))),
    // Numeric drift: two-sample KS on the value column between the
    // early and late time halves (same midpoint split as the chi²
    // query, which covers the categorical case). CDFs compared on the
    // unit-value bucket grid in exact integer arithmetic — see
    // Profiling.ksDrift; the statistic is one double division of two
    // exact longs, so the row hash-matches cross-engine.
    Q("ev_drift_ks",
      (s, d) => {
        val e = events(s, d).filter(col("value").isNotNull)
          .select(col("ts_s"), floor(col("value")).cast(LongType).as("bucket"))
        val mid = e.agg(expr("(MIN(ts_s) + MAX(ts_s)) DIV 2").as("__mid"))
        operators.Profiling.ksDrift(e.crossJoin(broadcast(mid)),
          col("bucket"), col("ts_s") <= col("__mid"))
      },
      Some("""WITH kse AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS t,
             |CAST(floor(value) AS BIGINT) AS bucket FROM events WHERE value IS NOT NULL),
             |ksm AS (SELECT (MIN(t) + MAX(t)) // 2 AS mid FROM kse),
             |ksc AS (SELECT bucket, SUM(CASE WHEN t <= mid THEN 1 ELSE 0 END) AS ca,
             |SUM(CASE WHEN t > mid THEN 1 ELSE 0 END) AS cb FROM kse CROSS JOIN ksm GROUP BY bucket),
             |ksw AS (SELECT bucket,
             |SUM(ca) OVER (ORDER BY bucket ASC ROWS UNBOUNDED PRECEDING) AS cuma,
             |SUM(cb) OVER (ORDER BY bucket ASC ROWS UNBOUNDED PRECEDING) AS cumb,
             |SUM(ca) OVER () AS na, SUM(cb) OVER () AS nb FROM ksc)
             |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b, bucket AS at_bucket,
             |CAST(abs(cuma * nb - cumb * na) AS BIGINT) AS max_abs_diff,
             |CASE WHEN na * nb = 0 THEN 0.0
             |ELSE CAST(abs(cuma * nb - cumb * na) AS DOUBLE) / CAST(na * nb AS DOUBLE) END AS ks
             |FROM ksw ORDER BY abs(cuma * nb - cumb * na) DESC, bucket ASC LIMIT 1""".stripMargin.replace("\n", " "))),
    // Total-variation drift between the early and late time halves on
    // the same fixed deciles as the chi² gate: TV = ½·Σ|p_b − q_b|.
    // Third member of the transcendental-free drift family (chi² =
    // categorical, KS = cumulative/numeric, TV = the bounded [0,1]
    // mass-moved summary PSI is usually quoted for — but PSI's ln() is
    // not bit-stable cross-engine, TV is). See Profiling.tvDrift for
    // the cross-multiplied exact-integer contract; here the bins are
    // the chi² deciles and the sides the midpoint time halves.
    Q("ev_drift_tv",
      (s, d) => {
        val e = events(s, d).filter(col("value").isNotNull)
          .select(col("ts_s"),
            least(lit(9L), floor(col("value") / 50).cast(LongType)).as("bin"))
        val mid = e.agg(expr("(MIN(ts_s) + MAX(ts_s)) DIV 2").as("__mid"))
        operators.Profiling.tvDrift(e.crossJoin(broadcast(mid)),
          col("bin"), col("ts_s") <= col("__mid"))
          .withColumnRenamed("n_a", "n_early")
          .withColumnRenamed("n_b", "n_late")
      },
      Some("""WITH tve AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS t,
             |LEAST(9, CAST(floor(value / 50) AS BIGINT)) AS bin FROM events WHERE value IS NOT NULL),
             |tvm AS (SELECT (MIN(t) + MAX(t)) // 2 AS mid FROM tve),
             |tvg AS (SELECT bin, SUM(CASE WHEN t <= mid THEN 1 ELSE 0 END) AS ne,
             |SUM(CASE WHEN t > mid THEN 1 ELSE 0 END) AS nl FROM tve CROSS JOIN tvm GROUP BY bin),
             |tvt AS (SELECT bin, ne, nl, SUM(ne) OVER () AS te, SUM(nl) OVER () AS tl FROM tvg)
             |SELECT CAST(MIN(te) AS BIGINT) AS n_early, CAST(MIN(tl) AS BIGINT) AS n_late,
             |CAST(SUM(abs(ne * tl - nl * te)) AS BIGINT) AS sum_abs,
             |CASE WHEN MIN(te) * MIN(tl) = 0 THEN 0.0
             |ELSE CAST(SUM(abs(ne * tl - nl * te)) AS DOUBLE) / (2.0 * CAST(MIN(te) * MIN(tl) AS DOUBLE)) END AS tv
             |FROM tvt""".stripMargin.replace("\n", " "))),
    // Wasserstein-1 drift between the early and late time halves on
    // the unit-value bucket grid (the KS grid, not the deciles: W1's
    // gap weighting is the whole point, and deciles erase the gaps).
    // Fourth member of the transcendental-free drift family — chi² =
    // categorical surprise, KS = worst crossing, TV = mass moved, W1 =
    // HOW FAR the mass moved, in value units. Exact Σ|cross-diff|·gap
    // longs + one final double division; see Profiling.w1Drift.
    Q("ev_drift_w1",
      (s, d) => {
        val e = events(s, d).filter(col("value").isNotNull)
          .select(col("ts_s"), floor(col("value")).cast(LongType).as("bucket"))
        val mid = e.agg(expr("(MIN(ts_s) + MAX(ts_s)) DIV 2").as("__mid"))
        operators.Profiling.w1Drift(e.crossJoin(broadcast(mid)),
          col("bucket"), col("ts_s") <= col("__mid"))
      },
      Some("""WITH w1e AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS t,
             |CAST(floor(value) AS BIGINT) AS bucket FROM events WHERE value IS NOT NULL),
             |w1m AS (SELECT (MIN(t) + MAX(t)) // 2 AS mid FROM w1e),
             |w1c AS (SELECT bucket, SUM(CASE WHEN t <= mid THEN 1 ELSE 0 END) AS ca,
             |SUM(CASE WHEN t > mid THEN 1 ELSE 0 END) AS cb FROM w1e CROSS JOIN w1m GROUP BY bucket),
             |w1w AS (SELECT bucket,
             |SUM(ca) OVER (ORDER BY bucket ASC ROWS UNBOUNDED PRECEDING) AS cuma,
             |SUM(cb) OVER (ORDER BY bucket ASC ROWS UNBOUNDED PRECEDING) AS cumb,
             |COALESCE(LEAD(bucket) OVER (ORDER BY bucket ASC) - bucket, 0) AS gap,
             |SUM(ca) OVER () AS na, SUM(cb) OVER () AS nb FROM w1c)
             |SELECT CAST(MIN(na) AS BIGINT) AS n_a, CAST(MIN(nb) AS BIGINT) AS n_b,
             |CAST(SUM(abs(cuma * nb - cumb * na) * gap) AS BIGINT) AS area,
             |CASE WHEN MIN(na) * MIN(nb) = 0 THEN 0.0
             |ELSE CAST(SUM(abs(cuma * nb - cumb * na) * gap) AS DOUBLE) / CAST(MIN(na) * MIN(nb) AS DOUBLE) END AS w1
             |FROM w1w""".stripMargin.replace("\n", " "))),
    // Per-window drift monitor: every 5-minute window's value-decile
    // histogram scored by TV distance against the corpus-global
    // histogram (the "which window went weird" observability view).
    // The global reference is a bounded 10-row collect shipped back as
    // literals into streaming.EventStreams.windowedValueDrift — the
    // SAME code path the streaming monitor runs (watermark no-ops in
    // batch), so the batch oracle row doubles as the stream twin's
    // ground truth; EventStreamsSpec pins stream ≡ batch row-equal
    // (exact integers, deterministic window assignment).
    // NOTE: this DEMO derives the reference from the same events frame
    // it scores (self-drift) purely so the oracle is self-contained; a
    // production monitor takes the reference histogram as an argument
    // (the last blessed profile's published counts) — do not copy the
    // collect-from-the-monitored-stream shape into a deployment.
    Q("ev_window_drift",
      (s, d) => {
        val e = events(s, d).filter(col("value").isNotNull)
          .withColumn("event_time", timestamp_seconds(col("ts_s")))
        // same double-ended clamp as windowedValueDrift's bin rule
        val bin = greatest(lit(0L),
          least(lit(9L), floor(col("value") / 50).cast(LongType)))
        val hist = e.groupBy(bin.as("b")).agg(count(lit(1)).as("n"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val ref = (0L until 10L).map(b => hist.getOrElse(b, 0L))
        streaming.EventStreams.windowedValueDrift(e, ref)
      },
      Some("""WITH wde AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS t,
             |GREATEST(0, LEAST(9, CAST(floor(value / 50) AS BIGINT))) AS bin FROM events WHERE value IS NOT NULL),
             |wdsp AS (SELECT unnest(generate_series(0, 9)) AS bin),
             |wdrf AS (SELECT s.bin, COALESCE(r.r, 0) AS r FROM wdsp s
             |LEFT JOIN (SELECT bin, COUNT(*) AS r FROM wde GROUP BY bin) r USING (bin)),
             |wdn AS (SELECT SUM(r) AS nref FROM wdrf),
             |wdw AS (SELECT (t // 300) * 300 AS ws, bin, COUNT(*) AS c FROM wde GROUP BY 1, 2),
             |wdx AS (SELECT w.ws, f.bin, COALESCE(c.c, 0) AS c, f.r
             |FROM (SELECT DISTINCT ws FROM wdw) w CROSS JOIN wdrf f
             |LEFT JOIN wdw c ON c.ws = w.ws AND c.bin = f.bin),
             |wdy AS (SELECT ws, bin, c, r, nref, SUM(c) OVER (PARTITION BY ws) AS nwin FROM wdx CROSS JOIN wdn)
             |SELECT ws AS bucket, CAST(MIN(nwin) AS BIGINT) AS n_window,
             |CAST(SUM(abs(c * nref - r * nwin)) AS DOUBLE) / (2.0 * CAST(MIN(nwin) * MIN(nref) AS DOUBLE)) AS tv
             |FROM wdy GROUP BY ws""".stripMargin.replace("\n", " "))),
    // Heavy hitters via the native Misra–Gries aggregate (k=4 counters
    // over 5 distinct event types, so the evict and merge-reduce paths
    // actually run): the sketch's candidate set joins back to exact
    // counts of THE CANDIDATES ONLY — a broadcast left-semi join on the
    // ≤ k-row candidate set, per the MG scaladoc's own prescription —
    // never a full groupBy over every key (at the cardinality MG exists
    // for, the full exact side would be the scale cost the sketch was
    // brought in to avoid). Restricting the exact side to candidates is
    // lossless for the output: every key with true count > N/(k+1) is
    // guaranteed present in the candidate set, with est in
    // [true − N/(k+1), true] REGARDLESS of partitioning and merge order
    // (the est values themselves are merge-order-dependent, which is
    // why they stay out of the output). The oracle re-derives the exact
    // heavy set and pins every verdict.
    Q("ev_heavy_hitters",
      (s, d) => {
        val k = 4
        val e = events(s, d)
        val cand = e.agg(functions.MisraGriesAggregate
            .heavyHitters(col("event_type"), k).as("hh"))
          .select(explode(col("hh")).as("c"))
          .select(col("c.key").as("event_type"), col("c.est"))
        val tot = e.agg(count(lit(1)).as("__n"))
        // ONE inner broadcast join against the ≤ k-row candidate set
        // both restricts the exact count to candidates AND carries est
        // onto every surviving row — a single reference to `cand`, so
        // the global MG aggregation structurally runs once (the earlier
        // semi-join + left-join pair referenced it twice, and the two
        // build sides canonicalized differently after column pruning,
        // so ReuseExchange could not deduplicate the dominant scan)
        val exactCand = e
          .join(broadcast(cand), Seq("event_type"))
          .groupBy("event_type", "est").agg(count(lit(1)).as("cnt"))
        exactCand.crossJoin(broadcast(tot))
          .filter(col("cnt") * (k + 1) > col("__n"))
          .select(col("event_type"), col("cnt"),
            (col("est").isNotNull && col("est") <= col("cnt") &&
              (col("cnt") - col("est")) * (k + 1) <= col("__n"))
              .as("within_bound"))
          .orderBy("event_type")
      },
      Some("""WITH hhc AS (SELECT event_type, COUNT(*) AS cnt FROM events GROUP BY event_type),
             |hht AS (SELECT SUM(cnt) AS n FROM hhc)
             |SELECT event_type, CAST(cnt AS BIGINT) AS cnt, TRUE AS within_bound
             |FROM hhc CROSS JOIN hht WHERE cnt * 5 > n ORDER BY event_type""".stripMargin.replace("\n", " "))),
  )

  // ---------------------------------------------------------------------
  // Skew mitigation + data layout. Both salted operators are
  // output-invariant partitioning changes, so the oracle is the PLAIN
  // query — a hash-match proves cross-engine that salting does not
  // alter results. The z-order audit re-derives the normalize + Morton
  // interleave + ntile split in DuckDB integer/double arithmetic.
  // ---------------------------------------------------------------------

  /** DuckDB Morton interleave of two `bits`-bit BIGINTs — the same bit
    * arithmetic as [[graft.operators.Layout.zValue]], unrolled. */
  private def mortonSql(a: String, b: String, bits: Int): String =
    (0 until bits).map(i =>
      s"((($a >> $i) & 1) << ${2 * i}) | ((($b >> $i) & 1) << ${2 * i + 1})")
      .mkString(" | ")

  /** DuckDB min-max scale to [0, 2^bits) in the exact double-op order
    * of [[graft.operators.Layout.normalize]] (null → origin bucket). */
  private def normSql(c: String, mn: String, mx: String, bits: Int): String =
    s"least(${(1L << bits) - 1}, coalesce(CAST(floor((CAST($c AS DOUBLE) - $mn) / ($mx - $mn) * ${1L << bits}.0) AS BIGINT), 0))"

  private def zorderOracle: String = {
    val bits = 16
    s"""WITH ev AS (SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s FROM events),
       |st AS (SELECT CAST(MIN(user_id) AS DOUBLE) AS amin, CAST(MAX(user_id) AS DOUBLE) AS amax,
       |CAST(MIN(ts_s) AS DOUBLE) AS bmin, CAST(MAX(ts_s) AS DOUBLE) AS bmax FROM ev),
       |nz AS (SELECT event_id, user_id, ts_s,
       |${normSql("user_id", "amin", "amax", bits)} AS za,
       |${normSql("ts_s", "bmin", "bmax", bits)} AS zb FROM ev, st),
       |zf AS (SELECT user_id, ts_s,
       |ntile(16) OVER (ORDER BY (${mortonSql("za", "zb", bits)}), event_id) AS file_id FROM nz)
       |SELECT CAST(file_id AS BIGINT) AS file_id, COUNT(*) AS n,
       |MIN(user_id) AS min_user_id, MAX(user_id) AS max_user_id,
       |MIN(ts_s) AS min_ts_s, MAX(ts_s) AS max_ts_s
       |FROM zf GROUP BY file_id""".stripMargin.replace("\n", " ")
  }

  /** Shared oracle for the format-roundtrip queries: the same aggregate
    * straight off the parquet table — a roundtrip that loses or mangles
    * anything cannot hash-match this. */
  private val ioRoundtripOracle: String =
    """SELECT event_type, COUNT(*) AS n, CAST(SUM(event_id) AS BIGINT) AS sum_id,
      |CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
      |MIN(CAST(floor(epoch(ts)) AS BIGINT)) AS min_ts,
      |MAX(CAST(floor(epoch(ts)) AS BIGINT)) AS max_ts
      |FROM events GROUP BY 1""".stripMargin.replace("\n", " ")

  private val skewLayout = Vector(
    // two-phase salted aggregate over the 5 hot event_type keys (each
    // holds ~20% of the table — exactly the hot-key shape); DECIMAL
    // sums keep both phases order-independent for the hash compare
    Q("q_salted_agg",
      (s, d) => operators.Skew.saltedAggregate(
        events(s, d).withColumn("value", col("value").cast(D4)),
        Seq("event_type"), "value", salts = 8)
        .select(col("event_type"),
          col("sum_value").cast(DoubleType).as("sum_value"), col("n")),
      Some("""SELECT event_type, CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
             |COUNT(*) AS n FROM events GROUP BY event_type""".stripMargin.replace("\n", " "))),
    // salted fact×dim join on the same hot keys: the left side scatters
    // 8 ways, the dim replicates 8× — result must equal the plain join
    Q("q_salted_join",
      (s, d) => {
        val e = events(s, d)
        val dim = e.groupBy("event_type").agg(count(lit(1)).as("n_type"))
        operators.Skew.saltedJoin(
          e.select("event_id", "event_type"), dim, Seq("event_type"), salts = 8)
      },
      Some("""SELECT e.event_id, e.event_type, d.n_type FROM events e
             |JOIN (SELECT event_type, COUNT(*) AS n_type FROM events GROUP BY event_type) d
             |USING (event_type)""".stripMargin.replace("\n", " "))),
    // Bloom-pruned join: the probe side (lineitem) is pre-filtered by
    // a bitmap of the filtered build side's keys before the join — a
    // Bloom filter has no false negatives, so the oracle is the PLAIN
    // join; a hash match proves cross-engine that runtime pruning does
    // not alter results (same protocol as the salted rows above)
    Q("q_bloom_join",
      (s, d) => operators.RuntimeFilter.bloomPrunedJoin(
        t(s, d, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity"),
        t(s, d, "orders").filter(col("o_totalprice") >= 450000.0)
          .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice")),
        key = "l_orderkey", mBits = 1 << 14),
      Some("""SELECT l.l_orderkey, l.l_linenumber, l.l_quantity, o.o_totalprice
             |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
             |WHERE o.o_totalprice >= 450000.0""".stripMargin.replace("\n", " ")),
      bench = true),
    // per-file (min,max) boxes of a 2-D z-ordered layout — the exact
    // statistics parquet skipping feeds on (see Layout.zorderAudit)
    Q("layout_zorder",
      (s, d) => operators.Layout.zorderAudit(
        events(s, d).select("event_id", "user_id", "ts_s"),
        "user_id", "ts_s", "event_id", numFiles = 16),
      Some(zorderOracle)),
    // Multi-format source/sink roundtrips: the same events projection
    // written to JSON-lines / ORC and read back through an EXPLICIT
    // schema (schema-on-read, no inference job), then aggregated — the
    // oracle runs the identical aggregate over the original parquet, so
    // the hash match proves the format roundtrip loses neither rows nor
    // values (doubles survive via shortest-repr JSON and typed ORC).
    Q("io_jsonl_roundtrip",
      (s, d) => {
        val tmp = scratchDir("jsonl", d)
        val e = events(s, d)
          .select("event_id", "user_id", "event_type", "ts_s", "value")
        e.write.mode("overwrite").json(tmp)
        s.read.schema("event_id BIGINT, user_id BIGINT, event_type STRING, ts_s BIGINT, value DOUBLE")
          .json(tmp)
          .groupBy("event_type").agg(
            count(lit(1)).as("n"),
            sum(col("event_id")).as("sum_id"),
            sum(col("value").cast(D4)).cast(DoubleType).as("sum_value"),
            min(col("ts_s")).as("min_ts"), max(col("ts_s")).as("max_ts"))
      },
      Some(ioRoundtripOracle)),
    Q("io_csv_roundtrip",
      (s, d) => {
        val tmp = scratchDir("csv", d)
        val e = events(s, d)
          .select("event_id", "user_id", "event_type", "ts_s", "value")
        e.write.mode("overwrite").option("header", "true").csv(tmp)
        s.read.option("header", "true")
          .schema("event_id BIGINT, user_id BIGINT, event_type STRING, ts_s BIGINT, value DOUBLE")
          .csv(tmp)
          .groupBy("event_type").agg(
            count(lit(1)).as("n"),
            sum(col("event_id")).as("sum_id"),
            sum(col("value").cast(D4)).cast(DoubleType).as("sum_value"),
            min(col("ts_s")).as("min_ts"), max(col("ts_s")).as("max_ts"))
      },
      Some(ioRoundtripOracle)),
    Q("io_orc_roundtrip",
      (s, d) => {
        val tmp = scratchDir("orc", d)
        val e = events(s, d)
          .select("event_id", "user_id", "event_type", "ts_s", "value")
        e.write.mode("overwrite").orc(tmp)
        s.read.orc(tmp)
          .groupBy("event_type").agg(
            count(lit(1)).as("n"),
            sum(col("event_id")).as("sum_id"),
            sum(col("value").cast(D4)).cast(DoubleType).as("sum_value"),
            min(col("ts_s")).as("min_ts"), max(col("ts_s")).as("max_ts"))
      },
      Some(ioRoundtripOracle)),
    // Hive-partitioned sink roundtrip: write documents partitioned by
    // lang, read back with a lang filter — the filter resolves at
    // PLANNING time (PartitionFilters; pruning pinned in LayoutSpec),
    // and the hash match proves the partitioned layout loses no rows
    // and corrupts no values on the way through the directory encoding.
    Q("layout_partition_prune",
      (s, d) => {
        val tmp = scratchDir("partition_prune", d)
        operators.Layout.partitionedRoundtrip(
            t(s, d, "documents").select("doc_id", "lang", "n_chars"),
            "lang", tmp)
          .filter(col("lang") === "en")
          .select("doc_id", "lang", "n_chars")
      },
      Some("SELECT doc_id, lang, n_chars FROM documents WHERE lang = 'en'")),
    // per-language token-length distribution (exact quantiles — the
    // "cut the tails per cell" profile); percentile ≡ quantile_cont
    // interpolation, already pinned by q_median
    Q("doc_len_quantiles",
      (s, d) => operators.Profiling.groupQuantiles(
        TextAnalysis.withTokenStats(t(s, d, "documents")),
        Seq("lang"), "n_tokens", Seq(0.25, 0.5, 0.75)).orderBy("lang"),
      Some(s"""SELECT lang, quantile_cont(len($ToksSql), 0.25) AS q25,
             |quantile_cont(len($ToksSql), 0.50) AS q50,
             |quantile_cont(len($ToksSql), 0.75) AS q75,
             |COUNT(*) AS n_rows FROM documents GROUP BY lang""".stripMargin.replace("\n", " "))),
    // BM25 top-k retrieval (rational-idf variant — see the operator
    // scaladoc; log-free so scores are cross-engine bit-exact); the
    // oracle recomputes tf/df/avgdl and the full weighting in SQL
    Q("doc_bm25_topk",
      (s, d) => TextAnalysis.bm25TopK(t(s, d, "documents"), "doc_id", "text",
        Bm25Terms, k = 25),
      Some(bm25Oracle(Bm25Terms, 25))),
    // Text-index freshness under CDC — the lexical sibling of
    // ann_ivf_incremental: the postings + lengths frames are
    // BOOTSTRAPPED from 4/5 of the corpus, one change batch lands
    // (updates ≡ 1 mod 10 append ' merge merge' — a QUERY term, so
    // tf, dl, df, and avgdl all move and stale stats cannot pass;
    // deletes ≡ 3 mod 10; the held-out fifth inserted) through the
    // grouped CDC apply (old rows dropped by one key anti-join, fresh
    // rows re-derived from the winning change — the base is never
    // rescanned), and BM25 runs over the MAINTAINED index while the
    // oracle recomputes from scratch over the merged corpus. The
    // scoring tail is the SAME expression tree as doc_bm25_topk
    // (TextAnalysis.bm25Rank), so the doubles pin bit-exactly.
    Q("doc_bm25_incremental",
      (s, d) => {
        val (boot, feed) = incrementalDocFeed(
          t(s, d, "documents").select(col("doc_id"), col("text")))
        val post1 = operators.Cdc.applyChangesGrouped(
          TextAnalysis.tokenIndex(boot, "doc_id", "text"),
          feed, "doc_id", "seq", "op")(
          ch => TextAnalysis.tokenIndex(ch, "doc_id", "text"))
        val len1 = operators.Cdc.applyChangesGrouped(
          TextAnalysis.docLengths(boot, "doc_id", "text"),
          feed, "doc_id", "seq", "op")(
          ch => TextAnalysis.docLengths(ch, "doc_id", "text"))
        TextAnalysis.bm25TopKFromIndex(post1, len1, "doc_id",
          Bm25Terms, k = 25)
      },
      Some(bm25IncrementalOracle(Bm25Terms, 25)), bench = true),
    // per-language z-score outliers over token counts — group stats
    // from exact integer sums broadcast back onto the scan, z computed
    // map-side; |z| > 2 flags the length anomalies a quality gate drops
    Q("doc_zscore_outliers",
      (s, d) => operators.Profiling.zscoreOutliers(
        TextAnalysis.withTokenStats(t(s, d, "documents")),
        "lang", "n_tokens", z = 2.0)
        .select("doc_id", "lang", "n_tokens", "zscore").orderBy("doc_id"),
      Some(s"""WITH zdt AS (SELECT doc_id, lang, len($ToksSql) AS n_tokens FROM documents),
             |zst AS (SELECT lang, count(*) AS n, sum(n_tokens) AS s, sum(n_tokens * n_tokens) AS ss FROM zdt GROUP BY lang),
             |zj AS (SELECT d.doc_id, d.lang, d.n_tokens,
             |(d.n_tokens - (CAST(s AS DOUBLE) / n)) / sqrt(CAST(ss AS DOUBLE) / n - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)) AS zscore
             |FROM zdt d JOIN zst USING (lang))
             |SELECT doc_id, lang, n_tokens, zscore FROM zj
             |WHERE abs(zscore) > 2.0""".stripMargin.replace("\n", " "))),
    // single-scan column profiling (row/null/distinct/min/max per
    // column); the oracle pays one pass per column instead
    Q("q_profile_orders",
      (s, d) => operators.Profiling.profile(t(s, d, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")),
      Some(Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
        .map(c => s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
           |COUNT(*) - COUNT($c) AS n_nulls, COUNT(DISTINCT $c) AS n_distinct,
           |CAST(MIN($c) AS VARCHAR) AS min_val, CAST(MAX($c) AS VARCHAR) AS max_val
           |FROM orders""".stripMargin.replace("\n", " "))
        .mkString(" UNION ALL "))),
    // per-group Pearson correlation from order-independent decimal
    // sufficient statistics; the identical double formula on identical
    // exact sums → bit-identical corr in both engines (native corr is
    // an order-dependent double fold and could not hash-match). Both
    // engines clamp into [-1,1] IDENTICALLY (the raw formula can land
    // 1 ulp outside on collinear groups — √6·√24 < 12 in doubles);
    // both emit NULL for zero-variance groups (denominator 0) and pass
    // any NaN through unclamped.
    Q("q_corr_grouped",
      (s, d) => operators.Profiling.exactGroupCorr(t(s, d, "lineitem"),
        Seq("l_returnflag"), "l_quantity", "l_extendedprice"),
      Some("""WITH cs AS (SELECT l_returnflag, CAST(COUNT(*) AS DOUBLE) AS n,
             |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
             |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
             |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
             |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy
             |FROM lineitem GROUP BY l_returnflag),
             |nd AS (SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
             |n * sxy - sx * sy AS num,
             |sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy) AS den
             |FROM cs)
             |SELECT l_returnflag, n_rows,
             |CASE WHEN den = 0 THEN NULL
             |WHEN isnan(num / den) THEN num / den
             |ELSE least(greatest(num / den, -1.0), 1.0) END AS corr_xy
             |FROM nd""".stripMargin.replace("\n", " "))),
  )

  // ---------------------------------------------------------------------
  // Data-quality gates: a Deequ-style expectation battery, robust
  // (median/MAD) outlier flagging, and basket-affinity pairs — the
  // checks a pipeline runs on every ingested batch before training.
  // ---------------------------------------------------------------------
  private val dataQuality = Vector(
    // Expectation battery over orders: ONE pass computes every metric
    // (count/null-count/distinct/min/domain violations), then a stack()
    // unpivots the single metrics row into (check_name, observed,
    // passed) verdicts. At 100 TB this is one scan + a 1-row aggregate;
    // the distinct-count is the only two-stage piece.
    Q("dq_expectations",
      (s, d) => t(s, d, "orders").agg(
          count(lit(1)).as("n_rows"),
          count(col("o_custkey")).as("n_custkey"),
          countDistinct(col("o_orderkey")).as("n_distinct_key"),
          min(col("o_totalprice")).as("min_price"),
          sum(when(col("o_orderstatus").isin("F", "O", "P"), 0L)
            .otherwise(1L)).as("n_bad_status"),
          sum(when(col("o_orderdate").isNull, 1L).otherwise(0L)).as("n_null_date"))
        .select(expr("""stack(5,
          'completeness_custkey', CAST(n_custkey AS DOUBLE) / n_rows, n_custkey = n_rows,
          'uniqueness_orderkey',  CAST(n_distinct_key AS DOUBLE) / n_rows, n_distinct_key = n_rows,
          'min_price_nonneg',     min_price, min_price >= 0.0D,
          'status_in_domain',     CAST(n_bad_status AS DOUBLE), n_bad_status = 0,
          'date_completeness',    CAST(n_null_date AS DOUBLE), n_null_date = 0
        ) AS (check_name, observed, passed)""")),
      Some("""WITH dqm AS (SELECT COUNT(*) AS n_rows, COUNT(o_custkey) AS n_custkey,
             |COUNT(DISTINCT o_orderkey) AS n_distinct_key, MIN(o_totalprice) AS min_price,
             |SUM(CASE WHEN o_orderstatus IN ('F','O','P') THEN 0 ELSE 1 END) AS n_bad_status,
             |SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS n_null_date FROM orders)
             |SELECT 'completeness_custkey' AS check_name, CAST(n_custkey AS DOUBLE) / n_rows AS observed, n_custkey = n_rows AS passed FROM dqm
             |UNION ALL SELECT 'uniqueness_orderkey', CAST(n_distinct_key AS DOUBLE) / n_rows, n_distinct_key = n_rows FROM dqm
             |UNION ALL SELECT 'min_price_nonneg', min_price, min_price >= 0.0 FROM dqm
             |UNION ALL SELECT 'status_in_domain', CAST(n_bad_status AS DOUBLE), n_bad_status = 0 FROM dqm
             |UNION ALL SELECT 'date_completeness', CAST(n_null_date AS DOUBLE), n_null_date = 0 FROM dqm""".stripMargin.replace("\n", " ")),
      bench = true),
    // Robust per-group outliers: |x − median| > 2·MAD (the testdata
    // price distribution is near-uniform — a light tail — so the
    // textbook 3·MAD flags nothing; 2·MAD is the meaningful gate
    // here and the multiplier is the caller's knob). Two tiny
    // grouped-percentile aggregates (one row per status) broadcast back
    // onto the scan — the flagging pass is map-only. percentile ≡
    // quantile_cont interpolation is already pinned by q_median;
    // the deviation/threshold arithmetic is identical IEEE ops.
    Q("q_mad_outliers",
      (s, d) => {
        val o = t(s, d, "orders")
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
        val med = o.groupBy("o_orderstatus")
          .agg(expr("percentile(o_totalprice, 0.5D)").as("med"))
        val stats = o.join(broadcast(med), "o_orderstatus")
          .groupBy("o_orderstatus").agg(
            min(col("med")).as("med"),
            expr("percentile(abs(o_totalprice - med), 0.5D)").as("mad"))
        o.join(broadcast(stats), "o_orderstatus")
          .filter(abs(col("o_totalprice") - col("med")) > lit(2.0) * col("mad"))
          .select("o_orderkey", "o_orderstatus", "o_totalprice", "med", "mad")
      },
      Some("""WITH mo AS (SELECT o_orderstatus, quantile_cont(o_totalprice, 0.5) AS med FROM orders GROUP BY 1),
             |ma AS (SELECT o.o_orderstatus, MIN(mo.med) AS med,
             |quantile_cont(abs(o.o_totalprice - mo.med), 0.5) AS mad
             |FROM orders o JOIN mo ON o.o_orderstatus = mo.o_orderstatus GROUP BY 1)
             |SELECT o.o_orderkey, o.o_orderstatus, o.o_totalprice, ma.med, ma.mad
             |FROM orders o JOIN ma ON o.o_orderstatus = ma.o_orderstatus
             |WHERE abs(o.o_totalprice - ma.med) > 2.0 * ma.mad""".stripMargin.replace("\n", " "))),
    // Market-basket co-purchase pairs (the order-basket sibling of
    // ev_cooccurrence): distinct (order, part) first, self-join within
    // the order — fan-out bounded by basket size squared, never the raw
    // table — then a partial-agg rollup on the pair. Support ≥ 2 keeps
    // the output the affinity shortlist, not the all-pairs tail.
    Q("q_copurchase_pairs",
      (s, d) => {
        val li = t(s, d, "lineitem")
          .select("l_orderkey", "l_partkey").distinct()
        li.toDF("k", "pa").join(li.toDF("k", "pb"), Seq("k"))
          .filter(col("pa") < col("pb"))
          .groupBy("pa", "pb").agg(count(lit(1)).as("n_orders"))
          .filter(col("n_orders") >= 2)
      },
      Some("""WITH bli AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem)
             |SELECT a.p AS pa, b.p AS pb, COUNT(*) AS n_orders
             |FROM bli a JOIN bli b ON a.k = b.k AND a.p < b.p
             |GROUP BY 1, 2 HAVING COUNT(*) >= 2""".stripMargin.replace("\n", " "))),
  )

  // ---------------------------------------------------------------------
  // Multimodal: documents carry a REAL binary raster payload — the text
  // bytes laid out as a 24-wide binary PGM (P5) image ("P5\n24 {h}\n255\n"
  // header + pixel plane, space-padded to fill the last row).
  // operators.Multimodal parses the actual Netpbm header+pixel format
  // (pure header grammar, no codec libs), so decode → features →
  // resize → phash all run on decoded pixels, and DuckDB re-derives
  // every byte from the same layout rule (the corpus is pure ASCII →
  // ascii(char) == pixel byte; padding is the space byte 32).
  // ---------------------------------------------------------------------

  private val PgmW = 24

  /** documents + a real binary PGM (P5) payload derived from `text`:
    * pixels are the text bytes row-major at width 24, space-padded. */
  private def withPayload(df: DataFrame): DataFrame = {
    val len = length(col("text"))
    val hgt = floor((len + lit(PgmW - 1)) / lit(PgmW)).cast(IntegerType)
    val pad = (hgt * lit(PgmW) - len).cast(IntegerType)
    df.withColumn("payload", concat(
      concat(lit("P5\n"), lit(PgmW).cast(StringType), lit(" "),
        hgt.cast(StringType), lit("\n255\n")).cast(BinaryType),
      col("text").cast(BinaryType),
      lit(" " * (PgmW - 1)).substr(lit(1), pad).cast(BinaryType)))
  }

  /** Media replica rule: every doc_id ≡ 0 (mod 5) gets a near-duplicate
    * raster — the same payload with its FIRST pixel replaced by '~'
    * (one local edit moves one block sum slightly, so the blockhash
    * lands within a couple of hamming bits of the original) — under
    * doc_id + 1_000_000. The media analog of the corpus's Caesar-shift
    * text replicas: it makes the near-dup pair set provably non-empty,
    * so mm_phash_pairs verifies real pair FORMATION cross-engine, not
    * agreement on an empty set. */
  private def withMediaReplicas(df: DataFrame): DataFrame =
    df.select(col("doc_id"), col("text")).unionByName(
      df.filter(col("doc_id") % 5 === 0).select(
        (col("doc_id") + lit(1000000L)).as("doc_id"),
        concat(lit("~"), expr("substring(text, 2)")).as("text")))

  /** The same replica rule in DuckDB. */
  private val MediaReplicaSql =
    """mdocs AS (SELECT doc_id, text FROM documents
      |UNION ALL SELECT doc_id + 1000000, '~' || text[2:] FROM documents WHERE doc_id % 5 = 0)""".stripMargin.replace("\n", " ")

  /** DuckDB mirror of the PGM layout rule over corpus `src`: text
    * length, raster rows `hh`, padded pixel count `n`. */
  private def pgmGeom(src: String): String =
    s"""pgn AS (SELECT doc_id, text, length(text) AS len,
       |(length(text) + 23) // 24 AS hh, 24 * ((length(text) + 23) // 24) AS n FROM $src)""".stripMargin.replace("\n", " ")

  /** Pixel byte `i` (1-based) of the PGM pixel plane: a text byte
    * inside the doc, the space pad after it. */
  private val PixSql = "CASE WHEN i <= len THEN ascii(text[i:i])::BIGINT ELSE 32 END"

  /** Pooled per-mille intensity features (8 cells), the DuckDB mirror
    * of [[operators.Multimodal.decodeFeatures]]'s pixel pooling:
    * `⌊sum_c·1000 / (size_c·255)⌋` — exact integer arithmetic in both
    * engines. */
  private def mmFeaturesOracle: String =
    s"""WITH ${pgmGeom("documents")},
       |fs AS (SELECT doc_id, n, list_transform(generate_series(0, 7), c ->
       |COALESCE(list_sum(list_transform(generate_series((c*n)//8 + 1, ((c+1)*n)//8), i -> $PixSql)), 0)) AS cs,
       |list_transform(generate_series(0, 7), c -> ((c+1)*n)//8 - (c*n)//8) AS sz FROM pgn)
       |SELECT doc_id AS id, CAST(24 AS INTEGER) AS width, CAST(n // 24 AS INTEGER) AS height,
       |array_to_string(list_transform(generate_series(0, 7), c ->
       |CAST(CASE WHEN sz[c+1] = 0 THEN 0 ELSE (cs[c+1] * 1000) // (sz[c+1] * 255) END AS VARCHAR)), ',') AS features_q
       |FROM fs""".stripMargin.replace("\n", " ")

  /** Nearest-neighbor resample geometry to fit (8, 8): same
    * aspect-preserving scale and integer-truncated source index
    * `(x·w/nw, y·h/nh)` as [[operators.Multimodal.resampleRaster]].
    * The hh = 0 branches mirror the Scala side's empty-raster guard
    * (an empty text makes a 24×0 payload → 0×0 resample, zero
    * checksum) so the oracle stays total if a future corpus admits
    * empty documents. Ends in `dim`(doc_id, text, len, hh, nw, nh). */
  private def mmResizeCtes: String =
    s"""${pgmGeom("documents")},
       |sc AS (SELECT doc_id, text, len, hh, least(1.0::DOUBLE, least(8.0::DOUBLE / 24.0,
       |CASE WHEN hh = 0 THEN 1.0::DOUBLE ELSE 8.0::DOUBLE / hh END)) AS scale FROM pgn),
       |dim AS (SELECT doc_id, text, len, hh,
       |CASE WHEN hh = 0 THEN 0 ELSE greatest(1, CAST(trunc(24 * scale) AS INTEGER)) END AS nw,
       |CASE WHEN hh = 0 THEN 0 ELSE greatest(1, CAST(trunc(hh * scale) AS INTEGER)) END AS nh FROM sc)""".stripMargin.replace("\n", " ")

  /** Exact checksum of the resampled plane — proves the resample moved
    * real pixels, not just the header dims. */
  private val MmPixSumSql =
    """CAST(COALESCE(list_sum(list_transform(
      |list_transform(generate_series(0, nw * nh - 1), k -> (((k // nw) * hh) // nh) * 24 + ((k % nw) * 24) // nw + 1),
      |si -> CASE WHEN si <= len THEN ascii(text[si:si])::BIGINT ELSE 32 END)), 0) AS BIGINT) AS pix_sum""".stripMargin.replace("\n", " ")

  private def mmResizeOracle: String =
    s"""WITH $mmResizeCtes
       |SELECT doc_id AS id, CAST(nw AS INTEGER) AS width, CAST(nh AS INTEGER) AS height,
       |$MmPixSumSql
       |FROM dim""".stripMargin.replace("\n", " ")

  /** Thumbnail oracle: the re-encoded P5 payload's byte count
    * (canonical "P5\n{w} {h}\n255\n" header + plane) plus the
    * re-DECODED dims and checksum — pins encode ∘ decode identity. */
  private def mmThumbnailOracle: String =
    s"""WITH $mmResizeCtes
       |SELECT doc_id AS id,
       |CAST(9 + length(CAST(nw AS VARCHAR)) + length(CAST(nh AS VARCHAR)) + nw * nh AS BIGINT) AS n_bytes,
       |CAST(nw AS INTEGER) AS width, CAST(nh AS INTEGER) AS height,
       |$MmPixSumSql
       |FROM dim""".stripMargin.replace("\n", " ")

  /** CTE chain ending in `phsg`(doc_id, h) — the DuckDB re-derivation
    * of [[operators.Multimodal.perceptualHash]] over corpus `src`:
    * 64 block sums over the PIXEL plane, exact cross-multiplied mean
    * threshold, HUGEINT bit assembly, signed 64-bit view. */
  private def phashCtes(src: String): String =
    s"""${pgmGeom(src)},
       |phs AS (SELECT doc_id, n, list_transform(generate_series(0, 63), c ->
       |COALESCE(list_sum(list_transform(generate_series((c*n)//64 + 1, ((c+1)*n)//64), i -> $PixSql)), 0)) AS bs FROM pgn),
       |pht AS (SELECT doc_id, n, bs, COALESCE(list_sum(bs), 0) AS total FROM phs),
       |phh AS (SELECT doc_id, CAST(COALESCE(list_sum(list_transform(generate_series(0, 63), c ->
       |CASE WHEN bs[c+1] * n > total * (((c+1)*n)//64 - (c*n)//64) THEN (1::HUGEINT << c) ELSE 0::HUGEINT END)), 0) AS HUGEINT) AS su FROM pht),
       |phsg AS (SELECT doc_id, (CASE WHEN su >= 9223372036854775808 THEN su - 18446744073709551616 ELSE su END)::BIGINT AS h FROM phh)""".stripMargin.replace("\n", " ")

  private def phashOracle: String =
    s"WITH ${phashCtes("documents")} SELECT doc_id AS id, h AS phash FROM phsg ORDER BY id"

  /** Incremental-phash oracle: a scratch [[phashCtes]] rebuild over
    * the MERGED replica-extended media corpus — the change feed's net
    * effect as one relational transform (deletes ≡ 3 mod 10 absent,
    * updates ≡ 1 mod 10 re-rendered with ' merge merge' appended —
    * the payload, and therefore the hash, must move — held-out fifth
    * present). The Spark side must reach the same bit pattern THROUGH
    * the maintained index (bootstrap hash + one folded change batch),
    * pinning maintained ≡ rebuilt end to end. */
  private val phashIncrementalOracle: String =
    s"""WITH $MediaReplicaSql,
       |mmer AS (SELECT doc_id, CASE WHEN doc_id % 10 = 1 THEN concat(text, ' merge merge') ELSE text END AS text FROM mdocs WHERE doc_id % 10 <> 3),
       |${phashCtes("mmer")}
       |SELECT doc_id AS id, h AS phash FROM phsg ORDER BY id""".stripMargin.replace("\n", " ")

  /** Pair oracle over originals + seeded replicas: the O(n²) hamming
    * check (affordable at sf0.01; the Spark side's pigeonhole buckets
    * are the scale path, same output). */
  private def phashPairsOracle(maxHamming: Int): String =
    s"""WITH $MediaReplicaSql, ${phashCtes("mdocs")}
       |SELECT x.doc_id AS a, y.doc_id AS b, CAST(bit_count(xor(x.h, y.h)) AS INTEGER) AS hamming
       |FROM phsg x JOIN phsg y ON x.doc_id < y.doc_id
       |WHERE bit_count(xor(x.h, y.h)) <= $maxHamming
       |ORDER BY a, b""".stripMargin.replace("\n", " ")

  private val multimodal = Vector(
    // Real decode: n_bytes is the payload length (header + pixels),
    // width/height come from PARSING the P5 header — the oracle
    // re-derives both from the layout rule.
    Q("mm_decode_meta",
      (s, d) => operators.Multimodal
        .decodeFeatures(withPayload(t(s, d, "documents")), "doc_id", "payload")
        .select("id", "n_bytes", "width", "height"),
      Some("""SELECT doc_id AS id,
             |CAST(11 + length(CAST((length(text) + 23) // 24 AS VARCHAR)) + 24 * ((length(text) + 23) // 24) AS BIGINT) AS n_bytes,
             |CAST(24 AS INTEGER) AS width, CAST((length(text) + 23) // 24 AS INTEGER) AS height
             |FROM documents""".stripMargin.replace("\n", " "))),
    // Pooled-intensity features over the DECODED pixel plane. The
    // per-mille quantization is part of the feature definition (exact
    // integers in [0,1000] stored as float), so the cast-to-long
    // projection is lossless and the oracle re-derives every cell.
    Q("mm_features",
      (s, d) => operators.Multimodal
        .decodeFeatures(withPayload(t(s, d, "documents")), "doc_id", "payload")
        .select(col("id"), col("width"), col("height"),
          concat_ws(",", transform(col("features"),
            f => f.cast(LongType).cast(StringType))).as("features_q")),
      Some(mmFeaturesOracle)),
    // Real nearest-neighbor resample into an 8×8 box: dims AND the
    // exact checksum of the resampled pixels are oracle-verified.
    Q("mm_resize",
      (s, d) => operators.Multimodal
        .resizeTo(withPayload(t(s, d, "documents")), "doc_id", "payload",
          maxW = 8, maxH = 8)
        .select("id", "width", "height", "pix_sum"),
      Some(mmResizeOracle)),
    // Header-ONLY metadata sweep — the first pass a 100 TB media column
    // gets: format + real parsed dims with no pixel materialization.
    Q("mm_describe",
      (s, d) => operators.Multimodal
        .describeMedia(withPayload(t(s, d, "documents")), "doc_id", "payload")
        .select("id", "format", "width", "height", "n_bytes"),
      Some("""SELECT doc_id AS id, 'pgm' AS format, CAST(24 AS INTEGER) AS width,
             |CAST((length(text) + 23) // 24 AS INTEGER) AS height,
             |CAST(11 + length(CAST((length(text) + 23) // 24 AS VARCHAR)) + 24 * ((length(text) + 23) // 24) AS BIGINT) AS n_bytes
             |FROM documents""".stripMargin.replace("\n", " "))),
    // The media WRITE path end to end: decode → resample → re-ENCODE
    // as P5, then decode the thumbnail AGAIN and report its dims +
    // checksum. A green row proves encode ∘ decode is the identity
    // cross-engine (the second decode reproduces exactly the resample
    // the oracle derives) and pins the canonical header byte count.
    Q("mm_thumbnail",
      (s, d) => {
        val th = operators.Multimodal.thumbnails(
          withPayload(t(s, d, "documents")), "doc_id", "payload",
          maxW = 8, maxH = 8)
        operators.Multimodal.resizeTo(th, "id", "payload", maxW = 8, maxH = 8)
          .join(th.select(col("id"), col("n_bytes")), "id")
          .select("id", "n_bytes", "width", "height", "pix_sum")
      },
      Some(mmThumbnailOracle)),
    Q("mm_frame_sample",
      (s, d) => operators.Multimodal
        .sampleFrames(withPayload(t(s, d, "documents")), "doc_id", "payload", stride = 128)
        .groupBy("doc_id").agg(count(lit(1)).as("n_frames"), max("frame_off").as("last_off")),
      Some("""WITH p AS (SELECT doc_id, 11 + length(CAST((length(text) + 23) // 24 AS VARCHAR)) + 24 * ((length(text) + 23) // 24) AS m FROM documents)
             |SELECT doc_id, (m - 1) // 128 + 1 AS n_frames, CAST(((m - 1) // 128) * 128 AS BIGINT) AS last_off FROM p""".stripMargin.replace("\n", " "))),
    // Perceptual media hash: blockhash (aHash family) over the DECODED
    // pixel plane — every per-doc bit pattern hash-verified against
    // DuckDB's independent re-derivation (500 rows covering header
    // parse, pooling, exact mean threshold, bit assembly, signed view).
    Q("mm_phash",
      (s, d) => operators.Multimodal.perceptualHash(
        withPayload(t(s, d, "documents")), "doc_id", "payload")
        .orderBy("id"),
      Some(phashOracle)),
    // Perceptual media near-dup: the blockhash + multi-index hamming
    // search (Dedup.hammingNearPairsMih) — extends the dedup family to
    // the media column. Radius 7 over 4 SIXTEEN-bit chunks with
    // single-bit-flip probes: exact by the pigeonhole, and the 65 536-
    // value chunk keys keep candidates D²/2^16-bounded (the plain
    // 8-bit-chunk pigeonhole saturated its 256 bucket values and went
    // quadratic at 10× — measured before the switch). The input is
    // originals ∪ seeded one-pixel-edit replicas (withMediaReplicas),
    // so the pair set is NON-EMPTY by construction — both engines must
    // re-derive the same real pairs, not agree on an empty set.
    // Media near-dup GROUPS: the mm_phash_pairs edge set resolved to
    // clusters with a canonical keeper (min id) — the media analog of
    // dedup_clusters, riding the same pointer-jumping CC machinery;
    // every hashed medium is a vertex, so untouched files form
    // singleton clusters and the keep flag IS the dedup decision.
    Q("mm_phash_clusters",
      (s, d) => {
        val hashed = operators.Multimodal.perceptualHash(
          withPayload(withMediaReplicas(t(s, d, "documents"))),
          "doc_id", "payload")
        val pairs = operators.Dedup.hammingNearPairsMih(hashed, "id",
          "phash", maxHamming = 7, chunks = 4).select("a", "b")
        operators.Dedup.connectedComponents(hashed.select(col("id")),
          "id", pairs, "a", "b").orderBy("id")
      },
      Some(s"""WITH RECURSIVE $MediaReplicaSql, ${phashCtes("mdocs")},
             |mcp AS (SELECT x.doc_id AS a, y.doc_id AS b FROM phsg x JOIN phsg y ON x.doc_id < y.doc_id WHERE bit_count(xor(x.h, y.h)) <= 7),
             |mce AS (SELECT a AS u, b AS v FROM mcp UNION SELECT b, a FROM mcp),
             |mcr(u, r) AS (SELECT doc_id, doc_id FROM phsg UNION SELECT e.u, p.r FROM mce e JOIN mcr p ON p.u = e.v)
             |SELECT u AS id, MIN(r) AS cluster_id, (MIN(r) = u) AS keep
             |FROM mcr GROUP BY u ORDER BY u""".stripMargin.replace("\n", " "))),
    // Index freshness for the MEDIA column — the phash index joins the
    // freshness family (group-agg view, join view, dedup signatures,
    // IVF, BM25 postings, CMS sketch): bootstrapped from 4/5 of the
    // replica-extended corpus, one Debezium-style change batch lands
    // (updates ≡ 1 mod 10 re-rendered — the hash must move; deletes
    // ≡ 3 mod 10; the held-out fifth inserted), each I/U payload
    // re-hashed map-side and folded key-level. The emitted frame IS
    // the maintained index; near-dup search over such an index is
    // mm_phash_pairs unchanged; the crash/exactly-once protocol is
    // streaming/PhashStream, pinned in PhashStreamSpec.
    Q("mm_phash_incremental",
      (s, d) => {
        val media = withMediaReplicas(t(s, d, "documents"))
        val (boot, feed) = incrementalDocFeed(media)
        val idx0 = operators.Multimodal.perceptualHash(
          withPayload(boot), "doc_id", "payload")
        operators.Multimodal.phashMaintain(idx0,
            withPayload(feed.filter(col("op") =!= "D"))
              .unionByName(feed.filter(col("op") === "D")
                .withColumn("payload", lit(null).cast(BinaryType))),
            "doc_id", "payload", "seq", "op")
          .orderBy("id")
      },
      Some(phashIncrementalOracle)),
    Q("mm_phash_pairs",
      (s, d) => operators.Dedup.hammingNearPairsMih(
        operators.Multimodal.perceptualHash(
          withPayload(withMediaReplicas(t(s, d, "documents"))),
          "doc_id", "payload"),
        "id", "phash", maxHamming = 7, chunks = 4).orderBy("a", "b"),
      Some(phashPairsOracle(maxHamming = 7)),
      // benched: the candidate-generation strategy here has a history
      // (the saturating pigeonhole) — keep the MIH path regression-timed
      bench = true),
    // The binaryFile SOURCE — how a media corpus actually lands on a
    // cluster (object-store files → one row per file with
    // path/length/content) before anyone converts it to parquet. The
    // query materializes a bounded file fixture (every 5th doc's PGM
    // payload as its own file — test plumbing, not the measured
    // operator), ingests it through binaryFile, recovers the id from
    // the filename, parses the raster header from the actual bytes,
    // and checksums every content byte. The oracle re-derives file
    // length, dims, and the byte checksum from the documents table and
    // the payload layout rule, so a hash match proves the file write →
    // binaryFile read → decode chain is byte-lossless end to end. At
    // corpus scale the fixture step disappears (the files already
    // exist) and binaryFile's per-file rows partition by file — the
    // scan shape is embarrassingly parallel.
    Q("mm_ingest_binary",
      (s, d) => {
        val tmp = scratchDir("binfiles", d)
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tmp))
        // The fixture is bounded (1 in 5 docs, ≤ a few hundred files at
        // verify scale), so collect it and write on the DRIVER: an
        // executor-side foreach into a driver-local path is only correct
        // when executors share the driver's filesystem — true in local
        // mode, silently wrong on a real cluster. Driver-side writing
        // makes the local-FS assumption structural, not environmental.
        withPayload(t(s, d, "documents").filter(col("doc_id") % 5 === 0))
          .select(col("doc_id"), col("payload"))
          .collect()
          .foreach { r =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(tmp, f"doc_${r.getLong(0)}%09d.pgm"),
              r.getAs[Array[Byte]](1))
          }
        val files = s.read.format("binaryFile")
          .option("pathGlobFilter", "*.pgm").load(tmp)
          .select(
            regexp_extract(col("path"), "doc_(\\d+)\\.pgm$", 1)
              .cast(LongType).as("doc_id"),
            col("length"), col("content"))
        val sums = files.select(col("doc_id").as("id"),
          col("length").as("file_bytes"),
          // the corpus is pure ASCII (header included), so the UTF-8
          // string view's codepoints ARE the bytes; split once and fold
          // over the char array — linear, where a per-index substring
          // of the full string would be O(bytes^2) per file
          expr("""aggregate(transform(split(CAST(content AS STRING), ''),
                 |ch -> ascii(ch)), 0L, (acc, x) -> acc + x)"""
            .stripMargin.replace("\n", " ")).as("checksum"))
        operators.Multimodal.describeMedia(files, "doc_id", "content")
          .join(sums, "id")
          .select("id", "format", "width", "height", "n_bytes",
            "file_bytes", "checksum")
      },
      Some(mmIngestOracle)),
  )

  /** Oracle for [[mm_ingest_binary]]: byte count, dims, and whole-file
    * byte checksum re-derived from the documents table under the PGM
    * layout rule. Header "P5\n24 {h}\n255\n" = 11 constant chars (byte
    * sum 453) + the digits of h; plane = text bytes then space pad. */
  private def mmIngestOracle: String =
    s"""WITH ${pgmGeom("documents WHERE doc_id % 5 = 0")},
       |ih AS (SELECT doc_id, text, len, hh, n, CAST(hh AS VARCHAR) AS hstr FROM pgn)
       |SELECT doc_id AS id, 'pgm' AS format, CAST(24 AS INTEGER) AS width,
       |CAST(hh AS INTEGER) AS height,
       |CAST(11 + length(hstr) + n AS BIGINT) AS n_bytes,
       |CAST(11 + length(hstr) + n AS BIGINT) AS file_bytes,
       |CAST(453
       | + COALESCE(list_sum(list_transform(generate_series(1, length(hstr)), i -> ascii(hstr[i:i])::BIGINT)), 0)
       | + COALESCE(list_sum(list_transform(generate_series(1, n), i -> $PixSql)), 0) AS BIGINT) AS checksum
       |FROM ih""".stripMargin.replace("\n", " ")

  // ---------------------------------------------------------------------
  // CDC snapshot maintenance. The change feed is derived
  // DETERMINISTICALLY from orders itself (no synthetic data): deletes
  // for keys ≡0 (mod 10), an update for ≡1/≡2 at seq 1, a SECOND update
  // for ≡1 at seq 2 (latest-wins must pick it), and inserts of fresh
  // keys (+1_000_000) for ≡5. Both engines derive the identical feed,
  // so the merge/history arithmetic is what the hash pins.
  // ---------------------------------------------------------------------
  private def cdcSnapshot(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders").select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")

  private def cdcChanges(s: SparkSession, d: String): DataFrame = {
    val o = cdcSnapshot(s, d)
    val del = o.filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), lit(1L).as("seq"), lit("D").as("op"),
        lit(null).cast("long").as("o_custkey"),
        lit(null).cast("string").as("o_orderstatus"),
        lit(null).cast("double").as("o_totalprice"))
    val upd1 = o.filter(col("o_orderkey") % 10 === 1 || col("o_orderkey") % 10 === 2)
      .select(col("o_orderkey"), lit(1L).as("seq"), lit("U").as("op"),
        col("o_custkey"), lit("X").as("o_orderstatus"),
        (col("o_totalprice") + 1000.0).as("o_totalprice"))
    val upd2 = o.filter(col("o_orderkey") % 10 === 1)
      .select(col("o_orderkey"), lit(2L).as("seq"), lit("U").as("op"),
        col("o_custkey"), lit("Y").as("o_orderstatus"),
        (col("o_totalprice") + 2000.0).as("o_totalprice"))
    val ins = o.filter(col("o_orderkey") % 10 === 5)
      .select((col("o_orderkey") + 1000000L).as("o_orderkey"),
        lit(1L).as("seq"), lit("I").as("op"),
        col("o_custkey"), lit("N").as("o_orderstatus"), col("o_totalprice"))
    del.unionByName(upd1).unionByName(upd2).unionByName(ins)
  }

  /** The same change feed in DuckDB SQL. */
  private val cdcChangesSql: String =
    """cdcch AS (
      |SELECT o_orderkey AS k, CAST(1 AS BIGINT) AS seq, 'D' AS op, CAST(NULL AS BIGINT) AS c, CAST(NULL AS VARCHAR) AS st, CAST(NULL AS DOUBLE) AS tp FROM orders WHERE o_orderkey % 10 = 0
      |UNION ALL SELECT o_orderkey, CAST(1 AS BIGINT), 'U', o_custkey, 'X', o_totalprice + 1000.0 FROM orders WHERE o_orderkey % 10 IN (1, 2)
      |UNION ALL SELECT o_orderkey, CAST(2 AS BIGINT), 'U', o_custkey, 'Y', o_totalprice + 2000.0 FROM orders WHERE o_orderkey % 10 = 1
      |UNION ALL SELECT o_orderkey + 1000000, CAST(1 AS BIGINT), 'I', o_custkey, 'N', o_totalprice FROM orders WHERE o_orderkey % 10 = 5)""".stripMargin.replace("\n", " ")

  /** Customer dimension trimmed to the join-view payload, with the
    * join column pre-named to the fact side's FK (maintainJoinView
    * joins both inputs on ONE shared column name). */
  private def cdcCustSnapshot(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer").select(col("c_custkey").as("o_custkey"),
      col("c_name"), col("c_mktsegment"))

  /** Extra order changes for the join view: keys ≡7 (mod 10) are
    * re-pointed to the NEXT customer (o_custkey + 1) — the MOVE case
    * whose old-FK retraction is the delta-join algebra's whole
    * subtlety. Kept out of [[cdcChanges]] so the snapshot-maintenance
    * oracles (cdc_apply/scd2/ivm_agg) stay untouched; ≡7 collides with
    * none of that feed's key classes. */
  private def cdcOrderMoves(s: SparkSession, d: String): DataFrame =
    cdcSnapshot(s, d).filter(col("o_orderkey") % 10 === 7)
      .select(col("o_orderkey"), lit(1L).as("seq"), lit("U").as("op"),
        (col("o_custkey") + 1L).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"))

  /** Deterministic change feed on the CUSTOMER side (B of the join
    * view): deletes ≡3 (their orders vanish from the view), a segment
    * update ≡4, inserts of fresh keys ≡6 (+1e6 — referenced by no
    * order, so the B-insert path is exercised with zero view rows). */
  private def cdcCustChanges(s: SparkSession, d: String): DataFrame = {
    val c = cdcCustSnapshot(s, d)
    val del = c.filter(col("o_custkey") % 10 === 3)
      .select(col("o_custkey"), lit(1L).as("seq"), lit("D").as("op"),
        lit(null).cast("string").as("c_name"),
        lit(null).cast("string").as("c_mktsegment"))
    val upd = c.filter(col("o_custkey") % 10 === 4)
      .select(col("o_custkey"), lit(1L).as("seq"), lit("U").as("op"),
        col("c_name"), lit("MOVED").as("c_mktsegment"))
    val ins = c.filter(col("o_custkey") % 10 === 6)
      .select((col("o_custkey") + 1000000L).as("o_custkey"),
        lit(1L).as("seq"), lit("I").as("op"),
        col("c_name"), lit("NEW").as("c_mktsegment"))
    del.unionByName(upd).unionByName(ins)
  }

  /** Join-IVM oracle: FULL recompute — merge both change feeds into
    * their snapshots independently (the cdc_apply latest-wins shape on
    * each side), then join. The registered query maintains the view
    * incrementally from the previous materialization; hash equality
    * proves delta maintenance ≡ recompute, including the ≡7 FK moves
    * and the ≡3 customer deletes. */
  private val ivmJoinOracle: String =
    s"""WITH $cdcChangesSql,
       |civch AS (SELECT * FROM cdcch UNION ALL SELECT o_orderkey, CAST(1 AS BIGINT), 'U', o_custkey + 1, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 10 = 7),
       |civl AS (SELECT k, op, c, st, tp FROM (
       |  SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC, op DESC) AS rn FROM civch) WHERE rn = 1),
       |civa AS (SELECT COALESCE(l.k, s.o_orderkey) AS o_orderkey,
       |CASE WHEN l.k IS NOT NULL THEN l.c ELSE s.o_custkey END AS o_custkey,
       |CASE WHEN l.k IS NOT NULL THEN l.st ELSE s.o_orderstatus END AS o_orderstatus,
       |CASE WHEN l.k IS NOT NULL THEN l.tp ELSE s.o_totalprice END AS o_totalprice
       |FROM orders s FULL OUTER JOIN civl l ON s.o_orderkey = l.k
       |WHERE l.op IS NULL OR l.op <> 'D'),
       |civbch AS (SELECT c_custkey AS bk, CAST(1 AS BIGINT) AS seq, 'D' AS op, CAST(NULL AS VARCHAR) AS nm, CAST(NULL AS VARCHAR) AS seg FROM customer WHERE c_custkey % 10 = 3
       |UNION ALL SELECT c_custkey, CAST(1 AS BIGINT), 'U', c_name, 'MOVED' FROM customer WHERE c_custkey % 10 = 4
       |UNION ALL SELECT c_custkey + 1000000, CAST(1 AS BIGINT), 'I', c_name, 'NEW' FROM customer WHERE c_custkey % 10 = 6),
       |civbl AS (SELECT bk, op, nm, seg FROM (
       |  SELECT *, row_number() OVER (PARTITION BY bk ORDER BY seq DESC, op DESC) AS rn FROM civbch) WHERE rn = 1),
       |civb AS (SELECT COALESCE(l.bk, s.c_custkey) AS c_custkey,
       |CASE WHEN l.bk IS NOT NULL THEN l.nm ELSE s.c_name END AS c_name,
       |CASE WHEN l.bk IS NOT NULL THEN l.seg ELSE s.c_mktsegment END AS c_mktsegment
       |FROM customer s FULL OUTER JOIN civbl l ON s.c_custkey = l.bk
       |WHERE l.op IS NULL OR l.op <> 'D')
       |SELECT a.o_orderkey, a.o_custkey, a.o_orderstatus, a.o_totalprice, b.c_name, b.c_mktsegment
       |FROM civa a JOIN civb b ON b.c_custkey = a.o_custkey
       |ORDER BY a.o_orderkey""".stripMargin.replace("\n", " ")

  private val cdc = Vector(
    // next-snapshot merge: latest change per key wins; D drops, I/U
    // replace-or-append. Oracle merges independently via window rank +
    // full outer join.
    Q("cdc_apply",
      (s, d) => operators.Cdc.applyChanges(cdcSnapshot(s, d), cdcChanges(s, d),
        "o_orderkey", "seq", "op").orderBy("o_orderkey"),
      Some(s"""WITH $cdcChangesSql,
             |cdcl AS (SELECT k, op, c, st, tp FROM (
             |  SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC, op DESC) AS rn FROM cdcch) WHERE rn = 1)
             |SELECT COALESCE(l.k, s.o_orderkey) AS o_orderkey,
             |CASE WHEN l.k IS NOT NULL THEN l.c ELSE s.o_custkey END AS o_custkey,
             |CASE WHEN l.k IS NOT NULL THEN l.st ELSE s.o_orderstatus END AS o_orderstatus,
             |CASE WHEN l.k IS NOT NULL THEN l.tp ELSE s.o_totalprice END AS o_totalprice
             |FROM orders s FULL OUTER JOIN cdcl l ON s.o_orderkey = l.k
             |WHERE l.op IS NULL OR l.op <> 'D'""".stripMargin.replace("\n", " ")),
      bench = true),
    // incremental view maintenance: the per-status (count, sum) view
    // maintained from the change feed WITHOUT rescanning the base —
    // the oracle recomputes the view from the fully-merged snapshot,
    // so the hash proves delta maintenance ≡ recompute
    Q("cdc_ivm_agg",
      (s, d) => operators.Cdc.maintainGroupAgg(cdcSnapshot(s, d), cdcChanges(s, d),
        "o_orderkey", "seq", "op", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderstatus"),
      Some(s"""WITH $cdcChangesSql,
             |cdcl AS (SELECT k, op, c, st, tp FROM (
             |  SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC, op DESC) AS rn FROM cdcch) WHERE rn = 1),
             |cdcm AS (SELECT
             |CASE WHEN l.k IS NOT NULL THEN l.st ELSE s.o_orderstatus END AS o_orderstatus,
             |CASE WHEN l.k IS NOT NULL THEN l.tp ELSE s.o_totalprice END AS o_totalprice
             |FROM orders s FULL OUTER JOIN cdcl l ON s.o_orderkey = l.k
             |WHERE l.op IS NULL OR l.op <> 'D')
             |SELECT o_orderstatus, count(*) AS n, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM cdcm GROUP BY o_orderstatus""".stripMargin.replace("\n", " "))),
    // The INVERSE of cdc_apply: derive the change feed FROM two keyed
    // snapshots (CDC bootstrap when no log exists; replica audit when
    // one does — the diff IS the repair feed). One full-outer key join
    // classifies I/D/U with NULL-safe payload comparison; new image on
    // I/U, old image on D — exactly applyChanges' input shape, and
    // applyChanges(prev, diff) ≡ next is spec-pinned, not assumed.
    // Registered against the merged snapshot the cdc feed produces, so
    // the diff must recover that feed's NET effect.
    Q("cdc_snapshot_diff",
      (s, d) => {
        val prev = cdcSnapshot(s, d)
        val next = operators.Cdc.applyChanges(prev, cdcChanges(s, d),
          "o_orderkey", "seq", "op")
        operators.Cdc.diffSnapshots(prev, next, "o_orderkey")
          .orderBy("o_orderkey")
      },
      Some(s"""WITH $cdcChangesSql,
             |cdcl AS (SELECT k, op, c, st, tp FROM (
             |  SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC, op DESC) AS rn FROM cdcch) WHERE rn = 1),
             |cdck AS (SELECT COALESCE(l.k, s.o_orderkey) AS k,
             |CASE WHEN l.k IS NOT NULL THEN l.c ELSE s.o_custkey END AS c,
             |CASE WHEN l.k IS NOT NULL THEN l.st ELSE s.o_orderstatus END AS st,
             |CASE WHEN l.k IS NOT NULL THEN l.tp ELSE s.o_totalprice END AS tp
             |FROM orders s FULL OUTER JOIN cdcl l ON s.o_orderkey = l.k
             |WHERE l.op IS NULL OR l.op <> 'D'),
             |dfo AS (SELECT p.o_orderkey AS pk, m.k AS nk,
             |p.o_custkey AS pc, p.o_orderstatus AS pst, p.o_totalprice AS ptp,
             |m.c AS nc, m.st AS nst, m.tp AS ntp
             |FROM orders p FULL OUTER JOIN cdck m ON m.k = p.o_orderkey),
             |dcl AS (SELECT CASE WHEN pk IS NULL THEN 'I' WHEN nk IS NULL THEN 'D'
             |WHEN pc IS DISTINCT FROM nc OR pst IS DISTINCT FROM nst OR ptp IS DISTINCT FROM ntp THEN 'U' END AS op, * FROM dfo)
             |SELECT op, COALESCE(pk, nk) AS o_orderkey,
             |CASE WHEN op = 'D' THEN pc ELSE nc END AS o_custkey,
             |CASE WHEN op = 'D' THEN pst ELSE nst END AS o_orderstatus,
             |CASE WHEN op = 'D' THEN ptp ELSE ntp END AS o_totalprice
             |FROM dcl WHERE op IS NOT NULL ORDER BY o_orderkey""".stripMargin.replace("\n", " "))),
    // IVM for the NON-invertible aggregates: per-customer (count, MIN,
    // MAX) order-price view maintained under the same change feed —
    // count/sum retract by subtraction, but deleting a group's
    // extremal row leaves second-smallest unknowable from the view,
    // so only the groups whose retracted old image EQUALS their
    // current min/max recompute, from the snapshot key-pruned to those
    // groups (the maintainJoinView affected-key discipline). The feed
    // hits the recompute path with real mass (≡0 mod 10 deletes land
    // on many per-customer extremes) AND the cheap path (non-extremal
    // retractions, inserts). Oracle recomputes from the merged
    // snapshot, so the hash proves the split maintenance ≡ recompute.
    Q("cdc_ivm_minmax",
      (s, d) => operators.Cdc.maintainMinMaxView(cdcSnapshot(s, d),
        cdcChanges(s, d), "o_orderkey", "seq", "op", "o_custkey",
        "o_totalprice")
        .orderBy("o_custkey"),
      Some(s"""WITH $cdcChangesSql,
             |cdcl AS (SELECT k, op, c, st, tp FROM (
             |  SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC, op DESC) AS rn FROM cdcch) WHERE rn = 1),
             |cdcm AS (SELECT
             |CASE WHEN l.k IS NOT NULL THEN l.c ELSE s.o_custkey END AS o_custkey,
             |CASE WHEN l.k IS NOT NULL THEN l.tp ELSE s.o_totalprice END AS o_totalprice
             |FROM orders s FULL OUTER JOIN cdcl l ON s.o_orderkey = l.k
             |WHERE l.op IS NULL OR l.op <> 'D')
             |SELECT o_custkey, count(*) AS n, MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx
             |FROM cdcm GROUP BY o_custkey ORDER BY o_custkey""".stripMargin.replace("\n", " ")),
      // benched: the freshness family's non-invertible member — the
      // key-pruned extremal-retraction recompute is the plan shape
      // worth regression-timing every round (r17 verdict #8)
      bench = true),
    // Top-k IVM — the leaderboard materialization, minmax's story
    // generalized from k = 1: per-customer top-3 orders by price kept
    // fresh under the feed; only groups whose retracted old image sat
    // INSIDE the current top-3 recompute (exact in-list membership
    // probe), adds merge through bounded map-side heaps. Oracle
    // recomputes the ranking from the merged snapshot.
    Q("cdc_ivm_topk",
      (s, d) => operators.Cdc.maintainTopKView(cdcSnapshot(s, d),
        cdcChanges(s, d), "o_orderkey", "seq", "op", "o_custkey",
        "o_totalprice", k = 3)
        .orderBy("o_custkey", "rank"),
      Some(s"""WITH $cdcChangesSql,
             |cdcl AS (SELECT k, op, c, st, tp FROM (
             |  SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC, op DESC) AS rn FROM cdcch) WHERE rn = 1),
             |cdcm AS (SELECT
             |CASE WHEN l.k IS NOT NULL THEN l.c ELSE s.o_custkey END AS o_custkey,
             |CASE WHEN l.k IS NOT NULL THEN l.k ELSE s.o_orderkey END AS o_orderkey,
             |CASE WHEN l.k IS NOT NULL THEN l.tp ELSE s.o_totalprice END AS o_totalprice
             |FROM orders s FULL OUTER JOIN cdcl l ON s.o_orderkey = l.k
             |WHERE l.op IS NULL OR l.op <> 'D')
             |SELECT o_custkey, CAST(rank AS BIGINT) AS rank, o_orderkey, o_totalprice FROM (
             |SELECT o_custkey, o_orderkey, o_totalprice,
             |row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank FROM cdcm)
             |WHERE rank <= 3 ORDER BY o_custkey, rank""".stripMargin.replace("\n", " "))),
    // Incremental JOIN-view maintenance (delta-join algebra): the
    // denormalized orders⋈customer view kept fresh under change feeds
    // on BOTH sides — affected join keys only (old FK ∪ new FK ∪
    // changed customers), so the base is touched through key-pruned
    // semi/anti joins, never rescanned. Includes FK moves (≡7 orders
    // re-pointed) and dimension deletes (≡3 customers). The oracle
    // recomputes the view from both fully-merged snapshots.
    Q("cdc_ivm_join",
      (s, d) => {
        val a = cdcSnapshot(s, d)
        val b = cdcCustSnapshot(s, d)
        val viewPrev = a.join(b, "o_custkey")
          .select("o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice", "c_name", "c_mktsegment")
        operators.Cdc.maintainJoinView(viewPrev, a,
          cdcChanges(s, d).unionByName(cdcOrderMoves(s, d)), "o_orderkey",
          b, cdcCustChanges(s, d), "o_custkey", "seq", "op")
          .orderBy("o_orderkey")
      },
      Some(ivmJoinOracle), bench = true),
    // SCD2 expansion of the same feed: per-key version chain with
    // [valid_from, valid_to) sequence ranges; a D closes its
    // predecessor and emits nothing.
    Q("cdc_scd2",
      (s, d) => operators.Cdc.scd2History(cdcChanges(s, d),
        "o_orderkey", "seq", "op").orderBy("o_orderkey", "valid_from"),
      Some(s"""WITH $cdcChangesSql
             |SELECT k AS o_orderkey, c AS o_custkey, st AS o_orderstatus, tp AS o_totalprice,
             |valid_from, valid_to, (valid_to IS NULL) AS is_current FROM (
             |  SELECT k, op, c, st, tp, seq AS valid_from,
             |  lead(seq, 1) OVER (PARTITION BY k ORDER BY seq ASC) AS valid_to
             |  FROM cdcch)
             |WHERE op <> 'D'""".stripMargin.replace("\n", " "))),
    // Point-in-time enrichment against the SCD2 chain: each probe
    // (key, at_seq) joins THE version valid at its own sequence —
    // at ∈ [valid_from, valid_to) — the leak-free feature join (as-of
    // the event, never as-of today). Probes at seq 1 and 2 straddle
    // the feed's U@2 re-update, so the same key resolves to DIFFERENT
    // versions at the two probe times; one equi-join on the key, the
    // interval as a residual filter (never a range blow-up).
    Q("cdc_pit_enrich",
      (s, d) => {
        val hist = operators.Cdc.scd2History(cdcChanges(s, d),
          "o_orderkey", "seq", "op")
          .select("o_orderkey", "o_orderstatus", "o_totalprice",
            "valid_from", "valid_to")
        val probes = cdcChanges(s, d).filter(col("op") =!= "D")
          .select("o_orderkey").distinct()
          .withColumn("at_seq", explode(array(lit(1L), lit(2L))))
        operators.Cdc.pointInTimeJoin(probes, hist, "o_orderkey", "at_seq")
          .orderBy("o_orderkey", "at_seq")
      },
      Some(s"""WITH $cdcChangesSql,
             |pith AS (SELECT k, st, tp, seq AS valid_from,
             |  lead(seq, 1) OVER (PARTITION BY k ORDER BY seq ASC) AS valid_to, op FROM cdcch),
             |pitv AS (SELECT k, st, tp, valid_from, valid_to FROM pith WHERE op <> 'D'),
             |pitk AS (SELECT DISTINCT k FROM cdcch WHERE op <> 'D'),
             |pitp AS (SELECT k, CAST(1 AS BIGINT) AS at_seq FROM pitk
             |  UNION ALL SELECT k, CAST(2 AS BIGINT) FROM pitk)
             |SELECT p.k AS o_orderkey, p.at_seq,
             |v.st AS o_orderstatus, v.tp AS o_totalprice, v.valid_from
             |FROM pitp p JOIN pitv v ON v.k = p.k AND p.at_seq >= v.valid_from
             |AND (v.valid_to IS NULL OR p.at_seq < v.valid_to)""".stripMargin.replace("\n", " "))),
  )

  // ---------------------------------------------------------------------
  // Graph centrality — corpus quality weighting (operators.Graph). The
  // graph is the co-purchase graph (parts co-ordered ≥ 2 times, the
  // q_copurchase_pairs edge rule); ranks are exact integer PageRank, so
  // the oracle replays the identical arithmetic as an unrolled CTE
  // chain (the IVF-oracle idiom — DuckDB needs no recursion support).
  // ---------------------------------------------------------------------
  private val PrIters = 10

  /** The ER resolution shared by er_clusters and er_golden_record:
    * fuzzy-match edges over distinct part names → pointer-jumping CC.
    * Output: (name, cluster_id, keep). */
  private def erEntityMap(s: SparkSession, d: String): DataFrame = {
    val names = t(s, d, "part").select(col("p_name").as("name")).distinct()
    Dedup.connectedComponents(names, "name",
      Dedup.editDistancePairs(t(s, d, "part"), "p_name", maxDist = 3)
        .select("a", "b"), "a", "b")
  }

  /** The same resolution in DuckDB, ending in `erc(u, r)` — the
    * reachability frame both ER oracles aggregate. */
  private def erClusterCtes: String =
    """ern AS (SELECT DISTINCT p_name AS name FROM part),
      |erp AS (SELECT a.name AS a, b.name AS b FROM ern a JOIN ern b ON a.name < b.name
      |WHERE levenshtein(a.name, b.name) <= 3),
      |ere AS (SELECT a AS u, b AS v FROM erp UNION SELECT b, a FROM erp),
      |erc(u, r) AS (SELECT name, name FROM ern
      |UNION SELECT e.u, p.r FROM ere e JOIN erc p ON p.u = e.v)""".stripMargin.replace("\n", " ")

  private def copurchaseEdges(s: SparkSession, d: String): DataFrame = {
    // persisted (r21, guide §2.3/§5): the self-join's two sides are the
    // SAME distinct frame under different aliases, and alias-renamed
    // subtrees defeat exchange reuse — unpersisted, the lineitem scan +
    // distinct shuffle ran twice per materialization
    val li = Caching.persist(
      t(s, d, "lineitem").select("l_orderkey", "l_partkey").distinct())
    li.toDF("k", "pa").join(li.toDF("k", "pb"), Seq("k"))
      .filter(col("pa") < col("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") >= 2)
      .select("pa", "pb")
  }

  /** [[copurchaseEdges]] keeping the co-order multiplicity as an
    * integer edge weight (the unweighted frame's projection discards
    * it) — the weighted graph family's input. */
  private def copurchaseWeightedEdges(s: SparkSession, d: String): DataFrame = {
    // persisted — see the unweighted twin's note
    val li = Caching.persist(
      t(s, d, "lineitem").select("l_orderkey", "l_partkey").distinct())
    li.toDF("k", "pa").join(li.toDF("k", "pb"), Seq("k"))
      .filter(col("pa") < col("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("w"))
      .filter(col("w") >= 2)
  }

  private val pageRankOracle: String = {
    val sb = new StringBuilder
    sb ++= "WITH bli AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem), "
    sb ++= "prs AS (SELECT a.p AS pa, b.p AS pb FROM bli a JOIN bli b ON a.k = b.k AND a.p < b.p GROUP BY 1, 2 HAVING COUNT(*) >= 2), "
    sb ++= "ed AS (SELECT pa AS u, pb AS v FROM prs UNION SELECT pb AS u, pa AS v FROM prs), "
    sb ++= "dg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM ed GROUP BY u), "
    sb ++= "r0 AS (SELECT u AS id, CAST(1000000 AS BIGINT) AS r FROM dg), "
    // one CTE per iteration: contribution = r // d (both engines
    // truncate non-negative integer division), damping in integers;
    // SUM over BIGINT is HUGEINT in DuckDB → cast back before scaling
    (1 to PrIters).foreach { i =>
      sb ++= s"r$i AS (SELECT e.v AS id, 150000 + (85 * CAST(SUM(p.r // dg.d) AS BIGINT)) // 100 AS r " +
        s"FROM ed e JOIN r${i - 1} p ON p.id = e.u JOIN dg ON dg.u = e.u GROUP BY e.v), "
    }
    sb.setLength(sb.length - 2) // trailing ", "
    sb ++= s" SELECT id AS part_id, r AS rank_micro FROM r$PrIters"
    sb.result()
  }

  /** Per-vertex triangle participation + integer clustering
    * coefficient, re-derived via the id-ordered 3-way self-join
    * (a < b < c — each triangle once) and the same `div` per-mille
    * arithmetic. */
  private val triangleOracle: String =
    """WITH bli AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem),
      |prs AS (SELECT a.p AS pa, b.p AS pb FROM bli a JOIN bli b ON a.k = b.k AND a.p < b.p GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |ted AS (SELECT pa AS u, pb AS v FROM prs UNION SELECT pb, pa FROM prs),
      |tdg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM ted GROUP BY u),
      |tri AS (SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c FROM prs e1
      |JOIN prs e2 ON e1.pa = e2.pa AND e1.pb < e2.pb
      |JOIN prs e3 ON e3.pa = e1.pb AND e3.pb = e2.pb),
      |tpv AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n_tri FROM
      |(SELECT a AS id FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri) GROUP BY id)
      |SELECT tdg.u AS part_id, tdg.d AS degree, COALESCE(tpv.n_tri, 0) AS n_tri,
      |CASE WHEN tdg.d >= 2 THEN (2000 * COALESCE(tpv.n_tri, 0)) // (tdg.d * (tdg.d - 1)) ELSE 0 END AS cc_permille
      |FROM tdg LEFT JOIN tpv ON tpv.id = tdg.u ORDER BY part_id""".stripMargin.replace("\n", " ")

  /** Weighted-triangle oracle: the [[triangleOracle]] 3-way id-ordered
    * self-join with each triangle carrying LEAST of its three edge
    * weights, per-vertex COUNT + SUM over the unrolled corner list —
    * exact longs end to end (SUM over BIGINT is HUGEINT in DuckDB,
    * cast back). */
  private val weightedTriangleOracle: String =
    """WITH bli AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem),
      |prs AS (SELECT a.p AS pa, b.p AS pb, CAST(COUNT(*) AS BIGINT) AS w FROM bli a JOIN bli b ON a.k = b.k AND a.p < b.p GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |ted AS (SELECT pa AS u, pb AS v FROM prs UNION SELECT pb, pa FROM prs),
      |tdg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM ted GROUP BY u),
      |tri AS (SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c, LEAST(e1.w, e2.w, e3.w) AS mw FROM prs e1
      |JOIN prs e2 ON e2.pa = e1.pa AND e1.pb < e2.pb
      |JOIN prs e3 ON e3.pa = e1.pb AND e3.pb = e2.pb),
      |tpv AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n_tri, CAST(SUM(mw) AS BIGINT) AS ws FROM
      |(SELECT a AS id, mw FROM tri UNION ALL SELECT b, mw FROM tri UNION ALL SELECT c, mw FROM tri) GROUP BY id)
      |SELECT tdg.u AS part_id, tdg.d AS degree, COALESCE(tpv.n_tri, 0) AS n_tri,
      |COALESCE(tpv.ws, 0) AS tri_wmin_sum
      |FROM tdg LEFT JOIN tpv ON tpv.id = tdg.u ORDER BY part_id""".stripMargin.replace("\n", " ")

  private val RaMaxDeg = 64L
  private val RaTopK = 20

  /** Resource-allocation link-prediction oracle: capped-center wedges
    * (the same `maxCenterDegree` exclusion the operator defines),
    * exact `1e9 // deg` nano-weights, absent-edge anti-join, top-20 by
    * (ra_nano DESC, a, b). */
  private val raOracle: String =
    s"""WITH bli AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem),
       |prs AS (SELECT a.p AS pa, b.p AS pb FROM bli a JOIN bli b ON a.k = b.k AND a.p < b.p GROUP BY 1, 2 HAVING COUNT(*) >= 2),
       |red AS (SELECT pa AS u, pb AS v FROM prs UNION SELECT pb, pa FROM prs),
       |rdg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM red GROUP BY u),
       |rcn AS (SELECT e.u AS w, e.v AS n, 1000000000 // g.d AS wt FROM red e JOIN rdg g ON g.u = e.u WHERE g.d <= $RaMaxDeg),
       |rwg AS (SELECT x.n AS a, y.n AS b, x.wt AS wt FROM rcn x JOIN rcn y ON y.w = x.w AND x.n < y.n),
       |rag AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS common, CAST(SUM(wt) AS BIGINT) AS ra_nano FROM rwg GROUP BY a, b),
       |rne AS (SELECT g.a, g.b, g.common, g.ra_nano FROM rag g LEFT JOIN prs p ON p.pa = g.a AND p.pb = g.b WHERE p.pa IS NULL)
       |SELECT a, b, common, ra_nano, CAST(ra_nano AS DOUBLE) / 1000000000.0 AS ra_score FROM rne
       |ORDER BY ra_nano DESC, a ASC, b ASC LIMIT $RaTopK""".stripMargin.replace("\n", " ")

  /** Degree-assortativity oracle: the identical rational form —
    * endpoint-degree sums over the symmetric edge list, r = (M·Σxy −
    * (Σx)²)/(M·Σx² − (Σx)²) in one double division, 0.0 on a
    * degree-regular graph (denominator 0). */
  private val assortativityOracle: String =
    """WITH bli AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem),
      |prs AS (SELECT a.p AS pa, b.p AS pb FROM bli a JOIN bli b ON a.k = b.k AND a.p < b.p GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |aed AS (SELECT pa AS u, pb AS v FROM prs UNION SELECT pb, pa FROM prs),
      |adg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM aed GROUP BY u),
      |aj AS (SELECT gx.d AS dx, gy.d AS dy FROM aed e JOIN adg gx ON gx.u = e.u JOIN adg gy ON gy.u = e.v),
      |ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS m_edges, CAST(COALESCE(SUM(dx), 0) AS BIGINT) AS s_x,
      |CAST(COALESCE(SUM(dx * dy), 0) AS BIGINT) AS s_xy, CAST(COALESCE(SUM(dx * dx), 0) AS BIGINT) AS s_x2 FROM aj)
      |SELECT m_edges, s_x, s_xy, s_x2,
      |CASE WHEN m_edges * s_x2 - s_x * s_x = 0 THEN 0.0
      |ELSE CAST(m_edges * s_xy - s_x * s_x AS DOUBLE) / CAST(m_edges * s_x2 - s_x * s_x AS DOUBLE) END AS assortativity
      |FROM ag""".stripMargin.replace("\n", " ")

  /** Weighted-assortativity oracle: the [[assortativityOracle]] sums
    * with strengths replacing degrees and each directed edge weighted
    * by w. All arithmetic runs on HUGEINT under names (`sx_h`, …)
    * that are NEVER reused as output aliases, with num/den derived in
    * their own CTE — an earlier version aliased `CAST(s_x …) AS s_x`
    * in the same SELECT whose CASE read `s_x`, and whether that name
    * binds the CTE column or the new alias is exactly the lateral-
    * alias behavior that changed across DuckDB releases (green under
    * 1.0.0, hash-red under the driver's build). Per-edge products
    * cast to HUGEINT before multiplying so no BIGINT term can
    * overflow at any SF; the final projection emits the diagnostic
    * sums as BIGINT — round 17's DECIMAL(38,0) wire type was the
    * ONLY decimal output of 278 rows and the one code path the
    * driver's hash canonicalization disagreed on, so the Spark side
    * now guards-and-narrows to long (the w1Drift pattern) and the
    * oracle mirrors it. */
  private val weightedAssortativityOracle: String =
    """WITH bli AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem),
      |prs AS (SELECT a.p AS pa, b.p AS pb, CAST(COUNT(*) AS BIGINT) AS w FROM bli a JOIN bli b ON a.k = b.k AND a.p < b.p GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |wad AS (SELECT pa AS u, pb AS v, w FROM prs UNION SELECT pb, pa, w FROM prs),
      |wst AS (SELECT u, CAST(SUM(w) AS BIGINT) AS s FROM wad GROUP BY u),
      |waj AS (SELECT CAST(e.w AS HUGEINT) AS wh, CAST(gx.s AS HUGEINT) AS sx, CAST(gy.s AS HUGEINT) AS sy FROM wad e JOIN wst gx ON gx.u = e.u JOIN wst gy ON gy.u = e.v),
      |wag AS (SELECT CAST(COALESCE(SUM(wh), 0) AS BIGINT) AS wt_b, COALESCE(SUM(wh * sx), 0) AS sx_h,
      |COALESCE(SUM(wh * sx * sy), 0) AS sxy_h, COALESCE(SUM(wh * sx * sx), 0) AS sx2_h FROM waj),
      |wfin AS (SELECT wt_b, sx_h, sxy_h, sx2_h,
      |CAST(wt_b AS HUGEINT) * sxy_h - sx_h * sx_h AS num_h,
      |CAST(wt_b AS HUGEINT) * sx2_h - sx_h * sx_h AS den_h FROM wag)
      |SELECT wt_b AS w_total, CAST(sx_h AS BIGINT) AS s_x, CAST(sxy_h AS BIGINT) AS s_xy, CAST(sx2_h AS BIGINT) AS s_x2,
      |CASE WHEN den_h = 0 THEN 0.0 ELSE CAST(num_h AS DOUBLE) / CAST(den_h AS DOUBLE) END AS assortativity
      |FROM wfin""".stripMargin.replace("\n", " ")

  private val KhopHops = 3

  /** Personalized-PageRank oracle: the [[pageRankOracle]] unrolled-CTE
    * chain with the teleport base gated on the seed predicate (the
    * same part_id ≡ 0 mod 50 set graph_khop expands) — r0 is 1e6 on
    * seeds / 0 elsewhere, each round adds 150000 only on seeds. */
  private val pprOracle: String = {
    val sb = new StringBuilder
    sb ++= "WITH bli AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem), "
    sb ++= "prs AS (SELECT a.p AS pa, b.p AS pb FROM bli a JOIN bli b ON a.k = b.k AND a.p < b.p GROUP BY 1, 2 HAVING COUNT(*) >= 2), "
    sb ++= "ed AS (SELECT pa AS u, pb AS v FROM prs UNION SELECT pb AS u, pa AS v FROM prs), "
    sb ++= "dg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM ed GROUP BY u), "
    sb ++= "r0 AS (SELECT u AS id, CAST(CASE WHEN u % 50 = 0 THEN 1000000 ELSE 0 END AS BIGINT) AS r FROM dg), "
    (1 to PrIters).foreach { i =>
      sb ++= s"r$i AS (SELECT e.v AS id, CAST(CASE WHEN e.v % 50 = 0 THEN 150000 ELSE 0 END AS BIGINT) + (85 * CAST(SUM(p.r // dg.d) AS BIGINT)) // 100 AS r " +
        s"FROM ed e JOIN r${i - 1} p ON p.id = e.u JOIN dg ON dg.u = e.u GROUP BY e.v), "
    }
    sb.setLength(sb.length - 2)
    sb ++= s" SELECT id AS part_id, r AS rank_micro FROM r$PrIters"
    sb.result()
  }

  /** Weighted-PageRank oracle: the [[pageRankOracle]] unrolled-CTE
    * chain over the weight-carrying edge list — contribution
    * `(r·w) // Σw` per edge (truncating non-negative integer
    * division, identical in both engines), strengths replacing
    * degrees. */
  private val weightedPrOracle: String = {
    val sb = new StringBuilder
    sb ++= "WITH bli AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem), "
    sb ++= "prs AS (SELECT a.p AS pa, b.p AS pb, CAST(COUNT(*) AS BIGINT) AS w FROM bli a JOIN bli b ON a.k = b.k AND a.p < b.p GROUP BY 1, 2 HAVING COUNT(*) >= 2), "
    sb ++= "ed AS (SELECT pa AS u, pb AS v, w FROM prs UNION SELECT pb, pa, w FROM prs), "
    sb ++= "st AS (SELECT u, CAST(SUM(w) AS BIGINT) AS s FROM ed GROUP BY u), "
    sb ++= "r0 AS (SELECT u AS id, CAST(1000000 AS BIGINT) AS r FROM st), "
    (1 to PrIters).foreach { i =>
      sb ++= s"r$i AS (SELECT e.v AS id, 150000 + (85 * CAST(SUM((p.r * e.w) // st.s) AS BIGINT)) // 100 AS r " +
        s"FROM ed e JOIN r${i - 1} p ON p.id = e.u JOIN st ON st.u = e.u GROUP BY e.v), "
    }
    sb.setLength(sb.length - 2)
    sb ++= s" SELECT id AS part_id, r AS rank_micro FROM r$PrIters"
    sb.result()
  }

  /** Weighted-PPR oracle: the [[weightedPrOracle]] unrolled chain with
    * the teleport base gated on the seed predicate (the same
    * part_id ≡ 0 mod 50 set [[pprOracle]] uses) — r0 is 1e6 on seeds /
    * 0 elsewhere, each round re-injects 150000 on seeds only,
    * contribution `(r·w) // Σw` per edge. */
  private val weightedPprOracle: String = {
    val sb = new StringBuilder
    sb ++= "WITH bli AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem), "
    sb ++= "prs AS (SELECT a.p AS pa, b.p AS pb, CAST(COUNT(*) AS BIGINT) AS w FROM bli a JOIN bli b ON a.k = b.k AND a.p < b.p GROUP BY 1, 2 HAVING COUNT(*) >= 2), "
    sb ++= "ed AS (SELECT pa AS u, pb AS v, w FROM prs UNION SELECT pb, pa, w FROM prs), "
    sb ++= "st AS (SELECT u, CAST(SUM(w) AS BIGINT) AS s FROM ed GROUP BY u), "
    sb ++= "r0 AS (SELECT u AS id, CAST(CASE WHEN u % 50 = 0 THEN 1000000 ELSE 0 END AS BIGINT) AS r FROM st), "
    (1 to PrIters).foreach { i =>
      sb ++= s"r$i AS (SELECT e.v AS id, CAST(CASE WHEN e.v % 50 = 0 THEN 150000 ELSE 0 END AS BIGINT) + (85 * CAST(SUM((p.r * e.w) // st.s) AS BIGINT)) // 100 AS r " +
        s"FROM ed e JOIN r${i - 1} p ON p.id = e.u JOIN st ON st.u = e.u GROUP BY e.v), "
    }
    sb.setLength(sb.length - 2)
    sb ++= s" SELECT id AS part_id, r AS rank_micro FROM r$PrIters"
    sb.result()
  }

  /** Sampled-betweenness oracle: σ-BFS as UNROLLED per-level CTEs
    * (the pageRankOracle idiom — a recursive CTE cannot aggregate in
    * its recursive term, and UNION ALL walk-counting would explode
    * through hubs): level σ = Σ over previous-level neighbors,
    * new-vertex anti via NOT EXISTS against the cumulative frame,
    * then the middle-vertex pair join with the exact
    * d1 + d2 = d(s,t) shortest-path test and HUGEINT σ products. */
  private val BetweennessSeedCap = 2048

  private val betweennessOracle: String = {
    val sb = new StringBuilder
    sb ++= "WITH bli AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem), "
    sb ++= "prs AS (SELECT a.p AS pa, b.p AS pb FROM bli a JOIN bli b ON a.k = b.k AND a.p < b.p GROUP BY 1, 2 HAVING COUNT(*) >= 2), "
    sb ++= "bed AS (SELECT pa AS u, pb AS v FROM prs UNION SELECT pb, pa FROM prs), "
    sb ++= s"bsd AS (SELECT DISTINCT u FROM bed WHERE u % 50 = 0 AND u < $BetweennessSeedCap), "
    sb ++= "b0 AS (SELECT u AS s, u, CAST(1 AS HUGEINT) AS sg FROM bsd), "
    sb ++= "a0 AS MATERIALIZED (SELECT s, u, 0 AS d, sg FROM b0), "
    for (i <- 1 to KhopHops) {
      sb ++= s"c$i AS (SELECT w.s, e.v AS u, SUM(w.sg) AS sg FROM bed e JOIN b${i - 1} w ON w.u = e.u GROUP BY w.s, e.v), "
      sb ++= s"b$i AS MATERIALIZED (SELECT c.s, c.u, c.sg FROM c$i c WHERE NOT EXISTS (SELECT 1 FROM a${i - 1} p WHERE p.s = c.s AND p.u = c.u)), "
      sb ++= s"a$i AS MATERIALIZED (SELECT * FROM a${i - 1} UNION ALL SELECT s, u, $i, sg FROM b$i), "
    }
    sb ++= s"bsf AS (SELECT s, u, d, sg FROM a$KhopHops), "
    sb ++= "bst AS (SELECT f.s, f.u AS t, f.d AS dst FROM bsf f JOIN bsd sd ON sd.u = f.u WHERE f.s < f.u), "
    sb ++= "bpp AS (SELECT x.u AS v, x.s, y.s AS t, x.d AS d1, y.d AS d2, x.sg AS sg1, y.sg AS sg2 FROM bsf x JOIN bsf y ON y.u = x.u AND x.s < y.s) "
    sb ++= "SELECT p.v AS part_id, CAST(SUM(p.sg1 * p.sg2) AS BIGINT) AS pair_paths " +
      "FROM bpp p JOIN bst t ON t.s = p.s AND t.t = p.t " +
      "WHERE p.d1 + p.d2 = t.dst AND p.v <> p.s AND p.v <> p.t " +
      "GROUP BY p.v ORDER BY part_id"
    sb.result()
  }

  private val LpaRounds = 3

  /** Synchronous label-propagation oracle: `LpaRounds` unrolled rounds
    * of (vertex, neighbor-label) counts + the (count DESC, label ASC)
    * argmax — the pageRankOracle unrolling idiom applied to LPA. */
  private val lpaOracle: String = {
    val sb = new StringBuilder
    sb ++= "WITH bli AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem), "
    sb ++= "prs AS (SELECT a.p AS pa, b.p AS pb FROM bli a JOIN bli b ON a.k = b.k AND a.p < b.p GROUP BY 1, 2 HAVING COUNT(*) >= 2), "
    sb ++= "led AS (SELECT pa AS u, pb AS v FROM prs UNION SELECT pb AS u, pa AS v FROM prs), "
    sb ++= "l0 AS (SELECT DISTINCT u AS id, u AS lbl FROM led), "
    (1 to LpaRounds).foreach { i =>
      sb ++= s"c$i AS (SELECT e.u, p.lbl, COUNT(*) AS c FROM led e JOIN l${i - 1} p ON p.id = e.v GROUP BY e.u, p.lbl), "
      sb ++= s"l$i AS (SELECT u AS id, lbl FROM (SELECT u, lbl, row_number() OVER (PARTITION BY u ORDER BY c DESC, lbl ASC) AS rn FROM c$i) WHERE rn = 1), "
    }
    sb.setLength(sb.length - 2)
    sb ++= s" SELECT id AS part_id, lbl AS community_id FROM l$LpaRounds"
    sb.result()
  }

  /** Weighted-LPA oracle: the [[lpaOracle]] unrolling with each
    * candidate label scored by SUM(edge weight) instead of COUNT, the
    * same (score DESC, label ASC) argmax. */
  private val weightedLpaOracle: String = {
    val sb = new StringBuilder
    sb ++= "WITH bli AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem), "
    sb ++= "prs AS (SELECT a.p AS pa, b.p AS pb, CAST(COUNT(*) AS BIGINT) AS w FROM bli a JOIN bli b ON a.k = b.k AND a.p < b.p GROUP BY 1, 2 HAVING COUNT(*) >= 2), "
    sb ++= "led AS (SELECT pa AS u, pb AS v, w FROM prs UNION SELECT pb, pa, w FROM prs), "
    sb ++= "l0 AS (SELECT DISTINCT u AS id, u AS lbl FROM led), "
    (1 to LpaRounds).foreach { i =>
      sb ++= s"c$i AS (SELECT e.u, p.lbl, CAST(SUM(e.w) AS BIGINT) AS c FROM led e JOIN l${i - 1} p ON p.id = e.v GROUP BY e.u, p.lbl), "
      sb ++= s"l$i AS (SELECT u AS id, lbl FROM (SELECT u, lbl, row_number() OVER (PARTITION BY u ORDER BY c DESC, lbl ASC) AS rn FROM c$i) WHERE rn = 1), "
    }
    sb.setLength(sb.length - 2)
    sb ++= s" SELECT id AS part_id, lbl AS community_id FROM l$LpaRounds"
    sb.result()
  }

  private val KcoreK = 2
  private val KcoreRounds = 8

  /** k-core oracle: `KcoreRounds` unrolled peel rounds (degree among
    * survivors < k drops), plus the first-stable-round diagnostic from
    * the survivor-count sequence (the set only shrinks, so the first
    * count equality IS the fixpoint). */
  private val kcoreOracle: String = {
    val sb = new StringBuilder
    sb ++= "WITH bli AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem), "
    sb ++= "prs AS (SELECT a.p AS pa, b.p AS pb FROM bli a JOIN bli b ON a.k = b.k AND a.p < b.p GROUP BY 1, 2 HAVING COUNT(*) >= 2), "
    // MATERIALIZED is load-bearing: each s_t is referenced twice by
    // d_{t+1} (both endpoints), so the un-hinted chain re-evaluates
    // exponentially (2^rounds) — the emb_pca_project2 lesson
    sb ++= "ked AS MATERIALIZED (SELECT pa AS u, pb AS v FROM prs UNION SELECT pb AS u, pa AS v FROM prs), "
    sb ++= "s0 AS MATERIALIZED (SELECT DISTINCT u FROM ked), "
    (1 to KcoreRounds).foreach { t =>
      sb ++= s"d$t AS (SELECT e.u, COUNT(*) AS d FROM ked e JOIN s${t - 1} a ON a.u = e.u JOIN s${t - 1} b ON b.u = e.v GROUP BY e.u), "
      sb ++= s"s$t AS MATERIALIZED (SELECT u FROM d$t WHERE d >= $KcoreK), "
    }
    sb ++= (0 to KcoreRounds).map(t =>
      s"SELECT $t AS t, (SELECT COUNT(*) FROM s$t) AS c").mkString(
      "cs AS (", " UNION ALL ", "), ")
    sb ++= s"rs AS (SELECT COALESCE(MIN(a.t), $KcoreRounds) AS rounds_stable FROM cs a JOIN cs b ON b.t = a.t + 1 AND b.c = a.c) "
    sb ++= s"SELECT v.u AS part_id, (s.u IS NOT NULL) AS in_core, CAST(rs.rounds_stable AS BIGINT) AS rounds_stable " +
      s"FROM s0 v LEFT JOIN s$KcoreRounds s ON s.u = v.u CROSS JOIN rs"
    sb.result()
  }

  private val ScoreMinStrength = 5L
  private val ScoreRounds = 12

  /** Weighted k-core (s-core) oracle: the [[kcoreOracle]] unrolled
    * peel with the criterion on STRENGTH — per-round SUM of surviving
    * edge weights — instead of degree; weights are the co-order
    * multiplicities the unweighted oracle's projection discards.
    * MATERIALIZED per round for the same 2^rounds re-evaluation
    * reason. */
  private val weightedKcoreOracle: String = {
    val sb = new StringBuilder
    sb ++= "WITH bli AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem), "
    sb ++= "prs AS (SELECT a.p AS pa, b.p AS pb, CAST(COUNT(*) AS BIGINT) AS w FROM bli a JOIN bli b ON a.k = b.k AND a.p < b.p GROUP BY 1, 2 HAVING COUNT(*) >= 2), "
    sb ++= "wed AS MATERIALIZED (SELECT pa AS u, pb AS v, w FROM prs UNION SELECT pb, pa, w FROM prs), "
    sb ++= "ws0 AS MATERIALIZED (SELECT DISTINCT u FROM wed), "
    (1 to ScoreRounds).foreach { t =>
      sb ++= s"wd$t AS (SELECT e.u, CAST(SUM(e.w) AS BIGINT) AS st FROM wed e JOIN ws${t - 1} a ON a.u = e.u JOIN ws${t - 1} b ON b.u = e.v GROUP BY e.u), "
      sb ++= s"ws$t AS MATERIALIZED (SELECT u FROM wd$t WHERE st >= $ScoreMinStrength), "
    }
    sb ++= (0 to ScoreRounds).map(t =>
      s"SELECT $t AS t, (SELECT COUNT(*) FROM ws$t) AS c").mkString(
      "wcs AS (", " UNION ALL ", "), ")
    sb ++= s"wrs AS (SELECT COALESCE(MIN(a.t), $ScoreRounds) AS rounds_stable FROM wcs a JOIN wcs b ON b.t = a.t + 1 AND b.c = a.c) "
    sb ++= s"SELECT v.u AS part_id, (s.u IS NOT NULL) AS in_core, CAST(wrs.rounds_stable AS BIGINT) AS rounds_stable " +
      s"FROM ws0 v LEFT JOIN ws$ScoreRounds s ON s.u = v.u CROSS JOIN wrs"
    sb.result()
  }

  private val KtrussK = 3
  private val KtrussRounds = 4

  /** k-truss oracle: `KtrussRounds` unrolled peel rounds — each round
    * enumerates triangles over the SURVIVING edge set via the
    * id-ordered 3-way self-join (the [[triangleOracle]] idiom),
    * counts per-edge support, and drops edges below k−2 — plus the
    * kcoreOracle's first-stable-round diagnostic on the edge-count
    * sequence. MATERIALIZED on every per-round edge set AND triangle
    * set: each is referenced 3× downstream, and the un-hinted chain
    * re-evaluates multiplicatively (the emb_pca_project2 lesson). */
  private val ktrussOracle: String = {
    val sb = new StringBuilder
    sb ++= "WITH bli AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem), "
    sb ++= "prs AS (SELECT a.p AS pa, b.p AS pb FROM bli a JOIN bli b ON a.k = b.k AND a.p < b.p GROUP BY 1, 2 HAVING COUNT(*) >= 2), "
    sb ++= "te0 AS MATERIALIZED (SELECT pa AS a, pb AS b FROM prs), "
    (1 to KtrussRounds).foreach { t =>
      sb ++= s"tt$t AS MATERIALIZED (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM te${t - 1} e1 " +
        s"JOIN te${t - 1} e2 ON e2.a = e1.a AND e1.b < e2.b " +
        s"JOIN te${t - 1} e3 ON e3.a = e1.b AND e3.b = e2.b), "
      sb ++= s"ts$t AS (SELECT a, b, COUNT(*) AS sup FROM (" +
        s"SELECT x AS a, y AS b FROM tt$t UNION ALL SELECT x, z FROM tt$t " +
        s"UNION ALL SELECT y, z FROM tt$t) GROUP BY a, b), "
      sb ++= s"te$t AS MATERIALIZED (SELECT e.a, e.b FROM te${t - 1} e " +
        s"JOIN ts$t s ON s.a = e.a AND s.b = e.b WHERE s.sup >= ${KtrussK - 2}), "
    }
    sb ++= (0 to KtrussRounds).map(t =>
      s"SELECT $t AS t, (SELECT COUNT(*) FROM te$t) AS c").mkString(
      "tcs AS (", " UNION ALL ", "), ")
    sb ++= s"trs AS (SELECT COALESCE(MIN(a.t), $KtrussRounds) AS rounds_stable FROM tcs a JOIN tcs b ON b.t = a.t + 1 AND b.c = a.c) "
    sb ++= s"SELECT v.a AS pa, v.b AS pb, (s.a IS NOT NULL) AS in_truss, " +
      s"CAST(trs.rounds_stable AS BIGINT) AS rounds_stable " +
      s"FROM te0 v LEFT JOIN te$KtrussRounds s ON s.a = v.a AND s.b = v.b CROSS JOIN trs"
    sb.result()
  }

  // Bottleneck-mass threshold for the weighted truss peel: with
  // co-order multiplicities ≥ 2 a single reinforced triangle (min
  // weight ≥ 4) or two baseline ones carry an edge — strictly
  // stronger than the unweighted 3-truss's "any one triangle".
  private val WtrussMinSup = 4L

  /** Weighted-truss oracle: the [[ktrussOracle]] unrolled peel with
    * each triangle carrying LEAST of its three edge weights and the
    * per-edge support a SUM of bottleneck weights instead of a COUNT
    * — same rounds_stable derivation over the per-round edge counts. */
  private val weightedKtrussOracle: String = {
    val sb = new StringBuilder
    sb ++= "WITH bli AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem), "
    sb ++= "prs AS (SELECT a.p AS pa, b.p AS pb, CAST(COUNT(*) AS BIGINT) AS w FROM bli a JOIN bli b ON a.k = b.k AND a.p < b.p GROUP BY 1, 2 HAVING COUNT(*) >= 2), "
    sb ++= "te0 AS MATERIALIZED (SELECT pa AS a, pb AS b, w FROM prs), "
    (1 to KtrussRounds).foreach { t =>
      sb ++= s"tt$t AS MATERIALIZED (SELECT e1.a AS x, e1.b AS y, e2.b AS z, LEAST(e1.w, e2.w, e3.w) AS mw FROM te${t - 1} e1 " +
        s"JOIN te${t - 1} e2 ON e2.a = e1.a AND e1.b < e2.b " +
        s"JOIN te${t - 1} e3 ON e3.a = e1.b AND e3.b = e2.b), "
      sb ++= s"ts$t AS (SELECT a, b, CAST(SUM(mw) AS BIGINT) AS sup FROM (" +
        s"SELECT x AS a, y AS b, mw FROM tt$t UNION ALL SELECT x, z, mw FROM tt$t " +
        s"UNION ALL SELECT y, z, mw FROM tt$t) GROUP BY a, b), "
      sb ++= s"te$t AS MATERIALIZED (SELECT e.a, e.b, e.w FROM te${t - 1} e " +
        s"JOIN ts$t s ON s.a = e.a AND s.b = e.b WHERE s.sup >= $WtrussMinSup), "
    }
    sb ++= (0 to KtrussRounds).map(t =>
      s"SELECT $t AS t, (SELECT COUNT(*) FROM te$t) AS c").mkString(
      "tcs AS (", " UNION ALL ", "), ")
    sb ++= s"trs AS (SELECT COALESCE(MIN(a.t), $KtrussRounds) AS rounds_stable FROM tcs a JOIN tcs b ON b.t = a.t + 1 AND b.c = a.c) "
    sb ++= s"SELECT v.a AS pa, v.b AS pb, (s.a IS NOT NULL) AS in_truss, " +
      s"CAST(trs.rounds_stable AS BIGINT) AS rounds_stable " +
      s"FROM te0 v LEFT JOIN te$KtrussRounds s ON s.a = v.a AND s.b = v.b CROSS JOIN trs"
    sb.result()
  }

  /** Connected-components oracle: min reachable id per vertex via the
    * recursive closure (the semDedup `sdr` idiom over the co-purchase
    * edges). */
  private val componentsOracle: String =
    """WITH RECURSIVE bli AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem),
      |prs AS (SELECT a.p AS pa, b.p AS pb FROM bli a JOIN bli b ON a.k = b.k AND a.p < b.p GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |ged AS (SELECT pa AS u, pb AS v FROM prs UNION SELECT pb, pa FROM prs),
      |gvv AS (SELECT DISTINCT u FROM ged),
      |gcr(u, r) AS (SELECT u, u FROM gvv UNION SELECT e.u, p.r FROM ged e JOIN gcr p ON p.u = e.v)
      |SELECT u AS part_id, MIN(r) AS component_id, (MIN(r) = u) AS is_min
      |FROM gcr GROUP BY u""".stripMargin.replace("\n", " ")

  private val bfsOracle: String =
    s"""WITH RECURSIVE bli AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem),
       |prs AS (SELECT a.p AS pa, b.p AS pb FROM bli a JOIN bli b ON a.k = b.k AND a.p < b.p GROUP BY 1, 2 HAVING COUNT(*) >= 2),
       |bed AS (SELECT pa AS u, pb AS v FROM prs UNION SELECT pb, pa FROM prs),
       |bsd AS (SELECT DISTINCT u FROM bed WHERE u % 50 = 0),
       |bfs(u, h) AS (SELECT u, 0 FROM bsd
       |UNION SELECT e.v, p.h + 1 FROM bed e JOIN bfs p ON p.u = e.u WHERE p.h < $KhopHops)
       |SELECT u AS part_id, CAST(MIN(h) AS BIGINT) AS hops FROM bfs GROUP BY u""".stripMargin.replace("\n", " ")

  private val SsspRounds = 12

  /** Weighted shortest-paths oracle: `SsspRounds` unrolled min-plus
    * relaxation rounds (after round t, d = min cost over ≤t-edge
    * paths) with the proximity costs `1000 // w` (strong co-purchase
    * ties read SHORT; both engines truncate non-negative integer
    * division), plus the family's first-stable-round diagnostic from
    * the (count, sum) signature sequence — a proof, not a heuristic:
    * per-id d is non-increasing and ids never leave, so equal count
    * forces the id set and equal sum then forces every value.
    * MATERIALIZED per round (each sd_t referenced by the relax join,
    * the union, AND the signature — the kcoreOracle 2^rounds
    * lesson). */
  private val ssspOracle: String = {
    val sb = new StringBuilder
    sb ++= "WITH bli AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem), "
    sb ++= "prs AS (SELECT a.p AS pa, b.p AS pb, CAST(COUNT(*) AS BIGINT) AS w FROM bli a JOIN bli b ON a.k = b.k AND a.p < b.p GROUP BY 1, 2 HAVING COUNT(*) >= 2), "
    sb ++= "prc AS (SELECT pa, pb, 1000 // w AS c FROM prs), "
    sb ++= "sed AS MATERIALIZED (SELECT pa AS u, pb AS v, c FROM prc UNION SELECT pb, pa, c FROM prc), "
    sb ++= "sd0 AS MATERIALIZED (SELECT u AS id, CAST(0 AS BIGINT) AS d FROM (SELECT DISTINCT u FROM sed) WHERE u % 50 = 0), "
    (1 to SsspRounds).foreach { t =>
      sb ++= s"sd$t AS MATERIALIZED (SELECT id, MIN(d) AS d FROM (" +
        s"SELECT id, d FROM sd${t - 1} UNION ALL " +
        s"SELECT e.v AS id, p.d + e.c AS d FROM sed e JOIN sd${t - 1} p ON p.id = e.u" +
        s") GROUP BY id), "
    }
    sb ++= (0 to SsspRounds).map(t =>
      s"SELECT $t AS t, (SELECT COUNT(*) FROM sd$t) AS c, (SELECT SUM(d) FROM sd$t) AS s").mkString(
      "scs AS (", " UNION ALL ", "), ")
    sb ++= s"srs AS (SELECT COALESCE(MIN(a.t), $SsspRounds) AS rounds_stable FROM scs a JOIN scs b ON b.t = a.t + 1 AND b.c = a.c AND b.s = a.s) "
    sb ++= s"SELECT id AS part_id, CAST(d AS BIGINT) AS dist, CAST(srs.rounds_stable AS BIGINT) AS rounds_stable " +
      s"FROM sd$SsspRounds CROSS JOIN srs"
    sb.result()
  }

  private val WClosenessSeedMod = 200

  /** Weighted closeness oracle: the [[ssspOracle]] relaxation keyed
    * (seed, vertex) over the WClosenessSeedMod seed panel, folded to
    * per-seed `(n_reached, Σ dist, 10⁶·n div Σ)` — the closenessOracle
    * aggregate over min-plus distances instead of hops. */
  private val weightedClosenessOracle: String = {
    val sb = new StringBuilder
    sb ++= "WITH bli AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem), "
    sb ++= "prs AS (SELECT a.p AS pa, b.p AS pb, CAST(COUNT(*) AS BIGINT) AS w FROM bli a JOIN bli b ON a.k = b.k AND a.p < b.p GROUP BY 1, 2 HAVING COUNT(*) >= 2), "
    sb ++= "prc AS (SELECT pa, pb, 1000 // w AS c FROM prs), "
    sb ++= "wcd AS MATERIALIZED (SELECT pa AS u, pb AS v, c FROM prc UNION SELECT pb, pa, c FROM prc), "
    sb ++= s"cd0 AS MATERIALIZED (SELECT u AS s, u AS id, CAST(0 AS BIGINT) AS d FROM (SELECT DISTINCT u FROM wcd) WHERE u % $WClosenessSeedMod = 0), "
    (1 to SsspRounds).foreach { t =>
      sb ++= s"cd$t AS MATERIALIZED (SELECT s, id, MIN(d) AS d FROM (" +
        s"SELECT s, id, d FROM cd${t - 1} UNION ALL " +
        s"SELECT p.s, e.v AS id, p.d + e.c AS d FROM wcd e JOIN cd${t - 1} p ON p.id = e.u" +
        s") GROUP BY s, id), "
    }
    sb.setLength(sb.length - 2)
    sb ++= s" SELECT s AS seed, CAST(COUNT(*) - 1 AS BIGINT) AS n_reached, " +
      s"CAST(SUM(d) AS BIGINT) AS total_dist, " +
      s"CASE WHEN SUM(d) > 0 THEN (1000000 * CAST(COUNT(*) - 1 AS BIGINT)) // CAST(SUM(d) AS BIGINT) ELSE 0 END AS closeness_micro " +
      s"FROM cd$SsspRounds GROUP BY s ORDER BY seed"
    sb.result()
  }

  /** Weighted-harmonic oracle: the [[weightedClosenessOracle]]
    * relaxation with the per-seed fold swapped — Σ of exact
    * `1000000 // d` terms over d > 0 (per-term flooring, the operator
    * contract), unreachable contributes nothing. */
  private val weightedHarmonicOracle: String = {
    val sb = new StringBuilder
    sb ++= "WITH bli AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem), "
    sb ++= "prs AS (SELECT a.p AS pa, b.p AS pb, CAST(COUNT(*) AS BIGINT) AS w FROM bli a JOIN bli b ON a.k = b.k AND a.p < b.p GROUP BY 1, 2 HAVING COUNT(*) >= 2), "
    sb ++= "prc AS (SELECT pa, pb, 1000 // w AS c FROM prs), "
    sb ++= "wcd AS MATERIALIZED (SELECT pa AS u, pb AS v, c FROM prc UNION SELECT pb, pa, c FROM prc), "
    sb ++= s"cd0 AS MATERIALIZED (SELECT u AS s, u AS id, CAST(0 AS BIGINT) AS d FROM (SELECT DISTINCT u FROM wcd) WHERE u % $WClosenessSeedMod = 0), "
    (1 to SsspRounds).foreach { t =>
      sb ++= s"cd$t AS MATERIALIZED (SELECT s, id, MIN(d) AS d FROM (" +
        s"SELECT s, id, d FROM cd${t - 1} UNION ALL " +
        s"SELECT p.s, e.v AS id, p.d + e.c AS d FROM wcd e JOIN cd${t - 1} p ON p.id = e.u" +
        s") GROUP BY s, id), "
    }
    sb.setLength(sb.length - 2)
    sb ++= s" SELECT s AS seed, CAST(COUNT(*) - 1 AS BIGINT) AS n_reached, " +
      s"CAST(COALESCE(SUM(CASE WHEN d > 0 THEN 1000000 // d END), 0) AS BIGINT) AS harmonic_micro " +
      s"FROM cd$SsspRounds GROUP BY s ORDER BY seed"
    sb.result()
  }

  private val ClosenessSeedMod = 200
  private val ClosenessHops = 3

  /** Per-seed bounded closeness oracle: ONE recursive CTE keyed by
    * (seed, vertex) — per-seed BFS without per-seed queries, the SQL
    * mirror of the (seed, vertex)-keyed frontier. */
  private val closenessOracle: String =
    s"""WITH RECURSIVE bli AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem),
       |prs AS (SELECT a.p AS pa, b.p AS pb FROM bli a JOIN bli b ON a.k = b.k AND a.p < b.p GROUP BY 1, 2 HAVING COUNT(*) >= 2),
       |ced AS (SELECT pa AS u, pb AS v FROM prs UNION SELECT pb, pa FROM prs),
       |csd AS (SELECT DISTINCT u FROM ced WHERE u % $ClosenessSeedMod = 0),
       |cbf(s, u, h) AS (SELECT u, u, 0 FROM csd
       |UNION SELECT p.s, e.v, p.h + 1 FROM ced e JOIN cbf p ON p.u = e.u WHERE p.h < $ClosenessHops),
       |cbm AS (SELECT s, u, MIN(h) AS h FROM cbf GROUP BY s, u)
       |SELECT s AS seed, CAST(COUNT(*) - 1 AS BIGINT) AS n_reached,
       |CAST(SUM(h) AS BIGINT) AS total_hops,
       |CASE WHEN SUM(h) > 0 THEN (1000000 * CAST(COUNT(*) - 1 AS BIGINT)) // CAST(SUM(h) AS BIGINT) ELSE 0 END AS closeness_micro
       |FROM cbm GROUP BY s ORDER BY seed""".stripMargin.replace("\n", " ")

  /** Harmonic-centrality oracle: the [[closenessOracle]] (seed,
    * vertex) recursion with the per-seed fold swapped — Σ of exact
    * per-vertex `1000000 // h` terms over h > 0 (per-term flooring is
    * the operator contract), unreachable contributes nothing. */
  private val harmonicOracle: String =
    s"""WITH RECURSIVE bli AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem),
       |prs AS (SELECT a.p AS pa, b.p AS pb FROM bli a JOIN bli b ON a.k = b.k AND a.p < b.p GROUP BY 1, 2 HAVING COUNT(*) >= 2),
       |ced AS (SELECT pa AS u, pb AS v FROM prs UNION SELECT pb, pa FROM prs),
       |csd AS (SELECT DISTINCT u FROM ced WHERE u % $ClosenessSeedMod = 0),
       |cbf(s, u, h) AS (SELECT u, u, 0 FROM csd
       |UNION SELECT p.s, e.v, p.h + 1 FROM ced e JOIN cbf p ON p.u = e.u WHERE p.h < $ClosenessHops),
       |cbm AS (SELECT s, u, MIN(h) AS h FROM cbf GROUP BY s, u)
       |SELECT s AS seed, CAST(COUNT(*) - 1 AS BIGINT) AS n_reached,
       |CAST(COALESCE(SUM(CASE WHEN h > 0 THEN 1000000 // h END), 0) AS BIGINT) AS harmonic_micro
       |FROM cbm GROUP BY s ORDER BY seed""".stripMargin.replace("\n", " ")

  private val AnfSourceMod = 4
  private val AnfSourceCap = 2048
  // 7, not 8: at hops=8 the sf0.01 exact curve sits at 91.86% of its
  // total on hop 7 — 1.86% above the 90% boundary, INSIDE the 4·RSE
  // (≈4.6%) sketch tolerance the HLL registers guarantee, so a
  // legitimate sketch deviation could flip at_eff_90 and fail the pin
  // spuriously. At hops=7 every hop clears the boundary beyond the
  // worst-case two-sided ratio distortion (hop 6 = 75.85%, inflated
  // ×1.0965 → 83.2% < 90%; the top hop is structurally ratio 1):
  // the oracle decision is provably stable, asserted in GraphSpec's
  // "registered-query stability" test against the exact BFS curve.
  private val AnfHops = 7

  /** ANF production-shape oracle: the closenessOracle's (source,
    * vertex) recursion over the sampled source set, rolled up to
    * cumulative per-hop pair counts, FILLED FORWARD to the full
    * 0..maxHops grid (the sketch path runs every round; a saturated
    * curve goes flat, it does not stop emitting rows), then reduced to
    * the 90%-crossing verdict per hop — the effective-diameter
    * decision, which is the portable part of the sketch output (the
    * approx_pairs estimate itself is engine-specific, the
    * ev_daily_uniques_approx contract; its numeric honesty is pinned
    * in GraphSpec by the audit-mode BFS twin). */
  private val anfOracle: String =
    s"""WITH RECURSIVE bli AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem),
       |prs AS (SELECT a.p AS pa, b.p AS pb FROM bli a JOIN bli b ON a.k = b.k AND a.p < b.p GROUP BY 1, 2 HAVING COUNT(*) >= 2),
       |aed AS (SELECT pa AS u, pb AS v FROM prs UNION SELECT pb, pa FROM prs),
       |asd AS (SELECT DISTINCT u FROM aed WHERE u % $AnfSourceMod = 0 AND u < $AnfSourceCap),
       |abf(s, u, h) AS (SELECT u, u, 0 FROM asd
       |UNION SELECT p.s, e.v, p.h + 1 FROM aed e JOIN abf p ON p.u = e.u WHERE p.h < $AnfHops),
       |abm AS (SELECT s, u, MIN(h) AS h FROM abf GROUP BY 1, 2),
       |ahc AS (SELECT h, COUNT(*) AS c FROM abm GROUP BY 1),
       |acu AS (SELECT CAST(h AS BIGINT) AS hops, CAST(SUM(c) OVER (ORDER BY h) AS BIGINT) AS exact_pairs FROM ahc),
       |agr AS (SELECT CAST(range AS BIGINT) AS hops FROM range(0, ${AnfHops + 1})),
       |afl AS (SELECT g.hops, MAX(a.exact_pairs) AS exact_pairs FROM agr g JOIN acu a ON a.hops <= g.hops GROUP BY g.hops)
       |SELECT hops, (exact_pairs * 10 >= 9 * MAX(exact_pairs) OVER ()) AS at_eff_90
       |FROM afl ORDER BY hops""".stripMargin.replace("\n", " ")

  private val graph = Vector(
    Q("graph_pagerank",
      (s, d) => operators.Graph.pageRank(copurchaseEdges(s, d), "pa", "pb",
        iterations = PrIters)
        .withColumnRenamed("id", "part_id"),
      Some(pageRankOracle),
      bench = true),
    // Weighted PageRank over the same graph with co-order multiplicity
    // kept as integer edge weights: mass flows (r·w) div Σw per edge,
    // so a 40×-co-ordered pair pulls rank where the unweighted walk
    // can't tell it from a one-off coincidence. Same exact micro-unit
    // arithmetic ⇒ the oracle unrolls identically with strengths
    // replacing degrees.
    Q("graph_pagerank_weighted",
      (s, d) => operators.Graph.weightedPageRank(
        copurchaseWeightedEdges(s, d), "pa", "pb", "w",
        iterations = PrIters)
        .withColumnRenamed("id", "part_id"),
      Some(weightedPrOracle)),
    // Weighted label propagation: candidate labels scored by the sum
    // of carrying edge weights (ties to the smallest label) — a heavy
    // co-purchase tie outvotes many incidental ones. Deterministic
    // fixed rounds, so the oracle unrolls the identical rounds.
    Q("graph_labelprop_weighted",
      (s, d) => operators.Graph.weightedLabelPropagation(
        copurchaseWeightedEdges(s, d), "pa", "pb", "w",
        rounds = LpaRounds)
        .select(col("id").as("part_id"), col("label").as("community_id"))
        .orderBy("part_id"),
      Some(weightedLpaOracle)),
    // degree-ordered exact triangle counting + integer clustering
    // coefficient — the wedge join is bounded by the orientation
    // (O(E^{3/2}) candidates), never Σ deg²
    Q("graph_triangles",
      (s, d) => operators.Graph.triangleCounts(copurchaseEdges(s, d), "pa", "pb")
        .withColumnRenamed("id", "part_id").orderBy("part_id"),
      Some(triangleOracle)),
    // Weighted triangle participation: each triangle contributes its
    // BOTTLENECK weight (min of its 3 co-order multiplicities), so a
    // vertex's triangle mass measures reinforced cohesion, not
    // incidental closure — same degree-oriented O(E^{3/2}) wedge
    // enumeration, with the closing edge inner-joined for its weight.
    Q("graph_triangles_weighted",
      (s, d) => operators.Graph.weightedTriangleCounts(
        copurchaseWeightedEdges(s, d), "pa", "pb", "w")
        .withColumnRenamed("id", "part_id").orderBy("part_id"),
      Some(weightedTriangleOracle)),
    // Degree assortativity: the one-number hubs-link-to-hubs (+) vs
    // hubs-link-to-leaves (−) structural summary. Over the symmetric
    // edge list both endpoint marginals coincide, so Pearson's
    // sqrt-product denominator collapses and the statistic is fully
    // RATIONAL: exact long sums + one final double division.
    Q("graph_assortativity",
      (s, d) => operators.Graph.degreeAssortativity(
        copurchaseEdges(s, d), "pa", "pb"),
      Some(assortativityOracle)),
    // Strength assortativity: do heavily-tied parts tie heavily to
    // EACH OTHER? Endpoint strengths correlated over w-weighted
    // edges — exact integer sums, one final double division, uniform
    // weights reduce to the degree form (GraphSpec pin).
    Q("graph_assortativity_weighted",
      (s, d) => operators.Graph.weightedAssortativity(
        copurchaseWeightedEdges(s, d), "pa", "pb", "w"),
      Some(weightedAssortativityOracle)),
    // Bipartite HITS over the customer×part purchase relation (who
    // ordered what, distinct pairs): 2 exact-integer power-iteration
    // rounds, no normalization (a positive global scale cannot
    // reorder), hub = customer side, authority = part side. The
    // oracle unrolls the same four half-steps; round 1's authority
    // is exactly part degree (h0 ≡ 1), pinned in GraphSpec.
    Q("graph_hits",
      (s, d) => operators.Graph.bipartiteHits(
        t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
          .join(t(s, d, "lineitem").select(col("l_orderkey"), col("l_partkey")),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("c"), col("l_partkey").as("p")),
        "c", "p", rounds = 2)
        .orderBy("side", "node_id"),
      Some("""WITH hbe AS (SELECT DISTINCT o_custkey AS c, l_partkey AS p FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
             |hba1 AS (SELECT p, CAST(COUNT(*) AS HUGEINT) AS a FROM hbe GROUP BY p),
             |hbh1 AS (SELECT c, SUM(a) AS h FROM hbe JOIN hba1 USING (p) GROUP BY c),
             |hba2 AS (SELECT p, SUM(h) AS a FROM hbe JOIN hbh1 USING (c) GROUP BY p),
             |hbh2 AS (SELECT c, SUM(a) AS h FROM hbe JOIN hba2 USING (p) GROUP BY c)
             |SELECT side, node_id, score FROM (
             |SELECT 'authority' AS side, p AS node_id, CAST(a AS BIGINT) AS score FROM hba2
             |UNION ALL SELECT 'hub' AS side, c AS node_id, CAST(h AS BIGINT) AS score FROM hbh2)
             |ORDER BY side, node_id""".stripMargin.replace("\n", " "))),
    // Eigenvector centrality on the co-purchase graph — HITS's
    // recurrence collapsed to the symmetric case: 2 unnormalized
    // power-iteration rounds from x0 ≡ 1, so score(v) is the EXACT
    // count of length-2 walks ending at v — the undamped
    // "important because my neighbors are important" ranking
    // PageRank's teleport deliberately smooths away (a clique member
    // outranks an equal-degree star center here). DECIMAL(38,0)
    // accumulation, guarded BIGINT emit; round 1 ≡ degree is the
    // GraphSpec anchor.
    Q("graph_eigenvector",
      (s, d) => operators.Graph.eigenvectorCentrality(
        copurchaseEdges(s, d), "pa", "pb", rounds = 2)
        .withColumnRenamed("id", "part_id").orderBy("part_id"),
      Some("""WITH bli AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem),
             |prs AS (SELECT a.p AS pa, b.p AS pb FROM bli a JOIN bli b ON a.k = b.k AND a.p < b.p GROUP BY 1, 2 HAVING COUNT(*) >= 2),
             |eed AS (SELECT pa AS u, pb AS v FROM prs UNION SELECT pb, pa FROM prs),
             |ex1 AS (SELECT v, CAST(COUNT(*) AS HUGEINT) AS x FROM eed GROUP BY v),
             |ex2 AS (SELECT e.v, SUM(p.x) AS x FROM eed e JOIN ex1 p ON p.v = e.u GROUP BY e.v)
             |SELECT v AS part_id, CAST(x AS BIGINT) AS score FROM ex2
             |ORDER BY part_id""".stripMargin.replace("\n", " "))),
    // Resource-allocation link prediction (which absent edges the
    // graph most implies): Σ 1/deg over common neighbors in exact
    // nano-units — RA instead of Adamic–Adar's 1/log(deg) precisely
    // so NO transcendental enters the score (log ulps differ across
    // libm builds; integer division doesn't). The center-degree cap
    // is part of the definition (superhub centers contribute the
    // least weight and the most wedges) and the oracle applies it
    // identically.
    Q("graph_linkpred_ra",
      (s, d) => operators.Graph.linkPredictionRA(copurchaseEdges(s, d),
        "pa", "pb", maxCenterDegree = RaMaxDeg, topK = RaTopK),
      Some(raOracle)),
    // Horizon-bounded closeness centrality for a seed set: per-seed
    // BFS carried in ONE (seed, vertex)-keyed frontier (no per-seed
    // jobs), closeness = n_reached/Σdist in exact micro-units —
    // "how central is this part in its 3-hop neighborhood", the
    // practical surrogate for all-pairs closeness at 100 TB.
    Q("graph_closeness",
      (s, d) => operators.Graph.seedCloseness(copurchaseEdges(s, d),
        "pa", "pb", id => id % ClosenessSeedMod === 0,
        maxHops = ClosenessHops).orderBy("seed"),
      Some(closenessOracle)),
    // Harmonic centrality over the SAME panel/horizon — the
    // disconnection-robust closeness (Boldi–Vigna axioms): Σ of exact
    // per-vertex 10⁶ div d terms, so every extra reachable vertex
    // adds mass where closeness's n/Σd ratio lets a seed touching one
    // close neighbor tie a hub touching a thousand. Same shared BFS,
    // same micro-unit convention, per-term flooring in the contract.
    Q("graph_harmonic",
      (s, d) => operators.Graph.harmonicCentrality(copurchaseEdges(s, d),
        "pa", "pb", id => id % ClosenessSeedMod === 0,
        maxHops = ClosenessHops).orderBy("seed"),
      Some(harmonicOracle)),
    // Weighted closeness over the SAME seed panel: 10⁶·n div Σdist on
    // min-plus distances with proximity costs 1000 div w — a seed knit
    // to its neighborhood by heavy ties scores higher than the hop
    // metric can express. (seed, vertex)-keyed relaxation, one job for
    // all seeds; (count, sum) fixpoint proof.
    Q("graph_closeness_weighted",
      (s, d) => operators.Graph.weightedSeedCloseness(
        copurchaseWeightedEdges(s, d)
          .withColumn("c", expr("1000 div w")),
        "pa", "pb", "c", id => id % WClosenessSeedMod === 0,
        rounds = SsspRounds).orderBy("seed"),
      Some(weightedClosenessOracle)),
    // Weighted harmonic over the SAME panel and cost map: Σ exact
    // 10^6 div dist reciprocals on the min-plus distances — heavy-tie
    // proximity that stays robust to disconnection where the n/Σd
    // ratio is not (the graph_harmonic contrast, weighted).
    Q("graph_harmonic_weighted",
      (s, d) => operators.Graph.weightedHarmonicCentrality(
        copurchaseWeightedEdges(s, d)
          .withColumn("c", expr("1000 div w")),
        "pa", "pb", "c", id => id % WClosenessSeedMod === 0,
        rounds = SsspRounds).orderBy("seed"),
      Some(weightedHarmonicOracle)),
    // Multi-source BFS: hop distance from the seed set (part_id ≡ 0
    // mod 50) within 3 hops — level-synchronous frontier expansion
    // (one edge equi-join + anti-join per round, integer hops), the
    // blast-radius query of contamination tracing. The oracle is the
    // textbook recursive CTE over the same co-purchase edges; MIN(h)
    // ≡ the BFS layer a vertex first enters the frontier.
    Q("graph_khop",
      (s, d) => operators.Graph.bfsHops(copurchaseEdges(s, d), "pa", "pb",
        id => id % 50 === 0, maxHops = KhopHops)
        .withColumnRenamed("id", "part_id").orderBy("part_id"),
      Some(bfsOracle)),
    // Weighted shortest paths from the SAME seed set: min-plus
    // relaxation over proximity costs 1000 div w (strong co-purchase
    // ties read SHORT), so a cheap multi-hop detour through heavy
    // ties beats an expensive direct edge — the distance graph_khop's
    // edge counting cannot express. Fixed rounds, (count, sum)
    // fixpoint proof, rounds_stable self-audit.
    Q("graph_sssp_weighted",
      (s, d) => operators.Graph.weightedShortestPaths(
        copurchaseWeightedEdges(s, d)
          .withColumn("c", expr("1000 div w")),
        "pa", "pb", "c", id => id % 50 === 0, rounds = SsspRounds)
        .withColumnRenamed("id", "part_id").orderBy("part_id"),
      Some(ssspOracle)),
    // Personalized PageRank from the SAME seed set graph_khop expands:
    // the soft blast radius (0.85-per-hop decay summed over all paths)
    // beside the hard 3-hop horizon — exact integer micro-units, so
    // the oracle replays all 10 rounds as unrolled CTEs.
    Q("graph_ppr",
      (s, d) => operators.Graph.personalizedPageRank(copurchaseEdges(s, d),
        "pa", "pb", id => id % 50 === 0, iterations = PrIters)
        .withColumnRenamed("id", "part_id").orderBy("part_id"),
      Some(pprOracle)),
    // Bounded-horizon sampled betweenness over the khop/ppr seed
    // panel: exact integer pair-path mass through each interior
    // vertex (σ(s,v)·σ(t,v) summed over panel pairs whose shortest
    // path passes it) — deliberately the UNNORMALIZED Brandes
    // numerator, because the classic δ-accumulation divides path
    // counts and division has no cross-engine bit contract. The
    // which-vertex-carries-the-graph question PageRank (stationary
    // mass) and closeness (average distance) both miss. The panel is
    // mod-sampled AND absolute-capped (the AnfSourceCap lesson,
    // re-measured here: the mod-only panel grows with the graph and
    // the |panel|²-quadratic pair join took 383 s at 10× vs 3 s at
    // 1×; the cap — inactive at sf0.01, every part id < 2048 — pins
    // the panel, and with it the pair join, at any scale).
    Q("graph_betweenness",
      (s, d) => operators.Graph.sampledBetweenness(copurchaseEdges(s, d),
        "pa", "pb", id => id % 50 === 0 && id < BetweennessSeedCap,
        maxHops = KhopHops)
        .withColumnRenamed("id", "part_id").orderBy("part_id"),
      Some(betweennessOracle)),
    // Weighted personalized PageRank — the weighted family's last
    // member: strength-proportional mass flow ((r·w) div Σw per edge)
    // with the teleport gated on the same seed set, so the score is
    // weighted proximity to the seeds (a 40×-co-ordered tie carries
    // 20× the recommendation pull of a twice-ordered one). Uniform
    // weights reduce bit-exactly to graph_ppr (GraphSpec pin).
    Q("graph_ppr_weighted",
      (s, d) => operators.Graph.weightedPersonalizedPageRank(
        copurchaseWeightedEdges(s, d), "pa", "pb", "w",
        id => id % 50 === 0, iterations = PrIters)
        .withColumnRenamed("id", "part_id").orderBy("part_id"),
      Some(weightedPprOracle)),
    // Connected components of the co-purchase graph as first-class
    // surface (the same pointer-jumping resolution dedup_clusters
    // applies to near-dup pairs, here over relational edges): min
    // member id as the component label, log-diameter rounds.
    Q("graph_components",
      (s, d) => {
        val e = copurchaseEdges(s, d)
        val verts = e.select(col("pa").as("part_id"))
          .union(e.select(col("pb").as("part_id"))).distinct()
        operators.Dedup.connectedComponents(verts, "part_id", e, "pa", "pb")
          .withColumnRenamed("cluster_id", "component_id")
          .withColumnRenamed("keep", "is_min")
          .orderBy("part_id")
      },
      Some(componentsOracle)),
    // Synchronous label-propagation communities (3 fixed rounds,
    // most-frequent neighbor label, ties to smallest): density-local
    // structure where components only see reachability — one bridge
    // edge merges two CC components but LPA keeps knit sides apart.
    // Deterministic by construction (fixed rounds, total argmax), so
    // the oracle unrolls the identical rounds.
    Q("graph_labelprop",
      (s, d) => operators.Graph.labelPropagation(copurchaseEdges(s, d),
        "pa", "pb", rounds = LpaRounds)
        .select(col("id").as("part_id"), col("label").as("community_id"))
        .orderBy("part_id"),
      Some(lpaOracle)),
    // 2-core of the co-purchase graph: the mutually-supported body
    // after fixed synchronous peel rounds (the density filter of
    // graph curation); rounds_stable reports where the peel reached
    // its fixpoint, so the fixed budget is self-auditing.
    Q("graph_kcore",
      (s, d) => operators.Graph.kCore(copurchaseEdges(s, d), "pa", "pb",
        k = KcoreK, rounds = KcoreRounds)
        .withColumnRenamed("id", "part_id").orderBy("part_id"),
      Some(kcoreOracle)),
    // Weighted k-core (s-core): the peel criterion on STRENGTH — sum
    // of co-order multiplicities to surviving neighbors — so the core
    // demands accumulated evidence where the 2-core keeps anything
    // with two incidental edges. Same fixed synchronous rounds and
    // rounds_stable self-audit; the oracle unrolls with SUM(w)
    // replacing COUNT(*).
    Q("graph_kcore_weighted",
      (s, d) => operators.Graph.weightedKCore(
        copurchaseWeightedEdges(s, d), "pa", "pb", "w",
        minStrength = ScoreMinStrength, rounds = ScoreRounds)
        .withColumnRenamed("id", "part_id").orderBy("part_id"),
      Some(weightedKcoreOracle)),
    // 3-truss of the co-purchase graph: the EDGE-level peel — every
    // surviving edge must close ≥ k−2 triangles with other survivors,
    // a strictly stronger cohesion filter than the vertex k-core
    // (cores keep bridge tangles; trusses are made of triangles).
    // Per-round support rides the degree-oriented enumeration
    // (O(E^{3/2}) wedges), rounds_stable self-audits the fixed budget.
    Q("graph_ktruss",
      (s, d) => operators.Graph.kTruss(copurchaseEdges(s, d), "pa", "pb",
        k = KtrussK, rounds = KtrussRounds)
        .orderBy("pa", "pb"),
      Some(ktrussOracle)),
    // Weighted truss: the edge peel on accumulated triangle MASS
    // (Σ bottleneck weights ≥ WtrussMinSup) — two incidental
    // single-co-order triangles no longer outrank one heavily-
    // reinforced triangle. Uniform weights with minSupport = c·(k−2)
    // reduce exactly to the unweighted truss (GraphSpec pin).
    Q("graph_ktruss_weighted",
      (s, d) => operators.Graph.weightedKTruss(
        copurchaseWeightedEdges(s, d), "pa", "pb", "w",
        minSupport = WtrussMinSup, rounds = KtrussRounds)
        .orderBy("pa", "pb"),
      Some(weightedKtrussOracle)),
    // HyperBall neighborhood function + effective diameter, the
    // PRODUCTION sketch path (audit = false): per-hop reachable-pair
    // sketch totals from the sampled source set with the 90% crossing
    // marked per hop (at_eff_90 — its first true row IS the effective
    // diameter). O(E·h) — no exact BFS rides the registered query;
    // the within_bound honesty audit (a real (source, vertex) BFS,
    // quadratic-ish in ball mass) lives in GraphSpec's audit-mode
    // tests where it belongs. Oracle recurses the sampled BFS exactly
    // and replays the 90%-crossing decision over the full hop grid —
    // the decision is the portable column (the sketch estimate itself
    // is engine-specific and projected away here). The source panel
    // is a FIXED-SIZE deterministic sample (mod + absolute id cap —
    // the ANF paper's source-sampling estimator): the sketch path
    // stays O(E·h) however the corpus grows.
    // Bench headliner: the most scale-interesting graph operator —
    // O(E·h) sketch propagation with fixpoint early-stop. The timed
    // hop grid is 0..AnfHops (= 7): one edge join + one vertex-keyed
    // register-max union-agg per hop over the sf-dir co-purchase
    // graph, sources = part_id ≡ 0 (mod AnfSourceMod) ∧ < AnfSourceCap
    // (fixed-size panel — the cost curve cites edges, not sources).
    Q("graph_anf",
      (s, d) => operators.Graph.anf(copurchaseEdges(s, d), "pa", "pb",
        id => id % AnfSourceMod === 0 && id < AnfSourceCap,
        maxHops = AnfHops, audit = false)
        .select("hops", "at_eff_90"),
      Some(anfOracle), bench = true),
  )

  val all: Vector[Q] = text ++ dedup ++ mixing ++ similarity ++ eventQueries ++ skewLayout ++ dataQuality ++ multimodal ++ cdc ++ graph
}
