package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic, hash-gated sampling — the reproducibility primitive a
  * training-data pipeline needs where `df.sample()` cannot be trusted:
  * Spark's sampler is seeded per-partition, so the SAME row flips
  * in/out of the sample whenever the partition layout changes (a new
  * file split, a repartition, AQE coalescing). Here membership is a
  * pure function of the row's stable id — `xxhash64(id) mod denom`
  * lands in a fixed bucket, and a row is kept iff its bucket falls
  * under the rate threshold. Properties that matter at 100 TB:
  *
  *  - *map-only*: a codegen'd filter on the scan, no shuffle, pushes
  *    nothing but the id column through the hash;
  *  - *stable under re-runs and re-layouts*: the sample is identical
  *    across cluster sizes, file splits, and engine versions (xxhash64
  *    is a fixed public algorithm);
  *  - *nested*: a 1% sample is a strict subset of the 10% sample taken
  *    with the same denominator — shrink/grow experiments stay
  *    comparable;
  *  - *disjoint splits for free*: train/val/test are non-overlapping
  *    bucket RANGES of the same hash, so no row can leak across splits
  *    even when the splits are computed by different jobs.
  *
  * The reference engine has no sampling at all (integer-only SELECT
  * subset, /root/reference/sqlengine.py); this is extension surface.
  */
object Sampling {

  /** Bucket resolution: rates are exact multiples of 1e-6. */
  val DefaultDenom: Long = 1000000L

  /** The row's stable sample bucket in [0, denom). */
  def hashBucket(id: Column, denom: Long = DefaultDenom): Column =
    pmod(xxhash64(id), lit(denom))

  /** `rate` → the largest bucket strictly below the keep line. Computed
    * in ONE place so the Spark filter and any external re-derivation
    * (the DuckDB oracle) agree bit-for-bit on the rounding of
    * `rate * denom`. */
  def threshold(rate: Double, denom: Long = DefaultDenom): Long = {
    require(rate >= 0.0 && rate <= 1.0, s"rate must be in [0,1], got $rate")
    (rate * denom).toLong
  }

  /** Uniform deterministic sample: keep iff bucket(id) < rate·denom. */
  def hashSample(df: DataFrame, idCol: String, rate: Double,
      denom: Long = DefaultDenom): DataFrame =
    df.filter(hashBucket(col(idCol), denom) < threshold(rate, denom))

  /** Leakage-safe train/test split: the split gate hashes the NEAR-DUP
    * CLUSTER id, not the document id — two near-duplicates can never
    * straddle the boundary, so the test set cannot be contaminated by
    * a paraphrase of a training document (the held-out-eval bug that a
    * per-document hash split commits silently: at near-dup rates of a
    * few percent, a few percent of "held-out" documents have a twin in
    * train). Composition, not new machinery: near-dup pairs (from any
    * of the pair generators — minhash, simhash, prefix-Jaccard) →
    * [[Dedup.connectedComponents]] → the [[hashSample]] gate on
    * `cluster_id`. The leakage guarantee is STRUCTURAL: `split` is a
    * pure function of `cluster_id`, so "same cluster ⇒ same split"
    * holds by construction, not by test (the spec pins it anyway).
    *
    * Gate arithmetic is exact integers — `bucket·1000 < permille·denom`
    * (no rate·denom rounding ambiguity); singletons are their own
    * cluster, so the test fraction converges to testPermille/1000 on
    * the (dominant) singleton mass.
    *
    * Scale shape: the CC runs over edge ENDPOINTS only (near-dup
    * graphs touch a small fraction of the corpus); the gate is a
    * map-only codegen'd filter. Output: (id, cluster_id, split). */
  def leakageSafeSplit(df: DataFrame, idCol: String, pairs: DataFrame,
      testPermille: Int, aCol: String = "a", bCol: String = "b",
      denom: Long = DefaultDenom): DataFrame = {
    require(testPermille > 0 && testPermille < 1000,
      s"leakageSafeSplit: testPermille must be in (0, 1000), got $testPermille")
    graft.operators.Dedup.connectedComponents(df, idCol, pairs, aCol, bCol)
      .select(col(idCol), col("cluster_id"),
        when(hashBucket(col("cluster_id"), denom) * 1000 <
            lit(testPermille) * denom, lit("test"))
          .otherwise(lit("train")).as("split"))
  }

  /** Stratified deterministic sample: a per-stratum keep rate (e.g.
    * keep 50% of English, 20% of everything else). One codegen'd
    * CASE over the strata column — still map-only, no shuffle; the
    * rebalancing a `sampleBy` would do at the partition level happens
    * here per ROW, so it is exact and layout-independent. */
  def stratifiedHashSample(df: DataFrame, idCol: String, strataCol: String,
      rates: Map[String, Double], defaultRate: Double,
      denom: Long = DefaultDenom): DataFrame = {
    val thr = rates.foldLeft(lit(threshold(defaultRate, denom))) {
      case (acc, (stratum, rate)) =>
        when(col(strataCol) === stratum, lit(threshold(rate, denom))).otherwise(acc)
    }
    df.filter(hashBucket(col(idCol), denom) < thr)
  }

  /** Cumulative split boundaries for [[assignSplits]] — exposed so an
    * external re-derivation uses the identical rounded longs. The last
    * split absorbs the remainder (fractions need not sum to exactly 1
    * in floating point). */
  def splitBounds(fracs: Seq[(String, Double)],
      denom: Long = DefaultDenom): Seq[(String, Long)] = {
    require(fracs.nonEmpty, "at least one split")
    val cum = fracs.map(_._2).scanLeft(0.0)(_ + _).tail
    fracs.map(_._1).zip(cum.map(c => threshold(math.min(c, 1.0), denom)))
  }

  /** Deterministic per-group reservoir: EXACTLY `k` rows per group
    * (fewer if the group is smaller), chosen uniformly by hash rank —
    * "cap every source at N documents, picked at random but
    * reproducibly". Rate-based sampling can't hit an exact count;
    * window-rank over the full group shuffles every row. This rides
    * the native bounded-heap top-k aggregate instead: each partition
    * ships at most k rows per group, so a 100 TB corpus with a
    * 5M-docs-per-source cap never shuffles more than the cap per
    * (group, partition). Output: groupCols + idCol + rank (1-based,
    * by descending hash — a stable "random" order usable as a nested
    * sub-reservoir: rank ≤ j is the same j-row sample for every
    * j ≤ k). */
  def reservoirPerGroup(df: DataFrame, groupCols: Seq[String], idCol: String,
      k: Int): DataFrame =
    Mixing.topKPerGroup(
      df.withColumn("__hr", xxhash64(col(idCol))), groupCols, "__hr", idCol, k)
      .drop("__hr")

  /** WEIGHT-PROPORTIONAL without-replacement sampling via priority
    * sampling (Duffield, Lund & Thorup, JACM'07): each row draws a
    * deterministic uniform u ∈ (0, 1] from its id hash and gets
    * priority w/u; the k highest-priority rows are the sample.
    * Inclusion probability ≈ min(1, k·w/Σw), and DLT prove the sample
    * supports unbiased subset-sum estimation — the standard way to
    * take "sample documents proportional to token count" without a
    * weighted-pass shuffle. Deterministic like every sampler here
    * (same hash → same sample under any partitioning); top-k runs as
    * TakeOrderedAndProject (per-partition heaps, k rows to the
    * driver), so no global sort at any scale. u maps the hash's top
    * 53 bits to (0, 1] — exact double arithmetic, engine-portable. */
  /** DSIR-style importance resampling (Xie et al., NeurIPS 2023: "Data
    * Selection for Language Models via Importance Resampling") — pick
    * the k documents whose hashed-unigram distribution looks most like
    * a target domain, as a deterministic, log-free integer pipeline:
    *
    *  1. every token lands in one of `buckets` xxhash64 buckets
    *     (buckets must be a power of two so the unsigned-mod bucket is
    *     the signed hash's low bits in BOTH engines);
    *  2. per-bucket add-1-smoothed probabilities for the target slice
    *     and the whole corpus, quantized to parts-per-billion in exact
    *     integer arithmetic (`(c+1)·1e9 DIV (tot+B)` — logs are
    *     deliberately avoided: ln() is not bit-stable cross-engine,
    *     same reason the drift query scores PSI-free);
    *  3. per-token importance ratio in parts-per-million
    *     (`pt·1e6 DIV ps`), per-doc weight = mean token ratio;
    *  4. weight-proportional deterministic draw via [[prioritySample]]
    *     (xxhash64(id) uniforms — layout-invariant, reproducible).
    *
    * Scale shape: the token explode is one scan (persisted, consumed
    * 2×); the histogram is `buckets` rows broadcast back onto the
    * stream, so everything but the final top-k is map-side. The ppb
    * quantization bounds corpora at ~1e9 tokens per slice (beyond
    * that `(c+1)·1e9` overflows a long) — at true 100 TB scale widen
    * to DecimalType or split the corpus; the STRUCTURE (bounded
    * histogram broadcast + one explode scan) is the part that carries.
    */
  def importanceResample(df: DataFrame, idCol: String, textCol: String,
      isTarget: Column, k: Int, buckets: Int = 64): DataFrame = {
    require(buckets >= 2 && Integer.bitCount(buckets) == 1,
      s"buckets must be a power of two, got $buckets")
    val toks = Caching.persist(
      df.select(col(idCol), isTarget.as("__tgt"),
          explode(TextAnalysis.tokens(col(textCol))).as("__tok"))
        // bucket on the 8-char token PREFIX: the DuckDB oracle's staged
        // xxh64 SQL only covers <= 8-byte strings, and a > 8-char token
        // would otherwise hash differently in the two engines the next
        // time the corpus grows a long word — truncating BOTH sides
        // makes the bucketing structurally engine-agnostic (a prefix
        // histogram is just as valid a hashed feature space)
        .withColumn("__b",
          pmod(xxhash64(substring(col("__tok"), 1, 8)), lit(buckets.toLong)))
        .select(col(idCol), col("__tgt"), col("__b")))
    val hist = toks.groupBy("__b").agg(
      count(lit(1)).as("__sc"),
      sum(when(col("__tgt"), 1L).otherwise(0L)).as("__tc"))
    // corpus-wide totals: one row, rides along the <=buckets-row frame
    val ratios = hist
      .crossJoin(hist.agg(sum("__sc").as("__st"), sum("__tc").as("__tt")))
      .select(col("__b"), expr(
        s"""(((__tc + 1) * CAST(1000000000 AS BIGINT) DIV (__tt + $buckets))
           |* CAST(1000000 AS BIGINT))
           |DIV greatest((__sc + 1) * CAST(1000000000 AS BIGINT)
           |DIV (__st + $buckets), CAST(1 AS BIGINT))"""
          .stripMargin.replace("\n", " ")).as("__r"))
    val weights = toks.join(broadcast(ratios), "__b")
      .groupBy(col(idCol))
      .agg(expr("sum(__r) DIV count(1)").as("weight_ppm"))
    prioritySample(weights, idCol, "weight_ppm", k)
  }

  def prioritySample(df: DataFrame, idCol: String, weightCol: String,
      k: Int): DataFrame =
    df.withColumn("__u",
        (shiftrightunsigned(xxhash64(col(idCol)), 11) + lit(1L))
          .cast("double") / lit(9007199254740992.0))
      .withColumn("priority", col(weightCol) / col("__u"))
      .drop("__u")
      .orderBy(col("priority").desc, col(idCol).asc)
      .limit(k)

  /** Disjoint train/val/test(/...) assignment from the same hash:
    * split i owns the bucket range [bound(i-1), bound(i)); the final
    * split's upper bound is forced to `denom` so every row is
    * assigned. Adds a `split` string column; map-only. */
  def assignSplits(df: DataFrame, idCol: String,
      fracs: Seq[(String, Double)], denom: Long = DefaultDenom): DataFrame = {
    val bounds = splitBounds(fracs, denom)
    val bucket = hashBucket(col(idCol), denom)
    // fold from the last (catch-all) split backwards
    val assigned = bounds.init.foldRight(lit(bounds.last._1): Column) {
      case ((name, upper), acc) => when(bucket < upper, name).otherwise(acc)
    }
    df.withColumn("split", assigned)
  }

  /** Class-balanced downsample: every label is kept at (in expectation)
    * the minority class's count — rate_g = min_n / n_g, applied through
    * the same deterministic id-hash gate as [[hashSample]], so the kept
    * set is stable under re-layouts and nested across re-runs. The
    * per-label thresholds come from one tiny count aggregate broadcast
    * back onto the scan; the gate itself is a map-side codegen'd
    * filter. Thresholds are `trunc(rate · denom)` longs so an external
    * re-derivation (the DuckDB oracle) agrees bit-for-bit. Rows with a
    * NULL label have no class and are dropped (the equi-join never
    * matches them) — coalesce the label upstream to keep them. */
  def rebalanceClasses(df: DataFrame, idCol: String, labelCol: String,
      denom: Long = DefaultDenom): DataFrame = {
    val counts = df.groupBy(labelCol).agg(count(lit(1)).as("__n"))
    val mn = counts.agg(min(col("__n")).as("__mn"))
    val thr = counts.crossJoin(broadcast(mn))
      .withColumn("__thr",
        (col("__mn").cast("double") / col("__n") * denom).cast("long"))
      .select(col(labelCol), col("__thr"))
    df.join(broadcast(thr), Seq(labelCol))
      .filter(hashBucket(col(idCol), denom) < col("__thr"))
      .drop("__thr")
  }
}
