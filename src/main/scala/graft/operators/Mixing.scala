package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-mixture operators for assembling a training corpus from scored
  * documents: per-group caps and token-budget sampling — the step
  * between "scored/deduped documents" and "the mixture the model
  * actually trains on". The reference engine has nothing comparable
  * (integer-only SELECT subset, /root/reference/sqlengine.py); this is
  * extension surface over the `documents` table.
  *
  * Scale design:
  *  - [[topKPerGroup]] rides on the native [[graft.functions.TopKAggregate]]:
  *    map-side bounded heaps mean the shuffle carries ≤ k rows per
  *    (group, partition) — a 100 TB corpus with a "5M docs per source"
  *    cap never ships more than the cap per partition.
  *  - [[tokenBudgetPerGroup]] is a single ranked window per group
  *    (one shuffle). Groups are mixture cells (language × source):
  *    thousands of them, so partitions stay balanced; for a degenerate
  *    single giant cell, pre-cap with [[topKPerGroup]] (budget/minTokens
  *    rows bound the winners) before the ranked scan.
  */
object Mixing {

  /** Keep the `k` best rows of every group by `scoreCol` DESC (ties →
    * `idCol` ASC — deterministic). Output: groupCols + id + score +
    * rank (1-based). The id tiebreak works for ANY orderable id type
    * (string doc ids included). */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String], scoreCol: String,
      idCol: String, k: Int): DataFrame = {
    import graft.functions.TopKAggregate.topK
    df.groupBy(groupCols.map(col): _*)
      .agg(topK(col(scoreCol), col(idCol), col(idCol), k).as("__top"))
      .select(groupCols.map(col) :+ posexplode(col("__top")).as(Seq("__pos", "__e")): _*)
      .select(groupCols.map(col) ++ Seq(
        col("__e.payload").as(idCol),
        col("__e.score").as(scoreCol),
        (col("__pos") + 1).cast("long").as("rank")): _*)
  }

  /** Token-budget sampling: per group, take rows in `scoreCol` DESC
    * (ties → `idCol` ASC) order while the tokens taken BEFORE a row
    * stay under `budget` — i.e. the first row to cross the budget is
    * still included (standard fill-the-budget semantics: every group
    * with any data reaches its budget). Exact long arithmetic, fully
    * deterministic. */
  def tokenBudgetPerGroup(df: DataFrame, groupCols: Seq[String],
      tokenCol: String, scoreCol: String, idCol: String,
      budget: Long): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col(scoreCol).desc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("__taken", coalesce(sum(col(tokenCol)).over(w), lit(0L)))
      .filter(col("__taken") < budget)
      .drop("__taken")
  }

  /** Concat-and-chunk sequence packing — the GPT-style pretraining
    * layout: within each group, documents are laid end to end in
    * `idCol` order and the token stream is cut into fixed `seqLen`
    * windows. Adds `pack_id` (which training sequence this document
    * STARTS in) and `pack_offset` (its first token's position there);
    * long documents straddle pack boundaries by construction, exactly
    * like the real layout. One ranked window per group (groups are
    * mixture cells — thousands, balanced); exact long arithmetic. */
  def packSequences(df: DataFrame, groupCols: Seq[String], tokenCol: String,
      idCol: String, seqLen: Long): DataFrame = {
    require(seqLen > 0)
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    // integral DIV, not `/`: Spark's `/` is double division, exact only
    // below 2^53 — a per-group cumulative token count can cross that on
    // a large corpus with coarse groups (same rule as the range-join
    // slot math in TemporalJoins.boundedRangeJoin). __cum >= 0, so
    // truncating DIV == floor here.
    df.withColumn("__cum", coalesce(sum(col(tokenCol)).over(w), lit(0L)))
      .withColumn("pack_id", expr(s"__cum DIV ${seqLen}L"))
      .withColumn("pack_offset", pmod(col("__cum"), lit(seqLen)))
      .drop("__cum")
  }

  /** Distributed concat-and-chunk with SPAN output — what a sequence
    * WRITER materializes, where [[packSequences]] only labels each
    * document's starting window: every (training sequence, document)
    * intersection becomes one row, so a long document straddling
    * windows emits one span per window it touches and the writer's
    * per-sequence group-by assembles exact [doc_from, doc_to) token
    * slices. Documents are laid out in a deterministic hash-shuffled
    * order (xxh64(id), id) — the layout-independent corpus shuffle a
    * pretraining run wants, reproducible on any engine/partitioning.
    *
    * Scale shape — the TWO-LEVEL DISTRIBUTED PREFIX SUM, because a
    * single global cumulative window is one partition and
    * [[packSequences]]'s per-group windows die on one giant group:
    *  1. each row RANGE-buckets on the top log2(buckets) bits of its
    *     unsigned hash (one shuffle) — ranges, not hash-mod, so the
    *     bucket is a monotone function of the global (hash, id) order
    *     and the LAYOUT IS INVARIANT to the bucket count (a tuning
    *     knob must never change results; the spec pins 1 ≡ 8 ≡ 64);
    *  2. within-bucket exclusive prefix sums run in parallel ranked
    *     windows (unsigned hash order via the sign-bit flip — the
    *     two's-complement trick that makes signed ORDER BY agree with
    *     unsigned comparison);
    *  3. bucket TOTALS (≤ `buckets` rows — the only frame that ever
    *     sees a single-partition window, bounded by the knob, not the
    *     data) prefix-sum into bucket base offsets and broadcast back.
    * start = base(bucket) + local prefix — bit-equal to one global
    * cumsum in (unsigned hash, id) order, at any scale. Span
    * explosion is bounded per document by ⌈n/seqLen⌉+1 — output ≈
    * corpus tokens / seqLen extra rows, never quadratic. Zero-token
    * documents are dropped (they occupy no tokens; a zero-width span
    * would invent a sequence membership).
    *
    * Output: (seq_id, id, doc_from, doc_to, seq_off) — all BIGINT;
    * token t of the document for t ∈ [doc_from, doc_to) lands at
    * position seq_off + (t − doc_from) of sequence seq_id. */
  def packSpans(df: DataFrame, idCol: String, tokenCol: String,
      seqLen: Long, buckets: Int = 256): DataFrame = {
    require(seqLen > 0, s"packSpans: seqLen must be > 0, got $seqLen")
    require(buckets >= 1 && (buckets & (buckets - 1)) == 0,
      s"packSpans: buckets must be a power of two (range-bucketing " +
        s"shifts the hash's top bits), got $buckets")
    val k = java.lang.Integer.numberOfTrailingZeros(buckets)
    val base = Caching.persist(
      df.select(col(idCol), col(tokenCol).cast("long").as("__n"))
        .filter(col("__n") > 0)
        .withColumn("__hs", xxhash64(col(idCol)))
        // top k bits of the UNSIGNED hash = the range bucket (k = 0:
        // everything in bucket 0 — Java shifts are mod 64, so the
        // degenerate case must short-circuit)
        .withColumn("__b",
          if (k == 0) lit(0L)
          else shiftrightunsigned(col("__hs"), 64 - k))
        // signed order of (hs XOR sign bit) == unsigned order of hs
        .withColumn("__hu", col("__hs").bitwiseXOR(lit(Long.MinValue))))
    val wLoc = Window.partitionBy("__b")
      .orderBy(col("__hu").asc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    // bucket base offsets: ≤ `buckets` rows by construction — the
    // bounded-frame contract of the drift-family windows
    val wBkt = Window.orderBy(col("__b").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy("__b").agg(sum("__n").as("__bt"))
      .withColumn("__boff", coalesce(sum(col("__bt")).over(wBkt), lit(0L)))
      .select("__b", "__boff")
    base
      .withColumn("__loc", coalesce(sum(col("__n")).over(wLoc), lit(0L)))
      .join(broadcast(offsets), Seq("__b"))
      .withColumn("__start", col("__boff") + col("__loc"))
      // truncating DIV == floor (all values ≥ 0); `/` would be double
      // division, exact only below 2^53 — the packSequences rule
      .withColumn("seq_id", explode(sequence(
        expr(s"__start DIV ${seqLen}L"),
        expr(s"(__start + __n - 1) DIV ${seqLen}L"))))
      .withColumn("__sfrom", greatest(col("__start"), col("seq_id") * seqLen))
      .withColumn("__sto",
        least(col("__start") + col("__n"), (col("seq_id") + 1) * seqLen))
      .select(col("seq_id"), col(idCol),
        (col("__sfrom") - col("__start")).as("doc_from"),
        (col("__sto") - col("__start")).as("doc_to"),
        (col("__sfrom") - col("seq_id") * seqLen).as("seq_off"))
  }

  /** Temperature-based source resampling (the multilingual-pretraining
    * mixture rule, e.g. mBERT/XLM-R: sample source s with probability
    * ∝ count(s)^α, α < 1 flattening the head): each source's keep rate
    * is `min(1, (√c_s / Σ_t √c_t) · target / c_s)` at α = 0.5 — √ is
    * IEEE-correctly-rounded, so the rates (and therefore the sample)
    * reproduce bit-identically in any engine, unlike a general pow().
    * Membership is the same hash-gated deterministic rule as
    * [[Sampling.hashSample]]: keep iff xxh64(id) mod denom < rate·denom.
    *
    * Scale shape: per-source counts are one partial-agg shuffle;
    * the counts frame is driver-collected — bounded by the number of
    * mixture cells (sources), NOT data size — and the per-source
    * thresholds ship back as one literal CASE; the gate itself is a
    * map-only codegen'd filter on the corpus scan. */
  def temperatureSample(df: DataFrame, idCol: String, groupCol: String,
      target: Long, denom: Long = Sampling.DefaultDenom): DataFrame = {
    // ascending-group order fixes the Σ√c accumulation order — the
    // one float reduction here (engine-portable: an ORDER BY list_sum
    // reproduces it)
    val counts = df.groupBy(col(groupCol)).count()
      .orderBy(col(groupCol)).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    var total = 0.0
    counts.foreach { case (_, c) => total += math.sqrt(c.toDouble) }
    val thresholds = counts.map { case (g, c) =>
      val rate = math.min(1.0, math.sqrt(c.toDouble) / total * target.toDouble / c.toDouble)
      (g, (rate * denom).toLong)
    }
    val thrCol = thresholds.foldLeft(lit(0L): Column) {
      case (acc, (g, thr)) => when(col(groupCol) === g, lit(thr)).otherwise(acc)
    }
    df.filter(Sampling.hashBucket(col(idCol), denom) < thrCol)
  }
}
