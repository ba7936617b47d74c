package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Column profiling — the data-quality pass a pipeline runs before
  * trusting a new 100 TB drop: per-column row/null/distinct counts and
  * min/max, computed in ONE scan. A naive profiler aggregates once per
  * column (k scans of the fact table); here all k columns' stats ride
  * in a single `agg` — Spark expands the multiple `count(DISTINCT x)`s
  * into one Expand+aggregate pipeline, so the input is read exactly
  * once — and the wide one-row result is unpivoted to the long
  * (col_name, stats...) shape with a driver-side-free `stack`.
  *
  * min/max are cast to string so heterogeneous column types share one
  * output schema (the usual profile-table shape).
  *
  * The reference engine has no profiling (integer-only SELECT subset,
  * /root/reference/sqlengine.py); extension surface. */
object Profiling {

  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile at least one column")
    val aggs = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"__cnt_$c"),
        countDistinct(col(c)).as(s"__nd_$c"),
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"))
    }
    val base = df.agg(count(lit(1)).as("__n"), aggs: _*)
    val stackArgs = cols.map(c =>
      s"'$c', __n - `__cnt_$c`, `__nd_$c`, `__min_$c`, `__max_$c`").mkString(", ")
    base.selectExpr(
      "__n AS n_rows",
      s"stack(${cols.size}, $stackArgs) AS (col_name, n_nulls, n_distinct, min_val, max_val)")
      .select("col_name", "n_rows", "n_nulls", "n_distinct", "min_val", "max_val")
  }

  /** Per-group Pearson correlation of two 2-decimal measure columns,
    * computed ORDER-INDEPENDENTLY: the five sufficient statistics
    * (Σx, Σy, Σxy, Σx², Σy², n) are accumulated in exact DECIMAL
    * arithmetic — decimal addition is associative and commutative, so
    * any partitioning gives bit-identical sums — and the textbook
    * formula r = (nΣxy − ΣxΣy) / (√(nΣx²−(Σx)²)·√(nΣy²−(Σy)²)) is
    * applied in double ONCE at the end. An engine running the identical
    * final formula on the identical exact sums (the DuckDB oracle does)
    * produces the identical IEEE double, which native `corr` — a
    * streaming double fold whose rounding depends on row order — cannot
    * guarantee under partitioning.
    *
    * The raw formula can exceed |1| by an ulp (e.g. a perfectly
    * collinear group where √6·√24 = 11.999999999999998 < 12), which
    * breaks consumers like acos(r); the result is clamped into [−1, 1].
    * A zero-variance group (denominator 0, correlation undefined)
    * yields NULL — guarded BEFORE the division so ANSI mode doesn't
    * throw DIVIDE_BY_ZERO, and kept out of the clamp (Spark's
    * least/greatest skip NULLs, so a bare clamp would turn NULL into
    * −1.0; NaN would likewise clamp to 1.0 since Spark orders NaN above
    * every double — any NaN from rounding is passed through as-is).
    *
    * Shape at 100 TB: one partial-aggregating hash shuffle on the group
    * key; the shuffle carries six decimals per group per partition. */
  def exactGroupCorr(df: DataFrame, groupCols: Seq[String],
      xCol: String, yCol: String): DataFrame = {
    val x = col(xCol).cast("decimal(18,2)")
    val y = col(yCol).cast("decimal(18,2)")
    val agged = df.groupBy(groupCols.map(col): _*).agg(
      count(lit(1)).cast("double").as("__n"),
      sum(x).cast("double").as("__sx"),
      sum(y).cast("double").as("__sy"),
      sum(x * y).cast("double").as("__sxy"),
      sum(x * x).cast("double").as("__sxx"),
      sum(y * y).cast("double").as("__syy"))
    val num = col("__n") * col("__sxy") - col("__sx") * col("__sy")
    val den =
      sqrt(col("__n") * col("__sxx") - col("__sx") * col("__sx")) *
        sqrt(col("__n") * col("__syy") - col("__sy") * col("__sy"))
    val raw = num / den
    agged
      .withColumn("__den", den)
      .withColumn("corr_xy",
        when(col("__den") === lit(0.0), lit(null).cast("double"))
          .otherwise(when(isnan(raw), raw)
            .otherwise(least(greatest(raw, lit(-1.0)), lit(1.0)))))
      .withColumn("n_rows", col("__n").cast("long"))
      .select(groupCols.map(col) ++ Seq(col("n_rows"), col("corr_xy")): _*)
  }

  /** Per-group EXACT quantiles of a numeric column — the distribution
    * profile behind every "cut the tails per language/source" mixing
    * rule. Uses Spark's exact `percentile` (linear interpolation on the
    * sorted group — the same contract as SQL's quantile_cont, which is
    * what the driver's DuckDB oracle runs). One hash shuffle on the
    * group key; exactness costs a per-group sort inside the aggregate
    * buffer, the right trade for the ~thousands of mixture cells this
    * profiles (for a quantile OVER THE WHOLE 100 TB fact table use
    * approx_percentile and accept the sketch error). */
  def groupQuantiles(df: DataFrame, groupCols: Seq[String], valueCol: String,
      probs: Seq[Double]): DataFrame = {
    require(probs.nonEmpty && probs.forall(q => q >= 0 && q <= 1))
    val aggs = probs.map(q =>
      expr(s"percentile($valueCol, ${q}D)").as(s"q${(q * 100).round}"))
    df.groupBy(groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail :+ count(lit(1)).as("n_rows"): _*)
  }

  /** Per-group z-score outlier flagging of an integer measure — the
    * "drop statistically anomalous documents per language/source"
    * quality gate. Group mean/variance come from EXACT integer sums
    * (sum, sum-of-squares — order-independent, so deterministic under
    * any partitioning and engine-comparable without the decimal trick);
    * the variance uses the population form ss/n − mean². Scale shape:
    * one partial-agg shuffle over the (few) groups, stats broadcast
    * back onto the scan, z computed map-side — two passes over the
    * data, zero row shuffles. Rows with |z| > `z` survive. */
  def zscoreOutliers(df: DataFrame, groupCol: String, valueCol: String,
      z: Double): DataFrame = {
    val x = col(valueCol)
    val stats = df.groupBy(groupCol).agg(
      count(lit(1)).as("__n"),
      sum(x).as("__s"),
      sum(x * x).as("__ss"))
    val mean = col("__s").cast("double") / col("__n")
    df.join(broadcast(stats), Seq(groupCol))
      .withColumn("__mean", mean)
      .withColumn("zscore",
        (x - col("__mean")) /
          sqrt(col("__ss").cast("double") / col("__n") - col("__mean") * col("__mean")))
      .filter(abs(col("zscore")) > lit(z))
      .drop("__n", "__s", "__ss", "__mean")
  }

  /** Two-sample Kolmogorov–Smirnov drift gate over a bucketed numeric
    * column — the numeric companion to the categorical chi² drift
    * query. Both sides' CDFs are compared on the bucket grid
    * (resolution = bucket width), in EXACT integer arithmetic:
    * `D_scaled = max_b |cumA(b)·N_b − cumB(b)·N_a|`, with the KS
    * statistic itself (`D_scaled / (N_a·N_b)`) produced by ONE double
    * division at the end — the established cross-engine idiom, no
    * intermediate doubles to drift.
    *
    * Scale shape: one corpus scan folds into a bucket histogram
    * bounded by the VALUE RANGE, not the row count; the cumulative
    * window (global ordering, single partition) runs over that
    * bounded frame only — never over raw rows. Exactness bound: the
    * cum·N products stay below 2^63 for side sizes up to ~3e9 rows;
    * beyond that, widen to decimals.
    *
    * Returns one row: (n_a, n_b, at_bucket, max_abs_diff, ks), the
    * argmax bucket resolving ties to the smallest bucket. A one-sided
    * input (every row on side A, or every row on side B) has an
    * undefined KS statistic — there is no second sample to drift from —
    * and reports ks = 0.0 rather than the 0/0 = NaN a bare division
    * would produce (NaN round-trips differently across engines).
    *
    * The "bounded by the value range" contract is ENFORCED, not just
    * documented: `maxBuckets` (default 2^20) caps the bucket-frame
    * cardinality, checked in-plan map-side BEFORE the single-partition
    * cumulative window — a caller who passes an unbucketed micros-scale
    * column gets a loud error, not a silent one-partition crawl over
    * billions of frame rows. Callers profiling a genuinely wider grid
    * can raise the cap deliberately; the check costs one count over the
    * already-shuffled histogram (the exchange is reused, not re-run). */
  /** In-plan bounded-cardinality contract, shared by every statistic
    * that windows over a post-agg frame: count `df`'s rows, broadcast
    * the 1-row result back, and assert_true inside a filter (a bare
    * unused assert column would be pruned away by Catalyst;
    * assert_true yields NULL on success so `isNull` keeps every row).
    * The guard sits upstream of the consumers' single-partition window
    * exchanges, so a violating input fails before the dangerous stage
    * runs — ONE implementation so a fix to the guard (message, pruning
    * workaround) cannot land in ksDrift/tvDrift and be forgotten in
    * rateSpikes or vice versa. `unit` names the frame rows in the
    * error ("bucket"/"minute"), `capName` the knob to raise. */
  private def guardedCardinality(df: DataFrame, maxRows: Long, op: String,
      unit: String, capName: String): DataFrame = {
    require(maxRows > 0, s"$capName must be positive")
    val n = df.agg(count(lit(1)).as("__nframe"))
    df.crossJoin(broadcast(n))
      .filter(assert_true(col("__nframe") <= maxRows,
        concat(lit(s"$op: $unit frame has "), col("__nframe"),
          lit(s" rows, exceeding $capName = $maxRows — bucket " +
            s"the $unit column coarser or raise the cap deliberately"))).isNull)
      .drop("__nframe")
  }

  /** The side-split bucket histogram BOTH drift statistics window
    * over, its bounded-frame contract enforced by
    * [[guardedCardinality]]. */
  private def guardedSideHistogram(df: DataFrame, bucket: Column,
      sideA: Column, maxBuckets: Long, op: String): DataFrame = {
    val counts = df.select(bucket.as("bucket"), sideA.as("__a"))
      .groupBy("bucket").agg(
        sum(when(col("__a"), 1L).otherwise(0L)).as("ca"),
        sum(when(col("__a"), 0L).otherwise(1L)).as("cb"))
    guardedCardinality(counts, maxBuckets, op, "bucket", "maxBuckets")
  }

  def ksDrift(df: DataFrame, bucket: Column, sideA: Column,
      maxBuckets: Long = 1L << 20): DataFrame = {
    val guarded = guardedSideHistogram(df, bucket, sideA, maxBuckets, "ksDrift")
    val cum = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy()
    guarded
      .withColumn("cuma", sum("ca").over(cum))
      .withColumn("cumb", sum("cb").over(cum))
      .withColumn("na", sum("ca").over(tot))
      .withColumn("nb", sum("cb").over(tot))
      .select(col("bucket"), col("na"), col("nb"),
        abs(col("cuma") * col("nb") - col("cumb") * col("na")).as("diff"))
      .orderBy(col("diff").desc, col("bucket").asc).limit(1)
      .select(col("na").as("n_a"), col("nb").as("n_b"),
        col("bucket").as("at_bucket"), col("diff").as("max_abs_diff"),
        when(col("na") * col("nb") === 0L, lit(0.0))
          .otherwise(col("diff").cast("double") /
            (col("na") * col("nb")).cast("double")).as("ks"))
  }

  /** Two-sample total-variation distance over a bucketed column:
    * TV = ½·Σ_b |p_b − q_b| — the bounded [0, 1] "mass moved" summary
    * PSI is usually quoted for, except PSI's ln() has no cross-engine
    * bit contract and TV is rational in the bin counts. Third member
    * of the transcendental-free drift family beside the chi² term
    * (categorical surprise) and [[ksDrift]] (cumulative/numeric).
    *
    * Same cross-multiplied exact-integer idiom as ksDrift: the
    * statistic is Σ|c_a·N_b − c_b·N_a| (exact long for side sizes up
    * to ~3e9 rows; beyond that, widen to decimals) normalized by ONE
    * double division 2·N_a·N_b at the end. Shape: one scan → bucket
    * histogram (bounded by the value range, not the row count) →
    * window totals over that bounded frame → single-row rollup. A
    * one-sided input (no second sample to drift from) reports
    * tv = 0.0, matching the ks convention; an EMPTY input reports the
    * same convention as one all-zero row (0, 0, 0, 0.0) — the global
    * aggregate always emits a row, so the counts are coalesced rather
    * than left NULL (ksDrift's top-1-bucket shape returns zero rows on
    * empty input instead: there is no at_bucket to name).
    *
    * Shares [[guardedSideHistogram]]'s in-plan maxBuckets enforcement —
    * the single-partition totals window here has exactly the hazard
    * ksDrift's cap exists for.
    *
    * Returns one row: (n_a, n_b, sum_abs, tv). */
  def tvDrift(df: DataFrame, bucket: Column, sideA: Column,
      maxBuckets: Long = 1L << 20): DataFrame = {
    val counts = guardedSideHistogram(df, bucket, sideA, maxBuckets, "tvDrift")
    val tot = Window.partitionBy()
    counts
      .withColumn("na", sum(col("ca")).over(tot))
      .withColumn("nb", sum(col("cb")).over(tot))
      .agg(coalesce(first(col("na")), lit(0L)).as("n_a"),
        coalesce(first(col("nb")), lit(0L)).as("n_b"),
        coalesce(sum(abs(col("ca") * col("nb") - col("cb") * col("na"))),
          lit(0L)).as("sum_abs"))
      .select(col("n_a"), col("n_b"), col("sum_abs"),
        when(col("n_a") * col("n_b") === 0L, lit(0.0))
          .otherwise(col("sum_abs").cast("double") /
            (lit(2.0) * (col("n_a") * col("n_b")).cast("double"))).as("tv"))
  }

  /** Two-sample Wasserstein-1 (earth-mover) distance over an INTEGER
    * bucket grid: W1 = ∫|F_a − F_b| dx — the fourth member of the
    * transcendental-free drift family, and the one that reports drift
    * in the VALUE'S OWN UNITS ("the distribution moved ~3 buckets
    * right"), where [[ksDrift]] reports the worst single crossing and
    * [[tvDrift]] the mass that moved regardless of how far. A mean
    * shift of c buckets yields w1 ≈ c, which is what a drift triage
    * dashboard wants to read.
    *
    * Exactness: the CDFs are step functions constant between observed
    * buckets, so the integral is Σ_i |cuma_i·N_b − cumb_i·N_a| ·
    * (bucket_{i+1} − bucket_i) — the ksDrift cross-multiplication
    * idiom, weighted by the gap to the next observed bucket (the last
    * bucket contributes 0: both CDFs are at 1). One double division
    * N_a·N_b at the end. Overflow discipline: each cross-diff TERM is
    * exact long under tvDrift's ~3e9-rows-a-side bound, but the AREA
    * is bounded by n_a·n_b·(value range) — the gap factor overflows a
    * long sum at far smaller inputs (1e6 rows a side over a 1e7-wide
    * grid already wraps), so the gap product and its sum accumulate
    * in DECIMAL(38,0) and the emitted BIGINT `area` is guarded by an
    * in-plan assert (fails loudly past Long range instead of
    * wrapping; headroom to 10³⁸ before decimals themselves saturate).
    *
    * Shape: one scan → bounded bucket histogram (shares
    * [[guardedSideHistogram]]'s in-plan maxBuckets enforcement) →
    * cumulative window over that bounded frame → single-row rollup.
    * One-sided and empty inputs report w1 = 0.0 via the tv/ks
    * convention (no second sample ⇒ no distance).
    *
    * Returns one row: (n_a, n_b, area, w1) with `area` the exact
    * integer Σ|cross-diff|·gap and w1 = area / (n_a·n_b) in bucket
    * units. */
  def w1Drift(df: DataFrame, bucket: Column, sideA: Column,
      maxBuckets: Long = 1L << 20): DataFrame = {
    val counts = guardedSideHistogram(df, bucket, sideA, maxBuckets, "w1Drift")
    val cum = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy()
    counts
      .withColumn("cuma", sum(col("ca")).over(cum))
      .withColumn("cumb", sum(col("cb")).over(cum))
      .withColumn("gap",
        coalesce(lead(col("bucket"), 1).over(Window.orderBy("bucket"))
          - col("bucket"), lit(0L)))
      .withColumn("na", sum(col("ca")).over(tot))
      .withColumn("nb", sum(col("cb")).over(tot))
      .agg(coalesce(first(col("na")), lit(0L)).as("n_a"),
        coalesce(first(col("nb")), lit(0L)).as("n_b"),
        coalesce(sum(abs(col("cuma") * col("nb") - col("cumb") * col("na"))
            .cast(org.apache.spark.sql.types.DecimalType(38, 0))
            * col("gap")),
          lit(0).cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          .as("__area"))
      .filter(assert_true(
        col("__area") <= lit(Long.MaxValue)
          .cast(org.apache.spark.sql.types.DecimalType(38, 0)),
        concat(lit("w1Drift: area "), col("__area"),
          lit(" exceeds BIGINT — widen the output to decimal"))).isNull)
      .select(col("n_a"), col("n_b"),
        col("__area").cast("long").as("area"),
        when(col("n_a") * col("n_b") === 0L, lit(0.0))
          .otherwise(col("__area").cast("double") /
            (col("n_a") * col("n_b")).cast("double")).as("w1"))
  }

  /** Rate-spike anomaly flags: each observed minute's event count
    * z-scored against its trailing `lookback`-observed-minute window
    * (ROWS frame on the POST-AGG minute series). Mean/variance come
    * from exact integer window sums; z is rational + one IEEE-exact
    * sqrt, so flags are cross-engine bit-stable. `minObs` suppresses
    * the cold start, var > 0 the constant-window degenerate case.
    *
    * The trailing window orders the WHOLE minute series in one
    * partition — bounded by the corpus TIME RANGE (minutes, not rows:
    * a year is ~5·10⁵ frame rows whatever the event volume), which is
    * the same bounded-frame contract [[ksDrift]]/[[tvDrift]] enforce,
    * so it gets the same in-plan guard: the minute-frame cardinality
    * is counted map-side and assert_true'd against `maxMinutes`
    * BEFORE the single-partition window runs. A caller z-scoring a
    * decades-wide (or microsecond-bucketed) series fails loudly
    * instead of crawling one partition; a genuinely wider grid raises
    * the cap deliberately — or restructures to a two-level
    * (day, minute) frame. Returns (minute, c, z) for minutes with
    * z > `zThreshold`. */
  def rateSpikes(df: DataFrame, tsSec: Column, lookback: Int = 60,
      minObs: Int = 30, zThreshold: Double = 3.0,
      maxMinutes: Long = 1L << 20): DataFrame = {
    require(lookback >= 2 && minObs >= 2 && maxMinutes > 0,
      s"rateSpikes: need lookback/minObs >= 2 and maxMinutes > 0, " +
        s"got $lookback/$minObs/$maxMinutes")
    // exact floor division for any long, any sign (DuckDB `// 60`
    // semantics) — see ExactMath; the earlier double `/`+floor rounded
    // the numerator above 2^53
    val m = df.groupBy(
        graft.functions.ExactMath.floorDiv(tsSec.cast("long"), 60L)
          .as("minute"))
      .agg(count(lit(1)).as("c"))
    val guarded = guardedCardinality(m, maxMinutes, "rateSpikes",
      "minute", "maxMinutes")
    val w = Window.orderBy(col("minute")).rowsBetween(-lookback, -1)
    val mean = col("sp").cast("double") / col("np")
    val vr = col("sq").cast("double") / col("np") - mean * mean
    // c² accumulates in DECIMAL(38,0): a 10⁹-events/minute stream puts
    // c² at 10¹⁸ and the 60-minute lookback sum past 2⁶³ — the long
    // product would wrap silently in non-ANSI mode (the
    // weightedAssortativity lesson); the z arithmetic reads it only
    // through the double cast, so the value is unchanged below 2⁶³
    val cDec = col("c").cast(org.apache.spark.sql.types.DecimalType(38, 0))
    guarded
      .withColumn("np", count(col("c")).over(w))
      .withColumn("sp", sum(col("c")).over(w))
      .withColumn("sq", sum(cDec * cDec).over(w))
      .filter(col("np") >= minObs && vr > 0)
      .withColumn("z", (col("c") - mean) / sqrt(vr))
      .filter(col("z") > zThreshold)
      .select("minute", "c", "z")
  }

  /** Guarded per-(key, bucket) event counts on the floor-epoch grid —
    * the shared prelude of the whole smoothing/monitoring family
    * ([[ewmaRate]], [[holtForecast]], [[cusum]], [[cusumFixed]]):
    * bucketed, counted map-side, and assert_true'd against
    * `maxPoints` BEFORE anything windows or collects, so the frame
    * contract and its guard wiring live exactly once. */
  private def guardedBucketCounts(df: DataFrame, tsSec: Column,
      keyCol: Column, bucketSec: Int, maxPoints: Long,
      op: String): DataFrame = {
    require(bucketSec >= 1, s"$op: bucketSec must be >= 1, got $bucketSec")
    // ExactMath.floorDiv: the double `/`+floor idiom rounds the
    // numerator above 2^53 — epoch-SECONDS never get there, but the
    // column is caller-supplied and a micros feed would land whole
    // series one bucket off with no error
    val m = df.groupBy(keyCol.as("key"),
        graft.functions.ExactMath.floorDiv(tsSec.cast("long"),
          bucketSec.toLong).as("bucket"))
      .agg(count(lit(1)).as("c"))
    guardedCardinality(m, maxPoints, op, "(key, bucket)", "maxPoints")
  }

  /** The sequenced-fold prelude over [[guardedBucketCounts]]: one row
    * per key carrying `__pts` (bucket-sorted (bucket, c) structs) and
    * `__l` (the counts as doubles in time order) — what every
    * sequenced smoother folds over. */
  private def sortedCountSeries(guarded: DataFrame): DataFrame =
    guarded.groupBy("key")
      .agg(array_sort(collect_list(struct(col("bucket"), col("c"))))
        .as("__pts"))
      .withColumn("__l", expr("transform(__pts, p -> CAST(p.c AS DOUBLE))"))

  /** Exponentially-weighted moving average of the per-bucket event
    * rate, one series per `keyCol`: `(key, n_buckets, ewma)` where
    * ewma = the EWMA of the OBSERVED-bucket counts in time order
    * (s₁ = x₁; sₜ = α·xₜ + (1−α)·sₜ₋₁) — the smoothed current-rate
    * estimate an alerting threshold compares against (the
    * counterpart of [[rateSpikes]]' windowed z: EWMA weights decay
    * geometrically instead of cutting off at a lookback edge).
    * `bucketSec` sets the grid (60 = per-minute spikes-style series;
    * 3600 = the hourly rate a capacity dashboard smooths).
    *
    * Determinism: the fold is SEQUENCED over the bucket-sorted count
    * array (ascending-index `aggregate`), so with α exactly
    * representable (default 0.25) the doubles are bit-identical on
    * any partitioning and reproducible by any engine folding the same
    * order (DuckDB `list_reduce` — the sequenced-fold contract the
    * PCA oracle established).
    *
    * Bounds: the per-key series is collected into one array, bounded
    * by the corpus TIME RANGE (buckets, not rows) × one entry per
    * observed bucket — the [[rateSpikes]] frame contract, enforced by
    * the same in-plan guard: the TOTAL (key, bucket) frame is counted
    * map-side and assert_true'd against `maxPoints` before any
    * collect_list runs. A decades-wide or per-millisecond series
    * fails loudly; a genuinely wider grid raises the cap
    * deliberately. */
  def ewmaRate(df: DataFrame, tsSec: Column, keyCol: Column,
      alpha: Double = 0.25, bucketSec: Int = 60,
      maxPoints: Long = 1L << 20): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0,
      s"ewmaRate: alpha must be in (0, 1), got $alpha")
    sortedCountSeries(guardedBucketCounts(df, tsSec, keyCol, bucketSec,
        maxPoints, "ewmaRate"))
      .select(col("key"), size(col("__pts")).cast("long").as("n_buckets"),
        expr(s"aggregate(slice(__l, 2, greatest(size(__l) - 1, 0)), __l[0], " +
          s"(s, x) -> CAST($alpha AS DOUBLE) * x + CAST(${1.0 - alpha} AS DOUBLE) * s)")
          .as("ewma"))
  }

  /** Holt's linear-trend smoothing (double exponential smoothing,
    * Holt 1957) of the per-bucket event rate, one series per key —
    * [[ewmaRate]] with a TREND state, so a steadily growing rate
    * forecasts UP instead of lagging: l₁ = x₁, b₁ = 0, then
    * lₜ = α·xₜ + (1−α)(lₜ₋₁ + bₜ₋₁) and
    * bₜ = β(lₜ − lₜ₋₁) + (1−β)bₜ₋₁; the one-step forecast is l + b —
    * the number a capacity planner actually wants from the smoothing
    * family.
    *
    * Determinism: the fold is SEQUENCED over the bucket-sorted counts
    * with a (l, b) struct accumulator; with α and β exactly
    * representable the doubles are bit-identical on any partitioning.
    * lₜ appears twice in bₜ's formula and is recomputed as the SAME
    * expression tree both times — pure double arithmetic, identical
    * results, and the DuckDB oracle replays the identical shape via
    * list_reduce over [x, 0] pairs (a struct-typed fold has no
    * init-less list_reduce form, but a 2-element DOUBLE[] is
    * type-homogeneous with the transformed elements).
    *
    * Bounds: the (key, bucket) frame rides the same in-plan
    * `maxPoints` guard as [[ewmaRate]]/[[cusum]]. Output:
    * (key, n_buckets, level, trend, forecast_next). */
  def holtForecast(df: DataFrame, tsSec: Column, keyCol: Column,
      alpha: Double = 0.25, beta: Double = 0.25, bucketSec: Int = 3600,
      maxPoints: Long = 1L << 20): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0,
      s"holtForecast: alpha must be in (0, 1), got $alpha")
    require(beta > 0.0 && beta < 1.0,
      s"holtForecast: beta must be in (0, 1), got $beta")
    val a = alpha; val na = 1.0 - alpha
    val b = beta; val nb = 1.0 - beta
    val lp = s"(CAST($a AS DOUBLE) * x + CAST($na AS DOUBLE) * (acc.l + acc.b))"
    sortedCountSeries(guardedBucketCounts(df, tsSec, keyCol, bucketSec,
        maxPoints, "holtForecast"))
      .withColumn("__acc",
        expr(s"aggregate(slice(__l, 2, greatest(size(__l) - 1, 0)), " +
          s"named_struct('l', __l[0], 'b', CAST(0.0 AS DOUBLE)), " +
          s"(acc, x) -> named_struct('l', $lp, " +
          s"'b', CAST($b AS DOUBLE) * ($lp - acc.l) + CAST($nb AS DOUBLE) * acc.b))"))
      .select(col("key"), size(col("__pts")).cast("long").as("n_buckets"),
        col("__acc.l").as("level"), col("__acc.b").as("trend"),
        (col("__acc.l") + col("__acc.b")).as("forecast_next"))
  }

  /** Holt–Winters additive seasonal smoothing (Winters 1960) — the
    * smoothing family's third rung: [[ewmaRate]] tracks a level,
    * [[holtForecast]] adds a trend, and this adds a length-`period`
    * SEASONAL profile, so a daily-cycling event rate forecasts
    * tomorrow-at-this-hour instead of averaging the cycle away:
    *   lₜ = α(xₜ − sₜ₋ₘ) + (1−α)(lₜ₋₁ + bₜ₋₁)
    *   bₜ = β(lₜ − lₜ₋₁) + (1−β)bₜ₋₁
    *   sₜ = γ(xₜ − lₜ) + (1−γ)sₜ₋ₘ
    * with the one-step forecast l + b + s₍next₎.
    *
    * Initialization diverges from the textbook first-season fit ON
    * PURPOSE: l₁ = x₁, b₁ = 0, s ≡ 0 — the cold-start a streaming
    * monitor actually has. Seasonal slots then converge at rate γ per
    * CYCLE (each slot updates once per period), so with k observed
    * cycles the profile carries 1−(1−γ)^k of the asymptotic
    * amplitude; the spec pins the hand-computed fold, not a fitted
    * curve. Like the rest of the family the fold is SEQUENCED — the
    * state is a flat (2+m)-double array [l, b, s₁..sₘ] rotated one
    * slot per step (head = the slot the NEXT observation consumes),
    * lₜ recomputed as the same expression tree where it appears
    * thrice — so with α/β/γ exactly representable the doubles are
    * bit-identical on any partitioning, and DuckDB replays the
    * identical chain via list_reduce over (2+m)-lists.
    *
    * Bounds: the same in-plan `maxPoints` guard; per-key state is
    * 2+m doubles however long the series. Output: (key, n_buckets,
    * level, trend, season_next, forecast_next). */
  /** The Holt–Winters cold-start state as SQL text: [level₀, 0,
    * m zeros] — `levelExpr` names the first observation. Shared with
    * [[graft.streaming.HoltWintersStream]] so batch and stream build
    * the IDENTICAL init array. */
  private[graft] def hwInit(period: Int, levelExpr: String): String = {
    val zeros = Seq.fill(period)("CAST(0.0 AS DOUBLE)").mkString(", ")
    s"array($levelExpr, CAST(0.0 AS DOUBLE), $zeros)"
  }

  /** The Holt–Winters fold step as SQL lambda text — ONE definition
    * shared by the batch fold and the streaming twin, so the
    * stream ≡ batch bit-equality argument rests on literally the same
    * expression tree, not a re-derivation. State layout (0-based):
    * acc[0]=l, acc[1]=b, acc[2]=s₁ (the slot this step consumes),
    * acc[3..m+1]=s₂..sₘ; the step emits [l', b', s₂..sₘ, s'] — the
    * queue rotated one slot. */
  /** The (l′, b′, s′) step expressions shared by [[hwLambda]] and the
    * extended [[cusumSeasonal]] fold — ONE textual definition so the
    * residual monitor provably runs the identical smoothing chain. */
  private def hwStepTexts(alpha: Double, beta: Double,
      gamma: Double): (String, String, String) = {
    val a = alpha; val na = 1.0 - alpha
    val b = beta; val nb = 1.0 - beta
    val g = gamma; val ng = 1.0 - gamma
    val lp = s"(CAST($a AS DOUBLE) * (x - acc[2]) + " +
      s"CAST($na AS DOUBLE) * (acc[0] + acc[1]))"
    val bp = s"(CAST($b AS DOUBLE) * ($lp - acc[0]) + " +
      s"CAST($nb AS DOUBLE) * acc[1])"
    val sp = s"(CAST($g AS DOUBLE) * (x - $lp) + " +
      s"CAST($ng AS DOUBLE) * acc[2])"
    (lp, bp, sp)
  }

  private[graft] def hwLambda(alpha: Double, beta: Double, gamma: Double,
      period: Int): String = {
    val (lp, bp, sp) = hwStepTexts(alpha, beta, gamma)
    s"(acc, x) -> concat(array($lp, $bp), " +
      s"slice(acc, 4, ${period - 1}), array($sp))"
  }

  def holtWinters(df: DataFrame, tsSec: Column, keyCol: Column,
      period: Int, alpha: Double = 0.25, beta: Double = 0.25,
      gamma: Double = 0.25, bucketSec: Int = 3600,
      maxPoints: Long = 1L << 20): DataFrame = {
    require(period >= 2, s"holtWinters: period must be >= 2, got $period")
    require(alpha > 0.0 && alpha < 1.0,
      s"holtWinters: alpha must be in (0, 1), got $alpha")
    require(beta > 0.0 && beta < 1.0,
      s"holtWinters: beta must be in (0, 1), got $beta")
    require(gamma > 0.0 && gamma < 1.0,
      s"holtWinters: gamma must be in (0, 1), got $gamma")
    sortedCountSeries(guardedBucketCounts(df, tsSec, keyCol, bucketSec,
        maxPoints, "holtWinters"))
      .withColumn("__acc",
        expr(s"aggregate(slice(__l, 2, greatest(size(__l) - 1, 0)), " +
          s"${hwInit(period, "__l[0]")}, " +
          hwLambda(alpha, beta, gamma, period) + ")"))
      .select(col("key"), size(col("__pts")).cast("long").as("n_buckets"),
        col("__acc")(0).as("level"), col("__acc")(1).as("trend"),
        col("__acc")(2).as("season_next"),
        (col("__acc")(0) + col("__acc")(1) + col("__acc")(2))
          .as("forecast_next"))
  }

  /** Theil–Sen robust slope of the per-bucket event rate, one estimate
    * per key: the MEDIAN of all pairwise slopes (yⱼ−yᵢ)/(bⱼ−bᵢ) over
    * the observed-bucket series — the trend estimate with a 29.3%
    * breakdown point, where [[graft.Queries]]' `q_regr_slope` OLS is
    * dragged arbitrarily far by one corrupted bucket (Theil 1950;
    * Sen 1968). Each slope is ONE IEEE division of exact integer
    * differences (no `div`: dy can be negative, where Spark truncates
    * and DuckDB floors — the double quotient is bit-identical in both
    * engines instead), and the median is the same exact interpolating
    * percentile `q_median` pinned cross-engine.
    *
    * Scale shape: Theil–Sen is inherently O(n²) in the SERIES length
    * (all pairs), so the (key, bucket) frame guard is part of the
    * definition here, with a deliberately tighter default than the
    * fold family (`maxPoints` 2¹² ⇒ ≤ ~8M pair rows per key); the
    * pair join is key-local (one shuffle on the key), and the grid is
    * time-range-bounded, not row-bounded — 10× the events land on the
    * same buckets. Output: (key, n_buckets, n_pairs, sen_slope). */
  def theilSen(df: DataFrame, tsSec: Column, keyCol: Column,
      bucketSec: Int = 3600, maxPoints: Long = 1L << 12): DataFrame = {
    val g = guardedBucketCounts(df, tsSec, keyCol, bucketSec, maxPoints,
      "theilSen")
    val lo = g.select(col("key"), col("bucket").as("__b1"),
      col("c").as("__c1"))
    val hi = g.select(col("key"), col("bucket").as("__b2"),
      col("c").as("__c2"))
    val slopes = lo.join(hi, Seq("key"))
      .filter(col("__b1") < col("__b2"))
      .select(col("key"),
        ((col("__c2") - col("__c1")).cast("double") /
          (col("__b2") - col("__b1")).cast("double")).as("__sl"))
      .groupBy("key")
      .agg(count(lit(1)).as("n_pairs"),
        expr("percentile(__sl, 0.5D)").as("sen_slope"))
    g.groupBy("key").agg(count(lit(1)).as("n_buckets"))
      .join(slopes, Seq("key"), "left")
      .select(col("key"), col("n_buckets"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        col("sen_slope"))
  }

  /** Rolling-origin forecast backtest of the whole smoothing family —
    * the model-selection step the family needs before any one of
    * [[ewmaRate]]/[[holtForecast]]/[[holtWinters]] is wired into a
    * monitor: for each of the last `origins` cut points o, fit each
    * model on the first o buckets ONLY and score its one-step forecast
    * against the actual bucket o+1 (walk-forward validation — never a
    * random split, which would leak the future into the fit; the
    * cdc_pit_enrich discipline applied to model evaluation). Returns
    * per key the mean absolute one-step error per model:
    * (key, n_buckets, n_origins, mae_ewma, mae_holt, mae_hw).
    *
    * Determinism: every fit is the SAME sequenced fold the production
    * operators run — EWMA inline, Holt as a 2-array fold, Holt–Winters
    * via the shared [[hwInit]]/[[hwLambda]] text — over a prefix
    * slice, and the error sum folds the origins in ascending order
    * (abs() makes every term ≥ +0.0, so the 0-init adds nothing), so
    * the doubles are bit-identical on any partitioning and replayable
    * by DuckDB's nested list lambdas.
    *
    * Scale shape: per key the work is `origins` prefix folds = O(k·n)
    * lambda steps INSIDE one row — no extra shuffle, no pair blowup;
    * the (key, bucket) frame rides the family's `maxPoints` guard. */
  def forecastBacktest(df: DataFrame, tsSec: Column, keyCol: Column,
      period: Int, origins: Int = 8, alpha: Double = 0.25,
      beta: Double = 0.25, gamma: Double = 0.25, bucketSec: Int = 3600,
      maxPoints: Long = 1L << 20): DataFrame = {
    require(period >= 2, s"forecastBacktest: period must be >= 2, got $period")
    require(origins >= 1, s"forecastBacktest: origins must be >= 1, got $origins")
    require(alpha > 0.0 && alpha < 1.0,
      s"forecastBacktest: alpha must be in (0, 1), got $alpha")
    require(beta > 0.0 && beta < 1.0,
      s"forecastBacktest: beta must be in (0, 1), got $beta")
    require(gamma > 0.0 && gamma < 1.0,
      s"forecastBacktest: gamma must be in (0, 1), got $gamma")
    val a = alpha; val na = 1.0 - alpha
    val b = beta; val nb = 1.0 - beta
    // one-step forecast texts over the prefix of length o (1-based):
    // each is the production operator's fold on slice(__l, 1, o)
    val ewmaF = s"aggregate(slice(__l, 2, o - 1), __l[0], " +
      s"(acc, x) -> CAST($a AS DOUBLE) * x + CAST($na AS DOUBLE) * acc)"
    val holtLp = s"(CAST($a AS DOUBLE) * x + " +
      s"CAST($na AS DOUBLE) * (acc[0] + acc[1]))"
    val holtF = s"aggregate(slice(__l, 2, o - 1), " +
      s"array(__l[0], CAST(0.0 AS DOUBLE)), " +
      s"(acc, x) -> array($holtLp, CAST($b AS DOUBLE) * ($holtLp - acc[0]) + " +
      s"CAST($nb AS DOUBLE) * acc[1]))"
    val hwF = s"aggregate(slice(__l, 2, o - 1), ${hwInit(period, "__l[0]")}, " +
      hwLambda(alpha, beta, gamma, period) + ")"
    def mae(forecast: String): String =
      s"CASE WHEN size(__os) > 0 THEN aggregate(__os, CAST(0.0 AS DOUBLE), " +
        s"(err, o) -> err + abs(($forecast) - __l[o])) / size(__os) END"
    sortedCountSeries(guardedBucketCounts(df, tsSec, keyCol, bucketSec,
        maxPoints, "forecastBacktest"))
      // origins: the last `origins` cut points, each leaving ≥1 bucket
      // of history and 1 actual to score (sequence() descends when
      // lo > hi, so the n=1 case must short-circuit to empty)
      .withColumn("__os", expr("CASE WHEN size(__l) >= 2 THEN " +
        s"sequence(greatest(size(__l) - $origins, 1), size(__l) - 1) " +
        "ELSE CAST(array() AS ARRAY<INT>) END"))
      .select(col("key"), size(col("__pts")).cast("long").as("n_buckets"),
        size(col("__os")).cast("long").as("n_origins"),
        expr(mae(ewmaF)).as("mae_ewma"),
        expr(mae(s"aggregate(slice($holtF, 1, 2), CAST(0.0 AS DOUBLE), " +
          "(s2, v) -> s2 + v)")).as("mae_holt"),
        expr(mae(s"aggregate(slice($hwF, 1, 3), CAST(0.0 AS DOUBLE), " +
          "(s3, v) -> s3 + v)")).as("mae_hw"))
  }

  /** [[cusum]] against a FIXED reference rate — the deployable form: μ
    * and κ are micro-unit constants from a trained baseline instead of
    * the observed series' own mean. This is also the only form a
    * STREAMING twin can exist for ([[graft.streaming.CusumStream]]):
    * the self-mean variant's scaled term 4n·x − 5T depends on the
    * complete series (n and T grow with every bucket, retroactively
    * rescaling history), while the fixed-reference term
    * tᵢ = 10⁶·xᵢ − (muMicro + kappaMicro) is per-bucket-local, so the
    * prefix state (Pₜ, min Pⱼ) folds forward exactly-once.
    *
    * Same closed form as [[cusum]]: Sₜ = Pₜ − min(0, min_{j≤t} Pⱼ)
    * over integer micro-units; alarm when Sₜ > hMicro. Output:
    * (key, bucket, c, p_micro, cusum_micro, alarm) — p_micro is the
    * raw prefix, surfaced so the streaming snapshot can be pinned
    * against the batch run row-for-row. */
  def cusumFixed(df: DataFrame, tsSec: Column, keyCol: Column,
      muMicro: Long, kappaMicro: Long, hMicro: Long,
      bucketSec: Int = 3600, maxPoints: Long = 1L << 20): DataFrame = {
    require(muMicro > 0 && kappaMicro >= 0 && hMicro > 0,
      s"cusumFixed: need muMicro > 0, kappaMicro >= 0, hMicro > 0; " +
        s"got $muMicro/$kappaMicro/$hMicro")
    val guarded = guardedBucketCounts(df, tsSec, keyCol, bucketSec,
      maxPoints, "cusumFixed")
    val ordered = Window.partitionBy(col("key")).orderBy(col("bucket").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    guarded
      .withColumn("p_micro",
        sum(lit(1000000L) * col("c") - lit(muMicro + kappaMicro))
          .over(ordered))
      .withColumn("cusum_micro",
        col("p_micro") - least(lit(0L), min(col("p_micro")).over(ordered)))
      .select(col("key"), col("bucket"), col("c"), col("p_micro"),
        col("cusum_micro"), (col("cusum_micro") > lit(hMicro)).as("alarm"))
  }

  /** Mergeable-sketch quantiles with an EXACT rank audit — the
    * [[graft.operators.Graph.anf]] honesty pattern applied to
    * `approx_percentile`: at 100 TB the exact sort-based
    * [[groupQuantiles]] pays a full shuffle of the value column, while
    * the Greenwald–Khanna summary Spark aggregates map-side is the
    * sketch a warehouse actually serves percentiles from — and its
    * ε = 1/accuracy RANK guarantee is checkable against the data
    * itself. For each probe p this emits the EXACT interpolated
    * quantile (the portable column — Spark `percentile` ≡ DuckDB
    * `quantile_cont`, the q_median contract) and `within_bound`: the
    * sketch's returned element has true rank within
    * p·n ± (n/accuracy + 2) (the +2 absorbing the integer-target
    * truncation and 1-based rank offset — deliberately one ulp loose:
    * an audit bound that can trip on rounding is noise, the
    * ANF-tolerance lesson). The sketch value itself is NOT emitted —
    * engine-specific, the ev_daily_uniques_approx contract.
    *
    * Shape: ONE aggregation computes the sketch, the exact quantiles,
    * and n; the ≤ |probes| results ship back as literals into ONE
    * rank-counting scan (conditional sums, map-side partial — the
    * windowedValueDrift bounded-collect idiom); output is |probes|
    * driver-assembled rows. Two scans total, no shuffle beyond the
    * 1-row aggregates. Output: (probe_permille, n, exact_q,
    * within_bound). */
  def approxQuantileEval(df: DataFrame, valueCol: Column,
      probesPermille: Seq[Int], accuracy: Int = 1000): DataFrame = {
    require(probesPermille.nonEmpty &&
      probesPermille.forall(p => p > 0 && p < 1000),
      s"approxQuantileEval: probes must be in (0, 1000), got $probesPermille")
    require(accuracy >= 1,
      s"approxQuantileEval: accuracy must be >= 1, got $accuracy")
    val spark = df.sparkSession
    val v = Caching.persist(
      df.select(valueCol.cast("double").as("__v"))
        .filter(col("__v").isNotNull))
    val fracs = probesPermille.map(p => s"${p / 1000.0}D").mkString(", ")
    // one row: sketch values, exact quantiles, count — bounded collect
    // (|probes| doubles), the windowedValueDrift literal-shipping idiom
    val head = v.agg(
      expr(s"approx_percentile(__v, array($fracs), $accuracy)").as("__ap"),
      expr(s"percentile(__v, array($fracs))").as("__ex"),
      count(lit(1)).as("__n")).head
    val ap = head.getSeq[Double](0)
    val ex = head.getSeq[Double](1)
    val n = head.getLong(2)
    import spark.implicits._
    if (n == 0L)
      return probesPermille.map(p => (p.toLong, 0L, Double.NaN, true))
        .toDF("probe_permille", "n", "exact_q", "within_bound")
        .filter(lit(false))
    // one scan counts every sketch value's exact rank interval
    val rankAggs = ap.zipWithIndex.flatMap { case (a, i) => Seq(
      sum(when(col("__v") < a, 1L).otherwise(0L)).as(s"__lo$i"),
      sum(when(col("__v") <= a, 1L).otherwise(0L)).as(s"__hi$i")) }
    val ranks = v.agg(rankAggs.head, rankAggs.tail: _*).head
    val slack = n / accuracy + 2
    val out = probesPermille.zipWithIndex.map { case (p, i) =>
      val lo = ranks.getLong(2 * i)
      val hi = ranks.getLong(2 * i + 1)
      val target = p.toLong * n / 1000L
      val within = !(hi < target - slack || lo + 1 > target + slack)
      (p.toLong, n, ex(i), within)
    }
    out.toDF("probe_permille", "n", "exact_q", "within_bound")
  }

  /** Seasonal-aware CUSUM: Page's cumulative sum run over the
    * HOLT–WINTERS ONE-STEP RESIDUALS instead of the raw bucket counts
    * — the composition the forecast family exists for. A daily-cycling
    * series feeds [[cusumFixed]] a μ that is wrong twice a day (the
    * cycle itself drifts through the fixed reference, burning the slack
    * or the alarm budget on pure seasonality); subtracting the
    * [[holtWinters]] one-step forecast first leaves residuals that are
    * ≈ 0 under the learned cycle, so the CUSUM accumulates only
    * UNMODELED level shifts — exactly the regime where the
    * [[forecastBacktest]] decision pin shows HW winning on cyclic keys.
    *
    * One SEQUENCED fold per key carries the state
    * [l, b, s₁..sₘ, P, min P] (the [[hwLambda]] step texts verbatim —
    * shared via one definition, not re-derived — plus the CUSUM prefix
    * pair): each step first scores residual r = x − (l + b + s₁)
    * against the PRE-UPDATE state (the one-step forecast made before x
    * arrived — walk-forward, never peeking), folds P += r − κ,
    * min P = min(min P, P), then advances the smoothing state. All
    * doubles, but the fold is sequenced inside one row with every
    * constant exactly representable, so the chain is bit-identical on
    * any engine/partitioning and DuckDB replays it via list_reduce —
    * the [[holtWinters]] exactness argument carried through
    * unchanged. First bucket initializes the state and is not scored
    * (no forecast exists before one observation).
    *
    * S = P − min(0, min P); alarm when S > `h` (κ and `h` in count
    * units — choose exactly-representable doubles). Like [[cusum]]'s
    * self-mean form this cannot stream (the seasonal state rescales
    * as it converges — see the [[cusumFixed]] scaladoc for the
    * streamable criterion), but unlike it the residual form is the
    * one a seasonal monitor should RUN in batch each day.
    *
    * Bounds: the family's `maxPoints` in-plan guard; per-key state is
    * 4+m doubles however long the series. Output: (key, n_buckets,
    * p_resid, cusum_resid, alarm). */
  def cusumSeasonal(df: DataFrame, tsSec: Column, keyCol: Column,
      period: Int, h: Double, kappa: Double = 0.0,
      alpha: Double = 0.25, beta: Double = 0.25, gamma: Double = 0.25,
      bucketSec: Int = 3600, maxPoints: Long = 1L << 20): DataFrame = {
    require(period >= 2, s"cusumSeasonal: period must be >= 2, got $period")
    require(alpha > 0.0 && alpha < 1.0,
      s"cusumSeasonal: alpha must be in (0, 1), got $alpha")
    require(beta > 0.0 && beta < 1.0,
      s"cusumSeasonal: beta must be in (0, 1), got $beta")
    require(gamma > 0.0 && gamma < 1.0,
      s"cusumSeasonal: gamma must be in (0, 1), got $gamma")
    require(h > 0.0 && kappa >= 0.0,
      s"cusumSeasonal: need h > 0, kappa >= 0, got $h/$kappa")
    val (lp, bp, sp) = hwStepTexts(alpha, beta, gamma)
    // 0-based state: [0]=l, [1]=b, [2..m+1]=s₁..sₘ, [m+2]=P, [m+3]=minP;
    // the residual term reads the PRE-update slots
    val term = s"((x - (acc[0] + acc[1] + acc[2])) - CAST($kappa AS DOUBLE))"
    val pNext = s"(acc[${period + 2}] + $term)"
    val lambda = s"(acc, x) -> concat(array($lp, $bp), " +
      s"slice(acc, 4, ${period - 1}), " +
      s"array($sp, $pNext, least(acc[${period + 3}], $pNext)))"
    val init = s"concat(${hwInit(period, "__l[0]")}, " +
      "array(CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)))"
    val s = s"(__acc[${period + 2}] - least(CAST(0.0 AS DOUBLE), " +
      s"__acc[${period + 3}]))"
    sortedCountSeries(guardedBucketCounts(df, tsSec, keyCol, bucketSec,
        maxPoints, "cusumSeasonal"))
      .withColumn("__acc",
        expr(s"aggregate(slice(__l, 2, greatest(size(__l) - 1, 0)), " +
          s"$init, $lambda)"))
      .select(col("key"), size(col("__pts")).cast("long").as("n_buckets"),
        col("__acc")(period + 2).as("p_resid"),
        expr(s).as("cusum_resid"),
        (expr(s) > lit(h)).as("alarm"))
  }

  /** One-sided CUSUM change-point monitor (Page, Biometrika 1954) over
    * the per-bucket event counts, one series per `keyCol`: the
    * sequential statistic S₀ = 0, Sₜ = max(0, Sₜ₋₁ + xₜ − μ − κ),
    * alarmed when Sₜ > h — the detector that catches a SUSTAINED rate
    * shift ([[rateSpikes]]' windowed z catches one loud bucket;
    * CUSUM's memory accumulates many quiet ones, the canonical
    * drift-onset alarm for an ingest monitor). μ is the key's observed
    * mean bucket count, slack κ = μ/4, threshold h = 2μ.
    *
    * INTEGRATORS: this self-mean form is for exploratory/backfill use
    * only — wire monitors to [[cusumFixed]] (trained baseline; the
    * only streamable form, see its scaladoc) or [[cusumSeasonal]]
    * (cyclic series). Self-mean means the reference retroactively
    * rescales as data arrives: an alarm can appear or VANISH when the
    * series' own mean catches up with the shift it should be flagging.
    *
    * Exactness: everything is INTEGER. With n = the key's observed
    * buckets and T = its total events (so μ = T/n), the recurrence is
    * scaled by 4n: Sₜ = max(0, Sₜ₋₁ + 4n·xₜ − 5T) — 4n·(xₜ − μ − κ)
    * with no division anywhere — and the alarm test is Sₜ > 8T
    * (= 4n·2μ). Rather than a sequential fold, the scaled statistic
    * uses its prefix-sum closed form: with Pₜ = Σ_{i≤t}(4n·xᵢ − 5T)
    * and P₀ = 0, Sₜ = Pₜ − min(0, min_{j≤t} Pⱼ) — two ordered window
    * aggregates over longs, bit-equal on any engine and any
    * partitioning, no collect_list.
    *
    * Bounds: the (key, bucket) frame is the [[rateSpikes]]/[[ewmaRate]]
    * contract, enforced by the same in-plan `maxPoints` guard before
    * the windows run; the windows are per-key and carry one row per
    * OBSERVED bucket (time-range-bounded, never row-bounded).
    * Output: (key, bucket, c, cusum_scaled, alarm) for every observed
    * bucket — cusum_scaled is in the 4n·count units above (divide by
    * 4n·1 for count units; kept scaled so the column stays exact). */
  def cusum(df: DataFrame, tsSec: Column, keyCol: Column,
      bucketSec: Int = 3600, maxPoints: Long = 1L << 20): DataFrame = {
    val guarded = guardedBucketCounts(df, tsSec, keyCol, bucketSec,
      maxPoints, "cusum")
    val perKey = Window.partitionBy(col("key"))
    val ordered = perKey.orderBy(col("bucket").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    guarded
      .withColumn("__n", count(lit(1)).over(perKey))
      .withColumn("__t", sum(col("c")).over(perKey))
      .withColumn("__p",
        sum(lit(4L) * col("__n") * col("c") - lit(5L) * col("__t"))
          .over(ordered))
      .withColumn("cusum_scaled",
        col("__p") - least(lit(0L), min(col("__p")).over(ordered)))
      .select(col("key"), col("bucket"), col("c"),
        col("cusum_scaled"),
        (col("cusum_scaled") > lit(8L) * col("__t")).as("alarm"))
  }
}
