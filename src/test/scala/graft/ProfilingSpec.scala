package graft

import org.apache.spark.sql.functions._

import graft.operators.Profiling

/** Hand-computable fixture for the single-scan column profiler; the
  * driver's q_profile_orders oracle cross-checks it against DuckDB on
  * real data. */
class ProfilingSpec extends SparkSpec {
  import spark.implicits._

  test("profile: nulls, distincts, min/max per column in one pass") {
    val df = Seq(
      (1L, Some("a"), Some(10L)),
      (2L, Some("b"), None),
      (3L, Some("a"), Some(30L)),
      (4L, None, Some(10L)),
    ).toDF("id", "s", "v")
    val got = Profiling.profile(df, Seq("id", "s", "v"))
      .as[(String, Long, Long, Long, String, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(got("id") == ((4L, 0L, 4L, "1", "4")))
    assert(got("s") == ((4L, 1L, 2L, "a", "b")))
    assert(got("v") == ((4L, 1L, 2L, "10", "30")))
  }

  test("groupQuantiles: exact interpolated quantiles per group") {
    val df = Seq(
      ("a", 1L), ("a", 2L), ("a", 3L), ("a", 4L), // q50 = 2.5
      ("b", 10L), ("b", 20L), ("b", 40L),         // q50 = 20, q25 = 15
    ).toDF("g", "v")
    val got = Profiling.groupQuantiles(df, Seq("g"), "v", Seq(0.25, 0.5))
      .as[(String, Double, Double, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got("a") == ((1.75, 2.5, 4L)))
    assert(got("b") == ((15.0, 20.0, 3L)))
  }

  test("exactGroupCorr matches a hand-computed Pearson r and is partition-invariant") {
    // per group "g": x = [1, 2, 3], y = [2, 4, 6] → r = 1 exactly;
    // "h": x = [1, 2, 3], y = [6, 5, 1] → r = -15/√252 = -0.944911...
    val rows = Seq(
      ("g", 1.0, 2.0), ("g", 2.0, 4.0), ("g", 3.0, 6.0),
      ("h", 1.0, 6.0), ("h", 2.0, 5.0), ("h", 3.0, 1.0))
    val df = rows.toDF("g", "x", "y")
    val got = Profiling.exactGroupCorr(df, Seq("g"), "x", "y")
      .as[(String, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // collinear: the RAW formula yields 1.0000000000000002 (√6·√24 =
    // 11.999999999999998 in doubles); the [−1,1] clamp must bring it to
    // exactly 1.0 so acos(r) etc. stay finite downstream
    assert(got("g") == ((3L, 1.0)))
    assert(got("g")._2 <= 1.0)
    assert(math.abs(got("h")._2 - -15.0 / math.sqrt(252.0)) < 1e-15)
    // zero-variance group: correlation is undefined → NULL, and the
    // division must be guarded (ANSI mode would throw DIVIDE_BY_ZERO)
    // rather than clamped (least/greatest skip NULLs → would emit -1.0)
    val flat = Seq(("z", 5.0, 1.0), ("z", 5.0, 2.0)).toDF("g", "x", "y")
    val rz = Profiling.exactGroupCorr(flat, Seq("g"), "x", "y")
      .select("corr_xy").collect().head
    assert(rz.isNullAt(0), s"zero-variance corr should be NULL, got $rz")
    // identical bits under a different partitioning (decimal sums are
    // order-independent; the double formula runs once on the result)
    val shuffled = rows.reverse.toDF("g", "x", "y").repartition(7)
    val got2 = Profiling.exactGroupCorr(shuffled, Seq("g"), "x", "y")
      .as[(String, Long, Double)].collect()
      .map(r => r._1 -> r._3).toMap
    assert(java.lang.Double.doubleToLongBits(got2("h")) ==
      java.lang.Double.doubleToLongBits(got("h")._2))
  }

  test("ksDrift: hand-computed statistic, tie to smallest bucket") {
    // side A buckets [1,1,2], side B buckets [2,3,3]:
    //   b1: cuma=2 cumb=0 → |2·3 − 0·3| = 6;  b2: cuma=3 cumb=1 → 6;
    //   b3: 3,3 → 0.  Max 6 ties b1/b2 → smallest bucket wins; ks = 6/9.
    val df = Seq((1L, true), (1L, true), (2L, true),
      (2L, false), (3L, false), (3L, false)).toDF("bucket", "a")
    val got = Profiling.ksDrift(df, col("bucket"), col("a"))
      .as[(Long, Long, Long, Long, Double)].collect().head
    assert(got == ((3L, 3L, 1L, 6L, 6.0 / 9.0)))
  }

  test("ksDrift: one-sided input reports ks = 0.0, not NaN") {
    val df = Seq((1L, true), (2L, true), (3L, true)).toDF("bucket", "a")
    val got = Profiling.ksDrift(df, col("bucket"), col("a"))
      .as[(Long, Long, Long, Long, Double)].collect().head
    assert(got._2 == 0L)
    assert(got._5 == 0.0, s"expected 0.0 for the undefined one-sided KS, got ${got._5}")
    assert(!got._5.isNaN)
  }

  test("ksDrift: bucket frame wider than maxBuckets fails loudly, not silently") {
    // a deliberately wide grid: 50 distinct buckets against a cap of 10
    val wide = (0L until 50L).map(b => (b, b % 2 == 0)).toDF("bucket", "a")
    val e = intercept[Throwable] {
      Profiling.ksDrift(wide, col("bucket"), col("a"), maxBuckets = 10L).collect()
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(messages.exists(_.contains("ksDrift")),
      s"expected the ksDrift bucket-bound error, got: ${messages.mkString(" | ")}")
    // and the same input passes when the cap is raised deliberately
    val ok = Profiling.ksDrift(wide, col("bucket"), col("a"), maxBuckets = 50L)
      .collect()
    assert(ok.length == 1)
  }

  test("tvDrift: hand-computed statistic and partition invariance") {
    // side A buckets [1,1,2], side B buckets [2,3,3]:
    //   b1: |2·3 − 0·3| = 6;  b2: |1·3 − 1·3| = 0;  b3: |0·3 − 2·3| = 6
    //   sum_abs = 12 → tv = 12 / (2·3·3) = 2/3
    val rows = Seq((1L, true), (1L, true), (2L, true),
      (2L, false), (3L, false), (3L, false))
    val got = Profiling.tvDrift(rows.toDF("bucket", "a"),
      col("bucket"), col("a"))
      .as[(Long, Long, Long, Double)].collect().head
    assert(got == ((3L, 3L, 12L, 2.0 / 3.0)))
    // exact integers → identical result under any partitioning
    val got7 = Profiling.tvDrift(rows.reverse.toDF("bucket", "a").repartition(7),
      col("bucket"), col("a"))
      .as[(Long, Long, Long, Double)].collect().head
    assert(got7 == got)
    // identical distributions → zero distance
    val same = Seq((1L, true), (1L, false), (2L, true), (2L, false))
    val z = Profiling.tvDrift(same.toDF("bucket", "a"), col("bucket"), col("a"))
      .as[(Long, Long, Long, Double)].collect().head
    assert(z == ((2L, 2L, 0L, 0.0)))
  }

  test("w1Drift: gap-weighted area equals the mean shift on a pure shift") {
    // A = [1,2,3] vs B = [4,5,6]: a rigid +3 shift → w1 = 3 exactly
    val shift = Seq((1L, true), (2L, true), (3L, true),
      (4L, false), (5L, false), (6L, false))
    val got = Profiling.w1Drift(shift.toDF("bucket", "a"),
      col("bucket"), col("a"))
      .as[(Long, Long, Long, Double)].collect().head
    assert(got == ((3L, 3L, 27L, 3.0)))
    // uneven gaps: A = [0,0,10] vs B = [10,20,20] → sorted matching
    // (10 + 20 + 10) / 3 = 40/3; area = Σ|cross-diff|·gap = 60 + 60
    val rows = Seq((0L, true), (0L, true), (10L, true),
      (10L, false), (20L, false), (20L, false))
    val g2 = Profiling.w1Drift(rows.toDF("bucket", "a"),
      col("bucket"), col("a"))
      .as[(Long, Long, Long, Double)].collect().head
    assert(g2 == ((3L, 3L, 120L, 120.0 / 9.0)))
    // exact longs → identical result under any partitioning
    val g7 = Profiling.w1Drift(rows.reverse.toDF("bucket", "a").repartition(7),
      col("bucket"), col("a"))
      .as[(Long, Long, Long, Double)].collect().head
    assert(g7 == g2)
    // identical distributions → zero distance; one-sided → 0.0 not NaN
    val same = Seq((1L, true), (1L, false), (5L, true), (5L, false))
    assert(Profiling.w1Drift(same.toDF("bucket", "a"), col("bucket"), col("a"))
      .as[(Long, Long, Long, Double)].collect().head == ((2L, 2L, 0L, 0.0)))
    val os = Profiling.w1Drift(Seq((1L, true), (9L, true)).toDF("bucket", "a"),
      col("bucket"), col("a"))
      .as[(Long, Long, Long, Double)].collect().head
    assert(os._4 == 0.0 && !os._4.isNaN)
  }

  test("tvDrift: empty input reports the all-zero row, not NULLs") {
    val empty = Seq.empty[(Long, Boolean)].toDF("bucket", "a")
    val got = Profiling.tvDrift(empty, col("bucket"), col("a"))
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((0L, 0L, 0L, 0.0)))
  }

  test("tvDrift: bucket frame wider than maxBuckets fails loudly (shared guard)") {
    val wide = (0L until 50L).map(b => (b, b % 2 == 0)).toDF("bucket", "a")
    val e = intercept[Throwable] {
      Profiling.tvDrift(wide, col("bucket"), col("a"), maxBuckets = 10L).collect()
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(messages.exists(_.contains("tvDrift")),
      s"expected the tvDrift bucket-bound error, got: ${messages.mkString(" | ")}")
  }

  test("tvDrift: one-sided input reports tv = 0.0, not NaN") {
    val df = Seq((1L, true), (2L, true)).toDF("bucket", "a")
    val got = Profiling.tvDrift(df, col("bucket"), col("a"))
      .as[(Long, Long, Long, Double)].collect().head
    assert(got._2 == 0L)
    assert(got._4 == 0.0 && !got._4.isNaN,
      s"expected 0.0 for the undefined one-sided TV, got ${got._4}")
  }

  test("rateSpikes: exact z on a hand-built series, only the spike flagged") {
    // minutes 0..39 alternate 9/11 events (mean 10, var 1 over any
    // even-length trailing window); minute 40 has 100 events. At the
    // spike: np=40, sp=400 → mean 10.0, sq=4040 → var 1.0, z = 90.0
    // exactly (integer window sums, one division, IEEE-exact sqrt).
    val rows = (0 until 40).flatMap { m =>
      val c = if (m % 2 == 0) 9 else 11
      (0 until c).map(i => m * 60L + i)
    } ++ (0 until 100).map(i => 40 * 60L + (i % 60)) // all inside minute 40
    val got = Profiling.rateSpikes(rows.toDF("ts_s"), col("ts_s"))
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((40L, 100L, 90.0)),
      s"expected exactly the minute-40 spike at z = 90.0; got $got")
  }

  test("rateSpikes: minute frame wider than maxMinutes fails loudly (guarded window)") {
    // a deliberately wide time range: 50 observed minutes vs a cap of
    // 10 — the guard must fire BEFORE the single-partition window runs
    val wide = (0L until 50L).map(m => m * 60L).toDF("ts_s")
    val e = intercept[Throwable] {
      Profiling.rateSpikes(wide, col("ts_s"), maxMinutes = 10L).collect()
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(messages.exists(_.contains("rateSpikes")),
      s"expected the rateSpikes minute-bound error, got: ${messages.mkString(" | ")}")
    // the same series passes when the cap is raised deliberately
    assert(Profiling.rateSpikes(wide, col("ts_s"), maxMinutes = 50L)
      .collect().isEmpty) // constant series: var = 0 everywhere
  }

  test("ewmaRate: hand-computed sequenced fold, partition invariance") {
    // key "a": minutes 0,1,2 with counts 2,4,8 →
    // s1=2, s2=.25·4+.75·2=2.5, s3=.25·8+.75·2.5=3.875 (all exact
    // binary); key "b": one minute with 3 events → ewma = 3.0
    val rows = Seq.tabulate(2)(i => ("a", 0L + i)) ++
      Seq.tabulate(4)(i => ("a", 60L + i)) ++
      Seq.tabulate(8)(i => ("a", 120L + i)) ++
      Seq.tabulate(3)(i => ("b", 0L + i))
    val df = rows.toDF("k", "ts_s")
    def run(d: org.apache.spark.sql.DataFrame) =
      Profiling.ewmaRate(d, col("ts_s"), col("k"))
        .as[(String, Long, Double)].collect().toSet
    val got = run(df)
    assert(got == Set(("a", 3L, 3.875), ("b", 1L, 3.0)), s"got $got")
    assert(run(df.repartition(7, col("ts_s"))) == got,
      "EWMA must not depend on partitioning")
  }

  test("ewmaRate: point frame wider than maxPoints fails loudly (guarded collect)") {
    val wide = (0L until 50L).map(m => m * 60L).toDF("ts_s")
    val e = intercept[Throwable] {
      Profiling.ewmaRate(wide, col("ts_s"), lit("all"), maxPoints = 10L).collect()
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(messages.exists(_.contains("ewmaRate")),
      s"expected the ewmaRate point-bound error, got: ${messages.mkString(" | ")}")
    // a constant series folds to its constant once the cap is raised
    val ok = Profiling.ewmaRate(wide, col("ts_s"), lit("all"), maxPoints = 50L)
      .as[(String, Long, Double)].collect().toSeq
    assert(ok == Seq(("all", 50L, 1.0)))
  }

  test("cusum: hand-computed integer statistic, sustained shift alarms, dip pins at zero") {
    // one key: 20 quiet buckets of 10 then a 5-bucket burst of 60 —
    // n = 25, T = 500, μ = 20, κ = 5 → scaled term 100·x − 2500
    // (quiet −1500, burst +3500), threshold 8T = 4000 (= 2μ unscaled).
    // The quiet prefix pins at 0 (max-with-zero discards the negative
    // drift); burst bucket 1 reaches 3500 (NO alarm — one loud bucket
    // is rateSpikes' job), bucket 2 reaches 7000 and alarms.
    val counts = Seq.fill(20)(10) ++ Seq.fill(5)(60)
    val rows = counts.zipWithIndex.flatMap { case (c, b) =>
      (0 until c).map(i => (b * 3600L + i, "k"))
    }
    val got = Profiling.cusum(rows.toDF("ts_s", "key2"), col("ts_s"),
      col("key2"), bucketSec = 3600)
      .orderBy("bucket").as[(String, Long, Long, Long, Boolean)]
      .collect().toSeq
    // driver replay of the recurrence Sₜ = max(0, Sₜ₋₁ + 100·xₜ − 2500)
    val n = counts.size.toLong
    val t = counts.map(_.toLong).sum
    var s = 0L
    val want = counts.zipWithIndex.map { case (c, b) =>
      s = math.max(0L, s + 4L * n * c - 5L * t)
      ("k", b.toLong, c.toLong, s, s > 8L * t)
    }
    assert(got == want, s"got $got, want $want")
    assert(got.take(20).forall(_._4 == 0L), "the quiet prefix must pin at 0")
    assert(!got(20)._5, "one burst bucket alone must not alarm")
    assert(got.drop(21).forall(_._5), "the sustained burst must alarm")
  }

  test("cusum: bit-identical under repartitioning (closed-form windows, no fold)") {
    val rows = (0 until 5000).map(i => (i.toLong * 37L % 86400L, s"t${i % 3}"))
    val a = Profiling.cusum(rows.toDF("ts_s", "key2"), col("ts_s"),
      col("key2"), bucketSec = 3600)
      .orderBy("key", "bucket").collect().toSeq
    val b = Profiling.cusum(rows.toDF("ts_s", "key2").repartition(17),
      col("ts_s"), col("key2"), bucketSec = 3600)
      .orderBy("key", "bucket").collect().toSeq
    assert(a == b)
  }

  test("cusum: point frame wider than maxPoints fails loudly (guarded window)") {
    val wide = (0 until 60).map(i => (i * 3600L, "k")).toDF("ts_s", "key2")
    val e = intercept[Exception] {
      Profiling.cusum(wide, col("ts_s"), col("key2"), bucketSec = 3600,
        maxPoints = 10L).collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("maxPoints"),
      s"guard must name the cap: ${e.getMessage}")
    // the same series passes once the cap accommodates it
    val ok = Profiling.cusum(wide, col("ts_s"), col("key2"),
      bucketSec = 3600, maxPoints = 60L).count()
    assert(ok == 60L)
  }

  test("holtForecast: hand-computed (l, b) fold — all exact binary fractions") {
    // counts 4, 8, 6 with α = β = 0.25:
    // l₁=4, b₁=0; l₂=0.25·8+0.75·4=5, b₂=0.25·1=0.25;
    // l₃=0.25·6+0.75·5.25=5.4375, b₃=0.25·0.4375+0.75·0.25=0.296875
    val rows = Seq(4, 8, 6).zipWithIndex.flatMap { case (c, b) =>
      (0 until c).map(i => (b * 3600L + i, "k"))
    }
    val got = Profiling.holtForecast(rows.toDF("ts_s", "key2"),
        col("ts_s"), col("key2"))
      .as[(String, Long, Double, Double, Double)].collect().toSeq
    assert(got == Seq(("k", 3L, 5.4375, 0.296875, 5.734375)), s"got $got")
    // a singleton series is its own level with zero trend
    val one = Profiling.holtForecast(Seq((0L, "x")).toDF("ts_s", "key2"),
        col("ts_s"), col("key2"))
      .as[(String, Long, Double, Double, Double)].collect().toSeq
    assert(one == Seq(("x", 1L, 1.0, 0.0, 1.0)))
  }

  test("holtForecast: bit-identical under repartitioning; guard trips on a wide frame") {
    val rows = (0 until 4000).map(i => (i.toLong * 53L % 86400L, s"t${i % 3}"))
    val a = Profiling.holtForecast(rows.toDF("ts_s", "key2"),
      col("ts_s"), col("key2")).orderBy("key").collect().toSeq
    val b = Profiling.holtForecast(rows.toDF("ts_s", "key2").repartition(13),
      col("ts_s"), col("key2")).orderBy("key").collect().toSeq
    assert(a == b)
    val wide = (0 until 40).map(i => (i * 3600L, "k")).toDF("ts_s", "key2")
    val e = intercept[Exception] {
      Profiling.holtForecast(wide, col("ts_s"), col("key2"),
        maxPoints = 10L).collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("maxPoints"))
  }

  test("holtWinters: hand-computed (l, b, s) fold — all exact binary fractions") {
    // counts 4, 8, 4, 8 at period 2, α = β = γ = 0.25, cold start
    // (l=4, b=0, s=[0,0]):
    // x=8: l=0.25·8+0.75·4=5, b=0.25·1=0.25, s→[0, 0.75]
    // x=4: l=0.25·4+0.75·5.25=4.9375, b=0.25·(−0.0625)+0.1875=0.171875,
    //      s→[0.75, −0.234375]
    // x=8: l=0.25·(8−0.75)+0.75·5.109375=5.64453125,
    //      b=0.25·0.70703125+0.75·0.171875=0.3056640625,
    //      s→[−0.234375, 1.1513671875]
    // forecast = (l + b) + s_next = 5.7158203125
    val rows = Seq(4, 8, 4, 8).zipWithIndex.flatMap { case (c, b) =>
      (0 until c).map(i => (b * 3600L + i, "k"))
    }
    val got = Profiling.holtWinters(rows.toDF("ts_s", "key2"),
        col("ts_s"), col("key2"), period = 2)
      .as[(String, Long, Double, Double, Double, Double)].collect().toSeq
    assert(got == Seq(("k", 4L, 5.64453125, 0.3056640625, -0.234375,
      5.7158203125)), s"got $got")
    // a singleton series: level only, zero trend, zero season
    val one = Profiling.holtWinters(Seq((0L, "x")).toDF("ts_s", "key2"),
        col("ts_s"), col("key2"), period = 2)
      .as[(String, Long, Double, Double, Double, Double)].collect().toSeq
    assert(one == Seq(("x", 1L, 1.0, 0.0, 0.0, 1.0)))
  }

  test("holtWinters: seasonal profile learned — a pure cycle forecasts the cycle, not the mean") {
    // strict 2-cycle 2,10,2,10,... long enough for the seasonal slots
    // to converge: forecast after a 10 must point DOWN toward the 2s
    val rows = (0 until 40).flatMap { b =>
      val c = if (b % 2 == 0) 2 else 10
      (0 until c).map(i => (b * 3600L + i, "k"))
    }
    val hw = Profiling.holtWinters(rows.toDF("ts_s", "key2"),
        col("ts_s"), col("key2"), period = 2)
      .as[(String, Long, Double, Double, Double, Double)].collect().head
    val holt = Profiling.holtForecast(rows.toDF("ts_s", "key2"),
        col("ts_s"), col("key2"))
      .as[(String, Long, Double, Double, Double)].collect().head
    assert(hw._6 < 4.5, s"seasonal forecast should chase the low slot, got ${hw._6}")
    assert(math.abs(hw._6 - 2.0) < math.abs(holt._5 - 2.0),
      s"Holt–Winters (${hw._6}) must beat trend-only Holt (${holt._5}) on a pure cycle")
    // bit-identical under repartitioning (sequenced fold)
    val b13 = Profiling.holtWinters(rows.toDF("ts_s", "key2").repartition(13),
        col("ts_s"), col("key2"), period = 2)
      .as[(String, Long, Double, Double, Double, Double)].collect().head
    assert(java.lang.Double.doubleToLongBits(hw._6) ==
      java.lang.Double.doubleToLongBits(b13._6))
  }

  test("approxQuantileEval: exact quantiles portable, GK rank bound holds under any layout") {
    val vals = (1 to 1000).map(i => (i.toLong, i.toDouble))
      .toDF("id", "v")
    val got = Profiling.approxQuantileEval(vals, col("v"),
        Seq(250, 500, 750), accuracy = 100)
      .orderBy("probe_permille")
      .as[(Long, Long, Double, Boolean)].collect().toSeq
    // exact interpolated quantiles of 1..1000
    assert(got.map(r => (r._1, r._2, r._3)) ==
      Seq((250L, 1000L, 250.75), (500L, 1000L, 500.5), (750L, 1000L, 750.25)),
      s"got $got")
    assert(got.forall(_._4), "GK's rank guarantee must hold")
    // the sketch differs under a different merge order; the verdict
    // and the exact columns must not
    val re = Profiling.approxQuantileEval(vals.repartition(13), col("v"),
        Seq(250, 500, 750), accuracy = 100)
      .orderBy("probe_permille")
      .as[(Long, Long, Double, Boolean)].collect().toSeq
    assert(re == got)
    // empty input: no rows, not a crash
    assert(Profiling.approxQuantileEval(vals.filter(lit(false)), col("v"),
      Seq(500), accuracy = 100).count() == 0L)
  }

  test("cusumSeasonal: hand fold — residuals score the pre-update forecast; kappa drains; jump alarms") {
    // period 2, α = β = γ = 0.5, κ = 0, counts 4, 4, 8:
    //   init [l=4, b=0, s=[0,0], P=0, mP=0]
    //   x=4: f = 4+0+0 = 4, r = 0 → P=0, mP=0; l'=4, b'=0, s→[0,0]
    //   x=8: f = 4, r = 4 → P=4, mP=0; S = 4 − min(0,0) = 4 > h=3 ⇒ alarm
    val jump = Seq(4, 4, 8).zipWithIndex.flatMap { case (c, b) =>
      (0 until c).map(i => (b * 3600L + i, "a"))
    }
    val got = Profiling.cusumSeasonal(jump.toDF("ts_s", "key2"),
        col("ts_s"), col("key2"), period = 2, h = 3.0, kappa = 0.0,
        alpha = 0.5, beta = 0.5, gamma = 0.5)
      .as[(String, Long, Double, Double, Boolean)].collect().toSeq
    assert(got == Seq(("a", 3L, 4.0, 4.0, true)), s"got $got")
    // a flat series under slack κ=1 drains P one unit per scored step
    // (3 steps after init) while S pins to 0 — no alarm ever
    val flat = (0 until 4).flatMap(b =>
      (0 until 5).map(i => (b * 3600L + i, "f")))
    val g2 = Profiling.cusumSeasonal(flat.toDF("ts_s", "key2"),
        col("ts_s"), col("key2"), period = 2, h = 3.0, kappa = 1.0,
        alpha = 0.5, beta = 0.5, gamma = 0.5)
      .as[(String, Long, Double, Double, Boolean)].collect().toSeq
    assert(g2 == Seq(("f", 4L, -3.0, 0.0, false)), s"got $g2")
    // partitioning invariance: the fold is sequenced inside one row
    val g7 = Profiling.cusumSeasonal(jump.toDF("ts_s", "key2")
        .repartition(7), col("ts_s"), col("key2"), period = 2, h = 3.0,
        kappa = 0.0, alpha = 0.5, beta = 0.5, gamma = 0.5)
      .as[(String, Long, Double, Double, Boolean)].collect().toSeq
    assert(g7.map(r => (r._1, r._2, r._3.toString, r._4.toString, r._5)) ==
      got.map(r => (r._1, r._2, r._3.toString, r._4.toString, r._5)))
  }

  test("theilSen: hand slopes incl. a negative dy; outlier bucket cannot drag the median") {
    // counts 4, 8, 6 at buckets 0,1,2: slopes 4, 1, −2 → median 1.0
    val rows = Seq(4, 8, 6).zipWithIndex.flatMap { case (c, b) =>
      (0 until c).map(i => (b * 3600L + i, "k"))
    }
    val got = Profiling.theilSen(rows.toDF("ts_s", "key2"),
        col("ts_s"), col("key2"))
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(got == Seq(("k", 3L, 3L, 1.0)), s"got $got")
    // 2,3,4,5,6,100: ten clean pairwise slopes of exactly 1.0 swamp the
    // five outlier-touching ones — the median stays 1.0 (OLS would not)
    val out = Seq(2, 3, 4, 5, 6, 100).zipWithIndex.flatMap { case (c, b) =>
      (0 until c).map(i => (b * 3600L + i, "k"))
    }
    val sen = Profiling.theilSen(out.toDF("ts_s", "key2"),
        col("ts_s"), col("key2"))
      .as[(String, Long, Long, Double)].collect().head
    assert(sen == (("k", 6L, 15L, 1.0)), s"got $sen")
    // a singleton series has no pairs: NULL slope, zero pair count
    val one = Profiling.theilSen(Seq((0L, "x")).toDF("ts_s", "key2"),
        col("ts_s"), col("key2"))
      .select("key", "n_buckets", "n_pairs").as[(String, Long, Long)]
      .collect().toSeq
    assert(one == Seq(("x", 1L, 0L)))
  }

  test("theilSen: the O(n²) contract is guarded — a wide frame fails loudly") {
    val wide = (0 until 40).map(i => (i * 3600L, "k")).toDF("ts_s", "key2")
    val e = intercept[Exception] {
      Profiling.theilSen(wide, col("ts_s"), col("key2"),
        maxPoints = 10L).collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("maxPoints"))
  }

  test("forecastBacktest: hand-computed walk-forward errors for all three models") {
    // counts 4, 8, 6, 10; origins = 2 (cuts after buckets 2 and 3):
    // ewma forecasts 5, 5.25 → errors 1, 4.75 → mae 2.875
    // holt forecasts 5.25, 5.734375 → errors 0.75, 4.265625 → mae 2.5078125
    // hw (m=2) forecasts 5.25, 6.484375 → errors 0.75, 3.515625 → mae 2.1328125
    val rows = Seq(4, 8, 6, 10).zipWithIndex.flatMap { case (c, b) =>
      (0 until c).map(i => (b * 3600L + i, "k"))
    }
    val got = Profiling.forecastBacktest(rows.toDF("ts_s", "key2"),
        col("ts_s"), col("key2"), period = 2, origins = 2)
      .as[(String, Long, Long, Double, Double, Double)].collect().toSeq
    assert(got == Seq(("k", 4L, 2L, 2.875, 2.5078125, 2.1328125)), s"got $got")
    // a singleton series has no scorable origin: zero count, NULL maes
    val one = Profiling.forecastBacktest(Seq((0L, "x")).toDF("ts_s", "key2"),
        col("ts_s"), col("key2"), period = 2, origins = 2)
      .select("key", "n_buckets", "n_origins").as[(String, Long, Long)]
      .collect().toSeq
    assert(one == Seq(("x", 1L, 0L)))
  }

  test("forecastBacktest: the seasonal model wins the backtest on a pure cycle") {
    // strict 2-cycle: Holt–Winters' one-step errors must beat both
    // cycle-blind models once the seasonal slots converge — the
    // model-selection decision the query exists to make
    val rows = (0 until 40).flatMap { b =>
      val c = if (b % 2 == 0) 2 else 10
      (0 until c).map(i => (b * 3600L + i, "k"))
    }
    val r = Profiling.forecastBacktest(rows.toDF("ts_s", "key2"),
        col("ts_s"), col("key2"), period = 2, origins = 8)
      .as[(String, Long, Long, Double, Double, Double)].collect().head
    assert(r._6 < r._5 && r._6 < r._4,
      s"HW mae ${r._6} must beat holt ${r._5} and ewma ${r._4} on a cycle")
  }

  test("profile reads the input exactly once (single scan in the plan)") {
    val df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val plan = Profiling.profile(df,
      Seq("o_orderkey", "o_custkey", "o_orderstatus")).queryExecution
      .executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected 1 parquet scan, got $scans:\n$plan")
  }
}
