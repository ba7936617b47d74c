package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Profiling

/** Streaming Holt–Winters — the continuous twin of the batch
  * [[graft.operators.Profiling.holtWinters]] seasonal fold, carrying
  * the (level, trend, seasonal-queue) state across micro-batches: the
  * [[EwmaStream]] cumulative-state shape with a (2+m)-double array per
  * key instead of one scalar, so a daily-cycling rate keeps its
  * profile as the stream runs instead of re-learning it per window.
  *
  * Why stream ≡ batch holds BIT-equal: identical to [[EwmaStream]] —
  * Append-mode windowed counts finalize disjoint, non-decreasing
  * bucket ranges (asserted in-plan against the carried frontier, never
  * assumed), and the per-batch fold applies LITERALLY the same lambda
  * text as the batch operator ([[Profiling.hwLambda]] — one
  * definition, two call sites), so the doubles cannot diverge by
  * re-derivation. The cold-start init array is likewise shared
  * ([[Profiling.hwInit]]).
  *
  * Exactly-once: the [[SnapshotStore]] versioned-snapshot protocol
  * (overwrite `b=<id>`, read strictly-below, prune with a retained
  * grace version) — shared with [[EwmaStream]]/[[CusumStream]]. State
  * is one row of 2+m doubles per key: the key space times the period,
  * never the event volume.
  *
  * The reference engine is batch-only over static CSVs
  * (/root/reference/sqlengine.py; SURVEY.md §2.9); extension
  * surface. */
object HoltWintersStream {

  private def emptyState(batch: DataFrame): DataFrame =
    batch.select(col("key")).filter(lit(false))
      .withColumn("last_bucket", lit(0L))
      .withColumn("n_buckets", lit(0L))
      .withColumn("st", expr("CAST(array() AS ARRAY<DOUBLE>)"))

  /** The latest committed state — the consumer read; throws when no
    * batch has committed. Lazy-read contract as documented on
    * [[SnapshotStore.readLatest]]. */
  def readState(spark: SparkSession, stateDir: String): DataFrame =
    SnapshotStore.readLatest(spark, stateDir, "Holt-Winters")

  /** One foreachBatch step, public so a spec can drive replay and
    * crash injection directly: fold batch `id`'s finalized buckets
    * (the [[EwmaStream.bucketCounts]] grid) onto the carried
    * (l, b, s₁..sₘ) state and commit snapshot `b=<id>`. */
  def foldBatch(batch: DataFrame, id: Long, stateDir: String, period: Int,
      alpha: Double = 0.25, beta: Double = 0.25, gamma: Double = 0.25,
      retainBelow: Int = 1): Unit = {
    require(period >= 2, s"HoltWintersStream: period must be >= 2, got $period")
    require(alpha > 0.0 && alpha < 1.0,
      s"HoltWintersStream: alpha must be in (0, 1), got $alpha")
    require(beta > 0.0 && beta < 1.0,
      s"HoltWintersStream: beta must be in (0, 1), got $beta")
    require(gamma > 0.0 && gamma < 1.0,
      s"HoltWintersStream: gamma must be in (0, 1), got $gamma")
    val spark = batch.sparkSession
    val prev = SnapshotStore.stateSoFar(spark, stateDir, id, emptyState(batch))
    val lam = Profiling.hwLambda(alpha, beta, gamma, period)
    // shared finalized-bucket protocol (prelude + frontier guard) —
    // ONE home in SnapshotStore.foldPrelude for all three state twins
    val folded = SnapshotStore.foldPrelude(batch, prev, "HoltWintersStream",
        "transform(__pts, p -> CAST(p.c AS DOUBLE))")
      // the state-shape guard: a sink restarted with a DIFFERENT period
      // would slice the carried array into garbage silently (Spark
      // slice truncates) — the same silent-mis-fold class the frontier
      // guard closes for bucket regressions
      .filter(assert_true(
        col("st").isNull || size(col("st")) === lit(period + 2),
        concat(lit("HoltWintersStream: carried state has "),
          size(col("st")), lit(" doubles for key "), col("key"),
          lit(s" but period $period needs ${period + 2} — " +
            "the sink was restarted with a different period")))
        .isNull)
      .select(
        col("key"),
        SnapshotStore.lastBucketCol,
        SnapshotStore.nBucketsCol,
        when(col("__m").isNull, col("st"))
          .when(col("n_buckets").isNull,
            expr(s"aggregate(slice(__l, 2, greatest(size(__l) - 1, 0)), " +
              s"${Profiling.hwInit(period, "__l[0]")}, $lam)"))
          .otherwise(expr(s"aggregate(__l, st, $lam)"))
          .as("st"))
    SnapshotStore.commit(folded, stateDir, id, retainBelow)
  }
}
