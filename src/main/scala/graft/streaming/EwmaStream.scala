package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming EWMA of the per-bucket event rate — the continuous twin
  * of the batch [[graft.operators.Profiling.ewmaRate]] fold, and the
  * one streaming shape none of the window twins cover: CUMULATIVE
  * sequential state (sₜ depends on every prior bucket, not a
  * watermark-bounded window), carried across micro-batches in a
  * versioned state snapshot.
  *
  * Why stream ≡ batch holds: the windowed count stage emits a bucket
  * only when the watermark passes its end (Append mode), and the
  * watermark is monotone — so batches finalize disjoint,
  * non-decreasing bucket ranges. Folding each batch's buckets in
  * (key, bucket) order on top of the carried state therefore replays
  * EXACTLY the batch fold's order, and the doubles are bit-identical
  * (same α literals, same sequenced `aggregate`). The monotonicity
  * that argument rests on is asserted IN-PLAN, not assumed: a batch
  * whose minimum new bucket does not exceed the carried last_bucket
  * fails loudly (it would mean out-of-contract reordering, and a
  * silent mis-fold).
  *
  * Exactly-once protocol (the [[DedupStream]]/[[CdcStream]] family,
  * applied to a SNAPSHOT instead of an append-only index): the
  * versioned-snapshot contract now lives ONCE in [[SnapshotStore]] —
  * overwrite `b=<id>`, read strictly-below, prune below
  * id − retainBelow — shared with [[CusumStream]]. State size is one
  * row per key — a capacity dashboard's key space, not the event
  * volume.
  *
  * The reference engine is batch-only over static CSVs
  * (/root/reference/sqlengine.py; SURVEY.md §2.9); extension
  * surface. */
object EwmaStream {

  private def emptyState(batch: DataFrame): DataFrame =
    batch.select(col("key")).filter(lit(false))
      .withColumn("last_bucket", lit(0L))
      .withColumn("n_buckets", lit(0L))
      .withColumn("ewma", lit(0.0))

  /** The latest committed state — the consumer read; throws when no
    * batch has committed. Lazy-read contract as documented on
    * [[SnapshotStore.readLatest]]. */
  def readState(spark: SparkSession, stateDir: String): DataFrame =
    SnapshotStore.readLatest(spark, stateDir, "EWMA")

  /** Finalized per-(key, bucket) counts: tumbling `bucketSec` windows
    * in Append mode behind a watermark — rows reach the fold only
    * once their bucket can no longer change. `bucket` is the same
    * epoch-seconds-div-bucketSec grid the batch
    * [[graft.operators.Profiling.ewmaRate]] groups on (tumbling
    * windows align to epoch multiples of the width, so the division
    * is exact). */
  def bucketCounts(events: DataFrame, keyCol: String,
      bucketSec: Int = 3600, delay: String = "10 minutes"): DataFrame = {
    require(bucketSec >= 1, s"bucketSec must be >= 1, got $bucketSec")
    events
      .withWatermark("event_time", delay)
      .groupBy(col(keyCol).as("key"),
        window(col("event_time"), s"$bucketSec seconds"))
      .agg(count(lit(1)).as("c"))
      .select(col("key"),
        graft.functions.ExactMath.floorDiv(
          col("window.start").cast("long"), bucketSec.toLong).as("bucket"),
        col("c"))
  }

  /** One foreachBatch step, public so a spec can drive replay and
    * crash injection directly: fold batch `id`'s finalized buckets
    * onto the carried state and commit snapshot `b=<id>`. Idempotent
    * by construction — see the object doc. */
  def foldBatch(batch: DataFrame, id: Long, stateDir: String,
      alpha: Double = 0.25, retainBelow: Int = 1): Unit = {
    require(alpha > 0.0 && alpha < 1.0,
      s"EwmaStream: alpha must be in (0, 1), got $alpha")
    val spark = batch.sparkSession
    val prev = SnapshotStore.stateSoFar(spark, stateDir, id, emptyState(batch))
    val a = alpha
    val b = 1.0 - alpha
    // shared finalized-bucket protocol (prelude + frontier guard) —
    // ONE home in SnapshotStore.foldPrelude for all three state twins
    val folded = SnapshotStore.foldPrelude(batch, prev, "EwmaStream",
        "transform(__pts, p -> CAST(p.c AS DOUBLE))")
      .select(
        col("key"),
        SnapshotStore.lastBucketCol,
        SnapshotStore.nBucketsCol,
        when(col("__m").isNull, col("ewma"))
          .when(col("n_buckets").isNull,
            expr(s"aggregate(slice(__l, 2, greatest(size(__l) - 1, 0)), __l[0], " +
              s"(s, x) -> CAST($a AS DOUBLE) * x + CAST($b AS DOUBLE) * s)"))
          .otherwise(
            expr(s"aggregate(__l, ewma, " +
              s"(s, x) -> CAST($a AS DOUBLE) * x + CAST($b AS DOUBLE) * s)"))
          .as("ewma"))
    SnapshotStore.commit(folded, stateDir, id, retainBelow)
  }
}
