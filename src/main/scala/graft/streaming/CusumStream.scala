package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming CUSUM change-point monitor — the continuous twin of the
  * batch [[graft.operators.Profiling.cusumFixed]], carrying the
  * prefix-sum state (Pₜ, min Pⱼ) per key across micro-batches in the
  * [[EwmaStream]] versioned-snapshot protocol.
  *
  * Why the FIXED-reference variant is the streamable one: the
  * self-mean CUSUM's scaled term 4n·x − 5T depends on the complete
  * observed series — every new bucket retroactively rescales history,
  * so no finite state folds it forward. The fixed-μ term
  * tᵢ = 10⁶·xᵢ − (muMicro + kappaMicro) is per-bucket-local; the
  * alarm statistic is Sₜ = Pₜ − min(0, min_{j≤t} Pⱼ) and (P, min P)
  * is two longs per key.
  *
  * Exactness: P is a plain SUM of longs (order-free); min P is a
  * prefix minimum and DOES depend on fold order — the same
  * finalized-buckets-in-order contract [[EwmaStream]] rests on
  * (Append-mode tumbling windows behind a monotone watermark finalize
  * disjoint non-decreasing bucket ranges), asserted IN-PLAN by the
  * identical frontier guard. Within a batch the per-key buckets fold
  * through ONE sequenced `aggregate` with a (p, m) struct accumulator
  * — all integer, bit-equal to the batch windows on any engine.
  *
  * Exactly-once: snapshot `b=<id>` overwrite, read strictly-below,
  * prune below id − retainBelow — [[EwmaStream]]'s protocol verbatim
  * (the crash window replays batch id, which reads id−1).
  *
  * The reference engine is batch-only over static CSVs
  * (/root/reference/sqlengine.py; SURVEY.md §2.9); extension
  * surface. */
object CusumStream {

  private def emptyState(batch: DataFrame): DataFrame =
    batch.select(col("key")).filter(lit(false))
      .withColumn("last_bucket", lit(0L))
      .withColumn("n_buckets", lit(0L))
      .withColumn("p_micro", lit(0L))
      .withColumn("min_p_micro", lit(0L))

  /** Latest committed state: (key, last_bucket, n_buckets, p_micro,
    * min_p_micro). Same lazy-read contract as
    * [[EwmaStream.readState]]. */
  def readState(spark: SparkSession, stateDir: String): DataFrame =
    SnapshotStore.readLatest(spark, stateDir, "CUSUM")

  /** [[readState]] pinned against the prune window
    * ([[SnapshotStore.readPinned]]): materialized at read time, so
    * the frame outlives any number of further commits — the read an
    * alerting poll should take when it holds results across batches. */
  def readStatePinned(spark: SparkSession, stateDir: String): DataFrame =
    SnapshotStore.readPinned(spark, stateDir, "CUSUM")

  /** [[readState]] with the alarm statistic materialized:
    * (key, last_bucket, n_buckets, cusum_micro, alarm) — the consumer
    * view an alerting poll reads. */
  def readAlarms(spark: SparkSession, stateDir: String,
      hMicro: Long): DataFrame =
    readState(spark, stateDir)
      .withColumn("cusum_micro",
        col("p_micro") - least(lit(0L), col("min_p_micro")))
      .select(col("key"), col("last_bucket"), col("n_buckets"),
        col("cusum_micro"), (col("cusum_micro") > lit(hMicro)).as("alarm"))

  /** One foreachBatch step, public for spec-driven replay and crash
    * injection: fold batch `id`'s finalized (key, bucket, c) counts
    * (the [[EwmaStream.bucketCounts]] shape) onto the carried
    * (P, min P) state and commit snapshot `b=<id>`. */
  def foldBatch(batch: DataFrame, id: Long, stateDir: String,
      muMicro: Long, kappaMicro: Long, retainBelow: Int = 1): Unit = {
    require(muMicro > 0 && kappaMicro >= 0,
      s"CusumStream: need muMicro > 0, kappaMicro >= 0, got $muMicro/$kappaMicro")
    val spark = batch.sparkSession
    val prev = SnapshotStore.stateSoFar(spark, stateDir, id, emptyState(batch))
    val ref = muMicro + kappaMicro
    // shared finalized-bucket protocol (prelude + frontier guard) —
    // ONE home in SnapshotStore.foldPrelude for all three state twins
    val folded = SnapshotStore.foldPrelude(batch, prev, "CusumStream",
        s"transform(__pts, q -> 1000000L * q.c - ${ref}L)")
      // sequenced struct fold: p accumulates terms, m tracks the
      // running prefix minimum — both longs, exact on any engine
      .withColumn("__acc",
        expr("""aggregate(__l,
               |named_struct('p', coalesce(p_micro, 0L),
               |             'm', coalesce(min_p_micro, 9223372036854775807L)),
               |(acc, x) -> named_struct('p', acc.p + x,
               |                         'm', least(acc.m, acc.p + x)))"""
          .stripMargin.replace("\n", " ")))
      .select(
        col("key"),
        SnapshotStore.lastBucketCol,
        SnapshotStore.nBucketsCol,
        // a key with no new buckets this batch carries its state
        // through unchanged (aggregate over a NULL list yields NULL)
        when(col("__m").isNull, col("p_micro"))
          .otherwise(col("__acc.p")).as("p_micro"),
        when(col("__m").isNull, col("min_p_micro"))
          .otherwise(col("__acc.m")).as("min_p_micro"))
    SnapshotStore.commit(folded, stateDir, id, retainBelow)
  }
}
