package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Cdc

/** Streaming CDC maintenance: a change-log STREAM incrementally
  * maintained as a parquet snapshot on the lake — `foreachBatch` +
  * [[Cdc.applyChanges]], closing the loop between the batch CDC
  * operators and Structured Streaming.
  *
  * Exactly-once protocol (the same idea as
  * [[EventStreams.idempotentParquetSink]], lifted from append to
  * MERGE): the snapshot lives as a chain of versions `v=<batchId>`,
  * and each micro-batch merges into the newest version STRICTLY BELOW
  * its own id. Structured Streaming replays a failed batch with the
  * same id and the same data, so a replay recomputes `v=<id>` from the
  * same inputs and overwrites it with identical content — at-least-once
  * delivery becomes an exactly-once snapshot. Retention keeps the
  * newest `retain >= 2` versions, which always includes the one a
  * replayed batch would rebuild from (Spark only ever replays the last
  * uncommitted batch).
  *
  * Scale shape at 100 TB: each micro-batch pays [[Cdc.applyChanges]]'s
  * one hash shuffle of the (small) change batch plus a co-partitioned
  * merge against the previous snapshot; versioned directories mean the
  * write is a full snapshot rewrite — at lake scale swap the writer
  * for a format with MERGE/ACID semantics and keep this exact batch
  * protocol (the version chain is what those formats' transaction logs
  * implement natively).
  *
  * The reference engine is read-only over static CSVs
  * (/root/reference/sqlengine.py; no DML, no streams); extension
  * surface. */
object CdcStream {

  /** Committed snapshot versions, ascending ([[Fold.versions]]: a
    * torn `v=<id>` write must not be read as the newest snapshot). */
  private def versions(spark: SparkSession, snapshotDir: String): Seq[Long] =
    Fold.committed(spark, snapshotDir, "v=")

  /** The snapshot as of the newest committed version — `initial` if no
    * batch has committed yet. */
  def currentSnapshot(spark: SparkSession, snapshotDir: String,
      initial: DataFrame): DataFrame =
    versions(spark, snapshotDir).lastOption match {
      case Some(v) => Fold.read(spark, snapshotDir, Seq(v), "v=")
      case None    => initial
    }

  /** One foreachBatch step, factored out so a spec can drive replay
    * directly: merge change-batch `id` into the version chain.
    * Idempotent by construction — see the object doc. */
  def mergeBatch(batch: DataFrame, id: Long, snapshotDir: String,
      initial: DataFrame, keyCol: String, seqCol: String, opCol: String,
      retain: Int = 3): Unit = {
    require(retain >= 2,
      "retain >= 2: the previous version must survive for batch replay")
    val spark = batch.sparkSession
    val prev = versions(spark, snapshotDir).filter(_ < id).lastOption match {
      case Some(v) => Fold.read(spark, snapshotDir, Seq(v), "v=")
      case None    => initial
    }
    Cdc.applyChanges(prev, batch, keyCol, seqCol, opCol)
      .write.mode("overwrite").parquet(s"$snapshotDir/v=$id")
    versions(spark, snapshotDir).dropRight(retain).foreach { v =>
      Fold.fs(spark, snapshotDir).delete(new Path(s"$snapshotDir/v=$v"), true)
    }
  }
}
