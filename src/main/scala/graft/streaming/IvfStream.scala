package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Streaming incremental IVF index maintenance — the continuous twin
  * of [[graft.operators.Similarity.ivfMaintain]], keeping an
  * inverted-file ANN index CURRENT under a document-embedding change
  * feed, exactly-once through crashes. The batch ANN family builds its
  * index from a static corpus; this sink is the "index doesn't go
  * stale" composition a real retrieval pipeline runs: documents are
  * inserted, re-embedded (updates), and deleted continuously, and
  * every search between batches sees the index as of the last
  * committed batch.
  *
  * Feed contract (one row per change): `(seq, op, id, vec)` with
  * op ∈ I/U/D, `vec` the new embedding (NULL for deletes), and `seq`
  * feed-monotone. Centroids are FIXED at index creation — the Faiss
  * protocol: the coarse quantizer trains once on a bootstrap sample
  * and is held constant, so cell assignment stays a pure function of
  * the vector and the maintained index is bit-equal to a scratch
  * rebuild over the merged corpus (pinned by IvfStreamSpec, not
  * assumed). Retraining centroids is a periodic REBUILD (a new index
  * root), never an incremental op.
  *
  * State lives under TWO [[SnapshotStore]] homes per root — `idx/`
  * (the inverted file: one (id, cell, vec) row per live document) and
  * the [[Fold.guarded]] `f/` frontier.
  *
  * At 100 TB: per batch the index is touched only through
  * [[graft.operators.Cdc.applyChanges]]'s key-level full-outer join —
  * one map pass over the (small) batch for cell assignment + one key
  * shuffle; state is the live-document space, never the event volume.
  * The committed snapshot repartitions on `cell` so searches open only
  * their probe cells' files (partition pruning at lake scale; with the
  * parquet SnapshotStore swapped for an ACID table format the batch
  * protocol is unchanged — [[CdcStream]]'s note).
  *
  * The reference engine is read-only over static CSVs
  * (/root/reference/sqlengine.py; no vectors, no streams; SURVEY.md
  * §2.9); extension surface. */
object IvfStream {

  private def emptyIndex(batch: DataFrame, vecCol: String): DataFrame =
    batch.select(col("id").as("neighbor_id"),
        graft.functions.VectorOps.asDouble(col(vecCol)).as("cv"),
        lit(0).as("cell"))
      .filter(lit(false))

  /** Latest committed index (the `idx/` home under `rootDir`). */
  def readIndex(spark: SparkSession, rootDir: String): DataFrame =
    SnapshotStore.readLatest(spark, rootDir + "/idx", "IVF index")

  /** One foreachBatch step, public for spec-driven replay and crash
    * injection: fold change-batch `id` onto the carried index and
    * commit `f/` then `idx/` at `b=<id>`. The batch must carry
    * `seq`, `op`, `id`, and `vecCol`. */
  def foldBatch(batch: DataFrame, id: Long, rootDir: String,
      vecCol: String, centroids: Array[Array[Double]],
      retainBelow: Int = 1): Unit =
    Fold.guarded(batch, id, rootDir, "IvfStream", retainBelow) { s =>
    val prev = SnapshotStore.stateSoFar(s.spark, s"$rootDir/idx", id,
      emptyIndex(batch, vecCol))
    val next = Similarity.ivfMaintain(prev, batch, "id", vecCol,
        "seq", "op", centroids)
      // cell-clustered layout: a search opens only its probe cells
      .repartition(col("cell"))
    s.snapshot(next, s"$rootDir/idx")
  }
}
