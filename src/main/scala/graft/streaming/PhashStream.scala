package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Multimodal

/** Streaming incremental perceptual-hash index maintenance — the
  * continuous twin of [[graft.operators.Multimodal.phashMaintain]],
  * keeping the media near-dup index CURRENT under a payload change
  * feed, exactly-once through crashes. This extends the freshness
  * family (group-agg view, join view, dedup signatures, IVF, BM25
  * postings, CMS sketch) to the multimodal column: media files are
  * uploaded, re-rendered (updates), and taken down continuously, and
  * every near-dup search between batches ([[graft.operators.Dedup
  * .hammingNearPairsMih]] over the committed snapshot) sees the index
  * as of the last committed batch.
  *
  * Feed contract (one row per change): `(seq, op, id, payload)` with
  * op ∈ I/U/D, `payload` the new media bytes (NULL for deletes), and
  * `seq` feed-monotone. The hash is a pure function of the payload
  * bytes, so the maintained index is bit-equal to a scratch
  * [[Multimodal.perceptualHash]] pass over the merged corpus — pinned
  * by PhashStreamSpec and the mm_phash_incremental oracle, not
  * assumed.
  *
  * State lives under TWO [[SnapshotStore]] homes per root — `idx/`
  * (one (id, phash) row per live medium) and the [[Fold.guarded]]
  * `f/` frontier.
  *
  * At 100 TB: per batch the index is touched only through
  * [[graft.operators.Cdc.applyChanges]]'s key-level join — one
  * map-side hash pass over the (small) batch + one key shuffle; state
  * is the live-media space (16 bytes a row), never the event volume.
  *
  * The reference engine is read-only over static CSVs
  * (/root/reference/sqlengine.py; no binary columns, no streams;
  * SURVEY.md §2.9); extension surface. */
object PhashStream {

  private def emptyIndex(batch: DataFrame): DataFrame =
    batch.select(col("id").cast("long"), lit(0L).as("phash"))
      .filter(lit(false))

  /** Latest committed index (the `idx/` home under `rootDir`). */
  def readIndex(spark: SparkSession, rootDir: String): DataFrame =
    SnapshotStore.readLatest(spark, rootDir + "/idx", "phash index")

  /** One foreachBatch step, public for spec-driven replay and crash
    * injection: fold change-batch `id` onto the carried index and
    * commit `f/` then `idx/` at `b=<id>`. The batch must carry
    * `seq`, `op`, `id`, and `binCol`. */
  def foldBatch(batch: DataFrame, id: Long, rootDir: String,
      binCol: String, retainBelow: Int = 1): Unit =
    Fold.guarded(batch, id, rootDir, "PhashStream", retainBelow) { s =>
    val prev = SnapshotStore.stateSoFar(s.spark, s"$rootDir/idx", id,
      emptyIndex(batch))
    val next = Multimodal.phashMaintain(prev, batch, "id", binCol,
      "seq", "op")
    s.snapshot(next, s"$rootDir/idx")
  }
}
