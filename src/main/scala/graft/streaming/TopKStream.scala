package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Cdc

/** Streaming per-group TOP-K leaderboard maintenance — the continuous
  * twin of [[graft.operators.Cdc.maintainTopKView]], completing the
  * non-invertible half of the IVM stream family: [[MinMaxStream]]
  * carries the keyed base because a deleted extremum's runner-up is
  * unknowable from the view alone, and a top-k list generalizes that
  * exactly (a retracted rank-j entry pulls the k+1-th — unknowable —
  * entry into the list), so this sink keeps the SAME keyed-base home
  * and swaps the aggregate: per batch the leaderboard is maintained
  * by the split algebra (batch-side bounded-heap top-k merged with
  * the carried view for adds; below-list retractions provably no-ops
  * via the exact `exists` membership probe; ONLY in-list-retraction
  * groups recompute, key-pruned from the merged base), so the cost
  * tracks the feed, never the base size.
  *
  * Feed contract (one row per change): `(seq, op, key, grp, value)`
  * with op ∈ I/U/D, `seq` feed-monotone, `value` numeric (the
  * [[graft.functions.TopKAggregate]] double-score contract).
  *
  * State lives under THREE [[SnapshotStore]] homes per root — `snap/`
  * (the keyed base), `view/` (the exploded (grp, rank, key, value)
  * leaderboard), and the [[Fold.guarded]] `f/` frontier.
  *
  * The reference engine is read-only over static CSVs
  * (/root/reference/sqlengine.py; SURVEY.md §2.9); extension
  * surface. */
object TopKStream {

  private def emptySnap(batch: DataFrame): DataFrame =
    batch.select(col("key"), col("grp"), col("value")).filter(lit(false))

  /** Latest committed leaderboard (the `view/` home under `rootDir`). */
  def readView(spark: SparkSession, rootDir: String): DataFrame =
    SnapshotStore.readLatest(spark, rootDir + "/view", "top-k view")

  /** Latest committed keyed base (the `snap/` home). */
  def readSnapshot(spark: SparkSession, rootDir: String): DataFrame =
    SnapshotStore.readLatest(spark, rootDir + "/snap", "top-k base")

  /** One foreachBatch step, public for spec-driven replay and crash
    * injection: fold change-batch `id` onto the carried base and
    * commit `f/`, `snap/`, `view/` at `b=<id>`. */
  def foldBatch(batch: DataFrame, id: Long, rootDir: String, k: Int,
      retainBelow: Int = 1): Unit =
    Fold.guarded(batch, id, rootDir, "TopKStream", retainBelow) { s =>
    val snapPrev = SnapshotStore.stateSoFar(s.spark, s"$rootDir/snap", id,
      emptySnap(batch))
    val viewNext = Cdc.maintainTopKView(snapPrev, batch,
      "key", "seq", "op", "grp", "value", k)
    val snapNext = Cdc.applyChanges(snapPrev,
      batch.select(col("key"), col("grp"), col("value"),
        col("seq"), col("op")), "key", "seq", "op")
    s.snapshot(snapNext, s"$rootDir/snap")
    s.snapshot(viewNext, s"$rootDir/view")
  }
}
