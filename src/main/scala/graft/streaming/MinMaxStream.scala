package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Cdc

/** Streaming per-group (COUNT, MIN, MAX) view maintenance — the
  * continuous twin of [[graft.operators.Cdc.maintainMinMaxView]], and
  * the IVM-trio member whose state story is structurally DIFFERENT:
  * [[IvmStream]]'s count/sum twin needs no key store (before-images
  * make subtraction-retraction computable from two longs per group),
  * but MIN/MAX are not group-invertible — a deleted extremal row
  * leaves the runner-up unknowable from the view — so this sink
  * must carry the keyed base alongside the view. That is not an
  * implementation shortcut; it is the aggregate's lower bound: any
  * exact min-under-deletes maintainer keeps enough state to answer
  * "what remains", and the keyed snapshot IS that state, folded by
  * the same [[Cdc.applyChanges]] latest-wins join every other
  * freshness member uses. Per batch the view is maintained by the
  * split algebra (O(Δ) adds and non-extremal retractions; key-pruned
  * recompute of only the extremal-retraction groups), so the cost
  * still tracks the feed, never the base size.
  *
  * Feed contract (one row per change): `(seq, op, key, grp, value)`
  * with op ∈ I/U/D and `seq` feed-monotone.
  *
  * State lives under THREE [[SnapshotStore]] homes per root —
  * `snap/` (the keyed base), `view/` (one (grp, n, mn, mx) row per
  * live group), and the [[Fold.guarded]] `f/` frontier.
  *
  * The reference engine is read-only over static CSVs
  * (/root/reference/sqlengine.py; SURVEY.md §2.9); extension
  * surface. */
object MinMaxStream {

  private def emptySnap(batch: DataFrame): DataFrame =
    batch.select(col("key"), col("grp"), col("value")).filter(lit(false))

  /** Latest committed view (the `view/` home under `rootDir`). */
  def readView(spark: SparkSession, rootDir: String): DataFrame =
    SnapshotStore.readLatest(spark, rootDir + "/view", "min/max view")

  /** Latest committed keyed base (the `snap/` home). */
  def readSnapshot(spark: SparkSession, rootDir: String): DataFrame =
    SnapshotStore.readLatest(spark, rootDir + "/snap", "min/max base")

  /** One foreachBatch step, public for spec-driven replay and crash
    * injection: fold change-batch `id` onto the carried base + view
    * and commit `f/`, `snap/`, `view/` at `b=<id>`. */
  def foldBatch(batch: DataFrame, id: Long, rootDir: String,
      retainBelow: Int = 1): Unit =
    Fold.guarded(batch, id, rootDir, "MinMaxStream", retainBelow) { s =>
    val snapPrev = SnapshotStore.stateSoFar(s.spark, s"$rootDir/snap", id,
      emptySnap(batch))
    val viewNext = Cdc.maintainMinMaxView(snapPrev, batch,
      "key", "seq", "op", "grp", "value")
    val snapNext = Cdc.applyChanges(snapPrev,
      batch.select(col("key"), col("grp"), col("value"),
        col("seq"), col("op")), "key", "seq", "op")
    s.snapshot(snapNext, s"$rootDir/snap")
    s.snapshot(viewNext, s"$rootDir/view")
  }
}
