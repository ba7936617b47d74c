package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Caching

/** The fold skeleton every streaming sink runs on. A sink is its
  * public fold step — `foldBatch(batch, id, …)`, spec-drivable for
  * replay and crash injection — and [[start]] wires a stream to it:
  * `Fold.start(changes, checkpoint)((b, id) => TopKStream.foldBatch(b,
  * id, root, k))`. The skeleton makes four decisions once, for every
  * sink:
  *
  *  - WIRING: [[start]] holds the engine's only `writeStream` /
  *    `foreachBatch`.
  *  - FRONTIER-FIRST COMMIT: a [[guarded]] fold reads the 1-row `f/`
  *    feed-frontier home under its root, builds the monotone-seq guard
  *    ([[SnapshotStore.seqFrontier]]) and commits `f/` before the first
  *    state home its [[Scope]] commits. The guard rides the frontier
  *    plan, so materializing `f/` is what evaluates it. Were a state
  *    home committed first, a regressed feed would land mis-folded
  *    snapshots before the assert fired, and since every replay of the
  *    batch fails the same guard, readers would serve the corrupt
  *    `b=<id>` state indefinitely; with `f/` first a guarded batch
  *    throws before any state home advances. Among the state homes the
  *    order is irrelevant: each is read strictly below the batch id, so
  *    a crash between any two commits replays the whole batch from
  *    consistent prior versions. The frontier has its own home because
  *    every state home can be legitimately empty while the feed
  *    advances (a view whose groups all folded to zero).
  *  - BATCH SCOPE: one query scope ([[Caching.scoped]]) per batch —
  *    Spark retries a failed batch with a FRESH step call, so a fold
  *    that persists and then throws would otherwise leak one cache
  *    entry per attempt for the stream's lifetime — and the one
  *    compaction cadence: every `compactEvery`-th batch (id >
  *    0) runs the compactions its fold registered. In-batch compaction
  *    is replay-safe: the newest version (the one batch Structured
  *    Streaming can still replay) is never merged, and `foreachBatch`
  *    serialization means no reader of the stream races the swap.
  *  - VERSION LISTING AND COMPACTION: [[versions]] is the one listing
  *    of a home's `b=`/`v=` versions, and [[compact]] the one staged
  *    compaction with its crash heal, given the home's merge. */
object Fold {

  /** Run `step(batch, id)` on every micro-batch of `changes`, recovering
    * through `checkpoint`: a failed batch replays with the same id and
    * data, which every fold step absorbs by overwriting its own
    * `b=<id>` versions. */
  def start(changes: DataFrame, checkpoint: String)(
      step: (DataFrame, Long) => Unit): StreamingQuery =
    changes.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) => step(batch, id) }
      .start()

  /** One batch of a fold: the commits that keep the frontier first and
    * register compactions. */
  private[streaming] final class Scope(batch: DataFrame, val id: Long,
      retainBelow: Int, private var frontier: Option[(DataFrame, String)]) {
    val spark: SparkSession = batch.sparkSession
    private[Fold] val compactions =
      scala.collection.mutable.ArrayBuffer.empty[() => Unit]

    private def commitFrontier(): Unit = {
      frontier.foreach { case (f, dir) =>
        SnapshotStore.commit(f, dir, id, retainBelow)
      }
      frontier = None
    }

    /** Commit snapshot `dir/b=<id>`, after the frontier. */
    def snapshot(state: DataFrame, dir: String): Unit = {
      commitFrontier()
      SnapshotStore.commit(state, dir, id, retainBelow)
    }

    /** Commit delta `dir/b=<id>`, after the frontier, and compact the
      * home on the cadence. */
    def delta(d: DataFrame, dir: String, keyCols: Seq[String]): Unit = {
      commitFrontier()
      DeltaStore.commitDelta(d, dir, id)
      onCompact(DeltaStore.compact(spark, dir, keyCols))
    }

    /** Run `c` at the end of a batch on the compaction cadence. */
    def onCompact(c: => Unit): Unit = compactions += (() => c)
  }

  private def run(s: Scope, compactEvery: Int)(body: Scope => Unit): Unit =
    Caching.scoped {
      body(s)
      if (compactEvery > 0 && s.id > 0 && s.id % compactEvery == 0)
        s.compactions.foreach(_())
    }

  /** Run a fold body in batch scope, with no feed frontier. */
  private[streaming] def batch(batch: DataFrame, id: Long,
      compactEvery: Int = 0)(body: Scope => Unit): Unit =
    run(new Scope(batch, id, 1, None), compactEvery)(body)

  /** Run the body of a fold over a `seq`-keyed feed rooted at `root`:
    * the scope commits `root/f` before any state home. `op` and `why`
    * word the guard's message. */
  private[streaming] def guarded(batch: DataFrame, id: Long, root: String,
      op: String, retainBelow: Int, compactEvery: Int = 0, why: String = "")(
      body: Scope => Unit): Unit = {
    val fDir = s"$root/f"
    val fPrev = SnapshotStore.stateSoFar(batch.sparkSession, fDir, id,
      batch.select(lit(Long.MinValue).as("last_seq")).filter(lit(false)))
    val frontier = SnapshotStore.seqFrontier(fPrev, batch, op, why)
    run(new Scope(batch, id, retainBelow, Some(frontier -> fDir)),
      compactEvery)(body)
  }

  private[streaming] def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Version ids (`<prefix><id>` directories) under `dir`, ascending,
    * split by whether the version's `_SUCCESS` marker exists:
    * committed vs mid-write. A batch that crashes mid-write leaves a
    * version with no marker, which must stay invisible to readers and
    * to the next fold's read; foreign names (`v=tmp`) are ignored. */
  private[streaming] def versions(spark: SparkSession, dir: String,
      prefix: String = "b="): (Seq[Long], Seq[Long]) = {
    val path = new Path(dir)
    val f = fs(spark, dir)
    if (!f.exists(path)) (Seq.empty, Seq.empty)
    else f.listStatus(path).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith(prefix))
      .flatMap(_.stripPrefix(prefix).toLongOption)
      .sorted
      .partition(v => f.exists(new Path(s"$dir/$prefix$v/_SUCCESS")))
  }

  /** Committed version ids under `dir`, ascending. */
  private[streaming] def committed(spark: SparkSession, dir: String,
      prefix: String = "b="): Seq[Long] =
    versions(spark, dir, prefix)._1

  /** Compact a delta home: `merge` every committed `b=` version STRICTLY
    * BELOW the newest into the OLDEST merged id, then drop the rest.
    * Read semantics are unchanged: every future batch id is above all
    * merged ids, and the one batch Structured Streaming can still
    * replay (the newest) reads exactly the row set it read before.
    *
    * The merge goes to a staging directory (no `b=` prefix, so
    * invisible to readers) and is then copied over the target. Two
    * crash windows, both convergent:
    *  - DURING the target rewrite, the target is uncommitted (its
    *    `_SUCCESS` is gone) beside a COMMITTED staging copy that still
    *    holds every merged row; the next compaction first replays the
    *    staging copy over the oldest uncommitted version (at most the
    *    one target under this protocol). Without the heal those rows
    *    would stay invisible to every future read;
    *  - AFTER the rewrite, BEFORE the tail deletes, merged rows exist in
    *    both the target and the tails; each `merge` is built so that
    *    re-merging them collapses the duplicates.
    * A lake deployment hosts these homes in an ACID table format where
    * the swap is a transaction; the read protocol here is what those
    * formats' logs implement. */
  private[streaming] def compact(spark: SparkSession, dir: String)(
      merge: Seq[Long] => DataFrame): Unit = {
    val f = fs(spark, dir)
    val staging = s"$dir/compact_staging"
    if (f.exists(new Path(s"$staging/_SUCCESS"))) {
      versions(spark, dir)._2.headOption.foreach { v =>
        spark.read.parquet(staging).write.mode("overwrite").parquet(s"$dir/b=$v")
      }
      f.delete(new Path(staging), true)
    }
    val vs = committed(spark, dir)
    if (vs.length < 3) return // newest untouchable; need >= 2 below it
    val mergeIds = vs.dropRight(1)
    merge(mergeIds).write.mode("overwrite").parquet(staging)
    spark.read.parquet(staging)
      .write.mode("overwrite").parquet(s"$dir/b=${mergeIds.head}")
    mergeIds.tail.foreach(v => f.delete(new Path(s"$dir/b=$v"), true))
    f.delete(new Path(staging), true)
  }
}
