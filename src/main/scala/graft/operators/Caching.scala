package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Shared persist toggle for multi-consumer intermediate frames
  * (dedup signatures, gram sets, LSH buckets).
  *
  * Cache-ownership contract (one place, referenced by every operator
  * that persists): the returned frames are lazy, so the operator has no
  * safe point to unpersist — cached blocks live until the session ends
  * or the caller releases them. A pipeline invoking these operators
  * repeatedly should either run its terminal action and then
  * `spark.catalog.clearCache()`, or pass `persist = false` and manage
  * caching of its own, wider plan. */
private[graft] object Caching {
  def maybePersist(df: DataFrame, persist: Boolean): DataFrame =
    if (persist) df.persist(StorageLevel.MEMORY_AND_DISK) else df

  /** A batch-scoped register of the frames an operator persisted, so a
    * LONG-RUNNING caller (a foreachBatch stream sink folding state
    * every micro-batch) can release exactly those blocks once its
    * terminal action commits — `spark.catalog.clearCache()` would
    * nuke unrelated session caches, and skipping the release
    * accumulates one corpus-sized cached copy per batch (the
    * BENCH_r09 eviction-storm shape, rediscovered by review in the
    * round-19 manifest sink). Not thread-safe; one tracker per fold. */
  final class PersistTracker extends CheckpointOwner {
    private val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    private val ckpts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    private[Caching] def add(df: DataFrame): Unit = frames += df
    /** Register an eagerly `localCheckpoint(true)`-ed frame so
      * [[release]] also frees its RDD storage blocks — the checkpoint
      * twin of [[add]]: a per-batch stream fold otherwise leaks one
      * set of (feed-bounded, but real) checkpoint blocks per batch,
      * at the mercy of the async ContextCleaner. The frame is
      * unusable after release (see [[freeLocalCheckpoint]]). */
    def addCheckpoint(df: DataFrame): DataFrame = { ckpts += df; df }
    /** Unpersist every tracked frame and free every tracked local
      * checkpoint (non-blocking). Only call after the fold's terminal
      * action — the frames are lazy and the checkpoints' blocks are
      * their only storage. */
    def release(): Unit = {
      frames.foreach(_.unpersist(false)); frames.clear()
      ckpts.foreach(freeLocalCheckpoint); ckpts.clear()
    }
  }

  /** Whoever frees a checkpoint made by [[localCheckpoint]]: a
    * [[PersistTracker]], or a [[Rounds]] loop. */
  trait CheckpointOwner { def addCheckpoint(df: DataFrame): DataFrame }

  /** [[maybePersist]] that also registers the persisted frame with
    * `tracker` for a deterministic post-commit release. */
  def maybePersist(df: DataFrame, persist: Boolean,
      tracker: PersistTracker): DataFrame =
    if (persist) { tracker.add(df); df.persist(StorageLevel.MEMORY_AND_DISK) }
    else df

  /** `df.localCheckpoint(true)`, registered with `owner` BEFORE the
    * job that materializes it. If that job throws (a contract check
    * inside `df` firing), the owner still frees what it cached; an
    * eager checkpoint would throw before returning the frame, leaving
    * its RDD to the ContextCleaner. Same single job as the eager
    * form. */
  def localCheckpoint(df: DataFrame, owner: CheckpointOwner): DataFrame = {
    val ckpt = owner.addCheckpoint(df.localCheckpoint(eager = false))
    ckpt.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.count()
    }
    ckpt
  }

  /** Free the storage blocks behind a `localCheckpoint(true)`-ed frame.
    *
    * `Dataset.unpersist()` only releases catalog-cached plans; a local
    * checkpoint's blocks are RDD-level storage that otherwise lives
    * until the JVM garbage-collects the RDD object and the async
    * ContextCleaner gets around to it ([[Rounds]] states what that lag
    * costs an iterative loop). The frame is unusable afterwards: its
    * lineage was truncated to the very blocks being freed. */
  def freeLocalCheckpoint(df: DataFrame): Unit =
    freeLocalCheckpoint(df, blocking = false)

  /** [[freeLocalCheckpoint]]; with `blocking` it returns only once the
    * blocks are gone. */
  def freeLocalCheckpoint(df: DataFrame, blocking: Boolean): Unit =
    df.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking)
      case _ => () // not a checkpointed frame — nothing to free
    }
}
