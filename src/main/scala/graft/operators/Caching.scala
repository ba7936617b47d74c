package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.ArrayBuffer

/** Persists and local checkpoints of multi-consumer intermediate frames
  * (dedup signatures, gram sets, LSH buckets, lineage cuts), and the one
  * owner that releases them.
  *
  * The ownership contract, stated once for every operator: a returned
  * frame is lazy, so the operator that persists or checkpoints part of
  * its plan has no safe point to release it. The owner is the QUERY
  * SCOPE that builds and runs the result. [[scoped]] opens one on the
  * calling thread; [[persist]] and [[localCheckpoint]] register with
  * the innermost open scope; when the body ends, returned or thrown, the
  * scope unpersists every frame and frees every checkpoint it tracked,
  * so nothing waits on the ContextCleaner. A frame built inside a scope
  * is unusable after it closes. Who opens one: `Harness.exec`, `Verify`,
  * `Plans` and `PlanDump` per query, `Fold` per stream batch,
  * `FeedSweep` per sweep point. A [[Rounds]] loop releases its rounds
  * itself and hands the checkpoints its result reads to the enclosing
  * scope. Outside any scope (unit tests, ad-hoc callers) a persist or
  * checkpoint is unowned and lives until the session ends or the
  * ContextCleaner collects it.
  *
  * The scope stack is a plain `ThreadLocal`, not an inheritable one: a
  * thread pool first created inside a scope must not keep that scope,
  * and a stream's batch thread starts with none. Not thread-safe within
  * one scope. */
private[graft] object Caching {

  /** Whoever frees a checkpoint made by [[localCheckpoint]]: a query
    * scope, or a [[Rounds]] loop. */
  trait CheckpointOwner { def addCheckpoint(df: DataFrame): DataFrame }

  private final class Scope extends CheckpointOwner {
    val frames = ArrayBuffer.empty[DataFrame]
    private val ckpts = ArrayBuffer.empty[DataFrame]
    def addCheckpoint(df: DataFrame): DataFrame = { ckpts += df; df }
    def release(): Unit = {
      frames.foreach(_.unpersist(false))
      ckpts.foreach(freeLocalCheckpoint(_))
    }
  }

  private object Unowned extends CheckpointOwner {
    def addCheckpoint(df: DataFrame): DataFrame = df
  }

  private val open = new ThreadLocal[List[Scope]] {
    override def initialValue(): List[Scope] = Nil
  }

  /** Run `body` in a new query scope, then release what it tracked. */
  def scoped[T](body: => T): T = {
    val outer = open.get
    val scope = new Scope
    open.set(scope :: outer)
    try body
    finally { open.set(outer); scope.release() }
  }

  /** The innermost open scope; outside any, an owner that frees
    * nothing. */
  def owner: CheckpointOwner = open.get.headOption.getOrElse(Unowned)

  /** `df` persisted MEMORY_AND_DISK, owned by the innermost scope. */
  def persist(df: DataFrame): DataFrame = {
    open.get.headOption.foreach(_.frames += df)
    df.persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** An eager local checkpoint of `df`, owned by the innermost scope. */
  def localCheckpoint(df: DataFrame): DataFrame = localCheckpoint(df, owner)

  /** An eager local checkpoint of `df`, registered with `owner` BEFORE
    * the job that materializes it. If that job throws (a contract check
    * inside `df` firing), the owner still frees what it cached; an
    * eager checkpoint would throw before returning the frame, leaving
    * its RDD to the ContextCleaner. Same single job as the eager
    * form. */
  def localCheckpoint(df: DataFrame, owner: CheckpointOwner): DataFrame = {
    val ckpt = owner.addCheckpoint(df.localCheckpoint(eager = false))
    ckpt.queryExecution.logical match {
      case lr: LogicalRDD => lr.rdd.count()
    }
    ckpt
  }

  /** Free the storage blocks behind a local checkpoint; with `blocking`
    * it returns only once the blocks are gone.
    *
    * `Dataset.unpersist()` only releases catalog-cached plans; a local
    * checkpoint's blocks are RDD-level storage that otherwise lives
    * until the JVM garbage-collects the RDD object and the async
    * ContextCleaner gets around to it ([[Rounds]] states what that lag
    * costs an iterative loop). The frame is unusable afterwards: its
    * lineage was truncated to the very blocks being freed. */
  def freeLocalCheckpoint(df: DataFrame, blocking: Boolean = false): Unit =
    df.queryExecution.logical match {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking)
      case _ => () // not a checkpointed frame — nothing to free
    }
}
