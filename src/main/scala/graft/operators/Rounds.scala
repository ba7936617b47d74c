package graft.operators

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.ArrayBuffer

/** The round-loop skeleton every iterative graph operator runs on:
  * PageRank, label propagation, the core and truss peels, the min-plus
  * relaxations, the BFS family, ANF and connected components.
  *
  * The lineage rule, stated once: a round feeds the previous round's
  * output back into self-referential joins, so an uncut loop doubles
  * its lineage every round and every probe re-executes the whole
  * prefix. Each frame a round carries forward is therefore materialized
  * as a local checkpoint, and the previous round's blocks are freed as
  * soon as the new ones exist — left to the async ContextCleaner they
  * stack one checkpoint per round into real storage pressure (measured
  * as 1.5-2× iteration-time spread on the composed manifest bench and
  * eviction storms on whatever persists next).
  *
  * An operator opens one [[Loop]] with [[apply]], builds its result
  * inside it, and the loop makes four decisions for every operator:
  *
  *  - MATERIALIZATION: [[Loop.checkpoint]] is
  *    `Caching.localCheckpoint(df, loop)` — the eager form's single
  *    job, registered with the loop before that job runs.
  *  - RELEASE: a round's checkpoints are freed once the next round's
  *    have materialized. When the operator returns, every checkpoint
  *    the loop made is freed except those its result reads, which go
  *    to the enclosing query scope ([[Caching]]), and every
  *    [[Loop.persist]] is unpersisted. When anything inside throws,
  *    every checkpoint and persist is released before the exception
  *    propagates.
  *  - STOP AND AUDIT: [[Loop.rounds]] runs until its budget or the
  *    caller's stop test and reports the rounds it ran and whether the
  *    stop test fired ([[Ran]]).
  *  - ROUND LABELS: every job of round i runs under the description
  *    `<op> round <i>`; the caller's description is restored in a
  *    `finally`. */
private[graft] object Rounds {

  /** What [[Loop.rounds]] did: the final state, the number of rounds
    * run, and whether the stop test fired (else the budget ran out). */
  final case class Ran[S](state: S, rounds: Int, fixpoint: Boolean) {
    /** The first round observed to change nothing: `rounds - 1` when
      * the stop test fired, the whole budget when it never did. */
    def stableAt: Long = (if (fixpoint) rounds - 1 else rounds).toLong
  }

  /** Stop test of a fixed-round loop. */
  def never[S]: (S, S) => Boolean = (_, _) => false

  /** Stop once `sig` of the new state equals that of the previous one;
    * each state's signature is computed once. Valid as a fixpoint test
    * only where equal signatures prove equal states (a set that only
    * shrinks, with `sig` its size). */
  def unchanged[K](sig: DataFrame => K): (DataFrame, DataFrame) => Boolean = {
    var last: Option[(DataFrame, K)] = None
    (prev, next) => {
      val before = last.collect { case (f, k) if f eq prev => k }
        .getOrElse(sig(prev))
      val after = sig(next)
      last = Some(next -> after)
      before == after
    }
  }

  /** Run `body` as one loop and return its result, releasing what the
    * loop made (see RELEASE above). */
  def apply(spark: SparkSession)(body: Loop => DataFrame): DataFrame = {
    val loop = new Loop(spark.sparkContext)
    try {
      val out = body(loop)
      loop.handOver(out)
      out
    } catch {
      case t: Throwable => loop.freeAll(); throw t
    } finally loop.unpersistAll()
  }

  final class Loop private[Rounds] (sc: SparkContext)
      extends Caching.CheckpointOwner {
    private val live = ArrayBuffer.empty[DataFrame]
    // checkpoints made since the last round boundary (round 0 before
    // the first round): the ones the next round supersedes
    private var current = ArrayBuffer.empty[DataFrame]
    private val persisted = ArrayBuffer.empty[(DataFrame, Int)]

    private def drop(from: ArrayBuffer[DataFrame], df: DataFrame): Unit =
      from.filterInPlace(_ ne df)

    def addCheckpoint(df: DataFrame): DataFrame = {
      live += df; current += df; df
    }

    /** A checkpoint of this round, freed once the next round has
      * materialized. */
    def checkpoint(df: DataFrame): DataFrame = Caching.localCheckpoint(df, this)

    /** A checkpoint no round supersedes: it lives until the loop
      * returns, and past that only if the result reads it. */
    def keep(df: DataFrame): DataFrame = {
      val ckpt = checkpoint(df)
      drop(current, ckpt)
      ckpt
    }

    /** `df` persisted MEMORY_AND_DISK until round `through` of the
      * running (or else the next) [[rounds]] has materialized, or else
      * until the loop returns. */
    def persist(df: DataFrame, through: Int = Int.MaxValue): DataFrame = {
      persisted += (df -> through)
      df.persist(StorageLevel.MEMORY_AND_DISK)
    }

    /** Up to `max` rounds from `seed`: round i computes `step(state,
      * i)`, then stops early when `stop(previous, new)` holds. */
    def rounds[S](op: String, max: Int, seed: S)(stop: (S, S) => Boolean)(
        step: (S, Int) => S): Ran[S] = {
      val caller = sc.getLocalProperty("spark.job.description")
      var superseded = current
      var state = seed
      var i = 0
      var fixpoint = false
      try {
        while (i < max && !fixpoint) {
          i += 1
          sc.setJobDescription(s"$op round $i")
          current = ArrayBuffer.empty
          val next = step(state, i)
          fixpoint = stop(state, next)
          free(superseded)
          superseded = current
          persisted.filterInPlace { case (df, through) =>
            if (through <= i) df.unpersist()
            through > i
          }
          state = next
        }
      } finally sc.setJobDescription(caller)
      // the last round's checkpoints outlive the rounds
      current = ArrayBuffer.empty
      Ran(state, i, fixpoint)
    }

    private def free(ckpts: Iterable[DataFrame]): Unit =
      ckpts.toList.foreach { c => Caching.freeLocalCheckpoint(c); drop(live, c) }

    private[Rounds] def handOver(out: DataFrame): Unit = {
      val read = out.queryExecution.analyzed
        .collect { case lr: LogicalRDD => lr.rdd.id }.toSet
      free(live.filterNot(_.queryExecution.logical match {
        case lr: LogicalRDD => read(lr.rdd.id)
        case _ => false
      }))
      live.foreach(Caching.owner.addCheckpoint)
    }

    private[Rounds] def freeAll(): Unit = free(live)

    private[Rounds] def unpersistAll(): Unit =
      persisted.foreach(_._1.unpersist())
  }
}
