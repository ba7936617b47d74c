package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Caching

/** The versioned-snapshot exactly-once protocol shared by the
  * cumulative-state streaming twins ([[EwmaStream]], [[CusumStream]])
  * — ONE home for the contract so a protocol fix cannot silently miss
  * a sibling. SCOPE (r20): this protocol is for state that is SMALL
  * PER BATCH — one scalar row per key (the twins above) or one row
  * total (the `f/` feed frontiers) — because every batch rewrites the
  * FULL state. Corpus-sized keyed state (signature indexes, cluster
  * maps, metadata snapshots, the served manifest) belongs in
  * [[DeltaStore]], whose per-batch write is the DELTA: the r19
  * verdict's write-amplification finding, closed by moving
  * [[ClusterStream]]/[[ManifestStream]] onto it.
  *
  *  - each batch writes the FULL state — one small row per key — to
  *    `stateDir/b=<id>` (overwrite-by-batch-id), so a replay of the
  *    same batch recomputes the identical snapshot and rewrites the
  *    same files (idempotent by construction);
  *  - a batch READS the newest COMMITTED version strictly below its
  *    own id — a replayed batch never reads its own earlier
  *    half-written snapshot;
  *  - versions below `id − retainBelow` are pruned after the write;
  *    id−1 itself must survive because the crash window (sink written,
  *    checkpoint not committed) replays batch id, which reads id−1.
  *
  * A version is committed iff its `_SUCCESS` marker exists. State size
  * is one row per key — the key space, never the event volume. */
private[streaming] object SnapshotStore {

  /** The standing state as of versions STRICTLY BELOW `belowBatch` —
    * the replay-safe read a folding batch starts from. */
  def stateSoFar(spark: SparkSession, stateDir: String, belowBatch: Long,
      empty: DataFrame): DataFrame =
    Fold.committed(spark, stateDir).filter(_ < belowBatch).lastOption match {
      case None => empty
      case Some(v) => Fold.read(spark, stateDir, Seq(v))
    }

  /** The latest committed state — the consumer read. Throws when no
    * batch has committed (no schema to fabricate); `what` names the
    * owning stream in the message. Read contract: the returned frame
    * is LAZY over a snapshot directory that [[commit]]'s pruning
    * eventually deletes — a consumer must materialize it within
    * `retainBelow` further batches, run with a larger `retainBelow`,
    * or read after the stream is stopped (the
    * [[DedupStream.readKeptCorpus]] boundary: the marker gate narrows
    * the race to the prune window, it does not serialize against a
    * concurrent writer). */
  def readLatest(spark: SparkSession, stateDir: String,
      what: String): DataFrame =
    Fold.committed(spark, stateDir).lastOption match {
      case None => throw new IllegalStateException(
        s"no committed $what state under $stateDir")
      case Some(v) => Fold.read(spark, stateDir, Seq(v))
    }

  /** [[readLatest]] MATERIALIZED inside the prune window — the
    * mechanical close of the lazy-consumer race the [[readLatest]]
    * contract documents: the snapshot is eagerly localCheckpoint'ed
    * at read time, so the returned frame is served from executor-held
    * blocks and survives however many further batches prune the
    * directory underneath it. Costs one pass over the key-space-sized
    * state; the blocks belong to the enclosing query scope
    * ([[graft.operators.Caching]]).
    * (The narrow residue: the version must still exist at the moment
    * of the checkpointing pass itself — i.e. the read races only a
    * writer that commits AND prunes `retainBelow` further batches
    * within this single action, not an arbitrarily lazy consumer.) */
  def readPinned(spark: SparkSession, stateDir: String,
      what: String): DataFrame =
    Caching.localCheckpoint(readLatest(spark, stateDir, what))

  /** The global monotone-seq frontier guard of every feed-keyed fold
    * ([[Fold.guarded]], which commits it first): bound the batch's seq
    * range, assert it starts strictly after the carried frontier (a
    * regressed or replayed-out-of-protocol feed would re-apply changes
    * the state already folded), and return the advanced 1-row
    * `(last_seq)` frame. The assert rides THIS frame's plan; `op` and
    * `why` word its message. */
  def seqFrontier(fPrev: DataFrame, batch: DataFrame, op: String,
      why: String = ""): DataFrame =
    fPrev.agg(coalesce(max(col("last_seq")), lit(Long.MinValue)).as("__pf"))
      .crossJoin(batch.agg(min(col("seq")).as("__bmin"),
        max(col("seq")).as("__bmax")))
      .filter(assert_true(
        col("__bmin").isNull || col("__bmin") > col("__pf"),
        concat(lit(s"$op: batch seq "), col("__bmin"),
          lit(" not after carried last_seq "), col("__pf"),
          lit(s" — the feed regressed$why")))
        .isNull)
      .select(greatest(col("__pf"), coalesce(col("__bmax"), col("__pf")))
        .as("last_seq"))

  /** The finalized-bucket fold prelude shared by every
    * cumulative-state twin ([[EwmaStream]], [[CusumStream]],
    * [[HoltWintersStream]]) — ONE home for the protocol the
    * bit-equality arguments rest on, so a guard fix cannot silently
    * miss a sibling: per-key bucket-sorted points (`__pts`), the
    * caller's series transform (`__l`), batch frontier bounds
    * (`__minb`/`__maxb`/`__m`), the full_outer join with the carried
    * state, and the frontier-monotonicity assert (a batch whose
    * minimum new bucket does not exceed the carried last_bucket would
    * mis-fold silently; it fails loudly instead, naming `op`).
    * Callers select their state expressions plus [[lastBucketCol]] /
    * [[nBucketsCol]]. */
  def foldPrelude(batch: DataFrame, prev: DataFrame, op: String,
      seriesExpr: String): DataFrame = {
    val pts = batch.groupBy(col("key"))
      .agg(array_sort(collect_list(struct(col("bucket"), col("c"))))
        .as("__pts"))
      .withColumn("__l", expr(seriesExpr))
      .withColumn("__minb", expr("__pts[0].bucket"))
      .withColumn("__maxb", expr("__pts[size(__pts) - 1].bucket"))
      .withColumn("__m", size(col("__pts")).cast("long"))
    pts.join(prev, Seq("key"), "full_outer")
      .filter(assert_true(
        col("__minb").isNull || col("last_bucket").isNull ||
          col("__minb") > col("last_bucket"),
        concat(lit(s"$op: batch bucket "), col("__minb"),
          lit(" not after carried last_bucket "), col("last_bucket"),
          lit(" for key "), col("key"),
          lit(" — finalized windows regressed; state would mis-fold")))
        .isNull)
  }

  /** The advanced frontier after a [[foldPrelude]] batch. */
  def lastBucketCol: Column =
    coalesce(col("__maxb"), col("last_bucket")).as("last_bucket")

  /** The accumulated observed-bucket count after a [[foldPrelude]]
    * batch. */
  def nBucketsCol: Column =
    (coalesce(col("n_buckets"), lit(0L)) + coalesce(col("__m"), lit(0L)))
      .as("n_buckets")

  /** Commit snapshot `b=<id>` and prune versions the protocol can no
    * longer need: a replay of THIS batch reads id−1, so versions below
    * id − retainBelow are dead for the writer; retainBelow > 1 widens
    * the grace window for lazy [[readLatest]] consumers. */
  def commit(state: DataFrame, stateDir: String, id: Long,
      retainBelow: Int): Unit = {
    require(retainBelow >= 1,
      s"retainBelow must be >= 1 (the replay of batch id reads id-1), " +
        s"got $retainBelow")
    state.write.mode("overwrite").parquet(s"$stateDir/b=$id")
    val spark = state.sparkSession
    val f = Fold.fs(spark, stateDir)
    Fold.committed(spark, stateDir).filter(_ < id - retainBelow)
      .foreach(v => f.delete(new Path(s"$stateDir/b=$v"), true))
  }
}
