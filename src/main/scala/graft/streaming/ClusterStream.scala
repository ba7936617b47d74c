package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Caching, Dedup}

/** Streaming near-dup CLUSTER-MAP maintenance — the continuous twin
  * of [[graft.operators.Dedup.clustersMaintain]], closing the
  * freshness family's graph member the same way [[MinMaxStream]] and
  * [[TopKStream]] close the non-invertible aggregates: cluster
  * membership under deletes needs the EDGE SET (a removed bridge
  * splits a component no map-only state can repair), so this sink
  * carries signatures + pairs + the map, and each batch touches only
  * the changed keys' signatures, the batch-vs-index hamming screen's
  * candidates, and the feed-bounded affected clusters' induced
  * subgraph — never the corpus.
  *
  * Feed contract (one row per change): `(seq, op, id, text)` with
  * op ∈ I/U/D, payload NULL on deletes, `seq` feed-monotone.
  *
  * State lives under FOUR homes per root: three corpus-sized
  * [[DeltaStore]] delta homes — `sig/` (one 64-bit simhash per live
  * doc), `pairs/` (the HASH-level near-pair edge set, (h_a, h_b)
  * distinct-hash pairs within the radius — O(docs + near-hash-pairs)
  * state, so an all-duplicates feed persists ZERO pair rows instead
  * of N²/2; see [[graft.operators.Dedup.ClusterIndexState]]), `cl/`
  * (the cluster map) — plus the [[Fold.guarded]] 1-row feed frontier
  * `f/`, a [[SnapshotStore]] snapshot home (rewriting one row per
  * batch is the snapshot protocol's sweet spot). Each batch WRITES
  * ONLY ITS DELTAS (the fold computes O(Δ) and now also persists O(Δ)
  * — the r19 verdict's write-amplification gap); `compactEvery` bounds
  * the delta-partition count via [[DeltaStore.compact]]'s staged swap.
  * A layout marker under the root makes a cross-build state-schema
  * change fail with a loud "rebootstrap" message instead of a bare
  * AnalysisException (ADVICE r19).
  *
  * The reference engine is read-only over static CSVs
  * (/root/reference/sqlengine.py; SURVEY.md §2.9); extension
  * surface. */
object ClusterStream {

  /** Layout tag stamped under every root this sink writes: bump it
    * whenever a home's schema or protocol changes (r19 doc-level →
    * hash-level pairs taught why; r20 snapshot → delta homes bumped
    * it again). */
  private[streaming] val LayoutTag = "cluster-delta-v2"

  private[streaming] val SigKeys = Seq("id")
  private[streaming] val PairKeys = Seq("h_a", "h_b")
  private[streaming] val ClKeys = Seq("id")

  private def emptySigs(batch: DataFrame): DataFrame =
    batch.select(col("id"), xxhash64(col("text")).as("simhash"))
      .filter(lit(false))

  private def emptyPairs(batch: DataFrame): DataFrame =
    batch.select(xxhash64(col("text")).as("h_a"),
      xxhash64(col("text")).as("h_b")).filter(lit(false))

  private def emptyClusters(batch: DataFrame): DataFrame =
    batch.select(col("id"), col("id").as("cluster_id")).filter(lit(false))

  /** The carried index below the batch, sig/pairs persisted on the
    * batch scope (r21): the maintenance fold reads each TWICE (sigs:
    * next-state anti-join + affected-hash semi-join; pairs:
    * carried-pair anti-joins + the pair delta), and an unpersisted
    * stateSoFar re-runs its latest-wins delta reconstruction — a scan
    * + per-key shuffle over every committed delta partition — once per
    * consumer, growing with batch count. */
  private[streaming] def indexSoFar(s: Fold.Scope, rootDir: String,
      batch: DataFrame): Dedup.ClusterIndexState = {
    def carried(home: String, empty: DataFrame, keys: Seq[String]) =
      DeltaStore.stateSoFar(s.spark, s"$rootDir/$home", s.id, empty, keys)
    Dedup.ClusterIndexState(
      Caching.persist(carried("sig", emptySigs(batch), SigKeys)),
      Caching.persist(carried("pairs", emptyPairs(batch), PairKeys)),
      carried("cl", emptyClusters(batch), ClKeys))
  }

  /** Latest committed cluster map (the `cl/` home under `rootDir`). */
  def readClusters(spark: SparkSession, rootDir: String): DataFrame =
    DeltaStore.readLatest(spark, rootDir + "/cl", "cluster map", ClKeys)

  /** Latest committed signature index (the `sig/` home). */
  def readSigs(spark: SparkSession, rootDir: String): DataFrame =
    DeltaStore.readLatest(spark, rootDir + "/sig", "signature index",
      SigKeys)

  /** Latest committed hash-level near-pair edge set (the `pairs/`
    * home): (h_a, h_b) distinct-hash pairs within the radius. */
  def readPairs(spark: SparkSession, rootDir: String): DataFrame =
    DeltaStore.readLatest(spark, rootDir + "/pairs", "near-pair set",
      PairKeys)

  /** One foreachBatch step, public for spec-driven replay and crash
    * injection: fold change-batch `id` onto the carried cluster index
    * and commit the `f/` frontier plus the three homes' DELTAS at
    * `b=<id>`. `compactEvery > 0` folds a [[DeltaStore.compact]] of
    * each delta home into every Nth batch ([[Fold]]'s cadence). The
    * maintenance's internal caches and member/edge checkpoints are
    * released with the batch scope. */
  def foldBatch(batch: DataFrame, id: Long, rootDir: String,
      maxHamming: Int = 3, chunks: Int = 4, retainBelow: Int = 1,
      compactEvery: Int = 0): Unit = {
    DeltaStore.ensureLayoutMarker(batch.sparkSession, rootDir, LayoutTag)
    Fold.guarded(batch, id, rootDir, "ClusterStream", retainBelow,
        compactEvery) { s =>
      val upd = Dedup.clustersMaintainUpdate(
        indexSoFar(s, rootDir, batch), batch, "id", "text",
        "seq", "op", maxHamming, chunks)
      s.delta(upd.deltas.sigs, s"$rootDir/sig", SigKeys)
      s.delta(upd.deltas.pairs, s"$rootDir/pairs", PairKeys)
      s.delta(upd.deltas.clusters, s"$rootDir/cl", ClKeys)
    }
  }
}
