package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Caching, Cdc, Dedup, Sampling}

/** The TRAINING MANIFEST itself as a continuously-maintained sink —
  * the streaming twin of the `pipeline_incremental_manifest` capstone
  * and the composition of the freshness family's pieces: each batch
  * of the document change feed is gated through a per-row quality
  * predicate ([[graft.operators.Cdc.gateFeed]] — a failing update
  * RETRACTS the doc from the curated corpus), the gated winners fold
  * onto the maintained near-dup cluster index
  * ([[graft.operators.Dedup.clustersMaintain]] — the [[ClusterStream]]
  * state homes), a per-doc metadata/score snapshot advances by the
  * same latest-wins fold, survivorship picks each cluster's keeper
  * ([[graft.operators.Dedup.keepBestFromClusters]] — with a constant
  * score the keeper degenerates to the min-id representative, the
  * batch capstone's rule), and the keepers' split assignment
  * ([[graft.operators.Sampling.assignSplits]], a pure id hash) lands
  * in a served `manifest/` home.
  *
  * Feed contract (one row per change): `(seq, op, id, text, lang)`
  * with op ∈ I/U/D, payload NULL on deletes, `seq` feed-monotone.
  *
  * State lives under SIX homes per root — the [[ClusterStream]] three
  * corpus-sized [[DeltaStore]] delta homes (`sig/`, `pairs/`, `cl/`)
  * plus two more delta homes, `meta/` (the curated docs' (id, lang,
  * __score) snapshot) and `manifest/` (the served (id, lang, split)
  * rows), and the 1-row `f/` frontier ([[SnapshotStore]] — rewriting
  * one row per batch is that protocol's sweet spot). Each batch
  * writes ONLY ITS DELTAS, and SURVIVORSHIP IS INCREMENTAL (r20, the
  * r19 verdict's two O(corpus)-per-batch terms): keepers are
  * recomputed for the batch's affected clusters alone — exactly the
  * cluster delta's rows — and every untouched cluster's manifest rows
  * carry implicitly (no delta row), so the whole flagship fold is
  * O(Δ) compute AND O(Δ) I/O. Every home is a pure function of the
  * folded feed prefix and every read is strictly-below the batch id,
  * so a crash between ANY two commits replays to identical content;
  * the monotone-seq guard rides the frontier plan and the FRONTIER
  * HOME COMMITS FIRST (the [[IvmStream]] join-twin lesson). A layout
  * marker under the root makes a cross-build state-schema change fail
  * with a loud "rebootstrap" message instead of a bare
  * AnalysisException (ADVICE r19).
  *
  * The reference engine is read-only over static CSVs
  * (/root/reference/sqlengine.py; SURVEY.md §2.9); extension
  * surface. */
object ManifestStream {

  // the three ClusterStream homes share its empty-frame schemas and
  // key sets — ONE definition, so a state-schema change cannot
  // silently diverge the two sinks' layouts (they stay home-compatible)
  import ClusterStream.{ClKeys, PairKeys, SigKeys, emptyClusters, emptyPairs, emptySigs}

  /** Layout tag stamped under every root this sink writes — bumped
    * with [[ClusterStream.LayoutTag]] (r20: snapshot → delta homes,
    * incremental survivorship). */
  private[streaming] val LayoutTag = "manifest-delta-v2"

  private val MetaKeys = Seq("id")
  private val ManifestKeys = Seq("id")

  private def emptyMeta(batch: DataFrame, score: Column): DataFrame =
    batch.select(col("id"), col("lang"), score.as("__score"))
      .filter(lit(false))

  /** Latest committed manifest (the `manifest/` home under
    * `rootDir`): one (id, lang, split) row per surviving keeper. */
  def readManifest(spark: SparkSession, rootDir: String): DataFrame =
    DeltaStore.readLatest(spark, rootDir + "/manifest", "manifest",
      ManifestKeys)

  /** Latest committed curated metadata snapshot (the `meta/` home). */
  def readMeta(spark: SparkSession, rootDir: String): DataFrame =
    DeltaStore.readLatest(spark, rootDir + "/meta", "manifest meta",
      MetaKeys)

  /** One foreachBatch step, public for spec-driven replay and crash
    * injection: gate change-batch `id` through `classify`, fold the
    * curated feed onto the carried cluster index + metadata snapshot,
    * re-derive survivorship FOR THE AFFECTED CLUSTERS ONLY, and
    * commit the `f/` frontier plus the five homes' DELTAS at
    * `b=<id>`.
    *
    * `classify` is the [[graft.operators.Cdc.gateFeed]] per-row keep
    * predicate (e.g. [[graft.operators.TextAnalysis.filterBattery]]);
    * `score` is the survivorship quality proxy evaluated over the
    * gated winners' columns — `lit(0.0)` reproduces the batch
    * capstone's min-id keeper rule exactly. `compactEvery > 0` folds
    * a [[DeltaStore.compact]] of each delta home into every Nth
    * batch. */
  def foldBatch(batch: DataFrame, id: Long, rootDir: String,
      classify: DataFrame => DataFrame, score: Column,
      splits: Seq[(String, Double)], maxHamming: Int = 3,
      chunks: Int = 4, retainBelow: Int = 1,
      compactEvery: Int = 0): Unit = {
    val spark = batch.sparkSession
    DeltaStore.ensureLayoutMarker(spark, rootDir, LayoutTag)
    // batch-scoped persist register — the ClusterStream.foldBatch
    // rationale: a continuous sink must release the maintenance's
    // internal caches (and eager checkpoints) every batch or
    // accumulate corpus-sized copies
    val tracker = new Caching.PersistTracker
    // sig/pairs state reads persisted (r21): the maintenance fold reads
    // each TWICE (sigs: next-state anti-join + affected-hash semi-join;
    // pairs: carried-pair anti-joins + the pair delta), and an
    // unpersisted stateSoFar re-runs its latest-wins delta
    // reconstruction — a union + per-key shuffle over every committed
    // delta partition — once per consumer, growing with batch count
    val prev = Dedup.ClusterIndexState(
      Caching.maybePersist(DeltaStore.stateSoFar(spark, s"$rootDir/sig",
        id, emptySigs(batch), SigKeys), persist = true, tracker),
      Caching.maybePersist(DeltaStore.stateSoFar(spark, s"$rootDir/pairs",
        id, emptyPairs(batch), PairKeys), persist = true, tracker),
      DeltaStore.stateSoFar(spark, s"$rootDir/cl", id,
        emptyClusters(batch), ClKeys))
    val fPrev = SnapshotStore.stateSoFar(spark, s"$rootDir/f", id,
      batch.select(lit(Long.MinValue).as("last_seq")).filter(lit(false)))
    val frontier = SnapshotStore.seqFrontier(fPrev, batch, "ManifestStream")
    try {
      // gate once, consume thrice (cluster fold, meta delta, and the
      // maintenance-internal key reductions) — eager checkpoint keeps
      // the batch-bounded curated feed from re-classifying per
      // consumer. Inside the try: a classify contract violation throws
      // from this checkpoint, and the finally must still release it,
      // gateFeed's winner-reduction persist and the state persists
      // above, all on the same tracker
      val gated = Caching.localCheckpoint(Cdc.gateFeed(
        batch.select(col("seq"), col("op"), col("id"), col("text"),
          col("lang")), "id", "seq", "op", tracker = tracker)(classify),
        tracker)
      val upd = Dedup.clustersMaintainUpdate(prev,
        gated.select(col("seq"), col("op"), col("id"), col("text")),
        "id", "text", "seq", "op", maxHamming, chunks, tracker = tracker)
      // the meta home's delta IS the gated winner set: one row per
      // changed key (gateFeed reduces the batch), upserts carrying
      // (lang, score-of-the-new-image), deletes their key alone —
      // gated D rows already carry NULL payload, so score-over-nulls
      // lands in a row the latest-wins read drops anyway
      val metaDelta = gated.select(
        when(col("op") === "D", lit("D")).otherwise(lit("U")).as("__dop"),
        col("id"), col("lang"), score.as("__score"))
      // the cluster delta feeds its own commit AND the incremental
      // survivorship below — checkpoint once (feed-bounded), free in
      // the finally via the tracker
      val clDelta = tracker.addCheckpoint(
        upd.deltas.clusters.localCheckpoint(true))
      // frontier FIRST — the guard must throw before any state advances
      SnapshotStore.commit(frontier, s"$rootDir/f", id, retainBelow)
      DeltaStore.commitDelta(upd.deltas.sigs, s"$rootDir/sig", id)
      DeltaStore.commitDelta(upd.deltas.pairs, s"$rootDir/pairs", id)
      DeltaStore.commitDelta(clDelta, s"$rootDir/cl", id)
      DeltaStore.commitDelta(metaDelta, s"$rootDir/meta", id)
      // INCREMENTAL survivorship (r20): a keeper can change only in a
      // cluster the batch touched — membership changes land in the
      // cluster delta's 'U' rows (the affected clusters' FULL new
      // membership, by the clustersMaintain recompute) and score/lang
      // changes come through changed keys, whose clusters are
      // affected by construction. So: re-run keep-best over the
      // recomputed membership alone, scored from the committed meta
      // home KEY-PRUNED to those members; emit keeper rows as
      // manifest upserts and every other touched doc (old members of
      // affected clusters, deleted keepers included) as deletes.
      // Untouched clusters write NOTHING — their manifest rows carry.
      val recomputedMap = clDelta.filter(col(DeltaStore.DopCol) === "U")
        .select(col("id"), col("cluster_id"))
      val touchedIds = clDelta.select(col("id"))
      // metaNow has two readers (keeper scoring + the lang join) and
      // keepers two (the manifest upserts + the delete anti-join) —
      // both feed-bounded (restricted to the affected clusters'
      // members), persisted so the restricted delta reconstruction and
      // the keep-best algebra run once per batch (r21)
      val metaNow = Caching.maybePersist(
        DeltaStore.stateSoFar(spark, s"$rootDir/meta", id + 1,
          emptyMeta(batch, score), MetaKeys,
          restrictTo = Some(recomputedMap.select(col("id")))),
        persist = true, tracker)
      val keepers = Caching.maybePersist(
        Dedup.keepBestFromClusters(recomputedMap,
            metaNow.select(col("id"), col("__score")), "id")
          .filter(col("keep")).select(col("id")),
        persist = true, tracker)
      val keeperRows = Sampling.assignSplits(
          keepers.join(metaNow.select(col("id"), col("lang")), Seq("id")),
          "id", splits)
        .select(col("id"), col("lang"), col("split"))
      val manifestDelta = keeperRows
        .select(lit("U").as(DeltaStore.DopCol), col("id"), col("lang"),
          col("split"))
        .unionByName(touchedIds.join(keepers, Seq("id"), "left_anti")
          .select(lit("D").as(DeltaStore.DopCol), col("id"),
            lit(null).cast("string").as("lang"),
            lit(null).cast("string").as("split")))
      DeltaStore.commitDelta(manifestDelta, s"$rootDir/manifest", id)
      if (compactEvery > 0 && id > 0 && id % compactEvery == 0)
        Seq("sig" -> SigKeys, "pairs" -> PairKeys, "cl" -> ClKeys,
          "meta" -> MetaKeys, "manifest" -> ManifestKeys)
          .foreach { case (h, k) =>
            DeltaStore.compact(spark, s"$rootDir/$h", k)
          }
    } finally tracker.release()
  }

  /** Sink a document change feed as a continuously-maintained
    * training manifest (see [[foldBatch]] for the contract). */
  def manifestSink(changes: DataFrame, rootDir: String, checkpoint: String,
      classify: DataFrame => DataFrame, score: Column,
      splits: Seq[(String, Double)], maxHamming: Int = 3,
      chunks: Int = 4, retainBelow: Int = 1,
      compactEvery: Int = 0): StreamingQuery =
    changes.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        foldBatch(batch, id, rootDir, classify, score, splits,
          maxHamming, chunks, retainBelow, compactEvery)
      }
      .start()
}
