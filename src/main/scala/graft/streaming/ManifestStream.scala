package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  * rows), and the [[Fold.guarded]] 1-row `f/` frontier
  * ([[SnapshotStore]] — rewriting one row per batch is that
  * protocol's sweet spot). Each batch
  * writes ONLY ITS DELTAS, and SURVIVORSHIP IS INCREMENTAL (r20, the
  * r19 verdict's two O(corpus)-per-batch terms): keepers are
  * recomputed for the batch's affected clusters alone — exactly the
  * cluster delta's rows — and every untouched cluster's manifest rows
  * carry implicitly (no delta row), so the whole flagship fold is
  * O(Δ) compute AND O(Δ) I/O. Every home is a pure function of the
  * folded feed prefix. A layout marker under the root makes a
  * cross-build state-schema change fail with a loud "rebootstrap"
  * message instead of a bare AnalysisException (ADVICE r19).
  *
  * The reference engine is read-only over static CSVs
  * (/root/reference/sqlengine.py; SURVEY.md §2.9); extension
  * surface. */
object ManifestStream {

  // the three ClusterStream homes share its carried-index read and key
  // sets — ONE definition, so a state-schema change cannot silently
  // diverge the two sinks' layouts (they stay home-compatible)
  import ClusterStream.{ClKeys, PairKeys, SigKeys}

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
    * a [[DeltaStore.compact]] of each delta home into every Nth batch
    * ([[Fold]]'s cadence). The maintenance's internal caches and
    * checkpoints are released with the batch scope. */
  def foldBatch(batch: DataFrame, id: Long, rootDir: String,
      classify: DataFrame => DataFrame, score: Column,
      splits: Seq[(String, Double)], maxHamming: Int = 3,
      chunks: Int = 4, retainBelow: Int = 1,
      compactEvery: Int = 0): Unit = {
    DeltaStore.ensureLayoutMarker(batch.sparkSession, rootDir, LayoutTag)
    Fold.guarded(batch, id, rootDir, "ManifestStream", retainBelow,
        compactEvery) { s =>
      val spark = s.spark
      // gate once, consume thrice (cluster fold, meta delta, and the
      // maintenance-internal key reductions) — the checkpoint keeps the
      // batch-bounded curated feed from re-classifying per consumer; a
      // classify contract violation throws from it, and the batch scope
      // still releases it with gateFeed's winner-reduction persist
      val gated = Caching.localCheckpoint(Cdc.gateFeed(
        batch.select(col("seq"), col("op"), col("id"), col("text"),
          col("lang")), "id", "seq", "op")(classify))
      val upd = Dedup.clustersMaintainUpdate(
        ClusterStream.indexSoFar(s, rootDir, batch),
        gated.select(col("seq"), col("op"), col("id"), col("text")),
        "id", "text", "seq", "op", maxHamming, chunks)
      // the meta home's delta IS the gated winner set: one row per
      // changed key (gateFeed reduces the batch), upserts carrying
      // (lang, score-of-the-new-image), deletes their key alone —
      // gated D rows already carry NULL payload, so score-over-nulls
      // lands in a row the latest-wins read drops anyway
      val metaDelta = gated.select(
        when(col("op") === "D", lit("D")).otherwise(lit("U")).as("__dop"),
        col("id"), col("lang"), score.as("__score"))
      // the cluster delta feeds its own commit AND the incremental
      // survivorship below — checkpoint once (feed-bounded)
      val clDelta = Caching.localCheckpoint(upd.deltas.clusters)
      s.delta(upd.deltas.sigs, s"$rootDir/sig", SigKeys)
      s.delta(upd.deltas.pairs, s"$rootDir/pairs", PairKeys)
      s.delta(clDelta, s"$rootDir/cl", ClKeys)
      s.delta(metaDelta, s"$rootDir/meta", MetaKeys)
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
      val metaNow = Caching.persist(
        DeltaStore.stateSoFar(spark, s"$rootDir/meta", id + 1,
          emptyMeta(batch, score), MetaKeys,
          restrictTo = Some(recomputedMap.select(col("id")))))
      val keepers = Caching.persist(
        Dedup.keepBestFromClusters(recomputedMap,
            metaNow.select(col("id"), col("__score")), "id")
          .filter(col("keep")).select(col("id")))
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
      s.delta(manifestDelta, s"$rootDir/manifest", ManifestKeys)
    }
  }
}
