package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The APPEND-DELTA exactly-once protocol for CORPUS-SIZED keyed
  * stream state — the scale-safe sibling of [[SnapshotStore]] (which
  * rewrites the full state per batch: exactly right for one-small-row-
  * per-key scalar twins, O(corpus) write amplification for anything
  * corpus-sized — the r19 verdict's one `weak` mark). The protocol is
  * [[DedupStream]]'s append-delta + wholesale-partition-swap
  * compaction (DedupStream.scala compactIndex), generalized from an
  * append-only set to LATEST-WINS KEYED state with deletes:
  *
  *  - each batch writes ONLY ITS DELTA to `dir/b=<id>`: one row per
  *    changed key, `__dop` = 'U' (upsert, full payload) or 'D'
  *    (delete, payload NULL). Written rows track the CHANGE, never
  *    the corpus — a 1-row batch writes ~1 row per home;
  *  - a batch READS the state reconstructed from committed deltas
  *    STRICTLY BELOW its own id (latest-wins per key across delta
  *    versions, 'D' winners absent), so a replayed batch never reads
  *    its own earlier half-written delta, recomputes the identical
  *    delta, and rewrites the same partition — idempotent by
  *    construction. A partition counts as committed only once its
  *    `_SUCCESS` marker exists;
  *  - [[compact]] periodically merges every delta strictly below the
  *    newest committed batch into the oldest merged id
  *    ([[Fold.compact]]), bounding the partition count a
  *    reconstruction scans. 'D' winners are dropped from the
  *    compacted base — nothing below the base exists for them to mask.
  *
  * Write contract: a delta partition carries AT MOST ONE row per key
  * (the [[graft.operators.Cdc.latestChanges]] winner reduction shape)
  * — reconstruction breaks version ties by nothing, so two same-key
  * rows in one partition would be resolved arbitrarily. The producers
  * guarantee this by construction (their deltas come from per-key
  * reductions and disjoint anti-joins); the specs pin it.
  *
  * The reference engine is read-only over static CSVs
  * (/root/reference/sqlengine.py; SURVEY.md §2.9); extension
  * surface. */
private[graft] object DeltaStore {

  /** The op column every delta row carries: 'U' upsert / 'D' delete. */
  val DopCol = "__dop"

  private val MarkerName = "_graft_layout"

  /** The version column [[Fold.read]] adds to a multi-version read of
    * the `b=<id>` directories. */
  private val VersionCol = "b"

  /** Latest-wins reconstruction over the given delta versions,
    * KEEPING the `__dop` column (callers drop 'D' winners or not —
    * [[compact]] needs them absent, reads need them filtered). The
    * versions are ONE scan ([[Fold.read]]) whose [[VersionCol]] carries
    * each row's version. With a `restrictTo` key frame the scan is
    * key-pruned BEFORE the reduction — per-key latest-wins commutes
    * with key filtering, so a touched-keys read costs O(|keys| ·
    * versions) reduce input, not O(state). */
  private def winners(spark: SparkSession, dir: String, vs: Seq[Long],
      keyCols: Seq[String], restrictTo: Option[DataFrame]): DataFrame = {
    require(vs.nonEmpty, s"winners over zero delta versions under $dir")
    val scan = Fold.read(spark, dir, vs, versioned = true)
    val all = restrictTo.fold(scan)(keys =>
      scan.join(keys.select(keyCols.map(col(_)): _*), keyCols, "left_semi"))
    if (vs.sizeIs == 1) all
    else {
      val valueCols = all.columns.toSeq
        .filterNot(c => keyCols.contains(c) || c == DopCol || c == VersionCol)
      val packed = struct((DopCol +: valueCols).map(col(_)): _*)
      all.groupBy(keyCols.map(col(_)): _*)
        .agg(max_by(packed, col(VersionCol)).as("__w"))
        .select(keyCols.map(col(_)) ++
          (DopCol +: valueCols).map(c => col(s"__w.$c").as(c)): _*)
    }
  }

  /** The standing state as of deltas STRICTLY BELOW `belowBatch` —
    * the replay-safe read a folding batch starts from. `empty`
    * supplies the home's schema (WITHOUT `__dop`) when nothing has
    * committed; `restrictTo` key-prunes the reconstruction (see
    * [[winners]]). */
  def stateSoFar(spark: SparkSession, dir: String, belowBatch: Long,
      empty: DataFrame, keyCols: Seq[String],
      restrictTo: Option[DataFrame] = None): DataFrame =
    Fold.committed(spark, dir).filter(_ < belowBatch) match {
      case Seq() => empty
      case vs => winners(spark, dir, vs, keyCols, restrictTo)
        .filter(col(DopCol) =!= "D")
        .select(empty.columns.map(col(_)): _*)
    }

  /** The latest committed state — the consumer read. Throws when no
    * delta has committed (no schema to fabricate); `what` names the
    * owning stream. Same lazy-consumer boundary as
    * [[SnapshotStore.readLatest]]: the frame is lazy over partitions
    * a concurrent [[compact]] eventually swaps — materialize promptly
    * or read after the stream is stopped. */
  def readLatest(spark: SparkSession, dir: String, what: String,
      keyCols: Seq[String]): DataFrame =
    Fold.committed(spark, dir) match {
      case Seq() => throw new IllegalStateException(
        s"no committed $what state under $dir")
      case vs =>
        val w = winners(spark, dir, vs, keyCols, None)
        w.filter(col(DopCol) =!= "D")
          .select(w.columns.filterNot(_ == DopCol).map(col(_)): _*)
    }

  /** Commit delta `b=<id>` (overwrite-by-batch-id — a replay rewrites
    * the same files). The delta must carry [[DopCol]] plus the home's
    * columns, at most one row per key. */
  def commitDelta(delta: DataFrame, dir: String, id: Long): Unit = {
    require(delta.columns.contains(DopCol),
      s"delta for $dir lacks the $DopCol op column")
    delta.write.mode("overwrite").parquet(s"$dir/b=$id")
  }

  /** One delta applied over a standing state — the semantic spine the
    * reconstruction folds (and the bridge the specs pin deltas
    * against full next-states with): drop every delta key from the
    * state, then add the delta's 'U' rows. */
  def applyDelta(state: DataFrame, delta: DataFrame,
      keyCols: Seq[String]): DataFrame =
    state.join(delta.select(keyCols.map(col(_)): _*), keyCols, "left_anti")
      .unionByName(delta.filter(col(DopCol) =!= "D")
        .select(state.columns.map(col(_)): _*))

  /** [[Fold.compact]] with the latest-wins merge. 'D' winners are
    * dropped: the compacted partition is the BASE, with nothing below
    * it for a delete row to mask. Duplicates left by a crash before
    * the tail deletes are harmless (latest-wins picks the higher
    * version, whose content the merge preserved verbatim). */
  def compact(spark: SparkSession, dir: String,
      keyCols: Seq[String]): Unit =
    Fold.compact(spark, dir)(mergeIds =>
      winners(spark, dir, mergeIds, keyCols, None)
        .filter(col(DopCol) =!= "D"))

  /** Stamp (or check) the state-layout marker under a stream root —
    * the ADVICE-r19 hazard: a state layout/schema change across
    * builds otherwise surfaces as a bare column-resolution
    * AnalysisException on resume, with no hint that the fix is a
    * rebootstrap. Call once per fold with the sink's layout tag:
    *  - no marker, no state → writes the marker (fresh root);
    *  - marker matches → no-op;
    *  - marker differs, or pre-marker `b=` state exists → throws a
    *    loud "layout changed — wipe the root and rebootstrap" (before
    *    any read can mis-resolve, and before any home advances). */
  def ensureLayoutMarker(spark: SparkSession, rootDir: String,
      tag: String): Unit = {
    val f = Fold.fs(spark, rootDir)
    val root = new Path(rootDir)
    val marker = new Path(root, MarkerName)
    if (f.exists(marker)) {
      val in = f.open(marker)
      val found = try {
        val bytes = new Array[Byte](256)
        val n = math.max(0, in.read(bytes))
        new String(bytes, 0, n, "UTF-8").trim
      } finally in.close()
      if (found != tag) throw new IllegalStateException(
        s"state layout changed under $rootDir: the root was written by " +
          s"layout '$found', this build reads/writes '$tag' — wipe the " +
          "root and re-bootstrap from the source-of-truth feed (state " +
          "is a pure function of the folded prefix, so a rebootstrap " +
          "reconverges exactly)")
    } else {
      val preMarkerState = f.exists(root) &&
        f.listStatus(root).exists(h => h.isDirectory &&
          f.listStatus(h.getPath).exists(_.getPath.getName.startsWith("b=")))
      if (preMarkerState) throw new IllegalStateException(
        s"state root $rootDir carries pre-marker state (no $MarkerName " +
          s"file): this build's home layout ('$tag') does not match — " +
          "wipe the root and re-bootstrap from the source-of-truth feed")
      f.mkdirs(root)
      val out = f.create(marker, true)
      try out.write(tag.getBytes("UTF-8")) finally out.close()
    }
  }
}
