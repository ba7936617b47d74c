package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.Cdc

/** Streaming incremental view maintenance — the continuous twin of the
  * batch IVM pair ([[graft.operators.Cdc.maintainGroupAgg]] /
  * [[graft.operators.Cdc.maintainJoinView]]), folding a CDC change
  * feed into a continuously-fresh materialization under the
  * [[SnapshotStore]] versioned-snapshot exactly-once protocol. This is
  * the shape a warehouse actually runs: the batch operators answer
  * "given today's feed, what is the next view?"; these sinks keep the
  * view CURRENT as the feed arrives, exactly-once through crashes.
  *
  * == Group-aggregate view ==
  *
  * State is TWO NUMBERS PER GROUP — (n, total) — plus the global
  * feed frontier, never per-key state: the feed's Debezium-style BEFORE
  * IMAGES make the retraction computable without consulting a key
  * store. Feed contract (one row per change):
  * `(key, seq, op, grp, value, old_grp, old_value)` where `op` ∈
  * I/U/D, `(old_grp, old_value)` is the key's image immediately
  * before its FIRST change of the batch (NULL old_grp ⇔ the key did
  * not exist), and `seq` is feed-monotone. Per batch, per key:
  * latest-wins `max_by` picks the final image (the
  * [[Cdc.applyChanges]] reduction), `min_by` picks the pre-batch old
  * image; delta = retract (−1, −old_value) if the key existed, add
  * (+1, +value) unless the final op is D. The sum runs in exact
  * DECIMAL(18,2) (order-independent, engine-comparable); a group
  * folding to n = 0 leaves the state (absence ≡ zero), and n < 0 —
  * only possible when a feed's old images LIE about the pre-state —
  * trips an in-plan assert instead of silently corrupting the view.
  *
  * Cross-batch ordering is guarded by [[Fold.guarded]]: the `f/`
  * home under `stateDir` pins `last_seq` = the maximum folded
  * sequence, and a batch whose minimum new `seq` does not exceed it
  * fails loudly — a regressed or replayed-out-of-protocol feed would
  * otherwise retract against images the view no longer holds.
  *
  * Exactly-once: snapshot `b=<id>` overwrite, read strictly-below,
  * prune below id − retainBelow — the [[SnapshotStore]] protocol
  * (the crash window replays batch id, which reads id−1).
  *
  * == Join view ==
  *
  * [[joinFoldBatch]] maintains `A ⋈_joinCol B` under ONE interleaved
  * feed carrying both sides (`side` ∈ 'A'/'B' with each side's
  * columns, the other side's NULL). State is FOUR SnapshotStore homes
  * under one root — `a/` and `b/` (the merged key-level snapshots,
  * maintained by [[Cdc.applyChanges]]), `view/` (the materialized
  * join, maintained by [[Cdc.maintainJoinView]]'s affected-key delta
  * algebra — each batch costs the batch, not the base), and the
  * [[Fold.guarded]] `f/` frontier.
  *
  * At 100 TB: state is the key space (a/b snapshots + view rows),
  * never the event volume; each micro-batch pays one hash shuffle of
  * the (small) batch per home plus [[Cdc.maintainJoinView]]'s
  * key-pruned semi/anti joins against the carried snapshots. Swap the
  * parquet SnapshotStore for an ACID table format at lake scale and
  * keep this exact batch protocol ([[CdcStream]]'s note).
  *
  * The reference engine is read-only over static CSVs
  * (/root/reference/sqlengine.py; no DML, no streams; SURVEY.md
  * §2.9); extension surface. */
object IvmStream {

  private val dec = DecimalType(18, 2)

  private def emptyAggState(spark: SparkSession, batch: DataFrame): DataFrame =
    batch.select(col("grp")).filter(lit(false))
      .withColumn("n", lit(0L))
      .withColumn("total_c", lit(0).cast(dec))

  /** Latest committed group-agg state: (grp, n, total_c). */
  def readState(spark: SparkSession, stateDir: String): DataFrame =
    SnapshotStore.readLatest(spark, stateDir, "IVM group-agg")

  /** [[readState]] reduced to the view a consumer queries —
    * (grp, n, total), the [[Cdc.maintainGroupAgg]] output shape with
    * the exact decimal cast to double at the boundary (the
    * engine-comparison policy of the batch twin). */
  def readView(spark: SparkSession, stateDir: String): DataFrame =
    readState(spark, stateDir)
      .select(col("grp"), col("n"), col("total_c").cast("double").as("total"))

  /** One foreachBatch step, public for spec-driven replay and crash
    * injection: fold change-batch `id` (the feed contract in the
    * object doc) onto the carried per-group state and commit snapshot
    * `b=<id>`. */
  def foldBatch(batch: DataFrame, id: Long, stateDir: String,
      retainBelow: Int = 1): Unit = Fold.guarded(batch, id, stateDir,
      "IvmStream", retainBelow,
      why = "; before-images would mis-retract") { s =>
    val prev = SnapshotStore.stateSoFar(s.spark, stateDir, id,
      emptyAggState(s.spark, batch))
    val ord = struct(col("seq"), col("op"))
    val perKey = batch.groupBy(col("key")).agg(
      max_by(col("op"), ord).as("__op"),
      max_by(col("grp"), ord).as("__g"),
      max_by(col("value"), ord).as("__v"),
      min_by(col("old_grp"), ord).as("__og"),
      min_by(col("old_value"), ord).as("__ov"))
    val retract = perKey.filter(col("__og").isNotNull)
      .select(col("__og").as("grp"), lit(-1L).as("__dn"),
        (-col("__ov").cast(dec)).as("__ds"))
    val add = perKey.filter(col("__op") =!= "D")
      .select(col("__g").as("grp"), lit(1L).as("__dn"),
        col("__v").cast(dec).as("__ds"))
    val delta = retract.unionByName(add)
      .groupBy(col("grp"))
      .agg(sum("__dn").as("__dn"), sum("__ds").as("__ds"))
    val folded = prev.join(delta, Seq("grp"), "full_outer")
      .select(col("grp"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("__dn"), lit(0L)))
          .as("n"),
        (coalesce(col("total_c"), lit(0).cast(dec)) +
          coalesce(col("__ds"), lit(0).cast(dec))).cast(dec).as("total_c"))
      .filter(assert_true(col("n") >= 0L,
        concat(lit("IvmStream: group "), col("grp"),
          lit(" folded to negative count "), col("n"),
          lit(" — the feed's before-images are inconsistent")))
        .isNull)
      .filter(col("n") > 0L)
    s.snapshot(folded, stateDir)
  }

  // =====================================================================
  // Join-view twin
  // =====================================================================

  private def emptyFrom(batch: DataFrame, cols: Seq[String]): DataFrame =
    batch.select(cols.map(col(_)): _*).filter(lit(false))

  /** Latest committed join view (the `view/` home under `rootDir`). */
  def readJoinView(spark: SparkSession, rootDir: String): DataFrame =
    SnapshotStore.readLatest(spark, rootDir + "/view", "IVM join-view")

  /** One foreachBatch step for the join-view twin: split interleaved
    * batch `id` by `side`, advance both key-level snapshots with
    * [[Cdc.applyChanges]], the view with [[Cdc.maintainJoinView]],
    * and the frontier; commit all four homes at `b=<id>`.
    *
    * `aPayload` = A's payload columns (must include `joinCol`);
    * `bPayload` = B's payload columns. The batch must carry
    * `side`, `seq`, `op`, `aKey`, `joinCol`, and every payload
    * column (the inactive side's columns NULL). */
  def joinFoldBatch(batch: DataFrame, id: Long, rootDir: String,
      aKey: String, joinCol: String, aPayload: Seq[String],
      bPayload: Seq[String], retainBelow: Int = 1): Unit =
    Fold.guarded(batch, id, rootDir, "IvmStream join", retainBelow) { s =>
    require(aPayload.contains(joinCol),
      s"joinFoldBatch: A's payload must carry join column $joinCol")
    val spark = s.spark
    val aCols = Seq(aKey) ++ aPayload
    val bCols = Seq(joinCol) ++ bPayload
    val viewCols = (Seq(aKey) ++ aPayload) ++ bPayload
    val aPrev = SnapshotStore.stateSoFar(spark, s"$rootDir/a", id,
      emptyFrom(batch, aCols))
    val bPrev = SnapshotStore.stateSoFar(spark, s"$rootDir/b", id,
      emptyFrom(batch, bCols))
    val viewPrev = SnapshotStore.stateSoFar(spark, s"$rootDir/view", id,
      emptyFrom(batch, viewCols))
    val aCh = batch.filter(col("side") === "A")
      .select((Seq("seq", "op") ++ aCols).map(col(_)): _*)
    val bCh = batch.filter(col("side") === "B")
      .select((Seq("seq", "op") ++ bCols).map(col(_)): _*)
    val aNext = Cdc.applyChanges(aPrev, aCh, aKey, "seq", "op")
    val bNext = Cdc.applyChanges(bPrev, bCh, joinCol, "seq", "op")
    val viewNext = Cdc.maintainJoinView(viewPrev, aPrev, aCh, aKey,
      bPrev, bCh, joinCol, "seq", "op")
    s.snapshot(aNext, s"$rootDir/a")
    s.snapshot(bNext, s"$rootDir/b")
    s.snapshot(viewNext, s"$rootDir/view")
  }
}
