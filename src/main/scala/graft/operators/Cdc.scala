package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Change-data-capture maintenance — how a pipeline keeps a mutable
  * upstream table (a crawl frontier, a license registry, a source
  * catalog) usable as an immutable snapshot on the lake.
  *
  * Input model (the Debezium-ish shape every CDC feed reduces to): a
  * change log with a business key, a monotone sequence column (LSN /
  * commit timestamp / offset) and an op column `I`/`U`/`D`. Two
  * consumers of the same log:
  *
  *  - [[applyChanges]] → the NEXT SNAPSHOT: latest-wins per key merged
  *    into the previous snapshot (upserts replace, deletes drop,
  *    inserts append).
  *  - [[scd2History]] → the FULL HISTORY (slowly-changing dimension
  *    type 2): one row per (key, version) with a [valid_from,
  *    valid_to) sequence range and an is_current flag — the shape a
  *    temporal/as-of join consumes.
  *
  * Scale shape at 100 TB: both are one hash shuffle on the business
  * key. applyChanges reduces the log map-side first (`max_by` partial
  * aggregation ships ONE candidate row per key per partition — a
  * window rank would shuffle the whole log), then merges with a single
  * outer join against the snapshot; a daily 1 TB change log against a
  * 100 TB snapshot co-partitions on the key (bucketed tables make the
  * snapshot side shuffle-free). scd2History windows over (key, seq) —
  * there per-key history order is the whole point, and the shuffle
  * carries only the changed keys' rows.
  *
  * The reference engine is read-only over static CSVs
  * (/root/reference/sqlengine.py loads `metadata.txt` once; no DML of
  * any kind); extension surface. */
object Cdc {

  /** Merge a change log into a snapshot; returns the next snapshot
    * with the snapshot's columns. `changes` must carry the key, the
    * sequence, the op, and every payload column of the snapshot.
    * Latest-wins per key by sequence; the op is a deterministic
    * tie-break only (a feed that reuses a sequence number for one key
    * is malformed — CDC sequences are unique per key by contract). */
  def applyChanges(snapshot: DataFrame, changes: DataFrame, keyCol: String,
      seqCol: String, opCol: String): DataFrame = {
    val payload = snapshot.columns.filter(_ != keyCol)
    // ONE winner row per key, map-side-combining: max_by over a struct
    // ordered by (seq, op) — no window, no full-log shuffle
    val ord = struct(col(seqCol), col(opCol))
    val latest = changes.groupBy(col(keyCol)).agg(
      max_by(col(opCol), ord).as("__op"),
      payload.map(c => max_by(col(c), ord).as(c)): _*)
    snapshot.join(latest, Seq(keyCol), "full_outer")
      .filter(col("__op").isNull || col("__op") =!= "D")
      .select(
        col(keyCol) +:
          payload.map(c =>
            when(col("__op").isNotNull, latest(c)).otherwise(snapshot(c)).as(c)): _*)
  }

  /** [[applyChanges]] for ONE-TO-MANY payloads: each key's latest
    * change row EXPANDS to any number of derived snapshot rows (an
    * inverted index's postings, a document's chunk list) instead of
    * exactly one. Per batch: latest-wins max_by picks each changed
    * key's winning row, the carried snapshot DROPS every changed
    * key's old rows through one key anti-join (the only touch of the
    * base — key-pruned, never a rescan), and `expand` maps the
    * surviving upserts (op ≠ D, in the CHANGES' column shape minus
    * seq/op/__op) to their fresh rows. The result equals `expand`
    * over the fully-merged key-level corpus whenever `expand` is
    * per-row deterministic — which is what the doc_bm25_incremental
    * oracle pins end-to-end. */
  def applyChangesGrouped(snapshot: DataFrame, changes: DataFrame,
      keyCol: String, seqCol: String, opCol: String)(
      expand: DataFrame => DataFrame): DataFrame =
    applyGroupedFromLatest(snapshot,
      latestChanges(changes, keyCol, seqCol, opCol), keyCol)(expand)

  /** The latest-wins reduction of a change batch alone — one winner
    * row per key, `__op` carrying the final op, payload columns the
    * winning images. Exposed so a MULTI-FRAME maintainer (e.g.
    * [[graft.streaming.TextIndexStream]]'s postings + lengths) can
    * compute — and persist — the batch reduction ONCE and feed it to
    * several [[applyGroupedFromLatest]] expansions, instead of paying
    * the groupBy per maintained frame. */
  def latestChanges(changes: DataFrame, keyCol: String, seqCol: String,
      opCol: String): DataFrame = {
    val ord = struct(col(seqCol), col(opCol))
    val payload = changes.columns
      .filterNot(Seq(keyCol, seqCol, opCol).contains)
    changes.groupBy(col(keyCol)).agg(
      max_by(col(opCol), ord).as("__op"),
      payload.map(c => max_by(col(c), ord).as(c)): _*)
  }

  /** [[applyChangesGrouped]] from a precomputed [[latestChanges]]
    * frame. */
  def applyGroupedFromLatest(snapshot: DataFrame, latest: DataFrame,
      keyCol: String)(expand: DataFrame => DataFrame): DataFrame = {
    val survivors = snapshot
      .join(latest.select(col(keyCol)), Seq(keyCol), "left_anti")
    val fresh = expand(latest.filter(col("__op") =!= "D").drop("__op"))
    survivors.unionByName(fresh)
  }

  /** Incrementally maintain a grouped COUNT/SUM view under the change
    * log — incremental view maintenance, the reason warehouses keep
    * aggregates fresh without rescanning the base table. The base
    * snapshot is touched only to fetch the OLD contribution of the
    * changed keys (one key equi-join, shuffle ∝ |changes|; bucketed
    * base tables make the snapshot side shuffle-free), so maintaining
    * a view over a 100 TB base under a 1 TB/day change feed costs the
    * feed, not the base. Delta algebra per changed key (latest-wins,
    * same max_by reduction as [[applyChanges]]):
    * retract (−1, −old_value) if the key exists in the snapshot; add
    * (+1, +new_value) unless the final op is a delete. The sum runs in
    * exact DECIMAL(18,2) (order-independent, engine-comparable) and a
    * group whose count reaches 0 vanishes — output equals a full
    * recompute over the merged snapshot, which is what the oracle
    * pins. Output: (group, n, total). */
  def maintainGroupAgg(snapshot: DataFrame, changes: DataFrame, keyCol: String,
      seqCol: String, opCol: String, groupCol: String, valueCol: String): DataFrame = {
    val dec = DecimalType(18, 2)
    val prevAgg = snapshot.groupBy(col(groupCol)).agg(
      count(lit(1)).as("__n0"), sum(col(valueCol).cast(dec)).as("__s0"))
    val ord = struct(col(seqCol), col(opCol))
    val latest = changes.groupBy(col(keyCol)).agg(
      max_by(col(opCol), ord).as("__op"),
      max_by(col(groupCol), ord).as("__g"),
      max_by(col(valueCol), ord).as("__v"))
    val snapKeyed = snapshot.select(col(keyCol),
      col(groupCol).as("__og"), col(valueCol).as("__ov"))
    val retract = latest.join(snapKeyed, Seq(keyCol))
      .select(col("__og").as(groupCol), lit(-1L).as("__dn"),
        (-col("__ov").cast(dec)).as("__ds"))
    val add = latest.filter(col("__op") =!= "D")
      .select(col("__g").as(groupCol), lit(1L).as("__dn"),
        col("__v").cast(dec).as("__ds"))
    val delta = retract.unionByName(add)
      .groupBy(col(groupCol)).agg(sum("__dn").as("__dn"), sum("__ds").as("__ds"))
    prevAgg.join(delta, Seq(groupCol), "full_outer")
      .select(col(groupCol),
        (coalesce(col("__n0"), lit(0L)) + coalesce(col("__dn"), lit(0L))).as("n"),
        (coalesce(col("__s0"), lit(0).cast(dec)) +
          coalesce(col("__ds"), lit(0).cast(dec))).cast("double").as("total"))
      .filter(col("n") > 0)
  }

  /** Derive the CHANGE FEED between two keyed snapshots — the INVERSE
    * of [[applyChanges]], and the reconciliation primitive a CDC
    * pipeline needs twice: bootstrapping a feed from two full loads
    * (no log exists yet), and auditing that a maintained replica
    * matches its source (diff = the repair feed). One full-outer key
    * join classifies every key: present only in `next` → I, present
    * only in `prev` → D, present in both with ANY payload column
    * differing → U (NULL-safe comparison — a column going NULL↔value
    * is a change; identical rows emit nothing, so the diff of a
    * snapshot with itself is empty). Output: (op, key, payload…)
    * with the NEW image on I/U and the OLD image on D — exactly the
    * shape [[applyChanges]] consumes, so
    * `applyChanges(prev, diffSnapshots(prev, next) + any seq) ≡ next`
    * row-for-row (the round-trip CdcSpec pins). Map-side: one key
    * shuffle of each snapshot, no windows, no driver state. */
  def diffSnapshots(prev: DataFrame, next: DataFrame,
      keyCol: String): DataFrame = {
    val payload = prev.columns.filter(_ != keyCol)
    require(next.columns.filter(_ != keyCol).sorted.sameElements(payload.sorted),
      "diffSnapshots: snapshots must share one schema")
    // `op` is the emitted classification column and __inp/__inn ride
    // the join internally — a payload column reusing any of them
    // would emit duplicate/ambiguous names (the schema-require
    // discipline above, applied to the reserved names)
    Seq("op", "__inp", "__inn").foreach(r =>
      require(!payload.contains(r) && keyCol != r,
        s"diffSnapshots: column name '$r' is reserved by the diff output"))
    // presence sentinels ride each side into the full-outer join so an
    // all-NULL payload row cannot be mistaken for an absent key
    val p = prev.select(col(keyCol) +: lit(1).as("__inp") +:
      payload.map(c => col(c).as(s"__p_$c")): _*)
    val n = next.select(col(keyCol) +: lit(1).as("__inn") +:
      payload.map(c => col(c).as(s"__n_$c")): _*)
    val changed = payload.map(c =>
      !(col(s"__p_$c") <=> col(s"__n_$c"))).reduce(_ || _)
    p.join(n, Seq(keyCol), "full_outer")
      .withColumn("op",
        when(col("__inp").isNull, lit("I"))
          .when(col("__inn").isNull, lit("D"))
          .when(changed, lit("U")))
      .filter(col("op").isNotNull)
      .select(col("op") +: col(keyCol) +: payload.map(c =>
        when(col("op") === "D", col(s"__p_$c"))
          .otherwise(col(s"__n_$c")).as(c)): _*)
  }

  /** Incrementally maintain a per-group (COUNT, MIN, MAX) view under
    * the change log — the IVM case [[maintainGroupAgg]]'s delta
    * algebra CANNOT express: count and sum retract by subtraction,
    * but MIN/MAX are not group-invertible — deleting a group's
    * extremal row leaves the second-smallest unknowable from the view
    * alone. The standard strategy, implemented honestly rather than
    * papered over:
    *
    *  - ADD-side mass folds in O(|Δ|): extremes only extend
    *    monotonically (mn′ = least(mn₀, min of added values));
    *  - a retraction of a NON-extremal old image folds in O(|Δ|) too
    *    (the count moves; the extremes are provably unchanged — the
    *    retracted value was strictly inside the range);
    *  - ONLY groups where some retracted old image EQUALS the group's
    *    current min or max are RECOMPUTED — from the merged snapshot
    *    restricted to exactly those groups by a key-pruned anti/semi
    *    join pair, never a base rescan. (Equality is the right
    *    trigger even under duplicate extremal values: recomputing a
    *    group whose surviving duplicate still holds the extreme is
    *    conservative, skipping one never is.)
    *
    * Affected-group count is bounded by the feed (≤ one group per
    * retraction), so maintaining the view over a 100 TB base under a
    * 1 TB/day feed costs the feed plus the affected groups' members —
    * the [[maintainJoinView]] affected-key discipline applied to the
    * aggregate that needs it. Same latest-wins `max_by` reduction,
    * same old-image fetch through one key equi-join; output equals a
    * full recompute over the merged snapshot (the oracle's pin) and a
    * group whose count reaches 0 vanishes. MIN/MAX copy stored values
    * (no arithmetic), so any orderable value type hashes cross-engine.
    * Output: (group, n, mn, mx). */
  def maintainMinMaxView(snapshot: DataFrame, changes: DataFrame,
      keyCol: String, seqCol: String, opCol: String, groupCol: String,
      valueCol: String): DataFrame = {
    // persisted (r21, guide §2.3): the previous view has two readers
    // (the extremal-hit derivation and the cheap-path outer join) and
    // the winner reduction four (retract join, non-delete adds — used
    // by addAgg AND the recompute members — and the members anti-join);
    // unpersisted, each re-runs its full upstream scan + shuffle.
    // prevAgg is O(groups), latest O(feed).
    val prevAgg = Caching.persist(
      snapshot.groupBy(col(groupCol)).agg(
        count(lit(1)).as("__n0"),
        min(col(valueCol)).as("__mn0"), max(col(valueCol)).as("__mx0")))
    val ord = struct(col(seqCol), col(opCol))
    val latest = Caching.persist(
      changes.groupBy(col(keyCol)).agg(
        max_by(col(opCol), ord).as("__op"),
        max_by(col(groupCol), ord).as("__g"),
        max_by(col(valueCol), ord).as("__v")))
    val snapKeyed = snapshot.select(col(keyCol),
      col(groupCol).as("__og"), col(valueCol).as("__ov"))
    // old images of every changed key present in the snapshot — each
    // is retracted from its OLD group (updates that MOVE a row between
    // groups retract here and add below, the maintainJoinView case)
    val retract = latest.join(snapKeyed, Seq(keyCol))
      .select(col("__og").as(groupCol), col("__ov"))
    val add = latest.filter(col("__op") =!= "D")
      .select(col("__g").as(groupCol), col("__v"))
    val retrAgg = retract.join(prevAgg, Seq(groupCol))
      .groupBy(col(groupCol)).agg(
        count(lit(1)).as("__rn"),
        max(when(col("__ov") === col("__mn0") ||
          col("__ov") === col("__mx0"), 1L).otherwise(0L)).as("__hit"))
    val addAgg = add.groupBy(col(groupCol)).agg(
      count(lit(1)).as("__an"),
      min(col("__v")).as("__amn"), max(col("__v")).as("__amx"))
    val cheap = prevAgg
      .join(retrAgg, Seq(groupCol), "full_outer")
      .join(addAgg, Seq(groupCol), "full_outer")
      .select(col(groupCol),
        (coalesce(col("__n0"), lit(0L)) - coalesce(col("__rn"), lit(0L)) +
          coalesce(col("__an"), lit(0L))).as("n"),
        least(col("__mn0"), col("__amn")).as("mn"),
        greatest(col("__mx0"), col("__amx")).as("mx"),
        coalesce(col("__hit"), lit(0L)).as("__hit"))
    // merged members of ONLY the extremal-retraction groups: snapshot
    // survivors (anti join on changed keys) ∪ latest non-delete
    // winners, semi-joined to the affected group set
    val affected = cheap.filter(col("__hit") === 1L).select(col(groupCol))
    val members = snapshot
      .join(latest.select(col(keyCol)), Seq(keyCol), "left_anti")
      .select(col(groupCol), col(valueCol).as("__v"))
      .unionByName(add)
    val recomputed = members.join(affected, Seq(groupCol), "left_semi")
      .groupBy(col(groupCol)).agg(
        count(lit(1)).as("__n2"),
        min(col("__v")).as("__mn2"), max(col("__v")).as("__mx2"))
    cheap.join(recomputed, Seq(groupCol), "left")
      .select(col(groupCol),
        coalesce(col("__n2"), col("n")).as("n"),
        coalesce(col("__mn2"), col("mn")).as("mn"),
        coalesce(col("__mx2"), col("mx")).as("mx"))
      .filter(col("n") > 0)
  }

  /** Incrementally maintain a per-group TOP-K view (the leaderboard
    * materialization) under the change log — [[maintainMinMaxView]]'s
    * non-invertible story generalized from k = 1: a retraction INSIDE
    * the current top-k exposes the unknowable runner-up, everything
    * else folds in O(|Δ|). The split, with the exact trigger:
    *
    *  - adds fold cheaply: only the batch's own per-group top-k can
    *    enter the view ([[graft.functions.TopKAggregate]]'s bounded
    *    map-side heaps reduce the batch), merged with the previous
    *    list by one array expression and re-cut at k;
    *  - a retraction whose (value, key) entry is NOT in the previous
    *    list cannot change it (it ranked below k; exact membership —
    *    duplicates and boundary ties included — via an `exists` probe
    *    on the carried list);
    *  - ONLY groups with an in-list retraction recompute, from the
    *    merged snapshot key-pruned to those groups, through the same
    *    bounded-heap aggregate (ordering: value DESC, key ASC — the
    *    one ordering all three paths and the oracle share).
    *
    * Affected-group count is bounded by the feed; the base is touched
    * through one old-image key join + the affected groups' members.
    * Output: (group, rank, key, value) exploded rows, rank 1-based;
    * emptied groups vanish. `valueCol` must be numeric (ranked as
    * double — the TopKAggregate score contract). */
  def maintainTopKView(snapshot: DataFrame, changes: DataFrame,
      keyCol: String, seqCol: String, opCol: String, groupCol: String,
      valueCol: String, k: Int): DataFrame = {
    import graft.functions.TopKAggregate.topK
    require(k >= 1, s"k must be >= 1, got $k")
    // persisted (r21): same multi-reader shape as [[maintainMinMaxView]]
    // — prevTop has two readers, the winner reduction four
    val prevTop = Caching.persist(
      snapshot.groupBy(col(groupCol)).agg(
        count(lit(1)).as("__n0"),
        topK(col(valueCol).cast("double"), col(keyCol), col(keyCol), k)
          .as("__prev")))
    val ord = struct(col(seqCol), col(opCol))
    val latest = Caching.persist(
      changes.groupBy(col(keyCol)).agg(
        max_by(col(opCol), ord).as("__op"),
        max_by(col(groupCol), ord).as("__g"),
        max_by(col(valueCol), ord).as("__v")))
    val snapKeyed = snapshot.select(col(keyCol),
      col(groupCol).as("__og"), col(valueCol).cast("double").as("__ov"))
    val retract = latest.join(snapKeyed, Seq(keyCol))
      .select(col("__og").as(groupCol), col("__ov"), col(keyCol).as("__ok"))
    val adds = latest.filter(col("__op") =!= "D")
      .select(col("__g").as(groupCol),
        col("__v").cast("double").as("__v"), col(keyCol))
    val addsTop = adds.groupBy(col(groupCol)).agg(
      count(lit(1)).as("__an"),
      topK(col("__v"), col(keyCol), col(keyCol), k).as("__adds"))
    // exact in-list membership of each retracted old image
    val retrAgg = retract.join(prevTop, Seq(groupCol))
      .withColumn("__in", exists(col("__prev"),
        e => e.getField("score") === col("__ov") &&
          e.getField("payload") === col("__ok")))
      .groupBy(col(groupCol)).agg(
        count(lit(1)).as("__rn"),
        max(when(col("__in"), 1L).otherwise(0L)).as("__hit"))
    // (value DESC, key ASC) — TopKAggregate's exact output ordering,
    // applied to the merged list so cheap and recomputed paths agree
    val cmp = "(l, r) -> CASE WHEN l.score > r.score THEN -1 " +
      "WHEN l.score < r.score THEN 1 WHEN l.payload < r.payload THEN -1 " +
      "WHEN l.payload > r.payload THEN 1 ELSE 0 END"
    val cheap = prevTop
      .join(addsTop, Seq(groupCol), "full_outer")
      .join(retrAgg, Seq(groupCol), "left")
      .select(col(groupCol),
        (coalesce(col("__n0"), lit(0L)) - coalesce(col("__rn"), lit(0L)) +
          coalesce(col("__an"), lit(0L))).as("__n"),
        expr(s"""slice(array_sort(concat(
          coalesce(__prev, slice(__adds, 1, 0)),
          coalesce(__adds, slice(__prev, 1, 0))), $cmp), 1, $k)""")
          .as("__list"),
        coalesce(col("__hit"), lit(0L)).as("__hit"))
    val affected = cheap.filter(col("__hit") === 1L).select(col(groupCol))
    val members = snapshot
      .join(latest.select(col(keyCol)), Seq(keyCol), "left_anti")
      .select(col(groupCol), col(valueCol).cast("double").as("__v"),
        col(keyCol))
      .unionByName(adds)
    val recomputed = members.join(affected, Seq(groupCol), "left_semi")
      .groupBy(col(groupCol))
      .agg(topK(col("__v"), col(keyCol), col(keyCol), k).as("__list2"))
    cheap.filter(col("__n") > 0L)
      .join(recomputed, Seq(groupCol), "left")
      .select(col(groupCol),
        posexplode(coalesce(col("__list2"), col("__list")))
          .as(Seq("__pos", "__e")))
      .select(col(groupCol), (col("__pos") + 1).cast("long").as("rank"),
        col("__e.payload").as(keyCol), col("__e.score").as(valueCol))
  }

  /** Incrementally maintain a JOIN view under change logs on BOTH
    * inputs — the other half of incremental view maintenance
    * ([[maintainGroupAgg]] keeps aggregates fresh; this keeps a
    * denormalized join table fresh), the delta-join algebra every
    * stream-warehouse materialization engine implements. The view is
    * `aSnap ⋈_joinCol bSnap` (inner equi-join); A is keyed by `aKey`
    * and carries `joinCol` as a foreign key (so an A-update can MOVE a
    * row between join keys), B is keyed by `joinCol` itself.
    *
    * Affected-key recompute, the standard IVM strategy for key-equi
    * joins: the set of join keys any change can touch is
    *   affected = π_join(aSnap ⋉ keys(ΔA))   -- OLD fk of changed A rows
    *            ∪ π_join(ΔA non-delete)      -- NEW fk (covers moves)
    *            ∪ keys(ΔB),
    * and the next view is
    *   V′ = (V anti⋉ affected) ∪ (A′|affected ⋈ B′|affected)
    * where A′|affected / B′|affected are the merged-next-state rows
    * restricted to affected join keys (unchanged snapshot rows
    * semi-joined in, changed keys replaced by their latest-wins
    * version, deletes dropped — the [[applyChanges]] reduction). The
    * move case is why the OLD fk term exists: an order re-pointed to a
    * new customer must retract its row under the old customer, which
    * keys(ΔA)'s new image alone would never touch.
    *
    * Scale shape: `affected` is bounded by the FEED size (≤ |ΔA| +
    * |ΔB| keys, persisted once), so the 100 TB base is touched only
    * through key-pruned semi/anti joins — maintaining the view costs
    * the day's feed, not the base. The broadcast hint on `affected`
    * is gated on its MEASURED key count (`broadcastKeyLimit`; the
    * count doubles as the materializing action for the persisted
    * frame): a feed too large to broadcast degrades to shuffled
    * semi-joins — never to a rescan, and never to a driver OOM from a
    * forced hint overriding AQE's size logic (AQE may still broadcast
    * an under-threshold side from its own runtime stats, which is the
    * correct authority once the explicit hint steps aside). Every
    * change row is reduced map-side by the same `max_by` partial
    * aggregation as [[applyChanges]]. The output equals a full
    * recompute over both merged snapshots — what the oracle pins. */
  def maintainJoinView(viewPrev: DataFrame, aSnap: DataFrame,
      aChanges: DataFrame, aKey: String, bSnap: DataFrame,
      bChanges: DataFrame, joinCol: String, seqCol: String,
      opCol: String,
      broadcastKeyLimit: Long = 4000000L): DataFrame = {
    val aPayload = aSnap.columns.filter(_ != aKey) // includes joinCol
    val bPayload = bSnap.columns.filter(_ != joinCol)
    require(aPayload.contains(joinCol),
      s"maintainJoinView: A must carry join column $joinCol")
    val ord = struct(col(seqCol), col(opCol))
    // persisted (r21, guide §2.3): each winner reduction has several
    // physical readers (the affected-key derivation, its own anti-join
    // against the snapshot, and the non-delete union into the delta) —
    // unpersisted, every reader re-runs the change-feed scan + groupBy.
    // Both frames are feed-bounded.
    val aLatest = Caching.persist(
      aChanges.groupBy(col(aKey)).agg(
        max_by(col(opCol), ord).as("__op"),
        aPayload.map(c => max_by(col(c), ord).as(c)): _*))
    val bLatest = Caching.persist(
      bChanges.groupBy(col(joinCol)).agg(
        max_by(col(opCol), ord).as("__op"),
        bPayload.map(c => max_by(col(c), ord).as(c)): _*))
    val affected = Caching.persist(
      aSnap.join(aLatest.select(col(aKey)), Seq(aKey), "left_semi")
        .select(col(joinCol))
        .unionByName(aLatest.filter(col("__op") =!= "D").select(col(joinCol)))
        .unionByName(bLatest.select(col(joinCol)))
        .distinct())
    // gate the hint on the measured count (also the materializing
    // action for the persisted frame): over the limit, the semi/anti
    // joins run shuffled — degraded, not OOM'd
    val aff =
      if (affected.count() <= broadcastKeyLimit) broadcast(affected)
      else affected
    val aCols = (aKey +: aPayload).map(col(_))
    val aAff = aSnap
      .join(aff, Seq(joinCol), "left_semi")
      .join(aLatest.select(col(aKey)), Seq(aKey), "left_anti")
      .select(aCols: _*)
      .unionByName(aLatest.filter(col("__op") =!= "D").select(aCols: _*))
    val bCols = (joinCol +: bPayload).map(col(_))
    val bAff = bSnap
      .join(aff, Seq(joinCol), "left_semi")
      .join(bLatest.select(col(joinCol)), Seq(joinCol), "left_anti")
      .select(bCols: _*)
      .unionByName(bLatest.filter(col("__op") =!= "D").select(bCols: _*))
    val delta = aAff.join(bAff, Seq(joinCol))
    // the using-column anti-join moves joinCol to the front — project
    // back so the maintained view keeps viewPrev's column order
    viewPrev.join(aff, Seq(joinCol), "left_anti")
      .unionByName(delta.select(viewPrev.columns.map(col(_)): _*))
      .select(viewPrev.columns.map(col(_)): _*)
  }

  /** Gate a change feed through a per-row keep predicate, so every
    * downstream maintainer sees the CURATED view's changes: an
    * insert/update whose new image FAILS the gate becomes a DELETE
    * (the doc leaves — or never enters — the curated corpus; a
    * gated D for a never-present key is a harmless no-op in every
    * latest-wins fold), a passing upsert rides through unchanged,
    * and raw deletes pass untouched. This is how a quality filter
    * composes with incremental maintenance: the gate is a pure
    * per-row function of the NEW image, so re-classifying only the
    * batch keeps the curated snapshot exactly equal to filtering the
    * merged corpus from scratch — an update that degrades below the
    * bar retracts the doc, one that climbs above it admits it.
    *
    * The batch is reduced to its [[latestChanges]] winners per key
    * FIRST — gate the winner, never every version. Classifying all
    * versions and joining the flags back on the id alone was the
    * round-17 `phashMaintain` shape (Multimodal.scala's fix note): a
    * batch legally carrying TWO versions of one key (I at seq₁, U at
    * seq₂) makes that join many-to-many, each version picks up BOTH
    * keep flags, and in a downstream latest-wins fold the duplicate
    * (seq, 'U') row beats its gated (seq, 'D') twin — a
    * quality-FAILING update silently admitted. Gated losers are
    * irrelevant under any latest-wins fold, so the reduction is also
    * the cheapest correct shape: the output carries EXACTLY ONE row
    * per changed key (the winner, with its winning seq and op).
    *
    * `classify` receives the winners' non-delete rows (full column
    * shape) and must return one `(idCol, keep)` row per input row —
    * e.g. [[graft.operators.TextAnalysis.filterBattery]]. Two classify
    * contract violations fail loudly, each with its own message: a
    * classify that DROPS a row (no flag for a winner — the stale image
    * would stay live in every maintained view) and a classify that
    * returns a NULL `keep` value (neither admit nor retract). One
    * key-reduce plus one id-keyed join of the winners against their
    * own flags (ids are unique after the reduce, so the join cannot
    * fan out); the feed's column order is preserved.
    *
    * Two more contract guarantees (r20): the winner reduction orders
    * by `struct(seq, op)`, so two same-key rows with EQUAL seq would
    * tie-break by op lexicographically — silently, against the feed
    * contract's monotone-seq promise; the reduction therefore asserts
    * per-key seq uniqueness and raises on a duplicated (key, seq).
    * And a gated retraction emits its `D` with NULL payload columns
    * (the winning seq is retained — a feed row needs it), honouring
    * the downstream maintainers' documented "payload NULL on deletes"
    * contract instead of leaking the failing winner's image.
    *
    * The winner reduction is persisted (r21, guide §2.3): it has THREE
    * physical readers in one materialization — both sides of the
    * winner⋈flags join (the classify input and the join's left) plus
    * the raw-delete union branch — so an unpersisted reduction re-runs
    * the feed scan + groupBy three times per action. Feed-bounded by
    * construction. */
  def gateFeed(changes: DataFrame, idCol: String, seqCol: String,
      opCol: String)
      (classify: DataFrame => DataFrame): DataFrame = {
    // the [[latestChanges]] reduction, inlined to RETAIN the winning
    // seq (latestChanges drops it — a maintainer folding the winner
    // needs no seq, but a gated FEED must stay a feed)
    val ord = struct(col(seqCol), col(opCol))
    val payload = changes.columns.filterNot(Seq(idCol, opCol).contains)
    val latest = changes.groupBy(col(idCol)).agg(
        max_by(col(opCol), ord).as(opCol),
        payload.map(c => max_by(col(c), ord).as(c)) ++ Seq(
          count(lit(1)).as("__n"),
          count_distinct(col(seqCol)).as("__nseq")): _*)
      .filter(assert_true(col("__nseq") === col("__n"), concat(
        lit("gateFeed: duplicate (key, seq) in batch for id "),
        col(idCol).cast("string"),
        lit(" — the feed contract requires per-key unique, monotone " +
          "seq; an equal-seq pair would tie-break by op silently")))
        .isNull)
      .select(changes.columns.map(col(_)): _*)
    val latestP = Caching.persist(latest)
    val iu = latestP.filter(col(opCol) =!= "D")
    // __classified marks "classify emitted a row for this id" so a
    // dropped winner (flag row absent) and a NULL keep VALUE (flag row
    // present, keep null) raise distinct messages — they are different
    // classify bugs and the old single isNull check conflated them
    val flags = classify(iu)
      .select(col(idCol), col("keep"), lit(true).as("__classified"))
    val gatedOps = iu.join(flags, Seq(idCol), "left")
      .withColumn(opCol,
        when(col("__classified").isNull, raise_error(concat(
          lit("gateFeed: classify returned no flag for id "),
          col(idCol).cast("string"),
          lit(" (the classify function dropped the row)"))))
          .when(col("keep").isNull, raise_error(concat(
            lit("gateFeed: classify returned a NULL keep value for id "),
            col(idCol).cast("string"))))
          .when(col("keep"), col(opCol))
          .otherwise(lit("D")))
    // a gated retraction is a DELETE: null its payload (except the
    // winning seq) so downstream maintainers' "payload NULL on
    // deletes" contract holds for gated feeds too
    val gated = payload.filterNot(_ == seqCol).foldLeft(gatedOps) {
      (df, c) => df.withColumn(c, when(col(opCol) === "D",
        lit(null).cast(df.schema(c).dataType)).otherwise(col(c)))
    }.drop("keep", "__classified")
    latestP.filter(col(opCol) === "D")
      .unionByName(gated.select(changes.columns.map(col(_)): _*))
  }

  /** Expand a change log into SCD2 history rows: (key, payload...,
    * valid_from, valid_to, is_current). `valid_to` is the next
    * version's sequence (exclusive) or NULL while current; a `D` op
    * closes the key (emits no row itself, but bounds its
    * predecessor). */
  def scd2History(changes: DataFrame, keyCol: String, seqCol: String,
      opCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol)).orderBy(col(seqCol).asc)
    changes
      .withColumn("valid_to", lead(col(seqCol), 1).over(w))
      .filter(col(opCol) =!= "D")
      .withColumn("is_current", col("valid_to").isNull)
      .withColumnRenamed(seqCol, "valid_from")
      .drop(opCol)
  }

  /** Point-in-time (as-of) enrichment of a fact stream against an SCD2
    * dimension: each fact row joins THE dimension version that was
    * valid at the fact's own sequence/time — `fact.at ∈
    * [valid_from, valid_to)` with an open (NULL) valid_to meaning
    * "current". The training-data shape of this query is "label each
    * event with the feature values AS OF the event, not as of today" —
    * joining against the current snapshot instead is the classic
    * feature-leakage bug; the version chain from [[scd2History]] is
    * what makes the leak-free join expressible.
    *
    * Facts that predate their key's first version (or whose key has no
    * version at all) are dropped — an inner join, because an "enriched"
    * row with NULL features is the leak in a different costume; callers
    * wanting the audit view can anti-join the output against the input.
    *
    * Scale shape: ONE equi-join on the key (the interval predicate
    * rides along as a residual filter, it never degrades the join into
    * a range/cross product) — per-key version chains are short (one row
    * per change, not per fact), so the residual scan per matched key is
    * bounded by the chain length. Both sides shuffle once on the key;
    * at 100 TB the fact side dominates and partitions exactly as any
    * fact-dimension equi-join does. Each fact matches AT MOST one
    * version (the [from, to) ranges partition the sequence axis by
    * construction of scd2History), so the join cannot fan out.
    *
    * Returns every fact column plus the dimension's non-key columns
    * (valid_from kept — it names the version that matched).
    *
    * Reference: /root/reference/sqlengine.py has no CDC/temporal
    * surface (extension per the brief's pipeline family). */
  def pointInTimeJoin(facts: DataFrame, dim: DataFrame, keyCol: String,
      atCol: String): DataFrame = {
    require(dim.columns.contains("valid_from") &&
      dim.columns.contains("valid_to"),
      "pointInTimeJoin: dim must be an scd2History-shaped frame " +
        "(valid_from/valid_to columns)")
    val f = facts.alias("__f")
    val v = dim.alias("__v")
    val payload = dim.columns.filter(c => c != keyCol && c != "valid_to" &&
      c != "is_current")
    // the output is facts.* ++ payload: a shared name would emit two
    // columns with one name — legal to Spark, poison to every
    // name-based consumer downstream — so collide loudly instead
    // (rename the fact column, or drop it, before enriching)
    val collisions = facts.columns.toSet.intersect(payload.toSet)
    require(collisions.isEmpty,
      s"pointInTimeJoin: fact columns ${collisions.mkString(", ")} " +
        "collide with the dimension payload — the enriched frame would " +
        "carry duplicate column names")
    f.join(v,
        col(s"__f.$keyCol") === col(s"__v.$keyCol") &&
          col(s"__f.$atCol") >= col("__v.valid_from") &&
          (col("__v.valid_to").isNull ||
            col(s"__f.$atCol") < col("__v.valid_to")),
        "inner")
      .select(col("__f.*") +: payload.map(c => col(s"__v.$c")): _*)
  }
}
