package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Structured Streaming pipelines over the `events` table shape
  * (event_id, ts, user_id, event_type, value). The reference engine is
  * batch-only (SURVEY.md §2.9); these are the streaming extension.
  *
  * The batch analogs (same arithmetic, DuckDB-oracled) live in
  * [[graft.PipelineQueries]]; these operators are exercised by
  * EventStreamsSpec, which drives the events parquet through a real
  * streaming query (`processAllAvailable`) and compares against the
  * batch result.
  *
  * Scale notes: windowed aggregation state is bounded by the watermark
  * (late data beyond 10 min is dropped, state evicted); sessionization
  * state is one small struct per active user, keyed — i.e. hash
  * partitioned — by user_id, so a 1000-executor cluster shards state
  * linearly.
  */
object EventStreams {

  /** Seconds in a watermark-delay interval string, via the same parser
    * `withWatermark` uses; month-bearing intervals have no fixed second
    * length and are rejected. */
  private def parseDelaySeconds(delay: String): Long = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(delay))
    require(iv.months == 0, s"month-bearing watermark delay not supported: $delay")
    iv.days * 86400L + iv.microseconds / 1000000L
  }

  final case class Event(user_id: Long, ts_s: Long, value: Double)
  final case class SessionState(start: Long, end: Long, n: Long)
  final case class Session(user_id: Long, session_start: Long,
      session_end: Long, n_events: Long)
  final case class Trend(window_start: Long, event_type: String,
      n: Long, rank: Int)

  /** The events source as a stream. The physical type of `ts` has
    * drifted across testdata generations (int64 nanos → timestamp[us]);
    * [[graft.sources.EventsTime]] adapts per schema and derives a
    * proper timestamp column for watermarking. */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    // the file source wants a directory; glob-filter down to the table
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
    stream.withColumn("event_time", graft.sources.EventsTime.eventTime(stream))
  }

  /** Stream-static enrichment join — the lookup every event pipeline
    * does before anything else: attach dimension attributes (user
    * segment, device class, geo) to each event. Stateless: a
    * stream-static join keeps NO streaming state and needs no
    * watermark; the static side is re-evaluated every microbatch, so a
    * dimension read from parquet picks up newly arrived files between
    * batches (slowly-changing dimension for free). The dimension is
    * broadcast — at 100 TB/day of events, shuffling the stream to
    * co-locate with a dimension that fits in memory would be the
    * single worst plan choice available; broadcast keeps the stream
    * map-only. Default `left_outer` so an event with no dimension row
    * survives with nulls (inner would silently drop it). */
  def enrichEvents(events: DataFrame, dim: DataFrame, key: String,
      joinType: String = "left_outer"): DataFrame =
    events.join(broadcast(dim), Seq(key), joinType)

  /** Exactly-once OUTPUT via an idempotent foreachBatch sink: each
    * microbatch overwrites its own `batch_id=<id>` directory, so the
    * at-least-once batch REPLAY of checkpoint recovery (the crashed
    * batch re-runs on restart) rewrites the same files instead of
    * appending duplicates. This is the standard pattern for sinks
    * without a transaction log (object stores, JDBC upserts — there
    * the overwrite becomes a keyed MERGE); Spark's built-in file sink
    * gets the same guarantee from its own commit log. The sink
    * directory is hive-partitioned by batch_id, so a reader doing
    * `spark.read.parquet(outDir)` sees exactly-once data with batch
    * lineage for free. */
  def idempotentParquetSink(df: DataFrame, outDir: String,
      checkpoint: String): StreamingQuery =
    Fold.start(df, checkpoint) { (batch, id) =>
      batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$id")
    }

  /** Tumbling 5-minute per-type counts/sums with a 10-minute watermark:
    * the streaming analog of the `ev_window_tumbling` batch query. */
  def windowedTypeCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("event_time", "10 minutes")
      .groupBy(window(col("event_time"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").cast("long").as("bucket"),
        col("event_type"), col("n"), col("sum_value"))

  /** Per-window heavy hitters: the mergeable Misra–Gries summary
    * ([[graft.functions.MisraGriesAggregate]]) as a streaming
    * aggregation — each window's state is a ≤ k-counter buffer, NOT a
    * per-key count map, so state size is bounded by k·windows however
    * many distinct keys flow through. The estimates are merge-order-
    * dependent (micro-batch arrival order differs run to run) but the
    * mergeable-summaries contract — tracked ⊇ true-heavy, no
    * overcount, undercount ≤ N/(k+1) — holds for every interleaving;
    * consumers assert the contract, not the raw counters (same rule as
    * the batch `ev_heavy_hitters` query). This is also why the
    * stream≡batch pin for this twin (`EventStreamsSpec`) compares the
    * CONTRACT against a batch exact groupBy rather than pinning rows
    * equal the way the sessionize/sliding-window twins do: row
    * equality between two different merge trees is not a property MG
    * has, so a row-equal test would be pinning noise. */
  def windowedHeavyHitters(events: DataFrame, k: Int = 4): DataFrame =
    events
      .withWatermark("event_time", "10 minutes")
      .groupBy(window(col("event_time"), "5 minutes"))
      .agg(graft.functions.MisraGriesAggregate
        .heavyHitters(col("event_type"), k).as("hh"))
      .select(col("window.start").cast("long").as("bucket"),
        explode(col("hh")).as("c"))
      .select(col("bucket"), col("c.key").as("event_type"), col("c.est"))

  /** Per-window distribution-drift monitor: each 5-minute tumbling
    * window's value-decile histogram, compared against a REFERENCE
    * histogram by total-variation distance (see
    * [[graft.operators.Profiling.tvDrift]] for why TV and not PSI:
    * rational in the counts, no ln()). The reference arrives as ten
    * literals — in production, the per-bin counts the last blessed
    * batch profile published — so the comparison is STATELESS beyond
    * the single windowed aggregation: the histogram is ten conditional
    * sums inside one stateful agg (state = 10 longs per window,
    * watermark-evicted), and the TV arithmetic is a plain per-row
    * projection on the finalized window row. Exact integers until the
    * one double division; run on a batch frame (watermark is a no-op
    * there) it produces bit-identical rows, which is how the
    * `ev_window_drift` batch query and EventStreamsSpec's stream≡batch
    * pin both reuse it. */
  def windowedValueDrift(events: DataFrame, refCounts: Seq[Long]): DataFrame = {
    require(refCounts.length == 10,
      s"expected a 10-bin reference histogram, got ${refCounts.length}")
    val nRef = refCounts.sum
    require(nRef > 0, "reference histogram must not be empty")
    // clamp BOTH ends into the edge bins: a value below 0 lands in bin
    // 0 exactly as an outlier above 450 lands in bin 9 — without the
    // lower clamp a negative-drifting stream silently vanishes from
    // n_window and the monitor built to catch drift under-reports it
    val bin = greatest(lit(0L),
      least(lit(9L), floor(col("value") / 50).cast("long")))
    val binSums = (0 until 10).map(b =>
      sum(when(bin === b, 1L).otherwise(0L)).as(s"__c$b"))
    val agg = events
      .withWatermark("event_time", "10 minutes")
      .groupBy(window(col("event_time"), "5 minutes"))
      .agg(binSums.head, binSums.tail: _*)
    val cs = (0 until 10).map(b => col(s"__c$b"))
    val nWin = cs.reduce(_ + _)
    val sumAbs = (0 until 10).map(b =>
      abs(cs(b) * lit(nRef) - lit(refCounts(b)) * nWin)).reduce(_ + _)
    agg.select(col("window.start").cast("long").as("bucket"),
      nWin.as("n_window"),
      (sumAbs.cast("double") /
        (lit(2.0) * (nWin * lit(nRef)).cast("double"))).as("tv"))
  }

  /** Per-window approximate unique users — the streaming twin of the
    * daily HLL rollup (`ev_daily_uniques_approx`): one HLL++ sketch of
    * state per open window (2^p registers at the given rsd),
    * watermark-evicted. HLL registers merge by MAX — commutative and
    * associative — so partial merges across partitions/micro-batches
    * produce the IDENTICAL estimate a batch run computes over the same
    * input set: stream ≡ batch is row-equal here (pinned in
    * EventStreamsSpec), not merely contract-equal like the
    * Misra–Gries twin whose merges are order-dependent.
    *
    * Size rsd for the PER-WINDOW state budget, not headline accuracy:
    * sketch memory is ~2^p registers PER OPEN WINDOW (rsd 0.005 →
    * 2^16 ≈ 64 KB each — ~570 MB across 9k windows, the same
    * per-group-buffer blowup q_approx_distinct's scaladoc documents;
    * measured 4.3 s → 0.8 s at sf0.1 moving to the default below).
    * Spark's HLL++ has NO exact sparse mode (dense registers from the
    * first insert), so small-window estimates carry register-collision
    * noise at coarse rsd — 2^12 registers already mis-estimated
    * 4-user windows by ±1 (25%) in testing. The 0.01 default (2^14 =
    * 16 KB/window, 4× under the headline setting) is the measured
    * sweet spot: collision-free on small windows, ~1%σ beyond;
    * tighten only with a matching state budget. */
  def windowedApproxUniques(events: DataFrame, rsd: Double = 0.01): DataFrame =
    events
      .withWatermark("event_time", "10 minutes")
      .groupBy(window(col("event_time"), "5 minutes"))
      .agg(approx_count_distinct(col("user_id"), rsd).as("approx_users"))
      .select(col("window.start").cast("long").as("bucket"),
        col("approx_users"))

  /** Hopping (sliding) 10-minute/5-minute per-type counts with a
    * 10-minute watermark — the streaming analog of the
    * `ev_sliding_window` batch query: the SAME `window()` expression
    * runs in both, each event landing in exactly two epoch-aligned
    * windows. */
  def hoppingTypeCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("event_time", "10 minutes")
      .groupBy(window(col("event_time"), "600 seconds", "300 seconds"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("long").as("ws_s"),
        col("event_type"), col("n"))

  /** Streaming exact-duplicate removal: collapses rows with identical
    * (`keyCols`, event_time) — the "same record delivered twice"
    * at-least-once-transport case. A key recurring at a DIFFERENT
    * timestamp is kept (it is a new event, not a redelivery); use
    * [[dedupEventsByKey]] for key-only first-wins semantics. State is
    * bounded by the watermark: Spark evicts an entry once the watermark
    * passes its event time. */
  def dedupEvents(events: DataFrame, keyCols: Seq[String],
      watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("event_time", watermarkDelay)
      .dropDuplicates(keyCols :+ "event_time")

  /** Streaming key-only dedup: the FIRST event per `keyCols` wins and
    * later events with the same key are dropped for as long as the
    * key's state lives. `dropDuplicatesWithinWatermark` bounds that
    * state by the watermark delay (entries evict `watermarkDelay` after
    * their event time), so an unbounded stream runs in bounded memory —
    * the guarantee is exactly-once WITHIN the delay window, the
    * standard contract when upstream retries are time-bounded. */
  def dedupEventsByKey(events: DataFrame, keyCols: Seq[String],
      watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("event_time", watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Stream-stream inner join: purchases enriched with the same user's
    * clicks in the preceding 10 minutes. Both sides carry watermarks and
    * the join condition bounds event-time distance, so Spark can evict
    * buffered rows — state stays proportional to the window, not the
    * stream. The batch twin is the registered `ev_stream_join` query
    * (TemporalJoins.boundedRangeJoin, DuckDB-oracled); EventStreamsSpec
    * asserts this stream equals that twin row-for-row. */
  def purchasesWithRecentClicks(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("event_time").as("purchase_time"))
      .withWatermark("purchase_time", "10 minutes")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("event_time").as("click_time"))
      .withWatermark("click_time", "20 minutes")
    purchases.join(clicks,
      col("user_id") === col("click_user") &&
        col("click_time") >= col("purchase_time") - expr("INTERVAL 10 MINUTES") &&
        col("click_time") < col("purchase_time"))
      .select("purchase_id", "user_id", "purchase_time", "click_id", "click_time")
  }

  /** Left-outer variant of [[purchasesWithRecentClicks]]: every
    * purchase emits exactly once — matched purchases as inner pairs,
    * unmatched ones with null click columns once the watermark proves
    * no qualifying click can still arrive (click watermark past the
    * purchase time). This deferred null emission is the one interval-
    * join semantics Append mode cannot fake with an inner join + batch
    * completion: the "no match" verdict itself needs the watermark.
    * State stays bounded exactly as in the inner variant. */
  def purchasesWithRecentClicksOuter(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("event_time").as("purchase_time"))
      .withWatermark("purchase_time", "10 minutes")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("event_time").as("click_time"))
      .withWatermark("click_time", "20 minutes")
    purchases.join(clicks,
      col("user_id") === col("click_user") &&
        col("click_time") >= col("purchase_time") - expr("INTERVAL 10 MINUTES") &&
        col("click_time") < col("purchase_time"),
      "leftOuter")
      .select("purchase_id", "user_id", "purchase_time", "click_id", "click_time")
  }

  /** Streaming twin of
    * [[graft.operators.TemporalJoins.intervalOverlapJoin]]: all pairs
    * of equal-key rows whose half-open TIME intervals intersect
    * (`lStart < rEnd && rStart < lEnd`), as a watermarked
    * stream-stream join. The batch operator gets exactly-once from
    * canonical slot buckets; here the symmetric-hash join emits each
    * qualifying pair exactly once by construction (Append-mode inner
    * join), and the batch slot-width intuition reappears as the STATE
    * BOUND: interval lengths are capped at `maxLenSeconds` — asserted
    * IN-PLAN on both sides, because the cap is a correctness premise
    * of the join condition, not advice — so overlap implies
    * |lStart − rStart| < maxLen, the explicit event-time-distance
    * conjunct below, which is exactly what lets Spark evict buffered
    * rows once the opposite side's watermark passes. State ∝ arrival
    * rate × (maxLen + watermark delay), independent of stream length.
    * Losslessness of the added conjunct: rStart < lEnd ≤ lStart +
    * maxLen and lStart < rEnd ≤ rStart + maxLen, so every truly
    * overlapping pair survives it. Both sides must carry distinct
    * column names (rename on the way in — the
    * [[purchasesWithRecentClicks]] contract). Crash recovery is the
    * engine's stream-stream join state in the checkpoint, pinned by
    * EventStreamsSpec's kill-and-restart test.
    *
    * `onOverlong` picks the violation policy — and it matters MORE
    * here than in the batch guards this idiom comes from, because a
    * failed micro-batch replays from the checkpoint and fails again
    * forever (one bad row is a poison pill until someone edits the
    * source): "fail" (default) keeps the in-plan assert — integrity
    * over availability, the pipeline stops rather than silently
    * missing matches; "drop" filters violating intervals out instead
    * — availability over completeness, the documented trade that a
    * violating row loses ITS matches but the stream keeps flowing
    * (pair it with a dead-letter audit of the source if dropped rows
    * must be accounted). */
  def streamingIntervalOverlap(left: DataFrame, right: DataFrame,
      lKey: String, rKey: String, lStart: String, lEnd: String,
      rStart: String, rEnd: String, maxLenSeconds: Long,
      watermarkDelay: String = "10 minutes",
      onOverlong: String = "fail"): DataFrame = {
    require(maxLenSeconds >= 1,
      s"maxLenSeconds must be >= 1, got $maxLenSeconds")
    require(onOverlong == "fail" || onOverlong == "drop",
      s"onOverlong must be 'fail' or 'drop', got $onOverlong")
    def capped(df: DataFrame, s: String, e: String): DataFrame = {
      val fitsCap = col(e) <= col(s) + expr(s"INTERVAL $maxLenSeconds SECONDS")
      val gate =
        if (onOverlong == "drop") fitsCap
        else assert_true(fitsCap,
          concat(lit("streamingIntervalOverlap: interval ["), col(s),
            lit(", "), col(e),
            lit(s") exceeds maxLenSeconds=$maxLenSeconds — the distance " +
              "conjunct would silently drop its matches"))).isNull
      // half-open: empty intervals join nothing
      df.filter(col(e) > col(s)).filter(gate)
    }
    val l = capped(left, lStart, lEnd).withWatermark(lStart, watermarkDelay)
    val r = capped(right, rStart, rEnd).withWatermark(rStart, watermarkDelay)
    l.join(r,
      col(lKey) === col(rKey) &&
        col(lStart) < col(rEnd) && col(rStart) < col(lEnd) &&
        col(rStart) > col(lStart) - expr(s"INTERVAL $maxLenSeconds SECONDS") &&
        col(rStart) < col(lStart) + expr(s"INTERVAL $maxLenSeconds SECONDS"))
  }

  /** Per-window trending top-k: the k most frequent event types of
    * every tumbling window, emitted ONCE, when the watermark passes the
    * window's end — the finalize-on-watermark pattern streaming sort/
    * limit restrictions otherwise forbid (Append mode cannot rank an
    * ever-growing window). State per open window is one small
    * type→count map keyed — hash partitioned — by window start, and the
    * event-time timeout both finalizes and evicts it, so state is
    * bounded by (windows in flight × distinct types), independent of
    * stream length. Ranking is deterministic: count DESC, type ASC. */
  def trendingTopK(events: DataFrame, k: Int, windowSeconds: Long = 300,
      watermarkDelay: String = "10 minutes"): Dataset[Trend] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("event_time", watermarkDelay)
      // the watermarked column must SURVIVE into the stateful operator
      // (selecting it away fails analysis for event-time timeouts)
      .select(col("event_time"), col("event_time").cast("long").as("ts_s"),
        col("event_type"))
      .as[(java.sql.Timestamp, Long, String)]
      .groupByKey { case (_, ts, _) => ts - java.lang.Math.floorMod(ts, windowSeconds) }
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (wstart: Long, it: Iterator[(java.sql.Timestamp, Long, String)],
            state: GroupState[Map[String, Long]]) =>
          if (state.hasTimedOut) {
            val counts = state.get
            state.remove()
            counts.toSeq.sortBy { case (t, n) => (-n, t) }.take(k)
              .zipWithIndex.iterator
              .map { case ((t, n), i) => Trend(wstart, t, n, i + 1) }
          } else {
            val merged = it.foldLeft(state.getOption.getOrElse(Map.empty[String, Long])) {
              case (m, (_, _, t)) => m.updated(t, m.getOrElse(t, 0L) + 1L)
            }
            state.update(merged)
            // finalize when the watermark passes the window end
            state.setTimeoutTimestamp(math.max(
              (wstart + windowSeconds) * 1000L + 1,
              state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
  }

  /** Spark's NATIVE session_window aggregation as a stream: the same
    * `groupBy(user_id, session_window(event_time, gap))` expression
    * the registered `ev_session_native` batch query runs, watermarked
    * — Append-mode legal because Spark finalizes a session window
    * (and evicts its state) once the watermark passes the window end
    * (= last event + gap). The declarative twin of the hand-rolled
    * [[sessionize]]: that one exists for the custom-state shape
    * (explicit merge rules, late-event policy); this one lets the
    * engine own merge + eviction. Output matches the batch query's
    * columns: (user_id, session_start, session_end = last event,
    * n_events). */
  def sessionWindowCounts(events: DataFrame, gap: String = "30 minutes",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val gapSeconds = parseDelaySeconds(gap)
    events
      .withWatermark("event_time", watermarkDelay)
      .groupBy(col("user_id"), session_window(col("event_time"), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("sw.start").cast("long").as("session_start"),
        // window end = last event + gap; recover the last-event time
        (col("sw.end").cast("long") - gapSeconds).as("session_end"),
        col("n_events"))
  }

  /** Incremental sessionization (30-min inactivity gap) via
    * flatMapGroupsWithState with EVENT-TIME TIMEOUT: emits every
    * session closed within a batch, and — crucially for a real stream —
    * emits an idle user's tail session once the watermark passes its
    * gap expiry, removing the user's state. Without the timeout
    * (NoTimeout), a churned user's last session would never be emitted
    * and their state never evicted — unbounded state growth over weeks.
    * State: one (start, end, n) per ACTIVE-within-gap user, hash
    * partitioned by user_id.
    *
    * The watermark (required for event-time timeouts) is derived from
    * `ts_s` inside; `watermarkDelay` is the allowed event lateness and
    * MUST be <= gapSeconds (enforced): an admitted event then always
    * lies within `gapSeconds` of the live session's [start, end] (the
    * watermark trails the max event time by at most the gap), so the
    * merge test against `end` below is sound for events on BOTH sides
    * of the interval. A longer delay would admit an event more than a
    * gap before the session start and silently merge what should be
    * two sessions. */
  def sessionize(events: Dataset[Event], gapSeconds: Long = 1800,
      watermarkDelay: String = "10 minutes"): Dataset[Session] = {
    require(parseDelaySeconds(watermarkDelay) <= gapSeconds,
      s"watermarkDelay ($watermarkDelay) must be <= gapSeconds ($gapSeconds): " +
        "a later-than-gap event would merge sessions that the gap rule splits")
    val spark = events.sparkSession
    import spark.implicits._
    events.toDF()
      .withColumn("__event_time", timestamp_seconds(col("ts_s")))
      .withWatermark("__event_time", watermarkDelay)
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // gap expired with no further events: close the tail session
            val s = state.get
            state.remove()
            Iterator.single(Session(user, s.start, s.end, s.n))
          } else {
            val sorted = it.toVector.sortBy(_.ts_s)
            var cur = state.getOption
            val closed = Vector.newBuilder[Session]
            sorted.foreach { e =>
              cur match {
                case Some(s) if e.ts_s - s.end <= gapSeconds =>
                  // max: a late-but-within-watermark event from an
                  // EARLIER batch must not move the session end (and
                  // with it the timeout) backward; min: the symmetric
                  // case — a late event BEFORE the recorded start must
                  // widen the session, not be silently counted inside
                  // an interval that excludes it
                  cur = Some(s.copy(start = math.min(s.start, e.ts_s),
                    end = math.max(s.end, e.ts_s), n = s.n + 1))
                case Some(s) =>
                  closed += Session(user, s.start, s.end, s.n)
                  cur = Some(SessionState(e.ts_s, e.ts_s, 1))
                case None =>
                  cur = Some(SessionState(e.ts_s, e.ts_s, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // fire when the watermark passes end + gap (clamped above
              // the current watermark — Spark rejects a timeout set in
              // the past when events arrive later than their gap)
              state.setTimeoutTimestamp(math.max(
                (s.end + gapSeconds) * 1000L + 1,
                state.getCurrentWatermarkMs() + 1))
            }
            closed.result().iterator
          }
      }
  }
}
