package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.{CdcStream, DedupStream, EventStreams, Fold}

/** Crash-recovery for the streaming twins: each test commits at least
  * one batch, kills the query, restarts from the SAME checkpoint with
  * more input, and asserts the final output equals the batch run —
  * the contract a 100 TB deployment exercises on day one, which the
  * clean-run stream≡batch pins (EventStreamsSpec, DedupStreamSpec)
  * deliberately do not: those prove the arithmetic, these prove the
  * state store restores it.
  *
  * Six state shapes (the first three are the round-13 review's ranked
  * ask; the rest complete the matrix over every stateful operator and
  * sink in the repo):
  *  - windowedApproxUniques — HLL register buffers per open window
  *    (recovery must restore the sketch BYTES: a lost register can
  *    only lower the estimate, so row-equality with the batch run is
  *    a real restore proof, not a smoke test);
  *  - windowedValueDrift — ten integer bin sums per window (bit-exact
  *    TV doubles after recovery);
  *  - windowedHeavyHitters — ORDER-DEPENDENT Misra–Gries buffers:
  *    row-equality is not a property MG has, so the restart is pinned
  *    to the mergeable-summaries contract per window;
  *  - sessionWindowCounts — Spark's native merging session-window
  *    store, Append mode, time-ordered feed (subset/mustEmit
  *    watermark contract);
  *  - the DedupStream ingest and the CDC snapshot sink — cross-batch
  *    on-disk state + Spark's offset log, killed MID-BATCH (after the
  *    batch's sink writes, before its checkpoint commit) so the
  *    restart REPLAYS a batch the sink already wrote — the
  *    exactly-once overwrite/version-by-batch-id protocols' actual
  *    crash window, driven through real streaming restarts rather
  *    than the direct replay calls their own suites use.
  */
class StreamRecoverySpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private def batchEvents = sources.EventsTime.load(spark, dir)

  /** Writes the sf0.001 events as 4 parquet files keyed by
    * event_id % 4 into a fresh dir; returns (srcDir, addFile(p)). */
  private def eventFiles(): (String, Int => Unit) = {
    val src = java.nio.file.Files.createTempDirectory("rec_src").toString
    val all = batchEvents.withColumn("part", pmod(col("event_id"), lit(4)))
    (src, p => all.filter(col("part") === p).drop("part")
      .coalesce(1).write.mode("append").parquet(src))
  }

  private def streamFrom(src: String): DataFrame = {
    val schema = spark.read.parquet(src).schema
    val events = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    events.withColumn("event_time", timestamp_micros(expr("(ts_s * 1000000)")))
  }

  /** Like [[eventFiles]] but split by TIME QUARTILE, not id hash: an
    * Append-mode query drops rows behind the recovered watermark, so a
    * restart test must feed time-forward (the id-mod split would make
    * run 2's first half "late" and silently vanish — a test artifact,
    * not a recovery property). */
  private def timeOrderedEventFiles(): (String, Int => Unit) = {
    val src = java.nio.file.Files.createTempDirectory("rec_tsrc").toString
    val (lo, hi) = batchEvents.agg(min("ts_s"), max("ts_s"))
      .as[(Long, Long)].head()
    val width = (hi - lo) / 4 + 1
    val all = batchEvents.withColumn("part",
      floor((col("ts_s") - lo) / width).cast("int"))
    (src, p => all.filter(col("part") === p).drop("part")
      .coalesce(1).write.mode("append").parquet(src))
  }

  test("windowedApproxUniques: kill + restart restores the HLL window state") {
    val (src, addFile) = eventFiles()
    val ckpt = java.nio.file.Files.createTempDirectory("rec_hll_ck").toString
    addFile(0); addFile(1)
    def startQuery() = EventStreams.windowedApproxUniques(streamFrom(src))
      .writeStream.outputMode(OutputMode.Complete())
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("rec_hll_out").start()
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    val partial = spark.table("rec_hll_out").count()
    assert(partial > 0, "at least one batch must commit before the kill")

    addFile(2); addFile(3)
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    val got = spark.table("rec_hll_out").as[(Long, Long)].collect().toSet
    // HLL registers merge by MAX, so the restored-and-completed stream
    // must land on the IDENTICAL estimates a single batch pass computes
    // — any lost register bytes would surface as a lower estimate
    val want = EventStreams.windowedApproxUniques(
      batchEvents.withColumn("event_time", timestamp_seconds(col("ts_s"))))
      .as[(Long, Long)].collect().toSet
    assert(got == want,
      s"recovered sketches must complete to the batch estimates; diff ${(got -- want) ++ (want -- got)}")
  }

  test("windowedValueDrift: kill + restart restores the per-window bin sums bit-exactly") {
    // reference = the corpus-global decile histogram, as ev_window_drift
    val bin = greatest(lit(0L), least(lit(9L), floor(col("value") / 50).cast("long")))
    val hist = batchEvents.filter(col("value").isNotNull)
      .groupBy(bin.as("b")).agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    val ref = (0L until 10L).map(b => hist.getOrElse(b, 0L))

    val (src, addFile) = eventFiles()
    val ckpt = java.nio.file.Files.createTempDirectory("rec_tv_ck").toString
    addFile(0); addFile(1)
    def startQuery() = EventStreams.windowedValueDrift(
      streamFrom(src).filter(col("value").isNotNull), ref)
      .writeStream.outputMode(OutputMode.Complete())
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("rec_tv_out").start()
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.table("rec_tv_out").count() > 0,
      "at least one batch must commit before the kill")

    addFile(2); addFile(3)
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    val got = spark.table("rec_tv_out").as[(Long, Long, Double)].collect().toSet
    val want = EventStreams.windowedValueDrift(
      batchEvents.filter(col("value").isNotNull)
        .withColumn("event_time", timestamp_seconds(col("ts_s"))), ref)
      .as[(Long, Long, Double)].collect().toSet
    // exact integer bin sums + one shared double formula: recovery must
    // reproduce the batch TV rows bit-for-bit, not approximately
    assert(got == want,
      s"recovered bin sums must complete to the batch TV rows; diff ${(got -- want) ++ (want -- got)}")
  }

  test("windowedHeavyHitters: kill + restart keeps every window inside the MG contract") {
    // the Misra-Gries buffers are ORDER-DEPENDENT state (unlike HLL),
    // so recovery cannot be pinned row-equal against batch — what a
    // restart must preserve is the mergeable-summaries contract per
    // window: tracked ⊇ true-heavy, no overcount, undercount bounded.
    // A corrupted restored buffer would break one of the three.
    val k = 4
    val (src, addFile) = eventFiles()
    val ckpt = java.nio.file.Files.createTempDirectory("rec_mg_ck").toString
    addFile(0); addFile(1)
    def startQuery() = EventStreams.windowedHeavyHitters(streamFrom(src), k)
      .writeStream.outputMode(OutputMode.Complete())
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("rec_mg_out").start()
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.table("rec_mg_out").count() > 0,
      "at least one batch must commit before the kill")
    addFile(2); addFile(3)
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    val got = spark.table("rec_mg_out").as[(Long, String, Long)].collect()
      .groupBy(_._1).map { case (b, rows) => b -> rows.map(r => r._2 -> r._3).toMap }
    val exact = batchEvents
      .groupBy((col("ts_s") - pmod(col("ts_s"), lit(300L))).as("bucket"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .as[(Long, String, Long)].collect()
      .groupBy(_._1).map { case (b, rows) => b -> rows.map(r => r._2 -> r._3).toMap }
    assert(got.keySet == exact.keySet,
      "every window must survive the restart with a summary")
    exact.foreach { case (bucket, cnts) =>
      val n = cnts.values.sum
      val tracked = got(bucket)
      assert(tracked.size <= k)
      cnts.filter { case (_, c) => c * (k + 1) > n }.keys.foreach { key =>
        assert(tracked.contains(key),
          s"bucket $bucket: heavy key $key lost across the restart; tracked $tracked")
      }
      tracked.foreach { case (key, est) =>
        assert(est <= cnts(key), s"bucket $bucket: restored buffer overcounts $key")
        assert((cnts(key) - est) * (k + 1) <= n,
          s"bucket $bucket: undercount beyond N/(k+1) for $key after restart")
      }
    }
  }

  test("sessionWindowCounts: kill + restart restores native session-window merge state") {
    // the fourth state-store shape: Spark's session-window store
    // (merging windows, watermark-finalized Append output). The split
    // is time-ordered, so sessions OPEN at the kill must be restored
    // and merged with run 2's events — a lost merge would emit two
    // partial rows that the batch result does not contain (caught by
    // the subset assertion), a lost window would miss mustEmit.
    val (src, addFile) = timeOrderedEventFiles()
    val ckpt = java.nio.file.Files.createTempDirectory("rec_swin_ck").toString
    val out = java.nio.file.Files.createTempDirectory("rec_swin_out").toString
    addFile(0); addFile(1)
    def startQuery() = EventStreams.sessionWindowCounts(streamFrom(src))
      .writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", out).start()
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()

    addFile(2); addFile(3)
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    val outSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "user_id BIGINT, session_start BIGINT, session_end BIGINT, n_events BIGINT")
    val got = spark.read.schema(outSchema).parquet(out)
      .as[(Long, Long, Long, Long)].collect().toSet
    val batch = SparkEntry.all.find(_.name == "ev_session_native").get
      .run(spark, dir).as[(Long, Long, Long, Long)].collect().toSet
    val wmS = batchEvents.agg(max("ts_s")).as[Long].head() - 600
    assert(got.nonEmpty)
    assert(got.subsetOf(batch),
      s"restart emitted a session the batch run does not have (lost merge state): ${got -- batch}")
    val mustEmit = batch.filter { case (_, _, end, _) => end + 1800 < wmS }
    assert(mustEmit.subsetOf(got),
      s"finalized sessions missing after the restart: ${mustEmit -- got}")
    val mayHold = batch.filter { case (_, _, end, _) => end + 1800 >= wmS }
    assert((batch -- got).subsetOf(mayHold),
      s"withheld a session the watermark already finalized: ${(batch -- got) -- mayHold}")
  }

  test("cdc snapshot: a crash AFTER a merge but BEFORE its commit replays exactly-once") {
    // same crash window as the dedup test, on the OTHER stateful sink:
    // batch 1's snapshot version is fully written when the query dies,
    // its checkpoint commit is not — the restart must replay the merge
    // onto a snapshot that already contains it, and the version-by-
    // batch-id protocol must absorb the duplicate apply.
    val src = java.nio.file.Files.createTempDirectory("rec_cdc_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("rec_cdc_ck").toString
    val dir = java.nio.file.Files.createTempDirectory("rec_cdc_snap").toString
    val initial = Seq((1L, "a"), (2L, "a"), (3L, "a")).toDF("id", "val")
    def addFile(rows: (Long, String, Long, String)*): Unit =
      rows.toDF("id", "val", "seq", "op")
        .coalesce(1).write.mode("append").parquet(src)
    addFile((2L, "b", 10L, "U"), (3L, "", 11L, "D")) // batch 0
    addFile((4L, "d", 20L, "I"))                     // batch 1 — crashes

    val schema = spark.read.parquet(src).schema
    val failOnce = new java.util.concurrent.atomic.AtomicBoolean(true)
    def startQuery(inject: Boolean) =
      Fold.start(spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(src), ckpt) { (batch, id) =>
        CdcStream.mergeBatch(batch, id, dir, initial, "id", "seq", "op")
        if (inject && id == 1L && failOnce.getAndSet(false))
          throw new RuntimeException(
            "injected crash between batch 1's merge and its commit")
      }
    val q1 = startQuery(inject = true)
    intercept[Throwable] { try q1.processAllAvailable() finally q1.stop() }
    assert(!failOnce.get(), "the injection must actually have fired")
    // batch 0 committed; batch 1's merged version exists but is
    // uncommitted in the CHECKPOINT (the snapshot's own version commit
    // is what makes the replay idempotent)
    assert(CdcStream.currentSnapshot(spark, dir, initial)
      .as[(Long, String)].collect().toSet
      .contains((4L, "d")), "batch 1's merge landed before the crash")

    addFile((5L, "e", 30L, "I"), (1L, "", 31L, "D")) // batch 2
    val q2 = startQuery(inject = false)
    try q2.processAllAvailable() finally q2.stop()
    assert(CdcStream.currentSnapshot(spark, dir, initial)
      .as[(Long, String)].collect().toSet ==
      Set((2L, "b"), (4L, "d"), (5L, "e")),
      "replayed merge + new batch must converge to the no-crash snapshot")
  }

  test("dedup ingest: a crash AFTER a batch's writes but BEFORE its commit replays exactly-once") {
    val baseA = "the quick brown fox jumps over the lazy dog again and again"
    val baseB = "completely different subject matter about spark shuffles and joins"
    val baseC = "a third unrelated document concerning parquet column pruning rules"
    val baseD = "yet another distinct text on watermarks and session windows here"
    val src = java.nio.file.Files.createTempDirectory("rec_dd_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("rec_dd_ck").toString
    val index = java.nio.file.Files.createTempDirectory("rec_dd_ix").toString + "/ix"
    val kept = java.nio.file.Files.createTempDirectory("rec_dd_out").toString + "/kept"
    def addFile(rows: (Long, String)*): Unit =
      rows.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(src)
    // batch 0: originals; batch 1: 3 dups 1 (index screen), 4/5 dup
    // each other (within-batch, min-id 4 wins); batch 2: 6 dups 2
    // (screened by an index delta committed before the crash), 7 new
    addFile((1L, baseA), (2L, baseB))
    addFile((3L, baseA), (4L, baseC), (5L, baseC))
    addFile((6L, baseB), (7L, baseD))

    val schema = spark.read.parquet(src).schema
    // the injected failure fires ONCE, on batch 1, AFTER screenBatch
    // has fully written that batch's kept partition and index delta —
    // the checkpoint commit for batch 1 then never happens, so the
    // restart MUST replay a batch whose sink effects are already on
    // disk: the overwrite-by-batch-id protocol's real crash window
    val failOnce = new java.util.concurrent.atomic.AtomicBoolean(true)
    def startQuery(inject: Boolean) =
      Fold.start(spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(src), ckpt) { (batch, id) =>
        DedupStream.screenBatch(batch, id, index, kept,
          "doc_id", "text", threshold = 0.7)
        if (inject && id == 1L && failOnce.getAndSet(false))
          throw new RuntimeException(
            "injected crash between batch 1's writes and its commit")
      }

    val q1 = startQuery(inject = true)
    val failed = intercept[Throwable] {
      try q1.processAllAvailable() finally q1.stop()
    }
    val messages = Iterator.iterate(failed)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(messages.exists(_.contains("injected crash")),
      s"the injection must be what killed run 1, got: ${messages.take(3).mkString(" | ")}")
    assert(!failOnce.get(), "the injection must actually have fired")
    // batch 0 committed before the crash; batch 1's writes are on disk
    // but uncommitted in the checkpoint
    assert(spark.read.parquet(kept).select("doc_id").as[Long].collect().toSet
      .contains(1L), "batch 0 must have committed before the crash")

    val q2 = startQuery(inject = false)
    try q2.processAllAvailable() finally q2.stop()

    // the replayed batch 1 must overwrite its own earlier write (not
    // append beside it, not screen doc 4 against its own half-written
    // delta), then batch 2 must screen against the standing index
    val keptIds = spark.read.parquet(kept).select("doc_id").as[Long]
      .collect().sorted.toSeq
    assert(keptIds == Seq(1L, 2L, 4L, 7L),
      s"crash + replay must converge to the no-crash answer; got $keptIds")
    assert(spark.read.parquet(index).select("doc_id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L, 4L, 7L),
      "index must mirror the kept set exactly after the replay")
  }
}
