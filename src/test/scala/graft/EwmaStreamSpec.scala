package graft

import org.apache.spark.sql.functions._

import graft.operators.Profiling
import graft.streaming.{EwmaStream, Fold}

/** Pins for the streaming EWMA state snapshot: stream ≡ batch
  * BIT-EQUALITY of the cumulative fold (the one streaming shape whose
  * state is sequential over the whole history, not a watermark-bounded
  * window), the exactly-once version-by-batch-id protocol under an
  * injected mid-batch crash, and the in-plan frontier-monotonicity
  * guard the bit-equality argument rests on. */
class EwmaStreamSpec extends SparkSpec with StreamFeedHarness {
  import spark.implicits._

  private def batchWant: Set[(String, Long, Double)] =
    Profiling.ewmaRate(batchEvents, col("ts_s"), col("event_type"),
      bucketSec = 3600)
      .as[(String, Long, Double)].collect().toSet

  private def gotState(stateDir: String): Set[(String, Long, Double)] =
    EwmaStream.readState(spark, stateDir)
      .select("key", "n_buckets", "ewma")
      .as[(String, Long, Double)].collect().toSet

  test("clean run: final state equals the batch fold bit-for-bit") {
    val (src, addFile, addSentinel) = timeQuartileFeed("ewma_src")
    val stateDir = java.nio.file.Files.createTempDirectory("ewma_st").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ewma_ck").toString
    (0 to 3).foreach(addFile); addSentinel()
    val q = Fold.start(
        EwmaStream.bucketCounts(streamFrom(src), "event_type"), ckpt) {
      (batch, id) => EwmaStream.foldBatch(batch, id, stateDir)
    }
    try q.processAllAvailable() finally q.stop()
    val got = gotState(stateDir)
    assert(got == batchWant,
      s"stream state must equal the batch fold; diff ${(got -- batchWant) ++ (batchWant -- got)}")
    // frontier column: the last REAL bucket per key (sentinel excluded)
    val lastReal = batchEvents.groupBy("event_type")
      .agg(max(floor(col("ts_s") / 3600).cast("long")).as("b"))
      .as[(String, Long)].collect().toMap
    val gotLast = EwmaStream.readState(spark, stateDir)
      .select("key", "last_bucket").as[(String, Long)].collect().toMap
    assert(gotLast == lastReal, "state frontier must be the last finalized bucket")
  }

  test("a crash AFTER the state write but BEFORE its commit replays exactly-once") {
    val (src, addFile, addSentinel) = timeQuartileFeed("ewma_src")
    val stateDir = java.nio.file.Files.createTempDirectory("ewma_cst").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ewma_cck").toString
    val failOnce = new java.util.concurrent.atomic.AtomicBoolean(true)
    def startQuery(inject: Boolean) =
      Fold.start(EwmaStream.bucketCounts(streamFrom(src), "event_type"),
          ckpt) { (batch, id) =>
        EwmaStream.foldBatch(batch, id, stateDir)
        // the exactly-once crash window: snapshot b=<id> is on disk,
        // the checkpoint commit is not — the restart must REPLAY id
        if (inject && id == 2L && failOnce.getAndSet(false))
          throw new RuntimeException("injected crash before commit")
      }
    addFile(0); addFile(1); addFile(2)
    val q1 = startQuery(inject = true)
    try intercept[Exception] { q1.processAllAvailable() } finally q1.stop()
    assert(!failOnce.get(), "the injection must actually have fired")

    addFile(3); addSentinel()
    val q2 = startQuery(inject = false)
    try q2.processAllAvailable() finally q2.stop()

    val got = gotState(stateDir)
    assert(got == batchWant,
      s"replayed fold must land on the batch state; diff ${(got -- batchWant) ++ (batchWant -- got)}")
    // version pruning: only the protocol-needed snapshots survive
    val versions = new java.io.File(stateDir).list().count(_.startsWith("b="))
    assert(versions <= 3, s"stale state versions not pruned: $versions dirs")
  }

  test("a regressed bucket trips the frontier guard instead of mis-folding") {
    val stateDir = java.nio.file.Files.createTempDirectory("ewma_gst").toString
    EwmaStream.foldBatch(
      Seq(("a", 100L, 3L)).toDF("key", "bucket", "c"), 0L, stateDir)
    val e = intercept[Throwable] {
      EwmaStream.foldBatch(
        Seq(("a", 50L, 2L)).toDF("key", "bucket", "c"), 1L, stateDir)
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(messages.exists(_.contains("EwmaStream")),
      s"expected the frontier-regression error, got: ${messages.mkString(" | ")}")
    // a bucket AFTER the frontier folds fine and advances it
    EwmaStream.foldBatch(
      Seq(("a", 150L, 2L)).toDF("key", "bucket", "c"), 1L, stateDir)
    val st = EwmaStream.readState(spark, stateDir)
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(st == Seq(("a", 150L, 2L, 0.25 * 2 + 0.75 * 3)), s"got $st")
  }
}
