package graft

import org.apache.spark.sql.functions._

import graft.operators.Profiling
import graft.streaming.{EwmaStream, Fold, HoltWintersStream}

/** Pins for the streaming Holt–Winters state snapshot: stream ≡ batch
  * BIT-EQUALITY of the seasonal fold (the lambda text is shared with
  * the batch operator — the spec proves the protocol around it, the
  * shared text proves the arithmetic), exactly-once under an injected
  * mid-batch crash, and the frontier guard. */
class HoltWintersStreamSpec extends SparkSpec with StreamFeedHarness {
  import spark.implicits._

  private val Period = 5

  private def batchWant: Set[(String, Long, Double, Double, Double, Double)] =
    Profiling.holtWinters(batchEvents, col("ts_s"), col("event_type"),
      period = Period, bucketSec = 3600)
      .as[(String, Long, Double, Double, Double, Double)].collect().toSet

  /** The stream state projected onto the batch operator's output
    * columns — level/trend/season/forecast off the carried array,
    * the same expressions the batch select applies to its fold. */
  private def gotState(stateDir: String)
      : Set[(String, Long, Double, Double, Double, Double)] =
    HoltWintersStream.readState(spark, stateDir)
      .select(col("key"), col("n_buckets"),
        col("st")(0).as("level"), col("st")(1).as("trend"),
        col("st")(2).as("season_next"),
        (col("st")(0) + col("st")(1) + col("st")(2)).as("forecast_next"))
      .as[(String, Long, Double, Double, Double, Double)].collect().toSet

  test("clean run: final state equals the batch seasonal fold bit-for-bit") {
    val (src, addFile, addSentinel) = timeQuartileFeed("hw_src")
    val stateDir = java.nio.file.Files.createTempDirectory("hw_st").toString
    val ckpt = java.nio.file.Files.createTempDirectory("hw_ck").toString
    (0 to 3).foreach(addFile); addSentinel()
    val q = Fold.start(
        EwmaStream.bucketCounts(streamFrom(src), "event_type"), ckpt) {
      (batch, id) =>
        HoltWintersStream.foldBatch(batch, id, stateDir, period = Period)
    }
    try q.processAllAvailable() finally q.stop()
    val got = gotState(stateDir)
    assert(got == batchWant,
      s"stream state must equal the batch fold; diff ${(got -- batchWant) ++ (batchWant -- got)}")
  }

  test("a crash AFTER the state write but BEFORE its commit replays exactly-once") {
    val (src, addFile, addSentinel) = timeQuartileFeed("hw_src")
    val stateDir = java.nio.file.Files.createTempDirectory("hw_cst").toString
    val ckpt = java.nio.file.Files.createTempDirectory("hw_cck").toString
    val failOnce = new java.util.concurrent.atomic.AtomicBoolean(true)
    def startQuery(inject: Boolean) =
      Fold.start(EwmaStream.bucketCounts(streamFrom(src), "event_type"),
          ckpt) { (batch, id) =>
        HoltWintersStream.foldBatch(batch, id, stateDir, period = Period)
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
    val versions = new java.io.File(stateDir).list().count(_.startsWith("b="))
    assert(versions <= 3, s"stale state versions not pruned: $versions dirs")
  }

  test("a regressed bucket trips the frontier guard instead of mis-folding") {
    val stateDir = java.nio.file.Files.createTempDirectory("hw_gst").toString
    HoltWintersStream.foldBatch(
      Seq(("a", 100L, 4L)).toDF("key", "bucket", "c"), 0L, stateDir,
      period = 2)
    val e = intercept[Throwable] {
      HoltWintersStream.foldBatch(
        Seq(("a", 50L, 2L)).toDF("key", "bucket", "c"), 1L, stateDir,
        period = 2)
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(messages.exists(_.contains("HoltWintersStream")),
      s"expected the frontier-regression error, got: ${messages.mkString(" | ")}")
    // a bucket AFTER the frontier folds fine: one hand-checked step of
    // the shared lambda — l=0.25·(2−0)+0.75·(4+0)=3.5, b=0.25·(3.5−4)=−0.125,
    // s-queue rotates to [0, 0.25·(2−3.5)=−0.375]
    HoltWintersStream.foldBatch(
      Seq(("a", 150L, 2L)).toDF("key", "bucket", "c"), 1L, stateDir,
      period = 2)
    val st = HoltWintersStream.readState(spark, stateDir)
      .select(col("key"), col("last_bucket"), col("n_buckets"), col("st"))
      .as[(String, Long, Long, Seq[Double])].collect().toSeq
    assert(st == Seq(("a", 150L, 2L, Seq(3.5, -0.125, 0.0, -0.375))),
      s"got $st")
  }

  test("a restart with a DIFFERENT period trips the state-shape guard, never a silent mis-fold") {
    val stateDir = java.nio.file.Files.createTempDirectory("hw_pst").toString
    HoltWintersStream.foldBatch(
      Seq(("a", 100L, 4L)).toDF("key", "bucket", "c"), 0L, stateDir,
      period = 2)
    val e = intercept[Throwable] {
      HoltWintersStream.foldBatch(
        Seq(("a", 200L, 2L)).toDF("key", "bucket", "c"), 1L, stateDir,
        period = 5)
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(messages.exists(m => m.contains("different period")),
      s"expected the state-shape error, got: ${messages.mkString(" | ")}")
    // the matching period still folds fine after the failed attempt
    HoltWintersStream.foldBatch(
      Seq(("a", 200L, 2L)).toDF("key", "bucket", "c"), 1L, stateDir,
      period = 2)
    assert(HoltWintersStream.readState(spark, stateDir).count() == 1L)
  }
}
