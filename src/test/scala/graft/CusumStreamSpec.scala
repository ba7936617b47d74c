package graft

import org.apache.spark.sql.functions._

import graft.operators.Profiling
import graft.streaming.{CusumStream, EwmaStream, Fold}

/** Pins for the streaming CUSUM state snapshot: stream state ≡ the
  * batch cusumFixed prefix (p_micro surfaced by the batch query for
  * exactly this pin), alarms ≡ the batch final-row alarms,
  * exactly-once through an injected mid-batch crash, and the frontier
  * guard the prefix-minimum's order argument rests on. All integer —
  * equality here is exact, not toleranced. */
class CusumStreamSpec extends SparkSpec with StreamFeedHarness {
  import spark.implicits._

  private val Mu = 20000000L
  private val Kappa = 5000000L
  private val H = 40000000L
  /** The batch run's final row per key: (key, last_bucket, n_buckets,
    * p_micro, cusum_micro, alarm). */
  private def batchFinal: Map[String, (Long, Long, Long, Long, Boolean)] =
    Profiling.cusumFixed(batchEvents, col("ts_s"), col("event_type"),
      muMicro = Mu, kappaMicro = Kappa, hMicro = H, bucketSec = 3600)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("key")
          .orderBy(col("bucket").desc)))
      .filter(col("rn") === 1)
      .select("key", "bucket", "p_micro", "cusum_micro", "alarm")
      .as[(String, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> (r._2, 0L, r._3, r._4, r._5)).toMap

  test("clean run: stream state equals the batch prefix; alarms equal the batch final rows") {
    val (src, addFile, addSentinel) = timeQuartileFeed("cusum_src")
    val stateDir = java.nio.file.Files.createTempDirectory("cusum_st").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cusum_ck").toString
    (0 to 3).foreach(addFile); addSentinel()
    val q = Fold.start(
        EwmaStream.bucketCounts(streamFrom(src), "event_type"), ckpt) {
      (batch, id) => CusumStream.foldBatch(batch, id, stateDir,
        muMicro = Mu, kappaMicro = Kappa)
    }
    try q.processAllAvailable() finally q.stop()
    val want = batchFinal
    val gotAlarms = CusumStream.readAlarms(spark, stateDir, H)
      .select("key", "last_bucket", "cusum_micro", "alarm")
      .as[(String, Long, Long, Boolean)].collect().toSeq
    assert(gotAlarms.nonEmpty)
    val gotP = CusumStream.readState(spark, stateDir)
      .select("key", "p_micro").as[(String, Long)].collect().toMap
    gotAlarms.foreach { case (k, lb, s, al) =>
      val (wb, _, wp, ws, wa) = want(k)
      assert(lb == wb, s"$k: frontier $lb != batch last bucket $wb")
      assert(s == ws, s"$k: cusum $s != batch $ws")
      assert(al == wa, s"$k: alarm $al != batch $wa")
      assert(gotP(k) == wp, s"$k: prefix ${gotP(k)} != batch p_micro $wp")
    }
    // n_buckets must be the per-key batch bucket count
    val wantN = batchEvents.groupBy("event_type")
      .agg(countDistinct(floor(col("ts_s") / 3600)).as("n"))
      .as[(String, Long)].collect().toMap
    val gotN = CusumStream.readState(spark, stateDir)
      .select("key", "n_buckets").as[(String, Long)].collect().toMap
    assert(gotN == wantN)
  }

  test("a crash AFTER the state write but BEFORE its commit replays exactly-once") {
    val (src, addFile, addSentinel) = timeQuartileFeed("cusum_src")
    val stateDir = java.nio.file.Files.createTempDirectory("cusum_cst").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cusum_cck").toString
    val failOnce = new java.util.concurrent.atomic.AtomicBoolean(true)
    def startQuery(inject: Boolean) =
      Fold.start(EwmaStream.bucketCounts(streamFrom(src), "event_type"),
          ckpt) { (batch, id) =>
        CusumStream.foldBatch(batch, id, stateDir, Mu, Kappa)
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

    val want = batchFinal
    val got = CusumStream.readAlarms(spark, stateDir, H)
      .select("key", "last_bucket", "cusum_micro", "alarm")
      .as[(String, Long, Long, Boolean)].collect().toSeq
    assert(got.nonEmpty)
    got.foreach { case (k, lb, s, al) =>
      val (wb, _, _, ws, wa) = want(k)
      assert((lb, s, al) == ((wb, ws, wa)),
        s"$k after replay: (${(lb, s, al)}) != batch (${(wb, ws, wa)})")
    }
    val versions = new java.io.File(stateDir).list().count(_.startsWith("b="))
    assert(versions <= 3, s"stale state versions not pruned: $versions dirs")
  }

  test("readStatePinned survives the prune window; the lazy read does not") {
    val stateDir = java.nio.file.Files.createTempDirectory("cusum_pin").toString
    CusumStream.foldBatch(
      Seq(("a", 100L, 30L)).toDF("key", "bucket", "c"), 0L, stateDir, Mu, Kappa)
    // pin b=0 now; a plain lazy frame over the same version races
    val pinned = CusumStream.readStatePinned(spark, stateDir)
    val lazyRead = CusumStream.readState(spark, stateDir)
    // three more batches with retainBelow = 1 prune b=0 and b=1 away
    CusumStream.foldBatch(
      Seq(("a", 110L, 10L)).toDF("key", "bucket", "c"), 1L, stateDir, Mu, Kappa)
    CusumStream.foldBatch(
      Seq(("a", 120L, 10L)).toDF("key", "bucket", "c"), 2L, stateDir, Mu, Kappa)
    CusumStream.foldBatch(
      Seq(("a", 130L, 10L)).toDF("key", "bucket", "c"), 3L, stateDir, Mu, Kappa)
    assert(!new java.io.File(s"$stateDir/b=0").exists(),
      "precondition: the pinned version must actually have been pruned")
    // the pinned frame still reads the b=0 state from executor blocks
    val got = pinned.select("key", "p_micro").as[(String, Long)].collect().toSeq
    assert(got == Seq(("a", 5000000L)), s"pinned read lost data: $got")
    // the un-pinned lazy frame over the deleted version fails
    intercept[Exception] { lazyRead.collect() }
  }

  test("a regressed bucket trips the frontier guard; forward folds advance exactly") {
    val stateDir = java.nio.file.Files.createTempDirectory("cusum_gst").toString
    // bucket 100: c=30 → term 1e6·30 − 25e6 = 5e6; p=5e6, min=5e6
    CusumStream.foldBatch(
      Seq(("a", 100L, 30L)).toDF("key", "bucket", "c"), 0L, stateDir, Mu, Kappa)
    val e = intercept[Throwable] {
      CusumStream.foldBatch(
        Seq(("a", 50L, 2L)).toDF("key", "bucket", "c"), 1L, stateDir, Mu, Kappa)
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(messages.exists(_.contains("CusumStream")),
      s"expected the frontier-regression error, got: ${messages.mkString(" | ")}")
    // bucket 150: c=10 → term −15e6; p=−10e6, min=−10e6;
    // bucket 160: c=80 → term +55e6; p=45e6, min stays −10e6
    CusumStream.foldBatch(
      Seq(("a", 150L, 10L), ("a", 160L, 80L)).toDF("key", "bucket", "c"),
      1L, stateDir, Mu, Kappa)
    val st = CusumStream.readState(spark, stateDir)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(st == Seq(("a", 160L, 3L, 45000000L, -10000000L)), s"got $st")
    // alarm view: S = 45e6 − (−10e6) = 55e6 > h = 40e6
    val al = CusumStream.readAlarms(spark, stateDir, H)
      .as[(String, Long, Long, Long, Boolean)].collect().toSeq
    assert(al == Seq(("a", 160L, 3L, 55000000L, true)), s"got $al")
  }
}
