package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Cdc
import graft.streaming.{Fold, MinMaxStream}

/** Pins for the streaming min/max view maintainer: the maintained
  * view equals a full recompute over the merged base after every
  * batch (including batches that delete a group's extremal row — the
  * non-invertible case that forces the keyed-base home), replay is
  * idempotent clean AND through an injected mid-batch crash across
  * all three homes, and a regressed feed trips the frontier guard
  * before any home advances. */
class MinMaxStreamSpec extends SparkSpec {
  import spark.implicits._

  private val feedCols = Seq("seq", "op", "key", "grp", "value")
  private type FRow = (Long, String, Long, String, Double)
  private val fb0: Seq[FRow] = Seq(
    (1L, "I", 1L, "a", 5.0),
    (2L, "I", 2L, "a", 5.0),  // duplicate min
    (3L, "I", 3L, "a", 9.0),
    (4L, "I", 4L, "b", 1.0),
    (5L, "I", 5L, "b", 7.0))
  // one copy of a's duplicate min deleted (min must survive), b's
  // unique min deleted (runner-up must surface), one insert
  private val fb1: Seq[FRow] = Seq(
    (10L, "D", 1L, null.asInstanceOf[String], 0.0),
    (11L, "D", 4L, null.asInstanceOf[String], 0.0),
    (12L, "I", 6L, "b", 3.0))
  // a's max MOVES to a new group, same key updated twice (latest wins)
  private val fb2: Seq[FRow] = Seq(
    (20L, "U", 3L, "c", 9.5),
    (21L, "U", 3L, "c", 8.5),
    (22L, "I", 7L, "a", 6.0))
  private val fAll = Seq(fb0, fb1, fb2)

  private def fDf(rows: Seq[FRow]): DataFrame = rows.toDF(feedCols: _*)

  private def viewRows(df: DataFrame): Set[(String, Long, Double, Double)] =
    df.select("grp", "n", "mn", "mx")
      .as[(String, Long, Double, Double)].collect().toSet

  private def recompute(base: DataFrame): Set[(String, Long, Double, Double)] =
    viewRows(base.groupBy("grp").agg(count(lit(1)).as("n"),
      min("value").as("mn"), max("value").as("mx")))

  test("maintained view ≡ recompute over the merged base after every batch") {
    val root = java.nio.file.Files.createTempDirectory("mm_st").toString
    fAll.zipWithIndex.foreach { case (b, i) =>
      MinMaxStream.foldBatch(fDf(b), i.toLong, root)
      val got = viewRows(MinMaxStream.readView(spark, root))
      val want = recompute(MinMaxStream.readSnapshot(spark, root))
      assert(got == want, s"after batch $i: $got != $want")
    }
    val finalView = viewRows(MinMaxStream.readView(spark, root))
    // by hand: a = {2→5.0, 7→6.0}, b = {5→7.0, 6→3.0}, c = {3→8.5}
    assert(finalView == Set(
      ("a", 2L, 5.0, 6.0), ("b", 2L, 3.0, 7.0), ("c", 1L, 8.5, 8.5)),
      s"final view: $finalView")
    // replay of the final batch is idempotent
    MinMaxStream.foldBatch(fDf(fb2), 2L, root)
    assert(viewRows(MinMaxStream.readView(spark, root)) == finalView)
    // crash BETWEEN homes: view/ loses its b=2 commit, then replays
    assert(new java.io.File(s"$root/view/b=2/_SUCCESS").delete())
    MinMaxStream.foldBatch(fDf(fb2), 2L, root)
    assert(viewRows(MinMaxStream.readView(spark, root)) == finalView,
      "partial-commit replay must converge")
  }

  test("a regressed feed trips the frontier guard BEFORE any home advances") {
    val root = java.nio.file.Files.createTempDirectory("mm_rg").toString
    MinMaxStream.foldBatch(fDf(fb0), 0L, root)
    val before = viewRows(MinMaxStream.readView(spark, root))
    val e = intercept[Throwable] {
      // seq 4 ≤ frontier 5 — would re-apply an already-folded change
      MinMaxStream.foldBatch(fDf(Seq(
        (4L, "U", 1L, "a", 99.0))), 1L, root)
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(msgs.exists(_.contains("feed regressed")), s"frontier guard: $msgs")
    Seq("snap", "view", "f").foreach { h =>
      assert(!new java.io.File(s"$root/$h/b=1/_SUCCESS").exists(),
        s"home $h/ advanced to b=1 despite the guarded batch")
    }
    assert(viewRows(MinMaxStream.readView(spark, root)) == before)
  }

  test("real stream with an injected crash replays exactly-once across all three homes") {
    val src = java.nio.file.Files.createTempDirectory("mm_src").toString
    val root = java.nio.file.Files.createTempDirectory("mm_cst").toString
    val ckpt = java.nio.file.Files.createTempDirectory("mm_cck").toString
    def addFile(i: Int): Unit = {
      fDf(fAll(i)).coalesce(1).write.mode("append").parquet(src)
      Thread.sleep(50)
    }
    val schema = fDf(fb0).schema
    val failOnce = new java.util.concurrent.atomic.AtomicBoolean(true)
    def startQuery(inject: Boolean) =
      Fold.start(spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(src), ckpt) { (batch, id) =>
        MinMaxStream.foldBatch(batch, id, root)
        if (inject && id == 1L && failOnce.getAndSet(false))
          throw new RuntimeException("injected crash before commit")
      }
    (0 to 1).foreach(addFile)
    val q1 = startQuery(inject = true)
    try intercept[Exception] { q1.processAllAvailable() } finally q1.stop()
    assert(!failOnce.get(), "the injection must actually have fired")
    addFile(2)
    val q2 = startQuery(inject = false)
    try q2.processAllAvailable() finally q2.stop()
    val got = viewRows(MinMaxStream.readView(spark, root))
    val want = recompute(MinMaxStream.readSnapshot(spark, root))
    assert(got == want && got.nonEmpty, s"post-replay view $got != $want")
    // batch-path equivalence on the same feed, end to end
    val batchView = viewRows(
      Cdc.maintainMinMaxView(
        Cdc.applyChanges(fDf(fb0).select("key", "grp", "value")
            .filter(lit(false)),
          fDf(fb0 ++ fb1), "key", "seq", "op"),
        fDf(fb2), "key", "seq", "op", "grp", "value"))
    assert(got == batchView, s"stream $got != batch $batchView")
  }
}
