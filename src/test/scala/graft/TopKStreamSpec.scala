package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Cdc
import graft.streaming.{Fold, TopKStream}

/** Pins for the streaming top-k leaderboard maintainer: the
  * maintained view equals a full recompute over the merged base after
  * every batch (including a batch that retracts an IN-LIST entry —
  * the non-invertible case that forces the keyed-base home), replay
  * is idempotent clean AND through an injected mid-batch crash across
  * all three homes, and a regressed feed trips the frontier guard
  * before any home advances. */
class TopKStreamSpec extends SparkSpec {
  import spark.implicits._

  private val K = 2
  private val feedCols = Seq("seq", "op", "key", "grp", "value")
  private type FRow = (Long, String, Long, String, Double)
  private val fb0: Seq[FRow] = Seq(
    (1L, "I", 1L, "a", 9.0),
    (2L, "I", 2L, "a", 7.0),
    (3L, "I", 3L, "a", 5.0),
    (4L, "I", 4L, "a", 3.0),
    (5L, "I", 5L, "b", 4.0),
    (6L, "I", 6L, "b", 4.0))  // value tie inside b's list
  // a's below-list key 3 deleted (cheap), a's RANK-1 key 1 deleted
  // (in-list → recompute must surface key 4), a boundary-tie insert
  // lands BELOW b's list by the key tiebreak (7 > 6)
  private val fb1: Seq[FRow] = Seq(
    (10L, "D", 3L, null.asInstanceOf[String], 0.0),
    (11L, "D", 1L, null.asInstanceOf[String], 0.0),
    (12L, "I", 7L, "b", 4.0))
  // the same key retracted AND re-added within one batch (latest wins
  // I at 8.0), and a key MOVED between groups (b → a)
  private val fb2: Seq[FRow] = Seq(
    (20L, "D", 2L, null.asInstanceOf[String], 0.0),
    (21L, "I", 2L, "a", 8.0),
    (22L, "U", 5L, "a", 6.0))
  private val fAll = Seq(fb0, fb1, fb2)

  private def fDf(rows: Seq[FRow]): DataFrame = rows.toDF(feedCols: _*)

  private def viewRows(df: DataFrame): Set[(String, Long, Long, Double)] =
    df.select("grp", "rank", "key", "value")
      .as[(String, Long, Long, Double)].collect().toSet

  private def recompute(base: DataFrame): Set[(String, Long, Long, Double)] =
    viewRows(base.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("grp")
          .orderBy(col("value").desc, col("key").asc)).cast("long"))
      .filter(col("rank") <= K).select("grp", "rank", "key", "value"))

  test("maintained leaderboard ≡ recompute over the merged base after every batch") {
    val root = java.nio.file.Files.createTempDirectory("tk_st").toString
    fAll.zipWithIndex.foreach { case (b, i) =>
      TopKStream.foldBatch(fDf(b), i.toLong, root, K)
      val got = viewRows(TopKStream.readView(spark, root))
      val want = recompute(TopKStream.readSnapshot(spark, root))
      assert(got == want, s"after batch $i: $got != $want")
    }
    val finalView = viewRows(TopKStream.readView(spark, root))
    // by hand: a = {2→8.0, 4→3.0, 5→6.0} → (2, 8.0), (5, 6.0);
    //          b = {6→4.0, 7→4.0} → (6, 4.0), (7, 4.0) by key ASC
    assert(finalView == Set(
      ("a", 1L, 2L, 8.0), ("a", 2L, 5L, 6.0),
      ("b", 1L, 6L, 4.0), ("b", 2L, 7L, 4.0)),
      s"final leaderboard: $finalView")
    // replay of the final batch is idempotent
    TopKStream.foldBatch(fDf(fb2), 2L, root, K)
    assert(viewRows(TopKStream.readView(spark, root)) == finalView)
    // crash BETWEEN homes: view/ loses its b=2 commit, then replays
    assert(new java.io.File(s"$root/view/b=2/_SUCCESS").delete())
    TopKStream.foldBatch(fDf(fb2), 2L, root, K)
    assert(viewRows(TopKStream.readView(spark, root)) == finalView,
      "partial-commit replay must converge")
  }

  test("a regressed feed trips the frontier guard BEFORE any home advances") {
    val root = java.nio.file.Files.createTempDirectory("tk_rg").toString
    TopKStream.foldBatch(fDf(fb0), 0L, root, K)
    val before = viewRows(TopKStream.readView(spark, root))
    val e = intercept[Throwable] {
      // seq 4 ≤ frontier 6 — would re-apply an already-folded change
      TopKStream.foldBatch(fDf(Seq(
        (4L, "U", 1L, "a", 99.0))), 1L, root, K)
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(msgs.exists(_.contains("feed regressed")), s"frontier guard: $msgs")
    Seq("snap", "view", "f").foreach { h =>
      assert(!new java.io.File(s"$root/$h/b=1/_SUCCESS").exists(),
        s"home $h/ advanced to b=1 despite the guarded batch")
    }
    assert(viewRows(TopKStream.readView(spark, root)) == before)
  }

  test("real stream with an injected crash replays exactly-once across all three homes") {
    val src = java.nio.file.Files.createTempDirectory("tk_src").toString
    val root = java.nio.file.Files.createTempDirectory("tk_cst").toString
    val ckpt = java.nio.file.Files.createTempDirectory("tk_cck").toString
    def addFile(i: Int): Unit = {
      fDf(fAll(i)).coalesce(1).write.mode("append").parquet(src)
      Thread.sleep(50)
    }
    val schema = fDf(fb0).schema
    val failOnce = new java.util.concurrent.atomic.AtomicBoolean(true)
    def startQuery(inject: Boolean) =
      Fold.start(spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(src), ckpt) { (batch, id) =>
        TopKStream.foldBatch(batch, id, root, K)
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
    val got = viewRows(TopKStream.readView(spark, root))
    val want = recompute(TopKStream.readSnapshot(spark, root))
    assert(got == want && got.nonEmpty, s"post-replay view $got != $want")
    // batch-path equivalence on the same feed, end to end
    val batchView = viewRows(
      Cdc.maintainTopKView(
        Cdc.applyChanges(fDf(fb0).select("key", "grp", "value")
            .filter(lit(false)),
          fDf(fb0 ++ fb1), "key", "seq", "op"),
        fDf(fb2), "key", "seq", "op", "grp", "value", K))
    assert(got == batchView, s"stream $got != batch $batchView")
  }
}
