package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.streaming.{Fold, IvfStream}

/** Pins for the streaming IVF index maintainer: the maintained index
  * is BIT-EQUAL to a scratch [[Similarity.ivfAssign]] rebuild over the
  * merged corpus (centroids fixed — cell assignment is a pure function
  * of the vector, so equality is exact, stronger than any recall
  * bound), the search over the maintained index equals the search over
  * the rebuilt one, replay is idempotent clean AND through an injected
  * mid-batch crash, and a regressed feed trips the frontier guard
  * before any home advances (the IvmStream join-twin lesson). */
class IvfStreamSpec extends SparkSpec {
  import spark.implicits._

  // fixed coarse quantizer: 3 well-separated centroids in R⁴ — cell
  // assignment is unambiguous for every fixture vector
  private val cents: Array[Array[Double]] = Array(
    Array(10.0, 0.0, 0.0, 0.0),
    Array(0.0, 10.0, 0.0, 0.0),
    Array(0.0, 0.0, 10.0, 0.0))

  private def vec(a: Double, b: Double, c: Double, d: Double) = Seq(a, b, c, d)

  private val feedCols = Seq("seq", "op", "id", "vec")
  private type FRow = (Long, String, Long, Seq[Double])
  // batch 0: bootstrap inserts around all three centroids
  private val fb0: Seq[FRow] = Seq(
    (1L, "I", 1L, vec(9.0, 1.0, 0.0, 0.5)),
    (2L, "I", 2L, vec(8.0, 0.0, 1.0, 0.0)),
    (3L, "I", 3L, vec(0.0, 9.5, 0.0, 1.0)),
    (4L, "I", 4L, vec(1.0, 8.0, 0.0, 0.0)),
    (5L, "I", 5L, vec(0.0, 1.0, 9.0, 0.0)))
  // batch 1: id 2 re-embedded ACROSS cells (1 → 3), id 3 deleted,
  // two inserts; a delete row carries a NULL vector
  private val fb1: Seq[(Long, String, Long, Seq[Double])] = Seq(
    (10L, "U", 2L, vec(0.0, 0.5, 9.5, 0.0)),
    (11L, "D", 3L, null),
    (12L, "I", 6L, vec(0.5, 9.0, 1.0, 0.0)),
    (13L, "I", 7L, vec(9.5, 0.5, 0.5, 0.0)))
  // batch 2: the same key updated twice in one batch (latest wins),
  // a freshly-inserted key deleted again
  private val fb2: Seq[(Long, String, Long, Seq[Double])] = Seq(
    (20L, "U", 1L, vec(0.0, 0.0, 8.5, 1.0)),
    (21L, "U", 1L, vec(0.0, 8.5, 0.0, 1.0)),
    (22L, "D", 6L, null),
    (23L, "I", 8L, vec(0.0, 0.0, 9.9, 0.1)))
  private val fAll = Seq(fb0, fb1, fb2)

  private def fDf(rows: Seq[(Long, String, Long, Seq[Double])]): DataFrame =
    rows.toDF(feedCols: _*)

  /** The merged corpus after all three batches, by hand: latest image
    * per key, deletes absent. */
  private def mergedCorpus: DataFrame = Seq(
    (1L, vec(0.0, 8.5, 0.0, 1.0)),
    (2L, vec(0.0, 0.5, 9.5, 0.0)),
    (4L, vec(1.0, 8.0, 0.0, 0.0)),
    (5L, vec(0.0, 1.0, 9.0, 0.0)),
    (7L, vec(9.5, 0.5, 0.5, 0.0)),
    (8L, vec(0.0, 0.0, 9.9, 0.1))).toDF("id", "vec")

  private def idxRows(df: DataFrame): Set[(Long, Seq[Double], Int)] =
    df.select("neighbor_id", "cv", "cell")
      .as[(Long, Seq[Double], Int)].collect().toSet

  test("maintained index ≡ scratch rebuild over the merged corpus; search results identical") {
    val root = java.nio.file.Files.createTempDirectory("ivf_st").toString
    fAll.zipWithIndex.foreach { case (b, i) =>
      IvfStream.foldBatch(fDf(b), i.toLong, root, "vec", cents)
    }
    val got = idxRows(IvfStream.readIndex(spark, root))
    val want = idxRows(Similarity.ivfAssign(mergedCorpus, "id", "vec", cents))
    assert(got == want, s"maintained $got != rebuilt $want")
    // cross-cell update landed: id 2 moved from cell 1 to cell 3
    assert(got.find(_._1 == 2L).map(_._3).contains(3))
    val probesDf = Seq((100L, vec(0.0, 0.2, 9.7, 0.0))).toDF("id", "vec")
    def searched(idx: DataFrame): Seq[(Long, Long, Double, Long)] =
      Similarity.ivfSearch(idx, probesDf, "id", "vec", k = 3, cents, nProbe = 1)
        .as[(Long, Long, Double, Long)].collect().toSeq.sorted
    val viaStream = searched(IvfStream.readIndex(spark, root))
    val viaRebuild = searched(
      Similarity.ivfAssign(mergedCorpus, "id", "vec", cents))
    assert(viaStream == viaRebuild && viaStream.nonEmpty,
      s"search diverged: $viaStream vs $viaRebuild")
    // replay of the final batch is idempotent
    IvfStream.foldBatch(fDf(fb2), 2L, root, "vec", cents)
    assert(idxRows(IvfStream.readIndex(spark, root)) == want)
    // crash BETWEEN homes: idx/ loses its b=2 commit, then the batch
    // replays — both homes re-read strictly-below and converge
    assert(new java.io.File(s"$root/idx/b=2/_SUCCESS").delete())
    IvfStream.foldBatch(fDf(fb2), 2L, root, "vec", cents)
    assert(idxRows(IvfStream.readIndex(spark, root)) == want,
      "partial-commit replay must converge")
  }

  test("a regressed feed trips the frontier guard BEFORE any home advances") {
    val root = java.nio.file.Files.createTempDirectory("ivf_rg").toString
    IvfStream.foldBatch(fDf(fb0), 0L, root, "vec", cents)
    val before = idxRows(IvfStream.readIndex(spark, root))
    val e = intercept[Throwable] {
      // seq 3 ≤ frontier 5 — would re-apply an already-folded change
      IvfStream.foldBatch(fDf(Seq(
        (3L, "U", 1L, vec(0.0, 0.0, 0.0, 1.0)))), 1L, root, "vec", cents)
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(msgs.exists(_.contains("feed regressed")), s"frontier guard: $msgs")
    Seq("idx", "f").foreach { h =>
      assert(!new java.io.File(s"$root/$h/b=1/_SUCCESS").exists(),
        s"home $h/ advanced to b=1 despite the guarded batch")
    }
    assert(idxRows(IvfStream.readIndex(spark, root)) == before)
  }

  test("real stream with an injected crash replays exactly-once across both homes") {
    val src = java.nio.file.Files.createTempDirectory("ivf_src").toString
    val root = java.nio.file.Files.createTempDirectory("ivf_cst").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ivf_cck").toString
    def addFile(i: Int): Unit = {
      fDf(fAll(i)).coalesce(1).write.mode("append").parquet(src)
      Thread.sleep(50)
    }
    val schema = fDf(fb0).schema
    val failOnce = new java.util.concurrent.atomic.AtomicBoolean(true)
    def startQuery(inject: Boolean) =
      Fold.start(spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(src), ckpt) { (batch, id) =>
        IvfStream.foldBatch(batch, id, root, "vec", cents)
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
    val got = idxRows(IvfStream.readIndex(spark, root))
    val want = idxRows(Similarity.ivfAssign(mergedCorpus, "id", "vec", cents))
    assert(got == want, s"post-replay index $got != rebuilt $want")
  }
}
