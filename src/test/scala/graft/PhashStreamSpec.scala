package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Multimodal
import graft.streaming.{Fold, PhashStream}

/** Pins for the streaming perceptual-hash index maintainer: the
  * maintained index is BIT-EQUAL to a scratch
  * [[Multimodal.perceptualHash]] pass over the merged media corpus
  * (the hash is a pure function of the payload bytes, so equality is
  * exact), replay is idempotent clean AND through an injected
  * mid-batch crash, and a regressed feed trips the frontier guard
  * before any home advances (the IvmStream join-twin lesson). */
class PhashStreamSpec extends SparkSpec {
  import spark.implicits._

  // payloads are raw byte strips (decodeOrRaw's bytes-as-pixels
  // fallback) — distinct content ⇒ distinct block sums ⇒ moving hashes
  private def pay(s: String): Array[Byte] = s.getBytes("UTF-8")

  private val feedCols = Seq("seq", "op", "id", "payload")
  private type FRow = (Long, String, Long, Array[Byte])
  private val fb0: Seq[FRow] = Seq(
    (1L, "I", 1L, pay("aaaa bbbb cccc dddd " * 8)),
    // uniform bytes: no block mean exceeds the global mean → hash 0
    (2L, "I", 2L, pay("z" * 160)),
    (3L, "I", 3L, pay("m m m m n n n n o o " * 8)))
  // id 2 re-rendered high-half/low-half (the first blocks now sit
  // above the global mean → hash must move off 0), id 3 deleted, one
  // insert; a delete row carries a NULL payload
  private val fb1: Seq[FRow] = Seq(
    (10L, "U", 2L, pay("z" * 80 + " " * 80)),
    (11L, "D", 3L, null),
    (12L, "I", 4L, pay("pppp qqqq rrrr ssss " * 8)))
  // the same key updated twice in one batch (latest wins), a
  // freshly-inserted key deleted again
  private val fb2: Seq[FRow] = Seq(
    (20L, "U", 1L, pay("AAAA bbbb cccc dddd " * 8)),
    (21L, "U", 1L, pay("aaaa BBBB cccc dddd " * 8)),
    (22L, "D", 4L, null))
  private val fAll = Seq(fb0, fb1, fb2)

  private def fDf(rows: Seq[FRow]): DataFrame = rows.toDF(feedCols: _*)

  /** The merged corpus after all three batches, by hand: latest image
    * per key, deletes absent. */
  private def mergedCorpus: DataFrame = Seq(
    (1L, pay("aaaa BBBB cccc dddd " * 8)),
    (2L, pay("z" * 80 + " " * 80))).toDF("id", "payload")

  private def idxRows(df: DataFrame): Set[(Long, Long)] =
    df.select("id", "phash").as[(Long, Long)].collect().toSet

  test("maintained phash index ≡ scratch rebuild over the merged corpus") {
    val root = java.nio.file.Files.createTempDirectory("ph_st").toString
    fAll.zipWithIndex.foreach { case (b, i) =>
      PhashStream.foldBatch(fDf(b), i.toLong, root, "payload")
    }
    val got = idxRows(PhashStream.readIndex(spark, root))
    val want = idxRows(
      Multimodal.perceptualHash(mergedCorpus, "id", "payload"))
    assert(got == want, s"maintained $got != rebuilt $want")
    assert(got.map(_._1) == Set(1L, 2L))
    // the update genuinely moved the hash: id 2's bootstrap payload
    // was uniform (hash 0), the re-render is half-high/half-low
    assert(got.find(_._1 == 2L).exists(_._2 != 0L), "update did not land")
    // replay of the final batch is idempotent
    PhashStream.foldBatch(fDf(fb2), 2L, root, "payload")
    assert(idxRows(PhashStream.readIndex(spark, root)) == want)
    // crash BETWEEN homes: idx/ loses its b=2 commit, then the batch
    // replays — both homes re-read strictly-below and converge
    assert(new java.io.File(s"$root/idx/b=2/_SUCCESS").delete())
    PhashStream.foldBatch(fDf(fb2), 2L, root, "payload")
    assert(idxRows(PhashStream.readIndex(spark, root)) == want,
      "partial-commit replay must converge")
  }

  test("a regressed feed trips the frontier guard BEFORE any home advances") {
    val root = java.nio.file.Files.createTempDirectory("ph_rg").toString
    PhashStream.foldBatch(fDf(fb0), 0L, root, "payload")
    val before = idxRows(PhashStream.readIndex(spark, root))
    val e = intercept[Throwable] {
      // seq 2 ≤ frontier 3 — would re-apply an already-folded change
      PhashStream.foldBatch(fDf(Seq(
        (2L, "U", 1L, pay("regressed")))), 1L, root, "payload")
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(msgs.exists(_.contains("feed regressed")), s"frontier guard: $msgs")
    Seq("idx", "f").foreach { h =>
      assert(!new java.io.File(s"$root/$h/b=1/_SUCCESS").exists(),
        s"home $h/ advanced to b=1 despite the guarded batch")
    }
    assert(idxRows(PhashStream.readIndex(spark, root)) == before)
  }

  test("real stream with an injected crash replays exactly-once across both homes") {
    val src = java.nio.file.Files.createTempDirectory("ph_src").toString
    val root = java.nio.file.Files.createTempDirectory("ph_cst").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ph_cck").toString
    def addFile(i: Int): Unit = {
      fDf(fAll(i)).coalesce(1).write.mode("append").parquet(src)
      Thread.sleep(50)
    }
    val schema = fDf(fb0).schema
    val failOnce = new java.util.concurrent.atomic.AtomicBoolean(true)
    def startQuery(inject: Boolean) =
      Fold.start(spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(src), ckpt) { (batch, id) =>
        PhashStream.foldBatch(batch, id, root, "payload")
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
    val got = idxRows(PhashStream.readIndex(spark, root))
    val want = idxRows(
      Multimodal.perceptualHash(mergedCorpus, "id", "payload"))
    assert(got == want, s"post-replay index $got != rebuilt $want")
  }
}
