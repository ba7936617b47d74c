package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis
import graft.streaming.{Fold, TextIndexStream}

/** Pins for the streaming BM25-index maintainer: maintained postings
  * and lengths are BIT-EQUAL to scratch tokenIndex/docLengths rebuilds
  * over the merged corpus, BM25-from-index over them equals the
  * full-corpus scan path, replay is idempotent clean AND through an
  * injected crash, and a regressed feed trips the frontier guard
  * before any home advances. */
class TextIndexStreamSpec extends SparkSpec {
  import spark.implicits._

  private val feedCols = Seq("seq", "op", "id", "text")
  private type FRow = (Long, String, Long, String)
  private val fb0: Seq[FRow] = Seq(
    (1L, "I", 1L, "spark merges vector streams"),
    (2L, "I", 2L, "duck ponds and duck calls"),
    (3L, "I", 3L, "merge the stream merge the lake"))
  private val fb1: Seq[FRow] = Seq(
    (10L, "U", 2L, "rewritten about vector search"), // full re-tokenize
    (11L, "D", 3L, null),
    (12L, "I", 4L, "")) // zero-token doc: counts into N, no postings
  private val fb2: Seq[FRow] = Seq(
    (20L, "U", 1L, "first update this batch"),
    (21L, "U", 1L, "latest wins vector vector"), // same key twice
    (22L, "I", 5L, "stream meets vector"))
  private val fAll = Seq(fb0, fb1, fb2)

  private def fDf(rows: Seq[FRow]): DataFrame = rows.toDF(feedCols: _*)

  private def mergedCorpus: DataFrame = Seq(
    (1L, "latest wins vector vector"),
    (2L, "rewritten about vector search"),
    (4L, ""),
    (5L, "stream meets vector")).toDF("doc_id", "text")

  private def postRows(df: DataFrame): Set[(Long, String, Long)] =
    df.as[(Long, String, Long)].collect().toSet
  private def lenRows(df: DataFrame): Set[(Long, Int)] =
    df.as[(Long, Int)].collect().toSet

  test("maintained postings/lengths ≡ scratch rebuild; BM25 from index ≡ scan path") {
    val root = java.nio.file.Files.createTempDirectory("tix_st").toString
    fAll.zipWithIndex.foreach { case (b, i) =>
      TextIndexStream.foldBatch(fDf(b), i.toLong, root)
    }
    val wantPost = postRows(
      TextAnalysis.tokenIndex(mergedCorpus, "doc_id", "text"))
    val wantLen = lenRows(
      TextAnalysis.docLengths(mergedCorpus, "doc_id", "text"))
    assert(postRows(TextIndexStream.readPostings(spark, root)) == wantPost)
    assert(lenRows(TextIndexStream.readLengths(spark, root)) == wantLen)
    // the zero-token doc holds a lengths row but no postings
    assert(wantLen.contains((4L, 0)) && !wantPost.exists(_._1 == 4L))
    val terms = Seq("vector", "stream")
    val (pIdx, lIdx) = TextIndexStream.readIndex(spark, root)
    val viaIndex = TextAnalysis.bm25TopKFromIndex(pIdx, lIdx,
        "doc_id", terms, k = 3)
      .as[(Long, Double)].collect().toSeq
    val viaScan = TextAnalysis.bm25TopK(mergedCorpus, "doc_id", "text",
        terms, k = 3)
      .as[(Long, Double)].collect().toSeq
    assert(viaIndex == viaScan && viaIndex.nonEmpty,
      s"index path $viaIndex != scan path $viaScan")
    // replay of the final batch is idempotent; a partial commit
    // (post/ loses b=2) replays and converges
    TextIndexStream.foldBatch(fDf(fb2), 2L, root)
    assert(postRows(TextIndexStream.readPostings(spark, root)) == wantPost)
    assert(new java.io.File(s"$root/post/b=2/_SUCCESS").delete())
    // TORN WINDOW: len/ is at b=2 but post/ lost its b=2 commit — the
    // independent per-home readers would pair postings@1 with
    // lengths@2 (a deleted doc inflating N); readIndex pins BOTH to
    // the highest id committed in both homes
    val (pTorn, lTorn) = TextIndexStream.readIndex(spark, root)
    val prevCorpus = Seq( // state after fb0+fb1 only
      (1L, "spark merges vector streams"),
      (2L, "rewritten about vector search"),
      (4L, "")).toDF("doc_id", "text")
    assert(postRows(pTorn) ==
      postRows(TextAnalysis.tokenIndex(prevCorpus, "doc_id", "text")))
    assert(lenRows(lTorn) ==
      lenRows(TextAnalysis.docLengths(prevCorpus, "doc_id", "text")),
      "readIndex must serve the CONSISTENT b=1 pair, not lengths@2")
    TextIndexStream.foldBatch(fDf(fb2), 2L, root)
    assert(postRows(TextIndexStream.readPostings(spark, root)) == wantPost)
    assert(lenRows(TextIndexStream.readLengths(spark, root)) == wantLen)
  }

  test("a regressed feed trips the frontier guard BEFORE any home advances") {
    val root = java.nio.file.Files.createTempDirectory("tix_rg").toString
    TextIndexStream.foldBatch(fDf(fb0), 0L, root)
    val before = postRows(TextIndexStream.readPostings(spark, root))
    val e = intercept[Throwable] {
      TextIndexStream.foldBatch(fDf(Seq(
        (2L, "U", 1L, "stale replay"))), 1L, root)
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(msgs.exists(_.contains("feed regressed")), s"frontier guard: $msgs")
    Seq("post", "len", "f").foreach { h =>
      assert(!new java.io.File(s"$root/$h/b=1/_SUCCESS").exists(),
        s"home $h/ advanced to b=1 despite the guarded batch")
    }
    assert(postRows(TextIndexStream.readPostings(spark, root)) == before)
  }

  test("real stream with an injected crash replays exactly-once across all three homes") {
    val src = java.nio.file.Files.createTempDirectory("tix_src").toString
    val root = java.nio.file.Files.createTempDirectory("tix_cst").toString
    val ckpt = java.nio.file.Files.createTempDirectory("tix_cck").toString
    def addFile(i: Int): Unit = {
      fDf(fAll(i)).coalesce(1).write.mode("append").parquet(src)
      Thread.sleep(50)
    }
    val schema = fDf(fb0).schema
    val failOnce = new java.util.concurrent.atomic.AtomicBoolean(true)
    def startQuery(inject: Boolean) =
      Fold.start(spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(src), ckpt) { (batch, id) =>
        TextIndexStream.foldBatch(batch, id, root)
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
    assert(postRows(TextIndexStream.readPostings(spark, root)) ==
      postRows(TextAnalysis.tokenIndex(mergedCorpus, "doc_id", "text")))
    assert(lenRows(TextIndexStream.readLengths(spark, root)) ==
      lenRows(TextAnalysis.docLengths(mergedCorpus, "doc_id", "text")))
  }
}
