package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Cdc, Dedup, Sampling, TextAnalysis}
import graft.streaming.{Fold, ManifestStream}

/** Pins for the streaming training-manifest maintainer — the composed
  * capstone sink: (1) the served manifest equals the scratch
  * filter → dedup-cluster → keep-best → split pipeline over the merged
  * corpus after EVERY batch, through quality-bar crossings, a dup-group
  * merge, and a keeper deletion; (2) with a constant score the stream
  * reproduces the registered `pipeline_incremental_manifest` batch
  * capstone row-for-row on the real sf0.001 corpus; (3) a real stream
  * with an injected mid-batch crash replays exactly-once across all
  * six homes. */
class ManifestStreamSpec extends SparkSpec {
  import spark.implicits._

  private val feedCols = Seq("seq", "op", "id", "text", "lang")
  private type FRow = (Long, String, Long, String, String)

  // quality bar: text at least 12 chars — cheap, hand-checkable
  private def classify(df: DataFrame): DataFrame =
    df.select(col("id"), (length(col("text")) >= 12L).as("keep"))

  private val splits = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)

  /** Scratch reference: filter ∘ cluster ∘ keep-best(length) ∘ split
    * over a merged (id, text, lang) corpus. */
  private def scratchManifest(merged: DataFrame): Set[(Long, String, String)] = {
    val kept = merged.filter(length(col("text")) >= 12L)
    val st = Dedup.clustersBootstrap(kept, "id", "text", maxHamming = 0)
    val keepers = Dedup.keepBestFromClusters(st.clusters,
        kept.select(col("id"),
          length(col("text")).cast("long").as("__score")), "id")
      .filter(col("keep")).select("id")
    Sampling.assignSplits(
        keepers.join(merged.select("id", "lang"), Seq("id")), "id", splits)
      .select("id", "lang", "split")
      .as[(Long, String, String)].collect().toSet
  }

  private def mRows(df: DataFrame): Set[(Long, String, String)] =
    df.select("id", "lang", "split").as[(Long, String, String)]
      .collect().toSet

  // batch 0: dup pair {1,2} (2 is LONGER → keep-best keeper), a
  // quality-failing doc 3, a singleton 10
  private val fb0: Seq[FRow] = Seq(
    (1L, "I", 1L, "alpha beta gamma", "en"),
    (2L, "I", 2L, "alpha beta gamma and more", "en"),
    (3L, "I", 3L, "tiny", "de"),
    (4L, "I", 10L, "delta epsilon zeta", "en"))
  // batch 1: keeper 2 DELETED (runner-up 1 must surface), doc 3
  // climbs above the bar, a new dup of 10 arrives (same text → same
  // cluster; 20 ties 10 on length → tie keeps min-id 10)
  private val fb1: Seq[FRow] = Seq(
    (10L, "D", 2L, null.asInstanceOf[String], null.asInstanceOf[String]),
    (11L, "U", 3L, "no longer tiny at all", "de"),
    (12L, "I", 20L, "delta epsilon zeta", "en"))
  // batch 2: doc 3 crosses the bar TWICE in one batch (winner fails →
  // retracted), doc 1 updated to a longer text (keeper stays, score
  // moves)
  private val fb2: Seq[FRow] = Seq(
    (20L, "U", 3L, "long enough again here", "de"),
    (21L, "U", 3L, "bad", "de"),
    (22L, "U", 1L, "alpha beta gamma stretched", "en"))
  private val fAll = Seq(fb0, fb1, fb2)

  private def fDf(rows: Seq[FRow]): DataFrame = rows.toDF(feedCols: _*)

  /** Merged raw corpus after batches 0..i, by hand. */
  private def mergedAfter(i: Int): DataFrame = {
    val all = Seq(
      0 -> Seq((1L, "alpha beta gamma", "en"),
        (2L, "alpha beta gamma and more", "en"),
        (3L, "tiny", "de"), (10L, "delta epsilon zeta", "en")),
      1 -> Seq((1L, "alpha beta gamma", "en"),
        (3L, "no longer tiny at all", "de"),
        (10L, "delta epsilon zeta", "en"),
        (20L, "delta epsilon zeta", "en")),
      2 -> Seq((1L, "alpha beta gamma stretched", "en"),
        (3L, "bad", "de"),
        (10L, "delta epsilon zeta", "en"),
        (20L, "delta epsilon zeta", "en"))).toMap
    all(i).toDF("id", "text", "lang")
  }

  test("served manifest ≡ scratch filter→cluster→keep-best→split after " +
      "every batch: bar crossings, dup merge, keeper deletion") {
    val root = java.nio.file.Files.createTempDirectory("mf_st").toString
    fAll.zipWithIndex.foreach { case (b, i) =>
      ManifestStream.foldBatch(fDf(b), i.toLong, root, classify,
        length(col("text")).cast("long"), splits, maxHamming = 0)
      val got = mRows(ManifestStream.readManifest(spark, root))
      val want = scratchManifest(mergedAfter(i))
      assert(got == want, s"batch $i: manifest $got != scratch $want")
    }
    // sanity on the final state: keeper of {1} survives (2 deleted),
    // 3 retracted (its winning update failed the bar), {10,20} keeps 10
    val ids = mRows(ManifestStream.readManifest(spark, root)).map(_._1)
    assert(ids == Set(1L, 10L), s"final keepers: $ids")
    // replay of the final batch is idempotent
    ManifestStream.foldBatch(fDf(fb2), 2L, root, classify,
      length(col("text")).cast("long"), splits, maxHamming = 0)
    assert(mRows(ManifestStream.readManifest(spark, root)).map(_._1) ==
      Set(1L, 10L))
  }

  test("constant score ⇒ the stream reproduces the registered batch " +
      "capstone (pipeline_incremental_manifest) on the sf0.001 corpus") {
    val d = "/root/testdata/sf0.001"
    // the SHARED fixture builder (also behind the registered
    // pipeline_manifest_stream row), so this pin and the driver row
    // cannot drift from the oracle's merged-corpus scheme copy-by-copy
    val (boot, feed) = PipelineQueries.manifestStreamFeed(
      spark.read.parquet(s"$d/documents.parquet"))
    def battery(df: DataFrame): DataFrame =
      TextAnalysis.filterBattery(df, idCol = "id",
        minTokens = 30, maxTokens = 100000, minAvgLen = 3.0,
        maxAvgLen = 10.0, minAlphaRatio = 0.8, minStopwordHits = 2,
        minDistinctRatio = 0.3)
    val root = java.nio.file.Files.createTempDirectory("mf_cap").toString
    ManifestStream.foldBatch(boot, 0L, root, battery, lit(0.0), splits)
    ManifestStream.foldBatch(feed, 1L, root, battery, lit(0.0), splits)
    val got = mRows(ManifestStream.readManifest(spark, root))
    val capstone = SparkEntry.queries("pipeline_incremental_manifest")(
        spark, d)
      .select(col("doc_id"), col("lang"), col("split"))
      .as[(Long, String, String)].collect().toSet
    assert(got.nonEmpty && got == capstone,
      s"stream (${got.size} rows) != batch capstone (${capstone.size}): " +
        s"extra=${(got -- capstone).take(5)} missing=${(capstone -- got).take(5)}")
  }

  test("incremental survivorship: an untouched cluster writes ZERO " +
      "manifest delta rows — a small batch's written rows track the " +
      "delta across every home (r19 verdict #1+#2, closed)") {
    val root = java.nio.file.Files.createTempDirectory("mf_dl").toString
    // bootstrap: two dup clusters {1,2} and {30,31}, singletons 10, 40
    val b0: Seq[FRow] = Seq(
      (1L, "I", 1L, "alpha beta gamma", "en"),
      (2L, "I", 2L, "alpha beta gamma", "en"),
      (3L, "I", 30L, "epsilon zeta eta", "de"),
      (4L, "I", 31L, "epsilon zeta eta", "de"),
      (5L, "I", 10L, "singleton number ten", "en"),
      (6L, "I", 40L, "singleton number forty", "fr"))
    ManifestStream.foldBatch(fDf(b0), 0L, root, classify,
      length(col("text")).cast("long"), splits, maxHamming = 0)
    // batch 1 touches ONLY cluster {1,2}: doc 2 is rewritten out of
    // it (hash-equal clustering → a split; both docs become keepers)
    ManifestStream.foldBatch(fDf(Seq(
      (10L, "U", 2L, "alpha beta gamma and then some", "en"))),
      1L, root, classify, length(col("text")).cast("long"), splits,
      maxHamming = 0)
    def delta(h: String, b: Long) = spark.read.parquet(s"$root/$h/b=$b")
    // the manifest delta names ONLY the touched cluster's docs — the
    // untouched {30,31}, 10, 40 carry with zero written rows
    val mIds = delta("manifest", 1L).select("id").as[Long].collect().toSet
    assert(mIds == Set(1L, 2L),
      s"manifest delta must touch only the affected cluster: $mIds")
    assert(delta("sig", 1L).count() == 1, "sig delta: the one changed key")
    assert(delta("meta", 1L).count() == 1, "meta delta: the one changed key")
    val clIds = delta("cl", 1L).select("id").as[Long].collect().toSet
    assert(clIds == Set(1L, 2L),
      s"cl delta must cover the affected cluster only: $clIds")
    // and the SERVED manifest equals scratch over the merged corpus
    val merged = Seq((1L, "alpha beta gamma", "en"),
      (2L, "alpha beta gamma and then some", "en"),
      (30L, "epsilon zeta eta", "de"), (31L, "epsilon zeta eta", "de"),
      (10L, "singleton number ten", "en"),
      (40L, "singleton number forty", "fr")).toDF("id", "text", "lang")
    assert(mRows(ManifestStream.readManifest(spark, root)) ==
      scratchManifest(merged), "served manifest != scratch")
  }

  test("a regressed feed trips the frontier guard BEFORE any home advances") {
    val root = java.nio.file.Files.createTempDirectory("mf_rg").toString
    ManifestStream.foldBatch(fDf(fb0), 0L, root, classify,
      length(col("text")).cast("long"), splits, maxHamming = 0)
    val before = mRows(ManifestStream.readManifest(spark, root))
    val e = intercept[Throwable] {
      // seq 2 ≤ frontier 4 — would re-apply an already-folded change
      ManifestStream.foldBatch(fDf(Seq(
        (2L, "U", 1L, "regressed row content", "en"))), 1L, root, classify,
        length(col("text")).cast("long"), splits, maxHamming = 0)
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(msgs.exists(_.contains("feed regressed")), s"frontier guard: $msgs")
    Seq("f", "sig", "pairs", "cl", "meta", "manifest").foreach { h =>
      assert(!new java.io.File(s"$root/$h/b=1/_SUCCESS").exists(),
        s"home $h/ advanced to b=1 despite the guarded batch")
    }
    assert(mRows(ManifestStream.readManifest(spark, root)) == before)
  }

  test("a classify contract violation still releases the batch's persists") {
    val root = java.nio.file.Files.createTempDirectory("mf_cv").toString
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // a NULL keep value breaks gateFeed's classify contract: the eager
    // checkpoint of the gated feed throws
    val nullKeep: DataFrame => DataFrame =
      _.select(col("id"), lit(null).cast("boolean").as("keep"))
    val e = intercept[Throwable] {
      ManifestStream.foldBatch(fDf(fb0), 0L, root, nullKeep,
        length(col("text")).cast("long"), splits, maxHamming = 0)
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(msgs.exists(_.contains("NULL keep value")), s"contract: $msgs")
    val left = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    assert(left.isEmpty, s"persisted RDDs left behind: ${left.values.mkString(", ")}")
  }

  test("real stream with an injected crash replays exactly-once across " +
      "all six homes") {
    val src = java.nio.file.Files.createTempDirectory("mf_src").toString
    val root = java.nio.file.Files.createTempDirectory("mf_cst").toString
    val ckpt = java.nio.file.Files.createTempDirectory("mf_cck").toString
    def addFile(i: Int): Unit = {
      fDf(fAll(i)).coalesce(1).write.mode("append").parquet(src)
      Thread.sleep(50)
    }
    val schema = fDf(fb0).schema
    val failOnce = new java.util.concurrent.atomic.AtomicBoolean(true)
    def startQuery(inject: Boolean) =
      Fold.start(spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(src), ckpt) { (batch, id) =>
        ManifestStream.foldBatch(batch, id, root, classify,
          length(col("text")).cast("long"), splits, maxHamming = 0)
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
    val got = mRows(ManifestStream.readManifest(spark, root))
    assert(got == scratchManifest(mergedAfter(2)) && got.nonEmpty,
      s"post-replay manifest $got != scratch")
  }
}
