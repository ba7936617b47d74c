package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.streaming.{ClusterStream, Fold}

/** Pins for the streaming cluster-map maintainer: the maintained map
  * (and the full signature/pair state) equals a scratch
  * [[Dedup.clustersBootstrap]] over the merged corpus after every
  * batch — including a batch that deletes a duplicate (splitting its
  * cluster) and one that inserts a near-dup (merging) — replay is
  * idempotent clean AND through an injected mid-batch crash across
  * all four homes, and a regressed feed trips the frontier guard
  * before any home advances. maxHamming = 0 (hash-equal pairs) keeps
  * the fixture hand-checkable: cluster structure is a pure function
  * of exact text. */
class ClusterStreamSpec extends SparkSpec {
  import spark.implicits._

  private val feedCols = Seq("seq", "op", "id", "text")
  private type FRow = (Long, String, Long, String)
  private val fb0: Seq[FRow] = Seq(
    (1L, "I", 1L, "alpha beta gamma"),
    (2L, "I", 2L, "alpha beta gamma"),
    (3L, "I", 3L, "alpha beta gamma"),
    (4L, "I", 10L, "delta epsilon"))
  // the min-id member of {1,2,3} deleted (the cluster ID must move),
  // a near-dup of 10 inserted (a merge)
  private val fb1: Seq[FRow] = Seq(
    (10L, "D", 1L, null.asInstanceOf[String]),
    (11L, "I", 20L, "delta epsilon"))
  // doc 2 rewritten away from its cluster (a split to singletons),
  // the same key updated twice in one batch (latest wins)
  private val fb2: Seq[FRow] = Seq(
    (20L, "U", 2L, "rewritten once"),
    (21L, "U", 2L, "rewritten twice"),
    (22L, "I", 30L, "alpha beta gamma"))
  private val fAll = Seq(fb0, fb1, fb2)

  private def fDf(rows: Seq[FRow]): DataFrame = rows.toDF(feedCols: _*)

  /** The merged corpus after all three batches, by hand. */
  private def mergedCorpus: DataFrame = Seq(
    (2L, "rewritten twice"), (3L, "alpha beta gamma"),
    (10L, "delta epsilon"), (20L, "delta epsilon"),
    (30L, "alpha beta gamma")).toDF("id", "text")

  private def clRows(df: DataFrame): Set[(Long, Long)] =
    df.select("id", "cluster_id").as[(Long, Long)].collect().toSet

  test("maintained map ≡ scratch rebuild over the merged corpus after every batch") {
    val root = java.nio.file.Files.createTempDirectory("cl_st").toString
    fAll.zipWithIndex.foreach { case (b, i) =>
      ClusterStream.foldBatch(fDf(b), i.toLong, root, maxHamming = 0)
    }
    val got = clRows(ClusterStream.readClusters(spark, root))
    // by hand: {3,30} share text (cluster 3), {10,20} share (cluster
    // 10), 2 is a singleton after its rewrite
    val want = Set((2L, 2L), (3L, 3L), (30L, 3L), (10L, 10L), (20L, 10L))
    assert(got == want, s"maintained $got != $want")
    val ref = Dedup.clustersBootstrap(mergedCorpus, "id", "text",
      maxHamming = 0)
    assert(got == clRows(ref.clusters), "maintained != scratch rebuild")
    assert(ClusterStream.readSigs(spark, root)
      .as[(Long, Long)].collect().toSet ==
      ref.sigs.as[(Long, Long)].collect().toSet, "sigs diverged")
    assert(ClusterStream.readPairs(spark, root)
      .as[(Long, Long)].collect().toSet ==
      ref.pairs.as[(Long, Long)].collect().toSet, "pairs diverged")
    // replay of the final batch is idempotent
    ClusterStream.foldBatch(fDf(fb2), 2L, root, maxHamming = 0)
    assert(clRows(ClusterStream.readClusters(spark, root)) == want)
    // crash BETWEEN homes: cl/ loses its b=2 commit, then replays —
    // sig/ and pairs/ already committed b=2, all homes must converge
    assert(new java.io.File(s"$root/cl/b=2/_SUCCESS").delete())
    ClusterStream.foldBatch(fDf(fb2), 2L, root, maxHamming = 0)
    assert(clRows(ClusterStream.readClusters(spark, root)) == want,
      "partial-commit replay must converge")
  }

  test("a small batch's written delta rows track the CHANGE, not the " +
      "corpus — the r19 write-amplification gap, closed") {
    val root = java.nio.file.Files.createTempDirectory("cl_dl").toString
    // bootstrap: 60 docs in 20 exact-dup clusters of 3
    val boot = (0 until 60).map(i =>
      (i.toLong, "I", i.toLong, s"shared text of group ${i % 20}"))
    ClusterStream.foldBatch(fDf(boot), 0L, root, maxHamming = 0)
    // batch 1: ONE doc rewritten out of its cluster into a singleton
    ClusterStream.foldBatch(fDf(Seq(
      (100L, "U", 7L, "a rewritten singleton"))), 1L, root, maxHamming = 0)
    def rows(h: String, b: Long): Long =
      spark.read.parquet(s"$root/$h/b=$b").count()
    assert(rows("sig", 0) == 60, "bootstrap delta carries the corpus")
    assert(rows("sig", 1) == 1,
      s"sig delta must carry the ONE changed key, got ${rows("sig", 1)}")
    // cl delta: the affected cluster's membership only — doc 7's old
    // cluster {7, 27, 47} recomputed (7 now a singleton), 19 other
    // clusters carry with ZERO written rows
    assert(rows("cl", 1) <= 4,
      s"cl delta must track the affected cluster, got ${rows("cl", 1)}")
    assert(rows("pairs", 1) <= 2,
      s"pair delta must track the affected hashes, got ${rows("pairs", 1)}")
    // and the reconstructed state still equals a scratch rebuild
    val merged = (0 until 60).map(i => (i.toLong,
      if (i == 7) "a rewritten singleton" else s"shared text of group ${i % 20}"))
      .toDF("id", "text")
    val ref = Dedup.clustersBootstrap(merged, "id", "text", maxHamming = 0)
    assert(clRows(ClusterStream.readClusters(spark, root)) ==
      clRows(ref.clusters), "delta-reconstructed map != scratch rebuild")
  }

  test("compaction bounds the delta-partition count, preserves the " +
      "reconstructed state, and replay after compaction still converges") {
    val root = java.nio.file.Files.createTempDirectory("cl_cp").toString
    val batches = Seq(
      Seq((1L, "I", 1L, "alpha"), (2L, "I", 2L, "alpha"),
        (3L, "I", 3L, "beta")),
      Seq((10L, "I", 4L, "alpha"), (11L, "U", 3L, "gamma")),
      Seq((20L, "D", 2L, null.asInstanceOf[String]),
        (21L, "I", 5L, "beta")),
      Seq((30L, "U", 1L, "beta"), (31L, "I", 6L, "alpha")))
    batches.zipWithIndex.foreach { case (b, i) =>
      ClusterStream.foldBatch(fDf(b), i.toLong, root, maxHamming = 0,
        compactEvery = 2)
    }
    // compactEvery = 2 ran at batches 2 and 4 worth of merges: the
    // sig home must hold fewer committed partitions than batches
    def parts(h: String): Int = new java.io.File(s"$root/$h").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("b=") &&
        new java.io.File(f, "_SUCCESS").exists())
    assert(parts("sig") < batches.size,
      s"compaction never merged: ${parts("sig")} sig partitions")
    val merged = Seq((1L, "beta"), (3L, "gamma"), (4L, "alpha"),
      (5L, "beta"), (6L, "alpha")).toDF("id", "text")
    val ref = Dedup.clustersBootstrap(merged, "id", "text", maxHamming = 0)
    assert(clRows(ClusterStream.readClusters(spark, root)) ==
      clRows(ref.clusters), "post-compaction map != scratch rebuild")
    assert(ClusterStream.readSigs(spark, root)
      .as[(Long, Long)].collect().toSet ==
      ref.sigs.as[(Long, Long)].collect().toSet,
      "post-compaction sigs != scratch")
    // the newest batch stays replayable after compaction
    ClusterStream.foldBatch(fDf(batches.last), 3L, root, maxHamming = 0,
      compactEvery = 2)
    assert(clRows(ClusterStream.readClusters(spark, root)) ==
      clRows(ref.clusters), "replay after compaction diverged")
  }

  test("a pre-marker or foreign-layout state root fails LOUDLY with a " +
      "rebootstrap message, BEFORE any read can mis-resolve (ADVICE r19)") {
    // pre-marker state: home content but no _graft_layout file — the
    // pre-r20 snapshot layout resumed by this build
    val root = java.nio.file.Files.createTempDirectory("cl_mk").toString
    assert(new java.io.File(s"$root/cl/b=0").mkdirs())
    val e1 = intercept[IllegalStateException] {
      ClusterStream.foldBatch(fDf(fb0), 1L, root, maxHamming = 0)
    }
    assert(e1.getMessage.contains("wipe the root"), e1.getMessage)
    // foreign marker: a root written by some future layout tag
    val root2 = java.nio.file.Files.createTempDirectory("cl_mk2").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root2, "_graft_layout"), "cluster-delta-v99")
    val e2 = intercept[IllegalStateException] {
      ClusterStream.foldBatch(fDf(fb0), 0L, root2, maxHamming = 0)
    }
    assert(e2.getMessage.contains("state layout changed"), e2.getMessage)
    // and a matching marker is a silent no-op (the normal path)
    val root3 = java.nio.file.Files.createTempDirectory("cl_mk3").toString
    ClusterStream.foldBatch(fDf(fb0), 0L, root3, maxHamming = 0)
    ClusterStream.foldBatch(fDf(fb1), 1L, root3, maxHamming = 0)
    assert(clRows(ClusterStream.readClusters(spark, root3)).nonEmpty)
  }

  test("a regressed feed trips the frontier guard BEFORE any home advances") {
    val root = java.nio.file.Files.createTempDirectory("cl_rg").toString
    ClusterStream.foldBatch(fDf(fb0), 0L, root, maxHamming = 0)
    val before = clRows(ClusterStream.readClusters(spark, root))
    val e = intercept[Throwable] {
      // seq 3 ≤ frontier 4 — would re-apply an already-folded change
      ClusterStream.foldBatch(fDf(Seq(
        (3L, "U", 1L, "regressed"))), 1L, root, maxHamming = 0)
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(msgs.exists(_.contains("feed regressed")), s"frontier guard: $msgs")
    Seq("sig", "pairs", "cl", "f").foreach { h =>
      assert(!new java.io.File(s"$root/$h/b=1/_SUCCESS").exists(),
        s"home $h/ advanced to b=1 despite the guarded batch")
    }
    assert(clRows(ClusterStream.readClusters(spark, root)) == before)
  }

  test("a failing batch leaves no persisted RDD behind") {
    val root = java.nio.file.Files.createTempDirectory("cl_fail").toString
    val sc = spark.sparkContext
    ClusterStream.foldBatch(fDf(fb0), 0L, root, maxHamming = 0)
    val before = sc.getPersistentRDDs.keySet
    def failsWith(batch: DataFrame, msg: String): Unit = {
      val e = intercept[Throwable] {
        ClusterStream.foldBatch(batch, 1L, root, maxHamming = 0)
      }
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).toSeq
      assert(msgs.exists(_.contains(msg)), s"failure: $msgs")
      val left = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
      assert(left.isEmpty, s"persisted RDDs left behind: ${left.values.mkString(", ")}")
    }
    // the text raises in the batch's first job
    failsWith(fDf(fb1).withColumn("text",
      when(col("id") === 20L, raise_error(lit("text unreadable")))
        .otherwise(col("text"))), "text unreadable")
    // seq 2 ≤ frontier 4: the guard throws at the f/ commit, after the
    // maintenance's persists and checkpoints have materialized
    failsWith(fDf(Seq((2L, "I", 50L, "delta epsilon"))), "feed regressed")
  }

  test("real stream with an injected crash replays exactly-once across all four homes") {
    val src = java.nio.file.Files.createTempDirectory("cl_src").toString
    val root = java.nio.file.Files.createTempDirectory("cl_cst").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cl_cck").toString
    def addFile(i: Int): Unit = {
      fDf(fAll(i)).coalesce(1).write.mode("append").parquet(src)
      Thread.sleep(50)
    }
    val schema = fDf(fb0).schema
    val failOnce = new java.util.concurrent.atomic.AtomicBoolean(true)
    def startQuery(inject: Boolean) =
      Fold.start(spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(src), ckpt) { (batch, id) =>
        ClusterStream.foldBatch(batch, id, root, maxHamming = 0)
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
    val got = clRows(ClusterStream.readClusters(spark, root))
    val ref = Dedup.clustersBootstrap(mergedCorpus, "id", "text",
      maxHamming = 0)
    assert(got == clRows(ref.clusters) && got.nonEmpty,
      s"post-replay map $got != scratch")
    // batch-path equivalence on the same feed, end to end
    val batchMap = Dedup.clustersMaintain(
      Dedup.clustersMaintain(
        Dedup.clustersBootstrap(
          fDf(fb0).select(col("id"), col("text")), "id", "text",
          maxHamming = 0),
        fDf(fb1), "id", "text", "seq", "op", maxHamming = 0),
      fDf(fb2), "id", "text", "seq", "op", maxHamming = 0).clusters
    assert(got == clRows(batchMap), s"stream $got != batch")
  }
}
