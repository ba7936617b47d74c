package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Cdc
import graft.streaming.{Fold, IvmStream}

/** Pins for the streaming IVM twins: stream state ≡ the batch
  * [[Cdc.maintainGroupAgg]] / [[Cdc.maintainJoinView]] outputs, clean
  * AND through an injected mid-batch crash (the CusumStreamSpec
  * pattern), the monotone-seq frontier guard, the lying-before-image
  * guard, and multi-home replay convergence for the join twin. The
  * group state is exact DECIMAL(18,2) + longs — equality is exact. */
class IvmStreamSpec extends SparkSpec {
  import spark.implicits._

  // -------------------------------------------------------------------
  // Group-agg twin fixture: base snapshot bootstrapped by batch 0 (pure
  // inserts), then three change batches whose old images are the true
  // pre-batch state — a key changed twice in one batch carries each
  // row's own Debezium before-image (the min_by reduction must pick the
  // FIRST row's, i.e. the pre-batch image).
  // -------------------------------------------------------------------
  private val feedCols =
    Seq("key", "seq", "op", "grp", "value", "old_grp", "old_value")
  private type ChRow =
    (Long, Long, String, String, java.lang.Double, String, java.lang.Double)
  private val batch0: Seq[ChRow] = Seq(
    (1L, 1L, "I", "g1", 10.00, null, null),
    (2L, 2L, "I", "g1", 20.00, null, null),
    (3L, 3L, "I", "g2", 30.00, null, null),
    (4L, 4L, "I", "g2", 5.50, null, null),
    (5L, 5L, "I", "g3", 7.25, null, null),
    (6L, 6L, "I", "g3", 2.75, null, null))
  private val batch1: Seq[ChRow] = Seq(
    (2L, 10L, "U", "g2", 21.00, "g1", 20.00), // move g1 → g2
    (3L, 11L, "D", null, null, "g2", 30.00),
    (7L, 12L, "I", "g1", 50.00, null, null))
  private val batch2: Seq[ChRow] = Seq(
    (2L, 20L, "U", "g2", 22.00, "g2", 21.00), // first change: pre-batch image
    (2L, 21L, "U", "g3", 23.00, "g2", 22.00), // second: its own before
    (5L, 22L, "D", null, null, "g3", 7.25))
  private val batch3: Seq[ChRow] = Seq(
    (6L, 30L, "U", "g1", 3.25, "g3", 2.75),
    (7L, 31L, "D", null, null, "g1", 50.00))
  private val allBatches = Seq(batch0, batch1, batch2, batch3)

  private def chDf(rows: Seq[ChRow]): DataFrame =
    rows.toDF(feedCols: _*)

  /** The batch twin's answer over the same history: snapshot = batch 0
    * applied to nothing, changes = batches 1..3 (sans old images —
    * the batch operator fetches olds from the snapshot itself). */
  private def batchWant: Seq[(String, Long, Double)] = {
    val snap0 = Cdc.applyChanges(
      Seq.empty[(Long, String, Double)].toDF("key", "grp", "value"),
      chDf(batch0).select("key", "seq", "op", "grp", "value"),
      "key", "seq", "op")
    Cdc.maintainGroupAgg(snap0,
        chDf(batch1 ++ batch2 ++ batch3)
          .select("key", "seq", "op", "grp", "value"),
        "key", "seq", "op", "grp", "value")
      .orderBy("grp").as[(String, Long, Double)].collect().toSeq
  }

  test("group twin: folded stream state equals the batch maintainGroupAgg") {
    val stateDir = java.nio.file.Files.createTempDirectory("ivm_st").toString
    allBatches.zipWithIndex.foreach { case (b, i) =>
      IvmStream.foldBatch(chDf(b), i.toLong, stateDir)
    }
    val got = IvmStream.readView(spark, stateDir)
      .orderBy("grp").as[(String, Long, Double)].collect().toSeq
    assert(got == batchWant, s"stream view $got != batch $batchWant")
    // hand check: g1 = {1:10.00, 6:3.25}, g2 = {4:5.50}, g3 = {2:23.00}
    assert(got == Seq(("g1", 2L, 13.25), ("g2", 1L, 5.50), ("g3", 1L, 23.00)))
    val frontier = spark.read.parquet(s"$stateDir/f/b=3").as[Long].head()
    assert(frontier == 31L, s"frontier $frontier != last folded seq")
  }

  test("group twin: real stream with an injected crash after the state write replays exactly-once") {
    val src = java.nio.file.Files.createTempDirectory("ivm_src").toString
    val stateDir = java.nio.file.Files.createTempDirectory("ivm_cst").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ivm_cck").toString
    def addFile(i: Int): Unit = {
      chDf(allBatches(i)).coalesce(1)
        .write.mode("append").parquet(src)
      Thread.sleep(50) // distinct mtimes: the file source orders by them
    }
    val schema = chDf(batch0).schema
    val failOnce = new java.util.concurrent.atomic.AtomicBoolean(true)
    def startQuery(inject: Boolean) =
      Fold.start(spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(src), ckpt) { (batch, id) =>
        IvmStream.foldBatch(batch, id, stateDir)
        if (inject && id == 2L && failOnce.getAndSet(false))
          throw new RuntimeException("injected crash before commit")
      }
    (0 to 2).foreach(addFile)
    val q1 = startQuery(inject = true)
    try intercept[Exception] { q1.processAllAvailable() } finally q1.stop()
    assert(!failOnce.get(), "the injection must actually have fired")
    addFile(3)
    val q2 = startQuery(inject = false)
    try q2.processAllAvailable() finally q2.stop()
    val got = IvmStream.readView(spark, stateDir)
      .orderBy("grp").as[(String, Long, Double)].collect().toSeq
    assert(got == batchWant, s"post-replay view $got != batch $batchWant")
    val versions = new java.io.File(stateDir).list().count(_.startsWith("b="))
    assert(versions <= 3, s"stale state versions not pruned: $versions dirs")
  }

  test("group twin: a regressed feed trips the frontier guard; lying before-images trip the count guard") {
    val stateDir = java.nio.file.Files.createTempDirectory("ivm_gst").toString
    IvmStream.foldBatch(chDf(batch0), 0L, stateDir)
    // regressed seq (4 < frontier 6)
    val e1 = intercept[Throwable] {
      IvmStream.foldBatch(chDf(Seq(
        (9L, 4L, "I", "g1", 1.00, null, null))), 1L, stateDir)
    }
    val m1 = Iterator.iterate[Throwable](e1)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(m1.exists(_.contains("IvmStream")), s"frontier guard: $m1")
    // a before-image claiming a group that never held the key: g9's
    // count would fold to −1
    val e2 = intercept[Throwable] {
      IvmStream.foldBatch(chDf(Seq(
        (1L, 10L, "U", "g1", 11.00, "g9", 10.00))), 1L, stateDir)
    }
    val m2 = Iterator.iterate[Throwable](e2)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(m2.exists(_.contains("negative count")), s"count guard: $m2")
    // the guarded batches must NOT have advanced the committed state
    val st = IvmStream.readView(spark, stateDir)
      .orderBy("grp").as[(String, Long, Double)].collect().toSeq
    assert(st == Seq(("g1", 2L, 30.00), ("g2", 2L, 35.50), ("g3", 2L, 10.00)))
  }

  test("group twin: the frontier survives a batch that empties the view") {
    val stateDir = java.nio.file.Files.createTempDirectory("ivm_empty").toString
    IvmStream.foldBatch(chDf(batch0), 0L, stateDir)
    // delete every key: every group folds to zero, the state has no rows
    val deleteAll = batch0.map { case (k, q, _, g, v, _, _) =>
      (k, q + 10L, "D", null, null, g, v): ChRow
    }
    IvmStream.foldBatch(chDf(deleteAll), 1L, stateDir)
    assert(IvmStream.readView(spark, stateDir).isEmpty)
    // seq 7 is after batch 0 but not after batch 1's 16
    val e = intercept[Throwable] {
      IvmStream.foldBatch(chDf(Seq(
        (9L, 7L, "I", "g1", 1.00, null, null))), 2L, stateDir)
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(msgs.exists(_.contains("feed regressed")), s"frontier guard: $msgs")
    assert(!new java.io.File(s"$stateDir/b=2/_SUCCESS").exists(),
      "the regressed batch must not commit state")
  }

  // -------------------------------------------------------------------
  // Join twin: interleaved two-sided feed, A = facts (k, fk g, pay),
  // B = dim (g, bname).
  // -------------------------------------------------------------------
  private val joinCols =
    Seq("side", "seq", "op", "k", "g", "pay", "bname")
  private type JRow =
    (String, Long, String, java.lang.Long, java.lang.Long, String, String)
  private val jb0: Seq[JRow] = Seq(
    ("A", 1L, "I", 1L, 10L, "x1", null),
    ("A", 2L, "I", 2L, 20L, "x2", null),
    ("B", 3L, "I", null, 10L, null, "ten"),
    ("B", 4L, "I", null, 20L, null, "twenty"))
  private val jb1: Seq[JRow] = Seq(
    ("A", 10L, "U", 1L, 20L, "x1m", null), // move k1: g10 → g20
    ("B", 11L, "U", null, 20L, null, "TWENTY"),
    ("A", 12L, "I", 3L, 30L, "x3", null), // fk with no dim yet
    ("B", 13L, "I", null, 30L, null, "thirty"))
  private val jb2: Seq[JRow] = Seq(
    ("A", 20L, "D", 2L, null, null, null),
    ("B", 21L, "D", null, 10L, null, null)) // g10 now unreferenced
  private val jAll = Seq(jb0, jb1, jb2)

  private def jDf(rows: Seq[JRow]): DataFrame = rows.toDF(joinCols: _*)

  private def joinWant: Seq[(Long, Long, String, String)] = {
    val aAll = jDf(jAll.flatten).filter(col("side") === "A")
      .select("k", "seq", "op", "g", "pay")
    val bAll = jDf(jAll.flatten).filter(col("side") === "B")
      .select("g", "seq", "op", "bname")
    val aSnap = Cdc.applyChanges(
      Seq.empty[(Long, Long, String)].toDF("k", "g", "pay"),
      aAll, "k", "seq", "op")
    val bSnap = Cdc.applyChanges(
      Seq.empty[(Long, String)].toDF("g", "bname"),
      bAll, "g", "seq", "op")
    aSnap.join(bSnap, "g").select("k", "g", "pay", "bname")
      .orderBy("k").as[(Long, Long, String, String)].collect().toSeq
  }

  test("join twin: folded stream view equals the two-sided batch recompute; replay converges across homes") {
    val root = java.nio.file.Files.createTempDirectory("ivmj").toString
    jAll.zipWithIndex.foreach { case (b, i) =>
      IvmStream.joinFoldBatch(jDf(b), i.toLong, root, "k", "g",
        aPayload = Seq("g", "pay"), bPayload = Seq("bname"))
    }
    val want = joinWant
    def readView: Seq[(Long, Long, String, String)] =
      IvmStream.readJoinView(spark, root)
        .orderBy("k").as[(Long, Long, String, String)].collect().toSeq
    assert(readView == want, s"stream view $readView != batch $want")
    // hand check: k1 moved to g20 with the updated dim; k2 deleted;
    // k3's late dim arrived in the same batch window
    assert(want == Seq((1L, 20L, "x1m", "TWENTY"), (3L, 30L, "x3", "thirty")))
    // crash window: the sink fully committed batch 2 but the
    // checkpoint didn't — the runtime replays batch 2 verbatim
    IvmStream.joinFoldBatch(jDf(jb2), 2L, root, "k", "g",
      aPayload = Seq("g", "pay"), bPayload = Seq("bname"))
    assert(readView == want, "full replay must be idempotent")
    // crash BETWEEN homes: view+frontier lose their b=2 commit (the
    // _SUCCESS marker gates visibility), then batch 2 replays — every
    // home re-reads strictly-below and converges
    Seq("view", "f").foreach { h =>
      assert(new java.io.File(s"$root/$h/b=2/_SUCCESS").delete())
    }
    IvmStream.joinFoldBatch(jDf(jb2), 2L, root, "k", "g",
      aPayload = Seq("g", "pay"), bPayload = Seq("bname"))
    assert(readView == want, "partial-commit replay must converge")
  }

  test("join twin: real stream with an injected crash replays exactly-once across all four homes") {
    val src = java.nio.file.Files.createTempDirectory("ivmj_src").toString
    val root = java.nio.file.Files.createTempDirectory("ivmj_cst").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ivmj_cck").toString
    def addFile(i: Int): Unit = {
      jDf(jAll(i)).coalesce(1).write.mode("append").parquet(src)
      Thread.sleep(50)
    }
    val schema = jDf(jb0).schema
    val failOnce = new java.util.concurrent.atomic.AtomicBoolean(true)
    def startQuery(inject: Boolean) =
      Fold.start(spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(src), ckpt) { (batch, id) =>
        IvmStream.joinFoldBatch(batch, id, root, "k", "g",
          aPayload = Seq("g", "pay"), bPayload = Seq("bname"))
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
    val got = IvmStream.readJoinView(spark, root)
      .orderBy("k").as[(Long, Long, String, String)].collect().toSeq
    assert(got == joinWant, s"post-replay join view $got != batch $joinWant")
  }

  test("join twin: a regressed feed trips the frontier guard BEFORE any home advances") {
    val root = java.nio.file.Files.createTempDirectory("ivmj_rg").toString
    IvmStream.joinFoldBatch(jDf(jb0), 0L, root, "k", "g",
      aPayload = Seq("g", "pay"), bPayload = Seq("bname"))
    val viewBefore = IvmStream.readJoinView(spark, root)
      .orderBy("k").as[(Long, Long, String, String)].collect().toSeq
    // regressed seq (2 ≤ frontier 4): the guard must fire on the f/
    // commit, which runs FIRST — a/b/view must not gain a b=1 snapshot
    val e = intercept[Throwable] {
      IvmStream.joinFoldBatch(jDf(Seq(
        ("A", 2L, "I", 9L, 10L, "bad", null): JRow)), 1L, root, "k", "g",
        aPayload = Seq("g", "pay"), bPayload = Seq("bname"))
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(msgs.exists(_.contains("feed regressed")), s"frontier guard: $msgs")
    Seq("a", "b", "view", "f").foreach { h =>
      assert(!new java.io.File(s"$root/$h/b=1/_SUCCESS").exists(),
        s"home $h/ advanced to b=1 despite the guarded batch")
    }
    val viewAfter = IvmStream.readJoinView(spark, root)
      .orderBy("k").as[(Long, Long, String, String)].collect().toSeq
    assert(viewAfter == viewBefore, "guarded batch must not change the view")
  }
}
