package graft

import org.apache.spark.sql.functions._

import graft.streaming.{DedupStream, Fold}

/** Drives the streaming dedup ingest end-to-end over a file source:
  * batch-by-batch screening against the growing signature index,
  * within-batch near-dup resolution, and kill-and-restart replay from
  * the checkpoint (the exactly-once half a 100 TB ingest exercises
  * first). Duplicate texts are exact copies, so the minhash screen is
  * deterministic (estimated jaccard 1.0) and the expected survivor set
  * is hand-derivable. */
class DedupStreamSpec extends SparkSpec {
  import spark.implicits._

  private val baseA = "the quick brown fox jumps over the lazy dog again and again"
  private val baseB = "completely different subject matter about spark shuffles and joins"
  private val baseC = "a third unrelated document concerning parquet column pruning rules"
  private val baseD = "yet another distinct text on watermarks and session windows here"

  test("dedup ingest: index screen + within-batch dedup + checkpoint replay") {
    val src = java.nio.file.Files.createTempDirectory("dd_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("dd_ck").toString
    val index = java.nio.file.Files.createTempDirectory("dd_ix").toString + "/ix"
    val kept = java.nio.file.Files.createTempDirectory("dd_out").toString + "/kept"
    def addFile(rows: (Long, String)*): Unit =
      rows.toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(src)

    // batch 1: two originals; batch 2: doc 3 duplicates doc 1 (must be
    // caught by the INDEX screen), docs 4 and 5 duplicate each other
    // (WITHIN-batch pair → min-id keeper 4 survives)
    addFile((1L, baseA), (2L, baseB))
    addFile((3L, baseA), (4L, baseC), (5L, baseC))

    val schema = spark.read.parquet(src).schema
    def startQuery() = Fold.start(spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(src), ckpt) { (batch, id) =>
      DedupStream.screenBatch(batch, id, index, kept, "doc_id", "text",
        threshold = 0.7)
    }

    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.read.parquet(kept).select("doc_id").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L, 4L), "run 1 must keep the originals and the within-batch keeper")

    // restart from the checkpoint: doc 6 duplicates doc 2 (screened by
    // an index entry committed BEFORE the restart), doc 7 is new —
    // recovery must resume the index, not restart it
    addFile((6L, baseB), (7L, baseD))
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    val keptIds = spark.read.parquet(kept).select("doc_id").as[Long]
      .collect().sorted.toSeq
    assert(keptIds == Seq(1L, 2L, 4L, 7L),
      s"cross-restart screen must drop 3, 5, 6 and keep 7; got $keptIds")
    // the index holds EXACTLY the survivors' signatures — nothing for
    // dropped docs, nothing duplicated by the restart
    val indexIds = spark.read.parquet(index).select("doc_id").as[Long]
      .collect().sorted.toSeq
    assert(indexIds == Seq(1L, 2L, 4L, 7L),
      s"index must mirror the kept set exactly; got $indexIds")

    // replay idempotence, driven directly: re-run the LAST batch (id 2
    // — run 1 consumed batches 0 and 1) with the same data. The index
    // read excludes the batch's OWN partition, so the replay recomputes
    // the identical survivor set and overwrites the same files instead
    // of screening doc 7 against its own signature and dropping it.
    DedupStream.screenBatch(Seq((6L, baseB), (7L, baseD)).toDF("doc_id", "text"),
      id = 2L, index, kept, "doc_id", "text", threshold = 0.7)
    val afterReplay = spark.read.parquet(kept).select("doc_id").as[Long]
      .collect().sorted.toSeq
    assert(afterReplay == Seq(1L, 2L, 4L, 7L),
      s"an explicit batch replay must not duplicate or drop rows; got $afterReplay")
    assert(spark.read.parquet(index).select("doc_id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L, 4L, 7L))

    // and INGESTING the same docs again as a genuinely NEW batch is
    // itself deduped: everything matches the standing index, nothing
    // new lands in either sink
    DedupStream.screenBatch(Seq((8L, baseB), (9L, baseD)).toDF("doc_id", "text"),
      id = 3L, index, kept, "doc_id", "text", threshold = 0.7)
    assert(spark.read.parquet(kept).select("doc_id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L, 4L, 7L),
      "re-ingested content must be screened out by the standing index")

    // COMPACTION: merge every delta below the newest into the oldest
    // id — content identical, directory count collapsed, the newest
    // (replayable) delta untouched, and subsequent ingest still screens
    val before = spark.read.parquet(index).select("doc_id").as[Long]
      .collect().sorted.toSeq
    DedupStream.compactIndex(spark, index)
    val dirs = new java.io.File(index).listFiles().map(_.getName)
      .filter(_.startsWith("b=")).sorted.toSeq
    assert(dirs == Seq("b=0", "b=3"),
      s"deltas 0..2 must collapse into b=0, newest b=3 untouched; got $dirs")
    assert(spark.read.parquet(index).select("doc_id").as[Long]
      .collect().sorted.toSeq == before, "compaction must not change index content")
    DedupStream.screenBatch(Seq((10L, baseA), (11L, baseC)).toDF("doc_id", "text"),
      id = 4L, index, kept, "doc_id", "text", threshold = 0.7)
    assert(spark.read.parquet(kept).select("doc_id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L, 4L, 7L),
      "post-compaction screen must still consult the merged history")
  }

  test("compactIndex heals a crash caught mid-target-rewrite") {
    val index = java.nio.file.Files.createTempDirectory("ddh_ix").toString + "/ix"
    val kept = java.nio.file.Files.createTempDirectory("ddh_out").toString + "/kept"
    // three committed deltas via the normal protocol
    Seq(baseA, baseB, baseC).zipWithIndex.foreach { case (t, i) =>
      DedupStream.screenBatch(Seq((i.toLong, t)).toDF("doc_id", "text"),
        id = i.toLong, index, kept, "doc_id", "text", threshold = 0.7)
    }
    val before = spark.read.parquet(index).select("doc_id").as[Long]
      .collect().sorted.toSeq
    assert(before == Seq(0L, 1L, 2L))

    // simulate the first crash window: staging committed (it holds the
    // merged b=0 ∪ b=1), target b=0 mid-overwrite (its _SUCCESS gone) —
    // the exact on-disk state an interrupted compactIndex leaves
    val staging = s"$index/compact_staging"
    spark.read.parquet(s"$index/b=0").unionByName(spark.read.parquet(s"$index/b=1"))
      .write.mode("overwrite").parquet(staging)
    assert(new java.io.File(s"$staging/_SUCCESS").exists())
    assert(new java.io.File(s"$index/b=0/_SUCCESS").delete(),
      "test setup: simulate the interrupted target by removing its marker")
    // the crashed delta's rows are now invisible to the committed view
    assert(DedupStream.indexSoFar(spark, index, belowBatch = 99L,
      spark.read.parquet(s"$index/b=1").filter(lit(false)))
      .select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))

    // one compactIndex call must FIRST replay staging→target (making
    // doc 0's signatures committed again), then compact as usual
    DedupStream.compactIndex(spark, index)
    assert(spark.read.parquet(index).select("doc_id").as[Long]
      .collect().sorted.toSeq == before,
      "heal must restore the interrupted delta's rows before merging")
    assert(!new java.io.File(staging).exists(), "staging must be cleaned up")
    val dirs = new java.io.File(index).listFiles().map(_.getName)
      .filter(_.startsWith("b=")).sorted.toSeq
    assert(dirs == Seq("b=0", "b=2"),
      s"post-heal compaction must still collapse the tail; got $dirs")
    // and the healed index still screens: re-ingesting doc 0's text as
    // a new batch must be dropped by the standing index
    DedupStream.screenBatch(Seq((10L, baseA)).toDF("doc_id", "text"),
      id = 3L, index, kept, "doc_id", "text", threshold = 0.7)
    assert(spark.read.parquet(kept).select("doc_id").as[Long]
      .collect().sorted.toSeq == Seq(0L, 1L, 2L),
      "a heal-recovered index must screen content from the crashed delta")
  }

  test("readKeptCorpus skips partitions whose _SUCCESS is missing") {
    val index = java.nio.file.Files.createTempDirectory("ddr_ix").toString + "/ix"
    val kept = java.nio.file.Files.createTempDirectory("ddr_out").toString + "/kept"
    Seq(baseA, baseB).zipWithIndex.foreach { case (t, i) =>
      DedupStream.screenBatch(Seq((i.toLong, t)).toDF("doc_id", "text"),
        id = i.toLong, index, kept, "doc_id", "text", threshold = 0.7)
    }
    assert(DedupStream.readKeptCorpus(spark, kept).select("doc_id").as[Long]
      .collect().sorted.toSeq == Seq(0L, 1L))
    // a replay mid-rewrite has deleted the partition's marker: the
    // committed reader must exclude it (a bare read would include it)
    assert(new java.io.File(s"$kept/b=1/_SUCCESS").delete())
    assert(DedupStream.readKeptCorpus(spark, kept).select("doc_id").as[Long]
      .collect().sorted.toSeq == Seq(0L),
      "mid-rewrite partitions must be invisible to the committed reader")
    assert(new java.io.File(s"$kept/b=0/_SUCCESS").delete())
    intercept[IllegalStateException] {
      DedupStream.readKeptCorpus(spark, kept)
    }
  }

  test("screenBatch compactEvery: delta count stays bounded on a long stream") {
    val src = java.nio.file.Files.createTempDirectory("ddc_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ddc_ck").toString
    val index = java.nio.file.Files.createTempDirectory("ddc_ix").toString + "/ix"
    val kept = java.nio.file.Files.createTempDirectory("ddc_out").toString + "/kept"
    // five single-file batches of distinct docs → five deltas without
    // compaction; compactEvery=1 folds all-but-the-newest each batch
    (0 until 5).foreach { i =>
      Seq((i.toLong, s"unique document number $i with its very own tokens $i$i"))
        .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(src)
    }
    val schema = spark.read.parquet(src).schema
    val q = Fold.start(spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(src), ckpt) { (batch, id) =>
      DedupStream.screenBatch(batch, id, index, kept, "doc_id", "text",
        threshold = 0.7, compactEvery = 1)
    }
    try q.processAllAvailable() finally q.stop()
    val dirs = new java.io.File(index).listFiles().map(_.getName)
      .filter(_.startsWith("b=")).sorted.toSeq
    assert(dirs.length == 2,
      s"auto-compaction must hold the delta count at merged+newest; got $dirs")
    assert(spark.read.parquet(index).select("doc_id").as[Long]
      .collect().sorted.toSeq == (0L until 5L),
      "compacted index must still hold every survivor's signature")
    assert(spark.read.parquet(kept).count() == 5)
  }
}
