package graft

import org.apache.spark.sql.DataFrame

import graft.streaming.{CdcStream, Fold}

/** Streaming CDC snapshot maintenance: batch-by-batch merge semantics,
  * replay idempotence (the exactly-once contract), retention, and the
  * end-to-end foreachBatch sink over a real file-source stream. */
class CdcStreamSpec extends SparkSpec {
  import spark.implicits._

  // snapshot schema: (id, val); change schema adds (seq, op)
  private def initial: DataFrame =
    Seq((1L, "a"), (2L, "a"), (3L, "a")).toDF("id", "val")

  private def snapRows(dir: String): Set[(Long, String)] =
    CdcStream.currentSnapshot(spark, dir, initial)
      .as[(Long, String)].collect().toSet

  test("mergeBatch applies upsert/insert/delete batch-by-batch") {
    val dir = java.nio.file.Files.createTempDirectory("cdc_snap").toString
    val b0 = Seq((2L, "b", 10L, "U"), (4L, "d", 11L, "I"), (3L, "", 12L, "D"))
      .toDF("id", "val", "seq", "op")
    CdcStream.mergeBatch(b0, 0L, dir, initial, "id", "seq", "op")
    assert(snapRows(dir) == Set((1L, "a"), (2L, "b"), (4L, "d")))

    // latest-wins within one batch: key 4 updated twice
    val b1 = Seq((4L, "d2", 20L, "U"), (4L, "d3", 21L, "U"), (5L, "e", 22L, "I"))
      .toDF("id", "val", "seq", "op")
    CdcStream.mergeBatch(b1, 1L, dir, initial, "id", "seq", "op")
    assert(snapRows(dir) == Set((1L, "a"), (2L, "b"), (4L, "d3"), (5L, "e")))
  }

  test("replaying a batch leaves the snapshot unchanged (exactly-once)") {
    val dir = java.nio.file.Files.createTempDirectory("cdc_replay").toString
    val b0 = Seq((2L, "b", 10L, "U")).toDF("id", "val", "seq", "op")
    val b1 = Seq((1L, "", 20L, "D"), (9L, "z", 21L, "I"))
      .toDF("id", "val", "seq", "op")
    CdcStream.mergeBatch(b0, 0L, dir, initial, "id", "seq", "op")
    CdcStream.mergeBatch(b1, 1L, dir, initial, "id", "seq", "op")
    val once = snapRows(dir)
    // the failure mode foreachBatch must survive: batch 1 delivered again
    CdcStream.mergeBatch(b1, 1L, dir, initial, "id", "seq", "op")
    assert(snapRows(dir) == once)
    assert(once == Set((2L, "b"), (3L, "a"), (9L, "z")))
  }

  test("retention keeps the newest versions but never the replay parent") {
    val dir = java.nio.file.Files.createTempDirectory("cdc_retain").toString
    (0L until 5L).foreach { i =>
      val b = Seq((1L, s"v$i", 100L + i, "U")).toDF("id", "val", "seq", "op")
      CdcStream.mergeBatch(b, i, dir, initial, "id", "seq", "op", retain = 2)
    }
    val kept = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(kept == Set("v=3", "v=4"), kept.toString)
    // replay of the LAST batch (the only one Spark ever replays) works
    val b4 = Seq((1L, "v4", 104L, "U")).toDF("id", "val", "seq", "op")
    CdcStream.mergeBatch(b4, 4L, dir, initial, "id", "seq", "op", retain = 2)
    assert(snapRows(dir) == Set((1L, "v4"), (2L, "a"), (3L, "a")))
  }

  test("torn writes and foreign dirs are invisible to readers and merges") {
    val dir = java.nio.file.Files.createTempDirectory("cdc_torn").toString
    val b0 = Seq((2L, "b", 10L, "U")).toDF("id", "val", "seq", "op")
    CdcStream.mergeBatch(b0, 0L, dir, initial, "id", "seq", "op")
    // simulate a batch-1 crash mid-write: a v=1 dir with data files but
    // no _SUCCESS marker — readers must still see v=0, not torn v=1
    val torn = new java.io.File(s"$dir/v=1")
    Seq((999L, "torn", 99L, "U")).toDF("id", "val", "seq", "op")
      .coalesce(1).write.mode("overwrite").parquet(torn.toString)
    assert(new java.io.File(torn, "_SUCCESS").delete())
    // and a foreign directory must be skipped, not throw
    assert(new java.io.File(s"$dir/v=tmp").mkdir())
    assert(snapRows(dir) == Set((1L, "a"), (2L, "b"), (3L, "a")))
    // the replayed batch 1 merges on v=0 (not torn v=1) and commits
    val b1 = Seq((5L, "e", 20L, "I")).toDF("id", "val", "seq", "op")
    CdcStream.mergeBatch(b1, 1L, dir, initial, "id", "seq", "op")
    assert(snapRows(dir) == Set((1L, "a"), (2L, "b"), (3L, "a"), (5L, "e")))
  }

  test("cdc snapshot stream end-to-end over a file-source stream") {
    val src = java.nio.file.Files.createTempDirectory("cdc_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cdc_ckpt").toString
    val dir = java.nio.file.Files.createTempDirectory("cdc_sink").toString
    // two files → with maxFilesPerTrigger=1, two micro-batches; keys
    // are disjoint across files so the result is batch-order-free
    // (cross-batch, later batches overwrite — seq arbitrates only
    // within a batch)
    Seq((2L, "b", 10L, "U"), (3L, "", 11L, "D"))
      .toDF("id", "val", "seq", "op").coalesce(1).write.parquet(s"$src/f0")
    Seq((4L, "d", 20L, "I"), (5L, "e", 21L, "I"))
      .toDF("id", "val", "seq", "op").coalesce(1).write.parquet(s"$src/f1")
    val schema = spark.read.parquet(s"$src/f0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .option("recursiveFileLookup", "true").parquet(src)
    val q = Fold.start(stream, ckpt) { (batch, id) =>
      CdcStream.mergeBatch(batch, id, dir, initial, "id", "seq", "op")
    }
    try q.processAllAvailable() finally q.stop()
    // both files applied, in either batch order
    assert(snapRows(dir) == Set((1L, "a"), (2L, "b"), (4L, "d"), (5L, "e")))
  }
}
