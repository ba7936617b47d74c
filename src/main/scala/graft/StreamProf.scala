package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-batch action/job attribution for the streaming sinks' foldBatch
  * paths (ManifestStream + ClusterStream) — the streaming twin of
  * [[Prof]] (guide §1). Replays the capstone fixture as two batches
  * (batch 0 = bootstrap-as-inserts, batch 1 = the change batch) against
  * fresh temp roots and prints each batch's Spark job count, summed job
  * wall, and the per-job description/wall table, so redundant
  * materializations inside a fold are attributable without the UI.
  *
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.StreamProf <sfDir>"
  *
  * Diagnostic only — never run by the driver. */
object StreamProf {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Harness.session()

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val (boot, feed) = PipelineQueries.manifestStreamFeed(docs)
    def battery(df: DataFrame): DataFrame =
      operators.TextAnalysis.filterBattery(df, idCol = "id",
        minTokens = 30, maxTokens = 100000, minAvgLen = 3.0,
        maxAvgLen = 10.0, minAlphaRatio = 0.8, minStopwordHits = 2,
        minDistinctRatio = 0.3)
    val splits = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)

    // ---- ManifestStream ----
    locally {
      val root = java.nio.file.Files.createTempDirectory("sp_mf").toString
      // warmup replay on a scratch root (JIT + page cache)
      val warm = java.nio.file.Files.createTempDirectory("sp_mfw").toString
      streaming.ManifestStream.foldBatch(boot, 0L, warm, battery, lit(0.0), splits)
      streaming.ManifestStream.foldBatch(feed, 1L, warm, battery, lit(0.0), splits)
      Harness.rmTree(warm)
      Harness.profiled("ManifestStream batch 0 (bootstrap-as-inserts)") {
        streaming.ManifestStream.foldBatch(boot, 0L, root, battery, lit(0.0), splits)
      }
      Harness.profiled("ManifestStream batch 1 (change batch)") {
        streaming.ManifestStream.foldBatch(feed, 1L, root, battery, lit(0.0), splits)
      }
      Harness.rmTree(root)
    }

    // ---- ClusterStream ----
    locally {
      val b0 = boot.select(col("seq"), col("op"), col("id"), col("text"))
      val b1 = feed.select(col("seq"), col("op"), col("id"), col("text"))
      val root = java.nio.file.Files.createTempDirectory("sp_cl").toString
      val warm = java.nio.file.Files.createTempDirectory("sp_clw").toString
      streaming.ClusterStream.foldBatch(b0, 0L, warm)
      streaming.ClusterStream.foldBatch(b1, 1L, warm)
      Harness.rmTree(warm)
      Harness.profiled("ClusterStream batch 0 (bootstrap-as-inserts)") {
        streaming.ClusterStream.foldBatch(b0, 0L, root)
      }
      Harness.profiled("ClusterStream batch 1 (change batch)") {
        streaming.ClusterStream.foldBatch(b1, 1L, root)
      }
      Harness.rmTree(root)
    }
    spark.stop()
  }
}
