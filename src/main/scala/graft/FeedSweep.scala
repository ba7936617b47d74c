package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Caching, Cdc, Dedup, Sampling, TextAnalysis}

/** Feed-fraction sweep for the incremental-manifest capstone — the
  * measured form of the freshness family's core claim (a small feed
  * costs O(Δ), not O(corpus)): the SAME gate → clustersMaintain →
  * keep-best → split fold timed at several churn fractions of one
  * corpus, against a PREBUILT parquet-backed bootstrap state (the
  * streaming sink's flat-lineage shape — the bootstrap build is the
  * amortized one-time cost, never the per-tick cost), with the
  * feed-agnostic scratch rebuild as the reference line.
  *
  * Usage: `sbt "runMain graft.FeedSweep /root/testdata/sf0.1"` →
  * prints one JSON line and writes FEEDCURVE.json (committed to the
  * repo as the round's artifact; BASELINE.md reads it).
  *
  * Reading the curve: `sec` should FALL as the churn modulus grows
  * (feed shrinks) and sit well under `rebuild_sec` at realistic
  * (≤ 2%) churn; a flat curve would mean some stage still pays
  * O(corpus) per tick. The registered bench rows anchor two of the
  * points (`pipeline_incremental_manifest` at 40%,
  * `pipeline_incremental_manifest_2pct` at 2% — those include the
  * in-query bootstrap build, this sweep isolates the fold). */
object FeedSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mods = args.lift(1).map(_.split(',').toSeq.map(_.toInt))
      .getOrElse(Seq(8, 20, 50, 150, 500))
    val iters = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "3").toInt
    val spark = Harness.session()

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val corpusDocs = docs.count()
    val splits = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)
    def battery(df: DataFrame): DataFrame =
      TextAnalysis.filterBattery(df,
        minTokens = 30, maxTokens = 100000, minAvgLen = 3.0,
        maxAvgLen = 10.0, minAlphaRatio = 0.8, minStopwordHits = 2,
        minDistinctRatio = 0.3)
    def manifest(clusters: DataFrame): DataFrame =
      Sampling.assignSplits(
        clusters.filter(col("doc_id") === col("cluster_id"))
          .select("doc_id")
          .join(docs.select("doc_id", "lang"), Seq("doc_id")),
        "doc_id", splits).select("doc_id", "lang", "split")
    // one scope per sweep point: its feed checkpoint outlives the timings
    val points = mods.map(m => Caching.scoped {
      val (boot, feed0) = PipelineQueries.incrementalDocFeedMod(docs, m)
      val feed = Caching.localCheckpoint(feed0) // feed build is not the fold
      val bootKept = boot.join(
        battery(boot).filter(col("keep")).select("doc_id"), Seq("doc_id"))
      // prebuild the bootstrap state to parquet — the stream homes'
      // flat-lineage shape; UNTIMED (the one-time cost, not the tick)
      val stDir = java.nio.file.Files
        .createTempDirectory(s"graft_feedsweep_$m").toString
      Caching.scoped {
        val st0 = Dedup.clustersBootstrap(bootKept, "doc_id", "text")
        st0.sigs.write.parquet(s"$stDir/sig")
        st0.pairs.write.parquet(s"$stDir/pairs")
        st0.clusters.write.parquet(s"$stDir/cl")
      }
      val feedRows = feed.count()
      val sec = Harness.time(iters) {
        Harness.exec {
          val prev = Dedup.ClusterIndexState(
            spark.read.parquet(s"$stDir/sig"),
            spark.read.parquet(s"$stDir/pairs"),
            spark.read.parquet(s"$stDir/cl"))
          // eager gate checkpoint — the registered capstones' (and the
          // streaming twin's) shape, so the sweep times the same fold
          val gated = Caching.localCheckpoint(Cdc.gateFeed(
            feed.select("seq", "op", "doc_id", "text"),
            "doc_id", "seq", "op")(battery))
          manifest(Dedup.clustersMaintain(prev, gated,
            "doc_id", "text", "seq", "op").clusters)
        }
      }
      Harness.rmTree(stDir)
      println(f"[feed-sweep] mod $m%4d: $feedRows%6d feed rows, $sec%.3f s")
      (m, feedRows, sec)
    })
    // the feed-agnostic reference: filter → bootstrap → keepers →
    // splits over the m = 150 merged corpus from scratch
    val merged = docs.filter(col("doc_id") % 150 =!= 3)
      .select(col("doc_id"),
        when(col("doc_id") % 150 === 1,
          concat(col("text"), lit(" merge merge")))
          .otherwise(col("text")).as("text"))
    val mergedKept = merged.join(
      battery(merged).filter(col("keep")).select("doc_id"), Seq("doc_id"))
    val rebuildSec = Harness.time(iters) {
      Harness.exec(manifest(
        Dedup.clustersBootstrap(mergedKept, "doc_id", "text").clusters))
    }

    val pts = points.map { case (m, f, s) =>
      f"""{"mod":$m,"feed_rows":$f,"churn_pct":${300.0 / m}%.2f,"sec":$s%.3f}"""
    }.mkString("[", ",", "]")
    val json = f"""{"metric":"feed_sweep","sf":"$sfDir","corpus_docs":$corpusDocs,"iters":$iters,"rebuild_sec":$rebuildSec%.3f,"points":$pts}"""
    println(json)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("FEEDCURVE.json"), json + "\n")
    spark.stop()
  }
}
