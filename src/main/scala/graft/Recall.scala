package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorOps.{asDouble, cosine}
import graft.operators.Similarity

/** Measures the recall of every APPROXIMATE similarity operator against
  * its exact counterpart, at the exact knob settings the registered
  * queries ship with — the missing number behind the documented
  * recall/cost dials (`planes`, `nlist`, `nProbe`, `bands`).
  *
  *  - `ann_lsh_topk` / `ann_ivf_topk`: recall@10 vs brute-force cosine
  *    top-10, averaged over the probe set;
  *  - `emb_cosine_pairs`: pair recall vs the exact all-pairs set at the
  *    same threshold (banded-LSH candidate loss is the only gap — the
  *    cosine itself is exact);
  *  - `sem_dedup` / `sem_dedup_p2`: pair recall measured as cluster
  *    co-membership — a true near-dup pair counts as recalled iff both
  *    ids land in the same output cluster (the pairs a user would
  *    actually deduplicate); nProbe=2 shows the boundary-pair recovery.
  *
  * Usage: sbt "runMain graft.Recall [sfDir]" — prints one
  * `RECALL <name> <got>/<want> = <recall>` line per operator.
  */
object Recall {

  private def topkPairs(df: DataFrame): Set[(Long, Long)] =
    df.select("probe_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Harness.session()

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val probes = emb.filter(col("vec_id") < 100)
    val k = 10
    val threshold = 0.4

    def report(name: String, got: Set[(Long, Long)], want: Set[(Long, Long)]): Unit = {
      val hit = want.intersect(got).size
      println(f"RECALL $name%-18s $hit/${want.size} = ${hit.toDouble / want.size}%.3f")
    }

    // --- ANN recall@10 vs exact top-10; the registered knobs first,
    // then the documented recall/cost dial turned up a notch or two ---
    val exact = topkPairs(Similarity.bruteForceTopKAgg(
      emb, probes, "vec_id", "embedding", k))
    for (planes <- Seq(6, 5, 4))
      report(s"ann_lsh planes=$planes", topkPairs(Similarity.lshTopK(
        emb, probes, "vec_id", "embedding", k,
        planes = planes, seed = 100000L, planeGen = Similarity.lcgPlanes)), exact)
    for (nProbe <- Seq(4, 8, 12))
      report(s"ann_ivf nProbe=$nProbe", topkPairs(Similarity.ivfTopK(
        emb, probes, "vec_id", "embedding", k, nProbe = nProbe)), exact)
    report("ann_sq_topk", topkPairs(operators.Quantization.sqTopK(
      emb, probes, "vec_id", "embedding", k)), exact)
    // PQ: pure ADC at the registered codebook shape, then the
    // registered shortlist+re-rank, then the shortlist dial turned up
    report("ann_pq adc-only", topkPairs(operators.Quantization.pqTopK(
      emb, probes, "vec_id", "embedding", k, m = 8, nlist = 16)), exact)
    for (sl <- Seq(100, 200))
      report(s"ann_pq rerank=$sl", topkPairs(operators.Quantization.pqTopK(
        emb, probes, "vec_id", "embedding", k, m = 8, nlist = 16,
        shortlist = sl)), exact)
    // IVF×PQ: registered knobs, then each pruning dial opened a notch —
    // the composition's recall is bounded by min(ivf, pq+rerank) and
    // the table shows which knob is binding
    for ((np, sl) <- Seq((4, 100), (8, 100), (4, 200)))
      report(s"ann_ivfpq np=$np sl=$sl", topkPairs(
        operators.Quantization.ivfPqTopK(emb, probes, "vec_id", "embedding",
          k, m = 8, nlist = 16, ivfNlist = 16, nProbe = np,
          shortlist = sl)), exact)

    // --- exact all-pairs ground truth at the dedup threshold ---
    val v = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val truth = v.toDF("a", "va").join(v.toDF("b", "vb"), col("a") < col("b"))
      .filter(cosine(col("va"), col("vb")) >= lit(threshold))
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    for ((bands, ppb) <- Seq((8, 8), (16, 8), (16, 6)))
      report(s"cos_pairs b=$bands p=$ppb", Similarity.cosinePairs(
        emb, "vec_id", "embedding", threshold,
        bands = bands, planesPerBand = ppb, dim = 64, seed = 0L,
        planeGen = Similarity.lcgPlanes)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet, truth)

    // --- SemDeDup: recalled = the pair ends up co-clustered ---
    def clusterRecall(nProbe: Int): Set[(Long, Long)] = {
      val cl = Similarity.semanticDedup(emb, "vec_id", "embedding",
        threshold, nProbe = nProbe)
        .select("vec_id", "cluster_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      truth.filter { case (a, b) => cl(a) == cl(b) }
    }
    for (nProbe <- Seq(1, 2, 4))
      report(s"sem_dedup nProbe=$nProbe", clusterRecall(nProbe), truth)

    spark.stop()
  }
}
