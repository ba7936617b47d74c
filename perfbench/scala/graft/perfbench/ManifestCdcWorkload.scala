package graft.perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Sampling, TextAnalysis}
import graft.streaming.ManifestStream

/** Writes beside reads on the streaming training manifest. Set-up folds
  * the corpus (feed batch 0) through `ManifestStream.foldBatch` into a
  * fresh state root. Each measured round then folds two ~1% change
  * batches — the second one compacts every delta home (`compactEvery` =
  * 2) — and in each of the round's three states (as it starts, after
  * each fold) a reader materializes `ManifestStream.readManifest`
  * `ReadsPerState` times. A fold costs 10–20 s whatever its size, so a
  * run holds one such round: one compaction cycle, in which readers see
  * the base alone, then the base and one delta partition per home. (The
  * compaction keeps the newest delta apart, so after it a home again
  * holds the base and one delta.) After each round, untimed, the served
  * manifest must equal a scratch filter → dedup → keep-best → split
  * rebuild over the merged corpus. */
final class ManifestCdcWorkload(inputs: String, work: String, tracer: Tracer)
    extends Workload {

  val CompactEvery = 2
  val ReadsPerState = 20
  private val splits = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)
  private val deltaHomes = Seq("sig", "pairs", "cl", "meta", "manifest")
  private val homes = "f" +: deltaHomes

  private val batchFiles: Vector[String] =
    Option(new File(inputs).listFiles()).toVector.flatten
      .map(_.getName).filter(_.matches("batch_\\d+\\.parquet")).sorted
      .map(n => s"$inputs/$n")

  private var spark: SparkSession = _
  private var root: String = _
  private var setups = 0
  private val bootstrapMs = ArrayBuffer.empty[Double]

  private final case class Fold(batch: Int, compacting: Boolean,
      written: Long, feedBytes: Long, deltaFiles: Int)
  private val folds = ArrayBuffer.empty[Fold]
  private var listing: Map[String, (Long, Long)] = Map.empty
  private var livePayload = 0L
  /** Of the merged corpus at the last check: live docs, docs that pass the
    * quality gate, and the near-duplicate keepers among those. */
  private var shares = Map.empty[String, Any]
  /** Median read latency by the state read: the round's starting state
    * (`start`), or the state after a fold of the given label. */
  private var readsAfter = Map.empty[String, Double]

  /** The quality gate: the manifest pipelines' filter battery, with
    * documents that have no tokens at all (empty or whitespace-only
    * text) failing the gate directly — the battery divides by the token
    * count, which ANSI mode turns into DIVIDE_BY_ZERO for them. */
  private def classify(df: DataFrame): DataFrame = {
    val hasTokens = coalesce(size(TextAnalysis.tokens(col("text"))), lit(0)) > 0
    TextAnalysis.filterBattery(df.filter(hasTokens), idCol = "id",
        minTokens = 30, maxTokens = 100000, minAvgLen = 3.0, maxAvgLen = 10.0,
        minAlphaRatio = 0.8, minStopwordHits = 2, minDistinctRatio = 0.3)
      .select(col("id"), col("keep"))
      .unionByName(df.filter(!hasTokens).select(col("id"), lit(false).as("keep")))
  }

  private def batch(b: Int): DataFrame = spark.read.parquet(batchFiles(b))

  private def fold(b: Int): Unit = tracer.span("streaming.fold") {
    ManifestStream.foldBatch(batch(b), b.toLong, root, classify, lit(0.0),
      splits, compactEvery = CompactEvery)
  }

  private def read(): Unit = tracer.span("streaming.read") {
    ManifestStream.readManifest(spark, root)
      .write.format("noop").mode("overwrite").save()
  }

  def setup(s: SparkSession): Unit = {
    spark = s
    setups += 1
    root = s"$work/state-$setups"
    val t0 = System.nanoTime()
    fold(0)
    bootstrapMs += (System.nanoTime() - t0) / 1e6
  }

  /** Nothing to warm that set-up did not: the bootstrap folds ran the
    * fold's plans. Takes the state listing that bytes written are
    * measured against. */
  def warmup(): Unit = listing = files(root)

  private def files(dir: String): Map[String, (Long, Long)] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map { f: Path =>
        f.toString -> (Files.size(f), Files.getLastModifiedTime(f).toMillis)
      }.toMap
      finally s.close()
    }
  }

  private def committedDeltas: Int = deltaHomes.map { h =>
    Option(new File(s"$root/$h").listFiles()).toSeq.flatten
      .count(d => d.getName.startsWith("b=") && new File(d, "_SUCCESS").exists)
  }.sum

  /** Records, untimed, the bytes the fold left under the state root, the
    * feed bytes it folded, and the committed delta partitions readers now
    * merge. Finds nothing wrong: the round check compares the state. */
  private def afterFold(b: Int): Option[String] = {
    val now = files(root)
    val written = now.collect {
      case (f, v) if !listing.get(f).contains(v) => v._1 }.sum
    listing = now
    val feedBytes = batch(b).select(sum(lit(16L) + octet_length(col("op")) +
        coalesce(octet_length(col("text")), lit(0)) +
        coalesce(octet_length(col("lang")), lit(0)))).first().getLong(0)
    folds += Fold(b, b % CompactEvery == 0, written, feedBytes, committedDeltas)
    None
  }

  def round(i: Int): Option[Seq[Op]] = {
    val bs = (1 to CompactEvery).map(k => i * CompactEvery + k)
    if (bs.last >= batchFiles.size) None
    else {
      def reads = Seq.fill(ReadsPerState)(Op("read", "read_manifest",
        () => read()))
      Some(reads ++ bs.flatMap { b =>
        Op("write", if (b % CompactEvery == 0) "compacting_fold" else "fold",
          () => fold(b), _ => afterFold(b)) +: reads
      })
    }
  }

  /** The merged corpus after batches 0..upTo: latest change per id wins,
    * deleted ids drop out. */
  private def merged(upTo: Int): DataFrame =
    (0 to upTo).map(batch).reduce(_ unionByName _)
      .groupBy(col("id"))
      .agg(max_by(struct(col("op"), col("text"), col("lang")), col("seq"))
        .as("w"))
      .filter(col("w.op") =!= "D")
      .select(col("id"), col("w.text").as("text"), col("w.lang").as("lang"))

  override def checkRound(i: Int): Option[String] = {
    val last = (i + 1) * CompactEvery
    val corpus = merged(last).cache()
    try {
      val agg = corpus.select(count(lit(1)), sum(lit(8L) +
        octet_length(col("text")) + coalesce(octet_length(col("lang")),
        lit(0)))).first()
      livePayload = agg.getLong(1)
      val kept = corpus.join(classify(corpus.select(col("id"), col("text")))
        .filter(col("keep")).select(col("id")), Seq("id")).cache()
      val clusters = Dedup.clustersBootstrap(kept, "id", "text").clusters
      val keepers = Dedup.keepBestFromClusters(clusters,
          kept.select(col("id"), lit(0.0).as("__score")), "id")
        .filter(col("keep")).select(col("id"))
      def rows(df: DataFrame): Set[(Long, String, String)] =
        df.select("id", "lang", "split").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      val want = rows(Sampling.assignSplits(
        keepers.join(corpus.select(col("id"), col("lang")), Seq("id")), "id",
        splits))
      val (live, passed) = (agg.getLong(0), kept.count())
      shares = Json.obj("live_docs" -> live, "gate_passed" -> passed,
        "keepers" -> want.size,
        "gate_pass_share" -> passed.toDouble / math.max(1L, live),
        "near_dup_share" -> (passed - want.size).toDouble / math.max(1L, passed))
      val got = rows(ManifestStream.readManifest(spark, root))
      if (got == want) None
      else Some(s"manifest after batch $last has ${got.size} rows, scratch " +
        s"rebuild ${want.size}; extra ${(got -- want).take(3)}, missing " +
        s"${(want -- got).take(3)}")
    } finally spark.catalog.clearCache()
  }

  private def stateBytes: Map[String, Long] = homes.map { h =>
    h -> files(s"$root/$h").values.map(_._1).sum }.toMap

  def layers(ops: Seq[OpRecord], tracer: Tracer,
      probe: Option[SparkProbe]): Map[String, Double] = {
    val writes = ops.filter(_.kind == "write")
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val plain = writes.filter(_.label == "fold").map(_.ms)
    val state = stateBytes
    val jobs = writes.flatMap(o => probe.flatMap(_.ops.get(o.id))).map(_.jobs)
    // a read sees the state the last write before it left
    var after = "start"
    readsAfter = ops.flatMap { o =>
      if (o.kind == "write") { after = o.label; None }
      else Some(after -> o.ms)
    }.groupBy(_._1).map { case (k, v) =>
      k -> PerfBench.percentile(v.map(_._2), 0.5) }
    Map(
      "streaming.fold_ms" -> mean(plain),
      "streaming.compact_fold_ms" ->
        mean(writes.filter(_.label == "compacting_fold").map(_.ms)),
      "streaming.write_p50_ms" -> PerfBench.percentile(writes.map(_.ms), 0.5),
      "streaming.write_mean_ms" -> mean(writes.map(_.ms)),
      "streaming.jobs_per_fold" -> mean(jobs.map(_.toDouble)),
      "streaming.fold_drift" -> mean(plain) /
        PerfBench.percentile(bootstrapMs.toSeq, 0.5),
      "streaming.read_ms" -> mean(ops.filter(_.kind == "read").map(_.ms)),
      "streaming.delta_files" -> mean(folds.map(_.deltaFiles.toDouble).toSeq),
      "streaming.bytes_written_per_fold" ->
        mean(folds.map(_.written.toDouble).toSeq),
      "streaming.state_bytes" -> state.values.sum.toDouble,
      "streaming.space_amp" -> state.values.sum.toDouble / livePayload,
      "streaming.write_amp" ->
        folds.map(_.written).sum.toDouble / folds.map(_.feedBytes).sum
    ) ++ state.map { case (h, v) => s"streaming.state_bytes.$h" -> v.toDouble }
  }

  def facts: Map[String, Any] = Json.obj(
    "change_batches" -> (batchFiles.size - 1),
    "compact_every" -> CompactEvery, "reads_per_state" -> ReadsPerState,
    "bootstrap_ms" -> bootstrapMs.toSeq,
    "folds" -> folds.map(f => Json.obj("batch" -> f.batch,
      "compacting" -> f.compacting, "bytes_written" -> f.written,
      "feed_bytes" -> f.feedBytes, "delta_partitions" -> f.deltaFiles)),
    "state_bytes" -> stateBytes, "live_payload_bytes" -> livePayload,
    "corpus" -> shares, "read_p50_ms_after" -> readsAfter)
}
