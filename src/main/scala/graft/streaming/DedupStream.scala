package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Caching, Dedup}
import graft.operators.Dedup.MinHashParams

/** Streaming incremental dedup INGEST: each micro-batch of documents
  * is screened against the STANDING signature index (everything kept
  * so far), near-dup-deduped within itself, and its survivors
  * committed — the kept documents to one sink, their minhash
  * signatures appended to the index. The continuous-ingest twin of
  * the batch `dedup_incremental` query, and the shape a 100 TB corpus
  * actually grows by: history is consulted ONLY through its signature
  * index (~512 B/doc), never re-read as text.
  *
  * Batch rule (deterministic, pinned by DedupStreamSpec): drop every
  * document the index screen flags, then near-dup-dedup the REMAINDER
  * (connected components over its pair graph, min-id keeper) — the
  * same filter-then-dedup composition the training-manifest pipeline
  * uses.
  *
  * Exactly-once protocol (the [[CdcStream]] idea, applied to an
  * append-only index): both sinks are partitioned by batch id
  * (`b=<id>`) and each batch OVERWRITES its own partitions, while the
  * index read excludes partitions `>=` the current batch id — so a
  * replayed batch never screens against its own earlier half-written
  * delta, recomputes the identical survivor set, and rewrites the same
  * files. A partition counts as committed only once its `_SUCCESS`
  * marker exists. At lake scale the per-batch delta directories get
  * periodically compacted into larger index files; the protocol is
  * unchanged (compaction replaces committed partitions wholesale).
  *
  * The reference engine is read-only over static CSVs
  * (/root/reference/sqlengine.py; no streams); extension surface. */
object DedupStream {

  /** The standing signature index as of batches STRICTLY BELOW
    * `belowBatch` — the replay-safe view. `empty` supplies the
    * signature schema when nothing has committed yet. */
  def indexSoFar(spark: SparkSession, indexDir: String, belowBatch: Long,
      empty: DataFrame): DataFrame =
    Fold.committed(spark, indexDir).filter(_ < belowBatch) match {
      case Seq() => empty
      case vs => union(spark, indexDir, vs)
    }

  private def union(spark: SparkSession, dir: String,
      vs: Seq[Long]): DataFrame =
    vs.map(v => spark.read.parquet(s"$dir/b=$v")).reduce(_.unionByName(_))

  /** One foreachBatch step, factored out so a spec can drive replay
    * directly: screen batch `id`, commit survivors + their signature
    * delta. Idempotent by construction — see the object doc.
    *
    * `compactEvery > 0` runs [[compactIndex]] on every Nth batch
    * ([[Fold]]'s cadence) — without it a long-lived stream accrues one
    * index delta per batch, and [[indexSoFar]]'s per-batch cost (one
    * listing + one `_SUCCESS` probe + one union branch per delta)
    * grows linearly over the stream's lifetime. */
  def screenBatch(batch: DataFrame, id: Long, indexDir: String,
      keptDir: String, idCol: String, textCol: String, threshold: Double,
      p: MinHashParams = MinHashParams(),
      compactEvery: Int = 0): Unit = Fold.batch(batch, id, compactEvery) { s =>
    val spark = s.spark
    val docs = batch.select(col(idCol), col(textCol))
    val emptyIndex = Dedup.minhashSignatures(docs.filter(lit(false)),
      idCol, textCol, p)
    val index = indexSoFar(spark, indexDir, id, emptyIndex)
    val hits = Dedup.screenAgainstIndex(docs, idCol, textCol, index,
      threshold, p).select(col(idCol)).distinct()
    // survivors of the history screen, then near-dup-dedup WITHIN them
    val rem = Caching.persist(docs.join(hits, Seq(idCol), "left_anti"))
    val pairs = Dedup.minhashNearDuplicates(rem, idCol, textCol,
      threshold, p)
    val kept = Dedup.connectedComponents(rem.select(col(idCol)), idCol, pairs)
      .filter(col("keep")).select(col(idCol))
      .join(rem, Seq(idCol))
    kept.write.mode("overwrite").parquet(s"$keptDir/b=$id")
    // the delta re-reads kept from ITS OWN committed files: the
    // signature write must not race the kept write's lazy plan
    val keptBack = spark.read.parquet(s"$keptDir/b=$id")
    Dedup.minhashSignatures(keptBack, idCol, textCol, p)
      .write.mode("overwrite").parquet(s"$indexDir/b=$id")
    s.onCompact(compactIndex(spark, indexDir))
  }

  /** The kept corpus restricted to COMMITTED batches — each `b=<id>`
    * partition counts only once its `_SUCCESS` marker exists, the same
    * gate [[indexSoFar]] applies to the signature side. A bare
    * `spark.read.parquet(keptDir)` racing a batch replay can observe a
    * missing or half-written partition (replays overwrite their own
    * partition in place); this reader skips any partition that is
    * mid-rewrite at listing time. Reads that must never race at all
    * belong after the stream is stopped — the marker gate narrows the
    * window to Spark's own commit protocol, it does not serialize
    * against a concurrently-replaying writer. Throws if no batch has
    * committed yet (there is no schema to return an empty frame with). */
  def readKeptCorpus(spark: SparkSession, keptDir: String): DataFrame =
    Fold.committed(spark, keptDir) match {
      case Seq() => throw new IllegalStateException(
        s"no committed kept batches under $keptDir")
      case vs => union(spark, keptDir, vs)
    }

  /** [[Fold.compact]] of the index with the DISTINCT-union merge:
    * re-merging deltas duplicated by a crash before the tail deletes
    * collapses them (and duplicates are harmless to screening
    * meanwhile — candidates and hits are distinct'd). Run it from the
    * ingest's own step (`compactEvery`) or a maintenance window, never
    * beside a live reader. */
  def compactIndex(spark: SparkSession, indexDir: String): Unit =
    Fold.compact(spark, indexDir)(union(spark, indexDir, _).distinct())
}
