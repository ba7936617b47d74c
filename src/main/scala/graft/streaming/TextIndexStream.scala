package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Caching, Cdc, TextAnalysis}

/** Streaming text-index maintenance — the lexical twin of
  * [[IvfStream]]: a document change feed keeps the BM25 index
  * (postings + lengths) CURRENT exactly-once, so retrieval between
  * batches sees every insert, re-write, and delete without a corpus
  * rescan. Feed contract: `(seq, op, id, text)`, op ∈ I/U/D (text NULL
  * for deletes), `seq` feed-monotone.
  *
  * State lives under THREE [[SnapshotStore]] homes per root — `post/`
  * (one row per live (doc, token) with its tf), `len/` (one row per
  * live doc with its token count — separate so zero-token documents
  * still count into N and Σdl), and the [[Fold.guarded]] `f/`
  * frontier.
  * Each batch advances both state frames through
  * [[Cdc.applyChangesGrouped]] — changed docs' old rows dropped by ONE
  * key anti-join, fresh rows re-derived map-side from the winning
  * change — so the index is touched only through the key join, never
  * rescanned; cost per batch is the batch.
  *
  * The maintained frames are BIT-EQUAL to a scratch
  * [[TextAnalysis.tokenIndex]]/[[TextAnalysis.docLengths]] rebuild
  * over the merged corpus (tokenization is per-row deterministic), so
  * [[TextAnalysis.bm25TopKFromIndex]] over them equals the full
  * recompute — pinned by TextIndexStreamSpec and the
  * doc_bm25_incremental oracle, not assumed.
  *
  * The reference engine is read-only over static CSVs
  * (/root/reference/sqlengine.py; no text search, no streams);
  * extension surface. */
object TextIndexStream {

  private def emptyPostings(batch: DataFrame): DataFrame =
    batch.select(col("id").as("doc_id"), lit("").as("token"),
      lit(0L).as("tf")).filter(lit(false))

  private def emptyLengths(batch: DataFrame): DataFrame =
    batch.select(col("id").as("doc_id"), lit(0).as("dl"))
      .filter(lit(false))

  /** BOTH index frames pinned to ONE committed batch id — the
    * torn-read guard a two-home index needs and the single-home twins
    * don't: `post/` and `len/` commit as separate snapshots, so
    * reading each home's own latest can pair postings from batch n
    * with lengths from n−1 mid-commit — a doc deleted in n absent
    * from the postings but still inflating N and avgdl, or an updated
    * doc's new tf scored against its stale dl, with no error. This
    * reader pins both frames to the HIGHEST id committed in BOTH
    * homes and materializes them ([[SnapshotStore.readPinned]]
    * semantics). */
  def readIndex(spark: SparkSession, rootDir: String)
      : (DataFrame, DataFrame) = {
    val common = Fold.committed(spark, s"$rootDir/post").toSet
      .intersect(Fold.committed(spark, s"$rootDir/len").toSet)
    if (common.isEmpty) throw new IllegalStateException(
      s"no batch committed in BOTH text-index homes under $rootDir")
    val k = common.max
    (Caching.localCheckpoint(Fold.read(spark, s"$rootDir/post", Seq(k))),
      Caching.localCheckpoint(Fold.read(spark, s"$rootDir/len", Seq(k))))
  }

  /** Single-frame convenience views. For any read that pairs the two
    * frames (every BM25 query), use [[readIndex]] — these two resolve
    * their versions independently and can tear across a mid-commit
    * batch boundary. */
  def readPostings(spark: SparkSession, rootDir: String): DataFrame =
    SnapshotStore.readLatest(spark, rootDir + "/post", "text-index postings")

  def readLengths(spark: SparkSession, rootDir: String): DataFrame =
    SnapshotStore.readLatest(spark, rootDir + "/len", "text-index lengths")

  /** One foreachBatch step, public for spec-driven replay and crash
    * injection: fold change-batch `id` onto the carried index and
    * commit `f/` then `post/` then `len/` at `b=<id>`. */
  def foldBatch(batch: DataFrame, id: Long, rootDir: String,
      retainBelow: Int = 1): Unit =
    Fold.guarded(batch, id, rootDir, "TextIndexStream", retainBelow) { s =>
    val postPrev = SnapshotStore.stateSoFar(s.spark, s"$rootDir/post", id,
      emptyPostings(batch))
    val lenPrev = SnapshotStore.stateSoFar(s.spark, s"$rootDir/len", id,
      emptyLengths(batch))
    val ch = batch.select(col("seq"), col("op"),
      col("id").as("doc_id"), col("text"))
    // the batch reduction runs ONCE and is persisted across the two
    // frame expansions — each home's commit is its own action, so an
    // unshared plan would re-reduce the batch per home
    val latest = Caching.persist(Cdc.latestChanges(ch, "doc_id", "seq", "op"))
    val postNext = Cdc.applyGroupedFromLatest(postPrev, latest, "doc_id")(
      c => TextAnalysis.tokenIndex(c, "doc_id", "text"))
    val lenNext = Cdc.applyGroupedFromLatest(lenPrev, latest, "doc_id")(
      c => TextAnalysis.docLengths(c, "doc_id", "text"))
    s.snapshot(postNext, s"$rootDir/post")
    s.snapshot(lenNext, s"$rootDir/len")
  }
}
