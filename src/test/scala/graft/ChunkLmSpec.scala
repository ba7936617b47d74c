package graft

import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis

/** Pins the round-7 text operators (chunkTokens, corpusFrequency) and
  * the ev_dedup batch collapse on hand-computable fixtures; the
  * full-corpus values are pinned cross-engine by the DuckDB oracles. */
class ChunkLmSpec extends SparkSpec {
  import spark.implicits._

  test("chunkTokens: stride windows, short tail, empty doc dropped") {
    val docs = Seq((1L, "a b c d e"), (2L, "x"), (3L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.chunkTokens(docs, "doc_id", "text",
        chunkSize = 3, stride = 2)
      .orderBy("doc_id", "chunk_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.toSeq == Seq(
      (1L, 0L, 3L, "a b c"),
      (1L, 1L, 3L, "c d e"),
      (1L, 2L, 1L, "e"),
      (2L, 0L, 1L, "x")))
  }

  test("chunkTokens: every token occurs in some chunk; stride-aligned reassembly") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val chunks = TextAnalysis.chunkTokens(docs, "doc_id", "text",
      chunkSize = 64, stride = 48)
    // chunk L = floor((n-1)/stride) covers tokens [48L+1, n], so
    // n_tokens must equal 48·last_chunk_id + last chunk's token count
    val perDoc = chunks.groupBy("doc_id").agg(
      max("chunk_id").as("last_id"),
      max_by(col("n_chunk_tokens"), col("chunk_id")).as("last_n"))
    val stats = TextAnalysis.withTokenStats(docs).select(col("doc_id"), col("n_tokens"))
    val joined = perDoc.join(stats, "doc_id")
      .filter(lit(48L) * col("last_id") + col("last_n") =!= col("n_tokens"))
    assert(joined.count() == 0)
  }

  test("corpusFrequency: exact integer fixture") {
    val docs = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val got = TextAnalysis.corpusFrequency(docs, "doc_id", "text",
        rareMax = 1L)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    // vocab: a=2, b=2, c=1
    assert(got.toSeq == Seq(
      (1L, 3L, (2.0 + 2.0 + 2.0) / 3, 0L),   // a,a,b — none rare at cnt<=1
      (2L, 2L, (2.0 + 1.0) / 2, 1L)))        // b,c — c is rare
  }

  test("cmsTokenCounts: est >= cnt always; est == cnt when the token's best row is collision-free") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = TextAnalysis.cmsTokenCounts(docs, "text", depth = 4, width = 16)
    assert(out.filter(col("est") < col("cnt")).count() == 0)
    assert(out.count() == 31) // full synthetic vocab
    // sketch total per row == corpus token count (mass conservation)
    val occ = docs.select(explode(TextAnalysis.tokens(col("text"))).as("t")).count()
    val sums = out.agg(sum("cnt")).collect()(0).getLong(0)
    assert(sums == occ)
    // a wide sketch (no collisions possible to force) degenerates to exact
    val exact = TextAnalysis.cmsTokenCounts(docs, "text", depth = 4, width = 4096)
    assert(exact.filter(col("est") =!= col("cnt")).count() == 0)
  }

  test("cmsMaintain: deletes RETRACT counter mass; maintained ≡ rebuilt; lying before-image trips the guard") {
    def sk(rows: Seq[(Long, String)]): Set[(Long, Long, Long)] =
      TextAnalysis.cmsSketch(rows.toDF("doc_id", "text"), "text",
          depth = 4, width = 16)
        .as[(Long, Long, Long)].collect().toSet
    val boot = Seq((1L, "a a b"), (2L, "b c"), (3L, "c c c"))
    val sk0 = TextAnalysis.cmsSketch(boot.toDF("doc_id", "text"), "text",
      depth = 4, width = 16)
    // doc 1 rewritten, doc 3 deleted, doc 4 inserted — merged corpus:
    val feed = Seq(
      (10L, "U", 1L, "b b b", "a a b"),
      (11L, "D", 3L, null, "c c c"),
      (12L, "I", 4L, "a d", null))
      .toDF("seq", "op", "doc_id", "text", "old_text")
    val got = TextAnalysis.cmsMaintain(sk0, feed, "doc_id", "text",
        "old_text", "seq", "op", depth = 4, width = 16)
      .as[(Long, Long, Long)].collect().toSet
    val want = sk(Seq((1L, "b b b"), (2L, "b c"), (4L, "a d")))
    assert(got == want, s"maintained $got != rebuilt $want")
    // the retraction is REAL: total sketch mass per row fell from 8
    // tokens (a a b | b c | c c c) to 7 (b b b | b c | a d) — a
    // monotone sketch (HLL) structurally cannot do this
    val mass = got.toSeq.filter(_._1 == 0L).map(_._3).sum
    assert(mass == 7L, s"row-0 mass $mass != 7 post-retraction tokens")
    // a before-image claiming text the corpus never held drives some
    // counter negative ('z z z' retracts mass no bucket carries)
    val lying = Seq((20L, "D", 2L, null, "z z z"))
      .toDF("seq", "op", "doc_id", "text", "old_text")
    val e = intercept[Throwable] {
      TextAnalysis.cmsMaintain(sk0, lying, "doc_id", "text",
        "old_text", "seq", "op", depth = 4, width = 16).collect()
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(msgs.exists(_.contains("folded negative")), s"guard: $msgs")
  }

  test("ev_dedup: one row per (user, type), and it is the earliest") {
    val q = PipelineQueries.all.find(_.name == "ev_dedup").get
    val out = q.run(spark, "/root/testdata/sf0.001")
    val ev = sources.EventsTime.load(spark, "/root/testdata/sf0.001")
    assert(out.groupBy("user_id", "event_type").count()
      .filter(col("count") > 1).count() == 0)
    assert(out.count() ==
      ev.select("user_id", "event_type").distinct().count())
    // the kept event_id is the row_number()=1 pick under full-ns order
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "event_type")
      .orderBy(col("ts").asc, col("event_id").asc)
    val expected = ev.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).select("event_id")
    assert(out.select("event_id").exceptAll(expected).isEmpty &&
      expected.exceptAll(out.select("event_id")).isEmpty)
  }
}
