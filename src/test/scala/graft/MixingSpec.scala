package graft

import org.apache.spark.sql.functions._
import graft.operators.Mixing

/** Pins for the data-mixture operators: per-group top-k caps and
  * token-budget sampling (order, ties, budget-crossing row). */
class MixingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    // (id, group, score, tokens)
    (1L, "en", 0.9, 100L),
    (2L, "en", 0.8, 150L),
    (3L, "en", 0.8, 50L),  // score tie with 2 → id order decides
    (4L, "en", 0.1, 999L),
    (5L, "de", 0.7, 300L),
    (6L, "de", 0.6, 300L),
  ).toDF("doc_id", "lang", "quality", "n_tokens")

  test("topKPerGroup keeps the k best per group, score DESC then id ASC") {
    val got = Mixing.topKPerGroup(docs, Seq("lang"), "quality", "doc_id", k = 3)
      .select("lang", "doc_id", "rank").as[(String, Long, Long)].collect().toSet
    assert(got == Set(
      ("en", 1L, 1L), ("en", 2L, 2L), ("en", 3L, 3L), // 0.8-tie: id 2 before 3
      ("de", 5L, 1L), ("de", 6L, 2L)))                // smaller group: all rows
  }

  test("topKPerGroup works with string ids (generic tiebreak)") {
    val sdocs = docs.withColumn("doc_id", concat(lit("d-"), col("doc_id")))
    val got = Mixing.topKPerGroup(sdocs, Seq("lang"), "quality", "doc_id", k = 1)
      .select("lang", "doc_id").as[(String, String)].collect().toSet
    assert(got == Set(("en", "d-1"), ("de", "d-5")))
  }

  test("tokenBudgetPerGroup fills best-first and includes the budget-crossing row") {
    val got = Mixing.tokenBudgetPerGroup(docs, Seq("lang"), "n_tokens",
      "quality", "doc_id", budget = 200L)
      .select("lang", "doc_id").as[(String, Long)].collect().toSet
    // en: id1 (taken=0) + id2 (taken=100) + id3 (taken=250 ≥ 200 → stop)
    // de: id5 (taken=0) + id6 crosses at taken=300 ≥ 200 → excluded
    assert(got == Set(("en", 1L), ("en", 2L), ("de", 5L)))
  }

  test("tokenBudgetPerGroup: a group's first row always enters, even if over budget") {
    val got = Mixing.tokenBudgetPerGroup(docs, Seq("lang"), "n_tokens",
      "quality", "doc_id", budget = 1L)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(got == Map("en" -> 1L, "de" -> 1L))
  }

  test("packSequences: concat-and-chunk layout, straddling documents included") {
    val got = Mixing.packSequences(docs, Seq("lang"), "n_tokens", "doc_id", seqLen = 200L)
      .select("lang", "doc_id", "pack_id", "pack_offset")
      .as[(String, Long, Long, Long)].collect().toSet
    // en stream (doc order 1,2,3,4; tokens 100,150,50,999): cumulative
    // starts 0,100,250,300 → packs 0,0,1,1 at offsets 0,100,50,100.
    // doc 2 straddles the 200 boundary (starts at 100, 150 tokens) —
    // it still belongs to the pack holding its first token.
    assert(got == Set(
      ("en", 1L, 0L, 0L), ("en", 2L, 0L, 100L),
      ("en", 3L, 1L, 50L), ("en", 4L, 1L, 100L),
      ("de", 5L, 0L, 0L), ("de", 6L, 1L, 100L)))
  }

  test("packSequences: pack_id stays exact past 2^53 cumulative tokens") {
    // doc 2 starts at cumulative 2^54 + 2 — NOT representable as a
    // double (doubles at 2^54 are multiples of 4; it rounds to 2^54,
    // whose half is 2^53, one off). Integral DIV must return 2^53 + 1.
    val big = Seq(
      (1L, "g", (1L << 54) + 2L),
      (2L, "g", 1L)
    ).toDF("doc_id", "lang", "n_tokens")
    val got = Mixing.packSequences(big, Seq("lang"), "n_tokens", "doc_id", seqLen = 2L)
      .select("doc_id", "pack_id", "pack_offset")
      .as[(Long, Long, Long)].collect().map { case (id, p, o) => id -> (p, o) }.toMap
    assert(got(1L) == (0L, 0L))
    assert(got(2L) == ((1L << 53) + 1L, 0L),
      s"pack_id must be computed in exact long arithmetic; got ${got(2L)}")
  }

  test("packSpans: spans tile every sequence exactly and reconstruct every document") {
    val docs = Seq((1L, 5L), (2L, 3L), (3L, 4L), (4L, 7L), (5L, 1L),
      (6L, 0L)) // zero-token doc must vanish
      .toDF("doc_id", "n_tokens")
    val spans = Mixing.packSpans(docs, "doc_id", "n_tokens",
        seqLen = 4L, buckets = 4)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(!spans.exists(_._2 == 6L), "zero-token doc must emit no span")
    // total tokens 20 → sequences 0..4, each EXACTLY tiled: per seq,
    // spans sorted by seq_off are contiguous from 0 to seqLen
    val bySeq = spans.groupBy(_._1)
    assert(bySeq.keySet == (0L to 4L).toSet, s"got seqs ${bySeq.keySet}")
    bySeq.foreach { case (seq, ss) =>
      val sorted = ss.sortBy(_._5)
      val starts = sorted.map(_._5)
      val lens = sorted.map(s => s._4 - s._3)
      assert(lens.forall(_ > 0), s"seq $seq: empty span")
      assert(starts.head == 0L &&
        starts.zip(lens).map { case (o, l) => o + l }.dropRight(1) ==
          starts.tail,
        s"seq $seq: spans not contiguous: $sorted")
      assert(starts.last + lens.last == 4L, s"seq $seq: not fully tiled")
    }
    // per doc, the [doc_from, doc_to) slices concatenate to [0, n)
    spans.groupBy(_._2).foreach { case (doc, ss) =>
      val sorted = ss.sortBy(_._3)
      val n = docs.filter(col("doc_id") === doc)
        .select("n_tokens").as[Long].head()
      assert(sorted.head._3 == 0L && sorted.last._4 == n &&
        sorted.map(_._4).dropRight(1) == sorted.tail.map(_._3),
        s"doc $doc: slices don't reconstruct: $sorted")
    }
  }

  test("packSpans: two-level bucket prefix sum is bit-equal to the one-bucket form") {
    val rnd = new scala.util.Random(7)
    val docs = (1L to 200L).map(i => (i, 1L + rnd.nextInt(9).toLong))
      .toDF("doc_id", "n_tokens")
    def run(b: Int) = Mixing.packSpans(docs, "doc_id", "n_tokens",
        seqLen = 16L, buckets = b)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val one = run(1)
    assert(run(8) == one && run(64) == one,
      "bucket count must not change the layout")
    // and the layout is partitioning-invariant
    val repart = Mixing.packSpans(docs.repartition(13), "doc_id",
        "n_tokens", seqLen = 16L, buckets = 8)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(repart == one)
  }

  test("temperatureSample: flattens the head and is layout-invariant") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sample = Mixing.temperatureSample(corpus, "doc_id", "source", target = 300L)
    val rates = sample.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = corpus.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // α = 0.5: the keep RATE of the smallest source must be ≥ the keep
    // rate of the largest (head flattened, tail boosted)
    val smallest = full.minBy(_._2)._1
    val largest = full.maxBy(_._2)._1
    val rSmall = rates.getOrElse(smallest, 0L).toDouble / full(smallest)
    val rLarge = rates.getOrElse(largest, 0L).toDouble / full(largest)
    assert(rSmall >= rLarge,
      s"temperature sampling must flatten: small-source rate $rSmall < large-source rate $rLarge")
    // deterministic membership under a different partition layout
    val again = Mixing.temperatureSample(corpus.repartition(7), "doc_id", "source", 300L)
      .select("doc_id").as[Long].collect().toSet
    assert(again == sample.select("doc_id").as[Long].collect().toSet)
  }
}
