package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Semantics pins for the dedup operators whose driver check is
  * rows-only (hashes aren't reproducible in the DuckDB oracle):
  * hand-computable fixtures with known jaccard / hamming structure. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog again and again"
  // one word changed → high but sub-1.0 word-3-gram jaccard
  private val near = "the quick brown fox leaps over the lazy dog again and again"
  private val far = "completely different content about spark catalyst optimizer internals"

  private lazy val docs = Seq(
    (0L, base), (1L, base), (2L, near), (3L, far)
  ).toDF("doc_id", "text")

  test("exactGroups keeps min id and counts copies") {
    val got = Dedup.exactGroups(docs, Seq("text"), "doc_id")
      .orderBy("doc_id").select("doc_id", "n_copies")
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((0L, 2L), (2L, 1L), (3L, 1L)))
  }

  test("exactRows keeps exactly the first row of each group") {
    val got = Dedup.exactRows(docs, Seq("text"), "doc_id")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(got == Seq(0L, 2L, 3L))
  }

  /** naive word-3-gram jaccard for the fixture */
  private def jac(a: String, b: String): Double = {
    def sh(t: String) = t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val (sa, sb) = (sh(a), sh(b))
    sa.intersect(sb).size.toDouble / sa.union(sb).size
  }

  test("minhashNearDuplicates finds identical and near pairs with exact jaccard") {
    val got = Dedup.minhashNearDuplicates(docs, "doc_id", "text", threshold = 0.5)
      .orderBy("a", "b")
      .select("a", "b", "jaccard").as[(Long, Long, Double)].collect().toSeq
    val expectJ = jac(base, near)
    assert(got.map(p => (p._1, p._2)) == Seq((0L, 1L), (0L, 2L), (1L, 2L)))
    assert(got(0)._3 == 1.0) // identical docs
    assert(math.abs(got(1)._3 - expectJ) < 1e-12)
    assert(math.abs(got(2)._3 - expectJ) < 1e-12)
  }

  test("lshRecallEval: full recall on the planted fixture, containment holds, guard trips") {
    // truth at 0.5 on this fixture = the three pairs the minhash test
    // pins; the banded index finds them all → recall 1000, extra 0
    val got = Dedup.lshRecallEval(docs, "doc_id", "text", threshold = 0.5)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((3L, 3L, 3L, 0L, 1000L)), s"got $got")
    // truth-empty corner: unrelated docs → no qualifying pair, recall
    // reports 1000 (nothing to miss), not a division error
    val none = Dedup.lshRecallEval(
      docs.filter(col("doc_id") === 0L || col("doc_id") === 3L),
      "doc_id", "text", threshold = 0.5)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(none == Seq((0L, 0L, 0L, 0L, 1000L)), s"got $none")
    // the bounded-sample contract is enforced in-plan, not assumed
    val e = intercept[Throwable] {
      Dedup.lshRecallEval(docs, "doc_id", "text", threshold = 0.5,
        maxDocs = 2L).collect()
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(messages.exists(_.contains("lshRecallEval")),
      s"expected the maxDocs guard, got: ${messages.mkString(" | ")}")
    // the COST guard bounds the real quantity (Σ df·(df−1)/2), not
    // just the doc count — the 4-doc fixture has 3 same-shingle pairs
    // from the base/base/near trio, so a cap of 1 trips it
    val e2 = intercept[Throwable] {
      Dedup.lshRecallEval(docs, "doc_id", "text", threshold = 0.5,
        maxCandPairs = 1L).collect()
    }
    val m2 = Iterator.iterate[Throwable](e2)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(m2.exists(_.contains("maxCandPairs")),
      s"expected the candidate-pair guard, got: ${m2.mkString(" | ")}")
  }

  test("lshRecallEval: a deterministic banded miss surfaces as recall < 1000") {
    // one band of all 4 minhashes ⇒ candidate only when every
    // component agrees (P ≈ j⁴); this fixed pair at jaccard 6/14 is
    // (deterministically, fixed seeds) NOT a candidate, so the eval
    // must report the miss — the one scenario it exists to measure
    val p = Dedup.MinHashParams(shingleSize = 3, numHashes = 4,
      bands = 1, rowsPerBand = 4)
    val pair = Seq(
      (0L, "a b c d e f g h i j k l"),
      (1L, "a b c d e f g h x y z w")).toDF("doc_id", "text")
    val got = Dedup.lshRecallEval(pair, "doc_id", "text", threshold = 0.4,
      p = p).as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 0L, 0L, 0L, 0L)),
      s"expected the planted miss (truth 1, found 0, recall 0), got $got")
  }

  test("minhash signature: identical docs agree on every component") {
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text")
      .orderBy("doc_id").select("signature").as[Seq[Long]].collect()
    assert(sigs(0) == sigs(1))
    assert(sigs(0) != sigs(3))
    assert(Dedup.MinHashParams().numHashes == sigs(0).size)
  }

  test("simhashNearPairs: identical docs at hamming 0; far docs absent") {
    val got = Dedup.simhashNearPairs(docs, "doc_id", "text", maxHamming = 3)
      .select("a", "b", "hamming").as[(Long, Long, Int)].collect().toSeq
    assert(got.contains((0L, 1L, 0)))
    assert(!got.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("ngramJaccardPairs computes exact char-5-gram jaccard") {
    def cg(t: String) = t.sliding(5).toSet
    val expect = cg(base).intersect(cg(near)).size.toDouble / cg(base).union(cg(near)).size
    val got = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 5, threshold = 0.3)
      .orderBy("a", "b").select("a", "b", "jaccard")
      .as[(Long, Long, Double)].collect().toSeq
    assert(got.map(p => (p._1, p._2)) == Seq((0L, 1L), (0L, 2L), (1L, 2L)))
    assert(got(0)._3 == 1.0)
    assert(math.abs(got(1)._3 - expect) < 1e-12)
  }

  test("ngramContamination flags corpus docs overlapping the benchmark, cross-table only") {
    // corpus: 0 (= base), 3 (far); benchmark: 1 (= base), 2 (near)
    val corpus = docs.filter($"doc_id".isin(0L, 3L))
    val bench = docs.filter($"doc_id".isin(1L, 2L))
    val got = Dedup.ngramContamination(corpus, bench, "doc_id", "text",
      n = 5, threshold = 0.3)
      .orderBy("doc_id", "bench_id")
      .select("doc_id", "bench_id", "jaccard")
      .as[(Long, Long, Double)].collect().toSeq
    // doc 0 hits both benchmark docs (identical → 1.0, near → high);
    // doc 3 (far) hits nothing; corpus-internal pairs never appear
    assert(got.map(p => (p._1, p._2)) == Seq((0L, 1L), (0L, 2L)))
    assert(got(0)._3 == 1.0)
    def cg(t: String) = t.sliding(5).toSet
    val expect = cg(base).intersect(cg(near)).size.toDouble / cg(base).union(cg(near)).size
    assert(math.abs(got(1)._3 - expect) < 1e-12)
  }

  test("ngramContaminationBloom is row-identical to ngramContamination") {
    val corpus = docs.filter($"doc_id".isin(0L, 3L))
    val bench = docs.filter($"doc_id".isin(1L, 2L))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id", "bench_id").select("doc_id", "bench_id", "jaccard")
        .as[(Long, Long, Double)].collect().toSeq
    val plain = rows(Dedup.ngramContamination(corpus, bench, "doc_id", "text",
      n = 5, threshold = 0.3))
    val bloom = rows(Dedup.ngramContaminationBloom(corpus, bench, "doc_id", "text",
      n = 5, threshold = 0.3))
    assert(bloom == plain)
    assert(plain.nonEmpty) // fixture has real overlap — not vacuous
  }

  test("ngramContaminationBloom honors the stop-gram cap identically") {
    // maxDf = 1: every gram of the duplicated base doc appears twice in
    // a corpus holding both copies, so the cap kills all of doc 0/1's
    // grams — both variants must agree that nothing survives from them
    val corpus = docs.filter($"doc_id".isin(0L, 1L, 3L))
    val bench = docs.filter($"doc_id" === 2L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id", "bench_id").select("doc_id", "bench_id")
        .as[(Long, Long)].collect().toSeq
    val plain = rows(Dedup.ngramContamination(corpus, bench, "doc_id", "text",
      n = 5, threshold = 0.01, maxDf = 1))
    val bloom = rows(Dedup.ngramContaminationBloom(corpus, bench, "doc_id", "text",
      n = 5, threshold = 0.01, maxDf = 1))
    assert(bloom == plain)
  }

  test("simhashNearPairs equals the quadratic model (template-heavy corpus)") {
    val templates = Seq(
      "the quick brown fox jumps over the lazy dog",
      "pack my box with five dozen liquor jugs",
      "sphinx of black quartz judge my vow",
      "how vexingly quick daft zebras jump")
    val rnd = new scala.util.Random(5)
    val docs2 = Seq.tabulate(60)(i =>
      (i.toLong, templates(rnd.nextInt(4)) +
        (if (rnd.nextBoolean()) " " + templates(rnd.nextInt(4)).split(" ")(0) else "")))
      .toDF("doc_id", "text")
    val sigs = Dedup.simhashSignatures(docs2, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    val want = (for {
      a <- sigs.keys; b <- sigs.keys if a < b
      h = java.lang.Long.bitCount(sigs(a) ^ sigs(b)) if h <= 3
    } yield (a, b, h)).toSet
    val got = Dedup.simhashNearPairs(docs2, "doc_id", "text", maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(got == want)
  }

  test("hammingNearPairsMih equals the quadratic model at radius 7 (incl. boundary distances)") {
    // hashes engineered around the radius: exact dup (0), one flip (1),
    // exactly 7 flips spread over ALL chunks (the pigeonhole-tightest
    // case: min per-chunk distance 1), 8 flips (just outside), plus
    // random hashes for background pairs
    val base = 0x0123456789abcdefL
    def flips(bits: Int*) = bits.foldLeft(base)((h, b) => h ^ (1L << b))
    val rnd = new scala.util.Random(11)
    val engineered = Seq(
      1L -> base, 2L -> base, 3L -> flips(5),
      4L -> flips(0, 9, 17, 25, 33, 41, 49), // 7 bits, all 4 chunks hit
      5L -> flips(0, 9, 17, 25, 33, 41, 49, 57)) // 8 bits — outside
    val hashes = engineered ++ Seq.tabulate(40)(i => (10L + i) -> rnd.nextLong())
    val df = hashes.toDF("id", "h")
    val want = (for {
      (a, ha) <- hashes; (b, hb) <- hashes if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 7
    } yield (a, b, d)).toSet
    val got = Dedup.hammingNearPairsMih(df, "id", "h", maxHamming = 7, chunks = 4)
      .as[(Long, Long, Int)].collect().toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
    assert(want.exists(_._3 == 7), "fixture must exercise the exact radius boundary")
    assert(got.contains((1L, 2L, 0)), "identical hashes pair at distance 0")
    assert(!got.exists(p => p._1 == 1L && p._2 == 5L), "distance 8 stays outside radius 7")
    // a radius BELOW the chunk count delegates to the plain pigeonhole
    // — same answers either way
    val small = Dedup.hammingNearPairsMih(df, "id", "h", maxHamming = 3, chunks = 4)
      .as[(Long, Long, Int)].collect().toSet
    val plain = Dedup.hammingNearPairs(df, "id", "h", maxHamming = 3, chunks = 4)
      .as[(Long, Long, Int)].collect().toSet
    assert(small == plain)
  }

  test("LSH candidates never include a pair twice and never self-pair") {
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text")
    val cands = Dedup.lshCandidates(sigs, "doc_id")
      .as[(Long, Long)].collect().toSeq
    assert(cands.distinct == cands)
    assert(cands.forall(p => p._1 < p._2))
  }

  test("screenAgainstIndex flags batch docs near the indexed corpus only") {
    val index = Dedup.minhashSignatures(
      docs.filter($"doc_id".isin(0L, 3L)), "doc_id", "text")
    // threshold below the fixture's ~0.54 true jaccard: the 64-hash
    // ESTIMATE carries ±1/√64 noise, so 0.5 would be a coin flip here
    val got = Dedup.screenAgainstIndex(
      docs.filter($"doc_id".isin(1L, 2L)), "doc_id", "text",
      index, threshold = 0.3)
      .orderBy("doc_id", "index_id")
      .as[(Long, Long, Double)].collect().toSeq
    // batch doc 1 is byte-identical to indexed doc 0 (estimate exactly
    // 1.0); batch doc 2 is the near-dup; nothing matches far doc 3
    assert(got.map(r => (r._1, r._2)) == Seq((1L, 0L), (2L, 0L)))
    assert(got(0)._3 == 1.0)
    assert(got(1)._3 >= 0.3 && got(1)._3 < 1.0)
  }

  test("connectedComponents merges transitively and keeps singletons") {
    // components: {0} {1,2,3} (via 1-2, 2-3: 1~3 never emitted) {4} {5,6}
    val vertices = (0L to 6L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val got = Dedup.connectedComponents(vertices, "doc_id", pairs)
      .orderBy("doc_id").as[(Long, Long, Boolean)].collect().toSeq
    assert(got == Seq(
      (0L, 0L, true), (1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (4L, 4L, true), (5L, 5L, true), (6L, 5L, false)))
  }

  test("keepBestPerCluster: argmax-by-score keeper, ties to smallest id, " +
      "singleton keeps itself — the truncated-mirror case min-id gets wrong") {
    // cluster {1,2,3}: scores 5, 9, 9 — keeper is 2 (max score, tie
    // to smaller id); min-id would have kept the TRUNCATED doc 1.
    // cluster {5,6}: 6 outscores 5 outright. 10 is a singleton.
    val docs = Seq((1L, 5L), (2L, 9L), (3L, 9L), (5L, 4L), (6L, 7L),
      (10L, 1L)).toDF("doc_id", "len")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val got = Dedup.keepBestPerCluster(docs, "doc_id", pairs, col("len"))
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Boolean)].collect().toSeq
    assert(got == Seq(
      (1L, 1L, 3L, 2L, false), (2L, 1L, 3L, 2L, true),
      (3L, 1L, 3L, 2L, false),
      (5L, 5L, 2L, 6L, false), (6L, 5L, 2L, 6L, true),
      (10L, 10L, 1L, 10L, true)), s"got: $got")
  }

  test("keepBestFromClusters: STRING ids resolve (the -id tie-break was " +
      "numeric-only) and a clustered id missing from the score frame " +
      "fails loudly instead of silently moving the keeper") {
    val clusters = Seq(("docA", "docA"), ("docB", "docA"), ("docC", "docA"))
      .toDF("doc_id", "cluster_id")
    val scored = Seq(("docA", 4.0), ("docB", 9.0), ("docC", 9.0))
      .toDF("doc_id", "__score")
    val got = Dedup.keepBestFromClusters(clusters, scored, "doc_id")
      .orderBy("doc_id")
      .as[(String, String, Long, String, Boolean)].collect().toSeq
    // max score 9.0, tie broken to the lexicographically SMALLEST id
    assert(got == Seq(
      ("docA", "docA", 3L, "docB", false),
      ("docB", "docA", 3L, "docB", true),
      ("docC", "docA", 3L, "docB", false)), s"got: $got")
    // a stale/partial score frame (docC unscored) must raise, not
    // shrink n_members and silently hand the cluster to docB
    val e = intercept[Throwable] {
      Dedup.keepBestFromClusters(clusters, scored.filter(col("doc_id") =!=
        "docC"), "doc_id").collect()
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("; ")
    assert(msgs.contains("no score for clustered id"),
      s"partial score frame must raise, got: $msgs")
  }

  test("clustersMaintain: delete SPLITS a cluster, insert MERGES via the " +
      "batch screen, update re-wires — maintained ≡ scratch rebuild") {
    // maxHamming 0 (hash-equal pairs only) makes cluster structure a
    // pure function of exact text, so the fixture is hand-checkable:
    // boot clusters {1,2,3} (same text), {10}, {20}
    val boot = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "alpha beta gamma"), (10L, "delta epsilon"),
      (20L, "zeta eta theta")).toDF("doc_id", "text")
    val st0 = Dedup.clustersBootstrap(boot, "doc_id", "text",
      maxHamming = 0, chunks = 4)
    assert(st0.clusters.as[(Long, Long)].collect().toSet ==
      Set((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (20L, 20L)))
    // batch: doc 2 re-written (leaves {1,2,3} → joins NOTHING — a
    // split), doc 1 DELETED (the min-id member — the cluster id must
    // move to 3), doc 30 inserted equal to 20 (a merge into {20,30}),
    // doc 40 inserted as a singleton
    val feed = Seq(
      (101L, "U", 2L, "rewritten entirely"),
      (102L, "D", 1L, null.asInstanceOf[String]),
      (103L, "I", 30L, "zeta eta theta"),
      (104L, "I", 40L, "iota kappa")).toDF("seq", "op", "doc_id", "text")
    val st1 = Dedup.clustersMaintain(st0, feed, "doc_id", "text",
      "seq", "op", maxHamming = 0, chunks = 4)
    val got = st1.clusters.as[(Long, Long)].collect().toSet
    assert(got == Set((2L, 2L), (3L, 3L), (10L, 10L),
      (20L, 20L), (30L, 20L), (40L, 40L)), s"got: $got")
    // the full state equals a scratch rebuild over the merged corpus
    val merged = Seq(
      (2L, "rewritten entirely"), (3L, "alpha beta gamma"),
      (10L, "delta epsilon"), (20L, "zeta eta theta"),
      (30L, "zeta eta theta"), (40L, "iota kappa")).toDF("doc_id", "text")
    val ref = Dedup.clustersBootstrap(merged, "doc_id", "text",
      maxHamming = 0, chunks = 4)
    assert(st1.sigs.as[(Long, Long)].collect().toSet ==
      ref.sigs.as[(Long, Long)].collect().toSet, "sigs diverged")
    assert(st1.pairs.as[(Long, Long)].collect().toSet ==
      ref.pairs.as[(Long, Long)].collect().toSet, "pairs diverged")
    assert(got == ref.clusters.as[(Long, Long)].collect().toSet,
      "clusters diverged from scratch")
  }

  test("clustersMaintainUpdate: applying each home's delta over the " +
      "previous state reproduces the next state exactly — and the " +
      "deltas are per-key unique and feed-bounded") {
    import graft.streaming.DeltaStore
    // the split/merge/re-wire fixture above, asked for its DELTAS —
    // the rows the streaming sinks persist instead of the full state
    val boot = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "alpha beta gamma"), (10L, "delta epsilon"),
      (20L, "zeta eta theta")).toDF("doc_id", "text")
    val st0 = Dedup.clustersBootstrap(boot, "doc_id", "text",
      maxHamming = 0, chunks = 4)
    val feed = Seq(
      (101L, "U", 2L, "rewritten entirely"),
      (102L, "D", 1L, null.asInstanceOf[String]),
      (103L, "I", 30L, "zeta eta theta"),
      (104L, "I", 40L, "iota kappa")).toDF("seq", "op", "doc_id", "text")
    val upd = Dedup.clustersMaintainUpdate(st0, feed, "doc_id", "text",
      "seq", "op", maxHamming = 0, chunks = 4)
    // delta ∘ prev ≡ next, home by home (the DeltaStore read protocol
    // folds exactly this application)
    def sets(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq).toSet
    assert(sets(DeltaStore.applyDelta(st0.sigs, upd.deltas.sigs,
      Seq("doc_id"))) == sets(upd.state.sigs), "sig delta != sig state")
    assert(sets(DeltaStore.applyDelta(st0.pairs, upd.deltas.pairs,
      Seq("h_a", "h_b"))) == sets(upd.state.pairs),
      "pair delta != pair state")
    assert(sets(DeltaStore.applyDelta(st0.clusters, upd.deltas.clusters,
      Seq("doc_id"))) == sets(upd.state.clusters),
      "cluster delta != cluster state")
    // per-key uniqueness — the DeltaStore write contract
    Seq("sigs" -> (upd.deltas.sigs, Seq("doc_id")),
      "pairs" -> (upd.deltas.pairs, Seq("h_a", "h_b")),
      "clusters" -> (upd.deltas.clusters, Seq("doc_id"))).foreach {
      case (nm, (d, keys)) =>
        val dup = d.groupBy(keys.map(col(_)): _*)
          .count().filter(col("count") > 1).count()
        assert(dup == 0, s"$nm delta carries $dup duplicated keys")
    }
    // feed-bounded: the sig delta is exactly the batch's winner keys
    // (4 changed keys), the cluster delta only the affected clusters'
    // old∪new membership — {1,2,3} (split + delete), {20,30} (merge),
    // {40} (new) — never the untouched {10}
    assert(upd.deltas.sigs.count() == 4)
    val clIds = upd.deltas.clusters.select("doc_id")
      .as[Long].collect().toSet
    assert(clIds == Set(1L, 2L, 3L, 20L, 30L, 40L),
      s"cluster delta keys: $clIds (10 must carry untouched)")
  }

  test("keepBestFromClusters over a maintained map: a grown update takes " +
      "over its cluster; the deleted keeper's runner-up surfaces") {
    // boot: {1,2} same text (keeper by length tie → min id 1), {10}
    val boot = Seq((1L, "alpha beta"), (2L, "alpha beta"),
      (10L, "delta")).toDF("doc_id", "text")
    val st0 = Dedup.clustersBootstrap(boot, "doc_id", "text",
      maxHamming = 0, chunks = 4)
    val scored0 = boot.select(col("doc_id"),
      length(col("text")).cast("long").as("__score"))
    val kb0 = Dedup.keepBestFromClusters(st0.clusters, scored0, "doc_id")
      .filter(col("keep")).select("doc_id")
      .as[Long].collect().toSet
    assert(kb0 == Set(1L, 10L), s"boot keepers: $kb0")
    // keeper 1 deleted → 2 surfaces; 10's cluster joined by a LONGER
    // twin 11 → the newcomer takes the cluster over
    val feed = Seq(
      (100L, "D", 1L, null.asInstanceOf[String]),
      (101L, "I", 11L, "delta")).toDF("seq", "op", "doc_id", "text")
    val st1 = Dedup.clustersMaintain(st0, feed, "doc_id", "text",
      "seq", "op", maxHamming = 0, chunks = 4)
    val merged = Seq((2L, "alpha beta"), (10L, "delta"), (11L, "delta"))
      .toDF("doc_id", "text")
    // 11 ties 10 on length → tie to the SMALLER id keeps 10; give 11
    // a longer text via the score column to pin the takeover instead
    val scored1 = merged.select(col("doc_id"),
      (length(col("text")).cast("long") +
        when(col("doc_id") === 11L, 5L).otherwise(0L)).as("__score"))
    val kb1 = Dedup.keepBestFromClusters(st1.clusters, scored1, "doc_id")
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Boolean)].collect().toSeq
    assert(kb1 == Seq(
      (2L, 2L, 1L, 2L, true),
      (10L, 10L, 2L, 11L, false), (11L, 10L, 2L, 11L, true)),
      s"maintained keep-best: $kb1")
  }

  test("clustersMaintain ≡ scratch rebuild on the real corpus at the " +
      "registered radius (near pairs, not just hash-equal)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val boot = docs.filter(col("doc_id") % 5 =!= 4)
    val feed = docs.filter(col("doc_id") % 10 === 1)
      .select(lit("U").as("op"), col("doc_id"),
        concat(col("text"), lit(" merge merge")).as("text"))
      .unionByName(docs.filter(col("doc_id") % 10 === 3)
        .select(lit("D").as("op"), col("doc_id"),
          lit(null).cast("string").as("text")))
      .unionByName(docs.filter(col("doc_id") % 5 === 4)
        .select(lit("I").as("op"), col("doc_id"), col("text")))
      .withColumn("seq", lit(1000000L) + col("doc_id"))
    val st = Dedup.clustersMaintain(
      Dedup.clustersBootstrap(boot, "doc_id", "text"),
      feed, "doc_id", "text", "seq", "op")
    val merged = docs.filter(col("doc_id") % 10 =!= 3)
      .select(col("doc_id"),
        when(col("doc_id") % 10 === 1, concat(col("text"), lit(" merge merge")))
          .otherwise(col("text")).as("text"))
    val ref = Dedup.clustersBootstrap(merged, "doc_id", "text")
    val gotC = st.clusters.as[(Long, Long)].collect().toSet
    val refC = ref.clusters.as[(Long, Long)].collect().toSet
    assert(gotC == refC,
      s"maintained clusters diverged: extra=${gotC -- refC} missing=${refC -- gotC}")
    assert(st.pairs.as[(Long, Long)].collect().toSet ==
      ref.pairs.as[(Long, Long)].collect().toSet, "pair set diverged")
    assert(gotC.nonEmpty && gotC.exists(p => p._1 != p._2),
      "fixture must carry at least one non-trivial cluster")
  }

  test("adversarial all-duplicates corpus: the cluster-index pair state " +
      "is HASH-level — zero rows for 500 identical docs (was N²/2 ≈ " +
      "125k doc edges), one row bridging two near-dup template groups") {
    // the r18 verdict's pathological feed: N identical docs used to
    // persist N²/2 hamming-0 edges in the ClusterStream pairs/ home
    val n = 500
    val dupes = (1L to n.toLong).map(i => (i, "the exact same template"))
      .toDF("doc_id", "text")
    val st = Dedup.clustersBootstrap(dupes, "doc_id", "text")
    assert(st.pairs.count() == 0L,
      "identical-content connectivity must be implicit in the sigs, " +
        "not materialized as pair state")
    val cl = st.clusters.as[(Long, Long)].collect()
    assert(cl.length == n && cl.forall(_._2 == 1L),
      "all 500 copies must still resolve to one min-id cluster")
    // fold 250 MORE copies on: the pair state must stay empty and the
    // cluster must absorb them — the state grows O(Δ), not O(Δ·N)
    val feed = (1L to 250L).map(i =>
      (1000L + i, "I", n + i, "the exact same template"))
      .toDF("seq", "op", "doc_id", "text")
      .select(col("seq"), col("op"), col("doc_id").cast("long"), col("text"))
    val st1 = Dedup.clustersMaintain(st, feed, "doc_id", "text",
      "seq", "op")
    assert(st1.pairs.count() == 0L, "maintained pair state must stay empty")
    assert(st1.clusters.count() == (n + 250).toLong &&
      st1.clusters.select("cluster_id").distinct().count() == 1L)
    // two template groups within the hamming radius: ONE stored hash
    // pair (not |A|·|B| doc edges), components still merge. maxHamming
    // 3 ≥ simhash distance of two one-token-apart texts is not
    // guaranteed — use hash-equal groups plus a direct check instead:
    // group B identical to itself, distance to A measured first.
    val a = (1L to 200L).map(i => (i, "template alpha body"))
    val b = (1L to 200L).map(i => (200L + i, "template alpha bodx"))
    val both = (a ++ b).toDF("doc_id", "text")
    val st2 = Dedup.clustersBootstrap(both, "doc_id", "text")
    val nPairs = st2.pairs.count()
    assert(nPairs <= 1L,
      s"two template groups must store ≤1 hash pair, got $nPairs")
    val nClusters = st2.clusters.select("cluster_id").distinct().count()
    val dist = st2.sigs.select("simhash").distinct()
      .as[Long].collect() match {
        case Array(h1, h2) => java.lang.Long.bitCount(h1 ^ h2)
        case Array(_) => 0
        case hs => fail(s"expected ≤2 distinct hashes, got ${hs.length}")
      }
    if (dist <= 3) assert(nPairs == 1L && nClusters == 1L,
      s"groups within radius ($dist) must bridge via one stored pair")
    else assert(nPairs == 0L && nClusters == 2L,
      s"groups beyond radius ($dist) must stay apart with zero pairs")
  }

  test("connectedComponents converges on a long chain (diameter > 2)") {
    // a 9-vertex path: min label must walk the whole chain
    val vertices = (10L to 18L).toDF("doc_id")
    val pairs = (10L until 18L).map(i => (i, i + 1)).toDF("a", "b")
    val got = Dedup.connectedComponents(vertices, "doc_id", pairs)
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(got.forall(_._2 == 10L))
    assert(got.count(_._3) == 1)
  }

  test("connectedComponents converges in O(log diameter) rounds (pointer jumping)") {
    // A path graph of diameter 1000: plain min-label propagation moves
    // the min one hop per round (needs ~1000 rounds); pointer jumping
    // halves the remaining distance each round, so ceil(log2(1000))+c
    // rounds must suffice. maxIter=15 passes ONLY with pointer jumping —
    // reverting it makes connectedComponents throw non-convergence here.
    val n = 1000L
    val vertices = (0L to n).toDF("doc_id")
    val pairs = (0L until n).map(i => (i, i + 1)).toDF("a", "b")
    val got = Dedup.connectedComponents(vertices, "doc_id", pairs, maxIter = 15)
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(got.size == n + 1)
    assert(got.forall(_._2 == 0L), "every path vertex must reach label 0")
    assert(got.count(_._3) == 1)
    // and the non-convergence guard actually throws rather than
    // silently emitting split clusters
    val ex = intercept[IllegalStateException] {
      Dedup.connectedComponents(vertices, "doc_id", pairs, maxIter = 3).collect()
    }
    assert(ex.getMessage.contains("fixpoint"))
  }

  test("connectedComponents on real near-dup pairs keeps one doc per clique") {
    val cc = Dedup.connectedComponents(docs, "doc_id",
      Dedup.minhashNearDuplicates(docs, "doc_id", "text", threshold = 0.5))
      .orderBy("doc_id").as[(Long, Long, Boolean)].collect().toSeq
    // 0,1,2 collapse (0-1 identical, 0-2/1-2 near); 3 is its own cluster
    assert(cc == Seq(
      (0L, 0L, true), (1L, 0L, false), (2L, 0L, false), (3L, 3L, true)))
  }

  test("prefixJaccardPairs equals brute force on real data (completeness)") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val t = 0.5
    val got = Dedup.prefixJaccardPairs(real, "doc_id", "text", t)
      .select("a", "b", "jaccard").as[(Long, Long, Double)].collect().toSet
    // ground truth: ALL pairs, no filter
    val sets = real.select(col("doc_id"), Dedup.wordShingles(col("text"), 3).as("s"))
    val brute = sets.toDF("a", "sa").join(sets.toDF("b", "sb"), col("a") < col("b"))
      .withColumn("jaccard",
        size(array_intersect(col("sa"), col("sb"))).cast("double") /
          size(array_union(col("sa"), col("sb"))))
      .filter(col("jaccard") >= t)
      .select("a", "b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(got == brute, s"prefix join ${got.size} pairs vs brute ${brute.size}")
    assert(brute.nonEmpty) // the fixture corpus has planted near-dups
  }

  test("prefixJaccardPairs on the hand fixture: exact pair and value") {
    val got = Dedup.prefixJaccardPairs(docs, "doc_id", "text", 0.5)
      .orderBy("a", "b").as[(Long, Long, Double)].collect().toSeq
    // (0,1) identical → 1.0; (0,2)/(1,2) one word changed in 12 tokens:
    // 10 distinct 3-gram shingles each, 7 shared → 7/13
    assert(got.map(p => (p._1, p._2)) == Seq((0L, 1L), (0L, 2L), (1L, 2L)))
    assert(got.head._3 == 1.0)
    assert(math.abs(got(1)._3 - 7.0 / 13.0) < 1e-15)
  }

  test("ngramContainmentPairs: a substring doc scores 1.0 despite low jaccard") {
    val sub = "alpha beta gamma delta"
    val sup = sub + " epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi"
    val df = Seq((1L, sub), (2L, sup)).toDF("doc_id", "text")
    val cont = Dedup.ngramContainmentPairs(df, "doc_id", "text",
      n = 5, threshold = 0.9, maxDf = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // every 5-gram of the short doc appears in the long doc → C = 1.0
    // in the sub→sup direction ONLY
    assert(cont.toSeq == Seq((1L, 2L, 1.0)))
    // ...while symmetric jaccard misses the pair even at 0.5
    val j = Dedup.ngramJaccardPairs(df, "doc_id", "text",
      n = 5, threshold = 0.5, maxDf = 1000).count()
    assert(j == 0, "jaccard should miss the subsumption pair")
  }

  test("editDistancePairs: exact distances, cross-length-slot pairs kept") {
    val df = Seq("kitten", "sitting", "mitten", "flour", "spark-sql-engine")
      .toDF("name")
    val got = Dedup.editDistancePairs(df, "name", maxDist = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    // kitten→sitting is the classic distance-3 pair AND spans lengths
    // 6/7 — a pair the slot replication must not lose; kitten→mitten
    // distance 1; sitting→mitten distance 4 (excluded).
    assert(got.contains(("kitten", "sitting", 3L)))
    assert(got.contains(("kitten", "mitten", 1L)))
    assert(!got.exists(p => p._3 > 3L))
    // completeness vs brute force on the same domain
    val names = df.distinct().collect().map(_.getString(0))
    val brute = (for {
      a <- names; b <- names if a < b
      d = {
        val dp = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
          if (i == 0) j else if (j == 0) i else 0 }
        for (i <- 1 to a.length; j <- 1 to b.length)
          dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
            dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        dp(a.length)(b.length)
      } if d <= 3
    } yield (a, b, d.toLong)).toSet
    assert(got == brute, s"blocked join must equal brute force: $got vs $brute")
  }

  test("editDistancePairs: a hot length class splits on the char-class axis — bounded candidates, nothing lost") {
    // 40 names, ALL length 6 (one quadratic length cell = 780 pairs):
    // 20 drawn from the a–m half alphabet (class count 6) and 20 from
    // n–z (class count 0). maxDist = 1 ⇒ slot width 3 ⇒ the two camps
    // sit in class-count slots 2 and 0 — no cross-camp candidate can
    // survive the (|Δf| ≤ 1 necessary) cell join, so the candidate
    // count is bounded by the two within-camp quadratics (2·190 = 380
    // from a worst case of 780), and completeness is untouched: a
    // distance-1 pair moves f by ≤ 1 by construction.
    val camps =
      (0 until 20).map(i =>
        "aaaa" + ('a' + i % 13).toChar + ('a' + i / 13).toChar) ++
      (0 until 20).map(i =>
        "nnnn" + ('n' + i % 13).toChar + ('n' + i / 13).toChar)
    val df = camps.toDF("name")
    val nDistinct = df.distinct().count()
    val cand = Dedup.editDistanceCandidates(df, "name", maxDist = 1)
    val nCand = cand.count()
    val quad = nDistinct * (nDistinct - 1) / 2
    assert(nCand <= quad / 2 + 1,
      s"hot class must split: $nCand candidates vs single-axis $quad")
    // losslessness: blocked distances equal brute force on the domain
    val names = df.distinct().collect().map(_.getString(0))
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length)
    }
    val brute = (for { a <- names; b <- names if a < b; d = lev(a, b)
      if d <= 1 } yield (a, b, d.toLong)).toSet
    val got = Dedup.editDistancePairs(df, "name", maxDist = 1)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == brute, s"two-axis blocking lost pairs: $got vs $brute")
  }
}
