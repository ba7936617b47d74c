package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

/** Text-analysis operators for large-scale training-data pipelines:
  * token statistics, quality scoring, language identification, and
  * document fingerprinting (winnowing over rolling hashes).
  *
  * All operators are pure column expressions over `functions._` — fully
  * codegen'd, no UDFs, no shuffles beyond what the caller's aggregation
  * needs — so a 100 TB `documents` scan stays a single map-only stage
  * with filter/projection pushdown intact.
  *
  * The reference engine is integer-only and has no string functions at
  * all (/root/reference/sqlengine.py:43 — `columnRval` admits numbers
  * only; SURVEY.md §2.8); this module is extension surface.
  */
object TextAnalysis {

  /** Whitespace tokenizer. The testdata `documents.text` is single-space
    * separated; `sep` is a regex so callers can widen to `\\s+`. */
  def tokens(text: Column, sep: String = " "): Column =
    filter(split(text, sep), w => length(w) > 0)

  // --- language-ID stopword profiles (tiny, public-knowledge lists) ---
  val StopwordProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that",
      "for", "on", "with", "as", "at", "by", "an", "be", "this", "from",
      "or", "are", "was", "not", "but", "have"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "eine",
      "zu", "den", "mit", "von", "auf", "für", "im", "dem", "sich", "des",
      "ich", "sie", "es", "auch", "als", "an", "aus"),
    "fr" -> Seq("le", "la", "les", "de", "des", "un", "une", "et", "est",
      "en", "que", "qui", "dans", "pour", "pas", "sur", "avec", "au",
      "il", "elle", "ne", "ce", "se", "du", "par"),
    "es" -> Seq("el", "la", "los", "las", "de", "un", "una", "y", "es",
      "en", "que", "se", "no", "por", "con", "para", "su", "al", "lo",
      "como", "más", "pero", "sus", "le", "ya"),
  )

  private def litArray(ws: Seq[String]): Column = array(ws.map(lit): _*)

  /** Count of tokens found in `words` (with multiplicity). */
  def hitCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, w => array_contains(litArray(words), w))).cast(LongType)

  /** `c / n_tokens` as a double; NULL for a zero-token (empty or
    * whitespace-only) text instead of an ANSI DIVIDE_BY_ZERO — the
    * same NULL the DuckDB oracles' division by zero yields. */
  private def perToken(c: Column): Column =
    c.cast(DoubleType) / when(col("n_tokens") =!= 0L, col("n_tokens"))

  /** Adds n_tokens / n_chars / avg_token_len / distinct_ratio /
    * stopword_ratio columns derived from `textCol`. Map-only, no
    * shuffle; the token array is materialized once (`__toks`) so the
    * five derived columns don't each re-run the tokenizer. The ratios
    * are NULL for a zero-token text. */
  def withTokenStats(df: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = col("__toks")
    df.withColumn("__toks", tokens(col(textCol)))
      .withColumn("n_tokens", size(toks).cast(LongType))
      .withColumn("n_chars", length(col(textCol)).cast(LongType))
      .withColumn("avg_token_len", perToken(
        aggregate(toks, lit(0L), (acc, w) => acc + length(w).cast(LongType))))
      .withColumn("distinct_ratio", perToken(size(array_distinct(toks))))
      .withColumn("stopword_ratio",
        perToken(hitCount(toks, StopwordProfiles("en"))))
      .drop("__toks")
  }

  /** Fasttext-style linear quality scorer over hashed token features:
    * each token hashes (xxh64) into one of `buckets` feature slots,
    * the slot's weight is gathered, and the document's score is the
    * mean weight; `keep = score > 0`. This is the map-only, codegen'd
    * shape of shipping a TRAINED linear classifier into the scan
    * stage — at scale the weight table arrives as a broadcast array
    * (here it is a deterministic integer fixture,
    * `w(b) = floorMod(b · 2654435761, 1024) − 512`, so the oracle can
    * re-derive every weight exactly; swapping in learned weights
    * changes one expression). No shuffle, no UDF — hash, gather and
    * mean all run inside whole-stage codegen. */
  def linearQualityScore(df: DataFrame, idCol: String, textCol: String,
      buckets: Int = 1 << 16): DataFrame = {
    val toks = tokens(col(textCol))
    val weights = transform(toks, t =>
      pmod(pmod(xxhash64(t), lit(buckets.toLong)) * lit(2654435761L),
        lit(1024L)) - lit(512L))
    df.select(col(idCol),
        // coalesce: size()/aggregate() return null for a NULL text —
        // fold that to the empty-text shape (0 tokens, score 0) so the
        // scorer is total and matches the oracle's LEFT JOIN + COALESCE
        coalesce(size(toks).cast(LongType), lit(0L)).as("n_tokens"),
        coalesce(aggregate(weights, lit(0L), (acc, x) => acc + x), lit(0L)).as("w_sum"))
      .withColumn("score",
        when(col("n_tokens") > 0,
          col("w_sum").cast(DoubleType) / col("n_tokens")).otherwise(lit(0.0)))
      .withColumn("keep", col("score") > 0.0)
  }

  /** The deterministic weight fixture [[linearQualityScore]] bakes in,
    * materialized as an actual table: `w(b) = floorMod(b · 2654435761,
    * 1024) − 512`. Exists so the external-table path can be proven
    * equivalent to the fixture path when fed the same weights. */
  def fixtureWeights(buckets: Int = 1 << 16): Array[Long] =
    Array.tabulate(buckets)(b => Math.floorMod(b * 2654435761L, 1024L) - 512L)

  /** [[linearQualityScore]] with an EXTERNAL weight table — the "swap
    * in learned weights" path. `weights(b)` is the per-bucket weight,
    * shipped as a one-row broadcast frame (the same trick
    * [[RuntimeFilter]] plays with its bloom bitmap) and gathered per
    * token with `get(array, bucket)` — still no shuffle, no UDF, and
    * the scan side of the join stays map-only. Weights are integer
    * (quantize learned float weights first, e.g. per-mille — the
    * library-wide policy that keeps per-doc sums exact and the score
    * a single double division, bit-reproducible in any engine). */
  def linearQualityScoreWith(df: DataFrame, idCol: String, textCol: String,
      weights: Array[Long]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val buckets = weights.length
    require(buckets > 0, "weights must be non-empty")
    val wTable = Seq(weights.toSeq).toDF("__w")
    val toks = tokens(col(textCol))
    val gathered = transform(toks, t =>
      get(col("__w"), pmod(xxhash64(t), lit(buckets.toLong)).cast(IntegerType)))
    df.join(broadcast(wTable))
      .select(col(idCol),
        coalesce(size(toks).cast(LongType), lit(0L)).as("n_tokens"),
        coalesce(aggregate(gathered, lit(0L), (acc, x) => acc + x), lit(0L)).as("w_sum"))
      .withColumn("score",
        when(col("n_tokens") > 0,
          col("w_sum").cast(DoubleType) / col("n_tokens")).otherwise(lit(0.0)))
      .withColumn("keep", col("score") > 0.0)
  }

  /** BPE-style pre-tokenization pattern: letter runs, single digits,
    * and single non-alphanumeric marks — the shape GPT-2-family
    * tokenizers split on before byte-pair merging. Written in the
    * common subset of Java regex and RE2 so the DuckDB oracle matches
    * byte for byte. */
  val BpeishPattern = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"

  /** Subword-ish token count: the number of BPE pre-tokens. A cheap,
    * deterministic proxy for "how many tokens will the model see" —
    * the usual budget column in a training-data pipeline. */
  def withBpeTokenCount(df: DataFrame, textCol: String = "text",
      out: String = "n_bpeish"): DataFrame =
    df.withColumn(out,
      size(regexp_extract_all(col(textCol), lit(BpeishPattern), lit(0))).cast(LongType))

  /** Heuristic quality score in [0,1]: length signal, lexical diversity,
    * and an in-range average token length. Deliberately simple,
    * deterministic arithmetic (same ops give identical doubles in any
    * engine). Expects the [[withTokenStats]] columns. */
  def qualityScore: Column =
    least(lit(1.0), col("n_tokens").cast(DoubleType) / 50.0) * 0.4 +
      col("distinct_ratio") * 0.3 +
      least(lit(1.0), col("avg_token_len") / 5.0) * 0.3

  /** Gopher-style quality-rule battery (Rae et al. 2021, §A1.1): every
    * document is scored against the full rule set in one pass, and the
    * output carries WHICH rules failed (`failed_rules`, comma-joined in
    * a fixed order) plus the `keep` verdict — a pipeline needs the
    * attribution column for threshold tuning and drop-rate dashboards,
    * not just the boolean. Rules: token-count range, mean-token-length
    * range, alphabetic-token ratio, stopword hit floor (count, not
    * ratio — Gopher's rule), and a distinct-token-ratio floor (the
    * cheap repetition proxy; [[repetitionStats]] has the full n-gram
    * version). Map-only codegen'd projection — the token array
    * materializes once and all six rules read it; at 100 TB this is a
    * single scan with no shuffle at all. A zero-token (empty or
    * whitespace-only) text has NULL ratios, so only the count rules
    * (`too_few_tokens`, `low_stopword_hits`) can fail it; a NULL text
    * has NULL stats throughout and fails no rule, as in the oracle. */
  def filterBattery(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text",
      minTokens: Long = 50, maxTokens: Long = 100000,
      minAvgLen: Double = 3.0, maxAvgLen: Double = 10.0,
      minAlphaRatio: Double = 0.8, minStopwordHits: Long = 2,
      minDistinctRatio: Double = 0.3): DataFrame = {
    val toks = col("__toks")
    val stats = df.select(col(idCol), col(textCol))
      .withColumn("__toks", tokens(col(textCol)))
      .withColumn("n_tokens", size(toks).cast(LongType))
      .withColumn("__avg", perToken(
        aggregate(toks, lit(0L), (acc, w) => acc + length(w).cast(LongType))))
      .withColumn("__alpha", perToken(size(filter(toks, w => w.rlike("[a-z]")))))
      .withColumn("__stop", hitCount(toks, StopwordProfiles("en")))
      .withColumn("__dr", perToken(size(array_distinct(toks))))
    val rules: Seq[(String, Column)] = Seq(
      "too_few_tokens" -> (col("n_tokens") < minTokens),
      "too_many_tokens" -> (col("n_tokens") > maxTokens),
      "avg_token_len_oob" -> (col("__avg") < minAvgLen || col("__avg") > maxAvgLen),
      "low_alpha_ratio" -> (col("__alpha") < minAlphaRatio),
      "low_stopword_hits" -> (col("__stop") < minStopwordHits),
      "low_distinct_ratio" -> (col("__dr") < minDistinctRatio))
    val failed = filter(
      array(rules.map { case (n, c) => when(c, lit(n)) }: _*), x => x.isNotNull)
    stats
      .withColumn("failed_rules", concat_ws(",", failed))
      .withColumn("keep", size(failed) === 0)
      .select(col(idCol), col("n_tokens"), col("failed_rules"), col("keep"))
  }

  /** N-gram-free language ID: stopword hit-rate per profile, argmax with
    * a fixed tie-break order (profile list order, then "und" =
    * undetermined when nothing hits). */
  def withLangId(df: DataFrame, textCol: String = "text",
      out: String = "lang_pred"): DataFrame = {
    val toks = col("__toks")
    val scored = StopwordProfiles.toSeq.sortBy(_._1).map { case (l, ws) =>
      struct(hitCount(toks, ws).as("hits"), lit(l).as("lang"))
    }
    // array_max on struct compares fields in order → max hits, and on a
    // tie the lexicographically-greatest lang; stable and deterministic.
    val best = array_max(array(scored: _*))
    df.withColumn("__toks", tokens(col(textCol)))
      .withColumn(out,
        when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und")))
      .drop("__toks")
  }

  // --- PII scrubbing -------------------------------------------------

  /** Default redaction patterns, ordered (emails before bare digit
    * runs so an address is one `<EMAIL>`, not fragments). Written in
    * the common Java-regex/RE2 subset so an independent engine applies
    * them identically (the DuckDB oracle does). */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "https?://[^ ]+" -> "<URL>",
    "[0-9]{4,}" -> "<NUM>")

  /** Redact every `patterns` match in `text` (ordered fold of
    * `regexp_replace`, each replacing ALL occurrences). Pure map-only
    * projection — at 100 TB this is a single codegen'd scan stage, the
    * cheapest possible shape for corpus-wide scrubbing. */
  def scrubPii(text: Column,
      patterns: Seq[(String, String)] = PiiPatterns): Column =
    patterns.foldLeft(text) { case (c, (p, r)) =>
      regexp_replace(c, lit(p), lit(r))
    }

  /** Winnowing fingerprint (Schleimer/Wilkerson/Aiken, SIGMOD'03 —
    * public algorithm): rolling window minima over character k-gram
    * hashes. Adds `fingerprints` (array<long>, the selected hashes) and
    * `doc_fp` (a single stable digest). */
  def withFingerprints(df: DataFrame, textCol: String = "text",
      k: Int = 8, window: Int = 4): DataFrame = {
    val text = col(textCol)
    val grams = transform(
      sequence(lit(1), greatest(length(text) - (k - 1), lit(1))),
      i => xxhash64(text.substr(i, lit(k))))
    // The gram array MUST be materialized as its own column before the
    // sliding-window pass: referencing the `grams` expression inside the
    // window lambda would re-evaluate the entire O(L) hash array at
    // every window position — O(L²) per document (observed: minutes vs
    // sub-second on 300-char docs; HOFs evaluate interpreted).
    // CollapseProject keeps the split because `__grams` is non-cheap and
    // referenced twice below.
    val winMins = transform(
      sequence(lit(1), greatest(size(col("__grams")) - (window - 1), lit(1))),
      j => array_min(slice(col("__grams"), j, lit(window))))
    df.withColumn("__grams", grams)
      .withColumn("fingerprints", array_distinct(winMins))
      .withColumn("doc_fp",
        xxhash64(concat_ws(",", transform(array_sort(col("fingerprints")),
          _.cast("string")))))
      .drop("__grams")
  }

  /** ALL word n-grams of a token-array column, duplicates preserved —
    * the counting companion to `Dedup.shinglesFromTokens` (which
    * distincts for set-jaccard). Whole text as one gram when shorter
    * than `n` tokens. */
  def ngramsAll(toks: Column, n: Int): Column =
    transform(
      sequence(lit(1), greatest(size(toks) - (n - 1), lit(1))),
      i => concat_ws(" ", slice(toks, i, lit(n))))

  /** Corpus-wide top-K token frequencies — the counting step every
    * vocabulary / BPE-training pipeline starts with (Sennrich et al.
    * '16 count-then-merge; the merge loop is driver-side and tiny, the
    * count is the 100 TB part).
    *
    * Shape at 100 TB: explode → ONE hash aggregation with map-side
    * partial counts (the shuffle carries one row per distinct token per
    * partition, not per occurrence) → `TakeOrderedAndProject` for the
    * top-K (per-partition bounded heaps, no global sort). Ties broken
    * by token ascending so the result is deterministic. */
  def vocabTopK(df: DataFrame, textCol: String, k: Int): DataFrame =
    df.select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(k)

  /** One round of BPE merge-candidate statistics (Sennrich et al. '16,
    * public paper — the vocabulary-induction counting step every
    * tokenizer fit runs): the corpus-weighted count of every adjacent
    * character pair, top `k` by count (the k best merge candidates).
    *
    * The scale trick is the one production BPE trainers use: pairs are
    * NOT counted over token occurrences. The corpus collapses to the
    * distinct-word frequency table first (the only corpus-sized
    * shuffle, partial-aggregated), and the character-pair explode runs
    * over DISTINCT words only, weighting each pair by the word's
    * frequency — vocabulary-bounded work however many trillions of
    * token occurrences the corpus holds. The final top-k is
    * TakeOrderedAndProject (per-partition heaps); ties break by pair
    * ascending so the candidate list is deterministic. A word of
    * length L contributes its L−1 overlapping pairs, each counted
    * with multiplicity ("aaa" → "aa" twice). */
  def bpePairCounts(df: DataFrame, textCol: String, k: Int): DataFrame =
    df.select(explode(tokens(col(textCol))).as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__freq"))
      .filter(length(col("__w")) >= 2)
      .select(col("__freq"), explode(expr(
        "transform(sequence(1, length(__w) - 1), i -> substring(__w, i, 2))"))
        .as("pair"))
      .groupBy("pair").agg(sum(col("__freq")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(k)

  /** Guarded symbol encoding of one word — every char wrapped `{c}` —
    * with the loud-failure guard shared by the trainer and the
    * tokenizer apply: a token containing `{`/`}` would collide with
    * the guard encoding, and one containing `$`/`\` would be read by
    * Spark's Java-regex regexp_replace REPLACEMENT as a group
    * reference/escape while DuckDB's plain replace() treats it
    * literally — silently breaking the cross-engine replace
    * equivalence the whole design relies on. Both fail the run
    * (raise_error) rather than miscount; the documented corpus
    * alphabet is `[a-z0-9 .,!?]`, so neither fires on real fixtures. */
  private def guardedSyms(w: Column, op: String): Column =
    when(w.rlike("[{}$\\\\]"),
        raise_error(concat(
          lit(s"$op: guard or replacement metacharacter in token: "), w)))
      .otherwise(regexp_replace(w, "(.)", "{$1}"))

  /** The full BPE merge LOOP (Sennrich '16): `merges` rounds of
    * count → argmax → merge over the distinct-word frequency table,
    * returning the learned merge table (rank, left_sym, right_sym,
    * merged, cnt) — the artifact a tokenizer fit ships.
    *
    * This is the production trainer's shape end to end: the corpus
    * collapses ONCE to word frequencies (the only corpus-sized
    * shuffle); every round's pair count explodes over distinct words
    * weighted by frequency (vocabulary-bounded); the argmax is a
    * bounded `TakeOrderedAndProject` collect (ties: count desc, then
    * pair ascending); and the merge itself is a map-only rewrite of
    * the word table. At 100 TB the merge table is then broadcast to
    * tokenize the corpus — the loop's cost never depends on token
    * occurrences, only on vocabulary size × rounds.
    *
    * Words are carried in the [[guardedSyms]] encoding, which makes
    * the merge a plain string replace of `{l}{r}` with `{lr}`:
    * greedy, left-to-right, non-overlapping in BOTH engines (java
    * replaceAll ≡ DuckDB replace), i.e. exactly BPE's merge rule
    * ("aaaa" + (a,a) → "{aa}{aa}"). See [[bpeTrainWithRounds]] for
    * the `batch` contract. */
  def bpeTrain(df: DataFrame, textCol: String, merges: Int,
      batch: Int = 1): DataFrame =
    bpeTrainWithRounds(df, textCol, merges, batch)._1

  /** [[bpeTrain]] plus the number of count→select→rewrite ROUNDS it
    * ran — the cost driver a caller sizing a tokenizer fit cares
    * about (each round is one Spark job over the word table; the
    * merge count alone hides the batching win).
    *
    * `batch = 1` (the default, and what the registered
    * `doc_bpe_merges` oracle pins) is exact classic BPE: one argmax,
    * one merge, one rewrite per round. `batch > 1` is the standard
    * batched approximation a tokenizer-scale fit needs — thousands of
    * sequential 1-merge jobs is the round-13 review's scale gap —
    * selecting per round, in (cnt DESC, l ASC, r ASC) order, up to
    * `batch` candidates whose symbols are MUTUALLY DISJOINT (a pair
    * touching an already-selected symbol is deferred to a later
    * round, because applying the earlier merge changes its count),
    * then applying them in selection order as one chained map-only
    * rewrite. Ranks record that same order, so the merge table stays
    * an ordered learned artifact. Divergence contract: disjointness
    * keeps every selected pair's round-start count exact, but a pair
    * CREATED by an earlier merge in the same round only becomes
    * visible next round — so a batched table can order ties/near-ties
    * differently than batch = 1 where a mid-round recount would have
    * promoted a new pair; TextAnalysisSpec pins both the equivalence
    * on a disjoint-pair corpus and the ≤-rounds batching win. */
  def bpeTrainWithRounds(df: DataFrame, textCol: String, merges: Int,
      batch: Int = 1): (DataFrame, Int) = {
    val spark = df.sparkSession
    import spark.implicits._
    require(merges >= 1, s"merges must be positive, got $merges")
    require(batch >= 1, s"batch must be positive, got $batch")
    var words = df
      .select(explode(tokens(col(textCol))).as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__freq"))
      .select(guardedSyms(col("__w"), "bpeTrain").as("__s"), col("__freq"))
    val out = Seq.newBuilder[(Long, String, String, String, Long)]
    var learned = 0
    var rounds = 0
    var exhausted = false
    // round r's cached word table feeds round r+1's rewrite; once the
    // NEXT round's candidate collect has materialized the rewritten
    // table, the superseded frame is dead weight — freed here so
    // storage stays one word-table wide however many merge rounds run
    // (a thousands-round vocabulary induction would otherwise pin
    // every generation)
    var prevCached: DataFrame = null
    while (learned < merges && !exhausted) {
      val take = math.min(batch, merges - learned)
      val cached = Caching.persist(words)
      // over-collect 4× the batch (bounded driver state): candidates
      // skipped for symbol overlap still leave enough to fill the
      // round in the common case; anything beyond waits a round
      val cands = cached
        .withColumn("__a",
          split(expr("substring(__s, 2, length(__s) - 2)"), "\\}\\{"))
        .filter(size(col("__a")) >= 2)
        .select(col("__freq"), explode(expr(
          "transform(sequence(1, size(__a) - 1), " +
            "i -> struct(element_at(__a, i) AS l, element_at(__a, i + 1) AS r))"))
          .as("__p"))
        .groupBy(col("__p.l").as("__l"), col("__p.r").as("__r"))
        .agg(sum(col("__freq")).as("__cnt"))
        .orderBy(col("__cnt").desc, col("__l").asc, col("__r").asc)
        .limit(math.max(4 * take, 16)).collect()
      // this round's collect has materialized `cached`; the previous
      // generation can go
      if (prevCached != null) prevCached.unpersist(false)
      prevCached = cached
      if (cands.isEmpty) exhausted = true
      else {
        rounds += 1
        val touched = scala.collection.mutable.Set.empty[String]
        val selected = Vector.newBuilder[(String, String, Long)]
        var n = 0
        cands.foreach { row =>
          val (l, rr) = (row.getString(0), row.getString(1))
          if (n < take && !touched(l) && !touched(rr)) {
            selected += ((l, rr, row.getLong(2)))
            touched += l; touched += rr
            n += 1
          }
        }
        val sel = selected.result()
        sel.foreach { case (l, rr, cnt) =>
          learned += 1
          out += ((learned.toLong, l, rr, l + rr, cnt))
        }
        // one chained map-only rewrite applies the round's merges in
        // selection order (disjoint symbols ⇒ order within the round
        // cannot change the result, but learned order is the contract)
        words = cached.select(
          sel.foldLeft(col("__s")) { case (c, (l, rr, _)) =>
            regexp_replace(c,
              lit(java.util.regex.Pattern.quote(s"{$l}{$rr}")),
              lit(s"{$l$rr}"))
          }.as("__s"),
          col("__freq"))
      }
    }
    // the merge table is fully collected into `out`; the last round's
    // cached word table is dead weight — without this, every
    // bpeTrain/bpeTokenCounts call leaked one persisted frame for the
    // session lifetime, contrary to the one-word-table-wide contract
    if (prevCached != null) prevCached.unpersist(false)
    (out.result().toDF("rank", "left_sym", "right_sym", "merged", "cnt"),
      rounds)
  }

  /** The tokenizer APPLY step: per-document token counts under the
    * merge table [[bpeTrain]] learns — the number a token-budget
    * accountant actually needs (how many BPE tokens will this corpus
    * cost after fitting?). The merge table is collected (`merges`
    * rows, bounded driver state) and compiled into a chain of `merges`
    * replace expressions applied IN LEARNED ORDER to every guarded
    * word — at 100 TB this is one map-only codegen'd scan; nothing
    * shuffles except the final per-doc count rollup. */
  def bpeTokenCounts(df: DataFrame, idCol: String, textCol: String,
      merges: Int, batch: Int = 1): DataFrame = {
    // `batch` passes through to the trainer (see [[bpeTrainWithRounds]]
    // for the contract); the apply chain below is identical either way
    // — it replays whatever merge table the fit produced, in rank order
    val table = bpeTrain(df, textCol, merges, batch = batch).orderBy("rank")
      .select("left_sym", "right_sym").collect()
    // same metacharacter guard as the trainer: the corpus being
    // TOKENIZED may contain words the training corpus never saw
    val guarded = guardedSyms(col("__w"), "bpeTokenCounts")
    val applied = table.foldLeft(guarded) { (c, row) =>
      val (l, r) = (row.getString(0), row.getString(1))
      regexp_replace(c,
        lit(java.util.regex.Pattern.quote(s"{$l}{$r}")), lit(s"{$l$r}"))
    }
    df.select(col(idCol), explode(tokens(col(textCol))).as("__w"))
      .withColumn("__s", applied)
      .withColumn("__n",
        size(split(expr("substring(__s, 2, length(__s) - 2)"), "\\}\\{"))
          .cast("long"))
      .groupBy(idCol)
      .agg(sum(col("__n")).as("n_bpe_tokens"))
  }

  /** The DISTINCT (doc, n-gram) frame both corpus-level gram statistics
    * ([[duplicatedPassageStats]], [[noveltyStats]]) aggregate over —
    * one shared construction so the gram rule (including the
    * shorter-than-n whole-text gram from [[ngramsAll]]) cannot diverge
    * between them. Output columns: (idCol, `__g`). */
  private def distinctDocGrams(df: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = df
    .select(col(idCol), tokens(col(textCol)).as("__toks"))
    .select(col(idCol), explode(ngramsAll(col("__toks"), n)).as("__g"))
    .distinct()

  /** RefinedWeb-style duplicated-passage signals (Penedo et al. '23
    * §3.2, public paper): for each document, how many of its distinct
    * word n-gram "passages" also occur in at least one OTHER document.
    * High `n_dup`/`n_passages` marks boilerplate shared across pages
    * (headers, license blocks, templates) that exact-dedup misses.
    *
    * Shape at 100 TB: explode → distinct (doc, gram) via a partial-agg
    * groupBy; gram document-frequency via a second partial-agg groupBy
    * (one row per distinct gram); an equi-join back on gram — both
    * sides are already hash-partitioned by gram from their aggregates,
    * so AQE reuses the exchange; final per-doc rollup. Counts are
    * emitted as longs (no ratio doubles) so the result hashes
    * identically cross-engine. */
  def duplicatedPassageStats(df: DataFrame, idCol: String,
      textCol: String, n: Int = 3): DataFrame = {
    val docGrams = distinctDocGrams(df, idCol, textCol, n)
    val gramDf = docGrams.groupBy("__g")
      .agg(count(lit(1)).as("__df"))
    docGrams.join(gramDf, "__g")
      .groupBy(col(idCol)).agg(
        count(lit(1)).as("n_passages"),
        sum(when(col("__df") >= 2, 1L).otherwise(0L)).as("n_dup"))
  }

  /** First-seen n-gram novelty (the incremental-crawl ordering signal):
    * for each document, how many of its distinct word n-grams appear in
    * NO lower-id document — i.e. the corpus is processed in id order
    * and a gram is "novel" only for the document that introduces it.
    * Low `n_novel`/`n_grams` marks late near-copies of earlier content,
    * the snapshot-over-snapshot redundancy a CommonCrawl-style pipeline
    * drops before training.
    *
    * Shape at 100 TB: explode → distinct (doc, gram) partial-agg
    * groupBy; first-seen via a `min(id)` partial-agg groupBy (one row
    * per distinct gram — the same shape as document frequency in
    * [[duplicatedPassageStats]], with min instead of count); equi-join
    * back on gram (both sides already hash-partitioned by gram, AQE
    * reuses the exchange); final per-doc rollup. Counts emitted as
    * longs so the result hashes identically cross-engine. */
  def noveltyStats(df: DataFrame, idCol: String,
      textCol: String, n: Int = 3): DataFrame = {
    val docGrams = distinctDocGrams(df, idCol, textCol, n)
    val firstSeen = docGrams.groupBy("__g")
      .agg(min(col(idCol)).as("__first"))
    docGrams.join(firstSeen, "__g")
      .groupBy(col(idCol)).agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("__first") === col(idCol), 1L).otherwise(0L)).as("n_novel"))
  }

  /** Exact-substring duplicated SPANS (Lee et al. '21 "Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499
    * §4.1, public paper — there found via a suffix array over the
    * concatenated corpus; this is the distributed fixed-window
    * equivalent): every length-`n` token window that also occurs in at
    * least one OTHER document marks its start position as covered, and
    * maximal runs of consecutive covered positions merge into the
    * maximal cross-document duplicated spans. Where
    * [[duplicatedPassageStats]] counts shared grams and
    * [[segmentDedup]] judges fixed non-overlapping segments, this
    * recovers the BOUNDARIES — span start and token length — of each
    * duplicated region, the unit an ExactSubstr-style pipeline cuts
    * out of training text (the paper removes spans ≥ 50 tokens; the
    * caller thresholds on `span_tokens`). A window repeated only
    * WITHIN one document is not "duplicated" here (document frequency
    * counts distinct docs), matching the paper's cross-example target.
    *
    * Soundness of the merge: windows at consecutive starts i, i+1
    * overlap in n−1 tokens, so a run of shared starts i..j certifies
    * every token in [i, j+n) lies inside SOME cross-doc duplicate of
    * ≥ n tokens; conversely a duplicated region of length L ≥ n covers
    * exactly its L−n+1 window starts, so the run reconstructs maximal
    * regions exactly (no over- or under-merge).
    *
    * Shape at 100 TB: positional explode (one row per window start) →
    * distinct (doc, window) partial-agg groupBy → window document
    * frequency (one row per distinct window text) → equi-join back on
    * the window key (both sides hash-partitioned by it, AQE reuses the
    * exchange) → the gaps-and-islands window PARTITIONED BY document
    * (per-doc sort of ≤ len−n+1 covered positions — never a global
    * sort) → per-(doc, run) rollup, which reuses the doc partitioning
    * the window just established. Returns one row per maximal span:
    * (idCol, span_start, n_windows, span_tokens), span_start 0-based
    * in tokens. Documents shorter than `n` tokens have no windows and
    * emit nothing. */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame =
    duplicatedSpansFromToks(
      df.select(col(idCol), tokens(col(textCol)).as("__toks")), idCol, n)

  /** [[duplicatedSpans]] over a pre-tokenized `(idCol, __toks)` frame —
    * the factoring that lets [[removeDuplicatedSpans]] tokenize the
    * corpus ONCE (cached) for both its span derivation and its token-
    * position side instead of re-running the tokenizer per consumer
    * (r20, guide §2.3: one corpus scan, not two). */
  private def duplicatedSpansFromToks(toksDf: DataFrame, idCol: String,
      n: Int): DataFrame = {
    require(n >= 1, "window width must be at least 1 token")
    import org.apache.spark.sql.expressions.Window
    val wins = toksDf
      .filter(size(col("__toks")) >= n)
      .select(col(idCol), posexplode(expr(
        s"""transform(sequence(0, size(__toks) - $n),
           |  i -> array_join(slice(__toks, i + 1, $n), ' '))"""
          .stripMargin)).as(Seq("__i", "__w")))
    // document frequency via distinct-then-count (two partial-agg
    // stages), never a one-stage count-distinct on a skewable text key
    val winDf = wins.select(col(idCol), col("__w")).distinct()
      .groupBy("__w").agg(count(lit(1)).as("__df"))
    val shared = wins.join(winDf, "__w")
      .filter(col("__df") >= 2L)
      .select(col(idCol), col("__i"))
    // gaps-and-islands: consecutive covered starts share (i − rank)
    val run = col("__i") - row_number()
      .over(Window.partitionBy(col(idCol)).orderBy(col("__i")))
    shared.withColumn("__run", run)
      .groupBy(col(idCol), col("__run"))
      .agg(
        min(col("__i")).cast(LongType).as("span_start"),
        count(lit(1)).as("n_windows"),
        (max(col("__i")) - min(col("__i")) + n).cast(LongType)
          .as("span_tokens"))
      .select(col(idCol), col("span_start"), col("n_windows"),
        col("span_tokens"))
  }

  /** WordPiece-style tokenization by GREEDY LONGEST MATCH (Wu et al.
    * '16, arXiv:1609.08144 §4.1 — the BERT tokenizer's inference
    * rule, public): fit a piece vocabulary (the `vocabSize` most
    * frequent substrings of length 2..`maxPieceLen` across the
    * corpus, occurrences weighted by word frequency; single
    * characters are always available as the fallback, outside the
    * learned budget — the unk→char convention), then tokenize every
    * word left to right, at each position consuming the LONGEST
    * vocabulary piece that matches (else one character). Completes
    * the tokenizer family: BPE learns merges bottom-up
    * ([[bpeTrain]]/[[bpeTokenCounts]]), this segments top-down
    * against a fixed vocabulary — the two dominant subword inference
    * rules, both now oracle-pinned.
    *
    * Everything is deterministic: the vocabulary cut is a total
    * (count DESC, piece ASC) order; the longest match is unique by
    * maximality. Returns (idCol, n_wp_tokens).
    *
    * Shape at 100 TB: the fit aggregates over DISTINCT words
    * (vocabulary-bounded by Heaps' law, not corpus-bounded) and
    * collects `vocabSize` rows to the driver (the
    * [[bpeTokenCounts]]/fitCentroids bounded-fit protocol); the jump
    * table (word, position) → longest-match length is one map-only
    * pass over the distinct-word grid against the literal vocabulary
    * array; the tokenize walk POINTER-DOUBLES the jump table —
    * composing jump^(2^i) with itself over the (word, position) grid
    * — so the whole corpus tokenizes in ⌈log₂ max word length⌉
    * self-join rounds (a 1-row bounded driver agg picks the horizon)
    * instead of the round-17 O(max word length) cursor loop: a
    * pathological 300-char token is 9 rounds, not 300 jobs. Each
    * round is one equi-join on the grid, checkpointed on [[Rounds]];
    * steps saturate at word end, so the final table read at position 0
    * IS the per-word token count.
    * The per-document rollup joins words to their counts — one
    * shuffle on the word key, partial-aggregated. */
  def wordpieceTokenCounts(df: DataFrame, idCol: String, textCol: String,
      vocabSize: Int = 48, maxPieceLen: Int = 4): DataFrame = {
    require(maxPieceLen >= 2, s"maxPieceLen must be >= 2, got $maxPieceLen")
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    val words = df.select(col(idCol), explode(tokens(col(textCol))).as("__w"))
    val wf = words.groupBy("__w").agg(count(lit(1)).as("__freq"))
    // piece candidates: every substring of length 2..maxPieceLen of
    // every distinct word, weighted by the word's corpus frequency
    val pieces = wf
      .select(col("__freq"), explode(expr(
        s"""flatten(transform(sequence(2, $maxPieceLen), l ->
           |  slice(transform(sequence(1, greatest(length(__w) - l + 1, 1)),
           |    i -> substring(__w, i, l)),
           |  1, greatest(length(__w) - l + 1, 0))))""".stripMargin))
        .as("__p"))
      .groupBy("__p").agg(sum(col("__freq")).as("__cnt"))
    val vocabPieces = pieces
      .orderBy(col("__cnt").desc, col("__p").asc).limit(vocabSize)
      .select("__p").collect().map(_.getString(0)).toSeq
    // a token-free corpus (or an all-1-char one with no 2+-substrings)
    // must short-circuit: max(length) over zero words is NULL, and an
    // empty array() literal is ARRAY<NULL> which array_contains rejects
    if (vocabPieces.isEmpty && wf.isEmpty) {
      return df.sparkSession.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          df.schema(idCol),
          org.apache.spark.sql.types.StructField("n_wp_tokens",
            org.apache.spark.sql.types.LongType))))
    }
    val vocabLit =
      if (vocabPieces.isEmpty) lit(Array.empty[String])
      else array(vocabPieces.map(lit): _*)
    // jump table over the distinct-word position grid: the longest
    // vocabulary match at each cursor, else 1 (the char fallback)
    val jump = wf
      .select(col("__w"), length(col("__w")).as("__len"))
      .withColumn("__pos", explode(sequence(lit(0), col("__len") - 1)))
      .withColumn("__vv", vocabLit)
      .withColumn("__best", coalesce(array_max(filter(
        expr(s"""transform(sequence(2, $maxPieceLen), l ->
                |  CASE WHEN __pos + l <= __len
                |    AND array_contains(__vv, substring(__w, __pos + 1, l))
                |  THEN l END)""".stripMargin),
        x => x.isNotNull)), lit(1)))
      .select(col("__w"), col("__len"), col("__pos"),
        (col("__pos") + col("__best")).as("__next"))
    val maxLen = wf.agg(max(length(col("__w")))).head().getInt(0)
    // pointer-doubling walk: tbl holds, for every grid position, the
    // landing position and step count of min(2^i, steps-to-end)
    // jumps. Every grid position starts one jump ahead (__steps = 1;
    // positions ≥ len have no row — a composition lookup that misses
    // is a saturated cursor and composes as the identity with 0
    // steps). After ⌈log₂ maxLen⌉ squarings 2^i ≥ maxLen ≥ every
    // word's jump count, so the row at position 0 carries the word's
    // exact total token count.
    val squarings = Iterator.iterate(1L)(_ * 2).takeWhile(_ < maxLen).size
    Rounds(df.sparkSession) { loop =>
      val seed = loop.checkpoint(jump
        .select(col("__w"), col("__len"), col("__pos"), col("__next"),
          lit(1L).as("__steps")))
      val tbl = loop.rounds("wordpieceTokenCounts", squarings, seed)(
          Rounds.never) { (prev, _) =>
        loop.checkpoint(prev.as("a")
          .join(prev.as("b").select(col("__w").as("__bw"),
              col("__pos").as("__bpos"), col("__next").as("__bnext"),
              col("__steps").as("__bsteps")),
            col("a.__w") === col("__bw") && col("a.__next") === col("__bpos"),
            "left")
          .select(col("a.__w").as("__w"), col("a.__len").as("__len"),
            col("a.__pos").as("__pos"),
            coalesce(col("__bnext"), col("a.__next")).as("__next"),
            (col("a.__steps") + coalesce(col("__bsteps"), lit(0L)))
              .as("__steps")))
      }.state
      val counts = tbl.filter(col("__pos") === 0)
        .select(col("__w"), col("__steps").as("__cnt"))
      words.join(counts, Seq("__w"))
        .groupBy(col(idCol)).agg(sum(col("__cnt")).as("n_wp_tokens"))
    }
  }

  /** The ExactSubstr EDIT step (Lee et al. '21 §4.1's ExactSubstrDedup
    * transformation): cut every token covered by a cross-document
    * duplicated span of at least `minSpanTokens` tokens
    * ([[duplicatedSpans]] with the paper's length threshold — there 50
    * BPE tokens; the knob is the caller's) and reassemble the
    * surviving tokens in order. Spans SHORTER than the threshold stay:
    * short shared n-grams are ordinary language, and cutting them is
    * exactly the over-deletion the paper's threshold exists to avoid.
    * Complements [[segmentDedup]] (fixed non-overlapping grid, df > 1
    * on the segment text) with the paper's maximal-region semantics:
    * a duplicated region is removed WHEREVER it starts, not only when
    * it happens to align to a grid.
    *
    * Shape at 100 TB: [[duplicatedSpans]]'s chain (positional explode,
    * window df, equi-join, per-doc islands window), plus one bounded
    * explode of qualifying spans into their covered positions (≤ doc
    * length rows per doc), a LEFT ANTI join of token positions against
    * covered positions on (doc, pos) — both sides hash-partitioned by
    * doc — and the same collect-and-sort-within-one-row reassembly as
    * [[segmentDedup]] (array_sort over ≤ len structs; no global
    * sort). Returns (idCol, n_tokens, n_removed, text_kept) for every
    * document with ≥ 1 token; `text_kept` is NULL when the whole
    * document was duplicated mass (the row survives so the caller
    * sees what was dropped — the segmentDedup contract). */
  def removeDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, minSpanTokens: Int = 5): DataFrame = {
    require(minSpanTokens >= n,
      s"minSpanTokens=$minSpanTokens must be >= the window width n=$n " +
        "(no span shorter than one window exists)")
    // tokenized ONCE, cached: the span derivation, the token-position
    // side, and the final right-join each consume it — re-deriving
    // meant three tokenizer passes over the raw corpus (r20; the
    // cached frame is ~the tokenized text, the minhashNearDuplicates
    // shingle-set persist contract)
    val toks = Caching.persist(df
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) > 0))
    val pos = toks.select(col(idCol),
      posexplode(col("__toks")).as(Seq("__p", "__tok")))
    // qualifying spans → covered positions [start, start+len)
    // adjacent maximal spans (separated by one unshared START) can
    // still overlap in covered TOKENS when n ≥ 3; no distinct needed —
    // an anti join is multiplicity-insensitive on its right side
    val covered = duplicatedSpansFromToks(toks, idCol, n)
      .filter(col("span_tokens") >= minSpanTokens)
      .select(col(idCol), explode(sequence(col("span_start"),
        col("span_start") + col("span_tokens") - 1)).as("__p"))
    pos.join(covered, Seq(idCol, "__p"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("__n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("__p"), col("__tok")))),
          x => x.getField("__tok"))).as("__kept"))
      .join(toks.select(col(idCol), size(col("__toks")).cast(LongType)
        .as("n_tokens")), Seq(idCol), "right")
      .select(col(idCol), col("n_tokens"),
        (col("n_tokens") - coalesce(col("__n_kept"), lit(0L)))
          .as("n_removed"),
        when(coalesce(col("__n_kept"), lit(0L)) === 0L, lit(null))
          .otherwise(col("__kept")).as("text_kept"))
  }

  /** CCNet-style corpus-level duplicated-segment removal (Wenzek et
    * al. '19 §4.1, public paper — there applied to lines; this corpus
    * is newline-free, so the unit is the fixed-width `n`-token
    * segment): split each document into consecutive non-overlapping
    * n-token segments, drop every segment whose text occurs in MORE
    * than one document (boilerplate/template mass), and reassemble the
    * surviving segments in their original order. Unlike document-level
    * dedup this EDITS documents, removing shared headers/footers while
    * keeping the unique prose around them.
    *
    * Shape at 100 TB: explode (one row per segment) → distinct
    * (doc, seg) partial-agg groupBy → segment document-frequency
    * groupBy (one row per distinct segment) → equi-join back on the
    * segment key (both sides hash-partitioned by segment from their
    * aggregates, AQE reuses the exchange) → per-doc rollup whose
    * reassembly sorts only the ≤ ⌈len/n⌉ segments WITHIN one row
    * (array_sort over a collected list — no window, no global sort).
    * Same inverted-index join shape as [[duplicatedPassageStats]]; the
    * df side could also broadcast when the duplicated-segment set is
    * small.
    *
    * Returns (idCol, n_segments, n_kept, text_kept); `text_kept` is
    * NULL when every segment was shared (fully-boilerplate doc), the
    * row is retained so the caller sees what was dropped. Documents
    * with no tokens are dropped (no segments to judge — same contract
    * as [[chunkTokens]]). */
  def segmentDedup(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    require(n >= 1, "segment width must be at least 1 token")
    val segs = df
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) > 0)
      .select(col(idCol), posexplode(expr(
        s"""transform(sequence(0, (size(__toks) - 1) div $n),
           |  i -> array_join(slice(__toks, i * $n + 1, $n), ' '))"""
          .stripMargin)).as(Seq("__seg_idx", "__seg")))
    // document frequency via distinct-then-count (two partial-agg
    // stages), never a one-stage count-distinct on a skewable text key
    val segDf = segs.select(col(idCol), col("__seg")).distinct()
      .groupBy("__seg").agg(count(lit(1)).as("__df"))
    segs.join(segDf, "__seg")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_segments"),
        sum(when(col("__df") === 1L, 1L).otherwise(0L)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(
            when(col("__df") === 1L, struct(col("__seg_idx"), col("__seg"))))),
          x => x.getField("__seg"))).as("__kept"))
      .select(col(idCol), col("n_segments"), col("n_kept"),
        when(col("n_kept") === 0L, lit(null))
          .otherwise(col("__kept")).as("text_kept"))
  }

  /** Gopher-style repetition signals (Rae et al. '21 §A1.1, public
    * paper): documents dominated by a few repeated n-grams are
    * boilerplate/spam, and the filter rule is a threshold on
    *  - `dup_ngram_frac`  — fraction of n-gram OCCURRENCES that are
    *    repeats of an earlier occurrence (1 − distinct/total), and
    *  - `top_ngram_frac`  — share of occurrences taken by the single
    *    most frequent n-gram.
    *
    * Shape at 100 TB: one explode + two hash aggregations, BOTH with
    * map-side partial aggregation — the shuffle after the explode
    * carries one row per DISTINCT (doc, gram), not per occurrence, and
    * the second aggregation carries one row per doc. No windows, no
    * sorts. Returns (idCol, n_ngrams, dup_ngram_frac, top_ngram_frac). */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String,
      n: Int = 2): DataFrame = {
    val grams = df
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol), explode(ngramsAll(col("__toks"), n)).as("__g"))
    grams
      .groupBy(col(idCol), col("__g")).agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol)).agg(
        sum(col("__c")).as("n_ngrams"),
        (lit(1.0) - count(lit(1)).cast(DoubleType) /
          sum(col("__c")).cast(DoubleType)).as("dup_ngram_frac"),
        (max(col("__c")).cast(DoubleType) /
          sum(col("__c")).cast(DoubleType)).as("top_ngram_frac"))
  }

  /** BM25 ranked retrieval of the top `k` documents for a bag of query
    * `terms` (Robertson/Sparck Jones; the Okapi weighting every search
    * stack ships). One divergence, chosen deliberately: the idf factor
    * is the RAW Robertson odds ratio `(N − df + ½)/(df + ½)` without
    * the log — every arithmetic step is then +,·,/ on IEEE doubles in
    * a fixed tree, so Spark and the DuckDB oracle produce bit-equal
    * scores (`ln` has no cross-engine bit contract). The ranking is
    * term-monotone exactly like log-BM25 (log is monotone), differing
    * only in how multi-term scores blend.
    *
    * Scale shape: per-term tf counts are map-side array filters over
    * the token array (materialized ONCE, not per term); corpus stats
    * (N, Σdl, per-term df) are ONE partial-agg pass broadcast back
    * onto the scan; the final top-k is TakeOrderedAndProject (per-
    * partition heaps, k rows to the driver — never a global sort). */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25TopK needs at least one query term")
    val base = df.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .withColumn("__dl", size(col("__toks")))
      .select(col(idCol) +: col("__dl") +: terms.indices.map(i =>
        size(filter(col("__toks"), w => w === lit(terms(i)))).as(s"__tf$i")): _*)
    bm25Rank(base, idCol, terms.length, k, k1, b)
  }

  /** The BM25 scoring tail shared by the scan path ([[bm25TopK]]) and
    * the index path ([[bm25TopKFromIndex]]): ONE expression tree over
    * a `(idCol, __dl, __tf0..__tfN-1)` frame, so the two paths are
    * bit-equal by construction, not by parallel maintenance. Stats
    * (N, Σdl, per-term df) are one partial-agg pass broadcast back;
    * the final top-k is TakeOrderedAndProject. */
  private def bm25Rank(base: DataFrame, idCol: String, nTerms: Int,
      k: Int, k1: Double, b: Double): DataFrame = {
    val stats = base.agg(count(lit(1)).as("__n"),
      sum(col("__dl")).as("__sdl") +: (0 until nTerms).map(i =>
        sum(when(col(s"__tf$i") > 0, 1L).otherwise(0L)).as(s"__df$i")): _*)
    val avgdl = col("__sdl").cast(DoubleType) / col("__n")
    val score = (0 until nTerms).map { i =>
      val idf = (col("__n") - col(s"__df$i") + lit(0.5)) / (col(s"__df$i") + lit(0.5))
      val num = col(s"__tf$i") * (lit(k1) + lit(1.0))
      val den = col(s"__tf$i") +
        lit(k1) * (lit(1.0) - lit(b) + lit(b) * (col("__dl") / avgdl))
      idf * (num / den)
    }.reduce(_ + _)
    base.crossJoin(broadcast(stats))
      .select(col(idCol), score.as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** The postings side of a text index: one row per (doc, token) with
    * its term frequency — what [[bm25TopKFromIndex]] seeks into and
    * the unit [[graft.operators.Cdc.applyChangesGrouped]] maintains
    * under a document change feed (the text sibling of the
    * incremental-IVF freshness story). Map-side explode + one
    * (doc, token) partial-agg shuffle; at lake scale, bucket the
    * output by token so query-term seeks prune. */
  def tokenIndex(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))

  /** Per-document token count — the second, tiny state frame of the
    * text index, kept separate from the postings so ZERO-token
    * documents still count into N and Σdl (they have no posting row
    * but BM25's stats are corpus-wide). */
  def docLengths(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), size(tokens(col(textCol))).as("dl"))

  /** BM25 over a MAINTAINED index instead of a corpus scan: per-term
    * tf via one seek into the postings (filter on the query terms —
    * token-bucketed layout makes it pruning at scale) pivoted to the
    * [[bm25Rank]] frame shape, lengths supplying dl and corpus
    * membership. Bit-equal to [[bm25TopK]] over the same corpus — the
    * shared scoring tail plus exact integer tf/df/dl make the doubles
    * identical, which is what doc_bm25_incremental's oracle (a
    * scratch recompute over the merged corpus) pins through the
    * incremental maintenance path. */
  def bm25TopKFromIndex(postings: DataFrame, lengths: DataFrame,
      idCol: String, terms: Seq[String], k: Int, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25TopKFromIndex needs at least one query term")
    val hits = postings.filter(col("token").isin(terms: _*))
      .groupBy(col(idCol))
      .agg(sum(when(col("token") === terms.head, col("tf")).otherwise(0L))
          .as("__tf0"),
        terms.indices.tail.map(i =>
          sum(when(col("token") === terms(i), col("tf")).otherwise(0L))
            .as(s"__tf$i")): _*)
    val base = lengths.select(col(idCol), col("dl").as("__dl"))
      .join(hits, Seq(idCol), "left")
      .na.fill(0L, terms.indices.map(i => s"__tf$i"))
    bm25Rank(base, idCol, terms.length, k, k1, b)
  }

  /** Fixed-size overlapping token chunks — training-sample prep
    * (context-window packing input). A chunk starts every `stride`
    * tokens while any token remains; the last chunk may be short.
    *
    * Scale shape: map-only — tokenize once, explode the start index
    * sequence, slice. No shuffle; output size ≈ input × (chunkSize /
    * stride), and filter/projection pushdown on the scan is intact.
    * Empty documents yield zero chunks. */
  def chunkTokens(df: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize,
      s"need 0 < stride <= chunkSize, got chunkSize=$chunkSize stride=$stride")
    df.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .withColumn("__n", size(col("__toks")).cast(LongType))
      .filter(col("__n") > 0)
      .select(col(idCol), col("__toks"),
        explode(sequence(lit(0L),
          ((col("__n") - 1L) / lit(stride.toLong)).cast(LongType))).as("chunk_id"))
      .select(col(idCol), col("chunk_id"),
        slice(col("__toks"), (col("chunk_id") * stride + 1).cast("int"), lit(chunkSize))
          .as("__chunk"))
      .select(col(idCol), col("chunk_id"),
        size(col("__chunk")).cast(LongType).as("n_chunk_tokens"),
        array_join(col("__chunk"), " ").as("chunk_text"))
  }

  /** Count-min-sketch token counts, relationally: the sketch is the
    * `depth × width` table of (row, bucket) → total — a FIXED-SIZE
    * frame regardless of corpus size — and the per-token estimate is
    * `min` over the `depth` bucket totals the token hashes into
    * (Kirsch–Mitzenmacher double hashing off one xxhash64:
    * `bucket_r = (h_lo32 + r·h_hi32) mod width`). Output per distinct
    * token: (token, cnt exact, est sketch) — `est >= cnt` always, with
    * overshoot exactly the collision mass, so the cross-engine hash
    * match pins the entire sketch, not a bound.
    *
    * Spark-first shape: NO custom UDAF — the sketch build is a
    * partial-agg `groupBy(row, bucket)` (map-side combine reduces each
    * partition to ≤ depth·width rows before the shuffle, identical
    * traffic to merging array sketches) and stays incrementally
    * maintainable under streaming update. At 100 TB the only
    * corpus-sized stages are the token explode and one groupBy. */
  def cmsTokenCounts(df: DataFrame, textCol: String,
      depth: Int = 4, width: Int = 16): DataFrame = {
    require(depth >= 1 && width >= 2, s"bad sketch shape $depth x $width")
    // the bucket frame feeds BOTH the sketch build and the estimate
    // probe; persisting it (vocab-sized × depth, bounded by vocabulary
    // not corpus) keeps the corpus-sized explode+groupBy to ONE scan
    val buckets = Caching.persist(
      cmsBucketed(df.select(explode(tokens(col(textCol))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt")), depth, width))
    val sketch = buckets.groupBy("__r", "__bucket").agg(sum("cnt").as("__tot"))
    buckets.join(sketch, Seq("__r", "__bucket"))
      .groupBy("token", "cnt").agg(min("__tot").as("est"))
      .select(col("token"), col("cnt"), col("est"))
  }

  /** Per-(token, sketch row) bucket assignment — the
    * Kirsch–Mitzenmacher double-hash grid `(h1 + r·h2) mod width`
    * over the xxh64 halves, shared by the one-shot sketch
    * ([[cmsTokenCounts]]), the standalone builder ([[cmsSketch]]),
    * and the maintained fold ([[cmsMaintain]]) so the three can never
    * hash apart. Input (token, cnt); output adds (__r, __bucket). */
  private def cmsBucketed(tokenCounts: DataFrame, depth: Int,
      width: Int): DataFrame =
    tokenCounts
      .withColumn("__h", xxhash64(col("token")))
      .withColumn("__h1", col("__h").bitwiseAND(lit(0xFFFFFFFFL)))
      .withColumn("__h2", shiftrightunsigned(col("__h"), 32))
      .select(col("token"), col("cnt"), col("__h1"), col("__h2"),
        explode(sequence(lit(0L), lit(depth - 1L))).as("__r"))
      .withColumn("__bucket",
        (col("__h1") + col("__r") * col("__h2")) % width)
      .drop("__h1", "__h2")

  /** The raw CMS counter frame — one row per non-empty (sketch row,
    * bucket) with its collision-mass total — built from a corpus
    * scan. This IS the sketch's state: d×w longs, the thing
    * [[cmsMaintain]] keeps fresh under a change feed. */
  def cmsSketch(df: DataFrame, textCol: String, depth: Int = 4,
      width: Int = 16): DataFrame =
    cmsBucketed(df.select(explode(tokens(col(textCol))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt")), depth, width)
      .groupBy(col("__r").as("r"), col("__bucket").as("bucket"))
      .agg(sum("cnt").as("tot"))

  /** Maintain a CMS counter frame under a DOCUMENT change feed — the
    * sketch-family freshness story: CMS is a LINEAR sketch (counters
    * are ± sums), so deletions genuinely RETRACT — the thing the HLL
    * family structurally cannot do (register-max is monotone). Feed
    * contract (the [[graft.streaming.IvmStream]] group-twin shape):
    * `(seqCol, opCol, idCol, textCol, oldTextCol)` with op ∈ I/U/D,
    * `oldTextCol` the document's text immediately before its FIRST
    * change of the batch (NULL ⇔ the doc did not exist), seq
    * feed-monotone. Per batch: latest-wins picks the final text,
    * min_by the pre-batch old text; delta mass = +tokens(new)
    * −tokens(old), hashed through the SAME grid and folded into the
    * carried counters with one (r, bucket) full-outer join — d×w
    * rows, never a corpus rescan. A counter folding negative — only
    * possible when before-images LIE — trips an in-plan assert; one
    * folding to exactly 0 is dropped (absence ≡ zero, matching a
    * scratch rebuild). Result ≡ [[cmsSketch]] over the merged corpus
    * (linearity — pinned by the doc_cms_incremental oracle, not
    * assumed). */
  def cmsMaintain(sketch: DataFrame, changes: DataFrame, idCol: String,
      textCol: String, oldTextCol: String, seqCol: String, opCol: String,
      depth: Int = 4, width: Int = 16): DataFrame = {
    val ord = struct(col(seqCol), col(opCol))
    val latest = changes.groupBy(col(idCol)).agg(
      max_by(col(opCol), ord).as("__op"),
      max_by(col(textCol), ord).as("__text"),
      min_by(col(oldTextCol), ord).as("__old"))
    def signedCounts(src: DataFrame, c: String, sign: Long): DataFrame =
      src.select(explode(tokens(col(c))).as("token"))
        .groupBy("token").agg((count(lit(1)) * sign).as("cnt"))
    val delta = cmsBucketed(
        signedCounts(latest.filter(col("__op") =!= "D"), "__text", 1L)
          .unionByName(
            signedCounts(latest.filter(col("__old").isNotNull), "__old", -1L))
          .groupBy("token").agg(sum("cnt").as("cnt"))
          .filter(col("cnt") =!= 0L),
        depth, width)
      .groupBy(col("__r").as("r"), col("__bucket").as("bucket"))
      .agg(sum("cnt").as("__d"))
    sketch.join(delta, Seq("r", "bucket"), "full_outer")
      .select(col("r"), col("bucket"),
        (coalesce(col("tot"), lit(0L)) + coalesce(col("__d"), lit(0L)))
          .as("tot"))
      .filter(assert_true(col("tot") >= 0L,
        concat(lit("cmsMaintain: counter (r="), col("r"),
          lit(", bucket="), col("bucket"),
          lit(") folded negative to "), col("tot"),
          lit(" — the feed's before-images are inconsistent")))
        .isNull)
      .filter(col("tot") > 0L)
  }

  /** Corpus-unigram frequency scoring — the shuffle-only core of an
    * n-gram LM quality filter (log-free so the doubles are exactly
    * reproducible: all aggregates are integer sums, with ONE double
    * division at the end). Per document emits its token count, the
    * mean corpus frequency of its tokens (low = rare/unusual text),
    * and how many of its token occurrences are corpus-rare
    * (count <= rareMax — OCR noise / codes / misspellings signal).
    *
    * Scale shape: two aggregations and one join, all keyed on token or
    * (doc, token): (1) per-doc term frequencies (partial-agg shuffle),
    * (2) vocabulary counts folded FROM the tf frame (vocab-sized, not
    * occurrence-sized), (3) tf ⋈ vocab — AQE's skew-join split handles
    * the head tokens ("the" joins every document). The tf frame feeds
    * both sides, so it is persisted under the [[Caching]] ownership
    * contract. */
  def corpusFrequency(df: DataFrame, idCol: String, textCol: String,
      rareMax: Long = 2L): DataFrame = {
    val tf = Caching.persist(
      df.select(col(idCol), explode(tokens(col(textCol))).as("__tok"))
        .groupBy(col(idCol), col("__tok"))
        .agg(count(lit(1)).as("__tf")))
    val vocab = tf.groupBy(col("__tok")).agg(sum(col("__tf")).as("__cnt"))
    // tf·cnt widens to DECIMAL(38,0) before multiply and sum: cnt is a
    // CORPUS count (≈10¹³ for "the" at 100 TB), so Σ tf·cnt per doc
    // reaches n_tokens·corpus_tokens ≈ 10¹⁸ — at the long wrap point;
    // only the double ratio is emitted, so the value is unchanged
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    tf.join(vocab, "__tok")
      .groupBy(col(idCol))
      .agg(sum(col("__tf")).as("n_tokens"),
        (sum(col("__tf").cast(dec38) * col("__cnt").cast(dec38))
          .cast(DoubleType) / sum(col("__tf")))
          .as("mean_tok_freq"),
        sum(when(col("__cnt") <= rareMax, col("__tf")).otherwise(0L)).as("n_rare"))
  }

  /** Per-document bigram language-model score — the sequence-aware
    * step up from [[corpusFrequency]]'s unigram signal (CCNet-style
    * pipelines gate on LM scores; a doc whose word PAIRS are
    * improbable reads as boilerplate/gibberish even when every word
    * is common). Score: the mean corpus conditional probability of
    * the document's adjacent bigrams, in EXACT integer micro-units —
    * q(w₁w₂) = (10⁶ · c(w₁w₂)) div c(w₁·), where c(w₁·) sums the
    * bigram counts with left context w₁, and per doc
    * mean_cond_micro = Σ tf·q / Σ tf with ONE double division at the
    * end — the log-free idiom of the whole text family (a real LM
    * multiplies log-probs; the mean conditional keeps the identical
    * ordering signal without a transcendental, so any engine
    * reproduces it bit-for-bit).
    *
    * Self-scored against its own corpus here (the demo shape); a
    * production gate scores against a REFERENCE corpus' (w₁, w₂, q)
    * table — same plan with the bigram frame read instead of built
    * (the ev_window_drift self-reference caveat).
    *
    * Scale shape: bigram explode is map-only; per-(doc, bigram)
    * counts reduce map-side before the doc-keyed shuffle; the corpus
    * bigram table and its left-context rollup ride the bigram
    * vocabulary (Heaps-sublinear), never the token stream; one
    * equi-join back. Documents with < 2 tokens have no bigram and are
    * absent by definition. Output: (idCol, n_bigrams,
    * sum_cond_micro, mean_cond_micro). */
  def bigramLmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = Caching.persist(
      df.select(col(idCol), tokens(col(textCol)).as("__toks"))
        .filter(size(col("__toks")) >= 2)
        .select(col(idCol), explode(
          expr("transform(sequence(1, size(__toks) - 1), " +
            "i -> struct(__toks[i - 1] AS w1, __toks[i] AS w2))")).as("__b"))
        .groupBy(col(idCol), col("__b.w1").as("__w1"), col("__b.w2").as("__w2"))
        .agg(count(lit(1)).as("__tf")))
    val c2 = tf.groupBy(col("__w1"), col("__w2")).agg(sum(col("__tf")).as("__c2"))
    val c1 = c2.groupBy(col("__w1")).agg(sum(col("__c2")).as("__c1"))
    val q = c2.join(c1, "__w1")
      .select(col("__w1"), col("__w2"),
        expr("(1000000 * __c2) div __c1").as("__q"))
    tf.join(q, Seq("__w1", "__w2"))
      .groupBy(col(idCol))
      .agg(sum(col("__tf")).as("n_bigrams"),
        sum(col("__tf") * col("__q")).as("sum_cond_micro"),
        (sum(col("__tf") * col("__q")).cast(DoubleType) / sum(col("__tf")))
          .as("mean_cond_micro"))
  }

  /** Per-document top-k TF-IDF terms — keyword extraction, the
    * per-doc topical summary a curation pipeline indexes or clusters
    * on (bm25TopK is the QUERY side: given terms, rank docs; this is
    * the DOCUMENT side: given a doc, rank its terms). Output:
    * `(idCol, term, tfidf, rank)`, k rows per document.
    *
    * Scoring is the rational log-free idf the BM25 operator
    * established: `tfidf = tf · ((N+1)/(df+1))` — exact integer
    * counts, ONE double divide and ONE multiply in the same order in
    * any engine, so scores (and the (score DESC, term ASC)
    * tie-break) are cross-engine bit-stable.
    *
    * Scale shape: explode → (doc, term) counts; document frequency
    * is the one vocabulary-wide shuffle (term-keyed — the vocabulary
    * is Heaps-law sublinear in the corpus); N is a 1-row broadcast.
    * The per-doc top-k rides [[graft.functions.TopKAggregate]]'s
    * bounded heaps: a document's terms are colocated after its
    * explode, so the map-side partial pass reduces each doc to ≤ k
    * rows before the doc-keyed shuffle — never the full posting
    * list. */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 5): DataFrame = {
    import graft.functions.TopKAggregate.topK
    require(k >= 1, s"tfidfTopTerms: k must be >= 1, got $k")
    val tf = docs.select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("__tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("__df"))
    val n = docs.agg(count(lit(1)).as("__n"))
    tf.join(dfreq, "term").crossJoin(broadcast(n))
      .withColumn("__tfidf", col("__tf").cast(DoubleType) *
        ((col("__n") + 1L).cast(DoubleType) / (col("__df") + 1L).cast(DoubleType)))
      .groupBy(col(idCol))
      .agg(topK(col("__tfidf"), col("term"), col("term"), k).as("__top"))
      .select(col(idCol), posexplode(col("__top")).as(Seq("__pos", "__e")))
      .select(col(idCol), col("__e.payload").as("term"),
        col("__e.score").as("tfidf"), (col("__pos") + 1L).cast(LongType).as("rank"))
  }
}
