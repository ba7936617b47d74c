package graft

import org.apache.spark.sql.functions._

import graft.operators.Cdc

/** Hand-computable CDC fixtures; the driver's cdc_apply / cdc_scd2
  * oracles cross-check the same operators on real data. */
class CdcSpec extends SparkSpec {
  import spark.implicits._

  private lazy val snapshot = Seq(
    (1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)
  ).toDF("k", "v", "amt")

  // k=1 updated twice (seq 2 must win), k=2 deleted, k=4 inserted,
  // k=3 untouched
  private lazy val changes = Seq(
    (1L, 1L, "U", "a1", 11.0),
    (1L, 2L, "U", "a2", 12.0),
    (2L, 1L, "D", null.asInstanceOf[String], 0.0),
    (4L, 1L, "I", "d", 40.0)
  ).toDF("k", "seq", "op", "v", "amt")

  test("applyChanges: latest-wins upsert, delete drops, untouched survives") {
    val got = Cdc.applyChanges(snapshot, changes, "k", "seq", "op")
      .orderBy("k").as[(Long, String, Double)].collect().toSeq
    assert(got == Seq((1L, "a2", 12.0), (3L, "c", 30.0), (4L, "d", 40.0)))
  }

  test("applyChanges ships one candidate per key per partition (partial max_by, no window)") {
    val plan = Cdc.applyChanges(snapshot, changes, "k", "seq", "op")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"merge must not window the log:\n$plan")
  }

  test("maintainGroupAgg: delta maintenance equals full recompute; empty groups vanish") {
    import org.apache.spark.sql.types.DecimalType
    val snap = Seq((1L, "g1", 10.0), (2L, "g1", 20.0), (3L, "g2", 30.0),
      (5L, "g3", 5.0), (6L, "g4", 1.0)).toDF("k", "g", "amt")
    val ch = Seq(
      (1L, 1L, "U", "g2", 11.0), // moves g1 → g2
      (2L, 1L, "D", null.asInstanceOf[String], 0.0), // delete from g1
      (4L, 1L, "I", "g1", 40.0), // fresh insert into g1
      (5L, 1L, "D", null.asInstanceOf[String], 0.0), // delete…
      (5L, 2L, "I", "g3", 7.0), // …then re-insert (latest wins)
      (6L, 1L, "D", null.asInstanceOf[String], 0.0) // empties g4 entirely
    ).toDF("k", "seq", "op", "g", "amt")
    val maintained = Cdc.maintainGroupAgg(snap, ch, "k", "seq", "op", "g", "amt")
      .orderBy("g").as[(String, Long, Double)].collect().toSeq
    val recomputed = Cdc.applyChanges(snap, ch, "k", "seq", "op")
      .groupBy("g").agg(count(lit(1)).as("n"),
        sum(col("amt").cast(DecimalType(18, 2))).cast("double").as("total"))
      .orderBy("g").as[(String, Long, Double)].collect().toSeq
    assert(maintained == recomputed)
    assert(maintained == Seq(("g1", 1L, 40.0), ("g2", 2L, 41.0), ("g3", 1L, 7.0)))
    assert(!maintained.exists(_._1 == "g4")) // count hit 0 → gone
  }

  test("scd2History: version chain with exclusive upper bounds; D closes the key") {
    val got = Cdc.scd2History(changes, "k", "seq", "op")
      .orderBy("k", "valid_from")
      .select("k", "v", "valid_from", "valid_to", "is_current")
      .as[(Long, String, Long, Option[Long], Boolean)].collect().toSeq
    assert(got == Seq(
      (1L, "a1", 1L, Some(2L), false),
      (1L, "a2", 2L, None, true),
      // k=2: the D at seq 1 closed a key with no prior version → no row
      (4L, "d", 1L, None, true)))
  }

  test("pointInTimeJoin: probes resolve to the version valid AT the probe, not the current one") {
    val hist = Cdc.scd2History(changes, "k", "seq", "op")
      .select("k", "v", "amt", "valid_from", "valid_to")
    // probes straddling k=1's seq-2 re-update, plus out-of-range cases
    val probes = Seq(
      (1L, 1L), // inside [1,2) → a1
      (1L, 2L), // inside [2,∞) → a2 — NOT the seq-1 version
      (1L, 9L), // open current version → a2
      (4L, 1L), // single-version key → d
      (4L, 0L), // predates the first version → dropped
      (7L, 1L)  // key with no versions at all → dropped
    ).toDF("k", "at")
    val got = Cdc.pointInTimeJoin(probes, hist, "k", "at")
      .orderBy("k", "at")
      .select("k", "at", "v", "amt", "valid_from")
      .as[(Long, Long, String, Double, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 1L, "a1", 11.0, 1L),
      (1L, 2L, "a2", 12.0, 2L),
      (1L, 9L, "a2", 12.0, 2L),
      (4L, 1L, "d", 40.0, 1L)))
    // fan-out impossible: every (key, at) appears at most once
    assert(got.map(r => (r._1, r._2)).distinct.size == got.size)
  }

  test("maintainJoinView: delta maintenance equals full recompute across both feeds, including FK moves") {
    // A keyed by k with FK g; B keyed by g
    val aSnap = Seq((1L, 10L, "x1"), (2L, 10L, "x2"), (3L, 20L, "x3"),
      (4L, 30L, "x4"), (5L, 40L, "x5")).toDF("k", "g", "pay")
    val bSnap = Seq((10L, "ten"), (20L, "twenty"), (30L, "thirty"),
      (40L, "forty")).toDF("g", "bname")
    val aCh = Seq(
      (1L, 1L, "U", 20L, "x1m"), // MOVE 10 → 20: retract under old FK
      (3L, 1L, "D", 0L, null.asInstanceOf[String]), // fact delete
      (6L, 1L, "I", 30L, "x6"), // fact insert
      (2L, 1L, "U", 10L, "x2u"), (2L, 2L, "U", 10L, "x2v") // latest wins
    ).toDF("k", "seq", "op", "g", "pay")
    val bCh = Seq(
      (40L, 1L, "D", null.asInstanceOf[String]), // dim delete → k=5 row vanishes
      (30L, 1L, "U", "THIRTY"), // dim update reaches k=4 and k=6
      (50L, 1L, "I", "fifty") // dim insert, referenced by nothing
    ).toDF("g", "seq", "op", "bname")
    val viewPrev = aSnap.join(bSnap, "g").select("k", "g", "pay", "bname")
    val got = Cdc.maintainJoinView(viewPrev, aSnap, aCh, "k",
        bSnap, bCh, "g", "seq", "op")
      .orderBy("k").as[(Long, Long, String, String)].collect().toSeq
    val recomputed = Cdc.applyChanges(aSnap, aCh, "k", "seq", "op")
      .join(Cdc.applyChanges(bSnap, bCh, "g", "seq", "op"), "g")
      .select("k", "g", "pay", "bname")
      .orderBy("k").as[(Long, Long, String, String)].collect().toSeq
    assert(got == recomputed)
    assert(got == Seq(
      (1L, 20L, "x1m", "twenty"), // moved row joins its NEW customer
      (2L, 10L, "x2v", "ten"), // seq-2 payload won
      (4L, 30L, "x4", "THIRTY"), // untouched fact, updated dim
      (6L, 30L, "x6", "THIRTY"))) // inserted fact, updated dim
    // k=3 deleted, k=5's customer deleted, g=50 referenced by nothing
  }

  test("maintainJoinView: untouched join keys ride the previous view, not a recompute") {
    // a feed touching ONLY g=10 must leave the g=20 view row flowing
    // from viewPrev — pinned by poisoning viewPrev's g=20 row: if the
    // operator recomputed it from the snapshots, the poison would heal
    val aSnap = Seq((1L, 10L, "x1"), (3L, 20L, "x3")).toDF("k", "g", "pay")
    val bSnap = Seq((10L, "ten"), (20L, "twenty")).toDF("g", "bname")
    val aCh = Seq((1L, 1L, "U", 10L, "x1u")).toDF("k", "seq", "op", "g", "pay")
    val bCh = Seq((99L, 1L, "I", "nine9")).toDF("g", "seq", "op", "bname")
    val poisoned = Seq((1L, 10L, "x1", "ten"), (3L, 20L, "POISON", "POISON"))
      .toDF("k", "g", "pay", "bname")
    val got = Cdc.maintainJoinView(poisoned, aSnap, aCh, "k",
        bSnap, bCh, "g", "seq", "op")
      .orderBy("k").as[(Long, Long, String, String)].collect().toSeq
    assert(got == Seq((1L, 10L, "x1u", "ten"),
      (3L, 20L, "POISON", "POISON")),
      s"unaffected keys must pass through untouched: $got")
  }

  test("maintainJoinView: an over-threshold feed degrades to shuffled semi-joins, same result") {
    // broadcastKeyLimit = 0 forces the degraded path; AQE's own
    // broadcast fallback is disabled too, so the plan REALLY runs the
    // semi/anti joins shuffled — the scaladoc's degradation claim,
    // executed (the forced-hint version would OOM the driver instead
    // on a genuinely oversized feed; here we pin result equality and
    // that the gated plan carries no explicit broadcast hint).
    val aSnap = Seq((1L, 10L, "x1"), (2L, 10L, "x2"), (3L, 20L, "x3"),
      (4L, 30L, "x4")).toDF("k", "g", "pay")
    val bSnap = Seq((10L, "ten"), (20L, "twenty"), (30L, "thirty"))
      .toDF("g", "bname")
    val aCh = Seq((1L, 1L, "U", 20L, "x1m"), (5L, 1L, "I", 30L, "x5"))
      .toDF("k", "seq", "op", "g", "pay")
    val bCh = Seq((20L, 1L, "U", "TWENTY")).toDF("g", "seq", "op", "bname")
    val viewPrev = aSnap.join(bSnap, "g").select("k", "g", "pay", "bname")
    val want = Cdc.applyChanges(aSnap, aCh, "k", "seq", "op")
      .join(Cdc.applyChanges(bSnap, bCh, "g", "seq", "op"), "g")
      .select("k", "g", "pay", "bname")
      .orderBy("k").as[(Long, Long, String, String)].collect().toSeq
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val gated = Cdc.maintainJoinView(viewPrev, aSnap, aCh, "k",
        bSnap, bCh, "g", "seq", "op",
        broadcastKeyLimit = 0L)
      val plan = gated.queryExecution.executedPlan.toString
      assert(!plan.contains("Broadcast"),
        s"over-limit feed must not broadcast anywhere:\n$plan")
      val got = gated.orderBy("k")
        .as[(Long, Long, String, String)].collect().toSeq
      assert(got == want, s"degraded path changed the view: $got != $want")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
      prevThreshold)
  }

  test("diffSnapshots: I/D/U classification, NULL-safe change test, " +
      "self-diff empty, applyChanges round-trip") {
    val next = Seq((1L, "a2", 12.0), (3L, "c", 30.0), (4L, "d", 40.0))
      .toDF("k", "v", "amt")
    val diff = Cdc.diffSnapshots(snapshot, next, "k")
    val got = diff.as[(String, Long, String, Double)].collect().toSet
    assert(got == Set(
      ("U", 1L, "a2", 12.0),  // new image on U
      ("D", 2L, "b", 20.0),   // old image on D
      ("I", 4L, "d", 40.0)), s"got: $got")
    // round-trip: applying the derived feed reproduces `next` exactly
    val rt = Cdc.applyChanges(snapshot, diff.withColumn("seq", lit(1L)),
        "k", "seq", "op")
      .orderBy("k").as[(Long, String, Double)].collect().toSeq
    assert(rt == Seq((1L, "a2", 12.0), (3L, "c", 30.0), (4L, "d", 40.0)))
    // a snapshot diffed with itself is empty
    assert(Cdc.diffSnapshots(snapshot, snapshot, "k").isEmpty)
    // NULL ↔ value transitions are changes (null-safe compare)
    val withNull = Seq((1L, null.asInstanceOf[String], 10.0),
      (2L, "b", 20.0), (3L, "c", 30.0)).toDF("k", "v", "amt")
    val nd = Cdc.diffSnapshots(snapshot, withNull, "k")
      .as[(String, Long, Option[String], Double)].collect().toSet
    assert(nd == Set(("U", 1L, None, 10.0)), s"null transition: $nd")
  }

  test("maintainMinMaxView: duplicate-extreme survival, second-smallest " +
      "recovery, group move, emptied group, cheap insert path") {
    val snap = Seq(
      (1L, "a", 5.0), (2L, "a", 5.0), (3L, "a", 9.0), // duplicate min 5
      (4L, "b", 1.0), (5L, "b", 7.0),                 // unique min 1
      (6L, "c", 3.0),                                 // will empty out
      (7L, "d", 2.0), (8L, "d", 8.0)                  // max moves away
    ).toDF("k", "g", "v")
    val ch = Seq(
      (1L, 1L, "D", null.asInstanceOf[String], 0.0), // one copy of a's dup min
      (4L, 1L, "D", null.asInstanceOf[String], 0.0), // b's unique min
      (6L, 1L, "D", null.asInstanceOf[String], 0.0), // c emptied
      (8L, 1L, "U", "e", 8.5),                       // d's max MOVES to new group e
      (9L, 1L, "I", "a", 4.0)                        // new min into a (add path)
    ).toDF("k", "seq", "op", "g", "v")
    val got = Cdc.maintainMinMaxView(snap, ch, "k", "seq", "op", "g", "v")
      .orderBy("g").as[(String, Long, Double, Double)].collect().toSeq
    assert(got == Seq(
      ("a", 3L, 4.0, 9.0), // dup min survived the recompute; insert lowered it
      ("b", 1L, 7.0, 7.0), // second-smallest recovered
      ("d", 1L, 2.0, 2.0), // old group shrank after the move-out
      ("e", 1L, 8.5, 8.5)  // move-in created the group
    ), s"got: $got")
  }

  test("maintainMinMaxView equals full recompute on a randomized feed (model check)") {
    val rnd = new scala.util.Random(42)
    val snap = (1L to 200L).map(k =>
      (k, s"g${rnd.nextInt(12)}", rnd.nextInt(50).toDouble)).toDF("k", "g", "v")
    val ops = (1 to 150).map { i =>
      val k = rnd.nextInt(260).toLong + 1 // keys beyond 200 are inserts
      rnd.nextInt(3) match {
        case 0 => (k, i.toLong, "D", null.asInstanceOf[String], 0.0)
        case 1 => (k, i.toLong, "U", s"g${rnd.nextInt(12)}", rnd.nextInt(50).toDouble)
        case _ => (k, i.toLong, "I", s"g${rnd.nextInt(12)}", rnd.nextInt(50).toDouble)
      }
    }.toDF("k", "seq", "op", "g", "v")
    val got = Cdc.maintainMinMaxView(snap, ops, "k", "seq", "op", "g", "v")
      .orderBy("g").as[(String, Long, Double, Double)].collect().toSeq
    val want = Cdc.applyChanges(snap, ops, "k", "seq", "op")
      .groupBy("g").agg(count(lit(1)).as("n"), min("v").as("mn"), max("v").as("mx"))
      .orderBy("g").as[(String, Long, Double, Double)].collect().toSeq
    assert(got == want, s"split maintenance diverged from recompute:\n$got\n$want")
  }

  test("maintainTopKView: in-list retraction recomputes, below-k retraction " +
      "is cheap, adds merge and re-rank, emptied group vanishes") {
    val snap = Seq(
      (1L, "a", 9.0), (2L, "a", 8.0), (3L, "a", 7.0), (4L, "a", 6.0),
      (5L, "b", 5.0), (6L, "b", 4.0),
      (7L, "c", 1.0)
    ).toDF("k", "g", "v")
    val ch = Seq(
      (2L, 1L, "D", null.asInstanceOf[String], 0.0), // inside a's top-2 → recompute
      (6L, 1L, "D", null.asInstanceOf[String], 0.0), // b has < k members: in list too
      (7L, 1L, "D", null.asInstanceOf[String], 0.0), // c emptied
      (8L, 1L, "I", "a", 7.5)                        // add enters a's new top-2
    ).toDF("k", "seq", "op", "g", "v")
    val got = Cdc.maintainTopKView(snap, ch, "k", "seq", "op", "g", "v", k = 2)
      .orderBy("g", "rank").as[(String, Long, Long, Double)].collect().toSeq
    // a after: {1→9, 3→7, 4→6, 8→7.5} → top-2 = (1, 9.0), (8, 7.5)
    // b after: {5→5} → (5, 5.0); c gone
    assert(got == Seq(
      ("a", 1L, 1L, 9.0), ("a", 2L, 8L, 7.5),
      ("b", 1L, 5L, 5.0)), s"got: $got")
  }

  test("maintainTopKView: below-top-k retraction stays on the cheap path " +
      "and still matches the recompute (model check, randomized)") {
    val rnd = new scala.util.Random(7)
    val snap = (1L to 200L).map(kk =>
      (kk, s"g${rnd.nextInt(10)}", rnd.nextInt(100).toDouble)).toDF("k", "g", "v")
    val ops = (1 to 120).map { i =>
      val kk = rnd.nextInt(250).toLong + 1
      rnd.nextInt(3) match {
        case 0 => (kk, i.toLong, "D", null.asInstanceOf[String], 0.0)
        case 1 => (kk, i.toLong, "U", s"g${rnd.nextInt(10)}", rnd.nextInt(100).toDouble)
        case _ => (kk, i.toLong, "I", s"g${rnd.nextInt(10)}", rnd.nextInt(100).toDouble)
      }
    }.toDF("k", "seq", "op", "g", "v")
    val got = Cdc.maintainTopKView(snap, ops, "k", "seq", "op", "g", "v", k = 3)
      .orderBy("g", "rank").as[(String, Long, Long, Double)].collect().toSeq
    val merged = Cdc.applyChanges(snap, ops, "k", "seq", "op")
    val want = merged.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("g")
          .orderBy(col("v").desc, col("k").asc)).cast("long"))
      .filter(col("rank") <= 3).select("g", "rank", "k", "v")
      .orderBy("g", "rank").as[(String, Long, Long, Double)].collect().toSeq
    assert(got == want, s"split maintenance diverged:\n$got\n$want")
  }

  test("gateFeed: failing upserts become deletes, passing ones ride " +
      "through, raw deletes untouched — and the fold equals filtering " +
      "the merged corpus") {
    val feed = Seq(
      (1L, "I", 10L, 100L),   // passing insert
      (2L, "U", 20L, -5L),    // FAILING update → must become D
      (3L, "D", 30L, 0L),     // raw delete rides through
      (4L, "I", 40L, -1L)     // failing insert → harmless D
    ).toDF("seq", "op", "k", "v")
    val gated = Cdc.gateFeed(feed, "k", "seq", "op")(df =>
      df.select(col("k"), (col("v") >= 0L).as("keep")))
    val got = gated.select("seq", "op", "k")
      .as[(Long, String, Long)].collect().toSet
    assert(got == Set((1L, "I", 10L), (2L, "D", 20L),
      (3L, "D", 30L), (4L, "D", 40L)), s"gated: $got")
    assert(gated.columns.toSeq == feed.columns.toSeq,
      "gate must preserve the feed's column order")
    // end-to-end: applyChanges over the gated feed ≡ filtering the
    // merged corpus — the doc degraded below the bar is RETRACTED
    val snap = Seq((20L, 7L), (30L, 8L)).toDF("k", "v")
    val next = Cdc.applyChanges(snap, gated, "k", "seq", "op")
      .as[(Long, Long)].collect().toSet
    assert(next == Set((10L, 100L)),
      s"curated snapshot: $next (20 must be retracted, 30 deleted)")
  }

  test("gateFeed: two same-key upserts in one batch gate the WINNER — " +
      "fail→pass admits, pass→fail retracts, one output row per key") {
    // the round-18 latent hazard (VERDICT r18 #1): classify over ALL
    // versions + an id-only flag join is many-to-many, and the
    // duplicate ('U') row beats its gated ('D') twin in a latest-wins
    // fold. The fix gates the latestChanges winner only.
    val feed = Seq(
      (1L, "I", 10L, -5L),   // fails the bar...
      (2L, "U", 10L, 100L),  // ...then climbs above it: winner PASSES
      (3L, "I", 20L, 50L),   // passes...
      (4L, "U", 20L, -1L)    // ...then degrades: winner FAILS → D
    ).toDF("seq", "op", "k", "v")
    val gated = Cdc.gateFeed(feed, "k", "seq", "op")(df =>
      df.select(col("k"), (col("v") >= 0L).as("keep")))
    val got = gated.select("seq", "op", "k", "v")
      .as[(Long, String, Long, Option[Long])].collect().toSeq
    assert(got.size == 2, s"one row per key, got: $got")
    // the retraction carries its winning seq but a NULL payload — the
    // downstream "payload NULL on deletes" feed contract holds for
    // gated deletes too (ADVICE r19)
    assert(got.toSet == Set((2L, "U", 10L, Some(100L)), (4L, "D", 20L, None)),
      s"gated winners: $got")
    // and the fold over the gated feed equals filtering the merged
    // corpus from scratch — for BOTH orderings
    val next = Cdc.applyChanges(
        Seq.empty[(Long, Long)].toDF("k", "v"), gated, "k", "seq", "op")
      .as[(Long, Long)].collect().toSet
    assert(next == Set((10L, 100L)), s"curated snapshot: $next")
    // a D winner beats same-batch upserts too (D at the higher seq)
    val feed2 = Seq(
      (5L, "U", 30L, 9L),
      (6L, "D", 30L, 0L)
    ).toDF("seq", "op", "k", "v")
    val gated2 = Cdc.gateFeed(feed2, "k", "seq", "op")(df =>
      df.select(col("k"), lit(true).as("keep")))
    assert(gated2.select("seq", "op", "k")
      .as[(Long, String, Long)].collect().toSeq == Seq((6L, "D", 30L)),
      "a winning delete must ride through untouched")
  }

  test("gateFeed: a classify that drops a row fails LOUDLY") {
    val feed = Seq((1L, "I", 10L, 1L), (2L, "I", 20L, 2L))
      .toDF("seq", "op", "k", "v")
    val e = intercept[Throwable] {
      Cdc.gateFeed(feed, "k", "seq", "op")(df =>
        df.filter(col("k") =!= 20L)
          .select(col("k"), lit(true).as("keep")))
        .collect()
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("; ")
    assert(msgs.contains("classify returned no flag"),
      s"silent row drop must raise, got: $msgs")
  }

  test("gateFeed: a classify that returns a NULL keep value fails " +
      "LOUDLY, with a message distinct from the dropped-row case") {
    val feed = Seq((1L, "I", 10L, 1L), (2L, "I", 20L, 2L))
      .toDF("seq", "op", "k", "v")
    val e = intercept[Throwable] {
      Cdc.gateFeed(feed, "k", "seq", "op")(df =>
        df.select(col("k"),
          when(col("k") =!= 20L, col("v") >= 0L).as("keep")))
        .collect()
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("; ")
    assert(msgs.contains("NULL keep value"),
      s"NULL keep must raise its own message, got: $msgs")
    assert(!msgs.contains("returned no flag"),
      s"NULL keep must not be conflated with a dropped row: $msgs")
  }

  test("gateFeed: a duplicated (key, seq) in one batch fails LOUDLY " +
      "instead of tie-breaking by op silently") {
    // the winner reduction orders by struct(seq, op); two same-key
    // rows with EQUAL seq would pick 'U' over 'I' over 'D'
    // lexicographically — a silent resolution the feed contract
    // (per-key monotone seq) says can never be needed. Assert it
    // raises (VERDICT r19 #5).
    val feed = Seq(
      (7L, "U", 10L, 1L),
      (7L, "D", 10L, 0L), // same key, same seq — contract violation
      (8L, "I", 20L, 2L)
    ).toDF("seq", "op", "k", "v")
    val e = intercept[Throwable] {
      Cdc.gateFeed(feed, "k", "seq", "op")(df =>
        df.select(col("k"), lit(true).as("keep"))).collect()
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("; ")
    assert(msgs.contains("duplicate (key, seq)"),
      s"equal-seq pair must raise, got: $msgs")
    // distinct seqs for the same key stay legal (the whole point of
    // the winner reduction) — same shape, seqs 7 and 9
    val ok = Cdc.gateFeed(Seq(
        (7L, "U", 10L, 1L), (9L, "D", 10L, 0L), (8L, "I", 20L, 2L))
        .toDF("seq", "op", "k", "v"),
      "k", "seq", "op")(df => df.select(col("k"), lit(true).as("keep")))
      .select("seq", "op", "k").as[(Long, String, Long)].collect().toSet
    assert(ok == Set((9L, "D", 10L), (8L, "I", 20L)), s"winners: $ok")
  }

  test("gateFeed ∘ maintainJoinView-style folds: gate∘maintain ≡ " +
      "filter∘scratch at EVERY batch prefix of an oscillating doc") {
    // property-style pin (VERDICT r18 task 6): a doc that oscillates
    // across the quality bar over multiple batches — including a batch
    // where it crosses TWICE — keeps the maintained curated snapshot
    // and a maintained grouped view equal to filtering + rebuilding
    // the merged corpus from scratch after every prefix.
    val batches = Seq(
      Seq((1L, "I", 1L, "a", 10L), (2L, "I", 2L, "a", -3L),
        (3L, "I", 3L, "b", 7L)),
      // doc 2 climbs above the bar; doc 1 degrades below it
      Seq((4L, "U", 2L, "a", 5L), (5L, "U", 1L, "a", -9L)),
      // doc 1 crosses the bar twice IN ONE BATCH (fail → pass)
      Seq((6L, "U", 1L, "a", -1L), (7L, "U", 1L, "a", 20L),
        (8L, "D", 3L, null.asInstanceOf[String], 0L)),
      // and back out again, twice in one batch (pass → fail)
      Seq((9L, "U", 1L, "a", 2L), (10L, "U", 1L, "a", -7L))
    ).map(_.toDF("seq", "op", "k", "g", "v"))
    def classify(df: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame =
      df.select(col("k"), (col("v") >= 0L).as("keep"))
    var curated = Seq.empty[(Long, String, Long)].toDF("k", "g", "v")
    var raw = Seq.empty[(Long, String, Long)].toDF("k", "g", "v")
    batches.zipWithIndex.foreach { case (b, i) =>
      val gated = Cdc.gateFeed(b, "k", "seq", "op")(classify)
      // the maintained grouped view folds the GATED feed onto the
      // curated snapshot BEFORE the snapshot itself advances
      val view = Cdc.maintainGroupAgg(curated, gated,
        "k", "seq", "op", "g", "v")
      curated = Cdc.applyChanges(curated, gated, "k", "seq", "op")
      raw = Cdc.applyChanges(raw, b, "k", "seq", "op")
      val scratch = raw.filter(col("v") >= 0L)
      assert(curated.as[(Long, String, Long)].collect().toSet ==
        scratch.as[(Long, String, Long)].collect().toSet,
        s"prefix $i: curated snapshot != filter∘scratch")
      val wantView = scratch.groupBy("g").agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(18,2)")).cast("double").as("total"))
      assert(view.as[(String, Long, Double)].collect().toSet ==
        wantView.as[(String, Long, Double)].collect().toSet,
        s"prefix $i: maintained grouped view != scratch view")
    }
  }

  test("maintainTopKView: retract-and-re-add of one key inside one batch " +
      "(latest wins) and k-ties straddling the list boundary") {
    // group a: four members, k = 2, with a VALUE TIE straddling the
    // cut (keys 2 and 3 both at 8.0 — only key 2 is in the list by
    // the (value DESC, key ASC) order). The batch deletes key 1 at
    // seq 1 and re-inserts it at seq 2 (latest wins ⇒ the key stays,
    // with the NEW value), deletes tied-IN-list key 2 (the exists
    // probe must hit on (8.0, 2) and not be fooled by (8.0, 3)), and
    // deletes tied-OUT-of-list key 3 (strictly below the cut only by
    // the key tiebreak — a sloppy membership probe on value alone
    // would force a useless recompute, a sloppy list cut could have
    // dropped the wrong twin).
    val snap = Seq(
      (1L, "a", 9.0), (2L, "a", 8.0), (3L, "a", 8.0), (4L, "a", 6.0)
    ).toDF("k", "g", "v")
    val ch = Seq(
      (1L, 1L, "D", null.asInstanceOf[String], 0.0),
      (1L, 2L, "I", "a", 7.0), // same key re-added in the same batch
      (2L, 3L, "D", null.asInstanceOf[String], 0.0),
      (3L, 4L, "D", null.asInstanceOf[String], 0.0)
    ).toDF("k", "seq", "op", "g", "v")
    val got = Cdc.maintainTopKView(snap, ch, "k", "seq", "op", "g", "v", k = 2)
      .orderBy("g", "rank").as[(String, Long, Long, Double)].collect().toSeq
    // merged base: {1→7.0, 4→6.0} → top-2 = (1, 7.0), (4, 6.0)
    assert(got == Seq(("a", 1L, 1L, 7.0), ("a", 2L, 4L, 6.0)), s"got: $got")
    // the mirror case: the re-add ARRIVES FIRST in seq order reversed
    // (I at seq 1, D at seq 2) — latest wins D, the key must vanish
    val ch2 = Seq(
      (1L, 1L, "I", "a", 7.0),
      (1L, 2L, "D", null.asInstanceOf[String], 0.0)
    ).toDF("k", "seq", "op", "g", "v")
    val got2 = Cdc.maintainTopKView(snap, ch2, "k", "seq", "op", "g", "v", k = 2)
      .orderBy("g", "rank").as[(String, Long, Long, Double)].collect().toSeq
    // merged base: {2→8.0, 3→8.0, 4→6.0} → top-2 = (2, 8.0), (3, 8.0)
    assert(got2 == Seq(("a", 1L, 2L, 8.0), ("a", 2L, 3L, 8.0)),
      s"got: $got2")
    // ONLY the out-of-list twin (key 3, same 8.0 value as in-list key
    // 2) retracts: the exists probe must MISS — (8.0, 3) is not
    // (8.0, 2) — keeping the group on the cheap path, and the cheap
    // path's merged list must still be exactly the recompute's
    val ch3 = Seq((3L, 1L, "D", null.asInstanceOf[String], 0.0))
      .toDF("k", "seq", "op", "g", "v")
    val got3 = Cdc.maintainTopKView(snap, ch3, "k", "seq", "op", "g", "v", k = 2)
      .orderBy("g", "rank").as[(String, Long, Long, Double)].collect().toSeq
    assert(got3 == Seq(("a", 1L, 1L, 9.0), ("a", 2L, 2L, 8.0)),
      s"got: $got3")
  }
}
