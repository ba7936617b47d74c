package graft

/** Benchmark entry: runs the headline queries (Queries.Q.bench) on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line for the driver.
  *
  * Timing discipline:
  *  - results are fully materialized through the noop sink (a bare
  *    .count() would let Catalyst prune the projections being measured);
  *  - one untimed warmup pass over every headline query loads classes,
  *    JIT-compiles the generated code paths, and primes the file-system
  *    cache, so timed runs measure steady-state throughput (what a
  *    long-lived cluster session sees), not first-query JVM warmup.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()

    val headline = SparkEntry.all.filter(_.bench)
    // Contention attribution (BENCH_r12: pipeline_training_manifest
    // iterations 6.58/40.44/23.40 s on the driver box vs a stable 1.48×
    // spread on an idle box): each timed iteration also records the
    // JVM's GC-time delta, process-CPU-time delta, and the storage
    // bytes pinned at the moment the query finished (before the cache
    // clear). Reading the artifact: wall ≈ cpu and low gc → the plan
    // itself got slower; wall ≫ cpu → the process was descheduled or
    // I/O-starved (external contention); gc ≈ the wall gap → heap
    // pressure; storage growing across iterations → a persist leak.
    import java.lang.management.ManagementFactory
    import scala.jdk.CollectionConverters._
    def gcMillis: Long =
      ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum
    val osBean = ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => Some(b)
      case _ => None
    }
    def cpuNanos: Long = osBean.map(_.getProcessCpuTime).getOrElse(-1L)
    // Self-calibration sentinel: a fixed-work single-thread spin timed
    // immediately before every timed iteration. Its wall time depends
    // ONLY on how fast this box runs one thread right now — never on
    // the plan, the data, or Spark — so a bench artifact whose
    // iter_calib_sec column inflates 4-8× over its own minimum proves
    // frequency throttling / CPU contention INSIDE the JSON, with no
    // second machine needed (rounds 11-13 needed an idle-box re-run to
    // attribute exactly that). ~100 ms of xorshift per spin: cheap
    // enough to run 70+ times per bench untimed, long enough that a
    // descheduled or down-clocked core shows up as a multiple, not
    // jitter.
    @volatile var calibSink = 0L
    def calibSec: Double = {
      val t0 = System.nanoTime()
      var x = 0x9e3779b97f4a7c15L
      var i = 0
      while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      calibSink = x // observable sink so the JIT cannot elide the loop
      (System.nanoTime() - t0) / 1e9
    }
    // Multi-thread calibration sentinel: the SAME fixed work spun
    // simultaneously on every hardware thread. The single-thread spin
    // proves per-core speed (throttling, descheduling) but is blind to
    // ALL-CORE contention: BENCH_r16 carried a uniform 1.1–1.8× wall
    // inflation on plan-identical queries with a FLAT single-thread
    // calib, and attributing it needed an idle-box re-run. READING THE
    // COLUMN: compare iter_calib_mt_sec / calib_mt_min_sec ACROSS runs
    // of the same box, never against the single-thread column — even a
    // fully idle box shows calibMt > calib (all-core turbo clocks sit
    // 10-30% below single-core turbo, and an N-thread spin on fewer
    // than N cores serializes). A shifted query minimum with a FLAT
    // mt floor is a real regression; a uniform shift TRACKING the mt
    // floor is the box (measured this round: r15's byte-identical jar
    // at 1.6× its own minima — see BASELINE.md's re-baseline note).
    // I/O-path calibration sentinel: a FIXED small parquet read+hash
    // through the same Spark scan path every headline query pays. The
    // CPU spins above are blind to storage-stack drift — rounds 17 and
    // 18 both carried non-uniform wall inflation under FLAT CPU-calib
    // floors and needed a same-box bisect with the prior round's jar
    // to attribute it (BASELINE.md "Round-18 bisect"); this column
    // makes that attribution in-artifact. The sentinel table is
    // written ONCE per run (deterministic content, ~4M rows, 8 files)
    // and each sample scans + hashes it to one Long. READING THE
    // COLUMN: iter_calib_io_sec tracking the wall inflation with a
    // flat iter_calib_mt_sec ⇒ the I/O path (page cache, filesystem,
    // device) drifted, not the cores; both flat + inflated walls ⇒
    // bisect territory (scheduler/microarchitectural), but two of the
    // three known drift families are now self-attributing.
    // pid-scoped path: a second bench process on the box must not
    // overwrite this run's sentinel mid-read; deleted after the run
    val ioSentinelPath = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      s"graft_bench_io_sentinel_${ProcessHandle.current().pid()}")
      .getAbsolutePath
    // the sentinel dir is tens of MB and pid-scoped (names never
    // reuse): the end-of-run delete below only fires on CLEAN
    // completion, so a crashed or killed bench run would leak one dir
    // per failure — a shutdown hook covers abnormal exits (SIGTERM,
    // uncaught throw) too; kill -9 remains unrecoverable by design
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      Harness.rmTree(ioSentinelPath)))
    locally {
      import org.apache.spark.sql.functions.{col, xxhash64}
      spark.range(0, 4000000L, 1, 8)
        .select(col("id"), xxhash64(col("id")).as("h1"),
          xxhash64(col("id"), col("id")).as("h2"))
        .write.mode("overwrite").parquet(ioSentinelPath)
    }
    def calibIoSec: Double = {
      import org.apache.spark.sql.functions.{bit_xor, col, xxhash64}
      val t0 = System.nanoTime()
      // XOR-fold, not sum: 4M full-range xxh64 values overflow a long
      // sum under ANSI; bit_xor is closed over Long and still forces
      // every row through the scan+hash
      val r = spark.read.parquet(ioSentinelPath)
        .select(xxhash64(col("id"), col("h1"), col("h2")).as("x"))
        .agg(bit_xor(col("x"))).collect()(0).getLong(0)
      calibSink = r // observable sink — the scan cannot be elided
      (System.nanoTime() - t0) / 1e9
    }
    val mtThreads = math.max(2, Runtime.getRuntime.availableProcessors())
    def calibMtSec: Double = {
      val t0 = System.nanoTime()
      val threads = (0 until mtThreads).map { tid =>
        val th = new Thread(() => {
          var x = 0x9e3779b97f4a7c15L + tid
          var i = 0
          while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
          calibSink = x
        })
        th.setDaemon(true)
        th.start()
        th
      }
      threads.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    def exec(q: Queries.Q): Long = Harness.exec(q.run(spark, sfDir))
    def warmExec(q: Queries.Q): Unit =
      try { exec(q); () }
      catch { case e: Throwable =>
        // a query that fails deterministically fails iters+1 times; an
        // invisible warm-up failure would make that lengthening silent
        System.err.println(s"WARN: warmup exec of ${q.name} failed: ${e.getMessage}")
      }

    // One untimed warmup pass (SPARK_GRAFT_WARMUP overrides): it loads
    // classes, JIT-compiles the codegen paths, and primes the page
    // cache; any residual first-run noise lands in timed iteration 1
    // and the best-of-N minimum below discards it. (Round 1 ran two
    // passes before timing — that predated per-query iteration arrays;
    // with min-of-3 the second pass only added ~25 s of wall time.)
    val warmupPasses = sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1").toInt
    require(warmupPasses >= 0, s"SPARK_GRAFT_WARMUP must be >= 0, got $warmupPasses")
    val w0 = System.nanoTime()
    (1 to warmupPasses).foreach { _ => headline.foreach(warmExec) }
    val warmupSec = (System.nanoTime() - w0) / 1e9

    // Best-of-3: single-run times at this scale are dominated by JVM
    // noise (GC, deopt storms) — the minimum is the stable estimate of
    // the query's actual cost. The JSON carries EVERY iteration time
    // (plus the warmup wall time) so the artifact is self-attributing:
    // a regression claim must show a shifted minimum, not one slow
    // iteration — round-2's official 15.4 s (vs 4.4 s reproduced on an
    // idle box) was machine contention, and the old min-only JSON
    // could not prove that by itself.
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    require(iters > 0, s"SPARK_GRAFT_BENCH_ITERS must be positive, got $iters")
    // Contention GATE (BENCH_r17 proved the mt-calib column can
    // attribute a polluted minimum — q_window_rank's three iterations
    // ran under 3.1-4.5× mt-calib inflation and the 1.42 s "minimum"
    // was 10.9× the same jar's idle-box floor; detection after the
    // fact still left a dirty committed artifact). This run DISCARDS
    // and retries any iteration bracketed by an inflated all-core
    // spin: the mt-calib is sampled immediately before AND after the
    // timed exec, the run keeps a monotone floor (min of every mt
    // sample this run, seeded by 3 pre-loop spins), and an iteration
    // whose bracket max exceeds `gate × floor` is thrown away — up to
    // `maxRetries` times per iteration, after which the attempt is
    // kept (bounded wall time; the calib columns still attribute it).
    // Discard counts land in the artifact (`iter_discarded`), so a
    // clean-looking minimum is clean BY CONSTRUCTION, not by luck.
    val gateRatio = sys.env.getOrElse("SPARK_GRAFT_CALIB_GATE", "1.3").toDouble
    val gateRetries = sys.env.getOrElse("SPARK_GRAFT_CALIB_RETRIES", "2").toInt
    require(gateRetries >= 0,
      s"SPARK_GRAFT_CALIB_RETRIES must be >= 0, got $gateRetries")
    var mtFloor = (1 to 3).map(_ => calibMtSec).min
    def sampleMt(): Double = {
      val v = calibMtSec
      if (v < mtFloor) mtFloor = v
      v
    }
    // A query that THROWS must never be recorded as a (fast!) time:
    // r11 reported 0.05 s for three queries whose "time" was the cost
    // of an analysis exception — fake-green numbers worse than a
    // missing row. Failed iterations become JSON null; a query with no
    // successful iteration reports null in `queries`, its message in
    // `errors`, and is excluded from the total.
    val results = headline.map { q =>
      // one untimed exec immediately before timing: the global pass
      // above primes classes and the page cache, but by the time the
      // Nth query's turn comes its JIT-hot paths are minutes old —
      // composed eager queries (the training-manifest CC loop) would
      // otherwise spend timed iterations still converging to steady
      // state (measured 17.8 → 7.0 → 4.5 → 3.8 → 3.8 s on repeat-5)
      warmExec(q)
      var err: Option[String] = None
      var discardTotal = 0
      val times = (1 to iters).map { _ =>
        var kept: Option[(Double, Long, Double, Long, Double, Double,
          Double)] = None
        var failed = false
        var tries = 0
        while (kept.isEmpty && !failed) {
          val calib = calibSec
          // ORDER MATTERS: the MT spins must not sit downstream of a
          // just-finished Spark job — the io sample IS one, and its
          // executor/cleanup wind-down reads as all-core contention
          // (measured: io-before-mt inflated pre-spins 2-6× on an
          // IDLE box, exhausting the gate's retries). Keep the MT
          // bracket adjacency exactly as round 18 had it (spin →
          // exec → spin) and take the io samples outside it.
          val calibMt = sampleMt()
          val calibIo = calibIoSec
          val g0 = gcMillis
          val c0 = cpuNanos
          val t0 = System.nanoTime()
          try {
            val storageBytes = exec(q)
            val wallSec = (System.nanoTime() - t0) / 1e9
            val cpuSec = if (c0 < 0) -1.0 else (cpuNanos - c0) / 1e9
            val calibMtPost = sampleMt()
            val calibIoPost = calibIoSec
            // the kept row records the BRACKET MAX, not the pre-exec
            // sample alone: an iteration kept after gateRetries
            // exhausted (contention arriving mid-exec) must not land
            // in the artifact with a clean-looking calib column next
            // to an inflated wall time — for the I/O column too
            // (storage drift arriving mid-exec is exactly the shape
            // the column exists to attribute)
            val calibMtRec = math.max(calibMt, calibMtPost)
            val calibIoRec = math.max(calibIo, calibIoPost)
            val contended = gateRatio > 0 && calibMtRec > gateRatio * mtFloor
            if (contended && tries < gateRetries) {
              tries += 1
              discardTotal += 1
              System.err.println(f"[bench] ${q.name}: discarding " +
                f"contended iteration (wall $wallSec%.3f s, mt-calib " +
                f"$calibMtRec%.3f vs floor $mtFloor%.3f), " +
                f"retry $tries/$gateRetries")
            } else {
              kept = Some((wallSec, gcMillis - g0, cpuSec, storageBytes,
                calib, calibMtRec, calibIoRec))
            }
          }
          catch { case e: Throwable =>
            err = Some(Option(e.getMessage).getOrElse(e.getClass.getName))
            System.err.println(s"[bench] ${q.name} FAILED: ${e.getMessage}")
            failed = true
          }
        }
        kept
      }
      (q.name, times, err, discardTotal)
    }
    // truncate BEFORE escaping: cutting after could split an escape
    // sequence and emit invalid JSON. Escape ALL control chars < 0x20
    // (same contract as Verify's escaper): Spark exception messages can
    // embed raw data bytes or ANSI sequences, and one unescaped control
    // char makes the driver's json.load reject the whole artifact.
    def jstr(s: String): String = "\"" + s.take(300).flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val qs = results.map { case (k, ts, _, _) =>
      val ok = ts.flatten.map(_._1)
      "\"" + k + "\":" + (if (ok.isEmpty) "null" else ok.min)
    }.mkString("{", ",", "}")
    // Per-iteration attribution columns, all aligned with `iters`
    // (failed iterations are null in every array).
    def iterObj(
        f: ((Double, Long, Double, Long, Double, Double, Double)) => String)
        : String =
      results.map { case (k, ts, _, _) =>
        "\"" + k + "\":" +
          ts.map(_.map(f).getOrElse("null")).mkString("[", ",", "]")
      }.mkString("{", ",", "}")
    val iterArrays = iterObj(_._1.toString)
    val iterGcMs = iterObj(_._2.toString)
    val iterCpuSec = iterObj(_._3.toString)
    val iterStorageMb = iterObj(t => (t._4 / (1024.0 * 1024.0)).toString)
    val iterCalibSec = iterObj(_._5.toString)
    val iterCalibMtSec = iterObj(_._6.toString)
    val iterCalibIoSec = iterObj(_._7.toString)
    // the box's best observed single-thread spin this run: the
    // denominator for reading iter_calib_sec ratios at a glance
    val calibMin = results.flatMap(_._2.flatten.map(_._5)) match {
      case Seq() => "null"; case vs => vs.min.toString
    }
    // the best all-core spin: flat iter_calib_sec + inflated
    // iter_calib_mt_sec ⇒ the box's cores were shared, not slow
    val calibMtMin = results.flatMap(_._2.flatten.map(_._6)) match {
      case Seq() => "null"; case vs => vs.min.toString
    }
    // the best observed sentinel-parquet scan this run: the
    // denominator for reading iter_calib_io_sec ratios — an inflated
    // ratio with a flat mt column attributes storage-stack drift
    val calibIoMin = results.flatMap(_._2.flatten.map(_._7)) match {
      case Seq() => "null"; case vs => vs.min.toString
    }
    val errs = results.collect { case (k, _, Some(m), _) =>
      "\"" + k + "\":" + jstr(m)
    }.mkString("{", ",", "}")
    // contention-gate audit: per-query count of discarded (retried)
    // iterations, and the run total — a clean minimum next to a 0 here
    // means NO iteration needed protection, a nonzero count means the
    // gate absorbed the contention the old artifacts could only explain
    val discarded = results.map { case (k, _, _, d) =>
      "\"" + k + "\":" + d
    }.mkString("{", ",", "}")
    val discardedTotal = results.map(_._4).sum
    val total = results.flatMap { case (_, ts, _, _) =>
      val ok = ts.flatten.map(_._1); if (ok.isEmpty) None else Some(ok.min)
    }.sum
    val nFailed = results.count(_._2.flatten.isEmpty)
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"iters":$iterArrays,"iter_gc_ms":$iterGcMs,"iter_cpu_sec":$iterCpuSec,"iter_storage_mb":$iterStorageMb,"iter_calib_sec":$iterCalibSec,"iter_calib_mt_sec":$iterCalibMtSec,"iter_calib_io_sec":$iterCalibIoSec,"calib_min_sec":$calibMin,"calib_mt_min_sec":$calibMtMin,"calib_io_min_sec":$calibIoMin,"calib_mt_threads":$mtThreads,"calib_gate":$gateRatio,"iter_discarded":$discarded,"discarded_total":$discardedTotal,"errors":$errs,"failed":$nFailed,"warmup_sec":$warmupSec,"sf":"$sfDir"}"""
    // The detailed line first (full per-iteration attribution — also
    // landed in files below), then a COMPACT final line. The driver
    // keeps only the LAST ~2000 characters of stdout and parses a JSON
    // line out of that window: once the per-iteration arrays landed
    // (round 13) the single detailed line outgrew the window and
    // BENCH_r13/r14 both recorded "parsed": null — the head of the
    // line was cut off before the parser ever saw it. The compact line
    // carries everything the driver compares (total, per-query minima,
    // calibration floor, failures) in well under the window; doubles
    // are rounded to 4 decimals so 30+ headliners still fit.
    def r4(d: Double): String = {
      val v = math.rint(d * 1e4) / 1e4
      if (v == v.toLong) v.toLong.toString else v.toString
    }
    val qsCompact = results.map { case (k, ts, _, _) =>
      val ok = ts.flatten.map(_._1)
      "\"" + k + "\":" + (if (ok.isEmpty) "null" else r4(ok.min))
    }.mkString("{", ",", "}")
    // errors in the COMPACT line are truncated far harder than the
    // detailed line's 300 chars: jstr escaping EXPANDS (a control
    // char becomes 6 chars), so a single raw-bytes Spark message
    // could push the compact line back past the driver's tail window
    // — in exactly the failed-run case this line exists for. 60
    // pre-escape chars identify the failure; the full message is one
    // line up and in bench_out.json.
    def jstrShort(s: String): String = jstr(s.take(60))
    val errsCompact = results.collect { case (k, _, Some(m), _) =>
      "\"" + k + "\":" + jstrShort(m)
    }.mkString("{", ",", "}")
    val compact = s"""{"metric":"total","value":${r4(total)},"unit":"sec","queries":$qsCompact,"calib_min_sec":$calibMin,"calib_mt_min_sec":$calibMtMin,"calib_io_min_sec":$calibIoMin,"discarded_total":$discardedTotal,"errors":$errsCompact,"failed":$nFailed,"warmup_sec":${r4(warmupSec)},"sf":"$sfDir"}"""
    println(json)
    println(compact)
    // Also land the line in files: the driver scrapes stdout through
    // sbt's [info] prefixes and has failed to parse it (BENCH_r07
    // "parsed": null) — a machine-readable copy removes the scrape.
    val outs = Seq(
      java.nio.file.Paths.get("bench_out.json"),
      java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"), "graft_bench.json"))
    outs.foreach { p =>
      try java.nio.file.Files.writeString(p, json + "\n")
      catch {
        case e: Throwable =>
          // keep going (stdout still carries the line) but SAY so — a
          // silent miss here puts the driver back on stdout scraping
          System.err.println(s"WARN: could not write bench output to $p: $e")
      }
    }
    spark.stop()
    // drop the sentinel table eagerly on the clean path (the shutdown
    // hook above also covers this, but deleting before JVM teardown
    // keeps the hook a no-op in the common case)
    Harness.rmTree(ioSentinelPath)
  }
}
