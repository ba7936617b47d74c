package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One timed unit of client work. `run` is timed; `verify` runs after the
  * clock stops and names what was wrong with the result, if anything. */
final case class Op(kind: String, label: String, run: () => Any,
    verify: Any => Option[String] = _ => None)

final case class OpRecord(id: Int, round: Int, kind: String, label: String,
    start: Long, end: Long, gcMs: Long, cpuNs: Long, storageBytes: Long,
    error: Option[String]) {
  def ms: Double = (end - start) / 1e6
}

/** A closed-loop workload: one client runs the ops of each round back to
  * back. Rounds have a fixed composition, so a run's percentiles do not
  * depend on where the clock happened to stop. */
trait Workload {
  /** Loads the workload's state into a fresh session; timed into setup_s. */
  def setup(spark: SparkSession): Unit
  /** Untimed work after the last set-up (JIT, codegen, page cache). */
  def warmup(): Unit
  /** The ops of measured round `i`, or None once the inputs run out. */
  def round(i: Int): Option[Seq[Op]]
  /** Untimed state check after round `i`; a failure fails its last op. */
  def checkRound(i: Int): Option[String] = None
  /** Workload-specific per-layer metrics. */
  def layers(ops: Seq[OpRecord], tracer: Tracer,
      probe: Option[SparkProbe]): Map[String, Double]
  /** Facts for the artifact: input sizes, configuration, state. */
  def facts: Map[String, Any]
}

/** Benchmark entry: builds the session (Bench's shape) several times to
  * time set-up, warms up, runs measured rounds for `--seconds`, and
  * writes one JSON result (plus the span log when `--trace 1`).
  *
  *   PerfBench --workload <minisql_repl|relational_sf0.1|manifest_cdc>
  *     --inputs <dir> --data <sf0.1 dir> --seconds <s> --trace <0|1>
  *     --setups <n> --work <dir> --out <file>
  */
object PerfBench {

  final case class Args(workload: String, inputs: String, data: String,
      seconds: Double, trace: Boolean, setups: Int, work: String, out: String)

  def parseArgs(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("inputs"), m("data"), m("seconds").toDouble,
      m("trace") == "1", m("setups").toInt, m("work"), m("out"))
  }

  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** Bench's session shape, recorded in the artifact. */
  def sessionConf(work: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> s"$work/spark-local",
    "spark.sql.warehouse.dir" -> s"$work/warehouse")

  def session(work: String): SparkSession = {
    val spark = sessionConf(work)
      .foldLeft(SparkSession.builder().appName("perfbench")) {
        case (b, (k, v)) => b.config(k, v)
      }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = p * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest percentile with at least ten samples beyond it (the
    * median when a run holds too few samples for any higher one). */
  def tailPercentile(n: Int): Double = math.max(0.5, 1.0 - 10.0 / n)

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    Files.createDirectories(Paths.get(a.work))
    val noiseStart = Noise.sample()
    val tracer = new Tracer(a.trace)
    val wl: Workload = a.workload match {
      case "minisql_repl" => new ReplWorkload(a.inputs, tracer)
      case "relational_sf0.1" =>
        new RelationalWorkload(a.inputs, a.data, a.work, tracer)
      case "manifest_cdc" => new ManifestCdcWorkload(a.inputs, a.work, tracer)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    // ---- set-up, several times: the median is setup_s ----------------
    var spark: SparkSession = null
    val setupSec = (1 to a.setups).map { _ =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      tracer.span("setup") {
        spark = tracer.span("spark.session")(session(a.work))
        wl.setup(spark)
      }
      (System.nanoTime() - t0) / 1e9
    }
    val sc = spark.sparkContext
    val w0 = System.nanoTime()
    wl.warmup()
    val warmupSec = (System.nanoTime() - w0) / 1e9

    // ---- measured rounds ------------------------------------------------
    val probe = if (a.trace) {
      val p = new SparkProbe(spark, tracer)
      p.attach()
      Some(p)
    } else None
    val ops = ArrayBuffer.empty[OpRecord]
    var measuredNs = 0L
    var checkNs = 0L
    var round = 0
    var more = true
    while (more) {
      wl.round(round) match {
        case None => more = false
        case Some(roundOps) =>
          roundOps.foreach { op =>
            val id = ops.size
            tracer.op = id
            SparkProbe.setOp(sc, id)
            val (g0, c0) = (Jvm.gcMs, Jvm.cpuNs)
            val start = tracer.now
            val out =
              try Right(tracer.span(s"op.${op.kind}")(op.run()))
              catch { case e: Throwable => Left(e) }
            val end = tracer.now
            val (gc, cpu) = (Jvm.gcMs - g0, Jvm.cpuNs - c0)
            SparkProbe.setOp(sc, -1)
            tracer.op = -1
            val pinned = if (!a.trace) 0L else sc.getExecutorMemoryStatus
              .values.map { case (max, free) => max - free }.sum
            val error = out match {
              case Left(e) => Some(s"${e.getClass.getSimpleName}: " +
                Option(e.getMessage).getOrElse("").take(300))
              case Right(v) => op.verify(v)
            }
            measuredNs += end - start
            ops += OpRecord(id, round, op.kind, op.label, start, end, gc, cpu,
              pinned, error)
          }
          val c0 = System.nanoTime()
          val checked = wl.checkRound(round)
          checkNs += System.nanoTime() - c0
          checked.foreach { err =>
            val last = ops.size - 1
            ops(last) = ops(last).copy(error = Some(err))
          }
          round += 1
          more = measuredNs < a.seconds * 1e9
      }
    }
    probe.foreach(_.finish(ops.map(o => (o.id, o.start, o.end)).toSeq))

    // ---- metrics --------------------------------------------------------
    val reads = ops.filter(_.kind == "read").map(_.ms).toSeq
    val tailP = tailPercentile(reads.size)
    val e2e = Json.obj(
      "setup_s" -> percentile(setupSec, 0.5),
      "ops_per_s" -> ops.size / (measuredNs / 1e9),
      "read_p50_ms" -> percentile(reads, 0.5),
      "read_tail_ms" -> percentile(reads, tailP))
    val layers = commonLayers(ops.toSeq, tracer, probe) ++
      wl.layers(ops.toSeq, tracer, probe)
    val failed = ops.filter(_.error.nonEmpty)
    val noiseEnd = Noise.sample()
    spark.stop()

    val result = Json.obj(
      "workload" -> a.workload, "seconds" -> a.seconds, "trace" -> a.trace,
      "session" -> Json.obj(sessionConf(a.work)
        .filterNot(_._1.endsWith(".dir")): _*),
      "setup_s_samples" -> setupSec, "warmup_s" -> warmupSec,
      "check_s" -> checkNs / 1e9,
      "attempted" -> ops.size, "failed" -> failed.size,
      "error_frac" -> failed.size.toDouble / math.max(1, ops.size),
      "errors" -> failed.take(20).map(o => Json.obj("op" -> o.id,
        "label" -> o.label, "error" -> o.error.get)),
      "read_tail" -> Json.obj("percentile" -> tailP * 100, "n" -> reads.size,
        "beyond" -> reads.count(_ > percentile(reads, tailP))),
      "end_to_end" -> e2e,
      "per_layer" -> layers,
      "layer_self_ms_per_op" -> selfByLayer(ops.toSeq, tracer),
      "noise" -> Json.obj("start" -> noiseStart, "end" -> noiseEnd),
      "facts" -> wl.facts,
      "ops" -> ops.map(o => Json.obj("id" -> o.id, "round" -> o.round,
        "kind" -> o.kind, "label" -> o.label, "ms" -> o.ms,
        "gc_ms" -> o.gcMs, "cpu_ms" -> o.cpuNs / 1e6, "ok" -> o.error.isEmpty)))
    Files.writeString(Paths.get(a.out), Json.write(result) + "\n")
    if (a.trace) {
      val w = Files.newBufferedWriter(Paths.get(a.out + ".spans.jsonl"))
      try tracer.spansJsonl.foreach { l => w.write(l); w.newLine() }
      finally w.close()
    }
  }

  /** Self time per op of every layer, over the measured ops. */
  def selfByLayer(ops: Seq[OpRecord], tracer: Tracer): Map[String, Double] =
    if (!tracer.enabled || ops.isEmpty) Map.empty
    else tracer.spans.filter(_.op >= 0).groupBy(_.layer).map {
      case (layer, ss) => layer -> ss.map(s => tracer.selfTime(s.id)).sum /
        1e6 / ops.size
    }

  /** Layers every workload crosses: Catalyst, Spark, the JVM. Zero when
    * untraced (the listeners are not attached then). */
  def commonLayers(ops: Seq[OpRecord], tracer: Tracer,
      probe: Option[SparkProbe]): Map[String, Double] = {
    val n = math.max(1, ops.size).toDouble
    // an op that launched no job has no stats: all of its wall time is gap
    val st = if (probe.isEmpty) Nil
      else ops.map(o => o -> probe.get.ops.getOrElse(o.id, new OpStats))
    def per(f: OpStats => Double): Double =
      if (probe.isEmpty) 0.0 else st.map { case (_, s) => f(s) }.sum / n
    // slowest task over the median task of each stage (1 = even)
    val skews = st.flatMap(_._2.stageTaskMs.values)
      .map { ts =>
        val med = percentile(ts.map(_.toDouble).toSeq, 0.5)
        if (med <= 0) 1.0 else ts.max / med
      }
    val gaps = st.map { case (o, s) =>
      (o.end - o.start - tracer.union(s.jobIntervals.toSeq
        .map(iv => (math.max(iv._1, o.start), math.min(iv._2, o.end))))) / 1e6
    }
    val catalyst = tracer.spans
      .filter(s => s.op >= 0 && s.layer == "catalyst").map(_.dur).sum / 1e6
    val wallMs = ops.map(_.ms).sum
    Map(
      "catalyst.plan_ms" -> catalyst / n,
      "spark.jobs_per_op" -> per(_.jobs),
      "spark.stages_per_op" -> per(_.stages),
      "spark.tasks_per_op" -> per(_.tasks),
      "spark.task_ms" -> per(_.taskMs),
      "spark.task_cpu_ms" -> per(_.taskCpuNs / 1e6),
      "spark.shuffle_read_bytes" -> per(_.shuffleRead),
      "spark.shuffle_write_bytes" -> per(_.shuffleWrite),
      "spark.spill_bytes" -> per(_.spill),
      "sources.scan_bytes" -> per(_.inputBytes),
      "spark.task_skew" -> (if (skews.isEmpty) 0.0 else skews.sum / skews.size),
      "spark.executor_busy" ->
        (if (wallMs <= 0) 0.0 else per(_.taskMs) * n / (wallMs * cores)),
      "spark.driver_gap_ms" -> gaps.sum / n,
      "spark.storage_pinned_mb" -> ops.map(_.storageBytes).sum / n / 1048576.0,
      "jvm.gc_ms" -> ops.map(_.gcMs).sum / n,
      "jvm.cpu_ms" -> ops.map(_.cpuNs).sum / 1e6 / n)
  }
}
