package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder. With tracing off every `span` is a plain call:
  * nothing is recorded and no listener is attached.
  *
  * A span is (id, name, parent, op, start, end); times are nanoseconds
  * since the tracer was created. Code spans nest through a stack on the
  * client thread; spans reported by listeners (Spark jobs, Catalyst
  * phases) get their parent at `finish` — the innermost code span of the
  * same op that contains them. */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, name: String, parent: Int, op: Int,
      start: Long, end: Long) {
    def layer: String = name.takeWhile(_ != '.')
    def dur: Long = end - start
  }

  private val nano0 = System.nanoTime()
  private val milli0 = System.currentTimeMillis()
  private val recorded = ArrayBuffer.empty[Span]
  private val external = ArrayBuffer.empty[(String, Int, Long, Long)]
  private var stack: List[Int] = Nil
  private var nextId = 0
  /** The op the client is running; -1 during set-up and checks. */
  var op: Int = -1

  def now: Long = System.nanoTime() - nano0
  def fromEpochMs(ms: Long): Long = (ms - milli0) * 1000000L

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val s = now
      try f
      finally {
        stack = stack.tail
        recorded += Span(id, name, parent, op, s, now)
      }
    }

  /** A span timed outside the client thread, in tracer nanoseconds. */
  def addExternal(name: String, op: Int, start: Long, end: Long): Unit =
    if (enabled) external.synchronized { external += ((name, op, start, end)) }

  /** Every span, listener spans parented. */
  lazy val spans: Seq[Span] = {
    val code = recorded.toVector
    val byOp = code.groupBy(_.op)
    var id = nextId
    val ext = external.toVector.map { case (name, o, s, e) =>
      val parent = byOp.getOrElse(o, Vector.empty)
        .filter(c => c.start <= s && e <= c.end)
        .sortBy(c => -c.start).headOption.map(_.id).getOrElse(-1)
      id += 1
      Span(id, name, parent, o, s, e)
    }
    code ++ ext
  }

  /** Span id → its duration minus the time covered by its children. */
  lazy val selfTime: Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.start, s.start), math.min(k.end, s.end))))
      s.id -> math.max(0L, s.dur - covered)
    }.toMap
  }

  def spansJsonl: Iterator[String] = spans.iterator.map { s =>
    Json.write(Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "op" -> s.op, "start_us" -> s.start / 1000, "end_us" -> s.end / 1000,
      "self_us" -> selfTime(s.id) / 1000))
  }

  /** Length of the union of intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(p => p._2 > p._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** What Spark did for one op (tracer nanoseconds for the intervals). */
final class OpStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var taskCpuNs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var inputBytes = 0L
  val jobIntervals = ArrayBuffer.empty[(Long, Long)]
  val stageTaskMs = mutable.Map.empty[Int, ArrayBuffer[Long]]
}

/** Per-op Spark tallies from a `SparkListener`, plus Catalyst phase spans
  * from a `QueryExecutionListener`. Jobs are tied to the op through the
  * `perfbench.op` local property the client sets before each op; stages
  * and tasks through their job. */
final class SparkProbe(spark: SparkSession, tracer: Tracer)
    extends SparkListener with QueryExecutionListener {
  val ops = mutable.Map.empty[Int, OpStats]
  private val jobOp = mutable.Map.empty[Int, (Int, Long)]
  private val stageOp = mutable.Map.empty[Int, Int]

  private def stats(op: Int) = ops.getOrElseUpdate(op, new OpStats)

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    val op = Option(js.properties)
      .flatMap(p => Option(p.getProperty(SparkProbe.OpProperty)))
      .map(_.toInt).getOrElse(-1)
    jobOp(js.jobId) = (op, js.time)
    js.stageIds.foreach(stageOp(_) = op)
    stats(op).jobs += 1
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
    jobOp.remove(je.jobId).foreach { case (op, t0) =>
      val (s, e) = (tracer.fromEpochMs(t0), tracer.fromEpochMs(je.time))
      stats(op).jobIntervals += ((s, e))
      tracer.addExternal("spark.job", op, s, e)
    }
  }

  override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit =
    synchronized {
      stats(stageOp.getOrElse(ss.stageInfo.stageId, -1)).stages += 1
    }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    val st = stats(stageOp.getOrElse(te.stageId, -1))
    st.tasks += 1
    val dur = te.taskInfo.duration
    st.taskMs += dur
    st.stageTaskMs.getOrElseUpdate(te.stageId, ArrayBuffer.empty) += dur
    Option(te.taskMetrics).foreach { m =>
      st.taskCpuNs += m.executorCpuTime
      st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      st.inputBytes += m.inputMetrics.bytesRead
    }
  }

  // Catalyst: the phases each executed query spent in analysis,
  // optimization and planning, attributed to ops by time in `finish`
  private val phases = ArrayBuffer.empty[(String, Long, Long)]

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (name, p) =>
      phases += ((name, tracer.fromEpochMs(p.startTimeMs),
        tracer.fromEpochMs(p.endTimeMs)))
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Waits for the bus, detaches, and turns Catalyst phases into spans
    * of the op whose interval holds them. */
  def finish(opIntervals: Seq[(Int, Long, Long)]): Unit = {
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    synchronized {
      phases.foreach { case (name, s, e) =>
        val op = opIntervals.find { case (_, os, oe) => os <= s && s <= oe }
          .map(_._1).getOrElse(-1)
        tracer.addExternal(s"catalyst.$name", op, s, e)
      }
    }
  }
}

object SparkProbe {
  val OpProperty = "perfbench.op"

  def setOp(sc: SparkContext, op: Int): Unit =
    sc.setLocalProperty(OpProperty, if (op < 0) null else op.toString)
}

/** JVM counters read around each op: GC time and process CPU time. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => Some(b)
    case _ => None
  }
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
  def cpuNs: Long = os.map(_.getProcessCpuTime).getOrElse(0L)
}

/** Noise attribution: the box's state at the start and end of a run.
  * The spins are fixed work, so their wall time moves only with the
  * machine (frequency, other tenants), never with the code under test. */
object Noise {
  @volatile private var sink = 0L

  private def spin(seed: Long): Unit = {
    var x = 0x9e3779b97f4a7c15L + seed
    var i = 0
    while (i < 20000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    sink = x
  }

  private def timeMs(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e6
  }

  /** CPU time the hypervisor gave to other guests since boot, in clock
    * ticks (the `steal` field of /proc/stat; -1 where there is none). */
  private def stealTicks: Long =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      try f.getLines().next().split("\\s+").lift(8).map(_.toLong).getOrElse(-1L)
      finally f.close()
    } catch { case _: Exception => -1L }

  def sample(): Map[String, Any] = {
    val n = Runtime.getRuntime.availableProcessors()
    val single = timeMs(spin(0))
    val all = timeMs {
      val ts = (0 until n).map { i =>
        val t = new Thread(() => spin(i.toLong))
        t.start()
        t
      }
      ts.foreach(_.join())
    }
    Json.obj("nproc" -> n,
      "loadavg_1m" -> ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage,
      "spin_single_ms" -> single, "spin_all_cores_ms" -> all,
      "steal_ticks" -> stealTicks)
  }
}

/** Minimal JSON writer for the result file; maps keep insertion order. */
object Json {
  def obj(kv: (String, Any)*): Map[String, Any] =
    scala.collection.immutable.ListMap(kv: _*)

  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
