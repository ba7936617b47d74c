package graft

import org.apache.spark.graft.SparkHooks
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** The one session shape every driver main runs under, and the helpers
  * the mains share: noop-sink materialization, best-of-N timing, temp
  * tree removal and per-job/per-stage attribution. A number from one
  * main is comparable with a number from another only because they
  * plan under the same configuration. */
object Harness {

  /** Local cores: `SPARK_GRAFT_CPUS`, else every available processor. */
  private def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The session shape for `cpus` local cores, with `extra` applied on
    * top (an `extra` key replaces the shape's value). */
  def conf(cpus: Int, extra: (String, String)*): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    // r20 (guide §2.2/§5): let AQE's size-based coalescing apply INSIDE
    // cached plans too — the operators persist many small intermediate
    // frames (signatures, buckets, cluster maps), and with the default
    // (false) every cache freezes the pre-AQE shuffle grid, so every
    // downstream scan of a tiny cached frame pays cpus× tasks of fixed
    // overhead. Scale-adaptive by construction: AQE sizes partitions
    // from bytes, so corpus-sized caches keep their parallelism on a
    // cluster. Measured at sf0.1 on 32 cores (OPTIMIZATION_r20.md):
    // pipeline_incremental_manifest 22.5 → 17.9 s,
    // pipeline_training_manifest 6.0 → 4.7 s.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.ui.enabled" -> "false") ++ extra

  /** The session: [[conf]] at [[cpus]] with `extra`, log level WARN. */
  def session(extra: (String, String)*): SparkSession = {
    val spark = conf(cpus, extra: _*)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Materializes `df` through the noop sink (a bare `count()` would let
    * Catalyst prune the projections being measured) in one query scope
    * ([[operators.Caching.scoped]]), and returns the storage bytes in use
    * right after it: the operator-internal persists and checkpoint
    * blocks the scope is about to release. */
  def exec(df: => DataFrame): Long = operators.Caching.scoped {
    df.write.format("noop").mode("overwrite").save()
    SparkSession.active.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, remaining) => max - remaining }.sum
  }

  /** Best-of-`iters` wall seconds of `body` after one untimed warm-up
    * run (Bench discipline). */
  def time(iters: Int)(body: => Unit): Double = {
    body
    (1 to iters).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }.min
  }

  /** Deletes `path` and everything under it. */
  def rmTree(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(); ()
    }
    rm(new java.io.File(path))
  }

  final case class JobRow(id: Int, desc: String, start: Long,
      var end: Long = 0L, var taskTimeMs: Long = 0L,
      var shuffleReadMb: Double = 0.0, var shuffleWriteMb: Double = 0.0,
      var tasks: Int = 0)
  final case class StageRow(id: Int, name: String, tasks: Int,
      runMs: Long, cpuMs: Long, deserMs: Long, shReadMb: Double,
      shWriteMb: Double)
  /** What [[profiled]] saw: the body's wall time, and every job (in
    * start order) and completed stage it ran. */
  final case class Profile(wallSec: Double, jobs: Seq[JobRow],
      stages: Seq[StageRow])

  /** Runs `body` under a job/stage listener, prints every job with its
    * wall time, task time and shuffle bytes, then the top stages, under
    * `label`, and returns the tallies — so the expensive jobs inside a
    * composed query are attributable without the UI. */
  def profiled(label: String)(body: => Unit): Profile = {
    val sc = SparkSession.active.sparkContext
    val jobs = mutable.LinkedHashMap.empty[Int, JobRow]
    val stages = mutable.ArrayBuffer.empty[StageRow]
    val stageToJob = mutable.HashMap.empty[Int, Int]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobs.synchronized {
          jobs(js.jobId) = JobRow(js.jobId, desc, js.time)
          js.stageIds.foreach(s => stageToJob(s) = js.jobId)
        }
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        jobs.synchronized {
          jobs.get(je.jobId).foreach(_.end = je.time)
        }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        jobs.synchronized {
          val m = sc.stageInfo.taskMetrics
          stages += StageRow(sc.stageInfo.stageId, sc.stageInfo.name,
            sc.stageInfo.numTasks, m.executorRunTime,
            m.executorCpuTime / 1000000L,
            m.executorDeserializeTime,
            m.shuffleReadMetrics.totalBytesRead / 1048576.0,
            m.shuffleWriteMetrics.bytesWritten / 1048576.0)
          for {
            jid <- stageToJob.get(sc.stageInfo.stageId)
            row <- jobs.get(jid)
          } {
            row.taskTimeMs += m.executorRunTime
            row.shuffleReadMb +=
              (m.shuffleReadMetrics.totalBytesRead / 1048576.0)
            row.shuffleWriteMb +=
              (m.shuffleWriteMetrics.bytesWritten / 1048576.0)
            row.tasks += sc.stageInfo.numTasks
          }
        }
    }
    // drain on both sides: events of earlier jobs must not reach the
    // listener, and events of the body's last jobs must all reach it
    // before it is removed (a removed listener never sees the events
    // still queued)
    SparkHooks.drainListeners(sc)
    sc.addSparkListener(listener)
    val t0 = System.nanoTime()
    val wall = try { body; (System.nanoTime() - t0) / 1e9 }
    finally {
      SparkHooks.drainListeners(sc)
      sc.removeSparkListener(listener)
    }
    println(f"%n=== $label: wall $wall%.3f s, ${jobs.size} jobs ===")
    println(f"${"job"}%5s ${"wall_ms"}%8s ${"task_ms"}%8s " +
      f"${"tasks"}%6s ${"shR_MB"}%8s ${"shW_MB"}%8s  desc")
    jobs.values.toSeq.sortBy(-_.taskTimeMs).take(120).foreach { j =>
      val w = if (j.end > 0) j.end - j.start else -1L
      println(f"${j.id}%5d $w%8d ${j.taskTimeMs}%8d ${j.tasks}%6d " +
        f"${j.shuffleReadMb}%8.1f ${j.shuffleWriteMb}%8.1f  " +
        j.desc.take(60))
    }
    val totalWallMs = jobs.values.map(j =>
      if (j.end > 0) j.end - j.start else 0L).sum
    println(f"sum of job walls: ${totalWallMs / 1000.0}%.3f s " +
      f"(gaps = driver/planning time: ${wall - totalWallMs / 1000.0}%.3f s)")
    println(s"-- top stages by task run time (${stages.size} stages) --")
    println(f"${"stage"}%6s ${"tasks"}%6s ${"run_ms"}%8s ${"cpu_ms"}%8s " +
      f"${"deser"}%6s ${"shR_MB"}%8s ${"shW_MB"}%8s  name/callsite")
    stages.sortBy(-_.runMs).take(60).foreach { s =>
      println(f"${s.id}%6d ${s.tasks}%6d ${s.runMs}%8d ${s.cpuMs}%8d " +
        f"${s.deserMs}%6d ${s.shReadMb}%8.1f ${s.shWriteMb}%8.1f  " +
        s.name.take(100))
    }
    Profile(wall, jobs.values.toSeq, stages.toSeq)
  }
}
