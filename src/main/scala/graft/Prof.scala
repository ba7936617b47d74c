package graft

/** Per-job/per-stage attribution for a named set of registered
  * queries — the "measure first" harness (guide §1): runs each query
  * once untimed (JIT/page-cache warmup), then once instrumented, and
  * prints every Spark job with its wall time, stage task-time totals,
  * and shuffle bytes so the expensive jobs inside a composed query
  * (CC rounds, maintenance anti-joins, signature builds) are
  * attributable without the UI. Usage:
  *
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.Prof <sfDir> <name1,name2,...>"
  *
  * Noop-sink materialization, like Bench. Diagnostic only — never run
  * by the driver. */
object Prof {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Prof <sfDir> <name1,name2,...>")
    val sfDir = args(0)
    val names = args(1).split(',').toSeq
    // A/B knob: SPARK_GRAFT_EXTRA_CONF="k=v;k=v" overlays session confs
    val overlay = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(';')).filter(_.contains('=')).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> v
      }
    val spark = Harness.session(overlay: _*)

    val byName = SparkEntry.all.map(q => q.name -> q).toMap
    names.foreach { n =>
      val q = byName.getOrElse(n,
        throw new IllegalArgumentException(s"not registered: $n"))
      def execOnce(): Unit = Harness.exec(q.run(spark, sfDir))
      execOnce() // warmup (JIT + page cache), unmeasured
      Harness.profiled(n)(execOnce())
    }
    spark.stop()
  }
}
