package graft

/** Times EVERY registered query (not just the bench headliners) against
  * a scale dir — the sweep that catches operators whose cost curve bends
  * at 10× data. Usage:
  *   sbt "runMain graft.AllTime [sfDir] [queryName...]"
  */
object AllTime {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val only = args.drop(1).toSet
    val spark = Harness.session()
    // SPARK_GRAFT_REPEAT > 1 reports each query's best-of-N (steady
    // state) — single runs at this scale carry 2-8× JVM noise.
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "1").toInt
    require(repeat > 0, s"SPARK_GRAFT_REPEAT must be positive, got $repeat")
    SparkEntry.all.filter(q => only.isEmpty || only(q.name)).foreach { q =>
      try {
        val times = (1 to repeat).map { _ =>
          val t0 = System.nanoTime()
          Harness.exec(q.run(spark, sfDir))
          (System.nanoTime() - t0) / 1e9
        }
        // the full iteration array rides along so a spread (GC, cache
        // churn) is visible without re-running
        val tag = if (repeat > 1)
          s" (best of $repeat) " + times.map(t => f"$t%.2f").mkString("[", ",", "]")
        else ""
        println(f"ALLTIME ${q.name}%-24s ${times.min}%8.2f s$tag")
      } catch { case e: Throwable =>
        println(f"ALLTIME ${q.name}%-24s FAILED ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
