package graft

/** Dumps `.explain("formatted")` for a named set of queries into
  * per-query text files — the before/after plan evidence the
  * optimization rounds commit under `plans/r<N>/`. Usage:
  *
  *   sbt "runMain graft.PlanDump <outDir> <suffix> <name1,name2,...> [sfDir]"
  *
  * writes `<outDir>/<name>_<suffix>.txt` for each query. Unlike
  * [[Plans]] (the whole-registry PLANS.md audit) this targets the
  * handful of queries a round touches, so a before/after pair diffs
  * cleanly. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: PlanDump <outDir> <suffix> <name1,name2,...> [sfDir]")
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(',').toSet
    val sfDir = args.lift(3).getOrElse("/root/testdata/sf0.001")
    // fixed width, so the plans do not depend on the host
    val spark = Harness.session(
      "spark.master" -> "local[4]", "spark.sql.shuffle.partitions" -> "4")
    val registered = SparkEntry.all.map(_.name).toSet
    val unknown = names.diff(registered)
    require(unknown.isEmpty, s"not in the registry: $unknown")
    new java.io.File(outDir).mkdirs()
    SparkEntry.all.filter(q => names(q.name)).foreach { q =>
      val plan = operators.Caching.scoped {
        q.run(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      }
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${q.name}_$suffix.txt"), plan)
      println(s"wrote $outDir/${q.name}_$suffix.txt")
    }
    spark.stop()
  }
}
