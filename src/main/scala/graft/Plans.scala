package graft

/** Dumps the formatted physical plan of every headline (bench) query —
  * the artifact reviewed for scan pruning (`ReadSchema`/
  * `PushedFilters`), join strategy (broadcast vs shuffle), and
  * whole-stage-codegen coverage. Run:
  *   sbt "runMain graft.Plans [sfDir]"   (writes PLANS.md in cwd)
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // fixed width, so the plans do not depend on the host
    val spark = Harness.session(
      "spark.master" -> "local[4]", "spark.sql.shuffle.partitions" -> "4")

    // TOTAL audit: every registered query plans, no include-list — a
    // newly registered query joins the audit automatically instead of
    // silently going unreviewed (the round-7 include-list left 59
    // queries unaudited, several shuffle-bearing). `excluded` is the
    // narrow escape hatch for a query that cannot plan at sf0.001;
    // currently empty, and guarded so a stale name fails loudly.
    val excluded = Set.empty[String]
    val registered = SparkEntry.all.map(_.name).toSet
    val unknown = excluded.diff(registered)
    require(unknown.isEmpty, s"excluded names not in the registry: $unknown")
    val picked = SparkEntry.all.filterNot(q => excluded(q.name))
    val sb = new StringBuilder
    sb ++= s"# Physical plans (ALL registered queries, $sfDir)\n\n"
    sb ++= "Generated by `graft.Plans`. Reviewed for: filter/column pushdown\n"
    sb ++= "reaching the parquet scan, broadcast vs shuffle join choice, and\n"
    sb ++= "WholeStageCodegen span coverage. AQE is enabled (plans show the\n"
    sb ++= "initial strategy; AQE may re-plan at runtime on real stats).\n"
    picked.foreach { q =>
      val plan = operators.Caching.scoped {
        q.run(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      }
      sb ++= s"\n## ${q.name}\n\n```\n$plan```\n"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${picked.size} plans)")
    spark.stop()
  }
}
