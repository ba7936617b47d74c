package graft

import scala.util.matching.Regex

/** Dumps the formatted physical plan of every headline (bench) query —
  * the artifact reviewed for scan pruning (`ReadSchema`/
  * `PushedFilters`), join strategy (broadcast vs shuffle), and
  * whole-stage-codegen coverage. Run:
  *   sbt "runMain graft.Plans [sfDir]"   (writes PLANS.md in cwd)
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // fixed width and memory page, so the plans do not depend on the
    // host: the page size otherwise follows the heap, and a broadcast
    // stage's size statistic is whole pages
    val spark = Harness.session(
      "spark.master" -> "local[4]", "spark.sql.shuffle.partitions" -> "4",
      "spark.buffer.pageSize" -> "32m")

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
      sb ++= s"\n## ${q.name}\n\n```\n${normalize(plan)}```\n"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${picked.size} plans)")
    spark.stop()
  }

  private val Fixed = Seq(
    """(graft_[a-z_]+)_\d+_([0-9a-f]{16})""".r -> "$1_<pid>_$2",
    """(/[A-Za-z_]+)\d{15,20}\b""".r -> "$1<tmp>",
    """\$\$Lambda[^\s,@]*@[0-9a-f]+""".r -> Regex.quoteReplacement("$$Lambda"))

  private val Counted = """(#|plan_id=|RDD\[|lambda [A-Za-z]+_)(\d+)""".r

  /** `plan` with the parts that change from run to run made stable, so
    * that two runs of the same code write the same PLANS.md:
    *  - the pid in a scratch directory (`graft_jsonl_<pid>_<digest>`);
    *  - the random suffix `Files.createTempDirectory` gives its prefix;
    *  - a lambda's class number, address and identity hash;
    *  - expression, plan, RDD and lambda-variable ids, which count up
    *    across the JVM: renumbered from 1 in order of first appearance
    *    in `plan`. */
  def normalize(plan: String): String = {
    val fixed = Fixed.foldLeft(plan) { case (s, (re, to)) =>
      re.replaceAllIn(s, to) }
    val ids = scala.collection.mutable.Map.empty[String, Map[String, Int]]
      .withDefaultValue(Map.empty)
    Counted.replaceAllIn(fixed, m => {
      val (kind, id) = (m.group(1), m.group(2))
      val seen = ids(kind)
      val n = seen.getOrElse(id, seen.size + 1)
      ids(kind) = seen.updated(id, n)
      Regex.quoteReplacement(s"$kind$n")
    })
  }
}
