package graft

import org.apache.spark.sql.execution.FormattedMode

/** Physical-plan quality pins — the properties that decide whether a
  * query survives a 100× scale-up, asserted so a refactor that loses
  * them fails CI instead of shipping a plan that "works" at sf0.01 and
  * melts at 100 TB:
  *
  *  - predicate pushdown reaches the parquet scan (`PushedFilters`);
  *  - column pruning reaches the scan (`ReadSchema` carries only what
  *    the query needs — a 2-column projection must not read 16);
  *  - small dimensions broadcast instead of shuffling the fact side;
  *  - no UNINTENDED cartesian product anywhere in the registry: the
  *    only `CartesianProduct` operators allowed are the queries whose
  *    semantics ARE a product (reference cross-join parity) or whose
  *    product is provably bounded (1-row aggregate frames).
  *
  * Plans.scala dumps all plans for human review; this spec pins the
  * handful of properties a reviewer would reject a plan over.
  */
class PlanQualitySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def physicalPlan(name: String): String =
    SparkEntry.all.find(_.name == name)
      .getOrElse(fail(s"no registered query named $name"))
      .run(spark, dir).queryExecution.explainString(FormattedMode)

  test("q_filter_eq pushes its predicate into the parquet scan") {
    val p = physicalPlan("q_filter_eq")
    assert(p.contains("PushedFilters"), p)
    assert(!p.matches("(?s).*PushedFilters: \\[\\].*"),
      s"empty PushedFilters — predicate not pushed:\n$p")
  }

  test("q_projection prunes the scan to the projected columns") {
    val df = SparkEntry.all.find(_.name == "q_projection").get.run(spark, dir)
    val p = df.queryExecution.explainString(FormattedMode)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema"))
      .getOrElse(fail(s"no ReadSchema line:\n$p"))
    // exactly the projected columns reach the reader — lineitem has 16,
    // so an unpruned scan shows up as 16 struct fields here
    assert(readSchema.count(_ == ':') - 1 <= df.columns.length,
      s"scan reads more columns than the ${df.columns.length}-column " +
        s"projection needs: $readSchema")
  }

  test("small-dimension joins broadcast instead of shuffling the fact side") {
    val p = physicalPlan("q_join_multi")
    assert(p.contains("BroadcastHashJoin"),
      s"expected at least one broadcast join in the multi-join plan:\n$p")
  }

  test("PLANS.md covers every registered query (plan audit freshness)") {
    // Plans.scala writes one `## <name>` section per registered query;
    // AnalysisGuardSpec and the cartesian sweep below are TOTAL over the
    // registry automatically, but the human-readable plan dump is a
    // committed file that can silently go stale (round 12 shipped it six
    // queries behind). Pin section count == registry size so registering
    // a query without re-running `sbt "runMain graft.Plans"` fails CI.
    val plansFile = Seq("PLANS.md", "/root/repo/PLANS.md")
      .map(java.nio.file.Paths.get(_)).find(java.nio.file.Files.exists(_))
      .getOrElse(fail("PLANS.md not found — run `sbt \"runMain graft.Plans\"`"))
    val sections = java.nio.file.Files.readAllLines(plansFile)
      .stream().filter(_.startsWith("## ")).count()
    assert(sections == SparkEntry.all.size,
      s"PLANS.md has $sections plan sections but the registry has " +
        s"${SparkEntry.all.size} queries — re-run `sbt \"runMain graft.Plans\"`")
  }

  test("ev_heavy_hitters runs the global Misra-Gries aggregation exactly once") {
    // the candidate frame is referenced through ONE inner broadcast
    // join precisely so the dominant full-events MG scan cannot run
    // twice (a semi-join + left-join pair canonicalized into two
    // non-reusable broadcast builds before this was pinned); each MG
    // execution shows as a partial + final ObjectHashAggregate pair
    val p = physicalPlan("ev_heavy_hitters")
    val mgAggs = p.linesIterator.count(l =>
      l.contains("graft_heavy_hitters") && l.contains("Functions"))
    assert(mgAggs == 2,
      s"expected exactly one MG aggregation (2 partial/final nodes), " +
        s"found $mgAggs:\n$p")
  }

  test("ev_sessionize_skew shuffles exactly twice: events by (user, bucket), runs by user") {
    // the two-level design's whole point is its exchange structure:
    // ONE event-level shuffle on (user_id, __b) — the spread that
    // fixes the hot-user straggler — then ONE run-level shuffle on
    // user_id whose rows are local sessions, not events. The local-run
    // aggregate between them must REUSE the (user, bucket)
    // partitioning (grouping on a superset of the partition keys), and
    // the final (user, session_idx) aggregate must reuse the user
    // partitioning. A third exchange means a refactor broke the reuse
    // and the hot key is back on one task.
    val p = physicalPlan("ev_sessionize_skew")
    val exchanges = p.linesIterator.count(l =>
      l.trim.startsWith("Arguments: hashpartitioning"))
    assert(exchanges == 2,
      s"expected exactly 2 hash exchanges in the two-level plan, got $exchanges:\n$p")
    assert(p.contains("__b"), "the first exchange must key on the time bucket")
  }

  test("no unintended CartesianProduct in any registered query") {
    // Intentional products: the reference's cross-join surface, and
    // queries that cross 1-row aggregate frames (bounded by design).
    val allowed = PlanQualitySpec.allowedCartesian
    val offenders = RegistryPass(spark, dir).flatMap { q =>
      val plan = q.plan.fold(e => fail(s"${q.name} failed to plan: $e"), identity)
      if (plan.contains("CartesianProduct") && !allowed(q.name)) Some(q.name)
      else None
    }
    assert(offenders.isEmpty,
      s"unexpected CartesianProduct in: ${offenders.mkString(", ")} — " +
        "either fix the join or add to allowedCartesian with a justification")
    spark.catalog.clearCache()
  }
}

object PlanQualitySpec {
  /** Queries whose CartesianProduct is intentional, with why. */
  val allowedCartesian: Set[String] = Set(
    "q_cross_join",   // reference parity: SELECT over 3 FROM tables IS a product
    "q_filter_cross"  // reference parity: filtered t1 × all t2
  )
}
