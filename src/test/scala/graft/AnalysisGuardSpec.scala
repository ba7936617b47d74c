package graft

/** Schema-drift tripwire: ANALYZE every registered query against the
  * live sf0.001 testdata.
  *
  * Round 11 lost 34 correctness rows, 25 tests, and 3 bench headliners
  * to a single testdata regeneration (events.ts int64-nanos →
  * timestamp[us]) with ZERO local signal — `sbt compile` stayed green
  * and Bench printed rc=0 while silently timing analysis exceptions.
  * Forcing `queryExecution.analyzed` resolves every column reference
  * and type-checks every expression against the parquet footers
  * without executing anything, so the next drift fails HERE with a
  * per-query report instead of surfacing as missing driver artifacts.
  *
  * Construction note: most queries do eager work when the DataFrame
  * is BUILT (io_* roundtrips write scratch files; IVF/PQ collect
  * bounded centroid samples; CC loops iterate), so construction-time
  * failures are caught too, not just analysis-time ones. That work is
  * nearly all of the sweep's cost — minutes, not milliseconds, even at
  * sf0.001 — so the sweep reads the shared [[RegistryPass]].
  */
class AnalysisGuardSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("registered query names are unique") {
    // SparkEntry.queries/oracleSql are Maps — a duplicate name silently
    // drops one query from the driver contract (last wins) while both
    // still run here. Fail loudly instead.
    val dups = SparkEntry.all.groupBy(_.name).filter(_._2.size > 1).keys
    assert(dups.isEmpty, s"duplicate query names: ${dups.mkString(", ")}")
  }

  test("all registered queries analyze against the live testdata schemas") {
    val failures = RegistryPass(spark, dir).flatMap { q =>
      q.analysisError.map { e =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        s"${q.name}: ${msg.linesIterator.take(3).mkString(" | ")}"
      }
    }
    assert(failures.isEmpty,
      s"\n${failures.size} of ${SparkEntry.all.size} queries failed analysis:\n" +
        failures.mkString("\n"))
  }
}
