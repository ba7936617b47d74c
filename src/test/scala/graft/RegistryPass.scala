package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** One construction pass over every registered query, shared by the
  * whole-registry tests ([[AnalysisGuardSpec]]'s analysis sweep and
  * [[PlanQualitySpec]]'s cartesian sweep). Building the queries is
  * what those tests pay for: most registered queries launch jobs while
  * being built (measured at sf0.001 on a 4 vCPU host: 278 of 288, and
  * 249.7 s of a 260.9 s pass, against 11.2 s for every
  * `explainString` and ~0 s for analysis). `Test / fork` runs every
  * suite in one JVM, so the pass runs once per test run. Each query is
  * built and explained in its own query scope, so the pass holds no
  * query's persists or checkpoints past its own. */
object RegistryPass {

  /** One query's outcome: the failure to build or analyze it, else its
    * formatted physical plan or the failure to plan it. */
  final case class Entry(name: String, analysisError: Option[Throwable],
      plan: Either[Throwable, String])

  private var pass: Option[(String, Seq[Entry])] = None

  /** Every registered query built against the testdata at `dir`. */
  def apply(spark: SparkSession, dir: String): Seq[Entry] = synchronized {
    pass match {
      case Some((d, entries)) =>
        require(d == dir, s"registry pass built over $d, asked for $dir")
        entries
      case None =>
        val entries = SparkEntry.all.map { q =>
          try graft.operators.Caching.scoped {
            val qe = q.run(spark, dir).queryExecution
            qe.analyzed
            Entry(q.name, None,
              try Right(qe.explainString(FormattedMode))
              catch { case e: Throwable => Left(e) })
          } catch { case e: Throwable => Entry(q.name, Some(e), Left(e)) }
        }
        pass = Some(dir -> entries)
        entries
    }
  }
}
