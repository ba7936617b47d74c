package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.Queries

/** The relational bench queries — the `Queries.relational` rows graft.Bench
  * times — cycled in seeded order over the read-only sf0.1 test data. Each
  * op builds the query (`Q.run`) and materializes it through the noop
  * sink; the caller then releases caches, as Bench does. Set-up is the
  * session alone: the queries scan their parquet tables lazily.
  *
  * The check runs before the measured rounds and doubles as their
  * warm-up: every query of the workload runs once (several at a time)
  * and writes its result under `work/check/<name>/`, beside `oracle.json`
  * (its registered oracle SQL). After the JVM exits the caller compares each result with that
  * SQL run by DuckDB; a query that differs fails every op of it. */
final class RelationalWorkload(inputs: String, data: String, work: String,
    tracer: Tracer) extends Workload {

  private val rounds: Vector[Vector[String]] = {
    val n = new ObjectMapper().readTree(
      Files.readString(Paths.get(inputs, "order.json")))
    n.get("rounds").elements.asScala
      .map(_.elements.asScala.map(_.asText).toVector).toVector
  }
  private val queries: Map[String, Queries.Q] = {
    val byName = Queries.relational.map(q => q.name -> q).toMap
    val missing = rounds.flatten.distinct.filterNot(byName.contains)
    require(missing.isEmpty,
      s"Queries.relational has no query ${missing.mkString(", ")}")
    rounds.flatten.distinct.map(n => n -> byName(n)).toMap
  }
  private var spark: SparkSession = _
  private val checkDir = s"$work/check"
  private var checkFailures = Map.empty[String, String]
  val Checkers = 4

  def setup(s: SparkSession): Unit = spark = s

  private def run(q: Queries.Q): Unit =
    try {
      val df = tracer.span("queries.build")(q.run(spark, data))
      df.write.format("noop").mode("overwrite").save()
    } finally spark.catalog.clearCache()

  /** Runs every query once, `Checkers` at a time: the pass is untimed,
    * and the jobs of one small query leave most cores idle. Caches are
    * released once all have finished, so no query loses a cache it is
    * reading. */
  def warmup(): Unit = {
    Files.createDirectories(Paths.get(checkDir))
    val names = rounds.head
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Checkers)
    try {
      names.map { name =>
        pool.submit(new Runnable {
          def run(): Unit =
            try queries(name).run(spark, data).write.mode("overwrite")
              .parquet(s"$checkDir/$name")
            catch { case e: Exception => RelationalWorkload.this.synchronized {
              checkFailures += name ->
                s"${e.getClass.getSimpleName}: ${e.getMessage}"
            } }
        })
      }.foreach(_.get())
    } finally {
      pool.shutdown()
      spark.catalog.clearCache()
    }
    Files.writeString(Paths.get(checkDir, "oracle.json"), Json.write(
      Json.obj(names.map(n => n -> queries(n).oracle.orNull): _*)))
  }

  def round(i: Int): Option[Seq[Op]] =
    rounds.lift(i).map(_.map { name =>
      Op("read", name, () => run(queries(name)))
    })

  def layers(ops: Seq[OpRecord], tracer: Tracer,
      probe: Option[SparkProbe]): Map[String, Double] = {
    val n = math.max(1, ops.size).toDouble
    Map("queries.build_ms" -> tracer.spans
      .filter(s => s.op >= 0 && s.name == "queries.build")
      .map(s => tracer.selfTime(s.id)).sum / 1e6 / n)
  }

  def facts: Map[String, Any] = Json.obj(
    "queries" -> rounds.head, "rounds_generated" -> rounds.size,
    "check_failures" -> checkFailures)
}
