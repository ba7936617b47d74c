package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import graft.engine.{AsciiTable, MiniSql, MiniSqlEngine}
import graft.engine.MiniSql.MiniSqlError
import graft.sources.CsvCatalog

/** The paper's REPL: a reference-dialect statement stream sent through the
  * CLI path — `MiniSqlEngine.execute` then `AsciiTable.render` — over a
  * catalog loaded with `CsvCatalog.load`. Set-up is the session plus the
  * catalog load. Every statement is a read; its rendered grid (or the
  * error text the CLI prints) must equal the naive in-memory answer the
  * generator stored beside it. The first `WarmupRounds` rounds of the
  * stream are the warm-up: in a fresh JVM statement latency keeps falling
  * for ~100 statements (JIT), and a run cut short of that measures how
  * far the JIT got rather than the engine.
  *
  * `MiniSqlEngine.execute` parses inside, so with tracing on the client
  * first parses the statement once more on its own to time the parser:
  * `engine.parse_ms` is that parse, and `engine.plan_ms` is the self time
  * of `execute` minus it (the parse `execute` makes is of the same
  * string). The extra parse is part of the tracing overhead. */
final class ReplWorkload(inputs: String, tracer: Tracer) extends Workload {

  val WarmupRounds = 5

  private final case class Stmt(round: Int, cls: String, sql: String,
      expect: JsonNode)

  private val stmts: Vector[Stmt] = {
    val mapper = new ObjectMapper()
    Files.readAllLines(Paths.get(inputs, "statements.jsonl")).asScala
      .map { l =>
        val n = mapper.readTree(l)
        Stmt(n.get("round").asInt, n.get("cls").asText, n.get("sql").asText,
          n.get("expect"))
      }.toVector
  }
  private val rounds = stmts.groupBy(_.round)
  private var engine: MiniSqlEngine = _
  private val loadMs = scala.collection.mutable.ArrayBuffer.empty[Double]

  def setup(spark: SparkSession): Unit = {
    val t0 = System.nanoTime()
    val tables = tracer.span("sources.load")(CsvCatalog.load(spark, inputs))
    loadMs += (System.nanoTime() - t0) / 1e6
    engine = new MiniSqlEngine(tables)
  }

  /** The CLI's output for one statement: the grid, or the error line. */
  private def cli(sql: String): String =
    try {
      if (tracer.enabled) tracer.span("engine.parse")(MiniSql.parse(sql))
      val df = tracer.span("engine.execute")(engine.execute(sql))
      tracer.span("engine.render")(AsciiTable.render(df))
    } catch { case MiniSqlError(msg) => msg }

  def warmup(): Unit =
    (0 until WarmupRounds).foreach(rounds(_).foreach(s => cli(s.sql)))

  def round(i: Int): Option[Seq[Op]] =
    rounds.get(i + WarmupRounds).map(_.map { s =>
      Op("read", s.cls, () => cli(s.sql), out => verify(s, out.toString))
    })

  /** Rendered grid → (header, rows) of trimmed cells. */
  private def cells(line: String): Seq[String] =
    line.split('|').toSeq.drop(1).map(_.trim)

  private def expectedCell(n: JsonNode): String =
    if (n.isNull) "NULL"
    else if (n.isArray) (n.get(1).asLong.toDouble / n.get(2).asLong).toString
    else n.asLong.toString

  private def verify(s: Stmt, out: String): Option[String] = {
    val e = s.expect
    if (e.has("error")) {
      val want = e.get("error").asText
      if (out == want) None else Some(s"${s.sql}: got '$out', want '$want'")
    } else {
      val lines = out.split('\n').toSeq
      val want = (e.get("header").elements.asScala.map(_.asText).toSeq,
        e.get("rows").elements.asScala.map(r =>
          r.elements.asScala.map(expectedCell).toSeq).toSeq)
      val got =
        if (lines.size < 4 || !lines.head.startsWith("+")) (Nil, Nil)
        else (cells(lines(1)), lines.slice(3, lines.size - 1).map(cells))
      if (got == want) None
      else Some(s"${s.sql}: rendered ${got._2.size} rows under " +
        s"${got._1.mkString(",")}; want ${want._2.size} under " +
        want._1.mkString(","))
    }
  }

  def layers(ops: Seq[OpRecord], tracer: Tracer,
      probe: Option[SparkProbe]): Map[String, Double] = {
    val n = math.max(1, ops.size).toDouble
    def self(name: String): Double = tracer.spans
      .filter(s => s.op >= 0 && s.name == name)
      .map(s => tracer.selfTime(s.id)).sum / 1e6 / n
    val parse = self("engine.parse")
    Map("engine.parse_ms" -> parse,
      "engine.plan_ms" -> math.max(0.0, self("engine.execute") - parse),
      "engine.render_ms" -> self("engine.render"),
      "sources.load_ms" -> PerfBench.percentile(loadMs.toSeq, 0.5))
  }

  def facts: Map[String, Any] = Json.obj(
    "statements" -> stmts.size, "rounds" -> rounds.size,
    "round_composition" -> rounds(0).groupBy(_.cls).map { case (k, v) =>
      k -> v.size },
    "catalog_load_ms" -> loadMs.toSeq)
}
