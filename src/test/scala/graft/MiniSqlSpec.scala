package graft

import org.apache.spark.graft.{SparkHooks, TestHooks}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel
import org.scalatest.BeforeAndAfterAll

import graft.engine.{AsciiTable, MiniSqlEngine, MiniSql}
import graft.engine.MiniSql.MiniSqlError
import graft.sources.CsvCatalog

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Golden parity suite: the 15 official queries from
  * /root/reference/TestCases/test.txt plus the survey's probe queries,
  * executed against the reference's TestCases fixture (FIXTURES.md
  * §A.2; `src/test/resources/minisql/TestCases` is a copy of it).
  * Expected values are computed from the fixture files by a naive
  * in-memory model, and the literal FIXTURES.md §A.3 goldens are
  * asserted beside it. Divergences from reference bugs (SURVEY.md §2.12) are
  * asserted as the REBUILD's semantics, marked `≠ref`. The plan-shape
  * and release tests write their own reference-style catalog instead. */
class MiniSqlSpec extends SparkSpec with BeforeAndAfterAll
    with AdaptiveSparkPlanHelper {

  private val fixtureDir = "/root/reference/TestCases"
  /** The reference's TestCases fixture where it is installed, else the
    * committed copy of it (FIXTURES.md §A.2). */
  private val fixture =
    if (CsvCatalog.isLoadable(fixtureDir)) fixtureDir
    else Paths.get(getClass.getResource("/minisql/TestCases").toURI).toString

  /** Every engine the suite builds; each is closed in `afterAll`. */
  private val engines = ArrayBuffer.empty[MiniSqlEngine]
  private def open(tables: Map[String, DataFrame]): MiniSqlEngine = {
    val e = new MiniSqlEngine(tables)
    engines += e
    e
  }
  override def afterAll(): Unit =
    try engines.foreach(_.close()) finally super.afterAll()

  private lazy val engine = open(CsvCatalog.load(spark, fixture))

  /** naive model: table → rows of col → value (metadata + csv re-parse) */
  private lazy val model: Map[String, (Seq[String], Vector[Vector[Long]])] = {
    val defs = CsvCatalog.parseMetadata(
      Files.readAllLines(Paths.get(fixture, "metadata.txt")).asScala.toSeq)
    defs.map { td =>
      val rows = Files.readAllLines(Paths.get(fixture, s"${td.name}.csv"))
        .asScala.filter(_.trim.nonEmpty)
        .map(_.split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"").toLong).toVector)
        .toVector
      td.name -> (td.columns, rows)
    }.toMap
  }
  private def colVals(table: String, c: String): Vector[Long] = {
    val (cols, rows) = model(table)
    val i = cols.indexOf(c)
    rows.map(_(i))
  }

  private def rows(df: DataFrame): Vector[Vector[Any]] =
    df.collect().map(_.toSeq.toVector).toVector

  test("q1: select * from table1 — full scan, file order, headers") {
    val df = engine.execute("select * from table1")
    assert(df.columns.toSeq == Seq("TABLE1.A", "TABLE1.B", "TABLE1.C"))
    assert(rows(df) == model("table1")._2.map(_.map(x => x: Any)))
    assert(rows(df).size == 10) // FIXTURES.md §A.3 golden
  }

  test("q2-q5: whole-column aggregates match the naive model") {
    assert(rows(engine.execute("select max(A) from table1")) ==
      Vector(Vector(colVals("table1", "A").max)))
    assert(rows(engine.execute("select min(B) from table1")) ==
      Vector(Vector(colVals("table1", "B").min)))
    val c = colVals("table1", "C")
    assert(rows(engine.execute("select avg(C) from table1")) ==
      Vector(Vector(c.sum.toDouble / c.size)))
    assert(rows(engine.execute("select sum(D) from table2")) ==
      Vector(Vector(colVals("table2", "D").sum)))
    // FIXTURES.md §A.3 goldens
    assert(rows(engine.execute("select max(A) from table1")) == Vector(Vector(922L)))
    assert(rows(engine.execute("select min(B) from table1")) == Vector(Vector(85L)))
    assert(rows(engine.execute("select avg(C) from table1")) == Vector(Vector(5862.0)))
    assert(rows(engine.execute("select sum(D) from table2")) == Vector(Vector(107459L)))
  }

  test("q2 header naming: MAX(TABLE1.A)") {
    assert(engine.execute("select max(A) from table1").columns.toSeq ==
      Seq("MAX(TABLE1.A)"))
  }

  test("q6: single-column projection preserves file order") {
    assert(rows(engine.execute("select A from table1")).flatten ==
      colVals("table1", "A"))
    assert(rows(engine.execute("select A from table1")).size == 10) // §A.3
  }

  test("q7: cross join is the left-major cartesian product") {
    val a = colVals("table1", "A")
    val dd = colVals("table2", "D")
    val expect = for (x <- a; y <- dd) yield Vector[Any](x, y)
    assert(rows(engine.execute("select A, D from table1, table2")) == expect)
    assert(expect.size == 100) // §A.3 golden
  }

  test("q8: distinct(C) keeps first-occurrence order (sqlengine.py:664)") {
    assert(rows(engine.execute("select distinct(C) from table3")).flatten ==
      colVals("table3", "C").distinct)
    assert(colVals("table3", "C").distinct.size == 10) // §A.3 golden
    // §A.3 probe: first-occurrence order under a filter
    assert(rows(engine.execute(
      "select distinct(B) from table1 where A = 775 or A = 640")).flatten ==
      Vector(773L, 85L))
  }

  test("q9-q11: constant and OR filters") {
    val (cols1, r1) = model("table1")
    def sel(p: Vector[Long] => Boolean, out: Seq[String]) =
      r1.filter(p).map(r => out.map(c => r(cols1.indexOf(c)): Any).toVector)
    assert(rows(engine.execute("select B, C from table1 where A = -900")) ==
      sel(r => r(0) == -900, Seq("B", "C")))
    assert(rows(engine.execute("select A, B from table1 where A = 775 or B = 803")) ==
      sel(r => r(0) == 775 || r(1) == 803, Seq("A", "B")))
    assert(rows(engine.execute("select A, B from table1 where A = 922 or B = 158;")) ==
      sel(r => r(0) == 922 || r(1) == 158, Seq("A", "B")))
    // FIXTURES.md §A.3 goldens
    assert(rows(engine.execute("select B, C from table1 where A = -900")) ==
      Vector(Vector(718L, 9020L)))
    assert(rows(engine.execute("select A, B from table1 where A = 775 or B = 803")) ==
      Vector(Vector(775L, 85L), Vector(411L, 803L)))
    assert(rows(engine.execute("select A, B from table1 where A = 922 or B = 158;")) ==
      Vector(Vector(922L, 158L)))
  }

  test("q12: star join prints the join column once, LHS kept") {
    val df = engine.execute("select * from table1, table2 where table1.B = table2.B")
    assert(df.columns.toSeq == Seq("TABLE1.A", "TABLE1.B", "TABLE1.C", "TABLE2.D"))
    // aligned equi-join of the naive model, file order
    val (_, r1) = model("table1")
    val (_, r2) = model("table2")
    val expect = for (x <- r1; y <- r2 if x(1) == y(0))
      yield Vector[Any](x(0), x(1), x(2), y(1))
    assert(rows(df) == expect)
    assert(expect.size == 10) // §A.3 golden
  }

  test("q13: projected equi-join aligns rows") {
    val (_, r1) = model("table1")
    val (_, r2) = model("table2")
    val expect = for (x <- r1; y <- r2 if x(1) == y(0)) yield Vector[Any](x(0), y(1))
    assert(rows(engine.execute("select A, D from table1, table2 where table1.B = table2.B")) == expect)
    assert(expect.size == 10) // §A.3 golden
  }

  test("q14-q15: error classes match the reference taxonomy") {
    assert(intercept[MiniSqlError] { engine.execute("select A from table4") }
      .message.contains("TABLE4 doesn't exist"))
    assert(intercept[MiniSqlError] { engine.execute("select Z from table1") }
      .message.contains("Column Z not found"))
    assert(intercept[MiniSqlError] {
      engine.execute("select B from table1, table2 where table1.B = table2.B")
    }.message.contains("Ambiguous column query B"))
  }

  test("probes: real comparison operators (≠ref: reference executes all as '=')") {
    val a = colVals("table1", "A")
    assert(rows(engine.execute("select A from table1 where A != 922")).flatten ==
      a.filter(_ != 922))
    assert(rows(engine.execute("select A from table1 where A > 0")).flatten ==
      a.filter(_ > 0))
    assert(rows(engine.execute("select A from table1 where A le 500")).flatten ==
      a.filter(_ <= 500)) // word operator form
    // FIXTURES.md §A.3 goldens
    assert(rows(engine.execute("select A from table1 where A != 922")).size == 9)
    assert(rows(engine.execute("select A from table1 where A > 0")).size == 5)
  }

  test("probes: count / filtered avg / empty-set min (≠ref bugs 3-4)") {
    assert(rows(engine.execute("select count(A) from table1")) ==
      Vector(Vector(model("table1")._2.size.toLong)))
    val (cols1, r1) = model("table1")
    val b158 = r1.filter(_(1) == 158).map(_(0))
    assert(rows(engine.execute("select avg(A) from table1 where B = 158")) ==
      Vector(Vector(b158.sum.toDouble / b158.size)))
    // empty match → SQL null, not sys.maxint
    assert(rows(engine.execute("select min(A) from table1 where B = 999999")) ==
      Vector(Vector(null)))
    // FIXTURES.md §A.3 goldens
    assert(rows(engine.execute("select count(A) from table1")) == Vector(Vector(10L)))
    assert(rows(engine.execute("select avg(A) from table1 where B = 158")) ==
      Vector(Vector(922.0)))
    assert(rows(engine.execute("select max(A) from table1 where B = 158")) ==
      Vector(Vector(922L)))
    assert(rows(engine.execute("select sum(A) from table1 where B = 158")) ==
      Vector(Vector(922L)))
  }

  test("probes: >2 conditions accepted (≠ref: 'Too many conditions')") {
    val (_, r1) = model("table1")
    val expect = r1.filter(r => r(0) > 0 && r(1) > 0 && r(2) > 0).map(r => Vector[Any](r(0)))
    assert(rows(engine.execute("select A from table1 where A > 0 and B > 0 and C > 0")) == expect)
  }

  test("probes: commutative reversed condition (≠ref: error + unfiltered dump)") {
    val (_, r1) = model("table1")
    val expect = r1.filter(_(0) == 775).map(r => Vector[Any](r(0)))
    assert(rows(engine.execute("select A from table1 where 775 = A")) == expect)
  }

  test("probes: mixed aggregate + plain column rejected (≠ref bug 7)") {
    assert(intercept[MiniSqlError] { engine.execute("select A, max(B) from table1") }
      .message.toLowerCase.contains("group by"))
  }

  test("probes: filter × cross join (value filter with 2 FROM tables)") {
    val (_, r1) = model("table1")
    val dd = colVals("table2", "D")
    val expect = for (x <- r1.filter(_(0) == 775); y <- dd) yield Vector[Any](x(0), y)
    assert(rows(engine.execute("select A, D from table1, table2 where A = 775")) == expect)
  }

  test("probes: IN / NOT IN lists execute (≠ref: parse-only, exec rejects)") {
    val a = colVals("table1", "A")
    assert(rows(engine.execute("select A from table1 where A in (922, 775, 5)")).flatten ==
      a.filter(Set(922L, 775L, 5L)))
    assert(rows(engine.execute("select A from table1 where A not in (922, 775)")).flatten ==
      a.filterNot(Set(922L, 775L)))
  }

  test("extension: ORDER BY / LIMIT (absent in the reference grammar)") {
    val a = colVals("table1", "A")
    assert(rows(engine.execute("select A from table1 order by A desc")).flatten ==
      a.sorted.reverse)
    assert(rows(engine.execute("select A from table1 order by A limit 3")).flatten ==
      a.sorted.take(3))
    assert(rows(engine.execute("select A from table1 limit 2")).flatten ==
      a.take(2)) // bare LIMIT keeps file order
    assert(intercept[MiniSqlError] {
      engine.execute("select max(A) from table1 order by A")
    }.message.contains("plain projections"))
  }

  test("parser: comments, case-insensitivity, qualified projection") {
    assert(rows(engine.execute("SELECT table1.A FROM Table1 -- trailing comment")).flatten ==
      colVals("table1", "A"))
  }

  test("CLI: bad data path re-prompts instead of dying (ref sqlengine.py:76-87)") {
    val inputs = Iterator("/nope/still/bad", fixture)
    assert(MiniSqlCli.resolveDataDir("/definitely/missing", () => inputs.next()) == fixture)
    // blank input falls back to "." (no metadata.txt there → loops on)
    val inputs2 = Iterator("", fixture)
    assert(MiniSqlCli.resolveDataDir("/missing", () => inputs2.next()) == fixture)
    // EOF aborts cleanly instead of spinning forever
    intercept[IllegalArgumentException] {
      MiniSqlCli.resolveDataDir("/missing", () => null)
    }
    // a valid path never prompts
    assert(MiniSqlCli.resolveDataDir(fixture,
      () => fail("prompted despite valid path")) == fixture)
  }

  test("extension: GROUP BY maps to groupBy().agg() with FN(TABLE.COL) headers") {
    val df = engine.execute("select B, sum(A), count(A) from table1 group by B")
    assert(df.columns.toSeq ==
      Seq("TABLE1.B", "SUM(TABLE1.A)", "COUNT(TABLE1.A)"))
    val (cols, rws) = model("table1")
    val (ai, bi) = (cols.indexOf("A"), cols.indexOf("B"))
    val want = rws.groupBy(_(bi)).toVector
      .map { case (b, rs) => Vector[Any](b, rs.map(_(ai)).sum, rs.size.toLong) }
      .sortBy(_(0).asInstanceOf[Long]) // groups emit in key order
    assert(rows(df) == want)
  }

  test("extension: HAVING filters groups; aggregates shared with the SELECT list compute once") {
    val df = engine.execute(
      "select B, count(A) from table1 group by B having count(A) > 1 order by B desc")
    val (cols, rws) = model("table1")
    val (ai, bi) = (cols.indexOf("A"), cols.indexOf("B"))
    val want = rws.groupBy(_(bi)).toVector
      .map { case (b, rs) => (b, rs.map(_(ai)).size.toLong) }
      .filter(_._2 > 1)
      .sortBy(-_._1).map { case (b, n) => Vector[Any](b, n) }
    assert(rows(df) == want)
    // HAVING may also name an aggregate absent from the SELECT list
    val df2 = engine.execute(
      "select B from table1 group by B having max(A) >= min(A)")
    assert(df2.columns.toSeq == Seq("TABLE1.B"))
    assert(rows(df2).flatten.toSet == rws.map(_(bi)).toSet)
  }

  test("extension: ORDER BY on an aggregate (top-groups-first), GROUP BY only") {
    val df = engine.execute(
      "select B, sum(A) from table1 group by B order by sum(A) desc")
    val (cols, rws) = model("table1")
    val (ai, bi) = (cols.indexOf("A"), cols.indexOf("B"))
    val sums = rws.groupBy(_(bi)).map { case (b, rs) => (b, rs.map(_(ai)).sum) }
    assert(rows(df).map(_(1).asInstanceOf[Long]) ==
      sums.values.toVector.sortBy(-_))
    // the ordering aggregate need not be projected
    val df2 = engine.execute(
      "select B from table1 group by B order by count(A) desc, B asc")
    val want2 = sums.keys.toVector
      .map(b => (b, rws.count(_(bi) == b).toLong)).sortBy { case (b, n) => (-n, b) }
      .map(_._1)
    assert(rows(df2).flatten == want2)
    val e = intercept[MiniSqlError] {
      engine.execute("select A from table1 order by sum(A)")
    }
    assert(e.getMessage.contains("requires GROUP BY"))
  }

  test("extension: GROUP BY error classes (ANSI column rule, WHERE-aggregate, bare HAVING)") {
    val e1 = intercept[MiniSqlError] {
      engine.execute("select A, sum(B) from table1 group by B")
    }
    assert(e1.getMessage.contains("must appear in GROUP BY"))
    val e2 = intercept[MiniSqlError] {
      engine.execute("select B from table1 where sum(A) > 3 group by B")
    }
    assert(e2.getMessage.contains("HAVING"))
    val e3 = intercept[MiniSqlError] {
      engine.execute("select B from table1 having B > 1")
    }
    assert(e3.getMessage.contains("HAVING requires GROUP BY"))
    val e4 = intercept[MiniSqlError] {
      engine.execute("select * from table1 group by B")
    }
    assert(e4.getMessage.contains("cannot be combined with GROUP BY"))
  }

  test("CLI: malformed cells are counted per table (ref per-cell warning, sqlengine.py:146-147)") {
    val dir = Files.createTempDirectory("badcsv")
    Files.writeString(dir.resolve("metadata.txt"),
      "<begin_table>\nbad\nA\nB\n<end_table>\n<begin_table>\ngood\nX\n<end_table>\n")
    Files.writeString(dir.resolve("bad.csv"), "1,2\n3,oops\n\"5\",\"6\"\n")
    Files.writeString(dir.resolve("good.csv"), "7\n8\n")
    val counts = CsvCatalog.malformedCellCounts(CsvCatalog.load(spark, dir.toString))
    assert(counts("bad") == 1L)  // the one non-integer cell → NULL, warned
    assert(counts("good") == 0L) // clean table stays silent
  }

  // -- plan shape and release, over a catalog the suite writes itself --

  /** table → (columns, rows). table1 is written quoted, table2 unquoted;
    * they share the join key B, and table2 repeats rows. */
  private val refTables: Map[String, (Seq[String], Vector[Vector[Long]])] = Map(
    "table1" -> (Seq("A", "B", "C"), Vector(
      Vector(922L, 158L, 5727L), Vector(640L, 773L, 5058L),
      Vector(775L, 85L, 10164L), Vector(-551L, 811L, 1534L),
      Vector(-952L, 311L, 1318L), Vector(-354L, 646L, 7063L),
      Vector(-497L, 335L, 4549L), Vector(411L, 803L, 10519L),
      Vector(-900L, 718L, 9020L), Vector(858L, 731L, 3668L))),
    "table2" -> (Seq("B", "D"), Vector(
      Vector(158L, 11191L), Vector(773L, 14421L), Vector(85L, 5117L),
      Vector(811L, 13393L), Vector(311L, 16116L), Vector(158L, 11191L),
      Vector(646L, 5403L), Vector(335L, 6309L), Vector(773L, 14421L),
      Vector(803L, 12262L), Vector(85L, 5117L))))

  private def writeRefCatalog(): String = {
    val dir = Files.createTempDirectory("refcat")
    Files.writeString(dir.resolve("metadata.txt"), refTables.toSeq.sortBy(_._1)
      .map { case (t, (cols, _)) =>
        (Seq("<begin_table>", t) ++ cols :+ "<end_table>").mkString("\n")
      }.mkString("", "\n", "\n"))
    def csv(t: String, cell: Long => String): Unit =
      Files.writeString(dir.resolve(s"$t.csv"),
        refTables(t)._2.map(_.map(cell).mkString(",")).mkString("", "\n", "\n"))
    csv("table1", v => "\"" + v + "\"")
    csv("table2", _.toString)
    dir.toString
  }

  /** One statement per REPL statement class, with its naive answer:
    * file order, first-occurrence DISTINCT, join column printed once. */
  private final case class Stmt(cls: String, sql: String,
      header: Seq[String], rows: Seq[Seq[Any]])

  private val refStmts: Seq[Stmt] = {
    val t1 = refTables("table1")._2
    val t2 = refTables("table2")._2
    def pick(rs: Seq[Vector[Long]], is: Int*) = rs.map(r => is.map(r(_)))
    val joined = for (x <- t1; y <- t2 if x(1) == y(0)) yield (x, y)
    Seq(
      Stmt("star", "select * from table1",
        Seq("TABLE1.A", "TABLE1.B", "TABLE1.C"), t1),
      Stmt("projection", "select C, A from table1",
        Seq("TABLE1.C", "TABLE1.A"), pick(t1, 2, 0)),
      Stmt("max", "select max(A) from table1", Seq("MAX(TABLE1.A)"),
        Seq(Seq(t1.map(_(0)).max))),
      Stmt("min", "select min(D) from table2", Seq("MIN(TABLE2.D)"),
        Seq(Seq(t2.map(_(1)).min))),
      Stmt("sum", "select sum(C) from table1", Seq("SUM(TABLE1.C)"),
        Seq(Seq(t1.map(_(2)).sum))),
      Stmt("avg", "select avg(D) from table2", Seq("AVG(TABLE2.D)"),
        Seq(Seq(t2.map(_(1)).sum.toDouble / t2.size))),
      Stmt("distinct", "select distinct(D) from table2", Seq("TABLE2.D"),
        t2.map(_(1)).distinct.map(Seq(_))),
      Stmt("where_and", "select A, C from table1 where A > -600 and C < 9000",
        Seq("TABLE1.A", "TABLE1.C"),
        pick(t1.filter(r => r(0) > -600 && r(2) < 9000), 0, 2)),
      Stmt("where_or", "select A, B from table1 where A = 775 or B = 803",
        Seq("TABLE1.A", "TABLE1.B"),
        pick(t1.filter(r => r(0) == 775 || r(1) == 803), 0, 1)),
      Stmt("join_star", "select * from table1, table2 where table1.B = table2.B",
        Seq("TABLE1.A", "TABLE1.B", "TABLE1.C", "TABLE2.D"),
        joined.map { case (x, y) => x :+ y(1) }),
      Stmt("join_projection",
        "select A, D from table1, table2 where table1.B = table2.B",
        Seq("TABLE1.A", "TABLE2.D"),
        joined.map { case (x, y) => Seq(x(0), y(1)) }),
      Stmt("cartesian", "select A, D from table1, table2",
        Seq("TABLE1.A", "TABLE2.D"),
        for (x <- t1; y <- t2) yield Seq(x(0), y(1))))
  }

  /** What running `sql` through the CLI path (execute, then render)
    * showed and cost. */
  private final case class CliRun(header: Seq[String], rows: Seq[Seq[String]],
      jobs: Int, plans: Seq[SparkPlan])

  private def cli(e: MiniSqlEngine, sql: String): CliRun = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val jobListener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val planListener = new QueryExecutionListener {
      // the statement's plans, not the checkpoint that pins a table
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f != "localCheckpoint") plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = ()
    }
    SparkHooks.drainListeners(sc)
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    try {
      val lines = AsciiTable.render(e.execute(sql)).split('\n').toSeq
      SparkHooks.drainListeners(sc)
      def cells(l: String) = l.split('|').toSeq.drop(1).map(_.trim)
      CliRun(cells(lines(1)), lines.slice(3, lines.size - 1).map(cells),
        jobs.get, plans.asScala.toSeq)
    } finally {
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(planListener)
    }
  }

  test("parity scale: every statement class is one exchange-free job over pinned tables") {
    val e = open(CsvCatalog.load(spark, writeRefCatalog()))
    // pass 1 pins the tables: a statement that reads a fresh pin first
    // runs the checkpoint's job; every other statement is a single job
    Seq(1, 2).foreach { pass =>
      refStmts.foreach { st =>
        val pinnedBefore = e.pinned
        val run = cli(e, st.sql)
        val freshPins = (e.pinned -- pinnedBefore).size
        val what = s"${st.cls} (pass $pass)"
        assert(run.header == st.header, what)
        assert(run.rows == st.rows.map(_.map(_.toString)), what)
        assert(run.plans.nonEmpty, what)
        run.plans.foreach { p =>
          // shuffle and broadcast exchanges alike
          val exchanges = collect(p) { case x: Exchange => x.nodeName }
          assert(exchanges.isEmpty, s"$what planned $exchanges:\n$p")
          assert(collect(p) { case s: RDDScanExec => s }.nonEmpty,
            s"$what read no pin:\n$p")
          assert(collect(p) { case s: FileSourceScanExec => s }.isEmpty,
            s"$what re-read a CSV:\n$p")
        }
        assert(run.jobs >= 1 && run.jobs <= 1 + freshPins,
          s"$what ran ${run.jobs} jobs")
        if (pass > 1) assert(freshPins == 0)
      }
    }
    assert(e.pinned == Set("table1", "table2"))
  }

  test("close() leaves no cache entries and no storage behind") {
    val tables = CsvCatalog.load(spark, writeRefCatalog())
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    def newRdds = sc.getPersistentRDDs.keySet -- before
    // pins are checkpointed RDDs, never catalog cache entries
    def cached = tables.values.map(_.coalesce(1).storageLevel).toSet
    val e = open(tables)
    refStmts.foreach(st => AsciiTable.render(e.execute(st.sql)))
    val pinRdds = newRdds
    assert(pinRdds.size == 2, s"one pinned RDD per table: $pinRdds")
    assert(pinRdds.forall(TestHooks.rddBlockBytes(_) > 0))
    assert(cached == Set(StorageLevel.NONE), "pinned through the catalog cache")
    e.close()
    assert(e.pinned.isEmpty)
    assert(cached == Set(StorageLevel.NONE), "cache entries left")
    assert(newRdds.isEmpty, s"persisted RDDs left: $newRdds")
    assert(pinRdds.forall(TestHooks.rddBlockBytes(_) == 0), "blocks left")
  }
}
