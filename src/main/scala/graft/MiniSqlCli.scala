package graft

import graft.engine.{AsciiTable, MiniSqlEngine}
import graft.engine.MiniSql.MiniSqlError
import graft.sources.CsvCatalog

/** The reference's two entry points (/root/reference/sqlengine.py:
  * 731-751), Spark-backed:
  *  - one-shot:  runMain graft.MiniSqlCli <dataDir> "<query>"
  *  - REPL:      runMain graft.MiniSqlCli <dataDir>      (SqlEngine> …)
  */
object MiniSqlCli {

  /** Reference REPL behavior (sqlengine.py:76-87): an invalid data path
    * RE-PROMPTS instead of killing the session. Blank input falls back
    * to the JVM working directory — the closest analog of the
    * reference's fallback to the script's own directory (a library jar
    * has no source directory to resolve). The reader is injected so the
    * loop is testable without a TTY; exhausted input (EOF) aborts
    * cleanly. */
  @annotation.tailrec
  def resolveDataDir(path: String, readLine: () => String): String =
    if (CsvCatalog.isLoadable(path)) path
    else {
      println(s"[ERROR] Invalid path: no metadata.txt found...  $path")
      print("Please enter new path (or leave blank for current path): ")
      Console.flush()
      readLine() match {
        case null => throw new IllegalArgumentException(
          s"No loadable data directory (last tried: $path)")
        case next =>
          resolveDataDir(if (next.trim.isEmpty) "." else next.trim, readLine)
      }
    }

  def main(args: Array[String]): Unit = {
    val spark = Harness.session(
      sys.env.get("SPARK_MASTER").map("spark.master" -> _).toSeq: _*)
    spark.sparkContext.setLogLevel("ERROR") // keep the REPL's output clean
    val dataDir = resolveDataDir(args.headOption.getOrElse("."),
      () => scala.io.StdIn.readLine())
    val tables = CsvCatalog.load(spark, dataDir)
    // reference prints a per-cell warning on malformed integers
    // (sqlengine.py:146-147); report the distributed analog: a count
    // per affected table
    CsvCatalog.malformedCellCounts(tables).foreach { case (name, n) =>
      if (n > 0) println(
        s"[ERROR] $name: $n cell(s) not integral — cannot read, storing NULL")
    }
    val engine = new MiniSqlEngine(tables)

    def runOne(q: String): Unit =
      try AsciiTable.show(engine.execute(q))
      catch {
        case MiniSqlError(msg) => println(msg)
        case e: Exception => println(s"Oops, error - please retry (${e.getMessage})")
      }

    try {
      if (args.length > 1) runOne(args(1))
      else {
        Iterator.continually { print("SqlEngine> "); Console.flush(); scala.io.StdIn.readLine() }
          .takeWhile(l => l != null && l.trim != "quit" && l.trim != "q")
          .filter(_.trim.nonEmpty)
          .foreach(runOne)
      }
    } finally engine.close()
    spark.stop()
  }
}
