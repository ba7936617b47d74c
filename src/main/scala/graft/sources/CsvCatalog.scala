package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The reference engine's external catalog: a `metadata.txt` of
  * `<begin_table> / name / col… / <end_table>` blocks describing
  * headerless all-integer CSV files (both quoted `"922","158"` and
  * unquoted styles — /root/reference/sqlengine.py:106-148,
  * problem_statement.pdf p.1).
  *
  * Spark mapping (SURVEY.md §1.2): each block becomes an explicit
  * all-LongType `StructType` handed to `spark.read.schema(...).csv`,
  * whose reader natively handles both quoting styles; a malformed cell
  * becomes a real SQL `null` (PERMISSIVE mode) rather than the
  * reference's poisoned `"NULL"` string sentinel (sqlengine.py:146-147
  * — documented divergence, SURVEY.md §7.1).
  *
  * Each table also carries a `__row_id` used by the mini-SQL executor
  * to reproduce the reference's file-order output and first-occurrence
  * DISTINCT (sqlengine.py:664-665). File order is only stable on a
  * single input split — true for the fixture-scale CSVs this dialect
  * serves; the large-scale surface is the DataFrame API, not this
  * loader. The frames stay lazy: every scan re-parses the CSV and
  * re-derives the row ids, until [[graft.engine.MiniSqlEngine]] pins a
  * table (parity-scale mode), which fixes its row ids for every later
  * statement.
  */
object CsvCatalog {

  final case class TableDef(name: String, columns: Seq[String])

  /** Internal synthetic column carrying CSV file order. */
  val RowId = "__row_id"

  /** Parse `metadata.txt` content into table definitions. Table names
    * lowercased, column names uppercased — mirroring the reference's
    * case rules (sqlengine.py:24,65,130). */
  def parseMetadata(lines: Seq[String]): Seq[TableDef] = {
    val defs = Vector.newBuilder[TableDef]
    var cur: Option[String] = None
    var cols = Vector.newBuilder[String]
    lines.map(_.trim).filter(_.nonEmpty).foreach {
      case "<begin_table>" => cur = None; cols = Vector.newBuilder[String]
      case "<end_table>" =>
        cur.foreach(n => defs += TableDef(n, cols.result()))
        cur = None
      case tok =>
        if (cur.isEmpty) cur = Some(tok.toLowerCase)
        else cols += tok.toUpperCase
    }
    defs.result()
  }

  /** True when `dir` holds a loadable catalog (a `metadata.txt`) —
    * the CLI's re-prompt check (reference: sqlengine.py:76-87). */
  def isLoadable(dir: String): Boolean =
    Files.exists(Paths.get(dir, "metadata.txt"))

  /** Count of malformed (non-integer → SQL null) cells per table — the
    * Spark analog of the reference's per-cell load warning
    * (sqlengine.py:146-147, problem_statement.pdf p.2 item 7a). The
    * reference prints one line per bad cell while eagerly loading; a
    * distributed lazy scan reports an aggregate count per table instead
    * (a driver println per cell would force a serialized eager load).
    * One map-only job per table, fixture-scale inputs. */
  def malformedCellCounts(tables: Map[String, DataFrame]): Map[String, Long] =
    tables.map { case (name, df) =>
      val dataCols = df.columns.toSeq.filterNot(_ == RowId)
      val counts = df.select(dataCols.map(c => sum(col(c).isNull.cast("long")).as(c)): _*)
        .collect().headOption
      name -> counts.map(r =>
        (0 until r.length).map(i => if (r.isNullAt(i)) 0L else r.getLong(i)).sum)
        .getOrElse(0L)
    }

  /** Load every table of a reference-style data directory. Returns
    * tableName (lowercase) → DataFrame[cols: long..., __row_id: long]. */
  def load(spark: SparkSession, dir: String): Map[String, DataFrame] = {
    val metaPath = Paths.get(dir, "metadata.txt")
    require(Files.exists(metaPath), s"Missing metadata.txt in $dir")
    val defs = parseMetadata(Files.readAllLines(metaPath).asScala.toSeq)
    defs.map { td =>
      val schema = StructType(td.columns.map(c => StructField(c, LongType, nullable = true)))
      val df = spark.read
        .schema(schema)
        .option("header", "false")
        .option("quote", "\"")
        .option("ignoreLeadingWhiteSpace", "true")
        .option("mode", "PERMISSIVE")
        .csv(Paths.get(dir, s"${td.name}.csv").toString)
        .withColumn(RowId, monotonically_increasing_id())
      td.name -> df
    }.toMap
  }
}
