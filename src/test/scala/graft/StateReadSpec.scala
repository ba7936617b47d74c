package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.streaming.{DeltaStore, ManifestStream, TextIndexStream}

/** The state-home read contract of `Fold.read`: every committed
  * version of a home is ONE scan whose schema comes from a parquet
  * footer, so a read costs no schema-inference job. Pinned here: the
  * job counts of a snapshot and a manifest read, the guard that keeps
  * `Fold.read` the only reader of a state home, and the guarantees the
  * per-version `unionByName` it replaced gave implicitly. */
class StateReadSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String =
    Files.createTempDirectory(name).toString

  private def noopJobs(df: => DataFrame): Int =
    Harness.profiled("state read") {
      df.write.format("noop").mode("overwrite").save()
    }.jobs.size

  private type DRow = (String, Long, String)

  private def delta(rows: DRow*): DataFrame =
    rows.toDF(DeltaStore.DopCol, "id", "v")

  private def state(df: DataFrame): Set[(Long, String)] =
    df.select("id", "v").as[(Long, String)].collect().toSet

  private val Keys = Seq("id")

  private def emptyState: DataFrame =
    Seq.empty[(Long, String)].toDF("id", "v")

  test("a snapshot read of one version runs one job, with the schema Spark infers") {
    val root = tmp("sr_snap")
    val leaf = s"$root/post/b=3"
    Seq((1L, "a", 2L), (2L, "b", 1L)).toDF("doc_id", "token", "tf")
      .write.parquet(leaf)
    // readPostings is SnapshotStore.readLatest over the post/ home
    val read = TextIndexStream.readPostings(spark, root)
    assert(read.schema == spark.read.parquet(leaf).schema)
    assert(noopJobs(TextIndexStream.readPostings(spark, root)) == 1)
    assert(read.as[(Long, String, Long)].collect().toSet ==
      Set((1L, "a", 2L), (2L, "b", 1L)))
  }

  test("a manifest read over a base and one delta runs at most two jobs") {
    val root = tmp("sr_manifest")
    val home = s"$root/manifest"
    DeltaStore.commitDelta(Seq(("U", 1L, "en", "train"),
        ("U", 2L, "de", "val"), ("U", 3L, "en", "test"))
      .toDF(DeltaStore.DopCol, "id", "lang", "split"), home, 0)
    DeltaStore.commitDelta(Seq(("D", 2L, null: String, null: String),
        ("U", 3L, "en", "train"), ("U", 4L, "fr", "val"))
      .toDF(DeltaStore.DopCol, "id", "lang", "split"), home, 2)
    val jobs = noopJobs(ManifestStream.readManifest(spark, root))
    assert(jobs <= 2, s"$jobs jobs")
    assert(ManifestStream.readManifest(spark, root)
      .as[(Long, String, String)].collect().toSet ==
      Set((1L, "en", "train"), (3L, "en", "train"), (4L, "fr", "val")))
  }

  test("Fold.read is the only reader of a state home under src/main/scala/graft/streaming") {
    val reader = """\.read\s*\.""".r
    val defn = """\bdef\s+(\w+)""".r
    val hits = Files.list(Paths.get("src/main/scala/graft/streaming"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { p =>
        // blank comment lines, keep line numbers
        val lines = Files.readAllLines(p).asScala.map { l =>
          val t = l.trim
          if (t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")) ""
          else l
        }
        val text = lines.mkString("\n")
        reader.findAllMatchIn(text).map { m =>
          val line = text.substring(0, m.start).count(_ == '\n')
          val owner = lines.take(line + 1).reverseIterator
            .flatMap(defn.findFirstMatchIn(_)).nextOption()
            .fold("?")(_.group(1))
          s"${p.getFileName}:$owner"
        }
      }
    assert(hits.sorted == Seq("EventStreams.scala:readEvents", "Fold.scala:scan"),
      s"DataFrameReader uses under streaming/: $hits")
  }

  test("versions written in different column orders reconstruct the same rows") {
    val home = tmp("sr_order")
    DeltaStore.commitDelta(delta(("U", 1L, "a"), ("U", 2L, "b")), home, 0)
    DeltaStore.commitDelta(delta(("U", 2L, "b2"), ("U", 3L, "c"))
      .select("v", "id", DeltaStore.DopCol), home, 1)
    DeltaStore.commitDelta(delta(("D", 1L, null))
      .select("id", DeltaStore.DopCol, "v"), home, 2)
    val want = Set((2L, "b2"), (3L, "c"))
    assert(state(DeltaStore.readLatest(spark, home, "order", Keys)) == want)
    assert(state(DeltaStore.stateSoFar(spark, home, 3, emptyState, Keys)) ==
      want)
  }

  test("a version without _SUCCESS stays invisible to readLatest and stateSoFar") {
    val home = tmp("sr_torn")
    DeltaStore.commitDelta(delta(("U", 1L, "a"), ("U", 2L, "b")), home, 0)
    DeltaStore.commitDelta(delta(("D", 1L, null), ("U", 3L, "c")), home, 1)
    Files.delete(Paths.get(s"$home/b=1/_SUCCESS"))
    val want = Set((1L, "a"), (2L, "b"))
    assert(state(DeltaStore.readLatest(spark, home, "torn", Keys)) == want)
    assert(state(DeltaStore.stateSoFar(spark, home, 5, emptyState, Keys)) ==
      want)
  }

  test("a committed zero-row delta reads as empty, however it was made") {
    val base = delta(("U", 1L, "a"), ("U", 2L, "b"))
    val empties = Seq(
      "filtered" -> base.filter(lit(false)),
      "limit 0" -> base.limit(0),
      "no partitions" -> spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], base.schema))
    empties.foreach { case (how, empty) =>
      val alone = tmp("sr_empty")
      DeltaStore.commitDelta(empty, alone, 0)
      val read = DeltaStore.readLatest(spark, alone, how, Keys)
      assert(read.count() == 0, how)
      assert(read.columns.toSeq == Seq("id", "v"), how)
      val home = tmp("sr_empty_delta")
      DeltaStore.commitDelta(base, home, 0)
      DeltaStore.commitDelta(empty, home, 1)
      assert(state(DeltaStore.readLatest(spark, home, how, Keys)) ==
        Set((1L, "a"), (2L, "b")), how)
    }
  }

  test("a delete winner between versions reconstructs as applyDelta folds them") {
    val home = tmp("sr_fold")
    val deltas = Seq(
      delta(("U", 1L, "a"), ("U", 2L, "b"), ("U", 3L, "c")),
      delta(("D", 2L, null), ("D", 3L, null), ("U", 1L, "a1")),
      delta(("U", 3L, "c2"), ("U", 4L, "d")),
      delta(("U", 4L, "d2")))
    deltas.zipWithIndex.foreach { case (d, i) =>
      DeltaStore.commitDelta(d, home, i.toLong)
    }
    val folded = deltas.scanLeft(emptyState)(
      (st, d) => DeltaStore.applyDelta(st, d, Keys)).map(state)
    assert(folded(4) == Set((1L, "a1"), (3L, "c2"), (4L, "d2")))
    (1 to 4).foreach { below =>
      assert(state(DeltaStore.stateSoFar(spark, home, below, emptyState,
        Keys)) == folded(below), s"below $below")
    }
    DeltaStore.compact(spark, home, Keys)
    assert(state(DeltaStore.readLatest(spark, home, "fold", Keys)) ==
      folded(4))
  }

  test("a home whose data has the version column's name fails with the named contract") {
    val home = tmp("sr_clash")
    DeltaStore.commitDelta(delta(("U", 1L, "a")).withColumn("b", lit(7)),
      home, 0)
    // one version adds no version column, so it reads
    assert(DeltaStore.readLatest(spark, home, "clash", Keys).count() == 1)
    DeltaStore.commitDelta(delta(("U", 2L, "b")).withColumn("b", lit(8)),
      home, 1)
    val e = intercept[IllegalArgumentException](
      DeltaStore.readLatest(spark, home, "clash", Keys))
    assert(e.getMessage.contains("has a data column named 'b', the version column"),
      e.getMessage)
  }
}
