package graft

import org.apache.spark.sql.SqlTestHooks
import org.apache.spark.sql.functions._

import graft.operators.{Caching, Dedup, Graph}

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The query scope ([[graft.operators.Caching.scoped]]): the one owner
  * of every persist and local checkpoint, and the guard that keeps it
  * the only one. */
class CachingSpec extends SparkSpec {
  import spark.implicits._

  /** Runs `body` and asserts it left no persisted RDD and no cache
    * entry behind. The ContextCleaner may drop RDDs of earlier tests
    * meanwhile, so the RDD check is that none was added. */
  private def leavesNothing(body: => Unit): Unit = {
    val sc = spark.sparkContext
    val rdds = sc.getPersistentRDDs.keySet
    val entries = SqlTestHooks.cachedEntries(spark)
    body
    val left = sc.getPersistentRDDs.filter { case (id, _) => !rdds(id) }
    assert(left.isEmpty,
      s"persisted RDDs left behind: ${left.values.mkString(", ")}")
    assert(SqlTestHooks.cachedEntries(spark) == entries,
      "cache entries left behind")
  }

  test("Harness.exec of connectedComponents releases its persists and its final checkpoint") {
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("a", "b")
    val vertices = (1L to 6L).toDF("id")
    leavesNothing {
      Harness.exec(Dedup.connectedComponents(vertices, "id", pairs))
    }
  }

  test("Harness.exec of pageRank releases the checkpoint its result reads") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("a", "b")
    leavesNothing {
      Harness.exec(Graph.pageRank(pairs, "a", "b", iterations = 3))
    }
  }

  test("a query that throws after an eager checkpoint still releases it") {
    leavesNothing {
      val e = intercept[IllegalStateException] {
        Harness.exec {
          val ids = Caching.persist(spark.range(4).toDF("id"))
          ids.count()
          Caching.localCheckpoint(ids.filter(col("id") > 1))
          throw new IllegalStateException("query failed after its checkpoint")
        }
      }
      assert(e.getMessage.contains("after its checkpoint"))
    }
  }

  test("Caching owns every persist and local checkpoint under src/main") {
    val banned = Seq("persist: Boolean", "PersistTracker", "maybePersist",
      "localCheckpoint(true)", "clearCache()")
    // a direct Dataset call, not Caching's or a Rounds loop's
    val direct = """(\w*)\.(persist\(|localCheckpoint\(|cache\(\))""".r
    val owners = Set("Caching.scala", "Rounds.scala")
    val hits = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .flatMap { p =>
        val file = p.getFileName.toString
        Files.readAllLines(p).asScala.zipWithIndex.flatMap { case (l, i) =>
          val calls = direct.findAllMatchIn(l)
            .filterNot(m => Set("Caching", "loop")(m.group(1)))
            .filterNot(_ => owners(file) ||
              file == "MiniSqlEngine.scala" && l.contains("pins."))
            .map(_.group(2))
          (banned.filter(l.contains) ++ calls).map(b => s"$p:${i + 1}: $b")
        }
      }.toSeq
    assert(hits.isEmpty, s"persists and checkpoints outside Caching:\n" +
      hits.mkString("\n"))
  }
}
