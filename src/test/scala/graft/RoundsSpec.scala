package graft

import org.apache.spark.graft.SparkHooks
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.operators.{Dedup, Graph}

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** The round-loop skeleton ([[graft.operators.Rounds]]): the only place
  * an iterative operator checkpoints, frees and labels its rounds. */
class RoundsSpec extends SparkSpec {
  import spark.implicits._

  private def src(p: String) = new String(Files.readAllBytes(Paths.get(p)))

  test("Graph.scala and connectedComponents leave checkpoints, frees and labels to Rounds") {
    val dedup = src("src/main/scala/graft/operators/Dedup.scala")
    val from = dedup.indexOf("  def connectedComponents(")
    val cc = dedup.substring(from, dedup.indexOf("\n  /**", from))
    for ((file, text) <- Seq(
        "Graph.scala" -> src("src/main/scala/graft/operators/Graph.scala"),
        "connectedComponents" -> cc);
      banned <- Seq("localCheckpoint(true)", "freeLocalCheckpoint",
        "setJobDescription"))
      assert(!text.contains(banned), s"$file contains $banned")
  }

  test("a throwing round releases every persist and checkpoint and restores the job description") {
    val sc = spark.sparkContext
    // round 2 relaxes 2 → 3 at c + c, which overflows under ANSI
    val c = Long.MaxValue / 2 + 1
    val path = Seq((1L, 2L, c), (2L, 3L, c)).toDF("pa", "pb", "c")
    val descs = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).foreach(descs.add)
    }
    val before = sc.getPersistentRDDs.keySet
    sc.setJobDescription("caller")
    sc.addSparkListener(listener)
    try {
      val e = intercept[Throwable] {
        Graph.weightedShortestPaths(path, "pa", "pb", "c", _ === 1L,
          rounds = 4).collect()
      }
      val msgs = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
      assert(msgs.exists(_.toLowerCase.contains("overflow")), s"failure: $msgs")
      assert(sc.getLocalProperty("spark.job.description") == "caller")
      val left = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
      assert(left.isEmpty,
        s"persisted RDDs left behind: ${left.values.mkString(", ")}")
      SparkHooks.drainListeners(sc)
      val seen = descs.asScala.toSet
      assert(Set("weightedShortestPaths round 1",
        "weightedShortestPaths round 2").subsetOf(seen), s"job labels: $seen")
    } finally {
      sc.removeSparkListener(listener)
      sc.setJobDescription(null)
    }
  }

  test("connectedComponents: a loop that never converges frees everything before it throws") {
    val sc = spark.sparkContext
    val chain = (1L to 40L).map(i => (i, i + 1)).toDF("a", "b")
    val vertices = (1L to 41L).toDF("id")
    val before = sc.getPersistentRDDs.keySet
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(vertices, "id", chain, maxIter = 1)
    }
    assert(e.getMessage.contains("did not reach a fixpoint"))
    assert(sc.getLocalProperty("spark.job.description") == null)
    val left = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    assert(left.isEmpty,
      s"persisted RDDs left behind: ${left.values.mkString(", ")}")
  }
}
