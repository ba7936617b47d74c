package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The driver mains' one session shape, the guard that keeps it the
  * only one, and the job listener they share. */
class HarnessSpec extends SparkSpec {

  test("conf(n) is Bench's session shape; an extra entry replaces a base key") {
    val shape = Map(
      "spark.master" -> "local[8]",
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      "spark.ui.enabled" -> "false")
    assert(Harness.conf(8) == shape)
    assert(Harness.conf(8, "spark.master" -> "local[4]",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true") ==
      shape + ("spark.master" -> "local[4]") +
        ("spark.sql.legacy.parquet.nanosAsLong" -> "true"))
  }

  test("Harness.scala holds the only session builder under src/main") {
    val hits = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex
          .collect { case (l, i) if l.contains("SparkSession.builder") => s"$p:${i + 1}" }
      }.toSeq
    assert(hits.size == 1 && hits.head.startsWith("src/main/scala/graft/Harness.scala:"),
      s"session builders under src/main: $hits")
  }

  test("profiled reports every job its body ran, each with its end time") {
    val sc = spark.sparkContext
    // a listener that holds up the shared listener queue, so the body's
    // events are still queued when the body returns
    val slow = new SparkListener {
      override def onJobEnd(je: SparkListenerJobEnd): Unit = Thread.sleep(300)
    }
    sc.addSparkListener(slow)
    val prof =
      try Harness.profiled("three jobs") {
        (1 to 3).foreach(_ => sc.parallelize(1 to 100, 4).count())
      }
      finally sc.removeSparkListener(slow)
    assert(prof.jobs.size == 3, prof.jobs)
    assert(prof.jobs.forall(_.end > 0), prof.jobs)
    assert(prof.jobs.map(_.tasks) == Seq(4, 4, 4), prof.jobs)
  }
}
