package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The guard that keeps [[graft.streaming.Fold]] the only stream
  * wiring: every sink runs through `Fold.start`. */
class FoldSpec extends AnyFunSuite {

  test("Fold.scala holds the only writeStream and foreachBatch under src/main") {
    val wiring = """\.(writeStream|foreachBatch)\b""".r
    val hits = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.flatMap { case (l, i) =>
          wiring.findAllMatchIn(l).map(m => s"$p:${i + 1}:${m.group(1)}")
        }
      }.toSeq
    assert(hits.map(_.split(':').last).sorted == Seq("foreachBatch", "writeStream") &&
      hits.forall(_.startsWith("src/main/scala/graft/streaming/Fold.scala:")),
      s"stream wiring under src/main: $hits")
  }
}
