package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The engine's entry points are a fixed set. Measurement goes through
  * `Bench` and `QProbe` (one pass loop, one profiler), so a new one-off
  * probe main shows up here instead of growing unnoticed; a streaming
  * lifecycle drains through `StreamOps.drain`, so a hand-rolled drain
  * does too.
  */
class MainsInventorySpec extends AnyFunSuite {

  test("src/main defines exactly Bench, QProbe, Verify, Cli, Smoke and ClusterSmoke") {
    val sources = Files.walk(Paths.get("src/main")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    // each `def main(` belongs to the last object declared above it
    val mains = sources.flatMap { (p: Path) =>
      val text = Files.readString(p)
      "def main\\(".r.findAllMatchIn(text).map { m =>
        "object (\\w+)".r.findAllMatchIn(text.substring(0, m.start)).map(_.group(1))
          .toSeq.lastOption.getOrElse(s"<no object in $p>")
      }
    }
    assert(sources.nonEmpty)
    assert(mains.sorted == Seq("Bench", "Cli", "ClusterSmoke", "QProbe", "Smoke", "Verify"))
  }

  test("src/main awaits a streaming query only inside StreamOps.drain") {
    val calls = Files.walk(Paths.get("src/main")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { p =>
        val lines = Files.readAllLines(p).asScala.toSeq
        lines.indices.collect {
          // code lines only: a scaladoc may name the call
          case i if lines(i).contains("awaitTermination(") && !isComment(lines(i)) =>
            // the method it sits in: the last `def` opened at or above it
            val method = lines.take(i + 1).reverse
              .flatMap(l => "\\bdef (\\w+)".r.findFirstMatchIn(l).map(_.group(1)))
              .headOption.getOrElse("<none>")
            (p.getFileName.toString, method)
        }
      }
    assert(calls == Seq(("StreamOps.scala", "drain")))
  }

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("*") || t.startsWith("//") || t.startsWith("/*")
  }
}
