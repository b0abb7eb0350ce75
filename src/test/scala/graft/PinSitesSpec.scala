package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** `graft.Checkpoints` is the one place that pins or frees a frame: no
  * other main source calls `localCheckpoint`, `persist`, `cache` or
  * `unpersist` directly (each such call is a pin with no owner). */
class PinSitesSpec extends AnyFunSuite {

  private val direct = """\.(localCheckpoint|persist|cache|unpersist)\(""".r

  test("only graft/Checkpoints.scala pins or unpins directly") {
    val owner = Paths.get("src/main/scala/graft/Checkpoints.scala")
    val sources = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") || p.toString.endsWith(".java"))
      .filterNot(_ == owner).toSeq
    assert(sources.size > 50, s"the scan found only ${sources.size} sources")
    val hits = sources.flatMap { p: Path =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if direct.findFirstIn(line).nonEmpty => s"$p:${i + 1}: ${line.trim}"
      }
    }
    assert(hits.isEmpty, s"direct pin/unpin calls outside Checkpoints:\n${hits.mkString("\n")}")
  }
}
