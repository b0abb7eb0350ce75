package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every main the docs and scripts tell a reader to run must exist: each
  * `runMain graft.X` / `run_tool.sh graft.X` target in README.md, USAGE.md,
  * the verify skill and the `.sh` files under `scripts/` names a class that
  * loads and has a static `main(String[])`. Catches docs that still name a
  * deleted main. */
class DocCommandsSpec extends AnyFunSuite {

  private val target = """(?:runMain|run_tool\.sh)\s+(graft(?:\.\w+)+)""".r

  private def docs: Seq[Path] = {
    val scripts = Files.list(Paths.get("scripts")).iterator().asScala
      .filter(_.toString.endsWith(".sh")).toSeq
    (Seq("README.md", "USAGE.md", ".claude/skills/verify/SKILL.md")
      .map(Paths.get(_)) ++ scripts).filter(Files.exists(_))
  }

  test("every documented graft main loads and has a static main") {
    val named = docs.flatMap { p =>
      target.findAllMatchIn(Files.readString(p)).map(m => (p, m.group(1)))
    }
    assert(named.map(_._2).contains("graft.Verify"),
      s"the scan found no `runMain graft.Verify` in ${docs.mkString(", ")}")
    val broken = named.distinct.flatMap { case (p, cls) =>
      val main = scala.util.Try(Class.forName(cls, false, getClass.getClassLoader)
        .getMethod("main", classOf[Array[String]]))
      if (main.toOption.exists(m => java.lang.reflect.Modifier.isStatic(m.getModifiers))) None
      else Some(s"$p: $cls")
    }
    assert(broken.isEmpty, s"documented mains that do not exist: ${broken.mkString("; ")}")
  }
}
