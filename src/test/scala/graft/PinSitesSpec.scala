package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** One owner per mechanism in main sources: `graft.Checkpoints` is the one
  * place that pins or frees a frame (no other main source calls
  * `localCheckpoint`, `persist`, `cache` or `unpersist` directly: each such
  * call is a pin with no owner), and it holds frames only as pins (it calls
  * no `persist` or `cache`, whose entries keep their executed plans and
  * broadcasts alive), `graft.StageMeter` is the one Spark
  * listener (each other listener is a meter that guesses when the
  * listener bus is done), `graft.bdb.GbtModel`'s single-task booster is
  * the one GBT (no MLlib regressor path beside it),
  * `graft.operators.MinHash` is the one MinHash LSH (no MLlib LSH path
  * beside it or beside the IVF-PQ semantic dedup), and `graft.ml.KMeans` is
  * the one k-means (no MLlib clustering, and no MLlib scaler or assembler
  * to feed it). */
class PinSitesSpec extends AnyFunSuite {

  private val direct = """\.(localCheckpoint|persist|cache|unpersist)\(""".r

  /** `file:line: text` of every main-source line outside `owner` (if any)
    * that matches `pattern`. */
  private def callsOutside(owner: Option[String], pattern: scala.util.matching.Regex): Seq[String] = {
    val ownerPath = owner.map(Paths.get(_))
    val sources = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") || p.toString.endsWith(".java"))
      .filterNot(p => ownerPath.contains(p)).toSeq
    assert(sources.size > 50, s"the scan found only ${sources.size} sources")
    sources.flatMap { p: Path =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if pattern.findFirstIn(line).nonEmpty => s"$p:${i + 1}: ${line.trim}"
      }
    }
  }

  test("only graft/Checkpoints.scala pins or unpins directly") {
    val hits = callsOutside(Some("src/main/scala/graft/Checkpoints.scala"), direct)
    assert(hits.isEmpty, s"direct pin/unpin calls outside Checkpoints:\n${hits.mkString("\n")}")
  }

  test("graft/Checkpoints.scala holds frames only as pins: no persist or cache") {
    val src = Files.readAllLines(Paths.get("src/main/scala/graft/Checkpoints.scala")).asScala
    val hits = src.filter("""\bpersist\(|\.cache\(|InMemoryRelation""".r.findFirstIn(_).nonEmpty)
    assert(hits.isEmpty, s"persist/cache calls in Checkpoints:\n${hits.mkString("\n")}")
  }

  /** Every broadcast variable main makes, with its release rule: per file,
    * how many `.broadcast(` calls, and whether the file destroys each one
    * at the end of its own work or hands it to the frame or stream it
    * returns (freed by the ContextCleaner once that is dropped). */
  private val broadcastSites: Map[String, (Int, String)] = Map(
    "src/main/scala/graft/sources/FileSkipping.scala" -> (1 -> "destroyed"),
    "src/main/scala/graft/ml/LstmTrainer.scala" -> (2 -> "destroyed"),
    "src/main/scala/graft/operators/Percentiles.scala" -> (2 -> "destroyed"),
    "src/main/scala/graft/ml/KerasLstm.scala" -> (1 -> "captured"),
    "src/main/scala/graft/streaming/StreamingInference.scala" -> (2 -> "captured"))

  test("broadcast variables are made only at the listed sites, each with its release rule") {
    // the SQL join hint (`functions.broadcast`) and SIMD lane fills
    // (`FloatVector.broadcast`) make no broadcast variable
    val hits = callsOutside(None, """(?<!functions|Vector)\.broadcast\(""".r)
    val byFile = hits.groupBy(_.takeWhile(_ != ':'))
    val unlisted = byFile.toSeq.flatMap { case (f, lines) =>
      if (lines.size > broadcastSites.get(f).fold(0)(_._1)) lines else Nil
    }
    assert(unlisted.isEmpty,
      s"broadcast variables at sites with no release rule:\n${unlisted.sorted.mkString("\n")}")
    broadcastSites.foreach { case (f, (n, rule)) =>
      assert(byFile.get(f).fold(0)(_.size) == n, s"$f: expected $n broadcast sites")
      if (rule == "destroyed") {
        val destroys = """\.destroy\(\)""".r.findAllIn(Files.readString(Paths.get(f))).size
        assert(destroys >= n, s"$f makes $n broadcasts but destroys $destroys")
      }
    }
  }

  test("only graft/StageMeter.scala adds a Spark listener") {
    val hits = callsOutside(Some("src/main/scala/graft/StageMeter.scala"), "addSparkListener".r)
    assert(hits.isEmpty, s"Spark listeners outside StageMeter:\n${hits.mkString("\n")}")
  }

  test("no main source uses MLlib's regressors") {
    val hits = callsOutside(None, """org\.apache\.spark\.ml\.regression|GBTRegressor""".r)
    assert(hits.isEmpty, s"MLlib regressor references in main:\n${hits.mkString("\n")}")
  }

  test("no main source uses MLlib's LSH") {
    val hits = callsOutside(None, "MinHashLSH|BucketedRandomProjectionLSH".r)
    assert(hits.isEmpty, s"MLlib LSH references in main:\n${hits.mkString("\n")}")
  }

  test("no main source uses MLlib's clustering or scalers") {
    val hits = callsOutside(None, """org\.apache\.spark\.ml\.clustering|StandardScaler|VectorAssembler""".r)
    assert(hits.isEmpty, s"MLlib clustering or scaler references in main:\n${hits.mkString("\n")}")
  }
}
