package graft.tools

import graft.{GraftSession, SparkEntry, Verify}
import java.nio.file.{Files, Paths}

/** Targeted re-verification helper: dump ONE OR MORE registry queries (and
  * always the current oracle_sql.json) into an existing Verify output dir,
  * so `scripts/check.py <sfDir> <outDir> <query...>` can re-gate just the
  * queries a change touched without re-running all ~140.
  *
  *   sbt "runMain graft.tools.VerifyOne <sfDir> <outDir> [query ...]"
  *
  * With no query names, only oracle_sql.json is rewritten (use after an
  * oracle-text-only change — Spark-side dumps stay valid).
  */
object VerifyOne {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.tools.VerifyOne <sfDir> <outDir> [query ...]")
      sys.exit(2)
    }
    val spark = GraftSession.builder(GraftSession.cpus, args(0)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(args(1)).mkdirs()
    val failed = args.drop(2).count { name =>
      require(SparkEntry.queries.contains(name), s"unknown query $name")
      try { Verify.dump(spark, args(0), args(1), name, SparkEntry.queries(name)); false }
      catch { case e: Throwable => System.err.println(Verify.failureLine(name, e)); true }
    }
    Files.writeString(Paths.get(s"${args(1)}/oracle_sql.json"),
      SparkEntry.oracleSql.map { case (k, v) =>
        s"${graft.JsonText.quote(k)}: ${graft.JsonText.quote(v)}"
      }.mkString("{", ",", "}"))
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
