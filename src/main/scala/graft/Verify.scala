package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import graft.Checkpoints.scoped

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println("usage: graft.Verify <sfDir> <outDir>")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args
    // GraftSession carries the conventions the queries depend on (UTC, nanos-as-long
    // events reads, AQE, shuffle partitions derived from the corpus bytes).
    val spark = GraftSession.builder(GraftSession.cpus, sfDir).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Schema preflight (round-7 postmortem): name any testdata column whose
    // physical type drifted outside the engine's contract UP FRONT, so a
    // regenerated table reads as one clear message here instead of dozens of
    // per-query AnalysisExceptions below. Warn-and-continue: queries not
    // touching the drifted column still deserve their green rows.
    val drift = graft.sources.SchemaCompat.problems(spark, sfDir)
    if (drift.nonEmpty) {
      System.err.println("[verify] SCHEMA DRIFT DETECTED — expect query failures:")
      drift.foreach(p => System.err.println(s"[verify]   $p"))
    }
    SparkEntry.queries.foreach { case (name, fn) =>
      try dump(spark, sfDir, outDir, name, fn)
      catch { case e: Throwable => System.err.println(failureLine(name, e)) }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${JsonText.quote(k)}: ${JsonText.quote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** Write one query's result as `<outDir>/<name>`. The query runs, and its
    * output is written, inside one scope, so the frames it pinned are freed
    * before the next query starts. */
  def dump(spark: SparkSession, sfDir: String, outDir: String, name: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
    scoped {
      fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }

  /** One line naming a failed query's root cause: the exception class, the
    * first line of its message (`null` for an NPE) and the first `graft.`
    * frame of the exception or its causes. */
  def failureLine(name: String, e: Throwable): String = {
    val at = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .flatMap(_.getStackTrace).find(_.getClassName.startsWith("graft."))
      .fold("")(f => s" at $f")
    val msg = String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")
    s"[verify] $name failed: ${e.getClass.getName}: $msg$at"
  }
}
