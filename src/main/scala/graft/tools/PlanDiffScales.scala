package graft.tools

import graft.{GraftSession, JsonText}
import graft.queries.{PlanFingerprints, Registry}

/** Which queries' POST-AQE physical plans differ between two data scales —
  * and what is each query's cpu scaling exponent across them?
  *
  * (r15 VERDICT #1: adaptive plans — broadcast→shuffle flips, SHUFFLE_HASH
  * elections, router regimes — execute in regimes the smaller tier never
  * reaches; this tool computes the exact set the sf10 correctness tier must
  * hash-gate, instead of guessing from a hand-maintained flip list.
  * r16 VERDICT #4 added the exponent table: the same run already executes
  * every query at both tiers, so it ALSO records steady-state executor cpu
  * per cell and the log-log slope between them — the full-registry scaling
  * gate `close_round` enforces, not just the 13-query heavy tail.)
  *
  *   scripts/run_tool.sh graft.tools.PlanDiffScales <out.json> <dirA> <dirB>
  *     [query ...]          (default: the whole registry)
  *
  * Each query executes per dir (foreachPartition — full plan, no
  * column-pruned shells) with the shuffle-partition count that dir derives,
  * exactly like a fresh session over it. The FIRST execution doubles as the
  * warm run and yields the fingerprint; SPARK_GRAFT_PLANDIFF_RUNS (default
  * 2) controls total executions per cell, and the recorded cpu is the MIN
  * over the post-warm runs (set 1 for fingerprints-only speed — cpu then
  * carries compile noise and the exponent column should not be gated on).
  * Scale factors parse from the dir names (the trailing number in e.g.
  * `/tmp/graft_sf3` → 3); exponent = log(cpuB/cpuA)/log(scaleB/scaleA).
  *
  * Output: per-query fingerprints + cpu at both scales + exponent, a
  * `differs` list, and the scale metadata the close gate reads.
  */
object PlanDiffScales {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: PlanDiffScales <out.json> <dirA> <dirB> [query ...]")
    val outPath = args(0)
    val dirA = args(1)
    val dirB = args(2)
    val names =
      if (args.length > 3) args.drop(3).toSeq else Registry.all.map(_.name)
    val cpus = GraftSession.cpus
    val runsPerCell = sys.env.getOrElse("SPARK_GRAFT_PLANDIFF_RUNS", "2").toInt
    val spark = GraftSession.builder(cpus, dirB).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // bucketed staged twins re-stage per (process, dir) — do both up front
    for (d <- Seq(dirA, dirB)) {
      try graft.queries.JoinQueries.bucketedFacts(spark, d)
      catch { case e: Throwable => System.err.println(s"[plandiff] staging $d: $e") }
    }

    val cpuNanos = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            st: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          cpuNanos.addAndGet(st.stageInfo.taskMetrics.executorCpuTime)
          ()
        }
      })
    def settled(): Long = {
      var prev = cpuNanos.get
      var i = 0
      while (i < 20) {
        Thread.sleep(50)
        val cur = cpuNanos.get
        if (cur == prev) i = 20 else { prev = cur; i += 1 }
      }
      prev
    }

    def scaleOf(dir: String): Option[Double] = {
      val m = "([0-9]+\\.?[0-9]*)\\s*$".r.findFirstIn(
        dir.replaceAll("/+$", "").split('/').last)
      m.map(_.toDouble)
    }
    val scaleRatio = for (a <- scaleOf(dirA); b <- scaleOf(dirB); if a > 0)
      yield b / a

    val byName = Registry.all.map(q => q.name -> q).toMap
    val rows = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val differs = scala.collection.mutable.ArrayBuffer.empty[String]
    names.foreach { name =>
      byName.get(name) match {
        case None => System.err.println(s"[plandiff] no registry query named $name")
        case Some(q) =>
          // (fingerprint, min post-warm cpu seconds) — or (error, -1)
          def cell(dir: String): (String, Double) =
            try {
              GraftSession.tuneShuffleFor(spark, cpus, dir)
              settled()
              val fp = PlanFingerprints.of(q.run(spark, dir)).brief // run 1 = warm
              var best = -1.0
              (2 to runsPerCell).foreach { _ =>
                val c0 = settled()
                q.run(spark, dir)
                  .foreachPartition((_: Iterator[org.apache.spark.sql.Row]) => ())
                val c = (settled() - c0) / 1e9
                if (best < 0 || c < best) best = c
              }
              (fp, best)
            } catch { case e: Throwable =>
              (s"error:${e.getClass.getSimpleName}", -1.0)
            }
          val (a, cpuA) = cell(dirA)
          val (b, cpuB) = cell(dirB)
          val d = a != b
          if (d) differs += name
          val expo = for {
            r <- scaleRatio
            if cpuA > 0 && cpuB > 0 && r > 0 && r != 1.0
          } yield math.log(cpuB / cpuA) / math.log(r)
          def n3(v: Double) =
            String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
          System.err.println(s"[plandiff] $name: $a -> $b" +
            s"${if (d) "  DIFFERS" else ""}  cpu ${n3(cpuA)} -> ${n3(cpuB)}" +
            expo.map(e => s"  exp ${n3(e)}").getOrElse(""))
          // the QueryDef's scale-gate adjudication rides the artifact:
          // close_round generates its OUTPUT_BOUND allowlist from these
          // notes, so the code is the source of truth (r17 verdict #8)
          val note = q.scaleNote
            .map(s => s""","scale_note":${JsonText.quote(s)}""").getOrElse("")
          rows(name) =
            s"""{"a":${JsonText.quote(a)},"b":${JsonText.quote(b)},""" +
            s""""differs":$d,"cpu_a":${n3(cpuA)},"cpu_b":${n3(cpuB)},""" +
            s""""exponent":${expo.map(n3).getOrElse("null")}$note}"""
      }
    }
    val json = rows.map { case (k, v) => s"${JsonText.quote(k)}:$v" }
      .mkString("{\"dirA\":" + JsonText.quote(dirA) +
        ",\"dirB\":" + JsonText.quote(dirB) +
        ",\"scale_ratio\":" + scaleRatio.map(_.toString).getOrElse("null") +
        ",\"runs_per_cell\":" + runsPerCell +
        ",\"differs\":[" +
        differs.map(JsonText.quote).mkString(",") + "],\"queries\":{", ",", "}}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json)
    println(s"[plandiff] ${differs.size} of ${rows.size} differ: " +
      differs.mkString(", "))
    spark.stop()
  }
}
