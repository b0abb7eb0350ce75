package perfbench

import scala.collection.mutable

import graft.queries._
import org.apache.spark.perfbench.BlockStats
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The queries of the `query_mix` workload: one headline query of each
  * of the registry's ten query families, over seeded tables shaped like the
  * registry's star schema. Each op is one query timed from `q.run` to a
  * consumer that digests every output column, and checked against the
  * digest of the query's warm-up execution. */
final class QueryMix(spark: SparkSession, dataDir: String) {
  import QueryMix._

  val queries: Seq[QueryDef] = Mix.map { case (_, name) =>
    Registry.headline.find(_.name == name).getOrElse(sys.error(s"$name is not a headline query"))
  }
  private val reference = mutable.Map.empty[String, RowDigest]
  /** Each query's cold (warm-up) execution time, reported with the inputs. */
  val coldS: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty

  /** Warm-up: one cold pass in mix order; its digests are the reference
    * every timed execution must match. */
  def setup(): Seq[(String, Double)] = {
    val (_, warm) = Workload.timed(queries.foreach { q =>
      val (d, s) = Workload.timed(RowDigest.of(q.run(spark, dataDir)))
      reference(q.name) = d
      coldS(q.name) = s
    })
    Seq("query_warmup" -> warm)
  }

  def untraced(q: QueryDef): Exec = {
    val t0 = System.nanoTime()
    val r = try {
      val df = q.run(spark, dataDir)
      Right((df, RowDigest.of(df)))
    } catch { case e: Exception => Left(e) }
    Exec(q.name, (System.nanoTime() - t0) / 1e9, r.toOption.map(_._1), problem(q, r.map(_._2)))
  }

  /** Same work as [[untraced]], split at the layer boundaries: building the
    * frame (`q.run`), planning it (analyzed → optimized → executed plan)
    * and executing it; Spark counters per query, leftover blocks after. */
  def traced(t: Trace, q: QueryDef, acc: LayerAcc): Exec = {
    val family = familyOf(q.name)
    val a = t.snap()
    val t0 = System.nanoTime()
    val r = try {
      val df = q.run(spark, dataDir)
      val t1 = System.nanoTime()
      val qe = df.queryExecution
      qe.analyzed; qe.optimizedPlan; qe.executedPlan
      val t2 = System.nanoTime()
      val d = RowDigest.of(df)
      val t3 = System.nanoTime()
      val phases = qe.tracker.phases
      def phaseS(p: String) = phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
      acc.add(family, "build_s", (t1 - t0) / 1e9)
      acc.add(family, "plan_s", (t2 - t1) / 1e9)
      acc.add(family, "exec_s", (t3 - t2) / 1e9)
      acc.catalyst("analysis_s") += phaseS("analysis")
      acc.catalyst("optimizer_s") += phaseS("optimization")
      acc.catalyst("physical_s") += phaseS("planning")
      Right((df, d))
    } catch { case e: Exception => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    val delta = t.snap() - a
    acc.add(family, "jobs", delta.jobs.toDouble)
    acc.add(family, "cpu_s", delta.cpuS)
    acc.add(family, "shuffle_mb", delta.shuffleMb)
    val left = spark.sparkContext.getPersistentRDDs.size + BlockStats.liveBroadcasts()
    acc.blocksLeft += left
    acc.queries += 1
    t.record(s"query.${q.name}", t0, wall * 1e3, Map("jobs" -> delta.jobs.toDouble,
      "cpu_s" -> delta.cpuS, "shuffle_mb" -> delta.shuffleMb, "blocks_left" -> left.toDouble))
    Exec(q.name, wall, r.toOption.map(_._1), problem(q, r.map(_._2)))
  }

  private def problem(q: QueryDef, r: Either[Throwable, RowDigest]): Option[String] = r match {
    case Left(e) => Some(s"${q.name} failed: $e")
    case Right(d) if d != reference(q.name) =>
      Some(s"${q.name}: digest $d differs from warm-up ${reference(q.name)}")
    case _ => None
  }
}

object QueryMix {
  /** One timed query execution, its result frame and what its check found. */
  final case class Exec(name: String, seconds: Double, frame: Option[DataFrame],
      problem: Option[String])

  /** (family, query): one `Registry.headline` query per family, the
    * family's cheapest to run cold at sf0.02 except where the slow tail
    * of the full headline pass names one (`q1_pricing_summary`), so the
    * warm-up pass fits the benchmark's time budget. `m_lstm_infer` is not
    * among them: its default model file is absent (ROADMAP B1), and the
    * live-scoring stream measures the LSTM kernel instead. */
  val Mix: Seq[(String, String)] = Seq(
    "relational" -> "l_pruned_bloom_join", "join" -> "j_bloom_join",
    "agg" -> "q1_pricing_summary", "window" -> "w_range_rolling",
    "event" -> "e_sessionize", "text" -> "t_pack",
    "bpe" -> "t_bpe_train", "dedup" -> "d_minhash_sig",
    "similarity" -> "s_knn_brute", "sketch" -> "a_hll_mergeable")

  private val familyByQuery: Map[String, String] = Mix.map(_.swap).toMap

  def familyOf(name: String): String = familyByQuery(name)

  val LayerMetrics: Seq[(String, String)] = Seq("build_s" -> "s", "plan_s" -> "s",
    "exec_s" -> "s", "jobs" -> "count", "cpu_s" -> "s", "shuffle_mb" -> "MB")

  /** Per-family sums over the traced passes, reported per pass;
    * `storage.blocks_left` is the mean over traced queries. */
  final class LayerAcc {
    private val sums = mutable.Map.empty[(String, String), Double].withDefaultValue(0.0)
    val catalyst: mutable.Map[String, Double] = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var blocksLeft = 0
    var queries = 0
    def add(family: String, metric: String, v: Double): Unit = sums((family, metric)) += v
    def metrics(passes: Double): Map[String, M] =
      (for ((f, _) <- Mix; (m, unit) <- LayerMetrics)
        yield s"queries.$f.$m" -> M(sums((f, m)) / passes, unit)).toMap ++
        Seq("analysis_s", "optimizer_s", "physical_s")
          .map(c => s"catalyst.$c" -> M(catalyst(c) / passes, "s")) ++
        Map("storage.blocks_left" -> M(blocksLeft.toDouble / queries.max(1), "count"))
  }
}
