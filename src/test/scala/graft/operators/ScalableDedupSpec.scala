package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ScalableDedupSpec extends SparkSpec {

  test("minhashNearDups finds planted text near-duplicates") {
    import spark.implicits._
    // each base doc is a mostly-unique token stream (low cross-doc Jaccard)
    val base = (0 until 20).map(i =>
      (i.toLong, (0 until 15).map(j => s"tok${i}x$j").mkString(" ")))
    // plant: 100 and 101 are near-copies of docs 0 and 1
    val docs = (base ++ Seq(
      (100L, base(0)._2 + " extra"),
      (101L, base(1)._2 + " tail"))).toDF("doc_id", "text")
    val pairs = ScalableDedup.minhashNearDups(docs, maxDistance = 0.5)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 100L)))
    assert(pairs.contains((1L, 101L)))
    // unrelated docs don't pair up
    assert(!pairs.contains((2L, 3L)))
  }

  test("embeddingNearDups finds close vectors, skips far ones") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(0.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.1f, 0.0f, 0.0f, 0.0f)),   // close to 0
      (2L, Array(10.0f, 10.0f, 10.0f, 10.0f)),
      (3L, Array(10.0f, 10.1f, 10.0f, 10.0f)) // close to 2
    ).toDF("vec_id", "embedding")
    val pairs = ScalableDedup.embeddingNearDups(vecs, maxDistance = 1.0)
      .select("v1", "v2").as[(Long, Long)].collect().toSet
    assert(pairs === Set((0L, 1L), (2L, 3L)))
  }

  /** Planted near-dup corpus: 48 seeded base vectors in 8-dim, the last 8
    * duplicated with tiny noise. Returns (vecs, plantedPairs). */
  private def planted: (org.apache.spark.sql.DataFrame, Set[(Long, Long)]) = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val base = (0 until 48).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
    val dups = (0 until 8).map { j =>
      val (origId, v) = base(40 + j)
      (100L + j, v.map(x => x + 0.01f * rnd.nextGaussian().toFloat), origId)
    }
    val vecs = (base ++ dups.map(d => (d._1, d._2))).toDF("vec_id", "embedding")
    (vecs, dups.map(d => (d._3, d._1)).toSet)
  }

  test("embeddingNearDupsIvfPq: cell-pruned candidates reach recall >= the LSH path") {
    import spark.implicits._
    val (vecs, plantedPairs) = planted
    // same effective threshold: IVF-PQ path takes L2 SQUARED, LSH takes L2
    val ivf = ScalableDedup.embeddingNearDupsIvfPq(vecs, dim = 8,
        maxSqDistance = 0.25, nLists = 4, nProbe = 2, m = 4, k = 4)
      .select("v1", "v2").as[(Long, Long)].collect().toSet
    val lsh = ScalableDedup.embeddingNearDups(vecs, maxDistance = 0.5)
      .select("v1", "v2").as[(Long, Long)].collect().toSet
    val ivfRecall = plantedPairs.count(ivf.contains).toDouble / plantedPairs.size
    val lshRecall = plantedPairs.count(lsh.contains).toDouble / plantedPairs.size
    assert(ivfRecall >= lshRecall,
      s"IVF-PQ recall $ivfRecall below LSH recall $lshRecall")
    assert(ivfRecall >= 0.9, s"planted near-dups missed: recall $ivfRecall")
    // near-identical vectors are the ONLY pairs within the threshold here
    assert(ivf.forall(p => plantedPairs.contains(p)),
      s"false pairs: ${ivf.diff(plantedPairs)}")
  }

  /** larger planted corpus for the scale-tier recall gate (r15 ADVICE #4):
    * 480 base vectors + 80 near-copies, enough for the hierarchical route's
    * codebooks to be non-degenerate when forced on */
  private def plantedLarge: (org.apache.spark.sql.DataFrame, Set[(Long, Long)]) = {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val base = (0 until 480).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
    val dups = (0 until 80).map { j =>
      val (origId, v) = base(400 + j)
      (1000L + j, v.map(x => x + 0.01f * rnd.nextGaussian().toFloat), origId)
    }
    val vecs = (base ++ dups.map(d => (d._1, d._2))).toDF("vec_id", "embedding")
    (vecs, dups.map(d => (d._3, d._1)).toSet)
  }

  test("hierarchical route: recall gate holds at a scaled tier (r15 ADVICE)") {
    import spark.implicits._
    val (vecs, plantedPairs) = plantedLarge
    // force the IMI route on this corpus (production threshold is 8192)
    val imi = ScalableDedup.embeddingNearDupsIvfPq(vecs, dim = 8,
        maxSqDistance = 0.25, hierarchicalMin = 1L)
      .select("v1", "v2").as[(Long, Long)].collect().toSet
    val recall = plantedPairs.count(imi.contains).toDouble / plantedPairs.size
    assert(recall >= 0.9, s"planted near-dups missed at scale: recall $recall")
    // subset-exactness is structural (every candidate verified) — no false pair
    assert(imi.forall(p => plantedPairs.contains(p)),
      s"false pairs: ${imi.diff(plantedPairs)}")
    // and the small-corpus auto route (flat) finds the same planted pairs
    val flat = ScalableDedup.embeddingNearDupsIvfPq(vecs, dim = 8,
        maxSqDistance = 0.25, m = 4, k = 4)
      .select("v1", "v2").as[(Long, Long)].collect().toSet
    val flatRecall = plantedPairs.count(flat.contains).toDouble / plantedPairs.size
    assert(recall >= flatRecall - 0.1,
      s"hierarchical recall $recall collapsed vs flat $flatRecall")
  }

  test("hierarchical route plan: candidates via cell equi-join, not cross join") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val (vecs, _) = plantedLarge
    val model = Imi.train(vecs, dim = 8, targetCells = 16)
    val withProbes = vecs.select(col("vec_id"), col("embedding"),
      Imi.probesUdf(model, 2)(col("embedding")).as("probes"))
    val df = ScalableDedup.imiPairs(withProbes, maxSqDistance = 0.25)
    df.count()
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val bad = plan.collectWithSubqueries {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }
    assert(bad.isEmpty,
      s"IMI candidates must be an equi-join on cell, found: ${bad.map(_.nodeName)}")
  }

  test("Imi.probesUdf: exact product-centroid ranking, assignment first") {
    import spark.implicits._
    val (vecs, _) = planted
    val model = Imi.train(vecs, dim = 8, targetCells = 9)
    val got = vecs.select(col("vec_id"),
        Imi.probesUdf(model, 3)(col("embedding")).as("probes"))
      .as[(Long, Seq[Long])].collect()
    val emb = vecs.as[(Long, Array[Float])].collect().toMap
    got.foreach { case (id, probes) =>
      val x = emb(id)
      val s = model.split
      // brute-force ranking over ALL k1×k2 product centroids in float math
      def d2(v: Array[Float], c: Array[Float], off: Int): Float = {
        var d = 0f
        c.indices.foreach { i => val t = v(off + i) - c(i); d += t * t }
        d
      }
      val all = (for {
        i <- model.cb1.indices
        j <- model.cb2.indices
      } yield (d2(x, model.cb1(i), 0) + d2(x, model.cb2(j), s),
        i.toLong * model.k2 + j)).sortBy(c => (c._1, c._2))
      assert(probes == all.take(3).map(_._2),
        s"vec $id: probes $probes != brute ${all.take(3)}")
    }
  }

  test("persisted semantic index: appends exactly-once into existing cells, " +
    "recall gate holds on the appended corpus") {
    import spark.implicits._
    val (vecs, plantedPairs) = plantedLarge
    val path = java.nio.file.Files.createTempDirectory("semidx").toString
    val base = vecs.filter(col("vec_id") < 1000L) // 480 base vectors
    val dups = vecs.filter(col("vec_id") >= 1000L) // the 80 near-copies
    val model = ScalableDedup.buildSemanticIndex(base, dim = 8, path)
    // append the near-copies as a streamed-style batch; replaying the SAME
    // batch id must overwrite its own partitions, not duplicate
    ScalableDedup.appendSemantic(spark, path, dups, batchId = Some(7L))
    val n1 = spark.read.parquet(s"$path/vectors").count()
    ScalableDedup.appendSemantic(spark, path, dups, batchId = Some(7L))
    val n2 = spark.read.parquet(s"$path/vectors").count()
    assert(n1 === 560L && n2 === n1, s"replayed batch must be a no-op: $n1 -> $n2")
    // the saved model IS the quantizer the append used: stored cells equal
    // a fresh assignment under the saved codebooks, and the cell id space
    // is the model's (appends land in existing cells by construction)
    val saved = Imi.readModel(spark, s"$path/imi_model")
    assert((saved.k1, saved.k2, saved.dim) === (model.k1, model.k2, model.dim))
    val stored = spark.read.parquet(s"$path/vectors")
      .filter(col("vec_id") >= 1000L)
      .select(col("vec_id"), col("cell").cast("long"))
      .as[(Long, Long)].collect().toMap
    val expected = dups.select(col("vec_id"),
        element_at(Imi.probesUdf(saved, 1)(col("embedding")), 1).as("cell"))
      .as[(Long, Long)].collect().toMap
    assert(stored === expected,
      "appended cells must be the saved model's assignment")
    assert(stored.values.toSet.subsetOf((0L until saved.nCells.toLong).toSet))
    // dedup over the index (codebooks REUSED, nothing retrained): the same
    // recall gate as the in-memory hierarchical route
    val pairs = ScalableDedup
      .semanticNearDupsFromIndex(spark, path, maxSqDistance = 0.25)
      .select("v1", "v2").as[(Long, Long)].collect().toSet
    val recall = plantedPairs.count(pairs.contains).toDouble / plantedPairs.size
    assert(recall >= 0.9, s"planted near-dups missed on appended corpus: $recall")
    assert(pairs.forall(plantedPairs.contains),
      s"false pairs: ${pairs.diff(plantedPairs)}")
  }

  test("appendSemanticStream: micro-batches land exactly-once") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (vecs, _) = plantedLarge
    val path = java.nio.file.Files.createTempDirectory("semstr").toString
    ScalableDedup.buildSemanticIndex(
      vecs.filter(col("vec_id") < 400L), dim = 8, path)
    def rows(lo: Long, hi: Long): Seq[(Long, Seq[Float])] =
      vecs.filter(col("vec_id") >= lo && col("vec_id") < hi).collect()
        .map(r => r.getLong(0) ->
          r.getAs[scala.collection.Seq[Float]]("embedding").toSeq).toSeq
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[Float])]
    val q = ScalableDedup.appendSemanticStream(spark, path,
      input.toDF().toDF("vec_id", "embedding"), s"$path/ckpt")
    try {
      input.addData(rows(400, 440): _*)
      q.processAllAvailable()
      input.addData(rows(440, 480): _*)
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.read.parquet(s"$path/vectors").select("vec_id")
      .collect().map(_.getLong(0))
    assert(ids.length === ids.distinct.length, "stream must not duplicate")
    assert(ids.toSet === (0L until 480L).toSet)
  }

  test("embeddingNearDupsIvfPq(modelDir): codebooks trained once, reused verbatim") {
    import spark.implicits._
    val (vecs, plantedPairs) = plantedLarge
    val dir = java.nio.file.Files.createTempDirectory("imimodel").toString + "/m"
    def run() = ScalableDedup.embeddingNearDupsIvfPq(vecs, dim = 8,
        maxSqDistance = 0.25, hierarchicalMin = 1L, modelDir = dir)
      .select("v1", "v2").as[(Long, Long)].collect().toSet
    val p1 = run()
    def snapshot() = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified).toMap
    val s1 = snapshot()
    assert(s1.nonEmpty, "first run must persist the codebooks")
    val p2 = run()
    assert(snapshot() === s1, "second run must not retrain/rewrite the model")
    assert(p2 === p1, "reused codebooks must reproduce the pairs exactly")
    val recall = plantedPairs.count(p1.contains).toDouble / plantedPairs.size
    assert(recall >= 0.9)
  }

  test("embeddingNearDupsIvfPq plan: candidates via cell equi-join, not cross join") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val (vecs, _) = planted
    val idx = IvfPq.build(vecs, dim = 8, nLists = 4, m = 4, k = 4)
    val df = ScalableDedup.ivfPqCandidatePairs(vecs, idx, nProbe = 2,
      maxSqDistance = 0.25)
    df.count()
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val bad = plan.collectWithSubqueries {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }
    // only the bounded query×centroid probe pick may be non-equi; the
    // candidate scan (the side carrying corpus vec_id + embedding) must be
    // reached by the equi-join on cell
    val onCorpus = bad.filter(_.output.exists(_.name == "dist"))
    assert(onCorpus.isEmpty,
      s"candidate scan must be an equi-join on cell, found: ${onCorpus.map(_.nodeName)}")
    graft.Checkpoints.release(idx.encoded)
  }
}
