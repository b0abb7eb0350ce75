package graft.operators

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

class IvfPqSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private lazy val vecs =
    Tables.embeddings(spark, dir).select("vec_id", "embedding").cache()
  private lazy val idx = IvfPq.build(vecs, dim = 64, nLists = 16, m = 16, k = 16)

  test("every vector is encoded exactly once, with its cell and m codes") {
    val n = vecs.count()
    assert(idx.encoded.count() === n)
    assert(idx.encoded.select("vec_id").distinct().count() === n)
    val shape = idx.encoded.select(
      min(size(col("codes"))).as("mn"), max(size(col("codes"))).as("mx"),
      min("cell").as("cmin"), max("cell").as("cmax")).head()
    assert(shape.getInt(0) === 16 && shape.getInt(1) === 16)
    assert(shape.getInt(2) >= 0 && shape.getInt(3) < 16)
  }

  test("probing ALL cells with a huge shortlist reproduces brute force exactly") {
    // with no pruning and full re-rank coverage the composed index must
    // degrade to exact search — the correctness anchor for the whole path
    val queries = vecs.filter(col("vec_id") < 5)
    val got = IvfPq.search(idx, queries, kNN = 10, nProbe = 16, shortlist = 499)
      .select("q_id", "rank", "vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val bf = Ivf.bruteForce(vecs, queries, k = 10)
      .select("q_id", "rank", "vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got === bf)
  }

  test("nProbe=4 pruned search keeps high recall vs brute force") {
    val queries = vecs.filter(col("vec_id") < 10)
    val got = IvfPq.search(idx, queries, kNN = 10, nProbe = 4, shortlist = 64)
      .select("q_id", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val truth = Ivf.bruteForce(vecs, queries, k = 10)
      .select("q_id", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = truth.map { case (q, t) =>
      got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.6, s"mean recall@10 $mean below 0.6 (per-query: $recalls)")
  }

  test("returned distances are exact (re-ranked), not ADC approximations") {
    val queries = vecs.filter(col("vec_id") < 5)
    val bf = Ivf.bruteForce(vecs, queries, k = 10)
      .select(col("q_id"), col("vec_id"), col("l2_dist").as("bf_dist"))
    val bad = IvfPq.search(idx, queries, kNN = 10, nProbe = 4, shortlist = 64)
      .join(bf, Seq("q_id", "vec_id"))
      .filter(abs(col("l2_dist") - col("bf_dist")) > 1e-12)
    assert(bad.count() === 0)
  }

  test("search fails loudly on a dim-mismatched query (zip_with pads, guard must not)") {
    import spark.implicits._
    val badQ = Seq((9999L, Seq.fill(32)(0.5f))).toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      IvfPq.search(idx, badQ, kNN = 3, nProbe = 2, shortlist = 8).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("PQ query")),
      s"expected the query-dim error, got: ${ex.getMessage}")
  }

  test("appendToIndex: appended rows are exactly the rebuild encoding, search " +
    "sees them, pruning survives, skew flags fire") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("ivfpq_app").toString
    val baseVecs = vecs.filter(col("vec_id") < 400).cache()
    val newVecs = vecs.filter(col("vec_id") >= 400 && col("vec_id") < 450)
    val base = IvfPq.build(baseVecs, dim = 64, nLists = 16, m = 16, k = 16)
    IvfPq.writeIndex(base, path)
    val report = IvfPq.appendToIndex(spark, path, newVecs)

    // 1. the disk rows for the appended ids must EQUAL the rows build()
    //    itself would produce for them under the same quantizers — i.e.
    //    append is the incremental half of the rebuild, bit-for-bit.
    //    Reference: assign each new vector to its argmin centroid and
    //    encode the residual with the base codebooks, directly in the spec.
    val after = IvfPq.readIndex(spark, path)
    val cents = base.ivf.centroids.collect()
      .map(r => r.getInt(0) -> r.getAs[scala.collection.Seq[Double]]("centroid"))
    val expect = newVecs.collect().map { r =>
      val emb = r.getAs[scala.collection.Seq[Float]]("embedding")
      val (cell, cent) = cents.minBy { case (c, ct) =>
        val d = emb.zip(ct).map { case (x, ce) => (x.toDouble - ce) * (x.toDouble - ce) }.sum
        (d, c)
      }
      (r.getLong(0), cell, emb.zip(cent).map { case (x, ce) => x.toDouble - ce })
    }
    val expectDf = expect.toSeq.toDF("vec_id", "cell", "embedding")
    val expectCodes = Pq.encode(expectDf, base.cb)
      .select(col("vec_id"), col("cell"), col("codes"))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getAs[scala.collection.Seq[Int]]("codes").toSeq)).toMap
    val gotCodes = after.encoded.filter(col("vec_id") >= 400)
      .select(col("vec_id"), col("cell"), col("codes"))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getAs[scala.collection.Seq[Int]]("codes").toSeq)).toMap
    assert(gotCodes.keySet === expect.map(_._1).toSet,
      "every appended vector must be on disk exactly once")
    assert(gotCodes === expectCodes, "appended cells/codes must match the " +
      "independent argmin-assign + residual-encode reference")

    // 2. search on the appended index FINDS the new vectors: each appended
    //    vector queried against the index returns itself... it is excluded
    //    (q_id != vec_id), so instead: the full-probe search over the
    //    appended index equals brute force over the UNION corpus.
    val union = baseVecs.unionByName(newVecs)
    val queries = vecs.filter(col("vec_id").isin(405L, 420L, 3L))
    val got = IvfPq.search(after, queries, kNN = 5, nProbe = 16,
        shortlist = 499, pruneCellScan = true)
      .select("q_id", "rank", "vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val bf = Ivf.bruteForce(union, queries, k = 5)
      .select("q_id", "rank", "vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got === bf, "full-probe search after append must equal brute " +
      "force over the union corpus")

    // 3. the probe path still prunes directories after the append (same
    //    descent as PlanAuditSpec: execute, then walk through AQE stages)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def deepScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => deepScans(a.executedPlan)
      case q: QueryStageExec => deepScans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => (other.children ++ other.subqueries).flatMap(deepScans)
    }
    val pruned = IvfPq.search(after, queries, kNN = 3, nProbe = 2,
      shortlist = 16, pruneCellScan = true)
    pruned.count()
    val codeScans = deepScans(pruned.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("codes")))
    assert(codeScans.nonEmpty, "expected file scans over the codes layout")
    codeScans.foreach(sc => assert(sc.partitionFilters.nonEmpty,
      s"codes scan missing partition filter: ${sc.metadata}"))
    val totalFiles = spark.read.parquet(s"$path/codes").inputFiles.length
    val readFiles = codeScans.map(_.metrics("numFiles").value).max
    assert(readFiles < totalFiles,
      s"expected directory pruning after append: read $readFiles of $totalFiles")

    // 4. no skew from a balanced append; a pathological append (everything
    //    landing in one cell) must flag it
    assert(report.filter(col("skewed")).count() === 0,
      "a 50-vector balanced append must not trip the 4x-mean skew flag")
    val hot = after.encoded.filter(col("vec_id") === 3L).head()
    val hotEmb = hot.getAs[scala.collection.Seq[Float]]("embedding")
    val clones = (9000L until 9400L).map(i => (i, hotEmb)).toDF("vec_id", "embedding")
    val report2 = IvfPq.appendToIndex(spark, path, clones)
    val hotCell = hot.getAs[Int]("cell")
    val flagged = report2.filter(col("skewed")).select("cell")
      .collect().map(_.getInt(0)).toSet
    assert(flagged.contains(hotCell),
      s"400 clones into cell $hotCell must trip the skew flag, got $flagged")
    baseVecs.unpersist()
  }

  test("appendStream follows a vector stream; batch replays are exactly-once") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val path = java.nio.file.Files.createTempDirectory("ivfpq_str").toString
    val baseVecs = vecs.filter(col("vec_id") < 300).cache()
    IvfPq.writeIndex(IvfPq.build(baseVecs, dim = 64, nLists = 16, m = 16, k = 16), path)
    def embRows(lo: Long, hi: Long): Seq[(Long, Seq[Float])] =
      vecs.filter(col("vec_id") >= lo && col("vec_id") < hi).collect()
        .map(r => r.getLong(0) ->
          r.getAs[scala.collection.Seq[Float]]("embedding").toSeq).toSeq

    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[Float])]
    val q = IvfPq.appendStream(spark, path,
      input.toDF().toDF("vec_id", "embedding"), s"$path/ckpt")
    try {
      input.addData(embRows(300, 310): _*)
      q.processAllAvailable()
      input.addData(embRows(310, 320): _*)
      q.processAllAvailable()
    } finally q.stop()

    val ids = spark.read.parquet(s"$path/codes").select("vec_id")
      .collect().map(_.getLong(0))
    assert(ids.length === ids.distinct.length, "stream must not duplicate")
    assert(ids.toSet === (0L until 320L).toSet -- (0L until 300L).toSet
      ++ (0L until 300L).toSet, s"all base + streamed ids present")

    // the idempotence MECHANISM under a forced replay: the same batch id
    // re-applied overwrites its own partitions instead of appending (this
    // is what a foreachBatch replay after a crash does)
    val replay = vecs.filter(col("vec_id") >= 320 && col("vec_id") < 330)
    IvfPq.appendToIndex(spark, path, replay, batchId = Some(99L))
    val n1 = spark.read.parquet(s"$path/codes").count()
    IvfPq.appendToIndex(spark, path, replay, batchId = Some(99L))
    val n2 = spark.read.parquet(s"$path/codes").count()
    assert(n1 === n2, s"replayed batch must be a no-op: $n1 -> $n2")

    // search correctness over base + both streamed batches + the replay
    val union = vecs.filter(col("vec_id") < 330)
    val queries = vecs.filter(col("vec_id").isin(305L, 315L, 325L, 3L))
    val after = IvfPq.readIndex(spark, path)
    val got = IvfPq.search(after, queries, kNN = 5, nProbe = 16,
        shortlist = 9999, pruneCellScan = true)
      .select("q_id", "rank", "vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val bf = Ivf.bruteForce(union, queries, k = 5)
      .select("q_id", "rank", "vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got === bf, "search after streamed ingest must equal brute force")

    // compaction folds the per-batch small files back into one file per
    // cell — same rows, same search results, all under ingest_batch=-1
    val (nBefore, nAfter) = IvfPq.compactIndex(spark, path)
    assert(nAfter < nBefore, s"compaction must shrink files: $nBefore -> $nAfter")
    val compacted = spark.read.parquet(s"$path/codes")
    // partition-dir discovery infers the narrowest numeric type, so the
    // batch column reads back as int here — compare numerically
    assert(compacted.select("ingest_batch").distinct().collect()
      .map(_.get(0).asInstanceOf[Number].longValue).toSeq === Seq(-1L))
    assert(compacted.select("vec_id").collect().map(_.getLong(0)).toSet
      === (0L until 330L).toSet, "compaction must preserve the row set")
    val got2 = IvfPq.search(IvfPq.readIndex(spark, path), queries, kNN = 5,
        nProbe = 16, shortlist = 9999, pruneCellScan = true)
      .select("q_id", "rank", "vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got2 === bf, "search after compaction must be unchanged")
    baseVecs.unpersist()
  }

  test("splitCell: a hot cell re-clusters in place — no loss, no dup, search " +
    "exact, routing swapped") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("ivfpq_split").toString
    val baseVecs = vecs.filter(col("vec_id") < 400).cache()
    val base = IvfPq.build(baseVecs, dim = 64, nLists = 16, m = 16, k = 16)
    IvfPq.writeIndex(base, path)
    // make one cell hot: 300 near-clones of one vector (small deterministic
    // jitter so the sub-clustering has structure to find)
    val seedRow = base.encoded.filter(col("vec_id") === 7L).head()
    val seedEmb = seedRow.getAs[scala.collection.Seq[Float]]("embedding").toSeq
    val hotCell = seedRow.getAs[Int]("cell")
    val clones = (9000L until 9300L).map { i =>
      (i, seedEmb.zipWithIndex.map { case (x, j) =>
        x + (((i + j) % 7).toFloat - 3f) * 1e-3f })
    }.toDF("vec_id", "embedding")
    val report = IvfPq.appendToIndex(spark, path, clones)
    assert(report.filter(col("skewed")).select("cell")
      .collect().map(_.getInt(0)).contains(hotCell))

    val before = spark.read.parquet(s"$path/codes")
    val beforeIds = before.select("vec_id").collect().map(_.getLong(0)).toSet
    val hotBefore = before.filter(col("cell") === hotCell).count()

    val newCells = IvfPq.splitCell(spark, path, hotCell, k2 = 2)
    assert(newCells.size === 2 && newCells.forall(_ > 15),
      s"sub-cells must take fresh ids above the old max, got $newCells")

    // centroid table: routing swapped — old id out, the two new ids in
    val after = IvfPq.readIndex(spark, path)
    val cellIds = after.ivf.centroids.select("cell")
      .collect().map(_.getInt(0)).toSet
    assert(!cellIds.contains(hotCell) && newCells.forall(cellIds.contains))
    assert(cellIds.size === 17) // 16 - 1 + 2

    // conservation: every vec_id exactly once, old directory gone
    val afterCodes = spark.read.parquet(s"$path/codes")
    assert(afterCodes.select("vec_id").collect().map(_.getLong(0)).toSet
      === beforeIds, "split must neither lose nor duplicate vectors")
    assert(afterCodes.count() === beforeIds.size)
    assert(!new java.io.File(s"$path/codes/cell=$hotCell").exists(),
      "old cell directory must be removed")
    // the hot mass actually split
    val subSizes = afterCodes.filter(col("cell").isin(newCells.map(Int.box): _*))
      .groupBy("cell").count().collect().map(_.getLong(1))
    assert(subSizes.sum === hotBefore && subSizes.forall(_ < hotBefore),
      s"sub-cells $subSizes must partition the $hotBefore hot rows")

    // exactness anchor survives the split: full-probe search over the
    // post-split index ≡ brute force over the full corpus
    val union = baseVecs.unionByName(clones)
    val queries = vecs.filter(col("vec_id").isin(7L, 11L))
      .unionByName(clones.filter(col("vec_id") === 9005L))
    val got = IvfPq.search(after, queries, kNN = 5, nProbe = 17,
        shortlist = 9999, pruneCellScan = true)
      .select("q_id", "rank", "vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val bf = Ivf.bruteForce(union, queries, k = 5)
      .select("q_id", "rank", "vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got === bf, "full-probe search after the split must stay exact")

    // a crashed split's leftover (a cell dir the centroid table no longer
    // references) is unreachable by search and vacuumIndex sweeps it
    val staleDir = new java.io.File(s"$path/codes/cell=$hotCell/ingest_batch=-1")
    staleDir.mkdirs()
    val donor = new java.io.File(s"$path/codes/cell=${newCells.head}/ingest_batch=-1")
    donor.listFiles().filter(_.getName.endsWith(".parquet")).take(1).foreach {
      f => java.nio.file.Files.copy(f.toPath,
        new java.io.File(staleDir, f.getName).toPath)
    }
    val gotStale = IvfPq.search(IvfPq.readIndex(spark, path), queries, kNN = 5,
        nProbe = 17, shortlist = 9999, pruneCellScan = true)
      .select("q_id", "rank", "vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(gotStale === bf, "an unreferenced cell dir must be unreachable")
    assert(IvfPq.vacuumIndex(spark, path) === Seq(hotCell))
    assert(!new java.io.File(s"$path/codes/cell=$hotCell").exists())
    assert(IvfPq.vacuumIndex(spark, path).isEmpty, "vacuum is idempotent")
    baseVecs.unpersist()
  }

  test("a pre-ingest_batch (cell-only) index refuses appends and migrates " +
    "through compactIndex") {
    val path = java.nio.file.Files.createTempDirectory("ivfpq_old").toString
    val baseVecs = vecs.filter(col("vec_id") < 200)
    val base = IvfPq.build(baseVecs, dim = 64, nLists = 8, m = 16, k = 16)
    // write the OLD layout by hand: codes partitioned by cell only — an
    // append here would create a mixed-depth tree that breaks every read
    base.encoded.write.partitionBy("cell").parquet(s"$path/codes")
    base.ivf.centroids.write.parquet(s"$path/centroids")
    import spark.implicits._
    Seq((base.cb.m, base.cb.k, base.cb.subDim, base.cb.cents))
      .toDF("m", "k", "subDim", "cents")
      .coalesce(1).write.parquet(s"$path/codebooks")
    val newVecs = vecs.filter(col("vec_id") >= 200 && col("vec_id") < 210)
    val e = intercept[IllegalArgumentException] {
      IvfPq.appendToIndex(spark, path, newVecs)
    }
    assert(e.getMessage.contains("compactIndex"),
      s"the guard must name the migration path: ${e.getMessage}")
    // migrate, then the same append succeeds and search is exact
    IvfPq.compactIndex(spark, path)
    IvfPq.appendToIndex(spark, path, newVecs)
    val union = vecs.filter(col("vec_id") < 210)
    val queries = vecs.filter(col("vec_id").isin(3L, 205L))
    val got = IvfPq.search(IvfPq.readIndex(spark, path), queries, kNN = 5,
        nProbe = 8, shortlist = 9999, pruneCellScan = true)
      .select("q_id", "rank", "vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val bf = Ivf.bruteForce(union, queries, k = 5)
      .select("q_id", "rank", "vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got === bf, "post-migration append must serve exact results")
    graft.Checkpoints.release(base.encoded)
  }

  test("plan: corpus codes reached by an equi-join on cell, never a cross join") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val df = IvfPq.search(idx, vecs.filter(col("vec_id") < 3), kNN = 5,
      nProbe = 4, shortlist = 16)
    df.count()
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val bad = plan.collectWithSubqueries {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }
    // the only allowed theta shape is the broadcast query×centroid probe
    // (bounded: |Q|×nLists); the CODE scan itself must be an equi-join
    val onCodes = bad.filter(_.output.exists(_.name == "codes"))
    assert(onCodes.isEmpty,
      s"code scan must be an equi-join on cell, found: ${onCodes.map(_.nodeName)}")
  }

  test("deleteVectors: tombstoned ids vanish from search; compact purges them") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("ivfpq_del")
      .toString + "/ix"
    IvfPq.writeIndex(idx, path)
    val disk = IvfPq.readIndex(spark, path)
    val queries = vecs.filter(col("vec_id") < 5)
    // ground truth BEFORE deletion names the ids we'll delete: the top-1
    // neighbors themselves, so the exclusion visibly changes results
    val top1 = Ivf.bruteForce(vecs, queries, k = 1)
      .select("vec_id").collect().map(_.getLong(0)).distinct.toSeq
    val n = IvfPq.deleteVectors(spark, path,
      (top1 ++ Seq(999999L)).toDF("vec_id")) // unknown id: harmless no-op
    assert(n === top1.size + 1)
    // full-probe search on the reopened index ≡ brute force on SURVIVORS
    val survivors = vecs.filter(!col("vec_id").isInCollection(top1))
    val after = IvfPq.readIndex(spark, path)
    def results(ix: IvfPq.Index) =
      IvfPq.search(ix, queries, kNN = 5, nProbe = 16, shortlist = 499,
          pruneCellScan = true)
        .select("q_id", "rank", "vec_id").collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val got = results(after)
    val bf = Ivf.bruteForce(survivors, queries, k = 5)
      .select("q_id", "rank", "vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got === bf,
      "post-delete search must equal brute force on the surviving set")
    assert(!got.values.exists(top1.contains),
      "a deleted vector must never be served")
    // deletes are idempotent
    IvfPq.deleteVectors(spark, path, top1.toDF("vec_id"))
    assert(results(IvfPq.readIndex(spark, path)) === bf)
    // compact purges the bytes and clears tombstones; results unchanged
    IvfPq.compactIndex(spark, path)
    val codesLeft = spark.read.parquet(s"$path/codes")
      .filter(col("vec_id").isInCollection(top1)).count()
    assert(codesLeft === 0, "compaction must physically purge tombstoned rows")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/deleted")),
      "compaction must clear the now-redundant tombstone set")
    assert(results(IvfPq.readIndex(spark, path)) === bf)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(path).getParentFile)
  }

  test("recall@10 at nProbe=4 reaches 0.6 for 11 of the 12 build seeds 38-49") {
    // the seed-42 gate above tests one random draw of the quantizers; this
    // is the measured distribution across draws (the k-means fits are a
    // function of the row set and the seed, so the sweep is deterministic)
    val queries = vecs.filter(col("vec_id") < 10)
    val truth = Ivf.bruteForce(vecs, queries, k = 10)
      .select("q_id", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val means = (38L to 49L).map { seed =>
      val index = IvfPq.build(vecs, dim = 64, nLists = 16, m = 16, k = 16, seed = seed)
      val got = IvfPq.search(index, queries, kNN = 10, nProbe = 4, shortlist = 64)
        .select("q_id", "vec_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      graft.Checkpoints.release(index.encoded)
      seed -> truth.map { case (q, t) =>
        got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size }.sum / truth.size
    }
    assert(means.count(_._2 >= 0.6) >= 11, s"mean recall@10 per seed: $means")
  }
}
