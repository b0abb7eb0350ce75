package graft.tools

import graft.{SparkSpec, StageMeter}
import org.apache.spark.sql.functions.{col, lit}

/** Shuffle-partition derivation (r15 VERDICT #3): the session sizes
  * `spark.sql.shuffle.partitions` from the input corpus's on-disk bytes —
  * ~8 MiB of compressed parquet per partition (≈ the standard 128 MB of
  * in-flight rows), with no override: the derivation replaced the manual
  * partition count the r15 scale audit needed to keep d_dup_spans linear
  * at 100×.
  * Pure functions; only the codegen-cache cases use the shared session.
  */
class GraftSessionSpec extends SparkSpec {
  import graft.GraftSession.{derivedShufflePartitions, BytesPerShufflePartition}

  private def tmpDirWith(sizes: Long*): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory("graft_gss")
    sizes.zipWithIndex.foreach { case (sz, i) =>
      val f = new java.io.RandomAccessFile(dir.resolve(s"f$i.parquet").toFile, "rw")
      try f.setLength(sz) finally f.close() // sparse: metadata-only size
    }
    dir
  }

  test("small corpora stay at the core-count floor (bench plans unchanged)") {
    // sf0.1 is ~17 MB -> 3 raw partitions -> floored at 32 like every round
    val d = tmpDirWith(17L << 20)
    assert(derivedShufflePartitions(32, d.toString) == 32)
    // and the real bench dir itself derives exactly the r15 value
    assert(derivedShufflePartitions(32, "/root/testdata/sf0.1") == 32)
  }

  test("large corpora derive ~bytes/8MiB partitions") {
    val d = tmpDirWith(800L << 20, 800L << 20) // 1.6 GB, the sf10 corpus size
    val got = derivedShufflePartitions(32, d.toString)
    assert(got == ((1600L << 20) + BytesPerShufflePartition - 1) / BytesPerShufflePartition)
    assert(got == 200) // the audit's manual fix used 256; same decade
  }

  test("cap bounds the count; a missing dir falls back to cores") {
    val d = tmpDirWith(100L << 30) // 100 GB sparse
    assert(derivedShufflePartitions(32, d.toString, cap = 512) == 512)
    assert(derivedShufflePartitions(32, "/nonexistent/graft/dir") == 32)
  }

  test("SPARK_GRAFT_CPUS must be an integer of at least 1, and a bad value names itself") {
    import graft.GraftSession.parseCpus
    assert(parseCpus("8") == 8)
    assert(parseCpus("1") == 1)
    for (bad <- Seq("abc", "0", "-1", "", "4.5")) {
      val e = intercept[IllegalArgumentException](parseCpus(bad))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS") && e.getMessage.contains(s"'$bad'"),
        e.getMessage)
    }
  }

  test("the session's generated-class cache holds GeneratedClassCacheEntries") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      graft.GraftSession.GeneratedClassCacheEntries.toString)
  }

  test("a working set of more than Spark's default 100 classes compiles once") {
    // each projection differs only in an inlined long literal, so each is
    // its own generated class; at Spark's default of 100 entries the second
    // round would find none of the first round's classes left
    val meter = StageMeter(spark)
    def round(): StageMeter.Sample = meter.measure {
      (0 until 160).foreach { i =>
        spark.range(1).select((col("id") + lit(5_300_017L + i)).as("x")).collect()
      }
    }._2
    val first = round()
    assert(first.compiles >= 150, s"only ${first.compiles} classes compiled")
    val second = round()
    assert(second.compiles == 0, s"${second.compiles} classes compiled again")
  }
}
