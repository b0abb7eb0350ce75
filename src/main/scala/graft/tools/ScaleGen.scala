package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** In-engine sf-scale-up generator: build an sfN directory by stacking K
  * key-offset replicas of an existing testdata directory (referentially
  * consistent — every foreign key is shifted by the SAME stride as its
  * primary key). Document text gets a per-replica suffix so near-dup pair
  * counts scale ~linearly instead of quadratically.
  *
  * Exists in-engine so [[graft.Bench]] can stage its sf1 heavy-tail profile
  * without depending on driver-side python or a pre-existing /tmp artifact;
  * it is a dev/test tool, not a query operator (at 100 TB the data is
  * real — nothing here synthesizes distributions).
  *
  * The point is VOLUME (spill paths, size-sensitive thresholds), not
  * distribution realism. No shuffle: each replica is a map-side column
  * shift, the union is a plan-level concat, and files land one-per-replica
  * partition.
  */
object ScaleGen {

  private val copyAsIs = Seq("region", "nation")

  /** table -> (column -> stride-source column); stride = max+1 of that
    * column in the SOURCE data, so replica i's keys live in disjoint
    * [i*stride, (i+1)*stride) ranges that still join consistently. */
  private val offsets: Map[String, Map[String, String]] = Map(
    "customer" -> Map("c_custkey" -> "c_custkey"),
    "supplier" -> Map("s_suppkey" -> "s_suppkey"),
    "part" -> Map("p_partkey" -> "p_partkey"),
    "orders" -> Map("o_orderkey" -> "o_orderkey", "o_custkey" -> "c_custkey"),
    "lineitem" -> Map("l_orderkey" -> "o_orderkey", "l_partkey" -> "p_partkey",
      "l_suppkey" -> "s_suppkey"),
    "events" -> Map("event_id" -> "event_id", "user_id" -> "user_id"),
    "documents" -> Map("doc_id" -> "doc_id"),
    "embeddings" -> Map("vec_id" -> "vec_id"))

  /** Generate `dst` = `k` replicas of `src` unless a prior run already
    * completed there FOR THE SAME INPUTS. The marker records the source
    * path, k, and the newest source-file mtime — a persistent dst is never
    * silently served for a different source dir, a different replication
    * factor, or regenerated testdata (the staleness class
    * `stagedCopy`'s docs forbid). Returns the dst path. */
  def ensure(spark: SparkSession, src: String, dst: String, k: Int): String = {
    val marker = new java.io.File(dst, "_SCALEGEN_OK")
    val sig = signature(src, k)
    if (marker.exists() &&
        java.nio.file.Files.readString(marker.toPath).trim == sig) return dst
    generate(spark, src, dst, k)
    // atomic publish: a crash or a concurrent reader never sees a
    // partially-written marker (a torn marker would mismatch the signature
    // and force a regenerate — safe — but an EMPTY marker matching an
    // empty-src signature would not be)
    val tmp = java.io.File.createTempFile("_SCALEGEN_OK", ".tmp",
      new java.io.File(dst))
    java.nio.file.Files.writeString(tmp.toPath, sig)
    java.nio.file.Files.move(tmp.toPath, marker.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    dst
  }

  /** Identity of a generation: source dir + k + a recursive digest of the
    * source files (count, total bytes, newest mtime — walked through table
    * DIRECTORIES too, so a table rewritten in place with the same entry set
    * still moves the signature; top-level mtimes alone would not). */
  private def signature(src: String, k: Int): String = {
    // skip hidden/metadata entries (_SUCCESS, _graft_stats manifests,
    // crash leftovers) by the same _/. rule the lake readers use — a
    // stats-manifest rebuild under the source must not flip the signature
    // and force a minutes-long regeneration of identical data
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.getName.startsWith("_") || f.getName.startsWith(".")) Nil
      else if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    val files = walk(new java.io.File(src))
    val newest = if (files.isEmpty) 0L else files.map(_.lastModified).max
    val bytes = files.map(_.length).sum
    s"$src|$k|n=${files.size}|b=$bytes|t=$newest"
  }

  def generate(spark: SparkSession, src: String, dst: String, k: Int): Unit = {
    require(k >= 1, s"replication factor must be >= 1, got $k")
    new java.io.File(dst).mkdirs()
    // preserve the physical time encoding of the source (timestamp[us]);
    // INT96 would break Tables.eventsUs's physical-type dispatch
    val saved = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try {
      val strideSources = offsets.values.flatMap(_.values).toSet
      val strides: Map[String, Long] = offsets.keys.toSeq.sorted.flatMap { t =>
        val df = spark.read.parquet(s"$src/$t.parquet")
        val here = df.columns.filter(strideSources.contains)
        if (here.isEmpty) Nil
        else {
          val r = df.agg(max(col(here.head)),
            here.tail.map(c => max(col(c))): _*).head()
          here.zipWithIndex.map { case (c, i) =>
            c -> (r.get(i).asInstanceOf[Number].longValue + 1L)
          }
        }
      }.toMap

      copyAsIs.foreach { t =>
        spark.read.parquet(s"$src/$t.parquet")
          .write.mode("overwrite").parquet(s"$dst/$t.parquet")
      }
      offsets.foreach { case (t, offs) =>
        val df = spark.read.parquet(s"$src/$t.parquet")
        val replicas = (0 until k).map { i =>
          val shifted = offs.foldLeft(df) { case (acc, (c, strideSrc)) =>
            if (i == 0) acc
            else acc.withColumn(c, (col(c) + lit(i * strides(strideSrc)))
              .cast(df.schema(c).dataType))
          }
          if (t == "documents" && i > 0) {
            val suffix = s" replica$i"
            shifted
              .withColumn("text", concat(col("text"), lit(suffix)))
              .withColumn("n_chars", (col("n_chars") + lit(suffix.length))
                .cast(df.schema("n_chars").dataType))
          } else shifted
        }
        replicas.reduce(_.unionAll(_))
          .write.mode("overwrite").parquet(s"$dst/$t.parquet")
      }
    } finally saved match {
      case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None => spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
    // this process just overwrote <dst>/<table>.parquet files — drop any
    // memoized relations over them (Tables.read memoizes listing+schema)
    graft.sources.Tables.invalidate(dst)
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 3 || args.length == 4 && args(3) == "--force",
      "usage: ScaleGen <srcDir> <dstDir> <k> [--force]")
    val spark = graft.GraftSession.builder(
      Runtime.getRuntime.availableProcessors.min(32)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // idempotent by default (same marker discipline Bench relies on), so a
    // CLI staging and a later Bench run share one generation; --force
    // regenerates unconditionally. The old marker is deleted FIRST: a
    // forced regenerate with different inputs would otherwise leave a
    // marker that still matches some earlier signature, and a later
    // ensure() would serve the forced output as if it were that generation
    if (args.length == 4) {
      java.nio.file.Files.deleteIfExists(
        new java.io.File(args(1), "_SCALEGEN_OK").toPath)
      generate(spark, args(0), args(1), args(2).toInt)
    } else ensure(spark, args(0), args(1), args(2).toInt)
    spark.stop()
  }
}
