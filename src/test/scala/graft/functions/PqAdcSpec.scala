package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Parity pin for the native ADC fold: `pq_adc(tbl, codes)` must be
  * BIT-identical to the HOF form it replaced in the ANN scans' inner loop
  * (Pq.adcScoreExpr) — same doubles, same left-to-right accumulation. */
class PqAdcSpec extends SparkSpec {
  import spark.implicits._

  private val hofForm =
    """aggregate(sequence(0, size(codes) - 1), 0.0D, (acc, j) ->
      |  acc + element_at(element_at(tbl, j + 1), element_at(codes, j + 1) + 1))"""
      .stripMargin

  test("pq_adc is bit-identical to the HOF aggregate form") {
    val rnd = new scala.util.Random(7)
    val m = 16
    val k = 16
    val rows = (0 until 200).map { i =>
      val tbl = Seq.fill(m)(Seq.fill(k)(rnd.nextDouble() * 10 - 5))
      val codes = Seq.fill(m)(rnd.nextInt(k))
      (i.toLong, tbl, codes)
    }
    val df = rows.toDF("id", "tbl", "codes")
      .withColumn("native", expr("pq_adc(tbl, codes)"))
      .withColumn("hof", expr(hofForm))
    val bad = df.filter(
      expr("CAST(native AS STRING) <> CAST(hof AS STRING)")).count()
    assert(bad === 0, "native and HOF ADC scores must agree bit-for-bit")
  }

  test("pq_adc is null-safe and rejects out-of-range codes loudly") {
    val tbl = Some(Seq(Some(Seq(1.0, 2.0)), Some(Seq(3.0, 4.0))))
    val df = Seq(
      (1L, tbl, Some(Seq(Some(1), Some(0)))),
      (2L, None, Some(Seq(Some(0), Some(0)))),
      (3L, tbl, None),
      (4L, tbl, Some(Seq(Some(1), None))), // a null code
      (5L, Some(Seq(Some(Seq(1.0, 2.0)), None)), Some(Seq(Some(1), Some(0))))) // a null table row
      .toDF("id", "tbl", "codes")
    // On a local relation the projection is folded by the interpreted path;
    // above an exchange it runs in whole-stage codegen.
    for (in <- Seq(df, df.repartition(1))) {
      val got = in.withColumn("s", expr("pq_adc(tbl, codes)"))
        .orderBy("id").select("s").collect().map(r =>
          if (r.isNullAt(0)) None else Some(r.getDouble(0)))
      assert(got.toSeq === Seq(Some(5.0), None, None, None, None))
    }

    val oob = Seq((1L, Seq(Seq(1.0, 2.0)), Seq(5))).toDF("id", "tbl", "codes")
      .withColumn("s", expr("pq_adc(tbl, codes)"))
    val e = intercept[Exception] { oob.collect() }
    assert(e.getMessage != null)
  }
}
