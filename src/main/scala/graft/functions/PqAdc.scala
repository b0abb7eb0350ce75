package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Native Catalyst expression: PQ asymmetric-distance lookup sum —
  * `Σ_j tbl[j][codes[j]]` over the m subspaces, accumulated LEFT TO RIGHT.
  * Bit-identical to the HOF form the ANN search paths used to spell
  * (`aggregate(sequence(0, size(codes)-1), 0.0D, (acc, j) ->
  * acc + element_at(element_at(tbl, j+1), element_at(codes, j+1)+1))`):
  * same doubles, same sequential add order.
  *
  * Same §2.9/§4 justification as [[FloatL2Sq]]: the HOF chain is the INNER
  * LOOP of both ANN scans — |queries| × |corpus-or-probed-cells| rows, each
  * paying m interpreted lambda invocations plus a materialized sequence
  * array — where this is one fused loop inside whole-stage codegen.
  *
  * `tbl`: ARRAY<ARRAY<DOUBLE>> (the per-query m×k ADC table), `codes`:
  * ARRAY<INT> (the corpus row's PQ codes). Null-safe on either argument
  * and on every element the fold reads — a null code, table row or table
  * cell yields a null score, as the HOF's `element_at` does. An
  * out-of-range code means corrupt data and fails loudly, where the HOF's
  * non-ANSI `element_at` would silently null the whole score.
  */
case class PqAdc(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc"

  // null on a null element too, not only on a null argument
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(ArrayType(DoubleType, _), _), ArrayType(IntegerType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"pq_adc requires (ARRAY<ARRAY<DOUBLE>>, ARRAY<INT>), got " +
        s"${l.catalogString}, ${r.catalogString}")
  }

  override protected def nullSafeEval(t: Any, c: Any): Any =
    PqAdc.score(t.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, c) => {
      val r = ctx.freshName("adc")
      s"""java.lang.Double $r = graft.functions.PqAdc.score($t, $c);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.doubleValue(); }"""
        .stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdc =
    copy(left = newLeft, right = newRight)
}

object PqAdc {

  /** Sequential left-fold of the m table lookups — the accumulation order is
    * part of the cross-path bit-equality contract; do not reassociate.
    * Null when a code, table row or table cell it reads is null. */
  def score(tbl: ArrayData, codes: ArrayData): java.lang.Double = {
    val m = codes.numElements()
    require(tbl.numElements() >= m,
      s"pq_adc: table has ${tbl.numElements()} subspaces, codes have $m")
    var acc = 0.0
    var j = 0
    while (j < m) {
      if (codes.isNullAt(j) || tbl.isNullAt(j)) return null
      val row = tbl.getArray(j)
      val c = codes.getInt(j)
      require(c >= 0 && c < row.numElements(),
        s"pq_adc: code $c out of range for ${row.numElements()} centroids")
      if (row.isNullAt(c)) return null
      acc += row.getDouble(c)
      j += 1
    }
    acc
  }

  val info: ExpressionInfo = new ExpressionInfo(classOf[PqAdc].getName, "pq_adc")
}
