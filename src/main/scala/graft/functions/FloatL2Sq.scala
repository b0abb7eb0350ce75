package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: squared Euclidean distance between two
  * numeric arrays as double — `Σ (a_i − b_i)²` with each element widened to
  * double and the sum accumulated LEFT TO RIGHT, bit-identical to the HOF
  * form the ANN oracles state (`aggregate(zip_with(a, b, (x,y) ->
  * (CAST(x AS DOUBLE) − CAST(y AS DOUBLE)) * …), 0.0D, (acc,p) -> acc+p)`)
  * and to DuckDB's sequential list fold.
  *
  * [[FloatDot]]'s sibling, and the same §2.9 justification: the HOF chain
  * allocates a zipped intermediate array and invokes two interpreted lambdas
  * per element, and in the ANN candidate joins that is candidates×D lambda
  * calls — the dominant constant of the whole family (the 30× scale audit
  * measured the semantic-dedup candidate join at 669 cpu_s at 10× before
  * this + cell auto-scaling). This is one fused loop inside whole-stage
  * codegen.
  *
  * Sides may independently be `array<float>` or `array<double>` (query
  * vectors are float, k-means centroids are double — the FD mix is the probe
  * path's shape). Null-safe (null array → null). Length mismatch means
  * corrupt data and fails loudly, matching [[FloatDot]]; the HOF form would
  * null-pad silently.
  */
case class FloatL2Sq(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "float_l2sq"

  private def elem(dt: DataType): Option[DataType] = dt match {
    case ArrayType(FloatType, _) => Some(FloatType)
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elem(left.dataType).isDefined && elem(right.dataType).isDefined)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"float_l2sq requires ARRAY<FLOAT|DOUBLE> args, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")

  private lazy val helper: String = {
    val l = if (elem(left.dataType).contains(FloatType)) "F" else "D"
    val r = if (elem(right.dataType).contains(FloatType)) "F" else "D"
    s"l2$l$r"
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val ad = a.asInstanceOf[ArrayData]
    val bd = b.asInstanceOf[ArrayData]
    helper match {
      case "l2FF" => FloatL2Sq.l2FF(ad, bd)
      case "l2FD" => FloatL2Sq.l2FD(ad, bd)
      case "l2DF" => FloatL2Sq.l2DF(ad, bd)
      case _ => FloatL2Sq.l2DD(ad, bd)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.FloatL2Sq.$helper($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatL2Sq =
    copy(left = newLeft, right = newRight)
}

object FloatL2Sq {

  private def check(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    require(n == b.numElements(),
      s"float_l2sq: length mismatch ${a.numElements()} vs ${b.numElements()}")
    n
  }

  // One specialization per side-type pair so the codegen call site carries
  // no per-element dispatch. Accumulation ORDER is part of the contract
  // (cross-engine bit-equality) — sequential left fold, do not vectorize
  // into pairwise sums.
  def l2FF(a: ArrayData, b: ArrayData): Double = {
    val n = check(a, b)
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = a.getFloat(i).toDouble - b.getFloat(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }

  def l2FD(a: ArrayData, b: ArrayData): Double = {
    val n = check(a, b)
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = a.getFloat(i).toDouble - b.getDouble(i)
      acc += d * d
      i += 1
    }
    acc
  }

  def l2DF(a: ArrayData, b: ArrayData): Double = {
    val n = check(a, b)
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = a.getDouble(i) - b.getFloat(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }

  def l2DD(a: ArrayData, b: ArrayData): Double = {
    val n = check(a, b)
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = a.getDouble(i) - b.getDouble(i)
      acc += d * d
      i += 1
    }
    acc
  }

  val info: ExpressionInfo = new ExpressionInfo(
    classOf[FloatL2Sq].getName, "float_l2sq")
}
