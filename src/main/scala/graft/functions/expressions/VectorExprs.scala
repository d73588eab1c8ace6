package graft.functions.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native vector kernels over `array<double>` — the hot arithmetic of
  * every embedding operator (cosine verify in LSH dedup, brute/LSH/IVF
  * top-k ranking, k-means assignment).
  *
  * The Column twins (the parity reference ExpressionsSpec spells
  * inline) are zip_with/aggregate higher-order functions, which Catalyst
  * evaluates INTERPRETED (HOFs don't join whole-stage codegen) with a
  * lambda-variable box per element. These expressions run the same
  * sequential fold as one tight primitive loop per pair — and the
  * fold order is identical, so results are bit-identical to the
  * twins (oracle-gated on sim_topk_cosine / dedup_embed_cosine /
  * kmeans keys).
  *
  * Null semantics match the twins: a null element or length mismatch
  * makes zip_with produce a null product and the aggregate fold turn
  * null — here the expression returns SQL NULL in those cases.
  */
abstract class VectorFold extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) =>
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires (array<double>, array<double>), got ($l, $r)")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  protected def computeRef: String

  override def nullIntolerant: Boolean = true

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      |if (graft.functions.expressions.VectorExprs.valid($a, $b)) {
      |  ${ev.value} = $computeRef($a, $b);
      |} else {
      |  ${ev.isNull} = true;
      |}""".stripMargin)
}

object VectorExprs {
  /** Twin-parity guard: zip_with pads length mismatches with null and
    * a null element nulls the whole fold — so the native kernels only
    * produce a value when both arrays align and are null-free.
    */
  def valid(a: ArrayData, b: ArrayData): Boolean = {
    val n = a.numElements()
    if (b.numElements() != n) return false
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return false
      i += 1
    }
    true
  }

  /** Sequential-fold dot product — same order as the Column twin. */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    acc
  }

  /** Sequential-fold squared Euclidean distance. */
  def l2sq(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) { val d = a.getDouble(i) - b.getDouble(i); acc += d * d; i += 1 }
    acc
  }
}

case class ArrayDot(left: Expression, right: Expression) extends VectorFold {
  override def prettyName: String = "graft_dot"
  override protected def computeRef: String = "graft.functions.expressions.VectorExprs.dot"
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (VectorExprs.valid(x, y)) VectorExprs.dot(x, y) else null
  }
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): ArrayDot =
    copy(left = newLeft, right = newRight)
}

case class ArrayL2Sq(left: Expression, right: Expression) extends VectorFold {
  override def prettyName: String = "graft_l2sq"
  override protected def computeRef: String = "graft.functions.expressions.VectorExprs.l2sq"
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (VectorExprs.valid(x, y)) VectorExprs.l2sq(x, y) else null
  }
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): ArrayL2Sq =
    copy(left = newLeft, right = newRight)
}
