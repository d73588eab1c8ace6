package graft.functions.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native integer-lattice kernels for the SemDeDup GATE
  * ([[graft.operators.Dedup.semanticDedupGate]]) — the quantized
  * exact-integer k-means whose DuckDB twin reproduces cluster
  * geometry at any scale.
  *
  * The Column forms are interpreted higher-order functions: the
  * argmin evaluates k `aggregate(zip_with(q, centroid, (a,b) ⇒
  * (a−b)²))` lambdas per row (k·dim boxed element visits, per
  * training round and again at the final assign), and the verify's
  * integer dot is the same shape per candidate pair. These kernels
  * run the identical exact Long arithmetic as one loop; the argmin
  * keeps the FIRST minimum in centroid order — exactly
  * `array_position(dArr, array_min(dArr))`'s rule over distances
  * listed in ascending-cid order, so the lowest cid still wins ties
  * (parity spec in ExpressionsSpec).
  *
  * Constructed via the ColumnBridge like every graft kernel; the
  * centroids are driver-side training state, not Columns, so these
  * have no SQL registry entry. NULL array → SQL NULL, same as the
  * null-intolerant HOFs; null elements / length mismatches → SQL
  * NULL (the twins degrade to null folds there; no operator feeds
  * either).
  */
case class LatticeArgmin(child: Expression, cids: Array[Long],
                         cents: Array[Array[Long]]) extends UnaryExpression {
  require(cids.length == cents.length, "cids and cents must align")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_lattice_argmin requires array<long>, got $t")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_lattice_argmin"

  def compute(q: ArrayData): Any = {
    val n = q.numElements()
    var i = 0
    while (i < n) { if (q.isNullAt(i)) return null; i += 1 }
    val v = q.toLongArray()
    var best = 0
    var bestD = Long.MaxValue
    var c = 0
    while (c < cents.length) {
      val ct = cents(c)
      if (ct.length != v.length) return null
      var d = 0L
      var j = 0
      while (j < v.length) { val t = v(j) - ct(j); d += t * t; j += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    cids(best)
  }

  override protected def nullSafeEval(q: Any): Any = compute(q.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("latticeArgmin", this, getClass.getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      |Object r = $ref.compute($c);
      |if (r == null) { ${ev.isNull} = true; }
      |else { ${ev.value} = ((java.lang.Long) r).longValue(); }""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): LatticeArgmin =
    copy(child = newChild)
}

/** Exact integer dot product over `array<long>` — the lattice verify's
  * kernel (Σ aᵢ·bᵢ as Long, sequential order; the quantized grid
  * bounds every sum below 2⁶³ by construction, see the gate scaladoc).
  */
case class ArrayLDot(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) =>
      TypeCheckResult.TypeCheckFailure(s"graft_ldot requires (array<long>, array<long>), got ($l, $r)")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_ldot"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    ArrayLDot.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      |Object r = graft.functions.expressions.ArrayLDot.compute($a, $b);
      |if (r == null) { ${ev.isNull} = true; }
      |else { ${ev.value} = ((java.lang.Long) r).longValue(); }""".stripMargin)

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): ArrayLDot =
    copy(left = newLeft, right = newRight)
}

object ArrayLDot {
  def compute(a: ArrayData, b: ArrayData): Any = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      i += 1
    }
    var acc = 0L
    var j = 0
    while (j < n) { acc += a.getLong(j) * b.getLong(j); j += 1 }
    acc
  }
}
