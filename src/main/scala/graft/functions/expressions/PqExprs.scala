package graft.functions.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Native product-quantization kernels — the per-row argmin/ADC-table
  * loops of [[graft.operators.Pq]] with the codebooks carried ON the
  * expression instance instead of inlined as literals.
  *
  * The Column forms build m·ks literal-centroid `l2sq(slice(v,…),
  * typedlit(c))` nodes (512 at the default 8×64 geometry): every query
  * that encodes or probes re-analyzes, re-optimizes and re-Janino-
  * compiles a 512-leaf expression tree whose generated code embeds
  * all ks·dim doubles — measured as multi-second DRIVER GAPS (no
  * stage running) on every PQ bench key, repeated per run because
  * fresh expression ids defeat the codegen cache. These expressions
  * collapse the tree to ONE plan node holding the codebook array
  * (KB-sized, ships with the task binary like a small broadcast), and
  * evaluate as tight primitive loops.
  *
  * Bit parity with the Column forms (spec-pinned in ExpressionsSpec):
  * the subspace distance is the same sequential fold (acc += diff²
  * in element order — identical IEEE sequence to graft_l2sq over the
  * slice), and the argmin keeps the FIRST minimum (strict <), exactly
  * `array_position(dists, array_min(dists))`'s first-occurrence rule,
  * which is what makes the padded-codebook convention (duplicates at
  * higher codes) inert on both paths. NULL vector → SQL NULL; a null
  * ELEMENT or short vector → SQL NULL (the Column twin degrades to
  * null-laced distance arrays there; no operator feeds either —
  * vectors come out of Pq.normalized null-free and dim-checked).
  *
  * Constructed via the ColumnBridge like every graft kernel; the
  * codebook is a trained driver-side artifact, not a Column, so these
  * have no SQL registry entry.
  */
abstract class PqBookExpr extends UnaryExpression {
  def dsub: Int
  def ks: Int
  /** books(s·ks + c) = centroid c of subspace s, dsub doubles. */
  def books: Array[Array[Double]]

  protected def m: Int = books.length / ks

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<double>, got $t")
  }

  protected def guard(v: ArrayData): Boolean = {
    if (v.numElements() < m * dsub) return false
    var i = 0
    val n = v.numElements()
    while (i < n) {
      if (v.isNullAt(i)) return false
      i += 1
    }
    true
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqBookExpr", this, getClass.getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      |Object r = $ref.compute($c);
      |if (r == null) { ${ev.isNull} = true; }
      |else { ${ev.value} = (${org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
          .javaType(dataType)}) r; }""".stripMargin)
  }

  def compute(v: ArrayData): AnyRef

  override protected def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])
}

/** codes(s) = argmin_c ‖v[s·dsub .. ) − books(s·ks+c)‖² — the PQ
  * encoding projection ([[graft.operators.Pq.codesExpr]]'s kernel).
  */
case class PqCodes(child: Expression, dsub: Int, ks: Int,
                   books: Array[Array[Double]]) extends PqBookExpr {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_pq_codes"

  override def compute(v: ArrayData): AnyRef = {
    if (!guard(v)) return null
    val arr = v.toDoubleArray()
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      val off = s * dsub
      var best = 0
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < ks) {
        val b = books(s * ks + c)
        var d = 0.0
        var j = 0
        while (j < dsub) { val t = arr(off + j) - b(j); d += t * t; j += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      codes(s) = best
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(codes)
  }

  override protected def withNewChildInternal(newChild: Expression): PqCodes =
    copy(child = newChild)
}

/** tab(s·ks + c) = ‖v[s·dsub .. ) − books(s·ks+c)‖² — the per-query
  * ADC lookup table ([[graft.operators.Pq.adcTableExpr]]'s kernel).
  */
case class PqAdcTable(child: Expression, dsub: Int, ks: Int,
                      books: Array[Array[Double]]) extends PqBookExpr {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_pq_adc_table"

  override def compute(v: ArrayData): AnyRef = {
    if (!guard(v)) return null
    val arr = v.toDoubleArray()
    val tab = new Array[Double](m * ks)
    var s = 0
    while (s < m) {
      val off = s * dsub
      var c = 0
      while (c < ks) {
        val b = books(s * ks + c)
        var d = 0.0
        var j = 0
        while (j < dsub) { val t = arr(off + j) - b(j); d += t * t; j += 1 }
        tab(s * ks + c) = d
        c += 1
      }
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(tab)
  }

  override protected def withNewChildInternal(newChild: Expression): PqAdcTable =
    copy(child = newChild)
}
