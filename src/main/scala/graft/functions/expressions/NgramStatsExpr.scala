package graft.functions.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, NullType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native word-n-gram statistics: total and DISTINCT n-gram counts of
  * a token array in ONE pass — `struct(n_grams, n_uniq)`.
  *
  * The Column formulation (wordNgrams → size + size(array_distinct))
  * walks the token array once per CONSUMER through interpreted
  * higher-order functions, allocating a sequence array, a slice array
  * and a concat per gram each time — and because lambda-bearing HOFs
  * are excluded from common-subexpression elimination, a query reading
  * both counts pays the walk twice. This kernel materializes each gram
  * once (UTF8String.concatWs, null elements skipped exactly like the
  * twin's concat_ws) into a hash set and returns both counts from the
  * single traversal.
  *
  * Parity with the twin (spec-pinned in ExpressionsSpec): grams are
  * compared as their joined strings (tokens from split(text,' ') can't
  * contain the separator, so string equality ⟺ window equality);
  * fewer than n tokens → (0, 0), matching wordNgrams' empty array;
  * null input → SQL NULL (null-intolerant).
  */
case class NgramStats(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(_: StringType, _) | ArrayType(NullType, _), IntegerType) if right.foldable =>
      // n is foldable, so its VALUE is checkable at analysis time: a
      // negative n would otherwise throw NegativeArraySizeException
      // per ROW at eval, and n = 0 would silently return (len+1, 1)
      right.eval() match {
        case null => TypeCheckResult.TypeCheckSuccess // null n → SQL NULL per row
        case n: Int if n >= 1 => TypeCheckResult.TypeCheckSuccess
        case n => TypeCheckResult.TypeCheckFailure(s"graft_ngram_stats requires n >= 1, got $n")
      }
    case (l, r) =>
      TypeCheckResult.TypeCheckFailure(
        s"graft_ngram_stats requires (array<string>, foldable int), got ($l, $r)")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("n_grams", LongType, nullable = false),
    StructField("n_uniq", LongType, nullable = false)))
  override def prettyName: String = "graft_ngram_stats"

  override protected def nullSafeEval(toks: Any, n: Any): Any =
    NgramStats.compute(toks.asInstanceOf[ArrayData], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, n) => s"graft.functions.expressions.NgramStats.compute($a, $n)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): NgramStats =
    copy(left = newLeft, right = newRight)
}

object NgramStats {
  private val SEP = UTF8String.fromString(" ")

  def compute(toks: ArrayData, n: Int): InternalRow = {
    val total = toks.numElements() - n + 1
    if (total <= 0) return new GenericInternalRow(Array[Any](0L, 0L))
    val seen = new java.util.HashSet[UTF8String](total * 2)
    val window = new Array[UTF8String](n)
    var i = 0
    while (i < total) {
      var j = 0
      while (j < n) {
        // null tokens are SKIPPED by concat_ws in the twin; passing
        // null through concatWs reproduces that exactly
        window(j) = if (toks.isNullAt(i + j)) null else toks.getUTF8String(i + j)
        j += 1
      }
      seen.add(UTF8String.concatWs(SEP, window: _*))
      i += 1
    }
    new GenericInternalRow(Array[Any](total.toLong, seen.size.toLong))
  }
}
