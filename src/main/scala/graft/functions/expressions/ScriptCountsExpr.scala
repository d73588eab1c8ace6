package graft.functions.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.TextFunctions

/** Native per-script character counts: the full
  * [[graft.functions.TextFunctions.scriptCounts]] counter struct from
  * ONE walk over the string's code points.
  *
  * The regex formulation (the parity reference in the test suite)
  * runs 17 `regexp_count` passes per row (n_latin +
  * 14 named scripts + the inverted routing class + n_digit), each of
  * which re-walks the entire string through the regex engine — at
  * 100 TB that is ~17× the string-scan work one code-point loop does
  * (the r20 verdict's top cost item). This kernel classifies each
  * code point once via `Character.UnicodeScript` — the SAME tables
  * `java.util.regex` consults for `\p{IsHan}`-style script classes,
  * so the classification is identical by construction — and emits
  * every counter from the single traversal.
  *
  * Parity with the twin (spec-pinned in ExpressionsSpec, including a
  * supplementary-plane Han plant that arrives as a surrogate pair):
  *  - iteration is by CODE POINT (codePointAt/charCount), matching
  *    regex matching semantics, so U+20000 counts once in n_han;
  *  - an unpaired surrogate classifies as script UNKNOWN → n_other,
  *    exactly as the inverted class matches it;
  *  - `n_other` counts every code point outside
  *    {Latin, Common, Inherited} ∪ NamedScripts — the same value the
  *    twin derives as inverted-class count minus the named sum;
  *  - `n_digit` counts ASCII [0-9] only (digits are script Common and
  *    appear in no script counter), matching the twin's `[0-9]` pass;
  *  - NULL input → SQL NULL (null-intolerant). The twin yields a
  *    struct of NULL fields instead; every consumer reads individual
  *    fields, where both forms read back NULL identically
  *    (spec-pinned on the flattened consumer frame).
  */
case class ScriptCounts(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_script_counts requires string, got $t")
  }
  override def dataType: DataType = ScriptCounts.schema
  override def prettyName: String = "graft_script_counts"

  override protected def nullSafeEval(text: Any): Any =
    ScriptCounts.compute(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.expressions.ScriptCounts.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): ScriptCounts =
    copy(child = newChild)
}

object ScriptCounts {
  /** Field order is the single-source contract of the Column twin:
    * n_latin, one n_<script> per [[TextFunctions.NamedScripts]] entry
    * in that order, n_other, n_digit.
    */
  val schema: StructType = StructType(
    (("n_latin" +: TextFunctions.NamedScripts.map("n_" + _)) ++ Seq("n_other", "n_digit"))
      .map(StructField(_, LongType, nullable = false)))

  private val LatinIdx = 0
  private val OtherIdx = 1 + TextFunctions.NamedScripts.length // after latin + named
  private val DigitIdx = OtherIdx + 1
  private val Counters = DigitIdx + 1

  /** UnicodeScript.ordinal → counter index; -1 = not counted
    * (Common/Inherited — exactly the scripts the routing class
    * excludes). Named scripts resolve through UnicodeScript.forName,
    * so the mapping can never drift from the regex spelling
    * `\p{Is<Name>}` (java.util.regex resolves script classes through
    * the same forName table).
    */
  private val scriptIdx: Array[Byte] = {
    val arr = Array.fill[Byte](Character.UnicodeScript.values().length)(OtherIdx.toByte)
    arr(Character.UnicodeScript.COMMON.ordinal) = -1
    arr(Character.UnicodeScript.INHERITED.ordinal) = -1
    arr(Character.UnicodeScript.LATIN.ordinal) = LatinIdx.toByte
    TextFunctions.NamedScripts.zipWithIndex.foreach { case (s, i) =>
      arr(Character.UnicodeScript.forName(s).ordinal) = (1 + i).toByte
    }
    arr
  }

  /** BMP lookup table (64 KiB): counter index per code point < U+10000
    * — one array read instead of UnicodeScript.of's binary search on
    * the hot path; supplementary code points (rare) fall back to the
    * search. Surrogate code points (an unpaired surrogate in decoded
    * text) carry script UNKNOWN → n_other, same as the regex path.
    */
  private val bmpIdx: Array[Byte] = {
    val t = new Array[Byte](0x10000)
    var cp = 0
    while (cp < 0x10000) {
      t(cp) = scriptIdx(Character.UnicodeScript.of(cp).ordinal)
      cp += 1
    }
    t
  }

  def compute(text: UTF8String): InternalRow = {
    // toString matches the regex path exactly: Spark's regexp functions
    // operate on the same UTF-16 conversion (invalid UTF-8 becomes
    // U+FFFD identically on both paths)
    val s = text.toString
    val counts = new Array[Long](Counters)
    var i = 0
    val len = s.length
    while (i < len) {
      val cp = s.codePointAt(i)
      val idx = if (cp < 0x10000) bmpIdx(cp)
                else scriptIdx(Character.UnicodeScript.of(cp).ordinal)
      if (idx >= 0) counts(idx) += 1
      if (cp >= '0' && cp <= '9') counts(DigitIdx) += 1
      i += Character.charCount(cp)
    }
    val out = new Array[Any](Counters)
    var j = 0
    while (j < Counters) { out(j) = counts(j); j += 1 }
    new GenericInternalRow(out)
  }
}
