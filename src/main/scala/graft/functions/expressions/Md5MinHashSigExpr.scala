package graft.functions.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, NullType, StringType}

import graft.functions.HashFunctions

/** Native CROSS-ENGINE md5-minhash signature: the `perms` per-permutation
  * minima of [[graft.operators.Dedup.minhashMd5PairsUnsorted]]'s Carter-Wegman
  * family in ONE pass over the token array —
  *
  *   h        = first 56 bits of md5(tok)   (hex chars 1–14)
  *   h1, h2   = h >> 28, h mod 2²⁸
  *   h_p(tok) = (a_p·h1 + b_p·h2) mod 1e9+7  ([[HashFunctions.md5CwParams]])
  *   sig[p]   = min over tokens of h_p(tok)
  *
  * The Column twin evaluates one interpreted `transform` pass
  * materializing the 56-bit digests (md5 → hex → substring → conv →
  * cast per element) and then `perms` MORE interpreted transform +
  * array_min passes over that array — 33 lambda walks and 33 array
  * allocations per row on the dedup tier's single most expensive
  * stage (the banded md5 family: 6 bench keys ride this signature).
  * This kernel digests each token once (java MessageDigest — the
  * same md5 both engines implement bit-identically) and folds all
  * `perms` affine minima in the same loop.
  *
  * Parity with the twin (spec-pinned in ExpressionsSpec): identical
  * integer arithmetic (products < 2⁵⁸ — overflow-free in Long); a
  * NULL token element contributes to no minimum (the twin's md5(null)
  * → null digest, which array_min skips); an EMPTY array (or one with
  * only null elements) yields an all-null signature (array_min of an
  * empty/all-null array); NULL array → SQL NULL (null-intolerant,
  * matching the HOF twin's null propagation).
  */
case class Md5MinHashSig(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(_: StringType, _) | ArrayType(NullType, _), IntegerType) if right.foldable =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) =>
      TypeCheckResult.TypeCheckFailure(
        s"graft_md5_minhash_sig requires (array<string>, foldable int), got ($l, $r)")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "graft_md5_minhash_sig"

  override protected def nullSafeEval(toks: Any, perms: Any): Any =
    Md5MinHashSig.compute(toks.asInstanceOf[ArrayData], perms.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, p) => s"graft.functions.expressions.Md5MinHashSig.compute($a, $p)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Md5MinHashSig =
    copy(left = newLeft, right = newRight)
}

object Md5MinHashSig {
  private val P = HashFunctions.Prime
  private val Mask28 = (1L << 28) - 1

  private val paramCache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()

  private def params(perms: Int): (Array[Long], Array[Long]) =
    paramCache.computeIfAbsent(perms, { n =>
      val ps = HashFunctions.md5CwParams(n)
      (ps.map(_._1).toArray, ps.map(_._2).toArray)
    })

  private val mdLocal: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  def compute(toks: ArrayData, perms: Int): ArrayData = {
    val n = toks.numElements()
    val (as, bs) = params(perms)
    val md = mdLocal.get()
    val mins = Array.fill(perms)(Long.MaxValue)
    var any = false
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) {
        any = true
        val d = md.digest(toks.getUTF8String(i).getBytes)
        // first 7 digest bytes big-endian = conv(substr(md5hex,1,14),16,10)
        var h = 0L
        var k = 0
        while (k < 7) { h = (h << 8) | (d(k) & 0xffL); k += 1 }
        val h1 = h >>> 28
        val h2 = h & Mask28
        var p = 0
        while (p < perms) {
          val v = (as(p) * h1 + bs(p) * h2) % P
          if (v < mins(p)) mins(p) = v
          p += 1
        }
      }
      i += 1
    }
    if (!any) new GenericArrayData(new Array[Any](perms)) // all nulls
    else UnsafeArrayData.fromPrimitiveArray(mins)
  }
}
