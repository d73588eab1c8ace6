package graft.functions.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, NullType, StringType}

/** Native Catalyst expression: fixed-point Jaccard similarity
  * `floor(10000.0 * (|A∩B| / |A∪B|))` of two string arrays (assumed
  * distinct element sets, as produced by array_distinct).
  *
  * Replaces the `size(array_intersect)/size(array_union)` Column pair
  * on dedup hot paths: one hash-set pass instead of two intermediate
  * array constructions per row — the verify step of MinHash-LSH runs
  * this once per candidate pair (millions of times per corpus).
  *
  * Parity: the arithmetic is EXACTLY the oracle's
  * `floor(10000.0 * (CAST(i AS DOUBLE) / u))` — same IEEE ops in the
  * same order, so results are bit-identical to the SQL twin.
  */
case class ArrayJaccardFs(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(_: StringType, _) | ArrayType(NullType, _),
          ArrayType(_: StringType, _) | ArrayType(NullType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) =>
      TypeCheckResult.TypeCheckFailure(s"graft_jaccard_fs requires (array<string>, array<string>), got ($l, $r)")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_jaccard_fs"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    ArrayJaccardFs.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.expressions.ArrayJaccardFs.compute($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): ArrayJaccardFs =
    copy(left = newLeft, right = newRight)
}

object ArrayJaccardFs {
  import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
  import org.apache.spark.sql.catalyst.expressions.codegen.{UnsafeArrayWriter, UnsafeRowWriter}
  import org.apache.spark.unsafe.Platform
  import org.apache.spark.unsafe.types.UTF8String

  /** Zero-structure merge pass when both arrays are non-decreasing
    * (the dedup producers pre-sort per DOC with sort_array, amortized
    * over the doc's hundreds of candidate pairs): no per-pair hash
    * set, ~2 byte compares per element. r21: the hash-set pass
    * allocated ~1 KiB per pair — at the planted mega-cluster's
    * 3.3M candidates per sf0.1 run that is multi-GiB of young-gen
    * garbage on the dedup tier's single hottest stage.
    *
    * The merge runs over [[UnsafeArrayData]] and compares each
    * element's bytes where they lie ([[compareAt]]): it reads the
    * element's offset-and-size word with `getLong`, builds no
    * `UTF8String` per element and never calls `UTF8String.compareTo`.
    * Spark 4.1's `compareTo` checks `spark.testing` (a `System.getenv`
    * and a property read) on every call before it delegates to
    * `binaryCompare`; a JFR profile of the corpus job put 34% of all
    * executor samples in `System.getenv` under this merge. The verify
    * joins hand it `UnsafeArrayData` (cached and broadcast rows); any
    * other `ArrayData` (interpreted literals, specs) is converted once
    * up front, so there is one merge loop.
    *
    * Sortedness is verified inline as the pointers advance (an
    * inversion falls back to [[computeHash]]), so unsorted callers
    * stay correct, just unoptimized. The order is unsigned byte order,
    * exactly `UTF8String.binaryCompare` and so `sort_array`'s order;
    * equality is byte equality, as in the hash path, so an input in any
    * other order (Java's UTF-16 `sorted`) can only cost the fallback.
    * Duplicate/null semantics are pinned to the hash path (parity
    * spec): nulls are skipped (not set members, not counted),
    * left-side duplicates inflate the left count but not membership,
    * right-side duplicates probe (and can match) repeatedly.
    */
  def compute(a: ArrayData, b: ArrayData): Long = {
    val ua = toUnsafe(a)
    val ub = toUnsafe(b)
    val na = ua.numElements()
    val nb = ub.numElements()
    val baseA = ua.getBaseObject
    val offA = ua.getBaseOffset
    val baseB = ub.getBaseObject
    val offB = ub.getBaseOffset
    var i = 0
    var j = 0
    var nna = 0 // non-null counts: nulls are not set elements, so
    var nnb = 0 // they must not inflate the union (twin parity)
    var inter = 0
    // elements are offset-and-size words (never negative; Absent = -1)
    var pa: Long = Absent // previous non-null per side, for the
    var pb: Long = Absent // inline sortedness check
    var va: Long = Absent // pending (fetched, uncompared) values
    var vb: Long = Absent
    while (true) {
      if (va == Absent) {
        while (i < na && ua.isNullAt(i)) i += 1
        if (i < na) {
          va = ua.getLong(i)
          i += 1
          nna += 1
          if (pa != Absent && compareAt(baseA, offA, pa, baseA, offA, va) > 0) return computeHash(a, b)
          pa = va
        }
      }
      if (vb == Absent) {
        while (j < nb && ub.isNullAt(j)) j += 1
        if (j < nb) {
          vb = ub.getLong(j)
          j += 1
          nnb += 1
          if (pb != Absent && compareAt(baseB, offB, pb, baseB, offB, vb) > 0) return computeHash(a, b)
          pb = vb
        }
      }
      if (va == Absent || vb == Absent) {
        // one side exhausted: the rest of the other side only needs
        // its non-null count — but the sortedness check MUST continue
        // through the tail: a merge result is only valid if BOTH
        // arrays were verified fully sorted (an inversion in the
        // unvisited tail means earlier <-decisions were unsound, so
        // it falls back like any other violation)
        while (i < na) {
          if (!ua.isNullAt(i)) {
            val v = ua.getLong(i)
            if (pa != Absent && compareAt(baseA, offA, pa, baseA, offA, v) > 0) return computeHash(a, b)
            pa = v
            nna += 1
          }
          i += 1
        }
        while (j < nb) {
          if (!ub.isNullAt(j)) {
            val v = ub.getLong(j)
            if (pb != Absent && compareAt(baseB, offB, pb, baseB, offB, v) > 0) return computeHash(a, b)
            pb = v
            nnb += 1
          }
          j += 1
        }
        val union = nna + nnb - inter
        // both empty → 0/0: the Column twin computes floor(NaN).toLong = 0
        if (union == 0) return 0L
        // EXACT oracle arithmetic: floor(10000.0 * ((double) inter / union))
        return math.floor(10000.0 * (inter.toDouble / union)).toLong
      }
      val c = compareAt(baseA, offA, va, baseB, offB, vb)
      if (c == 0) { inter += 1; vb = Absent } // keep va: the next b may duplicate
      else if (c < 0) va = Absent
      else vb = Absent
    }
    0L // unreachable
  }

  /** "No element" in [[compute]]'s offset-and-size registers. */
  private final val Absent = -1L

  private val LittleEndian = java.nio.ByteOrder.nativeOrder() == java.nio.ByteOrder.LITTLE_ENDIAN

  /** Unsigned lexicographic order of two [[UnsafeArrayData]] elements,
    * each given by its array's base object and offset and its
    * offset-and-size word, shorter prefix first: the order of
    * `UTF8String.binaryCompare`. Eight bytes per step; a differing word
    * is compared in big-endian byte order.
    */
  private def compareAt(lArr: AnyRef, lArrOff: Long, l: Long, rArr: AnyRef, rArrOff: Long, r: Long): Int = {
    val lOff = lArrOff + (l >> 32)
    val rOff = rArrOff + (r >> 32)
    val lLen = l.toInt
    val rLen = r.toInt
    val len = math.min(lLen, rLen)
    val words = len & ~7
    var k = 0
    while (k < words) {
      val lw = Platform.getLong(lArr, lOff + k)
      val rw = Platform.getLong(rArr, rOff + k)
      if (lw != rw) {
        return if (LittleEndian)
          java.lang.Long.compareUnsigned(java.lang.Long.reverseBytes(lw), java.lang.Long.reverseBytes(rw))
        else java.lang.Long.compareUnsigned(lw, rw)
      }
      k += 8
    }
    while (k < len) {
      val c = (Platform.getByte(lArr, lOff + k) & 0xff) - (Platform.getByte(rArr, rOff + k) & 0xff)
      if (c != 0) return c
      k += 1
    }
    lLen - rLen
  }

  /** `a` as [[UnsafeArrayData]]: itself if it already is one, else one
    * copy written the way Spark's unsafe projection writes an
    * array<string> column.
    */
  private def toUnsafe(a: ArrayData): UnsafeArrayData = a match {
    case u: UnsafeArrayData => u
    case _ =>
      val n = a.numElements()
      val row = new UnsafeRowWriter(1)
      row.resetRowWriter()
      val start = row.cursor()
      val w = new UnsafeArrayWriter(row, 8)
      w.initialize(n)
      var i = 0
      while (i < n) {
        if (a.isNullAt(i)) w.setNull8Bytes(i) else w.write(i, a.getUTF8String(i))
        i += 1
      }
      row.setOffsetAndSizeFromPreviousCursor(0, start)
      row.getRow.getArray(0)
  }

  /** The hash-set pass — the pre-r21 implementation, kept verbatim as
    * the unsorted-input fallback and the parity reference.
    */
  private[graft] def computeHash(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    val set = new java.util.HashSet[UTF8String](na * 2)
    var i = 0
    var nna = 0
    var nnb = 0
    while (i < na) { if (!a.isNullAt(i)) { set.add(a.getUTF8String(i)); nna += 1 }; i += 1 }
    var inter = 0
    i = 0
    while (i < nb) {
      if (!b.isNullAt(i)) {
        nnb += 1
        if (set.contains(b.getUTF8String(i))) inter += 1
      }
      i += 1
    }
    val union = nna + nnb - inter
    if (union == 0) return 0L
    math.floor(10000.0 * (inter.toDouble / union)).toLong
  }
}
