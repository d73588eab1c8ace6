package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.HashFunctions.{Prime, md5CwParams, minhashParams}
import graft.functions.TextFunctions.{NamedScripts, NonLatinClassJava, tokens}
import graft.functions.VectorFunctions.l2sq
import graft.operators.{KMeans, Pq}

/** Pure-Column formulations of graft's native kernels, built from
  * Spark builtins and higher-order functions only. They are the
  * parity references ExpressionsSpec pins each kernel against
  * bit-for-bit; no program path uses them.
  */
object KernelTwins {

  /** Twin of `HashFunctions.minhashSignature`. */
  def minhashSignatureColumns(shingles: Column, perms: Int): Column = {
    val params = minhashParams(perms)
    val bases = transform(shingles, s => pmod(xxhash64(s), lit(Prime)))
    // NULL-input parity with the kernel (null array → SQL NULL; the
    // bare HOF form would yield an array of `perms` nulls) WITHOUT a
    // conditional branch: HOFs are null-intolerant, so `bases` is NULL
    // for a NULL input — filtering the singleton array drops it and
    // `get` of the then-empty array is SQL NULL. `shingles` is
    // referenced once, so an expensive shingle expression is never
    // evaluated twice (when/otherwise branches are excluded from
    // subexpression elimination).
    get(transform(filter(array(bases), bs => bs.isNotNull), bs =>
      array(params.map { case (a, b) =>
        array_min(transform(bs, h => pmod(lit(a) * h + lit(b), lit(Prime))))
      }: _*)), lit(0))
  }

  /** Twin of `HashFunctions.md5MinhashSig`: one pass materializing the
    * 56-bit digests (md5 → hex → substring → conv per element,
    * let-bound via the singleton-array trick), then `perms` array_min
    * passes of the affine maps. A null ELEMENT digests to null and
    * drops out of every array_min, like the kernel skips it.
    */
  def md5MinhashSigColumns(shingles: Column, perms: Int): Column = {
    val params = md5CwParams(perms)
    val half = 1L << 28
    val th = transform(shingles, t => conv(substring(md5(t), 1, 14), 16, 10).cast("long"))
    get(transform(filter(array(th), a => a.isNotNull), a =>
      array(params.map { case (pa, pb) =>
        array_min(transform(a, h =>
          (lit(pa) * shiftright(h, 28) + lit(pb) * (h % lit(half))) % lit(Prime)))
      }: _*)), lit(0))
  }

  /** Twin of `HashFunctions.simhash64`: an aggregate fold carrying 64
    * vote counters, then the sign bits folded into one BIGINT.
    */
  def simhash64Columns(toks: Column): Column = {
    val bitVotes: Column => Column = t => {
      val h = xxhash64(t)
      array((0 until 64).map(i =>
        when(shiftright(h, i).bitwiseAND(lit(1L)) === lit(1L), lit(1)).otherwise(lit(-1))): _*)
    }
    val votes = aggregate(
      toks,
      array_repeat(lit(0), 64),
      (acc, t) => zip_with(acc, bitVotes(t), (a, b) => a + b)
    )
    // bit i set iff votes(i) > 0
    val powers = array((0 until 64).map(i => lit(1L << i)): _*)
    aggregate(
      zip_with(votes, powers, (v, p) => when(v > 0, p).otherwise(lit(0L))),
      lit(0L),
      (acc, b) => acc.bitwiseOR(b)
    )
  }

  /** Twin of `TextFunctions.scriptCounts`: 17 `regexp_count` passes.
    * NULL text yields a struct of NULL fields (the kernel: a NULL
    * struct).
    */
  def scriptCountsColumns(text: Column): Column = {
    val named = NamedScripts.map(s =>
      s -> regexp_count(text, lit(s"\\p{Is${s.capitalize}}")).cast("long"))
    val nonLatinTotal = regexp_count(text, lit(NonLatinClassJava)).cast("long")
    struct(
      (regexp_count(text, lit("\\p{IsLatin}")).cast("long").as("n_latin") +:
        named.map { case (s, c) => c.as(s"n_$s") }) ++ Seq(
        (nonLatinTotal - named.map(_._2).reduce(_ + _)).as("n_other"),
        regexp_count(text, lit("[0-9]")).cast("long").as("n_digit")): _*)
  }

  /** Twin of `Dedup.simhashMd5Fingerprints`: explode the distinct
    * tokens, sum the ±1 votes of each md5 bit in one groupBy, and pack
    * the four 16-bit chunks.
    */
  def simhashMd5FingerprintsColumns(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("tok"))
      .select(col("doc_id"), substring(md5(col("tok")), 1, 16).as("h"))
    val bitSums = (0 until 64).map { j =>
      val nib = conv(substring(col("h"), 1 + j / 4, 1), 16, 10).cast("int")
      val bit = shiftright(nib, 3 - j % 4).bitwiseAND(lit(1))
      sum(bit * lit(2) - lit(1)).as(s"s$j")
    }
    val chunkCols = (0 until 4).map { c =>
      (0 until 16).map { i =>
        when(col(s"s${c * 16 + i}") > 0, lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ + _).as(s"c$c")
    }
    tok.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id") +: chunkCols: _*)
  }

  /** Twin of `Dedup.latticeClusterCol`: first minimum of the squared
    * distances in ascending-cid order.
    */
  def latticeClusterColColumns(q: Column, cs: Seq[(Long, Array[Long])]): Column = {
    val ds = cs.map { case (_, c) =>
      aggregate(zip_with(q, typedlit(c.toSeq), (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, x) => acc + x) }
    val dArr = array(ds: _*)
    val cidArr = typedlit(cs.map(_._1))
    element_at(cidArr, array_position(dArr, array_min(dArr)).cast("int"))
  }

  /** Twin of `Dedup.latticeDot`. */
  def latticeDotColumns(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  private def subvec(v: Column, s: Int, dsub: Int): Column = slice(v, s * dsub + 1, dsub)

  /** Twin of `Pq.codesExpr`: a literal-centroid assign per subspace. */
  def codesExprColumns(v: Column, cb: Pq.Codebooks): Column =
    array((0 until cb.m).map { s =>
      val cents: KMeans.Centroids =
        cb.books(s).zipWithIndex.map { case (c, i) => (i.toLong, c) }
      KMeans.assignExpr(subvec(v, s, cb.dsub), cents)._1.cast("int")
    }: _*)

  /** Twin of `Pq.adcTableExpr`: every subspace distance as its own
    * `l2sq` leaf, flattened as `s·ks + code`.
    */
  def adcTableExprColumns(v: Column, cb: Pq.Codebooks): Column =
    array((0 until cb.m).flatMap { s =>
      (0 until cb.ks).map { c =>
        l2sq(subvec(v, s, cb.dsub), typedlit(cb.books(s)(c)))
      }
    }: _*)
}
