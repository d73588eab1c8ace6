package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType}

import graft.functions.expressions.{ArrayDot, ArrayJaccardFs, ArrayL2Sq, BloomMightContain,
  DistinctNgrams, FreqSketchAgg, FreqSketchMergeAgg, FreqSketchTopK, Md5MinHashSig, MinHashSig, NgramStats,
  QuantileSketchAgg, QuantileSketchMergeAgg, QuantileSketchQuery, ScriptCounts, SimHash64,
  SimhashMd5Chunks, ThetaAnotB, ThetaIntersect, ThetaSketchAgg, ThetaSummary, ThetaUnionAgg,
  WindowFunnelAgg}
import graft.operators.Sketches

/** Session extensions: the SQL function registry for graft's native
  * Catalyst expressions. Activate with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` — then
  * `SELECT graft_simhash64(split(text, ' ')) FROM docs` works in
  * plain SQL. Operators and the `functions` objects do not need it:
  * they build the same expressions directly through `ColumnBridge`,
  * so their plans are identical with or without the registry.
  *
  * The sketch-tier AGGREGATES register here too (the analyzer wraps a
  * builder-returned `AggregateFunction` into an `AggregateExpression`
  * exactly as for builtins), so the whole mergeable-sketch tier —
  * heavy hitters, quantile summaries, theta set algebra — is
  * reachable from pure session SQL with the same ObjectHashAggregate
  * partial+final plan the Column API gets (spec-pinned). Geometry
  * arguments (maxMapSize / relativeError / nominalEntries) are
  * OPTIONAL trailing literals defaulting to the
  * [[graft.operators.Sketches]] build-time constants — they are
  * sketch-geometry constants, so they must be foldable.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {
  private def arity(name: String, n: Int)(build: Seq[Expression] => Expression)
  : Seq[Expression] => Expression = { children =>
    require(children.length == n,
      s"$name requires exactly $n argument(s), got ${children.length}")
    build(children)
  }

  private def arityIn(name: String, ns: Set[Int])(build: Seq[Expression] => Expression)
  : Seq[Expression] => Expression = { children =>
    require(ns.contains(children.length),
      s"$name requires ${ns.toSeq.sorted.mkString(" or ")} argument(s), got ${children.length}")
    build(children)
  }

  /** Sketch geometry rides the PLAN (it is a constructor parameter of
    * the aggregate, like the bloom probe's sketch literal), so the
    * argument must fold at analysis time.
    */
  private def foldedInt(name: String, e: Expression): Int = {
    require(e.foldable, s"$name: geometry argument must be a literal")
    Cast(e, IntegerType).eval() match {
      case i: Int => i
      case v => throw new IllegalArgumentException(s"$name: bad geometry literal $v")
    }
  }

  private def foldedLong(name: String, e: Expression): Long = {
    require(e.foldable, s"$name: geometry argument must be a literal")
    Cast(e, LongType).eval() match {
      case l: Long => l
      case v => throw new IllegalArgumentException(s"$name: bad geometry literal $v")
    }
  }

  private def foldedDouble(name: String, e: Expression): Double = {
    require(e.foldable, s"$name: geometry argument must be a literal")
    Cast(e, DoubleType).eval() match {
      case d: Double => d
      case v => throw new IllegalArgumentException(s"$name: bad geometry literal $v")
    }
  }

  /** Quantile lists are query constants (SQL decimal literals fold
    * through the array cast).
    */
  private def foldedDoubles(name: String, e: Expression): Seq[Double] = {
    require(e.foldable, s"$name: quantiles must be a literal array")
    Cast(e, ArrayType(DoubleType)).eval() match {
      case a: ArrayData => a.toDoubleArray().toSeq
      case v => throw new IllegalArgumentException(s"$name: bad quantile array $v")
    }
  }

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_simhash64"),
      new ExpressionInfo(classOf[SimHash64].getCanonicalName, "graft_simhash64"),
      arity("graft_simhash64", 1)(c => SimHash64(c.head))),
    (FunctionIdentifier("graft_jaccard_fs"),
      new ExpressionInfo(classOf[ArrayJaccardFs].getCanonicalName, "graft_jaccard_fs"),
      arity("graft_jaccard_fs", 2)(c => ArrayJaccardFs(c(0), c(1)))),
    (FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[ArrayDot].getCanonicalName, "graft_dot"),
      arity("graft_dot", 2)(c => ArrayDot(c(0), c(1)))),
    (FunctionIdentifier("graft_l2sq"),
      new ExpressionInfo(classOf[ArrayL2Sq].getCanonicalName, "graft_l2sq"),
      arity("graft_l2sq", 2)(c => ArrayL2Sq(c(0), c(1)))),
    (FunctionIdentifier("graft_minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getCanonicalName, "graft_minhash_sig"),
      arity("graft_minhash_sig", 2)(c => MinHashSig(c(0), c(1)))),
    (FunctionIdentifier("graft_md5_minhash_sig"),
      new ExpressionInfo(classOf[Md5MinHashSig].getCanonicalName, "graft_md5_minhash_sig"),
      arity("graft_md5_minhash_sig", 2)(c => Md5MinHashSig(c(0), c(1)))),
    (FunctionIdentifier("graft_simhash_md5_chunks"),
      new ExpressionInfo(classOf[SimhashMd5Chunks].getCanonicalName, "graft_simhash_md5_chunks"),
      arity("graft_simhash_md5_chunks", 1)(c => SimhashMd5Chunks(c.head))),
    (FunctionIdentifier("graft_script_counts"),
      new ExpressionInfo(classOf[ScriptCounts].getCanonicalName, "graft_script_counts"),
      arity("graft_script_counts", 1)(c => ScriptCounts(c.head))),
    (FunctionIdentifier("graft_distinct_ngrams"),
      new ExpressionInfo(classOf[DistinctNgrams].getCanonicalName, "graft_distinct_ngrams"),
      arity("graft_distinct_ngrams", 2)(c => DistinctNgrams(c(0), c(1)))),
    (FunctionIdentifier("graft_ngram_stats"),
      new ExpressionInfo(classOf[NgramStats].getCanonicalName, "graft_ngram_stats"),
      arity("graft_ngram_stats", 2)(c => NgramStats(c(0), c(1)))),
    (FunctionIdentifier("graft_bloom_might_contain"),
      new ExpressionInfo(classOf[BloomMightContain].getCanonicalName, "graft_bloom_might_contain"),
      arity("graft_bloom_might_contain", 2)(c => BloomMightContain(c(0), c(1)))),
    // ---- sketch-tier aggregates + scalar companions ------------------
    (FunctionIdentifier("graft_freq_sketch_agg"),
      new ExpressionInfo(classOf[FreqSketchAgg].getCanonicalName, "graft_freq_sketch_agg"),
      arityIn("graft_freq_sketch_agg", Set(1, 2))(c => FreqSketchAgg(c.head,
        if (c.length > 1) foldedInt("graft_freq_sketch_agg", c(1))
        else Sketches.DefaultMaxMapSize))),
    (FunctionIdentifier("graft_freq_merge_agg"),
      new ExpressionInfo(classOf[FreqSketchMergeAgg].getCanonicalName, "graft_freq_merge_agg"),
      arityIn("graft_freq_merge_agg", Set(1, 2))(c => FreqSketchMergeAgg(c.head,
        if (c.length > 1) foldedInt("graft_freq_merge_agg", c(1))
        else Sketches.DefaultMaxMapSize))),
    (FunctionIdentifier("graft_freq_topk"),
      new ExpressionInfo(classOf[FreqSketchTopK].getCanonicalName, "graft_freq_topk"),
      arity("graft_freq_topk", 2)(c =>
        FreqSketchTopK(c.head, foldedInt("graft_freq_topk", c(1))))),
    (FunctionIdentifier("graft_quantile_sketch_agg"),
      new ExpressionInfo(classOf[QuantileSketchAgg].getCanonicalName, "graft_quantile_sketch_agg"),
      arityIn("graft_quantile_sketch_agg", Set(1, 2))(c =>
        QuantileSketchAgg(Cast(c.head, DoubleType),
          if (c.length > 1) foldedDouble("graft_quantile_sketch_agg", c(1))
          else Sketches.DefaultQuantileError))),
    (FunctionIdentifier("graft_quantile_merge_agg"),
      new ExpressionInfo(classOf[QuantileSketchMergeAgg].getCanonicalName,
        "graft_quantile_merge_agg"),
      arityIn("graft_quantile_merge_agg", Set(1, 2))(c => QuantileSketchMergeAgg(c.head,
        if (c.length > 1) foldedDouble("graft_quantile_merge_agg", c(1))
        else Sketches.DefaultQuantileError))),
    (FunctionIdentifier("graft_quantile_query"),
      new ExpressionInfo(classOf[QuantileSketchQuery].getCanonicalName, "graft_quantile_query"),
      arity("graft_quantile_query", 2)(c =>
        QuantileSketchQuery(c.head, foldedDoubles("graft_quantile_query", c(1))))),
    (FunctionIdentifier("graft_theta_sketch_agg"),
      new ExpressionInfo(classOf[ThetaSketchAgg].getCanonicalName, "graft_theta_sketch_agg"),
      arityIn("graft_theta_sketch_agg", Set(1, 2))(c => ThetaSketchAgg(c.head,
        if (c.length > 1) foldedInt("graft_theta_sketch_agg", c(1))
        else Sketches.DefaultNominalEntries))),
    (FunctionIdentifier("graft_theta_union_agg"),
      new ExpressionInfo(classOf[ThetaUnionAgg].getCanonicalName, "graft_theta_union_agg"),
      arityIn("graft_theta_union_agg", Set(1, 2))(c => ThetaUnionAgg(c.head,
        if (c.length > 1) foldedInt("graft_theta_union_agg", c(1))
        else Sketches.DefaultNominalEntries))),
    (FunctionIdentifier("graft_theta_intersect"),
      new ExpressionInfo(classOf[ThetaIntersect].getCanonicalName, "graft_theta_intersect"),
      arity("graft_theta_intersect", 2)(c => ThetaIntersect(c(0), c(1)))),
    (FunctionIdentifier("graft_theta_a_not_b"),
      new ExpressionInfo(classOf[ThetaAnotB].getCanonicalName, "graft_theta_a_not_b"),
      arity("graft_theta_a_not_b", 2)(c => ThetaAnotB(c(0), c(1)))),
    (FunctionIdentifier("graft_theta_summary"),
      new ExpressionInfo(classOf[ThetaSummary].getCanonicalName, "graft_theta_summary"),
      arity("graft_theta_summary", 1)(c => ThetaSummary(c.head))),
    // ---- ordered-funnel aggregate -----------------------------------
    (FunctionIdentifier("graft_window_funnel"),
      new ExpressionInfo(classOf[WindowFunnelAgg].getCanonicalName, "graft_window_funnel"),
      arity("graft_window_funnel", 4)(c => WindowFunnelAgg(
        Cast(c(0), LongType), Cast(c(1), IntegerType),
        foldedLong("graft_window_funnel", c(2)),
        foldedInt("graft_window_funnel", c(3))))))
}
