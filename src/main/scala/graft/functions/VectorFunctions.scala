package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge

import graft.functions.expressions.{ArrayDot, ArrayL2Sq}

/** Vector math as Catalyst `Column` expressions over `array<double>`.
  *
  * `dot` and `l2sq` are native codegen'd kernels (one tight loop per
  * row, [[graft.functions.expressions.ArrayDot]]/`ArrayL2Sq`); the rest
  * compose them with builtins. Everything stays inside
  * WholeStageCodegen — no UDFs, no serialization boundary — so a
  * 100 TB scan of embeddings evaluates these at full codegen speed.
  *
  * Semantics mirror the distance math of the reference engine
  * (ScaleUnlimited/flink-streaming-kmeans: Euclidean nearest-centroid
  * assignment); cosine/dot are the embedding-pipeline extensions.
  *
  * Summation is a sequential fold in element order, which keeps the
  * result deterministic for a given row (important for oracle parity).
  */
object VectorFunctions {

  /** Cast `array<float>` (how parquet stores embeddings) to
    * `array<double>` so all arithmetic happens in f64 — float→double
    * is exact, so this is loss-free and engine-portable.
    */
  def toDoubleArray(v: Column): Column = transform(v, _.cast("double"))

  /** Sequential-fold dot product: sum_i a(i)*b(i). */
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(ArrayDot(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Squared Euclidean distance: sum_i (a(i)-b(i))^2. */
  def l2sq(a: Column, b: Column): Column =
    ColumnBridge.column(ArrayL2Sq(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** L2 norm. */
  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity = dot / (|a| |b|). Callers joining many pairs
    * should precompute norms once per side (see operators.Similarity)
    * instead of re-deriving them per pair.
    */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  /** Cosine given precomputed norms (the join-friendly form). */
  def cosineWithNorms(a: Column, b: Column, normA: Column, normB: Column): Column =
    dot(a, b) / (normA * normB)
}
