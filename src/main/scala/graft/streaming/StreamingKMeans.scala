package graft.streaming

import java.util.concurrent.TimeoutException

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.VectorFunctions._
import graft.operators.KMeans

/** Incremental streaming k-means — the core semantic of the reference
  * engine (ScaleUnlimited/flink-streaming-kmeans: each arriving point
  * pulls its nearest centroid toward it, `c' = c + (p - c)/n`, with
  * older points decaying).
  *
  * Spark-first re-expression: Structured Streaming micro-batches +
  * `foreachBatch`. Per batch:
  *   1. assign every point to its nearest centroid — a narrow,
  *      codegen'd pass (centroids are a broadcast literal);
  *   2. the assigned frame goes to the caller's assignments callback
  *      wrapped in a `Dataset.observe`: the callback's write is the
  *      batch's one Spark job, and it also yields each cluster's row
  *      count m and per-dimension sum Σp as k×(dim+1) observed
  *      aggregates (no persist, no shuffle, no second action);
  *   3. driver-side decayed merge, the batch generalization of the
  *      reference's per-point rule:
  *        n' = α·n + m
  *        c' = (α·n·c + Σp) / n'
  *      (α = decayFactor; α=1 → exact running mean, the reference's
  *      `c + (p-c)/n` applied m times; α<1 forgets old data.)
  *
  * State is k×dim doubles on the driver — no executor state store
  * needed, restart-safe through [[save]] and [[StreamingKMeans.restore]].
  * Identical update math at any scale: the only data-sized work is
  * the assign scan.
  */
class StreamingKMeans(val k: Int, val dim: Int, val decayFactor: Double,
                      init: Seq[(Long, Array[Double])]) extends Serializable {

  @volatile private var state: Vector[(Long, Array[Double], Double)] =
    init.map { case (cid, c) => (cid, c.clone(), 0.0) }.toVector

  def centroids: Seq[(Long, Array[Double])] = state.map { case (cid, c, _) => (cid, c.clone()) }
  def weights: Seq[(Long, Double)] = state.map { case (cid, _, n) => (cid, n) }

  /** Checkpoint the full model state — (cid, centroid, weight), k×dim
    * doubles, with the decay factor α stamped on every row — as one
    * tiny parquet file. With [[StreamingKMeans.restore]] this is the
    * restart-safety surface Flink gives the reference via operator
    * checkpointing: kill the job, restore, resume the stream, and the
    * model continues bit-identically (weights and α included, so the
    * decayed running mean picks up where it stopped — spec-verified by
    * a kill-and-resume in StreamingSpec).
    */
  def save(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    import spark.implicits._
    state.map { case (cid, c, n) => (cid, c.toSeq, n, decayFactor) }
      .toDF("cid", "centroid", "weight", "decay_factor")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Append a `cluster` column: nearest CURRENT centroid per point —
    * the reference engine's per-point assignment output (each arriving
    * point is assigned, THEN its centroid moves). Narrow and codegen'd;
    * centroids enter the plan as broadcast literals, so the frame is
    * pinned to the model state at call time regardless of when actions
    * run on it.
    */
  def assign(batch: DataFrame, vecCol: String): DataFrame = {
    val (cl, _) = KMeans.assignExpr(toDoubleArray(col(vecCol)).as("v"), centroids)
    batch.withColumn("cluster", cl)
  }

  /** Merge one micro-batch (a static DataFrame with an array<double>
    * column `vecCol`) into the model: one Spark job, a noop write of
    * the assigned batch that the statistics are observed on.
    */
  def update(batch: DataFrame, vecCol: String): Unit =
    merge(observedWrite(assign(batch, vecCol), vecCol))

  /** The batch statistics the merge needs, as global aggregates over an
    * assigned frame: for each cluster (in state order) its row count,
    * then one sum per dimension. k×(dim+1) scalar aggregates, so they
    * ride along a write as an observation.
    */
  private def batchStats(vecCol: String): Seq[Column] =
    state.flatMap { case (cid, _, _) =>
      val in = col("cluster") === lit(cid)
      count(when(in, lit(1))) +:
        (1 to dim).map(i => coalesce(sum(when(in, element_at(col(vecCol), i).cast("double"))), lit(0.0)))
    }

  /** Run `action` over `assigned` with [[batchStats]] observed on it;
    * the statistics, if they arrive within `wait` of its return.
    */
  private def observed(assigned: DataFrame, vecCol: String, wait: Duration)
                      (action: DataFrame => Unit): Option[Row] = {
    val observation = Observation()
    val stats = batchStats(vecCol)
    action(assigned.observe(observation, stats.head, stats.tail: _*))
    // the observation completes on the listener bus shortly after the
    // action returns
    try Some(Await.result(observation.future, wait))
    catch { case _: TimeoutException => None }
  }

  /** [[batchStats]] observed on a noop write of `assigned`. One Spark
    * job: a global `agg(...).head()` takes two under AQE.
    */
  private def observedWrite(assigned: DataFrame, vecCol: String): Row =
    observed(assigned, vecCol, Duration.Inf)(_.write.format("noop").mode("overwrite").save()).get

  /** Fold one row of [[batchStats]] into the model, the batch
    * generalization of the reference's per-point rule:
    *   n' = α·n + m,  c' = (α·n·c + Σp) / n'
    */
  private def merge(stats: Row): Unit = {
    state = state.zipWithIndex.map { case ((cid, c, n), j) =>
      val at = j * (dim + 1)
      val m = stats.getLong(at)
      val decayed = decayFactor * n
      if (m == 0) (cid, c, decayed)
      else {
        val total = decayed + m
        (cid, Array.tabulate(dim)(i => (decayed * c(i) + stats.getDouble(at + 1 + i)) / total), total)
      }
    }
  }

  /** Attach to a streaming Dataset: every micro-batch folds into the
    * model via foreachBatch. `onSnapshot` fires after each batch with
    * the updated centroids — the reference engine's periodic
    * cluster-snapshot surface (for monitoring/visualization).
    * `onAssignments` fires BEFORE the merge with the batch plus a
    * `cluster` column — the reference engine's other output half,
    * per-point cluster assignments (assign, then update: each point is
    * labeled with the centroid it was matched against, not the moved
    * one). Land it durably via [[graft.sources.Sinks.writeAssignments]].
    *
    * The merge's statistics are observed on the action `onAssignments`
    * runs, so a batch costs that one Spark job. The callback must
    * therefore run an action that reads every row of the frame it
    * gets: a write of it, or a write of a projection of it. An action
    * over a `limit` or `sample` of it would under-count the update.
    * If no observation arrives within a fixed two-second wait after the
    * callback returns (it ran no action), the statistics come from a
    * noop write of the frame instead, as in [[update]]. Without a
    * callback the batch is that one noop write.
    */
  def run(stream: DataFrame, vecCol: String,
          onSnapshot: (Long, Seq[(Long, Array[Double])]) => Unit = (_, _) => (),
          onAssignments: (Long, DataFrame) => Unit = null): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val assigned = assign(batch.toDF(), vecCol)
        val fromCallback =
          if (onAssignments == null) None
          else observed(assigned, vecCol, StreamingKMeans.ObservationWaitMs.millis)(onAssignments(batchId, _))
        merge(fromCallback.getOrElse(observedWrite(assigned, vecCol)))
        onSnapshot(batchId, centroids)
      }
      .start()
}

object StreamingKMeans {

  /** How long a batch waits, after `onAssignments` returns, for the
    * statistics observed on its action before computing them directly.
    * The observation normally lands within milliseconds; only a
    * callback that ran no action over the frame pays the full wait.
    */
  private val ObservationWaitMs = 2000L

  /** Restore a checkpointed model from [[StreamingKMeans#save]]:
    * centroids, weights AND the decay factor come back, so subsequent
    * updates continue the same decayed running mean as the
    * uninterrupted run.
    */
  def restore(spark: org.apache.spark.sql.SparkSession, path: String): StreamingKMeans =
    load(spark, path, None)

  /** [[restore]], checking that the model was saved with `decayFactor`:
    * a different α fails instead of silently changing the model. A
    * checkpoint written before α was stamped takes `decayFactor`.
    */
  def restore(spark: org.apache.spark.sql.SparkSession, path: String,
              decayFactor: Double): StreamingKMeans =
    load(spark, path, Some(decayFactor))

  private def load(spark: org.apache.spark.sql.SparkSession, path: String,
                   expected: Option[Double]): StreamingKMeans = {
    val df = spark.read.parquet(path)
    val rows = df.collect().sortBy(_.getAs[Long]("cid"))
    val saved =
      if (df.columns.contains("decay_factor")) rows.headOption.map(_.getAs[Double]("decay_factor"))
      else None
    val decayFactor = (saved, expected) match {
      case (Some(a), Some(b)) =>
        require(a == b, s"$path was saved with decayFactor $a, not the $b passed to restore")
        a
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case (None, None) => throw new IllegalArgumentException(
        s"$path records no decayFactor (saved before save() stamped it): pass it to restore")
    }
    val st = rows.map { r =>
      (r.getAs[Long]("cid"), r.getAs[scala.collection.Seq[Double]]("centroid").toArray,
        r.getAs[Double]("weight"))
    }.toVector
    val m = new StreamingKMeans(st.size, st.head._2.length, decayFactor,
      st.map { case (cid, c, _) => (cid, c) })
    m.state = st
    m
  }

  /** Seed from the k lowest-id points of a static frame (same
    * deterministic init as batch Lloyd's).
    */
  def seeded(points: DataFrame, idCol: String, vecCol: String, k: Int, dim: Int,
             decayFactor: Double = 1.0): StreamingKMeans = {
    val init = KMeans.initCentroids(
      points.select(col(idCol).cast("long").as("id"), toDoubleArray(col(vecCol)).as("v")),
      "id", "v", k)
    new StreamingKMeans(k, dim, decayFactor, init)
  }
}
