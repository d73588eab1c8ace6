package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Batch + metric surface of the reference engine's k-means
  * (ScaleUnlimited/flink-streaming-kmeans: Euclidean nearest-centroid
  * assignment, incremental/Lloyd centroid updates, per-cluster
  * size/WCSS metrics). The streaming analogue lives in
  * streaming/StreamingKMeans.scala.
  *
  * Scale design: centroids are k×dim doubles — always a broadcast
  * literal, never a join side. One Lloyd iteration =
  *   1 narrow assign pass (pure codegen'd expressions over the scan)
  * + 1 partial-agg shuffle carrying k rows per partition.
  * Nothing else moves. This holds at 100 TB because per-iteration
  * network cost is O(k·dim·partitions), independent of row count.
  *
  * Determinism (oracle parity): init = k lowest-id points; ties in
  * assignment break to the lowest cluster id (array_position returns
  * the FIRST index of the min, and centroids are kept sorted by cid);
  * centroid coordinates round to 6 dp after every update so both
  * engines iterate from identical doubles. Empty clusters drop out
  * but surviving cids are preserved (no renumbering).
  */
object KMeans {

  /** Past this many centroids the literal-expression assign pass
    * overflows JVM method/constant-pool limits and Spark falls back
    * to interpreted expressions — switch to the broadcast-codebook
    * loop ([[assignBroadcast]]) instead. Shared with the IVF build
    * (Similarity.LiteralCodebookMax aliases this).
    */
  private[graft] val LiteralCentroidMax = 128

  /** (cid, centroid-vector) list, kept sorted by cid. */
  type Centroids = Seq[(Long, Array[Double])]
  type Centroids2d = Seq[(Long, Double, Double)]

  /** Squared-distance to each centroid; cluster = cid of the first
    * minimum (lowest cid wins ties); dist2 = that minimum.
    */
  def assignExpr(vec: Column, centroids: Centroids): (Column, Column) = {
    val dists = array(centroids.map { case (_, c) => l2sq(vec, typedlit(c)) }: _*)
    val cids = typedlit(centroids.map(_._1).toArray)
    val d = array_min(dists)
    (element_at(cids, array_position(dists, d).cast("int")), d)
  }

  /** 2-D specialisation: scalar expressions so the assign pass is a
    * flat codegen'd projection.
    */
  def assignExpr2d(x: Column, y: Column, centroids: Centroids2d): (Column, Column) = {
    val dists = array(centroids.map { case (_, cx, cy) =>
      (x - cx) * (x - cx) + (y - cy) * (y - cy)
    }: _*)
    val cids = typedlit(centroids.map(_._1).toArray)
    val d = array_min(dists)
    (element_at(cids, array_position(dists, d).cast("int")), d)
  }

  /** Deterministic init: the k points with the lowest ids, cid = rank
    * 0..k-1 (reference seeds clusters from the first arriving points;
    * this is the batch equivalent with a total order).
    */
  def initCentroids(points: DataFrame, idCol: String, vecCol: String, k: Int): Centroids =
    points.orderBy(col(idCol)).limit(k)
      .select(col(idCol), toDoubleArray(col(vecCol)))
      .collect().sortBy(_.getLong(0))
      .zipWithIndex.map { case (r, i) => (i.toLong, r.getSeq[Double](1).toArray) }.toSeq

  def initCentroids2d(points: DataFrame, idCol: String, xCol: String, yCol: String, k: Int): Centroids2d =
    points.orderBy(col(idCol)).limit(k)
      .select(col(idCol), col(xCol).cast("double"), col(yCol).cast("double"))
      .collect().sortBy(_.getLong(0))
      .zipWithIndex.map { case (r, i) => (i.toLong, r.getDouble(1), r.getDouble(2)) }.toSeq

  /** Nearest-centroid assignment for LARGE codebooks. [[assignExpr]]
    * compiles k×dim literal constants into the projection — the right
    * call to a few hundred centroids (whole-stage codegen, zero
    * broadcast), but a 4096-list IVF codebook (the nlist ≈ 4√n rule
    * at n = 10⁶) overflows JVM method/constant-pool limits and falls
    * back to interpreted expressions. This variant BROADCASTS the
    * codebook once and computes the argmin in a flat JVM loop per
    * partition (the MLlib shape): O(k·dim) multiply-adds per row, no
    * expression blowup, cost independent of k at plan-compile time.
    *
    * Bit-parity with [[assignExpr]] is deliberate and spec-pinned:
    * the distance accumulates dimensions in the same order (same IEEE
    * result) and strict `<` keeps the FIRST minimum (lowest cid wins
    * ties, centroids kept cid-sorted) — so the two paths are
    * interchangeable at any k where both run.
    */
  def assignBroadcast(points: DataFrame, idCol: String, vecCol: String,
                      centroids: Centroids): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    require(centroids.nonEmpty, "assignBroadcast needs a non-empty codebook")
    val bc = spark.sparkContext.broadcast(
      (centroids.map(_._1).toArray, centroids.map(_._2).toArray))
    points.select(col(idCol).cast("long").as("id"), toDoubleArray(col(vecCol)).as("v"))
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val (cids, cents) = bc.value
        it.map { case (id, vSeq) =>
          val v = vSeq.toArray
          var bestI = 0
          var bestD = Double.PositiveInfinity
          var i = 0
          while (i < cents.length) {
            val c = cents(i)
            var d = 0.0
            var j = 0
            while (j < v.length) { val t = v(j) - c(j); d += t * t; j += 1 }
            if (d < bestD) { bestD = d; bestI = i }
            i += 1
          }
          (id, vSeq, cids(bestI), bestD)
        }
      }
      .toDF("id", "v", "cluster", "d")
  }

  /** [[lloyd]] with the broadcast-codebook assignment — identical
    * contract and (spec-pinned) identical output; use when k is past
    * the literal-expression range (see [[assignBroadcast]]).
    */
  def lloydBroadcast(points: DataFrame, idCol: String, vecCol: String, k: Int, iters: Int,
                     dim: Int): (DataFrame, Centroids) = {
    require(iters >= 1, s"lloyd needs at least one round, got iters=$iters")
    val pts = Par.spread(points)
      .select(col(idCol).cast("long").as("id"), toDoubleArray(col(vecCol)).as("v"))
      .localCheckpoint()
    var centroids = initCentroids(pts, "id", "v", k)
    var assigned: DataFrame = null
    for (_ <- 1 to iters) {
      assigned = assignBroadcast(pts, "id", "v", centroids)
      centroids = updateCentroids(assigned, "v", dim)
    }
    (assigned, centroids)
  }

  private[graft] def dist2(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** One DRIVER-SIDE Lloyd round over an in-memory sample, mirroring
    * the distributed [[assignExpr]] + [[updateCentroids]] semantics:
    * first strict minimum wins the argmin (lowest cid on ties,
    * centroids kept cid-sorted), empty clusters drop out of the
    * update, and means round to 6 decimals HALF_UP (the same
    * `round(avg, 6)` determinism discipline). Deterministic chunked
    * parallelism for large samples: fixed 8192-point chunks
    * accumulate partial sums independently and merge in chunk order,
    * so the result never depends on thread timing — and a
    * single-chunk input IS the plain sequential loop.
    */
  private[graft] def localLloydStep(pts: Array[(Long, Array[Double])],
                                    cents: Centroids): Centroids = {
    import scala.collection.parallel.CollectionConverters._
    val ca = cents.toArray
    val k = ca.length
    val dim = ca(0)._2.length
    val chunkSize = 8192
    val nChunks = (pts.length + chunkSize - 1) / chunkSize
    val partials = (0 until nChunks).par.map { ci =>
      val sums = Array.ofDim[Double](k, dim)
      val counts = new Array[Long](k)
      var i = ci * chunkSize
      val end = math.min(pts.length, i + chunkSize)
      while (i < end) {
        val v = pts(i)._2
        var best = 0; var bd = dist2(v, ca(0)._2); var c = 1
        while (c < k) {
          val d = dist2(v, ca(c)._2)
          if (d < bd) { bd = d; best = c }
          c += 1
        }
        val acc = sums(best)
        var j = 0; while (j < dim) { acc(j) += v(j); j += 1 }
        counts(best) += 1L
        i += 1
      }
      (sums, counts)
    }.toArray
    val sums = Array.ofDim[Double](k, dim)
    val counts = new Array[Long](k)
    partials.foreach { case (ps, pc) =>
      var c = 0
      while (c < k) {
        var j = 0; while (j < dim) { sums(c)(j) += ps(c)(j); j += 1 }
        counts(c) += pc(c)
        c += 1
      }
    }
    (0 until k).filter(counts(_) > 0L).map { c =>
      (ca(c)._1, sums(c).map(x => BigDecimal.decimal(x / counts(c))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }.sortBy(_._1)
  }

  /** Bounded-sample Lloyd for ANN INDEX BUILDS — the FAISS practice:
    * a codebook carries at most k·dim doubles, so refining it over
    * the max(1024, samplePerCentroid·k) lowest-md5(id) vectors is
    * statistically equivalent to the full-corpus rounds while
    * replacing `iters` corpus passes with ONE bounded top-n collect
    * (plus the k-row init scan). Same deterministic first-k-by-id
    * init as [[lloyd]]; rounds run driver-side via
    * [[localLloydStep]]. Returns centroids only — index builds run
    * exactly one distributed assign pass against the FINAL centroids
    * anyway, which is the pass this trainer leaves in place.
    *
    * NOT a replacement for [[lloyd]]: the `kmeans_lloyd_*` operators
    * are oracle-locked to full-corpus rounds (their unrolled-SQL
    * contract); this is the trainer for [[Similarity.writeIvfIndex]] /
    * [[IvfPq.train]]-shaped consumers, spec-pinned to agree with
    * [[lloyd]] exactly when the sample covers the corpus.
    */
  /** Above this many assign-distance MACs (iters · sampleN · k · dim)
    * the driver-side rounds stop being "free" even chunk-parallel —
    * [[lloydSampled]] then delegates to [[trainCentroids]]' bounded
    * DISTRIBUTED-sample rounds (same sample size, same init, cluster
    * compute): the k = 65536 geometry cap at 100 vectors/centroid is
    * ~5×10¹³ MACs, untenable on one node, but three distributed
    * rounds over a 6.5M-row sample frame are routine.
    */
  private[graft] val LocalTrainMacsMax: Long = 100000000000L

  def lloydSampled(points: DataFrame, idCol: String, vecCol: String, k: Int,
                   iters: Int, dim: Int, samplePerCentroid: Int = 100): Centroids = {
    require(iters >= 1, s"lloydSampled needs at least one round, got iters=$iters")
    val pts = points
      .select(col(idCol).cast("long").as("id"), toDoubleArray(col(vecCol)).as("v"))
    val sampleN = math.max(1024, samplePerCentroid * k)
    if (iters.toLong * sampleN * k * dim > LocalTrainMacsMax) {
      // too much single-node Lloyd compute: bounded distributed-sample
      // rounds instead (one extra count job to size the md5 threshold)
      return trainCentroids(pts, k, iters, LiteralCentroidMax,
        sampleBudget = sampleN, n = math.max(1L, pts.count()))
    }
    var cents = initCentroids(pts, "id", "v", k)
    val sample = pts
      .withColumn("hk", md5(concat(lit("km#"), col("id").cast("string"))))
      .orderBy(col("hk"), col("id")).limit(sampleN)
      .select(col("id"), col("v")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    require(sample.nonEmpty, "cannot train a codebook over an empty corpus")
    for (_ <- 1 to iters) cents = localLloydStep(sample, cents)
    cents
  }

  /** One Lloyd update: per-cluster mean rounded to 6 dp. The agg
    * ships k×dim partials per partition — broadcast-scale.
    */
  def updateCentroids(assigned: DataFrame, vecCol: String, dim: Int): Centroids = {
    val avgs = (1 to dim).map(i => round(avg(element_at(col(vecCol), i)), 6).as(s"c$i"))
    assigned.groupBy(col("cluster")).agg(avgs.head, avgs.tail: _*)
      .orderBy(col("cluster"))
      .collect().map(r => (r.getLong(0), (1 to dim).map(i => r.getDouble(i)).toArray)).toSeq
  }

  /** Batch Lloyd's: `iters` rounds of assign + update from the
    * deterministic init. Returns the final assignment (against the
    * pre-update centroids of the last round) plus the updated
    * centroids — exactly `iters` assign passes and `iters` updates,
    * matching the unrolled oracle SQL.
    */
  def lloyd(points: DataFrame, idCol: String, vecCol: String, k: Int, iters: Int, dim: Int,
            literalMax: Int = LiteralCentroidMax)
  : (DataFrame, Centroids) = {
    require(iters >= 1, s"lloyd needs at least one round, got iters=$iters")
    // past the codegen limit the literal assign pass degrades to
    // interpreted expressions — hand off to the broadcast twin
    // (identical output, spec-pinned)
    if (k > literalMax) return lloydBroadcast(points, idCol, vecCol, k, iters, dim)
    // checkpoint the projected points: every iteration, and the
    // returned assignment, re-reads them (same reason MLlib KMeans
    // caches its input — without this each of the iters+1 jobs rescans
    // the source); [[Dedup.minhashLsh]] states the lifetime contract
    val pts = Par.spread(points)
      .select(col(idCol).cast("long").as("id"), toDoubleArray(col(vecCol)).as("v"))
      .localCheckpoint()
    var centroids = initCentroids(pts, "id", "v", k)
    var assigned: DataFrame = null
    for (_ <- 1 to iters) {
      val (cl, d) = assignExpr(col("v"), centroids)
      assigned = pts.select(col("id"), col("v"), cl.as("cluster"), d.as("d"))
      centroids = updateCentroids(assigned, "v", dim)
    }
    (assigned, centroids)
  }

  /** Convergence-aware Lloyd's: iterate assign + update until the
    * maximum centroid movement (Euclidean, over surviving clusters)
    * drops below `tol`, or `maxIters` rounds — the library-facing
    * variant of [[lloyd]] (which keeps a FIXED count for oracle
    * lockstep; run both to the same round count and they are
    * identical, spec-pinned in KMeansSpec).
    *
    * The convergence check is free at any scale: centroids are k×dim
    * doubles already on the driver after each update — no extra
    * cluster work, no extra scan. A cluster that loses all points
    * between rounds counts as converged (there is no new position to
    * move to); new per-round cost is identical to [[lloyd]].
    *
    * Returns (assignment against the last pre-update centroids,
    * final centroids, rounds actually run).
    */
  def lloydConverged(points: DataFrame, idCol: String, vecCol: String, k: Int,
                     maxIters: Int, dim: Int, tol: Double = 1e-4)
  : (DataFrame, Centroids, Int) = {
    require(maxIters >= 1, s"lloydConverged needs at least one round, got maxIters=$maxIters")
    val pts = Par.spread(points)
      .select(col(idCol).cast("long").as("id"), toDoubleArray(col(vecCol)).as("v"))
      .localCheckpoint()
    var centroids = initCentroids(pts, "id", "v", k)
    var assigned: DataFrame = null
    var it = 0
    var moved = Double.MaxValue
    while (it < maxIters && moved >= tol) {
      val (cl, d) = assignExpr(col("v"), centroids)
      assigned = pts.select(col("id"), col("v"), cl.as("cluster"), d.as("d"))
      val next = updateCentroids(assigned, "v", dim)
      moved = maxMovement(centroids, next)
      centroids = next
      it += 1
    }
    (assigned, centroids, it)
  }

  /** Max Euclidean movement between two centroid sets, matched by cid;
    * clusters present in only one set contribute 0 (an emptied cluster
    * has nowhere to move to).
    */
  private def maxMovement(prev: Centroids, next: Centroids): Double = {
    val p = prev.toMap
    next.iterator.map { case (cid, c) =>
      p.get(cid).fold(0.0) { o =>
        math.sqrt(c.indices.iterator.map(i => (c(i) - o(i)) * (c(i) - o(i))).sum)
      }
    }.maxOption.getOrElse(0.0)
  }

  /** 2-D Lloyd's with scalar-expression assignment. */
  def lloyd2d(points: DataFrame, idCol: String, xCol: String, yCol: String, k: Int, iters: Int)
  : (DataFrame, Centroids2d) = {
    require(iters >= 1, s"lloyd2d needs at least one round, got iters=$iters")
    val pts = Par.spread(points)
      .select(col(idCol).cast("long").as("id"),
        col(xCol).cast("double").as("x"), col(yCol).cast("double").as("y"))
      .localCheckpoint()
    var centroids = initCentroids2d(pts, "id", "x", "y", k)
    var assigned: DataFrame = null
    for (_ <- 1 to iters) {
      val (cl, d) = assignExpr2d(col("x"), col("y"), centroids)
      assigned = pts.select(col("id"), col("x"), col("y"), cl.as("cluster"), d.as("d"))
      centroids = assigned.groupBy(col("cluster"))
        .agg(round(avg(col("x")), 6).as("cx"), round(avg(col("y")), 6).as("cy"))
        .orderBy(col("cluster"))
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    }
    (assigned, centroids)
  }

  /** Per-cluster metrics of an assignment: size, WCSS, mean squared
    * distance — the reference's cluster-snapshot surface.
    */
  def metrics(assigned: DataFrame): DataFrame =
    assigned.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("d")), 2).as("wcss"),
        round(avg(col("d")), 4).as("avg_d2"))
      .orderBy(col("cluster"))

  /** Train `iters` Lloyd rounds from the deterministic init and
    * return only the final centroids — the bounded-driver-state core
    * of [[lloyd]] without the returned assignment (callers here want
    * just the k×dim literal, so the input cache is released as soon
    * as training ends). Past `literalMax` centroids the
    * assign pass switches to the broadcast-codebook loop
    * ([[assignBroadcast]], bit-parity spec-pinned), same as the IVF
    * build path.
    *
    * `sampleBudget > 0` bounds the TRAINING input: when the corpus
    * exceeds the budget, the rounds run over the deterministic
    * md5-threshold fraction that targets ~`sampleBudget` rows — a
    * DISTRIBUTED sample frame, not a driver collect, because this
    * trainer's k can be corpus-derived (SemDeDup's 4√n: at 10⁹
    * vectors k ≈ 126k and the bounded sample is ~12.6M rows — far too
    * much driver-side Lloyd compute, but a 79× cheaper distributed
    * round than the full corpus). A corpus at or under the budget
    * trains on everything — identical to the unsampled form, which is
    * what keeps the oracle-locked consumers exact at gate scale. The
    * filter is a pure map-side predicate (md5 prefix as a 60-bit
    * uniform draw), partitioning-stable and engine-reproducible.
    */
  private[graft] def trainCentroids(pts: DataFrame, k: Int, iters: Int,
                                    literalMax: Int = Int.MaxValue,
                                    sampleBudget: Long = 0L, n: Long = 0L): Centroids = {
    val cached = Par.spread(pts).cache()
    try {
      var cents = initCentroids(cached, "id", "v", k)
      val trainPts =
        if (sampleBudget > 0L && n > sampleBudget) {
          val threshold = (java.math.BigDecimal.valueOf(sampleBudget)
            .multiply(java.math.BigDecimal.valueOf(1L << 60))
            .divide(java.math.BigDecimal.valueOf(n), 0, java.math.RoundingMode.HALF_UP))
            .longValueExact()
          cached.filter(
            conv(substring(md5(concat(lit("tc#"), col("id").cast("string"))), 1, 15), 16, 10)
              .cast("long") < threshold)
        } else cached
      if (iters > 0) {
        val dim = cents.head._2.length
        for (_ <- 1 to iters) {
          val assigned =
            if (k <= literalMax) {
              val (cl, _) = assignExpr(col("v"), cents)
              trainPts.select(col("v"), cl.as("cluster"))
            } else assignBroadcast(trainPts, "id", "v", cents).select(col("v"), col("cluster"))
          cents = updateCentroids(assigned, "v", dim)
        }
      }
      cents
    } finally cached.unpersist(blocking = false)
  }

  /** Embedding outlier detection: vectors whose squared distance to
    * their own TRAINED cluster centroid is a z-score ≥ threshold
    * above the cluster's mean — the "weird data" triage a training
    * pipeline runs over an embedded corpus (clusters = the k-means
    * index that IVF search already builds; anomalies = candidates for
    * inspection/filtering). Centroids are trained with `trainIters`
    * Lloyd rounds (default 3, matching IVF's coarse index and the
    * unrolled oracle); `trainIters = 0` degrades to seed-point
    * centroids — a measurably weaker anomaly signal (spec-pinned on a
    * planted fixture where only the trained triage finds the anomaly).
    *
    * Determinism across engines: d2 is snapped ONCE to fixed point
    * (d2_fs = round(d2·10⁴), a long). The per-cluster moments are
    * then EXACT integer window sums of d2_fs and d2_fs² — sums of
    * identical integers are order-independent, unlike float avg/
    * stddev whose summation order differs between engines and could
    * flip a 4-dp rounding at the boundary. Every downstream value
    * (mu, sigma, z) is the same IEEE expression over those identical
    * sums, so it is bit-identical in both engines; the one remaining
    * cross-engine boundary is the single round() on d2 itself, the
    * suite-wide irreducible rule. Degenerate clusters (var ≤ 0) emit
    * no outliers by definition. The integer squares bound exactness
    * at n·d2_fs² < 2⁶³ per cluster — beyond that, pre-aggregate or
    * widen to decimal(38,0) sums.
    *
    * Scale shape: `trainIters` bounded Lloyd passes (k rows per
    * partition shuffled each) + one narrow assign pass (k×dim literal
    * centroids in the projection up to `literalMax` clusters, the
    * broadcast-codebook loop past it — bit-parity spec-pinned) + one
    * shuffle on cluster for the window stats — the same
    * single-exchange shape as every window family here.
    */
  def outliers(points: DataFrame, idCol: String, vecCol: String, k: Int,
               zThresholdMilli: Long = 1000L, trainIters: Int = 3,
               literalMax: Int = LiteralCentroidMax): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pts = points.select(col(idCol).cast("long").as("id"),
      toDoubleArray(col(vecCol)).as("v"))
    val cents = trainCentroids(pts, k, trainIters, literalMax)
    val byC = Window.partitionBy(col("cluster"))
    val muFs = col("s1").cast("double") / col("n")
    val varFs = (col("s2").cast("double") -
      col("s1").cast("double") * col("s1").cast("double") / col("n")) / (col("n") - 1)
    val z = lit(1000.0) * (col("d2_fs") - muFs) / sqrt(varFs)
    // final assign pass: same literal-vs-broadcast dispatch as
    // training (cents.length, not k — empty clusters drop out)
    val assigned =
      if (cents.length <= literalMax) {
        val (cl, d) = assignExpr(col("v"), cents)
        pts.select(col("id").as("vec_id"), cl.as("cluster"),
          round(d * 10000).cast("long").as("d2_fs"))
      } else
        assignBroadcast(pts, "id", "v", cents)
          .select(col("id").as("vec_id"), col("cluster"),
            round(col("d") * 10000).cast("long").as("d2_fs"))
    assigned
      .withColumn("n", count(lit(1)).over(byC))
      .withColumn("s1", sum(col("d2_fs")).over(byC))
      .withColumn("s2", sum(col("d2_fs") * col("d2_fs")).over(byC))
      .filter(varFs > 0 && floor(z) >= zThresholdMilli)
      .select(col("vec_id"), col("cluster"),
        (col("d2_fs") / 10000.0).as("d2"),
        floor(z).cast("long").as("z_fs"))
      .orderBy(col("vec_id"))
  }
}
