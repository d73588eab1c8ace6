package graft

import org.apache.spark.sql.functions._
import graft.operators.{FeatureScale, KMeans}

class KMeansSpec extends SparkSpec {
  import spark.implicits._

  private def toyPoints = Seq(
    (0L, 0.0, 0.0), (1L, 0.0, 1.0), (2L, 1.0, 0.0),
    (3L, 10.0, 10.0), (4L, 10.0, 11.0), (5L, 11.0, 10.0)
  ).toDF("id", "x", "y")

  test("lloyd2d separates two obvious clusters") {
    val (assigned, cents) = KMeans.lloyd2d(toyPoints, "id", "x", "y", 2, 3)
    val m = assigned.select("id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Set(m(0), m(1), m(2)).size == 1, "low cluster should be coherent")
    assert(Set(m(3), m(4), m(5)).size == 1, "high cluster should be coherent")
    assert(m(0) != m(3), "the two blobs must land in different clusters")
    assert(cents.size == 2)
  }

  test("assignment ties break to the lowest cluster id") {
    // point (5,5) is equidistant from (0,0)-ish and (10,10)-ish inits
    val pts = Seq((0L, 0.0, 0.0), (1L, 10.0, 0.0), (2L, 5.0, 0.0)).toDF("id", "x", "y")
    val cents = KMeans.initCentroids2d(pts, "id", "x", "y", 2)
    val (cl, _) = KMeans.assignExpr2d(col("x"), col("y"), cents)
    val m = pts.select(col("id"), cl.as("c")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(2) == 0L, "equidistant point must take the lowest cid")
  }

  test("lloyd on 64-dim embeddings is deterministic across runs") {
    val emb = Tables.embeddings(spark, sfDir)
    val (a1, c1) = KMeans.lloyd(emb, "vec_id", "embedding", 5, 2, 64)
    val (a2, c2) = KMeans.lloyd(emb, "vec_id", "embedding", 5, 2, 64)
    assert(c1.map(_._2.toSeq) == c2.map(_._2.toSeq), "centroids must be run-deterministic")
    assert(KMeans.metrics(a1).collect().map(_.toSeq).toSeq ==
      KMeans.metrics(a2).collect().map(_.toSeq).toSeq)
  }

  test("lloydSampled equals lloyd when the sample covers the corpus; deterministic") {
    // sfDir embeddings (500 at sf0.001) sit well under the
    // max(1024, 100·k) sample budget, so the sampled trainer sees
    // EVERY vector — its driver-side rounds must then reproduce the
    // distributed rounds (same init, same argmin tie-break, same
    // round-6 means) to within the 6-dp rounding grain
    val emb = Tables.embeddings(spark, sfDir)
    val full = KMeans.lloyd(emb, "vec_id", "embedding", 5, 2, 64)._2
    val sampled = KMeans.lloydSampled(emb, "vec_id", "embedding", 5, 2, 64)
    assert(sampled.map(_._1) == full.map(_._1), "same surviving cluster ids")
    val maxDiff = sampled.zip(full).map { case ((_, a), (_, b)) =>
      a.zip(b).map { case (x, y) => math.abs(x - y) }.max
    }.max
    assert(maxDiff <= 1e-6,
      s"full-coverage sampled training must match distributed lloyd, max diff $maxDiff")
    val again = KMeans.lloydSampled(emb, "vec_id", "embedding", 5, 2, 64)
    assert(again.map(_._2.toSeq) == sampled.map(_._2.toSeq),
      "sampled trainer must be run-deterministic")
  }

  test("trainCentroids over a bounded distributed sample separates blobs; deterministic") {
    import org.apache.spark.sql.functions._
    // 4000 points in two well-separated blobs; a 512-row budget
    // forces the md5-threshold sample (~1/8 of the corpus) so the
    // rounds train on a strict subset
    val pts = (0L until 4000L).map { i =>
      val base = if (i % 2 == 0) 0.0 else 10.0
      (i, Seq(base + (i % 7) * 0.01, base - (i % 5) * 0.01))
    }.toDF("id", "v")
    // the sample predicate really selects a strict, non-empty subset
    val threshold = (java.math.BigDecimal.valueOf(512L)
      .multiply(java.math.BigDecimal.valueOf(1L << 60))
      .divide(java.math.BigDecimal.valueOf(4000L), 0, java.math.RoundingMode.HALF_UP))
      .longValueExact()
    val sampled = pts.filter(
      conv(substring(md5(concat(lit("tc#"), col("id").cast("string"))), 1, 15), 16, 10)
        .cast("long") < threshold).count()
    assert(sampled > 100 && sampled < 1024,
      s"the md5 threshold must land near the 512 budget, got $sampled")
    val cents = KMeans.trainCentroids(pts, 2, 3, sampleBudget = 512L, n = 4000L)
    assert(cents.length == 2)
    val c = cents.map(_._2).sortBy(_.head)
    assert(math.abs(c(0)(0)) < 1.0 && math.abs(c(1)(0) - 10.0) < 1.0,
      s"sample-trained centroids must sit on the blobs, got ${c.map(_.toSeq)}")
    val again = KMeans.trainCentroids(pts, 2, 3, sampleBudget = 512L, n = 4000L)
    assert(again.map(_._2.toSeq) == cents.map(_._2.toSeq), "sampled training is deterministic")
    // budget >= corpus: bit-identical to the unsampled trainer
    val full = KMeans.trainCentroids(pts, 2, 3)
    val covered = KMeans.trainCentroids(pts, 2, 3, sampleBudget = 4000L, n = 4000L)
    assert(covered.map(_._2.toSeq) == full.map(_._2.toSeq),
      "a budget covering the corpus must not change training at all")
  }

  test("broadcast-codebook assignment is bit-identical to the literal-expression path") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sfDir)
    // full lloyd parity: same init, same rounds -> same centroids and
    // same (id, cluster, d) triples, bit for bit
    val (aL, cL) = KMeans.lloyd(emb, "vec_id", "embedding", 5, 2, 64)
    val (aB, cB) = KMeans.lloydBroadcast(emb, "vec_id", "embedding", 5, 2, 64)
    assert(cL.map { case (i, c) => (i, c.toSeq) } == cB.map { case (i, c) => (i, c.toSeq) },
      "centroids must agree between literal and broadcast Lloyd")
    def triples(df: org.apache.spark.sql.DataFrame) = df
      .select(col("id"), col("cluster"), col("d")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    assert(triples(aL) == triples(aB),
      "assignments and distances must be bit-identical (same summation order, same tie-break)")
    // tie-break parity on an exact tie: equidistant point goes to the
    // LOWEST cid on both paths
    val cents: KMeans.Centroids = Seq((0L, Array(0.0, 0.0)), (1L, Array(2.0, 0.0)))
    val pts = Seq((7L, Seq(1.0, 0.0))).toDF("id", "v")
    val bTriple = KMeans.assignBroadcast(pts, "id", "v", cents)
      .select(col("cluster")).head().getLong(0)
    val (clExpr, _) = KMeans.assignExpr(col("v"), cents)
    val lTriple = pts.select(clExpr.as("cluster")).head().getLong(0)
    assert(bTriple == 0L && lTriple == 0L, "exact ties must break to the lowest cid on both paths")
  }

  test("lloydConverged stops early on an easy corpus and reports the round count") {
    val (assigned, cents, rounds) = KMeans.lloydConverged(
      toyPoints.select(col("id"), array(col("x"), col("y")).as("v")),
      "id", "v", k = 2, maxIters = 20, dim = 2, tol = 1e-9)
    assert(rounds < 20, s"two well-separated blobs must converge long before maxIters, ran $rounds")
    assert(rounds >= 2, "convergence needs at least a move round and a verify round")
    assert(cents.size == 2)
    val m = assigned.select("id", "cluster").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Set(m(0), m(1), m(2)).size == 1 && Set(m(3), m(4), m(5)).size == 1 && m(0) != m(3),
      "converged assignment must separate the blobs")
  }

  test("lloydConverged run to the same round count equals fixed-iteration lloyd") {
    val pts = toyPoints.select(col("id"), array(col("x"), col("y")).as("v"))
    val (_, cFixed) = KMeans.lloyd(pts, "id", "v", 2, 3, 2)
    // tol = 0 never early-stops (movement ≥ 0 always), so exactly 3 rounds run
    val (_, cConv, rounds) = KMeans.lloydConverged(pts, "id", "v", 2, maxIters = 3, dim = 2, tol = 0.0)
    assert(rounds == 3)
    assert(cConv.map { case (cid, c) => (cid, c.toSeq) } ==
      cFixed.map { case (cid, c) => (cid, c.toSeq) },
      "same rounds ⇒ bit-identical centroids between the fixed and converged variants")
  }

  test("outliers: trained centroids find the planted anomaly that seed centroids miss") {
    // Both seed points (the two LOWEST ids) sit in the origin blob,
    // so the SEED partition splits the origin blob between them and
    // lumps the whole far blob into one wild-variance cluster — the
    // planted mild anomaly at (13,10,10,10) drowns (z small). Three
    // Lloyd rounds separate the blobs; against the TRAINED far-blob
    // centroid (~(10,10,10,10)) the anomaly's d2 ≈ 9 vs members'
    // ≈ 0.01 and it flags. This is the semantic upgrade of r9: the
    // triage advertises "the k-means index IVF already builds", and
    // now it actually trains one.
    def v(parts: Double*): Array[Float] = parts.map(_.toFloat).toArray
    val pts = (Seq(
      (0L, v(0, 0, 0, 0)), (1L, v(0.1, 0, 0, 0)),
      (2L, v(0, 0.1, 0, 0)), (3L, v(0, 0, 0.1, 0)), (4L, v(0, 0, 0, 0.1)),
      (20L, v(13, 10, 10, 10)) // planted anomaly on the far blob's rim
    ) ++ (10L to 17L).map(i => (i, v(10 + (i % 2) * 0.1, 10, 10, 10)))
    ).toDF("vec_id", "embedding")
    val trained = KMeans.outliers(pts, "vec_id", "embedding", k = 2)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val seeded = KMeans.outliers(pts, "vec_id", "embedding", k = 2, trainIters = 0)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(trained.contains(20L), s"trained triage must flag the planted anomaly, got $trained")
    assert(!seeded.contains(20L),
      s"seed-centroid triage should miss the rim anomaly on this fixture, got $seeded")
    assert(trained != seeded, "trained and seed outlier sets must differ on the planted fixture")
  }

  test("outliers flags exactly the far-from-centroid vectors, z from exact integer sums") {
    // init = k LOWEST ids, so ids 0 and 1 are the two cluster
    // anchors; members sit tight around each; id 8 lands in the
    // origin cluster but far out — its z must dominate
    def v(parts: Double*): Array[Float] = parts.map(_.toFloat).toArray
    val pts = Seq(
      (0L, v(0, 0, 0, 0)), (1L, v(10, 10, 10, 10)),
      (2L, v(0.1, 0, 0, 0)), (3L, v(0, 0.1, 0, 0)), (4L, v(0, 0, 0.1, 0)),
      (5L, v(10.1, 10, 10, 10)), (6L, v(10, 10.1, 10, 10)), (7L, v(10, 10, 10.1, 10)),
      (8L, v(3, 3, 0, 0)) // origin cluster, d2 = 18 ≫ the 0.01 members
    ).toDF("vec_id", "embedding")
    val out = graft.operators.KMeans.outliers(pts, "vec_id", "embedding", k = 2,
      zThresholdMilli = 1500L).collect()
    assert(out.map(_.getAs[Long]("vec_id")).toSeq == Seq(8L),
      s"only the planted outlier may flag, got ${out.map(_.getAs[Long]("vec_id")).toSeq}")
    assert(out(0).getAs[Long]("z_fs") >= 1500L)
    // degenerate guard: identical vectors (sigma = 0) emit nothing
    val flat = (0L to 5L).map(i => (i, v(1, 1, 1, 1))).toDF("vec_id", "embedding")
    assert(graft.operators.KMeans.outliers(flat, "vec_id", "embedding", k = 2).collect().isEmpty)
  }

  test("outliers via the broadcast-codebook path is bit-identical to the literal path") {
    // literalMax = 0 forces BOTH training and the final assign pass
    // onto assignBroadcast — the large-k route (k > 128) must produce
    // the same flags, distances, and z-scores as the codegen'd
    // literal-expression route it replaces (r9 left the final assign
    // pass literal-only; this pins the end-to-end dispatch)
    val emb = Tables.embeddings(spark, sfDir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    val literal = KMeans.outliers(emb, "vec_id", "embedding", k = 5, zThresholdMilli = 500L)
    val bcast = KMeans.outliers(emb, "vec_id", "embedding", k = 5, zThresholdMilli = 500L,
      literalMax = 0)
    assert(rows(literal).nonEmpty, "fixture must flag at least one outlier to be probative")
    assert(rows(literal) == rows(bcast),
      "broadcast-path outliers must be bit-identical to the literal path")
  }

  test("metrics sizes sum to the point count and wcss is nonnegative") {
    val (assigned, _) = KMeans.lloyd2d(toyPoints, "id", "x", "y", 2, 2)
    val m = KMeans.metrics(assigned).collect()
    assert(m.map(_.getAs[Long]("n")).sum == 6)
    assert(m.forall(_.getAs[Double]("wcss") >= 0))
  }

  test("feature scaling: minmax hits [0, 1e6] bounds and z is centered") {
    val df = Seq((0L, 0.0), (1L, 5.0), (2L, 10.0)).toDF("id", "v")
    val out = FeatureScale.scaled(df, "id", "v").collect()
    val mm = out.map(_.getAs[Long]("minmax_fs"))
    assert(mm.min == 0L && mm.max == 1000000L)
    val z = out.map(_.getAs[Long]("z_fs"))
    assert(z.sum < 100 && z.sum > -100, "z-scores should be ~centered on 0")
  }
}
