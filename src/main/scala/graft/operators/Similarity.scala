package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths:
  *  - `bruteTopK`: exact cosine top-k for a BOUNDED query set. The
  *    query side is broadcast (it is k rows, not the corpus), the
  *    corpus scan stays narrow, and per-query top-k is a
  *    window-ranked partial — this is the oracle baseline, linear in
  *    corpus size, only sane when |queries| is small.
  *  - `lshTopK`: random-hyperplane LSH — corpus and queries hash to
  *    sign-pattern buckets; candidates = bucket collisions (equi-join
  *    on bucket key, never a cross join); exact cosine re-ranks only
  *    candidates. This is the 100-TB path: cost ∝ bucket collision
  *    volume, not |corpus|×|queries|.
  *
  * Hyperplanes are derived deterministically from xxhash64 so both
  * engines (and reruns) see identical buckets without any RNG state.
  */
object Similarity {

  /** Fixed-point cosine (floor 1e6) — the ranking key. Ranking on the
    * fixed-point value with an id tie-break keeps ordering identical
    * across engines regardless of last-ulp float differences.
    */
  private def cosFs(cos: Column): Column = floor(lit(1000000.0) * cos)

  def bruteTopK(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val e = Par.spread(embeddings).select(col("vec_id"), toDoubleArray(col("embedding")).as("v"))
      .withColumn("nrm", l2norm(col("v")))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val cand = e.select(col("vec_id").as("c_id"), col("v").as("cv"), col("nrm").as("cn"))
    val byQ = Window.partitionBy(col("q_id")).orderBy(col("cos_fs").desc, col("c_id"))
    cand.join(broadcast(q), col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("c_id"),
        cosFs(cosineWithNorms(col("qv"), col("cv"), col("qn"), col("cn"))).as("cos_fs"))
      .withColumn("rnk", row_number().over(byQ).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("c_id"), col("cos_fs"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** Deterministic ±1 hyperplane vector for (seed, plane), folded
    * DRIVER-SIDE (MD5 of the component name) — sign-only hyperplanes
    * are the standard SRP-LSH construction and need no stored model.
    * `seed` namespaces the plane family so multiple independent hash
    * tables can coexist (multi-table SRP amplification).
    *
    * Folding on the driver matters: a per-component hash Column would
    * put planes×dim×tables nodes into the plan (thousands — minutes
    * of analyzer/optimizer time per query); a literal plane vector is
    * ONE node, and the dot product is one codegen'd zip_with fold.
    */
  private[graft] def planeVector(seed: String, plane: Int, dim: Int): Array[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (1 to dim).map { i =>
      val h = md.digest(s"${seed}plane$plane#dim$i".getBytes("UTF-8"))
      if ((h(0) & 1) == 0) 1.0 else -1.0
    }.toArray
  }

  /** Sign-pattern bucket id over `planes` hyperplanes (bit b = sign of
    * dot(v, plane_b)) from the `seed` plane family.
    *
    * Collision geometry (the LSH s-curve, spec-pinned in DedupSpec):
    * two vectors at angle θ agree on one plane with probability
    * p = 1 − θ/π, land in the same bucket of one table with p^planes,
    * and collide in ≥1 of `tables` independent tables with
    * 1 − (1 − p^planes)^tables. More planes → stronger pruning,
    * lower recall; more tables buys recall back at linear cost.
    */
  def srpBucketSeeded(v: Column, dim: Int, planes: Int, seed: String): Column =
    (0 until planes).map { p =>
      val d = dot(v, typedlit(planeVector(seed, p, dim)))
      when(d >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  def srpBucket(v: Column, dim: Int, planes: Int): Column =
    srpBucketSeeded(v, dim, planes, "")

  /** Expected ≥1-table collision probability of a pair at cosine
    * `cos` under (planes, tables) SRP geometry — the recall model the
    * scaladoc and SimilaritySpec pin down.
    */
  def srpCollisionProb(cos: Double, planes: Int, tables: Int): Double = {
    val p = 1.0 - math.acos(math.max(-1.0, math.min(1.0, cos))) / math.Pi
    1.0 - math.pow(1.0 - math.pow(p, planes), tables)
  }

  /** Recall model for MULTI-PROBE SRP ([[lshTopK]]'s and
    * [[Dedup.cosineLsh]]'s `probes`): a query also probes buckets at
    * hamming distance 1 from its own (the standard multi-probe LSH
    * idea — neighbors that narrowly miss the exact bucket differ in
    * one plane's sign). Per table, a pair collides if it agrees on
    * all planes (p^planes) or disagrees on exactly one of the probed
    * planes (each: (1−p)·p^(planes−1)):
    *   P_t = p^planes + (probes−1)·(1−p)·p^(planes−1),
    *   P   = 1 − (1 − P_t)^tables.
    * probes = 1 reduces to [[srpCollisionProb]] (spec-pinned).
    *
    * The formula is EXACT when the probed planes are chosen
    * independently of the query (each plane is equally likely to be
    * the sole disagreement). The implementation
    * ([[srpProbeStructs]]) is QUERY-DIRECTED — it flips the planes
    * with the smallest |dot(v, plane)| margin first, the standard
    * multi-probe ranking (Lv et al., "Multi-Probe LSH", VLDB'07) —
    * under which the sole-disagreement plane is MORE likely to be
    * probed than 1/planes (a near neighbor most plausibly flips the
    * plane the query barely cleared), so realized recall is ≥ this
    * model: geometries coupled to it stay honest, conservatively.
    *
    * The trade: recall per TABLE rises — fewer tables for the same
    * recall means a `probes`×-smaller banded index and fewer shuffled
    * band rows — while background candidates rise ∝ probes; the model
    * quantifies both sides so geometries stay honest.
    */
  def srpMultiProbeCollisionProb(cos: Double, planes: Int, tables: Int, probes: Int): Double = {
    require(probes >= 1 && probes <= planes + 1, s"probes must be in [1, planes+1], got $probes")
    val p = 1.0 - math.acos(math.max(-1.0, math.min(1.0, cos))) / math.Pi
    val perTable = math.pow(p, planes) + (probes - 1) * (1.0 - p) * math.pow(p, planes - 1)
    1.0 - math.pow(1.0 - perTable, tables)
  }

  /** SRP geometry sizing from the two numbers a user actually knows:
    * corpus size and the verify threshold — the operational form of
    * the scale rule the 100k rehearsal enforced empirically (an
    * sf0.1-tuned 8-plane geometry at n = 10⁵ admitted 2⁻⁸ of 5·10⁹
    * background pairs into the verify join and filled the disk).
    *
    * Rules encoded:
    *  - planes ≈ log2(n): one table's background admission stays
    *    ≈ n²/2 · 2^−planes ≈ n/2 — candidate volume ∝ corpus, not
    *    corpus². (The classic LSH balance point for p₂ = 1/2, which
    *    sign-random-projections give against a centered background.)
    *  - tables/probes: the cheapest (tables, probes) pair — fewest
    *    tables first (banded index state is tables×n rows — the
    *    dominant state), probes as the tie-break — whose
    *    [[srpMultiProbeCollisionProb]] at the threshold cosine clears
    *    `targetRecall`. Multi-probe usually wins here: wide-plane
    *    geometries need many tables for recall, and query-directed
    *    probing buys them back (realized recall ≥ the model).
    *
    * Returns (planes, tables, probes). Feed straight into
    * [[Dedup.cosineLsh]] / [[lshTopK]].
    */
  def suggestSrpGeometry(n: Long, cosThreshold: Double, targetRecall: Double = 0.9,
                         maxTables: Int = 64): (Int, Int, Int) = {
    require(n > 1 && cosThreshold > 0 && cosThreshold < 1 && targetRecall > 0 && targetRecall < 1,
      s"need n > 1, 0 < cos < 1, 0 < recall < 1; got n=$n cos=$cosThreshold recall=$targetRecall")
    val planes = math.max(4, math.ceil(math.log(n.toDouble) / math.log(2.0)).toInt)
    cheapestTablesProbes(planes, cosThreshold, targetRecall, maxTables)
  }

  /** [[suggestSrpGeometry]] for the QUERY workload ([[lshTopK]] /
    * [[annRecall]]) — a different background budget needs a different
    * plane rule. Self-dedup admits ≈ n²/2 · 2^−planes background
    * pairs, hence planes ≈ log2(n); a query batch admits only
    * nQueries · n · 2^−planes, so the right sizing is against the
    * per-query candidate budget the verify join can afford:
    * planes ≈ log2(n / candidatesPerQuery) keeps the expected
    * background candidates per query per table ≈ candidatesPerQuery.
    * Re-deriving the self-dedup rule here (as the gate once
    * hand-tuned around) would demand ~141 tables at sf0.1's
    * near-orthogonal threshold — the table/probe search rightly
    * refuses; the workload-correct rule clears the same recall with
    * a dozen. Same (tables, probes) search: fewest tables first
    * (tables×n banded rows are the dominant state), probes as the
    * tie-break.
    */
  def suggestSrpQueryGeometry(n: Long, cosThreshold: Double, targetRecall: Double = 0.9,
                              candidatesPerQuery: Int = 64, maxTables: Int = 64)
  : (Int, Int, Int) = {
    require(n > 1 && cosThreshold > 0 && cosThreshold < 1 && targetRecall > 0 && targetRecall < 1,
      s"need n > 1, 0 < cos < 1, 0 < recall < 1; got n=$n cos=$cosThreshold recall=$targetRecall")
    require(candidatesPerQuery >= 1, s"candidatesPerQuery must be ≥ 1, got $candidatesPerQuery")
    val planes = math.max(2,
      math.ceil(math.log(n.toDouble / candidatesPerQuery) / math.log(2.0)).toInt)
    cheapestTablesProbes(planes, cosThreshold, targetRecall, maxTables)
  }

  private def cheapestTablesProbes(planes: Int, cosThreshold: Double, targetRecall: Double,
                                   maxTables: Int): (Int, Int, Int) = {
    val best = (for {
      tables <- 1 to maxTables
      probes <- 1 to (planes + 1)
      if srpMultiProbeCollisionProb(cosThreshold, planes, tables, probes) >= targetRecall
    } yield (tables, probes)).headOption
    val (tables, probes) = best.getOrElse(throw new IllegalArgumentException(
      s"no geometry within $maxTables tables reaches recall $targetRecall at cos " +
        s"$cosThreshold with $planes planes — the threshold sits too close to the " +
        "background for this corpus size; raise the threshold or use the exact path"))
    (planes, tables, probes)
  }

  /** Probe keys for one vector across all `tables` hash tables: an
    * array of (band, bucket) structs holding, per table, the exact
    * bucket plus (probes−1) one-bit flips chosen QUERY-DIRECTED — the
    * flipped planes are those with the smallest |dot(v, plane)|
    * margin, in ascending-margin order (Lv et al. multi-probe
    * ranking: the plane the vector barely cleared is the one a near
    * neighbor most plausibly lands across). probes = 1 degenerates to
    * the plain one-bucket-per-table index keys.
    *
    * The flip set is prefix-monotone in `probes` (probes = k+1 flips
    * the k smallest margins), so candidate sets are supersets as
    * probes grows — the monotonicity the specs pin. All bucket/margin
    * arithmetic is literal-plane dot products (the native dot
    * kernel, no lambdas); the margin
    * ranking is one array_sort of `planes` tiny structs per vector.
    *
    * `bandField` names the table-id struct field ("tbl" for the ANN
    * search path, "band" for the dedup candidate generator).
    */
  private[graft] def srpProbeStructs(v: Column, dim: Int, planes: Int, tables: Int,
                                     probes: Int, bandField: String): Column =
    array((0 until tables).flatMap { t =>
      val seed = s"t$t#"
      val base = srpBucketSeeded(v, dim, planes, seed)
      if (probes == 1) Seq(struct(lit(t).as(bandField), base.as("bucket")))
      else {
        val margins = array((0 until planes).map { p =>
          struct(abs(dot(v, typedlit(planeVector(seed, p, dim)))).as("m"), lit(p).as("p"))
        }: _*)
        // ascending (|margin|, plane): the k-th probe flips the k-th
        // smallest-margin plane
        val flips = slice(array_sort(margins), 1, probes - 1)
        (0 until probes).map { pr =>
          val b =
            if (pr == 0) base
            else base.bitwiseXOR(
              call_function("shiftleft", lit(1L), element_at(flips, pr).getField("p")))
          struct(lit(t).as(bandField), b.as("bucket"))
        }
      }
    }: _*)

  /** IVF (inverted-file) approximate top-k: the corpus is coarsely
    * quantized by OUR k-means (operators.KMeans — the reference
    * engine's clustering doubles as the ANN index); each query probes
    * its `nprobe` nearest centroids and ranks only the vectors
    * assigned to those lists.
    *
    * Scale shape: the codebook trains on a bounded deterministic
    * sample ([[KMeans.lloydSampled]] — the FAISS practice, r12: one
    * bounded collect instead of per-iteration corpus passes); the
    * corpus pays exactly ONE distributed assign pass against the
    * final centroids; the search is an equi-join on the cluster id —
    * bucketed candidate generation, never a cross join. Recall is
    * tuned by nprobe; cost ∝ probed-list volume, not corpus size.
    */
  def ivfTopK(embeddings: DataFrame, dim: Int = 64, nlist: Int = 16, nprobe: Int = 4,
              nQueries: Int = 10, k: Int = 5): DataFrame = {
    import graft.operators.KMeans
    // checkpointed ([[Dedup.minhashLsh]]'s lifetime contract): feeds
    // the init scan, the training sample, the lists leg, and the query leg
    val pts = embeddings.select(col("vec_id").cast("long").as("vec_id"),
      toDoubleArray(col("embedding")).as("v"))
      .localCheckpoint()
    val cents = KMeans.lloydSampled(pts, "vec_id", "v", nlist, iters = 2, dim = dim)
    val (finalCl, _) = KMeans.assignExpr(col("v"), cents)
    val lists = pts.select(col("vec_id").as("c_id"), col("v").as("cv"), finalCl.as("cluster"))
      .withColumn("cn", l2norm(col("cv")))
    // nprobe nearest centroid ids per query: sort (distance, cid)
    // structs lexicographically, slice, project the ids
    val distStructs = array(cents.map { case (cid, c) =>
      struct(l2sq(col("qv"), typedlit(c)).as("d"), lit(cid).as("cid"))
    }: _*)
    val probed = transform(slice(array_sort(distStructs), 1, nprobe), s => s.getField("cid"))
    val q = pts.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
      .withColumn("qn", l2norm(col("qv")))
      .withColumn("probe_cluster", explode(probed))
    val byQ = Window.partitionBy(col("q_id")).orderBy(col("cos_fs").desc, col("c_id"))
    lists.join(broadcast(q),
        col("cluster") === col("probe_cluster") && col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("c_id"),
        cosFs(cosineWithNorms(col("qv"), col("cv"), col("qn"), col("cn"))).as("cos_fs"))
      .withColumn("rnk", row_number().over(byQ).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("c_id"), col("cos_fs"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** Persist an IVF index as a metastore layout — the vector-path
    * twin of [[Dedup.writeNgramLshIndex]]: at 100 TB the corpus is
    * embedded ONCE and queried by every batch after it, so the
    * quantization must be paid at write time, not per query batch.
    *
    *  - `<name>_lists` (c_id, cv, cn; PARTITIONED by cluster): the
    *    inverted lists. Directory partitioning on the cluster id is
    *    the point — a probe join on `cluster` dynamic-partition-
    *    prunes every unprobed list, so a query batch READS only the
    *    nprobe/nlist fraction of the corpus it ranks (spec-pinned
    *    via the plan's dynamicpruning filter);
    *  - `<name>_ids` (c_id, bucketed by c_id): the append-idempotence
    *    anti-join probe, shuffle-free on the stored side by layout;
    *  - `<name>_centroids` / `<name>_meta`: the trained coarse
    *    quantizer (k rows) and geometry, read back by query/append so
    *    a batch can never probe with mismatched centroids.
    *
    * Centroids are FROZEN at build (standard IVF practice: appended
    * vectors quantize against the build-time codebook; retrain =
    * rewrite). Training is [[KMeans.lloyd]] with the same
    * deterministic init as [[ivfTopK]] — an index built and queried
    * with equal geometry returns bit-identical rankings to the
    * in-memory path (spec-pinned).
    */
  /** Largest codebook the literal-expression path compiles well: past
    * a few hundred centroids the k×dim constants overflow JVM
    * method/constant-pool limits and Catalyst falls back to
    * interpretation — build, append, and probe all switch to the
    * broadcast-codebook JVM loop ([[KMeans.assignBroadcast]]) above
    * this, bit-parity spec-pinned. nlist ≈ 4√n puts the crossover
    * near n ≈ 1000² = 10⁶ vectors.
    */
  private[graft] val LiteralCodebookMax = KMeans.LiteralCentroidMax

  /** The FAISS sizing guideline as a function: nlist ≈ 4√n (lists of
    * ~√n/4 vectors balance quantizer cost against list-scan cost),
    * nprobe ≈ nlist/8 with a floor of 8 (recall is corpus-dependent —
    * this is the starting point, [[annRecall]] is the measurement).
    */
  def suggestIvfGeometry(n: Long): (Int, Int) = {
    require(n > 0, s"need n > 0, got $n")
    val nlist = math.max(16, math.min(65536, (4 * math.sqrt(n.toDouble)).toInt))
    (nlist, math.min(math.max(8, nlist / 8), nlist))
  }

  def writeIvfIndex(embeddings: DataFrame, name: String, dim: Int = 64, nlist: Int = 16,
                    iters: Int = 2, buckets: Int = 32,
                    literalMax: Int = LiteralCodebookMax): Unit = {
    import graft.operators.KMeans
    import graft.sources.Sinks
    import org.apache.spark.sql.SaveMode
    val spark = embeddings.sparkSession
    // persisted: the init scan, the training sample, and the single
    // final assign pass share one materialization
    val pts = embeddings.select(col("vec_id").cast("long").as("vec_id"),
      toDoubleArray(col("embedding")).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val literal = nlist <= literalMax
    // the codebook trains on a bounded deterministic sample
    // ([[KMeans.lloydSampled]], r12) — driver-side rounds have no
    // literal-codegen ceiling, so the literal/broadcast dispatch now
    // governs only the final ASSIGN pass
    val cents = KMeans.lloydSampled(pts, "vec_id", "v", nlist, iters = iters, dim = dim)
    // same geometry rule as ivfTopK: lists must be built against the
    // FINAL centroids the queries will probe
    val lists = (if (literal) {
      val (finalCl, _) = KMeans.assignExpr(col("v"), cents)
      pts.select(col("vec_id").as("c_id"), col("v").as("cv"), finalCl.as("cluster"))
    } else {
      KMeans.assignBroadcast(pts, "vec_id", "v", cents)
        .select(col("id").as("c_id"), col("v").as("cv"), col("cluster"))
    }).withColumn("cn", l2norm(col("cv")))
    lists.select(col("c_id"), col("cv"), col("cn"), col("cluster"))
      .write.mode(SaveMode.Overwrite).format("parquet")
      .partitionBy("cluster").saveAsTable(s"${name}_lists")
    Sinks.writeBucketed(lists.select(col("c_id")), s"${name}_ids", Seq("c_id"), buckets,
      SaveMode.Overwrite)
    import spark.implicits._
    cents.map { case (cid, c) => (cid, c.toSeq) }.toDF("cluster", "centroid")
      .coalesce(1).write.mode(SaveMode.Overwrite).format("parquet")
      .saveAsTable(s"${name}_centroids")
    Seq((dim, nlist, buckets)).toDF("dim", "nlist", "buckets")
      .write.mode(SaveMode.Overwrite).format("parquet").saveAsTable(s"${name}_meta")
    // build-time list stats — the drift baseline ivfDriftReport
    // compares appends against (k rows; one bounded scan of the
    // just-written lists)
    ivfListStats(spark, name)
      .coalesce(1).write.mode(SaveMode.Overwrite).format("parquet")
      .saveAsTable(s"${name}_stats")
    pts.unpersist()
  }

  /** Current per-list occupancy and mean squared assign-distance of a
    * stored IVF index: one row per CODEBOOK entry (empty lists show
    * n = 0), mean_d2 = mean ‖v − centroid(list(v))‖² over the list's
    * members — the observable quantization error. Distance rides a
    * broadcast centroid join (k rows), never a literal expression, so
    * the same plan serves any nlist. Cost: one scan of the lists
    * table + a k-group aggregate — the maintenance-pass budget.
    */
  def ivfListStats(spark: org.apache.spark.sql.SparkSession, name: String): DataFrame = {
    val centsDf = spark.table(s"${name}_centroids")
    // inner join broadcasts the k-row codebook (an outer join could
    // only broadcast the BIG side — preserved-side rule), then the
    // k-row left join re-admits empty lists at no cost
    val occupied = spark.table(s"${name}_lists")
      .join(broadcast(centsDf), Seq("cluster"))
      .groupBy(col("cluster"))
      .agg(count(col("c_id")).as("n0"),
        avg(l2sq(col("cv"), col("centroid"))).as("d0"))
    centsDf.select(col("cluster"))
      .join(occupied, Seq("cluster"), "left")
      .select(col("cluster"), coalesce(col("n0"), lit(0L)).as("n"),
        coalesce(col("d0"), lit(0.0)).as("mean_d2"))
      .orderBy(col("cluster"))
  }

  /** Codebook drift after appends/deletes: the frozen build-time
    * codebook quantizes every appended vector, so when the corpus
    * grows past the build distribution the lists skew and the mean
    * assign-distance climbs — recall then degrades SILENTLY (queries
    * probe nprobe lists sized for the build-time balance). This is
    * the observable for "is the codebook still the corpus's
    * codebook": one summary row comparing now vs build —
    *
    *   n_build / n_now           corpus growth since build
    *   skew_build / skew_now     max/mean list occupancy (1 = balanced)
    *   mean_d2_build / mean_d2_now   corpus-weighted quantization error
    *   dist_growth, skew_growth  the ratios the threshold rule reads
    *
    * Threshold rule ([[ivfNeedsRecluster]], the documented default):
    * recluster when mean_d2 grows past 1.5× build or occupancy skew
    * past 2× build. Both proxies move together under genuine
    * distribution shift (a new mass far from every centroid lands in
    * few lists AND far from their centroids); the OR keeps either
    * failure mode loud on its own.
    */
  def ivfDriftReport(spark: org.apache.spark.sql.SparkSession, name: String): DataFrame = {
    import spark.implicits._
    def summary(stats: DataFrame): (Long, Double, Double) = {
      val r = stats.agg(
        sum(col("n")).as("n_total"),
        (max(col("n")) / avg(col("n"))).as("skew"),
        (sum(col("n") * col("mean_d2")) / sum(col("n"))).as("mean_d2")).head()
      (r.getLong(0), r.getDouble(1), r.getDouble(2))
    }
    val (nB, skewB, d2B) = summary(spark.table(s"${name}_stats"))
    val (nN, skewN, d2N) = summary(ivfListStats(spark, name))
    val eps = 1e-12
    Seq((nB, nN, skewB, skewN, d2B, d2N,
      d2N / math.max(d2B, eps), skewN / math.max(skewB, eps)))
      .toDF("n_build", "n_now", "skew_build", "skew_now",
        "mean_d2_build", "mean_d2_now", "dist_growth", "skew_growth")
  }

  /** The documented recluster trigger — see [[ivfDriftReport]] for
    * the rule and its rationale. A crawl pipeline appending for
    * months calls this after each batch (two bounded scans) and
    * rebuilds via [[reclusterIvfIndex]] when it fires.
    */
  def ivfNeedsRecluster(spark: org.apache.spark.sql.SparkSession, name: String,
                        maxDistGrowth: Double = 1.5, maxSkewGrowth: Double = 2.0): Boolean = {
    val r = ivfDriftReport(spark, name).head()
    r.getAs[Double]("dist_growth") > maxDistGrowth ||
      r.getAs[Double]("skew_growth") > maxSkewGrowth
  }

  /** Retrain the codebook on the CURRENT stored corpus and rebuild
    * the index in place: reads every (c_id, cv) back, stages it in a
    * side table (the rebuild overwrites the tables it would otherwise
    * still be reading), and reruns the full [[writeIvfIndex]] build —
    * same nlist/buckets/dim from the index meta, fresh Lloyd
    * training, fresh build-time stats baseline. Deliberately a FULL
    * rebuild, not an incremental centroid nudge: recluster is the
    * rare maintenance pass (the drift rule fires on real
    * distribution shift, not per batch) and a partial refresh would
    * leave lists and codebook mid-disagreement on failure. Same
    * single-writer contract as compaction.
    */
  def reclusterIvfIndex(spark: org.apache.spark.sql.SparkSession, name: String,
                        iters: Int = 2, literalMax: Int = LiteralCodebookMax): Unit = {
    import org.apache.spark.sql.SaveMode
    val (dim, nlist, buckets, _) = ivfIndexMeta(spark, name)
    val src = s"${name}_recluster_src"
    spark.sql(s"DROP TABLE IF EXISTS $src")
    spark.table(s"${name}_lists")
      .select(col("c_id").as("vec_id"), col("cv").as("embedding"))
      .write.mode(SaveMode.Overwrite).format("parquet").saveAsTable(src)
    writeIvfIndex(spark.table(src), name, dim = dim, nlist = nlist, iters = iters,
      buckets = buckets, literalMax = literalMax)
    spark.sql(s"DROP TABLE $src")
  }

  /** ONE maintenance step of a stored IVF index — the loop a crawl
    * pipeline runs per ingest batch, previously left to the caller to
    * hand-roll from the scaladocs: append the batch, evaluate the
    * drift rule against the persisted build baseline, and retrain
    * when it fires. Returns true iff a recluster ran. Cost when the
    * rule stays quiet is the append (∝ batch) plus the two bounded
    * stats scans of [[ivfDriftReport]]; the recluster is the rare
    * full rebuild by design. Wired as a CLI mode in
    * [[graft.PipelineJob]] (`maintain-ivf`).
    */
  def maintainIvfIndex(batch: DataFrame, name: String,
                       maxDistGrowth: Double = 1.5, maxSkewGrowth: Double = 2.0,
                       iters: Int = 2): Boolean = {
    val spark = batch.sparkSession
    appendToIvfIndex(batch, name)
    val fires = ivfNeedsRecluster(spark, name, maxDistGrowth, maxSkewGrowth)
    if (fires) reclusterIvfIndex(spark, name, iters = iters)
    fires
  }

  /** Stored-index geometry + codebook, read BY NAME with an
    * exactly-one-row meta guard (same contract as the LSH index's
    * meta reader — positional reads would miswire silently).
    */
  private def ivfIndexMeta(spark: org.apache.spark.sql.SparkSession, name: String)
  : (Int, Int, Int, Seq[(Long, Array[Double])]) = {
    val rows = spark.table(s"${name}_meta").collect()
    require(rows.length == 1,
      s"${name}_meta must hold exactly one geometry row, got ${rows.length}")
    val m = rows(0)
    val cents = spark.table(s"${name}_centroids").collect()
      .map(r => (r.getAs[Long]("cluster"), r.getAs[Seq[Double]]("centroid").toArray))
      .sortBy(_._1).toSeq
    (m.getAs[Int]("dim"), m.getAs[Int]("nlist"), m.getAs[Int]("buckets"), cents)
  }

  /** Query a stored IVF index ([[writeIvfIndex]]): each query ranks
    * only the vectors in its `nprobe` nearest lists. Queries carry
    * (vec_id, embedding); a query id also present in the corpus is
    * excluded as self (the [[ivfTopK]] convention, so the two paths
    * compare row-for-row).
    *
    * Scale shape: the probe frame is queries×nprobe slim rows,
    * broadcast; the lists scan is DYNAMIC-PARTITION-PRUNED by the
    * broadcast join to exactly the probed clusters — I/O ∝ probed
    * volume, not index size. Centroid distances are a codegen'd
    * literal-array expression (nlist × dim doubles — driver-bounded
    * by the codebook, the same bound [[ivfTopK]] carries).
    */
  def ivfAgainstIndex(queries: DataFrame, name: String, nprobe: Int = 4, k: Int = 5,
                      literalMax: Int = LiteralCodebookMax): DataFrame = {
    val spark = queries.sparkSession
    val (_, _, _, cents) = ivfIndexMeta(spark, name)
    require(nprobe >= 1 && nprobe <= cents.length,
      s"nprobe must be in [1, ${cents.length}], got $nprobe")
    val q = queries.select(col("vec_id").cast("long").as("q_id"),
        toDoubleArray(col("embedding")).as("qv"))
      .withColumn("qn", l2norm(col("qv")))
    val qp = probeClusters(q, cents, nprobe, literalMax)
    val byQ = Window.partitionBy(col("q_id")).orderBy(col("cos_fs").desc, col("c_id"))
    spark.table(s"${name}_lists").join(broadcast(qp), Seq("cluster"))
      .filter(col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("c_id"),
        cosFs(cosineWithNorms(col("qv"), col("cv"), col("qn"), col("cn"))).as("cos_fs"))
      .withColumn("rnk", row_number().over(byQ).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("c_id"), col("cos_fs"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** nprobe-nearest-centroid expansion of a (q_id, qv, qn) query
    * frame → (q_id, qv, qn, cluster) rows, nprobe per query. Two
    * paths with pinned-identical results ([[LiteralCodebookMax]]):
    * the literal path sorts (distance, cid) structs lexicographically
    * in one codegen'd expression; the broadcast path runs a bounded
    * insertion over the broadcast codebook with the SAME (d, cid)
    * order, so ties break identically.
    */
  private[graft] def probeClusters(q: DataFrame, cents: Seq[(Long, Array[Double])],
                                   nprobe: Int, literalMax: Int): DataFrame = {
    if (cents.length <= literalMax) {
      val distStructs = array(cents.map { case (cid, c) =>
        struct(l2sq(col("qv"), typedlit(c)).as("d"), lit(cid).as("cid"))
      }: _*)
      val probed = transform(slice(array_sort(distStructs), 1, nprobe), s => s.getField("cid"))
      q.withColumn("cluster", explode(probed))
    } else {
      val spark = q.sparkSession
      import spark.implicits._
      val bc = spark.sparkContext.broadcast(
        (cents.map(_._1).toArray, cents.map(_._2).toArray))
      val take = math.min(nprobe, cents.length)
      q.select(col("q_id"), col("qv"), col("qn")).as[(Long, Seq[Double], Double)]
        .mapPartitions { it =>
          val (cids, cs) = bc.value
          it.flatMap { case (qid, qvSeq, qn) =>
            val qv = qvSeq.toArray
            val bestD = Array.fill(take)(Double.PositiveInfinity)
            val bestC = Array.fill(take)(Long.MaxValue)
            var i = 0
            while (i < cs.length) {
              val c = cs(i)
              var d = 0.0
              var j = 0
              while (j < qv.length) { val t = qv(j) - c(j); d += t * t; j += 1 }
              val cid = cids(i)
              var pos = take
              while (pos > 0 &&
                  (d < bestD(pos - 1) || (d == bestD(pos - 1) && cid < bestC(pos - 1))))
                pos -= 1
              if (pos < take) {
                var m = take - 1
                while (m > pos) { bestD(m) = bestD(m - 1); bestC(m) = bestC(m - 1); m -= 1 }
                bestD(pos) = d
                bestC(pos) = cid
              }
              i += 1
            }
            (0 until take).iterator.map(p => (qid, qvSeq, qn, bestC(p)))
          }
        }
        .toDF("q_id", "qv", "qn", "cluster")
    }
  }

  /** Fold new vectors into a stored IVF index without rebuilding:
    * quantize ONLY the incoming batch against the frozen codebook and
    * append its list and id rows. IDEMPOTENT — already-indexed
    * vec_ids are skipped via an anti-join probing the c_id-bucketed
    * ids table (shuffle-free on the stored side by layout), so crash
    * retries and at-least-once upstreams cannot inflate lists.
    * Append cost ∝ batch size, never index size.
    */
  def appendToIvfIndex(newVectors: DataFrame, name: String,
                       literalMax: Int = LiteralCodebookMax): Unit = {
    import graft.operators.KMeans
    import graft.sources.Sinks
    import org.apache.spark.sql.SaveMode
    val spark = newVectors.sparkSession
    val (_, _, buckets, cents) = ivfIndexMeta(spark, name)
    val pts = newVectors.select(col("vec_id").cast("long").as("vec_id"),
      toDoubleArray(col("embedding")).as("v"))
    val fresh = pts.join(spark.table(s"${name}_ids"),
      pts("vec_id") === col("c_id"), "left_anti")
    val rows = (if (cents.length <= literalMax) {
      val (cl, _) = KMeans.assignExpr(col("v"), cents)
      fresh.select(col("vec_id").as("c_id"), col("v").as("cv"), cl.as("cluster"))
    } else {
      KMeans.assignBroadcast(fresh, "vec_id", "v", cents)
        .select(col("id").as("c_id"), col("v").as("cv"), col("cluster"))
    }).withColumn("cn", l2norm(col("cv")))
      .persist() // feeds the lists insert AND the ids append
    // insertInto is positional; the partition column sits LAST in a
    // partitioned table's schema
    rows.select(col("c_id"), col("cv"), col("cn"), col("cluster"))
      .write.mode(SaveMode.Append).insertInto(s"${name}_lists")
    Sinks.writeBucketed(rows.select(col("c_id")), s"${name}_ids", Seq("c_id"), buckets,
      SaveMode.Append)
    rows.unpersist(false)
  }

  /** Rewrite the stored lists so each cluster directory holds ONE
    * file again (appends add a file per touched partition per batch).
    * Costs one cluster-keyed shuffle of the lists — unlike the
    * bucketed-table compaction ([[graft.sources.Sinks.compactBucketed]])
    * a directory-partitioned layout carries no task-aligned read to
    * exploit, and the rewrite is the rare maintenance pass. Same
    * versioned-location pointer-flip swap as the bucketed tables;
    * single-writer ownership assumed. The ids table compacts
    * zero-shuffle.
    */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession, name: String): Unit = {
    import graft.sources.Sinks
    import org.apache.spark.sql.SaveMode
    val (_, _, buckets, _) = ivfIndexMeta(spark, name)
    rewriteIvfLists(spark, name, identity)
    Sinks.compactBucketed(spark, s"${name}_ids", Seq("c_id"), buckets)
  }

  /** The in-place lists rewrite behind compaction and retraction:
    * stage the new generation as an EXTERNAL table at a versioned
    * location, FLIP the live table to it with one `ALTER TABLE SET
    * LOCATION` ([[graft.sources.Sinks.flipToGeneration]] — no drop,
    * no rename, so a concurrent reader always resolves a live table),
    * then RECOVER PARTITIONS: a partitioned table's per-partition
    * catalog entries still point at the PREVIOUS generation until the
    * MSCK completes — a reader in that window sees the old snapshot
    * (whose directory is only deleted after the repair), never zero
    * rows (the r9 rename-swap defect; count-preservation is
    * spec-pinned against exactly this).
    */
  private def rewriteIvfLists(spark: org.apache.spark.sql.SparkSession, name: String,
                              transform: DataFrame => DataFrame): Unit = {
    import org.apache.spark.sql.SaveMode
    import graft.sources.Sinks
    val table = s"${name}_lists"
    val tmp = s"${table}__compact"
    spark.sql(s"DROP TABLE IF EXISTS $tmp")
    val (oldLoc, newLoc) = Sinks.nextGenLocation(spark, table)
    transform(spark.table(table)).repartition(col("cluster"))
      .select(col("c_id"), col("cv"), col("cn"), col("cluster"))
      .write.mode(SaveMode.Overwrite).format("parquet").option("path", newLoc)
      .partitionBy("cluster").saveAsTable(tmp)
    spark.sql(s"ALTER TABLE $table SET LOCATION '$newLoc'")
    spark.sql(s"MSCK REPAIR TABLE $table")
    // MSCK is add-only: pre-existing partition specs keep their old-
    // generation locations (wrong on a Hive metastore once cleanup
    // reaches that directory) — rebase them onto the new generation
    Sinks.syncPartitionLocations(spark, table)
    Sinks.flipCleanup(spark, tmp, oldLoc)
  }

  /** RETRACT vectors from a stored IVF index — the vector-path twin
    * of [[graft.operators.Dedup.deleteFromNgramLshIndex]]: retracted
    * embeddings (takedowns, re-embedded docs) must stop surfacing as
    * neighbors, not merely be filtered downstream. The lists rewrite
    * rides the same cluster-keyed compaction pass with a broadcast
    * anti-join folded in (a delete IS a compaction; absent vec_ids
    * are a no-op, so retries are idempotent); the ids table rewrites
    * zero-shuffle per bucket. The frozen codebook is untouched —
    * deletes thin lists but never move centroids, the same contract
    * as append (re-train = rebuild via [[writeIvfIndex]]).
    *
    * Contract: `vecIds` is a bounded retraction list (broadcast); a
    * retraction too large to broadcast is a rebuild, not a delete.
    */
  def deleteFromIvfIndex(spark: org.apache.spark.sql.SparkSession, name: String,
                         vecIds: DataFrame): Unit = {
    import graft.sources.Sinks
    val (_, _, buckets, _) = ivfIndexMeta(spark, name)
    val ids = broadcast(vecIds.select(col("vec_id").cast("long").as("c_id")).distinct())
    rewriteIvfLists(spark, name, df => df.join(ids, Seq("c_id"), "left_anti"))
    Sinks.rewriteBucketed(spark, s"${name}_ids", Seq("c_id"), buckets,
      df => df.join(ids, Seq("c_id"), "left_anti"))
  }

  /** LSH-bucketed approximate top-k: per query, rank candidates that
    * collide with it in ≥1 of `tables` independent sign-pattern hash
    * tables (standard multi-table SRP amplification — see
    * [[srpCollisionProb]] for the recall model). Smaller `planes` →
    * bigger buckets → higher recall, more compute; more `tables` buys
    * recall back at linear candidate cost.
    *
    * `probes` > 1 turns on MULTI-PROBE: each query ALSO probes the
    * buckets at hamming distance 1 from its own — QUERY-DIRECTED,
    * flipping its smallest-|margin| planes first
    * ([[srpProbeStructs]]) — on the QUERY side only; the corpus-side
    * index stays one row per (vector, table). Near misses that land
    * one plane across the boundary are recovered without another
    * table, so the same recall needs fewer tables: a probes×-smaller
    * banded index and fewer shuffled band rows
    * ([[srpMultiProbeCollisionProb]] is the spec-pinned model, a
    * conservative lower bound under directed probing; candidates rise
    * ∝ probes — tune with it).
    *
    * Scale shape: candidate ids come from an equi-join on (table,
    * bucket) and are DISTINCT'd before any vector math — per-query
    * cost ∝ distinct collision volume, never |corpus|×|queries|.
    *
    * The normalized corpus feeds the bucket explode AND both
    * verify-join sides, so it is checkpointed at build time
    * ([[Dedup.minhashLsh]]'s lifetime contract).
    */
  def lshTopK(embeddings: DataFrame, dim: Int = 64, planes: Int = 6, tables: Int = 4,
              nQueries: Int = 10, k: Int = 5, probes: Int = 1): DataFrame = {
    require(probes >= 1 && probes <= planes + 1, s"probes must be in [1, planes+1], got $probes")
    val e = Par.spread(embeddings).select(col("vec_id"), toDoubleArray(col("embedding")).as("v"))
      .withColumn("nrm", l2norm(col("v")))
      .localCheckpoint()
    val bucketStructs = array((0 until tables).map { t =>
      struct(lit(t).as("tbl"), srpBucketSeeded(col("v"), dim, planes, s"t$t#").as("bucket"))
    }: _*)
    // slim (id, tbl, bucket) rows — vectors never ride the explode
    val banded = e.select(col("vec_id"), explode(bucketStructs).as("bk"))
      .select(col("vec_id"), col("bk.tbl").as("tbl"), col("bk.bucket").as("bucket"))
    // query probes: the exact bucket plus (probes−1) query-directed
    // one-bit flips — query-side fan-out only, the corpus index above
    // is untouched
    val qProbeStructs = srpProbeStructs(col("v"), dim, planes, tables, probes, "tbl")
    val qb = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), explode(qProbeStructs).as("bk"))
      .select(col("q_id"), col("bk.tbl").as("tbl"), col("bk.bucket").as("bucket"))
    val cand = banded.select(col("vec_id").as("c_id"), col("tbl"), col("bucket"))
      .join(broadcast(qb), Seq("tbl", "bucket"))
      .filter(col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("c_id"))
      .distinct() // dedup across tables BEFORE the vector math
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val byQ = Window.partitionBy(col("q_id")).orderBy(col("cos_fs").desc, col("c_id"))
    cand
      .join(e.select(col("vec_id").as("c_id"), col("v").as("cv"), col("nrm").as("cn")), "c_id")
      .join(broadcast(q), "q_id")
      .select(col("q_id"), col("c_id"),
        cosFs(cosineWithNorms(col("qv"), col("cv"), col("qn"), col("cn"))).as("cos_fs"))
      .withColumn("rnk", row_number().over(byQ).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("c_id"), col("cos_fs"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** Recall gate for the approximate ANN paths: recall@k of
    * [[lshTopK]] and [[ivfTopK]] against the exact [[bruteTopK]]
    * baseline, one row per method — and ZERO rows unless EVERY method
    * clears `minRecallFs`, so the driver's rows>0 check IS the gate
    * (rows > 0 ⟺ all approximate paths recall ≥ 0.8 by default).
    *
    * The LSH leg's geometry is DERIVED, not hand-picked:
    * [[suggestSrpQueryGeometry]](n, cos 0.35, recall 0.9) — the
    * neighbor-cosine floor of this near-orthogonal corpus (top-k
    * neighbors sit at cos ≈ 0.35–0.5, the shallow end of the SRP
    * s-curve; see [[srpCollisionProb]]) fed through the query-workload
    * sizing rule, so the gate proves the rule end-to-end at every sf
    * (n = 500 derives 3 planes × 3 tables × 4 probes; n = 5000
    * derives 7 × 12 × 8). The one extra count() it costs is a
    * column-pruned scan. IVF probes nprobe = nlist/2. Real embedding
    * dedup corpora with true near-dups (cos ≥ 0.8) sit on the steep
    * end and derive far tighter geometries from the same rule.
    */
  def annRecall(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5,
                minRecallFs: Long = 8000L, neighborCosFloor: Double = 0.35): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val n = embeddings.count()
    val (planes, tables, probes) =
      suggestSrpQueryGeometry(n, neighborCosFloor, targetRecall = 0.9)
    val brute = bruteTopK(embeddings, nQueries, k).select(col("q_id"), col("c_id"))
    val approx =
      lshTopK(embeddings, planes = planes, tables = tables, nQueries = nQueries, k = k,
          probes = probes)
        .select(col("q_id"), col("c_id")).withColumn("method", lit("lsh"))
      .unionByName(
        ivfTopK(embeddings, nlist = 16, nprobe = 8, nQueries = nQueries, k = k)
          .select(col("q_id"), col("c_id")).withColumn("method", lit("ivf")))
    val hits = approx.join(brute, Seq("q_id", "c_id"), "left_semi")
      .groupBy(col("method")).agg(count(lit(1)).as("n_hit"))
    // left-join from a literal method list so a method with ZERO hits
    // still yields a (failing) row instead of silently vanishing
    val methods = Seq("ivf", "lsh").toDF("method")
    val truth = brute.agg(count(lit(1)).as("n_truth"))
    // the all-methods minimum comes from an aggregate + broadcast
    // cross join, NOT a global window: an unpartitioned WindowExec
    // single-partitions its input (and warns); the aggregate path is
    // partial-agg shaped at any scale. recalls is persisted because
    // it feeds both the min aggregate and the output scan — without
    // it the whole LSH+IVF+brute pipeline would execute twice.
    val recalls = methods.join(hits, Seq("method"), "left")
      .crossJoin(broadcast(truth))
      .select(col("method"),
        floor(lit(10000.0) * coalesce(col("n_hit"), lit(0L)) / col("n_truth")).as("recall_fs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val minFs = recalls.agg(min(col("recall_fs")).as("min_fs"))
    // the gate result is ≤ |methods| rows: evaluate it EAGERLY so the
    // cached LSH+IVF+brute pipeline can be unpersisted here instead of
    // leaking into the caller's session (cache hygiene — the returned
    // frame is a LocalRelation carrying only the verdict rows)
    val out = recalls.crossJoin(broadcast(minFs))
      .filter(col("min_fs") >= minRecallFs)
      .select(col("method"), col("recall_fs"))
      .orderBy(col("method"))
      .collect()
    recalls.unpersist(false)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("method", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("recall_fs", org.apache.spark.sql.types.LongType)))
    spark.createDataFrame(java.util.Arrays.asList(out: _*), schema)
  }
}
