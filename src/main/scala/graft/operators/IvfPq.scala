package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.sources.Sinks

/** IVF-PQ — the composition that makes 100 TB of embeddings
  * searchable from a compressed index (Jégou et al. 2011, the FAISS
  * `IVFPQ` architecture): an IVF coarse quantizer prunes the search
  * to `nprobe` lists, and within each list candidates are scored from
  * PQ codes of their RESIDUAL r = v − centroid(list(v)) — so the scan
  * side of the index holds m small ints per vector instead of dim
  * floats, and the full vectors are only fetched for the shortlist's
  * exact re-rank.
  *
  * Residual encoding matters: residuals concentrate near 0 with far
  * less variance than raw vectors, so the same m·ks codebook budget
  * quantizes them much more finely. The price is that the ADC lookup
  * table becomes per-(query, probed list) — ‖q − (c + r̂)‖² =
  * ‖(q − c) − r̂‖², a fresh table for each probed centroid c — which
  * is exactly nprobe slim rows per query here, each carrying its m·ks
  * array, broadcast to the code scan.
  *
  * Scale shape, stored form ([[writeIndex]] / [[queryIndex]]):
  *  - `name_codes`  (c_id, codes, cluster) — partitioned by cluster:
  *    the compressed scan side, DYNAMIC-PARTITION-PRUNED to the
  *    probed lists per query batch; I/O ∝ probed fraction × m bytes
  *    per vector, not corpus × dim floats.
  *  - `name_vecs`   (c_id, cv) — bucketed by c_id: the exact-vector
  *    store, touched only by the shortlist re-rank join (stored side
  *    shuffle-free by layout) and the append anti-join.
  *  - `name_centroids` / `name_pqbooks` / `name_meta` — driver-bounded
  *    (nlist·dim + m·ks·dim/m doubles).
  *
  * Accuracy contract: recall is bounded by the probe (a true neighbor
  * in an unprobed list is unreachable — the IVF trade) and measured,
  * not assumed: [[recallGate]] is the rows>0 ⟺ recall ≥ target gate,
  * the same discipline as [[Similarity.annRecall]] / [[Pq.pqRecall]].
  */
object IvfPq {

  /** A trained model: the coarse codebook plus the residual PQ books.
    * Driver-held and bounded (nlist·dim + ks·dim doubles).
    */
  case class Model(cents: KMeans.Centroids, cb: Pq.Codebooks)

  /** Train on the L2-normalized corpus: `coarseIters` Lloyd rounds
    * for the IVF codebook on a bounded deterministic sample
    * ([[KMeans.lloydSampled]] — the FAISS practice, r12; the
    * final-centroid assignment convention of
    * [[Similarity.writeIvfIndex]] is unchanged), then residual PQ
    * books via [[Pq.trainOn]] — residuals are NOT re-normalized
    * (their length is their information).
    */
  def train(embeddings: DataFrame, dim: Int = 64, nlist: Int = 16, m: Int = 8,
            ks: Int = 64, coarseIters: Int = 2, pqIters: Int = 3,
            literalMax: Int = Similarity.LiteralCodebookMax): Model = {
    val pts = Pq.normalized(embeddings)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cents = KMeans.lloydSampled(pts, "vec_id", "v", nlist, iters = coarseIters, dim = dim)
    val cb = Pq.trainOn(
      residuals(pts, cents, literalMax).select(col("vec_id").as("id"), col("rv").as("v")),
      dim, m, ks, pqIters)
    pts.unpersist()
    Model(cents, cb)
  }

  /** (vec_id, v, cluster, rv = v − centroid(cluster)) against the
    * FINAL coarse centroids — the literal argmin expression within
    * the codegen bound, the broadcast twin past it (the
    * [[KMeans.lloyd]] dispatch rule); the centroid subtraction rides
    * a broadcast k-row join either way.
    */
  private def residuals(pts: DataFrame, cents: KMeans.Centroids,
                        literalMax: Int): DataFrame = {
    val spark = pts.sparkSession
    import spark.implicits._
    val assigned =
      if (cents.length <= literalMax)
        pts.withColumn("cluster", KMeans.assignExpr(col("v"), cents)._1)
      else
        KMeans.assignBroadcast(pts, "vec_id", "v", cents)
          .select(col("id").as("vec_id"), col("v"), col("cluster"))
    val centsDf = cents.map { case (cid, c) => (cid, c.toSeq) }.toDF("cluster", "centroid")
    assigned.join(broadcast(centsDf), Seq("cluster"))
      .select(col("vec_id"), col("v"), col("cluster"),
        zip_with(col("v"), col("centroid"), (a, b) => a - b).as("rv"))
  }

  /** The probe frame: (q_id, cluster, qtab) — `nprobe` rows per
    * query, each carrying the ADC table of the query's residual
    * AGAINST THAT LIST's centroid. Bounded by construction
    * (nQueries · nprobe · m·ks doubles), broadcast to the code scan.
    */
  private def probeTables(q: DataFrame, model: Model, nprobe: Int,
                          literalMax: Int): DataFrame = {
    val spark = q.sparkSession
    import spark.implicits._
    val centsDf = model.cents.map { case (cid, c) => (cid, c.toSeq) }
      .toDF("cluster", "centroid")
    Similarity.probeClusters(q.withColumn("qn", lit(1.0)), model.cents, nprobe, literalMax)
      .join(broadcast(centsDf), Seq("cluster"))
      .select(col("q_id"), col("cluster"),
        Pq.adcTableExpr(zip_with(col("qv"), col("centroid"), (a, b) => a - b),
          model.cb).as("qtab"))
  }

  /** ADC shortlist + exact re-rank over in-memory (cluster, codes) and
    * vector frames — the shared back half of [[ivfPqTopK]] and
    * [[queryIndex]]. `codes` must carry (c_id, codes, cluster);
    * `vecs` (c_id, cv) with UNIT-norm cv.
    */
  private def rankAgainst(codes: DataFrame, vecs: DataFrame, q: DataFrame,
                          model: Model, nprobe: Int, k: Int, shortlist: Int,
                          literalMax: Int): DataFrame = {
    require(shortlist >= k, s"shortlist=$shortlist must cover k=$k")
    val qp = probeTables(q, model, nprobe, literalMax)
    val byAdc = Window.partitionBy(col("q_id")).orderBy(col("adc_fs"), col("c_id"))
    val cand = codes.join(broadcast(qp), Seq("cluster"))
      .filter(col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("c_id"),
        floor(lit(1000000.0) * Pq.adcScoreExpr(col("qtab"), col("codes"), model.cb))
          .as("adc_fs"))
      .withColumn("srnk", row_number().over(byAdc))
      .filter(col("srnk") <= shortlist)
      .select(col("q_id"), col("c_id"))
    val byCos = Window.partitionBy(col("q_id")).orderBy(col("cos_fs").desc, col("c_id"))
    // the shortlist is bounded (nQueries · shortlist): broadcast it so
    // the vector store never shuffles
    vecs.join(broadcast(cand), "c_id")
      .join(broadcast(q.select(col("q_id"), col("qv"))), "q_id")
      .select(col("q_id"), col("c_id"),
        floor(lit(1000000.0) * dot(col("qv"), col("cv"))).as("cos_fs"))
      .withColumn("rnk", row_number().over(byCos).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("c_id"), col("cos_fs"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** In-memory IVF-PQ top-k: the first `nQueries` vec_ids query the
    * corpus through the probe → compressed-scan → re-rank pipeline.
    * Output schema equals [[Similarity.bruteTopK]]; a probe covering
    * the truth makes the two identical (spec-pinned on the planted
    * corpus).
    */
  def ivfPqTopK(embeddings: DataFrame, dim: Int = 64, nlist: Int = 16,
                nprobe: Int = 8, m: Int = 8, ks: Int = 64, nQueries: Int = 10,
                k: Int = 5, shortlist: Int = 200,
                literalMax: Int = Similarity.LiteralCodebookMax): DataFrame = {
    val model = train(embeddings, dim, nlist, m, ks, literalMax = literalMax)
    // checkpointed ([[Dedup.minhashLsh]]'s lifetime contract): feeds
    // the codes, the re-rank vectors and the queries
    val pts = Pq.normalized(embeddings).localCheckpoint()
    val rs = residuals(pts, model.cents, literalMax)
    val codes = rs.select(col("vec_id").as("c_id"),
      Pq.codesExpr(col("rv"), model.cb).as("codes"), col("cluster"))
    val vecs = pts.select(col("vec_id").as("c_id"), col("v").as("cv"))
    val q = pts.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    rankAgainst(codes, vecs, q, model, nprobe, k, shortlist, literalMax)
  }

  /** The IVF-PQ honesty gate: rows>0 ⟺ recall@k of [[ivfPqTopK]] vs
    * the exact cosine baseline ≥ `minRecallFs`/10⁴. Lossy twice over
    * (unprobed lists AND 6-bit residual codes) — which is exactly why
    * it ships with its own measurement.
    */
  def recallGate(embeddings: DataFrame, dim: Int = 64, nlist: Int = 16,
                 nprobe: Int = 8, m: Int = 8, ks: Int = 64, nQueries: Int = 10,
                 k: Int = 5, shortlist: Int = 200,
                 minRecallFs: Long = 9000L): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val brute = Similarity.bruteTopK(embeddings, nQueries, k)
      .select(col("q_id"), col("c_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val approx = ivfPqTopK(embeddings, dim, nlist, nprobe, m, ks, nQueries, k, shortlist)
      .select(col("q_id"), col("c_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nHit = approx.join(brute, Seq("q_id", "c_id"), "left_semi").count()
    val nTruth = brute.count()
    brute.unpersist()
    approx.unpersist()
    val recallFs = if (nTruth == 0) 0L else math.floor(10000.0 * nHit / nTruth).toLong
    Seq(("ivfpq", recallFs)).toDF("method", "recall_fs")
      .filter(col("recall_fs") >= minRecallFs)
  }

  /** Persist an IVF-PQ index (layout in the object scaladoc). The
    * codes table is the scan side a 1000-executor cluster keeps hot;
    * the vecs table is the cold exact store only the re-rank touches.
    */
  def writeIndex(embeddings: DataFrame, name: String, dim: Int = 64,
                 nlist: Int = 16, m: Int = 8, ks: Int = 64, coarseIters: Int = 2,
                 pqIters: Int = 3, buckets: Int = 32,
                 literalMax: Int = Similarity.LiteralCodebookMax): Unit = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val model = train(embeddings, dim, nlist, m, ks, coarseIters, pqIters, literalMax)
    val pts = Pq.normalized(embeddings)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    residuals(pts, model.cents, literalMax)
      .select(col("vec_id").as("c_id"),
        Pq.codesExpr(col("rv"), model.cb).as("codes"), col("cluster"))
      .write.mode(SaveMode.Overwrite).format("parquet")
      .partitionBy("cluster").saveAsTable(s"${name}_codes")
    Sinks.writeBucketed(pts.select(col("vec_id").as("c_id"), col("v").as("cv")),
      s"${name}_vecs", Seq("c_id"), buckets, SaveMode.Overwrite)
    pts.unpersist()
    model.cents.map { case (cid, c) => (cid, c.toSeq) }.toDF("cluster", "centroid")
      .coalesce(1).write.mode(SaveMode.Overwrite).format("parquet")
      .saveAsTable(s"${name}_centroids")
    model.cb.books.zipWithIndex
      .flatMap { case (book, s) => book.zipWithIndex.map { case (c, i) => (s, i, c.toSeq) } }
      .toDF("s", "code", "centroid")
      .coalesce(1).write.mode(SaveMode.Overwrite).format("parquet")
      .saveAsTable(s"${name}_pqbooks")
    Seq((dim, nlist, m, ks, buckets)).toDF("dim", "nlist", "m", "ks", "buckets")
      .write.mode(SaveMode.Overwrite).format("parquet").saveAsTable(s"${name}_meta")
    // build-time stats baseline — driftReport compares appends
    // against it (k rows; one bounded scan of the fresh index)
    listStats(spark, name)
      .coalesce(1).write.mode(SaveMode.Overwrite).format("parquet")
      .saveAsTable(s"${name}_stats")
  }

  /** Stored geometry + codebooks, read BY NAME with the
    * exactly-one-row meta guard (the house stored-index contract).
    */
  private def indexMeta(spark: SparkSession, name: String): (Int, Int, Model) = {
    val rows = spark.table(s"${name}_meta").collect()
    require(rows.length == 1,
      s"${name}_meta must hold exactly one geometry row, got ${rows.length}")
    val meta = rows(0)
    val (dim, nlist) = (meta.getAs[Int]("dim"), meta.getAs[Int]("nlist"))
    val (m, ks) = (meta.getAs[Int]("m"), meta.getAs[Int]("ks"))
    val cents = spark.table(s"${name}_centroids").collect()
      .map(r => (r.getAs[Long]("cluster"), r.getAs[Seq[Double]]("centroid").toArray))
      .sortBy(_._1).toSeq
    val bookRows = spark.table(s"${name}_pqbooks").collect()
      .map(r => ((r.getAs[Int]("s"), r.getAs[Int]("code")),
        r.getAs[Seq[Double]]("centroid").toArray)).toMap
    require(bookRows.size == m * ks,
      s"${name}_pqbooks must hold m·ks = ${m * ks} rows, got ${bookRows.size}")
    val books = (0 until m).map(s => (0 until ks).map(c => bookRows((s, c))))
    (nlist, meta.getAs[Int]("buckets"), Model(cents, Pq.Codebooks(dim, m, ks, books)))
  }

  /** Query a stored IVF-PQ index: probe → dynamic-partition-pruned
    * compressed scan → bucketed exact re-rank. Queries carry
    * (vec_id, embedding); a query id also present in the corpus is
    * excluded as self (the [[Similarity.ivfAgainstIndex]] convention).
    */
  def queryIndex(queries: DataFrame, name: String, nprobe: Int = 8, k: Int = 5,
                 shortlist: Int = 200,
                 literalMax: Int = Similarity.LiteralCodebookMax): DataFrame = {
    val spark = queries.sparkSession
    val (_, _, model) = indexMeta(spark, name)
    require(nprobe >= 1 && nprobe <= model.cents.length,
      s"nprobe must be in [1, ${model.cents.length}], got $nprobe")
    val q = Pq.normalized(queries).select(col("vec_id").as("q_id"), col("v").as("qv"))
    rankAgainst(spark.table(s"${name}_codes"), spark.table(s"${name}_vecs"),
      q, model, nprobe, k, shortlist, literalMax)
  }

  /** Per-list occupancy and mean squared assign-distance of a stored
    * IVF-PQ index — the [[Similarity.ivfListStats]] twin. The exact
    * vectors live in the c_id-bucketed vecs store, so the join back
    * to the slim (c_id, cluster) codes rows is shuffle-free on the
    * stored side by layout; the k-row codebook broadcasts. One row
    * per codebook entry (empty lists show n = 0).
    */
  def listStats(spark: SparkSession, name: String): DataFrame = {
    val centsDf = spark.table(s"${name}_centroids")
    val occupied = spark.table(s"${name}_codes").select(col("c_id"), col("cluster"))
      .join(spark.table(s"${name}_vecs"), "c_id")
      .join(broadcast(centsDf), Seq("cluster"))
      .groupBy(col("cluster"))
      .agg(count(col("c_id")).as("n0"), avg(l2sq(col("cv"), col("centroid"))).as("d0"))
    centsDf.select(col("cluster"))
      .join(occupied, Seq("cluster"), "left")
      .select(col("cluster"), coalesce(col("n0"), lit(0L)).as("n"),
        coalesce(col("d0"), lit(0.0)).as("mean_d2"))
      .orderBy(col("cluster"))
  }

  /** Codebook drift vs the persisted build-time baseline — same
    * observables and threshold rationale as
    * [[Similarity.ivfDriftReport]]: appends quantized by a frozen
    * coarse codebook skew the lists and push the mean assign-distance
    * up as the corpus outgrows the build distribution; for IVF-PQ the
    * residual codebooks rot on exactly the same signal (they were
    * trained on the build-time residual distribution).
    */
  def driftReport(spark: SparkSession, name: String): DataFrame = {
    import spark.implicits._
    def summary(stats: DataFrame): (Long, Double, Double) = {
      val r = stats.agg(
        sum(col("n")).as("n_total"),
        (max(col("n")) / avg(col("n"))).as("skew"),
        (sum(col("n") * col("mean_d2")) / sum(col("n"))).as("mean_d2")).head()
      (r.getLong(0), r.getDouble(1), r.getDouble(2))
    }
    val (nB, skewB, d2B) = summary(spark.table(s"${name}_stats"))
    val (nN, skewN, d2N) = summary(listStats(spark, name))
    val eps = 1e-12
    Seq((nB, nN, skewB, skewN, d2B, d2N,
      d2N / math.max(d2B, eps), skewN / math.max(skewB, eps)))
      .toDF("n_build", "n_now", "skew_build", "skew_now",
        "mean_d2_build", "mean_d2_now", "dist_growth", "skew_growth")
  }

  /** The recluster trigger — [[Similarity.ivfNeedsRecluster]]'s rule
    * (1.5× distance growth OR 2× occupancy-skew growth).
    */
  def needsRecluster(spark: SparkSession, name: String,
                     maxDistGrowth: Double = 1.5, maxSkewGrowth: Double = 2.0): Boolean = {
    val r = driftReport(spark, name).head()
    r.getAs[Double]("dist_growth") > maxDistGrowth ||
      r.getAs[Double]("skew_growth") > maxSkewGrowth
  }

  /** Full retrain-and-rebuild on the CURRENT stored corpus (coarse
    * codebook AND residual books — both were fitted to the build
    * distribution), staged through a side table because the rebuild
    * overwrites the tables it reads. Same deliberate full-rebuild
    * stance as [[Similarity.reclusterIvfIndex]].
    */
  def reclusterIndex(spark: SparkSession, name: String, coarseIters: Int = 2,
                     pqIters: Int = 3,
                     literalMax: Int = Similarity.LiteralCodebookMax): Unit = {
    val rows = spark.table(s"${name}_meta").collect()
    require(rows.length == 1, s"${name}_meta must hold exactly one geometry row")
    val m0 = rows(0)
    val src = s"${name}_recluster_src"
    spark.sql(s"DROP TABLE IF EXISTS $src")
    spark.table(s"${name}_vecs")
      .select(col("c_id").as("vec_id"), col("cv").as("embedding"))
      .write.mode(SaveMode.Overwrite).format("parquet").saveAsTable(src)
    writeIndex(spark.table(src), name, dim = m0.getAs[Int]("dim"),
      nlist = m0.getAs[Int]("nlist"), m = m0.getAs[Int]("m"), ks = m0.getAs[Int]("ks"),
      coarseIters = coarseIters, pqIters = pqIters, buckets = m0.getAs[Int]("buckets"),
      literalMax = literalMax)
    spark.sql(s"DROP TABLE $src")
  }

  /** ONE maintenance step — append the batch, evaluate the drift
    * rule, retrain when it fires ([[Similarity.maintainIvfIndex]]'s
    * loop for the compressed index). Returns true iff a recluster
    * ran.
    */
  def maintainIndex(batch: DataFrame, name: String,
                    maxDistGrowth: Double = 1.5, maxSkewGrowth: Double = 2.0): Boolean = {
    val spark = batch.sparkSession
    appendToIndex(batch, name)
    val fires = needsRecluster(spark, name, maxDistGrowth, maxSkewGrowth)
    if (fires) reclusterIndex(spark, name)
    fires
  }

  /** Rewrite the partitioned codes table through the versioned-
    * location pointer flip ([[graft.sources.Sinks.flipToGeneration]]
    * contract: a concurrent reader always resolves a live table, the
    * previous generation is retained one flip).
    */
  private def rewriteCodes(spark: SparkSession, name: String,
                           transform: DataFrame => DataFrame): Unit = {
    val table = s"${name}_codes"
    val tmp = s"${table}__compact"
    spark.sql(s"DROP TABLE IF EXISTS $tmp")
    val (oldLoc, newLoc) = Sinks.nextGenLocation(spark, table)
    transform(spark.table(table)).repartition(col("cluster"))
      .select(col("c_id"), col("codes"), col("cluster"))
      .write.mode(SaveMode.Overwrite).format("parquet").option("path", newLoc)
      .partitionBy("cluster").saveAsTable(tmp)
    spark.sql(s"ALTER TABLE $table SET LOCATION '$newLoc'")
    spark.sql(s"MSCK REPAIR TABLE $table")
    Sinks.syncPartitionLocations(spark, table)
    Sinks.flipCleanup(spark, tmp, oldLoc)
  }

  /** Compact append fragments: one file per cluster directory again;
    * the vecs store compacts zero-shuffle per bucket.
    */
  def compactIndex(spark: SparkSession, name: String): Unit = {
    val rows = spark.table(s"${name}_meta").collect()
    require(rows.length == 1, s"${name}_meta must hold exactly one geometry row")
    rewriteCodes(spark, name, identity)
    Sinks.compactBucketed(spark, s"${name}_vecs", Seq("c_id"), rows(0).getAs[Int]("buckets"))
  }

  /** RETRACT vectors (takedowns, re-embeds) from both stores — a
    * delete IS a compaction pass with a broadcast anti-join folded
    * in; absent ids are a no-op, so retries are idempotent. Frozen
    * codebooks untouched (retrain = [[reclusterIndex]]).
    */
  def deleteFromIndex(spark: SparkSession, name: String, vecIds: DataFrame): Unit = {
    val rows = spark.table(s"${name}_meta").collect()
    require(rows.length == 1, s"${name}_meta must hold exactly one geometry row")
    val ids = broadcast(vecIds.select(col("vec_id").cast("long").as("c_id")).distinct())
    rewriteCodes(spark, name, df => df.join(ids, Seq("c_id"), "left_anti"))
    Sinks.rewriteBucketed(spark, s"${name}_vecs", Seq("c_id"),
      rows(0).getAs[Int]("buckets"), df => df.join(ids, Seq("c_id"), "left_anti"))
  }

  /** Fold new vectors into a stored IVF-PQ index against the FROZEN
    * codebooks (coarse and PQ — retrain = rebuild via [[writeIndex]],
    * the [[Similarity.appendToIvfIndex]] contract). IDEMPOTENT:
    * already-indexed vec_ids are skipped via an anti-join probing the
    * c_id-bucketed vecs table (stored side shuffle-free by layout).
    * Append cost ∝ batch size, never index size.
    */
  def appendToIndex(newVectors: DataFrame, name: String,
                    literalMax: Int = Similarity.LiteralCodebookMax): Unit = {
    val spark = newVectors.sparkSession
    val (_, buckets, model) = indexMeta(spark, name)
    val fresh = Pq.normalized(newVectors)
      .join(spark.table(s"${name}_vecs"), col("vec_id") === col("c_id"), "left_anti")
      .persist() // feeds the codes insert AND the vecs append
    // insertInto is positional; the partition column sits LAST
    residuals(fresh, model.cents, literalMax)
      .select(col("vec_id").as("c_id"),
        Pq.codesExpr(col("rv"), model.cb).as("codes"), col("cluster"))
      .write.mode(SaveMode.Append).insertInto(s"${name}_codes")
    Sinks.writeBucketed(fresh.select(col("vec_id").as("c_id"), col("v").as("cv")),
      s"${name}_vecs", Seq("c_id"), buckets, SaveMode.Append)
    fresh.unpersist(false)
  }
}
