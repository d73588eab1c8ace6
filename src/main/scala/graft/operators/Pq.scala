package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Product quantization (PQ) — the vector-COMPRESSION leg of the ANN
  * stack (Jégou et al. 2011), the piece that makes 100 TB of
  * embeddings searchable from a fraction of the storage: a d-dim
  * float vector (d·4 bytes) becomes m subspace codes of log2(ks) bits
  * each (m bytes at ks = 256; here m·√ks-ish toy geometry for the
  * test corpus), and queries rank candidates by ASYMMETRIC DISTANCE
  * (ADC): the query computes its m×ks table of subspace distances
  * ONCE, then every candidate scores with m array lookups instead of
  * d multiplies.
  *
  * Spark-first shape: codebooks train with the existing
  * [[KMeans.lloyd]] per subspace (m small jobs over sliced
  * projections); encoding is the literal-codebook
  * [[KMeans.assignExpr]] argmin per subspace — a pure codegen'd
  * projection, no shuffle; the ADC table is a per-QUERY-row array
  * column (m·ks entries, computed once per query by the projection),
  * and candidate scoring is a static chain of m `element_at` lookups.
  * Vectors are L2-normalized first so the ADC ranking tracks the
  * cosine ranking the exact baseline uses (‖a−b‖² = 2 − 2cos on the
  * unit sphere); zero vectors are dropped (no direction to search).
  *
  * Accuracy contract: PQ is lossy BY DESIGN — [[pqRecall]] is the
  * measurement gate (recall@k vs the exact cosine baseline), the same
  * discipline as [[Similarity.annRecall]] for LSH/IVF.
  */
object Pq {

  /** Trained per-subspace codebooks: `books(s)(c)` is centroid `c` of
    * subspace `s` (dim/m doubles). Driver-held and KB-sized by
    * construction (m·ks·dim/m = ks·dim doubles) — the same bounded
    * footprint as a Lloyd centroid set.
    */
  case class Codebooks(dim: Int, m: Int, ks: Int, books: Seq[Seq[Array[Double]]]) {
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    def dsub: Int = dim / m
  }

  private[graft] def normalized(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id").cast("long").as("vec_id"),
        toDoubleArray(col("embedding")).as("v0"))
      .withColumn("nrm", l2norm(col("v0")))
      .filter(col("nrm") > 0)
      .select(col("vec_id"), transform(col("v0"), x => x / col("nrm")).as("v"))

  private def subvec(v: Column, s: Int, dsub: Int): Column =
    slice(v, s * dsub + 1, dsub)

  private def dist2(a: Array[Double], b: Array[Double]): Double = KMeans.dist2(a, b)

  /** Deterministic farthest-point (greedy k-center) seeds over an
    * in-memory sample. First-k-by-id init (fine for oracle-locked
    * Lloyd on generic corpora) collapses when ids correlate with
    * cluster structure: every seed lands in the same few directions
    * and Lloyd cannot un-merge the rest (k-means local minimum,
    * spec-demonstrated). Farthest-point spreads seeds across all
    * directions present in the sample; the Lloyd rounds then refine
    * them.
    */
  private def farthestPointSeeds(sample: Array[(Long, Array[Double])],
                                 ks: Int): KMeans.Centroids = {
    require(sample.nonEmpty, "cannot train a codebook over an empty corpus")
    val seeds = scala.collection.mutable.ArrayBuffer(sample.minBy(_._1))
    val minD = scala.collection.mutable.Map(
      sample.map(p => p._1 -> dist2(p._2, seeds(0)._2)).toSeq: _*)
    while (seeds.length < math.min(ks, sample.length)) {
      val next = sample.maxBy(p => (minD(p._1), -p._1)) // deterministic tie-break
      seeds += next
      sample.foreach(p => minD(p._1) = math.min(minD(p._1), dist2(p._2, next._2)))
    }
    seeds.zipWithIndex.map { case ((_, v), i) => (i.toLong, v) }.toSeq
  }

  /** The bounded deterministic training sample: the `n` lowest-md5(id)
    * prepared vectors, hash-then-id ordered (the house
    * engine/partitioning-stable selector). Hash order means the first
    * 1024 entries of a larger sample are exactly the seed sample a
    * 1024-row collect would have produced.
    */
  private def collectSample(prepared: DataFrame, n: Int): Array[(Long, Array[Double])] =
    prepared
      .withColumn("hk", md5(concat(lit("pq#"), col("id").cast("string"))))
      .orderBy(col("hk"), col("id")).limit(n)
      .select(col("id"), col("v")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

  /** The driver-side Lloyd round, shared with the coarse-quantizer
    * trainer: [[KMeans.localLloydStep]] (distributed-semantics
    * mirror, deterministic chunked parallelism).
    */
  private def localLloydStep(pts: Array[(Long, Array[Double])],
                             cents: KMeans.Centroids): KMeans.Centroids =
    KMeans.localLloydStep(pts, cents)

  /** Train m subspace codebooks of ks centroids each over the
    * L2-normalized corpus: farthest-point seeds + `iters` Lloyd
    * rounds, fitted on a BOUNDED deterministic sample (lowest-md5(id),
    * max(1024, 100·ks) vectors) — the FAISS practice: codebooks carry
    * at most ks·dim doubles of information, so fitting them on
    * ~100 vectors per centroid is statistically equivalent to a
    * full-corpus fit, and at 100 TB it replaces m·iters full-corpus
    * Lloyd passes with ONE bounded top-n collect. A corpus at or
    * below the sample size trains on everything (sampled ≡ full).
    * [[trainOnFull]] keeps the distributed full-corpus rounds, and a
    * spec pins sample-trained vs full-trained recall parity.
    */
  def train(embeddings: DataFrame, dim: Int = 64, m: Int = 8, ks: Int = 64,
            iters: Int = 3): Codebooks =
    trainOn(normalized(embeddings).select(col("vec_id").as("id"), col("v")),
      dim, m, ks, iters)

  /** Sample size per centroid for codebook training — FAISS trains
    * codebooks on ~tens-to-hundreds of points per centroid; 100·ks
    * (floored at 1024) is the deterministic budget here.
    */
  private[graft] val TrainSamplePerCentroid = 100

  /** Codebook training over an already-PREPARED (id, v) frame — the
    * piece [[train]] runs after normalizing, split out so residual
    * IVF-PQ can train on coarse-quantizer residuals (which must NOT
    * be re-normalized: a residual's length IS its information).
    *
    * One Spark job total: the bounded lowest-md5 sample collects
    * once; seeding and the m·iters Lloyd rounds then run driver-side
    * over the in-memory sample (k·dim-bounded state, corpus never
    * re-scanned).
    */
  private[graft] def trainOn(prepared: DataFrame, dim: Int, m: Int, ks: Int,
                             iters: Int): Codebooks = {
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val dsub = dim / m
    val sampleN = math.max(1024, TrainSamplePerCentroid * ks)
    val sample = collectSample(prepared, sampleN)
    require(sample.nonEmpty, "cannot train a codebook over an empty corpus")
    val books = (0 until m).map { s =>
      val sub = sample.map { case (id, v) =>
        (id, java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
      }
      // seeds come from the hash-order head of the same sample — the
      // identical seed set a dedicated 1024-row collect would pick
      var cents = farthestPointSeeds(sub.take(1024), ks)
      for (_ <- 1 to iters) cents = localLloydStep(sub, cents)
      val book = cents.sortBy(_._1).map(_._2)
      // empty clusters drop out of the update (a near-degenerate
      // subspace can collapse below ks): pad with copies of centroid
      // 0 so the flat s·ks + code table indexing stays fixed-geometry
      // — a duplicate at a higher code never wins the lowest-id
      // argmin, so padding is inert for encoding
      book ++ Seq.fill(ks - book.length)(book.head)
    }
    Codebooks(dim, m, ks, books)
  }

  /** The distributed FULL-CORPUS trainer — m subspaces × `iters`
    * Lloyd rounds over every prepared vector ([[KMeans.assignExpr]] +
    * [[KMeans.updateCentroids]], the same slim partial-agg round
    * shape as [[KMeans.lloyd]]). Kept as the parity reference for the
    * sampled default (and the escape hatch if a corpus's direction
    * structure ever defeats the sample); [[trainOn]] is the
    * production path.
    */
  private[graft] def trainOnFull(prepared: DataFrame, dim: Int, m: Int, ks: Int,
                                 iters: Int): Codebooks = {
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val dsub = dim / m
    val pts = prepared
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val books = (0 until m).map { s =>
      val sub = pts.select(col("id"), subvec(col("v"), s, dsub).as("v"))
      var cents = farthestPointSeeds(
        collectSample(sub, 1024).map { case (id, v) => (id, v) }, ks)
      for (_ <- 1 to iters) {
        val (cl, d) = KMeans.assignExpr(col("v"), cents)
        cents = KMeans.updateCentroids(
          sub.select(col("id"), col("v"), cl.as("cluster"), d.as("d")), "v", dsub)
      }
      val book = cents.sortBy(_._1).map(_._2)
      book ++ Seq.fill(ks - book.length)(book.head)
    }
    pts.unpersist()
    Codebooks(dim, m, ks, books)
  }

  /** Encode the corpus: (vec_id, codes) with `codes(s)` = the argmin
    * centroid of subspace s — one codegen'd projection, no shuffle.
    * Codes fit log2(ks) bits; the frame is the compressed index
    * (m ints here vs dim floats raw).
    */
  def encode(embeddings: DataFrame, cb: Codebooks): DataFrame =
    encodeNormalized(normalized(embeddings), cb)

  private def encodeNormalized(pts: DataFrame, cb: Codebooks): DataFrame =
    pts.select(col("vec_id"), codesExpr(col("v"), cb).as("codes"))

  /** The codebook in the native kernels' flat layout:
    * entry s·ks + c = centroid c of subspace s.
    */
  private def flatBooks(cb: Codebooks): Array[Array[Double]] =
    cb.books.flatten.toArray

  /** The m-argmin code array for one vector column — ONE plan node
    * (no shuffle, no state): `codes(s)` is the nearest centroid of
    * subspace s. Native kernel (r21): the previous literal-centroid
    * form built an m·ks-leaf l2sq tree that cost seconds of
    * analyzer + Janino time PER QUERY (driver gaps, re-paid every
    * run); the codebook now rides the expression instance and the
    * argmin is a tight loop with the identical first-min tie rule
    * (parity spec in ExpressionsSpec).
    */
  private[graft] def codesExpr(v: Column, cb: Codebooks): Column =
    org.apache.spark.sql.graftshim.ColumnBridge.column(
      graft.functions.expressions.PqCodes(
        org.apache.spark.sql.graftshim.ColumnBridge.expression(v),
        cb.dsub, cb.ks, flatBooks(cb)))

  /** The per-query ADC lookup table: all m·ks subspace distances of
    * `v` to every codebook centroid, flattened as `s·ks + code`.
    * Computed ONCE per (query[, probed cluster]) row; candidates then
    * score with [[adcScoreExpr]]'s m array lookups. Native kernel
    * (r21) — same collapse and parity story as [[codesExpr]].
    */
  private[graft] def adcTableExpr(v: Column, cb: Codebooks): Column =
    org.apache.spark.sql.graftshim.ColumnBridge.column(
      graft.functions.expressions.PqAdcTable(
        org.apache.spark.sql.graftshim.ColumnBridge.expression(v),
        cb.dsub, cb.ks, flatBooks(cb)))

  /** ADC candidate score = Σ_s qtab[s·ks + codes[s]] — m element_at
    * lookups against the precomputed table, the whole point of PQ.
    */
  private[graft] def adcScoreExpr(qtab: Column, codes: Column, cb: Codebooks): Column =
    (0 until cb.m).map { s =>
      element_at(qtab, lit(s * cb.ks) + element_at(codes, s + 1) + 1)
    }.reduce(_ + _)

  /** ADC top-k over the encoded corpus: the first `nQueries` vec_ids
    * query the rest. Per query row, `qtab` holds all m·ks subspace
    * distances (computed once); per (query, candidate) pair the score
    * is m element_at lookups — the ADC trade that makes scanning a
    * compressed list cheap. Output (q_id, rnk, c_id, adc_fs) with
    * adc_fs = floor(10⁶ · approx ‖q−c‖²), ascending = most similar.
    *
    * The query set is BOUNDED (broadcast nested-loop against the
    * codes, the same declared shape as [[Similarity.bruteTopK]]);
    * at scale the candidate side comes from an IVF probe instead of
    * the full corpus — the scoring expression is unchanged.
    */
  def adcTopK(embeddings: DataFrame, cb: Codebooks, nQueries: Int = 10,
              k: Int = 5): DataFrame = {
    // checkpointed ([[Dedup.minhashLsh]]'s lifetime contract): feeds
    // the codes and the queries
    val pts = normalized(embeddings).localCheckpoint()
    adcRanked(pts, cb, nQueries, k)
      .select(col("q_id"), col("rnk"), col("c_id"), col("adc_fs"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** The ADC candidate ranking over a NORMALIZED checkpointed frame:
    * (q_id, c_id, adc_fs, rnk ≤ limit), unsorted.
    */
  private def adcRanked(pts: DataFrame, cb: Codebooks, nQueries: Int,
                        limit: Int): DataFrame = {
    val codes = encodeNormalized(pts, cb).select(col("vec_id").as("c_id"), col("codes"))
    val q = pts.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
      .withColumn("qtab", adcTableExpr(col("qv"), cb))
      .select(col("q_id"), col("qtab"))
    val score = adcScoreExpr(col("qtab"), col("codes"), cb)
    val byQ = Window.partitionBy(col("q_id")).orderBy(col("adc_fs"), col("c_id"))
    codes.join(broadcast(q), col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("c_id"), floor(lit(1000000.0) * score).as("adc_fs"))
      .withColumn("rnk", row_number().over(byQ).cast("long"))
      .filter(col("rnk") <= limit)
  }

  /** The PRODUCTION ranking path: ADC shortlists `shortlist`
    * candidates per query from the compressed codes, then ONLY the
    * shortlist re-ranks by exact cosine against the full vectors —
    * the standard two-stage PQ pipeline (compressed scan does the
    * corpus-sized work; exact math touches nQueries·shortlist rows).
    * Output (q_id, rnk, c_id, cos_fs), the same schema as
    * [[Similarity.bruteTopK]] — with the planted-corpus spec pinning
    * that a truth-covering shortlist makes the two IDENTICAL.
    */
  def adcTopKReranked(embeddings: DataFrame, cb: Codebooks, nQueries: Int = 10,
                      k: Int = 5, shortlist: Int = 100): DataFrame = {
    require(shortlist >= k, s"shortlist=$shortlist must cover k=$k")
    // checkpointed ([[Dedup.minhashLsh]]'s lifetime contract): feeds
    // the ADC scan, the re-rank vectors and the queries
    val pts = normalized(embeddings).localCheckpoint()
    val cand = adcRanked(pts, cb, nQueries, shortlist).select(col("q_id"), col("c_id"))
    val cv = pts.select(col("vec_id").as("c_id"), col("v").as("cv"))
    val qv = pts.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val byQ = Window.partitionBy(col("q_id")).orderBy(col("cos_fs").desc, col("c_id"))
    // the candidate set is bounded (nQueries · shortlist): broadcast
    // it so the corpus-sized vector frame never shuffles
    cv.join(broadcast(cand), "c_id").join(broadcast(qv), "q_id")
      .select(col("q_id"), col("c_id"),
        floor(lit(1000000.0) * dot(col("qv"), col("cv"))).as("cos_fs"))
      .withColumn("rnk", row_number().over(byQ).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("c_id"), col("cos_fs"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** The PQ measurement gate — recall@k of the PRODUCTION two-stage
    * ranking ([[adcTopKReranked]]) vs the exact cosine baseline
    * ([[Similarity.bruteTopK]]), the same rows>0 ⟺ pass contract as
    * [[Similarity.annRecall]]. Evaluated eagerly (≤1-row verdict) so
    * the pipeline's caches release here. Raw single-stage ADC recall
    * is geometry-bound (~0.3–0.6 on a dense-spectrum corpus at 6-bit
    * codes — measured); the shortlist+re-rank stage is what buys the
    * gated 0.9, which is why it IS the production path.
    *
    * `shortlist` left at the 0-sentinel DERIVES per corpus (r19):
    * max(100, min(10000, n/5)). The 6-bit-code ADC stage's
    * precision@depth is geometry-bound, so a FIXED depth covers a
    * shrinking corpus fraction as the gate corpus grows and recall@k
    * decays below the gate — the r10–r18 fixed 100 measured 0.78 on
    * sf0.1's 2000 vectors vs 0.96 at depth 200 and 1.0 at 400
    * ([[graft.PqOperatingPoint]] is the sweep that documents this;
    * re-run it when re-tuning). The n/5 fraction holds the gate's
    * operating point stable across gate scales; the 10000 cap keeps
    * the broadcast candidate set bounded, and at PRODUCTION scale the
    * shortlist depth is per-IVF-probe, not per-corpus
    * ([[IvfPq.ivfPqTopK]]) — deriving from n here prices the gate,
    * not the cluster plan.
    */
  def pqRecall(embeddings: DataFrame, dim: Int = 64, m: Int = 8, ks: Int = 64,
               nQueries: Int = 10, k: Int = 5, shortlist: Int = 0,
               minRecallFs: Long = 9000L): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val sl = if (shortlist > 0) shortlist
             else math.max(100L, math.min(10000L, embeddings.count() / 5)).toInt
    val cb = train(embeddings, dim, m, ks)
    // persisted: each frame feeds the hit join AND its own count —
    // without the persists the brute and ADC pipelines execute twice
    val brute = Similarity.bruteTopK(embeddings, nQueries, k).select(col("q_id"), col("c_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val approx = adcTopKReranked(embeddings, cb, nQueries, k, sl)
      .select(col("q_id"), col("c_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nHit = approx.join(brute, Seq("q_id", "c_id"), "left_semi").count()
    val nTruth = brute.count()
    brute.unpersist()
    approx.unpersist()
    val recallFs = if (nTruth == 0) 0L else math.floor(10000.0 * nHit / nTruth).toLong
    Seq(("pq", recallFs)).toDF("method", "recall_fs")
      .filter(col("recall_fs") >= minRecallFs)
  }
}
