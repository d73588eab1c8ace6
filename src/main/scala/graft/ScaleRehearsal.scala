package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, IvfPq, Pipeline, Similarity}

/** Scale rehearsal for the dedup/CC paths beyond the driver's sf0.1
  * corpus (TESTDATA.md caps at sf0.1, read-only): synthesizes a
  * document corpus 10–50× the bench scale ENTIRELY AS COLUMN
  * EXPRESSIONS over spark.range (no driver-side loops, no RNG state —
  * content is a pure function of doc_id, so runs are reproducible),
  * with the structures that stress the operators:
  *
  *  - a planted MEGA-CLUSTER (`megaN` identical docs → one LSH bucket
  *    per band, far past maxBucket → the triangle salting path);
  *  - near-dup CLUSTERS of 10 (each member mutates one token of its
  *    cluster base → unigram J ≈ 0.9, bigram J ≈ 0.93 — above both
  *    default verify thresholds);
  *  - a unique long tail.
  *
  * Runs minhash-LSH, ngram-LSH + greedy apply, all three CC variants
  * (min-label, star, exact-dedup-first), and the full curation
  * pipeline over the documents; then the ANN/vector paths (brute /
  * single- vs multi-probe LSH / IVF recall, production-threshold
  * cosine dedup single- vs multi-probe) over a synthetic embedding
  * corpus ([[synthesizeEmbeddings]]). Prints one JSON line of wall
  * times and result volumes plus the expected planted truth, and
  * exits 1 when a volume misses its planted truth (the exact-first CC
  * merge count, the training layout's closed form, the SemDeDup
  * drops). Results land in PERF.md.
  *
  *   tools/run.sh graft.ScaleRehearsal [nDocs] [outBase] [nVecs]
  *
  * nDocs = 0 skips the document phases (fast vector-path iteration).
  */
object ScaleRehearsal {

  /** Deterministic synthetic corpus: docs 0..megaN-1 identical; in
    * each subsequent block of 1000, docs with rank < 10 form a
    * near-dup cluster of the block's base doc; the rest are unique.
    */
  def synthesize(spark: SparkSession, nDocs: Long, megaN: Int = 3000,
                 nTokens: Int = 60, vocab: Int = 20000): DataFrame = {
    val id = col("id")
    val rank = id % 1000
    val isMega = id < megaN
    val isCluster = !isMega && rank < 10
    // content seed: mega docs share one seed; cluster members share
    // their block base's seed; unique docs seed from their own id
    val seed = when(isMega, lit(-1L))
      .when(isCluster, id - rank)
      .otherwise(id)
    val toks = transform(sequence(lit(0), lit(nTokens - 1)), i =>
      concat(lit("w"), pmod(xxhash64(concat_ws("#", seed, i)), lit(vocab))))
    // cluster members (rank 1..9) mutate ONE token at position rank —
    // J_unigram ≈ 59/61, J_bigram ≈ 57/61, both above the 0.84/0.9
    // verify thresholds
    val mutated = zip_with(toks, sequence(lit(0), lit(nTokens - 1)), (t, i) =>
      when(isCluster && rank > 0 && i === rank, concat(lit("u"), id)).otherwise(t))
    spark.range(nDocs).select(
      id.as("doc_id"),
      array_join(mutated, " ").as("text"),
      lit("en").as("lang"),
      concat(lit("src"), pmod(id, lit(2))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Deterministic synthetic EMBEDDING corpus (the ANN/vector-path
    * twin of [[synthesize]]), entirely as column expressions:
    *
    *  - blocks 1–2 (ids 1000–2999) are an identical-vector
    *    MEGA-CLUSTER — one SRP bucket in every table, 2× past the
    *    candidate generator's maxBucket = 1024, so the triangle-salt
    *    path of [[Dedup.cosineLsh]] actually executes (1000 identical
    *    vectors would sit just UNDER the salt threshold and test
    *    nothing);
    *  - in every other 1000-block, ids with rank < 10 form a NEAR-DUP
    *    cluster: base + 0.35·noise ⇒ cos(base, member) ≈ 0.94,
    *    cos(member, member) ≈ 0.89 — above a τ = 0.8 verify;
    *  - the rest are independent uniform vectors: at dim 64 the
    *    background cosine concentrates at 0 ± 0.125, so a τ = 0.8
    *    verify admits essentially zero background pairs while ANN
    *    top-k for unique queries sits at cos ≈ 0.4–0.5 (the shallow
    *    end of the SRP s-curve — the hard recall regime).
    *
    * Components are uniform [-1, 1] from xxhash64 — no RNG state,
    * reproducible, and float-cast so the schema matches the bench
    * embeddings table.
    */
  def synthesizeEmbeddings(spark: SparkSession, nVecs: Long, dim: Int = 64): DataFrame = {
    val id = col("id")
    // NB Column./ is DOUBLE division — use an explicit range test for
    // the mega block rather than a computed block index
    val rank = id % 1000L
    val isMega = id >= 1000L && id < 3000L
    val isCluster = !isMega && rank < 10
    val seed = when(isMega, lit(-1L)).when(isCluster, id - rank).otherwise(id)
    def unif(tag: String, s: org.apache.spark.sql.Column, j: Int) =
      (pmod(xxhash64(concat_ws(tag, s, lit(j))), lit(2000001L)) - lit(1000000L)) / lit(1000000.0)
    val comps = (0 until dim).map { j =>
      (unif("#", seed, j) +
        when(isCluster && rank > 0, unif("n", id, j) * lit(0.35)).otherwise(lit(0.0)))
        .cast("float")
    }
    spark.range(nVecs).select(id.as("vec_id"), array(comps: _*).as("embedding"),
      pmod(id, lit(8L)).cast("int").as("label"))
  }

  def main(args: Array[String]): Unit = {
    val nDocs = args.lift(0).map(_.toLong).getOrElse(500000L)
    val outBase = args.lift(1).getOrElse("tmp/scale_rehearsal")
    val nVecs = args.lift(2).map(_.toLong).getOrElse(100000L)
    val megaN = 3000
    Rehearsals.run("scale", Some(outBase)) { run =>
      val spark = run.spark
      // each phase's result volume: a row count, or for ann_* phases
      // the brute-top-k hits (recall = volume/truth)
      val volumes = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      def volume(phase: String)(body: => Long): Long = {
        val v = run.timed(phase)(body)
        volumes += (phase -> v)
        v
      }

      // nDocs == 0 skips the document phases (fast vector-path iteration)
      val docFields = if (nDocs == 0) Seq.empty else {
        val corpusPath = s"$outBase/docs_$nDocs"
        synthesize(spark, nDocs, megaN).write.mode("overwrite").parquet(corpusPath)
        val docs = spark.read.parquet(corpusPath)
        volume("minhash_lsh")(Dedup.minhashLsh(docs).count())
        volume("ngram_lsh_pairs")(Dedup.ngramLshPairs(docs).count())
        volume("apply_lsh")(Dedup.applyPairs(docs, Dedup.ngramLshPairs(docs)).count())
        volume("cc_converged")(Dedup.ccLabels(docs, Dedup.ngramLshPairs(docs), iters = 50)
          .filter(col("doc_id") =!= col("rep_id")).count())
        volume("cc_star")(Dedup.starCcLabels(docs, Dedup.ngramLshPairs(docs))
          .filter(col("doc_id") =!= col("rep_id")).count())
        // exact-dedup pre-pass: the mega-clique collapses in one groupBy
        // BEFORE pair generation, so the CC graph is cluster-only —
        // volume must still equal expected_cc_merged exactly
        val ccExactFirst = volume("cc_exact_first")(Dedup.ccLabelsExactFirst(docs,
            Dedup.ngramLshPairs(_), (d, p) => Dedup.ccLabels(d, p, iters = 50))
          .filter(col("doc_id") =!= col("rep_id")).count())
        volume("pipeline_curate")(Pipeline.curate(docs).count())

        // ---- composed training layout (r9): curate → chunk → pack ----
        // The synthetic corpus makes the layout self-checking: every doc
        // has EXACTLY 60 tokens, so chunking (32 window / 24 stride)
        // yields exactly ceil(60/24) = 3 chunks and 32+32+12 = 76 chunk
        // tokens per curated doc — rows, token conservation, offset
        // range, bin contiguity, and per-bin fill are all closed-form.
        val prepared = Pipeline.prepareTrainingPieces(docs)
        val chunkRows = volume("prepare_training")(prepared.persist().count())
        val agg = prepared.agg(
          countDistinct(col("doc_id")).as("docs"),
          sum(col("n_chunk_tokens")).as("tok_sum"),
          sum(when(col("bin_offset") < 0 || col("bin_offset") >= 512, 1L)
            .otherwise(0L)).as("bad_offsets")).head()
        val (curatedDocs, tokSum, badOffsets) =
          (agg.getLong(0), agg.getLong(1), agg.getLong(2))
        // fill check: units land in the bin where their first token
        // falls, and a ≤32-token chunk straddles at most one 512
        // boundary — so every NON-final bin of a (split, source) must
        // hold 512±31 starting tokens, and bin ids must be contiguous
        val fills = prepared.groupBy(col("split"), col("source"), col("bin_id"))
          .agg(sum(col("n_chunk_tokens")).as("fill"))
        val withMax = fills.withColumn("max_bin",
          max(col("bin_id")).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("split"), col("source"))))
        val g = withMax.agg(
          sum(when(col("bin_id") === col("max_bin"), col("max_bin") + 1)
            .otherwise(0L)).as("expect_bins"),
          count(lit(1)).as("bins"),
          sum(when(col("bin_id") < col("max_bin") &&
              (col("fill") < 512 - 31 || col("fill") > 512 + 31), 1L)
            .otherwise(0L)).as("bad_fill")).head()
        val (expectBins, bins, badFill) = (g.getLong(0), g.getLong(1), g.getLong(2))
        prepared.unpersist()

        // planted truth the volumes must be consistent with: the mega
        // block spans ids [0, megaN) — ⌈megaN/1000⌉ whole 1000-blocks
        // whose rank<10 docs are mega members, NOT near-dup clusters
        val megaPairs = megaN.toLong * (megaN - 1) / 2
        val nClusters = nDocs / 1000 - (megaN + 999) / 1000
        val clusterDropped = nClusters * 9 // 9 non-base members per cluster
        val expectDropped = clusterDropped + (megaN - 1)
        run.check("cc_exact_first_merged_exactly", ccExactFirst == expectDropped)
        run.check("rows_per_doc_ok", chunkRows == 3 * curatedDocs)
        run.check("tokens_conserved", tokSum == 76 * curatedDocs)
        run.check("bins_contiguous", bins == expectBins)
        run.check("offsets_in_bin", badOffsets == 0L)
        run.check("bins_filled", badFill == 0L)
        Seq("n_docs" -> nDocs, "mega_n" -> megaN, "expected_mega_pairs" -> megaPairs,
          "expected_cc_merged" -> expectDropped,
          "training_checks" -> Seq("chunk_rows" -> chunkRows, "curated_docs" -> curatedDocs,
            "bad_offsets" -> badOffsets, "bins" -> bins, "bad_fill_bins" -> badFill))
      }

      // ---- ANN / vector paths (r8): 20×+ the bench embedding scale ----
      val embPath = s"$outBase/emb_$nVecs"
      synthesizeEmbeddings(spark, nVecs).write.mode("overwrite").parquet(embPath)
      val emb = spark.read.parquet(embPath)
      // ground truth once, driver-side (bounded: 50 queries × k=10) so
      // recall joins don't ride inside the timed phases
      val truth = Similarity.bruteTopK(emb, nQueries = 50, k = 10)
        .select(col("q_id"), col("c_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      def hits(df: DataFrame): Long = df.select(col("q_id"), col("c_id")).collect()
        .count(r => truth((r.getLong(0), r.getLong(1))))
      // volume of cosine_* phases = verified pair count
      volume("ann_brute")(Similarity.bruteTopK(emb, nQueries = 50, k = 10).count())
      volume("ann_lsh_single")(hits(
        Similarity.lshTopK(emb, dim = 64, planes = 6, tables = 8, nQueries = 50, k = 10)))
      // the r8 trade at scale: HALF the tables, query-directed probes
      volume("ann_lsh_probed")(hits(
        Similarity.lshTopK(emb, dim = 64, planes = 6, tables = 4, nQueries = 50, k = 10,
          probes = 4)))
      volume("ann_ivf")(hits(
        Similarity.ivfTopK(emb, dim = 64, nlist = 32, nprobe = 8, nQueries = 50, k = 10)))
      // stored IVF: pay quantization at WRITE time, then query with
      // DPP-pruned list reads — same geometry as ann_ivf, so stored
      // hits must EQUAL ann_ivf's (frozen codebook = same centroids)
      volume("ivf_index_build") {
        Similarity.writeIvfIndex(emb, "ivfidx_rehearsal", nlist = 32)
        spark.table("ivfidx_rehearsal_lists").count()
      }
      volume("ivf_index_query")(hits(Similarity.ivfAgainstIndex(
        emb.filter(col("vec_id") < 50), "ivfidx_rehearsal", nprobe = 8, k = 10)))
      // production-geometry stored IVF: nlist = 4√n (the FAISS rule via
      // suggestIvfGeometry) exceeds the literal-codebook range at any
      // rehearsal scale, so these phases exercise the BROADCAST
      // build/probe path — the one a 10⁶+-vector corpus must take
      volume("ivf_largek_build") {
        val (nl, _) = Similarity.suggestIvfGeometry(nVecs)
        Similarity.writeIvfIndex(emb, "ivfidx_largek", nlist = nl)
        spark.table("ivfidx_largek_lists").count()
      }
      volume("ivf_largek_query") {
        val (_, np) = Similarity.suggestIvfGeometry(nVecs)
        hits(Similarity.ivfAgainstIndex(
          emb.filter(col("vec_id") < 50), "ivfidx_largek", nprobe = np, k = 10))
      }
      // IVF-PQ (r11): same probe geometry as ann_ivf, but the scan
      // side holds 6-bit residual codes instead of 64 doubles and the
      // exact re-rank confines full-vector reads to the shortlist —
      // hits measure probe+shortlist loss only (scores are exact by
      // construction); ivfpq_checks below records the realized
      // compression of the stored scan side. This corpus is the
      // ADVERSARIAL PQ regime (true neighbors at cos ≈ 0.4–0.5 over a
      // uniform background, so residual-code noise competes with the
      // signal): the two shortlist points show the knob — ~2% of the
      // probed volume recovers ~93% of ann_ivf's probe ceiling, and
      // widening the shortlist costs nothing measurable because the
      // scan (not the re-rank) dominates. m = 16 was measured 7×
      // slower for no more recall than the wide shortlist — the
      // shortlist, not code width, is the recall knob here.
      volume("ann_ivfpq")(hits(IvfPq.ivfPqTopK(emb, dim = 64, nlist = 32, nprobe = 8,
        nQueries = 50, k = 10, shortlist = 200)))
      volume("ann_ivfpq_wide")(hits(IvfPq.ivfPqTopK(emb, dim = 64, nlist = 32, nprobe = 8,
        nQueries = 50, k = 10, shortlist = 2000)))
      volume("ivfpq_index_build") {
        IvfPq.writeIndex(emb, "ivfpqidx_rehearsal", nlist = 32)
        spark.table("ivfpqidx_rehearsal_codes").count()
      }
      volume("ivfpq_index_query")(hits(IvfPq.queryIndex(
        emb.filter(col("vec_id") < 50), "ivfpqidx_rehearsal", nprobe = 8, k = 10,
        shortlist = 2000)))
      // production-threshold vector dedup (τ = 0.8): geometry DERIVED
      // per scale via suggestSrpGeometry — planes ≈ log2(n) bounds
      // each table's background admission at ≈ n/2 candidates. This
      // lesson has now been paid for TWICE: r8's first run took an
      // sf0.1-coupled 8-plane geometry to n = 10⁵ (2⁻⁸ of 5·10⁹
      // pairs — disk full), and the r9 1M run took r8's hand-derived
      // 17-plane geometry to n = 10⁶ (2⁻¹⁷ of 5·10¹¹ pairs ≈ 3.8M per
      // table × 8 tables × two-sided probing — disk full again).
      // Hand-coupled geometry rots at the next scale-up; the sizing
      // function is the fix, and at n = 10⁵ it reproduces r8's
      // hand-derived 17 planes / 16 single-probe tables exactly.
      // Recall at the planted cos ≈ 0.94 is bought with tables, and
      // multi-probe pays most here: the probed geometry clears the
      // same 0.9 model with a fraction of the single-probe tables
      // (= banded index state), trading candidate-join width.
      volume("cosine_lsh_single") {
        val (pl, _, _) = Similarity.suggestSrpGeometry(nVecs, 0.94)
        val singleTables = (1 to 64)
          .find(t => Similarity.srpCollisionProb(0.94, pl, t) >= 0.9).getOrElse(64)
        System.err.println(s"[scale] cosine geometry: $pl planes, " +
          s"single $singleTables tables")
        Dedup.cosineLsh(emb, dim = 64, planes = pl, tables = singleTables,
          thresholdFs = 8000L, probes = 1).count()
      }
      volume("cosine_lsh_probed") {
        val (pl, tb, pr) = Similarity.suggestSrpGeometry(nVecs, 0.94)
        System.err.println(s"[scale] cosine geometry probed: $pl planes, $tb tables, " +
          s"$pr probes")
        Dedup.cosineLsh(emb, dim = 64, planes = pl, tables = tb,
          thresholdFs = 8000L, probes = pr).count()
      }

      // ---- SemDeDup at the DERIVED operating point (r11): k = 0
      // sentinel ⇒ 4√n clusters (past literalMax at this scale, so the
      // BROADCAST codebook path trains and assigns), τ = 0.8. The gate
      // pins k = 10 only for oracle tractability; this phase evidences
      // the Σ width² + quantizer balance at the default users get.
      // Closed-form truths: the identical-vector mega block must drop
      // ENTIRELY for its minimum id (identical vectors always share a
      // cluster — no approximation), background uniform vectors at
      // dim 64 admit zero τ = 0.8 pairs, and the 10-member near-dup
      // groups recover up to the documented cluster-boundary miss.
      val sem = Dedup.semanticDedup(emb, thresholdFs = 8000L)
      volume("semantic_dedup_derived_k")(
        sem.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          .filter(col("kept") === 0L).count())
      val vid = col("vec_id")
      val isMegaV = vid >= 1000L && vid < 3000L
      val isClusterV = !isMegaV && vid % 1000L < 10
      val a = sem.agg(
        sum(when(isMegaV && col("kept") === 0L && col("drop_for") === 1000L, 1L)
          .otherwise(0L)).as("mega_drop"),
        sum(when(isMegaV && col("kept") === 1L, 1L).otherwise(0L)).as("mega_kept"),
        sum(when(isClusterV && col("kept") === 0L, 1L).otherwise(0L)).as("cl_drop"),
        sum(when(!isMegaV && !isClusterV && col("kept") === 0L, 1L).otherwise(0L))
          .as("bg_drop")).head()
      sem.unpersist()
      val (megaDrop, megaKept, clDrop, bgDrop) =
        (a.getLong(0), a.getLong(1), a.getLong(2), a.getLong(3))
      val numBlocks = nVecs / 1000
      val megaCount = math.max(0L, math.min(nVecs, 3000L) - 1000L)
      val megaBlocks = (megaCount + 999) / 1000
      val expectCl = (numBlocks - megaBlocks) * 9
      run.check("mega_ok", megaDrop == megaCount - 1 && megaKept == 1)
      run.check("cluster_recovery_ok", clDrop >= expectCl * 8 / 10 && clDrop <= expectCl)
      run.check("background_ok", bgDrop == 0L)

      // the IVF-PQ compression receipt: bytes on disk of the compressed
      // scan side vs the exact vector store for the SAME corpus — the
      // ratio a 100 TB deployment multiplies its hot-tier budget by
      def dirBytes(table: String): Long = {
        def walk(f: java.io.File): Long =
          if (f.isFile) f.length
          else Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).map(walk).sum
        walk(new java.io.File(spark.sessionState.catalog.getTableMetadata(
          spark.sessionState.sqlParser.parseTableIdentifier(table)).location))
      }
      val cb = dirBytes("ivfpqidx_rehearsal_codes")
      val vb = dirBytes("ivfpqidx_rehearsal_vecs")

      // vector-corpus planted truth: blocks 1–2 are the identical-vector
      // mega-cluster; every other block contributes a 10-member cluster
      docFields ++ Seq("n_vecs" -> nVecs, "expected_vec_mega_pairs" -> 2000L * 1999 / 2,
        "expected_vec_cluster_pairs" -> (nVecs / 1000 - 2) * 45, "ann_truth" -> truth.size,
        "semantic_checks" -> Seq("derived_k" -> Similarity.suggestIvfGeometry(nVecs)._1,
          "mega_dropped_for_min" -> megaDrop, "cluster_dropped" -> clDrop,
          "cluster_expected" -> expectCl, "background_dropped" -> bgDrop),
        "ivfpq_checks" -> Seq("codes_bytes" -> cb, "vecs_bytes" -> vb,
          "compression_x" -> vb.toDouble / math.max(1L, cb)),
        "volumes" -> volumes.toSeq)
    }
  }
}
