package graft

import graft.operators.Pipeline

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("curate drops exact dups, near dups, and low-quality docs; tags survivors with a split") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val near = base.replace("upsilon", "omega") // 1 edit in 20 tokens
    val junk = "spam spam spam spam spam spam"
    val docs = Seq(
      (1L, base, "en", "src0", base.length.toLong),
      (2L, base, "en", "src0", base.length.toLong), // exact dup of 1
      (3L, near, "en", "src1", near.length.toLong), // near dup of 1
      (4L, junk, "en", "src1", junk.length.toLong), // low quality
      (5L, "one two three four five six seven eight nine ten", "en", "src2", 48L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")

    val out = Pipeline.curate(docs, minQualityFs = 6000L, lshThresholdFs = 5000L).collect()
    val ids = out.map(_.getAs[Long]("doc_id")).toSeq
    assert(ids == Seq(1L, 5L),
      s"2 (exact dup), 3 (near dup), 4 (quality) must drop; got $ids")
    assert(out.forall(r => Set("train", "val", "test")(r.getAs[String]("split"))))
    assert(out.forall(_.getAs[Long]("score_fs") >= 6000L))
    assert(out.forall(_.getAs[Long]("rep_fs") <= 9000L))
  }

  test("curated corpus lands bucketed: doc_id joins skip the bucketed-side shuffle end-to-end") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sfDir)
    Pipeline.curateToBucketed(docs, "curated_ref", buckets = 8)
    val ref = spark.table("curated_ref")
    // full columns survive — this table IS a usable ngramLshAgainst
    // reference (text included), not just a provenance report
    assert(ref.columns.contains("text") && ref.columns.contains("split"))
    // survivor parity with the reporting variant
    val bucketIds = ref.select("doc_id").collect().map(_.getLong(0)).toSet
    val curateIds = Pipeline.curate(docs).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(bucketIds == curateIds, "bucketed landing must keep exactly the curated survivors")
    // E2E consumer: an incoming id-keyed frame joins the reference on
    // doc_id — only the INCOMING side may shuffle. Disable broadcast
    // so the test exercises the shuffle-join shape a corpus-sized
    // incoming batch takes at 100 TB (a broadcastable incoming would
    // trivially show zero exchanges)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val incoming = docs.select(col("doc_id"), col("n_chars").as("incoming_n"))
      val joined = ref.join(incoming, "doc_id")
      val exchanges = joined.queryExecution.executedPlan.toString
        .linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(exchanges == 1,
        s"exactly one Exchange (the incoming side) expected, got $exchanges")
      assert(joined.count() == bucketIds.size)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("prepareTraining: curated docs chunk into provenance-tagged, budget-packed sequences") {
    import org.apache.spark.sql.functions.{col, countDistinct, max, sum}
    val docs = Tables.documents(spark, sfDir)
    val out = Pipeline.prepareTrainingPieces(docs, binTokens = 64)
    out.persist()
    try {
      // exactly the curated survivors, all their chunks
      val curatedIds = Pipeline.curate(docs).select("doc_id").collect().map(_.getLong(0)).toSet
      val outIds = out.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(outIds == curatedIds, "chunk rows must cover exactly the curated survivors")
      // bins never mix split or source: recompute every chunk's
      // expected (bin, offset) DRIVER-SIDE from a cumulative sum over
      // its (split, source) stream in (doc_id, chunk_idx) order —
      // pack_group offsets CHAIN (r9), so grouping is invisible here,
      // but if the packer's window dropped split or source, offsets
      // would continue across that boundary and this exact compare
      // would fail
      val rows = out.select("split", "source", "doc_id", "chunk_idx",
        "n_chunk_tokens", "bin_id", "bin_offset").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6)))
      rows.groupBy { case (sp, src, _, _, _, _, _) => (sp, src) }.foreach {
        case (key, grp) =>
          var cum = 0L
          grp.sortBy { case (_, _, d, c, _, _, _) => (d, c) }.foreach {
            case (_, _, d, c, n, binId, binOff) =>
              assert(binId == cum / 64 && binOff == cum % 64,
                s"chunk ($d,$c) in stream $key: got ($binId,$binOff), expected " +
                  s"(${cum / 64},${cum % 64})")
              cum += n
          }
      }
      // bin totals respect budget + one straddling chunk (chunk ≤ 32)
      val overflow = out.groupBy(col("split"), col("source"), col("bin_id"))
        .agg(sum(col("n_chunk_tokens")).as("t")).filter(col("t") > 64L + 31L).count()
      assert(overflow == 0, "bin totals bounded by budget + straddling chunk")
      // offsets live inside the budget
      assert(out.filter(col("bin_offset") < 0 || col("bin_offset") >= 64L).count() == 0)
    } finally out.unpersist()
  }

  test("curate's repetition gate drops degenerate high-dup-bigram docs that pass quality") {
    // high unique-token ratio + stopwords keep quality up, but the
    // doc is one phrase looped — the repetition signal catches it
    val loop = ("the quick brown fox jumps over " * 8).trim
    val clean = "the quick brown fox jumps over a lazy dog near the old river bank today"
    val docs = Seq(
      (1L, clean, "en", "src0", clean.length.toLong),
      (2L, loop, "en", "src0", loop.length.toLong)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val strict = Pipeline.curate(docs, minQualityFs = 0L, maxRepetitionFs = 5000L)
      .collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(strict == Seq(1L), s"looped doc must fail the repetition gate, got $strict")
    val lax = Pipeline.curate(docs, minQualityFs = 0L, maxRepetitionFs = 10000L)
      .collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(lax == Seq(1L, 2L), "gate at 10000 admits everything")
  }

  test("maintain-ivf job mode: batched appends trigger exactly ONE recluster when drift crosses the rule") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val dim = 16
    val name = "maintidx"
    Seq(s"${name}_lists", s"${name}_ids", s"${name}_meta", s"${name}_centroids",
      s"${name}_stats").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val base = ScaleRehearsal.synthesizeEmbeddings(spark, 1500L, dim)
      .select(col("vec_id"), col("embedding"))
    Similarity.writeIvfIndex(base, name, dim = dim, nlist = 16, iters = 2, buckets = 8)

    // three ingest batches through the JOB path: in-distribution,
    // planted drift (+2.0 on every component — far outside the build
    // cube), in-distribution again after the rule has re-baselined
    def batch(offset: Long, shift: Float): String = {
      val dir = java.nio.file.Files.createTempDirectory(s"maint_batch_$offset").toString
      ScaleRehearsal.synthesizeEmbeddings(spark, 300L, dim)
        .select((col("vec_id") + offset).as("vec_id"),
          transform(col("embedding"), x => (x + lit(shift)).cast("float")).as("embedding"))
        .write.mode("overwrite").parquet(dir)
      dir
    }
    val fired = Seq(
      PipelineJob.runMaintain(spark, "maintain-ivf", batch(1000000L, 0.0f), name),
      PipelineJob.runMaintain(spark, "maintain-ivf", batch(2000000L, 2.0f), name),
      PipelineJob.runMaintain(spark, "maintain-ivf", batch(3000000L, 0.0f), name))
    assert(fired == Seq(false, true, false),
      s"exactly the planted-drift batch must recluster, got $fired")
    // every batch is in the index (append survived recluster cycles),
    // and the post-recluster baseline reflects the mixed corpus (rule quiet)
    assert(spark.table(s"${name}_lists").count() == 1500L + 3 * 300L,
      "all appended batches must survive the maintenance cycles")
    assert(!Similarity.ivfNeedsRecluster(spark, name),
      "the re-baselined rule must be quiet after in-distribution appends")
    // the maintained index still answers: a shifted query must find
    // shifted neighbors (only indexable post-recluster centroids cover
    // that region well)
    val q = ScaleRehearsal.synthesizeEmbeddings(spark, 5L, dim)
      .select((col("vec_id") + 9000000L).as("vec_id"),
        transform(col("embedding"), x => (x + lit(2.0f)).cast("float")).as("embedding"))
    val res = Similarity.ivfAgainstIndex(q, name, nprobe = 4, k = 3).collect()
    assert(res.length == 15, s"5 shifted queries x k=3 results, got ${res.length}")
    assert(res.forall(_.getAs[Long]("c_id") >= 2000000L),
      "shifted queries must rank shifted-batch vectors as neighbors")
  }

  test("curate span trim: shared boilerplate drops from survivor text, off by default") {
    import org.apache.spark.sql.functions.col
    val block = (1 to 20).map(i => s"k$i").mkString(" ")
    // A and B share the 20-token block at different offsets but are
    // FAR from near-dups (30 unique tokens each) — doc-level dedup
    // keeps both; only the span trim can touch the block
    val d = Seq(
      (1L, ((1 to 30).map(i => s"a$i").mkString(" ")) + " " + block, "en", "web"),
      (2L, block + " " + ((1 to 30).map(i => s"b$i").mkString(" ")), "en", "web"),
      (3L, (1 to 25).map(i => s"c$i").mkString(" "), "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
    val trimmed = Pipeline.curateFull(d, minQualityFs = 0L, maxRepetitionFs = 10000L,
      spanTrimTokens = 16)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("text"), r.getAs[Long]("span_dup_tokens"))).toMap
    assert(trimmed.keySet == Set(1L, 2L, 3L), "no doc-level dedup applies here")
    assert(trimmed(1L)._2 == 20L && !trimmed(1L)._1.contains("k1"),
      s"doc 1's block must drop, got ${trimmed(1L)}")
    assert(trimmed(2L)._2 == 20L && trimmed(2L)._1.startsWith("b1 "),
      s"doc 2's leading block must drop, got ${trimmed(2L)}")
    assert(trimmed(3L)._2 == 0L && trimmed(3L)._1.startsWith("c1 "),
      s"unique doc untouched, got ${trimmed(3L)}")
    // default off: text byte-identical, no provenance column
    val off = Pipeline.curateFull(d, minQualityFs = 0L, maxRepetitionFs = 10000L)
    assert(!off.columns.contains("span_dup_tokens"))
    assert(off.filter(col("doc_id") === 1L).collect()(0).getAs[String]("text")
      .endsWith(" k20"))
  }

  test("maintain-cohort job mode: out-of-order history fires exactly ONE rebuild that reconciles") {
    import graft.operators.Cohort
    val day0 = 86400L * 24000
    def at(d: Int) = day0 + d * 86400L + 100L
    def ev(rows: Seq[(Long, Long)]) =
      rows.map { case (u, s) => (u, "view", new java.sql.Timestamp(s * 1000L)) }
        .toDF("user_id", "event_type", "ts")
    def writeDir(rows: Seq[(Long, Long)], tag: String, asEvents: Boolean = false): String = {
      val dir = java.nio.file.Files.createTempDirectory(s"cohm_$tag").toString
      ev(rows).write.mode("overwrite")
        .parquet(if (asEvents) s"$dir/events.parquet" else dir)
      dir
    }
    val seed = Seq((1L, at(2)), (2L, at(2)))
    val b1 = Seq((1L, at(3)), (3L, at(3))) // in-order: new user + returning
    val b2 = Seq((1L, at(0))) // u1's REAL first day surfaces late
    val b3 = Seq((2L, at(4))) // in-order again after the rebuild
    val (h1, h2, h3) = (seed ++ b1, seed ++ b1 ++ b2, seed ++ b1 ++ b2 ++ b3)
    Cohort.writeMatrixTable(spark, "cohm", ev(seed), buckets = 2)
    val fired = Seq(
      PipelineJob.runMaintain(spark, "maintain-cohort", writeDir(b1, "b1"), "cohm",
        Some(writeDir(h1, "h1"))),
      PipelineJob.runMaintain(spark, "maintain-cohort", writeDir(b2, "b2"), "cohm",
        Some(writeDir(h2, "h2"))),
      PipelineJob.runMaintain(spark, "maintain-cohort", writeDir(b3, "b3"), "cohm",
        Some(writeDir(h3, "h3"))))
    assert(fired == Seq(false, true, false),
      s"exactly the out-of-order batch must rebuild, got $fired")
    val stored = Cohort.matrixFromThetaTable(spark, "cohm").collect().map(_.toSeq).toSeq
    val direct = Cohort.matrixDaily(spark, writeDir(h3, "direct", asEvents = true))
      .collect().map(_.toSeq).toSeq
    assert(stored == direct,
      "after the maintenance loop the stored triangle must equal the direct one " +
        "over the full history (rebuild reconciled, later appends stayed in-order)")
  }

  test("maintain-lsh: append folds in, compaction fires only past the file threshold, idempotent") {
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sfDir)
    Seq("maintlsh_bands", "maintlsh_grams", "maintlsh_meta")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    Dedup.writeNgramLshIndex(docs.filter(col("doc_id") % 2 === 0), "maintlsh", buckets = 4)
    val b1 = docs.filter(col("doc_id") % 4 === 1)
    val b3 = docs.filter(col("doc_id") % 4 === 3)
    // generous threshold: append lands, compaction stays quiet
    assert(!Dedup.maintainNgramLshIndex(b1, "maintlsh", maxFilesPerBucket = 1000),
      "compaction must not fire under the threshold")
    val gramsAfterB1 = spark.table("maintlsh_grams").count()
    val filesAfterB1 = spark.table("maintlsh_bands").inputFiles.length
    // threshold 1: the accumulated per-bucket files cross it, one
    // zero-shuffle rewrite reclaims them
    assert(Dedup.maintainNgramLshIndex(b3, "maintlsh", maxFilesPerBucket = 1),
      "compaction must fire past the threshold")
    assert(spark.table("maintlsh_bands").inputFiles.length <= filesAfterB1,
      "the compaction pass must reclaim the per-append file accumulation")
    assert(spark.table("maintlsh_grams").count() > gramsAfterB1,
      "the batch must be folded in before the compaction check")
    // idempotence rides the append path: re-running the same batch
    // adds nothing
    val grams = spark.table("maintlsh_grams").count()
    Dedup.maintainNgramLshIndex(b3, "maintlsh", maxFilesPerBucket = 1000)
    assert(spark.table("maintlsh_grams").count() == grams,
      "a retried batch must not duplicate index rows")
  }

  test("sketch-ingest job mode: batched appends equal the one-shot sketches; quantile replay no-ops") {
    import graft.operators.Sketches
    import org.apache.spark.sql.functions.{col, date_trunc, unix_timestamp}
    Seq("tel_users_sketches", "tel_users_meta", "tel_values_sketches", "tel_values_meta",
      "tel_funnel_sketches", "tel_funnel_meta")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val ev = Tables.events(spark, sfDir)
    val base = java.nio.file.Files.createTempDirectory("graft_telemetry").toString
    ev.filter(col("event_id") % 2 === 0).write.parquet(s"$base/b0")
    ev.filter(col("event_id") % 2 === 1).write.parquet(s"$base/b1")
    PipelineJob.runSketchIngest(spark, s"$base/b0", "tel", batchId = 0L)
    PipelineJob.runSketchIngest(spark, s"$base/b1", "tel", batchId = 1L)
    // stored estimates equal the one-shot sketches over the full table
    val stored = Sketches.estimateSketchTable(spark, "tel_users").collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("d")) -> r.getAs[Long]("n_distinct"))
      .toMap
    val direct = Sketches.distinctByGroup(
      ev.withColumn("d", unix_timestamp(date_trunc("day", col("ts"))))
        .select(col("event_type"), col("d"), col("user_id")),
      Seq("event_type", "d"), "user_id").collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("d")) -> r.getAs[Long]("n_distinct"))
      .toMap
    assert(stored == direct, "batched sketch ingest must reach the one-shot estimates")
    def p50s = Sketches.quantilesFromTable(spark, "tel_values", Seq(0.5)).collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Double]("p50")).toMap
    val afterB1 = p50s
    // the funnel store answers the overlap question from sketches
    // alone, matching the one-pass direct overlap at gate scale
    def funnelByDay = Sketches
      .overlapFromThetaTable(spark, "tel_funnel", "event_type", "click", "purchase", Seq("d"))
      .collect().map(r => r.getAs[Long]("d") ->
        ((r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
          r.getAs[Long]("n_both"), r.getAs[Long]("n_a_only")))).toMap
    val storedFunnel = funnelByDay
    val directFunnel = Sketches.setOverlapDaily(spark, sfDir).collect()
      .map(r => r.getAs[Long]("d") ->
        ((r.getAs[Long]("n_click"), r.getAs[Long]("n_purchase"),
          r.getAs[Long]("n_both"), r.getAs[Long]("n_click_only")))).toMap
    assert(storedFunnel == directFunnel,
      "the CLI-ingested funnel store must reach the direct one-pass overlap")
    // replayed batch 1 (same id): quantile summaries must not move,
    // and the theta funnel is replay-free by idempotence
    PipelineJob.runSketchIngest(spark, s"$base/b1", "tel", batchId = 1L)
    assert(p50s == afterB1, "a replayed batch id must no-op on the value summaries")
    assert(funnelByDay == storedFunnel, "a replayed batch must not move the funnel")
    Seq("tel_users_sketches", "tel_users_meta", "tel_values_sketches", "tel_values_meta",
      "tel_funnel_sketches", "tel_funnel_meta")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("ingest job mode: composed crawl step equals the hand-composed sequence, second run idempotent") {
    import org.apache.spark.sql.SaveMode
    import org.apache.spark.sql.functions.col
    import graft.operators.{Dedup, ExactIndex, Snapshot}
    import graft.sources.Sinks
    val longText = (1 to 60).map(i => s"w$i").mkString(" ")
    val corpus = Seq(
      (0L, "alpha beta gamma delta"),
      (1L, "epsilon zeta eta theta"),
      (2L, "iota kappa lambda mu"),
      (3L, longText),
      (4L, "nu xi omicron pi"),
      (5L, "rho sigma tau upsilon")).toDF("doc_id", "text")
    val tables = Seq("corpus", "exact_digests", "exact_bloom", "lsh_bands", "lsh_grams", "lsh_meta")
    for (p <- Seq("ingA", "ingB")) {
      tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${p}_$t"))
      Sinks.writeBucketed(corpus, s"${p}_corpus", "doc_id", 4)
      ExactIndex.write(corpus, s"${p}_exact", buckets = 4)
      Dedup.writeNgramLshIndex(corpus, s"${p}_lsh", buckets = 4)
    }
    // the crawl batch: one unchanged re-crawl, one changed re-crawl,
    // one exact dup under a new id, one near-dup under a new id (last
    // word of 60 edited: 2-gram jaccard 58/60 ≈ 0.967, above the
    // default 0.9 gate), two genuinely new docs
    val batch = Seq(
      (0L, "alpha beta gamma delta"),                  // unchanged
      (1L, "phi chi psi omega"),                       // changed (reported, not applied)
      (100L, "iota kappa lambda mu"),                  // exact dup of doc 2
      (101L, longText.replace("w60", "w60x")),         // near-dup of doc 3
      (102L, "one two three four"),                    // new
      (103L, "five six seven eight")).toDF("doc_id", "text") // new
    val dir = java.nio.file.Files.createTempDirectory("ingest_batch").toString
    batch.write.mode("overwrite").parquet(dir)

    // hand-composed sequence on the ingB twin
    val batchB = spark.read.parquet(dir)
    val churn = Snapshot.churn(spark.table("ingB_corpus"), batchB)
      .filter(col("change") =!= "removed")
    val added = batchB.join(churn.filter(col("change") === "added").select("doc_id"),
      Seq("doc_id"), "left_semi")
    val novel = added.join(
      ExactIndex.flagAgainstIndex(added, "ingB_exact")
        .filter(col("is_known")).select("doc_id"), Seq("doc_id"), "left_anti")
    val nearIds = Dedup.ngramLshAgainstIndex(novel, "ingB_lsh")
      .select(col("id_in").as("doc_id")).distinct()
    val accepted = novel.join(nearIds, Seq("doc_id"), "left_anti").localCheckpoint()
    ExactIndex.append(accepted, "ingB_exact")
    val firedB = Dedup.maintainNgramLshIndex(accepted, "ingB_lsh")
    Sinks.writeBucketed(accepted.select(col("doc_id"), col("text")), "ingB_corpus",
      "doc_id", 4, SaveMode.Append)

    // the composed job path on ingA
    val r1 = PipelineJob.runIngest(spark, dir, "ingA")
    assert(r1 == Pipeline.IngestReport(6, 1, 1, 4, 0, 1, 1, 2, firedB),
      s"first ingest must classify every batch row and compact iff the hand-composed " +
        s"rule did (firedB=$firedB), got $r1")
    // table-for-table parity with the hand-composed sequence
    def rows(t: String) = spark.table(t).collect().map(_.toSeq).toSet
    assert(rows("ingA_corpus") == rows("ingB_corpus"),
      "composed ingest must land exactly the hand-composed corpus")
    assert(rows("ingA_exact_digests") == rows("ingB_exact_digests"),
      "composed ingest must land exactly the hand-composed digests")
    assert(spark.table("ingA_lsh_grams").select("doc_id").collect().map(_.getLong(0)).toSet ==
      spark.table("ingB_lsh_grams").select("doc_id").collect().map(_.getLong(0)).toSet,
      "composed ingest must index exactly the hand-composed doc set")
    assert(spark.table("ingA_corpus").collect().map(_.getLong(0)).toSet ==
      Set(0L, 1L, 2L, 3L, 4L, 5L, 102L, 103L),
      "survivors = original corpus + the two genuinely-new docs")

    // second run of the SAME batch: everything already handled
    val r2 = PipelineJob.runIngest(spark, dir, "ingA")
    assert(r2 == Pipeline.IngestReport(6, 3, 1, 2, 0, 1, 1, 0, false),
      s"re-ingest must accept nothing, got $r2")
    assert(rows("ingA_corpus") == rows("ingB_corpus"),
      "re-ingest must not change the corpus")
    assert(spark.table("ingA_lsh_grams").count() == spark.table("ingB_lsh_grams").count(),
      "re-ingest must not grow the LSH index")
    for (p <- Seq("ingA", "ingB"); t <- tables)
      spark.sql(s"DROP TABLE IF EXISTS ${p}_$t")
  }

  test("vector-ingest job mode: composed step equals the hand-composed sequence, replay idempotent") {
    import org.apache.spark.sql.functions.{array_join, col, transform => htransform}
    import graft.operators.{ExactIndex, IvfPq}
    val tables = Seq("vecs", "codes", "centroids", "pqbooks", "meta", "stats",
      "vexact_digests", "vexact_bloom")
    for (p <- Seq("vecA", "vecB"); t <- tables)
      spark.sql(s"DROP TABLE IF EXISTS ${p}_$t")
    val emb = Tables.embeddings(spark, sfDir)
    val seed = emb.filter(col("vec_id") < 400).select("vec_id", "embedding")
    def vtxt = array_join(htransform(col("embedding"), x => x.cast("string")), ",")
    Pipeline.initVectorIngest(seed, "vecA", nlist = 8, m = 8, ks = 16, buckets = 8)
    IvfPq.writeIndex(seed, "vecB", nlist = 8, m = 8, ks = 16, buckets = 8)
    ExactIndex.write(seed.withColumn("vtxt", vtxt), "vecB_vexact",
      buckets = 8, textCol = "vtxt")
    // the batch: 10 replayed ids, 5 re-sent embeddings under NEW ids
    // (content dups), 50 genuinely new vectors
    val replayed = seed.filter(col("vec_id") < 10)
    val contentDups = seed.filter(col("vec_id").between(100, 104))
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
    val fresh = emb.filter(col("vec_id") >= 400 && col("vec_id") < 450)
      .select("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("vec_batch").toString
    replayed.unionByName(contentDups).unionByName(fresh)
      .write.mode("overwrite").parquet(dir)

    // hand-composed sequence on the vecB twin
    val batchB = spark.read.parquet(dir)
    val freshIdsB = batchB
      .join(spark.table("vecB_vecs"), col("vec_id") === col("c_id"), "left_anti")
      .withColumn("vtxt", vtxt)
    val novelB = freshIdsB.join(
      ExactIndex.flagAgainstIndex(freshIdsB, "vecB_vexact", textCol = "vtxt", idCol = "vec_id")
        .filter(col("is_known")).select(col("doc_id").as("vec_id")),
      Seq("vec_id"), "left_anti").localCheckpoint()
    ExactIndex.append(novelB.select(col("vec_id"), col("vtxt")), "vecB_vexact",
      textCol = "vtxt")
    val firedB = IvfPq.maintainIndex(novelB.select("vec_id", "embedding"), "vecB")

    // the composed job path on vecA
    val r1 = PipelineJob.runVectorIngest(spark, dir, "vecA")
    assert(r1 == Pipeline.VectorIngestReport(65, 10, 5, 50, firedB),
      s"first vector ingest must classify every batch row (firedB=$firedB), got $r1")
    def rows(t: String) = spark.table(t).collect().map(_.toSeq).toSet
    assert(rows("vecA_vecs") == rows("vecB_vecs"),
      "composed ingest must land exactly the hand-composed vector store")
    assert(rows("vecA_codes") == rows("vecB_codes"),
      "composed ingest must land exactly the hand-composed codes")
    assert(rows("vecA_vexact_digests") == rows("vecB_vexact_digests"),
      "composed ingest must land exactly the hand-composed digests")
    assert(spark.table("vecA_vecs").count() == 450,
      "survivors = seed + the 50 genuinely-new vectors")

    // replaying the SAME batch: every row already handled, nothing moves
    val r2 = PipelineJob.runVectorIngest(spark, dir, "vecA")
    assert(r2 == Pipeline.VectorIngestReport(65, 60, 5, 0, false),
      s"re-ingest must append nothing, got $r2")
    assert(rows("vecA_vecs") == rows("vecB_vecs") && rows("vecA_codes") == rows("vecB_codes"),
      "re-ingest must not change the stores")
    for (p <- Seq("vecA", "vecB"); t <- tables)
      spark.sql(s"DROP TABLE IF EXISTS ${p}_$t")
  }

  test("vector-ingest drops intra-batch content duplicates under distinct new ids") {
    import org.apache.spark.sql.functions.{col, lit}
    val tables = Seq("vecs", "codes", "centroids", "pqbooks", "meta", "stats",
      "vexact_digests", "vexact_bloom")
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS vecC_$t"))
    val emb = Tables.embeddings(spark, sfDir)
    val seed = emb.filter(col("vec_id") < 400).select("vec_id", "embedding")
    Pipeline.initVectorIngest(seed, "vecC", nlist = 8, m = 8, ks = 16, buckets = 8)
    // the same embedding arrives TWICE in one batch under two fresh
    // ids — the stored vexact index can't see either yet, so without
    // intra-batch dedup both would enter the store
    val dup = emb.filter(col("vec_id") === 450).select("embedding")
    val batch = dup.select(lit(9002L).as("vec_id"), col("embedding"))
      .unionByName(dup.select(lit(9001L).as("vec_id"), col("embedding")))
      .unionByName(emb.filter(col("vec_id") === 451).select("vec_id", "embedding"))
    val r = Pipeline.vectorIngest(batch, "vecC")
    assert((r.nBatch, r.nKnownId, r.nKnownContent, r.nAppended) == ((3L, 0L, 1L, 2L)),
      s"the higher-id twin must drop as known content, got $r")
    val ids = spark.table("vecC_vecs").select(col("c_id")).as[Long].collect().toSet
    assert(ids.contains(9001L) && !ids.contains(9002L) && ids.contains(451L),
      "keep-lowest-id: 9001 enters, 9002 drops")
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS vecC_$t"))
  }

  test("ingest applyChanged: changed re-crawls retract + re-process; digests stay content history") {
    import org.apache.spark.sql.functions.col
    import graft.operators.{Dedup, ExactIndex}
    import graft.sources.Sinks
    val longA = (1 to 60).map(i => s"w$i").mkString(" ")
    val longA2 = longA.replace("w60", "w60x") // 2-gram J vs longA ≈ 0.97
    val corpus = Seq(
      (0L, "alpha beta gamma delta"),
      (1L, "epsilon zeta eta theta"),
      (2L, "iota kappa lambda mu"),
      (3L, longA),
      (4L, (1 to 60).map(i => s"x$i").mkString(" ")),
      (5L, "rho sigma tau upsilon")).toDF("doc_id", "text")
    val tables = Seq("corpus", "exact_digests", "exact_bloom", "lsh_bands", "lsh_grams", "lsh_meta")
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS ingc_$t"))
    Sinks.writeBucketed(corpus, "ingc_corpus", "doc_id", 4)
    ExactIndex.write(corpus, "ingc_exact", buckets = 4)
    Dedup.writeNgramLshIndex(corpus, "ingc_lsh", buckets = 4)

    // doc 3 changes by one token — if its OLD LSH rows survived the
    // retraction, the new text would flag near-dup of itself and the
    // id would retire; doc 5 changes INTO doc 0's exact text — the
    // dedup-correct outcome is retiring id 5
    val batch1 = Seq((3L, longA2), (5L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val r1 = Pipeline.ingest(batch1, "ingc", applyChanged = true)
    assert(r1 == Pipeline.IngestReport(2, 0, 2, 0, 2, 1, 0, 1, false),
      s"changed docs must retract and re-process, got $r1")
    val live = spark.table("ingc_corpus").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(live.keySet == Set(0L, 1L, 2L, 3L, 4L),
      s"doc 5 must retire (its new text duplicates doc 0), got ${live.keySet}")
    assert(live(3L) == longA2, "doc 3 must carry its NEW text")

    // idempotence: the same batch again — doc 3 unchanged now, doc 5
    // classifies as added (id retired) and drops as exact dup again
    val r2 = Pipeline.ingest(batch1, "ingc", applyChanged = true)
    assert(r2 == Pipeline.IngestReport(2, 1, 0, 1, 0, 1, 0, 0, false),
      s"re-ingest must accept nothing, got $r2")
    assert(spark.table("ingc_corpus").count() == 5, "corpus untouched on re-ingest")

    // the index reflects the NEW content (near-dups of it flag), and
    // the digests are content HISTORY (the retired original text
    // still drops a new id as an exact dup)
    val probe = Seq((300L, longA2.replace("w1 ", "w1y ")), (302L, longA)).toDF("doc_id", "text")
    val r3 = Pipeline.ingest(probe, "ingc", applyChanged = true)
    assert(r3 == Pipeline.IngestReport(2, 0, 0, 2, 0, 1, 1, 0, false),
      s"near-dup of the new text + exact of the retired text must both drop, got $r3")
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS ingc_$t"))
  }
  test("curateFull names the spanTrimTokens 8-gram floor; maintain-cohort fails eagerly without history") {
    import spark.implicits._
    val d = Seq((1L, "a b c", "en", "web")).toDF("doc_id", "text", "lang", "source")
    val e = intercept[IllegalArgumentException] {
      Pipeline.curateFull(d, spanTrimTokens = 5)
    }
    assert(e.getMessage.contains("spanTrimTokens") && e.getMessage.contains("8"),
      s"the floor must be surfaced by parameter name, got: ${e.getMessage}")
    // a missing history path must die at dispatch, not mid-job on the
    // first drift-fired rebuild
    val e2 = intercept[IllegalArgumentException] {
      PipelineJob.runMaintain(spark, "maintain-cohort", "/nonexistent", "cohm_eager")
    }
    assert(e2.getMessage.contains("historyParquet"))
  }
test("ingest with a span index: changed docs retract grams, accepted docs fold in") {
    import org.apache.spark.sql.functions.col
    import graft.operators.{Dedup, ExactIndex, SpanIndex}
    import graft.sources.Sinks
    // block is long enough for the 8/16 defaults; held ONLY by doc 3
    val block = (1 to 20).map(i => s"k$i").mkString(" ")
    val corpus = Seq(
      (0L, (1 to 30).map(i => s"a$i").mkString(" ")),
      (3L, ((1 to 10).map(i => s"p$i") ++ Seq(block)).mkString(" ")),
      (4L, (1 to 30).map(i => s"x$i").mkString(" "))).toDF("doc_id", "text")
    Seq("corpus", "exact_digests", "exact_bloom", "lsh_bands", "lsh_grams", "lsh_meta",
      "span_grams", "span_spandocs", "span_spanmeta")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ings_$t"))
    Sinks.writeBucketed(corpus, "ings_corpus", "doc_id", 4)
    ExactIndex.write(corpus, "ings_exact", buckets = 4)
    Dedup.writeNgramLshIndex(corpus, "ings_lsh", buckets = 4)
    SpanIndex.writeIndex(spark, "ings_span", corpus, n = 8, buckets = 4)
    def probeDup(): Long =
      SpanIndex.flagAgainstIndex(spark, "ings_span",
        Seq((90L, s"z1 z2 $block z3")).toDF("doc_id", "text"))
        .collect()(0).getAs[Long]("dup_tokens")
    assert(probeDup() == 20L, "the seeded block flags before the change")
    // doc 3 is re-crawled WITHOUT the block: applyChanged must retract
    // its grams from the span store too, or the index keeps flagging
    // retired text forever; the accepted new content folds in
    val newBlock = (1 to 20).map(i => s"m$i").mkString(" ")
    val batch = Seq((3L, ((1 to 10).map(i => s"p$i") ++ Seq(newBlock)).mkString(" ")))
      .toDF("doc_id", "text")
    val r = Pipeline.ingest(batch, "ings", applyChanged = true,
      spanIndex = Some("ings_span"))
    assert(r.nAccepted == 1L, s"the changed doc re-enters and is accepted, got $r")
    assert(probeDup() == 0L, "the RETIRED text's grams no longer flag")
    val newProbe = SpanIndex.flagAgainstIndex(spark, "ings_span",
      Seq((91L, s"z1 z2 $newBlock z3")).toDF("doc_id", "text"))
      .collect()(0).getAs[Long]("dup_tokens")
    assert(newProbe == 20L, "the accepted content's grams DID fold in")
  }
test("curateFull canonicalKeys: case-variant dups collapse while survivor text ships RAW") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val d = Seq(
      (1L, base, "en", "web"),
      (2L, base.toUpperCase, "en", "web"),
      (3L, (1 to 40).map(i => s"qqq$i").mkString(" "), "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
    val raw = Pipeline.curateFull(d, minQualityFs = 0L, maxRepetitionFs = 10000L)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(raw == Set(1L, 2L, 3L), "raw keying keeps both case variants")
    val canon = Pipeline.curateFull(d, minQualityFs = 0L, maxRepetitionFs = 10000L,
      canonicalKeys = true)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(canon.keySet == Set(1L, 3L),
      s"canonical keying collapses the variant pair to the lowest id, got ${canon.keySet}")
    assert(canon(1L) == base, "the survivor's text ships untouched — keying is not rewriting")
  }

  test("decontaminate drops bench members and high-overlap docs, keeps clean and sub-gram docs") {
    import spark.implicits._
    val bench = Seq((100L, "a b c d e f")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "a b c d e f"),    // verbatim bench member: contam 10000
      (2L, "a b c d x y z"),  // 2 of 5 trigrams shared: contam 4000
      (3L, "p q r s t u"),    // disjoint: contam 0
      (4L, "p q"))            // sub-gram: no overlap evidence
      .toDF("doc_id", "text")
    def ids(maxFs: Long) = Pipeline.decontaminate(docs, bench, maxContamFs = maxFs)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(ids(2000L) == Set(3L, 4L),
      s"default 20% threshold drops the member AND the near-copy, got ${ids(2000L)}")
    // threshold is inclusive: exactly-4000 passes at maxContamFs=4000
    assert(ids(4000L) == Set(2L, 3L, 4L))
    // survivors ship every input column untouched
    val cols = Pipeline.decontaminate(docs, bench).columns.toSeq
    assert(cols == Seq("doc_id", "text"), s"got $cols")
    // empty benchmark: nothing drops
    assert(Pipeline.decontaminate(docs, bench.limit(0)).count() == 4L)
  }

  test("curateFull canonicalKeys: distinct non-ASCII docs all survive (no md5('') collapse)") {
    import spark.implicits._
    // both non-ASCII docs canonicalize to "" — stage 1's digest must
    // fall back to the raw text (canonicalKey) or one of them would
    // silently vanish; stage 2's shingles degrade safely on their own
    // (an empty canonical text has no 2-gram shingles)
    val d = Seq(
      (1L, "你好，世界。这是一个文档。", "zh", "web"),
      (2L, "мир труд май отличный документ", "ru", "web"),
      (3L, "你好，世界。这是一个文档。", "zh", "web"))
      .toDF("doc_id", "text", "lang", "source")
    val ids = Pipeline.curateFull(d, minQualityFs = 0L, maxRepetitionFs = 10000L,
      canonicalKeys = true)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(ids == Set(1L, 2L),
      s"byte-identical pair dedups, the distinct non-ASCII doc SURVIVES — got $ids")
  }

  test("decontaminate routed: mixed docs judged on raw grams, not their stripped Latin half") {
    import spark.implicits._
    // doc 2 carries a bench member's text PLUS 16 Han tokens:
    // canonical keying strips the Han half, reads 100% overlap, and
    // falsely drops a doc that is 73% non-benchmark content; routed
    // keying judges the raw gram stream (4 of 20 trigrams = exactly
    // the inclusive 20% default) and keeps it
    val bench = Seq((100L, "a b c d e f")).toDF("doc_id", "text")
    val hanTail = "你 好 再 見 天 地 人 和 山 水 火 木 金 土 日 月"
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, s"a b c d e f $hanTail"),
      (3L, "p q r s t u")).toDF("doc_id", "text")
    val canonIds = Pipeline.decontaminate(docs, bench, canonical = true)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(canonIds == Set(3L),
      s"canonical keying strips the Han half and falsely drops doc 2, got $canonIds")
    val routedIds = Pipeline.decontaminate(docs, bench, routed = true)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(routedIds == Set(2L, 3L),
      s"routed keying judges doc 2 on its raw grams (20% overlap, kept), got $routedIds")
  }

  test("curateFull routedKeys: mixed-script docs key raw through BOTH dedup stages") {
    import spark.implicits._
    // docs 1-2 share a Latin half and differ in their (equally long)
    // Han halves: canonicalKeys strips the Han content, so stage 1's
    // digests coincide and doc 2 silently vanishes; routedKeys keys
    // both docs raw (they carry Han) — digests differ, and the raw
    // shingle Jaccard (~9/29) sits far below the near-dup threshold,
    // so both survive. The pure-ASCII case-variant pair (3,4) still
    // collapses canonically.
    val latin = (1 to 10).map(i => s"tok$i").mkString(" ")
    val hanA = (1 to 10).map(i => s"你好$i").mkString(" ")
    val hanB = (1 to 10).map(i => s"再見$i").mkString(" ")
    val d = Seq(
      (1L, s"$latin $hanA", "zh", "web"),
      (2L, s"$latin $hanB", "zh", "web"),
      (3L, (1 to 40).map(i => s"qqq$i").mkString(" "), "en", "web"),
      (4L, (1 to 40).map(i => s"qqq$i").mkString(" ").toUpperCase, "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
    val canon = Pipeline.curateFull(d, minQualityFs = 0L, maxRepetitionFs = 10000L,
      canonicalKeys = true)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(!canon.contains(2L),
      s"canonical keying merges the mixed pair (the hazard routedKeys closes) — got $canon")
    val routed = Pipeline.curateFull(d, minQualityFs = 0L, maxRepetitionFs = 10000L,
      routedKeys = true)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(routed.keySet == Set(1L, 2L, 3L),
      s"routed keying keeps both mixed docs and still collapses the ASCII pair, got ${routed.keySet}")
    assert(routed(1L).contains("你好1"), "survivor text ships RAW — keying is not rewriting")
  }

  test("curateFull keying=auto: scriptMix picks routed on a mixed corpus, canonical on ASCII") {
    import spark.implicits._
    // the r19 steering wheel wired end-to-end: auto reads the corpus
    // script mix once and must produce EXACTLY the hand-picked
    // routed run on a corpus with non-Latin presence
    val latin = (1 to 10).map(i => s"tok$i").mkString(" ")
    val mixed = Seq(
      (1L, s"$latin ${(1 to 10).map(i => s"你好$i").mkString(" ")}", "zh", "web"),
      (2L, s"$latin ${(1 to 10).map(i => s"再見$i").mkString(" ")}", "zh", "web"),
      (3L, s"$latin ${(1 to 10).map(i => s"かな$i").mkString(" ")}", "ja", "web"),
      (4L, (1 to 40).map(i => s"qqq$i").mkString(" "), "en", "web"),
      (5L, (1 to 40).map(i => s"qqq$i").mkString(" ").toUpperCase, "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
    assert(Pipeline.chooseKeying(mixed) == "routed")
    val auto = Pipeline.curateFull(mixed, minQualityFs = 0L, maxRepetitionFs = 10000L,
      keying = "auto").collect().map(_.toSeq).toSet
    val hand = Pipeline.curateFull(mixed, minQualityFs = 0L, maxRepetitionFs = 10000L,
      routedKeys = true).collect().map(_.toSeq).toSet
    assert(auto.nonEmpty && auto == hand, "auto ≡ the hand-picked routed run")
    // an all-ASCII corpus auto-picks canonical (lossless there) — the
    // case-variant pair collapses
    val ascii = mixed.filter(org.apache.spark.sql.functions.col("doc_id") >= 4L)
    assert(Pipeline.chooseKeying(ascii) == "canonical")
    val autoAscii = Pipeline.curateFull(ascii, minQualityFs = 0L, maxRepetitionFs = 10000L,
      keying = "auto").collect().map(_.getAs[Long]("doc_id")).toSet
    assert(autoAscii == Set(4L), s"canonical collapse under auto on ASCII, got $autoAscii")
    // the share floor: 3 of 5 docs carry non-Latin signal (6000 fs);
    // a floor above that reads canonical, below stays routed
    assert(Pipeline.chooseKeying(mixed, minRoutedShareFs = 6000L) == "canonical")
    assert(Pipeline.chooseKeying(mixed, minRoutedShareFs = 5999L) == "routed")
    // explicit modes pass through; junk is refused eagerly
    intercept[IllegalArgumentException] {
      Pipeline.curateFull(mixed, keying = "blended")
    }
  }

  test("chooseKeyingDecision: the mode ships WITH the mix snapshot it read") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 4 docs, 1 carrying Han (9 of its 13 chars non-Latin): the
    // decision frame must carry the audit trail — doc and char
    // counts, floored shares — alongside the chosen mode (r20; the
    // bare rule previously picked silently)
    val d = Seq(
      (1L, "abc 你好你好你好你好再"), (2L, "plain one"), (3L, "plain two"), (4L, "plain three"))
      .toDF("doc_id", "text")
    val row = Pipeline.chooseKeyingDecision(d).collect()(0)
    assert(row.getAs[String]("mode") == "routed")
    assert(row.getAs[Long]("n_docs") == 4L && row.getAs[Long]("nonlatin_docs") == 1L)
    assert(row.getAs[Long]("docs_share_fs") == 2500L)
    val nChars = d.select(org.apache.spark.sql.functions.sum(
      org.apache.spark.sql.functions.length(col("text")))).collect()(0).getLong(0)
    assert(row.getAs[Long]("n_chars") == nChars && row.getAs[Long]("nonlatin_chars") == 9L)
    assert(row.getAs[Long]("char_loss_fs") ==
      math.floor(10000.0 * 9 / nChars).toLong)
    assert(row.getAs[Long]("min_routed_share_fs") == 0L)
    // the decision IS the rule: chooseKeying delegates, both branches
    assert(Pipeline.chooseKeying(d) == "routed")
    assert(Pipeline.chooseKeyingDecision(d, 2500L).collect()(0)
      .getAs[String]("mode") == "canonical",
      "the boundary is exclusive: 10^4*1 > 2500*4 is false")
    // empty corpus: canonical, zeroed stats (no NULL leaks)
    val empty = Pipeline.chooseKeyingDecision(d.filter(col("doc_id") < 0L)).collect()(0)
    assert(empty.getAs[String]("mode") == "canonical" && empty.getAs[Long]("n_docs") == 0L
      && empty.getAs[Long]("char_loss_fs") == 0L)
    // the CLI resolution helper: auto resolves (and logs) the mode,
    // explicit modes pass through untouched
    assert(PipelineJob.resolveKeying(d, "auto") == "routed")
    assert(PipelineJob.resolveKeying(d, "canonical") == "canonical")
    assert(PipelineJob.resolveKeying(d, "") == "")
  }

  test("chooseKeying routes on a sparse non-Latin tail (exact compare, no fixed-point floor)") {
    import org.apache.spark.sql.functions._
    // 1 non-Latin doc in 10001: floor(1e4·1/10001) = 0, so the old
    // fixed-point share read 0 and the 0 default picked canonical —
    // false-merging exactly the doc routing exists to protect (r19
    // ADVICE). The exact cross-multiplication routes it.
    val sparse = spark.range(10001).select(col("id").as("doc_id"),
      when(col("id") === 0L, lit("只有 one non latin doc"))
        .otherwise(lit("plain ascii doc")).as("text"))
    assert(Pipeline.chooseKeying(sparse) == "routed",
      "a single non-Latin doc must route at the 0 default, at any corpus size")
    // and the explicit floor still thresholds: share here is under
    // 1fs per cross-multiplication (1e4·1 vs 1·10001)
    assert(Pipeline.chooseKeying(sparse, minRoutedShareFs = 1L) == "canonical")
  }
}
