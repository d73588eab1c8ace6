package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** End-to-end training-data curation: the composed pipeline a user of
  * this library runs over a raw document corpus —
  *
  *   1. exact dedup (content-hash groupBy, keep lowest id);
  *   2. near-dup dedup via scale-safe n-gram MinHash-LSH pairs,
  *      greedy keep-lowest-id application;
  *   3. quality filter (composite fixed-point score ≥ threshold) and
  *      repetition filter (duplicated-bigram ratio ≤ threshold, the
  *      boilerplate/degenerate-text gate — one-pass native kernel);
  *   4. deterministic train/val/test split tagging.
  *
  * Every stage is one of this library's audited operators — the
  * composition adds NO new shuffle beyond what the stages themselves
  * do (exact dedup: one hash shuffle; LSH: band-bucket equi-joins;
  * quality + repetition: narrow scan; split: map-side). Output: the
  * curated corpus with provenance columns, ready for
  * [[TextAnalysis.encodeTokens]] and a partitioned write
  * ([[graft.sources.Sinks.writePartitioned]]).
  */
object Pipeline {

  def curate(docs: DataFrame,
             minQualityFs: Long = 5000L,
             lshThresholdFs: Long = 9000L,
             maxRepetitionFs: Long = 9000L,
             salt: String = "graft#",
             spanTrimTokens: Int = 0,
             canonicalKeys: Boolean = false,
             routedKeys: Boolean = false,
             keying: String = "",
             minLossFs: Long = 0L,
             minRoutedShareFs: Long = 0L): DataFrame =
    curateFull(docs, minQualityFs, lshThresholdFs, maxRepetitionFs, salt, spanTrimTokens,
      canonicalKeys, routedKeys, keying, minLossFs, minRoutedShareFs)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        col("score_fs"), col("rep_fs"), col("split"))
      .orderBy(col("doc_id"))

  /** The documented AUTO-KEYING rule (r19) — the steering wheel
    * [[TextAnalysis.scriptMix]]'s scaladoc promises: read the corpus
    * composition ONCE (a scan + a ≤12-row aggregate), and pick
    * `routed` when the non-'none' dominant-script groups carry a
    * document share above `minRoutedShareFs` (fixed-point; the
    * default 0 routes on ANY non-Latin presence — the monotonically
    * safe posture, since routed keying never costs a pure-Latin
    * corpus anything), `canonical` otherwise (an all-'none' corpus
    * takes the full normalize-then-key collapse losslessly). `raw`
    * is never auto-picked — it is the explicit opt-out for corpora
    * where even case folding is unwanted.
    *
    * The share compare is EXACT integer cross-multiplication
    * (`10⁴·nonNone > minRoutedShareFs·total`), not a fixed-point
    * floor: flooring first reads 0 whenever non-Latin docs are rarer
    * than 1 in 10⁴, so a large corpus with a sparse non-Latin tail
    * would auto-pick canonical and false-merge exactly the documents
    * routing exists to protect — the r19 ADVICE finding; with the
    * exact compare the 0 default really does route on a single
    * non-Latin document at any corpus size.
    */
  def chooseKeying(docs: DataFrame, minRoutedShareFs: Long = 0L): String =
    chooseKeyingDecision(docs, minRoutedShareFs).collect()(0).getAs[String]("mode")

  /** The auto-keying DECISION FRAME (r20, verdict ask 4 — the rule
    * previously picked silently): one row carrying the chosen mode
    * TOGETHER WITH the corpus mix snapshot it read, so a pipeline can
    * log/audit why a run keyed the way it did —
    * `(mode, n_docs, nonlatin_docs, docs_share_fs, n_chars,
    * nonlatin_chars, char_loss_fs, min_routed_share_fs)`:
    * `nonlatin_docs` = docs carrying ANY routed-class signal (the
    * non-'none' [[TextAnalysis.scriptMix]] groups), `docs_share_fs`
    * their floored fixed-point share (display only — the DECISION
    * compares exactly, 10⁴·nonlatin > floor·total, per the r20
    * sparse-tail fix), and `char_loss_fs` the corpus-level canonical
    * LOSS share (what fraction of all characters canonical keying
    * would strip as signal — the loss-distribution summary a caller
    * derives a [[curateFull]] `minLossFs` floor from). Same cost as
    * the bare rule: one scan + the ≤(scripts+1)-row aggregate, here
    * folded to one row. Empty corpus → canonical with zeroed stats.
    */
  def chooseKeyingDecision(docs: DataFrame, minRoutedShareFs: Long = 0L): DataFrame =
    TextAnalysis.scriptMix(docs)
      .agg(
        coalesce(sum(col("n_docs")), lit(0L)).as("n_docs"),
        coalesce(sum(when(col("script") =!= "none", col("n_docs"))), lit(0L))
          .as("nonlatin_docs"),
        coalesce(sum(col("n_chars")), lit(0L)).as("n_chars"),
        coalesce(sum(col("nonlatin_chars")), lit(0L)).as("nonlatin_chars"))
      .select(
        when(col("n_docs") > 0 &&
            lit(10000L) * col("nonlatin_docs") > lit(minRoutedShareFs) * col("n_docs"),
          lit("routed")).otherwise(lit("canonical")).as("mode"),
        col("n_docs"), col("nonlatin_docs"),
        when(col("n_docs") > 0,
          floor(lit(10000.0) * col("nonlatin_docs") / col("n_docs")))
          .otherwise(lit(0L)).as("docs_share_fs"),
        col("n_chars"), col("nonlatin_chars"),
        when(col("n_chars") > 0,
          floor(lit(10000.0) * col("nonlatin_chars") / col("n_chars")))
          .otherwise(lit(0L)).as("char_loss_fs"),
        lit(minRoutedShareFs).as("min_routed_share_fs"))

  /** [[curate]] keeping EVERY input column (text included) plus the
    * provenance columns, unordered — the form that lands in a sink
    * (a partitioned/bucketed write imposes its own layout, so the
    * global ORDER BY of the slim reporting variant would only add a
    * sampling pass). A curated corpus that keeps `text` is what the
    * incremental-crawl reference side ([[Dedup.ngramLshAgainst]])
    * reads.
    */
  /** `canonicalKeys = true` runs the DEDUP KEYING (stage 1's digest
    * and stage 2's shingles) over [[graft.functions.TextFunctions
    * .canonicalText]] while SHIPPING the raw text untouched — both
    * stages select survivors by doc_id, so case/punctuation variants
    * of the same document collapse (lowest id wins) without the
    * output corpus being rewritten. The opt-in span TRIM stage stays
    * raw-keyed regardless: it rewrites text, and a canonical trim
    * ships canonical text by construction ([[TextAnalysis
    * .spanTrimmed]]'s own `canonical` flag is that posture).
    *
    * `routedKeys = true` (r18) is the MULTILINGUAL-safe form of
    * `canonicalKeys`: both dedup stages key through the script
    * router ([[graft.functions.TextFunctions.routedKey]] /
    * [[graft.functions.TextFunctions.routedText]]) — documents
    * carrying any non-Latin-SCRIPT signal ([[graft.functions
    * .TextFunctions.hasNonLatinScript]], the single source of truth;
    * r19 inverted the class so every script routes) key raw
    * (canonical keying
    * would strip exactly the content that distinguishes them),
    * pure-Latin documents keep the full normalize-then-key
    * semantics. Supersedes canonicalKeys when both are set.
    *
    * `keying` (r19) is the STRING form and the auto mode: "raw" /
    * "canonical" / "routed" name the postures directly, "auto" reads
    * the corpus [[TextAnalysis.scriptMix]] once and applies
    * [[chooseKeying]]'s rule, and "" (the default) defers to the
    * boolean flags above (back-compat). Non-empty `keying` supersedes
    * the booleans.
    *
    * `minLossFs` (r20) is the routed tier's loss floor, threaded to
    * BOTH dedup stages (the digest key via [[Dedup.exact]], the gram
    * stream via [[Dedup.ngramLshPairs]] — one keying rule per run):
    * sub-floor glyph noise keeps the canonical collapse, the
    * dedup_exact_routed_floor trade at pipeline grain. It applies
    * only when the EFFECTIVE mode is routed — refused with canonical/
    * raw modes (misconfiguration), silently unused when "auto"
    * resolves to canonical (the caller said "IF routing, floor at
    * this"). `minRoutedShareFs` (r20) passes through to
    * [[chooseKeying]] under "auto".
    */
  def curateFull(docs: DataFrame,
                 minQualityFs: Long = 5000L,
                 lshThresholdFs: Long = 9000L,
                 maxRepetitionFs: Long = 9000L,
                 salt: String = "graft#",
                 spanTrimTokens: Int = 0,
                 canonicalKeys: Boolean = false,
                 routedKeys: Boolean = false,
                 keying: String = "",
                 minLossFs: Long = 0L,
                 minRoutedShareFs: Long = 0L): DataFrame = {
    // spanTrimTokens is a minimum span LENGTH and the trim stage
    // grams at n = 8, which floors the usable threshold — surface
    // that here by name rather than letting spanRegions throw its
    // internal "minSpanTokens >= n" from three frames down
    require(spanTrimTokens <= 0 || spanTrimTokens >= 8,
      s"spanTrimTokens: pass 0 (trim off) or >= 8 (the 8-gram floor); got $spanTrimTokens")
    val mode = keying match {
      case ""     => if (routedKeys) "routed" else if (canonicalKeys) "canonical" else "raw"
      case "auto" => chooseKeying(docs, minRoutedShareFs)
      case m @ ("raw" | "canonical" | "routed") => m
      case other => throw new IllegalArgumentException(
        s"keying must be one of raw/canonical/routed/auto (or empty for the flags), got '$other'")
    }
    require(minLossFs == 0L || mode == "routed" || keying == "auto",
      s"minLossFs applies only to routed keying (got minLossFs = $minLossFs " +
        s"with mode '$mode'); it is conditionally unused only under keying = 'auto'")
    val (canonKeys, routeKeys) = (mode == "canonical", mode == "routed")
    val effFloor = if (routeKeys) minLossFs else 0L
    // 1. exact dedup: survivors are each hash group's keep_id
    val keep = Dedup.exact(docs, canonical = canonKeys, routed = routeKeys,
      minLossFs = effFloor)
      .select(col("keep_id").as("doc_id"))
    val exactDeduped = docs.join(keep, Seq("doc_id"), "left_semi")

    // 2. near-dup dedup: LSH candidates + exact verify, greedy apply
    val nearPairs = Dedup.ngramLshPairs(exactDeduped, thresholdFs = lshThresholdFs,
      canonical = canonKeys, routed = routeKeys, minLossFs = effFloor)
    val deduped0 = Dedup.applyPairs(exactDeduped, nearPairs)

    // 2b. (opt-in, spanTrimTokens > 0) exact-substring trim: spans
    // repeated across ≥ 2 SURVIVOR docs and at least spanTrimTokens
    // long are removed from the text BEFORE scoring — boilerplate the
    // doc-level dedups can't touch (the C4/RefinedWeb posture: trim
    // first, then judge quality on what remains). The dropped-token
    // count rides along as span_dup_tokens provenance.
    val deduped =
      if (spanTrimTokens <= 0) deduped0
      else TextAnalysis.spanTrimmed(deduped0, minSpanTokens = spanTrimTokens)

    // 3.+4. quality score, repetition gate, and split tag are pure
    // column adds — all stay inside the survivors' scan, no extra
    // join or shuffle (the repetition counts come from the one-pass
    // graft_ngram_stats kernel riding the same projection)
    import graft.functions.TextFunctions._
    val toks = tokens(col("text"))
    val rep = ngramStats(toks, 2)
    deduped
      .withColumn("score_fs", qualityScoreFs(
        size(toks).cast("long"), size(array_distinct(toks)).cast("long"),
        countIn(toks, stopwords.toMap.apply("en")).cast("long"),
        punctCount(col("text")).cast("long"), length(col("text")).cast("long")))
      .filter(col("score_fs") >= minQualityFs)
      .withColumn("rep_fs", when(rep.getField("n_grams") > 0,
          floor(lit(10000.0) * (lit(1.0) -
            rep.getField("n_uniq").cast("double") / rep.getField("n_grams"))))
        .otherwise(lit(0L)))
      .filter(col("rep_fs") <= maxRepetitionFs)
      .withColumn("split", Sampling.splitColumn(col("doc_id"), salt))
  }

  /** Benchmark DECONTAMINATION as a filter — the GPT-3/Pile posture
    * [[TextAnalysis.contaminationAcct]] only accounts for: drop every
    * document whose word-n-gram overlap with the benchmark/eval set
    * exceeds `maxContamFs` (fixed-point; the default 2000 = 20%
    * trigram overlap flags verbatim members and close paraphrases
    * while ordinary topical overlap passes). Documents too short to
    * carry an n-gram have no overlap evidence and are KEPT. Survivors
    * ship with every input column untouched, so the step composes
    * anywhere in the curate chain ([[curate]] → decontaminate →
    * [[prepareTrainingPieces]] is the standard order: dedup first so the
    * gram pass runs once per surviving doc).
    *
    * Scale shape: the benchmark side is BROADCAST (eval sets are
    * bounded by construction); the corpus pays one gram fan-out +
    * one partial-agg groupBy (the contamination plan), and the
    * flagged-id list — contaminated docs are the small minority —
    * comes back as a broadcast-able anti-join. At 100 TB: one scan,
    * one slim shuffle, no corpus-sized join.
    */
  def decontaminate(docs: DataFrame, bench: DataFrame, maxContamFs: Long = 2000L,
                    n: Int = 3, canonical: Boolean = false,
                    routed: Boolean = false, minLossFs: Long = 0L): DataFrame = {
    val flagged = TextAnalysis.contaminationAcct(docs, bench, n, canonical, routed, minLossFs)
      .filter(col("contam_fs") > maxContamFs)
      .select(col("doc_id"))
    docs.join(flagged, Seq("doc_id"), "left_anti")
  }

  /** The full training-data preprocessing chain, composed end to end:
    * [[curateFull]] (exact dedup → LSH near-dup dedup → quality +
    * repetition gates → split tag) → [[TextAnalysis.chunkPieces]]
    * (stride-overlapped context windows) →
    * cumulative-offset sequence packing of the CHUNKS into
    * `binTokens` bins — the layout a trainer consumes: each row is
    * one context-window chunk with its provenance (source, split) and
    * its position (bin, offset) in a fixed-budget training sequence.
    *
    * Packing windows over (split, source, pack_group) ordered by
    * (doc_id, chunk_idx): bins never mix train/val/test or sources
    * (the mixture ratios stay controllable downstream), and the
    * pack_group bound keeps every window partition small — same
    * parallelism rule as [[TextAnalysis.pack]]. Added cost over
    * curate: one map-side chunk fan-out + ONE window shuffle.
    *
    * Rows come back unordered: a writer consumes them directly (a
    * partitioned write discards row order anyway).
    */
  def prepareTrainingPieces(docs: DataFrame,
                            binTokens: Int = 512,
                            chunkTokens: Int = 32,
                            strideTokens: Int = 24,
                            groupDocs: Int = 1000,
                            minQualityFs: Long = 5000L,
                            lshThresholdFs: Long = 9000L,
                            maxRepetitionFs: Long = 9000L,
                            salt: String = "graft#",
                            keying: String = "",
                            minLossFs: Long = 0L): DataFrame = {
    val curated = curateFull(docs, minQualityFs, lshThresholdFs, maxRepetitionFs, salt,
      keying = keying, minLossFs = minLossFs)
    val chunks = TextAnalysis
      .chunkPieces(curated, chunkTokens, strideTokens, carryCols = Seq("source", "split"))
      .withColumn("pack_group", floor(col("doc_id") / lit(groupDocs.toDouble)).cast("long"))
    TextAnalysis.packByWindow(chunks,
      outerCols = Seq("split", "source"), groupCol = "pack_group",
      orderCols = Seq("doc_id", "chunk_idx"),
      tokenCol = "n_chunk_tokens", binTokens = binTokens)
      .select(col("doc_id"), col("chunk_idx"), col("source"), col("split"),
        col("n_chunk_tokens"), col("chunk_md5"), col("pack_group"),
        col("bin_id"), col("bin_offset"))
  }

  /** Land the curated corpus as a doc_id-bucketed, per-bucket-sorted
    * table ([[graft.sources.Sinks.writeBucketed]]): every downstream
    * doc-keyed join — flagging incoming crawl dups against the
    * reference, joining quality/provenance back to payloads, the
    * greedy-apply anti-join — reads a pre-partitioned reference and
    * SKIPS its shuffle entirely (the bucketed scan reports hash
    * partitioning to Catalyst; zero-Exchange join is spec-pinned).
    * At 100 TB the curated corpus is written once and joined by every
    * incremental crawl after it — moving the shuffle from every
    * consumer to the single producer is the point of the layout.
    */
  def curateToBucketed(docs: DataFrame, table: String, buckets: Int = 32,
                       minQualityFs: Long = 5000L,
                       lshThresholdFs: Long = 9000L,
                       maxRepetitionFs: Long = 9000L,
                       salt: String = "graft#",
                       keying: String = "",
                       minLossFs: Long = 0L): Unit =
    graft.sources.Sinks.writeBucketed(
      curateFull(docs, minQualityFs, lshThresholdFs, maxRepetitionFs, salt,
        keying = keying, minLossFs = minLossFs),
      table, "doc_id", buckets)

  /** What one [[ingest]] step did — every count a crawl operator
    * monitors. `nUnchanged + nChanged + nAdded = nBatch`;
    * `nExactDup + nNearDup + nAccepted = nAdded + nChangedApplied`
    * (`nChangedApplied` = `nChanged` when the step retracted and
    * re-processed changed re-crawls, 0 in report-only mode).
    */
  case class IngestReport(nBatch: Long, nUnchanged: Long, nChanged: Long,
                          nAdded: Long, nChangedApplied: Long, nExactDup: Long,
                          nNearDup: Long, nAccepted: Long, compacted: Boolean)

  /** ONE composed incremental-crawl ingest step against a stored
    * corpus `name` — the per-batch loop a crawler runs, previously
    * hand-composed from the pieces, now one checkpointed step:
    *
    *   1. [[Snapshot.churn]] vs `<name>_corpus`: UNCHANGED re-crawls
    *      (same doc_id, same content hash — the bulk of every
    *      re-crawl) drop immediately; absence is NOT removal (a crawl
    *      batch is partial). CHANGED docs (same doc_id, new content)
    *      are REPORTED but not applied by default — a silent append
    *      would leave two rows under one doc_id. `applyChanged = true`
    *      runs the retraction path instead: the stale rows leave the
    *      LSH index ([[Dedup.deleteFromNgramLshIndex]]) and the
    *      corpus table (the same zero-shuffle per-bucket rewrite),
    *      and the new content re-enters the add pipeline below — so
    *      it too must clear the exact and near-dup gates (a changed
    *      doc whose new text duplicates stored content RETIRES its
    *      doc_id, the dedup-correct outcome). The exact-digest table
    *      is deliberately append-only content HISTORY ("have we EVER
    *      crawled this text") — retired text stays flagged, which is
    *      the conservative crawl-dedup semantics, and shared digests
    *      can never be orphaned by a retraction. COST: applyChanged
    *      pays one LSH-index rewrite + one corpus rewrite per batch
    *      (zero shuffle, but I/O ∝ store size) — batch changed-doc
    *      application at a cadence where that amortizes; report-only
    *      remains the per-batch default. With `spanIndex = Some(ix)`
    *      an exact-substring gram index ([[SpanIndex]]) becomes a
    *      FOURTH managed store: changed docs' grams retract here too
    *      ([[SpanIndex.deleteFromIndex]] — without it the index keeps
    *      flagging against retired text forever) and the accepted set
    *      folds in at step 4 ([[SpanIndex.maintainIndex]]);
    *   2. [[ExactIndex.flagAgainstIndex]] vs `<name>_exact`:
    *      bloom-accelerated exact content dedup — a re-crawled text
    *      under a NEW doc_id drops here;
    *   3. [[Dedup.ngramLshAgainstIndex]] vs `<name>_lsh`: near-dup
    *      flag, batch side only ever joins band buckets;
    *   4. survivors APPEND everywhere, exact index first
    *      ([[ExactIndex.append]]), then the LSH index with its
    *      compaction rule ([[Dedup.maintainNgramLshIndex]]), then the
    *      corpus table itself (bucket-aligned append) so the next
    *      batch's churn sees them.
    *
    * The accepted set is localCheckpointed BEFORE any append: every
    * upstream frame reads the very tables step 4 writes, and Spark
    * re-materializes table-referencing cached plans on insert — a
    * lazily-evaluated accepted set would recompute EMPTY mid-append
    * (the [[ExactIndex.append]] lesson, applied to the composition).
    * Re-running the same batch is a no-op by construction: accepted
    * docs diff away as unchanged, rejected docs reject again, and
    * nothing appends (spec-pinned E2E, including table equality with
    * the hand-composed sequence).
    *
    * The batch is assumed internally curated ([[curate]] handles
    * in-batch dups/quality); this step is the CROSS-batch/corpus
    * increment. All three stores must exist (`curateToBucketed` or
    * [[graft.sources.Sinks.writeBucketed]] for `<name>_corpus`,
    * [[ExactIndex.write]] for `<name>_exact`,
    * [[Dedup.writeNgramLshIndex]] for `<name>_lsh`).
    */
  def ingest(batch: DataFrame, name: String,
             lshThresholdFs: Long = 9000L,
             maxFilesPerBucket: Int = 4,
             applyChanged: Boolean = false,
             spanIndex: Option[String] = None): IngestReport = {
    val spark = batch.sparkSession
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val corpus = spark.table(s"${name}_corpus")
    val corpusCols = corpus.columns.toIndexedSeq
    def corpusBuckets = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(s"${name}_corpus"))
      .bucketSpec.map(_.numBuckets).getOrElse(32)
    val nBatch = batch.count()
    val churn = Snapshot.churn(corpus, batch)
      .filter(col("change") =!= "removed")
      .persist(MEMORY_AND_DISK)
    val nChanged = churn.filter(col("change") === "changed").count()
    val nAdded = churn.filter(col("change") === "added").count()
    // candidate ids: localCheckpoint (eager) BEFORE any retraction —
    // churn's plan reads the corpus table the retraction rewrites
    val candIds = (
      if (applyChanged) churn.select(col("doc_id"))
      else churn.filter(col("change") === "added").select(col("doc_id")))
      .localCheckpoint()
    val changedIds = churn.filter(col("change") === "changed")
      .select(col("doc_id")).localCheckpoint()
    churn.unpersist(false)
    val nChangedApplied = if (applyChanged) nChanged else 0L
    if (applyChanged && nChanged > 0) {
      // retract the stale rows so the changed content re-enters the
      // add pipeline: LSH index rows + corpus rows (both zero-shuffle
      // per-bucket rewrites); exact digests stay — content history.
      // A span index maintained alongside retracts in the same step —
      // leaving it out would keep flagging against the RETIRED text's
      // grams forever (SpanIndex.deleteFromIndex's whole point)
      Dedup.deleteFromNgramLshIndex(spark, s"${name}_lsh", changedIds)
      spanIndex.foreach(SpanIndex.deleteFromIndex(spark, _, changedIds))
      graft.sources.Sinks.rewriteBucketed(spark, s"${name}_corpus", Seq("doc_id"),
        corpusBuckets, df => df.join(broadcast(changedIds), Seq("doc_id"), "left_anti"))
    }
    val candidates = batch.join(candIds, Seq("doc_id"), "left_semi")
      .persist(MEMORY_AND_DISK)
    val novel = candidates
      .join(ExactIndex.flagAgainstIndex(candidates, s"${name}_exact")
        .filter(col("is_known")).select(col("doc_id")), Seq("doc_id"), "left_anti")
      .persist(MEMORY_AND_DISK)
    val nNovel = novel.count()
    val nearIds = Dedup.ngramLshAgainstIndex(novel, s"${name}_lsh", lshThresholdFs)
      .select(col("id_in").as("doc_id")).distinct()
    // localCheckpoint (eager): detach from the index/corpus tables
    // before writing to them
    val accepted = novel.join(nearIds, Seq("doc_id"), "left_anti").localCheckpoint()
    val nAccepted = accepted.count()
    candidates.unpersist(false)
    novel.unpersist(false)
    var compacted = false
    if (nAccepted > 0) {
      ExactIndex.append(accepted, s"${name}_exact")
      compacted = Dedup.maintainNgramLshIndex(accepted, s"${name}_lsh", maxFilesPerBucket)
      graft.sources.Sinks.writeBucketed(
        accepted.select(corpusCols.map(col): _*),
        s"${name}_corpus", "doc_id", corpusBuckets, org.apache.spark.sql.SaveMode.Append)
      // symmetric fold-in: the span index sees exactly the accepted set
      spanIndex.foreach(SpanIndex.maintainIndex(spark, _, accepted))
    }
    IngestReport(nBatch, nBatch - nChanged - nAdded, nChanged, nAdded, nChangedApplied,
      nAdded + nChangedApplied - nNovel, nNovel - nAccepted, nAccepted, compacted)
  }

  /** What one [[vectorIngest]] step did: `nKnownId + nKnownContent +
    * nAppended = nBatch`.
    */
  case class VectorIngestReport(nBatch: Long, nKnownId: Long, nKnownContent: Long,
                                nAppended: Long, reclustered: Boolean)

  /** The embedding's canonical digestable form: the exact float
    * rendering, element-joined — identical arrays digest identically
    * on any engine/partitioning, and the ExactIndex machinery (bloom
    * + bucketed digest table) applies unchanged.
    */
  private def vectorText(emb: Column): Column =
    array_join(transform(emb, x => x.cast("string")), ",")

  /** Stand up the stored pair [[vectorIngest]] folds into: the IVF-PQ
    * index over the seed corpus ([[IvfPq.writeIndex]]) plus a
    * content-digest exact index `<name>_vexact` over the embeddings'
    * canonical form. One call, mirroring `curateToBucketed` +
    * `ExactIndex.write` + `Dedup.writeNgramLshIndex` on the text side.
    */
  def initVectorIngest(embeddings: DataFrame, name: String, dim: Int = 64,
                       nlist: Int = 16, m: Int = 8, ks: Int = 64,
                       buckets: Int = 32): Unit = {
    IvfPq.writeIndex(embeddings, name, dim = dim, nlist = nlist, m = m, ks = ks,
      buckets = buckets)
    ExactIndex.write(
      embeddings.select(col("vec_id"), vectorText(col("embedding")).as("vtxt")),
      s"${name}_vexact", buckets = buckets, textCol = "vtxt")
  }

  /** ONE composed vector-corpus ingest step against a stored IVF-PQ
    * index `name` — the embedding twin of [[ingest]], previously
    * hand-composed from digest-dedup → [[IvfPq.appendToIndex]] →
    * drift rule:
    *
    *   1. vec_ids already in `<name>_vecs` drop (a REPLAYED batch
    *      no-ops end to end — id idempotence, now surfaced in the
    *      report rather than silently absorbed by the append);
    *   2. re-sent CONTENT under a new vec_id drops against the
    *      `<name>_vexact` digest index (bloom-pruned confirm join —
    *      the re-crawl analogue: a re-embedded duplicate document
    *      must not enter the index twice under two ids) — INCLUDING
    *      duplicates arriving within the same batch, which the stored
    *      index can't see yet: identical embeddings under two new ids
    *      keep only the lowest id (min-groupBy + semi join, counted
    *      in the same known-content bucket);
    *   3. survivors' digests append to the exact index, then the
    *      vectors fold into the IVF-PQ store against the FROZEN
    *      codebooks and the drift rule evaluates, reclustering when
    *      it fires ([[IvfPq.maintainIndex]]).
    *
    * The survivor set is localCheckpointed before any append (the
    * [[ingest]] lesson: every upstream frame reads the tables step 3
    * writes). Re-running the same batch is a no-op by construction.
    */
  def vectorIngest(batch: DataFrame, name: String,
                   maxDistGrowth: Double = 1.5,
                   maxSkewGrowth: Double = 2.0): VectorIngestReport = {
    val spark = batch.sparkSession
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    spark.catalog.refreshTable(s"${name}_vecs")
    val nBatch = batch.count()
    val freshIds = batch
      .join(spark.table(s"${name}_vecs"), col("vec_id") === col("c_id"), "left_anti")
      .withColumn("vtxt", vectorText(col("embedding")))
      .persist(MEMORY_AND_DISK)
    val nFreshId = freshIds.count()
    // intra-batch content dedup: the stored vexact probe only knows
    // PERSISTED digests, so two identical embeddings arriving in one
    // batch under different new ids would both survive it — keep the
    // lowest vec_id per vtxt before probing
    val firstPerContent = freshIds
      .groupBy(col("vtxt")).agg(min(col("vec_id")).as("vec_id"))
    val uniqueContent = freshIds.join(firstPerContent, Seq("vtxt", "vec_id"), "left_semi")
    val novel = uniqueContent
      .join(ExactIndex.flagAgainstIndex(uniqueContent, s"${name}_vexact",
        textCol = "vtxt", idCol = "vec_id")
        .filter(col("is_known")).select(col("doc_id").as("vec_id")),
        Seq("vec_id"), "left_anti")
      .localCheckpoint()
    val nNovel = novel.count()
    freshIds.unpersist(false)
    var reclustered = false
    if (nNovel > 0) {
      ExactIndex.append(novel.select(col("vec_id"), col("vtxt")),
        s"${name}_vexact", textCol = "vtxt")
      reclustered = IvfPq.maintainIndex(novel.select(col("vec_id"), col("embedding")),
        name, maxDistGrowth, maxSkewGrowth)
    }
    VectorIngestReport(nBatch, nBatch - nFreshId, nFreshId - nNovel, nNovel, reclustered)
  }
}
