package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Sampling

/** Streaming curation — the streaming twin of
  * [[graft.operators.Pipeline.curate]] for a continuously arriving
  * document stream (the ingest shape of a growing training corpus):
  *
  *   1. watermarked exact dedup ([[StreamingDedup.exactDedup]]: one
  *      state-store row per distinct content KEY inside the horizon,
  *      bounded memory on an unbounded stream — `keying` picks the
  *      batch pipeline's key domain: raw / canonical / routed
  *      (+ `minLossFs`), so a multilingual stream gets the same
  *      case/punct collapse and script protection as
  *      [[graft.operators.Pipeline.curateFull]]; "auto" must resolve
  *      BEFORE the stream starts — see [[StreamingDedup.exactDedup]]);
  *   2. quality filter — the SAME composite fixed-point score as the
  *      batch pipeline, a pure column expression on the micro-batch;
  *   3. repetition gate — duplicated-bigram ratio via the one-pass
  *      graft_ngram_stats kernel, also purely narrow;
  *   4. deterministic md5 split tagging ([[Sampling.splitColumn]] —
  *      engine/partitioning/arrival-order stable, so a doc gets the
  *      same split whether it arrived streaming or in a batch load).
  *
  * Near-dup LSH dedup is deliberately ABSENT here: candidate
  * generation is a corpus self-join, which has no bounded-state
  * streaming form — the batch [[graft.operators.Dedup.ngramLshPairs]] (or
  * the cross-corpus [[graft.operators.Dedup.ngramLshAgainst]] against
  * the already-accepted corpus) is the periodic compaction pass that
  * complements this stream.
  *
  * Only stage 1 keeps state, and only within the watermark; stages
  * 2–4 are stateless projections, so the stream's cost profile equals
  * the batch operators' per micro-batch.
  */
object StreamingPipeline {

  def curateStream(docs: DataFrame, tsCol: String, watermarkDelay: String,
                   minQualityFs: Long = 5000L,
                   maxRepetitionFs: Long = 9000L,
                   salt: String = "graft#",
                   keying: String = "raw", minLossFs: Long = 0L): DataFrame = {
    import graft.functions.TextFunctions._
    val deduped = StreamingDedup.exactDedup(docs, tsCol, watermarkDelay, keying, minLossFs)
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

  /** Streaming twin of the chunk fan-out stage of
    * [[graft.operators.Pipeline.prepareTrainingPieces]]: [[curateStream]] →
    * [[graft.operators.TextAnalysis.chunkPieces]]. Chunking is a pure
    * stateless map-side projection (tokenize → explode → slice → md5),
    * so it streams as-is — a chunk row is identical whether its doc
    * arrived streaming or in a batch load (spec-pinned); provenance
    * (source, split) rides the same projection.
    *
    * Sequence PACKING is deliberately ABSENT — the same boundary as
    * LSH near-dup dedup in [[curateStream]]: a chunk's
    * (bin_id, bin_offset) is a cumulative sum over ALL prior chunks
    * of its (split, source), which is unbounded state on an unbounded
    * stream, and any incremental assignment would be reshuffled by
    * the next arrival anyway (bins are a TRAINING-RUN layout, not an
    * ingest artifact). Packing is the periodic batch compaction pass
    * ([[graft.operators.Pipeline.prepareTrainingPieces]] /
    * [[graft.operators.TextAnalysis.pack]]) over the accumulated
    * curated chunks this stream lands.
    */
  def chunkStream(docs: DataFrame, tsCol: String, watermarkDelay: String,
                  chunkTokens: Int = 32, strideTokens: Int = 24,
                  minQualityFs: Long = 5000L,
                  maxRepetitionFs: Long = 9000L,
                  salt: String = "graft#",
                  keying: String = "raw", minLossFs: Long = 0L): DataFrame =
    graft.operators.TextAnalysis.chunkPieces(
      curateStream(docs, tsCol, watermarkDelay, minQualityFs, maxRepetitionFs, salt,
        keying, minLossFs),
      chunkTokens, strideTokens, carryCols = Seq("source", "split"))

  /** Classify a DOC STREAM against a stored exact-dedup index
    * ([[graft.operators.ExactIndex]]), one micro-batch at a time:
    * `sink` receives each batch's exact (doc_id, h, is_known) verdict
    * frame plus the batch id.
    *
    * foreachBatch — deliberately, not a stream-static join plan:
    * embedding [[graft.operators.ExactIndex.flagAgainstIndex]]
    * directly in a streaming plan would read the Bloom sketch ONCE at
    * plan time and broadcast it for the stream's whole life, so
    * content appended to the index mid-stream would probe a stale
    * sketch, skip the confirm join as "definitively new", and
    * misclassify — the no-false-negatives contract silently narrowed
    * to the corpus-at-stream-start. Re-running the batch operator per
    * micro-batch re-resolves bloom AND digests, so classifications
    * track the live index (an [[graft.operators.ExactIndex.append]]
    * between batches is honored by the next batch — spec-pinned).
    * Caller starts the returned writer (checkpoint, trigger).
    */
  def flagKnownStream(docs: DataFrame, name: String,
                      textCol: String = "text", idCol: String = "doc_id")
                     (sink: (DataFrame, Long) => Unit)
  : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      sink(graft.operators.ExactIndex.flagAgainstIndex(batch, name, textCol, idCol), batchId)
    }

  /** Fold a raw event STREAM into a stored sketch table
    * ([[graft.operators.Sketches]]) one micro-batch at a time —
    * streaming distinct-count ingest where the "state" is the bounded
    * stored sketch table itself, not a state store: queryable
    * mid-stream (estimateSketchTable / rollupSketchTable read the
    * live generation), and replay-safe without sink-side dedup
    * bookkeeping — a re-delivered batch's values are no-ops inside
    * the sketches, so at-least-once delivery still yields exactly-once
    * ESTIMATES (the batch-side idempotence spec, exercised per
    * micro-batch here). foreachBatch for the flagKnownStream reason:
    * each batch must merge into (and re-resolve) the LIVE table, not
    * a plan-time snapshot.
    */
  def sketchIngestStream(events: DataFrame, name: String)
  : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      graft.operators.Sketches.appendToSketchTable(batch.sparkSession, name, batch)
    }

  /** The frequency-table ingest twin. Unlike HLL (where replayed
    * values are sketch no-ops), frequency counts are ADDITIVE — so
    * this twin passes the micro-batch id through to
    * [[graft.operators.Sketches.appendToFreqTable]], which stamps it
    * into the same atomic generation flip as the merged counts: a
    * redelivered batch (foreachBatch is at-least-once on retry)
    * no-ops against the stamp, making the stored ESTIMATES
    * exactly-once.
    */
  def freqIngestStream(items: DataFrame, name: String)
  : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    items.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      graft.operators.Sketches.appendToFreqTable(batch.sparkSession, name, batch, batchId)
    }

  /** The quantile-table ingest twin — GK summaries are
    * weight-additive like frequency counts, so the micro-batch id
    * passes through to the same atomic batch-id-stamped append
    * ([[graft.operators.Sketches.appendToQuantileTable]]): stored
    * percentiles are exactly-once under at-least-once delivery.
    */
  def quantileIngestStream(values: DataFrame, name: String)
  : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    values.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      graft.operators.Sketches.appendToQuantileTable(batch.sparkSession, name, batch, batchId)
    }

  /** The theta-table ingest twin — the funnel/retention feed. Like
    * HLL (and unlike frequency/quantile), theta union is
    * insertion-idempotent, so a redelivered micro-batch's values are
    * sketch no-ops and NO batch-id bookkeeping is needed: the stored
    * funnel ([[graft.operators.Sketches.overlapFromThetaTable]]) is
    * exactly-once under at-least-once delivery by construction, and
    * queryable mid-stream against the live generation.
    */
  def thetaIngestStream(events: DataFrame, name: String)
  : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      graft.operators.Sketches.appendToThetaTable(batch.sparkSession, name, batch)
    }

  /** The span-index ingest twin — the crawl loop for exact-substring
    * dedup: each micro-batch is FLAGGED against the live index first
    * (spans repeated vs the corpus so far — read-only, handed to the
    * caller's sink with the batch id) and then folded in, so later
    * batches see this one's grams. The fold no-ops on redelivery
    * structurally (absorbed grams anti-join away — the ExactIndex
    * idempotence, no batch-id bookkeeping); the flag re-runs on
    * redelivery — sinks key on the batch id like every foreachBatch
    * consumer.
    */
  def spanIngestStream(docs: DataFrame, name: String, minSpanTokens: Int = 16)
                      (sink: (DataFrame, Long) => Unit)
  : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      sink(graft.operators.SpanIndex.flagAgainstIndex(batch.sparkSession, name, batch,
        minSpanTokens), batchId)
      graft.operators.SpanIndex.appendToIndex(batch.sparkSession, name, batch)
    }

  /** The stored-vocabulary ingest twin — each micro-batch's token
    * counts SUM-merge into the count table UNDER THE BATCH STAMP
    * ([[graft.operators.VocabTable.appendToVocabTable]]), so
    * redelivery no-ops: exactly-once under at-least-once, the
    * freq/quantile-table contract. The drift loop stays the caller's:
    * poll [[graft.operators.VocabTable.vocabNeedsRetrain]] between
    * batches (or run `maintainVocabTable` in a batch job) and the
    * tokenizer retrains from the stored counts when it fires.
    */
  def vocabIngestStream(docs: DataFrame, name: String)
  : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      graft.operators.VocabTable.appendToVocabTable(batch.sparkSession, name, batch, batchId)
    }

  /** The cohort-matrix ingest twin — raw events fold into the
    * first-seen companion (min-merge, idempotent) and the theta cells
    * (insertion-idempotent), so day-ordered ingest reproduces the
    * batch triangle exactly and a redelivered micro-batch no-ops end
    * to end — no batch-id bookkeeping, like the theta/HLL twins.
    * Out-of-order EARLIER first appearances accumulate in the drift
    * counter instead of silently skewing cells; poll
    * [[graft.operators.Cohort.cohortNeedsRebuild]] between batches
    * and reconcile via `rebuildMatrixTable` when it fires.
    */
  def cohortIngestStream(events: DataFrame, name: String)
  : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      graft.operators.Cohort.appendToMatrixTable(batch.sparkSession, name, batch)
      ()
    }
}
