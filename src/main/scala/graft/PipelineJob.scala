package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.Pipeline
import graft.sources.Sinks
import graft.streaming.StreamingPipeline

/** CLI: run the training-data curation pipeline over a document
  * corpus and land the curated output partitioned by (split, lang) —
  * the layout every downstream trainer reads with partition pruning.
  *
  * Two arrival modes, mirroring the library's batch/stream twins:
  *
  *   tools/run.sh graft.PipelineJob batch    <docsParquet> <outDir>    [minQualityFs] [keying]
  *   tools/run.sh graft.PipelineJob bucketed <docsParquet> <tableName> [minQualityFs] [keying]
  *   tools/run.sh graft.PipelineJob training <docsParquet> <outDir>    [minQualityFs] [keying]
  *   tools/run.sh graft.PipelineJob stream   <docsDir>     <outDir>    [minQualityFs] [keying]
  *   tools/run.sh graft.PipelineJob maintain-ivf <batchParquet> <indexName>
  *   tools/run.sh graft.PipelineJob maintain-lsh <batchParquet> <indexName>
  *   tools/run.sh graft.PipelineJob maintain-vocab <batchParquet> <vocabName> <batchId>
  *   tools/run.sh graft.PipelineJob ingest <batchParquet> <corpusName> [apply-changed]
  *   tools/run.sh graft.PipelineJob vacuum <table> <keepGenerations>
  *
  * batch: [[Pipeline.curate]] — exact dedup → LSH near-dup dedup →
  *   quality + repetition gates → split tag, one composed plan.
  * bucketed: [[Pipeline.curateToBucketed]] — same curation, landed as
  *   a doc_id-bucketed sorted TABLE (full columns, text included) so
  *   every later doc-keyed join (incremental-crawl dedup against this
  *   corpus as reference) skips its shuffle on the corpus side.
  * training: [[Pipeline.prepareTrainingPieces]] — the trainer-ready layout
  *   (curate → context-window chunks → packed sequences), partitioned
  *   by (split, source) so a trainer reads one mixture component per
  *   directory with partition pruning.
  * maintain-ivf / maintain-lsh: one INDEX-MAINTENANCE step per
  *   invocation — the per-batch loop of a long-running crawl:
  *   append the batch, then recluster the IVF index when the drift
  *   rule fires ([[graft.operators.Similarity.maintainIvfIndex]]) /
  *   compact the LSH index when per-bucket files cross the threshold
  *   ([[graft.operators.Dedup.maintainNgramLshIndex]]). The index
  *   must already exist (writeIvfIndex / writeNgramLshIndex); the
  *   session's warehouse must be the one holding it
  *   (SPARK_GRAFT_WAREHOUSE).
  * ingest: [[Pipeline.ingest]] — the COMPOSED incremental-crawl step
  *   against a stored corpus `<name>`: snapshot churn (unchanged
  *   re-crawls drop, changed docs report) → bloom-accelerated exact
  *   dedup → stored-LSH near-dup flag → survivors append to the
  *   exact index, the LSH index (with its compaction rule), and the
  *   corpus table. Requires `<name>_corpus` / `<name>_exact` /
  *   `<name>_lsh` to exist; idempotent per batch.
  * vacuum: [[graft.sources.Sinks.vacuumGenerations]] — reclaim a
  *   maintained table's old generation directories past the given
  *   retention window (0 = keep only the live generation). The quiet
  *   maintenance-window step that bounds what the per-flip retention
  *   deliberately leaves behind.
  * stream: [[StreamingPipeline.curateStream]] over a checkpointed
  *   parquet FILE STREAM — each new file dropped into `docsDir` is a
  *   micro-batch. Runs with Trigger.AvailableNow: processes everything
  *   not yet seen and exits, so successive invocations are
  *   INCREMENTAL (the checkpoint under `<outDir>_checkpoint` remembers
  *   processed files AND the dedup state store, so a dup of an
  *   already-accepted doc arriving in a later run is still dropped —
  *   within the watermark horizon). Near-dup LSH has no bounded-state
  *   streaming form; the batch mode over the accumulated output is the
  *   periodic compaction complement (see StreamingPipeline scaladoc).
  */
object PipelineJob {

  /** Streaming curation, callable from tests: consume whatever is in
    * `in` that the checkpoint has not seen, land curated rows under
    * `out` partitioned by (split, lang), then return.
    *
    * Documents carry no event time, so arrival time is stamped as the
    * watermark clock: dedup state then lives `watermarkDelay` past
    * each content hash's last ARRIVAL — the natural horizon for an
    * ingest stream.
    *
    * `keying` (r20): raw / canonical / routed (+ `minLossFs`) key the
    * stage-1 exact dedup exactly like the batch pipeline. "auto" is
    * resolved HERE, before the stream starts, from the batch of files
    * already present in the watch dir (the seed corpus — the same
    * [[Pipeline.chooseKeying]] scan the batch auto runs): an auto
    * inside the streaming plan would freeze whatever mix construction
    * saw and silently mis-key later arrivals (see
    * [[graft.streaming.StreamingDedup.exactDedup]]). The resolution
    * is per-INVOCATION: successive AvailableNow runs re-read the
    * accumulated dir, so the decision tracks the corpus as it grows —
    * but within one run the mode is frozen, like every streaming plan
    * choice. NOTE: changing the effective mode between runs re-keys
    * only FUTURE arrivals (state from prior runs was keyed under the
    * old mode); pin an explicit mode for a strict cross-run contract.
    */
  def runStream(spark: SparkSession, in: String, out: String,
                minQualityFs: Long = 5000L,
                maxRepetitionFs: Long = 9000L,
                watermarkDelay: String = "10 minutes",
                keying: String = "raw", minLossFs: Long = 0L): Unit = {
    // a file stream needs an explicit schema: seed it from the files
    // already present (cheap — footer read, no data scan). An empty
    // watch dir is the NORMAL bootstrap for an incremental ingest job
    // — nothing to consume yet, not an error
    val schema =
      try spark.read.parquet(in).schema
      catch {
        case e: org.apache.spark.sql.AnalysisException if e.getMessage.contains("infer schema") =>
          System.err.println(s"[pipeline] no parquet files in '$in' yet — nothing to consume")
          return
      }
    val resolved =
      if (keying == "auto") {
        val mode = Pipeline.chooseKeying(spark.read.parquet(in))
        println(s"[pipeline] keying=auto resolved to '$mode' from the seed corpus in '$in'")
        mode
      } else keying
    val docs = spark.readStream.schema(schema).parquet(in)
      .withColumn("ingest_ts", current_timestamp())
    val curated = StreamingPipeline
      .curateStream(docs, "ingest_ts", watermarkDelay,
        minQualityFs = minQualityFs, maxRepetitionFs = maxRepetitionFs,
        keying = resolved, minLossFs = minLossFs)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        col("score_fs"), col("rep_fs"), col("split"))
    val q = curated.writeStream
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", s"${out.stripSuffix("/")}_checkpoint")
      .partitionBy("split", "lang")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Resolve a CLI keying argument for the BATCH curation modes:
    * explicit modes pass through (curateFull validates them), "auto"
    * runs [[Pipeline.chooseKeyingDecision]] ONCE here and PRINTS the
    * decision with the mix snapshot it read (mode, doc counts, the
    * fixed-point share and corpus canonical-loss measures) — the
    * observability the silent in-operator auto lacked (r20): a
    * curation job's log now says WHY the corpus keyed the way it did.
    * Returns the resolved mode so the pipeline itself doesn't rescan.
    */
  def resolveKeying(docs: org.apache.spark.sql.DataFrame, keying: String): String =
    if (keying != "auto") keying
    else {
      val d = Pipeline.chooseKeyingDecision(docs).collect()(0)
      println(s"[pipeline] keying=auto decision: mode=${d.getAs[String]("mode")} " +
        s"n_docs=${d.getAs[Long]("n_docs")} nonlatin_docs=${d.getAs[Long]("nonlatin_docs")} " +
        s"docs_share_fs=${d.getAs[Long]("docs_share_fs")} " +
        s"char_loss_fs=${d.getAs[Long]("char_loss_fs")} " +
        s"min_routed_share_fs=${d.getAs[Long]("min_routed_share_fs")}")
      d.getAs[String]("mode")
    }

  /** One job-level index-maintenance step: read the batch, dispatch
    * to the index family's append→maintain loop, report whether the
    * heavy pass (recluster / compaction) fired. Factored out of
    * [[main]] so the E2E spec drives the exact job path.
    */
  def runMaintain(spark: SparkSession, mode: String, batchPath: String,
                  indexName: String, historyPath: Option[String] = None): Boolean = {
    // eager: the history frame itself stays lazy (the quiet path never
    // scans it), but a MISSING path must fail at dispatch — deferred
    // into the by-name argument it would only surface mid-job on the
    // first batch whose drift fires a rebuild
    require(mode != "maintain-cohort" || historyPath.nonEmpty,
      "maintain-cohort needs <historyParquet> as the 4th argument")
    // eager too: the stamp is what makes a re-run of this CLI no-op
    // instead of double-counting the stored vocabulary — an unstamped
    // maintain-vocab is not offered (ADVICE r17)
    require(mode != "maintain-vocab" ||
      historyPath.exists(s => s.forall(_.isDigit) && s.nonEmpty),
      "maintain-vocab needs a non-negative <batchId> as the 4th argument " +
        "(the replay stamp: re-running the job with the same id no-ops)")
    val batch = readWithTs(spark, batchPath)
    val fired = mode match {
      case "maintain-ivf" =>
        graft.operators.Similarity.maintainIvfIndex(batch, indexName)
      case "maintain-lsh" =>
        graft.operators.Dedup.maintainNgramLshIndex(batch, indexName)
      case "maintain-span" =>
        graft.operators.SpanIndex.maintainIndex(spark, indexName, batch)
      case "maintain-vocab" =>
        graft.operators.VocabTable.maintainVocabTable(spark, indexName, batch,
          batchId = historyPath.get.toLong)
      case "maintain-cohort" =>
        graft.operators.Cohort.maintainMatrixTable(spark, indexName, batch,
          readWithTs(spark, historyPath.getOrElse(
            sys.error("maintain-cohort needs <historyParquet> as the 4th argument"))))
    }
    val pass = mode match {
      case "maintain-ivf" => "recluster"
      case "maintain-cohort" => "rebuild"
      case "maintain-vocab" => "retrain"
      case _ => "compaction"
    }
    println(s"index maintenance: $indexName (mode=$mode) $pass ${if (fired) "RAN" else "not needed"}")
    fired
  }

  /** Read an events-shaped parquet batch, normalizing TIMESTAMP(NANOS)
    * columns read as long under nanosAsLong (the Tables.events
    * conversion, applied here because the batch path is arbitrary).
    */
  private def readWithTs(spark: SparkSession, path: String): org.apache.spark.sql.DataFrame = {
    val raw = spark.read.parquet(path)
    if (!raw.columns.contains("ts")) raw
    else raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw
    }
  }

  /** One job-level telemetry-sketch ingest step: fold one
    * events-shaped parquet batch into the named stored sketch group —
    * `<name>_users` (HLL distinct users per (event_type, day);
    * replay-idempotent by construction) and `<name>_values` (GK
    * value summaries per event_type; exactly-once via the monotone
    * `batchId` stamp). First call bootstraps EMPTY tables then
    * appends, so batch 0's id is stamped like every other batch.
    * Estimates/percentiles for any day range then answer from the
    * bounded sketch tables — the raw batches can be archived cold.
    * Factored out of [[main]] so the E2E spec drives the exact job
    * path.
    */
  def runSketchIngest(spark: SparkSession, batchPath: String, name: String,
                      batchId: Long): Unit = {
    import graft.operators.Sketches
    val raw = spark.read.parquet(batchPath)
    // TIMESTAMP(NANOS) batches read as long under nanosAsLong — the
    // Tables.events conversion, applied here because the batch path
    // is arbitrary
    val tsFixed = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw
    }
    val ev = tsFixed.withColumn("d", unix_timestamp(date_trunc("day", col("ts"))))
    val users = ev.select(col("event_type"), col("d"), col("user_id"))
    val vals = ev.select(col("event_type"), col("value"))
    // the funnel store: per-(cohort, day) theta sketches, so any
    // day-range clickers∩purchasers answers from the bounded table
    // (free-replay append — theta is the insertion-idempotent tier,
    // no batch-id needed)
    val funnel = ev.filter(col("event_type").isin("click", "purchase"))
      .select(col("event_type"), col("d"), col("user_id"))
    if (!spark.catalog.tableExists(s"${name}_users_sketches")) {
      Sketches.writeSketchTable(spark, s"${name}_users", users.limit(0),
        Seq("event_type", "d"), "user_id")
      Sketches.writeQuantileTable(spark, s"${name}_values", vals.limit(0),
        Seq("event_type"), "value")
      Sketches.writeThetaTable(spark, s"${name}_funnel", funnel.limit(0),
        Seq("event_type", "d"), "user_id")
    }
    Sketches.appendToSketchTable(spark, s"${name}_users", users)
    Sketches.appendToQuantileTable(spark, s"${name}_values", vals, batchId)
    Sketches.appendToThetaTable(spark, s"${name}_funnel", funnel)
    val nGroups = spark.table(s"${name}_users_sketches").count()
    println(s"sketch ingest into $name: batch=$batchId " +
      s"user-sketch groups=$nGroups (estimates answer from the stored tables)")
  }

  /** One job-level composed ingest step — reads the batch, runs
    * [[Pipeline.ingest]], prints the report. Factored out of [[main]]
    * so the E2E spec drives the exact job path.
    */
  def runIngest(spark: SparkSession, batchPath: String, corpusName: String,
                applyChanged: Boolean = false): Pipeline.IngestReport = {
    val report = Pipeline.ingest(spark.read.parquet(batchPath), corpusName,
      applyChanged = applyChanged)
    println(s"ingest into $corpusName: batch=${report.nBatch} " +
      s"unchanged=${report.nUnchanged} changed=${report.nChanged} " +
      s"(applied=${report.nChangedApplied}) " +
      s"exact-dup=${report.nExactDup} near-dup=${report.nNearDup} " +
      s"accepted=${report.nAccepted} compaction ${if (report.compacted) "RAN" else "not needed"}")
    report
  }

  /** One job-level composed vector-ingest step — reads the embedding
    * batch, runs [[Pipeline.vectorIngest]], prints the report.
    * Factored out of [[main]] so the E2E spec drives the exact job
    * path.
    */
  def runVectorIngest(spark: SparkSession, batchPath: String, indexName: String)
  : Pipeline.VectorIngestReport = {
    val report = Pipeline.vectorIngest(spark.read.parquet(batchPath), indexName)
    println(s"vector ingest into $indexName: batch=${report.nBatch} " +
      s"known-id=${report.nKnownId} known-content=${report.nKnownContent} " +
      s"appended=${report.nAppended} " +
      s"recluster ${if (report.reclustered) "RAN" else "not needed"}")
    report
  }

  def main(args: Array[String]): Unit = {
    val modes = Set("batch", "bucketed", "training", "stream", "maintain-ivf", "maintain-lsh",
      "maintain-span", "maintain-vocab", "maintain-cohort", "ingest", "vacuum",
      "sketch-ingest", "vector-ingest")
    require(args.length >= 3 && modes(args(0)),
      "usage: PipelineJob batch|bucketed|training|stream|maintain-ivf|maintain-lsh|" +
        "maintain-span|maintain-vocab|maintain-cohort|ingest|vacuum|sketch-ingest|" +
        "vector-ingest " +
        "<docsPath|table> <outDir|tableName|indexName|keepGenerations> " +
        "[minQualityFs|batchId|historyParquet]")
    val (mode, in, out) = (args(0), args(1), args(2))
    // lazy: maintain-cohort's 4th argument is a PATH, not a number
    lazy val minQ = if (args.length > 3) args(3).toLong else 5000L
    // the maintenance modes operate on managed index tables — point
    // the session at the warehouse that holds them
    val spark = Sessions.local(
      warehouse = sys.env.getOrElse("SPARK_GRAFT_WAREHOUSE", "spark-warehouse"))

    if (mode.startsWith("maintain-")) {
      runMaintain(spark, mode, in, out, args.lift(3))
      spark.stop()
      return
    }
    if (mode == "ingest") {
      runIngest(spark, in, out, applyChanged = args.lift(3).contains("apply-changed"))
      spark.stop()
      return
    }
    if (mode == "sketch-ingest") {
      runSketchIngest(spark, in, out, args.lift(3).map(_.toLong).getOrElse(-1L))
      spark.stop()
      return
    }
    if (mode == "vector-ingest") {
      runVectorIngest(spark, in, out)
      spark.stop()
      return
    }
    if (mode == "vacuum") {
      val deleted = Sinks.vacuumGenerations(spark, in, out.toInt)
      println(s"vacuum $in: $deleted generation director${if (deleted == 1) "y" else "ies"} reclaimed (kept ${out.toInt} below live)")
      spark.stop()
      return
    }

    // optional 5th arg on the curation modes: keying
    // (raw/canonical/routed/auto — auto resolves ONCE up front, with
    // the decision and its mix snapshot printed; stream resolves from
    // the seed corpus before the stream starts)
    val keyingArg = args.lift(4).getOrElse("")
    mode match {
      case "batch" =>
        val docs = spark.read.parquet(in)
        val curated = Pipeline.curate(docs, minQualityFs = minQ,
          keying = resolveKeying(docs, keyingArg))
        Sinks.writePartitioned(curated, out, Seq("split", "lang"))
      case "bucketed" =>
        val docs = spark.read.parquet(in)
        Pipeline.curateToBucketed(docs, out, minQualityFs = minQ,
          keying = resolveKeying(docs, keyingArg))
      case "training" =>
        val docs = spark.read.parquet(in)
        Sinks.writePartitioned(
          Pipeline.prepareTrainingPieces(docs, minQualityFs = minQ,
            keying = resolveKeying(docs, keyingArg)),
          out, Seq("split", "source"))
      case "stream" =>
        runStream(spark, in, out, minQ,
          keying = if (keyingArg.isEmpty) "raw" else keyingArg)
    }

    // a first stream run can legitimately land zero data files (empty
    // watch dir, or every doc gated out) — report instead of crashing
    // on the schemaless output dir
    try {
      val landed = if (mode == "bucketed") spark.table(out) else spark.read.parquet(out)
      val summary =
        if (mode == "training")
          landed.groupBy(col("split")).agg(count(lit(1)).as("n_chunks"),
            countDistinct(col("doc_id")).as("n_docs"),
            sum(col("n_chunk_tokens")).as("n_tokens"))
            .orderBy(col("split"))
        else
          landed.groupBy(col("split")).agg(count(lit(1)).as("n_docs"),
            round(avg(col("score_fs")), 1).as("avg_score_fs"))
            .orderBy(col("split"))
      println(s"curated corpus: $out (mode=$mode)")
      summary.show(10, truncate = false)
    } catch {
      case e: org.apache.spark.sql.AnalysisException =>
        println(s"curated corpus: $out — no data files yet (${e.getMessage.linesIterator.next()})")
    }
    spark.stop()
  }
}
