package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.operators._

/** Driver contract — the full SURVEY.md §2 inventory.
  *
  * Every key has a builder in `queries`; SQL-expressible ones have a
  * DuckDB twin in `oracleSql` (see Oracles.scala for the parity
  * rules). Keys without an oracle (LSH/simhash/fingerprint/multimodal
  * — not SQL-expressible) are rows-only checked here and
  * property-checked in src/test/scala.
  *
  * Pair, label, chunk and churn operators return unordered rows; the
  * oracle compares rows by position, so an oracle-checked key over
  * one of them states its oracle's ORDER BY here, at the entry, with
  * [[ordered]].
  */
object SparkEntry {

  /** `df` sorted by `keys` inside ONE partition: a round-robin exchange
    * and a local sort, so no range exchange and no sampling job that
    * re-runs the generator. `Verify`'s `coalesce(1)` writes this order
    * unchanged; each oracle's key is a total order.
    */
  private def ordered(df: DataFrame, keys: String*): DataFrame =
    df.repartition(1).sortWithinPartitions(keys.map(col): _*)

  /** Flagship query on sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1Agg(spark, "/root/testdata/sf0.001")

  private def pts2d(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).select(
      col("c_custkey").cast("long").as("id"),
      col("c_acctbal").cast("double").as("x"),
      col("c_nationkey").cast("double").as("y"))

  private def embPts(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).select(
      col("vec_id").cast("long").as("id"),
      toDoubleArray(col("embedding")).as("v"))

  /** The planted multilingual text for the text_script/_mix keys —
    * one stripe per named script keyed off doc_id moduli (the %12
    * Georgian stripe became a NAMED counter in r20; the %13 Gujarati
    * stripe takes over exercising the `n_other` remainder, and
    * %14–%16 plant the other r20 ring: armenian/bengali/tamil); MUST
    * stay expression-identical to Oracles.scriptPlantSql (same
    * stripes, same moduli, same order).
    */
  private def scriptPlant: org.apache.spark.sql.Column =
    concat(expr("repeat('你好 ', CAST(doc_id % 4 AS INT))"), col("text"),
      expr("repeat(' мир7', CAST(doc_id % 3 AS INT))"),
      expr("repeat(' سلام9', CAST(doc_id % 2 AS INT))"),
      expr("repeat(' नमस्ते8', CAST(doc_id % 5 AS INT))"),
      expr("repeat(' 안녕6', CAST(doc_id % 6 AS INT))"),
      expr("repeat(' あい5', CAST(doc_id % 7 AS INT))"),
      expr("repeat(' アイ4', CAST(doc_id % 8 AS INT))"),
      expr("repeat(' γεια2', CAST(doc_id % 9 AS INT))"),
      expr("repeat(' สวัสดี', CAST(doc_id % 10 AS INT))"),
      expr("repeat(' שלום1', CAST(doc_id % 11 AS INT))"),
      expr("repeat(' ჯა', CAST(doc_id % 12 AS INT))"),
      expr("repeat(' ગજ2', CAST(doc_id % 13 AS INT))"),
      expr("repeat(' Հայ3', CAST(doc_id % 14 AS INT))"),
      expr("repeat(' বাং', CAST(doc_id % 15 AS INT))"),
      expr("repeat(' தமி', CAST(doc_id % 16 AS INT))"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- B-suite: relational core ----
    "q1_agg" -> (Relational.q1Agg _),
    "q2_filter_project" -> (Relational.q2FilterProject _),
    "q3_join_agg" -> (Relational.q3JoinAgg _),
    "q4_broadcast_join" -> (Relational.q4BroadcastJoin _),
    "q5_multi_join" -> (Relational.q5MultiJoin _),
    "q6_window" -> (Relational.q6Window _),
    "q7_distinct_agg" -> (Relational.q7DistinctAgg _),
    "q8_semi_anti" -> (Relational.q8SemiAnti _),
    "q9_rollup" -> (Relational.q9Rollup _),
    "q10_topk" -> (Relational.q10TopK _),
    "q11_events_window" -> (Relational.q11EventsWindow _),
    "q12_sessionize" -> (Relational.q12Sessionize _),
    "q13_case_agg" -> (Relational.q13CaseAgg _),
    "q14_exists_subquery" -> (Relational.q14ExistsSubquery _),
    "q15_scalar_subquery" -> (Relational.q15ScalarSubquery _),
    "q16_percentile" -> (Relational.q16Percentile _),
    // rows-only: the GK sketch returns actual group elements under a
    // RANK-error bound — not value-comparable to DuckDB's different
    // approx sketch; RelationalSpec gates it against the exact path
    "q16_percentile_approx" -> ((s, dir) => Relational.approxPercentile(s, dir)),
    "q17_asof_join" -> ((s, dir) => Temporal.asofJoin(Tables.events(s, dir))),
    "q18_range_join" -> ((s, dir) => Temporal.rangeJoinCount(Tables.events(s, dir))),
    "q19_json_agg" -> (Relational.q19JsonAgg _),
    "q20_cube" -> (Relational.q20Cube _),
    "q21_unpivot" -> (Relational.q21Unpivot _),
    "q22_window_offsets" -> (Relational.q22WindowOffsets _),
    "q23_pivot" -> (Relational.q23Pivot _),
    "q24_set_ops" -> (Relational.q24SetOps _),
    "q25_grouping_sets" -> (Relational.q25GroupingSets _),
    "q26_lateral_topn" -> (Relational.q26LateralTopN _),
    // mergeable HLL distinct: oracle-exact at gate scale (coupon
    // regime — SketchesSpec pins the regime boundary); the _gate twin
    // is the any-scale 3σ honesty check + mergeability assertion
    // scale-adaptive form (r19): exact counts hash-check cross-engine
    // at ANY scale and in3s pins the HLL estimate inside its own 3σ
    // envelope per group — the r13-r18 raw-estimate form was
    // oracle-checkable only inside the coupon regime (the documented
    // sf0.1 526-vs-527 divergence, now gone)
    "sketch_distinct" -> (Sketches.distinctUsersDailyChecked(_, _)),
    "sketch_distinct_gate" -> (Sketches.distinctGate(_, _)),
    // custom Catalyst TypedImperativeAggregate (freq_sketch_agg) —
    // heavy hitters as skew discovery; oracle-exact below the purge
    // threshold, saturated regime spec-pinned + bounds-gated
    "sketch_heavy_hitters" -> ((s, dir) => Sketches.heavyHitterTokens(s, dir)),
    "sketch_heavy_hitters_gate" -> (Sketches.heavyHittersGate(_, _)),
    // rows-only: GK returns actual stream elements under a RANK-error
    // bound (the q16_percentile_approx precedent); the gate key
    // measures that bound against the exact sorted data
    "sketch_quantiles" -> (Sketches.quantilesByType(_, _)),
    "sketch_quantiles_gate" -> ((s, dir) => Sketches.quantilesGate(s, dir)),
    // theta sketches: distinct-set INTERSECTIONS/DIFFERENCES (the
    // funnel query HLL can't answer) — exact mode at gate scale →
    // oracle; the gate key checks the sketches' own 3σ envelopes
    "sketch_set_overlap" -> ((s, dir) => Sketches.setOverlapDaily(s, dir)),
    "sketch_set_overlap_gate" -> ((s, dir) => Sketches.setOverlapGate(s, dir)),
    // N-step conversion funnel (view → click → purchase) as cumulative
    // theta intersections over ONE scan — exact mode at gate scale →
    // hash-matches the flag-product oracle
    "sketch_funnel" -> ((s, dir) => Sketches.funnelDaily(s, dir)),
    // ORDERED funnel: steps must happen in temporal sequence — greedy
    // depth fold over one shuffle vs the oracle's join-per-step form
    "funnel_ordered" -> ((s, dir) => Funnel.orderedDaily(s, dir)),
    // conversion latency: the matched-timestamp array carries the
    // chain endpoints out of the same single-shuffle fold
    "funnel_lag" -> ((s, dir) => Funnel.lagDaily(s, dir)),
    // time-to-convert percentiles: matched lags through the GK
    // quantile-sketch tier — rank-exact below 1/(2ε) conversions/day,
    // so the oracle picks the element at the same ⌈q·n⌉ rank
    "funnel_lag_quantiles" -> ((s, dir) => Funnel.lagQuantilesDaily(s, dir)),
    // N-day retention: day-d ∩ day-(d+lag) audiences as sketch algebra
    // over the bounded per-day frame — exact mode at gate scale
    "sketch_retention" -> ((s, dir) => Sketches.retentionDaily(s, dir)),
    // multi-touch attribution: banded lookback range join + ONE
    // window shuffle emits last/first/linear credit in a single pass
    "attribution_credit" -> ((s, dir) => Attribution.creditDaily(s, dir)),
    // parameterized decay half-life: 30-day lookback at H = 7 days —
    // weights 2^((29 − lag) div 7) stay exact integer shifts
    "attribution_credit_hl7" -> ((s, dir) =>
      Attribution.creditDaily(s, dir, lookbackSec = 30L * 86400L, halfLifeDays = 7)),
    // the stored credit ledger end-to-end: persist the bounded
    // (d, model) frame, answer from the store — same oracle
    "attribution_credit_stored" -> ((s, dir) => {
      Attribution.writeCreditTable(s, "gate_credit", Attribution.creditDaily(s, dir))
      Attribution.creditFromTable(s, "gate_credit")
    }),
    // session-grain funnel: q12's gap-sessions + the greedy fold per
    // (user, session), sessions rolled up to their start day
    "funnel_session" -> ((s, dir) => Funnel.sessionDaily(s, dir)),
    // session-grain time-to-convert: the matched-times fold's chain
    // endpoints, sessions on their start day — lagDaily's session twin
    "funnel_lag_session" -> ((s, dir) => Funnel.lagSessionDaily(s, dir)),
    // top-k user-journey paths per day: one (day, user) shuffle builds
    // the sequences, WindowGroupLimit caps the per-day rank shuffle
    "path_topk" -> ((s, dir) => PathAnalysis.topkDaily(s, dir)),
    // Markov transition matrix: lead-paired adjacent steps reduced to
    // the bounded (day, src, dst) frame — the sankey's edge weights
    "path_transitions" -> ((s, dir) => PathAnalysis.transitionsDaily(s, dir)),
    // session-grain journeys: top-k per-session paths and the
    // within-session transition matrix, sessions on their start day
    "path_session" -> ((s, dir) => PathAnalysis.topkSession(s, dir)),
    "path_transitions_session" -> ((s, dir) => PathAnalysis.transitionsSession(s, dir)),
    // the session LEDGER end-to-end: one per-session pass populates
    // three bounded stored tables; each reader answers its dashboard
    // from the store alone, hash-matching the direct keys' oracles
    "session_ledger_funnel" -> ((s, dir) => {
      SessionLedger.writeFunnelTable(s, "gate_ledger_f",
        SessionLedger.sessionRows(graft.Tables.events(s, dir)))
      SessionLedger.funnelDaily(s, "gate_ledger_f")
    }),
    "session_ledger_paths" -> ((s, dir) => {
      SessionLedger.writePathsTable(s, "gate_ledger_p",
        SessionLedger.sessionRows(graft.Tables.events(s, dir)))
      SessionLedger.topkPaths(s, "gate_ledger_p")
    }),
    "session_ledger_transitions" -> ((s, dir) => {
      SessionLedger.writeEdgesTable(s, "gate_ledger_t",
        SessionLedger.sessionRows(graft.Tables.events(s, dir)))
      SessionLedger.transitions(s, "gate_ledger_t")
    }),
    // stored additive-count lifecycles end-to-end: persist the bounded
    // frame, answer from the store alone — exact, same oracles
    "path_transitions_stored" -> ((s, dir) => {
      PathAnalysis.writeTransitionsTable(s, "gate_transitions", graft.Tables.events(s, dir))
      PathAnalysis.transitionsFromTable(s, "gate_transitions")
    }),
    "path_topk_stored" -> ((s, dir) => {
      PathAnalysis.writePathsTable(s, "gate_paths", graft.Tables.events(s, dir))
      PathAnalysis.topkFromTable(s, "gate_paths")
    }),
    "funnel_ordered_stored" -> ((s, dir) => {
      Funnel.writeDailyTable(s, "gate_funnel_daily", graft.Tables.events(s, dir))
      Funnel.dailyFromTable(s, "gate_funnel_daily")
    }),
    // event-volume anomaly z-scores: integer-exact window sums keep
    // the IEEE algebra bit-identical cross-engine; floor(1000·z)
    "events_anomaly" -> ((s, dir) => Anomaly.eventVolume(s, dir)),
    "events_anomaly_stored" -> ((s, dir) => {
      Anomaly.writeVolumeTable(s, "gate_volume", graft.Tables.events(s, dir))
      Anomaly.volumeFromTable(s, "gate_volume")
    }),
    // the SAME stored volume table answers the seasonal baselines and
    // the gap-fill spine — one bounded count table, three dashboards
    "events_anomaly_seasonal_stored" -> ((s, dir) => {
      Anomaly.writeVolumeTable(s, "gate_volume_sea", graft.Tables.events(s, dir))
      Anomaly.seasonalFromTable(s, "gate_volume_sea")
    }),
    "events_gapfill_stored" -> ((s, dir) => {
      Anomaly.writeVolumeTable(s, "gate_volume_gap", graft.Tables.events(s, dir))
      Temporal.gapFillFromTable(s, "gate_volume_gap")
    }),
    // seasonality-aware sibling: trailing-7 AND same-day-of-week
    // baselines side by side — a weekly-periodic workload alarms the
    // first and reads as noise on the second
    "events_anomaly_seasonal" -> ((s, dir) => Anomaly.eventVolumeSeasonal(s, dir)),
    // gap-fill + LOCF resample: spine join + window over the bounded
    // (types × days) count frame — one data-sized shuffle total
    "events_gapfill" -> ((s, dir) => Temporal.gapFill(Tables.events(s, dir))),
    // first-seen cohort triangle: distinct reduction + user-window
    // cohort; (d, user) uniqueness makes the final count distinct-free
    "cohort_matrix" -> ((s, dir) => Cohort.matrixDaily(s, dir)),
    // the stored form end-to-end: persist per-(cohort, age) audience
    // sketches + the first-seen companion, answer from the bounded
    // sketch table alone — exact mode at gate scale hash-matches the
    // same oracle as the direct key
    "cohort_matrix_stored" -> ((s, dir) => {
      Cohort.writeMatrixTable(s, "gate_cohort_matrix", graft.Tables.events(s, dir))
      Cohort.matrixFromThetaTable(s, "gate_cohort_matrix")
    }),

    // ---- A-suite: k-means ----
    "kmeans_assign_2d" -> ((s, dir) => {
      val pts = pts2d(s, dir)
      val cents = KMeans.initCentroids2d(pts, "id", "x", "y", 5)
      val (cl, d) = KMeans.assignExpr2d(col("x"), col("y"), cents)
      pts.select(col("id"), cl.as("cluster"), round(d, 4).as("d2")).orderBy(col("id"))
    }),
    "kmeans_metrics" -> ((s, dir) => {
      val pts = pts2d(s, dir)
      val cents = KMeans.initCentroids2d(pts, "id", "x", "y", 5)
      val (cl, d) = KMeans.assignExpr2d(col("x"), col("y"), cents)
      KMeans.metrics(pts.select(col("id"), cl.as("cluster"), d.as("d")))
    }),
    "kmeans_lloyd_2d" -> ((s, dir) => {
      import s.implicits._
      val (assigned, cents) = KMeans.lloyd2d(pts2d(s, dir), "id", "x", "y", 5, 3)
      val m = assigned.groupBy(col("cluster"))
        .agg(count(lit(1)).as("n"), round(sum(col("d")), 2).as("wcss"))
      val cdf = cents.toDF("cluster", "cx", "cy")
      m.join(cdf, "cluster").select(col("cluster"), col("n"), col("wcss"), col("cx"), col("cy"))
        .orderBy(col("cluster"))
    }),
    "kmeans_assign_embed" -> ((s, dir) => {
      val pts = embPts(s, dir)
      val cents = KMeans.initCentroids(pts, "id", "v", 10)
      val (cl, d) = KMeans.assignExpr(col("v"), cents)
      pts.select(col("id").as("vec_id"), cl.as("cluster"), round(d, 4).as("d2"))
        .orderBy(col("vec_id"))
    }),
    "kmeans_lloyd_embed" -> ((s, dir) => {
      val (assigned, _) = KMeans.lloyd(Tables.embeddings(s, dir), "vec_id", "embedding", 10, 3, 64)
      KMeans.metrics(assigned)
    }),
    "feature_scale" -> ((s, dir) =>
      FeatureScale.scaled(Tables.customer(s, dir), "c_custkey", "c_acctbal")),
    "embed_outliers" -> ((s, dir) =>
      KMeans.outliers(Tables.embeddings(s, dir), "vec_id", "embedding", 10)),

    // ---- C-suite: LLM-data pipeline ----
    "dedup_exact" -> ((s, dir) => Dedup.exact(Tables.documents(s, dir))),
    "dedup_exact_canon" -> ((s, dir) =>
      Dedup.exact(Tables.documents(s, dir), canonical = true)),
    // script-routed exact dedup (r18): the gate corpus is ASCII, so
    // the routing cases are planted inside the query (text_script
    // convention) — an upper-case twin of every doc (must STILL
    // collapse: pure-Latin docs keep canonical keying), two
    // distinct Han-suffixed variants of every 5th doc, and two
    // distinct KANA-suffixed variants of every 7th doc (r19; none may
    // collapse: plain canonical keying would strip the suffixes and
    // falsely merge each pair with its base — and through r18 the
    // five-script router missed the kana pair, the coverage gap the
    // inverted class closes)
    "dedup_exact_routed" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val planted = d
        .unionByName(d.select((col("doc_id") + 100000L).as("doc_id"),
          upper(col("text")).as("text")))
        .unionByName(d.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 200000L).as("doc_id"),
            concat(col("text"), lit(" 你好")).as("text")))
        .unionByName(d.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 300000L).as("doc_id"),
            concat(col("text"), lit(" 再見")).as("text")))
        .unionByName(d.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 400000L).as("doc_id"),
            concat(col("text"), lit(" ぁ")).as("text")))
        .unionByName(d.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 500000L).as("doc_id"),
            concat(col("text"), lit(" ゑ")).as("text")))
      Dedup.exact(planted, routed = true)
    }),
    // THRESHOLDED routing (r19): minLossFs = 100 (1%) — a single
    // stray Cyrillic glyph on a gate-corpus doc sits under the floor,
    // so the glyph variant keeps canonical keying and COLLAPSES with
    // its base + upper twin (the exact pair the 0-floor router keeps
    // separate); a 21-char Han suffix sits far above the floor and
    // routes raw (singleton). Both sides evaluate the same
    // fixed-point loss meter, so short docs crossing the floor agree
    // engine-for-engine.
    "dedup_exact_routed_floor" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val planted = d
        .unionByName(d.select((col("doc_id") + 100000L).as("doc_id"),
          upper(col("text")).as("text")))
        .unionByName(d.filter(col("doc_id") % 3 === 0)
          .select((col("doc_id") + 200000L).as("doc_id"),
            concat(col("text"), lit(" д")).as("text")))
        .unionByName(d.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 300000L).as("doc_id"),
            concat(col("text"), lit(" 你好你好你好你好你好再見再見再見再見再見")).as("text")))
      Dedup.exact(planted, routed = true, minLossFs = 100L)
    }),
    "dedup_minhash_lsh" -> ((s, dir) => Dedup.minhashLsh(Tables.documents(s, dir))),
    "dedup_simhash" -> ((s, dir) => Dedup.simhashPairs(Tables.documents(s, dir))),
    "dedup_ngram_jaccard" -> ((s, dir) =>
      ordered(Dedup.ngramJaccardPairs(Tables.documents(s, dir)), "id_a", "id_b")),
    "dedup_ngram_lsh" -> ((s, dir) => Dedup.ngramLshPairs(Tables.documents(s, dir))),
    "dedup_embed_cosine" -> ((s, dir) =>
      ordered(Dedup.embedCosine(Tables.embeddings(s, dir)), "id_a", "id_b")),
    // k = 10 pinned: the DuckDB twin unrolls Lloyd from a 10-id init.
    // The gate runs the INTEGER-LATTICE form (r19) so the twin
    // reproduces cluster geometry at ANY scale — the float
    // production operator (semanticDedup, k derived ≈ 4√n) is
    // spec-pinned on its planted fixture and rehearsed at 100k
    "dedup_semantic" -> ((s, dir) => Dedup.semanticDedupGate(Tables.embeddings(s, dir))),
    // the benchmark pins the fixed coupled geometry (7×8×4) so its
    // operating point stays comparable round over round; the operator
    // DEFAULT now derives per corpus via suggestSrpGeometry (r10)
    "dedup_cosine_lsh" -> ((s, dir) => Dedup.cosineLsh(Tables.embeddings(s, dir),
      planes = 7, tables = 8, probes = 4)),
    "sim_topk_cosine" -> ((s, dir) => Similarity.bruteTopK(Tables.embeddings(s, dir))),
    // product quantization: trained per-subspace codebooks, ADC
    // ranking over the compressed codes (rows-only — iterative
    // k-means training isn't single-query SQL; ADC-lookup = exact
    // reconstructed distance and the recall gate are spec-pinned)
    "sim_pq_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Pq.adcTopKReranked(emb, Pq.train(emb))
    }),
    // rows>0 ⟺ two-stage PQ recall@5 vs the exact cosine baseline
    // ≥ 0.9 — the honesty gate for ranking from 6-bit codes
    "sim_pq_recall" -> ((s, dir) => Pq.pqRecall(Tables.embeddings(s, dir))),
    "sim_lsh_topk" -> ((s, dir) => Similarity.lshTopK(Tables.embeddings(s, dir))),
    "sim_ivf_topk" -> ((s, dir) => Similarity.ivfTopK(Tables.embeddings(s, dir))),
    // residual IVF-PQ (FAISS IVFPQ shape): coarse probe prunes the
    // scan, 6-bit residual codes score it, exact re-rank orders the
    // shortlist — rows-only (two trained quantizers aren't
    // single-query SQL); exactness-of-output and the stored-index
    // lifecycle are spec-pinned
    "sim_ivfpq_topk" -> ((s, dir) => IvfPq.ivfPqTopK(Tables.embeddings(s, dir))),
    // rows>0 ⟺ IVF-PQ recall@5 vs exact cosine ≥ 0.9 — lossy twice
    // (unprobed lists AND residual codes), so it ships with its gate
    "sim_ivfpq_recall" -> ((s, dir) => IvfPq.recallGate(Tables.embeddings(s, dir))),
    "sim_recall" -> ((s, dir) => Similarity.annRecall(Tables.embeddings(s, dir))),
    "text_tokens" -> ((s, dir) => TextAnalysis.tokenCounts(Tables.documents(s, dir))),
    // whitespace-robust tokenization (r18): messy input planted from
    // the corpus inside the query, naive-vs-robust counts hash-pinned
    "text_tokens_ws" -> ((s, dir) => TextAnalysis.tokensWsReport(Tables.documents(s, dir))),
    // script detection / multilingual routing (r18, extended r19 to
    // kana/Greek/Thai/Hebrew + a Georgian stripe for the n_other
    // remainder): the gate corpus is ASCII, so doc-varying script
    // content is planted from doc_id inside the query (the
    // text_tokens_ws convention) — the counts, the dominant-script
    // CASE, and the canonical-loss rate then hash-pin Java's
    // \p{IsHan}/inverted classes against RE2's
    "text_script" -> ((s, dir) => TextAnalysis.scriptProfile(
      Tables.documents(s, dir).withColumn("text", scriptPlant))),
    // corpus script-mix report (r18): the text_script plant gives
    // non-trivial dominant-script groups to aggregate
    "text_script_mix" -> ((s, dir) => TextAnalysis.scriptMix(
      Tables.documents(s, dir).withColumn("text", scriptPlant))),
    "text_quality" -> ((s, dir) => TextAnalysis.quality(Tables.documents(s, dir))),
    "text_langid" -> ((s, dir) => TextAnalysis.langIdPredictions(Tables.documents(s, dir))),
    // script-aware language ID (r18, extended r19 + r20):
    // script-majority docs planted from doc_id (text_script
    // convention) tag kana FIRST → ja (the %17=7 kanji+kana stripe is
    // the r18 'zh' mislabel showpiece), then by dominant script via
    // the ScriptLangTags argmax (zh/ru/ar/hi/ko/el/th/he + the r20
    // ring hy/bn/ka/ta); the %17=15 GUJARATI stripe pins the honest
    // 'unk' beyond the named set; a minority-cyrillic suffix on the
    // %11 stripe must NOT flip its doc off the stopword path
    "text_langid_script" -> ((s, dir) => TextAnalysis.langIdScriptPredictions(
      Tables.documents(s, dir).withColumn("text",
        when(col("doc_id") % 17 === 0, expr("repeat('你好', 40)"))
          .when(col("doc_id") % 17 === 1, expr("repeat('привет ', 30)"))
          .when(col("doc_id") % 17 === 2, expr("repeat('سلام ', 30)"))
          .when(col("doc_id") % 17 === 3, expr("repeat('नमस्ते ', 30)"))
          .when(col("doc_id") % 17 === 4, expr("repeat('안녕 ', 30)"))
          .when(col("doc_id") % 17 === 5, expr("repeat('こんにちは ', 20)"))
          .when(col("doc_id") % 17 === 6, expr("repeat('カタカナ ', 20)"))
          .when(col("doc_id") % 17 === 7, expr("repeat('日本語の文 ', 20)"))
          .when(col("doc_id") % 17 === 8, expr("repeat('γεια σου ', 20)"))
          .when(col("doc_id") % 17 === 9, expr("repeat('สวัสดี ', 20)"))
          .when(col("doc_id") % 17 === 10, expr("repeat('שלום ', 20)"))
          .when(col("doc_id") % 17 === 11, expr("repeat('Հայերեն ', 20)"))
          .when(col("doc_id") % 17 === 12, expr("repeat('বাংলা ', 20)"))
          .when(col("doc_id") % 17 === 13, expr("repeat('ქართული ', 20)"))
          .when(col("doc_id") % 17 === 14, expr("repeat('தமிழ் ', 20)"))
          .when(col("doc_id") % 17 === 15, expr("repeat('ગુજરાતી ', 20)"))
          .when(col("doc_id") % 11 === 3, concat(col("text"), lit(" мир")))
          .otherwise(col("text"))))),
    "text_fingerprint" -> ((s, dir) => TextAnalysis.fingerprints(Tables.documents(s, dir))),
    "multimodal_meta" -> ((s, dir) =>
      Multimodal.decodeFeatures(Multimodal.asMultimodal(Tables.documents(s, dir)))),
    "multimodal_frames" -> ((s, dir) =>
      Multimodal.frameSample(Multimodal.asMultimodal(Tables.documents(s, dir)))),
    // REAL codec path: synthesized valid PNGs decoded by javax.imageio
    // inside the partition-batched stage (rows-only — pixel decode
    // isn't SQL-expressible; pixel-truth semantics are spec-pinned)
    "multimodal_decode" -> ((s, dir) =>
      Multimodal.decodeImages(Multimodal.imagePayloads(Tables.documents(s, dir)))),
    // REAL audio codec path: synthesized valid WAVs decoded by
    // javax.sound.sampled (rows-only — sample decode isn't
    // SQL-expressible; sample-truth semantics are spec-pinned)
    "multimodal_audio" -> ((s, dir) =>
      Multimodal.decodeAudio(Multimodal.audioPayloads(Tables.documents(s, dir)))),
    // REAL video codec path: synthesized valid YUV4MPEG2 streams
    // parsed frame-by-frame (rows-only — planar-frame decode isn't
    // SQL-expressible; luma-truth semantics are spec-pinned)
    "multimodal_video" -> ((s, dir) =>
      Multimodal.decodeVideo(Multimodal.videoPayloads(Tables.documents(s, dir)))),
    // perceptual-hash image dedup over a corpus with planted
    // re-uploads (every id%10==0 payload re-appears under a high id):
    // real PNG decode → 8×8 aHash → the shared chunk-banded pair
    // engine (rows-only — pixel hashing isn't SQL-expressible;
    // hamming-truth parity is spec-pinned)
    "multimodal_phash" -> ((s, dir) => {
      val pay = Multimodal.imagePayloads(Tables.documents(s, dir))
      val reuploads = pay.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
      Multimodal.imagePhashPairs(pay.unionByName(reuploads))
    }),

    // ---- beyond §2: corpus-level pipeline ops ----
    // r10: apply/cc consume the BANDED md5-minhash generator — the
    // cross-engine-reproducible LSH twin — so these keys are
    // subquadratic AND hash-checked (r6–r9 used the blocked quadratic
    // ngramJaccardPairs here, the gate's only weak components, because
    // the xxhash banding wasn't SQL-expressible)
    "dedup_minhash_md5" -> ((s, dir) =>
      ordered(Dedup.minhashMd5PairsUnsorted(Tables.documents(s, dir)), "id_a", "id_b")),
    // the banded family's canonical twin (r18): the same generator +
    // verify over the canonical token stream, hash-verified like
    // dedup_exact_canon — proving the canon threading through the
    // banding/verify machinery cross-engine, not just per-expression
    "dedup_minhash_md5_canon" -> ((s, dir) =>
      ordered(Dedup.minhashMd5PairsUnsorted(Tables.documents(s, dir), canonical = true),
        "id_a", "id_b")),
    // the banded family's ROUTED twin (r18): Han-suffixed variants
    // planted on the %10 stripe shingle RAW (the router keeps their
    // non-Latin token) while the ASCII corpus shingles canonically —
    // the whole routed banding/verify pipeline hash-verified
    // cross-engine, the dedup_exact_routed pattern at gram grain
    "dedup_minhash_md5_routed" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val planted = d
        .unionByName(d.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"),
            concat(col("text"), lit(" 你好")).as("text")))
        .unionByName(d.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 200000L).as("doc_id"),
            concat(col("text"), lit(" 再見")).as("text")))
      ordered(Dedup.minhashMd5PairsUnsorted(planted, routed = true), "id_a", "id_b")
    }),
    // the THRESHOLDED routed twin (r20): minLossFs = 100 threaded
    // through the banding/verify machinery — a one-glyph Cyrillic
    // suffix per 7th doc sits under the 1% floor, grams CANONICALLY,
    // and its J = 1 pair with the base SURFACES (the 0-floor router
    // keys it raw and keeps them apart); the 20-char Han suffix per
    // 10th doc stays above the floor and grams raw. The family-wide
    // floor, hash-verified cross-engine at gram grain (the
    // dedup_exact_routed_floor pattern)
    "dedup_minhash_md5_routed_floor" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val planted = d
        .unionByName(d.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"),
            concat(col("text"), lit(" 你好你好你好你好你好再見再見再見再見再見")).as("text")))
        .unionByName(d.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 200000L).as("doc_id"),
            concat(col("text"), lit(" д")).as("text")))
      ordered(Dedup.minhashMd5PairsUnsorted(planted, routed = true, minLossFs = 100L),
        "id_a", "id_b")
    }),
    // the simhash family's oracle bridge (r11): md5-derived bits make
    // the fingerprints, the banded candidates, and the hamming verify
    // SQL-expressible — production path stays dedup_simhash
    "dedup_simhash_md5" -> ((s, dir) =>
      ordered(Dedup.simhashMd5Pairs(Tables.documents(s, dir)), "id_a", "id_b")),
    "dedup_simhash_md5_canon" -> ((s, dir) =>
      ordered(Dedup.simhashMd5Pairs(Tables.documents(s, dir), canonical = true),
        "id_a", "id_b")),
    // the simhash family's ROUTED twin (r18): same planted stripes as
    // dedup_minhash_md5_routed, fingerprints over the routed stream
    "dedup_simhash_md5_routed" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val planted = d
        .unionByName(d.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"),
            concat(col("text"), lit(" 你好")).as("text")))
        .unionByName(d.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 200000L).as("doc_id"),
            concat(col("text"), lit(" 再見")).as("text")))
      ordered(Dedup.simhashMd5Pairs(planted, routed = true), "id_a", "id_b")
    }),
    "dedup_apply" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.applyPairs(docs, Dedup.minhashMd5PairsUnsorted(docs))
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),
    "dedup_apply_cc" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      ordered(Dedup.ccLabels(docs, Dedup.minhashMd5PairsUnsorted(docs)), "doc_id")
    }),
    // the xxhash-LSH apply compositions: same greedy/cc application,
    // pairs from the BIGRAM ngram-LSH generator (rows-only keys — the
    // xxhash banding isn't SQL-expressible; the md5 twins above are).
    // NOT a subset relation to the unigram generators: different gram
    // units verify different Jaccards, so each drops pairs the other
    // doesn't; the behavioral difference is fixture-pinned in
    // DedupSpec.
    "dedup_apply_lsh" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.applyPairs(docs, Dedup.ngramLshPairs(docs))
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),
    "dedup_apply_cc_lsh" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.ccLabels(docs, Dedup.ngramLshPairs(docs), iters = 50)
    }),
    // the O(log d) star-contraction CC over the same LSH pair graph —
    // label parity with dedup_apply_cc_lsh is spec-pinned (DedupSpec),
    // so both keys must produce identical frames
    "dedup_apply_cc_star" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.starCcLabels(docs, Dedup.ngramLshPairs(docs))
    }),
    // incremental-crawl dedup: odd-id docs are the "incoming" batch,
    // even-id docs the existing reference corpus (deterministic split;
    // the corpus's planted dup clusters span both halves)
    "dedup_cross_lsh" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.ngramLshAgainst(
        docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0))
    }),
    "text_redact" -> ((s, dir) => TextAnalysis.redact(Tables.documents(s, dir))),
    "text_repetition" -> ((s, dir) => TextAnalysis.repetition(Tables.documents(s, dir))),
    "text_contamination" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      ordered(TextAnalysis.contaminationAcct(docs, docs.filter(col("doc_id") % 50 === 0)),
        "doc_id")
    }),
    "text_contamination_canon" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      ordered(TextAnalysis.contaminationAcct(docs, docs.filter(col("doc_id") % 50 === 0),
        canonical = true), "doc_id")
    }),
    "text_vocabulary" -> ((s, dir) => TextAnalysis.vocabulary(Tables.documents(s, dir))),
    // whitespace-robust vocabulary (r19): messy input planted from the
    // corpus (the text_tokens_ws convention) — the naive tokenizer
    // would mint fused/empty tokens; the robust one must read exactly
    // the doubled single-space counts
    "text_vocabulary_ws" -> ((s, dir) => TextAnalysis.vocabulary(
      Tables.documents(s, dir).withColumn("text",
        concat(col("text"), lit("\t"), col("text"), lit("  "))),
      ws = true)),
    // stored vocabulary lifecycle end-to-end: even docs seed the count
    // table, odd docs sum in, the read must equal the direct full-corpus
    // vocabulary (counts are exact — no sketch regime)
    // frozen-IDF scoring from the stored vocabulary: df answered from
    // the count table (write even + append odd = the full corpus), so
    // the scores must equal the one-shot tfidf over the same docs
    "text_tfidf_stored" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      VocabTable.writeVocabTable(s, "g_vocab_idf", docs.filter(col("doc_id") % 2 === 0),
        buckets = 8)
      VocabTable.appendToVocabTable(s, "g_vocab_idf", docs.filter(col("doc_id") % 2 === 1))
      VocabTable.tfidfFromTable(s, "g_vocab_idf", docs)
    }),
    "text_vocab_stored" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      VocabTable.writeVocabTable(s, "g_vocab", docs.filter(col("doc_id") % 2 === 0),
        buckets = 8)
      VocabTable.appendToVocabTable(s, "g_vocab", docs.filter(col("doc_id") % 2 === 1))
      VocabTable.vocabularyFromTable(s, "g_vocab")
    }),
    // the ws-mode stored lifecycle E2E (r19): the seed write RECORDS
    // ws in the vocab meta, the append carries NO flag (it tokenizes
    // with the stored mode), and the read must equal the one-shot ws
    // vocabulary over the full messy corpus — mode persistence pinned
    // cross-engine, not just spec'd
    "text_vocab_stored_ws" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).withColumn("text",
        concat(col("text"), lit("\t"), col("text"), lit("  ")))
      VocabTable.writeVocabTable(s, "g_vocab_ws", docs.filter(col("doc_id") % 2 === 0),
        buckets = 8, ws = true)
      VocabTable.appendToVocabTable(s, "g_vocab_ws", docs.filter(col("doc_id") % 2 === 1))
      VocabTable.vocabularyFromTable(s, "g_vocab_ws")
    }),
    "text_entropy" -> ((s, dir) => TextAnalysis.entropyScore(Tables.documents(s, dir))),
    // CCNet-style reference-LM scoring: the even-id half plays the
    // clean reference corpus, every doc scores against its unigram LM
    "text_lm_score" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.lmScore(docs, docs.filter(col("doc_id") % 2 === 0))
    }),
    "text_chunk" -> ((s, dir) =>
      ordered(TextAnalysis.chunkPieces(Tables.documents(s, dir)), "doc_id", "chunk_idx")),
    "text_passage_dedup" -> ((s, dir) => TextAnalysis.passageDedup(Tables.documents(s, dir))),
    "text_span_dedup" -> ((s, dir) => TextAnalysis.spanDedup(Tables.documents(s, dir))),
    "text_span_dedup_canon" -> ((s, dir) =>
      TextAnalysis.spanDedup(Tables.documents(s, dir), canonical = true)),
    // the span family's ROUTED twin (r18): Han-suffixed variants
    // planted on the %10 stripe gram RAW (coordinates and token
    // counts live in the routed stream); each variant shares its
    // base's full token block, so the planted spans are real
    "text_span_dedup_routed" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val planted = d
        .unionByName(d.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"),
            concat(col("text"), lit(" \u4f60\u597d")).as("text")))
        .unionByName(d.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 200000L).as("doc_id"),
            concat(col("text"), lit(" \u518d\u898b")).as("text")))
      TextAnalysis.spanDedup(planted, routed = true)
    }),
    "text_span_dedup_apply" -> ((s, dir) =>
      TextAnalysis.spanDedupApply(Tables.documents(s, dir))),
    "text_span_top" -> ((s, dir) => TextAnalysis.spanTop(Tables.documents(s, dir))),
    // stored span-gram index end-to-end: even docs seed the index,
    // odd docs flag their corpus-repeated spans against it
    "text_span_flag" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      SpanIndex.writeIndex(s, "g_spanidx", docs.filter(col("doc_id") % 2 === 0),
        n = 8, buckets = 8)
      SpanIndex.flagAgainstIndex(s, "g_spanidx", docs.filter(col("doc_id") % 2 === 1))
    }),
    "text_span_flag_apply" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      SpanIndex.writeIndex(s, "g_spanidx2", docs.filter(col("doc_id") % 2 === 0),
        n = 8, buckets = 8)
      SpanIndex.applyAgainstIndex(s, "g_spanidx2", docs.filter(col("doc_id") % 2 === 1))
    }),
    "text_pack" -> ((s, dir) => TextAnalysis.pack(Tables.documents(s, dir))),
    "text_tfidf" -> ((s, dir) => TextAnalysis.tfidfTopK(Tables.documents(s, dir))),
    "text_encode" -> ((s, dir) => TextAnalysis.encodeTokens(Tables.documents(s, dir))),
    // stored-vocabulary token ids: write even + append odd = the full
    // corpus ranking, so ids equal the one-shot encode
    "text_encode_stored" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      VocabTable.writeVocabTable(s, "g_vocab_enc", docs.filter(col("doc_id") % 2 === 0),
        buckets = 8)
      VocabTable.appendToVocabTable(s, "g_vocab_enc", docs.filter(col("doc_id") % 2 === 1))
      VocabTable.encodeFromTable(s, "g_vocab_enc", docs)
    }),
    // distributed BPE over the word-frequency table (rows-only — the
    // merge loop's greedy fixed point isn't single-query SQL; the
    // trainer is pinned merge-for-merge to a reference implementation
    // in BpeSpec): 10 learned merges, then the corpus re-encoded with
    // them as the map-side fold chain
    "text_bpe_train" -> ((s, dir) => Bpe.train(Tables.documents(s, dir), numMerges = 10)),
    "text_bpe_encode" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Bpe.encode(docs, Bpe.train(docs, numMerges = 10))
        .orderBy(col("doc_id"), col("word_pos"), col("piece_pos"))
    }),
    "sample_split" -> ((s, dir) => Sampling.split(Tables.documents(s, dir))),
    "sample_cap_source" -> ((s, dir) =>
      Sampling.capPerStratum(Tables.documents(s, dir), maxDocs = 15)),
    "sample_stratified" -> ((s, dir) => Sampling.stratifiedSample(Tables.documents(s, dir),
      fractions = Map("src0" -> 0.5, "src1" -> 0.5))),
    // bloom-accelerated exact cross-corpus dedup: reference = the
    // even-id half, batch = everything; the sketch prunes the confirm
    // join to bloom-positives while results stay EXACT (oracle-checked)
    "dedup_cross_exact" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      ExactIndex.flagKnown(docs, docs.filter(col("doc_id") % 2 === 0))
        .orderBy(col("doc_id"))
    }),
    // a 50/30/20 recipe over three of the twenty sources: the binding
    // stratum sets the budget, the rest downsample to their share
    "sample_mixture" -> ((s, dir) => Sampling.mixtureSample(Tables.documents(s, dir),
      weights = Map("src0" -> 5L, "src1" -> 3L, "src2" -> 2L))),
    // the same recipe in TOKEN share (r18) — the unit production data
    // recipes are written in; doc counts misweight unequal-length strata
    "sample_mixture_tokens" -> ((s, dir) => Sampling.mixtureByTokens(Tables.documents(s, dir),
      weights = Map("src0" -> 5L, "src1" -> 3L, "src2" -> 2L))),
    // quality-weighted k-sample (integer A-ES): weight = the 100-char
    // length bucket capped at 5, so longer docs are up to 5× likelier
    "sample_weighted" -> ((s, dir) => Sampling.weightedSample(Tables.documents(s, dir),
      k = 100, weight = expr("least(5, 1 + length(text) div 100)"))),
    // fractional-epoch recipe: src0 seen ~2.5 times, src1 once,
    // src2 downsampled to a quarter — repeats carry a copy ordinal
    "sample_epochs" -> ((s, dir) => Sampling.epochMix(Tables.documents(s, dir),
      epochs = Map("src0" -> 2.5, "src1" -> 1.0, "src2" -> 0.25))),
    // two snapshots derived deterministically from one corpus: ids
    // ending in 3 absent from OLD (→ added), ending in 7 absent from
    // NEW (→ removed), ending in 1 re-crawled with drifted text
    // (→ changed) — everything else unchanged and dropped
    "snapshot_diff" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      ordered(Snapshot.churn(
        docs.filter(col("doc_id") % 10 =!= 3),
        docs.filter(col("doc_id") % 10 =!= 7)
          .withColumn("text", when(col("doc_id") % 10 === 1,
            concat(col("text"), lit(" v2"))).otherwise(col("text")))), "doc_id")
    }),
    "pipeline_curate" -> ((s, dir) => Pipeline.curate(Tables.documents(s, dir))),
    // the auto-keying DECISION FRAME (r20): the gate corpus is ASCII,
    // so a Han suffix is planted on every 5th doc (20% routed share);
    // two decisions union'd — floor 0 reads routed, floor 2500 reads
    // canonical — pinning BOTH branches of the exact integer
    // cross-multiplication and the mix snapshot cross-engine
    "pipeline_keying_decision" -> ((s, dir) => {
      val planted = Tables.documents(s, dir).withColumn("text",
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" 你好")))
          .otherwise(col("text")))
      Pipeline.chooseKeyingDecision(planted, 0L)
        .unionByName(Pipeline.chooseKeyingDecision(planted, 2500L))
        .orderBy(col("min_routed_share_fs"))
    }),
    // benchmark decontamination as a FILTER (r18): bench = the same
    // %50 sample text_contamination accounts against; survivors are
    // the docs whose trigram overlap stays <= 20% (verbatim bench
    // members and their near-copies drop)
    "pipeline_decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Pipeline.decontaminate(docs, docs.filter(col("doc_id") % 50 === 0))
        .select(col("doc_id"), col("lang"), col("n_chars").cast("long").as("n_chars"))
        .orderBy(col("doc_id"))
    }),
    // the composed end-to-end training layout: curate → chunk → pack
    // (rows-only — the curation stage is LSH-based, not SQL-expressible)
    "pipeline_training" -> ((s, dir) => Pipeline.prepareTrainingPieces(Tables.documents(s, dir)))
  )

  /** DuckDB twins (see Oracles.scala). Keys absent here are rows-only
    * checked by the driver and spec-verified in src/test/scala.
    */
  def oracleSql: Map[String, String] = Map(
    "q1_agg" -> Oracles.q1,
    "q2_filter_project" -> Oracles.q2,
    "q3_join_agg" -> Oracles.q3,
    "q4_broadcast_join" -> Oracles.q4,
    "q5_multi_join" -> Oracles.q5,
    "q6_window" -> Oracles.q6,
    "q7_distinct_agg" -> Oracles.q7,
    "q8_semi_anti" -> Oracles.q8,
    "q9_rollup" -> Oracles.q9,
    "q10_topk" -> Oracles.q10,
    "q11_events_window" -> Oracles.q11,
    "q12_sessionize" -> Oracles.q12,
    "q13_case_agg" -> Oracles.q13,
    "q14_exists_subquery" -> Oracles.q14,
    "q15_scalar_subquery" -> Oracles.q15,
    "q16_percentile" -> Oracles.q16,
    "q17_asof_join" -> Oracles.q17,
    "q18_range_join" -> Oracles.q18,
    "q19_json_agg" -> Oracles.q19,
    "q20_cube" -> Oracles.q20,
    "q21_unpivot" -> Oracles.q21,
    "q22_window_offsets" -> Oracles.q22,
    "q23_pivot" -> Oracles.q23,
    "q24_set_ops" -> Oracles.q24,
    "q25_grouping_sets" -> Oracles.q25,
    "q26_lateral_topn" -> Oracles.q26,
    "sketch_distinct" -> Oracles.sketchDistinct,
    "sketch_heavy_hitters" -> Oracles.sketchHeavyHitters,
    "sketch_set_overlap" -> Oracles.sketchSetOverlap,
    "sketch_funnel" -> Oracles.sketchFunnel,
    "funnel_ordered" -> Oracles.funnelOrdered,
    "sketch_retention" -> Oracles.sketchRetention,
    "funnel_lag" -> Oracles.funnelLag,
    "funnel_lag_quantiles" -> Oracles.funnelLagQuantiles,
    "attribution_credit" -> Oracles.attributionCredit,
    "attribution_credit_hl7" -> Oracles.attributionCreditHl7,
    "attribution_credit_stored" -> Oracles.attributionCredit,
    "funnel_session" -> Oracles.funnelSession,
    "funnel_lag_session" -> Oracles.funnelLagSession,
    "path_topk" -> Oracles.pathTopk,
    "path_transitions" -> Oracles.pathTransitions,
    "path_session" -> Oracles.pathSession,
    "path_transitions_session" -> Oracles.pathTransitionsSession,
    "path_transitions_stored" -> Oracles.pathTransitions,
    "path_topk_stored" -> Oracles.pathTopk,
    "funnel_ordered_stored" -> Oracles.funnelOrdered,
    "session_ledger_funnel" -> Oracles.funnelSession,
    "session_ledger_paths" -> Oracles.pathSession,
    "session_ledger_transitions" -> Oracles.pathTransitionsSession,
    "events_anomaly_stored" -> Oracles.eventsAnomaly,
    "events_anomaly" -> Oracles.eventsAnomaly,
    "events_anomaly_seasonal" -> Oracles.eventsAnomalySeasonal,
    "events_anomaly_seasonal_stored" -> Oracles.eventsAnomalySeasonal,
    "events_gapfill" -> Oracles.eventsGapFill,
    "events_gapfill_stored" -> Oracles.eventsGapFill,
    "cohort_matrix" -> Oracles.cohortMatrix,
    "cohort_matrix_stored" -> Oracles.cohortMatrix,
    "kmeans_assign_2d" -> Oracles.kmeansAssign2d,
    "kmeans_metrics" -> Oracles.kmeansMetrics,
    "kmeans_lloyd_2d" -> Oracles.kmeansLloyd2d,
    "kmeans_assign_embed" -> Oracles.kmeansAssignEmbed,
    "kmeans_lloyd_embed" -> Oracles.kmeansLloydEmbed,
    "feature_scale" -> Oracles.featureScale,
    "embed_outliers" -> Oracles.embedOutliers,
    "dedup_exact" -> Oracles.dedupExact,
    "dedup_exact_canon" -> Oracles.dedupExactCanon,
    "dedup_exact_routed" -> Oracles.dedupExactRouted,
    "dedup_exact_routed_floor" -> Oracles.dedupExactRoutedFloor,
    "dedup_ngram_jaccard" -> Oracles.dedupNgramJaccard,
    "dedup_embed_cosine" -> Oracles.dedupEmbedCosine,
    "dedup_semantic" -> Oracles.dedupSemantic,
    "sim_topk_cosine" -> Oracles.simTopkCosine,
    "text_tokens" -> Oracles.textTokens,
    "text_tokens_ws" -> Oracles.textTokensWs,
    "text_script" -> Oracles.textScript,
    "text_quality" -> Oracles.textQuality,
    "text_langid" -> Oracles.textLangid,
    "text_langid_script" -> Oracles.textLangidScript,
    "text_script_mix" -> Oracles.textScriptMix,
    "dedup_minhash_md5" -> Oracles.dedupMinhashMd5,
    "dedup_minhash_md5_canon" -> Oracles.dedupMinhashMd5Canon,
    "dedup_minhash_md5_routed" -> Oracles.dedupMinhashMd5Routed,
    "dedup_minhash_md5_routed_floor" -> Oracles.dedupMinhashMd5RoutedFloor,
    "dedup_simhash_md5" -> Oracles.dedupSimhashMd5,
    "dedup_simhash_md5_canon" -> Oracles.dedupSimhashMd5Canon,
    "dedup_simhash_md5_routed" -> Oracles.dedupSimhashMd5Routed,
    "dedup_apply" -> Oracles.dedupApply,
    "dedup_apply_cc" -> Oracles.dedupApplyCc,
    "text_redact" -> Oracles.textRedact,
    "text_repetition" -> Oracles.textRepetition,
    "text_contamination" -> Oracles.textContamination,
    "pipeline_decontaminate" -> Oracles.pipelineDecontaminate,
    "pipeline_keying_decision" -> Oracles.pipelineKeyingDecision,
    "text_contamination_canon" -> Oracles.textContaminationCanon,
    "text_vocabulary" -> Oracles.textVocabulary,
    "text_vocabulary_ws" -> Oracles.textVocabularyWs,
    // the stored read is definitionally the same frame as the direct
    // vocabulary over the reunited halves — one oracle serves both
    "text_vocab_stored" -> Oracles.textVocabulary,
    "text_vocab_stored_ws" -> Oracles.textVocabularyWs,
    // definitionally the one-shot tfidf over the reunited halves
    "text_tfidf_stored" -> Oracles.textTfidf,
    "text_lm_score" -> Oracles.textLmScore,
    "text_entropy" -> Oracles.textEntropy,
    "text_chunk" -> Oracles.textChunk,
    "text_passage_dedup" -> Oracles.textPassageDedup,
    "text_span_dedup" -> Oracles.textSpanDedup,
    "text_span_dedup_canon" -> Oracles.textSpanDedupCanon,
    "text_span_dedup_routed" -> Oracles.textSpanDedupRouted,
    "text_span_dedup_apply" -> Oracles.textSpanDedupApply,
    "text_span_flag" -> Oracles.textSpanFlag,
    "text_span_top" -> Oracles.textSpanTop,
    "text_span_flag_apply" -> Oracles.textSpanFlagApply,
    "text_pack" -> Oracles.textPack,
    "text_tfidf" -> Oracles.textTfidf,
    "text_encode" -> Oracles.textEncode,
    // definitionally the one-shot encode over the reunited halves
    "text_encode_stored" -> Oracles.textEncode,
    "sample_split" -> Oracles.sampleSplit,
    "sample_stratified" -> Oracles.sampleStratified,
    "snapshot_diff" -> Oracles.snapshotDiff,
    "sample_mixture" -> Oracles.sampleMixture,
    "sample_mixture_tokens" -> Oracles.sampleMixtureTokens,
    "sample_weighted" -> Oracles.sampleWeighted,
    "sample_epochs" -> Oracles.sampleEpochs,
    "dedup_cross_exact" -> Oracles.dedupCrossExact,
    "sample_cap_source" -> Oracles.sampleCapSource
  )
}
