package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.HashFunctions._
import graft.functions.TextFunctions._

/** Per-document text analysis: token counts, quality scoring,
  * language ID, rolling-hash fingerprints.
  *
  * Everything is a narrow projection of codegen'd Column expressions
  * — at 100 TB these run at scan speed with zero shuffle; the only
  * wide stage any caller adds is their own aggregate.
  */
object TextAnalysis {

  /** Docs with the text column whitespace-NORMALIZED ([[graft
    * .functions.TextFunctions.normalizeWs]]): every [ \t\n\r\f] run
    * collapses to one space, trimmed. The one-pass pre-fix for a
    * corpus that violates the single-space tokenizer contract — after
    * it EVERY downstream operator (tokens, shingles, vocabulary,
    * span grams, quality ratios) keys correctly, which beats
    * threading a tokenizer flag through each one. A narrow projection
    * rewrite: rides the scan, no shuffle. Run [[whitespaceReport]]
    * first — a corpus that already honors the contract doesn't need
    * the rewrite (and the gate corpora don't get it, keeping raw
    * text the oracle default).
    */
  def wsNormalized(docs: DataFrame): DataFrame =
    docs.withColumn("text", graft.functions.TextFunctions.normalizeWs(col("text")))

  /** One row: how much of the corpus violates [[graft.functions
    * .TextFunctions.tokens]]' single-space contract — `n_docs`,
    * `n_messy` (docs whose text ≠ its whitespace-normalized form:
    * tabs, newlines, doubled/leading/trailing whitespace), and the
    * fixed-point rate `messy_fs = floor(1e4 · n_messy / n_docs)`.
    * The ingest-time validation signal ([[VocabTable.oovReport]]'s
    * posture): a nonzero report means naive-tokenized counts,
    * shingles, and vocabularies are quietly wrong — pre-pass the
    * corpus through [[wsNormalized]] or tokenize with [[graft
    * .functions.TextFunctions.tokensWs]].
    */
  def whitespaceReport(docs: DataFrame): DataFrame =
    docs.agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("text") =!=
        graft.functions.TextFunctions.normalizeWs(col("text")), 1L).otherwise(0L))
        .as("n_messy"))
      .select(col("n_docs"), col("n_messy"),
        when(col("n_docs") > 0, floor(lit(10000.0) * col("n_messy") / col("n_docs")))
          .otherwise(lit(0L)).as("messy_fs"))

  /** The whitespace-robustness differential, oracle-verified over
    * text PLANTED messy from the corpus itself (`text ⊕ tab ⊕ text ⊕
    * two trailing spaces` — the gate tables honor the single-space
    * contract, so the messiness the key must demonstrate is
    * synthesized inside the query, cross-engine): per doc, the naive
    * single-space token count (counts the tab-fused token and the
    * trailing empties), the [[graft.functions.TextFunctions
    * .tokensWs]] robust count, and the normalized length. Pins the
    * robust tokenizer and [[graft.functions.TextFunctions
    * .normalizeWs]] byte-identical against DuckDB on input no real
    * key exercises.
    */
  def tokensWsReport(docs: DataFrame): DataFrame = {
    import graft.functions.TextFunctions.{normalizeWs, tokensWs}
    val messy = concat(col("text"), lit("\t"), col("text"), lit("  "))
    docs.select(col("doc_id"),
        size(tokens(messy)).cast("long").as("naive_tokens"),
        size(tokensWs(messy)).cast("long").as("ws_tokens"),
        length(normalizeWs(messy)).cast("long").as("norm_chars"))
      .orderBy(col("doc_id"))
  }

  /** Per-doc script profile — the multilingual router: Unicode-script
    * character counts ([[graft.functions.TextFunctions.scriptCounts]]),
    * the dominant NON-Latin script ([[graft.functions.TextFunctions
    * .NamedScripts]] ∪ other ∪ none — argmax with the
    * alphabetical-first tie rule, the
    * deterministic CASE both engines evaluate identically), and
    * `canon_loss_fs` = floor(1e4 · (named-script sum + n_other)
    * / n_chars) — the fraction of characters canonical keying
    * ([[graft.functions.TextFunctions.canonicalText]]) would strip as
    * SIGNAL (the numerator equals [[graft.functions.TextFunctions
    * .hasNonLatinScript]]'s inverted-class count, so the meter and
    * the router agree on EVERY script, named or not — r19).
    * The routing rule a multilingual pipeline composes:
    * `canon_loss_fs == 0` docs take `canonical = true` losslessly;
    * high-loss docs stay raw-keyed (where [[graft.functions
    * .TextFunctions.canonicalKey]]'s byte-identity fallback and the
    * set-similarity empty-drops are the safety net, not the plan).
    * A narrow codegen'd projection — scan speed, zero shuffle.
    */
  /** The dominant-non-Latin-script argmax over a [[graft.functions
    * .TextFunctions.scriptCounts]] struct column — alphabetical
    * first-wins tie-break over [[graft.functions.TextFunctions
    * .NamedScripts]] ∪ 'other' (arabic < armenian < bengali <
    * cyrillic < devanagari < georgian < greek < han < hangul <
    * hebrew < hiragana < katakana < other < tamil < thai), 'none'
    * when no non-Latin signal. The deterministic CASE both engines
    * evaluate identically; shared by [[scriptProfile]] and
    * [[scriptMix]].
    */
  private def dominantScript(tags: Seq[(String, Column)]): Column =
    tags.foldLeft(when(lit(false), lit("none"))) {
      case (acc, (name, c)) =>
        acc.when(tags.filter(_._1 != name).map(o => c >= o._2).reduce(_ && _) && c > 0,
          lit(name))
    }.otherwise(lit("none"))

  /** The argmax domain, in tie-break (alphabetical) order: the named
    * scripts plus the 'other' remainder bucket — 'other' sorts
    * between katakana and tamil.
    */
  private def scriptTags: Seq[(String, Column)] =
    (graft.functions.TextFunctions.NamedScripts :+ "other")
      .sorted.map(s => s -> col(s"sc.n_$s"))

  /** The canonical-loss numerator: every character the router
    * protects — the named scripts plus the 'other' remainder
    * (together = [[graft.functions.TextFunctions.hasNonLatinScript]]'s
    * inverted-class count).
    */
  private def nonLatinSum: Column =
    scriptTags.map(_._2).reduce(_ + _)

  def scriptProfile(docs: DataFrame): DataFrame = {
    val sc = graft.functions.TextFunctions.scriptCounts(col("text"))
    val countCols =
      ("latin" +: graft.functions.TextFunctions.NamedScripts) ++ Seq("other", "digit")
    docs.select(col("doc_id"), sc.as("sc"), length(col("text")).cast("long").as("len"))
      .select(col("doc_id") +:
        countCols.map(s => col(s"sc.n_$s").as(s"n_$s")) :+
        dominantScript(scriptTags).as("nonlatin_script") :+
        when(col("len") > 0,
          floor(lit(10000.0) * nonLatinSum / col("len")))
          .otherwise(lit(0L)).as("canon_loss_fs"): _*)
      .orderBy(col("doc_id"))
  }

  /** Corpus-level SCRIPT MIX — the composition report a pipeline
    * operator reads BEFORE choosing a keying mode: per dominant
    * script, the document count, its fixed-point share of the corpus,
    * total characters, and the characters canonical keying would
    * strip (the aggregate form of [[scriptProfile]]'s per-doc
    * canon-loss signal). A corpus whose non-'none' rows carry real
    * share wants `routed` keying; an all-'none' corpus can take
    * plain `canonical` losslessly.
    *
    * Scale shape: one narrow scan projection → a ≤12-group partial-agg
    * groupBy (the group domain is the fixed script tag set) → the
    * share denominator via a single-partition window over ≤12 rows.
    * Shuffle carries ≤ 12 rows × partitions; at 100 TB this is a scan.
    *
    * Share semantics: `docs_share_fs` floors each group's share
    * INDEPENDENTLY (floor(1e4·n/total)), so the shares of a report
    * can sum below 10000 (three equal groups read 3333 each) — the
    * deterministic cross-engine form; consumers wanting shares that
    * total exactly 100% must assign the remainder themselves.
    */
  def scriptMix(docs: DataFrame): DataFrame = {
    val sc = graft.functions.TextFunctions.scriptCounts(col("text"))
    val grouped = docs.select(sc.as("sc"), length(col("text")).cast("long").as("len"))
      .select(dominantScript(scriptTags).as("script"), col("len"),
        nonLatinSum.cast("long").as("nl"))
      .groupBy(col("script"))
      .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("n_chars"),
        sum(col("nl")).as("nonlatin_chars"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    grouped
      .withColumn("docs_share_fs",
        floor(lit(10000.0) * col("n_docs") / sum(col("n_docs")).over(w)))
      .orderBy(col("script"))
  }

  /** Whitespace / regex / distinct token counts per doc. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("ws_tokens"),
      regexTokenCount(col("text")).cast("long").as("re_tokens"),
      size(tokenSet(col("text"))).cast("long").as("uniq_tokens"))
      .orderBy(col("doc_id"))

  /** Quality signals + composite score (fixed-point). Formula must
    * stay in sync with Oracles.textQuality.
    */
  def quality(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val en = stopwords.toMap.apply("en")
    docs.select(col("doc_id"),
        size(toks).cast("long").as("n_tok"),
        size(array_distinct(toks)).cast("long").as("n_uniq"),
        countIn(toks, en).cast("long").as("n_stop"),
        punctCount(col("text")).cast("long").as("n_punct"),
        length(col("text")).cast("long").as("n_chars"))
      .withColumn("score_fs", qualityScoreFs(col("n_tok"), col("n_uniq"), col("n_stop"),
        col("n_punct"), col("n_chars")))
      .orderBy(col("doc_id"))
  }

  /** Within-document repetition: the fraction of word n-grams that are
    * duplicates of an earlier n-gram in the same doc — the standard
    * "repetitious text" quality signal for training-data filtering
    * (boilerplate, keyword stuffing, and degenerate generations score
    * high; clean prose scores near 0). rep_fs = floor(1e4 · (1 −
    * distinct/total)). Docs with fewer than n tokens have no n-grams
    * and drop out.
    *
    * A narrow per-row projection — no shuffle, no explode: both gram
    * counts come from ONE pass over the token array (native
    * graft_ngram_stats kernel — the HOF formulation would walk the
    * array once per consumer, outside codegen and outside
    * common-subexpression elimination), so at 100 TB this runs at
    * scan speed like the other quality signals.
    */
  def repetition(docs: DataFrame, n: Int = 2): DataFrame = {
    val stats = ngramStats(tokens(col("text")), n)
    Par.spread(docs).select(col("doc_id"), stats.as("st"))
      .filter(col("st.n_grams") > 0)
      .select(col("doc_id"),
        col("st.n_grams").as("n_grams"),
        floor(lit(10000.0) *
          (lit(1.0) - col("st.n_uniq").cast("double") / col("st.n_grams")))
          .as("rep_fs"))
      .orderBy(col("doc_id"))
  }

  /** Benchmark decontamination: per-doc overlap of distinct word
    * n-grams with a benchmark/eval set — the contamination check every
    * training corpus needs before use (docs quoting an eval set verbatim
    * leak test data). contam_fs = floor(1e4 · |doc ∩ bench| / |doc|);
    * callers drop docs above a threshold.
    *
    * Scale shape: the benchmark gram set is BOUNDED BY DESIGN (eval
    * sets are thousands of docs, not corpora) — distinct'd and
    * broadcast like k centroids or the tokenizer vocab; the corpus
    * side is ONE gram explode (per-doc totals derive from the same
    * exploded frame: grams are distinct within a doc, so count(*) per
    * doc IS n_grams) + a broadcast left join marking hits + one
    * partial-agg groupBy on doc_id. No corpus text ever shuffles;
    * cost is linear in corpus grams at any scale.
    *
    * Rows come back unordered, one per doc that carries grams. Docs
    * with fewer than n tokens carry none and are ABSENT — callers
    * ([[Pipeline.decontaminate]]'s filter) treat absence as "no
    * overlap evidence".
    */
  def contaminationAcct(docs: DataFrame, bench: DataFrame, n: Int = 3,
                        canonical: Boolean = false,
                        routed: Boolean = false,
                        minLossFs: Long = 0L): DataFrame = {
    // routed (r18): corpus AND bench gram through the script router —
    // a mixed-script doc's overlap is judged on its raw grams (its
    // non-Latin content distinguishes it from a Latin bench member
    // canonical keying would falsely match), Latin docs keep the
    // canonical robustness to case/punct paraphrase; the r20 floor
    // applies to BOTH sides (one keying rule per comparison)
    val grams = graft.functions.TextFunctions.distinctWordNgrams(tokens(col("text")), n)
    val exploded = Par.spread(maybeKeyed(docs, canonical, routed, minLossFs))
      .select(col("doc_id"), explode(grams).as("gram"))
    val benchGrams = broadcast(
      maybeKeyed(bench, canonical, routed, minLossFs)
        .select(explode(grams).as("gram")).distinct().withColumn("hit", lit(1)))
    exploded.join(benchGrams, Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_hit"))
      .select(col("doc_id"), col("n_grams"), col("n_hit"),
        floor(lit(10000.0) * col("n_hit") / col("n_grams")).as("contam_fs"))
  }

  /** PII redaction: emails, phone-shaped numbers, and IPv4 addresses
    * replaced with typed placeholder tags — the scrub stage every
    * training corpus runs before use. Purely narrow (three codegen'd
    * regexp_replace passes riding the scan); the patterns are kept in
    * the RE2-compatible subset so the Spark (Java regex) and DuckDB
    * (RE2) engines agree token-for-token (oracle-checked via the
    * redacted text's md5).
    *
    * Output per doc: redaction counts by type and md5 of the redacted
    * text (the gate compares hashes, not megabytes of text); library
    * callers use [[redactText]] for the redacted column itself.
    *
    * Counts are taken at each replacement STAGE (n_ip counts on the
    * email-redacted text, n_phone on the email+ip-redacted text), so
    * they equal the number of tags [[redactText]] actually emits —
    * counting every pattern on the original would over-report when
    * one match contains another (e.g. a phone-shaped local part
    * inside an email is redacted as part of the <EMAIL> tag, not as
    * a <PHONE>).
    */
  def redact(docs: DataFrame): DataFrame = {
    val afterEmail = regexp_replace(col("text"), lit(EmailRe), lit("<EMAIL>"))
    val afterIp = regexp_replace(afterEmail, lit(Ipv4Re), lit("<IP>"))
    Par.spread(docs).select(col("doc_id"),
        regexp_count(col("text"), lit(EmailRe)).cast("long").as("n_email"),
        regexp_count(afterIp, lit(PhoneRe)).cast("long").as("n_phone"),
        regexp_count(afterEmail, lit(Ipv4Re)).cast("long").as("n_ip"),
        md5(regexp_replace(afterIp, lit(PhoneRe), lit("<PHONE>"))).as("redacted_md5"))
      .orderBy(col("doc_id"))
  }

  /** The redacted text column: email → <EMAIL>, phone → <PHONE>,
    * IPv4 → <IP>. Order matters (IP before phone would still be safe
    * with these anchored shapes, but fixed order keeps both engines
    * and reruns identical).
    */
  def redactText(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, lit(EmailRe), lit("<EMAIL>")),
        lit(Ipv4Re), lit("<IP>")),
      lit(PhoneRe), lit("<PHONE>"))

  // RE2-compatible (no lookaround/backrefs) so DuckDB twins match
  private[graft] val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  private[graft] val PhoneRe = "\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b"
  private[graft] val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** Stopword-heuristic language ID vs the labeled lang column. */
  def langIdPredictions(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), langId(tokens(col("text"))).as("pred_lang"),
        col("lang").as("actual_lang"))
      .orderBy(col("doc_id"))

  /** Script-AWARE language ID — the multilingual upgrade of
    * [[langIdPredictions]]: the stopword heuristic only knows Latin
    * function words, so a Chinese/Russian/Arabic document reads
    * 'unk' (or worse, whatever Latin noise it carries). Here script
    * evidence routes first: when the document is script-MAJORITY
    * non-Latin (the summed non-Latin counts — the ten named scripts
    * plus 'other' — exceed n_latin), the script evidence tags the
    * language family directly, in two tiers:
    *
    *  1. KANA PRESENCE → 'ja', BEFORE any argmax (r19): Japanese text
    *     is typically kanji-majority with kana function characters, so
    *     a Han-count argmax reads it 'zh' — but kana occurs in NO
    *     other living orthography, making any hiragana/katakana at
    *     all the decisive signal (the r18 tagger mislabeled every
    *     kanji-majority Japanese doc 'zh' and kana-only docs fell to
    *     the stopword path → 'unk').
    *  2. Otherwise the dominant-script argmax, alphabetical-first tie
    *     rule as [[scriptProfile]] pins, generated from
    *     [[graft.functions.TextFunctions.ScriptLangTags]] (the single
    *     source both this argmax and the oracle twin render from —
    *     r20; every named script except the kana pair maps to its
    *     family tag: ar/hy/bn/ru/hi/ka/el/zh/ko/he/ta/th). A doc whose
    *     non-Latin majority is all 'other' scripts (Gujarati,
    *     Sinhala, …) matches no branch and reads 'unk' — honest, the
    *     named tiers are the coverage.
    *
    * Latin-majority documents (including mixed docs with minority
    * non-Latin content) fall through to the stopword argmax
    * unchanged. Same narrow codegen'd projection as
    * [[langIdPredictions]] — scan speed, zero shuffle.
    */
  def langIdScriptPredictions(docs: DataFrame): DataFrame = {
    val sc = graft.functions.TextFunctions.scriptCounts(col("text"))
    docs.select(col("doc_id"), col("lang"), col("text"), sc.as("sc"))
      .select(col("doc_id"),
        when(nonLatinSum > col("sc.n_latin"), {
          // kana first, then the alphabetical-first argmax mapped to
          // the family tag — generated from ScriptLangTags (already
          // in script-name alphabetical order), so extending the
          // named tier extends the tagger mechanically
          val all = graft.functions.TextFunctions.ScriptLangTags
            .map { case (script, tag) => tag -> col(s"sc.n_$script") }
          val argmax = all.foldLeft(when(lit(false), lit("none"))) {
            case (acc, (tag, c)) =>
              acc.when(all.filter(_._1 != tag).map(o => c >= o._2).reduce(_ && _) && c > 0,
                lit(tag))
          }.otherwise(lit("unk"))
          when(col("sc.n_hiragana") + col("sc.n_katakana") > 0, lit("ja"))
            .otherwise(argmax)
        })
          .otherwise(langId(tokens(col("text")))).as("pred_lang"),
        col("lang").as("actual_lang"))
      .orderBy(col("doc_id"))
  }

  /** The vocab-tier tokenizer switch (r19): `ws = false` is the
    * single-space [[graft.functions.TextFunctions.tokens]] contract,
    * `ws = true` the whitespace-ROBUST [[graft.functions.TextFunctions
    * .tokensWs]] (runs of [ \t\n\r\f] split, empties dropped) — the
    * opt-in for corpora that violate the single-space contract, where
    * the naive tokenizer would quietly build a wrong vocabulary / IDF
    * / id table out of fused and empty "tokens". Same codegen'd
    * projection either way.
    */
  private[operators] def vocabTokens(text: Column, ws: Boolean): Column =
    if (ws) graft.functions.TextFunctions.tokensWs(text) else tokens(text)

  /** Corpus vocabulary statistics: per-token document frequency and
    * total occurrence count — the inputs to IDF weighting, stopword
    * discovery, and tokenizer-vocab construction. `ws` opts into the
    * whitespace-robust tokenizer ([[vocabTokens]], r19).
    *
    * One explode + one groupBy: the shuffle carries (token, partial
    * counts) — partial aggregation bounds it at |vocab| × partitions
    * rows regardless of corpus size.
    */
  def vocabulary(docs: DataFrame, ws: Boolean = false): DataFrame =
    docs.select(col("doc_id"), explode(vocabTokens(col("text"), ws)).as("token"))
      .groupBy(col("token"))
      .agg(countDistinct(col("doc_id")).as("doc_freq"), count(lit(1)).as("total_count"))
      .orderBy(col("token"))

  /** Character-entropy scoring — the gibberish/binary-paste heuristic
    * complementary to [[quality]]'s ratio features: Shannon entropy
    * H = Σ (c/L)·ln(L/c) over the doc's character counts. Natural
    * text sits in a narrow entropy band; base64 blobs and key-mash
    * run high, repeated-character padding runs low. Same determinism
    * discipline as [[lmScore]]: each (c, L) term fixed-points
    * independently (integer ratios divide identically everywhere; ln
    * contributes at most an ulp), then the per-doc aggregate is an
    * INTEGER sum. One explode + one (doc, char) groupBy — the shuffle
    * carries character counts, bounded by |charset| per doc.
    */
  def entropyScore(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), length(col("text")).cast("long").as("len"),
        explode(split(col("text"), "")).as("ch"))
      .groupBy(col("doc_id"), col("len"), col("ch"))
      .agg(count(lit(1)).as("c"))
      .select(col("doc_id"), col("len"),
        floor(lit(1000000.0) * (col("c") / col("len"))
          * log(col("len") / col("c"))).cast("long").as("fs"))
      .groupBy(col("doc_id"), col("len"))
      .agg(sum(col("fs")).as("entropy_fs"))
      .select(col("doc_id"), col("len").as("n_chars"), col("entropy_fs"))
      .orderBy(col("doc_id"))

  /** CCNet-style unigram LM quality scoring: train add-one-smoothed
    * token probabilities on a REFERENCE corpus (CCNet scores web text
    * against a Wikipedia LM — docs whose tokens the reference finds
    * surprising are gibberish/boilerplate candidates), then score
    * every doc by its mean token cost −ln p(tok), p = (c+1)/(N+V).
    * Higher `lm_cost_fs` = less reference-like; the caller filters or
    * buckets on it exactly as [[quality]]'s heuristic score.
    *
    * Determinism discipline: each DISTINCT (token count) gets ONE
    * fixed-point cost floor(10⁶·ln((N+V)/(c+1))) — the division of
    * two integers is correctly-rounded IEEE (identical in any
    * engine), ln's last ulp is the only cross-engine freedom and the
    * 10⁻⁶ floor granularity makes a flip ~10⁻⁹-probable per distinct
    * token — and docs then aggregate by INTEGER sum + truncating
    * division, so partitioning/summation order cannot move the
    * result (the same reason [[KMeans.outliers]] z-stats integer-sum
    * their fixed-point d²; contrast [[tfidfTopK]], which avoids the
    * log entirely because a RANKING never needed it).
    *
    * Scale shape: token counts are one partial-agged groupBy; the
    * count table is the LM's parameter set (vocabulary-bounded, the
    * codebook pattern) and broadcasts to the scoring join, so the
    * corpus-sized side never shuffles; N and V are a bounded driver
    * decision. Docs with zero tokens have no rows to score and are
    * absent from the output.
    */
  def lmScore(docs: DataFrame, reference: DataFrame): DataFrame = {
    val cnt = reference.select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
      .localCheckpoint() // read by the N/V sizing and the scoring join ([[Dedup.minhashLsh]]'s lifetime contract)
    val tot = cnt.agg(sum(col("c")), count(lit(1))).head()
    val (n, v) = (tot.getLong(0), tot.getLong(1))
    require(n > 0, "lmScore needs a non-empty reference corpus")
    val fs = floor(lit(1000000.0) *
      log(lit((n + v).toDouble) / (coalesce(col("c"), lit(0L)) + lit(1L)).cast("double")))
      .cast("long")
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .join(broadcast(cnt), Seq("token"), "left")
      .select(col("doc_id"), fs.as("fs"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"), expr("sum(fs) div count(1)").as("lm_cost_fs"))
      .orderBy(col("doc_id"))
  }

  /** Top-k characteristic terms per document by an integer tf-idf
    * proxy: score = (tf × 10⁶) div doc_freq — monotone in
    * tf × (1/df), so the ranking matches tf-idf with an idf ∝ 1/df
    * weighting while staying in exact BIGINT arithmetic (`div` /
    * DuckDB `//` truncating division — no float log whose last-ulp
    * could flicker across engines). Ties break alphabetically.
    *
    * Plan shape: one explode + (doc_id, token) partial-agg for tf;
    * doc_freq derives from the tf frame itself (tf rows are already
    * distinct per doc, so count(*) per token IS the doc freq — one
    * explode total); the tf frame feeds both the df aggregate and the
    * scored join, so it is checkpointed at build time
    * ([[Dedup.minhashLsh]]'s lifetime contract). The final per-doc
    * top-k is a WindowGroupLimit — at 100 TB the shuffle ceiling is
    * |corpus vocab pairs|, all partial-aggregated.
    */
  def tfidfTopK(docs: DataFrame, k: Int = 3, ws: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs.select(col("doc_id"), explode(vocabTokens(col("text"), ws)).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("token"))
    tf.join(dfreq, "token")
      .withColumn("score", expr("tf * 1000000 div df"))
      .withColumn("rnk", row_number().over(byDoc).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("rnk"), col("token"), col("score"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  /** Tokenizer encoding: each document becomes (doc_id, pos, token_id)
    * rows against a frequency-ranked vocabulary — ids 1..vocabSize by
    * (total_count desc, token asc), out-of-vocabulary → −1. The
    * flat-row layout (instead of an id-array column) keeps the output
    * oracle-comparable and shuffle-friendly for downstream batching.
    *
    * Scale shape: the vocab is BOUNDED BY DESIGN (vocabSize, like k
    * centroids) — collected once to the driver, shipped back as a
    * broadcast join side; the encode pass itself is explode +
    * broadcast-hash-join, no shuffle of the corpus until the output
    * sort. Vocabulary ranking reuses [[vocabulary]]'s partial-agg.
    */
  def encodeTokens(docs: DataFrame, vocabSize: Int = 1000,
                   ws: Boolean = false): DataFrame =
    encodeWithVocab(docs, vocabulary(docs, ws), vocabSize, ws)

  /** The shared encode tail: rank the given vocabulary frame
    * (token, …, total_count) by frequency, broadcast the bounded id
    * map, and explode-encode the docs — [[encodeTokens]] passes the
    * one-shot vocabulary, [[VocabTable.encodeFromTable]] the stored
    * counts (the tokenizer's id table then comes from the accrued
    * corpus with zero rescan, frozen across batches like the IDF).
    */
  private[operators] def encodeWithVocab(docs: DataFrame, vocab: DataFrame,
                                         vocabSize: Int,
                                         ws: Boolean = false): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val top = vocab
      .orderBy(col("total_count").desc, col("token"))
      .limit(vocabSize)
      .select(col("token")).as[String].collect()
    val vdf = broadcast(top.zipWithIndex.toSeq
      .map { case (t, i) => (t, (i + 1).toLong) }.toDF("token", "token_id"))
    docs.select(col("doc_id"),
        posexplode(vocabTokens(col("text"), ws)).as(Seq("pos0", "token")))
      .join(vdf, Seq("token"), "left")
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"),
        coalesce(col("token_id"), lit(-1L)).as("token_id"))
      .orderBy(col("doc_id"), col("pos"))
  }

  /** Order-sensitive rolling polynomial fingerprint per doc (exact
    * near-prefix dedup primitive), plus the count of docs sharing the
    * fingerprint — rows-only checked + spec-verified.
    */
  /** Context-window chunking: split each doc's token stream into
    * overlapping windows of `chunkTokens` with stride
    * `strideTokens` — the preprocessing step that turns raw documents
    * into training-context-sized pieces (overlap preserves
    * cross-boundary continuations). Chunk i covers tokens
    * [i·stride, i·stride + chunk); the last window may be short; a
    * doc emits ceil(n/stride) chunks.
    *
    * Scale shape: pure map-side — one narrow scan, a per-row
    * sequence explode (fan-out ∝ tokens/stride), slice + hash on the
    * exploded row. No shuffle anywhere, and no output order: rows
    * come back unordered, ready for a downstream shuffle
    * ([[Pipeline.prepareTrainingPieces]]'s packer). The chunk
    * content column is an md5 over the re-joined window (stable
    * cross-engine) rather than raw text — downstream exact dedup of
    * chunks consumes the hash directly.
    */
  def chunkPieces(docs: DataFrame, chunkTokens: Int = 32, strideTokens: Int = 24,
                  carryCols: Seq[String] = Nil): DataFrame = {
    require(chunkTokens >= strideTokens && strideTokens > 0,
      s"need chunk ≥ stride > 0, got chunk=$chunkTokens stride=$strideTokens")
    val nChunks = ceil(size(col("toks")) / lit(strideTokens.toDouble)).cast("int")
    val piece = slice(col("toks"), col("chunk_idx") * strideTokens + 1, lit(chunkTokens))
    // carryCols ride the same map-side projection (provenance columns
    // like source/split for a downstream packer) — no join needed
    val carried = carryCols.map(col)
    Par.spread(docs).select(col("doc_id") +: tokens(col("text")).as("toks") +: carried: _*)
      .filter(size(col("toks")) > 0)
      .select(col("doc_id") +: col("toks") +:
        explode(sequence(lit(0), nChunks - 1)).as("chunk_idx") +: carried: _*)
      .select(col("doc_id") +: col("chunk_idx").cast("long").as("chunk_idx") +:
        size(piece).cast("long").as("n_chunk_tokens") +:
        md5(concat_ws(" ", piece)).as("chunk_md5") +: carried: _*)
  }

  /** Sequence packing: assign docs to fixed-budget token bins by
    * cumulative offset — the deterministic, SQL-expressible
    * approximation of greedy packing every training pipeline runs
    * before batching (concatenate docs in a stable order, cut every
    * `binTokens`). Each doc lands in the bin where its first token
    * falls, so a bin overflows by at most one straddling doc — the
    * standard offline-packing trade for a one-pass, shuffle-light
    * plan (bin-perfect packing is inherently sequential).
    *
    * Parallelism: the running sum is windowed over
    * (source, pack_group) where pack_group = ⌊doc_id/groupDocs⌋ — at
    * 100 TB a plain per-source window would serialize each source
    * into ONE task, while an id block can hold at most `groupDocs`
    * distinct ids, so every window partition is bounded NO MATTER
    * how sparse the id space is. Group offsets then CHAIN: each
    * group's bins start at the cumulative token total of all prior
    * groups in its source (a second window over the per-group totals
    * — one slim row per occupied group — joined back on the window
    * key), so bin_id/bin_offset are exactly what a single global
    * per-source window would produce. Grouping is a pure parallelism
    * device: id gaps (post-dedup corpora are full of them) cost
    * NOTHING in fill — the r8 design restarted bins at every group
    * boundary and under-filled one bin per group, degenerating to
    * one doc per bin at high sparsity (spec-pinned equivalence).
    */
  def pack(docs: DataFrame, binTokens: Int = 512, groupDocs: Int = 1000): DataFrame = {
    val n = size(tokens(col("text"))).cast("long")
    val grp = floor(col("doc_id") / lit(groupDocs.toDouble)).cast("long")
    packByWindow(
      docs.select(col("doc_id"), col("source"), n.as("n_tokens"), grp.as("pack_group")),
      outerCols = Seq("source"), groupCol = "pack_group", orderCols = Seq("doc_id"),
      tokenCol = "n_tokens", binTokens = binTokens)
      .orderBy(col("doc_id"))
  }

  /** The shared cumulative-offset packing core ([[pack]] and
    * [[Pipeline.prepareTrainingPieces]] both bin through here, so the
    * packing contract — bin by GLOBAL starting offset within
    * (outerCols), overflow bounded by one straddling unit, offsets
    * in [0, binTokens) — lives in ONE place). Three moving parts,
    * two of which ride the SAME (outerCols, groupCol) exchange:
    * the within-group running sum and the per-group token total are
    * two stacked Window operators over one partitioning (a groupBy
    * twin for the totals would plan its partial aggregate below a
    * SECOND exchange over a different child — no exchange reuse, the
    * whole upstream pipeline executed twice); the group's starting
    * offset is a cumulative sum over the DISTINCT per-group totals
    * (the distinct's map-side partial agg collapses each window
    * partition to one slim row before its exchange moves anything)
    * joined back on the group key — AQE broadcasts it at gate scale,
    * and at any scale it is group-count-sized, never unit-sized.
    */
  private[graft] def packByWindow(units: DataFrame, outerCols: Seq[String], groupCol: String,
                                  orderCols: Seq[String], tokenCol: String,
                                  binTokens: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val partAll = (outerCols :+ groupCol).map(col)
    val w = Window.partitionBy(partAll: _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    // The unit frame is a DIAMOND: the running-sum window and the
    // per-group offsets both consume it, and Spark's exchange reuse
    // does not unify the two branches (measured on the composed
    // training layout: the whole curate/LSH/chunk upstream planned
    // TWICE — 28 scans, 66 exchanges, 0 reused). Checkpoint the slim
    // branch point (no text — token counts + keys only) at build time,
    // per [[Dedup.minhashLsh]]'s lifetime contract.
    val cached = units.localCheckpoint()
    // grp_total rides the SAME partitioning as the running sum: one
    // Exchange, two stacked Window operators
    val wg = Window.partitionBy(partAll: _*)
    val local = cached
      .withColumn("cum_local", coalesce(sum(col(tokenCol)).over(w), lit(0L)))
      .withColumn("grp_total", sum(col(tokenCol)).over(wg))
    val chain = Window.partitionBy(outerCols.map(col): _*).orderBy(col(groupCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    // the distinct's map-side partial aggregate collapses each window
    // partition to one slim row before its exchange moves anything
    val offsets = local
      .select(partAll :+ col("grp_total"): _*).distinct()
      .withColumn("grp_offset", coalesce(sum(col("grp_total")).over(chain), lit(0L)))
      .select(partAll :+ col("grp_offset"): _*)
    val cum = col("grp_offset") + col("cum_local")
    local.join(offsets, outerCols :+ groupCol)
      .withColumn("bin_id", floor(cum / lit(binTokens.toDouble)).cast("long"))
      .withColumn("bin_offset", cum % binTokens)
      .drop("cum_local", "grp_total", "grp_offset")
  }

  /** Repeated-passage (boilerplate) removal accounting — the
    * corpus-level C4 rule ("drop any line occurring ≥ 3 times in the
    * corpus") at this engine's passage granularity: a context-window
    * chunk whose content hash appears in ≥ `minDocs` DISTINCT
    * documents is boilerplate (nav bars, cookie banners, licence
    * headers — content repeated ACROSS documents is template, not
    * signal; WITHIN-doc repetition is [[repetition]]'s job). Emits
    * per-doc accounting (total / boilerplate / kept chunks and kept
    * tokens) — the frame a curation pipeline filters and reports on.
    *
    * Granularity caveat: stride-anchored chunks only match when the
    * shared passage sits at the same token offset modulo stride in
    * both documents (C4's lines are newline-anchored and need no
    * alignment). Exact-duplicate and common-prefix boilerplate —
    * the dominant web cases — always align; mid-document shared
    * passages at different offsets need the shingle-based
    * [[graft.operators.Dedup.ngramLshPairs]] instead.
    *
    * Scale shape: map-side chunk fan-out → ONE partial-agg groupBy
    * on the 16-byte hash → hash equi-join back (AQE broadcasts the
    * boilerplate set when small, as in practice) → one doc_id
    * groupBy. After the fan-out no shuffled row carries text — only
    * (hash, ids, counts). The slim chunk frame is the same diamond
    * as [[packByWindow]]'s and is checkpointed the same way.
    */
  def passageDedup(docs: DataFrame, chunkTokens: Int = 32, strideTokens: Int = 24,
                   minDocs: Int = 2, canonical: Boolean = false,
                   routed: Boolean = false, minLossFs: Long = 0L): DataFrame = {
    require(minDocs >= 2, s"boilerplate needs at least 2 docs, got $minDocs")
    // canonical keying drops empty-canonical docs (fully non-ASCII):
    // their single token [""] would chunk to the SHARED md5("") key,
    // flagging every non-Latin doc's only chunk as "boilerplate" —
    // the digest families' empty-collapse hazard in passage form (the
    // n >= 2 gram families are immune: one token yields no grams)
    val base = maybeKeyed(docs, canonical, routed, minLossFs)
    // the empty-drop applies to ANY keyed stream: under routing a
    // pure-Latin punctuation-only doc still canonicalizes to ""
    val cdocs = if (canonical || routed) base.filter(length(col("text")) > 0) else base
    val chunks = chunkPieces(cdocs, chunkTokens, strideTokens)
      .select(col("doc_id"), col("n_chunk_tokens"), col("chunk_md5")).localCheckpoint()
    val boiler = chunks.groupBy(col("chunk_md5"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col("chunk_md5"), lit(true).as("is_boiler"))
    chunks.join(boiler, Seq("chunk_md5"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        coalesce(sum(when(col("is_boiler"), 1L)), lit(0L)).as("n_boilerplate"),
        coalesce(sum(when(col("is_boiler").isNull, col("n_chunk_tokens"))), lit(0L))
          .as("kept_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Exact-substring (span-level) dedup accounting — the scale-safe
    * SQL form of the Lee et al. 2022 suffix-array family: find
    * maximal regions of each document covered by word n-grams that
    * also occur in ≥ `minDocs` OTHER-or-same distinct documents
    * (boilerplate headers/footers, licence blocks, syndicated
    * paragraphs — repeated SPANS of variable length at ARBITRARY
    * offsets, which neither [[passageDedup]]'s stride-anchored chunks
    * nor whole-doc dedup can see). Emits per-doc accounting: total
    * tokens, qualifying span count, tokens covered by qualifying
    * spans, kept tokens — the frame a curation pipeline trims on.
    *
    * Span semantics: each shared gram at position p covers tokens
    * [p, p+n−1]; per doc, position-sorted shared grams coalesce into
    * one region while consecutive positions are ≤ n apart (their
    * token intervals overlap or touch — the sessionize gap trick on
    * gram positions), so merged regions are DISJOINT and their
    * lengths sum to the exact token-coverage union. Regions shorter
    * than `minSpanTokens` are noise (a single common phrase), not
    * boilerplate, and are dropped — Lee et al.'s 50-token rule at
    * this engine's defaults (n=8, minSpan=16).
    *
    * Scale shape: gram fan-out is map-side (explode of an index
    * sequence; after it no shuffled row carries text — only (doc_id,
    * pos, 16-byte md5)); the shared-gram set is ONE partial-agg
    * groupBy on the hash, equi-joined back; run-coalescing is a
    * doc_id window whose (doc_id, region) groupBy rides the SAME
    * exchange; the final left join is doc-count-sized on both sides.
    * The gram frame is a diamond (shared-set groupBy + join back) —
    * checkpointed slim like [[passageDedup]]'s.
    */
  def spanDedup(docs: DataFrame, n: Int = 8, minDocs: Int = 2,
                minSpanTokens: Int = 16, canonical: Boolean = false,
                routed: Boolean = false, minLossFs: Long = 0L): DataFrame = {
    // routed (r18): spans, token counts, and coordinates live in the
    // ROUTED stream — mixed-script docs keep raw positions (their
    // Han/Cyrillic/... tokens count and gram), pure-Latin docs get
    // the canonical C4/RefinedWeb posture; minLossFs (r20) thresholds
    // the routing like everywhere else in the family
    val d = maybeKeyed(docs, canonical, routed, minLossFs)
    spanAccounting(d, spanRegions(d, n, minDocs, minSpanTokens))
  }

  /** Opt-in canonical keying for the gram/digest families: `text`
    * replaced by [[graft.functions.TextFunctions.canonicalText]]
    * (case-fold + non-alnum collapse), so case/punctuation variants
    * of the same boilerplate key identically. Downstream token
    * positions, counts, and rewrites then live in the CANONICAL
    * stream — the C4/RefinedWeb posture, where the normalized text IS
    * what the pipeline dedups and ships.
    */
  private[operators] def maybeCanon(docs: DataFrame, canonical: Boolean): DataFrame =
    if (canonical) docs.withColumn("text", graft.functions.TextFunctions.canonicalText(col("text")))
    else docs

  /** [[maybeCanon]] generalized to the three keying modes: `routed`
    * (r18) rewrites through [[graft.functions.TextFunctions
    * .routedText]] — non-Latin-script docs keep their raw text so
    * their shingles carry the signal canonical keying would strip,
    * pure-Latin docs canonicalize. routed supersedes canonical (it IS
    * canonical keying, gated per-doc by script evidence). `minLossFs`
    * (r20, routed only — misuse refused eagerly) is the thresholded
    * router in gram form ([[graft.functions.TextFunctions.routedText]]
    * two-arg): sub-floor glyph noise keeps the canonical gram stream,
    * threading the dedup_exact_routed_floor knob through every gram
    * family that keys here.
    */
  private[operators] def maybeKeyed(docs: DataFrame, canonical: Boolean,
                                    routed: Boolean,
                                    minLossFs: Long = 0L): DataFrame = {
    require(minLossFs == 0L || routed,
      s"minLossFs applies only to routed keying (got minLossFs = $minLossFs " +
        "with routed = false)")
    if (routed) docs.withColumn("text",
      graft.functions.TextFunctions.routedText(col("text"), minLossFs))
    else maybeCanon(docs, canonical)
  }

  /** The positioned word-n-gram frame every span operator fans out
    * to: (doc_id, pos, gram_md5) — map-side (explode of an index
    * sequence), and after it no shuffled row carries text, only the
    * 16-byte hash.
    */
  private[graft] def gramFrame(docs: DataFrame, n: Int): DataFrame =
    Par.spread(docs)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), size(col("toks")) - n)).as("pos"))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        md5(concat_ws(" ", slice(col("toks"), col("pos") + 1, lit(n)))).as("gram_md5"))

  /** Gap-trick run coalescing over a frame of (doc_id, pos) shared
    * gram positions: DISJOINT maximal coverage regions (doc_id,
    * span_start, span_end), intervals merged while they overlap or
    * touch, regions shorter than `minSpanTokens` dropped. The window
    * and the (doc, region) aggregation ride ONE doc_id exchange.
    */
  private[graft] def coalesceRegions(hits: DataFrame, n: Int,
                                         minSpanTokens: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    hits
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) <= n, 0L).otherwise(1L))
      .withColumn("region", sum(col("brk")).over(byDoc))
      .groupBy(col("doc_id"), col("region"))
      .agg(min(col("pos")).as("span_start"), (max(col("pos")) + (n - 1)).as("span_end"))
      .filter(col("span_end") - col("span_start") + 1 >= minSpanTokens)
      .select(col("doc_id"), col("span_start"), col("span_end"))
  }

  /** Per-doc span accounting over a regions frame, left-joined so
    * span-free docs report zeros — the shared tail of [[spanDedup]]
    * and [[SpanIndex.flagAgainstIndex]].
    */
  private[graft] def spanAccounting(docs: DataFrame, regions: DataFrame): DataFrame = {
    val spans = regions
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("span_end") - col("span_start") + 1).as("dup_tokens"))
    docs
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        (col("n_tokens") - coalesce(col("dup_tokens"), lit(0L))).as("kept_tokens"))
      .orderBy(col("doc_id"))
  }

  /** The qualifying repeated-span coverage regions both span keys
    * derive from: (doc_id, span_start, span_end) token intervals,
    * DISJOINT and maximal per the [[spanDedup]] merge rule. The gram
    * frame is the diamond (shared-set groupBy + join back) —
    * checkpointed slim here ([[Dedup.minhashLsh]]'s lifetime contract).
    */
  private[operators] def spanRegions(docs: DataFrame, n: Int, minDocs: Int,
                                     minSpanTokens: Int): DataFrame = {
    require(n >= 2 && minDocs >= 2 && minSpanTokens >= n,
      s"need n ≥ 2, minDocs ≥ 2, minSpanTokens ≥ n; got n=$n minDocs=$minDocs minSpan=$minSpanTokens")
    val grams = gramFrame(docs, n).localCheckpoint()
    val shared = grams.groupBy(col("gram_md5"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col("gram_md5"))
    coalesceRegions(grams.join(shared, Seq("gram_md5")), n, minSpanTokens)
  }

  /** The span REWRITE — what a curation pipeline actually ships after
    * [[spanDedup]]'s accounting: every token covered by a qualifying
    * repeated span dropped, the surviving tokens re-joined in order
    * (Lee et al. 2022 rewrite the corpus, not just score it). Emits
    * per-doc `n_tokens` / `n_kept` / `clean_md5` (the rewritten text's
    * digest — at gate scale the oracle recomputes it positionally).
    *
    * Scale shape: the regions frame reduces to per-doc interval
    * ARRAYS (bounded — disjoint intervals over a doc, ≪ doc length),
    * left-joined back doc-count-sized; the token drop is then a
    * map-side higher-order `filter` with the position index probing
    * the interval array — NO token-level shuffle, no explode: the
    * rewrite runs at scan speed over the docs like the other per-doc
    * text stages, and the only wide work is [[spanRegions]]' own.
    */
  def spanDedupApply(docs: DataFrame, n: Int = 8, minDocs: Int = 2,
                     minSpanTokens: Int = 16, canonical: Boolean = false,
                     routed: Boolean = false, minLossFs: Long = 0L): DataFrame = {
    val d = maybeKeyed(docs, canonical, routed, minLossFs)
    spanRewrite(d, spanRegions(d, n, minDocs, minSpanTokens))
  }

  /** The boilerplate LEADERBOARD — which spans ARE the corpus's
    * repeated text: every qualifying coverage region's covered token
    * string, grouped and ranked by occurrence count (ties broken by
    * the text — a total order, so top-k is deterministic and
    * oracle-hashable). The report a curation run reads before picking
    * [[spanDedup]] thresholds: licence blocks and nav boilerplate
    * float to the top with their actual text.
    *
    * Scale shape: the region frame is the span generator's SMALL
    * output (qualifying boilerplate regions, not grams); recovering
    * each region's text is one doc-count-sized join + a map-side
    * slice, and the groupBy shuffles only (span text, count)
    * partials — bounded by the distinct-boilerplate population. Note
    * `n_occurrences` counts region instances (a doc carrying the same
    * block twice as two disjoint regions counts twice).
    */
  def spanTop(docs0: DataFrame, n: Int = 8, minDocs: Int = 2,
              minSpanTokens: Int = 16, k: Int = 20,
              canonical: Boolean = false, routed: Boolean = false,
              minLossFs: Long = 0L): DataFrame = {
    val docs = maybeKeyed(docs0, canonical, routed, minLossFs)
    val regions = spanRegions(docs, n, minDocs, minSpanTokens)
    regions
      .join(docs.select(col("doc_id"), tokens(col("text")).as("toks")), Seq("doc_id"))
      .select(
        concat_ws(" ", slice(col("toks"), (col("span_start") + 1).cast("int"),
          (col("span_end") - col("span_start") + 1).cast("int"))).as("span_text"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
      .groupBy(col("span_text"), col("span_tokens"))
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("span_text"))
      .limit(k)
  }

  /** The shared rewrite tail ([[spanDedupApply]] and
    * [[SpanIndex.applyAgainstIndex]]): regions collapse to bounded
    * per-doc interval arrays joined doc-count-sized, the token drop is
    * a map-side higher-order filter probing the array by position
    * index — no token-level shuffle or explode.
    */
  private[graft] def spanRewrite(docs: DataFrame, regionsFrame: DataFrame): DataFrame =
    trimByRegions(docs, regionsFrame)
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"),
        size(col("_kept")).cast("long").as("n_kept"),
        md5(concat_ws(" ", col("_kept"))).as("clean_md5"))
      .orderBy(col("doc_id"))

  /** Docs with corpus-repeated spans REMOVED from `text` (every other
    * column untouched, plus `span_dup_tokens` counting what was
    * dropped) — the curation-facing form of [[spanDedupApply]], which
    * reports digests for the oracle instead. [[Pipeline.curateFull]]'s
    * opt-in trim stage runs through here.
    */
  def spanTrimmed(docs0: DataFrame, n: Int = 8, minDocs: Int = 2,
                  minSpanTokens: Int = 16, canonical: Boolean = false,
                  routed: Boolean = false, minLossFs: Long = 0L): DataFrame = {
    val docs = maybeKeyed(docs0, canonical, routed, minLossFs)
    trimByRegions(docs, spanRegions(docs, n, minDocs, minSpanTokens))
      .withColumn("span_dup_tokens",
        (size(tokens(col("text"))) - size(col("_kept"))).cast("long"))
      .withColumn("text", concat_ws(" ", col("_kept")))
      .drop("_kept")
  }

  /** `docs` plus a `_kept` column of the tokens surviving the
    * coverage regions — the shared rewrite core: regions collapse to
    * bounded per-doc interval arrays joined doc-count-sized, the
    * token drop is a map-side higher-order filter probing the array
    * by position index (no token-level shuffle or explode).
    */
  private def trimByRegions(docs: DataFrame, regionsFrame: DataFrame): DataFrame = {
    val regions = regionsFrame
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("regions"))
    val noRegions = array().cast("array<struct<span_start:bigint,span_end:bigint>>")
    val covered = (i: Column) => exists(col("regions"),
      r => i >= r.getField("span_start") && i <= r.getField("span_end"))
    docs.join(regions, Seq("doc_id"), "left")
      .withColumn("regions", coalesce(col("regions"), noRegions))
      .withColumn("_kept",
        filter(tokens(col("text")), (_, i) => !covered(i.cast("long"))))
      .drop("regions")
  }

  def fingerprints(docs: DataFrame): DataFrame = {
    val fp = docs.select(col("doc_id"), rollingFingerprint(tokens(col("text"))).as("fp"))
    val groups = fp.groupBy(col("fp")).agg(count(lit(1)).as("n_docs"))
    fp.join(groups, Seq("fp"))
      .select(col("doc_id"), col("fp"), col("n_docs"))
      .orderBy(col("doc_id"))
  }
}
