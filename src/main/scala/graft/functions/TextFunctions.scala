package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions.{filter => array_filter, _}
import org.apache.spark.sql.graftshim.ColumnBridge

import graft.functions.expressions.{DistinctNgrams, NgramStats, ScriptCounts}

/** Text analysis as `Column` expressions (no UDFs): tokenize,
  * n-grams, quality ratios, stopword-heuristic language ID. The
  * per-row n-gram and script kernels are native Catalyst expressions.
  *
  * All arithmetic is int-derived (counts and ratios of counts), so
  * results are bit-deterministic across engines — the DuckDB oracle
  * computes the same rationals. Ratio outputs are fixed-point scaled
  * (`floor(r * 10^k)` as BIGINT) to dodge cross-engine rounding-mode
  * differences entirely.
  */
object TextFunctions {

  /** Whitespace tokens (single-space corpus; split keeps it exact).
    * ASSUMES single-space separation: tabs, newlines, and runs of
    * spaces produce fused or empty-string tokens that flow into
    * shingles, vocabularies, and token counts. A corpus that can't
    * guarantee that contract should either pre-pass through
    * [[graft.operators.TextAnalysis.wsNormalized]] (rewrites the text
    * column once — every downstream operator then keys correctly) or
    * tokenize with [[tokensWs]]; [[graft.operators.TextAnalysis
    * .whitespaceReport]] is the ingest-time signal that the contract
    * is violated.
    */
  def tokens(text: Column): Column = split(text, " ")

  /** The exact cross-engine whitespace class. NOT `\\s`: Java's \s
    * includes U+000B (vertical tab) while RE2's (DuckDB's) does not —
    * the explicit class makes Spark and the oracle split identically
    * on every input.
    */
  val WsClass = "[ \\t\\n\\r\\f]+"

  /** Whitespace-ROBUST tokens: split on runs of [ \t\n\r\f], empty
    * tokens (leading/trailing/doubled whitespace artifacts) filtered.
    * The opt-in for corpora that violate [[tokens]]' single-space
    * contract; DuckDB twin
    * `list_filter(regexp_split_to_array(text,'[ \t\n\r\f]+'), x -> x <> '')`.
    */
  def tokensWs(text: Column): Column =
    array_filter(split(text, WsClass), t => t =!= "")

  /** Whitespace normalization: every [ \t\n\r\f] run collapses to ONE
    * space, trimmed — after it, [[tokens]]' single-space contract
    * holds and `tokens(normalizeWs(text)) == tokensWs(text)` exactly
    * (spec-pinned). The cheap fix-up a messy corpus applies ONCE at
    * ingest ([[graft.operators.TextAnalysis.wsNormalized]] is the
    * docs-frame form) instead of threading a tokenizer flag through
    * every operator. DuckDB twin:
    * `trim(regexp_replace(text, '[ \t\n\r\f]+', ' ', 'g'))`.
    */
  def normalizeWs(text: Column): Column =
    trim(regexp_replace(text, WsClass, " "))

  /** Canonical text for dedup KEYING — the normalization production
    * corpus dedup applies before hashing/gramming (Lee et al. 2022,
    * C4/CCNet): case-fold, then every run of characters outside
    * [a-z0-9] collapses to ONE space, trimmed. "The  Licence—Block,
    * v2.0!" and "the licence block v2 0" key identically, so
    * case/punctuation variants of the same boilerplate stop defeating
    * exact-substring and digest matching. Offered as an OPT-IN
    * parameter by the gram/digest families ([[graft.operators
    * .TextAnalysis.spanDedup]], [[graft.operators.SpanIndex]],
    * [[graft.operators.TextAnalysis.passageDedup]], [[graft.operators
    * .Dedup.exact]], [[graft.operators.TextAnalysis.contaminationAcct]]) —
    * the canonical stream is a KEY domain, not a display form.
    *
    * Cross-engine contract: the DuckDB twin is
    * `trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))` —
    * the character class is pure ASCII so RE2 and Java regex agree
    * exactly; non-ASCII letters are STRIPPED, not transliterated
    * (both engines' `lower` maps the two scripts-to-ASCII edge cases
    * U+0130 → i and U+212A → k identically — spec-pinned; anything
    * else non-ASCII dies in the character class on both sides).
    */
  def canonicalText(text: Column): Column =
    trim(regexp_replace(lower(text), "[^a-z0-9]+", " "))

  /** The canonical DIGEST key — [[canonicalText]] with the
    * empty-collapse guard the hash families need: a fully non-ASCII
    * document (Chinese, Cyrillic, emoji-only) canonicalizes to the
    * EMPTY string, and digesting that would silently collapse every
    * such document into one md5("") dedup group — a multilingual
    * corpus would "dedup" all its non-Latin documents into a single
    * survivor. Empty canonical forms therefore fall back to the RAW
    * text: non-ASCII documents dedup only on byte-identity (the
    * never-lossy posture), ASCII documents keep the full
    * normalize-then-hash semantics. The gram families don't need
    * this guard — an empty canonical text yields no grams and
    * degrades to "never matches" on its own.
    *
    * Cross-engine contract (rides [[canonicalText]]'s):
    * `coalesce(nullif(<canon twin>, ''), text)`.
    */
  def canonicalKey(text: Column): Column =
    coalesce(nullif(canonicalText(text), lit("")), text)

  /** Does the text carry ANY character whose Unicode SCRIPT is
    * neither Latin, Common, nor Inherited — the canonical-LOSS gate.
    * [[canonicalKey]]'s empty-fallback only
    * protects fully non-ASCII documents; a MIXED document (half
    * Latin, half Han) canonicalizes to just its Latin half, so two
    * documents differing only in their non-Latin content would
    * falsely share a canonical digest. This predicate is the routing
    * signal: any non-Latin-script signal at all → canonical keying
    * is lossy for this document.
    *
    * The class is INVERTED rather than an allowlist of scripts
    * (r19 — through r18 it named five scripts and a kana/Greek/Thai/
    * Hebrew document slipped through to canonical keying, falsely
    * merging pairs that differ only in that content): any script with
    * actual content signal — the [[scriptCounts]] names and every
    * script beyond them (Gujarati, Sinhala, Khmer, …) — routes raw.
    * What deliberately does NOT route: accented Latin (é is script
    * Latin — case/accent collapse is the POINT of canonical keying),
    * digits/punctuation/emoji (script Common) and combining marks on
    * Latin (script Inherited) — those canonicalize away as noise, and
    * the fully-non-ASCII residue (e.g. emoji-only docs) still lands
    * on [[canonicalKey]]'s raw fallback.
    *
    * Cross-engine contract: Java regex spells the class
    * `[^\p{IsLatin}\p{IsCommon}\p{IsInherited}]`
    * where RE2 (DuckDB) spells
    * `[^\p{Latin}\p{Common}\p{Inherited}]` —
    * different syntax, same script classification
    * (see [[scriptCounts]]; the routing behavior across all ten named
    * scripts + Georgian + the deliberate non-routes is differential
    * spec'd in DedupSpec, and the Java ≡ RE2 classification is
    * hash-proven by the text_script / routed-key oracle gates).
    */
  def hasNonLatinScript(text: Column): Column =
    text.rlike(NonLatinClassJava)

  /** The Java spelling of the routing class — the single source of
    * truth [[hasNonLatinScript]]/[[routedKey]]/[[routedText]] and the
    * per-doc loss meter share; the RE2 (DuckDB) twin is
    * `[^\p{Latin}\p{Common}\p{Inherited}]`.
    */
  val NonLatinClassJava = "[^\\p{IsLatin}\\p{IsCommon}\\p{IsInherited}]"

  /** The script-ROUTED digest key — the multilingual production
    * posture [[scriptCounts]]'s scaladoc describes, packaged as one
    * expression: documents carrying any non-Latin-script signal
    * ([[hasNonLatinScript]] — canonical keying would strip it) keep
    * their RAW text as the key, pure-Latin documents take
    * the full normalize-then-hash [[canonicalKey]] (whose
    * empty-fallback still covers the residual non-routed cases:
    * emoji-only and punctuation-only documents are script Common,
    * canonicalize to "", and fall back raw). Routed keying therefore
    * degrades monotonically: it never collapses two documents that
    * differ in any non-Latin-SCRIPT content (the inverted class makes
    * this airtight across every script, r19), and never loses the
    * case/punctuation collapse on pure-ASCII text.
    *
    * Cross-engine contract:
    * `CASE WHEN regexp_matches(text, '[^<the three RE2 classes>]')
    *  THEN text ELSE <canonicalKey twin> END` — see
    * [[hasNonLatinScript]] for the class spelling on each engine.
    */
  def routedKey(text: Column): Column =
    when(hasNonLatinScript(text), text).otherwise(canonicalKey(text))

  /** [[routedKey]] with a LOSS FLOOR (r19) — the thresholded variant
    * for corpora where a single stray non-Latin glyph (one Cyrillic
    * look-alike in a 10k-char English doc) should NOT forfeit the
    * case/punct collapse for the whole document: the doc routes raw
    * only when canonical keying would strip MORE than
    * `minLossFs` / 10⁴ of its characters (the [[graft.operators
    * .TextAnalysis.scriptProfile]] `canon_loss_fs` measure, inlined).
    * `minLossFs = 0` is EXACTLY [[routedKey]] — any non-Latin signal
    * routes (the monotonically-safe default); a positive floor trades
    * bounded false-merge exposure (docs differing only inside their
    * sub-floor non-Latin tail DO collapse) for canonical robustness
    * on noise glyphs — the documented knob, not the default.
    *
    * Cross-engine contract: the loss meter is
    * `floor(1e4 · regexp_count(text, <inverted class>) / length)`
    * on both engines (RE2 twin:
    * `len(regexp_extract_all(text, '[^\p{Latin}\p{Common}\p{Inherited}]'))`).
    */
  def routedKey(text: Column, minLossFs: Long): Column = {
    require(minLossFs >= 0L, s"minLossFs must be >= 0, got $minLossFs")
    if (minLossFs == 0L) routedKey(text)
    else {
      val loss = floor(lit(10000.0) *
        regexp_count(text, lit(NonLatinClassJava)) /
        greatest(length(text), lit(1)))
      when(loss > minLossFs, text).otherwise(canonicalKey(text))
    }
  }

  /** The script-ROUTED text stream for the GRAM families — the
    * [[routedKey]] rule without the digest guard: documents carrying
    * non-Latin-script signal keep their raw text (their shingles
    * carry the content canonical keying would strip),
    * pure-Latin documents canonicalize. No empty-fallback here —
    * a punctuation-only document canonicalizes to "", yields no
    * grams, and degrades to "never matches" exactly like the
    * canonical gram stream (the set-similarity-safe posture; the
    * fallback is only needed where "" becomes ONE SHARED digest).
    *
    * Cross-engine contract: the CASE over [[hasNonLatinScript]]'s
    * twin with [[canonicalText]]'s twin in the ELSE branch.
    */
  def routedText(text: Column): Column =
    when(hasNonLatinScript(text), text).otherwise(canonicalText(text))

  /** [[routedText]] with the LOSS FLOOR (r20) — [[routedKey]]'s
    * two-arg thresholded rule in the gram form: a doc grams raw only
    * when canonical keying would strip MORE than `minLossFs` / 10⁴ of
    * its characters, so a stray non-Latin glyph keeps the canonical
    * gram stream (the [[routedKey]] trade, identical meter and
    * cross-engine contract); `minLossFs = 0` is EXACTLY [[routedText]].
    * No empty-fallback either way — the gram families degrade to
    * "never matches" on empty canonical forms.
    */
  def routedText(text: Column, minLossFs: Long): Column = {
    require(minLossFs >= 0L, s"minLossFs must be >= 0, got $minLossFs")
    if (minLossFs == 0L) routedText(text)
    else {
      val loss = floor(lit(10000.0) *
        regexp_count(text, lit(NonLatinClassJava)) /
        greatest(length(text), lit(1)))
      when(loss > minLossFs, text).otherwise(canonicalText(text))
    }
  }

  /** Distinct token set (order preserved by first occurrence). */
  def tokenSet(text: Column): Column = array_distinct(tokens(text))

  /** Word n-grams as "w1 w2 .. wn" strings — the shingle unit for
    * MinHash / Jaccard dedup. Implemented with transform over index
    * sequence so it stays codegen'd.
    */
  def wordNgrams(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n), i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** The DISTINCT gram stream (`array_distinct(wordNgrams(toks, n))`)
    * as one native pass: each gram materialized once into an
    * insertion-ordered set — first-occurrence order and binary
    * equality, exactly array_distinct's (parity spec in
    * ExpressionsSpec). On a NULL token array the result is SQL NULL
    * (the builtin chain would yield an empty array) — every consumer
    * either filters `size(grams) > 0` or explodes, both of which drop
    * the row either way.
    */
  def distinctWordNgrams(toks: Column, n: Int): Column =
    ColumnBridge.column(DistinctNgrams(ColumnBridge.expression(toks), Literal(n)))

  /** Total and distinct word-n-gram counts as struct(n_grams, n_uniq)
    * in one native token-array walk (grams materialized once into a
    * hash set). NULL input → SQL NULL.
    */
  def ngramStats(toks: Column, n: Int): Column =
    ColumnBridge.column(NgramStats(ColumnBridge.expression(toks), Literal(n)))

  /** Count of regex-token matches (BPE-ish alnum runs). */
  def regexTokenCount(text: Column): Column = regexp_count(text, lit("[a-z0-9]+"))

  /** The fourteen NAMED scripts the per-script counters track, in the
    * alphabetical order every dominant-script argmax ties break in —
    * the single source of truth [[scriptCounts]], [[graft.operators
    * .TextAnalysis.scriptProfile]]/[[graft.operators.TextAnalysis
    * .scriptMix]]'s argmax, [[ScriptLangTags]], and the oracle
    * generators all derive from. The ROUTING class is broader
    * ([[hasNonLatinScript]]'s inverted class — every script routes);
    * these are the high-volume ones worth a dedicated counter, and
    * everything beyond them lands in `n_other`. r20 extends the tier
    * one ring out (armenian/bengali/georgian/tamil — the
    * highest-volume scripts that landed in 'other' through r19;
    * labeling honesty, not correctness: the inverted class already
    * routed them).
    */
  val NamedScripts: Seq[String] = Seq(
    "arabic", "armenian", "bengali", "cyrillic", "devanagari",
    "georgian", "greek", "han", "hangul", "hebrew",
    "hiragana", "katakana", "tamil", "thai")

  /** script → ISO-639 tag for the script-majority language-ID tier
    * ([[graft.operators.TextAnalysis.langIdScriptPredictions]] and
    * its oracle twin both generate their argmax CASE from this, in
    * this script-name-alphabetical order — the r19 single-source
    * rule, extended to the tag map in r20): every [[NamedScripts]]
    * entry except the kana pair, which the tagger handles with its
    * own presence rule (kana → 'ja' BEFORE any argmax — kana occurs
    * in no other living orthography, while kanji-majority Japanese
    * would argmax to 'zh').
    */
  val ScriptLangTags: Seq[(String, String)] = Seq(
    "arabic" -> "ar", "armenian" -> "hy", "bengali" -> "bn",
    "cyrillic" -> "ru", "devanagari" -> "hi", "georgian" -> "ka",
    "greek" -> "el", "han" -> "zh", "hangul" -> "ko",
    "hebrew" -> "he", "tamil" -> "ta", "thai" -> "th")

  /** Per-script character counts — the multilingual ROUTING signal
    * ([[canonicalText]] strips everything outside [a-z0-9], so a
    * pipeline must know how much non-Latin signal a document carries
    * BEFORE opting into canonical keying; [[canonicalKey]]'s raw
    * fallback is the safety net, this is the steering wheel).
    * Unicode-script properties, not code-point ranges: one native
    * walk over the code points classifies each via
    * `Character.UnicodeScript` (the tables Java regex's `\p{IsHan}`
    * consults) where RE2 (DuckDB) spells `\p{Han}` — same script
    * classification, so the oracle matches result-for-result (CJK
    * punctuation is script Common and counts in neither; digits are
    * Common too, counted separately).
    *
    * Fields: `n_latin`, one `n_<script>` per [[NamedScripts]] entry
    * (r19 added greek/hebrew/hiragana/katakana/thai, r20 adds
    * armenian/bengali/georgian/tamil), `n_other` = characters
    * [[hasNonLatinScript]]'s inverted class matches MINUS the
    * named-script sum (Gujarati, Sinhala, Khmer, … — counted so
    * the canonical-loss meter sees EVERY script the router protects,
    * not just the named set; pure arithmetic, because RE2 has no
    * class-subtraction syntax to express it directly), and `n_digit`.
    */
  def scriptCounts(text: Column): Column =
    ColumnBridge.column(ScriptCounts(ColumnBridge.expression(text)))

  /** Count of punctuation/non-alnum characters (excluding spaces). */
  def punctCount(text: Column): Column = regexp_count(text, lit("[^a-z0-9 ]"))

  /** Count of tokens found in `words`. */
  def countIn(toks: Column, words: Seq[String]): Column =
    size(array_filter(toks, t => t.isin(words.map(lit): _*)))

  /** Tiny per-language stopword lists for the heuristic language ID.
    * Public-knowledge function-word lists; tie-break = alphabetical
    * language code, zero evidence = "unk".
    */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "en" -> Seq("the", "a", "and", "of", "to"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "fr" -> Seq("le", "les", "et", "des", "un"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4", "he2") // pinyin-romanized
  )

  /** Predicted language: argmax of stopword hits, alphabetical
    * tie-break, "unk" if no list scores > 0.
    *
    * Single-pass form: the token array and the 5 counts are each
    * BOUND ONCE as lambda variables (the single-element-array +
    * transform trick is Catalyst's let-binding), so the row cost is
    * one tokenize + one membership pass per language — the naive CASE
    * chain re-embeds every count per comparison and re-evaluates the
    * tokenizer ~25× per row on what is otherwise a scan-bound
    * operator.
    *
    * Tie-break parity with the oracle SQL: `stopwords` is ordered
    * alphabetically and array_position returns the FIRST index of the
    * max, so equal counts resolve to the alphabetically-first code —
    * identical to the oracle's ordered CASE evaluation.
    */
  def langId(toks: Column): Column = {
    val langsLit = typedlit(stopwords.map(_._1))
    element_at(
      transform(array(toks), ts => {
        val counts = array(stopwords.map { case (_, words) => countIn(ts, words) }: _*)
        element_at(
          transform(array(counts), c =>
            when(array_max(c) > 0,
              element_at(langsLit, array_position(c, array_max(c)).cast("int")))
              .otherwise(lit("unk"))),
          1)
      }),
      1)
  }

  /** Quality score in fixed-point (floor(score * 1e4) as BIGINT):
    *   0.4·uniq_ratio + 0.2·(1 − stop_ratio) + 0.2·(1 − punct_ratio)
    * + 0.2·min(1, n_tok/100)
    * where punct_ratio = n_punct / n_chars. Expression order matters
    * for bit parity with the oracle — keep in sync with
    * Oracles.textQuality.
    */
  def qualityScoreFs(nTok: Column, nUniq: Column, nStop: Column,
                     nPunct: Column, nChars: Column): Column =
    floor(lit(10000.0) * (lit(0.4) * (nUniq.cast("double") / nTok)
      + lit(0.2) * (lit(1.0) - nStop.cast("double") / nTok)
      + lit(0.2) * (lit(1.0) - nPunct.cast("double") / nChars)
      + lit(0.2) * least(lit(1.0), nTok.cast("double") / lit(100.0))))
}
