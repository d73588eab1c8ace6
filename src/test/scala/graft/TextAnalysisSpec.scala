package graft

import graft.operators.TextAnalysis

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("token counts: whitespace, regex, and distinct") {
    val d = Seq((1L, "the cat sat on the mat")).toDF("doc_id", "text")
    val r = TextAnalysis.tokenCounts(d).collect()(0)
    assert(r.getAs[Long]("ws_tokens") == 6L)
    assert(r.getAs[Long]("re_tokens") == 6L)
    assert(r.getAs[Long]("uniq_tokens") == 5L)
  }

  test("whitespace robustness: tokensWs/normalizeWs fix what the naive tokenizer fuses") {
    import graft.functions.TextFunctions.{normalizeWs, tokens, tokensWs}
    import org.apache.spark.sql.functions._
    // tab, doubled space, newline, trailing space — each a violation
    // of the naive tokenizer's single-space contract
    val d = Seq(
      (1L, "alpha\tbeta  gamma\ndelta "),
      (2L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val rows = d.select(col("doc_id"),
        tokens(col("text")).as("naive"),
        tokensWs(col("text")).as("robust"),
        (tokens(normalizeWs(col("text"))) === tokensWs(col("text"))).as("roundtrip"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getSeq[String](1), r.getSeq[String](2), r.getAs[Boolean]("roundtrip")))).toMap
    val words = Seq("alpha", "beta", "gamma", "delta")
    // naive on the messy doc fuses across tab/newline and emits
    // empties: ["alpha\tbeta", "", "gamma\ndelta", ""] — same COUNT as
    // the clean doc, silently wrong tokens (the footgun)
    assert(rows(1L)._1 == Seq("alpha\tbeta", "", "gamma\ndelta", ""),
      s"fixture pins the naive fusion, got ${rows(1L)._1}")
    assert(rows(1L)._2 == words && rows(2L)._2 == words,
      "robust tokenizer recovers the 4 true words in both docs")
    assert(rows(1L)._3 && rows(2L)._3,
      "tokens(normalizeWs(x)) == tokensWs(x) — the documented round-trip")
    // wsNormalized makes the messy doc byte-equal to its clean twin:
    // one hash group downstream instead of two
    assert(graft.operators.Dedup.exact(d).count() == 2L, "raw digests differ")
    assert(graft.operators.Dedup.exact(TextAnalysis.wsNormalized(d)).count() == 1L,
      "the wsNormalized pre-pass lets every downstream operator key correctly")
    // the ingest validation signal
    val rep = TextAnalysis.whitespaceReport(d).collect()(0)
    assert(rep.getAs[Long]("n_docs") == 2L && rep.getAs[Long]("n_messy") == 1L
      && rep.getAs[Long]("messy_fs") == 5000L, s"got $rep")
    // empty corpus: rate 0, no division blow-up
    val emptyRep = TextAnalysis.whitespaceReport(d.limit(0)).collect()(0)
    assert(emptyRep.getAs[Long]("messy_fs") == 0L)
  }

  test("scriptProfile: closed-form script counts, dominant-script ties, the canonical-loss router") {
    import org.apache.spark.sql.functions.col
    val d = Seq(
      (1L, "hello world 42"),     // 10 latin, 2 digit, loss 0
      (2L, "你好，世界。"),         // 4 han over 6 chars -> loss 6666
      (3L, "мир труд"),           // 7 cyr over 8 chars -> loss 8750
      (4L, "你好 мир x7"),         // 1/2/3/0/0/0/1 over 9 chars -> loss 5555, cyr wins 3>2
      (5L, ""),                   // empty: all 0, loss 0 (no division)
      (6L, "سلام دنیا"),          // 8 arabic over 9 chars -> loss 8888
      (7L, "नमस्ते x"),            // 6 devanagari over 8 chars -> loss 7500
      (8L, "안녕 세계"),            // 4 hangul over 5 chars -> loss 8000
      (9L, "あいう カナ"),          // 3 hiragana + 2 katakana over 6 -> loss 8333, hiragana wins
      (10L, "γεια x"),            // 4 greek over 6 chars -> loss 6666
      (11L, "สวัสดี"),             // 6 thai over 6 chars -> loss 10000
      (12L, "שלום y2"),           // 4 hebrew over 7 chars -> loss 5714
      (13L, "ქართული x"),         // 7 georgian (NAMED since r20) -> loss 7777
      (14L, "Հայերեն x"),          // 7 armenian over 9 -> loss 7777
      (15L, "বাংলা ab"),            // 5 bengali over 8 -> loss 6250
      (16L, "தமிழ் y"),             // 5 tamil over 7 -> loss 7142
      (17L, "ગુજરાતી z"))           // 7 GUJARATI -> n_other (outside the named fourteen)
      .toDF("doc_id", "text")
    val got = TextAnalysis.scriptProfile(d).collect().map(r =>
      r.getAs[Long]("doc_id") -> ((r.getAs[Long]("n_latin"), r.getAs[Long]("n_han"),
        r.getAs[Long]("n_cyrillic"), r.getAs[Long]("n_arabic"),
        r.getAs[Long]("n_devanagari"), r.getAs[Long]("n_hangul"), r.getAs[Long]("n_digit"),
        r.getAs[String]("nonlatin_script"), r.getAs[Long]("canon_loss_fs")))).toMap
    assert(got(1L) == ((10L, 0L, 0L, 0L, 0L, 0L, 2L, "none", 0L)), s"got ${got(1L)}")
    assert(got(2L) == ((0L, 4L, 0L, 0L, 0L, 0L, 0L, "han", 6666L)), s"got ${got(2L)}")
    assert(got(3L) == ((0L, 0L, 7L, 0L, 0L, 0L, 0L, "cyrillic", 8750L)), s"got ${got(3L)}")
    assert(got(4L) == ((1L, 2L, 3L, 0L, 0L, 0L, 1L, "cyrillic", 5555L)), s"got ${got(4L)}")
    assert(got(5L) == ((0L, 0L, 0L, 0L, 0L, 0L, 0L, "none", 0L)), s"got ${got(5L)}")
    assert(got(6L) == ((0L, 0L, 0L, 8L, 0L, 0L, 0L, "arabic", 8888L)), s"got ${got(6L)}")
    assert(got(7L) == ((1L, 0L, 0L, 0L, 6L, 0L, 0L, "devanagari", 7500L)), s"got ${got(7L)}")
    assert(got(8L) == ((0L, 0L, 0L, 0L, 0L, 4L, 0L, "hangul", 8000L)), s"got ${got(8L)}")
    // the r19 scripts, via their named columns + the remainder bucket
    val wide = TextAnalysis.scriptProfile(d).collect().map(r =>
      r.getAs[Long]("doc_id") -> ((r.getAs[Long]("n_hiragana"), r.getAs[Long]("n_katakana"),
        r.getAs[Long]("n_greek"), r.getAs[Long]("n_thai"), r.getAs[Long]("n_hebrew"),
        r.getAs[Long]("n_other"), r.getAs[String]("nonlatin_script"),
        r.getAs[Long]("canon_loss_fs")))).toMap
    assert(wide(9L) == ((3L, 2L, 0L, 0L, 0L, 0L, "hiragana", 8333L)), s"got ${wide(9L)}")
    assert(wide(10L) == ((0L, 0L, 4L, 0L, 0L, 0L, "greek", 6666L)), s"got ${wide(10L)}")
    assert(wide(11L) == ((0L, 0L, 0L, 6L, 0L, 0L, "thai", 10000L)), s"got ${wide(11L)}")
    assert(wide(12L) == ((0L, 0L, 0L, 0L, 4L, 0L, "hebrew", 5714L)), s"got ${wide(12L)}")
    // the r20 ring via its named columns (georgian was 'other'
    // through r19), plus Gujarati exercising the remainder bucket:
    // every named counter 0, n_other carries it, and the loss meter
    // still sees it — the router (hasNonLatinScript's inverted class)
    // and the meter agree on EVERY script, named or not
    val r20 = TextAnalysis.scriptProfile(d).collect().map(r =>
      r.getAs[Long]("doc_id") -> ((r.getAs[Long]("n_armenian"), r.getAs[Long]("n_bengali"),
        r.getAs[Long]("n_georgian"), r.getAs[Long]("n_tamil"), r.getAs[Long]("n_other"),
        r.getAs[String]("nonlatin_script"), r.getAs[Long]("canon_loss_fs")))).toMap
    assert(r20(13L) == ((0L, 0L, 7L, 0L, 0L, "georgian", 7777L)), s"got ${r20(13L)}")
    assert(r20(14L) == ((7L, 0L, 0L, 0L, 0L, "armenian", 7777L)), s"got ${r20(14L)}")
    assert(r20(15L) == ((0L, 5L, 0L, 0L, 0L, "bengali", 6250L)), s"got ${r20(15L)}")
    assert(r20(16L) == ((0L, 0L, 0L, 5L, 0L, "tamil", 7142L)), s"got ${r20(16L)}")
    assert(r20(17L) == ((0L, 0L, 0L, 0L, 7L, "other", 7777L)), s"got ${r20(17L)}")
    // the langid tag map stays in lockstep with the named tier: every
    // named script except the kana pair carries a tag, in order
    assert(graft.functions.TextFunctions.ScriptLangTags.map(_._1) ==
      graft.functions.TextFunctions.NamedScripts
        .filterNot(Set("hiragana", "katakana")),
      "ScriptLangTags must cover NamedScripts minus kana, in argmax order")
    // the router composition: only loss-free docs opt into canonical
    // keying; the rest stay raw — no doc ever reaches the md5("") path
    val safeIds = TextAnalysis.scriptProfile(d).filter(col("canon_loss_fs") === 0L)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(safeIds == Set(1L, 5L), s"got $safeIds")
  }

  test("scriptMix: corpus composition per dominant script, closed-form") {
    val d = Seq(
      (1L, "hello world"),      // none, len 11
      (2L, "hi there"),         // none, len 8
      (3L, "你好，世界。"),        // han, len 6, nl 4
      (4L, "мир"),              // cyrillic, len 3, nl 3
      (5L, "안녕 세계"))           // hangul, len 5, nl 4
      .toDF("doc_id", "text")
    val got = TextAnalysis.scriptMix(d).collect().map(r =>
      r.getAs[String]("script") -> ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_chars"),
        r.getAs[Long]("nonlatin_chars"), r.getAs[Long]("docs_share_fs")))).toMap
    assert(got == Map(
      "none" -> ((2L, 19L, 0L, 4000L)),
      "han" -> ((1L, 6L, 4L, 2000L)),
      "cyrillic" -> ((1L, 3L, 3L, 2000L)),
      "hangul" -> ((1L, 5L, 4L, 2000L))), s"got $got")
  }

  test("langIdScriptPredictions: script-majority routes to zh/ru/ar, Latin-majority keeps stopwords") {
    import org.apache.spark.sql.functions.col
    val d = Seq(
      (1L, "the cat and the dog of the town", "en"), // stopword path: en
      (2L, "你好世界你好世界", "zh"),                   // 8 han > 0 latin -> zh
      (3L, "привет мир", "ru"),                      // 9 cyr > 0 latin -> ru
      (4L, "سلام دنیا سلام", "ar"),                  // 12 arabic -> ar
      (5L, "the train 你好", "en"),  // 8 latin > 2 han: minority Han stays stopword (en)
      (6L, "你好 мир", "zh"),        // 2 han vs 3 cyr, 0 latin: cyr wins the argmax -> ru
      (7L, "x 你好你好", "zh"),       // 4 han > 1 latin, no stopwords anywhere -> zh
      (8L, "नमस्ते दुनिया", "hi"),    // 12 devanagari -> hi
      (9L, "안녕하세요 세계", "ko"),    // 7 hangul -> ko
      (10L, "こんにちは 世界", "ja"),  // kana presence -> ja (hiragana majority)
      // the r18 mislabel showpiece: kanji-MAJORITY Japanese (4 han vs
      // 1 hiragana) — the han argmax would read 'zh'; kana presence
      // must win FIRST
      (11L, "日本語の文", "ja"),
      (12L, "カタカナ テスト", "ja"),  // katakana-only -> ja
      (13L, "γεια σου κόσμε", "el"), // greek-majority -> el
      (14L, "สวัสดี ชาวโลก", "th"),   // thai-majority -> th
      (15L, "שלום עולם", "he"),      // hebrew-majority -> he
      // the r20 ring: scripts that read 'unk' through r19 now carry
      // their family tags (the router protected them all along —
      // labeling honesty, not correctness)
      (16L, "ქართული ენა", "ka"),
      (17L, "Հայերեն լեզու", "hy"),
      (18L, "বাংলা ভাষা", "bn"),
      (19L, "தமிழ் மொழி", "ta"),
      // non-Latin majority entirely OUTSIDE the named fourteen
      // (Gujarati): no family tag fires -> honest 'unk', never a
      // false neighbor-script tag
      (20L, "ગુજરાતી ભાષા", "gu"))
      .toDF("doc_id", "text", "lang")
    val got = TextAnalysis.langIdScriptPredictions(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("pred_lang")).toMap
    assert(got == Map(1L -> "en", 2L -> "zh", 3L -> "ru", 4L -> "ar",
      5L -> "en", 6L -> "ru", 7L -> "zh", 8L -> "hi", 9L -> "ko",
      10L -> "ja", 11L -> "ja", 12L -> "ja", 13L -> "el", 14L -> "th",
      15L -> "he", 16L -> "ka", 17L -> "hy", 18L -> "bn", 19L -> "ta",
      20L -> "unk"), s"got $got")
    // the plain heuristic reads every script-majority doc 'unk' —
    // the differential the script route exists to close
    val plain = TextAnalysis.langIdPredictions(d.select(col("doc_id"), col("text"), col("lang")))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("pred_lang")).toMap
    assert(Seq(2L, 3L, 4L, 6L, 7L, 8L, 9L).forall(plain(_) == "unk"), s"got $plain")
  }

  test("passageDedup canonical drops empty-canonical docs instead of md5('')-boilerplating them") {
    import org.apache.spark.sql.functions.col
    // docs 3-4 canonicalize to "": their only chunk would be the
    // SHARED md5("") key, flagging every non-Latin doc as boilerplate
    val block = (1 to 8).map(i => s"tok$i").mkString(" ")
    val d = Seq(
      (1L, block), (2L, block.toUpperCase),
      (3L, "你好，世界。"), (4L, "мир труд май")).toDF("doc_id", "text")
    val out = TextAnalysis.passageDedup(d, chunkTokens = 8, strideTokens = 8,
        canonical = true)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_chunks"), r.getAs[Long]("n_boilerplate")))).toMap
    assert(out.keySet == Set(1L, 2L),
      s"empty-canonical docs drop from canonical passage keying, got ${out.keySet}")
    assert(out(1L) == ((1L, 1L)) && out(2L) == ((1L, 1L)),
      "the genuine case-variant pair still flags as boilerplate")
    // raw keying keeps the non-ASCII docs (distinct raw chunks)
    val raw = TextAnalysis.passageDedup(d, chunkTokens = 8, strideTokens = 8)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_boilerplate")).toMap
    assert(raw.keySet == Set(1L, 2L, 3L, 4L) && raw(3L) == 0L && raw(4L) == 0L)
  }

  test("tokensWsReport: closed-form counts on a planted-messy doc") {
    import org.apache.spark.sql.functions.col
    // messy("a b") = "a b\ta b  ": naive single-space split yields
    // ["a", "b\ta", "b", "", ""] = 5 (one fused token, two trailing
    // empties); robust yields ["a","b","a","b"] = 4; normalized text
    // "a b a b" has 7 chars
    val d = Seq((1L, "a b")).toDF("doc_id", "text")
    val r = TextAnalysis.tokensWsReport(d).collect()(0)
    assert(r.getAs[Long]("naive_tokens") == 5L, s"got $r")
    assert(r.getAs[Long]("ws_tokens") == 4L, s"got $r")
    assert(r.getAs[Long]("norm_chars") == 7L, s"got $r")
  }

  test("quality score matches the hand-computed formula") {
    val d = Seq((1L, "the cat, sat on the mat!")).toDF("doc_id", "text")
    val r = TextAnalysis.quality(d).collect()(0)
    val (nTok, nUniq, nStop, nPunct, nChars) = (6.0, 5.0, 2.0, 2.0, 24.0)
    val expected = math.floor(10000.0 * (0.4 * (nUniq / nTok)
      + 0.2 * (1.0 - nStop / nTok) + 0.2 * (1.0 - nPunct / nChars)
      + 0.2 * math.min(1.0, nTok / 100.0))).toLong
    assert(r.getAs[Long]("n_stop") == 2L)
    assert(r.getAs[Long]("n_punct") == 2L, "comma and bang are punctuation")
    assert(r.getAs[Long]("score_fs") == expected)
  }

  test("language id picks the list with most stopword hits, unk on none") {
    val d = Seq(
      (1L, "the dog and the cat of a house", "en"),
      (2L, "el perro y la casa de que y el", "es"),
      (3L, "der hund und die katze ist da", "de"),
      (4L, "xyzzy plugh foobar", "xx")
    ).toDF("doc_id", "text", "lang")
    val out = TextAnalysis.langIdPredictions(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("pred_lang")).toMap
    assert(out(1L) == "en")
    assert(out(2L) == "es")
    assert(out(3L) == "de")
    assert(out(4L) == "unk")
  }

  test("word n-grams: correct shingles, empty when doc shorter than n") {
    import graft.functions.TextFunctions
    val d = Seq((1L, "a b c d"), (2L, "a b")).toDF("doc_id", "text")
    val out = d.select(org.apache.spark.sql.functions.col("doc_id"),
        TextFunctions.wordNgrams(TextFunctions.tokens(
          org.apache.spark.sql.functions.col("text")), 3).as("ng"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(out(1L) == Seq("a b c", "b c d"))
    assert(out(2L).isEmpty, "doc shorter than n must yield no shingles, not a partial one")
  }

  test("vocabulary: doc frequency vs total count distinguish repeats") {
    val d = Seq((1L, "a b a"), (2L, "a c")).toDF("doc_id", "text")
    val v = TextAnalysis.vocabulary(d).collect()
      .map(r => r.getString(0) -> ((r.getAs[Long]("doc_freq"), r.getAs[Long]("total_count")))).toMap
    assert(v("a") == ((2L, 3L)), "a: in 2 docs, 3 occurrences")
    assert(v("b") == ((1L, 1L)) && v("c") == ((1L, 1L)))
  }

  test("tfidf top-k: rare terms outrank common ones, ties break alphabetically") {
    // "z" appears once in doc 1 only (df=1); "a" is in every doc (df=3)
    val d = Seq((1L, "a a a z"), (2L, "a b"), (3L, "a b")).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfTopK(d, k = 2).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rnk")) ->
        ((r.getAs[String]("token"), r.getAs[Long]("score"))))
      .toMap
    // doc 1: z scores 1e6/1 = 1000000 over a's 3e6/3 = 1000000 — TIE,
    // alphabetical: a first... so craft asymmetric: a tf=3 df=3 → 1e6;
    // z tf=1 df=1 → 1e6; tie broken by token asc ⇒ rnk1=a, rnk2=z
    assert(out((1L, 1L)) == (("a", 1000000L)))
    assert(out((1L, 2L)) == (("z", 1000000L)))
    // docs 2,3: b (df=2) scores 500000, a (df=3) 333333 — b outranks a
    assert(out((2L, 1L)) == (("b", 500000L)))
    assert(out((2L, 2L)) == (("a", 333333L)), "integer div truncates 1e6/3")
  }

  test("encode: ids rank by frequency then alphabet, OOV is -1, positions are 1-based") {
    // freq: a×3, b×2, z×1 → ids a=1, b=2; vocabSize=2 makes z OOV
    val d = Seq((1L, "a b a"), (2L, "b z a")).toDF("doc_id", "text")
    val out = TextAnalysis.encodeTokens(d, vocabSize = 2).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("pos")) -> r.getAs[Long]("token_id"))
      .toMap
    assert(out((1L, 1L)) == 1L && out((1L, 2L)) == 2L && out((1L, 3L)) == 1L)
    assert(out((2L, 2L)) == -1L, "z is out of the size-2 vocab")
    assert(out((2L, 3L)) == 1L)
  }

  test("repetition: duplicated bigram ratio, short docs drop out") {
    val d = Seq(
      (1L, "a b a b a b"), // bigrams: ab,ba,ab,ba,ab → 5 total, 2 distinct
      (2L, "a b c d"),     // all distinct → rep 0
      (3L, "solo")         // < 2 tokens → no bigrams → dropped
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetition(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> ((r.getAs[Long]("n_grams"), r.getAs[Long]("rep_fs"))))
      .toMap
    assert(out.keySet == Set(1L, 2L), "tokenless-of-bigrams doc must not appear")
    assert(out(1L) == ((5L, math.floor(10000.0 * (1.0 - 2.0 / 5.0)).toLong)))
    assert(out(2L) == ((3L, 0L)), "all-distinct grams score 0")
  }

  test("contamination: trigram overlap with a benchmark set, fixed-point ratio") {
    val docs = Seq(
      (1L, "the quick brown fox jumps"),   // shares 'the quick brown'+'quick brown fox' w/ bench
      (2L, "a completely different text here"),
      (3L, "the quick brown fox jumps over") // superset of doc 1's overlap
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "the quick brown fox")).toDF("doc_id", "text")
    val out = TextAnalysis.contaminationAcct(docs, bench).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_hit"), r.getAs[Long]("contam_fs"))))
      .toMap
    // bench trigrams: {the quick brown, quick brown fox}
    assert(out(1L) == ((3L, 2L, math.floor(10000.0 * 2 / 3).toLong)))
    assert(out(2L) == ((3L, 0L, 0L)), "no shared trigram → clean")
    assert(out(3L) == ((4L, 2L, 5000L)))
  }

  test("redact replaces emails, phones, and IPs with typed tags and counts them") {
    import org.apache.spark.sql.functions.col
    val d = Seq(
      (1L, "contact bob.smith+x@example.co.uk or 555-123-4567 at 10.0.0.1 now"),
      (2L, "clean text with no pii at all"),
      (3L, "two mails a@b.io c@d.org and dotted phone 555.123.4567")
    ).toDF("doc_id", "text")
    val redacted = d.select(col("doc_id"), TextAnalysis.redactText(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(redacted(1L) == "contact <EMAIL> or <PHONE> at <IP> now")
    assert(redacted(2L) == "clean text with no pii at all")
    assert(redacted(3L) == "two mails <EMAIL> <EMAIL> and dotted phone <PHONE>")
    val counts = TextAnalysis.redact(d).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_email"), r.getAs[Long]("n_phone"), r.getAs[Long]("n_ip")))).toMap
    assert(counts(1L) == ((1L, 1L, 1L)) && counts(2L) == ((0L, 0L, 0L)) && counts(3L) == ((2L, 1L, 0L)))
    // containment: a phone-shaped local part is consumed by the EMAIL
    // tag — counts must reflect the tags actually emitted, not raw
    // pattern hits on the original text
    val tricky = Seq((9L, "reach 555-123-4567@corp.com today")).toDF("doc_id", "text")
    val t = TextAnalysis.redact(tricky).collect()(0)
    assert(tricky.select(TextAnalysis.redactText(col("text"))).collect()(0).getString(0)
      == "reach <EMAIL> today")
    assert(t.getAs[Long]("n_email") == 1L && t.getAs[Long]("n_phone") == 0L,
      "phone inside the email match must not be double-counted")
  }

  test("fingerprints: dup docs share fp and n_docs reflects the group size") {
    val d = Seq((1L, "a b c"), (2L, "a b c"), (3L, "a b d")).toDF("doc_id", "text")
    val out = TextAnalysis.fingerprints(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> ((r.getAs[Long]("fp"), r.getAs[Long]("n_docs")))).toMap
    assert(out(1L)._1 == out(2L)._1 && out(1L)._2 == 2L)
    assert(out(3L)._1 != out(1L)._1 && out(3L)._2 == 1L)
  }

  test("entropyScore: hand-computed Shannon terms, degenerate and uniform extremes") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "aaaa"),     // one symbol: H = 0 exactly
      (2L, "abab"),     // two equiprobable symbols: H = ln 2
      (3L, "abcd")      // four: H = ln 4 — uniform maximizes H for its charset
    ).toDF("doc_id", "text")
    val out = TextAnalysis.entropyScore(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    def term(c: Long, l: Long) =
      math.floor(1e6 * (c.toDouble / l) * math.log(l.toDouble / c)).toLong
    assert(out(1L) == (4L, 0L), "a single repeated character carries zero entropy")
    assert(out(2L) == (4L, 2 * term(2, 4)))
    assert(out(3L) == (4L, 4 * term(1, 4)))
    assert(out(1L)._2 < out(2L)._2 && out(2L)._2 < out(3L)._2)
  }

  test("lmScore: hand-computed add-one costs, unseen tokens cost the max, reference-like docs score lowest") {
    import graft.operators.TextAnalysis
    // reference: "a" appears 3×, "b" 1× → N = 4, V = 2,
    // p(a) = 4/6, p(b) = 2/6, p(unseen) = 1/6
    val ref = Seq((100L, "a a a b")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "a a"),      // pure high-probability tokens
      (2L, "b b"),      // mid
      (3L, "z q"),      // pure unseen
      (4L, "a z")       // mixed — must land strictly between 1 and 3
    ).toDF("doc_id", "text")
    val out = TextAnalysis.lmScore(docs, ref).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    def fs(nOverC1: Double) = math.floor(1e6 * math.log(nOverC1)).toLong
    val (ca, cb, cz) = (fs(6.0 / 4), fs(6.0 / 2), fs(6.0 / 1))
    assert(out(1L) == (2L, ca), s"doc 1 must cost exactly ln(6/4), got ${out(1L)}")
    assert(out(2L) == (2L, cb))
    assert(out(3L) == (2L, cz))
    assert(out(4L) == (2L, (ca + cz) / 2), "mixed doc = integer mean of its token costs")
    assert(out(1L)._2 < out(4L)._2 && out(4L)._2 < out(3L)._2,
      "cost must rise with reference surprise")
  }

  test("chunk: stride windows cover every token with the documented overlap; tail truncates") {
    // 7 tokens, chunk 4 / stride 3 → chunks at 0,3,6: sizes 4,4,1;
    // ceil(7/3) = 3 chunks exactly
    val d = Seq((1L, "t1 t2 t3 t4 t5 t6 t7"), (2L, "a b")).toDF("doc_id", "text")
    val out = TextAnalysis.chunkPieces(d, chunkTokens = 4, strideTokens = 3).collect()
    val c1 = out.filter(_.getAs[Long]("doc_id") == 1L).sortBy(_.getAs[Long]("chunk_idx"))
    assert(c1.map(_.getAs[Long]("chunk_idx")).toSeq == Seq(0L, 1L, 2L))
    assert(c1.map(_.getAs[Long]("n_chunk_tokens")).toSeq == Seq(4L, 4L, 1L))
    // overlap: chunk 0 = t1..t4, chunk 1 = t4..t7 — boundary token
    // t4 appears in both (the continuation-preserving property)
    val md5 = java.security.MessageDigest.getInstance("MD5")
    def h(s: String) = md5.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(c1(0).getAs[String]("chunk_md5") == h("t1 t2 t3 t4"))
    assert(c1(1).getAs[String]("chunk_md5") == h("t4 t5 t6 t7"))
    assert(c1(2).getAs[String]("chunk_md5") == h("t7"))
    // a short doc emits ceil(2/3) = 1 whole-doc chunk
    val c2 = out.filter(_.getAs[Long]("doc_id") == 2L)
    assert(c2.length == 1 && c2(0).getAs[Long]("n_chunk_tokens") == 2L)
  }

  test("passage dedup: chunks shared across docs are boilerplate; within-doc repeats are not") {
    // chunk 4 / stride 4 (no overlap, for countable chunks):
    // docs 1 and 2 share an identical aligned 4-token passage
    // ("nav bar home login"); doc 3 repeats its own passage twice
    // (within-doc — NOT boilerplate); doc 4 is all-unique
    val shared = "nav bar home login"
    val d = Seq(
      (1L, s"$shared u11 u12 u13 u14"),
      (2L, s"$shared u21 u22 u23 u24"),
      (3L, "rep rep2 rep3 rep4 rep rep2 rep3 rep4"),
      (4L, "w1 w2 w3 w4 w5 w6")).toDF("doc_id", "text")
    val out = TextAnalysis.passageDedup(d, chunkTokens = 4, strideTokens = 4, minDocs = 2)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_chunks"), r.getAs[Long]("n_boilerplate"),
          r.getAs[Long]("kept_tokens"))).toMap
    assert(out(1L) == ((2L, 1L, 4L)), s"doc 1: shared passage flagged, got ${out(1L)}")
    assert(out(2L) == ((2L, 1L, 4L)), s"doc 2: shared passage flagged, got ${out(2L)}")
    // doc 3's repeat lives in ONE doc → count(DISTINCT doc) = 1 < 2
    assert(out(3L) == ((2L, 0L, 8L)), s"doc 3: within-doc repeat kept, got ${out(3L)}")
    assert(out(4L) == ((2L, 0L, 6L)), s"doc 4: unique doc untouched, got ${out(4L)}")
  }

  test("span dedup: planted boilerplate at different offsets, interval merge, min-span filter") {
    // n=3, minSpan=4: docs 1 and 2 share an 8-token licence block at
    // DIFFERENT offsets (what passage/stride alignment cannot see);
    // docs 3 and 5 share only a 3-token phrase (below min-span);
    // doc 4 is shorter than a gram; docs 6 and 7 share two 4-token
    // blocks split by one differing token (two disjoint spans); doc 8
    // merges two shared runs whose token intervals TOUCH (positions
    // 0 and 3 at n=3 → one 6-token span) while doc 9 holds the same
    // two grams a gap apart (two 3-token regions, both filtered)
    val boiler = "c1 c2 c3 c4 c5 c6 c7 c8"
    val d = Seq(
      (1L, s"alpha beta $boiler gamma delta"),
      (2L, s"$boiler t1 t2 t3"),
      (3L, "one two three the quick fox four five six"),
      (4L, "hi there"),
      (5L, "seven eight the quick fox nine ten"),
      (6L, "A B C D x E F G H"),
      (7L, "A B C D y E F G H"),
      (8L, "A B C P Q R x1"),
      (9L, "A B C z P Q R w")).toDF("doc_id", "text")
    val out = TextAnalysis.spanDedup(d, n = 3, minDocs = 2, minSpanTokens = 4)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_spans"),
          r.getAs[Long]("dup_tokens"), r.getAs[Long]("kept_tokens"))).toMap
    assert(out(1L) == ((12L, 1L, 8L, 4L)), s"doc 1: offset-2 block, got ${out(1L)}")
    assert(out(2L) == ((11L, 1L, 8L, 3L)), s"doc 2: offset-0 block, got ${out(2L)}")
    assert(out(3L) == ((9L, 0L, 0L, 9L)), s"doc 3: 3-token phrase filtered, got ${out(3L)}")
    assert(out(4L) == ((2L, 0L, 0L, 2L)), s"doc 4: sub-gram doc, got ${out(4L)}")
    assert(out(5L) == ((7L, 0L, 0L, 7L)), s"doc 5: 3-token phrase filtered, got ${out(5L)}")
    assert(out(6L) == ((9L, 2L, 8L, 1L)), s"doc 6: two disjoint spans, got ${out(6L)}")
    assert(out(7L) == ((9L, 2L, 8L, 1L)), s"doc 7: two disjoint spans, got ${out(7L)}")
    assert(out(8L) == ((7L, 1L, 6L, 1L)), s"doc 8: touching intervals merge, got ${out(8L)}")
    assert(out(9L) == ((8L, 0L, 0L, 8L)), s"doc 9: gapped short regions filtered, got ${out(9L)}")
  }

  test("spanDedup routed: Han-differing middles never stitch a canonical span") {
    // docs 1-2 share k1 k2 _ k3 k4 with DIFFERENT Han middles:
    // canonical keying strips both middles, the stripped streams
    // coincide, and a contiguous k1..k4 "span" appears that exists in
    // NEITHER raw text; routed keying grams the mixed docs raw (no
    // shared 3-gram at all). The pure-ASCII variant pair (3,4) keeps
    // the canonical span under both keyings.
    val d = Seq(
      (1L, "s1 k1 k2 你好 k3 k4 s2"),
      (2L, "b1 k1 k2 再見 k3 k4 b2"),
      (3L, "t1 this program is free software t2"),
      (4L, "c1 THIS Program IS free (software) c2")).toDF("doc_id", "text")
    def dups(canonical: Boolean, routed: Boolean) =
      TextAnalysis.spanDedup(d, n = 3, minDocs = 2, minSpanTokens = 4,
        canonical = canonical, routed = routed)
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("dup_tokens")).toMap
    val canon = dups(canonical = true, routed = false)
    assert(canon(1L) == 4L && canon(2L) == 4L,
      s"canonical keying hallucinates the k1..k4 span (the hazard), got $canon")
    val routed = dups(canonical = false, routed = true)
    assert(routed(1L) == 0L && routed(2L) == 0L,
      s"routed keying grams mixed docs raw — no span, got $routed")
    assert(routed(3L) == 5L && routed(4L) == 5L,
      s"ASCII variants keep the canonical span under routing, got $routed")
  }

  test("span dedup apply: covered tokens drop, survivors re-join in order") {
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val boiler = "c1 c2 c3 c4 c5 c6 c7 c8"
    val d = Seq(
      (1L, s"alpha beta $boiler gamma delta"),
      (2L, s"$boiler t1 t2 t3"),
      (4L, "hi there"),
      (6L, "A B C D x E F G H"),
      (7L, "A B C D y E F G H"),
      (8L, "A B C P Q R x1"),
      (9L, "A B C z P Q R w")).toDF("doc_id", "text")
    val out = TextAnalysis.spanDedupApply(d, n = 3, minDocs = 2, minSpanTokens = 4)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_kept"), r.getAs[String]("clean_md5"))).toMap
    assert(out(1L) == ((4L, md5Hex("alpha beta gamma delta"))), s"doc 1: ${out(1L)}")
    assert(out(2L) == ((3L, md5Hex("t1 t2 t3"))), s"doc 2: ${out(2L)}")
    assert(out(4L) == ((2L, md5Hex("hi there"))), "sub-gram doc untouched")
    assert(out(6L) == ((1L, md5Hex("x"))), s"doc 6: both spans drop, got ${out(6L)}")
    assert(out(7L) == ((1L, md5Hex("y"))), s"doc 7: ${out(7L)}")
    assert(out(8L) == ((1L, md5Hex("x1"))), s"doc 8: merged span drops, got ${out(8L)}")
    assert(out(9L) == ((8L, md5Hex("A B C z P Q R w"))),
      s"doc 9: sub-min regions keep everything, got ${out(9L)}")
    // a fully-covered doc keeps nothing: md5 of the empty rewrite
    val full = Seq((1L, "f1 f2 f3 f4 f5"), (2L, "f1 f2 f3 f4 f5"))
      .toDF("doc_id", "text")
    val fo = TextAnalysis.spanDedupApply(full, n = 3, minDocs = 2, minSpanTokens = 4)
      .collect().map(r => (r.getAs[Long]("n_kept"), r.getAs[String]("clean_md5"))).toSet
    assert(fo == Set((0L, md5Hex(""))), s"exact clones fully covered, got $fo")
  }

  test("span top: the boilerplate leaderboard ranks planted blocks by occurrence") {
    val boiler = "c1 c2 c3 c4 c5 c6 c7 c8"
    val d = Seq(
      (1L, s"alpha beta $boiler gamma delta"),
      (2L, s"$boiler t1 t2 t3"),
      (6L, "A B C D x E F G H"),
      (7L, "A B C D y E F G H"),
      (8L, "A B C P Q R x1"),
      (9L, "A B C z P Q R w")).toDF("doc_id", "text")
    val got = TextAnalysis.spanTop(d, n = 3, minDocs = 2, minSpanTokens = 4)
      .collect().map(r => (r.getAs[String]("span_text"),
        r.getAs[Long]("span_tokens"), r.getAs[Long]("n_occurrences"))).toSeq
    assert(got == Seq(
      ("A B C D", 4L, 2L), ("E F G H", 4L, 2L), (boiler, 8L, 2L),
      ("A B C P Q R", 6L, 1L)),
      s"leaderboard order is (count desc, text asc), got $got")
  }

  test("span rewrite stays inside the region generator's shuffle budget") {
    import org.apache.spark.sql.functions.col
    // every plan the rewrite runs, built and acted on: the gram frame
    // is checkpointed at build time, so its job is a plan of its own
    val (df, ran) = ActionPlans.record(spark) {
      val df = TextAnalysis.spanDedupApply(Tables.documents(spark, sfDir))
      df.write.format("noop").mode("overwrite").save()
      df
    }
    assert(df.filter(col("n_kept") < col("n_tokens")).count() > 0,
      "fixture corpus must exercise real span drops")
    val plan = ran.map(_.plan).mkString("\n")
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    // gram groupBy + gram join-back + the doc window; the region
    // array-join and both (doc, region) aggregations must RIDE those
    // (clustering on doc_id satisfies them) — a 6th exchange means a
    // token-level shuffle leaked into the rewrite
    assert(exchanges <= 5, s"expected ≤5 hash exchanges, got $exchanges:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"span rewrite must stay equi-join shaped:\n$plan")
  }

  test("span accounting and span rewrite agree on every real document") {
    val docs = Tables.documents(spark, sfDir)
    val joined = TextAnalysis.spanDedup(docs)
      .join(TextAnalysis.spanDedupApply(docs).drop("n_tokens"), Seq("doc_id"))
    // dup_tokens counts the disjoint coverage union — exactly the
    // tokens the rewrite drops
    import org.apache.spark.sql.functions.col
    val bad = joined.filter(col("n_tokens") - col("dup_tokens") =!= col("n_kept")).count()
    assert(bad == 0L, s"$bad docs where accounting and rewrite disagree")
  }

  test("chunk invariants hold for every document in the corpus") {
    import org.apache.spark.sql.functions.{ceil => sqlCeil, col, countDistinct, lit, max, min, sum}
    val docs = Tables.documents(spark, sfDir)
    val chunks = TextAnalysis.chunkPieces(docs) // C = 32, S = 24
    val perDoc = chunks.groupBy(col("doc_id"))
      .agg(max(col("chunk_idx")).as("max_idx"), countDistinct(col("chunk_idx")).as("n_chunks"),
        sum(col("n_chunk_tokens")).as("tok_sum"), min(col("n_chunk_tokens")).as("min_tok"))
      .join(TextAnalysis.tokenCounts(docs).select(col("doc_id"), col("ws_tokens")), "doc_id")
    // chunk count = ceil(n/stride), indices dense 0..count−1
    val badCount = perDoc.filter(
      col("n_chunks") =!= sqlCeil(col("ws_tokens") / lit(24.0)).cast("long") ||
        col("max_idx") =!= col("n_chunks") - 1).count()
    assert(badCount == 0, "chunk count/indices must match ceil(n/stride) densely")
    // stride-24 windows of 32 tokens overlap by 8: total chunked
    // tokens = n + 8·(n_chunks − 1) − (uncovered tail of the last
    // window, already truncated) ⇒ sum ≥ n and sum ≤ n + 8·(chunks−1)
    val badCoverage = perDoc.filter(
      col("tok_sum") < col("ws_tokens") ||
        col("tok_sum") > col("ws_tokens") + lit(8L) * (col("n_chunks") - 1)).count()
    assert(badCoverage == 0, "every token must be covered; overlap bounded by 8 per boundary")
    // exact shortness law: chunk i is short ⟺ its window hangs past
    // the doc end (i·stride + chunk > n) — with overlap (C > S) that
    // can include the penultimate window of a thin-tailed doc, so
    // "only the last chunk" would be the WRONG invariant
    val badShort = chunks
      .join(perDoc.select(col("doc_id"), col("ws_tokens")), "doc_id")
      .filter((col("n_chunk_tokens") < 32L) =!=
        (col("chunk_idx") * 24L + 32L > col("ws_tokens"))).count()
    assert(badShort == 0, "short ⟺ window overhangs the doc end")
  }

  test("pack invariants hold for every document in the corpus") {
    import org.apache.spark.sql.functions.{col, lit, max, sum}
    val docs = Tables.documents(spark, sfDir)
    val packed = TextAnalysis.pack(docs) // B = 512, groups of 1000
    // offsets live inside the budget; bin ids non-negative
    assert(packed.filter(col("bin_offset") < 0 || col("bin_offset") >= 512L ||
      col("bin_id") < 0).count() == 0)
    // per (source, bin): token total ≤ budget + one straddling doc's
    // tokens − 1 (the documented overflow bound — bins are GLOBAL per
    // source now that group offsets chain)
    val maxDoc = packed.agg(max(col("n_tokens"))).collect()(0).getLong(0)
    val overflow = packed.groupBy(col("source"), col("bin_id"))
      .agg(sum(col("n_tokens")).as("bin_tokens"))
      .filter(col("bin_tokens") > lit(512L + maxDoc - 1)).count()
    assert(overflow == 0, s"bin totals must stay under budget + maxDoc−1 (maxDoc=$maxDoc)")
    // bins are contiguous per source: ids 0..max with no holes
    import org.apache.spark.sql.functions.countDistinct
    val holes = packed.groupBy(col("source"))
      .agg(max(col("bin_id")).as("max_bin"), countDistinct(col("bin_id")).as("n_bins"))
      .filter(col("n_bins") =!= col("max_bin") + 1).count()
    assert(holes == 0, "bin ids must be dense per source")
  }

  test("pack: bins fill to the budget in doc order; overflow bounded by one straddling doc") {
    // 5 docs of 3 tokens, bin budget 7, one source, one pack group:
    // cum_before = 0,3,6,9,12 → bins 0,0,0,1,1; offsets 0,3,6,2,5
    val d = (1L to 5L).map(i => (i, "x y z", "src0")).toDF("doc_id", "text", "source")
    val out = TextAnalysis.pack(d, binTokens = 7, groupDocs = 1000).collect()
    assert(out.map(_.getAs[Long]("bin_id")).toSeq == Seq(0L, 0L, 0L, 1L, 1L))
    assert(out.map(_.getAs[Long]("bin_offset")).toSeq == Seq(0L, 3L, 6L, 2L, 5L))
    // doc 3 straddles (starts at offset 6 of a 7-token bin): bin 0's
    // token total is 9 = 7 + (3 − 1) — within the documented bound
    // grouping is a PURE parallelism device: splitting the same docs
    // across groups chains the offsets and leaves the packing
    // identical to the single-window result
    val grouped = TextAnalysis.pack(d, binTokens = 7, groupDocs = 3).collect()
    val g = grouped.map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("bin_id"), r.getAs[Long]("bin_offset"))).toMap
    val single = out.map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("bin_id"), r.getAs[Long]("bin_offset"))).toMap
    assert(g == single, s"grouped packing must equal single-window packing: $g vs $single")
  }

  test("pack: sparse doc ids fill bins exactly like dense ids") {
    // post-dedup corpora have gappy id spaces; the r8 grouping
    // restarted bins per id block, degenerating to ~one doc per bin
    // at high sparsity. With chained group offsets the bin layout
    // must be IDENTICAL under any order-preserving id mapping.
    val texts = (0 until 40).map(i => ("w " * (3 + i % 5)).trim)
    val dense = texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "src0") }
      .toDF("doc_id", "text", "source")
    val sparse = texts.zipWithIndex.map { case (t, i) => (i.toLong * 1000003L, t, "src0") }
      .toDF("doc_id", "text", "source")
    def layout(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.pack(df, binTokens = 16, groupDocs = 8).collect()
        .map(r => (r.getAs[Long]("bin_id"), r.getAs[Long]("bin_offset"))).toSeq
    assert(layout(dense) == layout(sparse),
      "bin layout must be invariant to id sparsity (docs in the same order)")
    // and the fill is real: 40 docs × 3–7 tokens into 16-token bins
    // means multi-doc bins, not one-doc-per-bin degeneration
    val binsUsed = layout(sparse).map(_._1).distinct.size
    assert(binsUsed * 2 < 40, s"bins must hold multiple docs, got $binsUsed bins for 40 docs")
  }

  test("canonicalText: cross-engine contract pinned, including the scripts-to-ascii edges") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.functions.TextFunctions.canonicalText
    val in = Seq("The  LICENSE\u2014Block, v2.0!", "tab\there\nnewline", "",
      "Caf\u00e9 \u00dcn\u00efcode STRA\u00dfE", "a-b_c.d", "  lead trail  ",
      "\u0130", "\u212a").toDF("text")
    val got = in.select(canonicalText(col("text"))).collect().map(_.getString(0)).toSeq
    // expected strings computed with the documented DuckDB twin:
    // trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) —
    // non-ascii letters strip; U+0130 lowers INTO 'i' (via i +
    // combining dot on the JVM, the mark then dies in the class) and
    // U+212A into 'k' on both engines
    assert(got == Seq("the license block v2 0", "tab here newline", "",
      "caf n code stra e", "a b c d", "lead trail", "i", "k"), s"got $got")
  }

  test("span dedup canonical: a case/punct-varied licence block is caught that raw keying misses") {
    import spark.implicits._
    val block = "this program is free software you can redistribute it"
    val blockVar = "This Program IS (free) Software; you CAN redistribute\u2014it"
    val d = Seq(
      (1L, s"aaa bbb $block ccc"),
      (2L, s"xxx $blockVar yyy"),
      (3L, "zzz nothing shared here at all qqq rrr")).toDF("doc_id", "text")
    def shape(out: org.apache.spark.sql.DataFrame) =
      out.collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_spans"), r.getAs[Long]("dup_tokens"))).toMap
    val raw = shape(TextAnalysis.spanDedup(d, n = 3, minDocs = 2, minSpanTokens = 4))
    assert(raw.values.forall(_._2 == 0L),
      s"raw 3-grams of the variants must NEVER match (case/punct differ), got $raw")
    val canon = shape(TextAnalysis.spanDedup(d, n = 3, minDocs = 2, minSpanTokens = 4,
      canonical = true))
    assert(canon(1L) == ((12L, 1L, 9L)), s"doc 1: canonical block caught, got ${canon(1L)}")
    assert(canon(2L) == ((11L, 1L, 9L)),
      s"doc 2: the VARIED block keys identically in the canonical stream, got ${canon(2L)}")
    assert(canon(3L) == ((8L, 0L, 0L)), s"doc 3 untouched, got ${canon(3L)}")
    // the rewrite and leaderboard ride the same opt-in
    val applied = TextAnalysis.spanDedupApply(d, n = 3, minDocs = 2, minSpanTokens = 4,
      canonical = true).collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_kept")).toMap
    assert(applied(1L) == 3L && applied(2L) == 2L, s"canonical rewrite drops the block, got $applied")
    val top = TextAnalysis.spanTop(d, n = 3, minDocs = 2, minSpanTokens = 4, k = 5,
      canonical = true).collect()
    assert(top.length == 1 && top(0).getAs[String]("span_text") == block &&
      top(0).getAs[Long]("n_occurrences") == 2L,
      s"leaderboard surfaces the CANONICAL block text, got ${top.mkString(";")}")
  }

  test("passage dedup and contamination honor the canonical opt-in") {
    import spark.implicits._
    val chunkTxt = (1 to 8).map(i => s"w$i").mkString(" ")
    val d = Seq(
      (1L, chunkTxt),
      (2L, chunkTxt.toUpperCase + "!"),
      (3L, (1 to 8).map(i => s"u$i").mkString(" "))).toDF("doc_id", "text")
    val rawP = TextAnalysis.passageDedup(d, chunkTokens = 8, strideTokens = 8, minDocs = 2)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_boilerplate")).toMap
    assert(rawP.values.forall(_ == 0L), s"raw chunks differ by case, got $rawP")
    val canonP = TextAnalysis.passageDedup(d, chunkTokens = 8, strideTokens = 8, minDocs = 2,
      canonical = true)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_boilerplate")).toMap
    assert(canonP(1L) == 1L && canonP(2L) == 1L && canonP(3L) == 0L,
      s"canonical chunks collapse the case variant, got $canonP")
    val bench = Seq((100L, "w1 w2 w3")).toDF("doc_id", "text")
    val docs2 = Seq((1L, "W1, W2... W3!")).toDF("doc_id", "text")
    val rawC = TextAnalysis.contaminationAcct(docs2, bench, n = 3)
      .collect()(0).getAs[Long]("n_hit")
    val canonC = TextAnalysis.contaminationAcct(docs2, bench, n = 3, canonical = true)
      .collect()(0).getAs[Long]("n_hit")
    assert(rawC == 0L && canonC == 1L,
      s"canonical contamination catches the punct-varied quote, got raw=$rawC canon=$canonC")
  }
}
