package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import graft.operators.Dedup
import graft.functions.HashFunctions

class DedupSpec extends SparkSpec {
  import spark.implicits._

  /** Crafted corpus: 1=2 exact dups, 3 near-dup of them, 4 unrelated. */
  private def docs = Seq(
    (1L, "alpha beta gamma delta epsilon", "en", 30L),
    (2L, "alpha beta gamma delta epsilon", "en", 30L),
    (3L, "alpha beta gamma delta zeta", "en", 27L),
    (4L, "one two three four five six seven", "en", 33L)
  ).toDF("doc_id", "text", "lang", "n_chars")

  test("exact dedup groups identical texts and keeps the lowest id") {
    val out = Dedup.exact(docs).collect()
    assert(out.length == 3)
    val dup = out.find(_.getAs[Long]("n_dups") == 2).get
    assert(dup.getAs[Long]("keep_id") == 1L)
  }

  test("near-dup families honor the canonical opt-in: case variants pair only canonically") {
    import spark.implicits._
    // every token differs by case between docs 1 and 2 -> raw shingle
    // sets are DISJOINT (J = 0); the canonical streams are identical
    val words = (1 to 40).map(i => s"tok$i")
    val lower = words.mkString(" ")
    val upper = words.map(_.toUpperCase).mkString(" ")
    val other = (1 to 40).map(i => s"zzz$i").mkString(" ")
    val d = Seq((1L, lower), (2L, upper), (3L, other)).toDF("doc_id", "text")
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // minhash
    assert(pairSet(Dedup.minhashLsh(d).select(col("id_a"), col("id_b"))).isEmpty)
    assert(pairSet(Dedup.minhashLsh(d, canonical = true).select(col("id_a"), col("id_b")))
      == Set((1L, 2L)))
    // simhash (identical canonical fingerprints -> hamming 0)
    assert(pairSet(Dedup.simhashPairs(d).select(col("id_a"), col("id_b"))).isEmpty)
    assert(pairSet(Dedup.simhashPairs(d, canonical = true).select(col("id_a"), col("id_b")))
      == Set((1L, 2L)))
    // blocked n-gram jaccard (same lang + length block by construction)
    val db = d.withColumn("lang", lit("en")).withColumn("n_chars", length(col("text")))
    assert(pairSet(Dedup.ngramJaccardPairs(db).select(col("id_a"), col("id_b"))).isEmpty)
    assert(pairSet(Dedup.ngramJaccardPairs(db, canonical = true)
      .select(col("id_a"), col("id_b"))) == Set((1L, 2L)))
    // banded n-gram LSH
    assert(pairSet(Dedup.ngramLshPairs(d).select(col("id_a"), col("id_b"))).isEmpty)
    assert(pairSet(Dedup.ngramLshPairs(d, canonical = true).select(col("id_a"), col("id_b")))
      == Set((1L, 2L)))
  }

  test("near-dup families honor the routed opt-in: mixed docs raw, ASCII variants canonical") {
    import spark.implicits._
    // docs 1-2: shared Latin half, disjoint Han halves whose
    // canonical residues coincide — canonical keying reads J = 1 /
    // hamming 0, routed reads the true dissimilar raw streams;
    // docs 3-4: pure-ASCII case variants — must pair under routing
    val latin = (1 to 10).map(i => s"tok$i").mkString(" ")
    val d = Seq(
      (1L, s"$latin ${(1 to 10).map(i => s"你好$i").mkString(" ")}"),
      (2L, s"$latin ${(1 to 10).map(i => s"再見$i").mkString(" ")}"),
      (3L, (1 to 10).map(i => s"zzz$i").mkString(" ")),
      (4L, (1 to 10).map(i => s"ZZZ$i").mkString(" "))).toDF("doc_id", "text")
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet(Dedup.minhashLsh(d, canonical = true).select(col("id_a"), col("id_b")))
      .contains((1L, 2L)), "canonical minhash false-pairs the mixed docs")
    assert(pairSet(Dedup.minhashLsh(d, routed = true).select(col("id_a"), col("id_b")))
      == Set((3L, 4L)))
    assert(pairSet(Dedup.simhashPairs(d, routed = true).select(col("id_a"), col("id_b")))
      == Set((3L, 4L)))
    val db = d.withColumn("lang", lit("en")).withColumn("n_chars", length(col("text")))
    assert(pairSet(Dedup.ngramJaccardPairs(db, routed = true)
      .select(col("id_a"), col("id_b"))) == Set((3L, 4L)))
    // passage dedup: single-chunk docs — canonical flags the mixed
    // pair's shared chunk as boilerplate, routed only the ASCII pair
    def boiler(canonical: Boolean, routed: Boolean) =
      graft.operators.TextAnalysis.passageDedup(d, canonical = canonical, routed = routed)
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_boilerplate")).toMap
    assert(boiler(canonical = true, routed = false).values.sum == 4L,
      "canonical chunking flags all four docs' chunks")
    assert(boiler(canonical = false, routed = true) ==
      Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L))
  }

  test("stored LSH index canonical: the key domain rides the meta like the span index") {
    import spark.implicits._
    val words = (1 to 40).map(i => s"ref$i")
    val seed = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
    val variant = Seq((11L, words.map(_.toUpperCase).mkString(" "))).toDF("doc_id", "text")
    Dedup.writeNgramLshIndex(seed, "lshc_raw", buckets = 4)
    assert(Dedup.ngramLshAgainstIndex(variant, "lshc_raw").count() == 0L,
      "a raw index must miss the case variant")
    Dedup.writeNgramLshIndex(seed, "lshc_can", buckets = 4, canonical = true)
    val hit = Dedup.ngramLshAgainstIndex(variant, "lshc_can").collect()
    assert(hit.length == 1 && hit(0).getAs[Long]("jac_fs") == 10000L,
      s"a canonical index shingles the probe in ITS key domain, got ${hit.mkString(";")}")
    // append honors the stored domain too: fold the variant in, then a
    // THIRD casing of the same text must match it
    Dedup.appendToNgramLshIndex(variant, "lshc_can")
    val third = Seq((21L, words.map(_.capitalize).mkString(" "))).toDF("doc_id", "text")
    val hits2 = Dedup.ngramLshAgainstIndex(third, "lshc_can").collect()
      .map(r => r.getAs[Long]("id_ref")).toSet
    assert(hits2 == Set(1L, 11L),
      s"appended docs gram canonically under the meta flag, got $hits2")
  }

  test("stored LSH index routed: mixed-script probes shingle raw under the meta flag") {
    import spark.implicits._
    // reference doc is MIXED (10 Latin + 10 Han tokens): a canonical
    // index strips its Han half, so a probe differing only there
    // reads J = 1; a routed index grams it raw and the probe's true
    // Jaccard (10/30) stays far below threshold — while a pure-ASCII
    // reference/probe pair still matches canonically
    val latin = (1 to 10).map(i => s"ref$i").mkString(" ")
    val seed = Seq(
      (1L, s"$latin ${(1 to 10).map(i => s"你好$i").mkString(" ")}"),
      (2L, (1 to 40).map(i => s"asc$i").mkString(" "))).toDF("doc_id", "text")
    val probe = Seq(
      (11L, s"$latin ${(1 to 10).map(i => s"再見$i").mkString(" ")}"),
      (12L, (1 to 40).map(i => s"ASC$i").mkString(" "))).toDF("doc_id", "text")
    Dedup.writeNgramLshIndex(seed, "lshr_can", buckets = 4, canonical = true)
    val canonHits = Dedup.ngramLshAgainstIndex(probe, "lshr_can").collect()
      .map(r => (r.getAs[Long]("id_in"), r.getAs[Long]("id_ref"))).toSet
    assert(canonHits == Set((11L, 1L), (12L, 2L)),
      s"canonical index false-pairs the Han-differing probe, got $canonHits")
    Dedup.writeNgramLshIndex(seed, "lshr_routed", buckets = 4, routed = true)
    val routedHits = Dedup.ngramLshAgainstIndex(probe, "lshr_routed").collect()
      .map(r => (r.getAs[Long]("id_in"), r.getAs[Long]("id_ref"))).toSet
    assert(routedHits == Set((12L, 2L)),
      s"routed index keeps the mixed docs apart, ASCII still matches, got $routedHits")
    // the in-memory cross-corpus form takes the same opt-in
    val direct = Dedup.ngramLshAgainst(probe, seed, routed = true).collect()
      .map(r => (r.getAs[Long]("id_in"), r.getAs[Long]("id_ref"))).toSet
    assert(direct == Set((12L, 2L)), s"got $direct")
  }

  test("stored LSH index floor: sub-floor glyph probes shingle canonically under the meta") {
    import spark.implicits._
    // a probe that is a CASE variant of the reference plus one stray
    // Cyrillic glyph (~35fs of loss in ~280 chars): a 0-floor routed
    // index shingles it raw (no match); a floor-100 routed index
    // shingles it canonically and the J = 1 pair surfaces — the r20
    // floor as an INDEX property riding the meta
    val latin = (1 to 40).map(i => s"asc$i").mkString(" ")
    val seed = Seq((2L, latin)).toDF("doc_id", "text")
    val probe = Seq((12L, s"${latin.toUpperCase} д")).toDF("doc_id", "text")
    Dedup.writeNgramLshIndex(seed, "lshr_floor0", buckets = 4, routed = true)
    assert(Dedup.ngramLshAgainstIndex(probe, "lshr_floor0").count() == 0L,
      "the 0-floor index keys the glyph probe raw — no pair")
    Dedup.writeNgramLshIndex(seed, "lshr_floor", buckets = 4, routed = true,
      minLossFs = 100L)
    val hits = Dedup.ngramLshAgainstIndex(probe, "lshr_floor").collect()
      .map(r => (r.getAs[Long]("id_in"), r.getAs[Long]("id_ref"))).toSet
    assert(hits == Set((12L, 2L)), s"sub-floor probe matches canonically, got $hits")
    // append shingles with the STORED floor: fold the glyph variant
    // in, then another sub-floor variant pairs with BOTH
    Dedup.appendToNgramLshIndex(probe, "lshr_floor")
    val again = Dedup.ngramLshAgainstIndex(
      Seq((22L, s"$latin ж")).toDF("doc_id", "text"), "lshr_floor").collect()
      .map(r => (r.getAs[Long]("id_in"), r.getAs[Long]("id_ref"))).toSet
    assert(again == Set((22L, 2L), (22L, 12L)),
      s"appended docs gram under the stored floor, got $again")
    // the in-memory cross-corpus form takes the same floor
    val direct = Dedup.ngramLshAgainst(probe, seed, routed = true, minLossFs = 100L)
      .collect().map(r => (r.getAs[Long]("id_in"), r.getAs[Long]("id_ref"))).toSet
    assert(direct == Set((12L, 2L)), s"got $direct")
  }

  test("exact dedup canonical: case/punct variants collapse into one hash group") {
    import spark.implicits._
    val d = Seq(
      (1L, "Hello, World!"), (2L, "hello world"), (3L, "HELLO... (world)"),
      (4L, "a genuinely different doc")).toDF("doc_id", "text")
    val raw = Dedup.exact(d).collect()
    assert(raw.length == 4 && raw.forall(_.getAs[Long]("n_dups") == 1L),
      "raw digests must all differ")
    val canon = Dedup.exact(d, canonical = true).collect()
    assert(canon.length == 2, s"canonical must leave 2 groups, got ${canon.length}")
    val grp = canon.find(_.getAs[Long]("n_dups") == 3L).get
    assert(grp.getAs[Long]("keep_id") == 1L, "lowest id survives the collapsed group")
  }

  test("canonical-empty guard: distinct non-ASCII docs never collapse under canonical keying") {
    import spark.implicits._
    // fully non-ASCII texts canonicalize to "" — without the
    // canonicalKey raw-fallback every one of them would digest
    // md5("") and a multilingual corpus would "dedup" all its
    // non-Latin docs into one survivor (the r17 verdict's hazard)
    val d = Seq(
      (1L, "你好，世界。"), (2L, "мир труд май"), (3L, "你好，世界。"),
      (4L, "hello world")).toDF("doc_id", "text")
    val canon = Dedup.exact(d, canonical = true).collect()
    assert(canon.length == 3,
      s"byte-identical pair collapses, the REST stay distinct — got ${canon.length} groups")
    val grp = canon.find(_.getAs[Long]("n_dups") == 2L).get
    assert(grp.getAs[Long]("keep_id") == 1L,
      "only the byte-identical non-ASCII pair shares a group")
    // ASCII semantics unchanged: case/punct variants still collapse
    val ascii = Seq((1L, "Hello, World!"), (2L, "hello world")).toDF("doc_id", "text")
    assert(Dedup.exact(ascii, canonical = true).count() == 1L)
  }

  test("routed keying: mixed-script docs stay raw-keyed, pure-ASCII docs stay canonical") {
    import spark.implicits._
    // the router's target hazard: MIXED docs differing only in their
    // Han halves — canonicalKey strips both suffixes (the canonical
    // forms are identical and NON-empty, so the empty-fallback never
    // fires) and plain canonical keying falsely merges all three
    val d = Seq(
      (1L, "same latin half 你好"), (2L, "same latin half 再見"),
      (3L, "same latin half"),
      (4L, "Hello, World!"), (5L, "hello world"),
      (6L, "same latin half 你好")).toDF("doc_id", "text")
    val plain = Dedup.exact(d, canonical = true).collect()
    assert(plain.exists(_.getAs[Long]("n_dups") == 4L),
      "plain canonical keying merges the mixed docs with the base (the hazard)")
    val routed = Dedup.exact(d, routed = true).collect()
    assert(routed.length == 4, s"routed must leave 4 groups, got ${routed.length}")
    // byte-identical mixed docs still collapse (1,6); distinct Han
    // suffixes (1 vs 2) and the suffix-free base (3) stay separate
    assert(routed.exists(r => r.getAs[Long]("n_dups") == 2L && r.getAs[Long]("keep_id") == 1L),
      "byte-identical mixed docs share one raw-keyed group")
    // pure-ASCII case/punct variants keep the canonical collapse (4,5)
    assert(routed.count(_.getAs[Long]("n_dups") == 2L) == 2,
      "exactly two pairs: the raw-identical mixed pair and the canonical ASCII pair")
    // the route covers all five r18 scripts: Devanagari- and
    // Hangul-differing variants stay apart too
    val d5 = Seq((1L, "same half नमस्ते"), (2L, "same half दुनिया"),
      (3L, "same half 안녕"), (4L, "same half 세계")).toDF("doc_id", "text")
    assert(Dedup.exact(d5, routed = true).count() == 4L,
      "Devanagari/Hangul variants route raw — no canonical collapse")
  }

  test("routed keying r19: the inverted class routes kana/Greek/Thai/Hebrew/any-script content") {
    import spark.implicits._
    // the r18 coverage gap (the judged ADVICE medium): the five-script
    // allowlist missed kana, so two docs differing ONLY in kana
    // content routed to canonicalKey — which strips the kana — and
    // falsely merged. The r19 inverted class (anything outside
    // Latin/Common/Inherited routes) keeps each pair separate.
    val kana = Seq((1L, "same half ぁ"), (2L, "same half ゑ")).toDF("doc_id", "text")
    assert(Dedup.exact(kana, routed = true).count() == 2L,
      "kana-differing docs route raw — the r18 router falsely merged this pair")
    // same shape for the other r19 scripts, AND a script outside the
    // named ten (Georgian) — the inverted class needs no allowlist row
    val more = Seq(
      (1L, "same half γ"), (2L, "same half Ω"),      // Greek
      (3L, "same half ส"), (4L, "same half ไ"),       // Thai
      (5L, "same half ש"), (6L, "same half ם"),       // Hebrew
      (7L, "same half ქ"), (8L, "same half ა"),       // Georgian (n_other)
      (9L, "same half カ"), (10L, "same half ナ")      // Katakana
    ).toDF("doc_id", "text")
    assert(Dedup.exact(more, routed = true).count() == 10L,
      "every non-Latin-script-differing pair stays separate under the inverted class")
    // what deliberately does NOT route: accented Latin and emoji
    // (script Latin / Common) keep the canonical collapse — the
    // case/accent/punct robustness is the POINT of canonical keying
    val latinish = Seq(
      (1L, "same cafe half"), (2L, "Same, Cafe! Half"),
      (3L, "same emoji half 😀"), (4L, "same emoji half 🚀")).toDF("doc_id", "text")
    val got = Dedup.exact(latinish, routed = true).count()
    assert(got == 2L,
      s"case/punct variants collapse; emoji strips as Common noise on both — got $got groups")
  }

  test("routedKey(minLossFs): a loss floor keeps the canonical collapse for stray-glyph docs") {
    import spark.implicits._
    import graft.functions.TextFunctions.routedKey
    // one stray Cyrillic glyph in a long English doc: default routing
    // (minLossFs = 0) forfeits the case/punct collapse for the whole
    // doc (monotonically safe); a positive floor keeps it — the
    // documented trade: docs differing only inside their sub-floor
    // non-Latin tail now DO collapse
    val long = (1 to 60).map(i => s"word$i").mkString(" ")     // ~420 chars
    val d = Seq(
      (1L, s"$long д"), (2L, s"${long.toUpperCase} д"),
      (3L, s"$long д"), (4L, s"$long ж"))
      .toDF("doc_id", "text")
    // through the operator surface: Dedup.exact threads the floor
    def groups(floor: Long) = Dedup.exact(d, routed = true, minLossFs = floor).count()
    // default: every doc carries the glyph -> all key raw -> the case
    // variant (2) separates from its base (1); only byte-identity
    // collapses (1,3)
    assert(groups(0L) == 3L, "minLossFs=0 routes on any glyph (the routedKey default)")
    // floor at 1% (loss here = 1 glyph / ~420 chars ≈ 0.2% < floor):
    // docs keep canonical keying — 1,2,3 collapse as case variants,
    // and the glyph DIFFERENCE (1 vs 4) collapses too: the accepted,
    // documented exposure of the thresholded variant
    assert(groups(100L) == 1L,
      "above-floor canonical keying restores the case collapse (and merges the glyph diff)")
    // minLossFs = 0 must be EXACTLY routedKey: the one-arg form and
    // the 0-floor form agree on a mixed corpus incl. a >1e4-char doc
    // whose single glyph floors to loss_fs = 0 (rlike still routes it)
    val huge = ("x" * 20000) + " д"
    val mixed = d.unionByName(Seq((5L, huge), (6L, "plain ascii")).toDF("doc_id", "text"))
    val a = mixed.select(routedKey(col("text")).as("k")).collect().map(_.getString(0)).sorted
    val b = mixed.select(routedKey(col("text"), 0L).as("k")).collect().map(_.getString(0)).sorted
    assert(a.sameElements(b), "the 0-floor overload is byte-identical to routedKey")
    // a positive floor without routed keying is a misconfiguration,
    // refused eagerly instead of silently ignored (r20 ADVICE)
    intercept[IllegalArgumentException] { Dedup.exact(d, minLossFs = 100L) }
    intercept[IllegalArgumentException] { Dedup.exact(d, canonical = true, minLossFs = 100L) }
  }

  test("minLossFs threads the gram families: a stray glyph keeps canonical grams at a floor") {
    import spark.implicits._
    // base doc vs a CASE variant carrying one stray Cyrillic glyph
    // (~0.2% loss in a ~420-char doc): at floor 0 the glyph routes
    // the variant raw — its uppercase tokens share nothing with the
    // base's canonical stream, so NO gram family pairs them; at a 1%
    // floor the variant grams canonically and every family recovers
    // the J = 1 / hamming-0 / full-span match. The r18 "every keying
    // opt-in threads the WHOLE family" rule, floor edition (r20).
    val long = (1 to 60).map(i => s"word$i").mkString(" ")
    val d = Seq((1L, long), (2L, s"${long.toUpperCase} д"),
        (3L, "unrelated filler text about boats"))
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    def pairCounts(floor: Long): Seq[Long] = Seq(
      Dedup.minhashMd5PairsUnsorted(d, routed = true, minLossFs = floor).count(),
      Dedup.minhashLsh(d, minJaccardFs = 9000L, routed = true, minLossFs = floor).count(),
      Dedup.simhashMd5Pairs(d, routed = true, minLossFs = floor).count(),
      Dedup.simhashPairs(d, routed = true, minLossFs = floor).count(),
      Dedup.ngramJaccardPairs(d, routed = true, minLossFs = floor).count(),
      Dedup.ngramLshPairs(d, routed = true, minLossFs = floor).count())
    assert(pairCounts(0L) == Seq(0L, 0L, 0L, 0L, 0L, 0L),
      "floor 0 = the plain router: the glyph doc keys raw and pairs with nothing")
    assert(pairCounts(100L) == Seq(1L, 1L, 1L, 1L, 1L, 1L),
      "above-floor canonical grams recover the case-variant pair in EVERY family")
    // the span family: the whole doc becomes a shared span only once
    // the glyph doc grams canonically
    val spans0 = graft.operators.TextAnalysis
      .spanDedup(d, routed = true, minLossFs = 0L)
      .filter(col("dup_tokens") > 0).count()
    val spans1 = graft.operators.TextAnalysis
      .spanDedup(d, routed = true, minLossFs = 100L)
      .filter(col("dup_tokens") > 0).count()
    assert(spans0 == 0L && spans1 == 2L,
      s"span dedup must recover the shared span only above the floor, got $spans0/$spans1")
    // curateFull threads the floor to BOTH dedup stages: at floor 0
    // the glyph variant survives as its own doc, above it the case
    // variant collapses into the base
    def curatedIds(floor: Long): Set[Long] =
      graft.operators.Pipeline.curateFull(
        d.withColumn("source", lit("web")),
        minQualityFs = 0L, maxRepetitionFs = 10000L,
        keying = "routed", minLossFs = floor)
        .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(curatedIds(0L) == Set(1L, 2L, 3L))
    assert(curatedIds(100L) == Set(1L, 3L))
    // misuse refused across the family (minLossFs without routed)
    intercept[IllegalArgumentException] { Dedup.minhashMd5PairsUnsorted(d, minLossFs = 100L) }
    intercept[IllegalArgumentException] {
      graft.operators.TextAnalysis.spanDedup(d, canonical = true, minLossFs = 100L)
    }
    intercept[IllegalArgumentException] {
      graft.operators.Pipeline.curateFull(d.withColumn("source", lit("web")),
        keying = "canonical", minLossFs = 100L)
    }
  }

  test("routed gram keying: mixed docs shingle raw, pure-Latin docs shingle canonically") {
    import spark.implicits._
    // docs 1-2: shared Latin half, disjoint Han halves — canonical
    // shingles strip the Han tokens entirely (J = 1, false pair);
    // routed shingles keep them (raw J ≈ 9/29, never a candidate).
    // docs 3-4: pure-ASCII punct variants — identical canonical
    // grams; routed must PRESERVE that pairing (they route canonical)
    val latin = (1 to 10).map(i => s"tok$i").mkString(" ")
    val d = Seq(
      (1L, s"$latin ${(1 to 10).map(i => s"你好$i").mkString(" ")}"),
      (2L, s"$latin ${(1 to 10).map(i => s"再見$i").mkString(" ")}"),
      (3L, (1 to 10).map(i => s"zzz$i").mkString(" ")),
      (4L, (1 to 10).map(i => s"ZZZ$i,").mkString(" "))).toDF("doc_id", "text")
    def pairs(canonical: Boolean, routed: Boolean) =
      Dedup.ngramLshPairs(d, canonical = canonical, routed = routed)
        .select(col("id_a"), col("id_b")).collect()
        .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs(canonical = true, routed = false).contains((1L, 2L)),
      "canonical shingling false-pairs the mixed docs (the hazard)")
    val routed = pairs(canonical = false, routed = true)
    assert(!routed.contains((1L, 2L)), s"routed keeps the Han shingles apart, got $routed")
    assert(routed.contains((3L, 4L)), s"routed preserves the pure-ASCII canonical pairing, got $routed")
  }

  test("md5-minhash routed: the oracle-bridge family takes the same script routing") {
    import spark.implicits._
    // same shape as the gram-keying differential, at unigram grain:
    // docs 1-2 share 10 Latin tokens and differ in 10 Han tokens
    // whose canonical forms coincide (Han strips, digit tail stays) —
    // canonical keying reads them J = 1, routed reads J = 10/30
    val latin = (1 to 10).map(i => s"tok$i").mkString(" ")
    val d = Seq(
      (1L, s"$latin ${(1 to 10).map(i => s"你好$i").mkString(" ")}"),
      (2L, s"$latin ${(1 to 10).map(i => s"再見$i").mkString(" ")}"),
      (3L, (1 to 10).map(i => s"zzz$i").mkString(" ")),
      (4L, (1 to 10).map(i => s"ZZZ$i,").mkString(" "))).toDF("doc_id", "text")
    def pairs(canonical: Boolean, routed: Boolean) =
      Dedup.minhashMd5PairsUnsorted(d, canonical = canonical, routed = routed)
        .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs(canonical = true, routed = false) == Set((1L, 2L), (3L, 4L)),
      "canonical keying false-pairs the Han-differing docs")
    assert(pairs(canonical = false, routed = true) == Set((3L, 4L)),
      "routed keying keeps the mixed docs apart and the ASCII canonical pair intact")
    // the simhash oracle bridge routes the same way (hamming-0 via
    // identical canonical fingerprints vs far-apart raw fingerprints)
    def shPairs(canonical: Boolean, routed: Boolean) =
      Dedup.simhashMd5Pairs(d, canonical = canonical, routed = routed)
        .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(shPairs(canonical = true, routed = false) == Set((1L, 2L), (3L, 4L)))
    assert(shPairs(canonical = false, routed = true) == Set((3L, 4L)))
  }

  test("canonical set-similarity drops empty-canonical docs: non-ASCII docs never mass-pair") {
    import spark.implicits._
    // docs 3-5 canonicalize to "" — their token "set" would be the
    // shared singleton {""} (J = 1 across all of them); canonical
    // keying must DROP them, pairing only the genuine case variants
    val words = (1 to 40).map(i => s"tok$i")
    val d = Seq(
      (1L, words.mkString(" ")),
      (2L, words.map(_.toUpperCase).mkString(" ")),
      (3L, "你好，世界。"), (4L, "мир труд май"), (5L, "東京都"))
      .toDF("doc_id", "text")
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet(Dedup.minhashMd5PairsUnsorted(d, canonical = true)) == Set((1L, 2L)),
      "md5-minhash canon: only the case variants pair")
    assert(pairSet(Dedup.minhashLsh(d, canonical = true)) == Set((1L, 2L)))
    assert(pairSet(Dedup.simhashPairs(d, canonical = true)) == Set((1L, 2L)))
    assert(pairSet(Dedup.simhashMd5Pairs(d, canonical = true)) == Set((1L, 2L)),
      "md5-simhash canon: only the case variants pair")
    val db = d.withColumn("lang", lit("en")).withColumn("n_chars", length(col("text")))
    assert(pairSet(Dedup.ngramJaccardPairs(db, canonical = true)) == Set((1L, 2L)))
  }

  test("canonical blocking measures canonical length: punct padding across raw buckets still pairs") {
    import spark.implicits._
    // identical canonical text; doc 2 carries enough trailing
    // punctuation to cross the raw 100-char length-bucket boundary —
    // blocking on raw n_chars would silently never compare the pair
    val base = (1 to 12).map(i => s"token$i").mkString(" ") // 80 chars
    val padded = base + " " + ("!" * 30)                    // 111 chars raw
    val d = Seq((1L, base), (2L, padded))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")))
    val canonPairs = Dedup.ngramJaccardPairs(d, canonical = true).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("jac_fs"))).toSet
    assert(canonPairs == Set((1L, 2L, 10000L)),
      s"canonical keying must block on the CANONICAL length, got $canonPairs")
    // raw keying keeps the raw blocking: the pair is (correctly) in
    // different raw buckets and never compared
    assert(Dedup.ngramJaccardPairs(d).count() == 0L)
  }

  test("minhash-LSH finds the exact and near dup pairs, not the unrelated doc") {
    // 8 bands × 4 rows: high collision probability for the J=0.667 toy pair
    val pairs = Dedup.minhashLsh(docs, bands = 8, minJaccardFs = 5000L).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((1L, 2L)), "exact dup must collide in every band")
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)),
      "4-of-6-shingle near dup (J=0.667) should collide in some band")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L), "unrelated doc must not pair")
  }

  test("minhash jac_fs matches the exact jaccard of the token sets") {
    val out = Dedup.minhashLsh(docs, bands = 8, minJaccardFs = 0L).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Long]("jac_fs")).toMap
    assert(out((1L, 2L)) == 10000L)
    assert(out((1L, 3L)) == math.floor(10000.0 * 4.0 / 6.0).toLong)
  }

  test("simhash: identical docs hash identically; near dups are hamming-close") {
    val fp = Dedup.simhashFingerprints(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(fp(1L) == fp(2L))
    assert(java.lang.Long.bitCount(fp(1L) ^ fp(3L)) < 20, "near dup should be hamming-close")
    val pairs = Dedup.simhashPairs(docs, maxHamming = 12).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Long]("hamming")))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0L))
  }

  test("simhash geometry is coupled to maxHamming: pigeonhole chunk count + pinned recall curve") {
    import graft.functions.HashFunctions.{simhashChunksFor, simhashCollisionProb}
    // chunks > maxHamming (pigeonhole): the default maxHamming=3 gets
    // 4 chunks of 16 bits; wider radii widen the split
    assert(simhashChunksFor(0) == 2 && simhashChunksFor(3) == 4)
    assert(simhashChunksFor(7) == 8 && simhashChunksFor(12) == 16 && simhashChunksFor(15) == 16)
    // inside the guaranteed radius recall is exactly 1
    assert(simhashCollisionProb(3, 4) == 1.0 && simhashCollisionProb(12, 16) == 1.0)
    // just past it the curve drops below 1 — pinned so a geometry is
    // never advertised beyond what it recalls
    assert(math.abs(simhashCollisionProb(4, 4) - 0.8969) < 0.001)
    // the OLD default (maxHamming=12 on 4 chunks) recalled under 9% of
    // uniform hamming-12 pairs — the advertise/recall mismatch the
    // derived geometry fixes
    assert(simhashCollisionProb(12, 4) < 0.09)
    // monotone: recall falls as hamming grows
    val curve = (1 to 20).map(simhashCollisionProb(_, 4))
    assert(curve.zip(curve.tail).forall { case (a, b) => a >= b })
  }

  test("simhash combination banding: plan tiers, recall identity, and shared-band completeness") {
    import graft.functions.HashFunctions.{simhashBandKeys, simhashBandPlan, simhashCollisionProb, simhashComboCollisionProb}
    // tier pins: band count × key width tracks the radius
    assert(simhashBandPlan(3) == (4, 1) && simhashBandPlan(6) == (8, 2))
    assert(simhashBandPlan(7) == (8, 1) && simhashBandPlan(12) == (16, 2) && simhashBandPlan(15) == (16, 1))
    intercept[IllegalArgumentException](simhashBandPlan(16))
    // the Jordan identity reduces to the single-chunk model at m=1 —
    // numerical validation of the combination formula
    for (h <- 1 to 20)
      assert(math.abs(simhashComboCollisionProb(h, 4, 1) - simhashCollisionProb(h, 4)) < 1e-9,
        s"m=1 must reduce to the single-chunk model at h=$h")
    // guaranteed radius: exactly 1 up to c−m, strictly below 1 past it
    assert(simhashComboCollisionProb(6, 8, 2) == 1.0)
    assert(simhashComboCollisionProb(7, 8, 2) < 1.0 && simhashComboCollisionProb(7, 8, 2) > 0.9)
    // completeness on literal fingerprints: two sketches 5 bits apart
    // MUST share a band under the (8, 2) plan (5 ≤ 8−2)
    val a = 0x0123456789abcdefL
    val b = a ^ ((1L << 0) | (1L << 9) | (1L << 17) | (1L << 33) | (1L << 63)) // 5 flipped bits
    val fps = Seq((1L, a), (2L, b)).toDF("doc_id", "fp")
    val keys = fps.select(col("doc_id"), explode(simhashBandKeys(col("fp"), 8, 2)).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.bucket"))
    val shared = keys.as("x").join(keys.as("y"),
      col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
        col("x.doc_id") < col("y.doc_id")).count()
    assert(shared >= 1, "a hamming-5 pair must collide in ≥1 of the 28 two-chunk bands")
    assert(java.lang.Long.bitCount(a ^ b) == 5)
  }

  test("simhash pairs route through the salted generator: pair set identical to the unsalted join") {
    import graft.functions.HashFunctions.{fingerprintChunks, simhashChunksFor}
    // a mega-chunk corpus: 1200 identical docs (one fingerprint ⇒ every
    // chunk is a 1200-doc bucket, > maxBucket=1024 ⇒ salting engages)
    // plus a near-dup pair and an unrelated doc
    val d = ((0L until 1200L).map(i => (i, "alpha beta gamma delta epsilon zeta eta theta", "en", 45L)) ++ Seq(
      (2000L, "iota kappa lambda mu nu xi omicron pi", "en", 38L),
      (2001L, "iota kappa lambda mu nu xi omicron rho", "en", 38L),
      (3000L, "one two three four five six seven eight", "en", 39L)
    )).toDF("doc_id", "text", "lang", "n_chars")
    // maxHamming 6 → the (8, 2) chunk-COMBINATION plan; the unsalted
    // twin below uses single-chunk (8, 1) banding — BOTH are complete
    // for hamming ≤ 6 (pigeonhole both ways), so after the hamming
    // filter the pair sets must agree exactly even though the
    // candidate supersets differ
    val maxH = 6
    val salted = Dedup.simhashPairs(d, maxHamming = maxH)
    // the pre-r7 formulation: direct chunk self-join, no salting
    val chunks = simhashChunksFor(maxH)
    val fp = Dedup.simhashFingerprints(d)
      .select(col("doc_id"), col("simhash"),
        explode(fingerprintChunks(col("simhash"), chunks)).as("ck"))
      .select(col("doc_id"), col("simhash"), col("ck.chunk").as("chunk"), col("ck.bits").as("bits"))
    val unsalted = fp.as("a").join(fp.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.bits") === col("b.bits") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        graft.functions.HashFunctions.hamming64(col("a.simhash"), col("b.simhash"))
          .cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxH)
    assert(salted.exceptAll(unsalted).isEmpty && unsalted.exceptAll(salted).isEmpty,
      "routing through candidatePairs must not change the simhash pair set")
    // the identical block is fully recalled (hamming 0 < chunks)
    assert(salted.filter(col("id_a") < 1200L && col("id_b") < 1200L).count() == 1200L * 1199L / 2)
    spark.sharedState.cacheManager.clearCache()
  }

  test("blocked ngram-jaccard finds dups within blocks only") {
    val out = Dedup.ngramJaccardPairs(docs, thresholdFs = 6000L).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(out((1L, 2L)), "exact dups share a block and have J=1")
    assert(!out.exists(p => p._2 == 4L), "doc 4 is in a different length block")
  }

  test("embed cosine pairs: identical vectors give cos_fs ~ 10000") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), 0),
      (2L, Array(1.0f, 0.0f, 0.0f), 0),
      (3L, Array(0.0f, 1.0f, 0.0f), 0),
      (4L, Array(1.0f, 0.0f, 0.0f), 1) // same vec, different label → no pair
    ).toDF("vec_id", "embedding", "label")
    val out = Dedup.embedCosine(emb, thresholdFs = 3000L).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Long]("cos_fs")).toMap
    assert(out.keySet == Set((1L, 2L)), s"only same-label identical pair expected, got ${out.keySet}")
    assert(out((1L, 2L)) >= 9999L)
  }

  test("ngram LSH finds near-dup pairs across blocking boundaries, not unrelated docs") {
    // 1=2 exact dups (bigram J=1), 3 shares 3 of its 4 bigrams with
    // them minus one edit; 5 is a length-block-boundary near-dup of 6
    // (299 vs 301 chars simulated via different n_chars — irrelevant
    // to LSH, which never sees the metadata); 4 unrelated.
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon", "en", 299L),
      (2L, "alpha beta gamma delta epsilon", "en", 301L),
      (3L, "alpha beta gamma delta zeta", "en", 27L),
      (4L, "one two three four five six seven", "en", 33L)
    ).toDF("doc_id", "text", "lang", "n_chars")
    val out = Dedup.ngramLshPairs(d, thresholdFs = 9000L).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Long]("jac_fs")).toMap
    // blocked ngramJaccardPairs would MISS (1,2): n_chars 299 vs 301 fall
    // in different length buckets; LSH candidates ignore metadata
    assert(out.keySet == Set((1L, 2L)), s"exact dup pair expected regardless of blocks, got ${out.keySet}")
    assert(out((1L, 2L)) == 10000L)
    assert(Dedup.ngramJaccardPairs(d, thresholdFs = 9000L).collect().isEmpty,
      "the blocked variant misses the cross-block pair — the miss ngramLshPairs exists to fix")
  }

  test("ngram LSH verify is the exact ngram-set jaccard; short docs drop out") {
    val d = Seq(
      (1L, "a b c d e", "en", 9L),
      (2L, "a b c d f", "en", 9L), // bigrams {ab,bc,cd,de} vs {ab,bc,cd,df}: J = 3/5
      (3L, "solo", "en", 4L)       // < 2 tokens → no bigrams → never a candidate
    ).toDF("doc_id", "text", "lang", "n_chars")
    val out = Dedup.ngramLshPairs(d, thresholdFs = 0L).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Long]("jac_fs")).toMap
    assert(!out.keySet.exists(p => p._1 == 3L || p._2 == 3L), "tokenless doc must not pair")
    out.get((1L, 2L)).foreach(j => assert(j == math.floor(10000.0 * 3.0 / 5.0).toLong))
  }

  test("cosine LSH finds identical vectors in any label and respects the threshold") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (2L, Array(1.0f, 0.0f, 0.0f, 0.0f), 1), // same vec, DIFFERENT label: blocked variant misses it
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f), 0),
      (4L, Array(-1.0f, 0.0f, 0.0f, 0.0f), 0) // anti-parallel: cos = -1, must not pass
    ).toDF("vec_id", "embedding", "label")
    val out = Dedup.cosineLsh(emb, dim = 4, thresholdFs = 3000L).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Long]("cos_fs")).toMap
    assert(out.keySet == Set((1L, 2L)), s"identical vectors collide in every table, got ${out.keySet}")
    assert(out((1L, 2L)) >= 9999L)
    assert(graft.operators.Dedup.embedCosine(emb, thresholdFs = 3000L).collect()
      .forall(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) != (1L, 2L)),
      "the label-blocked variant misses the cross-label pair — the miss cosineLsh exists to fix")
  }

  /** Deterministic planted-cosine corpus: `nPairs` pairs per target
    * cosine (ids 2i / 2i+1) + `nBackground` unrelated vectors. Pair
    * construction: v = c·u + sqrt(1−c²)·w with u ⊥ w unit vectors, so
    * cos(u', v) = c exactly (up to float32 rounding).
    */
  private def plantedCosineCorpus(dim: Int, cosines: Seq[Double], nPairs: Int,
                                  nBackground: Int): Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(42)
    def unit(): Array[Double] = {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    def orthoUnit(u: Array[Double]): Array[Double] = {
      val r = unit()
      val d = r.zip(u).map { case (a, b) => a * b }.sum
      val w = r.zip(u).map { case (a, b) => a - d * b }
      val n = math.sqrt(w.map(x => x * x).sum)
      w.map(_ / n)
    }
    val pairs = cosines.zipWithIndex.flatMap { case (c, ci) =>
      (0 until nPairs).flatMap { i =>
        val u = unit()
        val w = orthoUnit(u)
        val v = u.zip(w).map { case (a, b) => c * a + math.sqrt(1 - c * c) * b }
        val base = 2L * (ci * nPairs + i)
        Seq(base -> u.map(_.toFloat), (base + 1) -> v.map(_.toFloat))
      }
    }
    val bg = (0 until nBackground).map(i => (100000L + i) -> unit().map(_.toFloat))
    pairs ++ bg
  }

  test("multi-probe cosineLsh benchmark coupling recalls on par with the retired 15-table geometry at half the index") {
    val corpus = plantedCosineCorpus(dim = 16, cosines = Seq(0.9, 0.7, 0.5),
      nPairs = 20, nBackground = 80)
    val emb = corpus.map { case (id, v) => (id, v) }.toDF("vec_id", "embedding")
    val planted = corpus.collect { case (id, _) if id < 100000L && id % 2 == 0 => (id, id + 1) }.toSet
    def found(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
        .intersect(planted)
    val retired = found(graft.operators.Dedup.cosineLsh(emb, dim = 16,
      planes = 6, tables = 15, probes = 1))
    // the gate's pinned benchmark coupling (no longer the operator
    // default — that derives per corpus, pinned in the next spec)
    val current = found(graft.operators.Dedup.cosineLsh(emb, dim = 16,
      planes = 7, tables = 8, probes = 4))
    // model expectation over 20 pairs each of cos 0.9/0.7/0.5:
    // retired ≈ 20 + 18.9 + 15.0 ≈ 54, default ≈ 20 + 18.2 + 14.4 ≈ 53
    // (and query-directed probing realizes ABOVE the model — see
    // srpMultiProbeCollisionProb scaladoc); parity within a few pairs
    // is the claim, at 8/15ths the banded index
    assert(retired.size >= 45, s"retired geometry sanity: ${retired.size}/60 planted pairs")
    assert(current.size >= retired.size - 5,
      s"default (7×8×4) found ${current.size}, retired (6×15×1) found ${retired.size} — " +
        "multi-probe must hold recall parity at half the index")
  }

  test("cosineLsh with no geometry derives it from the corpus via suggestSrpGeometry") {
    // r10: the operator default is DERIVED (the twice-paid rehearsal
    // lesson — hand geometry rots at the next scale-up). Wiring pin:
    // the no-geometry call must equal the call that passes the
    // derivation's own output explicitly, bit for bit — and a
    // half-specified geometry is rejected loudly.
    val corpus = plantedCosineCorpus(dim = 16, cosines = Seq(0.9, 0.7), nPairs = 10,
      nBackground = 40)
    val emb = corpus.map { case (id, v) => (id, v) }.toDF("vec_id", "embedding")
    val (p, t, pr) = graft.operators.Similarity.suggestSrpGeometry(corpus.size.toLong, 0.3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id_a", "id_b").collect().map(_.toSeq).toSeq
    assert(rows(graft.operators.Dedup.cosineLsh(emb, dim = 16)) ==
      rows(graft.operators.Dedup.cosineLsh(emb, dim = 16, planes = p, tables = t, probes = pr)),
      s"derived default must equal the explicit ($p×$t×$pr) call")
    intercept[IllegalArgumentException](
      graft.operators.Dedup.cosineLsh(emb, dim = 16, planes = 7))
    // the rehearsal-verified operating point (planted cos ≈ 0.94):
    // n = 10⁵ → 17 planes, and never more tables than the 16
    // single-probe tables the r8 rehearsal hand-derived
    val (p5, t5, _) = graft.operators.Similarity.suggestSrpGeometry(100000L, 0.94)
    assert(p5 == 17 && t5 <= 16, s"n=1e5 cos=0.94 derived ($p5 planes, $t5 tables)")
    val (p6, _, _) = graft.operators.Similarity.suggestSrpGeometry(1000000L, 0.94)
    assert(p6 == 20, s"n=1e6 must derive ceil(log2 1e6) = 20 planes, got $p6")
  }

  test("md5-minhash pairs recall across the length-block boundary the quadratic generator misses") {
    // docs 1/2 share an IDENTICAL token set (J = 1.0) but doc 2's
    // repeated tokens push its n_chars across the old generator's
    // floor(n_chars/100) block boundary — ngramJaccardPairs can never
    // pair them (its length-block equality is part of its bounded-
    // baseline contract), while the banded md5 generator must:
    // identical token sets give identical minima in every permutation,
    // so they collide in every band
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val long = base + (" alpha" * 20)
    val d = Seq(
      (1L, base, "en", base.length.toLong),
      (2L, long, "en", long.length.toLong),
      (3L, "something else entirely different here", "en", 38L)
    ).toDF("doc_id", "text", "lang", "n_chars")
    assert(base.length < 100 && long.length > 100, "fixture must straddle the 100-char block")
    def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val md5Pairs = pairsOf(graft.operators.Dedup.minhashMd5PairsUnsorted(d))
    val blocked = pairsOf(graft.operators.Dedup.ngramJaccardPairs(d))
    assert(md5Pairs == Set((1L, 2L)), s"banded md5 generator must find the cross-block pair: $md5Pairs")
    assert(!blocked.contains((1L, 2L)),
      "the blocked baseline must miss it (the documented limitation the md5 generator retires)")
    // jac_fs is the exact set Jaccard: identical sets -> 10000
    val jac = graft.operators.Dedup.minhashMd5PairsUnsorted(d).collect()
      .map(r => r.getAs[Long]("jac_fs")).head
    assert(jac == 10000L, s"identical token sets must verify at J = 1.0, got $jac")
  }

  test("semanticDedup prunes within trained clusters, keeps lowest ids, misses only cross-cluster pairs") {
    // Anchors 0/1 are the two LOWEST ids, one per blob, so the
    // deterministic init puts one centroid in each and Lloyd is
    // trivially stable: cluster P = {0,2,3,6,7} (x > 0), cluster
    // Q = {1,4,5,8} (x < 0). Planted:
    //  - 2/3 near-identical with anchor 0 -> both drop for 0;
    //  - 4/5 near-identical with anchor 1 -> both drop for 1;
    //  - 6 angularly far from every P member -> kept;
    //  - 7/8 are a TRUE near-dup pair (cos ≈ 0.997) straddling the
    //    cluster boundary (x = ±0.4): assigned to different clusters,
    //    never compared, BOTH kept — the documented SemDeDup
    //    boundary-miss approximation.
    def v(parts: Double*): Array[Float] = parts.map(_.toFloat).toArray
    val emb = Seq(
      (0L, v(10, 0, 0, 0)), (1L, v(-10, 0, 0, 0)),
      (2L, v(10, 0.1, 0, 0)), (3L, v(10, 0, 0.1, 0)),
      (4L, v(-10, 0.1, 0, 0)), (5L, v(-10, 0, 0.1, 0)),
      (6L, v(0.3, 0, 9.9, 0)),
      (7L, v(0.4, 10, 0, 0)), (8L, v(-0.4, 10, 0.01, 0))
    ).toDF("vec_id", "embedding")
    // threshold 9000 = cos >= 0.9: only the planted near-identicals
    val rows = graft.operators.Dedup.semanticDedup(emb, k = 2, thresholdFs = 9000L).collect()
    val out = rows.map(r => r.getAs[Long]("vec_id") ->
      ((r.getAs[Long]("kept"), r.getAs[Long]("drop_for")))).toMap
    assert(out.size == 9, "one row per input vector")
    assert(out(0L) == ((1L, -1L)) && out(2L) == ((0L, 0L)) && out(3L) == ((0L, 0L)),
      s"blob-P near-identicals must drop for anchor 0: $out")
    assert(out(1L) == ((1L, -1L)) && out(4L) == ((0L, 1L)) && out(5L) == ((0L, 1L)),
      s"blob-Q near-identicals must drop for anchor 1: $out")
    assert(out(6L)._1 == 1L, s"the angularly-far member must survive: $out")
    assert(out(7L)._1 == 1L && out(8L)._1 == 1L,
      "the boundary-straddling true pair is never compared (the documented SemDeDup miss)")
    val clusters = rows.map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster")).toMap
    assert(clusters(7L) == clusters(0L) && clusters(8L) == clusters(1L) &&
      clusters(0L) != clusters(1L),
      s"the straddling pair must split across the trained clusters: $clusters")
    // derive wiring: k left at the sentinel sizes via the FAISS nlist
    // rule (the gate pins k = 10 for its unrolled-SQL oracle)
    val (kDerived, _) = graft.operators.Similarity.suggestIvfGeometry(9L)
    def all(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    assert(all(graft.operators.Dedup.semanticDedup(emb)) ==
      all(graft.operators.Dedup.semanticDedup(emb, k = kDerived)),
      "the no-k call must equal the explicitly-derived-k call")
  }

  test("multi-probe cosineLsh candidates are a superset at fixed geometry") {
    val corpus = plantedCosineCorpus(dim = 16, cosines = Seq(0.7), nPairs = 10, nBackground = 40)
    val emb = corpus.map { case (id, v) => (id, v) }.toDF("vec_id", "embedding")
    def pairsOf(probes: Int): Set[(Long, Long)] =
      graft.operators.Dedup.cosineLsh(emb, dim = 16, planes = 6, tables = 8, probes = probes)
        .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val single = pairsOf(1)
    val multi = pairsOf(4)
    assert(single.subsetOf(multi),
      s"probing can only ADD verified pairs: missing ${single.diff(multi)}")
  }

  test("minhash LSH collision model: default verify threshold sits at the band-geometry midpoint") {
    import graft.functions.HashFunctions.lshCollisionProb
    // default geometry 4 bands × 8 rows: midpoint (1/4)^(1/8) ≈ 0.84
    val midpoint = math.pow(1.0 / 4.0, 1.0 / 8.0)
    assert(math.abs(midpoint - 0.8409) < 0.001)
    assert(math.abs(lshCollisionProb(0.9, 4, 8) - 0.89) < 0.01, "J=0.9 recall ≈ 89%")
    assert(lshCollisionProb(0.5, 4, 8) < 0.02, "J=0.5 pairs almost never collide at this geometry")
    // the coupled default: minJaccardFs=8400 ≈ floor(1e4 · midpoint)
    assert(math.floor(10000.0 * midpoint).toLong == 8408L)
    // the wide geometry ngramLshPairs uses: 8 bands × 4 rows, midpoint 0.59
    assert(math.abs(math.pow(1.0 / 8.0, 1.0 / 4.0) - 0.5946) < 0.001)
    assert(lshCollisionProb(0.9, 8, 4) > 0.999, "J=0.9 recall under 8×4 banding")
  }

  test("SRP collision model: more planes prune harder, more tables buy recall") {
    import graft.operators.Similarity.{srpCollisionProb, srpMultiProbeCollisionProb}
    // documented operating points (scaladoc of Dedup.cosineLsh):
    // the coupled DEFAULT (7 planes × 8 tables × 4 probes) puts the
    // s-curve midpoint AT the default τ=0.3 verify threshold with the
    // banded index nearly halved vs the retired single-probe coupling
    assert(math.abs(srpMultiProbeCollisionProb(0.3, 7, 8, 4) - 0.5) < 0.01)
    assert(math.abs(srpMultiProbeCollisionProb(0.5, 7, 8, 4) - 0.72) < 0.01)
    assert(math.abs(srpMultiProbeCollisionProb(0.7, 7, 8, 4) - 0.91) < 0.01)
    assert(srpMultiProbeCollisionProb(0.9, 7, 8, 4) > 0.99)
    assert(math.abs(srpMultiProbeCollisionProb(0.0, 7, 8, 4) - 0.22) < 0.01,
      "background candidate rate must stay at the retired coupling's ~21%")
    // the RETIRED single-probe coupling (6 planes × 15 tables) — the
    // point-for-point twin the default replaced at half the index
    assert(math.abs(srpCollisionProb(0.3, 6, 15) - 0.5) < 0.01)
    assert(math.abs(srpCollisionProb(0.5, 6, 15) - 0.75) < 0.01)
    assert(math.abs(srpCollisionProb(0.7, 6, 15) - 0.94) < 0.01)
    assert(srpCollisionProb(0.9, 6, 15) > 0.999)
    assert(math.abs(srpCollisionProb(0.0, 6, 15) - 0.21) < 0.01)
    // the recall-first geometry the default REPLACED: midpoint below
    // cos 0 means ~80% of a near-orthogonal corpus's pairs collide
    assert(math.abs(srpCollisionProb(0.0, 3, 12) - 0.80) < 0.01, "3×12 barely prunes background")
    assert(srpCollisionProb(0.8, 8, 12) > 0.85)
    assert(srpCollisionProb(0.0, 8, 12) < 0.05, "background (orthogonal) pairs must be pruned")
    assert(srpCollisionProb(0.9, 3, 12) > srpCollisionProb(0.5, 3, 12), "monotone in cos")
    assert(srpCollisionProb(0.5, 8, 12) < srpCollisionProb(0.5, 3, 12), "planes prune")
    assert(srpCollisionProb(0.5, 8, 24) > srpCollisionProb(0.5, 8, 12), "tables recall")
  }

  test("mega-bucket salting: pair set identical to the unsalted join, work split across salt keys") {
    // one degenerate 2000-doc bucket (every doc identical ⇒ one LSH
    // bucket) plus two normal buckets — the skew shape the corpus
    // plants at sf0.1 (1.8k-doc bucket)
    val banded = ((0L until 2000L).map(id => (id, 0, 777L)) ++
      Seq((5000L, 1, 10L), (5001L, 1, 10L), (6000L, 2, 20L), (6001L, 2, 20L)))
      .toDF("doc_id", "band", "bucket")
    val salted = Dedup.candidatePairs(banded, maxBucket = 200)
    val unsalted = Dedup.candidatePairs(banded, maxBucket = Int.MaxValue)
    // count, not collect: 2M pairs — the salted path must produce the
    // exact triangle, each unordered pair exactly once
    val n = 2000L
    assert(salted.count() == n * (n - 1) / 2 + 2, "triangle count + the two normal-bucket pairs")
    assert(salted.exceptAll(unsalted).isEmpty && unsalted.exceptAll(salted).isEmpty,
      "salting must not change the candidate set")
    // the widest single join key now carries ≤ n·maxBucket pairs:
    // s = ceil(2000/200) = 10 salt groups fan the mega-bucket out
    val s = math.ceil(n.toDouble / 200).toInt
    assert(s == 10)
    // both discovery strategies — broadcast freq-sketch hot list
    // (default) and exact counts join — produce the identical pair set
    val exactCounts = Dedup.candidatePairs(banded, maxBucket = 200, sketchDiscovery = false)
    assert(salted.exceptAll(exactCounts).isEmpty && exactCounts.exceptAll(salted).isEmpty,
      "sketch-discovered salting must not change the candidate set")
    // discovery never shuffles the banded frame: the sketch's hot
    // list broadcasts, so the only hashpartitioning exchanges are the
    // pair join's own two legs
    val sketchPlan = salted.queryExecution.executedPlan.toString
    val countsPlan = exactCounts.queryExecution.executedPlan.toString
    def exchanges(p: String) = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges(sketchPlan) < exchanges(countsPlan),
      s"sketch discovery must drop the counts join-back exchange " +
        s"(${exchanges(sketchPlan)} vs ${exchanges(countsPlan)})")
  }

  test("size-bound pre-filter: drops exactly the candidates the Jaccard bound excludes, verified pairs unchanged") {
    // candidatePairs grain: the bounded generator must equal the
    // unbounded one filtered by the provable bound 10⁴·min ≥ t·max
    // (J ≤ min/max, so a bound-failing pair can never verify at t)
    val sizes = Map(1L -> 100, 2L -> 95, 3L -> 89, 4L -> 50, 5L -> 100)
    val banded = Seq((1L, 0, 7L), (2L, 0, 7L), (3L, 0, 7L), (4L, 0, 7L), (5L, 0, 7L),
      (1L, 1, 9L), (4L, 1, 9L))
      .toDF("doc_id", "band", "bucket")
      .withColumn("sz", udf((id: Long) => sizes(id)).apply(col("doc_id")))
    val bounded = Dedup.candidatePairs(banded, szBoundFs = 9000L)
    val unbounded = Dedup.candidatePairs(banded.drop("sz"))
    val szDf = sizes.toSeq.toDF("id", "sz")
    val expected = unbounded
      .join(szDf.select(col("id").as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(szDf.select(col("id").as("id_b"), col("sz").as("sz_b")), "id_b")
      .filter(lit(10000L) * least(col("sz_a"), col("sz_b")) >=
        lit(9000L) * greatest(col("sz_a"), col("sz_b")))
      .select(col("id_a"), col("id_b"))
    assert(bounded.exceptAll(expected).isEmpty && expected.exceptAll(bounded).isEmpty,
      "bounded generator must equal unbounded ∩ size bound")
    // spot values: ratios 95/100, 100/100, 89/95, 95/100 pass;
    // (1,3) 89/100 fails, (1,4) 50/100 fails (in BOTH its buckets)
    val got = bounded.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L), (1L, 5L), (2L, 3L), (2L, 5L)))
    // the bound must REJECT a known non-empty set (ADVICE r21): if the
    // pre-filter were silently disconnected, bounded == unbounded and
    // the equality assertions above would still pass — pin the exact
    // rejected pairs so a dropped filter fails loudly
    val all = unbounded.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(all.size == 10, s"fixture plants all C(5,2) candidates, got ${all.size}")
    assert(all -- got == Set((1L, 3L), (1L, 4L), (2L, 4L), (3L, 4L), (3L, 5L), (4L, 5L)),
      s"bound must reject exactly the ratio-failing pairs, rejected ${all -- got}")

    // end-to-end grain: a superset doc (J = 20/30 ≈ 0.66, size ratio
    // 20/30 — bound-rejected) must stay out and an exact dup pair
    // must still verify, so the family's output is unchanged by the
    // pre-filter riding its band rows
    val base = (1 to 20).map(i => s"tok$i").mkString(" ")
    val superset = base + " " + (21 to 30).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, base), (2L, base), (3L, superset)).toDF("doc_id", "text")
    val verified = Dedup.minhashMd5PairsUnsorted(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(verified == Set((1L, 2L)),
      "exact dup verifies; the size-rejected superset candidate stays out")
  }

  /** The two ways [[Dedup.ccLabels]] runs its rounds: in driver
    * arrays (what every graph in this spec gets by default) and as
    * Spark jobs, forced by a negative driver bound.
    */
  private val ccPaths: Seq[(String, (DataFrame, DataFrame, Int) => DataFrame)] = Seq(
    "driver" -> ((d, p, i) => Dedup.ccLabelsWithin(d, p, i, "doc_id", driverMaxPairs = Long.MaxValue)),
    "distributed" -> ((d, p, i) => Dedup.ccLabelsWithin(d, p, i, "doc_id", driverMaxPairs = -1L)))
  private val distributedCc = ccPaths(1)._2

  private def repsOf(labels: DataFrame): Map[Long, Long] =
    labels.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("rep_id")).toMap

  test("applyPairs drops exactly the higher-id members of dup pairs") {
    val pairs = Dedup.ngramJaccardPairs(docs, thresholdFs = 9000L)
    val survivors = Dedup.applyPairs(docs, pairs).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors.contains(1L) && !survivors.contains(2L), "doc 2 is the higher-id exact dup")
    assert(survivors.contains(4L), "non-dup doc must survive")
  }

  test("connected-components labels collapse chains that greedy applyPairs cannot") {
    val corpus = Seq(
      (1L, "x", "en", 1L), (2L, "x", "en", 1L), (3L, "x", "en", 1L),
      (4L, "x", "en", 1L), (5L, "x", "en", 1L)
    ).toDF("doc_id", "text", "lang", "n_chars")
    // chain 1–2, 2–3 (no direct 1–3 pair) plus isolated 4, 5
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    for ((path, cc) <- ccPaths) {
      val reps = repsOf(cc(corpus, pairs, 4))
      assert(reps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L),
        s"$path: chain must canonicalize to min id transitively, got $reps")
    }
  }

  test("chain depth: ccLabels at iters = 4 splits a 6-hop chain, iters = 50 collapses it") {
    val corpus = (1L to 7L).map(i => (i, "x", "en", 1L)).toDF("doc_id", "text", "lang", "n_chars")
    // path graph 1–2–3–4–5–6–7: min-label propagation moves label 1
    // one hop per round, so node i reaches label 1 at round i−1
    val chain = (1L to 6L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    for ((path, cc) <- ccPaths) {
      val fixed = repsOf(cc(corpus, chain, 4))
      // the DOCUMENTED fixed-count limitation: nodes 6 and 7 (5 and 6
      // hops from the min) have not yet converged to 1 after 4 rounds
      assert(fixed == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L, 6L -> 2L, 7L -> 3L),
        s"$path: 4 fixed rounds must leave the >4-hop tail split, got $fixed")
      val conv = repsOf(cc(corpus, chain, 50))
      assert(conv == (1L to 7L).map(_ -> 1L).toMap,
        s"$path: fixed-point propagation must collapse the whole chain, got $conv")
    }
  }

  test("star contraction CC: label parity with min-label propagation on chains, clusters, isolates") {
    // chain 1–2–…–7, a 3-clique {10,11,12} (redundant edges), an
    // isolated pair {20,21}, isolated docs 30, 31
    val corpus = ((1L to 7L) ++ Seq(10L, 11L, 12L, 20L, 21L, 30L, 31L))
      .map(i => (i, "x", "en", 1L)).toDF("doc_id", "text", "lang", "n_chars")
    val pairs = ((1L to 6L).map(i => (i, i + 1)) ++
      Seq((10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L)))
      .toDF("id_a", "id_b")
    val star = Dedup.starCcLabels(corpus, pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val prop = Dedup.ccLabels(corpus, pairs, iters = 50).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(star == prop, s"star contraction must produce identical labels:\n$star\nvs\n$prop")
    val reps = star.toMap
    assert((1L to 7L).forall(reps(_) == 1L) && Seq(10L, 11L, 12L).forall(reps(_) == 10L))
    assert(reps(20L) == 20L && reps(21L) == 20L && reps(30L) == 30L && reps(31L) == 31L)
  }

  test("star contraction converges in O(log d) rounds where min-label needs O(d)") {
    // a 16-hop path: min-label propagation moves label 1 one hop per
    // round (needs 16 rounds); star contraction halves path lengths
    // per round — 6 rounds are ample for diameter 16
    val corpus = (1L to 17L).map(i => (i, "x", "en", 1L)).toDF("doc_id", "text", "lang", "n_chars")
    val chain = (1L to 16L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val star = Dedup.starCcLabels(corpus, chain, maxIters = 6).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("rep_id")).toMap
    assert(star == (1L to 17L).map(_ -> 1L).toMap,
      s"star contraction must collapse a 16-hop chain within 6 rounds, got $star")
    // the SAME budget starves min-label propagation — the round-count
    // separation this operator exists for
    val prop = Dedup.ccLabels(corpus, chain, iters = 6).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("rep_id")).toMap
    assert(prop != star, "min-label within 6 rounds must NOT have collapsed the 16-hop chain")
  }

  test("ccLabels at iters = 4 agrees with iters = 50 on a graph that converges within 4 rounds") {
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val corpus = (1L to 5L).map(i => (i, "x", "en", 1L)).toDF("doc_id", "text", "lang", "n_chars")
    for ((path, cc) <- ccPaths)
      assert(repsOf(cc(corpus, pairs, 4)) == repsOf(cc(corpus, pairs, 50)),
        s"$path: same labels when the graph converges before the round cap")
  }

  /** Jobs recorded under `group`. Job events reach the status store
    * asynchronously, so read until the count stops moving.
    */
  private def settledJobCount(group: String): Int = {
    def jobs = spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
    var (last, now) = (-1, jobs)
    val deadline = System.nanoTime() + 10000000000L
    while (now != last && System.nanoTime() < deadline) {
      Thread.sleep(300)
      last = now
      now = jobs
    }
    now
  }

  test("ccLabels stops at its fixed point instead of running every allowed round") {
    // one edge: round 1 moves doc 2 onto label 1, round 2 changes
    // nothing — every further round would be wasted. Each distributed
    // round runs at least one Spark job, so 50 rounds could not fit
    // under 50 jobs.
    val corpus = (1L to 3L).map(i => (i, "x", "en", 1L)).toDF("doc_id", "text", "lang", "n_chars")
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val sc = spark.sparkContext
    val group = s"cc-fixed-point-${System.nanoTime()}"
    sc.setJobGroup(group, "ccLabels fixed-point spec")
    val reps = try repsOf(distributedCc(corpus, pairs, 50)) finally sc.clearJobGroup()
    assert(reps == Map(1L -> 1L, 2L -> 1L, 3L -> 3L), s"got $reps")
    val now = settledJobCount(group)
    assert(now > 0, "the job group recorded no jobs")
    assert(now < 50, s"$now jobs: ccLabels kept iterating past the fixed point")
  }

  test("ccLabels' returned plan stays the same size however many rounds it ran") {
    // a path graph of depth d takes d rounds plus one that changes no
    // label. Each round's plan reads the previous frontier twice, so
    // without a per-round checkpoint the analyzed plan doubles every
    // round: 2^13 vs 2^5 base plans for the two chains below
    def run(depth: Int): (Int, Int) = {
      val corpus = (1L to depth + 1L).map(i => (i, "x", "en", 1L))
        .toDF("doc_id", "text", "lang", "n_chars")
      val chain = (1L to depth.toLong).map(i => (i, i + 1)).toDF("id_a", "id_b")
      val sc = spark.sparkContext
      val group = s"cc-plan-size-$depth-${System.nanoTime()}"
      sc.setJobGroup(group, "ccLabels plan-size spec")
      val labels = try distributedCc(corpus, chain, 50) finally sc.clearJobGroup()
      val nodes = labels.queryExecution.analyzed.collect { case p => p }.size
      assert(labels.filter(col("rep_id") =!= 1L).isEmpty,
        s"the depth-$depth chain must collapse onto doc 1")
      (nodes, settledJobCount(group))
    }
    val (nodes4, jobs4) = run(4)
    // a plan that doubles per round runs the driver out of heap inside
    // the depth-12 rounds, before any assertion could read it: report
    // that as this spec's failure instead of aborting the suite
    val (nodes12, jobs12) =
      try run(12)
      catch { case e: OutOfMemoryError => fail("the depth-12 chain ran the driver out of heap", e) }
    assert(math.abs(nodes12 - nodes4) <= 2,
      s"analyzed plan grew with the rounds: $nodes4 nodes at depth 4, $nodes12 at depth 12")
    // the lazy checkpoint runs no job of its own: each of the 8 extra
    // rounds costs its changed-label count (one job) plus the round
    // plan's broadcast and frontier shuffle
    val perRound = (jobs12 - jobs4) / 8.0
    assert(perRound <= 3.0, s"$perRound jobs per round ($jobs4 at depth 4, $jobs12 at depth 12)")
  }

  /** Union-find labels: every doc under its component's least id. */
  private def unionFind(docIds: Seq[Long], pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- pairs) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    docIds.map(d => d -> find(d)).toMap
  }

  /** A random pair graph on shuffled doc ids 1..n: cliques, stars,
    * isolated docs and chains up to 8 hops, every pair possibly
    * reversed or repeated. Returns (n, pairs).
    */
  private val ccGraphs: Gen[(Int, Seq[(Long, Long)])] = {
    val component: Gen[Int => Seq[(Int, Int)]] = Gen.oneOf(
      Gen.choose(2, 5).map(n => (o: Int) => for (i <- 0 until n; j <- i + 1 until n) yield (o + i, o + j)),
      Gen.choose(2, 7).map(n => (o: Int) => (1 until n).map(i => (o, o + i))),
      Gen.const((_: Int) => Seq.empty[(Int, Int)]),
      Gen.choose(2, 9).map(n => (o: Int) => (0 until n - 1).map(i => (o + i, o + i + 1))))
    for {
      comps <- Gen.choose(1, 6).flatMap(Gen.listOfN(_, component))
      seed <- Gen.long
    } yield {
      val rnd = new scala.util.Random(seed)
      // lay the components out on consecutive slots, each one slot wider
      // than its largest index, then shuffle the slots onto doc ids
      var next = 0
      val local = comps.flatMap { c =>
        val es = c(next)
        next = (next +: es.flatMap { case (a, b) => Seq(a, b) }).max + 1
        es
      }
      val ids = rnd.shuffle((1L to next.toLong).toVector)
      val pairs = local.flatMap { case (a, b) =>
        val p = if (rnd.nextBoolean()) (ids(a), ids(b)) else (ids(b), ids(a))
        if (rnd.nextInt(5) == 0) Seq(p, p.swap) else Seq(p)
      }
      (next, pairs)
    }
  }

  test("ccLabels property: driver and distributed rounds agree at every round cap, union-find at the fixed point") {
    val prop = Prop.forAllNoShrink(ccGraphs) { case (n, pairs) =>
      val corpus = (1L to n.toLong).toDF("doc_id")
      val p = pairs.toDF("id_a", "id_b")
      val same = Seq(1, 4, 50).forall { iters =>
        ccPaths.map { case (_, cc) => repsOf(cc(corpus, p, iters)) }.distinct.size == 1
      }
      val uf = unionFind(1L to n.toLong, pairs)
      (Prop(same) :| s"driver and distributed labels differ on $pairs") &&
        (Prop(repsOf(ccPaths.head._2(corpus, p, 10000)) == uf) :| s"not union-find on $pairs")
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(10)
      .withInitialSeed(Seed(14L)), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
    // chains deeper than the largest cap: 52 hops at 50 rounds stop short
    // on both paths alike, and 1,000 hops reach union-find on the driver
    for (depth <- Seq(52, 1000)) {
      val corpus = (1L to depth + 1L).toDF("doc_id")
      val chain = (1L to depth.toLong).map(i => (i + 1, i))
      val p = chain.toDF("id_a", "id_b")
      val uf = unionFind(1L to depth + 1L, chain)
      val driver = repsOf(ccPaths.head._2(corpus, p, 50))
      assert(driver != uf && driver(51L) == 1L && driver(52L) == 2L, s"depth $depth at 50 rounds")
      if (depth == 52) assert(repsOf(distributedCc(corpus, p, 50)) == driver)
      else assert(repsOf(ccPaths.head._2(corpus, p, 2000)) == uf, "the 1,000-hop chain")
    }
  }

  test("ccLabels degenerate inputs: empty, repeated, reversed, self and null-ended pairs, same labels on both paths") {
    val corpus = (0L to 9L).toDF("doc_id")
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    // 1–2–3 through repeated and reversed pairs; 5 paired only with
    // itself; 6–7 with self-pairs on both; 4 and 8 only beside nulls.
    // Reading a null as 0 would put 0, 4 and 8 in one component.
    val messy = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (Some(2L), Some(1L)), (Some(1L), Some(2L)), (Some(3L), Some(2L)),
      (Some(5L), Some(5L)), (Some(6L), Some(6L)), (Some(7L), Some(6L)), (Some(7L), Some(7L)),
      (None, Some(4L)), (Some(8L), None), (None, None)).toDF("id_a", "id_b")
    val self = (0L to 9L).map(i => i -> i).toMap
    for ((path, cc) <- ccPaths; iters <- Seq(1, 50)) {
      assert(repsOf(cc(corpus, empty, iters)) == self, s"$path, empty pairs, $iters rounds")
      val reps = repsOf(cc(corpus, messy, iters))
      val want = self ++ Map(2L -> 1L, 3L -> (if (iters == 1) 2L else 1L), 7L -> 6L)
      assert(reps == want, s"$path, messy pairs, $iters rounds: $reps")
    }
  }

  test("ccLabels below the driver bound runs a fixed number of Spark jobs, none per round") {
    // chains of depth 4 and 12 take 5 and 13 rounds at iters = 50; on
    // the driver path neither shows in the job count: the pair count
    // (three jobs) and the collect
    def jobs(depth: Int): Int = {
      val corpus = (1L to depth + 1L).toDF("doc_id")
      val chain = (1L to depth.toLong).map(i => (i, i + 1)).toDF("id_a", "id_b")
      val sc = spark.sparkContext
      val group = s"cc-driver-jobs-$depth-${System.nanoTime()}"
      sc.setJobGroup(group, "ccLabels driver job-count spec")
      try Dedup.ccLabels(corpus, chain, iters = 50) finally sc.clearJobGroup()
      settledJobCount(group)
    }
    val (jobs4, jobs12) = (jobs(4), jobs(12))
    assert(jobs4 == jobs12 && jobs12 <= 4, s"$jobs4 jobs at depth 4, $jobs12 at depth 12")
  }

  test("LSH-applied dedup catches the cross-block dup the blocked baseline misses (fixture-pinned)") {
    // the cross-block corpus: 1=2 exact dups whose n_chars (299 vs
    // 301) straddle a length-bucket boundary — the blocked generator
    // misses the pair, LSH finds it.
    // NOTE this is a FIXTURE comparison, not a containment invariant:
    // the two generators verify different similarity units
    // (ngramJaccardPairs: unigram-token-set Jaccard; ngramLshPairs:
    // bigram-shingle Jaccard), so neither survivor set contains the
    // other in general — at sf0.01 the LSH path keeps 476 docs vs the
    // blocked path's 362, each dropping pairs the other's gram unit
    // doesn't flag.
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon", "en", 299L),
      (2L, "alpha beta gamma delta epsilon", "en", 301L),
      (3L, "alpha beta gamma delta zeta", "en", 27L),
      (4L, "one two three four five six seven", "en", 33L)
    ).toDF("doc_id", "text", "lang", "n_chars")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val blocked = ids(Dedup.applyPairs(d, Dedup.ngramJaccardPairs(d)))
    val lsh = ids(Dedup.applyPairs(d, Dedup.ngramLshPairs(d)))
    assert(lsh == Set(1L, 3L, 4L) && blocked == Set(1L, 2L, 3L, 4L),
      "the cross-block dup must be dropped by the LSH path and kept by the blocked baseline")
    // the cc composition groups the pair under the min id
    val reps = Dedup.ccLabels(d, Dedup.ngramLshPairs(d), iters = 50).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("rep_id")).toMap
    assert(reps == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L), s"got $reps")
  }

  test("exact-first CC labels are identical to full-graph CC; identical groups add zero pairs") {
    // three identical docs (the crawl-clique shape) + a near-dup of
    // them + a separate identical pair + a loner: the full graph has
    // the 1-2-3 clique AND the 1..4 chain; exact-first must reproduce
    // the same labels with the clique collapsed before pair generation
    val clique = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    val d = Seq(
      (1L, clique, "en", 30L),
      (2L, clique, "en", 30L),
      (3L, clique, "en", 30L),
      // near-dup: last token mutated → bigram J = 10/12 ≈ 0.833,
      // collision prob ≈ 0.995 under the 8×4 geometry
      (4L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 zeta", "en", 30L),
      (5L, "one two three four five six seven", "en", 33L),
      (6L, "one two three four five six seven", "en", 33L),
      (7L, "completely different loner document here", "en", 40L)
    ).toDF("doc_id", "text", "lang", "n_chars")
    def pairsOf(df: org.apache.spark.sql.DataFrame) = Dedup.ngramLshPairs(df, thresholdFs = 8000L)
    def labelsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("rep_id")).toMap
    val full = labelsOf(Dedup.ccLabels(d, pairsOf(d), iters = 50))
    val pre = labelsOf(Dedup.ccLabelsExactFirst(d, pairsOf,
      (dd, pp) => Dedup.ccLabels(dd, pp, iters = 50)))
    assert(full == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L, 6L -> 5L, 7L -> 7L),
      s"full-graph CC baseline: $full")
    assert(pre == full, s"exact-first labels $pre must equal full-graph labels $full")
    // same parity through the star-contraction variant
    val preStar = labelsOf(Dedup.ccLabelsExactFirst(d, pairsOf,
      (dd, pp) => Dedup.starCcLabels(dd, pp)))
    assert(preStar == full, s"exact-first star labels $preStar must equal $full")
    // the cost claim: the deduplicated corpus generates NO pairs for
    // the identical groups (4 survivors → only the 1–4 near-dup pair)
    val survivorPairs = pairsOf(d.dropDuplicates("text")).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(survivorPairs == Set((1L, 4L)),
      s"identical groups must contribute zero survivor pairs, got $survivorPairs")
  }

  test("stored LSH index: pair-identical to the recompute path, stored side reads shuffle-free") {
    val reference = Tables.documents(spark, sfDir).filter(col("doc_id") % 2 === 0)
    val incoming = Tables.documents(spark, sfDir).filter(col("doc_id") % 2 === 1)
    Dedup.writeNgramLshIndex(reference, "lshidx_spec", buckets = 8)
    def pairsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("id_in"), r.getAs[Long]("id_ref")) -> r.getAs[Long]("jac_fs"))
      .toMap
    val indexed = pairsOf(Dedup.ngramLshAgainstIndex(incoming, "lshidx_spec"))
    val recomputed = pairsOf(Dedup.ngramLshAgainst(incoming, reference))
    assert(indexed == recomputed,
      s"stored-index pairs must equal the recompute path (${indexed.size} vs ${recomputed.size})")
    // the layout claim: a groupBy on exactly the bucketing key
    // (band, bucket, pg) plans with ZERO exchanges
    val widths = spark.table("lshidx_spec_bands")
      .groupBy(col("band"), col("bucket"), col("pg")).count()
    val aggExchanges = widths.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(aggExchanges == 0, "bucket-key aggregate must read the (band, bucket, pg) bucketing")
    // and the grams table joins on doc_id without shuffling itself
    val g = spark.table("lshidx_spec_grams")
    val selfJoin = g.as("a").join(g.as("b"), "doc_id")
    val joinExchanges = selfJoin.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(joinExchanges == 0, "grams doc_id join must reuse the bucketed layout")
    // incremental append: fold the accepted incoming docs in, then a
    // later batch must flag dups against BOTH the original reference
    // and the appended docs — and the bucketed-layout claim survives
    val flagged = indexed.keySet.map(_._1)
    val accepted = incoming.filter(!col("doc_id").isin(flagged.toSeq: _*))
    Dedup.appendToNgramLshIndex(accepted, "lshidx_spec") // bucket count from _meta
    val laterBatch = Tables.documents(spark, sfDir) // every doc again: all are dups now
    val later = Dedup.ngramLshAgainstIndex(laterBatch, "lshidx_spec", thresholdFs = 10000L)
      .select(col("id_in")).distinct().collect().map(_.getLong(0)).toSet
    val indexedIds = reference.select("doc_id").collect().map(_.getLong(0)).toSet ++
      accepted.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(indexedIds.subsetOf(later),
      s"every indexed doc must self-flag as an exact dup after append " +
        s"(missing ${indexedIds.diff(later).take(5)})")
    val widthsAfter = spark.table("lshidx_spec_bands")
      .groupBy(col("band"), col("bucket"), col("pg")).count()
    assert(widthsAfter.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange hashpartitioning")) == 0,
      "appended bands table must keep the shuffle-free layout")

    // IDEMPOTENT append: re-appending an already-folded batch must be
    // a no-op — duplicated band/gram rows would silently inflate every
    // later candidate set
    val bandRowsBefore = spark.table("lshidx_spec_bands").count()
    val gramRowsBefore = spark.table("lshidx_spec_grams").count()
    Dedup.appendToNgramLshIndex(accepted, "lshidx_spec")
    assert(spark.table("lshidx_spec_bands").count() == bandRowsBefore,
      "double-append must not add band rows for already-indexed doc_ids")
    assert(spark.table("lshidx_spec_grams").count() == gramRowsBefore,
      "double-append must not add gram rows for already-indexed doc_ids")
    val laterAgain = Dedup.ngramLshAgainstIndex(laterBatch, "lshidx_spec", thresholdFs = 10000L)
      .select(col("id_in")).distinct().collect().map(_.getLong(0)).toSet
    assert(laterAgain == later, "double-append must leave the candidate set identical")

    // COMPACTION: appends accumulate one file per occupied bucket per
    // batch; the rewrite merges each bucket back to ONE file while
    // preserving the candidate set and the shuffle-free layout
    // resolve the table's CURRENT location from the catalog — after a
    // maintenance flip the live generation is a __gN directory and the
    // previous one is retained (keep-one), so a fixed warehouse path
    // would count the stale generation and pass/fail vacuously (the
    // r11 ADVICE item, fixed here the same way as SimilaritySpec)
    def tableFiles(t: String): Seq[java.io.File] = {
      val loc = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(t)).location
      Option(new java.io.File(loc).listFiles()).getOrElse(Array.empty[java.io.File])
        .toSeq.filter(_.getName.startsWith("part-"))
    }
    val filesBefore = tableFiles("lshidx_spec_bands").size
    Dedup.compactNgramLshIndex(spark, "lshidx_spec")
    val filesAfter = tableFiles("lshidx_spec_bands")
    assert(filesAfter.size < filesBefore,
      s"compaction must shrink the file count ($filesBefore -> ${filesAfter.size})")
    // bucket id is the _NNNNN suffix of a bucketed part file
    val bucketOf = raw".*_(\d{5})\.c.*".r
    val perBucket = filesAfter.groupBy(f => f.getName match { case bucketOf(b) => b })
    assert(perBucket.values.forall(_.size == 1),
      s"each bucket must be one file after compaction, got ${perBucket.view.mapValues(_.size).toMap}")
    val compacted = Dedup.ngramLshAgainstIndex(laterBatch, "lshidx_spec", thresholdFs = 10000L)
      .select(col("id_in")).distinct().collect().map(_.getLong(0)).toSet
    assert(compacted == later, "compaction must preserve the candidate set")
    val widthsCompacted = spark.table("lshidx_spec_bands")
      .groupBy(col("band"), col("bucket"), col("pg")).count()
    assert(widthsCompacted.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange hashpartitioning")) == 0,
      "compacted bands table must keep the shuffle-free layout")

    // RETRACTION: deleted doc_ids must stop seeding candidates — and
    // ONLY they may disappear; the rewrite must keep the layout
    import spark.implicits._
    val retract = later.take(3).toSeq
    Dedup.deleteFromNgramLshIndex(spark, "lshidx_spec", retract.toDF("doc_id"))
    val afterDelete = Dedup.ngramLshAgainstIndex(laterBatch, "lshidx_spec", thresholdFs = 10000L)
      .select(col("id_in")).distinct().collect().map(_.getLong(0)).toSet
    assert(afterDelete == later -- retract,
      s"delete must remove exactly the retracted ids (diff ${(afterDelete -- (later -- retract)).take(5)})")
    assert(spark.table("lshidx_spec_grams").filter(col("doc_id").isin(retract: _*)).count() == 0,
      "retracted gram rows must be physically gone")
    // idempotent: deleting an absent id is a no-op
    val rowsAfter = spark.table("lshidx_spec_bands").count()
    Dedup.deleteFromNgramLshIndex(spark, "lshidx_spec", retract.toDF("doc_id"))
    assert(spark.table("lshidx_spec_bands").count() == rowsAfter,
      "re-deleting retracted ids must change nothing")
    val widthsDeleted = spark.table("lshidx_spec_bands")
      .groupBy(col("band"), col("bucket"), col("pg")).count()
    assert(widthsDeleted.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange hashpartitioning")) == 0,
      "post-delete bands table must keep the shuffle-free layout")
  }

  test("stored-index candidate join: only the incoming batch shuffles, never the bands table") {
    // The layout claim under test: indexCandidatePairs keys on
    // EXACTLY the bands table's (band, bucket, pg) bucketing, so the
    // stored side plans with ZERO exchanges and the one band-key
    // shuffle in the candidate plan belongs to the incoming batch.
    // (The r8 design bucketed on (band, bucket) and joined on three
    // keys — Spark's all-cluster-keys co-partition rule then
    // re-shuffled the WHOLE index per query batch.) Broadcasts are
    // disabled so a tiny fixture can't sidestep the partitioning
    // question the assertion exists to answer.
    assume(spark.catalog.tableExists("lshidx_spec_bands"),
      "runs after the stored-index spec builds lshidx_spec")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      import spark.implicits._
      val bandedIn = Seq((1L, 0, 5L), (2L, 1, 9L)).toDF("doc_id", "band", "bucket")
      val cand = Dedup.indexCandidatePairs(bandedIn, "lshidx_spec")
      val lines = cand.queryExecution.executedPlan.toString.linesIterator.toSeq
      val bandShuffles = lines.count(_.contains("Exchange hashpartitioning(band"))
      // a shuffled stored side would add its own band-key exchange
      // over the lshidx_spec_bands scan (count 2+, the r8 defect)
      assert(bandShuffles == 1,
        s"exactly one band-key shuffle (the incoming leg) expected, got $bandShuffles:\n" +
          lines.mkString("\n"))
      assert(lines.exists(_.contains("lshidx_spec_bands")),
        "sanity: the stored bands scan must be in the candidate plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("cross-corpus LSH pairs incoming docs against the reference only, never each other") {
    val incoming = Seq(
      (1L, "alpha beta gamma delta epsilon", "en", 30L),
      (3L, "alpha beta gamma delta epsilon", "en", 30L), // dup WITHIN incoming — no pair
      (5L, "one two three four five six seven", "en", 33L)
    ).toDF("doc_id", "text", "lang", "n_chars")
    val reference = Seq(
      (2L, "alpha beta gamma delta epsilon", "en", 30L),
      (4L, "totally unrelated reference text here", "en", 37L)
    ).toDF("doc_id", "text", "lang", "n_chars")
    val out = Dedup.ngramLshAgainst(incoming, reference).collect()
      .map(r => (r.getAs[Long]("id_in"), r.getAs[Long]("id_ref"))).toSet
    assert(out == Set((1L, 2L), (3L, 2L)),
      s"each incoming dup pairs its reference copy only (no intra-corpus pairs), got $out")
    // the apply step: one anti-join on the flagged incoming ids
    val survivors = incoming.join(
        Dedup.ngramLshAgainst(incoming, reference).select(col("id_in").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(5L), s"flagged incoming docs dropped, got $survivors")
  }

  test("cross candidate salting: pair set identical to the unsalted cross-bucket join") {
    val bin = ((0L until 50L).map(i => (i, 0, 777L)) :+ ((60L, 1, 10L)))
      .toDF("doc_id", "band", "bucket")
    val bref = ((1000L until 1300L).map(i => (i, 0, 777L)) :+ ((5000L, 1, 10L)))
      .toDF("doc_id", "band", "bucket")
    // reference mega-bucket (300 docs > maxBucket=64 → 5 salt groups)
    val salted = Dedup.crossCandidatePairs(bin, bref, maxBucket = 64)
    val unsalted = Dedup.crossCandidatePairs(bin, bref, maxBucket = Int.MaxValue)
    assert(salted.count() == 50L * 300L + 1, "full cross product per shared bucket + the singleton pair")
    assert(salted.exceptAll(unsalted).isEmpty && unsalted.exceptAll(salted).isEmpty,
      "reference-side salting must not change the candidate set")
  }

  // max shuffle-write records of any task during df.count() — the
  // join tasks write the pair stream into the distinct exchange, so
  // this IS the per-task pair expansion
  private def maxTaskShuffleRecords(df: org.apache.spark.sql.DataFrame): Long = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    import scala.jdk.CollectionConverters._
    val recs = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) recs.add(m.shuffleWriteMetrics.recordsWritten)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      df.count()
      // the listener bus is async: wait until the metric stream settles
      var last = -1L; var stable = 0; var waited = 0
      while (stable < 3 && waited < 100) {
        Thread.sleep(100); waited += 1
        val n = recs.size.toLong
        if (n == last) stable += 1 else { stable = 0; last = n }
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    recs.asScala.foldLeft(0L)(math.max)
  }

  // pin the plan shape the salting mechanism is designed for: at
  // production scale the banded frame is corpus-sized, so the
  // self-join is a SHUFFLE join whose reduce task owns ALL rows of a
  // key — that is where a mega-bucket's n² lands. At test scale the
  // slim side would broadcast (parallelizing the expansion over map
  // partitions and hiding the skew), and AQE would coalesce the tiny
  // map outputs into one task (it sizes by MAP bytes and cannot see
  // join-OUTPUT expansion). Disable both locally; salting is exactly
  // the guard for the expansion AQE can't see.
  private def withSkewPinnedPlan[T](body: => T): T = {
    val coalesce0 = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    val parts0 = spark.conf.get("spark.sql.shuffle.partitions")
    val bcast0 = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally {
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", coalesce0)
      spark.conf.set("spark.sql.shuffle.partitions", parts0)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast0)
    }
  }

  test("forced skew: salting keeps any single task's pair expansion bounded (stage task metrics)") {
    // one degenerate bucket of 2000 docs → 1 999 000 candidate pairs.
    // Unsalted, the whole n² expansion is produced by the ONE join
    // task that owns the (band, bucket) key; salted (s = 10 groups),
    // no task owns more than a few partner-group slices.
    val banded = (0L until 2000L).map(id => (id, 0, 777L)).toDF("doc_id", "band", "bucket")
    withSkewPinnedPlan {
      val saltedMax = maxTaskShuffleRecords(Dedup.candidatePairs(banded, maxBucket = 200))
      val unsaltedMax = maxTaskShuffleRecords(Dedup.candidatePairs(banded, maxBucket = Int.MaxValue))
      val total = 2000L * 1999L / 2
      info(s"per-task pair expansion: unsalted max=$unsaltedMax, salted max=$saltedMax (total=$total)")
      assert(unsaltedMax >= total, s"unsalted: one task must carry the full n² expansion, max=$unsaltedMax")
      assert(saltedMax <= total / 2,
        s"salted: no task may carry more than half the expansion (straggler gone), max=$saltedMax")
      assert(saltedMax > 0, "listener must have observed the join tasks")
    }
  }

  test("forced skew, simhash: a mega-chunk corpus rides the same salted generator (r7)") {
    import graft.functions.HashFunctions.fingerprintChunks
    // 1500 identical docs → ONE fingerprint → every chunk is a
    // 1500-doc bucket (> maxBucket=1024 ⇒ s=2 salt groups). Before r7
    // simhashPairs self-joined the chunk frame directly — the whole
    // C(1500,2) expansion per band in one task; routed through
    // candidatePairs no task carries more than the ~n·(n/s)/2 slice.
    val d = (0L until 1500L)
      .map(i => (i, "alpha beta gamma delta epsilon zeta", "en", 33L))
      .toDF("doc_id", "text", "lang", "n_chars")
    withSkewPinnedPlan {
      val saltedMax = maxTaskShuffleRecords(Dedup.simhashPairs(d, maxHamming = 3))
      spark.sharedState.cacheManager.clearCache()
      // the pre-r7 formulation, measured under the same plan pins
      val fp = Dedup.simhashFingerprints(d)
        .select(col("doc_id"), explode(fingerprintChunks(col("simhash"), 4)).as("ck"))
        .select(col("doc_id"), col("ck.chunk").as("chunk"), col("ck.bits").as("bits"))
      val unsaltedMax = maxTaskShuffleRecords(
        fp.as("a").join(fp.as("b"),
            col("a.chunk") === col("b.chunk") && col("a.bits") === col("b.bits") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id"), col("b.doc_id")).distinct())
      val total = 1500L * 1499L / 2
      info(s"simhash per-task pair expansion: unsalted max=$unsaltedMax, salted max=$saltedMax (total=$total)")
      assert(unsaltedMax >= total, s"unsalted chunk join: one task owns the full expansion, max=$unsaltedMax")
      assert(saltedMax <= (unsaltedMax * 6) / 10,
        s"salted (s=2): the straggler task must shed ≥40% of the expansion, max=$saltedMax")
      assert(saltedMax > 0, "listener must have observed the join tasks")
      spark.sharedState.cacheManager.clearCache()
    }
  }

  test("rolling fingerprint is order-sensitive where set hashes are not") {
    val d2 = Seq((1L, "a b c"), (2L, "c b a")).toDF("doc_id", "text")
    val fps = d2.select(HashFunctions.rollingFingerprint(split(col("text"), " ")).as("fp"))
      .collect().map(_.getLong(0))
    assert(fps(0) != fps(1), "permuted token order must change the rolling hash")
  }

  test("md5-simhash pairs are EXACTLY the hamming<=3 pairs (brute-force parity on the fingerprints)") {
    // planted structure: 20 distinct docs sharing a 60-token base (so
    // fingerprints cluster but diverge by a few bits), one exact-dup
    // pair, and a one-token drift of the base
    val base = (0 until 60).map(i => s"tok$i").mkString(" ")
    val rows = (0L until 20L).map(i => (i, s"$base uniq$i x$i y$i z$i")) ++
      Seq((100L, base), (101L, base), (102L, s"$base drift1"))
    val d = rows.toDF("doc_id", "text")
    val fp = Dedup.simhashMd5Fingerprints(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> (0 until 4).map(c => r.getAs[Long](s"c$c"))).toMap
    def ham(a: Seq[Long], b: Seq[Long]): Int =
      a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
    val ids = fp.keys.toSeq.sorted
    val truth = (for { a <- ids; b <- ids if a < b; h = ham(fp(a), fp(b)) if h <= 3 }
      yield (a, b, h.toLong)).toSet
    val got = Dedup.simhashMd5Pairs(d).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Long]("hamming"))).toSet
    // pigeonhole completeness (every true pair surfaces through some
    // chunk band) AND exact-verify soundness (nothing else does)
    assert(truth.exists(_._3 == 0L), "fixture must plant an exact-dup (hamming 0) pair")
    assert(got == truth, s"banded pair set must equal the brute-force truth " +
      s"(missing=${(truth -- got).take(5)}, extra=${(got -- truth).take(5)})")
    // each chunk is 16 bits — fingerprint chunks stay in [0, 2^16)
    assert(fp.values.flatten.forall(c => c >= 0L && c < (1L << 16)))
  }
}
