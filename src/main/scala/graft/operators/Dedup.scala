package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge

import graft.functions.HashFunctions._
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import graft.functions.expressions.{ArrayJaccardFs, ArrayLDot, LatticeArgmin}

/** Document deduplication for LLM-training-data pipelines: exact,
  * MinHash+LSH, SimHash, blocked n-gram Jaccard, blocked embedding
  * cosine.
  *
  * The 100-TB invariant for every near-dup variant here: candidate
  * pairs are generated ONLY through an equi-join on a bucket key
  * (LSH band hash, SimHash chunk, or a metadata block key) — never a
  * cross join. Pair volume is O(sum of bucket²), tunable via
  * bands/chunk-width/block granularity; the verify step (exact
  * Jaccard / hamming / cosine) runs only on candidates.
  */
object Dedup {

  /** Fixed-point Jaccard column, floor(10000.0 * (|A∩B| / |A∪B|)), in
    * one native pass (sorted inputs take the merge path).
    */
  private def jaccardFs(a: Column, b: Column): Column =
    ColumnBridge.column(ArrayJaccardFs(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Candidate pairs from a slim banded frame (doc_id, band, bucket):
    * the self-equi-join on the bucket key — the ONLY pair generator
    * any LSH dedup here uses — deduplicated across bands BEFORE the
    * expensive verify. Pair volume is Σ bucket² over buckets, never
    * |corpus|².
    *
    * Skew guard: a mega-bucket (near-dup cluster, degenerate band —
    * e.g. the 1.8k-doc bucket this corpus plants at sf0.1) would put
    * its entire n² pair expansion into ONE join task. Buckets wider
    * than `maxBucket` are salted with the standard triangle split:
    * members get a salt group g = hash(id) mod s (s = ⌈n/maxBucket⌉),
    * the left leg replicates each row to every partner group, the
    * right leg keys on its own group — every ordered (x, y) meets on
    * exactly one (band, bucket, partner) key, so the pair set is
    * IDENTICAL to the unsalted join (spec-verified) while the widest
    * key carries ≤ n·maxBucket pairs across s parallel tasks instead
    * of n² in one. Buckets ≤ maxBucket have s = 1: zero replication,
    * the plain equi-join.
    *
    * Cost accounting: the bucket-size pass is a partial-agg groupBy
    * of slim rows (skew-immune: map-side combine), and the count
    * join-back shares the (band, bucket) shuffle key; replication
    * touches only mega-bucket rows.
    */

  /** Two interchangeable mega-bucket DISCOVERY strategies (the pair
    * set is identical either way — spec-pinned on the forced-skew
    * fixture — because any consistent per-bucket split yields the
    * same pairs; discovery only decides where the skew guard spends
    * replication):
    *
    *  - `sketchDiscovery = true` (default): ONE bounded global
    *    frequency sketch over the composite bucket key
    *    ([[Sketches.freqSketch]] — the sketch tier consumed by the
    *    dedup engine itself). The hot list is ≤ maxMapSize rows and
    *    BROADCASTS, so `banded` is never shuffled for discovery — its
    *    only exchange is the pair join itself. `upper` (the sketch's
    *    true-count upper bound) sizes each split, so a reported
    *    bucket never under-salts; NO_FALSE_NEGATIVES guarantees every
    *    bucket with count > the sketch's max error (≈ 3.5·|banded| /
    *    maxMapSize once saturated) is reported. An UNREPORTED bucket
    *    can thus hide at most that max error in one task — size
    *    maxMapSize ≥ 3.5·|banded|/maxBucket for full coverage, or
    *    accept residual skew bounded by it; correctness is unaffected
    *    either way.
    *  - `sketchDiscovery = false`: exact per-bucket counts via a
    *    partial-agg groupBy joined back on the (band, bucket) shuffle
    *    key — one extra exchange of the slim banded frame, exact
    *    split sizes. The fallback when the banded frame is about to
    *    shuffle on (band, bucket) anyway.
    */
  /** `szBoundFs` > 0 turns on the SET-SIZE pre-filter (r21, guide
    * §2.3 — verify fewer rows): `banded0` must then carry a `sz`
    * column (the doc's DISTINCT token/gram set size). Jaccard is
    * bounded by the size ratio — |A∩B| ≤ min(|A|,|B|) and |A∪B| ≥
    * max(|A|,|B|), so floor(10⁴·J) ≥ t requires 10⁴·min ≥ t·max —
    * which means a pair failing the integer cross-multiplication
    * can NEVER pass the downstream `jac_fs ≥ t` verify: dropping it
    * here (BEFORE the distinct and the token-array attach joins)
    * leaves the verified pair set bit-identical while cutting the
    * distinct's input and the verify join's volume by the rejected
    * share (measured 36% of candidates at sf0.1's default geometry).
    * Size riding the slim band rows costs 4 bytes/row and no extra
    * join or shuffle. Only meaningful for the JACCARD families over
    * distinct element sets; hamming/cosine verifies pass 0 (off).
    */
  private[graft] def candidatePairs(banded0: DataFrame, maxBucket: Int = 1024,
                                    sketchDiscovery: Boolean = true,
                                    szBoundFs: Long = 0L): DataFrame = {
    // name the scaladoc contract instead of failing with an opaque
    // unresolved-column AnalysisException deep in the select (ADVICE)
    require(szBoundFs == 0L || banded0.columns.contains("sz"),
      s"szBoundFs = $szBoundFs needs a `sz` column (the doc's distinct " +
        "token/gram set size) on the banded frame; it carries " +
        banded0.columns.mkString("(", ", ", ")"))
    val maxMapSize = 4096
    val szCols = if (szBoundFs > 0) Seq(col("sz")) else Seq.empty
    val banded = banded0.select(
      (Seq(col("doc_id"), col("band"), col("bucket")) ++ szCols): _*)
    val salted =
      if (sketchDiscovery) {
        val bandT = banded.schema("band").dataType
        val bucketT = banded.schema("bucket").dataType
        val hot = banded
          .agg(Sketches.freqSketch(
            concat_ws(":", col("band"), col("bucket")), maxMapSize).as("sk"))
          .select(explode(Sketches.freqTopK(col("sk"), 0)).as("hh"))
          .filter(col("hh.upper") > maxBucket)
          .select(split(col("hh.item"), ":").as("parts"), col("hh.upper").as("n"))
          .select(element_at(col("parts"), 1).cast(bandT).as("band"),
            element_at(col("parts"), 2).cast(bucketT).as("bucket"),
            ceil(col("n") / lit(maxBucket.toDouble)).cast("int").as("s"))
        banded.join(broadcast(hot), Seq("band", "bucket"), "left")
          .withColumn("s", coalesce(col("s"), lit(1)))
          .withColumn("g", pmod(xxhash64(col("doc_id")), col("s")).cast("int"))
      } else {
        val counts = banded.groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("n"))
        banded.join(counts, Seq("band", "bucket"))
          .withColumn("s", ceil(col("n") / lit(maxBucket.toDouble)).cast("int"))
          .withColumn("g", pmod(xxhash64(col("doc_id")), col("s")).cast("int"))
      }
    val a = salted
      .withColumn("pg", explode(sequence(lit(0), col("s") - 1)))
      .select((Seq(col("doc_id").as("id_a"), col("band"), col("bucket"), col("pg")) ++
        (if (szBoundFs > 0) Seq(col("sz").as("sz_a")) else Seq.empty)): _*)
    val b = salted.select((Seq(col("doc_id").as("id_b"), col("band"), col("bucket"),
      col("g").as("pg")) ++
      (if (szBoundFs > 0) Seq(col("sz").as("sz_b")) else Seq.empty)): _*)
    // PIN the pair join's parallelism (r21): AQE sizes post-shuffle
    // reads by INPUT bytes, but this join's output is the pair
    // expansion — Σ bucket² over slim (id, band, bucket) rows,
    // routinely orders of magnitude above its input — so AQE folds
    // the sub-advisory-size shuffle to ONE partition and the whole
    // expansion plus the distinct's partial aggregate run serially
    // (measured: a 6–10 s single-task WholeStageCodegen stage
    // dominating every planted routed bench key). An explicit
    // partition count (REPARTITION_BY_NUM) is exempt from AQE
    // coalescing and satisfies the join's clustering requirement, so
    // the exchange count is unchanged — the expansion just stays
    // parallel. defaultParallelism scales with the cluster; at real
    // scale the band shuffle exceeds the advisory size and this pin
    // is a no-op in effect.
    val keys = Seq(col("band"), col("bucket"), col("pg"))
    val n = banded0.sparkSession.sparkContext.defaultParallelism
    val joined = a.repartition(n, keys: _*)
      .join(b.repartition(n, keys: _*), Seq("band", "bucket", "pg"))
      .filter(col("id_a") < col("id_b"))
    val bounded =
      if (szBoundFs > 0)
        joined.filter(lit(10000L) * least(col("sz_a"), col("sz_b")) >=
          lit(szBoundFs) * greatest(col("sz_a"), col("sz_b")))
      else joined
    bounded.select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** Exact dedup via content hash: one hash-partitioned groupBy, the
    * cheapest possible shuffle (key = 32-byte digest, payload = count
    * + min id). `keep_id` = lowest doc_id is the canonical survivor.
    * `canonical = true` digests [[graft.functions.TextFunctions
    * .canonicalKey]] instead of the raw text, so case/punctuation
    * variants of the same document collapse into one hash group (the
    * production normalize-then-hash posture — same scan-speed plan,
    * the fold rides the projection feeding the groupBy). The key is
    * [[graft.functions.TextFunctions.canonicalKey]], not bare
    * canonicalText: a fully non-ASCII document canonicalizes to ""
    * and a bare-canonical digest would collapse every such document
    * into one md5("") group — the guard falls those rows back to the
    * raw digest, so non-ASCII documents dedup only on byte-identity.
    */
  /** The canonical-keyed doc stream for the SET-SIMILARITY families:
    * [[TextAnalysis.maybeCanon]] plus the empty-canonical drop. A
    * fully non-ASCII doc canonicalizes to "", whose token "set" is
    * the singleton {""} — identical across every such doc, so the
    * canon variants of minhash/simhash/blocked-Jaccard would
    * mass-pair a multilingual corpus's non-Latin docs at J = 1
    * exactly the way bare-canonical digests mass-collapse them
    * ([[graft.functions.TextFunctions.canonicalKey]]'s hazard).
    * Canonical keying DROPS them instead: no token signal → never a
    * near-dup (the n ≥ 2 gram families get this degradation for free
    * — one token yields no shingles).
    */
  private def canonDocs(docs0: DataFrame, canonical: Boolean,
                        routed: Boolean = false,
                        minLossFs: Long = 0L): DataFrame = {
    // routed (r18): the script router's gram form — non-Latin docs
    // keep raw text, pure-Latin docs canonicalize; the empty-drop
    // applies the same way (a pure-Latin doc whose canonical form is
    // empty has no token signal either). minLossFs (r20) thresholds
    // the routing — maybeKeyed threads it and refuses misuse
    val c = TextAnalysis.maybeKeyed(docs0, canonical, routed, minLossFs)
    if (canonical || routed) c.filter(length(col("text")) > 0) else c
  }

  def exact(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
            canonical: Boolean = false, routed: Boolean = false,
            minLossFs: Long = 0L): DataFrame = {
    // routed (r18) supersedes canonical: the script router applies
    // canonicalKey ONLY to documents with zero non-Latin-script
    // signal (TextFunctions.hasNonLatinScript — the single source of
    // truth for which characters route; r19 inverted the class, so
    // EVERY script routes, not a named five) — the multilingual-safe
    // form of normalize-then-hash. canonical alone keeps the r17
    // contract (canonicalKey everywhere, empty-fallback as the only
    // guard). `minLossFs` (r19, routed only) is the thresholded
    // router: route raw only when canonical keying would strip more
    // than minLossFs/1e4 of the doc's characters — a stray glyph
    // keeps the case/punct collapse (TextFunctions.routedKey's
    // two-arg form; 0 ≡ the default any-signal routing).
    require(minLossFs == 0L || routed,
      s"minLossFs applies only to routed keying (got minLossFs = $minLossFs " +
        "with routed = false — pass routed = true, or drop the floor)")
    val key = if (routed) graft.functions.TextFunctions.routedKey(col(textCol), minLossFs)
              else if (canonical) graft.functions.TextFunctions.canonicalKey(col(textCol))
              else col(textCol)
    docs.groupBy(md5(key).as("h"))
      .agg(count(lit(1)).as("n_dups"), min(col(idCol)).as("keep_id"))
      .orderBy(col("h"))
  }

  /** MinHash + LSH banding. Signature: `perms` min-hashes over word
    * shingles (unigrams by default — the corpus-appropriate shingle
    * for high-overlap vocab; pass n>1 for stricter shingling).
    * Candidates = pairs sharing ≥1 of `bands` band-hash buckets.
    * Output: candidate pairs with their exact unigram-set Jaccard for
    * downstream thresholding.
    */
  /** Band geometry default (4 bands × 8 rows) sets the LSH collision
    * s-curve midpoint at ≈ (1/b)^(1/r) ≈ 0.84 Jaccard
    * ([[graft.functions.HashFunctions.lshCollisionProb]], spec-pinned
    * in DedupSpec): J=0.9 pairs collide with ~89% probability while
    * the dense J≈0.6 background (which a 4-row band would pass
    * wholesale on a self-similar corpus) collides at <2% — candidate
    * volume stays near the true-dup count rather than the pair count.
    *
    * The default verify threshold is COUPLED to that geometry:
    * minJaccardFs = 8400 ≈ the collision midpoint, so the output is
    * honestly "pairs with J ≥ 0.84, recall ≥ ~50% at the midpoint and
    * ≥ 89% from J = 0.9 up". Callers lowering minJaccardFs below the
    * midpoint must widen the geometry too (more bands / shorter
    * rows — e.g. 8×4 puts the midpoint at 0.59) or accept that
    * far-below-midpoint pairs pass the verify filter yet almost never
    * collide (at this geometry J = 0.5 pairs surface at only ~1.5%).
    */
  def minhashLsh(docs0: DataFrame, perms: Int = 32, bands: Int = 4,
                 shingleN: Int = 1, minJaccardFs: Long = 8400L,
                 canonical: Boolean = false,
                 routed: Boolean = false, minLossFs: Long = 0L): DataFrame = {
    val docs = Par.spread(canonDocs(docs0, canonical, routed, minLossFs))
    val rowsPerBand = perms / bands
    val toks = sort_array(array_distinct(tokens(col("text")))) // sorted per doc (r21): graft_jaccard_fs merge path
    // persist: this frame feeds BOTH legs of the band self-join and
    // BOTH sides of the verify join — without it the signature pass
    // runs 2× and the token pass 2× more (4 scan legs in the plan)
    val shingled = docs.select(
      col("doc_id"), toks.as("toks"),
      minhashSignature(if (shingleN == 1) toks else wordNgrams(tokens(col("text")), shingleN), perms)
        .as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // eager pin (r21): AQE runs the banding/discovery/verify legs
    // concurrently, and legs racing an unmaterialized cache re-run
    // the token+signature subtree once each — see chunkBandedPairs
    shingled.count()
    // band rows are SLIM (doc_id, band, bucket) — token arrays never
    // ride through the 8-way explode or the bucket shuffle
    val banded = shingled
      .select(col("doc_id"), size(col("toks")).as("sz"),
        explode(bandKeys(col("sig"), bands, rowsPerBand)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bucket").as("bucket"),
        col("sz"))
    val candidates = candidatePairs(banded, szBoundFs = minJaccardFs)
    // exact-Jaccard verify: one set-intersection per UNIQUE candidate
    val ta = shingled.select(col("doc_id").as("id_a"), col("toks").as("toks_a"))
    val tb = shingled.select(col("doc_id").as("id_b"), col("toks").as("toks_b"))
    val verified = candidates.join(ta, "id_a").join(tb, "id_b")
      .select(col("id_a"), col("id_b"),
        jaccardFs(col("toks_a"), col("toks_b")).as("jac_fs"))
      .filter(col("jac_fs") >= minJaccardFs)
    // structural release: the shingle persist drops after the caller's
    // first terminal action consumes it
    ScopedCache.releaseAfterAction(verified, Seq(shingled))
  }

  /** The cross-engine-REPRODUCIBLE twin of [[minhashLsh]]: identical
    * banding shape, candidate generator, and exact-Jaccard verify,
    * but the permutation hashes derive from md5 — a digest Spark and
    * DuckDB implement bit-identically — so the banded candidate set,
    * and every composition over it, is expressible as oracle SQL:
    *
    *   h           = int(substr(md5(tok), 1, 14), 16)   (56 bits)
    *   h1, h2      = h >> 28, h mod 2²⁸  (the two 28-bit halves)
    *   h_p(tok)    = (a_p·h1 + b_p·h2) mod 1e9+7
    *                 (Carter-Wegman family, HashFunctions.md5CwParams
    *                 — products < 2⁵⁸, overflow-free in both engines)
    *   bucket(b)   = '#'-join of the band's rowsPerBand row minima
    *
    * Per-token cost is ONE md5 digest (r11 — previously `perms`
    * digests: each permutation re-hashed `p ∥ '#' ∥ tok`; the
    * Carter-Wegman split derives all permutations from one digest,
    * the same trick [[minhashSignature]] plays with xxhash64, cutting
    * this key's dominant cost ~perms-fold). The PRODUCTION path stays
    * [[minhashLsh]] (xxhash64 beats md5 per digest); this twin exists
    * because oracle parity for the LSH → greedy-apply / CC
    * compositions previously forced them onto the blocked quadratic
    * [[ngramJaccardPairs]] generator (r6–r9's only `weak`
    * components) — with a SQL-expressible banded generator, the
    * apply/CC gate keys are subquadratic AND hash-verified
    * end-to-end. Recall model identical to
    * [[minhashLsh]] at equal geometry
    * ([[graft.functions.HashFunctions.lshCollisionProb]]); the
    * default verify threshold here is the apply-composition setting
    * (J ≥ 0.9, collision ≈ 89% at the 4×8 default).
    *
    * Rows come back unordered, like every pair generator here. The
    * verified frame is NOT persisted: a consumer that reads the pairs
    * more than once (the CC edges union) materializes them once itself,
    * as [[ccLabels]] does. An operator-side eager pin is not an option:
    * the scoped-release listener bus is asynchronous, so a pin action
    * completed just before registration is delivered to the fresh
    * listener and self-releases the caches it was meant to protect.
    */
  def minhashMd5PairsUnsorted(docs0: DataFrame, perms: Int = 32, bands: Int = 4,
                              minJaccardFs: Long = 9000L,
                              canonical: Boolean = false,
                              routed: Boolean = false, minLossFs: Long = 0L): DataFrame = {
    require(perms % bands == 0, s"bands must divide perms, got $perms/$bands")
    val docs = Par.spread(canonDocs(docs0, canonical, routed, minLossFs))
    val rowsPerBand = perms / bands
    val toksCol = sort_array(array_distinct(tokens(col("text")))) // sorted per doc (r21): graft_jaccard_fs merge path
    // persist: feeds both legs of the band self-join and both verify
    // sides (the md5 digest pass is the expensive stage here — one
    // native pass per row via HashFunctions.md5MinhashSig, r21; the
    // previous form ran 33 interpreted HOF passes per row)
    val shingled = docs.select(col("doc_id"), toksCol.as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), col("toks"),
        graft.functions.HashFunctions.md5MinhashSig(col("toks"), perms).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // eager pin (r21): see chunkBandedPairs — stops the concurrent
    // downstream legs from re-running the md5 digest subtree
    shingled.count()
    val bandStructs = array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws("#", (0 until rowsPerBand).map(r =>
          element_at(col("sig"), b * rowsPerBand + r + 1)): _*)
          .as("bucket"))
    }: _*)
    val banded = shingled.select(col("doc_id"), size(col("toks")).as("sz"),
        explode(bandStructs).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bucket").as("bucket"),
        col("sz"))
    val candidates = candidatePairs(banded, szBoundFs = minJaccardFs)
    val ta = shingled.select(col("doc_id").as("id_a"), col("toks").as("toks_a"))
    val tb = shingled.select(col("doc_id").as("id_b"), col("toks").as("toks_b"))
    val verified = candidates.join(ta, "id_a").join(tb, "id_b")
      .select(col("id_a"), col("id_b"),
        jaccardFs(col("toks_a"), col("toks_b")).as("jac_fs"))
      .filter(col("jac_fs") >= minJaccardFs)
    ScopedCache.releaseAfterAction(verified, Seq(shingled))
  }

  /** SimHash fingerprints: one 64-bit sketch per doc. [[simhashPairs]]
    * splits them into chunk keys for the hamming-bucketed candidate
    * join (pigeonhole: hamming < chunks ⇒ some chunk matches exactly).
    */
  def simhashFingerprints(docs0: DataFrame, canonical: Boolean = false,
                          routed: Boolean = false,
                          minLossFs: Long = 0L): DataFrame = {
    val docs = Par.spread(canonDocs(docs0, canonical, routed, minLossFs))
    docs.select(col("doc_id"), simhash64(tokens(col("text"))).as("simhash"))
  }

  /** SimHash near-dup pairs within hamming ≤ maxHamming.
    *
    * Candidates route through the salted [[candidatePairs]] generator
    * like every other LSH path here (band = chunk index, bucket =
    * chunk bits): a mega-bucket — thousands of near-identical docs
    * sharing a chunk value, or the degenerate all-zeros fingerprint
    * from trivial token arrays — gets the same triangle-salt split,
    * so no single join task carries its n² expansion (forced-skew
    * spec-verified alongside the minhash path). The fingerprints join
    * back onto the slim candidate ids for the hamming verify, the way
    * minhashLsh carries its token sets.
    *
    * Geometry is COUPLED to the threshold
    * ([[graft.functions.HashFunctions.simhashBandPlan]]): the banding
    * plan is derived from maxHamming so the pigeonhole guarantee
    * always covers the advertised radius — the default (3 → 4 chunks
    * of 16 bits) recalls 100% of hamming ≤ 3 pairs while background
    * pairs collide at only ~4·2⁻¹⁶; middle radii (4–6) escalate to
    * Manku-style chunk-COMBINATION bands (28 × 16-bit keys) instead of
    * collapsing to 8-bit single-chunk buckets — same guaranteed
    * recall, 73× less background candidate volume.
    * [[graft.functions.HashFunctions.simhashComboCollisionProb]] is
    * the spec-pinned recall curve beyond a plan's guaranteed radius.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
                   canonical: Boolean = false,
                   routed: Boolean = false, minLossFs: Long = 0L): DataFrame = {
    import graft.functions.HashFunctions.{simhashBandKeys, simhashBandPlan}
    val (chunks, comboSize) = simhashBandPlan(maxHamming)
    val fp = simhashFingerprints(docs, canonical, routed, minLossFs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // eager pin (r21): see chunkBandedPairs
    fp.count()
    // slim (doc_id, band, bucket) rows — fingerprints don't ride the
    // band explode; they come back in the verify join below
    val banded = fp
      .select(col("doc_id"), explode(simhashBandKeys(col("simhash"), chunks, comboSize)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bucket").as("bucket"))
    val fa = fp.select(col("doc_id").as("id_a"), col("simhash").as("sh_a"))
    val fb = fp.select(col("doc_id").as("id_b"), col("simhash").as("sh_b"))
    val verified = candidatePairs(banded).join(fa, "id_a").join(fb, "id_b")
      .select(col("id_a"), col("id_b"),
        hamming64(col("sh_a"), col("sh_b")).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
    ScopedCache.releaseAfterAction(verified, Seq(fp))
  }

  /** The cross-engine-REPRODUCIBLE twin of [[simhashPairs]] — the
    * simhash counterpart of [[minhashMd5PairsUnsorted]]: identical pigeonhole
    * banding shape, candidate generator, and exact-hamming verify,
    * but every token's 64 bit contributions come off the first 16 hex
    * chars of md5(token) — a digest both Spark and DuckDB implement
    * bit-identically — so the fingerprints, the banded candidate set,
    * and the verified pair set are all expressible as oracle SQL:
    *
    *   bit_j(tok)  = nibble(md5(tok), j/4) >> (3 − j%4) & 1
    *   s_j(doc)    = Σ over distinct tokens of (2·bit_j − 1)
    *   fp bit j    = 1 iff s_j > 0           (ties → 0, both engines)
    *   chunk_c     = bits [16c, 16c+16) as an integer, c = 0..3
    *
    * Banding is the fixed 4 × 16-bit chunk split: pigeonhole-complete
    * for the default hamming ≤ 3 radius (the same plan
    * [[graft.functions.HashFunctions.simhashBandPlan]] derives for
    * maxHamming = 3), and kept FIXED here because the DuckDB twin
    * mirrors it literally. The verify is exact: per-chunk
    * bit_count(xor) summed — both engines' bit_count/xor agree on
    * 64-bit integers. The PRODUCTION path stays [[simhashPairs]]
    * (one codegen'd xxhash-based sketch per doc beats one md5 per
    * token); this twin exists so the simhash family — previously
    * rows-only by necessity — has a hash-checked gate key, the same
    * bridge [[minhashMd5PairsUnsorted]] built for the minhash family in r10.
    *
    * Plan shape: one native per-doc kernel computes the four chunks
    * map-side (no exchange), and candidates route through the salted
    * [[candidatePairs]] generator like every other LSH path here.
    */
  private val SimhashMd5Chunks = 4

  /** The md5-simhash fingerprint as its four 16-bit chunk integers
    * (doc_id, c0..c3) — factored out so the spec can brute-force the
    * full pairwise hamming matrix on a fixture and assert
    * [[simhashMd5Pairs]] recalls EXACTLY the ≤ maxHamming pairs.
    */
  private[graft] def simhashMd5Fingerprints(docs: DataFrame): DataFrame =
    // native per-doc kernel (r21): the token array is already per-doc
    // in the scan projection, so the whole fingerprint is computable
    // map-side — one scan-speed projection instead of an explode plus
    // a 64-column groupBy Exchange. A null doc has no tokens to vote
    // and gets no row.
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        ColumnBridge.column(graft.functions.expressions.SimhashMd5Chunks(
          ColumnBridge.expression(array_distinct(tokens(col("text")))))).as("ch"))
      .select(col("doc_id") +:
        (0 until SimhashMd5Chunks).map(c => col(s"ch.c$c").as(s"c$c")): _*)

  def simhashMd5Pairs(docs0: DataFrame, maxHamming: Int = 3,
                      canonical: Boolean = false,
                      routed: Boolean = false, minLossFs: Long = 0L): DataFrame = {
    require(maxHamming <= 3,
      s"simhashMd5Pairs pins the oracle-mirrored 4x16 banding, complete only for hamming <= 3; got $maxHamming")
    chunkBandedPairs(
      simhashMd5Fingerprints(Par.spread(canonDocs(docs0, canonical, routed, minLossFs))),
      maxHamming)
  }

  /** Hamming-banded pairs over ANY 64-bit fingerprint held as four
    * 16-bit chunk columns (doc_id, c0..c3) — the shared engine behind
    * [[simhashMd5Pairs]] (text sketches) and
    * [[Multimodal.imagePhashPairs]] (perceptual image hashes):
    * pigeonhole banding (band = chunk index, bucket = chunk value,
    * complete for hamming ≤ 3) through the salted [[candidatePairs]]
    * generator, then the exact per-chunk bit_count(xor) verify.
    */
  private[graft] def chunkBandedPairs(fingerprints: DataFrame, maxHamming: Int): DataFrame = {
    val chunks = SimhashMd5Chunks
    // persist: the 4-chunk fingerprint frame feeds the band explode
    // AND both verify sides — the upstream fingerprint pass runs once.
    // The count() materializes it EAGERLY (r21): AQE submits the
    // independent downstream legs concurrently, and each leg that
    // races an unmaterialized cache re-runs the whole fingerprint
    // subtree (measured: 6 duplicate codec stages under
    // multimodal_phash) — one bounded job pins the frame first
    val fp = fingerprints
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    fp.count()
    val bandStructs = array((0 until chunks).map { c =>
      struct(lit(c).as("band"), col(s"c$c").cast("string").as("bucket"))
    }: _*)
    val banded = fp.select(col("doc_id"), explode(bandStructs).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bucket").as("bucket"))
    val fa = fp.select(col("doc_id").as("id_a") +:
      (0 until chunks).map(c => col(s"c$c").as(s"a$c")): _*)
    val fb = fp.select(col("doc_id").as("id_b") +:
      (0 until chunks).map(c => col(s"c$c").as(s"b$c")): _*)
    val verified = candidatePairs(banded).join(fa, "id_a").join(fb, "id_b")
      .select(col("id_a"), col("id_b"),
        (0 until chunks).map(c => bit_count(col(s"a$c").bitwiseXOR(col(s"b$c"))))
          .reduce(_ + _).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
    ScopedCache.releaseAfterAction(verified, Seq(fp))
  }

  /** Blocked word-set Jaccard pairs: candidates share a metadata block
    * (lang × length-bucket) — the classic cheap blocking key; exact
    * Jaccard computed only within blocks. jac_fs = floor(1e4·J).
    * Rows come back unordered.
    */
  def ngramJaccardPairs(docs: DataFrame, thresholdFs: Long = 9000L,
                        canonical: Boolean = false,
                        routed: Boolean = false, minLossFs: Long = 0L): DataFrame = {
    // canonical blocking must measure the CANONICAL text: the raw
    // n_chars of two punctuation-heavy variants of the same canonical
    // document can straddle a length-bucket boundary, and the pair —
    // the exact pair canonical keying exists to catch — would
    // silently never be compared (r18, ADVICE)
    val lenCol = if (canonical || routed) length(col("text")) else col("n_chars")
    val d = Par.spread(canonDocs(docs, canonical, routed, minLossFs))
      .select(col("doc_id"), col("lang"),
      floor(lenCol / lit(100.0)).as("lb"),
      sort_array(array_distinct(tokens(col("text")))).as("toks")) // sorted per doc (r21): graft_jaccard_fs merge path
    val a = d.as("a")
    val b = d.as("b")
    a.join(b, col("a.lang") === col("b.lang") && col("a.lb") === col("b.lb") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        jaccardFs(col("a.toks"), col("b.toks")).as("jac_fs"))
      .filter(col("jac_fs") >= thresholdFs)
  }

  /** Scale-safe word n-gram Jaccard pairs: the LSH replacement for
    * the blocked [[ngramJaccardPairs]]. Candidates come from MinHash band
    * buckets over the n-gram shingle sets (equi-join on (band,
    * bucket), cost ∝ Σ bucket², independent of corpus size); the
    * exact n-gram-set Jaccard verify runs only on candidates.
    *
    * vs blocking: no length-bucket boundary misses (a 299- vs
    * 301-char near-dup pair lands in the same band bucket whenever
    * its shingle sets agree) and no fixed-cardinality block keys
    * going quadratic — at sf0.01 the lang×length blocking misses 91%
    * of true unigram J≥0.9 pairs (790 of 9020) while LSH banding
    * recalls J≥0.9 pairs w.p. ≥ 1−(1−0.9^4)^8 ≈ 0.9998.
    *
    * Geometry: 8 bands × 4 rows (32 perms) puts the s-curve midpoint
    * at (1/8)^(1/4) ≈ 0.59 — comfortably below the 0.9 verify
    * threshold (high recall) while the n-gram background similarity
    * (bigram J < 0.5 for every non-dup pair in the corpus) keeps
    * candidate volume near the true-dup count.
    *
    * Docs with fewer than n tokens have no shingles and are dropped:
    * an empty shingle set has Jaccard 0 to everything, and binning
    * empty signatures would otherwise funnel every short doc into one
    * degenerate mega-bucket.
    *
    * This is the SCALE-SAFE pair source for corpus-level dedup
    * application ([[applyPairs]], [[ccLabels]]); the blocked
    * [[ngramJaccardPairs]] is the bounded oracle baseline. Rows come
    * back unordered. `routed` (r18) shingles through
    * [[TextAnalysis.maybeKeyed]]'s script router: non-Latin docs gram
    * raw (their shingles KEEP the content canonical keying would
    * strip — two mixed docs sharing a Latin half but differing in Han
    * content no longer reach J = 1), pure-Latin docs gram canonically.
    * Empty-canonical docs yield no grams either way (the `size > 0`
    * filter), so no empty-drop special case is needed here.
    */
  def ngramLshPairs(docs0: DataFrame, n: Int = 2, perms: Int = 32, bands: Int = 8,
                    thresholdFs: Long = 9000L, canonical: Boolean = false,
                    routed: Boolean = false, minLossFs: Long = 0L): DataFrame = {
    val docs = Par.spread(TextAnalysis.maybeKeyed(docs0, canonical, routed, minLossFs))
    val rowsPerBand = perms / bands
    val grams = sort_array(graft.functions.TextFunctions.distinctWordNgrams(tokens(col("text")), n)) // sorted per doc (r21): graft_jaccard_fs merge path
    // persist: feeds both legs of the band self-join and both sides
    // of the verify join (same reason as minhashLsh)
    val shingled = docs.select(col("doc_id"), grams.as("grams"))
      .filter(size(col("grams")) > 0)
      .select(col("doc_id"), col("grams"), minhashSignature(col("grams"), perms).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // eager pin (r21): see chunkBandedPairs — stops the concurrent
    // downstream legs from re-running the gram+signature subtree
    shingled.count()
    val banded = shingled
      .select(col("doc_id"), size(col("grams")).as("sz"),
        explode(bandKeys(col("sig"), bands, rowsPerBand)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bucket").as("bucket"),
        col("sz"))
    val ga = shingled.select(col("doc_id").as("id_a"), col("grams").as("grams_a"))
    val gb = shingled.select(col("doc_id").as("id_b"), col("grams").as("grams_b"))
    val pairs = candidatePairs(banded, szBoundFs = thresholdFs).join(ga, "id_a").join(gb, "id_b")
      .select(col("id_a"), col("id_b"),
        jaccardFs(col("grams_a"), col("grams_b")).as("jac_fs"))
      .filter(col("jac_fs") >= thresholdFs)
    ScopedCache.releaseAfterAction(pairs, Seq(shingled))
  }

  /** Scale-safe embedding-cosine near-dup pairs: the SRP-LSH
    * replacement for the blocked [[embedCosine]]. Candidates come
    * from sign-random-projection buckets ([[Similarity.srpBucketSeeded]])
    * across `tables` independent hash tables (equi-join on (table,
    * bucket) — never a cross join, never a fixed-cardinality block
    * key); the exact cosine verify runs only on candidates.
    *
    * Recall model (spec-pinned via
    * [[Similarity.srpMultiProbeCollisionProb]], which reduces to
    * [[Similarity.srpCollisionProb]] at probes = 1): a pair at angle θ
    * collides in ≥1 table w.p. 1 − (1 − P_t)^tables where
    * P_t = p^planes + (probes−1)(1−p)p^(planes−1), p = 1 − θ/π.
    *
    * `probes` > 1 turns on MULTI-PROBE: ONE join leg also probes the
    * buckets at hamming distance 1 from its own — flip one of the
    * first (probes−1) planes' sign bits — while the other leg stays
    * the plain one-row-per-(vector, table) index. Near misses that
    * land one plane across a boundary are recovered without another
    * table, so the same recall needs FEWER tables — and the persisted
    * banded index (at 100 TB, `tables`× the corpus's (id, bucket)
    * rows — the dominant state of this operator) shrinks by the saved
    * tables. The probed leg fans out tables×probes slim rows per
    * vector, so total join input rises ~(1+probes)/2× vs the saved
    * index legs — the trade buys index size and distinct shuffle
    * keys. CAVEAT for this SELF-dedup path: because every vector sits
    * on BOTH legs, admission is effectively two-sided — a pair
    * surfaces if EITHER member probes into the other's bucket — so
    * while the recall bound from the one-sided model
    * ([[Similarity.srpMultiProbeCollisionProb]]) stays conservative,
    * BACKGROUND candidate volume runs up to ~2×(probes−1)/probes
    * above the one-sided estimate. Size the verify join (and any
    * geometry tuned against the model's admission side) for roughly
    * DOUBLE the modeled background; the cross-corpus path
    * ([[crossCandidatePairs]] callers), whose reference leg is
    * probe-free, matches the one-sided model exactly.
    *
    * The default geometry is COUPLED to the default threshold, same
    * design rule as [[minhashLsh]]: (7 planes × 8 tables × 4 probes)
    * puts the s-curve midpoint at cos ≈ 0.30 ≈ the τ = 0.3 verify
    * threshold — recall ≈ 49% at the midpoint rising to 72% at 0.5,
    * 91% at 0.7, ~100% at 0.9, background (cos ≈ 0) collisions at
    * ~22% — matching the retired single-probe coupling (6 × 15:
    * 50/75/94/100, background 21%) point-for-point with the banded
    * index nearly HALVED (8 rows/vector vs 15; parity spec-pinned on
    * a planted fixture in DedupSpec). NOTE the inherent LSH
    * trade-off: pruning power comes from the gap between threshold
    * and background similarity — at a production near-dup threshold
    * (τ ≥ 0.8, the realistic setting for embedding dedup) use
    * (8 planes × 12 tables, probes 1): ≈0.88 recall with background
    * candidate rate 12·0.5⁸ ≈ 4.7%; thresholds near the background's
    * own quantiles prune weakly no matter the geometry (ρ → 1 as
    * p1 → p2), and the EXACT low-τ path is [[embedCosine]].
    *
    * Sizing for YOUR corpus: geometry left at the 0-sentinels is
    * DERIVED per corpus — n = count(embeddings) fed through
    * [[Similarity.suggestSrpGeometry]] at the caller's verify
    * threshold, the rule the 100k and 1M rehearsals paid for twice
    * (planes must grow ~log2(n) or background candidates swamp the
    * verify join: an sf0.1-tuned 8-plane geometry at n = 10⁵ admits
    * 2⁻⁸ of 5·10⁹ background pairs — disk full, PERF.md rounds 8–9).
    * The derivation REFUSES (IllegalArgumentException) when the
    * threshold sits too close to the background for any geometry
    * within the table budget to prune — a loud stop instead of the
    * silent disk-fill; the exact path for those thresholds is
    * [[embedCosine]]. The benchmark gate pins the fixed coupled
    * (7 × 8 × 4) explicitly ([[graft.SparkEntry]]) so its measured
    * operating point stays comparable round over round. Pass either
    * ALL THREE of planes/tables/probes or none — a half-specified
    * geometry is rejected (deriving around a hand-picked member
    * would silently decouple the s-curve from the threshold).
    */
  def cosineLsh(embeddings: DataFrame, dim: Int = 64, planes: Int = 0, tables: Int = 0,
                thresholdFs: Long = 3000L, probes: Int = 0): DataFrame = {
    import graft.operators.{Similarity => Sim}
    val explicitGeometry = Seq(planes, tables, probes).count(_ > 0)
    require(explicitGeometry == 0 || explicitGeometry == 3,
      s"pass all of planes/tables/probes or none (got planes=$planes tables=$tables probes=$probes)")
    // persist: feeds the bucket explode and both verify-join sides
    val e = Par.spread(embeddings).select(col("vec_id"), toDoubleArray(col("embedding")).as("v"))
      .withColumn("nrm", l2norm(col("v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the count doubles as the eager cache pin (r21): the explicit-
    // geometry path previously left `e` unmaterialized, so AQE's
    // concurrent bucket/verify legs each re-ran the scan+norm subtree
    // — see chunkBandedPairs
    val nVecs = math.max(2L, e.count())
    val (pl, tb, pr) =
      if (explicitGeometry == 3) (planes, tables, probes)
      else Sim.suggestSrpGeometry(nVecs, thresholdFs / 10000.0)
    require(pr >= 1 && pr <= pl + 1, s"probes must be in [1, planes+1], got $pr")
    // slim (id, table, bucket) rows — vectors never ride the explode
    val bucketStructs = array((0 until tb).map { t =>
      struct(lit(t).as("band"), Sim.srpBucketSeeded(col("v"), dim, pl, s"t$t#").as("bucket"))
    }: _*)
    val banded = e.select(col("vec_id").as("doc_id"), explode(bucketStructs).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bucket").as("bucket"))
    val candidates =
      if (pr == 1) candidatePairs(banded)
      else {
        // probed leg: the exact bucket plus (probes−1) query-directed
        // one-bit flips (smallest-|margin| planes first —
        // [[Similarity.srpProbeStructs]]). Candidates come from the
        // probed×exact equi-join through the salted cross generator
        // (the exact side is the "reference" — its mega-buckets get
        // the triangle-salt split); an unordered pair surfaces
        // whenever EITHER member probes into the other's bucket,
        // canonicalized to (lo, hi) before the verify.
        val qProbeStructs = Sim.srpProbeStructs(col("v"), dim, pl, tb, pr, "band")
        val bandedProbed = e.select(col("vec_id").as("doc_id"), explode(qProbeStructs).as("bk"))
          .select(col("doc_id"), col("bk.band").as("band"), col("bk.bucket").as("bucket"))
        crossCandidatePairs(bandedProbed, banded)
          .filter(col("id_in") =!= col("id_ref"))
          .select(least(col("id_in"), col("id_ref")).as("id_a"),
            greatest(col("id_in"), col("id_ref")).as("id_b"))
          .distinct()
      }
    val ea = e.select(col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val eb = e.select(col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    val verified = candidates.join(ea, "id_a").join(eb, "id_b")
      .select(col("id_a"), col("id_b"),
        floor(lit(10000.0) * cosineWithNorms(col("va"), col("vb"), col("na"), col("nb"))).as("cos_fs"))
      .filter(col("cos_fs") >= thresholdFs)
    ScopedCache.releaseAfterAction(verified, Seq(e))
  }

  /** SemDeDup-style SEMANTIC dedup (the public algorithm of Abbas et
    * al., "SemDeDup: data-efficient learning at web-scale through
    * semantic deduplication", 2023): cluster the embedding corpus
    * with TRAINED k-means centroids, then prune near-duplicates
    * WITHIN each cluster — the scale answer to all-pairs embedding
    * dedup. All-pairs exact cosine is Θ(n²); clustering first bounds
    * the pairwise stage to Σ width² (with the FAISS-rule k ≈ 4√n,
    * expected width √n/4 ⇒ ~n^1.5/64 pairs), and the coarse index is
    * the SAME artifact IVF search already builds. The price is
    * boundary misses: a true pair split across two clusters is never
    * compared — the documented SemDeDup approximation, spec-pinned on
    * a planted fixture (the LSH paths [[cosineLsh]] are the
    * recall-modeled alternative; this one trades modeled recall for
    * cluster-locality and a reusable index).
    *
    * Mechanics: [[KMeans.trainCentroids]] (`trainIters` Lloyd rounds
    * from the deterministic init, literal/broadcast dispatch past
    * `literalMax`; rounds run over a bounded DISTRIBUTED md5 sample
    * of ~100·k vectors when the corpus exceeds it, r12 — the derived
    * k is corpus-scale so the sample stays a frame, and the rounds'
    * cost drops from n·k to 100·k² distances; a corpus at or under
    * the budget trains on everything, which with k ≈ 4√n means
    * sampling only engages past ~160k vectors — far above the oracle
    * gate and the 100k rehearsal, both bit-unchanged) → final assign
    * → within-cluster candidate pairs
    * through [[candidatePairs]] with the CLUSTER as the bucket key —
    * a mega-cluster triangle-salts exactly like an LSH mega-bucket —
    * → exact fixed-point cosine verify on candidates only → greedy
    * keep-lowest-id (the [[applyPairs]] rule). One row per input
    * vector: (vec_id, cluster, kept 1/0, drop_for = lowest verified
    * same-cluster partner, −1 if kept).
    *
    * `k` left at the 0-sentinel DERIVES per corpus — the FAISS
    * nlist rule ([[Similarity.suggestIvfGeometry]], k ≈ 4√n), which
    * balances the quantizer against Σ width² pairwise cost exactly as
    * it balances IVF list scans; the benchmark gate pins k = 10
    * explicitly (the unrolled-SQL oracle's init size), same
    * derive-by-default / gate-pins-explicitly rule as [[cosineLsh]].
    */
  def semanticDedup(embeddings: DataFrame, k: Int = 0, trainIters: Int = 3,
                    thresholdFs: Long = 3000L,
                    literalMax: Int = KMeans.LiteralCentroidMax): DataFrame = {
    val pts = Par.spread(embeddings)
      .select(col("vec_id").cast("long").as("id"), toDoubleArray(col("embedding")).as("v"))
    val n = math.max(1L, pts.count())
    val kk = if (k > 0) k else Similarity.suggestIvfGeometry(n)._1
    val cents = KMeans.trainCentroids(pts, kk, trainIters, literalMax,
      sampleBudget = math.max(1024L, 100L * kk), n = n)
    // persist: feeds the pair generator and both verify-join sides
    val assigned = (
      if (cents.length <= literalMax) {
        val (cl, _) = KMeans.assignExpr(col("v"), cents)
        pts.select(col("id"), col("v"), cl.as("cluster"))
      } else
        KMeans.assignBroadcast(pts, "id", "v", cents)
          .select(col("id"), col("v"), col("cluster")))
      .withColumn("nrm", l2norm(col("v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // eager pin (r21): see chunkBandedPairs — the pair generator and
    // both verify sides race the cache under AQE otherwise
    assigned.count()
    val pairs = candidatePairs(assigned.select(col("id").as("doc_id"),
      lit(0).as("band"), col("cluster").as("bucket")))
    val ea = assigned.select(col("id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val eb = assigned.select(col("id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    val dropped = pairs.join(ea, "id_a").join(eb, "id_b")
      .filter(floor(lit(10000.0) *
        cosineWithNorms(col("va"), col("vb"), col("na"), col("nb"))) >= thresholdFs)
      .groupBy(col("id_b")).agg(min(col("id_a")).as("drop_for"))
      .select(col("id_b").as("id"), col("drop_for"))
    val out = assigned.select(col("id"), col("cluster"))
      .join(dropped, Seq("id"), "left")
      .select(col("id").as("vec_id"), col("cluster"),
        when(col("drop_for").isNull, 1L).otherwise(0L).as("kept"),
        coalesce(col("drop_for"), lit(-1L)).as("drop_for"))
      .orderBy(col("vec_id"))
    ScopedCache.releaseAfterAction(out, Seq(assigned))
  }

  /** The INTEGER-LATTICE gate form of [[semanticDedup]] (r19) — the
    * same SemDeDup shape (deterministic k-lowest-id init, `trainIters`
    * Lloyd rounds, final assign, within-cluster pairs, fixed-point
    * cosine verify, greedy keep-lowest-id), with every
    * order-sensitive float replaced by exact integer arithmetic so
    * the DuckDB twin reproduces the cluster geometry at ANY corpus
    * scale:
    *
    *  - components quantize ONCE: q = round(v·10⁶) + 2²⁰ (the offset
    *    makes every value non-negative, so truncating and floor
    *    division coincide on both engines — DuckDB `//` truncates);
    *  - distances are BIGINT sums of squared integer differences
    *    (≤ ~7·10¹³ at 64 dims — order-independent, no float-sum
    *    reordering can flip an argmin, which is exactly what broke
    *    the float twin at sf0.1: the r13-documented "float tie-order
    *    shifts across 10× data");
    *  - centroid updates are integer floor-division means, computed
    *    on the DRIVER over the collected (cluster, dim) sums — k·dim
    *    rows, the bounded literal-centroid pattern [[KMeans]] uses;
    *  - the verify cosine runs on the UNSHIFTED integer grid:
    *    dp/norms from BIGINT sums (≤ ~1.8·10¹⁶), one double division
    *    + sqrt at the end — identical integer inputs make the IEEE
    *    ops deterministic cross-engine (the lmScore discipline).
    *
    * The production operator stays [[semanticDedup]] (float Lloyd via
    * [[KMeans.trainCentroids]] with sampled training — the cluster
    * path); this form prices the GATE: quantization at 10⁻⁶ on
    * unit-scale embeddings moves no semantic boundary, and the oracle
    * becomes scale-independent instead of "replicates geometry only
    * at gate scale" (the r13–r18 documented sf0.1 divergence, now
    * gone).
    */
  def semanticDedupGate(embeddings: DataFrame, k: Int = 10, trainIters: Int = 3,
                        thresholdFs: Long = 3000L): DataFrame = {
    val offset = 1048576L
    val pts = Par.spread(embeddings)
      .select(col("vec_id").cast("long").as("id"),
        transform(toDoubleArray(col("embedding")),
          x => round(x * lit(1000000.0)).cast("long") + lit(offset)).as("q"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // init: cid 0..k-1 over the k lowest ids (the oracle's `ids` CTE)
    val initRows = pts.orderBy(col("id")).limit(k).collect()
    var cents: Seq[(Long, Array[Long])] = initRows.sortBy(_.getAs[Long]("id"))
      .zipWithIndex.map { case (r, i) =>
        i.toLong -> r.getAs[scala.collection.Seq[Long]]("q").toArray }.toSeq
    // the argmin over the current centroid set: distances in cid
    // order, first-min position = lowest cid (the oracle's
    // ORDER BY d, cid tie rule) — native kernel (r21), twin pinned
    // in ExpressionsSpec
    def clusterCol(cs: Seq[(Long, Array[Long])]): Column = latticeClusterCol(col("q"), cs)
    (1 to trainIters).foreach { _ =>
      val sums = pts.select(clusterCol(cents).as("cluster"),
          posexplode(col("q")).as(Seq("i", "v")))
        .groupBy(col("cluster"), col("i"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .collect()
      // non-negative integers: Java / == floor == DuckDB // — the
      // update is exact on both engines; empty clusters simply drop
      // out of the map (the oracle's update CTE has no row either)
      cents = sums.groupBy(_.getAs[Long]("cluster")).toSeq.map { case (cid, rows) =>
        val byDim = rows.sortBy(_.getAs[Int]("i"))
        cid -> byDim.map(r => r.getAs[Long]("s") / r.getAs[Long]("n")).toArray
      }.sortBy(_._1)
    }
    val assigned = pts
      .select(col("id"), col("q"), clusterCol(cents).as("cluster"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // eager pin (r21): see chunkBandedPairs
    assigned.count()
    val pairs = candidatePairs(assigned.select(col("id").as("doc_id"),
      lit(0).as("band"), col("cluster").as("bucket")))
    // fixed-point cosine on the unshifted grid: integer dp/norm sums;
    // the norm-square is computed ONCE PER VECTOR (an exact BIGINT —
    // joining it in costs nothing and saves two 64-element folds per
    // candidate pair). Native Long-dot kernel (r21), twin pinned in
    // ExpressionsSpec.
    def fs(c: Column): Column = transform(c, x => x - lit(offset))
    def idot(a: Column, b: Column): Column = latticeDot(a, b)
    val withFs = assigned.select(col("id"), fs(col("q")).as("v"))
      .select(col("id"), col("v"), idot(col("v"), col("v")).as("n2"))
    val ea = withFs.select(col("id").as("id_a"), col("v").as("va"), col("n2").as("na2"))
    val eb = withFs.select(col("id").as("id_b"), col("v").as("vb"), col("n2").as("nb2"))
    val dropped = pairs.join(ea, "id_a").join(eb, "id_b")
      .filter(floor(lit(10000.0) * idot(col("va"), col("vb")).cast("double") /
        (sqrt(col("na2").cast("double")) * sqrt(col("nb2").cast("double")))) >= thresholdFs)
      .groupBy(col("id_b")).agg(min(col("id_a")).as("drop_for"))
      .select(col("id_b").as("id"), col("drop_for"))
    val out = assigned.select(col("id"), col("cluster"))
      .join(dropped, Seq("id"), "left")
      .select(col("id").as("vec_id"), col("cluster"),
        when(col("drop_for").isNull, 1L).otherwise(0L).as("kept"),
        coalesce(col("drop_for"), lit(-1L)).as("drop_for"))
      .orderBy(col("vec_id"))
    ScopedCache.releaseAfterAction(out, Seq(pts, assigned))
  }

  /** The lattice gate's cluster argmin as ONE plan node — distances
    * in ascending-cid order, first strict minimum wins (the
    * array_position-of-array_min rule, spec-pinned against the HOF
    * twin).
    */
  private[graft] def latticeClusterCol(q: Column, cs: Seq[(Long, Array[Long])]): Column =
    ColumnBridge.column(
      LatticeArgmin(ColumnBridge.expression(q), cs.map(_._1).toArray, cs.map(_._2).toArray))

  /** Exact integer dot over array<long>, one native loop. */
  private[graft] def latticeDot(a: Column, b: Column): Column =
    ColumnBridge.column(ArrayLDot(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Cross-corpus candidate pairs from two banded frames: the
    * incoming×reference equi-join on (band, bucket) — the two-corpus
    * analogue of [[candidatePairs]] (no id ordering filter: the
    * frames are disjoint corpora, every collision is a candidate).
    *
    * Skew guard mirrors the self-join salting, one-sided: a
    * mega-bucket on the REFERENCE side is split into s = ⌈n/maxBucket⌉
    * salt groups and the incoming row replicates across them, so the
    * widest join key carries ≤ |incoming ∩ bucket|·maxBucket pairs
    * across s tasks instead of the full product in one. Incoming rows
    * only replicate into buckets the reference actually has (inner
    * join against the bucket widths) — a bucket with no reference
    * docs can produce no candidates.
    */
  /** `szBoundFs` > 0: same provable Jaccard size-ratio pre-filter as
    * [[candidatePairs]] (both banded inputs must carry `sz`) — rejects
    * cross-corpus candidates before the distinct and the gram attach.
    */
  private[graft] def crossCandidatePairs(bandedIn: DataFrame, bandedRef: DataFrame,
                                         maxBucket: Int = 1024,
                                         szBoundFs: Long = 0L): DataFrame = {
    // same named contract as candidatePairs (ADVICE), both inputs
    require(szBoundFs == 0L ||
        (bandedIn.columns.contains("sz") && bandedRef.columns.contains("sz")),
      s"szBoundFs = $szBoundFs needs a `sz` column on BOTH banded frames; " +
        s"incoming carries ${bandedIn.columns.mkString("(", ", ", ")")}, " +
        s"reference carries ${bandedRef.columns.mkString("(", ", ", ")")}")
    val refSz = if (szBoundFs > 0) Seq(col("sz").as("sz_ref")) else Seq.empty
    val inSz = if (szBoundFs > 0) Seq(col("sz").as("sz_in")) else Seq.empty
    val ref = bandedRef.select(
      (Seq(col("doc_id").as("id_ref"), col("band"), col("bucket")) ++ refSz): _*)
    // the bucket-width aggregate appears in BOTH joins below and is
    // re-evaluated per leg; deliberate — it is a slim partial agg
    // (one row per occupied (band, bucket)) over the caller's
    // persisted shingle frame, and persisting it here would leak a
    // cache entry no caller can reach to unpersist
    val widths = ref.groupBy(col("band"), col("bucket"))
      .agg(ceil(count(lit(1)) / lit(maxBucket.toDouble)).cast("int").as("s"))
    val salted = ref.join(widths, Seq("band", "bucket"))
      .select((Seq(col("id_ref"), col("band"), col("bucket"),
        pmod(xxhash64(col("id_ref")), col("s")).cast("int").as("pg")) ++ refSz.map(_ => col("sz_ref"))): _*)
    val in = bandedIn.select(
        (Seq(col("doc_id").as("id_in"), col("band"), col("bucket")) ++ inSz): _*)
      .join(widths, Seq("band", "bucket"))
      .withColumn("pg", explode(sequence(lit(0), col("s") - 1)))
      .select((Seq(col("id_in"), col("band"), col("bucket"), col("pg")) ++
        inSz.map(_ => col("sz_in"))): _*)
    // pinned parallelism for the output-exploding pair join — same
    // AQE-coalescing hazard and same fix as [[candidatePairs]] (r21)
    val keys = Seq(col("band"), col("bucket"), col("pg"))
    val n = bandedIn.sparkSession.sparkContext.defaultParallelism
    val joined = in.repartition(n, keys: _*)
      .join(salted.repartition(n, keys: _*), Seq("band", "bucket", "pg"))
    val bounded =
      if (szBoundFs > 0)
        joined.filter(lit(10000L) * least(col("sz_in"), col("sz_ref")) >=
          lit(szBoundFs) * greatest(col("sz_in"), col("sz_ref")))
      else joined
    bounded.select(col("id_in"), col("id_ref"))
      .distinct()
  }

  /** Cross-corpus near-dup pairs: docs in `incoming` whose word-n-gram
    * sets near-duplicate docs in `reference` — the incremental-crawl
    * dedup every growing training corpus runs ("is this new document
    * already in (or nearly in) what we have?"), and the near-dup
    * escalation of [[graft.operators.TextAnalysis.contaminationAcct]].
    *
    * Same MinHash banding + exact-verify design as [[ngramLshPairs]],
    * with the candidate join between the two corpora instead of a
    * self-join: cost ∝ cross-bucket collision volume, never
    * |incoming|×|reference|. Drop flagged docs with
    * `incoming.join(pairs.select("id_in":*), "left_anti")` — one
    * anti-join, no reference text ever moves.
    */
  def ngramLshAgainst(incoming0: DataFrame, reference0: DataFrame, n: Int = 2,
                      perms: Int = 32, bands: Int = 8,
                      thresholdFs: Long = 9000L, canonical: Boolean = false,
                      routed: Boolean = false, minLossFs: Long = 0L): DataFrame = {
    val incoming = TextAnalysis.maybeKeyed(incoming0, canonical, routed, minLossFs)
    val reference = TextAnalysis.maybeKeyed(reference0, canonical, routed, minLossFs)
    val rowsPerBand = perms / bands
    def shingled(df: DataFrame): DataFrame = {
      val grams = sort_array(graft.functions.TextFunctions.distinctWordNgrams(tokens(col("text")), n)) // sorted per doc (r21): graft_jaccard_fs merge path
      // persist: each side feeds its banding leg and its verify side
      Par.spread(df).select(col("doc_id"), grams.as("grams"))
        .filter(size(col("grams")) > 0)
        .select(col("doc_id"), col("grams"), minhashSignature(col("grams"), perms).as("sig"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    def banded(df: DataFrame): DataFrame = df
      .select(col("doc_id"), size(col("grams")).as("sz"),
        explode(bandKeys(col("sig"), bands, rowsPerBand)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bucket").as("bucket"),
        col("sz"))
    val si = shingled(incoming)
    val sr = shingled(reference)
    // eager pins (r21): see chunkBandedPairs — each side feeds its
    // banding leg, the widths aggregate, and its verify side
    // concurrently under AQE
    si.count(); sr.count()
    val gi = si.select(col("doc_id").as("id_in"), col("grams").as("grams_in"))
    val gr = sr.select(col("doc_id").as("id_ref"), col("grams").as("grams_ref"))
    val verified = crossCandidatePairs(banded(si), banded(sr), szBoundFs = thresholdFs)
      .join(gi, "id_in").join(gr, "id_ref")
      .select(col("id_in"), col("id_ref"),
        jaccardFs(col("grams_in"), col("grams_ref")).as("jac_fs"))
      .filter(col("jac_fs") >= thresholdFs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // eager: materialize the verified pair set (slim rows, volume ∝
    // true dups) so BOTH corpus-scale shingle caches can be dropped
    // here instead of leaking into the caller's session; the small
    // persisted pair frame is itself scoped to the caller's first action
    verified.count()
    si.unpersist(false)
    sr.unpersist(false)
    ScopedCache.releaseAfterAction(verified, Seq(verified))
  }

  /** Persist a reference corpus's n-gram LSH index for INCREMENTAL
    * crawl dedup — the 100-TB complement of [[ngramLshAgainst]],
    * which re-shingles and re-signs the ENTIRE reference corpus on
    * every call. A growing corpus is crawled against daily; its index
    * should be built once per compaction, not once per batch.
    *
    * Three metastore tables:
    *  - `<name>_bands` (doc_id, band, bucket, pg), bucketed+sorted by
    *    (band, bucket, pg): pg = hash(doc_id) mod `salt` is a
    *    WRITE-TIME salt group, so the candidate equi-join in
    *    [[ngramLshAgainstIndex]] keys on EXACTLY the bucketing
    *    columns and the stored side plans with ZERO shuffle
    *    (spec-pinned; Spark's co-partition check requires ALL join
    *    keys in the layout — a two-key bucketing under a three-key
    *    join re-shuffles the whole index per batch, the r8 design's
    *    measured defect). The fixed fanout also bounds skew: the
    *    widest stored (band, bucket) key splits across `salt` join
    *    tasks, each carrying ≤ width/salt of its rows;
    *  - `<name>_grams` (doc_id, grams), bucketed by doc_id: the
    *    verify join's reference side and the append-idempotence
    *    anti-join probe, likewise shuffle-free;
    *  - `<name>_meta` (n, perms, bands, buckets, salt): the banding
    *    geometry AND the physical layout, read back by the query and
    *    append sides so an incoming batch can never be signed with
    *    mismatched hashes nor appended with a mismatched layout.
    *
    * Choosing `salt`: the per-task pair expansion of a query batch is
    * ≤ (widest reference bucket / salt) × (batch rows in that
    * bucket); the price is the batch's band rows replicating ×salt
    * (slim triples — batch-sized, never index-sized). Unlike the
    * in-memory path's adaptive ⌈width/maxBucket⌉ salting, a stored
    * layout must fix its fanout at write time — layout IS the plan.
    */
  def writeNgramLshIndex(reference: DataFrame, name: String, n: Int = 2, perms: Int = 32,
                         bands: Int = 8, buckets: Int = 32, salt: Int = 8,
                         canonical: Boolean = false, routed: Boolean = false,
                         minLossFs: Long = 0L): Unit = {
    import graft.sources.Sinks
    val spark = reference.sparkSession
    val rowsPerBand = perms / bands
    val grams = sort_array(graft.functions.TextFunctions.distinctWordNgrams(tokens(col("text")), n)) // sorted per doc (r21): graft_jaccard_fs merge path
    // persist: feeds the band explode and the grams projection
    val shingled = Par.spread(TextAnalysis.maybeKeyed(reference, canonical, routed, minLossFs))
      .select(col("doc_id"), grams.as("grams"))
      .filter(size(col("grams")) > 0)
      .select(col("doc_id"), col("grams"), minhashSignature(col("grams"), perms).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = shingled
      .select(col("doc_id"), explode(bandKeys(col("sig"), bands, rowsPerBand)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bucket").as("bucket"),
        pmod(xxhash64(col("doc_id")), lit(salt.toLong)).cast("int").as("pg"))
    Sinks.writeBucketed(banded, s"${name}_bands", Seq("band", "bucket", "pg"), buckets,
      org.apache.spark.sql.SaveMode.Overwrite)
    Sinks.writeBucketed(shingled.select(col("doc_id"), col("grams")), s"${name}_grams",
      Seq("doc_id"), buckets, org.apache.spark.sql.SaveMode.Overwrite)
    shingled.unpersist(false)
    import spark.implicits._
    Seq((n, perms, bands, buckets, salt, canonical, routed, minLossFs))
      .toDF("n", "perms", "bands", "buckets", "salt", "canon", "routed", "min_loss_fs")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).format("parquet")
      .saveAsTable(s"${name}_meta")
  }

  /** Index geometry, read BY NAME (a positional read would silently
    * miswire the hashes if a future writer reordered/extended the
    * meta schema — mismatched geometry yields an empty or wrong
    * candidate set, not an error) and required to be exactly one row
    * (zero = no index; >1 = a corrupted/multiply-written metastore).
    */
  private def indexMeta(spark: org.apache.spark.sql.SparkSession, name: String)
  : (Int, Int, Int, Int, Int) = {
    val rows = spark.table(s"${name}_meta").collect()
    require(rows.length == 1,
      s"${name}_meta must hold exactly one geometry row, got ${rows.length}")
    val m = rows(0)
    (m.getAs[Int]("n"), m.getAs[Int]("perms"), m.getAs[Int]("bands"),
      m.getAs[Int]("buckets"), m.getAs[Int]("salt"))
  }

  /** The index's keying (canonical / routed / routed loss floor,
    * [[writeNgramLshIndex]]'s flags) — INDEX properties like the span
    * index's: append and against must shingle in the stored key
    * domain or nothing matches. Legacy metas decode to what they
    * stored (pre-canonical → raw, pre-routed → their canon flag,
    * pre-floor → floor 0, r20).
    */
  private def indexKeying(spark: org.apache.spark.sql.SparkSession,
                          name: String): (Boolean, Boolean, Long) = {
    val df = spark.table(s"${name}_meta")
    val row = df.collect()(0)
    (df.columns.contains("canon") && row.getAs[Boolean]("canon"),
      df.columns.contains("routed") && row.getAs[Boolean]("routed"),
      if (df.columns.contains("min_loss_fs")) row.getAs[Long]("min_loss_fs") else 0L)
  }

  /** Rewrite the index's bucketed tables in place, merging the
    * per-bucket file accumulation of incremental appends (each
    * [[appendToNgramLshIndex]] adds one file per occupied bucket;
    * after k appends a bucket scan opens k+1 files). The rewrite is
    * ZERO-shuffle ([[graft.sources.Sinks.compactBucketed]]): each
    * task reads one bucket's files and writes them back as ONE file;
    * the layout contract (hash partitioning visible to consumer
    * joins) is preserved, spec-pinned along with candidate-set
    * parity across compaction.
    *
    * The swap is the versioned-location pointer flip with keep-one
    * retention ([[graft.sources.Sinks.flipToGeneration]]). Run it
    * from the single writer that owns the index — the same ownership
    * the append path already assumes; a transactional table format
    * would make this a commit.
    */
  def compactNgramLshIndex(spark: org.apache.spark.sql.SparkSession, name: String): Unit = {
    import graft.sources.Sinks
    val (_, _, _, buckets, _) = indexMeta(spark, name)
    Sinks.compactBucketed(spark, s"${name}_bands", Seq("band", "bucket", "pg"), buckets)
    Sinks.compactBucketed(spark, s"${name}_grams", Seq("doc_id"), buckets)
  }

  /** RETRACT docs from a stored index ([[writeNgramLshIndex]]) — the
    * lifecycle step append and compaction don't cover: takedowns,
    * opt-outs, and license retractions must STOP seeding candidate
    * pairs, not merely stop being emitted downstream. Implemented as
    * the same zero-shuffle per-bucket rewrite as compaction with a
    * broadcast anti-join against the delete set folded in — each
    * task reads one bucket's files, drops the retracted doc_ids, and
    * writes the bucket back as one file, so a delete pass IS a
    * compaction pass (retries are idempotent: deleting an absent
    * doc_id is a no-op).
    *
    * Contract: `docIds` is a bounded retraction list (broadcast to
    * every rewrite task). Retraction sets in crawl pipelines are
    * orders of magnitude below corpus size; a retraction so large it
    * can't broadcast is a rebuild ([[writeNgramLshIndex]]), not a
    * delete. Cost is one index rewrite (∝ index size, zero shuffle)
    * regardless of |docIds| — batch retractions and run one pass.
    */
  def deleteFromNgramLshIndex(spark: org.apache.spark.sql.SparkSession, name: String,
                              docIds: DataFrame): Unit = {
    import graft.sources.Sinks
    val (_, _, _, buckets, _) = indexMeta(spark, name)
    val ids = broadcast(docIds.select(col("doc_id")).distinct())
    val drop = (df: DataFrame) => df.join(ids, Seq("doc_id"), "left_anti")
    Sinks.rewriteBucketed(spark, s"${name}_bands", Seq("band", "bucket", "pg"), buckets, drop)
    Sinks.rewriteBucketed(spark, s"${name}_grams", Seq("doc_id"), buckets, drop)
  }

  /** Fold accepted docs into a stored index ([[writeNgramLshIndex]])
    * WITHOUT rebuilding it — the step after an incremental crawl
    * passes its dedup gate: sign only the new docs, append their band
    * and gram rows to the bucketed tables (bucketed appends add files
    * per bucket; the layout contract — hash partitioning on the
    * bucketing key — is preserved, so consumer joins stay
    * shuffle-free). IDEMPOTENT: already-indexed doc_ids are
    * anti-joined away first, so retried or overlapping batches cannot
    * duplicate index rows. Geometry AND bucket count come from
    * `<name>_meta`, same guarantee as the query side: appended rows
    * can never be signed with mismatched hashes nor written with a
    * mismatched bucket layout. Cost ∝ |newDocs|, never index size;
    * the per-append file accumulation is reclaimed by
    * [[compactNgramLshIndex]].
    */
  def appendToNgramLshIndex(newDocs: DataFrame, name: String): Unit = {
    import graft.sources.Sinks
    val spark = newDocs.sparkSession
    val (n, perms, bands, buckets, salt) = indexMeta(spark, name)
    val rowsPerBand = perms / bands
    // idempotent append: skip doc_ids the index already holds, so a
    // retried/overlapping batch cannot silently duplicate band/gram
    // rows (duplicated rows inflate every later candidate set). The
    // anti-join probes the doc_id-BUCKETED grams table — stored side
    // shuffle-free by layout, cost ∝ |newDocs|, never index size.
    val (kc, kr, kf) = indexKeying(spark, name)
    val fresh = Par.spread(TextAnalysis.maybeKeyed(newDocs, kc, kr, kf))
      .join(spark.table(s"${name}_grams").select(col("doc_id")), Seq("doc_id"), "left_anti")
    val grams = sort_array(graft.functions.TextFunctions.distinctWordNgrams(tokens(col("text")), n)) // sorted per doc (r21): graft_jaccard_fs merge path
    val shingled = fresh.select(col("doc_id"), grams.as("grams"))
      .filter(size(col("grams")) > 0)
      .select(col("doc_id"), col("grams"), minhashSignature(col("grams"), perms).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = shingled
      .select(col("doc_id"), explode(bandKeys(col("sig"), bands, rowsPerBand)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bucket").as("bucket"),
        pmod(xxhash64(col("doc_id")), lit(salt.toLong)).cast("int").as("pg"))
    Sinks.writeBucketed(banded, s"${name}_bands", Seq("band", "bucket", "pg"), buckets,
      org.apache.spark.sql.SaveMode.Append)
    Sinks.writeBucketed(shingled.select(col("doc_id"), col("grams")), s"${name}_grams",
      Seq("doc_id"), buckets, org.apache.spark.sql.SaveMode.Append)
    shingled.unpersist(false)
  }

  /** ONE maintenance step of a stored n-gram LSH index — the
    * append-then-compact loop a crawl pipeline runs per accepted
    * batch: fold the batch in ([[appendToNgramLshIndex]], idempotent)
    * and compact when per-bucket file accumulation crosses the
    * threshold (each append adds up to one file per occupied bucket;
    * past `maxFilesPerBucket` the k-files-per-bucket-scan tax
    * outweighs one zero-shuffle rewrite). Returns true iff a
    * compaction ran. The file count reads from the catalog's file
    * index — no data scan. Wired as a CLI mode in
    * [[graft.PipelineJob]] (`maintain-lsh`).
    */
  def maintainNgramLshIndex(newDocs: DataFrame, name: String,
                            maxFilesPerBucket: Int = 4): Boolean = {
    val spark = newDocs.sparkSession
    appendToNgramLshIndex(newDocs, name)
    val (_, _, _, buckets, _) = indexMeta(spark, name)
    val files = spark.table(s"${name}_bands").inputFiles.length
    val fires = files > maxFilesPerBucket.toLong * buckets
    if (fires) compactNgramLshIndex(spark, name)
    fires
  }

  /** The stored-index candidate join, factored out so its plan is
    * directly assertable: the incoming banded triples replicate to
    * every salt group (×salt slim rows, batch-sized) and equi-join
    * the bands table on EXACTLY its bucketing key (band, bucket, pg)
    * — the stored side plans with zero exchanges (spec-pinned); the
    * one shuffle is the incoming leg. Pair volume is identical to an
    * unsalted (band, bucket) join: each stored row lives in exactly
    * one salt group, and every incoming row visits all of them.
    */
  private[graft] def indexCandidatePairs(bandedIn: DataFrame, name: String): DataFrame = {
    val spark = bandedIn.sparkSession
    val (_, _, _, _, salt) = indexMeta(spark, name)
    val in = bandedIn.select(col("doc_id").as("id_in"), col("band"), col("bucket"))
      .withColumn("pg", explode(sequence(lit(0), lit(salt - 1))))
    val ref = spark.table(s"${name}_bands")
      .select(col("doc_id").as("id_ref"), col("band"), col("bucket"), col("pg"))
    in.join(ref, Seq("band", "bucket", "pg"))
      .select(col("id_in"), col("id_ref"))
      .distinct()
  }

  /** [[ngramLshAgainst]] against a STORED index ([[writeNgramLshIndex]]):
    * only the incoming batch is shingled and signed; the reference
    * side comes off the bucketed tables with zero shuffle — the
    * candidate join keys on exactly the bands table's
    * (band, bucket, pg) bucketing ([[indexCandidatePairs]]), the
    * verify join on the grams table's doc_id bucketing. Banding
    * geometry is read from `<name>_meta`, so query and index hashes
    * always agree; output is pair-identical to running
    * [[ngramLshAgainst]] over the original reference frame
    * (spec-pinned parity).
    */
  def ngramLshAgainstIndex(incoming: DataFrame, name: String,
                           thresholdFs: Long = 9000L): DataFrame = {
    val spark = incoming.sparkSession
    val (n, perms, bands, _, _) = indexMeta(spark, name)
    val rowsPerBand = perms / bands
    val grams = sort_array(graft.functions.TextFunctions.distinctWordNgrams(tokens(col("text")), n)) // sorted per doc (r21): graft_jaccard_fs merge path
    val (kc, kr, kf) = indexKeying(spark, name)
    val si = Par.spread(TextAnalysis.maybeKeyed(incoming, kc, kr, kf))
      .select(col("doc_id"), grams.as("grams"))
      .filter(size(col("grams")) > 0)
      .select(col("doc_id"), col("grams"), minhashSignature(col("grams"), perms).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bi = si.select(col("doc_id"), explode(bandKeys(col("sig"), bands, rowsPerBand)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bucket").as("bucket"))
    val gi = si.select(col("doc_id").as("id_in"), col("grams").as("grams_in"))
    val gr = spark.table(s"${name}_grams")
      .select(col("doc_id").as("id_ref"), col("grams").as("grams_ref"))
    val verified = indexCandidatePairs(bi, name)
      .join(gi, "id_in").join(gr, "id_ref")
      .select(col("id_in"), col("id_ref"),
        jaccardFs(col("grams_in"), col("grams_ref")).as("jac_fs"))
      .filter(col("jac_fs") >= thresholdFs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // eager: drop the incoming-batch cache here (same shape as
    // ngramLshAgainst's corpus-cache hygiene)
    verified.count()
    si.unpersist(false)
    ScopedCache.releaseAfterAction(verified, Seq(verified))
  }

  /** Apply near-dup pairs to a corpus: greedy keep-lowest-id policy —
    * every doc that appears as the HIGHER id of any pair is dropped.
    * (Connected-component canonicalization would chain A-B-C through
    * an iterative join; greedy is the standard single-pass policy for
    * training-data dedup and needs exactly one anti-join.)
    *
    * At scale: `pairs` carries only ids (slim), the anti-join shuffles
    * on doc_id — no text moves except the survivors' single pass.
    */
  def applyPairs(docs: DataFrame, pairs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val drop = pairs.select(col("id_b").as(idCol)).distinct()
    docs.join(drop, Seq(idCol), "left_anti")
  }

  /** Partition count for a CC edge checkpoint, derived from the
    * measured edge count (available for free — every CC variant counts
    * its edges to pin the cache): ~2M (u, v) long-pair rows ≈ 32–100 MB
    * per map task, the guide §2's partition-sizing band. Never grows
    * the producing layout (coalesce-only), so a corpus-scale edge set
    * keeps its parallelism while a gate-scale one stops paying a
    * 64-empty-task scheduling floor per propagation round.
    */
  private def ccEdgeParts(edgeCount: Long): Int =
    math.max(1L, (edgeCount + 1999999L) / 2000000L)
      .min(Int.MaxValue.toLong).toInt

  /** Most pairs whose label rounds [[ccLabels]] runs on the driver.
    * Those rounds peak at about 32 B a pair (the endpoint longs twice:
    * as collected and sorted into the vertex ids; 48 B when nearly
    * every endpoint is a distinct doc), so an eighth of the heap holds
    * heap / 256 pairs: 8.4M on a 2 GB heap. An array index is an Int,
    * which caps the endpoint count below 2^31.
    */
  private val driverCcMaxPairs: Long =
    (Runtime.getRuntime.maxMemory / 256L).min(Int.MaxValue / 2L)

  /** Connected-component canonicalization of near-dup pairs: min-id
    * label propagation over the (undirected) pair graph, at most
    * `iters` rounds, stopping at the fixed point — the first round
    * that changes no label. Where greedy [[applyPairs]] only drops
    * direct higher-id pair members, this collapses CHAINS: A–B and
    * B–C put all three docs under representative min(A,B,C) even
    * though A–C was never emitted as a pair.
    *
    * Each round is lockstep: label(x) ← min(label(x), min over
    * neighbors' labels of the PREVIOUS round). A path graph converges
    * in its diameter; near-dup graphs are dense clusters with tiny
    * diameters, so typical convergence is 2–4 rounds + 1 round that
    * sees no change. Rounds past a fixed point change no label, so
    * stopping there yields exactly the labels of `iters` fixed rounds
    * — the oracle's lockstep count (default 4) still holds. A graph
    * still changing at `iters` rounds keeps valid labels (every
    * rep_id is a component member) but leaves chains deeper than
    * `iters` hops split, which is reported once on stderr;
    * [[starCcLabels]] is the O(log d) star-contraction path for deep
    * chains.
    *
    * The pair set is persisted and counted once, so the pair
    * generator upstream runs exactly once whichever path follows:
    *  - ON THE DRIVER when the count is at most [[driverCcMaxPairs]]
    *    (heap / 256, see there) and half the `spark.driver.maxResultSize`
    *    allowance, and the ids are integers: one job collects the
    *    cached pairs into primitive arrays (no Row per pair), the ids
    *    become dense vertex indices in id order, and each round is one
    *    sweep over the pair list in arrays. On a near-dup graph each Spark
    *    round is mostly fixed per-job cost (a broadcast, a groupBy
    *    shuffle and a count), which this trades for one collect: the
    *    corpus benchmark's 720k pairs take 8 jobs instead of 27, the
    *    labels write included.
    *  - DISTRIBUTED otherwise ([[distributedLabelRounds]]).
    * Both run the same lockstep rounds from the same start (every
    * vertex labelled by itself), drop a pair with a null end (the
    * distributed join never carries a label across one), and stop on
    * the same test, so their labels are identical, also on a graph
    * that does not converge within `iters`.
    *
    * Output: (doc_id, rep_id) for EVERY corpus doc, unordered —
    * unpaired docs represent themselves. Keep rows where
    * doc_id = rep_id for the canonical corpus.
    *
    * Scale shape (r6): the iteration runs over the pair graph's
    * VERTEX SET only — an unpaired doc's label can never change, so
    * it skips the rounds entirely and joins back (rep = self) in one
    * final doc-keyed left join. Per-round cost is ∝ |paired docs|,
    * not |corpus|: at a production dup rate (a few %) the iterated
    * frame is 50× smaller than the corpus.
    */
  def ccLabels(docs: DataFrame, pairs: DataFrame, iters: Int = 4,
               idCol: String = "doc_id"): DataFrame =
    ccLabelsWithin(docs, pairs, iters, idCol, driverCcMaxPairs)

  /** [[ccLabels]] with the driver path's pair bound as an argument; a
    * negative `driverMaxPairs` always runs the distributed rounds.
    */
  private[graft] def ccLabelsWithin(docs: DataFrame, pairs: DataFrame, iters: Int,
                                    idCol: String, driverMaxPairs: Long): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    // materialize the PAIR set once (r22): persist + ONE eager count
    // runs the pair-generation pipeline exactly once (and lets a
    // scoped-cache generator upstream release its own persists); both
    // paths read this operator's own cache, which they release. Without
    // it the distributed path's two-leg edge union ran the generator
    // once PER LEG (measured: twin 1.3 s stages for one 1.3 s verify)
    val p0 = pairs.select(col("id_a"), col("id_b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nPairs = p0.count()
    val resultBytes = p0.sparkSession.sparkContext.getConf
      .getSizeAsBytes("spark.driver.maxResultSize", "1g")
    val onDriver = nPairs <= driverMaxPairs &&
      (resultBytes <= 0 || nPairs <= resultBytes / 32) &&
      p0.schema.forall(f => Seq(LongType, IntegerType, ShortType, ByteType).contains(f.dataType))
    val (labels, changed) =
      if (onDriver) driverLabelRounds(p0, iters) else distributedLabelRounds(p0, nPairs, iters)
    if (changed > 0)
      System.err.println(s"[graft] ccLabels: not converged after $iters rounds " +
        s"($changed labels still changing) — chains deeper than $iters hops remain split")
    docs.select(col(idCol).cast("long").as("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("rep_id"))
  }

  /** [[ccLabels]]' rounds in driver arrays over the cached pairs `p0`,
    * which it releases. Returns (doc_id, lbl) for every vertex whose
    * label moved off itself (the final left join gives every other doc
    * its own id) and the count of labels the last round changed.
    */
  private def driverLabelRounds(p0: DataFrame, iters: Int): (DataFrame, Long) = {
    import java.util.Arrays
    import scala.collection.mutable.ArrayBuilder
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    // ONE job reads the cached pairs into a long array per partition,
    // endpoints interleaved. A pair with a null end is dropped, as the
    // distributed join drops it (Row.getLong would read the null as
    // doc 0 and merge components through it)
    val parts = p0.select(col("id_a").cast("long"), col("id_b").cast("long"))
      .queryExecution.toRdd.mapPartitions { rows =>
        val ends = new ArrayBuilder.ofLong
        rows.foreach { r =>
          if (!r.isNullAt(0) && !r.isNullAt(1)) { ends += r.getLong(0); ends += r.getLong(1) }
        }
        Iterator.single(ends.result())
      }.collect()
    p0.unpersist(false)
    val nEnds = parts.map(_.length).sum
    // dense vertex indices in id order, so the least index IS the least id
    val ids = {
      val sorted = new Array[Long](nEnds)
      var at = 0
      parts.foreach { p => System.arraycopy(p, 0, sorted, at, p.length); at += p.length }
      Arrays.sort(sorted)
      var n = 0
      var i = 0
      while (i < nEnds) {
        if (i == 0 || sorted(i) != sorted(i - 1)) { sorted(n) = sorted(i); n += 1 }
        i += 1
      }
      Arrays.copyOf(sorted, n)
    }
    val nV = ids.length
    // the pair list again, as vertex indices
    val ends = new Array[Int](nEnds)
    var at = 0
    for (p <- parts.indices) {
      parts(p).foreach { id => ends(at) = Arrays.binarySearch(ids, id); at += 1 }
      parts(p) = null
    }
    // each lockstep round sweeps the pair list once, reading only the
    // previous round's labels
    var lbl = Array.range(0, nV)
    var next = new Array[Int](nV)
    var changed = 1L
    var it = 0
    while (changed > 0 && it < iters) {
      System.arraycopy(lbl, 0, next, 0, nV)
      var e = 0
      while (e < nEnds) {
        val a = ends(e)
        val b = ends(e + 1)
        if (lbl(b) < next(a)) next(a) = lbl(b)
        if (lbl(a) < next(b)) next(b) = lbl(a)
        e += 2
      }
      changed = 0L
      var x = 0
      while (x < nV) {
        if (next(x) < lbl(x)) changed += 1
        x += 1
      }
      val t = lbl; lbl = next; next = t
      it += 1
    }
    // (doc_id, lbl) of the moved vertices, interleaved, handed to Spark
    // in primitive slices that executors turn into rows
    val moved = new ArrayBuilder.ofLong
    for (x <- 0 until nV if lbl(x) != x) { moved += ids(x); moved += ids(lbl(x)) }
    val slices = moved.result().grouped(1 << 21).toSeq
    val rows = p0.sparkSession.sparkContext.parallelize(slices, math.max(1, slices.size))
      .flatMap(s => Iterator.range(0, s.length, 2).map(i => Row(s(i), s(i + 1))))
    val schema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
      StructField("lbl", LongType, nullable = false)))
    (p0.sparkSession.createDataFrame(rows, schema), changed)
  }

  /** [[ccLabels]]' rounds as Spark jobs over the cached pairs `p0`
    * (`nPairs` rows), which it releases. Returns (doc_id, lbl) for
    * every pair-graph vertex and the count of labels the last round
    * changed.
    */
  private def distributedLabelRounds(p0: DataFrame, nPairs: Long, iters: Int): (DataFrame, Long) = {
    // the union's legs each embed the cached pair set; localCheckpoint
    // TRUNCATES the lineage — the label iteration references `labels`
    // twice per round, so the analyzed plan doubles every round, and
    // with a large generator plan as the base (the 32-permutation md5
    // pipeline is ~10× the blocked join's tree) rounds 3–4 spend
    // seconds in the ANALYZER alone (measured: 46 s → 12 s for the
    // full cc at sf0.1 from this truncation; data-path cost was never
    // the problem — the same plan-explosion lesson starCcLabels
    // documents at 16×/round)
    val edges0 = p0.select(col("id_a").as("u"), col("id_b").as("v"))
      .unionByName(p0.select(col("id_b").as("u"), col("id_a").as("v")))
    // size the checkpoint's partitioning from the MEASURED edge count
    // (r22, guide §2 — derive partitioning from data, not from the
    // producing plan): the union inherits 2× the generator's shuffle
    // partitions, and that layout rides the checkpoint into EVERY
    // round's map side — at gate scale, 64–96 near-empty tasks per
    // round whose scheduling floor dominates the round (measured:
    // round-1 map stages 0.5–1.8 s over 17k rows). coalesce never
    // raises the count, so a genuinely large edge set keeps its
    // parallelism.
    val edges = edges0.coalesce(ccEdgeParts(2L * nPairs)).localCheckpoint(true)
    p0.unpersist(false)
    // both edge directions are present, so `u` alone covers every vertex
    var labels = edges.select(col("u").as("doc_id")).distinct()
      .withColumn("lbl", col("doc_id"))
    var changed = 1L
    var it = 0
    while (changed > 0 && it < iters) {
      // label(x) ← min(label(x), min over neighbor labels) as ONE
      // aggregate over the neighbor-label stream UNIONED with the
      // self rows (r21): every vertex contributes its own label, so
      // the min over the union IS least(lbl, min-neighbor-lbl) — no
      // separate join back to `labels`. Only the self row carries the
      // previous label (non-null), so max(old) recovers it in the
      // SAME aggregate for the fixed-point check.
      //
      // `labels` appears twice in this plan, so an unbroken lineage
      // doubles the analyzed plan every round (50 rounds ran a 3 GB
      // driver out of heap rendering the plan). The LAZY local
      // checkpoint cuts the plan at each round's frontier, and its
      // blocks materialize inside the changed-label count below — one
      // action per round does both. That count runs on the RDD: a
      // Dataset count() adds a single-partition exchange, which AQE
      // runs as a job of its own (4 jobs a round instead of 3; hash-
      // partitioning the frontier on doc_id before the checkpoint
      // measured 4 as well)
      val next = edges
        .join(labels.select(col("doc_id").as("v"), col("lbl").as("nlbl")), "v")
        .select(col("u").as("doc_id"), col("nlbl"), lit(null).cast("long").as("old"))
        .unionByName(labels.select(col("doc_id"), col("lbl").as("nlbl"), col("lbl").as("old")))
        .groupBy(col("doc_id"))
        .agg(min(col("nlbl")).as("lbl"), max(col("old")).as("old_lbl"))
        .localCheckpoint(eager = false)
      changed = next.filter(col("lbl") < col("old_lbl")).queryExecution.toRdd.count()
      labels = next.select(col("doc_id"), col("lbl"))
      it += 1
    }
    (labels, changed)
  }

  /** Connected components by ALTERNATING STAR CONTRACTION — the known
    * accelerant over min-label propagation ([[ccLabels]] names it):
    * the public large-star/small-star algorithm (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14).
    * Min-label propagation moves the component minimum ONE HOP per
    * round, so a chain of diameter d needs d rounds; star contraction
    * halves path lengths every round and converges in O(log d) — at
    * 100 TB, where each round is a fixed number of shuffles over the
    * pair graph, round COUNT is the wall-clock lever.
    *
    * Per round over canonical (hi > lo) edges:
    *  - LARGE-STAR: for every node u, attach each strictly-larger
    *    neighbor v to m = min(Γ(u) ∪ {u}) — emit (v, m). One groupBy
    *    (partial-agg min) + one join, both keyed on u.
    *  - SMALL-STAR: orient edges big→small; for every node u, attach
    *    u and its (all smaller) neighbors to m = min(Γ(u) ∪ {u}).
    *    Same two shuffles keyed on the big endpoint.
    * Both operations preserve connectivity and only ever re-point a
    * node at a SMALLER id, so the fixed point is the star graph
    * rooted at each component's minimum.
    *
    * Convergence check costs no extra shuffle shape: the round's new
    * edge set is materialized anyway (the 2^iters lineage guard all
    * CC variants here share); `exceptAll` against the previous round
    * on the slim id pairs detects the fixed point exactly.
    *
    * Output contract is IDENTICAL to [[ccLabels]]
    * (spec-pinned parity): (doc_id, rep_id) for every corpus doc,
    * rep = component min, unpaired docs rep = self — so callers can
    * swap propagation for contraction without touching anything else.
    */
  def starCcLabels(docs: DataFrame, pairs: DataFrame, maxIters: Int = 50,
                   idCol: String = "doc_id"): DataFrame = {
    // lineage is TRUNCATED each round (localCheckpoint), not just
    // cached: one star round references its input ~16× (sym twice,
    // ls from sym three times, …), so a persist-only iteration grows
    // the ANALYZED plan 16× per round and the analyzer itself becomes
    // the bottleneck after 3–4 rounds — the iterative-plan explosion,
    // worse here than ccLabels' 2×/round. Checkpointed frames are
    // slim (id, id) rows; dropped references are reclaimed by the
    // ContextCleaner. On a real cluster with executor churn, swap in
    // reliable `checkpoint()` (needs spark.checkpoint.dir) — same
    // shape, durable blocks.
    val edges0 = pairs
      .select(greatest(col("id_a"), col("id_b")).as("hi"),
        least(col("id_a"), col("id_b")).as("lo"))
      .filter(col("hi") =!= col("lo"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // count() is a Dataset ACTION (unlike localCheckpoint's internal
    // RDD job), so a scoped-cache pair generator upstream sees its
    // plan consumed here and releases its own persists
    var edgeCount = edges0.count()
    // measured-size checkpoint partitioning — see ccLabels (r22)
    var edges = edges0.coalesce(ccEdgeParts(edgeCount))
      .localCheckpoint(true) // slim copy off the cache, lineage truncated
    edges0.unpersist(false)
    var changed = edgeCount > 0
    var it = 0
    while (changed && it < maxIters) {
      // LARGE-STAR over symmetric neighborhoods
      val sym = edges.select(col("hi").as("u"), col("lo").as("v"))
        .unionByName(edges.select(col("lo").as("u"), col("hi").as("v")))
      val mins = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val ls = sym.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .filter(col("hi") =!= col("lo"))
        .distinct()
      // SMALL-STAR over the big→small orientation ls already has
      val minsS = ls.groupBy(col("hi")).agg(min(col("lo")).as("m"))
      val withM = ls.join(minsS, "hi")
      val next = withM.select(col("lo").as("hi"), col("m").as("lo")) // (v, m), v ∈ Γ(u)
        .unionByName(withM.select(col("hi"), col("m").as("lo")))     // (u, m)
        .filter(col("hi") =!= col("lo"))
        .distinct()
        .localCheckpoint(true) // materialize + truncate this round's lineage
      val nextCount = next.count()
      // fixed point ⟺ identical edge sets (both sides distinct, so
      // equal counts + empty one-sided difference suffice)
      changed = nextCount != edgeCount || next.exceptAll(edges).count() > 0
      edges = next
      edgeCount = nextCount
      it += 1
    }
    if (changed)
      System.err.println(s"[graft] starCcLabels: not converged after $maxIters rounds — " +
        "labels may point at a non-minimal representative")
    // at the fixed point the graph is a union of stars: every non-root
    // appears as hi pointing at its component min; roots label
    // themselves (the groupBy collapses both, and is a no-op-sized agg)
    val labels = edges.select(col("hi").as("doc_id"), col("lo").as("lbl"))
      .unionByName(edges.select(col("lo").as("doc_id"), col("lo").as("lbl")))
      .groupBy(col("doc_id")).agg(min(col("lbl")).as("lbl"))
    docs.select(col(idCol).cast("long").as("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("rep_id"))
  }

  /** Exact-dedup PRE-PASS around pair-based CC labeling: collapse
    * content-identical docs with one hash groupBy BEFORE pair
    * generation, run `cc` over the surviving representatives only,
    * then extend the labels back over every doc (each doc inherits
    * its content-group keeper's rep).
    *
    * Label parity with running `cc` on the FULL corpus is exact
    * (spec-pinned in DedupSpec): identical docs share shingle sets,
    * so in the full pair graph every identical group is a clique
    * glued onto its keeper's component, and a component's min id
    * equals the min over its member groups' keeper ids — the extended
    * labeling is the same function. What changes is COST: a crawl's
    * n identical docs (the shape crawls actually produce — boilerplate
    * pages, mirrored files) contribute C(n,2) LSH edges to the full
    * graph — the rehearsal's 3000-doc clique is 4.5M edges dominating
    * every CC round — but ZERO edges here; one map-side-combining
    * groupBy deletes what the pair join would otherwise expand.
    * [[Pipeline.curate]] applies the same ordering for greedy apply;
    * this brings it to the CC entry points.
    *
    * `pairsOf` generates near-dup pairs over the deduplicated corpus
    * (e.g. [[ngramLshPairs]]); `cc` is any of the CC variants with
    * the shared (docs, pairs) → (doc_id, rep_id) contract
    * ([[ccLabels]], [[starCcLabels]]).
    */
  def ccLabelsExactFirst(docs: DataFrame,
                         pairsOf: DataFrame => DataFrame,
                         cc: (DataFrame, DataFrame) => DataFrame,
                         textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // slim (doc_id, keeper) mapping: one narrow scan + one hash
    // groupBy + one hash join — the exact-dedup shuffle, nothing more
    val ids = docs.select(col(idCol).cast("long").as("doc_id"), md5(col(textCol)).as("h"))
    val keep = ids.groupBy(col("h")).agg(min(col("doc_id")).as("keep_id"))
    // persist: feeds the survivor semi-join (which the whole pair/CC
    // pipeline hangs off) AND the final label-extension join
    val mapping = ids.join(keep, "h").select(col("doc_id"), col("keep_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val survivors = docs.join(
      mapping.filter(col("doc_id") === col("keep_id")).select(col("doc_id").as(idCol)),
      Seq(idCol), "left_semi")
    val ccSurvivors = cc(survivors, pairsOf(survivors))
    ScopedCache.releaseAfterAction(
      mapping
        .join(ccSurvivors.select(col("doc_id").as("keep_id"), col("rep_id")), Seq("keep_id"))
        .select(col("doc_id"), col("rep_id")),
      Seq(mapping))
  }

  /** Blocked embedding-cosine near-dup pairs: block key = label
    * metadata (any partition/source key works); norms precomputed once
    * per side so the pair expression is a single dot product.
    * cos_fs = floor(1e4·cos).
    */
  def embedCosine(embeddings: DataFrame, thresholdFs: Long = 3000L): DataFrame = {
    val e = Par.spread(embeddings).select(col("vec_id"), col("label"),
      toDoubleArray(col("embedding")).as("v"))
      .withColumn("nrm", l2norm(col("v")))
    val a = e.as("a")
    val b = e.as("b")
    val cos = cosineWithNorms(col("a.v"), col("b.v"), col("a.nrm"), col("b.nrm"))
    a.join(b, col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        floor(lit(10000.0) * cos).as("cos_fs"))
      .filter(col("cos_fs") >= thresholdFs)
  }
}
