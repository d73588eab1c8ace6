package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge

import graft.functions.expressions.{Md5MinHashSig, MinHashSig, SimHash64}

/** Hash-sketch primitives for dedup at scale: MinHash signatures,
  * SimHash fingerprints, rolling polynomial fingerprints.
  *
  * The signature and fingerprint kernels are native Catalyst
  * expressions ([[graft.functions.expressions]]); the rest are
  * `Column` expressions over Spark's codegen'd `xxhash64`.
  * Arithmetic is kept inside a Mersenne-ish prime modulus
  * so it never overflows Long (safe under ANSI mode) and needs no
  * bigint tricks in the oracle.
  */
object HashFunctions {

  val Prime: Long = 1000000007L

  /** Exact binomial coefficient as Double (recall-model arithmetic). */
  private def choose(n: Int, k: Int): Double =
    if (k < 0 || k > n) 0.0 else (0 until k).map(i => (n - i).toDouble / (i + 1)).product

  /** Per-element positive hash in [0, Prime) with a seed namespace.
    * Different `seed` strings give (practically) independent hash
    * families — this is how we get k MinHash permutations from one
    * base hash without shuffling anything.
    */
  def seededHash(e: Column, seed: String): Column =
    pmod(xxhash64(concat(lit(seed + "#"), e)), lit(Prime))

  /** Deterministic affine-permutation parameters for [[minhashSignature]]:
    * h_i(x) = (a_i·h(x) + b_i) mod Prime with a_i ∈ [1, Prime),
    * b_i ∈ [0, Prime) derived from MD5 of the permutation index —
    * fixed forever, engine-independent. a_i·h < 1e9·1e9 < Long.Max,
    * so the arithmetic never overflows (ANSI-safe).
    */
  private[graft] def minhashParams(perms: Int): IndexedSeq[(Long, Long)] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def draw(tag: String, mod: Long): Long = {
      val h = md.digest(tag.getBytes("UTF-8"))
      math.floorMod(java.nio.ByteBuffer.wrap(h).getLong, mod)
    }
    (0 until perms).map(i => (draw(s"minhash-a#$i", Prime - 1) + 1L, draw(s"minhash-b#$i", Prime)))
  }

  /** Carter-Wegman coefficients for the CROSS-ENGINE md5-minhash
    * family (Dedup.minhashMd5PairsUnsorted and its DuckDB oracle twin):
    * h_i(tok) = (a_i·h1 + b_i·h2) mod Prime, where h1/h2 are the two
    * 28-bit halves of ONE md5 digest per token (hex chars 1–7 and
    * 8–14). One digest replaces the previous perms-digests-per-token
    * formulation at identical recall geometry. Bounds: a_i, b_i ∈
    * [1, Prime) < 2³⁰ and h1, h2 < 2²⁸, so each product < 2⁵⁸ and the
    * sum < 2⁵⁹ — overflow-free (hence bit-identical) under both
    * Spark ANSI arithmetic and DuckDB's checked BIGINT. Drawn from
    * MD5 of the permutation index like [[minhashParams]]: fixed
    * forever, engine-independent, and reproducible in plain SQL as
    * literal constants.
    */
  private[graft] def md5CwParams(perms: Int): IndexedSeq[(Long, Long)] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def draw(tag: String): Long = {
      val h = md.digest(tag.getBytes("UTF-8"))
      math.floorMod(java.nio.ByteBuffer.wrap(h).getLong, Prime - 1) + 1L
    }
    (0 until perms).map(i => (draw(s"md5cw-a#$i"), draw(s"md5cw-b#$i")))
  }

  /** MinHash signature: `perms` min-hashes over the shingle array via
    * universal hashing — each shingle is xxhash64'd ONCE into a base
    * value, and the permutations are cheap affine maps of that base
    * ([[minhashParams]]), folded in one native pass over the tokens.
    * (The naive formulation — xxhash64(concat(seed_i, shingle)) per
    * permutation — allocates a concatenated string and re-hashes every
    * shingle `perms` times: 32× the hash work and 32 allocations per
    * token.) NULL array → SQL NULL; an empty array → all-null
    * signature.
    *
    * Narrow map at any scale — the only shuffle in MinHash-LSH dedup
    * is the band-key groupBy.
    */
  def minhashSignature(shingles: Column, perms: Int): Column =
    ColumnBridge.column(MinHashSig(ColumnBridge.expression(shingles), Literal(perms)))

  /** The cross-engine md5-minhash signature (the Carter-Wegman family
    * over one md5 digest per token, [[md5CwParams]]) as ONE array
    * column, computed by the native one-pass kernel:
    * sig[p] = min over tokens of (a_p·h1 + b_p·h2) mod Prime — the
    * signature [[graft.operators.Dedup.minhashMd5PairsUnsorted]] and its
    * DuckDB oracle twin band on. NULL array → SQL NULL; a null
    * ELEMENT drops out of every minimum.
    */
  def md5MinhashSig(shingles: Column, perms: Int): Column =
    ColumnBridge.column(Md5MinHashSig(ColumnBridge.expression(shingles), Literal(perms)))

  /** LSH band keys: hash each band (contiguous slice of the
    * signature) to one bucket key. Join key = (band_index, band_hash)
    * — candidate pairs only ever meet inside a bucket, never via a
    * cross join.
    */
  def bandKeys(signature: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(
        lit(b).as("band"),
        xxhash64(concat_ws(",", slice(signature, b * rowsPerBand + 1, rowsPerBand))).as("bucket")
      )
    }: _*)

  /** Probability that a pair with Jaccard `j` collides in ≥1 MinHash
    * LSH band under (bands × rowsPerBand) geometry: 1−(1−j^r)^b — the
    * s-curve whose midpoint sits at ≈ (1/b)^(1/r). The recall model
    * for [[bandKeys]]-based dedup, spec-pinned in DedupSpec.
    */
  def lshCollisionProb(j: Double, bands: Int, rowsPerBand: Int): Double =
    1.0 - math.pow(1.0 - math.pow(j, rowsPerBand), bands)

  /** 64-bit SimHash of a token array: per bit, sum +1/-1 votes of
    * each token's xxhash64 bit, sign of the sum becomes the bit
    * (ties clear it). One native pass over the tokens.
    */
  def simhash64(toks: Column): Column =
    ColumnBridge.column(SimHash64(ColumnBridge.expression(toks)))

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Split a 64-bit fingerprint into `chunks` equal bit-chunks.
    * Pigeonhole: two fingerprints within hamming distance < chunks
    * share at least one exact chunk — that chunk is the dedup join
    * key (bucketed candidate generation, no cross join).
    */
  def fingerprintChunks(fp: Column, chunks: Int): Column = {
    val width = 64 / chunks
    val mask = (1L << width) - 1
    array((0 until chunks).map { c =>
      struct(lit(c).as("chunk"), shiftright(fp, c * width).bitwiseAND(lit(mask)).as("bits"))
    }: _*)
  }

  /** Chunk count COUPLED to a hamming threshold by the pigeonhole
    * principle: splitting 64 bits into `chunks` equal chunks, two
    * fingerprints within hamming ≤ h share at least one exact chunk
    * whenever h < chunks — so guaranteed recall needs
    * chunks > maxHamming. Returns the smallest power-of-two divisor
    * of 64 that clears the bound (chunk widths stay integral).
    *
    * The cost side of the dial, for callers raising maxHamming: chunk
    * width w = 64/chunks is the bucket key's entropy — background
    * (random-fingerprint) pairs collide in a given chunk w.p. 2^−w,
    * so expected background candidate volume ≈ chunks·n²/2^w. At the
    * default (4 chunks, 16-bit keys) that is n²/16384 — strong
    * pruning; at 16 chunks (4-bit keys, maxHamming up to 15) it is
    * n²·16⁻¹·16 = n²·2⁻⁴ ... i.e. barely sub-quadratic. Guaranteed
    * recall at high hamming radii inherently costs candidate volume
    * with single-chunk indexing (multi-chunk combination keys are the
    * known escalation); [[simhashCollisionProb]] quantifies what a
    * CHEAPER geometry still recalls, so callers can trade
    * deliberately.
    */
  def simhashChunksFor(maxHamming: Int): Int = {
    require(maxHamming >= 0 && maxHamming < 64, s"maxHamming must be in [0, 64), got $maxHamming")
    Seq(2, 4, 8, 16, 32, 64).find(_ > maxHamming).get
  }

  /** Banding plan (chunks, comboSize) coupled to a hamming threshold.
    *
    * Single-chunk indexing ([[simhashChunksFor]]) keeps the pigeonhole
    * guarantee by ADDING chunks as the radius grows — but each added
    * chunk NARROWS the bucket key (64/chunks bits), collapsing its
    * pruning power. Chunk-COMBINATION keys (the public Manku et al.
    * WWW'07 block-combination construction) fix the middle radii: with
    * h differing bits over c chunks, at least c−h chunks are clean, so
    * any pair within hamming ≤ c−m shares at least one of the C(c, m)
    * m-chunk combinations — a band per combination, bucket = the
    * concatenated bits of its chunks (m·64/c wide).
    *
    * Tiers (band count × bucket-key bits — background collision volume
    * ≈ bands·n²/2^bits):
    *  - h ≤ 3:  (4, 1) —   4 × 16-bit (the classic 4-chunk split)
    *  - h ≤ 6:  (8, 2) —  28 × 16-bit (vs 8 × 8-bit singles: 73× less
    *            background at the same guaranteed recall)
    *  - h = 7:  (8, 1) —   8 ×  8-bit
    *  - h ≤ 14: (16, 2) — 120 ×  8-bit (weak pruning — documented;
    *            radius ≤ 6 is the production envelope for 64-bit
    *            sketches, larger radii want longer fingerprints)
    *  - h = 15: (16, 1) —  16 ×  4-bit
    */
  def simhashBandPlan(maxHamming: Int): (Int, Int) = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming must be in [0, 15] for a 64-bit sketch, got $maxHamming " +
        "(larger radii need a longer fingerprint, not a wider join)")
    if (maxHamming <= 3) (4, 1)
    else if (maxHamming <= 6) (8, 2)
    else if (maxHamming == 7) (8, 1)
    else if (maxHamming <= 14) (16, 2)
    else (16, 1)
  }

  /** Band keys for [[simhashBandPlan]]: one struct(band, bucket) per
    * m-chunk combination, bucket = the combination's chunk bits packed
    * into one long. For comboSize = 1 this degenerates to
    * [[fingerprintChunks]] (same keys, band-key field names).
    */
  def simhashBandKeys(fp: Column, chunks: Int, comboSize: Int): Column = {
    val w = 64 / chunks
    val mask = (1L << w) - 1
    def chunkBits(ci: Int): Column = shiftright(fp, ci * w).bitwiseAND(lit(mask))
    val combos = (0 until chunks).combinations(comboSize).toSeq
    array(combos.zipWithIndex.map { case (combo, b) =>
      val bucket = combo.zipWithIndex
        .map { case (ci, k) => shiftleft(chunkBits(ci), k * w) }
        .reduce((a, c) => a.bitwiseOR(c))
      struct(lit(b).as("band"), bucket.as("bucket"))
    }: _*)
  }

  /** Recall of combination banding at hamming distance `hamming`:
    * P(at least `comboSize` chunks untouched | h bits uniformly
    * placed) — exactly 1 inside the guaranteed radius (h ≤ c−m), the
    * Jordan inclusion–exclusion identity beyond it:
    *   P(#clean ≥ m) = Σ_{j=m}^{c} (−1)^{j−m} C(j−1, m−1) C(c, j)
    *                   C(64−j·w, h) / C(64, h).
    * Reduces to [[simhashCollisionProb]] at comboSize = 1 (spec-pinned
    * equality, which validates the identity numerically).
    */
  def simhashComboCollisionProb(hamming: Int, chunks: Int, comboSize: Int): Double = {
    require(64 % chunks == 0, s"chunks must divide 64, got $chunks")
    require(comboSize >= 1 && comboSize <= chunks, s"bad comboSize $comboSize")
    require(hamming >= 0 && hamming <= 64,
      s"hamming must be in [0, 64] for a 64-bit sketch, got $hamming")
    val m = comboSize
    if (hamming <= chunks - m) return 1.0
    val w = 64 / chunks
    (m to chunks).map { j =>
      val sign = if ((j - m) % 2 == 0) 1.0 else -1.0
      sign * choose(j - 1, m - 1) * choose(chunks, j) * choose(64 - j * w, hamming)
    }.sum / choose(64, hamming)
  }

  /** Probability that a pair at hamming distance `hamming` shares at
    * least one exact chunk under a `chunks`-way split — i.e. the
    * RECALL of single-chunk simhash bucketing at that distance, under
    * the uniform model (differing bits uniformly placed over the 64
    * positions). Exact inclusion–exclusion over which chunks stay
    * untouched:
    *   P = Σ_{j≥1} (−1)^{j+1} C(chunks,j)·C(64−j·w, h) / C(64, h).
    * Equals 1 for h < chunks (pigeonhole), then falls off — the
    * simhash analogue of [[lshCollisionProb]], spec-pinned in
    * DedupSpec so defaults never advertise more than they recall.
    */
  def simhashCollisionProb(hamming: Int, chunks: Int): Double = {
    require(64 % chunks == 0, s"chunks must divide 64, got $chunks")
    require(hamming >= 0 && hamming <= 64,
      s"hamming must be in [0, 64] for a 64-bit sketch, got $hamming")
    // pigeonhole: fewer differing bits than chunks ⇒ certainty — return
    // the exact 1.0 rather than the sum's last-ulp approximation of it
    if (hamming < chunks) return 1.0
    val w = 64 / chunks
    (1 to chunks).map { j =>
      val sign = if (j % 2 == 1) 1.0 else -1.0
      sign * choose(chunks, j) * choose(64 - j * w, hamming)
    }.sum / choose(64, hamming)
  }

  /** Rolling polynomial fingerprint of a token array:
    * fp = fold(tokens, 0, (acc, t) -> (acc*31 + h(t)) mod P).
    * Order-sensitive (unlike set hashes) — two docs with the same
    * token multiset but different order fingerprint differently.
    */
  def rollingFingerprint(toks: Column): Column =
    aggregate(toks, lit(0L), (acc, t) => pmod(acc * lit(31L) + seededHash(t, "fp"), lit(Prime)))
}
