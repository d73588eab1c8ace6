package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.tokens

/** Distributed byte-pair-encoding (BPE) merge training — the
  * tokenizer-learning step of a training-data pipeline (Sennrich et
  * al. 2016), run the way production BPE trainers actually run: over
  * the WORD-FREQUENCY table, not the corpus. One corpus-sized explode
  * + partial-agg count reduces 100 TB of text to a vocabulary-sized
  * (word, weight) frame, and every merge round after that touches only
  * that frame. The frame is vocabulary-BOUNDED, so when it fits an
  * explicit byte budget the merge loop collects it and runs IN MEMORY
  * (incremental pair counts + heap arg-max — the subword-nmt shape;
  * zero Spark jobs per merge, which is what makes a production 30k
  * merge count feasible); past the budget, distributed rounds take
  * over — pair counting as a slim partial-agged groupBy, the arg-max
  * a 1-row driver decision, the merge a codegen'd higher-order fold,
  * with rounds localCheckpointed so the plan never deepens with the
  * merge count (the CC lineage-truncation lesson).
  *
  * Greedy-left application semantics: a merged symbol cannot re-merge
  * with the unit it just consumed in the SAME round ("aaa" under
  * (a,a) → [aa, a], not [aa, aa]) — the fold's accumulator-last check
  * gives exactly left-to-right greedy pairing. Ties on pair weight
  * break lexicographically, so the learned table is deterministic
  * across runs, partitionings, and engines.
  */
object Bpe {

  /** End-of-word marker — distinguishes "est</w>" (suffix) from
    * "est" (infix), the standard word-level BPE alphabet extension.
    */
  val EndOfWord = "</w>"

  /** Vocabulary ROW ceiling for broadcasting the encoded vocab in
    * [[encode]]; paired with [[MaxBroadcastVocabBytes]] because row
    * count alone mis-sizes a vocab of long URL/garbage tokens.
    */
  val MaxBroadcastVocab: Long = 1L << 20

  /** Vocabulary BYTE ceiling (raw word chars, measured by the same
    * bounded agg that counts rows) for broadcasting the encoded vocab
    * — 128 MB of chars; the broadcast carries word + pieces at a
    * small multiple of that, still inside executor broadcast budgets.
    * Over-budget vocabs take an explicit shuffle-hash join.
    */
  val MaxBroadcastVocabBytes: Long = 1L << 27

  /** Byte budget (raw word chars) under which [[train]] collects the
    * word-frequency table and runs the merge loop in memory — 64 MB
    * of chars covers any real tokenizer-training vocabulary (~1M
    * words × tens of chars) with the interned-symbol working set a
    * small multiple of it. Beyond the budget the distributed rounds
    * take over (truly unbounded vocabularies).
    */
  val MaxDriverTrainBytes: Long = 1L << 26

  private def initialSymbols(word: Column): Column =
    concat(split(word, ""), array(lit(EndOfWord)))

  /** Greedy-left application of ONE merge (x, y) → xy to a symbol
    * array, as a pure fold: append each symbol, except that a symbol
    * equal to `y` fuses with an accumulator tail equal to `x`.
    */
  private def applyMerge(syms: Column, x: String, y: String): Column =
    aggregate(syms, typedLit(Seq.empty[String]), (acc, s) =>
      when(size(acc) > 0 && element_at(acc, -1) === lit(x) && s === lit(y),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(x + y))))
        .otherwise(concat(acc, array(s))))

  /** Adjacent-pair weights over the symbolized word table: one explode
    * of (len − 1) pairs per DISTINCT word, weighted by word count —
    * the only shuffle a merge round pays, partial-agged to the pair
    * vocabulary.
    */
  private def pairWeights(words: DataFrame): DataFrame =
    words
      // a fully-collapsed word (one symbol) has no pairs — and must
      // filter out BEFORE the index sequence: sequence(0, -1) is a
      // DESCENDING [0, -1] in Spark, not empty, and its element_at
      // would throw (surfaced by the 100-merge parity spec, where
      // high merge counts actually collapse words)
      .filter(size(col("syms")) >= 2)
      .select(col("weight"), explode(transform(
        sequence(lit(0), size(col("syms")) - 2),
        i => struct(element_at(col("syms"), i + 1).as("l"),
          element_at(col("syms"), i + 2).as("r")))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("weight")).as("weight"))

  /** Learn `numMerges` BPE merges from the corpus. Returns the merge
    * table (rank, left, right, merged, weight) in learned order —
    * `rank` 1 is the first (highest-frequency) merge. Training stops
    * early when the best remaining pair's weight falls below
    * `minWeight` (degenerate tail merges carry no signal).
    *
    * The corpus-sized step is ONE explode + count to the
    * vocabulary-bounded (word, weight) frame. The merge loop itself
    * is a bounded-parameter fit (the same boundedness [[encode]]
    * exploits to broadcast the vocab), so when the vocabulary fits
    * `maxDriverVocabBytes` — measured by an explicit byte-sized agg,
    * not assumed — it COLLECTS and the loop runs in memory
    * ([[trainInMemory]]: heap-ordered incremental pair counts, cost ∝
    * text touched per merge, zero Spark jobs per merge). A production
    * 30k-merge vocabulary would otherwise pay one driver round-trip
    * PER MERGE (~hours of pure job scheduling at production merge
    * counts). Over-budget vocabularies keep the distributed rounds
    * ([[trainDistributed]]); merge-for-merge parity between the two
    * paths is spec-pinned.
    */
  /** `ws` (r19) tokenizes the corpus with the whitespace-robust
    * tokenizer before counting word frequencies — see
    * [[TextAnalysis.vocabTokens]]; pass the SAME flag to [[encode]]
    * or the learned merges won't see the words they were trained on.
    */
  def train(docs: DataFrame, numMerges: Int = 10, minWeight: Long = 2L,
            maxDriverVocabBytes: Long = MaxDriverTrainBytes,
            ws: Boolean = false): DataFrame =
    // the corpus-sized step: word frequencies (one explode + count).
    // No Par.spread here: the groupBy's exchange already restores
    // parallelism, and the pre-exchange work is a slim partial agg
    // (A/B-measured: a spread repartition costs more than it saves)
    trainFromCounts(docs
      .select(explode(TextAnalysis.vocabTokens(col("text"), ws)).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("weight")),
      numMerges, minWeight, maxDriverVocabBytes)

  /** [[train]] from an already-aggregated (word, weight) frame — the
    * stored-vocabulary retrain path: [[VocabTable.vocabularyFromTable]]
    * holds exactly this shape (token × total_count), so when
    * [[VocabTable.vocabNeedsRetrain]] fires the tokenizer retrains
    * from the STORED counts with zero corpus rescan. Same
    * driver/distributed dispatch and identical merges to [[train]]
    * over the corpus the counts summarize (weights are the only
    * corpus signal BPE uses — spec-pinned equivalence).
    */
  def trainFromCounts(wordWeights: DataFrame, numMerges: Int = 10, minWeight: Long = 2L,
                      maxDriverVocabBytes: Long = MaxDriverTrainBytes): DataFrame = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    val spark = wordWeights.sparkSession
    import spark.implicits._
    val words = wordWeights
      .select(col("word"), col("weight").cast("long").as("weight"))
      .filter(col("word") =!= "")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val chars = words.agg(coalesce(sum(length(col("word"))), lit(0L)))
      .collect()(0).getLong(0)
    val merges =
      if (chars <= maxDriverVocabBytes)
        trainInMemory(words.collect().map(r =>
          (r.getAs[String]("word"), r.getAs[Long]("weight"))), numMerges, minWeight)
      else trainDistributed(words, numMerges, minWeight)
    words.unpersist()
    merges.toDF("rank", "left", "right", "weight")
      .select(col("rank").cast("long").as("rank"), col("left"), col("right"),
        concat(col("left"), col("right")).as("merged"), col("weight"))
      .orderBy(col("rank"))
  }

  /** UTF-8 byte comparison — the string order Spark (and the DuckDB
    * oracle) sort by. The in-memory trainer's lexicographic tie-break
    * must use it, not Java's UTF-16 `compareTo` (the two diverge on
    * supplementary-plane characters).
    */
  private def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** The in-memory merge loop over a collected (word, weight) table —
    * the production trainer shape (what subword-nmt/SentencePiece do):
    * incremental pair counts with an inverted pair → words index, so
    * each merge touches only the words containing it, and a
    * lazy-invalidation max-heap for the arg-max (stale entries pop
    * and drop when their weight no longer matches the live count).
    * Symbols are interned so the working set is refs + one copy of
    * each distinct symbol. Semantics are IDENTICAL to the distributed
    * rounds (greedy-left apply, weight-then-(l, r) tie-break in UTF-8
    * order) — spec-pinned merge-for-merge at 100 merges.
    */
  private[graft] def trainInMemory(wordWeights: Array[(String, Long)],
                                   numMerges: Int, minWeight: Long)
  : Seq[(Int, String, String, Long)] = {
    import scala.collection.mutable
    val intern = new java.util.HashMap[String, String]()
    def sym(s: String): String = {
      val prior = intern.putIfAbsent(s, s)
      if (prior == null) s else prior
    }
    val weights = wordWeights.map(_._2)
    val syms: Array[mutable.ArrayBuffer[String]] = wordWeights.map { case (w, _) =>
      val b = new mutable.ArrayBuffer[String](w.length + 1)
      w.foreach(ch => b += sym(ch.toString))
      b += sym(EndOfWord)
      b
    }
    val counts = mutable.HashMap[(String, String), Long]()
    val where = mutable.HashMap[(String, String), mutable.HashSet[Int]]()
    def bump(p: (String, String), by: Long): Unit = {
      val next = counts.getOrElse(p, 0L) + by
      if (next == 0L) counts.remove(p) else counts(p) = next
    }
    syms.indices.foreach { wi =>
      val s = syms(wi)
      var i = 0
      while (i < s.length - 1) {
        val p = (s(i), s(i + 1))
        bump(p, weights(wi))
        where.getOrElseUpdate(p, mutable.HashSet[Int]()) += wi
        i += 1
      }
    }
    // max-heap: weight desc, then (l, r) asc in UTF-8 order — the
    // exact ORDER BY desc(weight), l, r of the distributed arg-max
    val cmp = new java.util.Comparator[(Long, String, String)] {
      override def compare(a: (Long, String, String), b: (Long, String, String)): Int = {
        if (a._1 != b._1) java.lang.Long.compare(b._1, a._1)
        else {
          val c = utf8Compare(a._2, b._2)
          if (c != 0) c else utf8Compare(a._3, b._3)
        }
      }
    }
    val heap = new java.util.PriorityQueue[(Long, String, String)](math.max(counts.size, 1), cmp)
    counts.foreach { case ((l, r), w) => heap.add((w, l, r)) }
    val out = mutable.ArrayBuffer[(Int, String, String, Long)]()
    var rank = 1
    var done = false
    while (rank <= numMerges && !done) {
      var top: (Long, String, String) = null
      while (top == null && !heap.isEmpty) {
        val e = heap.poll()
        // live iff the stored weight equals the current count
        if (counts.get((e._2, e._3)).contains(e._1)) top = e
      }
      if (top == null || top._1 < minWeight) done = true
      else {
        val (w, x, y) = top
        out += ((rank, x, y, w))
        val merged = sym(x + y)
        val touched = mutable.HashSet[(String, String)]()
        where.remove((x, y)).foreach(_.foreach { wi =>
          val s = syms(wi)
          val wt = weights(wi)
          // the index is lazy — confirm the word still has the pair
          var has = false
          var i = 0
          while (i < s.length - 1 && !has) {
            if ((s(i) eq x) && (s(i + 1) eq y)) has = true
            i += 1
          }
          if (has) {
            i = 0
            while (i < s.length - 1) {
              bump((s(i), s(i + 1)), -wt)
              touched += ((s(i), s(i + 1)))
              i += 1
            }
            val ns = new mutable.ArrayBuffer[String](s.length)
            s.foreach { t =>
              if (ns.nonEmpty && (ns.last eq x) && (t eq y)) ns(ns.length - 1) = merged
              else ns += t
            }
            syms(wi) = ns
            i = 0
            while (i < ns.length - 1) {
              val p = (ns(i), ns(i + 1))
              bump(p, wt)
              touched += p
              where.getOrElseUpdate(p, mutable.HashSet[Int]()) += wi
              i += 1
            }
          }
        })
        // greedy-left consumes every (x, y) adjacency; re-heap only
        // the pairs whose counts actually moved
        touched -= ((x, y))
        touched.foreach(p => counts.get(p).foreach(w2 => heap.add((w2, p._1, p._2))))
        rank += 1
      }
    }
    out.toSeq
  }

  /** The distributed merge rounds — one slim partial-agged pair count
    * + 1-row arg-max collect + codegen'd fold per merge, the shape
    * for vocabularies past the driver byte budget. Rounds
    * localCheckpoint the symbol frame so the plan never deepens with
    * the merge count (the CC lineage-truncation lesson).
    */
  private def trainDistributed(wordWeights: DataFrame, numMerges: Int, minWeight: Long)
  : Seq[(Int, String, String, Long)] = {
    var words = wordWeights
      .select(col("weight"), initialSymbols(col("word")).as("syms"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var rank = 1
    var done = false
    while (rank <= numMerges && !done) {
      // 1-row bounded collect: the global arg-max pair of this round
      val top = pairWeights(words)
        .orderBy(desc("weight"), col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty || top(0).getAs[Long]("weight") < minWeight) done = true
      else {
        val (l, r, w) = (top(0).getAs[String]("l"), top(0).getAs[String]("r"),
          top(0).getAs[Long]("weight"))
        merges += ((rank, l, r, w))
        // localCheckpoint: constant-depth plan across rounds
        val next = words.select(col("weight"), applyMerge(col("syms"), l, r).as("syms"))
          .localCheckpoint()
        words.unpersist()
        words = next
        rank += 1
      }
    }
    words.unpersist()
    merges.toSeq
  }

  /** Encode a corpus with a learned merge table: every word splits to
    * its alphabet and replays the merges in rank order (the merge
    * table compiles into a static chain of `numMerges` folds),
    * emitting one (doc_id, pos, piece) row per subword token.
    * `merges` must be a BOUNDED learned table (it collects —
    * tokenizer merge tables are ≤ ~100k rows by construction).
    *
    * The fold chain runs once per DISTINCT word — the same
    * word-frequency-table insight [[train]] exploits: token instances
    * follow Zipf, so the corpus has orders of magnitude fewer
    * distinct words than instances, and paying the `numMerges`-deep
    * array fold per instance (the original formulation) made this
    * the single most expensive gate key (11.3 s/run at sf0.1 —
    * ~40 pieces-of-work per instance for an ~8700× instance/vocab
    * ratio). Encoding the vocabulary then joining instances back on
    * `word` cuts the fold volume by that ratio. The JOIN SIDE
    * matters: the vocab must be the BUILD side so the instance scan
    * stays parallel and map-side — left to the optimizer, the
    * file-scan side's tiny size estimate won the broadcast and AQE
    * coalesced the vocab stream side to ONE task carrying the whole
    * join + piece fan-out (measured 14.7 s single-threaded). The
    * vocab is usually broadcast-sized but not invariant-bounded
    * (web-scale corpora inflate distinct words with typos/URLs), so
    * the hint is sized by an explicit (rows, bytes) vocab agg — rows
    * alone mis-sizes a vocab of long URL/garbage tokens, the exact
    * web-scale case; a cheap column-pruned agg, the same
    * bounded-driver-decision shape as the merge-table collect. An
    * over-budget vocab takes an EXPLICIT shuffle-hash join — left
    * unhinted, the optimizer's tiny file-scan size estimate can still
    * auto-broadcast the instance leg, re-creating the one-task
    * pathology on the branch that exists to avoid it (instance-side
    * skew on stopwords is AQE's skew-join case, and the fold volume
    * stays vocab-sized). The vocab is checkpointed at build time
    * ([[Dedup.minhashLsh]]'s lifetime contract) for the sizing agg and
    * the join leg, so tokenization runs twice total (vocab pass +
    * fact pass), not three times — at corpus scale CACHING the token
    * stream itself would materialize something larger than the
    * corpus, so the bounded distinct is the right thing to hold.
    */
  def encode(docs: DataFrame, merges: DataFrame,
             maxBroadcastVocab: Long = MaxBroadcastVocab,
             maxBroadcastVocabBytes: Long = MaxBroadcastVocabBytes,
             ws: Boolean = false): DataFrame = {
    val ms = merges.select(col("rank"), col("left"), col("right"))
      .collect().sortBy(_.getAs[Long]("rank"))
      .map(r => (r.getAs[String]("left"), r.getAs[String]("right")))
    val sym = ms.foldLeft(initialSymbols(col("word"))) {
      case (acc, (l, r)) => applyMerge(acc, l, r)
    }
    // Par.spread on the fact leg: with a single-file corpus the scan
    // is ONE split, and since the vocab joins in as a broadcast there
    // is no exchange anywhere downstream to restore parallelism — the
    // whole join + piece fan-out would run in one task (measured
    // 14.7 s single-threaded at sf0.1 vs 0.7 s spread)
    val toks = Par.spread(docs)
      .select(col("doc_id"),
        posexplode(TextAnalysis.vocabTokens(col("text"), ws)).as(Seq("word_pos", "word")))
    val vocab = toks.select(col("word")).distinct().localCheckpoint()
    val sized = vocab
      .agg(count(lit(1)).as("n"), coalesce(sum(length(col("word"))), lit(0L)).as("chars"))
      .collect()(0)
    val vocabEnc0 = vocab.select(col("word"), sym.as("syms"))
    val vocabEnc =
      if (sized.getAs[Long]("n") <= maxBroadcastVocab &&
          sized.getAs[Long]("chars") <= maxBroadcastVocabBytes) broadcast(vocabEnc0)
      else vocabEnc0.hint("shuffle_hash")
    // posexplode_OUTER: plain posexplode makes Catalyst infer a
    // `size(syms) > 0` filter that pushes through the join and below
    // the vocab distinct — re-evaluating the whole merge fold per
    // token INSTANCE on that leg, the exact cost the vocab pass
    // exists to avoid (measured 4.6 s of the 5.8 s run). syms is
    // never empty (initialSymbols always appends EndOfWord) nor null
    // (inner join), so outer-explode output is identical.
    toks.join(vocabEnc, "word")
      .select(col("doc_id"), col("word_pos"), posexplode_outer(col("syms")).as(Seq("piece_pos", "piece")))
      .select(col("doc_id"),
        (col("word_pos").cast("long")).as("word_pos"),
        col("piece_pos").cast("long").as("piece_pos"), col("piece"))
  }
}
