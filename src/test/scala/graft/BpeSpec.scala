package graft

import org.apache.spark.sql.functions._
import graft.operators.Bpe

class BpeSpec extends SparkSpec {
  import spark.implicits._

  /** Tiny in-test reference BPE (word-count table, greedy-left apply,
    * lexicographic tie-break) — the independent truth the distributed
    * trainer must reproduce merge-for-merge.
    */
  private def referenceBpe(wordCounts: Map[String, Long], numMerges: Int)
  : Seq[(String, String, Long)] = {
    var words: Map[Vector[String], Long] = wordCounts.map { case (w, c) =>
      (w.map(_.toString).toVector :+ Bpe.EndOfWord) -> c
    }
    val out = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    (1 to numMerges).foreach { _ =>
      val pairs = scala.collection.mutable.Map[(String, String), Long]()
      words.foreach { case (syms, c) =>
        syms.sliding(2).foreach {
          case Vector(a, b) => pairs((a, b)) = pairs.getOrElse((a, b), 0L) + c
          case _ =>
        }
      }
      if (pairs.nonEmpty) {
        val ((l, r), w) = pairs.toSeq.minBy { case ((l, r), w) => (-w, l, r) }
        if (w >= 2L) {
          out += ((l, r, w))
          words = words.map { case (syms, c) =>
            val acc = scala.collection.mutable.ArrayBuffer[String]()
            syms.foreach { s =>
              if (acc.nonEmpty && acc.last == l && s == r) acc(acc.length - 1) = l + r
              else acc += s
            }
            acc.toVector -> c
          }
        }
      }
    }
    out.toSeq
  }

  private val corpusWords = Map(
    "low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)

  private def docs = {
    // one doc per word occurrence, shuffled deterministically
    val toks = corpusWords.toSeq.sortBy(_._1)
      .flatMap { case (w, c) => Seq.fill(c.toInt)(w) }
    toks.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
  }

  test("train reproduces the reference BPE merge-for-merge on the classic fixture") {
    val got = Bpe.train(docs, numMerges = 8).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[String]("left"), r.getAs[String]("right"),
        r.getAs[String]("merged"), r.getAs[Long]("weight")))
    val want = referenceBpe(corpusWords, 8).zipWithIndex
      .map { case ((l, r, w), i) => (i + 1L, l, r, l + r, w) }
    assert(got.toSeq == want,
      s"distributed merges must equal the reference:\n got=${got.toSeq}\nwant=$want")
    // the classic corpus learns "est</w>" early: 9 est-suffixed words
    assert(got.exists(_._4 == "est</w>"), s"expected the est-suffix merge, got ${got.toSeq}")
  }

  /** Rich deterministic corpus: 64 distinct syllable-composed words,
    * each appearing 2–5 times — enough pair mass to sustain 100+
    * merges at minWeight 2.
    */
  private def richDocs = {
    val syllables = Seq("ab", "cd", "ef", "gh", "ij", "kl", "mn", "op")
    val words = for (a <- syllables; b <- syllables) yield a + b + (a.head - 'a')
    val toks = words.zipWithIndex.flatMap { case (w, i) => Seq.fill(2 + i % 4)(w) }
    toks.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
  }

  test("in-memory and distributed trainers agree merge-for-merge at 100 merges") {
    val d = richDocs
    // default: byte budget admits this vocab -> in-memory loop;
    // budget 0 forces every word over budget -> distributed rounds
    val inMem = Bpe.train(d, numMerges = 100).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[String]("left"), r.getAs[String]("right"),
        r.getAs[Long]("weight"))).toSeq
    val dist = Bpe.train(d, numMerges = 100, maxDriverVocabBytes = 0L).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[String]("left"), r.getAs[String]("right"),
        r.getAs[Long]("weight"))).toSeq
    assert(inMem.length == 100, s"fixture must sustain 100 merges, got ${inMem.length}")
    assert(inMem == dist,
      s"the two trainers must learn identical tables;\nfirst diff: ${
        inMem.zip(dist).find { case (a, b) => a != b }}")
  }

  test("over-budget vocab: encode falls back to an explicit shuffle join, identical output") {
    val merges = Bpe.train(docs, numMerges = 8)
    val fast = Bpe.encode(docs, merges).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("word_pos"),
        r.getAs[Long]("piece_pos"), r.getAs[String]("piece"))).sorted.toSeq
    // every plan the encode runs, built and acted on (the vocab is
    // checkpointed at build time, in a job of its own)
    val (slow, ran) = ActionPlans.record(spark) {
      Bpe.encode(docs, merges, maxBroadcastVocabBytes = 0L).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("word_pos"),
          r.getAs[Long]("piece_pos"), r.getAs[String]("piece"))).sorted.toSeq
    }
    val plan = ran.map(_.plan).mkString("\n")
    assert(plan.contains("ShuffledHashJoin"),
      s"the over-budget branch must pin a shuffle-hash join:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"),
      s"the over-budget branch must not auto-broadcast either leg:\n$plan")
    assert(slow == fast, "join strategy must not change the encoding")
  }

  test("greedy-left apply: a run of equal symbols merges at even offsets only") {
    val d = Seq((1L, "aaaa aaa")).toDF("doc_id", "text")
    val merges = Seq((1L, "a", "a")).toDF("rank", "left", "right")
    val enc = Bpe.encode(d, merges).collect()
      .map(r => (r.getAs[Long]("word_pos"), r.getAs[Long]("piece_pos"), r.getAs[String]("piece")))
      .sorted
    val byWord = enc.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(byWord(0L) == Seq("aa", "aa", Bpe.EndOfWord), s"got ${byWord(0L)}")
    assert(byWord(1L) == Seq("aa", "a", Bpe.EndOfWord), s"got ${byWord(1L)}")
  }

  test("encode round-trip: pieces concatenate back to word + end marker; merges shrink piece count") {
    val merges = Bpe.train(docs, numMerges = 8)
    val enc = Bpe.encode(docs, merges)
    // order-stable rebuild: sort pieces within each group explicitly
    // (collect_list order is arrival order, not deterministic)
    val rb = enc.groupBy(col("doc_id"), col("word_pos"))
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("piece_pos"), col("piece")))),
        x => x.getField("piece")), "").as("joined"))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("joined"))).toMap
    val words = docs.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    words.foreach { case (id, w) =>
      assert(rb(id) == w + Bpe.EndOfWord, s"doc $id: ${rb(id)} vs $w")
    }
    // with 8 merges the piece stream is strictly shorter than chars+1
    val pieceCount = enc.count()
    val charCount = words.values.map(_.length + 1).sum
    assert(pieceCount < charCount,
      s"merges must compress the piece stream ($pieceCount vs $charCount)")
  }

  test("ws mode: training on a messy corpus equals naive training on its normalized form") {
    import spark.implicits._
    import org.apache.spark.sql.functions.concat
    import org.apache.spark.sql.functions.lit
    // the r19 vocab-tier opt-in: tabs/doubled spaces violate tokens'
    // single-space contract — the naive trainer would count fused
    // "a\tb" pseudo-words; ws = true must see exactly the words the
    // normalized corpus yields
    val messy = docs.withColumn("text",
      concat(col("text"), lit("\t"), col("text"), lit("  ")))
    val normalized = messy.withColumn("text",
      graft.functions.TextFunctions.normalizeWs(col("text")))
    val wsMerges = Bpe.train(messy, numMerges = 8, ws = true)
      .collect().map(_.toSeq).toSeq
    val naiveMerges = Bpe.train(normalized, numMerges = 8)
      .collect().map(_.toSeq).toSeq
    assert(wsMerges.nonEmpty && wsMerges == naiveMerges,
      "tokensWs over messy text ≡ tokens over normalizeWs'd text (the pinned round-trip)")
    // encode under the same flag sees the trained words
    val enc = Bpe.encode(messy, Bpe.train(messy, numMerges = 8, ws = true), ws = true)
    assert(enc.filter(col("piece").contains("\t")).count() == 0L,
      "no whitespace artifact reaches the piece stream under ws = true")
  }
}
