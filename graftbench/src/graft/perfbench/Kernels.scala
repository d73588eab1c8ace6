package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.HashFunctions
import graft.functions.TextFunctions._
import graft.operators.KMeans

/** Per-row cost of graft's native kernels, taken over the workload's
  * own rows: the kernel projected over a cached, materialized input
  * with a noop write, minus the same projection without the kernel,
  * divided by rows. Each side is the median of `reps` writes.
  */
object Kernels {
  private val reps = 3

  private def noopSeconds(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** ns per input row of `kernel` over `input`'s rows. */
  def nsPerRow(input: DataFrame, pass: Seq[Column], kernel: Seq[Column]): Double = {
    val cached = input.persist(StorageLevel.MEMORY_ONLY)
    try {
      val rows = cached.count()
      val base = cached.select(pass: _*)
      val withKernel = cached.select(kernel: _*)
      noopSeconds(base); noopSeconds(withKernel)
      val b = (1 to reps).map(_ => noopSeconds(base))
      val k = (1 to reps).map(_ => noopSeconds(withKernel))
      (Stats.median(k) - Stats.median(b)) * 1e9 / rows
    } finally cached.unpersist(true)
  }

  /** The corpus kernels over `docs` (doc_id, text) replicated `copies`
    * times, and the Jaccard kernel over `pairs` (id_a, id_b).
    */
  def corpus(docs: DataFrame, pairs: DataFrame, cpus: Int, copies: Int): Seq[(String, Double)] = {
    val spread = docs.select(col("doc_id"), col("text"))
      .crossJoin(docs.sparkSession.range(copies).select(col("id").as("copy")))
      .drop("copy").repartition(cpus)
    val toks = tokens(col("text"))
    val sorted = spread.select(col("doc_id"), sort_array(array_distinct(toks)).as("toks"))
    val raw = spread.select(col("doc_id"), toks.as("toks"))
    val counts = spread.select(col("doc_id"),
      size(toks).cast("long").as("n_tok"), size(array_distinct(toks)).cast("long").as("n_uniq"),
      countIn(toks, stopwords.toMap.apply("en")).cast("long").as("n_stop"),
      punctCount(col("text")).cast("long").as("n_punct"),
      length(col("text")).cast("long").as("n_chars"))
    val sets = docs.select(col("doc_id"), sort_array(array_distinct(toks)).as("toks"))
    val pairSets = pairs.select("id_a", "id_b")
      .join(sets.select(col("doc_id").as("id_a"), col("toks").as("toks_a")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("toks").as("toks_b")), "id_b")
      .repartition(cpus)
    Seq(
      "functions.tokens.ns_per_row" -> nsPerRow(spread,
        Seq(col("doc_id"), col("text")), Seq(col("doc_id"), toks.as("k"))),
      "functions.md5_minhash_sig.ns_per_row" -> nsPerRow(sorted,
        Seq(col("doc_id"), col("toks")),
        Seq(col("doc_id"), HashFunctions.md5MinhashSig(col("toks"), 32).as("k"))),
      "functions.ngram_stats.ns_per_row" -> nsPerRow(raw,
        Seq(col("doc_id"), col("toks")), Seq(col("doc_id"), ngramStats(col("toks"), 2).as("k"))),
      "functions.quality_score.ns_per_row" -> nsPerRow(counts,
        counts.columns.toSeq.map(col),
        Seq(col("doc_id"), qualityScoreFs(col("n_tok"), col("n_uniq"), col("n_stop"),
          col("n_punct"), col("n_chars")).as("k"))),
      "functions.jaccard_fs.ns_per_pair" -> nsPerRow(pairSets,
        Seq(col("id_a"), col("toks_a"), col("toks_b")),
        Seq(col("id_a"), call_function("graft_jaccard_fs", col("toks_a"), col("toks_b")).as("k"))))
  }

  /** The k-means assign kernel over `points` (id, vec). */
  def assign(points: DataFrame, centroids: Seq[(Long, Array[Double])]): Double =
    nsPerRow(points, Seq(col("id"), col("vec")),
      Seq(col("id"), KMeans.assignExpr(col("vec"), centroids)._1.as("k")))
}
