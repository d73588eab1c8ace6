package graft.perfbench

import java.util.SplittableRandom

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.HashFunctions
import graft.functions.TextFunctions.tokens
import graft.operators.{Dedup, Pipeline, TextAnalysis}
import graft.sources.Sinks

/** Knobs of the seeded corpus generator. `megaCluster` copies of one
  * 100-token base doc (half with one substituted token) form the
  * cluster wider than the pair generator's 1,024-doc salting bound;
  * `clusterCopies` more copies spread over small planted clusters;
  * `exactCopies` byte-identical copies of otherwise unique docs;
  * `spamShare` of the docs are low-quality word loops the curate gates
  * drop.
  */
final case class CorpusShape(docs: Int, vocab: Int, zipf: Double,
                             lenMedian: Double, lenSigma: Double, minLen: Int, maxLen: Int,
                             megaCluster: Int, clusterCopies: Int, exactCopies: Int,
                             spamShare: Double)

object CorpusShape {
  private val base = CorpusShape(docs = 4500, vocab = 6000, zipf = 1.05,
    lenMedian = 170, lenSigma = 0.45, minLen = 40, maxLen = 600,
    megaCluster = 0, clusterCopies = 0, exactCopies = 9, spamShare = 0.03)
  /** About a third of the docs are copies: one 1,200-doc cluster, the
    * rest in clusters of 2–12, plus 2% exact copies.
    */
  val dupheavy: CorpusShape = base.copy(megaCluster = 1200, clusterCopies = 300, exactCopies = 90)
  val unique: CorpusShape = base
  /** A 240-doc corpus of the same make, for the self-test. */
  val small: CorpusShape = base.copy(docs = 240, megaCluster = 30, clusterCopies = 20,
    exactCopies = 4)
}

/** A generated corpus, indexed by doc id, with the planted truth. */
final class Corpus(val texts: Array[String], val sources: Array[String],
                   val exactPairs: Seq[(Long, Long)], val clusters: Seq[Seq[Long]],
                   val spam: Int) {
  def docs: Int = texts.length

  /** Rows in a fixed order: doc_id, text, source. */
  def rows: Seq[(Long, String, String)] = texts.indices.map(i => (i.toLong, texts(i), sources(i)))

  /** Each doc's distinct tokens as sorted ints (ids in first-seen order). */
  lazy val tokenSets: Array[Array[Int]] = {
    val ids = mutable.HashMap[String, Int]()
    texts.map(t => t.split(" ").map(w => ids.getOrElseUpdate(w, ids.size)).distinct.sorted)
  }

  lazy val distinctTokens: Int = texts.iterator.flatMap(_.split(" ")).toSet.size
}

object Corpus {
  private val stopRanks = Map(0 -> "the", 2 -> "of", 4 -> "and", 7 -> "to", 11 -> "a")
  private val sourceNames = Array("web", "books", "news", "forums")

  def generate(shape: CorpusShape, seed: Long): Corpus = {
    val rnd = new SplittableRandom(seed)
    val vocab = words(shape.vocab, rnd)
    val cdf = {
      val w = (1 to shape.vocab).map(r => 1.0 / math.pow(r, shape.zipf))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def word(): String = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      vocab(math.min(shape.vocab - 1, if (i >= 0) i else -i - 1))
    }
    def length(): Int = {
      val g = rnd.nextGaussian()
      math.max(shape.minLen, math.min(shape.maxLen,
        math.round(shape.lenMedian * math.exp(shape.lenSigma * g)).toInt))
    }
    def fresh(n: Int): Array[String] = Array.fill(n)(word())
    def perturb(toks: Array[String], subs: Int): Array[String] = {
      val c = toks.clone()
      (0 until subs).foreach(_ => c(rnd.nextInt(c.length)) = word())
      c
    }

    // logical docs first (clusters, copies, spam, unique), ids after
    val logical = ArrayBuffer[Array[String]]()
    val clusterIdx = ArrayBuffer[Seq[Int]]()
    if (shape.megaCluster > 0) {
      val b = fresh(100)
      val start = logical.length
      logical += b
      (1 until shape.megaCluster).foreach(_ => logical += perturb(b, rnd.nextInt(2)))
      clusterIdx += (start until logical.length)
    }
    var copies = 0
    while (copies < shape.clusterCopies) {
      val size = math.min(2 + rnd.nextInt(11), shape.clusterCopies - copies + 1)
      val b = fresh(length())
      val start = logical.length
      logical += b
      (1 until size).foreach { _ =>
        logical += perturb(b, 1 + (b.length * (0.005 + 0.015 * rnd.nextDouble())).toInt)
      }
      clusterIdx += (start until logical.length)
      copies += size - 1
    }
    val nSpam = math.round(shape.docs * shape.spamShare).toInt
    (0 until nSpam).foreach { _ =>
      val loop = fresh(2 + rnd.nextInt(4))
      logical += Array.tabulate(60 + rnd.nextInt(80))(i => loop(i % loop.length))
    }
    val uniqueStart = logical.length
    val nUnique = shape.docs - logical.length - shape.exactCopies
    require(nUnique > shape.exactCopies, s"shape leaves too few unique docs: $shape")
    (0 until nUnique).foreach(_ => logical += fresh(length()))
    val exactIdx = (0 until shape.exactCopies).map { j =>
      val orig = uniqueStart + j * (nUnique / shape.exactCopies)
      logical += logical(orig)
      (orig, logical.length - 1)
    }

    // scatter the logical docs over the id space
    val perm = (0 until shape.docs).toArray
    (shape.docs - 1 to 1 by -1).foreach { i =>
      val j = rnd.nextInt(i + 1)
      val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    val texts = new Array[String](shape.docs)
    val sources = new Array[String](shape.docs)
    logical.indices.foreach { l =>
      texts(perm(l)) = logical(l).mkString(" ")
      sources(perm(l)) = sourceNames(rnd.nextInt(sourceNames.length))
    }
    new Corpus(texts, sources,
      exactIdx.map { case (o, c) => (perm(o).toLong, perm(c).toLong) },
      clusterIdx.map(_.map(l => perm(l).toLong).toSeq).toSeq, nSpam)
  }

  /** `n` distinct lowercase pseudo-words, English stopwords at the
    * head ranks so the quality score sees a realistic stopword share.
    */
  private def words(n: Int, rnd: SplittableRandom): Array[String] = {
    val seen = mutable.LinkedHashSet[String](stopRanks.values.toSeq: _*)
    val made = ArrayBuffer[String]()
    while (made.length < n - stopRanks.size) {
      val w = Array.fill(3 + rnd.nextInt(7))(('a' + rnd.nextInt(26)).toChar).mkString
      if (seen.add(w)) made += w
    }
    val it = made.iterator
    Array.tabulate(n)(r => stopRanks.getOrElse(r, it.next()))
  }

  def write(spark: SparkSession, c: Corpus, path: String): Unit = {
    import spark.implicits._
    c.rows.toDF("doc_id", "text", "source").repartition(1)
      .write.mode("overwrite").parquet(path)
  }
}

/** The corpus job and its traced twin. */
object CorpusJob {
  val binTokens = 512
  val chunkTokens = 32
  val strideTokens = 24
  val groupDocs = 1000
  val minJaccardFs = 9000L

  /** One job, as a user writes it: near-dup cluster labels, then the
    * training layout, from the raw corpus parquet. Returns the time
    * (s) until the labels had landed.
    */
  def run(spark: SparkSession, input: String, out: String): Double = {
    val t0 = System.nanoTime()
    val docs = spark.read.parquet(input)
    Dedup.ccLabels(docs, Dedup.minhashMd5PairsUnsorted(docs))
      .write.mode("overwrite").parquet(s"$out/labels")
    val labelsS = (System.nanoTime() - t0) / 1e9
    Sinks.writePartitioned(Pipeline.prepareTrainingPieces(docs, binTokens = binTokens,
      chunkTokens = chunkTokens, strideTokens = strideTokens, groupDocs = groupDocs),
      s"$out/training", Seq("split", "source"))
    labelsS
  }

  /** The same job with every layer materialized before the next one
    * runs, each call wrapped in a span. Returns the materialized
    * verified pairs (cached; the caller unpersists) and per-layer
    * output counts.
    */
  def traced(spark: SparkSession, t: Tracer, input: String, out: String)
  : (DataFrame, Map[String, Long]) = {
    val counts = mutable.Map[String, Long]()
    var pairs: DataFrame = null
    t.span("job") {
      val docs = spark.read.parquet(input)
      pairs = t.span("dedup.pairs") {
        val p = Dedup.minhashMd5PairsUnsorted(docs).persist(StorageLevel.MEMORY_AND_DISK)
        counts("dedup.pairs.out_rows") = p.count()
        p
      }
      t.span("dedup.cc") {
        Dedup.ccLabels(docs, pairs).write.mode("overwrite").parquet(s"$out/labels")
      }
      val curated = t.span("pipeline.curate") {
        val c = Pipeline.curateFull(docs).persist(StorageLevel.MEMORY_AND_DISK)
        counts("pipeline.curate.out_rows") = c.count()
        c
      }
      val chunks = t.span("pipeline.chunk") {
        val c = TextAnalysis.chunkPieces(curated, chunkTokens, strideTokens,
            carryCols = Seq("source", "split"))
          .withColumn("pack_group", floor(col("doc_id") / lit(groupDocs.toDouble)).cast("long"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        counts("pipeline.chunk.out_rows") = c.count()
        c
      }
      t.span("pipeline.pack") {
        Sinks.writePartitioned(TextAnalysis.packByWindow(chunks,
            outerCols = Seq("split", "source"), groupCol = "pack_group",
            orderCols = Seq("doc_id", "chunk_idx"),
            tokenCol = "n_chunk_tokens", binTokens = binTokens)
          .select(col("doc_id"), col("chunk_idx"), col("source"), col("split"),
            col("n_chunk_tokens"), col("chunk_md5"), col("pack_group"),
            col("bin_id"), col("bin_offset")),
          s"$out/training", Seq("split", "source"))
      }
      chunks.unpersist(true)
      curated.unpersist(true)
    }
    counts("pipeline.pack.bins") = spark.read.parquet(s"$out/training")
      .select("split", "source", "bin_id").distinct().count()
    (pairs, counts.toMap)
  }

  /** Order-independent digest of both outputs. */
  def digest(spark: SparkSession, out: String): String = {
    def one(df: DataFrame): String = {
      val r = df.agg(count(lit(1)), sum(xxhash64(df.columns.sorted.map(col): _*).cast("decimal(38,0)")))
        .collect()(0)
      s"${r.getLong(0)}:${r.get(1)}"
    }
    one(spark.read.parquet(s"$out/labels")) + "/" + one(spark.read.parquet(s"$out/training"))
  }

  /** Untimed checks of one job's outputs against the planted truth.
    * `pairs`, when the run materialized them, are the verified pairs
    * the labels were computed from.
    */
  def check(spark: SparkSession, c: Corpus, out: String, pairs: Option[Array[(Long, Long)]],
            checks: Checks): Obj = {
    val labels = spark.read.parquet(s"$out/labels").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    checks.check("labels_cover_corpus", labels.size == c.docs && labels.keySet == (0 until c.docs)
      .map(_.toLong).toSet, s"${labels.size} labels for ${c.docs} docs")

    // plain Scala set Jaccard, in the operator's fixed point
    def jacFs(a: Long, b: Long): Long = {
      val x = c.tokenSets(a.toInt)
      val y = c.tokenSets(b.toInt)
      var i = 0; var j = 0; var inter = 0
      while (i < x.length && j < y.length) {
        if (x(i) == y(j)) { inter += 1; i += 1; j += 1 }
        else if (x(i) < y(j)) i += 1 else j += 1
      }
      math.floor(10000.0 * (inter.toDouble / (x.length + y.length - inter))).toLong
    }
    pairs.foreach { ps =>
      val bad = ps.iterator.filter { case (a, b) => a >= b || jacFs(a, b) < minJaccardFs }
        .take(3).toSeq
      checks.check("pairs_verify_jaccard", bad.isEmpty,
        s"pairs below J ${minJaccardFs / 1e4} or unordered: $bad")
      val split = ps.iterator.filter { case (a, b) => labels.get(a) != labels.get(b) }
        .take(3).toSeq
      checks.check("pairs_share_labels", split.isEmpty, s"paired docs with different labels: $split")
    }
    // a doc joins a cluster only through a verified pair, so every
    // member of a labeled cluster has a partner in it at J >= t
    val clusters = labels.toSeq.groupBy(_._2).values.map(_.map(_._1).sorted).filter(_.length > 1)
    val alone = clusters.iterator.flatMap(m => m.filter(d => !m.exists(x => x != d &&
      jacFs(math.min(d, x), math.max(d, x)) >= minJaccardFs))).take(3).toSeq
    checks.check("cluster_members_have_partner", alone.isEmpty,
      s"cluster members with no partner at J >= ${minJaccardFs / 1e4}: $alone")
    val lost = c.exactPairs.filter { case (a, b) => labels.get(a) != labels.get(b) }
    checks.check("exact_copies_share_labels", lost.isEmpty,
      s"${lost.length} of ${c.exactPairs.length} exact copies unlabeled, e.g. ${lost.take(3)}")

    // bins: offsets inside the budget, contiguous, one straddler at most
    val units = spark.read.parquet(s"$out/training")
      .select("split", "source", "bin_id", "bin_offset", "n_chunk_tokens").collect()
    val overfull = units.groupBy(r => (r.getString(0), r.getString(1), r.getLong(2))).filter {
      case (_, rs) =>
        val us = rs.map(r => (r.getLong(3), r.getLong(4))).sortBy(_._1)
        val inBin = us.dropRight(1).map(_._2).sum
        us.exists { case (o, n) => o < 0 || o >= binTokens || n < 1 || n > chunkTokens } ||
          us.sliding(2).exists { case Array(p, q) => q._1 != p._1 + p._2; case _ => false } ||
          inBin > binTokens
    }
    checks.check("bins_within_bin_tokens", units.nonEmpty && overfull.isEmpty,
      s"${units.length} units, bins over $binTokens tokens: ${overfull.keys.take(3)}")

    val sizes = labels.values.groupBy(identity).map(_._2.size)
    Obj(Seq(
      "verified_pairs" -> pairs.map(_.length),
      "dup_share" -> labels.count { case (d, r) => d != r }.toDouble / c.docs,
      "largest_cluster" -> (if (sizes.isEmpty) 0 else sizes.max),
      "clusters_gt1" -> sizes.count(_ > 1),
      "training_units" -> units.length))
  }

  /** The traffic the generator actually produced, measured. */
  def traffic(spark: SparkSession, c: Corpus, input: String): Obj = {
    val perms = 32
    val bands = 4
    val rows = perms / bands
    val sig = spark.read.parquet(input)
      .select(HashFunctions.md5MinhashSig(sort_array(array_distinct(tokens(col("text")))), perms)
        .as("sig"))
    val buckets = (0 until bands).map { b =>
      sig.groupBy(concat_ws("#", (0 until rows).map(r => element_at(col("sig"), b * rows + r + 1)): _*))
        .count().agg(max(col("count"))).collect()(0).getLong(0)
    }
    Obj(Seq(
      "docs" -> c.docs,
      "distinct_tokens" -> c.distinctTokens,
      "mean_doc_tokens" -> c.texts.map(_.count(_ == ' ') + 1).sum.toDouble / c.docs,
      "planted_clusters" -> c.clusters.length,
      "planted_largest_cluster" -> (if (c.clusters.isEmpty) 0 else c.clusters.map(_.length).max),
      "planted_copies" -> c.clusters.map(_.length - 1).sum,
      "exact_copies" -> c.exactPairs.length,
      "spam_docs" -> c.spam,
      "largest_band_bucket" -> buckets.max))
  }
}
