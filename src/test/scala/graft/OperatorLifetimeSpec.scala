package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Bpe, Dedup, IvfPq, KMeans, Pipeline, Pq, Similarity, TextAnalysis}

/** The intermediate-lifetime contract (stated in `Dedup.minhashLsh`'s
  * scaladoc): an operator that shares an intermediate across its
  * returned frame materializes it once, at build time, with an eager
  * `localCheckpoint()`. No CacheManager entry is ever created, so
  * nothing waits for a release; later actions read the checkpoint
  * instead of recomputing; the blocks go once the frame is
  * unreachable.
  */
class OperatorLifetimeSpec extends SparkSpec {

  private def cacheEmpty(what: String, when: String): Unit =
    assert(spark.sharedState.cacheManager.isEmpty,
      s"$what: a CacheManager entry is live $when")

  test("no operator leaves a CacheManager entry, built or acted on") {
    val docs = Tables.documents(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    val odd = docs.filter(col("doc_id") % 2 === 1)
    val even = docs.filter(col("doc_id") % 2 === 0)
    Dedup.writeNgramLshIndex(even, "lifetime_lsh", buckets = 4)
    val cb = Pq.train(emb)
    val cases: Seq[(String, () => DataFrame)] = Seq(
      ("minhashLsh", () => Dedup.minhashLsh(docs)),
      ("ngramLshPairs", () => Dedup.ngramLshPairs(docs)),
      ("ngramLshPairs via applyPairs", () => Dedup.applyPairs(docs, Dedup.ngramLshPairs(docs))),
      ("simhashPairs", () => Dedup.simhashPairs(docs)),
      ("chunkBandedPairs via simhashMd5Pairs", () => Dedup.simhashMd5Pairs(docs)),
      ("cosineLsh", () => Dedup.cosineLsh(emb)),
      ("ngramLshAgainst", () => Dedup.ngramLshAgainst(odd, even)),
      ("ngramLshAgainstIndex", () => Dedup.ngramLshAgainstIndex(odd, "lifetime_lsh")),
      ("ccLabels", () => Dedup.ccLabels(docs, Dedup.ngramLshPairs(docs))),
      ("ccLabels to a fixed point", () => Dedup.ccLabels(docs, Dedup.ngramLshPairs(docs), iters = 50)),
      ("starCcLabels", () => Dedup.starCcLabels(docs, Dedup.ngramLshPairs(docs))),
      ("ccLabelsExactFirst", () => Dedup.ccLabelsExactFirst(docs, Dedup.ngramLshPairs(_),
        (d, p) => Dedup.ccLabels(d, p, iters = 50))),
      ("minhashMd5PairsUnsorted via applyPairs", () =>
        Dedup.applyPairs(docs, Dedup.minhashMd5PairsUnsorted(docs))),
      ("ccLabels over minhashMd5PairsUnsorted", () =>
        Dedup.ccLabels(docs, Dedup.minhashMd5PairsUnsorted(docs))),
      ("semanticDedup", () => Dedup.semanticDedup(emb, k = 4)),
      ("semanticDedupGate", () => Dedup.semanticDedupGate(emb, k = 4)),
      ("lshTopK", () => Similarity.lshTopK(emb)),
      ("ivfTopK", () => Similarity.ivfTopK(emb)),
      ("annRecall", () => Similarity.annRecall(emb)),
      ("ivfPqTopK", () => IvfPq.ivfPqTopK(emb)),
      ("adcTopK", () => Pq.adcTopK(emb, cb)),
      ("adcTopKReranked", () => Pq.adcTopKReranked(emb, cb)),
      ("tfidfTopK", () => TextAnalysis.tfidfTopK(docs)),
      ("lmScore", () => TextAnalysis.lmScore(docs, even)),
      ("passageDedup", () => TextAnalysis.passageDedup(docs)),
      ("spanDedupApply", () => TextAnalysis.spanDedupApply(docs)),
      ("Bpe.encode", () => Bpe.encode(docs, Bpe.train(docs, numMerges = 8))),
      ("Pipeline.curate", () => Pipeline.curate(docs)),
      ("packByWindow via prepareTrainingPieces", () => Pipeline.prepareTrainingPieces(docs)),
      ("KMeans.lloyd metrics", () => {
        val (assigned, _) = KMeans.lloyd(emb, "vec_id", "embedding", 4, 2, 64)
        KMeans.metrics(assigned)
      })
    )
    try for ((name, build) <- cases) {
      spark.sharedState.cacheManager.clearCache()
      val result = build()
      cacheEmpty(name, "right after the build")
      result.count() // the caller's action
      cacheEmpty(name, "after the caller's action")
    } finally Seq("bands", "grams", "meta").foreach(t => spark.sql(s"DROP TABLE IF EXISTS lifetime_lsh_$t"))
  }

  test("a second action on a pair result reads the checkpoint, not the parquet") {
    val docs = Tables.documents(spark, sfDir)
    val generators: Seq[(String, DataFrame => DataFrame)] = Seq(
      "ngramLshPairs" -> (d => Dedup.ngramLshPairs(d)),
      "minhashMd5PairsUnsorted" -> (d => Dedup.minhashMd5PairsUnsorted(d)))
    for ((name, generate) <- generators) {
      val pairs = generate(docs)
      val first = pairs.collect().toSet
      val (second, plans) = ActionPlans.record(spark)(pairs.collect().toSet)
      assert(second == first, s"$name: the second action returned different pairs")
      assert(plans.nonEmpty, s"$name: the second action recorded no query execution")
      val scans = plans.map(_.plan).filter(_.contains("Scan parquet"))
      assert(scans.isEmpty, s"$name: the second action scanned the input again:\n${scans.mkString("\n")}")
    }
  }

  test("a dropped result's checkpoint blocks are freed once it is unreachable") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // built and acted on inside a method, so no local keeps the frame
    def buildAndAct(): (Long, Boolean) = {
      val pairs = Dedup.ngramLshPairs(Tables.documents(spark, sfDir))
      (pairs.count(), sc.getPersistentRDDs.keySet != before)
    }
    val (n, registered) = buildAndAct()
    assert(n > 0L, "fixture corpus must yield near-dup pairs")
    assert(registered, "the build registered no checkpoint RDD")
    val deadline = System.nanoTime() + 30000000000L
    while (sc.getPersistentRDDs.keySet != before && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(200)
    }
    assert(sc.getPersistentRDDs.keySet == before,
      s"checkpoint RDDs outlived their frame: ${(sc.getPersistentRDDs.keySet -- before).mkString(", ")}")
  }
}
