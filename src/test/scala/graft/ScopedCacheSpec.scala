package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Pipeline, Similarity, TextAnalysis}

/** The structural cache-ownership contract (ScopedCache): operators
  * that persist intermediates across their returned lazy frame must
  * release them after the caller's FIRST terminal action — verified
  * against the session's CacheManager, not by convention.
  */
class ScopedCacheSpec extends SparkSpec {

  // the listener bus is asynchronous: release lands shortly after the
  // action returns, so poll instead of asserting immediately (the
  // 30 s ceiling is insurance against this host's documented 3–10×
  // external-load stalls, not an expected wait)
  private def awaitEmptyCache(what: String): Unit = {
    var waited = 0
    while (!spark.sharedState.cacheManager.isEmpty && waited < 300) {
      Thread.sleep(100); waited += 1
    }
    assert(spark.sharedState.cacheManager.isEmpty,
      s"$what: an operator-owned persist survived the caller's terminal action")
  }

  test("no operator-owned persist survives the caller's first terminal action") {
    val docs = Tables.documents(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    val cases: Seq[(String, () => DataFrame)] = Seq(
      ("minhashLsh", () => Dedup.minhashLsh(docs)),
      ("ngramLshPairs", () => Dedup.ngramLshPairs(docs)),
      ("ngramLshPairs via applyPairs", () => Dedup.applyPairs(docs, Dedup.ngramLshPairs(docs))),
      ("simhashPairs", () => Dedup.simhashPairs(docs)),
      ("cosineLsh", () => Dedup.cosineLsh(emb)),
      ("ngramLshAgainst", () => Dedup.ngramLshAgainst(
        docs.filter(col("doc_id") % 2 === 1), docs.filter(col("doc_id") % 2 === 0))),
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
      ("lshTopK", () => Similarity.lshTopK(emb)),
      ("ivfTopK", () => Similarity.ivfTopK(emb)),
      ("annRecall", () => Similarity.annRecall(emb)),
      ("tfidfTopK", () => TextAnalysis.tfidfTopK(docs)),
      ("Pipeline.curate", () => Pipeline.curate(docs)),
      ("KMeans.lloyd metrics", () => {
        val (assigned, _) = graft.operators.KMeans.lloyd(emb, "vec_id", "embedding", 4, 2, 64)
        graft.operators.KMeans.metrics(assigned)
      })
    )
    for ((name, build) <- cases) {
      spark.sharedState.cacheManager.clearCache()
      build().count() // the caller's one terminal action
      awaitEmptyCache(name)
    }
  }

  test("two concurrent sessions: an action in one never releases the other's operator caches") {
    val s2 = spark.newSession()
    spark.sharedState.cacheManager.clearCache()
    // DIFFERENT inputs per session so the shared CacheManager cannot
    // dedup the plans (identical plans share entries by design — the
    // documented cross-release case); this pins session isolation of
    // the release listeners themselves. Both operators persist their
    // shingle frames at BUILD time (cacheQuery registers eagerly).
    val r1 = Dedup.ngramLshPairs(Tables.documents(spark, sfDir).filter(col("doc_id") % 2 === 0))
    val r2 = Dedup.ngramLshPairs(Tables.documents(s2, sfDir).filter(col("doc_id") % 2 === 1))
    // session 2 acts: its listener fires on s2's bus and releases
    // r2's caches — r1's (session 1) must SURVIVE
    r2.count()
    Thread.sleep(1000) // let s2's async release land
    assert(!spark.sharedState.cacheManager.isEmpty,
      "session 1's operator cache must survive session 2's action")
    // session 1's own action drains the rest: empty ⟺ each session
    // released exactly its own entries
    r1.count()
    awaitEmptyCache("concurrent sessions")
  }

  test("release also fires when the action consumes a frame DERIVED from the operator result") {
    val docs = Tables.documents(spark, sfDir)
    spark.sharedState.cacheManager.clearCache()
    // the operator result rides into the action as a subtree
    val survivors = Dedup.minhashLsh(docs)
      .filter(col("jac_fs") >= 9500L)
      .select(col("id_b")).distinct()
    survivors.count()
    awaitEmptyCache("minhashLsh via derived frame")
  }
}
