package graft

/** Whole-suite plan regression guard: no operator may introduce an
  * UNBOUNDED cartesian / nested-loop join. One allowlisted query
  * carries one by design, with a bounded build side:
  *
  *  - `sim_topk_cosine`: the brute ANN baseline broadcasts its
  *    BOUNDED query set (nQueries rows) against the corpus with a
  *    non-equi predicate — cost O(queries × corpus), the declared
  *    exact baseline the approximate paths are gated against.
  *
  * (`sim_recall` used to be allowlisted for two broadcast cross joins
  * of 1-row aggregate frames; since it evaluates its gate eagerly for
  * cache hygiene, the returned frame is a LocalRelation and those
  * bounded joins run inside the operator, out of this guard's sight.)
  *
  * Everything else — every join in the relational suite, every LSH
  * candidate generator, the temporal joins — must stay hash/merge
  * shaped. A future operator that accidentally plans a cross join
  * (e.g. a join key typo turning an equi-join into a filter) fails
  * here with its plan printed.
  */
class PlanGuardSpec extends SparkSpec {

  /** `sim_pq_topk` shares `sim_topk_cosine`'s declared shape: the ADC
    * scorer broadcasts its BOUNDED query set (nQueries rows, each
    * carrying its m·ks lookup table) against the code frame with the
    * same non-equi self-exclusion predicate.
    */
  private val boundedByDesign = Set("sim_topk_cosine", "sim_pq_topk")

  test("no unbounded cartesian or nested-loop join anywhere in the query suite") {
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
      val hasCross = plan.contains("CartesianProduct") || plan.contains("BroadcastNestedLoop")
      if (boundedByDesign(name))
        assert(hasCross, s"$name is allowlisted for a bounded cross join but has none — " +
          "its plan changed; re-audit and update the allowlist")
      else
        assert(!hasCross, s"$name plans an unbounded cross join:\n$plan")
    }
  }

  test("no pair, label, chunk or churn entry point plans a global sort") {
    // these operators return unordered rows; only the gate
    // (SparkEntry.queries) orders the keys whose oracle compares rows
    // by position
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.plans.logical.Sort
    import org.apache.spark.sql.functions.col
    import graft.operators.{Dedup, Multimodal, Pipeline, Snapshot, TextAnalysis}
    val docs = Tables.documents(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    val odd = docs.filter(col("doc_id") % 2 === 1)
    val even = docs.filter(col("doc_id") % 2 === 0)
    Dedup.writeNgramLshIndex(even, "plan_guard_lsh", buckets = 4)
    val entries: Seq[(String, () => DataFrame)] = Seq(
      "Dedup.minhashMd5PairsUnsorted" -> (() => Dedup.minhashMd5PairsUnsorted(docs)),
      "Dedup.ngramLshPairs" -> (() => Dedup.ngramLshPairs(docs)),
      "Dedup.ngramJaccardPairs" -> (() => Dedup.ngramJaccardPairs(docs)),
      "Dedup.minhashLsh" -> (() => Dedup.minhashLsh(docs)),
      "Dedup.simhashPairs" -> (() => Dedup.simhashPairs(docs)),
      "Dedup.simhashMd5Pairs" -> (() => Dedup.simhashMd5Pairs(docs)),
      "Dedup.chunkBandedPairs" -> (() =>
        Dedup.chunkBandedPairs(Dedup.simhashMd5Fingerprints(docs), maxHamming = 3)),
      "Multimodal.imagePhashPairs" -> (() =>
        Multimodal.imagePhashPairs(Multimodal.imagePayloads(docs.filter(col("doc_id") < 50L)))),
      "Dedup.cosineLsh" -> (() => Dedup.cosineLsh(emb)),
      "Dedup.embedCosine" -> (() => Dedup.embedCosine(emb)),
      "Dedup.ngramLshAgainst" -> (() => Dedup.ngramLshAgainst(odd, even)),
      "Dedup.ngramLshAgainstIndex" -> (() => Dedup.ngramLshAgainstIndex(odd, "plan_guard_lsh")),
      "Dedup.ccLabels" -> (() => Dedup.ccLabels(docs, Dedup.ngramLshPairs(docs))),
      "Dedup.starCcLabels" -> (() => Dedup.starCcLabels(docs, Dedup.ngramLshPairs(docs))),
      "Dedup.ccLabelsExactFirst" -> (() =>
        Dedup.ccLabelsExactFirst(docs, Dedup.ngramLshPairs(_), Dedup.ccLabels(_, _))),
      "TextAnalysis.chunkPieces" -> (() => TextAnalysis.chunkPieces(docs)),
      "TextAnalysis.contaminationAcct" -> (() =>
        TextAnalysis.contaminationAcct(docs, docs.filter(col("doc_id") % 50 === 0))),
      "Pipeline.prepareTrainingPieces" -> (() => Pipeline.prepareTrainingPieces(docs)),
      "Snapshot.churn" -> (() => Snapshot.churn(even, docs)))
    try {
      val sorted = entries.filter { case (_, build) =>
        build().queryExecution.optimizedPlan.exists {
          case s: Sort => s.global
          case _ => false
        }
      }.map(_._1)
      assert(sorted.isEmpty, s"entry points planning a global sort: ${sorted.mkString(", ")}")
    } finally {
      // built-but-never-acted results keep their operator caches
      spark.sharedState.cacheManager.clearCache()
      Seq("bands", "grams", "meta").foreach(t => spark.sql(s"DROP TABLE IF EXISTS plan_guard_lsh_$t"))
    }
  }
}
