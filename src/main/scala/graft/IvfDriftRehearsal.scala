package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.{cosineWithNorms, l2norm, toDoubleArray}
import graft.operators.Similarity

/** Scale rehearsal for the stored-IVF CODEBOOK-DRIFT lifecycle
  * ([[Similarity.ivfDriftReport]] / [[Similarity.reclusterIvfIndex]])
  * at 100k+ vectors — the spec pins the semantics on a planted
  * 3-blob fixture; this run shows the drift rule firing and the
  * recluster paying for itself at index scale, on the same synthetic
  * embedding corpus every other vector rehearsal uses
  * ([[ScaleRehearsal.synthesizeEmbeddings]], deterministic, no RNG
  * state).
  *
  * Scenario (the crawl-pipeline failure mode the r9 verdict named):
  * build at n vectors with the [[Similarity.suggestIvfGeometry]]
  * sizing, then append n/5 vectors from a SHIFTED distribution
  * (+2.0 on every component — a new modality/domain entering the
  * crawl). The frozen build-time codebook has no centroid near the
  * new mass, so the appends smear across whichever build cells
  * border the shifted region: occupancy skews, mean assign-distance
  * climbs, and a shifted query's true neighbors scatter over many
  * lists — at a fixed small nprobe its recall vs exact truth drops
  * SILENTLY. After [[Similarity.reclusterIvfIndex]] the refreshed
  * codebook dedicates cells to the new mass and the same-nprobe
  * recall recovers; the drift baseline resets to the new build.
  *
  * Self-checking (exit 1 on any failed check): unit growth at build,
  * drift rule fires after the shifted append, recall(after) >
  * recall(before) at equal nprobe, rule quiet after recluster.
  *
  *   tools/run.sh graft.IvfDriftRehearsal [nVecs] [outBase]
  */
object IvfDriftRehearsal {

  def main(args: Array[String]): Unit = {
    val nVecs = args.lift(0).map(_.toLong).getOrElse(100000L)
    val outBase = args.lift(1).getOrElse("tmp/ivf_drift_rehearsal")
    val nAppend = nVecs / 5
    // capped at the shifted-batch size: a fixed 500 with nAppend < 500
    // would overcount the recall denominator (nQueries*k) and deflate
    // both recall numbers at small scales
    val nQueries = math.min(500L, nAppend)
    val nprobe = 8
    val k = 10
    val dim = 64
    Rehearsals.run("ivf_drift", Some(outBase)) { run =>
      val spark = run.spark

      val name = "driftidx"
      val (nlist, _) = Similarity.suggestIvfGeometry(nVecs)
      System.err.println(s"[ivf_drift] n=$nVecs nlist=$nlist append=$nAppend nprobe=$nprobe")

      val base = ScaleRehearsal.synthesizeEmbeddings(spark, nVecs, dim)
      run.timed("build")(Similarity.writeIvfIndex(base, name, dim = dim, nlist = nlist,
        iters = 2, buckets = 64))
      val r0 = Similarity.ivfDriftReport(spark, name).head()

      // the shifted batch: same generator, new id space, +2.0 on every
      // component — far outside the build's [-1, 1] cube
      val shifted = ScaleRehearsal.synthesizeEmbeddings(spark, nAppend, dim)
        .select((col("vec_id") + 10000000L).as("vec_id"),
          transform(col("embedding"), x => (x + lit(2.0f)).cast("float")).as("embedding"))
      run.timed("append")(Similarity.appendToIvfIndex(shifted, name))
      val r1 = Similarity.ivfDriftReport(spark, name).head()
      val needsAfterAppend = Similarity.ivfNeedsRecluster(spark, name)

      // recall of the stored index vs EXACT truth over the same stored
      // corpus, for queries from the shifted mass; truth ranks exactly
      // as ivfAgainstIndex does (floor-1e4 cosine, c_id tie-break)
      val queries = shifted.filter(col("vec_id") < 10000000L + nQueries)
      def recallAtNprobe(): Double = {
        val got = Similarity.ivfAgainstIndex(queries, name, nprobe = nprobe, k = k)
          .select(col("q_id"), col("c_id"))
        val q = queries.select(col("vec_id").as("q_id"),
            toDoubleArray(col("embedding")).as("qv"))
          .withColumn("qn", l2norm(col("qv")))
        val byQ = Window.partitionBy(col("q_id")).orderBy(col("cos_fs").desc, col("c_id"))
        val truth = spark.table(s"${name}_lists").crossJoin(broadcast(q))
          .filter(col("c_id") =!= col("q_id"))
          .select(col("q_id"), col("c_id"),
            floor(lit(10000.0) * cosineWithNorms(col("qv"), col("cv"), col("qn"), col("cn")))
              .as("cos_fs"))
          .withColumn("rnk", row_number().over(byQ))
          .filter(col("rnk") <= k)
          .select(col("q_id"), col("c_id"))
        val hit = got.join(truth, Seq("q_id", "c_id"), "left_semi").count()
        hit.toDouble / (nQueries.toLong * k)
      }
      val recallBefore = run.timed("recall_drifted")(recallAtNprobe())
      run.timed("recluster")(Similarity.reclusterIvfIndex(spark, name, iters = 2))
      val recallAfter = run.timed("recall_reclustered")(recallAtNprobe())
      val r2 = Similarity.ivfDriftReport(spark, name).head()
      val needsAfterRecluster = Similarity.ivfNeedsRecluster(spark, name)

      run.check("build_unit_growth", math.abs(r0.getAs[Double]("dist_growth") - 1.0) < 1e-9)
      run.check("drift_rule_fires", needsAfterAppend)
      run.check("recall_degrades_then_recovers", recallAfter > recallBefore)
      run.check("rule_quiet_after_recluster", !needsAfterRecluster)
      run.check("corpus_preserved", spark.table(s"${name}_lists").count() == nVecs + nAppend)
      Seq("n" -> nVecs, "n_append" -> nAppend, "nlist" -> nlist, "nprobe" -> nprobe,
        "recall_before" -> recallBefore, "recall_after" -> recallAfter,
        "dist_growth_drifted" -> r1.getAs[Double]("dist_growth"),
        "skew_growth_drifted" -> r1.getAs[Double]("skew_growth"),
        "dist_growth_reclustered" -> r2.getAs[Double]("dist_growth"))
    }
  }
}
