package graft

import org.apache.spark.sql.functions._
import graft.operators.Snapshot
import graft.sources.Sinks

class SnapshotSpec extends SparkSpec {
  import spark.implicits._

  private def oldSnap = Seq(
    (1L, "alpha beta"),   // unchanged
    (2L, "gamma delta"),  // changed in new
    (3L, "epsilon zeta")  // removed in new
  ).toDF("doc_id", "text")

  private def newSnap = Seq(
    (1L, "alpha beta"),   // unchanged
    (2L, "gamma delta2"), // changed
    (4L, "eta theta")     // added
  ).toDF("doc_id", "text")

  test("diff classifies added/removed/changed and drops unchanged docs") {
    val out = Snapshot.churn(oldSnap, newSnap).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("change"), r.getAs[String]("old_md5"), r.getAs[String]("new_md5")))
      .toMap
    assert(out.keySet == Set(2L, 3L, 4L), "unchanged doc 1 must not surface")
    assert(out(2L)._1 == "changed" && out(2L)._2.nonEmpty && out(2L)._3.nonEmpty
      && out(2L)._2 != out(2L)._3)
    assert(out(3L)._1 == "removed" && out(3L)._3 == "",
      "removed docs carry an empty new-side digest")
    assert(out(4L)._1 == "added" && out(4L)._2 == "",
      "added docs carry an empty old-side digest")
    val stats = Snapshot.diffStats(oldSnap, newSnap).collect()
      .map(r => r.getAs[String]("change") -> r.getAs[Long]("n_docs")).toMap
    assert(stats == Map("added" -> 1L, "changed" -> 1L, "removed" -> 1L))
  }

  test("diff of identical snapshots is empty; diff against empty classifies everything") {
    assert(Snapshot.churn(oldSnap, oldSnap).count() == 0)
    val empty = oldSnap.filter(lit(false))
    val allAdded = Snapshot.diffStats(empty, newSnap).collect()
      .map(r => r.getAs[String]("change") -> r.getAs[Long]("n_docs")).toMap
    assert(allAdded == Map("added" -> 3L))
    val allRemoved = Snapshot.diffStats(oldSnap, empty).collect()
      .map(r => r.getAs[String]("change") -> r.getAs[Long]("n_docs")).toMap
    assert(allRemoved == Map("removed" -> 3L))
  }

  test("diff of co-bucketed snapshots runs with ZERO exchange (the 100-TB layout claim)") {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    Sinks.writeBucketed(docs.filter(col("doc_id") % 10 =!= 3), "snap_old", "doc_id", 8)
    Sinks.writeBucketed(docs.filter(col("doc_id") % 10 =!= 7)
      .withColumn("text", when(col("doc_id") % 10 === 1,
        concat(col("text"), lit(" v2"))).otherwise(col("text"))),
      "snap_new", "doc_id", 8)
    val churn = Snapshot.churn(spark.table("snap_old"), spark.table("snap_new"))
    val plan = churn.queryExecution.executedPlan.toString
    assert(!plan.linesIterator.exists(_.contains("Exchange")),
      s"co-bucketed snapshot diff must not shuffle:\n$plan")
    // and the co-located plan computes the same churn as the raw frames
    val viaTables = churn.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val viaFrames = Snapshot.churn(
      docs.filter(col("doc_id") % 10 =!= 3),
      docs.filter(col("doc_id") % 10 =!= 7)
        .withColumn("text", when(col("doc_id") % 10 === 1,
          concat(col("text"), lit(" v2"))).otherwise(col("text"))))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(viaTables == viaFrames && viaTables.nonEmpty)
    spark.sql("DROP TABLE IF EXISTS snap_old")
    spark.sql("DROP TABLE IF EXISTS snap_new")
  }
}
