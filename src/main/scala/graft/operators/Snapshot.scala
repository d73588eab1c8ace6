package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus snapshot diffing — the incremental-crawl bookkeeping
  * primitive: given two snapshots of a document corpus, classify every
  * document as `added` (in new only), `removed` (in old only), or
  * `changed` (in both, content digest differs). Unchanged docs are
  * dropped — at 100 TB the diff output is proportional to the CHURN,
  * not the corpus, which is what makes snapshot-over-snapshot
  * pipelines (re-crawl ingestion, takedown audits, index maintenance
  * feeds) tractable.
  *
  * Plan shape: each side reduces map-side to a slim (id, 32-char md5)
  * projection before the join — text never rides the shuffle — and the
  * classification is one full-outer equi-join on the id. When both
  * snapshots are doc_id-bucketed tables
  * ([[graft.sources.Sinks.writeBucketed]], the layout
  * [[Pipeline.curateToBucketed]] already writes), the join reads the
  * bucketing from the table layout and the whole diff runs with ZERO
  * exchange (spec-pinned in SnapshotSpec) — the 100-TB shape: a daily
  * diff of co-bucketed snapshots is a partition-local merge, not a
  * corpus-wide shuffle.
  */
object Snapshot {

  /** The diff frame: (doc_id, change, old_md5, new_md5), churn rows
    * only, unordered. Digests are non-null empty-string-coalesced so
    * the frame is engine-comparable (the driver's hash compare and
    * DuckDB agree on '' where a side is absent).
    */
  def churn(oldSnap: DataFrame, newSnap: DataFrame,
            idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val o = oldSnap.select(col(idCol).as("doc_id"), md5(col(textCol)).as("old_md5"))
    val n = newSnap.select(col(idCol).as("doc_id"), md5(col(textCol)).as("new_md5"))
    o.join(n, Seq("doc_id"), "full_outer")
      .withColumn("change",
        when(col("old_md5").isNull, lit("added"))
          .when(col("new_md5").isNull, lit("removed"))
          .when(col("old_md5") =!= col("new_md5"), lit("changed")))
      .filter(col("change").isNotNull)
      .select(col("doc_id"), col("change"),
        coalesce(col("old_md5"), lit("")).as("old_md5"),
        coalesce(col("new_md5"), lit("")).as("new_md5"))
  }

  /** Churn counts by change kind — the monitoring twin of [[churn]]
    * (a re-crawl that suddenly reports 40% `removed` is a crawler
    * defect, not a corpus event; this is the frame that alert fires
    * from). Same join, aggregated to ≤3 rows.
    */
  def diffStats(oldSnap: DataFrame, newSnap: DataFrame,
                idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    churn(oldSnap, newSnap, idCol, textCol)
      .groupBy(col("change")).agg(count(lit(1)).as("n_docs"))
      .orderBy(col("change"))
}
