package graft

/** Operating-point sweep for the two-stage PQ recall gate: measures
  * recall@5 of [[graft.operators.Pq.adcTopKReranked]] vs the exact
  * cosine baseline at a range of re-rank shortlist depths on a given
  * corpus — the tool that DOCUMENTS why [[graft.operators.Pq.pqRecall]]
  * derives its shortlist from the corpus size (the 6-bit-code ADC
  * stage's precision is geometry-bound, so a FIXED shortlist covers a
  * shrinking corpus fraction as data grows and recall@k decays:
  * measured 0.78 at sf0.1 under the r10–r18 fixed 100). Prints one
  * line per depth; run at both gate SFs when re-tuning.
  *
  * Usage: tools/run.sh graft.PqOperatingPoint [sfDir] [shortlists...]
  */
object PqOperatingPoint {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val lists = if (args.length > 1) args.drop(1).map(_.toInt).toSeq
                else Seq(100, 200, 400, 800)
    val spark = Sessions.local()
    val emb = Tables.embeddings(spark, sfDir)
    val n = emb.count()
    lists.foreach { s =>
      val row = graft.operators.Pq.pqRecall(emb, shortlist = s, minRecallFs = 0L)
        .collect()(0)
      println(s"[pq-op] n=$n shortlist=$s recall_fs=${row.getAs[Long]("recall_fs")}")
    }
    spark.stop()
  }
}
