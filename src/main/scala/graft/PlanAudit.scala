package graft

import org.apache.spark.sql.execution.ExplainMode

/** Prints the formatted physical plan of selected queries — the
  * evidence feed for PERF.md's pushdown/broadcast/shuffle audit.
  * Usage: tools/run.sh graft.PlanAudit [sfDir] [queryKey ...]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val keys = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = Sessions.local()
    keys.foreach { k =>
      SparkEntry.queries.get(k).foreach { fn =>
        println(s"\n========== $k ==========")
        println(fn(spark, dir).queryExecution.explainString(ExplainMode.fromString("formatted")))
      }
    }
    spark.stop()
  }
}
