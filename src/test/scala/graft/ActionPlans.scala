package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The query executions a block runs, in order: the eager
  * `localCheckpoint` jobs an operator runs while it is built, its
  * driver-side collects, and the caller's actions on the result.
  *
  * A plan guard that reads only the returned frame's plan sees a
  * checkpointed intermediate as one `LogicalRDD` leaf, so a sort or an
  * exchange inside it would pass unseen; guards over such operators
  * read every plan recorded here instead. Each recorded execution's
  * `optimizedPlan` and `executedPlan` hold the subtree it ran,
  * including the one a checkpoint job materialized.
  */
object ActionPlans {

  /** One recorded execution: the action's name (`localCheckpoint`,
    * `collect`, `count`, a write's save mode, ...) and its query.
    */
  final case class Ran(funcName: String, qe: QueryExecution) {
    /** The executed plan as text, AQE's final plan only (its initial
      * plan would count every node twice).
      */
    def plan: String = qe.executedPlan.toString.split("== Initial Plan ==").head
  }

  /** Runs `body` and returns its result with every query execution it
    * ran. Listener delivery is asynchronous, so a marker query runs
    * after `body`, and its delivery (same bus, in order) means every
    * execution before it has been delivered.
    */
  def record[T](spark: SparkSession)(body: => T): (T, Seq[Ran]) = {
    val marker = s"action_plans_marker_${System.nanoTime()}"
    val seen = new ConcurrentLinkedQueue[Ran]()
    @volatile var markerSeen = false
    val listener = new QueryExecutionListener {
      private def add(funcName: String, qe: QueryExecution): Unit =
        if (qe.analyzed.output.exists(_.name == marker)) markerSeen = true
        else seen.add(Ran(funcName, qe))
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        add(funcName, qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        add(funcName, qe)
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      spark.range(1).toDF(marker).collect()
      val deadline = System.nanoTime() + 30000000000L
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(20)
      assert(markerSeen, "the query-execution listener missed the marker query within 30 s")
      (out, seen.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}
