package graft

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The rehearsal runner: the at-scale mains (`*Rehearsal`) run their
  * body through [[Rehearsals.run]], which owns the session, the timed
  * phases, the checks, the one JSON report line and the exit code.
  *
  * Spark managed tables live under the session's warehouse dir, but a
  * FRESH session starts with an empty in-memory catalog: `DROP TABLE
  * IF EXISTS` is a no-op against tables a previous run created, yet
  * their data directories survive on disk, so the next CTAS fails
  * with LOCATION_ALREADY_EXISTS. The runner therefore clears a
  * rehearsal's output dir BEFORE the session starts, so every
  * rehearsal is re-runnable without manual cleanup.
  */
object Rehearsals {

  /** Recursive delete; no-op when the path doesn't exist. */
  def rmTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(q => java.nio.file.Files.delete(q))
      finally walk.close()
    }
  }

  /** One rehearsal's timed phases and checks, in the order they ran. */
  final class Run(val spark: SparkSession, name: String) {
    val phases = ArrayBuffer.empty[(String, Double)]
    val checks = ArrayBuffer.empty[(String, Boolean)]

    /** Times `body` as `phase`. The cache is cleared first, so no
      * phase rides a predecessor's persisted frames.
      */
    def timed[T](phase: String)(body: => T): T = {
      spark.sharedState.cacheManager.clearCache()
      val t0 = System.nanoTime()
      val out = body
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[$name] $phase%-24s $sec%8.2f s")
      phases += (phase -> sec)
      out
    }

    /** Records a check; any failed check fails the rehearsal. */
    def check(check: String, ok: Boolean): Unit = {
      if (!ok) System.err.println(s"[$name] check failed: $check")
      checks += (check -> ok)
    }
  }

  /** Renders a report value: doubles to 2 decimals (Locale.ROOT, so a
    * comma-decimal locale cannot break the JSON), strings quoted, a
    * sequence of (name, value) pairs as an object, any other sequence
    * as an array.
    */
  private def json(v: Any): String = v match {
    case d: Double => String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))
    case s: String => "\"" + s + "\""
    case xs: Seq[_] if xs.nonEmpty && xs.forall { case (_: String, _) => true; case _ => false } =>
      xs.map { case (k, x) => json(k) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(json).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Runs `body` on `spark` and returns its report line and exit code:
    * 0 when every check passed, 1 when one failed or the body threw
    * (no report then; the exception goes to stderr). `stop` runs in
    * every case. `body` returns the rehearsal's own size and truth
    * fields for the report.
    */
  def execute(name: String, spark: SparkSession, cpus: Int, stop: () => Unit)
             (body: Run => Seq[(String, Any)]): (Option[String], Int) = {
    val run = new Run(spark, name)
    try {
      val fields = body(run)
      val pass = run.checks.forall(_._2)
      val line = json(Seq("rehearsal" -> name) ++ fields ++ Seq(
        "all_checks_pass" -> pass, "checks" -> run.checks.toSeq,
        "phases" -> run.phases.toSeq, "cpus" -> cpus))
      (Some(line), if (pass) 0 else 1)
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[$name] failed:")
        e.printStackTrace()
        (None, 1)
    } finally stop()
  }

  /** Runs a rehearsal main: clears `outBase` (when given) and keeps its
    * managed tables in `outBase/warehouse`, else in a fresh temporary
    * warehouse; prints the report line and exits 1 unless every check
    * passed.
    */
  def run(name: String, outBase: Option[String])(body: Run => Seq[(String, Any)]): Unit = {
    outBase.foreach(rmTree)
    val cpus = Sessions.defaultCpus
    val spark = outBase.fold(Sessions.local(cpus))(b => Sessions.local(cpus, s"$b/warehouse"))
    val (line, code) = execute(name, spark, cpus, () => spark.stop())(body)
    line.foreach(println)
    if (code != 0) sys.exit(code)
  }
}
