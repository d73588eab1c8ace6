package graft

/** Per-round benchmark: runs every SparkEntry query at
  * SPARK_GRAFT_SF_DIR and prints one JSON line.
  *
  * Timing forces FULL evaluation via a noop-format write — a bare
  * count() would let Spark satisfy projection-heavy queries from
  * parquet footers and prune the actual work. Failures are reported
  * as -1.0 with the key listed in "errors" (never silently timed).
  *
  * Each query runs SPARK_GRAFT_BENCH_RUNS times (default 3) and the
  * MINIMUM is reported: this host carries external CPU noise that
  * inflates single readings 3–10× (see PERF.md), so per-round medians
  * of one run are a lottery — the min across runs is the stable
  * code-attributable number and makes rounds comparable. Every run
  * is logged to stderr as `[bench] <key> run <i>: <s> s`;
  * SPARK_GRAFT_BENCH_KEYS=a,b,c times only those keys.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = Sessions.local()
    val errors = scala.collection.mutable.ArrayBuffer[String]()
    // SPARK_GRAFT_BENCH_KEYS=a,b,c isolates keys when profiling a hot
    // operator on this noisy host (unset = the full driver contract)
    val only = sys.env.get("SPARK_GRAFT_BENCH_KEYS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only.fold(SparkEntry.queries)(ks => SparkEntry.queries.filter(ks contains _._1))
    // Locale.ROOT: f"" uses the JVM default locale — a comma-decimal
    // locale would emit invalid JSON and silently break the harness
    def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      val times = (1 to runs).map { i =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable => System.err.println(s"[bench] $name: $e"); false }
        // drop per-operator persisted frames so queries (and repeat
        // runs) time independently — no run rides a predecessor's cache
        spark.sharedState.cacheManager.clearCache()
        val sec = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
        System.err.println(s"[bench] $name run $i: ${fmt(sec)} s")
        sec
      }
      if (times.exists(_ < 0)) errors += name
      name -> (if (times.forall(_ >= 0)) times.min else -1.0)
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val errs = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"errors":$errs,"sf":"$sfDir","runs":$runs}"""
    println(line)
    // ALSO land the metrics in a committed file: the round driver
    // parses the process tail, and twice (r9, r10) a stray log line
    // near the final stdout line broke that regex ("parsed": null) —
    // a machine-readable twin in-repo makes every round's bench
    // auditable regardless of the driver's capture
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LATEST.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] metrics file write failed: $e") }
    // r22 measurement-bug fix (documented in OPTIMIZATION_r22.md): the
    // driver's parse recorded "parsed": null EVERY round. r11/r15
    // blamed tail truncation and appended a second, family-rolled-up
    // JSON line — but r10's tail held a COMPLETE per-key line and
    // still parsed null. The actual breaker was sbt's LoggedOutput
    // "[info] " prefix on every forked stdout line (fixed in
    // build.sbt via run/outputStrategy := StdoutOutput). The family
    // line is therefore retired: it never parsed, and if it ever did
    // it would present renamed query keys to the driver, which the
    // contract forbids. stdout now carries exactly ONE JSON line —
    // the per-key contract line above — starting at column 0.
    spark.stop()
  }
}
