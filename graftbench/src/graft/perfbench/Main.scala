package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's JVM side: one workload, one seed, one run.
  *
  *   Main --workload corpus_dupheavy|corpus_unique|stream_kmeans --seed N
  *        --seconds S --trace 0|1 --work DIR --out RESULT.json
  *   Main --selftest --seed N --work DIR --out RESULT.json
  *
  * Writes the result (metrics, checks, traffic, spans) as one JSON
  * object to RESULT.json; `graftbench/run.py` turns it into the
  * benchmark's output line.
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, out: String, selftest: Boolean)

  private val setups = 3

  /** Offered rates of the stream workload that bracket saturation, as
    * (points/s, share of the run): a fixed low rate for latency and
    * per-batch cost, and a top rate above saturation for throughput.
    */
  private val rates = Seq(("low", 2000.0, 0.75), ("top", 400000.0, 0.25))

  def main(args: Array[String]): Unit = {
    val kv = args.indices.dropRight(1).collect {
      case i if args(i).startsWith("--") && !args(i + 1).startsWith("--") => args(i).drop(2) -> args(i + 1)
    }.toMap
    val o = Opts(kv.getOrElse("workload", ""), kv.getOrElse("seed", "1").toLong,
      kv.getOrElse("seconds", "10").toDouble, kv.getOrElse("trace", "0") == "1",
      kv("work"), kv("out"), args.contains("--selftest"))
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(math.min(4, Runtime.getRuntime.availableProcessors))
    val result =
      try {
        if (o.selftest) SelfTest.run(o, cpus)
        else o.workload match {
          case "corpus_dupheavy" => corpus(o, cpus, CorpusShape.dupheavy)
          case "corpus_unique" => corpus(o, cpus, CorpusShape.unique)
          case "stream_kmeans" => stream(o, cpus)
          case w => throw new IllegalArgumentException(s"unknown workload '$w'")
        }
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          Obj(Seq("error" -> e.toString))
      }
    val stamp = Obj(Seq("workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
      "trace" -> o.trace, "spark_graft_cpus" -> cpus,
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "java" -> System.getProperty("java.version"),
      "jvm" -> System.getProperty("java.vm.name"),
      "spark" -> org.apache.spark.SPARK_VERSION,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576))
    Files.writeString(Paths.get(o.out), Json.render(Obj(Seq("stamp" -> stamp)) ++ result))
    System.exit(0)
  }

  /** Session start, extension install and a light warm-up (a kernel
    * projection and a parquet round trip), `setups` times; the last
    * session stays up. Returns it with the median timings.
    */
  private def setup(o: Opts, cpus: Int): (SparkSession, GroupListener, Map[String, Double]) = {
    val times = ArrayBuffer[(Double, Double, Double)]()
    var spark: SparkSession = null
    (1 to setups).foreach { i =>
      if (spark != null) Session.stop(spark)
      val t0 = System.nanoTime()
      spark = Session.start(cpus, o.work)
      val t1 = System.nanoTime()
      require(spark.catalog.functionExists("graft_jaccard_fs"), "graft kernels not installed")
      val t2 = System.nanoTime()
      val dir = s"${o.work}/warm$i"
      spark.range(2000).selectExpr("id",
          "graft_jaccard_fs(array(string(id % 7), string(id)), array(string(id % 5), string(id))) j")
        .write.parquet(dir)
      require(spark.read.parquet(dir).count() == 2000, "warm-up round trip lost rows")
      val t3 = System.nanoTime()
      times += (((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9))
    }
    val listener = new GroupListener
    spark.sparkContext.addSparkListener(listener)
    (spark, listener, Map(
      "setup_s" -> Stats.median(times.map(t => t._1 + t._2 + t._3).toSeq),
      "setup.cold_s" -> (times.head._1 + times.head._2 + times.head._3),
      "setup.session_s" -> Stats.median(times.map(_._1).toSeq),
      "setup.extension_s" -> Stats.median(times.map(_._2).toSeq),
      "setup.warmup_s" -> Stats.median(times.map(_._3).toSeq)))
  }

  private def result(metrics: Map[String, Double], checks: Checks, attemptedOps: Int,
                     failedOps: Int, extra: Seq[(String, Any)]): Obj = {
    val attempted = attemptedOps + checks.attempted
    val failed = failedOps + checks.failed
    Obj(Seq(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> (metrics + ("fail_share" -> failed.toDouble / math.max(1, attempted)) +
        ("peak_rss_mb" -> Jvm.peakRssMb)),
      "checks" -> checks.report) ++ extra)
  }

  // ---------------------------------------------------------------- corpus

  private def corpus(o: Opts, cpus: Int, shape: CorpusShape): Obj = {
    val c = Corpus.generate(shape, o.seed)
    val (spark, listener, setupTimes) = setup(o, cpus)
    val input = s"${o.work}/input"
    Corpus.write(spark, c, input)
    val traffic = CorpusJob.traffic(spark, c, input)
    val checks = new Checks
    val sc = spark.sparkContext

    // one untraced job: (wall s, time-to-labels s, executor cpu s, digest)
    def plainJob(out: String): (Double, Double, Double, String) = {
      PerfbenchBus.drain(sc)
      val cpu0 = listener.totalCpuNs
      val t0 = System.nanoTime()
      val labelsS = CorpusJob.run(spark, input, out)
      val wall = (System.nanoTime() - t0) / 1e9
      PerfbenchBus.drain(sc)
      (wall, labelsS, (listener.totalCpuNs - cpu0) / 1e9, CorpusJob.digest(spark, out))
    }

    // untraced: jobs back to back until --seconds have passed; the
    // metrics are the first one's, the job a fresh process pays for
    // (later ones check that outputs repeat). Traced: a cold
    // untraced job, the traced job, and a warm untraced job whose time
    // the traced one is compared with.
    val plain = ArrayBuffer[(Double, Double, Double, String)]()
    val tracer = new Tracer(spark, listener, enabled = true)
    var traced: (DataFrame, Map[String, Long], String) = null
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    try {
      if (!o.trace) while (plain.isEmpty || elapsed < o.seconds) plain += plainJob(s"${o.work}/out")
      else {
        plain += plainJob(s"${o.work}/out")
        tracer.run = "job0"
        val out = s"${o.work}/out_traced"
        val (p, counts) = CorpusJob.traced(spark, tracer, input, out)
        traced = (p, counts, CorpusJob.digest(spark, out))
        plain += plainJob(s"${o.work}/out")
      }
    } catch {
      case e: Exception =>
        e.printStackTrace()
        val jobs = plain.length + (if (traced == null) 0 else 1)
        return result(Map.empty, checks, jobs + 1, 1, Seq("traffic" -> traffic))
    }
    val jobs = plain.length + (if (o.trace) 1 else 0)

    checks.check("digest_repeats", plain.map(_._4).distinct.length == 1,
      s"untraced jobs disagree: ${plain.map(_._4).distinct}")
    val outDir = if (o.trace) s"${o.work}/out_traced" else s"${o.work}/out"
    val pairRows = Option(traced).map(_._1.select(col("id_a"), col("id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))))
    val measured = CorpusJob.check(spark, c, outDir, pairRows, checks)

    val docsPerJob = c.docs.toDouble
    val (jobS, labelsS, cpuS, _) = plain.head
    val base = Map(
      "job_s" -> jobS,
      "cpu_s" -> cpuS,
      "sustained_pts_s" -> docsPerJob / jobS,
      // every doc's labels land together: the tail is the job's value
      "latency_p50_ms" -> labelsS * 1000,
      "latency_tail_ms" -> labelsS * 1000) ++ setupTimes
    val extra = ArrayBuffer[(String, Any)]("traffic" -> (traffic ++ measured),
      "jobs" -> Obj(Seq("untraced_s" -> plain.map(_._1).toSeq, "labels_s" -> plain.map(_._2).toSeq,
        "cpu_s" -> plain.map(_._3).toSeq)),
      "latency_tail" -> Obj(Seq("percentile" -> 100.0, "n" -> c.docs)))

    if (!o.trace) return result(base, checks, jobs, 0, extra.toSeq)

    val (pairs, counts, tracedDigest) = traced
    checks.check("traced_digest_equals_untraced", tracedDigest == plain.head._4,
      s"traced $tracedDigest vs untraced ${plain.head._4}")
    // the Jaccard kernel runs over the workload's verified pairs,
    // topped up with seeded random doc pairs to a fixed count
    val rnd = new java.util.SplittableRandom(o.seed)
    val nPairs = 100000
    val verified = pairRows.get
    val jacPairs = (verified.take(nPairs) ++ Iterator.continually {
      val a = rnd.nextInt(c.docs).toLong
      val b = rnd.nextInt(c.docs).toLong
      (math.min(a, b), math.max(a, b))
    }.take(math.max(0, nPairs - verified.length))).toSeq
    import spark.implicits._
    val kernels = Kernels.corpus(spark.read.parquet(input), jacPairs.toDF("id_a", "id_b"), cpus,
      copies = 4)
    pairs.unpersist(true)

    val layers = Seq("dedup.pairs", "dedup.cc", "pipeline.curate", "pipeline.chunk", "pipeline.pack")
    val perLayer = mutable.Map[String, Double]()
    val span = tracer.spans.map(s => s.name -> s).toMap
    layers.foreach { l =>
      perLayer(s"$l.s") = span(l).seconds
      span(l).counters.fields.foreach { case (k, v) =>
        perLayer(s"$l.$k") = v.asInstanceOf[Number].doubleValue
      }
    }
    counts.foreach { case (k, v) => perLayer(k) = v.toDouble }
    val tracedS = span("job").seconds
    perLayer("job.self_s") = tracer.selfSeconds(span("job"))
    perLayer("dedup.share_of_job") = (perLayer("dedup.pairs.s") + perLayer("dedup.cc.s")) / tracedS
    Seq("gc_s", "spill_mb", "cpu_s", "jobs").foreach { k =>
      perLayer(s"spark.$k") = layers.map(l => perLayer(s"$l.$k")).sum
    }
    perLayer("trace.job_traced_s") = tracedS
    perLayer("trace.job_untraced_s") = plain.last._1
    perLayer("trace.overhead_s") = tracedS - plain.last._1
    perLayer ++= kernels
    result(base ++ perLayer, checks, jobs, 0,
      extra.toSeq :+ ("spans" -> tracer.render))
  }

  // ---------------------------------------------------------------- stream

  private def stream(o: Opts, cpus: Int): Obj = {
    val checks = new Checks
    val all = ArrayBuffer[Segment]()
    def seg(spark: SparkSession, l: GroupListener, name: String, pts: Double, secs: Double) = {
      val s = Stream.segment(spark, l, s"${o.work}/stream/${all.length}", o.seed + all.length,
        Rate(name, pts, secs), cpus)
      all += s
      s
    }
    val (spark, listener, setupTimes) = setup(o, cpus)
    // a long-running query pays its first batches' compilation once:
    // warm the path, small batches and large, before timing
    seg(spark, listener, "warm", rates.head._2, 4.0)
    seg(spark, listener, "warm_top", rates.last._2, 1.0)
    val tracer = new Tracer(spark, listener, enabled = o.trace)
    // traced: half-length segments, the low one once more untraced
    val scale = if (o.trace) 0.5 else 1.0
    val untracedLow =
      if (o.trace) seg(spark, listener, "low_untraced", rates.head._2, o.seconds * rates.head._3 * scale)
      else null
    val segs = rates.map { case (name, pts, share) =>
      tracer.run = name
      var s: Segment = null
      tracer.span("streaming", () => s.group) {
        s = seg(spark, listener, name, pts, o.seconds * share * scale)
      }
      name -> s
    }.toMap
    all.foreach(Stream.check(spark, _, checks))
    val (low, top) = (segs("low"), segs("top"))
    val (tailP, tail) = Stats.tail(low.latenciesMs.toSeq)
    val base = Map(
      "job_s" -> low.progressP50("triggerExecution") / 1000,
      "cpu_s" -> Stats.median(low.batches.drop(1).map(_.cpuS)),
      "sustained_pts_s" -> Stream.sustained(top),
      "latency_p50_ms" -> Stats.median(low.latenciesMs.toSeq),
      "latency_tail_ms" -> tail) ++ setupTimes
    val batchCount = all.map(_.batches.length).sum
    val extra = Seq(
      "traffic" -> Obj(Seq("k" -> Stream.k, "rates" -> rates.map(r => segs(r._1).summary))),
      "latency_tail" -> Obj(Seq("percentile" -> tailP, "n" -> low.latenciesMs.length)))
    if (!o.trace) return result(base, checks, batchCount, 0, extra)

    val lowSpan = tracer.spans.find(_.run == "low").get
    val perLayer = mutable.Map[String, Double]()
    perLayer("streaming.s") = lowSpan.seconds
    lowSpan.counters.fields.foreach { case (k, v) =>
      perLayer(s"streaming.$k") = v.asInstanceOf[Number].doubleValue
    }
    def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    perLayer("streaming.batch_ms.p50") = low.progressP50("triggerExecution")
    perLayer("streaming.plan_ms.p50") = low.progressP50("queryPlanning")
    perLayer("streaming.add_batch_ms.p50") = low.progressP50("addBatch")
    perLayer("streaming.wal_ms.p50") = low.progressP50("walCommit")
    perLayer("streaming.merge_ms.p50") = p50(low.batches.map(_.mergeMs))
    perLayer("streaming.rows_per_batch.p50") = top.progressP50("rows")
    perLayer("streaming.backlog_rows.max") = low.backlogMax.toDouble
    perLayer("streaming.backlog_rows.end") = low.backlogEnd.toDouble
    perLayer("streaming.gen_late_ms.max") = segs.values.map(_.genLateMs).max
    perLayer("sources.write_assignments_ms.p50") = p50(low.batches.map(_.assignMs))
    perLayer("sources.write_snapshot_ms.p50") = p50(low.batches.map(_.snapshotMs))
    perLayer("sources.bytes_written") = low.bytesWritten.toDouble
    Seq("gc_s", "spill_mb", "cpu_s", "jobs").foreach(k => perLayer(s"spark.$k") = perLayer(s"streaming.$k"))
    val untracedBatch = untracedLow.progressP50("triggerExecution") / 1000
    perLayer("trace.job_traced_s") = base("job_s")
    perLayer("trace.job_untraced_s") = untracedBatch
    perLayer("trace.overhead_s") = base("job_s") - untracedBatch

    import spark.implicits._
    val (xs, ys) = new PointGen(o.seed).take(400000)
    val pts = xs.indices.map(i => (i.toLong, Array(xs(i), ys(i)))).toDF("id", "vec")
      .repartition(cpus)
    perLayer("functions.assign.ns_per_pt") = Kernels.assign(pts, low.init)
    result(base ++ perLayer, checks, batchCount, 0, extra :+ ("spans" -> tracer.render))
  }
}
