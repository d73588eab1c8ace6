package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.sources.Sinks
import graft.streaming.{StreamingAgg, StreamingDedup, StreamingJoin, StreamingKMeans, StreamingPipeline, StreamingSessionize}

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("streaming k-means pulls centroids toward the incoming blobs") {
    implicit val ctx = spark.sqlContext
    val model = new StreamingKMeans(k = 2, dim = 2, decayFactor = 1.0,
      init = Seq((0L, Array(0.0, 0.0)), (1L, Array(10.0, 10.0))))
    val ms = MemoryStream[(Double, Double)]
    val stream = ms.toDF().select(array(col("_1"), col("_2")).as("vec"))
    val q = model.run(stream, "vec")
    try {
      ms.addData((1.0, 1.0), (1.0, 3.0), (9.0, 9.0), (9.0, 11.0))
      q.processAllAvailable()
      val c = model.centroids.toMap
      assert(math.abs(c(0L)(0) - 1.0) < 1e-9 && math.abs(c(0L)(1) - 2.0) < 1e-9,
        s"low centroid should move to the batch mean, got ${c(0L).toSeq}")
      assert(math.abs(c(1L)(0) - 9.0) < 1e-9 && math.abs(c(1L)(1) - 10.0) < 1e-9)

      // second batch: running mean with decay=1 weights all points equally
      ms.addData((3.0, 3.0), (3.0, 5.0))
      q.processAllAvailable()
      val c2 = model.centroids.toMap
      assert(math.abs(c2(0L)(0) - 2.0) < 1e-9, s"running mean of 4 low points, got ${c2(0L).toSeq}")
      assert(model.weights.toMap.apply(0L) == 4.0)
    } finally q.stop()
  }

  test("per-point assignments land per micro-batch alongside centroid snapshots") {
    implicit val ctx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_assign").toString + "/assignments"
    val model = new StreamingKMeans(k = 2, dim = 2, decayFactor = 1.0,
      init = Seq((0L, Array(0.0, 0.0)), (1L, Array(10.0, 10.0))))
    val ms = MemoryStream[(Long, Double, Double)]
    val stream = ms.toDF()
      .select(col("_1").as("point_id"), array(col("_2"), col("_3")).as("vec"))
    val snapshots = scala.collection.mutable.ArrayBuffer[Long]()
    val q = model.run(stream, "vec",
      onSnapshot = (bid, _) => snapshots += bid,
      onAssignments = (bid, assigned) =>
        Sinks.writeAssignments(bid, assigned.select("point_id", "cluster"), dir))
    try {
      ms.addData((1L, 1.0, 1.0), (2L, 9.0, 9.0))
      q.processAllAvailable()
      ms.addData((3L, 2.0, 2.0))
      q.processAllAvailable()
      val rows = Sinks.readAssignments(spark, dir)
        .select(col("point_id"), col("cluster"), col("batch_id").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // batch 0 assigns against the INIT centroids (assign-then-update:
      // the reference labels each point with the centroid it was
      // matched against, not the moved one); batch 1 against the
      // once-moved model
      assert(rows == Set((1L, 0L, 0L), (2L, 1L, 0L), (3L, 0L, 1L)), s"got $rows")
      assert(snapshots.toSeq == Seq(0L, 1L),
        "a centroid snapshot per micro-batch alongside the assignment stream")
      // hive-style batch_id dirs: a batch filter prunes whole directories
      assert(Sinks.readAssignments(spark, dir).filter(col("batch_id") === 1).count() == 1)
    } finally q.stop()
  }

  test("streaming k-means decay forgets old batches") {
    implicit val ctx = spark.sqlContext
    val model = new StreamingKMeans(k = 1, dim = 1, decayFactor = 0.5,
      init = Seq((0L, Array(0.0))))
    val ms = MemoryStream[Double]
    val q = model.run(ms.toDF().select(array(col("value")).as("vec")), "vec")
    try {
      ms.addData(10.0); q.processAllAvailable()
      ms.addData(20.0); q.processAllAvailable()
      val c = model.centroids.head._2(0)
      // weights: old 0.5·1 vs new 1 → (0.5·10 + 20)/1.5 = 16.67 > plain mean 15
      assert(c > 15.0 && c < 20.0, s"decayed mean should lean to the new batch, got $c")
    } finally q.stop()
  }

  test("checkpoint/restore: kill-and-resume continues bit-identically to the uninterrupted run") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString + "/model"
    val batch1 = Seq(Tuple1(Seq(1.0, 1.0)), Tuple1(Seq(1.0, 3.0))).toDF("vec")
    val batch2 = Seq(Tuple1(Seq(5.0, 5.0)), Tuple1(Seq(3.0, 1.0))).toDF("vec")
    def fresh() = new StreamingKMeans(k = 2, dim = 2, decayFactor = 0.5,
      init = Seq((0L, Array(0.0, 0.0)), (1L, Array(10.0, 10.0))))

    // uninterrupted run: batch1 then batch2
    val a = fresh()
    a.update(batch1, "vec"); a.update(batch2, "vec")

    // killed run: batch1, checkpoint, "crash", restore, batch2
    val b = fresh()
    b.update(batch1, "vec")
    b.save(spark, dir)
    // α comes back from the checkpoint: no caller-side decay needed
    val r = StreamingKMeans.restore(spark, dir)
    assert(r.decayFactor == 0.5, s"restored α ${r.decayFactor}, saved 0.5")
    r.update(batch2, "vec")

    assert(r.centroids.map { case (cid, c) => (cid, c.toSeq) } ==
      a.centroids.map { case (cid, c) => (cid, c.toSeq) },
      "restored model must continue to the same centroids")
    assert(r.weights == a.weights, "decayed weights must survive the checkpoint")
    // passing the saved α is accepted; a different one fails loudly
    // instead of turning the model into a running mean
    assert(StreamingKMeans.restore(spark, dir, decayFactor = 0.5).decayFactor == 0.5)
    val e = intercept[IllegalArgumentException](StreamingKMeans.restore(spark, dir, decayFactor = 1.0))
    assert(e.getMessage.contains("decayFactor 0.5"), e.getMessage)
  }

  test("the merge observes the callback's write, one job per batch; no-action and no-callback runs match update()") {
    implicit val ctx = spark.sqlContext
    val batches = Seq(
      Seq((1L, 1.0, 1.0), (2L, 9.0, 9.0), (3L, 1.0, 3.0)),
      Seq((4L, 3.0, 3.0), (5L, 9.0, 11.0)),
      Seq((6L, 2.0, 0.0)))
    def fresh() = new StreamingKMeans(k = 2, dim = 2, decayFactor = 0.5,
      init = Seq((0L, Array(0.0, 0.0)), (1L, Array(10.0, 10.0))))

    // Spark jobs started while `body` runs
    def jobsDuring(body: => Unit): Int = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      try body
      finally {
        // the listener bus is async: wait until the job count settles
        var last = -1; var stable = 0; var waited = 0
        while (stable < 3 && waited < 100) {
          Thread.sleep(100); waited += 1
          val n = jobs.get
          if (n == last) stable += 1 else { stable = 0; last = n }
        }
        spark.sparkContext.removeSparkListener(listener)
      }
      jobs.get
    }

    val frames = batches.map(b => b.map { case (id, x, y) => (id, Seq(x, y)) }.toDF("point_id", "vec"))
    val expected = fresh()
    val updateJobs = jobsDuring(frames.foreach(expected.update(_, "vec")))

    // (model, Spark jobs started) after streaming the same batches
    def streamed(onAssignments: (Long, org.apache.spark.sql.DataFrame) => Unit)
    : (StreamingKMeans, Int) = {
      val model = fresh()
      val ms = MemoryStream[(Long, Double, Double)]
      val q = model.run(
        ms.toDF().select(col("_1").as("point_id"), array(col("_2"), col("_3")).as("vec")), "vec",
        onAssignments = onAssignments)
      val jobs = jobsDuring {
        try batches.foreach { b => ms.addData(b); q.processAllAvailable() }
        finally q.stop()
      }
      (model, jobs)
    }

    val dir = java.nio.file.Files.createTempDirectory("graft_observe").toString + "/assignments"
    val (written, writeJobs) = streamed((bid, assigned) =>
      Sinks.writeAssignments(bid, assigned.select("point_id", "cluster"), dir))
    val (silent, _) = streamed((_, _) => ())
    val (plain, plainJobs) = streamed(null)
    assert(writeJobs == batches.length,
      s"$writeJobs Spark jobs for ${batches.length} batches: the merge must ride the assignments write")
    assert(updateJobs == batches.length,
      s"update(): $updateJobs Spark jobs for ${batches.length} batches: the merge must ride one noop write")
    assert(plainJobs == batches.length,
      s"no callback: $plainJobs Spark jobs for ${batches.length} batches: the merge must ride one noop write")
    assert(Sinks.readAssignments(spark, dir).count() == batches.map(_.length).sum)
    Seq("write callback" -> written, "no-action callback" -> silent, "no callback" -> plain).foreach {
      case (how, m) =>
        m.centroids.zip(expected.centroids).foreach { case ((cid, c), (eid, e)) =>
          assert(cid == eid && c.indices.forall(i => math.abs(c(i) - e(i)) <= 1e-9),
            s"$how: centroid $cid ${c.toSeq} vs update() ${e.toSeq}")
        }
        m.weights.zip(expected.weights).foreach { case ((cid, w), (_, ew)) =>
          assert(math.abs(w - ew) <= 1e-9, s"$how: weight of $cid $w vs update() $ew")
        }
    }
  }

  test("streaming exact dedup keeps the first doc per content hash") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, String, Timestamp)]
    val docs = ms.toDF().toDF("doc_id", "text", "ts")
    val q = StreamingDedup.exactDedup(docs, "ts", "10 minutes")
      .writeStream.format("memory").queryName("sdedup").outputMode("append").start()
    try {
      ms.addData(
        (1L, "alpha", Timestamp.valueOf("2024-01-01 00:00:00")),
        (2L, "alpha", Timestamp.valueOf("2024-01-01 00:01:00")),
        (3L, "beta", Timestamp.valueOf("2024-01-01 00:02:00")))
      q.processAllAvailable()
      // dup in a LATER batch is dropped by the state store, not batch-local dedup
      ms.addData((4L, "alpha", Timestamp.valueOf("2024-01-01 00:03:00")))
      q.processAllAvailable()
      val ids = spark.sql("SELECT doc_id FROM sdedup ORDER BY doc_id").collect().map(_.getLong(0))
      assert(ids.toSeq == Seq(1L, 3L), s"one survivor per hash, got ${ids.toSeq}")
    } finally q.stop()
  }

  test("streaming exact-index flag tracks the LIVE index across micro-batches") {
    import graft.operators.ExactIndex
    import graft.streaming.StreamingPipeline
    implicit val ctx = spark.sqlContext
    Seq("sflag_digests", "sflag_bloom").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val ref = (0L until 100L).map(i => (i, s"stored doc number $i body")).toDF("doc_id", "text")
    ExactIndex.write(ref, "sflag", buckets = 4)
    val ms = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.Map[Long, Boolean]()
    val q = StreamingPipeline.flagKnownStream(ms.toDF().toDF("doc_id", "text"), "sflag") {
      (verdicts, _) =>
        verdicts.collect().foreach(r =>
          got(r.getAs[Long]("doc_id")) = r.getAs[Boolean]("is_known"))
    }.start()
    try {
      ms.addData((1000L, "stored doc number 7 body"), (1001L, "fresh content one"))
      q.processAllAvailable()
      assert(got.toMap == Map(1000L -> true, 1001L -> false),
        s"batch 1 must classify exactly, got $got")
      // the index grows BETWEEN batches: the next batch must see it —
      // the foreachBatch re-resolve this wrapper exists for (a frozen
      // plan-time sketch would call this definitively new)
      ExactIndex.append(Seq((5000L, "late appended content")).toDF("doc_id", "text"), "sflag")
      ms.addData((1002L, "late appended content"), (1003L, "stored doc number 42 body"))
      q.processAllAvailable()
      assert(got(1002L) && got(1003L),
        s"batch 2 must classify against the LIVE index, got $got")
    } finally q.stop()
    Seq("sflag_digests", "sflag_bloom").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("streaming flag against a ROUTED index digests micro-batches in the stored key domain") {
    import graft.operators.ExactIndex
    import graft.streaming.StreamingPipeline
    implicit val ctx = spark.sqlContext
    Seq("srflag_digests", "srflag_bloom").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    // mixed seed doc + ASCII seed doc under routed keying (the meta
    // carries the flag; the stream wrapper must pick it up per batch)
    val ref = Seq((1L, "shared latin half 你好"), (2L, "plain ascii doc")).toDF("doc_id", "text")
    ExactIndex.write(ref, "srflag", buckets = 4, routed = true)
    val ms = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.Map[Long, Boolean]()
    val q = StreamingPipeline.flagKnownStream(ms.toDF().toDF("doc_id", "text"), "srflag") {
      (verdicts, _) =>
        verdicts.collect().foreach(r =>
          got(r.getAs[Long]("doc_id")) = r.getAs[Boolean]("is_known"))
    }.start()
    try {
      ms.addData(
        (1000L, "shared latin half 再見"), // Han-differing: raw-keyed, NOT known
        (1001L, "shared latin half 你好"), // byte-identical: known
        (1002L, "PLAIN ascii (doc)"))      // ASCII variant: canonical, known
      q.processAllAvailable()
      assert(got.toMap == Map(1000L -> false, 1001L -> true, 1002L -> true),
        s"the stream must digest in the routed domain, got $got")
    } finally q.stop()
    Seq("srflag_digests", "srflag_bloom").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("streaming sketch ingest folds micro-batches into the stored table; replay leaves estimates unchanged") {
    import graft.operators.Sketches
    import graft.streaming.StreamingPipeline
    implicit val ctx = spark.sqlContext
    Seq("ssk_sketches", "ssk_meta").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    // seed via the batch writer; the stream appends overlapping uids
    val seed = (0L until 200L).map(i => ("click", i)).toDF("event_type", "uid")
    Sketches.writeSketchTable(spark, "ssk", seed, Seq("event_type"), "uid")
    val ms = MemoryStream[(String, Long)]
    val q = StreamingPipeline.sketchIngestStream(
      ms.toDF().toDF("event_type", "uid"), "ssk").start()
    def est = Sketches.estimateSketchTable(spark, "ssk").collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("n_distinct")).toMap
    try {
      // batch 1 overlaps the seed (100–199) and extends it (200–399),
      // plus a brand-new group — the store must answer LIVE mid-stream
      ms.addData((100L until 400L).map(i => ("click", i)) :+ (("view", 1L)): _*)
      q.processAllAvailable()
      assert(est == Map("click" -> 400L, "view" -> 1L),
        s"mid-stream estimates must track the live store, got $est")
      // a REPLAYED micro-batch (at-least-once delivery): every value
      // is already absorbed, so no estimate may move
      ms.addData((100L until 400L).map(i => ("click", i)): _*)
      q.processAllAvailable()
      assert(est == Map("click" -> 400L, "view" -> 1L),
        "replaying an absorbed batch must not move any estimate")
    } finally q.stop()
    Seq("ssk_sketches", "ssk_meta").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("streaming freq ingest: counts accumulate across micro-batches, a redelivered batch no-ops") {
    import graft.operators.Sketches
    import graft.streaming.StreamingPipeline
    implicit val ctx = spark.sqlContext
    Seq("sfq_sketches", "sfq_meta").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val seed = Seq(("s1", "x"), ("s1", "x"), ("s1", "y")).toDF("src", "item")
    Sketches.writeFreqTable(spark, "sfq", seed, Seq("src"), "item", maxMapSize = 64)
    val ms = MemoryStream[(String, String)]
    val q = StreamingPipeline.freqIngestStream(ms.toDF().toDF("src", "item"), "sfq").start()
    def top = Sketches.topKFromFreqTable(spark, "sfq", k = 0).collect()
      .map(r => (r.getAs[String]("src"), r.getAs[String]("item")) -> r.getAs[Long]("estimate")).toMap
    try {
      ms.addData(("s1", "x"), ("s2", "z"))
      q.processAllAvailable()
      val after0 = top
      assert(after0 == Map(("s1", "x") -> 3L, ("s1", "y") -> 1L, ("s2", "z") -> 1L),
        s"micro-batch 0 must fold into the seeded store, got $after0")
      // redelivery: the SAME micro-batch id applied again (foreachBatch
      // retry semantics) — additive counts would double without the
      // stamp riding the atomic generation flip
      Sketches.appendToFreqTable(spark, "sfq",
        Seq(("s1", "x"), ("s2", "z")).toDF("src", "item"), batchId = 0L)
      assert(top == after0, "a redelivered micro-batch must no-op against the stamp")
      ms.addData(("s1", "y"))
      q.processAllAvailable()
      assert(top == Map(("s1", "x") -> 3L, ("s1", "y") -> 2L, ("s2", "z") -> 1L),
        "the NEXT micro-batch id must still apply after a replay")
    } finally q.stop()
    Seq("sfq_sketches", "sfq_meta").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("streaming quantile ingest: summaries accumulate per micro-batch, a redelivered batch no-ops") {
    import graft.operators.Sketches
    import graft.streaming.StreamingPipeline
    implicit val ctx = spark.sqlContext
    Seq("sqt_sketches", "sqt_meta").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    // seed: values 0..999 in one group → p50 ≈ 500 exactly (rank-exact regime)
    val seed = spark.range(0, 1000).select(lit("k").as("grp"), col("id").cast("double").as("v"))
    Sketches.writeQuantileTable(spark, "sqt", seed, Seq("grp"), "v")
    val ms = MemoryStream[(String, Double)]
    val q = StreamingPipeline.quantileIngestStream(ms.toDF().toDF("grp", "v"), "sqt").start()
    def p50 = Sketches.quantilesFromTable(spark, "sqt", Seq(0.5)).collect()(0).getAs[Double]("p50")
    try {
      // micro-batch 0: 1000 copies of 2000.0 → median of the merged
      // 2000-value stream moves to the seed's top (≈ 999)
      ms.addData((0 until 1000).map(_ => ("k", 2000.0)): _*)
      q.processAllAvailable()
      val afterBatch = p50
      assert(math.abs(afterBatch - 999.0) <= 2.0,
        s"batch 0 must fold into the stored summary (p50 $afterBatch)")
      // redelivered batch 0: weight-additive summaries would pull the
      // median to 2000 without the stamp
      Sketches.appendToQuantileTable(spark, "sqt",
        spark.range(0, 1000).select(lit("k").as("grp"), lit(2000.0).as("v")), batchId = 0L)
      assert(p50 == afterBatch, "a redelivered micro-batch must no-op against the stamp")
    } finally q.stop()
    Seq("sqt_sketches", "sqt_meta").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("streaming theta ingest: the stored funnel tracks the live store; a replayed batch no-ops") {
    import graft.operators.Sketches
    import graft.streaming.StreamingPipeline
    implicit val ctx = spark.sqlContext
    Seq("thi_sketches", "thi_meta").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    // seed day 0: clickers 0–299, purchasers 200–399 (exact regime)
    val seed = ((0 until 300).map(u => ("click", 0L, u.toLong)) ++
      (200 until 400).map(u => ("purchase", 0L, u.toLong))).toDF("cohort", "d", "uid")
    Sketches.writeThetaTable(spark, "thi", seed, Seq("cohort", "d"), "uid")
    val ms = MemoryStream[(String, Long, Long)]
    val q = StreamingPipeline.thetaIngestStream(ms.toDF().toDF("cohort", "d", "uid"), "thi").start()
    def funnel = {
      val r = Sketches
        .overlapFromThetaTable(spark, "thi", "cohort", "click", "purchase", Seq.empty)
        .collect()(0)
      (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"), r.getAs[Long]("n_both"),
        r.getAs[Long]("n_a_only"))
    }
    val day1 = (0 until 100).map(u => ("click", 1L, u.toLong)) ++
      (50 until 150).map(u => ("purchase", 1L, u.toLong))
    try {
      // day-1 micro-batch: purchasers grow to 50–149 ∪ 200–399; the
      // stored funnel must answer LIVE mid-stream
      ms.addData(day1: _*)
      q.processAllAvailable()
      assert(funnel == ((300L, 300L, 200L, 100L)),
        s"mid-stream funnel must track the live store, got $funnel")
      // redelivered micro-batch (at-least-once): theta insertion is
      // idempotent, so nothing may move — no batch-id stamp involved
      ms.addData(day1: _*)
      q.processAllAvailable()
      assert(funnel == ((300L, 300L, 200L, 100L)),
        "replaying an absorbed micro-batch must not move the funnel")
    } finally q.stop()
    Seq("thi_sketches", "thi_meta").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("streaming sessionize: intra-batch gaps close immediately, open sessions close at the watermark") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, Timestamp, Double)]
    val events = ms.toDF().toDF("user_id", "ts", "value")
    val q = StreamingSessionize.sessions(events, "ts", "5 minutes", gapSeconds = 1800L)
      .writeStream.format("memory").queryName("ssess").outputMode("append").start()
    try {
      // user 1: two events 5 min apart (one session), then a 2-hour
      // jump in the SAME batch — the first session must close now
      ms.addData(
        (1L, Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
        (1L, Timestamp.valueOf("2024-01-01 00:05:00"), 2.0),
        (1L, Timestamp.valueOf("2024-01-01 02:00:00"), 4.0))
      q.processAllAvailable()
      val afterBatch1 = spark.sql("SELECT * FROM ssess").collect()
      assert(afterBatch1.length == 1, s"intra-batch gap must close one session, got ${afterBatch1.length}")
      assert(afterBatch1(0).getAs[Long]("n_events") == 2L &&
        afterBatch1(0).getAs[Double]("sum_value") == 3.0)
      // next batch: an in-gap event EXTENDS the open session
      ms.addData((1L, Timestamp.valueOf("2024-01-01 02:10:00"), 8.0))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM ssess").collect().length == 1,
        "the open session must stay open while events keep arriving inside the gap")
      // another user's far-future event pushes the watermark past
      // 02:10 + 30 min → user 1's open session times out and emits
      ms.addData((2L, Timestamp.valueOf("2024-01-01 09:00:00"), 0.5))
      q.processAllAvailable()
      ms.addData((2L, Timestamp.valueOf("2024-01-01 09:00:01"), 0.5)) // advance batch
      q.processAllAvailable()
      val sess = spark.sql("SELECT * FROM ssess WHERE user_id = 1 ORDER BY session_start")
        .collect()
        .map(r => (r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")))
      assert(sess.toSeq == Seq((2L, 3.0), (2L, 12.0)),
        s"both user-1 sessions closed with folded aggregates, got ${sess.toSeq}")
    } finally q.stop()
  }

  test("streaming sessionize matches the batch twin on a replayed stream") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, Timestamp, Double)]
    val events = ms.toDF().toDF("user_id", "ts", "value")
    // 1-hour lateness horizon: the replay interleaves users, so one
    // user's newer events must not age the other's out of the stream
    val q = StreamingSessionize.sessions(events, "ts", "1 hour", gapSeconds = 600L)
      .writeStream.format("memory").queryName("ssessb").outputMode("append").start()
    try {
      val evs = Seq(
        (1L, "2024-01-01 00:00:00", 1.0), (1L, "2024-01-01 00:05:00", 1.0),
        (1L, "2024-01-01 00:30:00", 1.0),
        (2L, "2024-01-01 00:00:00", 1.0), (2L, "2024-01-01 00:45:00", 1.0))
      evs.foreach { case (u, t, v) => ms.addData((u, Timestamp.valueOf(t), v)); q.processAllAvailable() }
      // flush every open session: watermark far past everything
      ms.addData((99L, Timestamp.valueOf("2024-01-02 00:00:00"), 0.0))
      q.processAllAvailable()
      ms.addData((99L, Timestamp.valueOf("2024-01-02 00:00:01"), 0.0))
      q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT user_id, CAST(unix_timestamp(session_start) AS BIGINT) AS start_s, n_events " +
          "FROM ssessb WHERE user_id < 99 ORDER BY user_id, start_s").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // batch twin over the same events (10-min gap): user 1 sessions
      // {00:00,00:05} and {00:30}; user 2 {00:00} and {00:45}
      val batchDf = evs.zipWithIndex.map { case ((u, t, _), i) =>
        (u, i.toLong, Timestamp.valueOf(t))
      }.toDF("user_id", "event_id", "ts")
      val batch = graft.operators.Sessionize.sessions(batchDf, gapSeconds = 600L)
        .select(col("user_id"), col("start_s"), col("n_events"))
        .orderBy(col("user_id"), col("start_s")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(streamed.toSeq == batch.toSeq,
        s"stream sessions ${streamed.toSeq} must equal batch sessions ${batch.toSeq}")
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch twin and honors the two-sided bound") {
    implicit val ctx = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s"2024-01-01 $s")
    val vs = MemoryStream[(Long, Timestamp, Long)]
    val cs = MemoryStream[(Long, Timestamp, Long)]
    val views = vs.toDF().toDF("user_id", "l_ts", "view_id")
    val clicks = cs.toDF().toDF("user_id", "r_ts", "click_id")
    val q = StreamingJoin.intervalJoin(views, clicks, "user_id", "10 minutes", "20 minutes")
      .writeStream.format("memory").queryName("sjoin").outputMode("append").start()
    try {
      val vData = Seq((1L, ts("00:00:00"), 10L), (2L, ts("00:05:00"), 20L))
      val cData = Seq(
        (1L, ts("00:04:00"), 100L),  // inside the window
        (1L, ts("00:10:00"), 101L),  // exactly l_ts + within: inclusive
        (1L, ts("00:10:01"), 102L),  // one second past: excluded
        (2L, ts("00:04:00"), 200L),  // BEFORE the view: excluded
        (3L, ts("00:07:00"), 300L))  // keyless click: excluded
      vs.addData(vData: _*)
      cs.addData(cData: _*)
      q.processAllAvailable()
      val got = spark.sql("SELECT view_id, click_id FROM sjoin ORDER BY view_id, click_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == Seq((10L, 100L), (10L, 101L)),
        s"two-sided bound must admit exactly the in-window same-key pairs, got $got")
      // the SAME function on batch frames (watermark a no-op there)
      // must produce the same pairs — batch-twin parity
      val twin = StreamingJoin.intervalJoin(
          vData.toDF("user_id", "l_ts", "view_id"),
          cData.toDF("user_id", "r_ts", "click_id"),
          "user_id", "10 minutes", "20 minutes")
        .select(col("view_id"), col("click_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(twin == got, s"batch twin must match the streamed join, got $twin")
    } finally q.stop()
  }

  test("left-outer interval join: outer rows trail the watermark, join state evicts") {
    implicit val ctx = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s"2024-01-01 $s")
    val vs = MemoryStream[(Long, Timestamp, Long)]
    val cs = MemoryStream[(Long, Timestamp, Long)]
    val q = StreamingJoin.intervalJoin(
        vs.toDF().toDF("user_id", "l_ts", "view_id"),
        cs.toDF().toDF("user_id", "r_ts", "click_id"),
        "user_id", "10 minutes", "20 minutes", joinType = "left_outer")
      .writeStream.format("memory").queryName("sjoin_outer").outputMode("append").start()
    try {
      // a view with no click: NOT emitted yet — a match could still arrive
      vs.addData((7L, ts("00:00:00"), 70L))
      cs.addData((8L, ts("00:00:00"), 800L))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM sjoin_outer").count() == 0,
        "no outer emission before the watermark proves no match can arrive")
      // far-future events on BOTH inputs (global watermark = min) push
      // the watermark past 00:10 + 20 min
      vs.addData((9L, ts("02:00:00"), 90L))
      cs.addData((9L, ts("02:00:00"), 900L))
      q.processAllAvailable()
      // one more batch applies the advanced watermark: view 70 emits
      // with a null click AND the expired buffered rows evict
      vs.addData((9L, ts("02:00:01"), 91L))
      q.processAllAvailable()
      val outer = spark.sql("SELECT click_id FROM sjoin_outer WHERE view_id = 70").collect()
      assert(outer.length == 1 && outer(0).isNullAt(0),
        "the unmatched view must emit exactly once, with null right columns")
      val matched = spark.sql("SELECT view_id, click_id FROM sjoin_outer WHERE view_id = 90")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(matched.toSeq == Seq((90L, 900L)), "in-window pairs still join")
      // the bounded-state claim, observed: state rows DROP when the
      // watermark passes the buffered rows' windows
      val stateRows = q.recentProgress.toSeq.flatMap(_.stateOperators.toSeq)
        .map(_.numRowsTotal)
      assert(stateRows.sliding(2).exists(w => w.length == 2 && w(1) < w(0)),
        s"join state must evict expired rows, saw $stateRows")
    } finally q.stop()
  }

  test("flatMapGroupsWithState first-seen tags dups with provenance instead of dropping") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, String, Timestamp)]
    val docs = ms.toDF().toDF("doc_id", "text", "ts")
    val q = StreamingDedup.firstSeen(docs, "ts", "10 minutes")
      .writeStream.format("memory").queryName("sfirst").outputMode("append").start()
    try {
      ms.addData(
        (1L, "alpha", Timestamp.valueOf("2024-01-01 00:00:00")),
        (2L, "alpha", Timestamp.valueOf("2024-01-01 00:01:00")))
      q.processAllAvailable()
      ms.addData((3L, "alpha", Timestamp.valueOf("2024-01-01 00:02:00")))
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM sfirst ORDER BY doc_id").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Boolean]("is_first"),
          r.getAs[Long]("first_doc_id"), r.getAs[Long]("n_seen_so_far")))
      assert(rows.toSeq == Seq((1L, true, 1L, 1L), (2L, false, 1L, 2L), (3L, false, 1L, 3L)),
        s"every doc emitted, dups tagged with the first-seen id; got ${rows.toSeq}")
    } finally q.stop()
  }

  test("first-seen state is evicted once the watermark passes the key's last event") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, String, Timestamp)]
    val docs = ms.toDF().toDF("doc_id", "text", "ts")
    val q = StreamingDedup.firstSeen(docs, "ts", "10 minutes")
      .writeStream.format("memory").queryName("sevict").outputMode("append").start()
    try {
      ms.addData((1L, "alpha", Timestamp.valueOf("2024-01-01 00:00:00")))
      q.processAllAvailable()
      // push the watermark far past alpha's last event (00:00 + 10 min)
      ms.addData((2L, "other", Timestamp.valueOf("2024-01-01 01:00:00")))
      q.processAllAvailable()
      // alpha's state is gone → this dup is (wrongly but by design)
      // fresh again — the bounded-state trade-off every watermarked
      // dedup makes, dropDuplicates included
      ms.addData((3L, "alpha", Timestamp.valueOf("2024-01-01 01:01:00")))
      q.processAllAvailable()
      val rows = spark.sql("SELECT doc_id, is_first FROM sevict ORDER BY doc_id").collect()
        .map(r => (r.getLong(0), r.getBoolean(1)))
      assert(rows.toSeq == Seq((1L, true), (2L, true), (3L, true)),
        s"evicted key must be treated as first again; got ${rows.toSeq}")
    } finally q.stop()
  }

  test("streaming curation dedups across batches, gates quality and repetition, tags splits") {
    implicit val ctx = spark.sqlContext
    val good = "the quick brown fox jumps over a lazy dog near the old river bank today"
    val loop = ("spam alpha beta " * 10).trim // distinct tokens but looped → high rep_fs
    val ms = MemoryStream[(Long, String, Timestamp)]
    val docs = ms.toDF().toDF("doc_id", "text", "ts")
    // loop's rep_fs = floor(1e4·(1−3/29)) = 8965 — gate below it
    val q = StreamingPipeline.curateStream(docs, "ts", "10 minutes",
        minQualityFs = 4000L, maxRepetitionFs = 5000L)
      .select("doc_id", "split")
      .writeStream.format("memory").queryName("scurate").outputMode("append").start()
    try {
      ms.addData(
        (1L, good, Timestamp.valueOf("2024-01-01 00:00:00")),
        (2L, loop, Timestamp.valueOf("2024-01-01 00:01:00")))
      q.processAllAvailable()
      // a LATER batch re-sends doc 1's content: state-store dedup drops it
      ms.addData((3L, good, Timestamp.valueOf("2024-01-01 00:02:00")))
      q.processAllAvailable()
      val rows = spark.sql("SELECT doc_id, split FROM scurate ORDER BY doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      assert(rows.map(_._1).toSeq == Seq(1L),
        s"dup content (3) and looped doc (2) must not survive, got ${rows.toSeq}")
      assert(Set("train", "val", "test")(rows(0)._2))
      // the split tag matches the batch pipeline's md5 rule — a doc
      // lands in the same split regardless of how it arrived
      val batchSplit = spark.range(1).select(
        graft.operators.Sampling.splitColumn(lit(1L), "graft#").as("s")).collect()(0).getString(0)
      assert(rows(0)._2 == batchSplit, "streaming and batch split tags must agree")
    } finally q.stop()
  }

  test("streaming curate keying parity: canonical collapses case/kana-strip, routed protects") {
    implicit val ctx = spark.sqlContext
    // the multilingual plant, replayed as a stream across two
    // micro-batches: a case pair (1, 2) and a kana-differing pair
    // (3, 4) whose canonical forms are IDENTICAL to the base (kana
    // strips) — the exact hazard ladder the batch pipeline's keying
    // tiers close, now on the streaming twin (r20)
    val base = "the quick brown fox jumps over a lazy dog near the old river bank today"
    val docsOf = Seq(
      (1L, base), (2L, base.toUpperCase),
      (3L, s"$base ぁ"), (4L, s"$base ゑ"))
    def survivors(keying: String, minLossFs: Long = 0L): Set[Long] = {
      val ms = MemoryStream[(Long, String, Timestamp)]
      val docs = ms.toDF().toDF("doc_id", "text", "ts")
      val name = s"skeying_${keying}_$minLossFs"
      val q = StreamingPipeline.curateStream(docs, "ts", "10 minutes",
          minQualityFs = 0L, maxRepetitionFs = 10000L,
          keying = keying, minLossFs = minLossFs)
        .select("doc_id")
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        // split across micro-batches: 1, 3 first; their variants later
        // (state-store dedup, not within-batch)
        ms.addData(docsOf.filter(d => d._1 <= 2).map { case (id, t) =>
          (id, t, Timestamp.valueOf(s"2024-01-01 00:0$id:00")) })
        q.processAllAvailable()
        ms.addData(docsOf.filter(d => d._1 > 2).map { case (id, t) =>
          (id, t, Timestamp.valueOf(s"2024-01-01 00:0$id:00")) })
        q.processAllAvailable()
        spark.sql(s"SELECT doc_id FROM $name").collect().map(_.getLong(0)).toSet
      } finally q.stop()
    }
    // raw: byte-identity only — all four survive
    assert(survivors("raw") == Set(1L, 2L, 3L, 4L))
    // canonical: case folds AND kana strips — everything collapses
    // into the first arrival (the batch canonical hazard, replayed)
    assert(survivors("canonical") == Set(1L))
    // routed: the case pair still collapses (pure Latin), both kana
    // variants route raw and survive — the false merges closed
    assert(survivors("routed") == Set(1L, 3L, 4L))
    // routed + floor: one kana glyph in a ~75-char doc is ~130fs of
    // loss; a floor above that keeps canonical keying (collapse), a
    // floor below routes (the dedup_exact_routed_floor trade, here)
    assert(survivors("routed", minLossFs = 1000L) == Set(1L))
    assert(survivors("routed", minLossFs = 50L) == Set(1L, 3L, 4L))
    // BATCH PARITY: for each mode the streaming survivor set equals
    // the batch operator's keep set on the same corpus in arrival
    // order (Dedup.exact keeps the lowest id = the first arrival)
    import spark.implicits._
    val batchDocs = docsOf.toDF("doc_id", "text")
    def batchKeeps(canonical: Boolean, routed: Boolean, minLossFs: Long = 0L): Set[Long] =
      graft.operators.Dedup.exact(batchDocs, canonical = canonical, routed = routed,
        minLossFs = minLossFs).collect().map(_.getAs[Long]("keep_id")).toSet
    assert(survivors("canonical") == batchKeeps(canonical = true, routed = false))
    assert(survivors("routed") == batchKeeps(canonical = false, routed = true))
    assert(survivors("routed", 1000L) == batchKeeps(canonical = false, routed = true, 1000L))
    // auto must be resolved BEFORE the stream (plan-freeze hazard) —
    // refused with guidance, like every misconfiguration
    val msA = MemoryStream[(Long, String, Timestamp)]
    val err = intercept[IllegalArgumentException] {
      StreamingPipeline.curateStream(msA.toDF().toDF("doc_id", "text", "ts"),
        "ts", "10 minutes", keying = "auto")
    }
    assert(err.getMessage.contains("chooseKeying"))
    intercept[IllegalArgumentException] {
      StreamingPipeline.curateStream(msA.toDF().toDF("doc_id", "text", "ts"),
        "ts", "10 minutes", keying = "canonical", minLossFs = 5L)
    }
  }

  test("streaming chunk fan-out emits exactly the batch pipeline's chunk rows") {
    implicit val ctx = spark.sqlContext
    val good = "the quick brown fox jumps over a lazy dog near the old river bank today"
    val good2 = "many words describing a different and quite original document about boats on water"
    val ms = MemoryStream[(Long, String, String, Timestamp)]
    val docs = ms.toDF().toDF("doc_id", "text", "source", "ts")
    val q = StreamingPipeline.chunkStream(docs, "ts", "10 minutes",
        chunkTokens = 8, strideTokens = 5, minQualityFs = 4000L)
      .writeStream.format("memory").queryName("schunk").outputMode("append").start()
    try {
      // doc 2 is a content dup of doc 1 arriving in the SAME batch;
      // doc 3 arrives a micro-batch later — chunk rows must be
      // arrival-shape-independent
      ms.addData(
        (1L, good, "src0", Timestamp.valueOf("2024-01-01 00:00:00")),
        (2L, good, "src1", Timestamp.valueOf("2024-01-01 00:01:00")))
      q.processAllAvailable()
      ms.addData((3L, good2, "src1", Timestamp.valueOf("2024-01-01 00:02:00")))
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT doc_id, chunk_idx, n_chunk_tokens, chunk_md5, source, split FROM schunk")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3), r.getString(4), r.getString(5))).toSet
      val batchDocs = Seq(
        (1L, good, "en", "src0", good.length.toLong),
        (2L, good, "en", "src1", good.length.toLong),
        (3L, good2, "en", "src1", good2.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val expect = operators.TextAnalysis.chunkPieces(
          operators.Pipeline.curateFull(batchDocs, minQualityFs = 4000L),
          chunkTokens = 8, strideTokens = 5, carryCols = Seq("source", "split"))
        .select("doc_id", "chunk_idx", "n_chunk_tokens", "chunk_md5", "source", "split")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3), r.getString(4), r.getString(5))).toSet
      assert(expect.map(_._1) == Set(1L, 3L), s"dup doc 2 must not chunk, got $expect")
      assert(got == expect,
        s"streaming chunk rows must equal the batch pipeline's; got $got vs $expect")
    } finally q.stop()
  }

  test("sequence packing is batch-only: packing a stream is rejected at analysis, not silently wrong") {
    // the documented compaction boundary (StreamingPipeline.chunkStream
    // scaladoc): (bin_id, bin_offset) is a cumulative sum over ALL
    // prior chunks of a (split, source) — unbounded state on an
    // unbounded stream. This pin makes the boundary STRUCTURAL: if a
    // future round wires pack's non-time window onto a streaming
    // frame, Spark must refuse the plan up front (AnalysisException at
    // start), not emit per-micro-batch offsets that silently restart
    // at every arrival.
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, String, String)]
    val docs = ms.toDF().toDF("doc_id", "text", "source")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      operators.TextAnalysis.pack(docs)
        .writeStream.format("memory").queryName("spack").outputMode("append").start()
    }
    assert(e.getMessage.toLowerCase.contains("window") ||
      e.getMessage.toLowerCase.contains("streaming"),
      s"the refusal must name the streaming/window conflict: ${e.getMessage}")
  }

  test("streaming curation CLI path: incremental file-stream runs land a partitioned curated corpus") {
    import java.nio.file.Files
    import spark.implicits._
    val base = Files.createTempDirectory("graft_scli")
    val in = base.resolve("docs").toString
    val out = base.resolve("curated").toString
    val good = "the quick brown fox jumps over a lazy dog near the old river bank today"
    val loop = ("spam alpha beta " * 10).trim
    // batch 1: a good doc, a content dup of it, and a looped doc
    Seq((1L, good, "en", "src0", good.length.toLong),
        (2L, good, "en", "src0", good.length.toLong),
        (3L, loop, "en", "src1", loop.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(in)
    // loop's rep_fs = floor(1e4·(1−3/29)) = 8965 — gate below it
    PipelineJob.runStream(spark, in, out, minQualityFs = 4000L, maxRepetitionFs = 5000L)
    val first = spark.read.parquet(out).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(first == Set(1L), s"dup (2) and looped (3) must not survive run 1, got $first")
    // the trainer-facing layout: split/lang directory partitions
    val splits = new java.io.File(out).list().filter(_.startsWith("split=")).toSeq
    assert(splits.nonEmpty, "output must be split-partitioned")
    // batch 2 arrives as a NEW FILE: another dup of doc 1's content
    // (state store remembers it across runs via the checkpoint) plus a
    // genuinely new doc
    val good2 = "many words describing a different and quite original document about boats on water"
    Seq((4L, good, "en", "src0", good.length.toLong),
        (5L, good2, "en", "src1", good2.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("append").parquet(in)
    PipelineJob.runStream(spark, in, out, minQualityFs = 4000L, maxRepetitionFs = 5000L)
    val second = spark.read.parquet(out).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(second == Set(1L, 5L),
      s"run 2 must add only the new doc (cross-run dedup drops 4), got $second")
    // keying=auto on the CLI path resolves from the SEED corpus before
    // the stream starts (r20): a multilingual watch dir picks routed,
    // so a kana-differing pair survives where canonical would merge it
    val in2 = base.resolve("docs2").toString
    val out2 = base.resolve("curated2").toString
    Seq((1L, s"$good 你好", "zh", "src0", good.length + 3L),
        (2L, s"$good ぁ", "ja", "src0", good.length + 2L),
        (3L, s"$good ゑ", "ja", "src0", good.length + 2L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(in2)
    PipelineJob.runStream(spark, in2, out2, minQualityFs = 0L, maxRepetitionFs = 10000L,
      keying = "auto")
    val autoSurv = spark.read.parquet(out2).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(autoSurv == Set(1L, 2L, 3L),
      s"auto must resolve routed on a multilingual seed (kana pair survives), got $autoSurv")
  }

  test("streaming curation bootstrap: an empty watch dir is a no-op, not a crash") {
    import java.nio.file.Files
    val base = Files.createTempDirectory("graft_sboot")
    val in = base.resolve("docs"); Files.createDirectories(in)
    val out = base.resolve("curated").toString
    // the normal first invocation of an incremental ingest job: the
    // watch dir exists but no files have arrived yet
    PipelineJob.runStream(spark, in.toString, out)
    assert(!Files.exists(base.resolve("curated")) ||
      new java.io.File(out).list().forall(n => n.startsWith("_") || n.startsWith(".")),
      "no data must land and nothing may throw")
  }

  test("streaming windowed agg matches batch window semantics") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Timestamp, String, Double)]
    val events = ms.toDF().toDF("ts", "event_type", "value")
    val agg = StreamingAgg.windowAgg(events, "1 hour", "10 minutes")
    val q = agg.writeStream.format("memory").queryName("win_agg").outputMode("complete").start()
    try {
      ms.addData(
        (Timestamp.valueOf("2024-01-01 00:10:00"), "click", 1.0),
        (Timestamp.valueOf("2024-01-01 00:50:00"), "click", 2.0),
        (Timestamp.valueOf("2024-01-01 01:10:00"), "click", 4.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM win_agg ORDER BY window_start").collect()
      assert(rows.length == 2)
      assert(rows(0).getAs[Long]("n_events") == 2 && rows(0).getAs[Double]("sum_value") == 3.0)
      assert(rows(1).getAs[Long]("n_events") == 1 && rows(1).getAs[Double]("sum_value") == 4.0)
    } finally q.stop()
  }
}
