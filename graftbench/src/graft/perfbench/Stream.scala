package graft.perfbench

import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.sources.Sinks
import graft.streaming.StreamingKMeans

/** An offered rate: `ptsPerSec` for `seconds`, then the backlog drains. */
final case class Rate(name: String, ptsPerSec: Double, seconds: Double) {
  def points: Int = math.max(Stream.k, (ptsPerSec * seconds).toInt)
}

/** Seeded 2-D Gaussian mixture of `Stream.k` uneven components. */
final class PointGen(seed: Long) {
  private val rnd = new SplittableRandom(seed)
  private val comps = Array.tabulate(Stream.k) { c =>
    val a = 2 * math.Pi * c / Stream.k + 0.3 * rnd.nextDouble()
    (10 * math.cos(a), 10 * math.sin(a), 0.8 + 0.8 * rnd.nextDouble())
  }
  private val cdf = {
    val w = Array.fill(Stream.k)(0.5 + rnd.nextDouble())
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
  }

  /** (xs, ys) of the first `n` points. */
  def take(n: Int): (Array[Double], Array[Double]) = {
    val xs = new Array[Double](n)
    val ys = new Array[Double](n)
    (0 until n).foreach { i =>
      val u = rnd.nextDouble()
      val (mx, my, s) = comps(cdf.indexWhere(_ >= u) max 0)
      xs(i) = mx + s * rnd.nextGaussian()
      ys(i) = my + s * rnd.nextGaussian()
    }
    (xs, ys)
  }
}

/** One batch as the callbacks saw it (times: ns, monotonic clock). */
final case class BatchRec(id: Long, assignMs: Double, mergeMs: Double, snapshotMs: Double,
                          emitNs: Long, processed: Long, backlog: Long, cpuS: Double = 0.0)

final class Segment(val rate: Rate, val group: String, val dir: String,
                    val init: Seq[(Long, Array[Double])],
                    val startNs: Long, val offerEndNs: Long, val doneNs: Long,
                    val backlogEnd: Long, val genLateMs: Double, val batches: Seq[BatchRec],
                    val progress: Seq[Map[String, Double]], val cpuS: Double) {
  /** Filled in by [[Stream.check]]. */
  var latenciesMs = Array.empty[Double]
  var bytesWritten = 0L

  def offered: Int = rate.points
  /** Points per second from the first due point to the last snapshot. */
  def drainRate: Double = offered / ((doneNs - startNs) / 1e9)
  def backlogMax: Long = if (batches.isEmpty) 0L else batches.map(_.backlog).max
  /** Median of a `durationMs` key (or "rows") over the batches after
    * the query's first, which pays the query start.
    */
  def progressP50(key: String): Double = {
    val xs = progress.drop(1).flatMap(_.get(key))
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }
  def summary: Obj = Obj(Seq(
    "rate" -> rate.name, "offered_pts_s" -> rate.ptsPerSec, "offer_s" -> rate.seconds,
    "points" -> offered, "batches" -> batches.length,
    "achieved_offer_pts_s" -> offered / ((offerEndNs - startNs) / 1e9),
    "drain_pts_s" -> drainRate, "backlog_max" -> backlogMax, "backlog_end" -> backlogEnd,
    "backlog_grew" -> (backlogEnd > offered / 2),
    "gen_late_ms_max" -> genLateMs, "cpu_s" -> cpuS,
    "latency_p50_ms" -> (if (latenciesMs.isEmpty) 0.0 else Stats.median(latenciesMs.toSeq)),
    "batch_rows_ms_cpu" -> progress.map { p =>
      Seq(p.getOrElse("rows", 0.0), p.getOrElse("triggerExecution", 0.0),
        batches.find(_.id == p.getOrElse("batch", -1.0).toLong).map(_.cpuS).getOrElse(0.0)) }))
}

/** The reference's path: points offered open-loop into
  * StreamingKMeans.run, per-point assignments and per-batch snapshots
  * landing through Sinks.
  */
object Stream {
  val k = 5

  /** Points per second the stream sustains, from a segment offered
    * above saturation: while its backlog grows, every batch after the
    * query's first takes all that is waiting, so points processed per
    * second of batch time is the highest rate the backlog would not
    * grow at.
    */
  def sustained(seg: Segment): Double = {
    val loaded = seg.progress.drop(1)
    loaded.map(_.getOrElse("rows", 0.0)).sum /
      (loaded.map(_.getOrElse("triggerExecution", 0.0)).sum / 1000)
  }

  def segment(spark: SparkSession, listener: GroupListener, dir: String,
              seed: Long, rate: Rate, cpus: Int): Segment = {
    val n = rate.points
    val (xs, ys) = new PointGen(seed).take(n)
    val init = (0 until k).map(i => (i.toLong, Array(xs(i), ys(i))))
    val model = new StreamingKMeans(k, 2, 1.0, init)
    val ms = MemoryStream[(Long, Long, Double, Double)](spark, cpus)(
      Encoders.product[(Long, Long, Double, Double)])
    val stream = ms.toDF().select(col("_1").as("id"), col("_2").as("due_ns"),
      array(col("_3"), col("_4")).as("vec"))
    val assignDir = s"$dir/assignments"
    val snapDir = s"$dir/snapshots"

    val offered = new AtomicLong(0)
    val batches = ArrayBuffer[BatchRec]()
    val assignEnd = mutable.Map[Long, (Long, Double)]()
    val progress = ArrayBuffer[Map[String, Double]]()
    val progressListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) progress.synchronized {
          progress += (e.progress.durationMs.asScala.map { case (key, v) => key -> v.toDouble }
            .toMap + ("rows" -> e.progress.numInputRows.toDouble) +
            ("batch" -> e.progress.batchId.toDouble))
        }
    }
    spark.streams.addListener(progressListener)

    PerfbenchBus.drain(spark.sparkContext)
    val cpu0 = listener.totalCpuNs
    val q = model.run(stream, "vec",
      onSnapshot = (bid, cents) => {
        val t0 = System.nanoTime()
        Sinks.writeSnapshot(spark, snapDir, bid, cents, model.weights.toMap)
        val t1 = System.nanoTime()
        val processed = model.weights.map(_._2).sum.round
        val (aEnd, aMs) = assignEnd(bid)
        batches += BatchRec(bid, aMs, (t0 - aEnd) / 1e6, (t1 - t0) / 1e6, t1, processed,
          offered.get() - processed)
      },
      onAssignments = (bid, assigned) => {
        val t0 = System.nanoTime()
        Sinks.writeAssignments(bid, assigned, assignDir)
        val t1 = System.nanoTime()
        assignEnd(bid) = (t1, (t1 - t0) / 1e6)
      })

    // the open-loop generator: every point is due at start + i/rate and
    // is offered as soon as it is due, whatever the engine is doing
    val intervalNs = 1e9 / rate.ptsPerSec
    val startNs = System.nanoTime() + 20000000L
    def due(i: Long): Long = startNs + (i * intervalNs).toLong
    var lateNs = 0L
    // points are offered in chunks at most 10 ms apart and of at most
    // 50,000 points: every chunk is one MemoryStream block to plan
    val chunkNs = 10000000L
    val maxChunk = 50000
    val gen = new Thread(() => {
      var i = 0L
      while (i < n) {
        val now = System.nanoTime()
        val ready = math.min(n.toLong, ((now - startNs) / intervalNs).toLong + 1)
        if (ready > i) {
          val end = math.min(ready, i + maxChunk)
          ms.addData((i until end).map(j => (j, due(j), xs(j.toInt), ys(j.toInt))))
          lateNs = math.max(lateNs, System.nanoTime() - due(i))
          offered.set(end)
          i = end
        } else LockSupport.parkNanos(math.max(due(i) - now, chunkNs))
      }
    }, "graftbench-generator")
    gen.start()
    gen.join()
    val offerEndNs = System.nanoTime()
    val backlogEnd = offered.get() - model.weights.map(_._2).sum.round
    q.processAllAvailable()
    q.stop()
    spark.streams.removeListener(progressListener)
    PerfbenchBus.drain(spark.sparkContext)
    val cpuS = (listener.totalCpuNs - cpu0) / 1e9
    val doneNs = batches.last.emitNs

    val run = q.runId.toString
    new Segment(rate, run, dir, init, startNs, offerEndNs, doneNs, backlogEnd, lateNs / 1e6,
      batches.toSeq.map(b => b.copy(cpuS = listener.batch(run, b.id).cpuNs / 1e9)),
      progress.toSeq, cpuS)
  }

  /** Every offered point assigned exactly once, to the nearest centroid
    * (lowest id on ties) of the previous batch's snapshot; with α = 1
    * each snapshot's weights sum to the points processed so far.
    * Records per-point latencies (snapshot emission minus due time)
    * and the bytes both sinks wrote on the segment.
    */
  def check(spark: SparkSession, seg: Segment, checks: Checks): Unit = {
    val assignDir = s"${seg.dir}/assignments"
    val snapDir = s"${seg.dir}/snapshots"
    val (init, n, batches, tag) = (seg.init, seg.offered, seg.batches, seg.rate.name)
    val pts = Sinks.readAssignments(spark, assignDir)
      .select(col("id"), col("due_ns"), col("vec"), col("cluster"), col("batch_id").cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2), r.getLong(3), r.getLong(4)))
    val snaps = Sinks.readSnapshots(spark, snapDir)
      .select(col("batch_id").cast("long"), col("cid"), col("centroid"), col("weight")).collect()
      .groupBy(_.getLong(0))
      .map { case (b, rs) =>
        b -> rs.map(r => (r.getLong(1), r.getSeq[Double](2).toArray, r.getDouble(3))).sortBy(_._1).toSeq
      }
    val ids = pts.map(_._1).sorted
    checks.check(s"stream_$tag.assigned_once",
      ids.length == n && ids.indices.forall(i => ids(i) == i),
      s"${ids.length} assignments for $n offered points (${ids.distinct.length} distinct)")
    val misassigned = pts.iterator.filter { case (_, _, v, cl, b) =>
      val cents = if (b == 0) init.map { case (c, a) => (c, a) }
                  else snaps.get(b - 1).map(_.map(s => (s._1, s._2))).getOrElse(Seq.empty)
      if (cents.isEmpty) true
      else {
        val d = cents.map { case (cid, c) =>
          cid -> ((v(0) - c(0)) * (v(0) - c(0)) + (v(1) - c(1)) * (v(1) - c(1)))
        }
        val best = d.minBy(_._2)._1 // first minimum: lowest cid on ties
        val dCl = d.find(_._1 == cl).map(_._2).getOrElse(Double.MaxValue)
        cl != best && dCl > d.toMap.apply(best) * (1 + 1e-12)
      }
    }.take(3).toSeq
    checks.check(s"stream_$tag.nearest_previous_snapshot", misassigned.isEmpty,
      s"points not at the previous snapshot's nearest centroid: ${misassigned.map(_._1)}")
    val perBatch = pts.groupBy(_._5).map { case (b, ps) => b -> ps.length.toLong }
    val badWeights = snaps.keys.toSeq.sorted.filter { b =>
      val w = snaps(b).map(_._3).sum
      val seen = perBatch.filter(_._1 <= b).values.sum
      math.abs(w - seen) > 1e-6
    }
    checks.check(s"stream_$tag.weights_sum_processed", badWeights.isEmpty && snaps.nonEmpty,
      s"snapshots whose weights miss the processed count: ${badWeights.take(3)}")
    val emit = batches.map(b => b.id -> b.emitNs).toMap
    val lat = pts.flatMap { case (_, due, _, _, b) => emit.get(b).map(e => (e - due) / 1e6) }
    checks.check(s"stream_$tag.every_batch_emitted", lat.length == pts.length,
      s"${pts.length - lat.length} points in batches without a snapshot")
    seg.latenciesMs = lat
    seg.bytesWritten = bytesUnder(spark, assignDir) + bytesUnder(spark, snapDir)
  }

  private def bytesUnder(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }
}
