package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Ordered JSON object; values are numbers, strings, booleans, null,
  * nested objects or sequences.
  */
final case class Obj(fields: Seq[(String, Any)]) {
  def ++(o: Obj): Obj = Obj(fields ++ o.fields)
}

object Json {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case Obj(fs) => fs.map { case (k, x) => str(k) + ":" + render(x) }.mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case a: Array[_] => render(a.toSeq)
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest of the standard tail percentiles that still has at
    * least ten samples beyond it: (percentile, value).
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val p = Seq(99.9, 99.0, 95.0, 90.0, 50.0)
      .find(p => xs.length * (1.0 - p / 100.0) >= 10.0).getOrElse(50.0)
    (p, quantile(xs, p / 100.0))
  }
}

/** Output checks: each one is an attempted operation, a failed check
  * is a failed one.
  */
final class Checks {
  val results = ArrayBuffer[(String, Boolean, String)]()
  def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    results += ((name, ok, if (ok) "" else detail))
    if (!ok) System.err.println(s"CHECK FAILED $name: $detail")
    ok
  }
  def attempted: Int = results.length
  def failed: Int = results.count(!_._2)
  def report: Seq[Obj] = results.toSeq.map { case (n, ok, d) =>
    Obj(Seq("name" -> n, "ok" -> ok) ++ (if (d.nonEmpty) Seq("detail" -> d) else Nil))
  }
}

/** Task-metric totals for one job group (or for the whole session). */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  val stageTaskMs = mutable.Map[Int, ArrayBuffer[Long]]()

  /** max / median task time of the stage with the most task time. */
  def taskSkew: Double =
    if (stageTaskMs.isEmpty) 1.0
    else {
      val heavy = stageTaskMs.values.maxBy(_.sum)
      val med = math.max(1.0, Stats.median(heavy.map(_.toDouble).toSeq))
      heavy.max / med
    }
}

/** Attributes every finished task to the job group it ran under
  * (`spark.jobGroup.id` of the job that submitted its stage).
  */
final class GroupListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageBatch = new ConcurrentHashMap[Int, String]()
  private val groups = mutable.Map[String, Counters]()
  val total = new Counters

  private def counters(g: String): Counters = groups.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val prop = (k: String) => Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val g = prop("spark.jobGroup.id").getOrElse("")
    e.stageIds.foreach(s => stageGroup.putIfAbsent(s, g))
    counters(g).jobs += 1
    total.jobs += 1
    // a streaming query's jobs carry their micro-batch in the description
    prop("spark.job.description").flatMap(d => GroupListener.batch.findFirstMatchIn(d)).foreach { m =>
      val b = s"$g@${m.group(1)}"
      e.stageIds.foreach(s => stageBatch.putIfAbsent(s, b))
      counters(b).jobs += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val g = Option(stageGroup.get(e.stageId)).getOrElse("")
      (Seq(counters(g), total) ++ Option(stageBatch.get(e.stageId)).map(counters)).foreach { c =>
        c.tasks += 1
        c.cpuNs += m.executorCpuTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.diskBytesSpilled
        c.stageTaskMs.getOrElseUpdate(e.stageId, ArrayBuffer[Long]()) += m.executorRunTime
      }
    }
  }

  def group(g: String): Counters = synchronized(groups.getOrElse(g, new Counters))
  /** Counters of micro-batch `batch` of the streaming query run `run`. */
  def batch(run: String, batch: Long): Counters = group(s"$run@$batch")
  def totalCpuNs: Long = synchronized(total.cpuNs)
}

object GroupListener {
  private val batch = """(?m)^batch = (\d+)""".r
}

object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

/** A closed span: name, start/end (ns, this JVM's monotonic clock),
  * parent span id (-1 for a root), the run it belongs to, and the
  * engine counters of the work it submitted.
  */
final case class Span(id: Int, name: String, parent: Int, run: String,
                      startNs: Long, endNs: Long, counters: Obj) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory and written out when the run ends. Each span
  * sets its own Spark job group, so the listener can attribute the
  * stages its calls submit. Disabled tracers run the body untouched.
  */
final class Tracer(spark: SparkSession, listener: GroupListener, val enabled: Boolean) {
  val spans = ArrayBuffer[Span]()
  private var stack = List.empty[(Int, String)]
  private var nextId = 0
  var run = ""

  /** `attribute`, when given, names the job group whose counters the
    * span reports instead of its own (a streaming query runs its jobs
    * under the query's run id, on the query's thread).
    */
  def span[T](name: String, attribute: () => String = null)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val id = nextId
      nextId += 1
      val group = s"$run/$name#$id"
      val parent = stack.headOption
      stack = (id, group) :: stack
      sc.setJobGroup(group, name)
      val gc0 = Jvm.gcMs
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        PerfbenchBus.drain(sc)
        val gcS = (Jvm.gcMs - gc0) / 1000.0
        stack = stack.tail
        parent match {
          case Some((_, g)) => sc.setJobGroup(g, g)
          case None => sc.clearJobGroup()
        }
        val c = listener.group(if (attribute == null) group else attribute())
        spans += Span(id, name, parent.map(_._1).getOrElse(-1), run, t0, t1, Obj(Seq(
          "jobs" -> c.jobs, "tasks" -> c.tasks, "cpu_s" -> c.cpuNs / 1e9, "gc_s" -> gcS,
          "shuffle_read_mb" -> c.shuffleRead / 1048576.0,
          "shuffle_write_mb" -> c.shuffleWrite / 1048576.0,
          "spill_mb" -> c.spill / 1048576.0, "task_skew" -> c.taskSkew)))
      }
    }

  /** Span duration minus the time its direct children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  def render: Seq[Obj] = spans.toSeq.map { s =>
    Obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.run,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "s" -> s.seconds,
      "self_s" -> selfSeconds(s)) ++ s.counters.fields)
  }
}

object Session {
  /** The session every workload runs on: local[cpus] with graft's
    * native kernels installed, all scratch space under `work`.
    */
  def start(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}
