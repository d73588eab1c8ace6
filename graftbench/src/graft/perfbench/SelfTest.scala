package graft.perfbench

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileUtil, Path => HPath}
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.sources.Sinks

/** The benchmark's own tests: generation is a function of the seed,
  * job outputs are a function of the inputs, and the output checks
  * catch a dropped pair and a mis-assigned point.
  */
object SelfTest {
  private def sha(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes).map("%02x".format(_)).mkString

  /** Content hashes of a parquet dir's data files, in part order. */
  private def partHashes(dir: String): Seq[String] =
    Files.list(Paths.get(dir)).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("part-"))
      .sortBy(_.getFileName.toString.takeWhile(_ != '-'))
      .map(p => sha(Files.readAllBytes(p)))

  def run(o: Main.Opts, cpus: Int): Obj = {
    val checks = new Checks
    val w = o.work
    val spark = Session.start(cpus, w)

    // 1. same seed, same inputs, byte for byte
    val shapes = Seq("dupheavy" -> CorpusShape.dupheavy, "unique" -> CorpusShape.unique)
    shapes.foreach { case (name, shape) =>
      val a = Corpus.generate(shape, o.seed)
      val b = Corpus.generate(shape, o.seed)
      Corpus.write(spark, a, s"$w/gen_$name/a")
      Corpus.write(spark, b, s"$w/gen_$name/b")
      val ha = partHashes(s"$w/gen_$name/a")
      checks.check(s"same_seed_same_corpus_$name",
        a.texts.sameElements(b.texts) && a.sources.sameElements(b.sources) && ha.nonEmpty &&
          ha == partHashes(s"$w/gen_$name/b"), "two generations of one seed differ")
      val other = Corpus.generate(shape, o.seed + 1)
      checks.check(s"other_seed_other_corpus_$name", !other.texts.sameElements(a.texts),
        "two seeds generated the same corpus")
    }
    val (xa, ya) = new PointGen(o.seed).take(10000)
    val (xb, yb) = new PointGen(o.seed).take(10000)
    checks.check("same_seed_same_points", xa.sameElements(xb) && ya.sameElements(yb),
      "two point generations of one seed differ")

    // 2. same inputs, same output digests; the clean outputs pass
    val c = Corpus.generate(CorpusShape.small, o.seed)
    val input = s"$w/input"
    Corpus.write(spark, c, input)
    CorpusJob.run(spark, input, s"$w/out_a")
    CorpusJob.run(spark, input, s"$w/out_b")
    val digest = CorpusJob.digest(spark, s"$w/out_a")
    checks.check("same_input_same_digest", digest == CorpusJob.digest(spark, s"$w/out_b"),
      "two runs of the job on one input disagree")
    val docs = spark.read.parquet(input)
    val pairs = Dedup.minhashMd5PairsUnsorted(docs).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val clean = new Checks
    CorpusJob.check(spark, c, s"$w/out_a", Some(pairs), clean)
    checks.check("clean_corpus_outputs_pass", clean.failed == 0 && clean.attempted > 0,
      s"clean outputs failed: ${clean.results.filter(!_._2)}")

    // 3. one dropped pair: an exact copy loses its only edge
    val (orig, copy) = c.exactPairs.head
    val dropped = pairs.filterNot(_ == ((math.min(orig, copy), math.max(orig, copy))))
    checks.check("corruption_drops_one_pair", dropped.length == pairs.length - 1,
      s"planted exact pair ($orig, $copy) not among ${pairs.length} pairs")
    import spark.implicits._
    val corrupt = s"$w/out_dropped"
    Dedup.ccLabels(docs, dropped.toSeq.toDF("id_a", "id_b")).write.parquet(s"$corrupt/labels")
    FileUtil.copy(new HPath(s"$w/out_a/training").getFileSystem(spark.sparkContext.hadoopConfiguration),
      new HPath(s"$w/out_a/training"),
      new HPath(s"$corrupt/training").getFileSystem(spark.sparkContext.hadoopConfiguration),
      new HPath(s"$corrupt/training"), false, spark.sparkContext.hadoopConfiguration)
    val dirty = new Checks
    CorpusJob.check(spark, c, corrupt, Some(dropped), dirty)
    checks.check("dropped_pair_fails_checks",
      dirty.results.exists { case (n, ok, _) => n == "exact_copies_share_labels" && !ok },
      "a dropped exact-copy pair passed the checks")
    checks.check("dropped_pair_changes_digest", CorpusJob.digest(spark, corrupt) != digest,
      "a dropped pair left the digest unchanged")

    // 4. one mis-assigned point fails the stream checks
    val seg = Stream.segment(spark, new GroupListener, s"$w/stream", o.seed,
      Rate("selftest", 2000.0, 1.0), cpus)
    val streamClean = new Checks
    Stream.check(spark, seg, streamClean)
    checks.check("clean_stream_outputs_pass", streamClean.failed == 0,
      s"clean stream outputs failed: ${streamClean.results.filter(!_._2)}")
    val bad = s"$w/stream_bad"
    val assigned = Sinks.readAssignments(spark, s"${seg.dir}/assignments")
    val victim = assigned.agg(min(col("id"))).collect()(0).getLong(0)
    val flipped = assigned.withColumn("cluster",
      when(col("id") === victim, (col("cluster") + 1) % Stream.k).otherwise(col("cluster")))
    flipped.write.partitionBy("batch_id").parquet(s"$bad/assignments")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new HPath(bad).getFileSystem(conf)
    FileUtil.copy(fs, new HPath(s"${seg.dir}/snapshots"), fs, new HPath(s"$bad/snapshots"), false, conf)
    val badSeg = new Segment(seg.rate, seg.group, bad, seg.init, seg.startNs, seg.offerEndNs,
      seg.doneNs, seg.backlogEnd, seg.genLateMs, seg.batches, seg.progress, seg.cpuS)
    val streamDirty = new Checks
    Stream.check(spark, badSeg, streamDirty)
    checks.check("misassigned_point_fails_checks",
      streamDirty.results.exists { case (n, ok, _) => n.endsWith("nearest_previous_snapshot") && !ok },
      "a mis-assigned point passed the checks")
    Session.stop(spark)
    Obj(Seq("correct" -> (checks.failed == 0), "attempted" -> checks.attempted,
      "failed" -> checks.failed, "metrics" -> Map.empty[String, Double],
      "checks" -> checks.report))
  }
}
