package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ad-hoc profiling harness (guide §1): times named plan segments
  * with a stage-level listener so a regression can be attributed to a
  * stage, not a whole key. Not part of the bench/oracle surface.
  *
  * SPARK_GRAFT_PROBE selects the probe set; segments print wall
  * seconds plus per-stage task-time breakdowns.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo
        val ms = for {a <- i.completionTime; b <- i.submissionTime} yield a - b
        stages.add(f"    stage ${i.stageId}%4d tasks=${i.numTasks}%4d wall=${ms.getOrElse(-1L)/1000.0}%8.2fs  ${i.name.takeWhile(_ != '\n').take(90)}")
      }
      override def onJobStart(js: SparkListenerJobStart): Unit =
        stages.add(f"  job ${js.jobId}%3d  stages=${js.stageIds.size}")
    })
    def seg(name: String)(df: => DataFrame): Unit = {
      stages.clear()
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300)
      println(f"== $name%-28s ${dt}%8.2f s")
      stages.forEach(s => println(s))
      spark.sharedState.cacheManager.clearCache()
    }
    val which = sys.env.getOrElse("SPARK_GRAFT_PROBE", "dedup_apply")
    which match {
      case "dedup_apply" =>
        val docs = Tables.documents(spark, sfDir)
        (1 to 4).foreach { r =>
          seg(s"apply_full_$r") {
            operators.Dedup.applyPairs(docs, operators.Dedup.minhashMd5PairsUnsorted(docs))
              .select(col("doc_id"), col("lang"), col("n_chars"))
              .orderBy(col("doc_id"))
          }
        }
      case "counts" =>
        // volume audit of the md5-minhash generator (guide §1): how many
        // rows hit each stage — banded rows, pre-distinct pair-join
        // output, distinct candidates, verified pairs, and the token-set
        // work the verify stage performs per candidate
        val docs = Tables.documents(spark, sfDir)
        val toksCol = array_distinct(graft.functions.TextFunctions.tokens(col("text")))
        val shingled = docs.select(col("doc_id"), toksCol.as("toks"))
          .filter(size(col("toks")) > 0)
          .select(col("doc_id"), col("toks"),
            graft.functions.HashFunctions.md5MinhashSig(col("toks"), 32).as("sig"))
          .persist()
        println(s"docs=${docs.count()} shingled=${shingled.count()}")
        println("toks stats: " + shingled.select(
          sum(size(col("toks"))), avg(size(col("toks"))), max(size(col("toks")))).first())
        val bandStructs = array((0 until 4).map { b =>
          struct(lit(b).as("band"),
            concat_ws("#", (0 until 8).map(r =>
              element_at(col("sig"), b * 8 + r + 1)): _*).as("bucket"))
        }: _*)
        val banded = shingled.select(col("doc_id"), explode(bandStructs).as("bk"))
          .select(col("doc_id"), col("bk.band").as("band"), col("bk.bucket").as("bucket"))
          .persist()
        println(s"banded=${banded.count()}")
        val sizes = banded.groupBy("band", "bucket").agg(count(lit(1)).as("n")).persist()
        println("bucket count=" + sizes.count())
        println("pre-distinct pair volume=" + sizes.agg(sum(col("n") * (col("n") - 1) / 2)).first())
        println("top buckets: " + sizes.orderBy(col("n").desc).limit(5).collect().mkString(", "))
        val cands = operators.Dedup.candidatePairs(banded).persist()
        println(s"candidates=${cands.count()}")
        val ta = shingled.select(col("doc_id").as("id_a"), col("toks").as("toks_a"))
        val tb = shingled.select(col("doc_id").as("id_b"), col("toks").as("toks_b"))
        val verifyWork = cands.join(ta, "id_a").join(tb, "id_b")
          .select((size(col("toks_a")) + size(col("toks_b"))).as("w"),
            size(col("toks_a")).as("sa"), size(col("toks_b")).as("sb"),
            call_function("graft_jaccard_fs", col("toks_a"), col("toks_b")).as("j"))
          .persist()
        println("verify token work=" + verifyWork.agg(sum(col("w")), count(lit(1))).first())
        println("verified=" + verifyWork.filter(col("j") >= 9000).count())
        // selectivity of the provable size bound J <= min/max: candidates
        // the bound rejects can never reach jac_fs >= 9000
        println("size-bound keeps=" + verifyWork.filter(
          lit(10000L) * least(col("sa"), col("sb")) >= lit(9000L) * greatest(col("sa"), col("sb"))).count())
      case "audio_micro" =>
        // per-payload cost split of the WAV path (guide §1): synthesis
        // (AudioSystem.write) vs decode (AudioSystem.getAudioInputStream)
        // — both run one SPI provider scan per CALL unless hoisted
        def time(name: String)(f: => Unit): Unit = {
          val t0 = System.nanoTime(); f
          println(f"$name%-22s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
        }
        val ids = (0L until 5000L).toArray
        time("synth_5000_warmup") { ids.take(500).foreach(operators.Multimodal.synthesizeWav) }
        val wavs = new Array[Array[Byte]](ids.length)
        time("synth_5000") { ids.foreach(i => wavs(i.toInt) = operators.Multimodal.synthesizeWav(i)) }
        time("decode_5000") {
          wavs.foreach { b =>
            val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
              new java.io.ByteArrayInputStream(b))
            val d = ais.readAllBytes(); ais.close()
            if (d.length == 0) throw new IllegalStateException("empty")
          }
        }
      case other =>
        SparkEntry.queries.get(other).foreach { fn =>
          seg(other) { fn(spark, sfDir) }
          seg(other + "_2nd") { fn(spark, sfDir) }
        }
    }
    spark.stop()
  }
}
