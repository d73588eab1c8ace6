package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.KMeans
import graft.sources.FeatureSource
import graft.streaming.StreamingKMeans

/** CLI entry point mirroring the reference engine's tooling surface
  * (ScaleUnlimited/flink-streaming-kmeans: load feature points from
  * CSV, cluster them, emit per-point assignments + periodic centroid
  * snapshots).
  *
  * Usage:
  *   tools/run.sh graft.KMeansJob batch  <csvPathOrDir> <k> <iters>
  *   tools/run.sh graft.KMeansJob stream <csvDir> <k> [decay] [snapDir] [assignDir]
  *
  * batch: Lloyd's over the full file, prints per-cluster metrics and
  *   final centroids.
  * stream: watches `csvDir` as a file stream (the Spark analogue of
  *   the reference's point stream); each arriving file is a
  *   micro-batch; prints a centroid snapshot per batch. Seeds from
  *   whatever CSV is already present.
  */
object KMeansJob {

  /** Clear a previous run's batch_id-partitioned sink dir — GUARDED:
    * deletes only if the dir is absent, empty, or every child is a
    * batch_id=* partition (or Spark/Hadoop metadata). A mistyped
    * 6th argument pointing at an arbitrary directory fails loudly
    * instead of being recursively destroyed, and a failed delete
    * raises instead of silently no-opping (the old deleteQuietly
    * swallowed both). Uses Hadoop FileSystem so non-local paths
    * (hdfs://, s3a://) are cleared too, not just java.io files.
    */
  private[graft] def clearBatchOutputDir(spark: SparkSession, dir: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return
    val children = fs.listStatus(path)
    val stray = children.filterNot { st =>
      val n = st.getPath.getName
      // batch_id=* partition dirs, the streaming-sink metadata dir,
      // and hidden/metadata FILES (_SUCCESS, .crc). Hidden
      // DIRECTORIES are NOT whitelisted — a mistyped path at a repo
      // root would otherwise pass on its .git dir alone
      (st.isDirectory && (n.startsWith("batch_id=") || n == "_spark_metadata")) ||
        (st.isFile && (n.startsWith("_") || n.startsWith(".")))
    }
    require(stray.isEmpty,
      s"refusing to clear '$dir': it contains entries that are not batch_id=* partitions " +
        s"(${stray.take(3).map(_.getPath.getName).mkString(", ")}) — pass a fresh output directory")
    require(fs.delete(path, true), s"failed to clear previous-run output dir '$dir'")
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: KMeansJob batch|stream <path> <k> [iters|decay]")
    val Array(mode, path, kStr) = args.take(3)
    val k = kStr.toInt
    val spark = Sessions.local()

    mode match {
      case "batch" =>
        val iters = if (args.length > 3) args(3).toInt else 3
        val pts = FeatureSource.csv2d(spark, path).toDF()
        val (assigned, cents) = KMeans.lloyd(pts, "id", "vec", k, iters, dim = 2)
        println("== per-cluster metrics ==")
        KMeans.metrics(assigned).show(k, truncate = false)
        println("== centroids ==")
        cents.foreach { case (cid, c) => println(s"  cluster $cid: ${c.mkString("(", ", ", ")")}") }

      case "stream" =>
        val decay = if (args.length > 3) args(3).toDouble else 1.0
        // outputs land NEXT TO the watched dir (writing parquet into
        // the csv dir would feed the file stream its own output)
        val snapDir = if (args.length > 4) args(4) else s"${path.stripSuffix("/")}_snapshots"
        val assignDir = if (args.length > 5) args(5) else s"${path.stripSuffix("/")}_assignments"
        // this job runs WITHOUT a streaming checkpoint, so batch ids
        // restart at 0 every run — a previous longer run's surviving
        // batch_id=N dirs would otherwise mix stale rows (made against
        // a different model state) into this run's readback. Both
        // per-batch sinks get the same clear; the guard inside refuses
        // to touch anything that doesn't look like one of our outputs.
        clearBatchOutputDir(spark, assignDir)
        clearBatchOutputDir(spark, snapDir)
        val seed = FeatureSource.csv2d(spark, path).toDF()
        val model = StreamingKMeans.seeded(seed, "id", "vec", k, dim = 2, decay)
        val stream = spark.readStream.schema(FeatureSource.csvSchema).csv(path)
          .select(col("id"), array(col("x"), col("y")).as("vec"))
        // BOTH reference outputs per batch: per-point assignments
        // (each point labeled with the centroid it was matched
        // against, before that centroid moves) and the centroid
        // snapshot — partitioned parquet sinks, durable + queryable
        val q = model.run(stream, "vec",
          onSnapshot = (batchId, cents) =>
            graft.sources.Sinks.writeSnapshot(spark, snapDir, batchId, cents,
              model.weights.toMap),
          onAssignments = (batchId, assigned) =>
            graft.sources.Sinks.writeAssignments(batchId,
              assigned.select(col("id"), col("cluster")), assignDir))
        q.awaitTermination(sys.env.getOrElse("SPARK_GRAFT_STREAM_MS", "15000").toLong)
        q.stop()
        println(s"centroid snapshots: $snapDir")
        graft.sources.Sinks.readSnapshots(spark, snapDir)
          .orderBy(col("batch_id"), col("cid")).show(100, truncate = false)
        println(s"per-point assignments: $assignDir")
        graft.sources.Sinks.readAssignments(spark, assignDir)
          .orderBy(col("batch_id"), col("id")).show(20, truncate = false)

      case other => sys.error(s"unknown mode: $other (use batch|stream)")
    }
    spark.stop()
  }
}
