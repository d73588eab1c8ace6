package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Output-side plumbing: how graft results land on distributed
  * storage so DOWNSTREAM readers scan less.
  *
  *  - `writePartitioned`: hive-style directory partitioning — readers
  *    filtering on the partition column prune whole directories
  *    (PartitionFilters in their scan, zero data read for pruned
  *    values). Right for low-cardinality routing keys (lang, date,
  *    source).
  *  - `writeBucketed`: hash-bucketed + sorted table — a downstream
  *    join or groupBy on the bucket key skips its shuffle entirely
  *    (bucketed scan reports the hash partitioning to Catalyst).
  *    Right for high-cardinality join keys (doc_id, user_id).
  *
  * At 100 TB the partition/bucket choice IS the query plan of every
  * later consumer; these helpers make the two canonical layouts
  * one-liners.
  */
object Sinks {

  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
                       mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).partitionBy(partitionCols: _*).parquet(path)

  /** The parquet schema Spark's own writer gives a snapshot's
    * (cid, centroid, weight) rows: non-null longs and doubles, a
    * nullable list of non-null doubles.
    */
  private lazy val SnapshotParquetSchema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  required int64 cid;
      |  optional group centroid (LIST) {
      |    repeated group list {
      |      required double element;
      |    }
      |  }
      |  required double weight;
      |}""".stripMargin)

  /** Write one per-batch centroid snapshot — the reference engine's
    * cluster-visualization feed (flink-streaming-kmeans exposes
    * periodic cluster snapshots for its map UI) as a durable,
    * queryable table instead of stdout. Partitioned by batch_id:
    * a monitoring reader of "the latest snapshot" prunes every other
    * partition; history accumulates for time-travel plots.
    *
    * A snapshot is k rows, so the driver writes it itself with
    * parquet-hadoop's example writer: no Spark job. The file is
    * written under a hidden temporary name in `batch_id=N/` and then
    * renamed to that batch's one fixed file name, so a reader sees
    * either no snapshot or all k rows, and a replayed batch replaces
    * its snapshot instead of adding a second copy. The file has the
    * parquet schema Spark's writer gives these rows, so readers see the
    * same column types.
    */
  def writeSnapshot(spark: SparkSession, path: String, batchId: Long,
                    centroids: Seq[(Long, Array[Double])],
                    weights: Map[Long, Double] = Map.empty): Unit = {
    import org.apache.hadoop.fs.{FileContext, Options, Path}
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(path, s"batch_id=$batchId")
    val tmp = new Path(dir, s".snapshot-${java.util.UUID.randomUUID()}.tmp")
    val dst = new Path(dir, "snapshot.parquet")
    val fs = dir.getFileSystem(conf)
    try {
      val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(tmp, conf))
        .withConf(conf)
        .withType(SnapshotParquetSchema)
        .withCompressionCodec(CompressionCodecName.SNAPPY)
        .build()
      val rows = new SimpleGroupFactory(SnapshotParquetSchema)
      try centroids.foreach { case (cid, c) =>
        val row = rows.newGroup().append("cid", cid).append("weight", weights.getOrElse(cid, 0.0))
        val list = row.addGroup("centroid")
        c.foreach(x => list.addGroup("list").append("element", x))
        writer.write(row)
      } finally writer.close()
      // a POSIX rename replaces an existing file atomically; a store
      // whose plain rename refuses an existing destination (HDFS)
      // takes the explicit overwrite form
      if (!fs.rename(tmp, dst))
        FileContext.getFileContext(dst.toUri, conf).rename(tmp, dst, Options.Rename.OVERWRITE)
    } finally fs.delete(tmp, false)
  }

  /** Read a snapshot dir back (all batches; filter batch_id to prune). */
  def readSnapshots(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Append one micro-batch of per-point cluster assignments — the
    * reference engine's other streaming output (each point labeled with
    * the cluster it joined). Unlike snapshots this IS data-sized, so it
    * keeps the batch's own partitioning (no coalesce) and relies on
    * batch_id directory pruning for "what did batch N assign" reads;
    * a consumer joining assignments to points prunes by batch range
    * first. Exactly-once per batch comes from the streaming engine's
    * batch-id-keyed retry (rerun batches overwrite their own dir).
    */
  def writeAssignments(batchId: Long, assigned: DataFrame, path: String): Unit =
    assigned.write.mode(SaveMode.Overwrite)
      .parquet(s"$path/batch_id=$batchId")

  /** Read an assignments dir back; `batch_id` comes from the directory
    * name (hive-style), so filters on it prune whole batches.
    */
  def readAssignments(spark: SparkSession, path: String): DataFrame =
    spark.read.option("basePath", path).parquet(path)

  /** The Z-address of `cols` as a Column: each column min/max-scales
    * onto a 16-bit grid, and the grid cells' bits interleave
    * (bit i of column j lands at position i·n + j), so rows close in
    * EVERY clustered dimension are close in the one-dimensional sort
    * key. A static shift/mask expression tree (16·n terms) — fully
    * codegen'd, no UDF. Bounds come in as literals
    * ([[writeZOrdered]] computes them with one tiny agg); a
    * degenerate dimension (min == max) contributes constant bits.
    */
  private[graft] def zValue(cols: Seq[String], mins: Seq[Long], maxs: Seq[Long]) = {
    import org.apache.spark.sql.functions._
    val n = cols.length
    val cells = cols.zipWithIndex.map { case (c, j) =>
      val span = math.max(1L, maxs(j) - mins(j))
      // floor((v - min) · 65535 / span), clamped to the grid; double
      // intermediate (overflow-safe for spans < 2^53 — a layout key
      // needs locality, not cross-engine bit parity)
      least(lit(65535L), greatest(lit(0L),
        floor((col(c).cast("double") - lit(mins(j).toDouble)) * lit(65535.0) / lit(span.toDouble))
          .cast("long")))
    }
    (0 until 16).flatMap { i =>
      cells.zipWithIndex.map { case (cell, j) =>
        shiftleft(shiftright(cell, i).bitwiseAND(lit(1L)), i * n + j)
      }
    }.reduce(_ + _)
  }

  /** Z-order clustered parquet — multi-dimensional data skipping for
    * numeric filter columns where directory partitioning is wrong
    * (high cardinality) and bucketing doesn't help filters (hash
    * destroys range locality). Rows sort by the interleaved
    * [[zValue]] and range-partition into `partitions` files, so
    * parquet's always-written file/row-group min-max statistics
    * become TIGHT boxes in every clustered dimension at once: a
    * reader's conjunctive range predicate prunes to the few files
    * whose box intersects it — a linear sort gives that for its
    * leading column only, leaving trailing-column predicates
    * unprunable (spec-pinned: an aligned 1/8 × 1/8 box touches ≤ half
    * the files the linear layout touches). At 100 TB this is the
    * difference between scanning a curve-adjacent sliver and a full
    * leading-dimension stripe.
    *
    * Cost: one bounded min/max agg (2 longs per clustered column) +
    * the same range-exchange a plain global sort pays. The z column
    * is dropped before the write; the layout IS the artifact.
    */
  def writeZOrdered(df: DataFrame, path: String, zCols: Seq[String],
                    partitions: Int, saveMode: SaveMode = SaveMode.Overwrite,
                    blockBytes: Long = 0L): Unit = {
    import org.apache.spark.sql.functions._
    require(zCols.nonEmpty, "writeZOrdered needs at least one clustering column")
    val aggExprs = zCols.flatMap(c => Seq(min(col(c).cast("long")), max(col(c).cast("long"))))
    val bounds = df.agg(aggExprs.head, aggExprs.tail: _*).collect()(0)
    val mins = zCols.indices.map(j => bounds.getLong(2 * j))
    val maxs = zCols.indices.map(j => bounds.getLong(2 * j + 1))
    val writer = df.withColumn("__z", zValue(zCols, mins, maxs))
      .repartitionByRange(partitions, org.apache.spark.sql.functions.col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode(saveMode)
    // smaller parquet row groups = finer min-max skipping granularity
    // (the z-sort makes every row group a tight box, so more groups
    // means proportionally less data read per pruned query)
    (if (blockBytes > 0) writer.option("parquet.block.size", blockBytes) else writer)
      .parquet(path)
  }

  /** Bucketed tables require the metastore path (saveAsTable); the
    * session's warehouse dir decides physical placement.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String, buckets: Int,
                    mode: SaveMode = SaveMode.Overwrite): Unit =
    writeBucketed(df, table, Seq(bucketCol), buckets, mode)

  /** Multi-column bucketing: a downstream join/groupBy on EXACTLY
    * these columns (e.g. an LSH candidate join on (band, bucket))
    * reads the hash partitioning from the table layout and skips its
    * shuffle — same contract as the single-column form.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String], buckets: Int,
                    mode: SaveMode): Unit =
    // align write tasks to buckets BEFORE the bucketed write (r21):
    // without it every input task writes up to `buckets` files —
    // tasks × buckets tiny files whose open/commit cost dominates the
    // write for the bounded stored frames, and whose count is exactly
    // what the maintenance rewrite exists to undo. The repartition is
    // the same murmur3 `hash pmod buckets` routing the bucketed
    // writer applies, so each task holds exactly one bucket and emits
    // exactly one file — [[rewriteBucketed]] already writes through
    // this shape; this makes first creation match it. Scale-correct:
    // `buckets` is the table's layout contract (the caller's scale
    // knob), and one-file-per-bucket is the layout's maintained
    // steady state.
    df.repartition(buckets, bucketCols.map(org.apache.spark.sql.functions.col): _*)
      .write.mode(mode)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** [[replaceBucketed]]'s type comparison with nullability erased at
    * every nesting level (Catalyst's sameType is session-private).
    */
  private def denull(dt: org.apache.spark.sql.types.DataType)
  : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case ArrayType(e, _) => ArrayType(denull(e), containsNull = true)
      case MapType(k, v, _) => MapType(denull(k), denull(v), valueContainsNull = true)
      case StructType(fs) =>
        StructType(fs.map(f => f.copy(dataType = denull(f.dataType), nullable = true)))
      case other => other
    }
  }

  /** Create-or-replace a bucketed table with a FRESH frame. A plain
    * overwrite `saveAsTable` on a table that has generation-flipped
    * fails with LOCATION_ALREADY_EXISTS (the drop recreates at the
    * base location, which still holds a kept old generation) — so
    * replacement of an existing table routes through the same
    * staged-generation pointer flip as maintenance rewrites (transform
    * ignores the stored rows), keeping concurrent readers live too.
    * First creation is a plain bucketed write. The full-rebuild
    * lifecycles (recluster/cohort-rebuild) write through here.
    */
  def replaceBucketed(spark: SparkSession, df: DataFrame, table: String,
                      bucketCols: Seq[String], buckets: Int): Unit =
    if (spark.catalog.tableExists(table)) {
      // the flip keeps the live catalog entry (and its schema): a
      // replacement may only change DATA, not shape — compared by
      // name AND dataType (a dtype drift passing a name-only check
      // would leave files disagreeing with the catalog schema and
      // read back as nulls). Nullability is deliberately excluded at
      // EVERY nesting level (sameType): aggregate rewrites flip
      // top-level nullability benignly, and array element
      // containsNull flips on any parquet round-trip (collect_set
      // writes non-null elements, the reader declares them nullable).
      val live = spark.table(table).schema
      val liveByName = live.map(f => f.name -> denull(f.dataType)).toMap
      require(df.schema.length == live.length && df.schema.forall(f =>
          liveByName.get(f.name).contains(denull(f.dataType))),
        s"replaceBucketed $table: schema change ${df.schema.map(f => (f.name, f.dataType))} " +
          s"vs live ${live.map(f => (f.name, f.dataType))}")
      rewriteBucketed(spark, table, bucketCols, buckets, _ => df)
    } else writeBucketed(df, table, bucketCols, buckets, SaveMode.ErrorIfExists)

  /** Rewrite a bucketed table so each bucket is ONE file again — the
    * maintenance pass for append-accumulated small files, with ZERO
    * shuffle: forcing the bucketed scan (autoBucketedScan off for the
    * rewrite) reads each bucket's files as ONE task, and the bucketed
    * writer then emits exactly one file per bucket. The explicit
    * `repartition` (same murmur3 `hash pmod buckets` routing as
    * bucketing) is belt-and-braces: redundant over the aligned scan —
    * Catalyst elides it — but it keeps the write correct if a future
    * planner declines the bucketed read. (Without BOTH, the default
    * planner removes the repartition as satisfied-by-bucketing and
    * THEN un-buckets the scan — `DisableUnnecessaryBucketedScan` —
    * leaving misaligned tasks that re-fragment every bucket; probed
    * on Spark 4.1.)
    *
    * Swap is a versioned-location POINTER FLIP (see
    * [[flipToGeneration]]) — a concurrent reader always resolves a
    * live table (spec-pinned under a hammering reader thread).
    */
  def compactBucketed(spark: SparkSession, table: String, bucketCols: Seq[String],
                      buckets: Int, keepGenerations: Int = 1): Unit =
    rewriteBucketed(spark, table, bucketCols, buckets, identity, keepGenerations)

  /** The general in-place bucketed rewrite behind [[compactBucketed]]:
    * scan the table bucket-aligned, apply `transform` (which must
    * PRESERVE the hash partitioning — a broadcast anti-join or a
    * filter does; a shuffle-inducing transform would re-fragment the
    * layout), and write each bucket back as one file. This is how a
    * plain-parquet metastore expresses row-level maintenance — the
    * compaction pass (identity transform) and the retraction pass
    * (anti-join against a bounded delete set) are the same rewrite.
    *
    * The new generation is written to a versioned location as an
    * EXTERNAL staging table, then the live table FLIPS to it with one
    * `ALTER TABLE SET LOCATION` — never dropped, never renamed, so a
    * concurrent reader resolving the table by name always finds it
    * (the r9 drop→rename swap had a missing-table window). See
    * [[flipToGeneration]] for the residual race and the writer
    * contract.
    */
  def rewriteBucketed(spark: SparkSession, table: String, bucketCols: Seq[String],
                      buckets: Int, transform: DataFrame => DataFrame,
                      keepGenerations: Int = 1): Unit = {
    import org.apache.spark.sql.functions.col
    val autoKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = spark.conf.get(autoKey)
    spark.conf.set(autoKey, "false")
    try {
      val tmp = s"${table}__compact"
      spark.sql(s"DROP TABLE IF EXISTS $tmp")
      val (oldLoc, newLoc) = nextGenLocation(spark, table)
      transform(spark.table(table)).repartition(buckets, bucketCols.map(col): _*)
        .write.mode(SaveMode.Overwrite)
        .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
        .sortBy(bucketCols.head, bucketCols.tail: _*)
        .format("parquet").option("path", newLoc)
        .saveAsTable(tmp)
      flipToGeneration(spark, table, tmp, oldLoc, newLoc, keepGenerations)
    } finally spark.conf.set(autoKey, prev)
  }

  /** (current location, next generation's location) for a maintenance
    * rewrite: generations are sibling directories `<base>__gN` so the
    * live directory is never written into nor renamed away.
    */
  private[graft] def nextGenLocation(spark: SparkSession, table: String)
  : (java.net.URI, String) = {
    val (base, gen) = splitGen(currentLocation(spark, table))
    (spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table)).location,
      s"${base}__g${gen + 1}")
  }

  /** Normalized current location string of `table` (no trailing /). */
  private[graft] def currentLocation(spark: SparkSession, table: String): String = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    spark.sessionState.catalog.getTableMetadata(ident).location.toString.stripSuffix("/")
  }

  /** Split a generation location into (base, N): `<base>__gN` → N,
    * an unversioned location is generation 0.
    */
  private def splitGen(s: String): (String, Long) = {
    val i = s.lastIndexOf("__g")
    if (i > 0 && s.length > i + 3 && s.drop(i + 3).forall(_.isDigit))
      (s.take(i), s.drop(i + 3).toLong)
    else (s, 0L)
  }

  /** The directory of generation `n` in `base`'s chain (generation 0
    * IS the base directory).
    */
  private def genDir(base: String, n: Long): String =
    if (n == 0) base else s"${base}__g$n"

  /** The maintenance-swap commit: point the live table at the staged
    * generation with ONE catalog operation (`ALTER TABLE SET
    * LOCATION`), drop the external staging entry (metadata only — an
    * external drop never touches data), and delete the previous
    * generation's directory. A reader resolving the table BY NAME at
    * any instant finds a live table over a complete generation — the
    * catalog-level missing-table window of a drop→rename swap cannot
    * occur. RETENTION (r11, parameterized r12): the newest
    * `keepGenerations` non-live generations are KEPT on disk (default
    * 1 — the generation being flipped away from); only the one
    * `keepGenerations` passes stale is deleted. A reader that planned
    * file handles against a retained generation finishes its scan
    * against intact files — size `keepGenerations` to the longest
    * scan measured in maintenance cycles (a reader spanning TWO flips
    * survives `keepGenerations = 2`, spec-pinned). Residual,
    * documented: a scan still running after `keepGenerations` FULL
    * further maintenance cycles can lose its directory — bounding
    * that too is [[vacuumGenerations]]' job (run it instead of eager
    * deletes when such readers exist) or a transactional table
    * format; single-WRITER ownership of maintenance passes remains
    * the contract either way.
    */
  private[graft] def flipToGeneration(spark: SparkSession, table: String, stagingTable: String,
                                      oldLoc: java.net.URI, newLoc: String,
                                      keepGenerations: Int = 1): Unit = {
    spark.sql(s"ALTER TABLE $table SET LOCATION '$newLoc'")
    flipCleanup(spark, stagingTable, oldLoc, keepGenerations)
  }

  /** The flip's second half, separated so partitioned tables can run
    * their `MSCK REPAIR` between the location flip and the old
    * generation's deletion (readers on stale partition entries read
    * the old snapshot until the repair lands). Deletes the generation
    * `keepGenerations` BEFORE `oldLoc` — `oldLoc` itself and the
    * `keepGenerations − 1` before it are retained for later
    * maintenance cycles (see [[flipToGeneration]]). Steady-state each
    * flip deletes exactly one directory, so the chain never grows
    * past `keepGenerations + 1` live directories; a `keepGenerations`
    * LOWERED between runs leaves older directories for
    * [[vacuumGenerations]].
    */
  private[graft] def flipCleanup(spark: SparkSession, stagingTable: String,
                                 oldLoc: java.net.URI, keepGenerations: Int = 1): Unit = {
    require(keepGenerations >= 1, s"keepGenerations must be >= 1, got $keepGenerations")
    spark.sql(s"DROP TABLE $stagingTable")
    val (base, gen) = splitGen(oldLoc.toString.stripSuffix("/"))
    val victim = gen - keepGenerations
    if (victim >= 0) {
      val p = new org.apache.hadoop.fs.Path(genDir(base, victim))
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }
  }

  /** Rebase every partition entry of `table` onto its CURRENT
    * location. `MSCK REPAIR` after a generation flip is ADD-only: a
    * partition spec that already exists in the catalog keeps its
    * pre-flip location (pointing into the previous generation) — on
    * the in-memory catalog readers re-resolve and never notice, but a
    * Hive metastore would serve partition paths that the NEXT flip's
    * cleanup deletes. One metadata-only batch (`alterPartitions`), no
    * data movement; partition directory leaf names (`col=value`) are
    * location-invariant across generations because every generation
    * is a full rewrite of the same partitioning.
    */
  private[graft] def syncPartitionLocations(spark: SparkSession, table: String): Unit = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val cat = spark.sessionState.catalog
    val cur = currentLocation(spark, table)
    val stale = cat.listPartitions(ident).filter(p =>
      p.storage.locationUri.exists(u => !(u.toString.stripSuffix("/") + "/").startsWith(cur + "/")))
    if (stale.nonEmpty) cat.alterPartitions(ident, stale.map { p =>
      val leaf = new org.apache.hadoop.fs.Path(p.storage.locationUri.get).getName
      p.copy(storage = p.storage.copy(
        locationUri = Some(java.net.URI.create(s"$cur/$leaf"))))
    })
  }

  /** Reclaim non-live generation directories of `table` past the
    * retention window — the explicit counterpart to [[flipCleanup]]'s
    * per-flip delete. `keepGenerations = 0` (default) reclaims
    * EVERYTHING but the live generation (run when no reader can still
    * hold plans against an old snapshot, e.g. a quiet maintenance
    * window); a positive value keeps that many of the newest
    * generations BELOW the live one — the same retention contract the
    * flip enforces — and still reclaims both anything older and any
    * orphaned directory ABOVE the live generation (debris of a failed
    * maintenance pass). Returns the number of directories deleted.
    * Only siblings that are provably members of this table's
    * generation chain (`<base>` or `<base>__gN`) are touched, so
    * unrelated tables sharing the warehouse are safe.
    */
  def vacuumGenerations(spark: SparkSession, table: String,
                        keepGenerations: Int = 0): Int = {
    require(keepGenerations >= 0, s"keepGenerations must be >= 0, got $keepGenerations")
    val cur = currentLocation(spark, table)
    val (base, liveGen) = splitGen(cur)
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(spark.sessionState.newHadoopConf())
    val parent = basePath.getParent
    val name = basePath.getName
    val curName = new org.apache.hadoop.fs.Path(cur).getName
    if (parent == null || !fs.exists(parent)) 0
    else {
      val victims = fs.listStatus(parent).map(_.getPath).filter { p =>
        val n = p.getName
        val gen =
          if (n == name) Some(0L)
          else if (n.startsWith(name + "__g") && n.drop(name.length + 3).nonEmpty &&
              n.drop(name.length + 3).forall(_.isDigit))
            Some(n.drop(name.length + 3).toLong)
          else None
        gen.exists(g => n != curName &&
          (g > liveGen || g < liveGen - keepGenerations))
      }
      victims.foreach(fs.delete(_, true))
      victims.length
    }
  }
}
