package graft

import java.nio.file.Files

import graft.operators.Multimodal
import graft.sources.FeatureSource

class SourcesSpec extends SparkSpec {

  test("csv2d reads typed 2-D feature points with explicit schema") {
    val dir = Files.createTempDirectory("graft_csv")
    Files.writeString(dir.resolve("pts.csv"), "0,1.0,2.0\n1,3.5,4.5\n")
    val pts = FeatureSource.csv2d(spark, dir.toString).collect().sortBy(_.id)
    assert(pts.length == 2)
    assert(pts(0).vec.toSeq == Seq(1.0, 2.0))
    assert(pts(1).vec.toSeq == Seq(3.5, 4.5))
  }

  test("parquetVectors upcasts float embeddings to double exactly") {
    val pts = FeatureSource.parquetVectors(spark, s"$sfDir/embeddings.parquet",
      "vec_id", "embedding")
    val p = pts.filter(_.id == 0L).collect()(0)
    assert(p.vec.length == 64)
  }

  test("multimodal decode stub: n_bytes matches payload, checksum is the rolling byte hash") {
    import spark.implicits._
    val docs = Seq((1L, "abc")).toDF("doc_id", "text")
    val out = Multimodal.decodeFeatures(Multimodal.asMultimodal(docs)).collect()(0)
    assert(out.getAs[Long]("n_bytes") == 3L)
    assert(out.getAs[String]("mime") == "application/octet-stream")
    val expected = "abc".getBytes("UTF-8").foldLeft(0L)((a, b) => (a * 31 + (b & 0xff)) % 1000000007L)
    assert(out.getAs[Long]("feat_checksum") == expected)
  }

  test("image payloads are genuine PNGs; real ImageIO decode recovers planted dimensions") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Seq(1L, 2L, 27L, 91L).toDF("doc_id")
    val mm = Multimodal.imagePayloads(docs)
    // the payloads are REAL PNG bytes (magic signature), not fakes
    mm.select(col("doc_id"), col("payload")).collect().foreach { r =>
      val b = r.getAs[Array[Byte]]("payload")
      assert((b(0) & 0xff) == 0x89 && b(1) == 'P'.toByte && b(2) == 'N'.toByte &&
        b(3) == 'G'.toByte, s"doc ${r.getLong(0)}: payload lacks the PNG signature")
    }
    val out = Multimodal.decodeImages(mm).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val meta = mm.select(col("doc_id"), col("meta.width"), col("meta.height")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // decoded pixel-truth dimensions must equal the metadata CLAIM
    meta.foreach { case (id, (w, h)) =>
      val d = out(id)
      assert(d.getAs[Long]("width") == w && d.getAs[Long]("height") == h,
        s"doc $id: decoded ${d.getAs[Long]("width")}×${d.getAs[Long]("height")} vs meta $w×$h")
      assert(d.getAs[Long]("n_pixels") == w * h)
      val luma = d.getAs[Long]("mean_luma_fs")
      assert(luma > 0L && luma < 10000L, s"doc $id: mean luminance $luma not in (0, 1e4)")
    }
    // determinism: same ids → identical checksums across invocations
    val again = Multimodal.decodeImages(Multimodal.imagePayloads(docs)).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("px_checksum")).toMap
    out.foreach { case (id, r) => assert(again(id) == r.getAs[Long]("px_checksum")) }
  }

  test("decodeImages recovers exact planted pixel statistics from hand-built PNGs") {
    import spark.implicits._
    // hand-encode solid-color PNGs OUTSIDE the operator under test:
    // black (luma 0), white (luma 255 → fs 9999+), pure red
    def solidPng(w: Int, h: Int, rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until h).foreach(y => (0 until w).foreach(x => img.setRGB(x, y, rgb)))
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    val mm = Seq(
      (1L, solidPng(8, 4, 0x000000)),
      (2L, solidPng(5, 5, 0xffffff)),
      (3L, solidPng(3, 2, 0xff0000))
    ).toDF("doc_id", "payload")
    val out = Multimodal.decodeImages(mm).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("width"), r.getAs[Long]("height"), r.getAs[Long]("mean_luma_fs"))).toMap
    assert(out(1L) == ((8L, 4L, 0L)), "black: zero luminance")
    // white: floor(1e4 · 255000/255000) = 10000
    assert(out(2L) == ((5L, 5L, 10000L)), "white: full luminance")
    // pure red: floor(1e4 · 299·255 / (255·1000)) = floor(1e4 · 0.299) = 2990
    assert(out(3L) == ((3L, 2L, 2990L)), "red: Rec.601 0.299 weight")
  }

  test("z-ordered layout: a 2-D box predicate prunes to fewer files than the linear sort; results identical") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // deterministic uniform mix over [0, 65535]² — the cell grid maps
    // values 1:1, so the test box is an exactly-aligned z-quad
    // two sentinel rows pin min/max to the exact grid corners so the
    // aligned test box maps onto aligned z-quads
    val d = ((0 until 200000).map { i =>
      val m = i.toLong * 6364136223846793005L + 1442695040888963407L
      ((m >>> 16) & 65535L, (m >>> 40) & 65535L)
    } ++ Seq((0L, 0L), (65535L, 65535L))).toDF("a", "b")
    val base = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    val linDir = s"$base/linear"
    val zDir = s"$base/zorder"
    // small parquet blocks → many row groups per file: the assertion
    // unit is the ROW GROUP, the granularity parquet min-max skipping
    // actually prunes at (file-count granularity is too coarse: the
    // test box holds only ~half a file of rows)
    // exhaustive range sampling: the reservoir sampler is seeded by
    // RDD id, so with a partial sample the range bounds (and hence
    // which row groups straddle z-quad boundaries) depend on how many
    // RDDs prior suites created in the shared session — the marginal
    // candidate counts below flapped by ±1 under full-suite runs. A
    // sample covering every input partition makes bounds the exact
    // quantiles, deterministic under any suite order.
    spark.conf.set("spark.sql.execution.rangeExchange.sampleSizePerPartition", 125000)
    try {
      d.repartitionByRange(8, col("a")).sortWithinPartitions("a")
        .write.option("parquet.block.size", 64 * 1024).parquet(linDir)
      graft.sources.Sinks.writeZOrdered(d, zDir, Seq("a", "b"), 8,
        blockBytes = 64 * 1024)
    } finally spark.conf.unset("spark.sql.execution.rangeExchange.sampleSizePerPartition")
    val (aLo, aHi, bLo, bHi) = (16384L, 24575L, 32768L, 40959L) // 1/8 × 1/8 aligned box
    // row-group (a, b) boxes straight from the parquet footers — the
    // statistics a reader's predicate prunes with
    def rowGroupBoxes(dir: String): Seq[(Long, Long, Long, Long)] = {
      import scala.jdk.CollectionConverters._
      new java.io.File(dir).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .toSeq.flatMap { f =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.getAbsolutePath),
            new org.apache.hadoop.conf.Configuration())
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getFooter.getBlocks.asScala.toSeq.map { blk =>
            def mm(name: String): (Long, Long) = {
              val st = blk.getColumns.asScala.find(_.getPath.toDotString == name).get.getStatistics
              (st.genericGetMin.asInstanceOf[java.lang.Long].longValue,
                st.genericGetMax.asInstanceOf[java.lang.Long].longValue)
            }
            val (al, ah) = mm("a"); val (bl, bh) = mm("b")
            (al, ah, bl, bh)
          } finally r.close()
        }
    }
    def candidates(boxes: Seq[(Long, Long, Long, Long)],
                   lo: (Long, Long), hi: (Long, Long)): Int =
      boxes.count { case (al, ah, bl, bh) =>
        !(ah < lo._1 || al > hi._1 || bh < lo._2 || bl > hi._2) }
    val linBoxes = rowGroupBoxes(linDir)
    val zBoxes = rowGroupBoxes(zDir)
    assert(linBoxes.size >= 24 && zBoxes.size >= 24,
      s"the small block size must yield many row groups (${linBoxes.size}/${zBoxes.size})")
    val lin = candidates(linBoxes, (aLo, bLo), (aHi, bHi))
    val zc = candidates(zBoxes, (aLo, bLo), (aHi, bHi))
    info(s"2-D box candidates: linear=$lin of ${linBoxes.size} row groups, " +
      s"z-ordered=$zc of ${zBoxes.size}")
    // the linear sort prunes on `a` only: ~1/8 of row groups survive
    // the a-range but every survivor spans all of b
    assert(lin * 8 >= linBoxes.size - 8,
      s"linear layout should leave the full a-stripe as candidates, got $lin")
    // the z layout localizes BOTH dimensions: the aligned 1/64-area
    // box is ONE contiguous z-run
    assert(zc * 2 <= lin, s"z-order must at least halve the 2-D candidate set ($zc vs $lin)")
    // the stripe where a linear sort is helpless: a TRAILING-column
    // predicate (b alone) prunes nothing on the a-sorted layout but
    // the z layout still localizes it
    val linB = candidates(linBoxes, (Long.MinValue, bLo), (Long.MaxValue, bHi))
    val zcB = candidates(zBoxes, (Long.MinValue, bLo), (Long.MaxValue, bHi))
    info(s"b-stripe candidates: linear=$linB of ${linBoxes.size}, z-ordered=$zcB of ${zBoxes.size}")
    assert(linB == linBoxes.size, "the a-sorted layout cannot prune a b-only predicate")
    assert(zcB * 2 <= linB, s"z-order must at least halve the b-stripe candidates ($zcB vs $linB)")
    // identical query results on both layouts, with the box pushed
    // down to the parquet scan
    val pred = col("a").between(aLo, aHi) && col("b").between(bLo, bHi)
    def res(dir: String) = spark.read.parquet(dir).filter(pred)
      .agg(count(lit(1)), sum(col("a") * 3 + col("b"))).collect()(0)
    assert(res(linDir) == res(zDir))
    val scanPlan = spark.read.parquet(zDir).filter(pred).queryExecution.executedPlan.toString
    assert(scanPlan.contains("PushedFilters") && scanPlan.contains("GreaterThanOrEqual(a,"),
      s"box predicate must reach the parquet scan:\n$scanPlan")
  }

  test("image phash: re-encodes pair at hamming 0, a one-cell edit at hamming 1, inverses never pair") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 32×32 half-black/half-white images: every 4×4 aHash cell is
    // uniformly 0 or 255 luma, far from the global mean, so cell bits
    // are exactly the planted pattern and a one-CELL edit is a
    // one-BIT edit
    def splitPng(whiteLeft: Boolean, whiteCells: Set[(Int, Int)]): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(32, 32,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until 32).foreach { y =>
        (0 until 32).foreach { x =>
          val baseWhite = if (whiteLeft) x < 16 else x >= 16
          val cellWhite = whiteCells.contains((x / 4, y / 4))
          img.setRGB(x, y, if (baseWhite || cellWhite) 0xffffff else 0x000000)
        }
      }
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    val mm = Seq(
      (1L, splitPng(whiteLeft = true, Set.empty)),            // A
      (2L, splitPng(whiteLeft = true, Set.empty)),            // re-upload of A
      (3L, splitPng(whiteLeft = true, Set((7, 0)))),          // A with one black cell whitened
      (4L, splitPng(whiteLeft = false, Set.empty))            // inverse of A — hamming 64
    ).toDF("doc_id", "payload")
    val got = Multimodal.imagePhashPairs(mm).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Long]("hamming"))).toSet
    assert(got == Set((1L, 2L, 0L), (1L, 3L, 1L), (2L, 3L, 1L)),
      s"planted hamming structure must surface exactly, got $got")
    // brute-force parity on the fingerprints (same claim as the
    // text-sketch banding spec): banded pairs == all hamming<=3 pairs
    val fp = Multimodal.phashImages(mm).collect()
      .map(r => r.getAs[Long]("doc_id") -> (0 until 4).map(c => r.getAs[Long](s"c$c"))).toMap
    def ham(a: Seq[Long], b: Seq[Long]): Int =
      a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
    assert(ham(fp(1L), fp(4L)) == 64, "the inverse image must complement every bit")
    val ids = fp.keys.toSeq.sorted
    val truth = (for { a <- ids; b <- ids if a < b; h = ham(fp(a), fp(b)) if h <= 3 }
      yield (a, b, h.toLong)).toSet
    assert(got == truth)
    // determinism across decode invocations
    val fp2 = Multimodal.phashImages(mm).collect()
      .map(r => r.getAs[Long]("doc_id") -> (0 until 4).map(c => r.getAs[Long](s"c$c"))).toMap
    assert(fp2 == fp)
  }

  test("audio payloads are genuine WAVs; real decode recovers planted sample truth") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Seq(0L, 1L, 27L, 511L).toDF("doc_id")
    val mm = Multimodal.audioPayloads(docs)
    // the payloads are REAL RIFF/WAVE containers, not fakes
    mm.select(col("doc_id"), col("payload")).collect().foreach { r =>
      val b = r.getAs[Array[Byte]]("payload")
      assert(b(0) == 'R'.toByte && b(1) == 'I'.toByte && b(2) == 'F'.toByte &&
        b(3) == 'F'.toByte && b(8) == 'W'.toByte && b(11) == 'E'.toByte,
        s"doc ${r.getLong(0)}: payload lacks the RIFF/WAVE signature")
    }
    val out = Multimodal.decodeAudio(mm).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val meta = mm.select(col("doc_id"), col("meta.sample_rate"), col("meta.n_samples"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    meta.foreach { case (id, (rate, n)) =>
      val d = out(id)
      // decoded container truth must equal the metadata CLAIM
      assert(d.getAs[Long]("sample_rate") == rate && d.getAs[Long]("n_samples") == n,
        s"doc $id: decoded ${d.getAs[Long]("sample_rate")}Hz×${d.getAs[Long]("n_samples")} " +
          s"vs meta ${rate}Hz×$n")
      assert(d.getAs[Long]("channels") == 1L)
      assert(d.getAs[Long]("duration_ms") == n * 1000L / rate)
      // full-scale white noise: RMS concentrates at 1/√3 of full scale
      // (fs ≈ 5773); ±5% covers sampling variance at n ≥ 512
      val rms = d.getAs[Long]("rms_fs")
      assert(rms > 5480L && rms < 6070L, s"doc $id: rms_fs $rms not near 1/√3 ≈ 5773")
    }
    // determinism: same ids → identical checksums across invocations
    val again = Multimodal.decodeAudio(Multimodal.audioPayloads(docs)).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("sample_checksum")).toMap
    out.foreach { case (id, r) => assert(again(id) == r.getAs[Long]("sample_checksum")) }
  }

  test("decodeAudio recovers exact planted sample statistics from hand-built WAVs") {
    import spark.implicits._
    // hand-encode WAVs OUTSIDE the operator under test
    def wav(samples: Array[Short], channels: Int): Array[Byte] = {
      val pcm = new Array[Byte](samples.length * 2)
      samples.zipWithIndex.foreach { case (s, i) =>
        pcm(2 * i) = (s & 0xff).toByte; pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      }
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, channels, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, samples.length.toLong / channels)
      val baos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
      baos.toByteArray
    }
    val mm = Seq(
      (1L, wav(Array.fill[Short](800)(0), 1)),            // 100 ms silence
      (2L, wav(Array.fill[Short](400)(16384), 1)),        // half-scale DC
      (3L, wav(Array.fill[Short](200)(-32768), 2))        // full-scale stereo
    ).toDF("doc_id", "payload")
    val out = Multimodal.decodeAudio(mm).collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Long]("channels"),
        r.getAs[Long]("n_samples"), r.getAs[Long]("duration_ms"),
        r.getAs[Long]("rms_fs"), r.getAs[Long]("peak"))).toMap
    assert(out(1L) == ((1L, 800L, 100L, 0L, 0L)), "silence: zero rms and peak")
    // half-scale DC: floor(1e4 · 16384/32768) = 5000
    assert(out(2L) == ((1L, 400L, 50L, 5000L, 16384L)), "half-scale: rms_fs 5000")
    // full-scale stereo: 200 samples over 2 channels = 100 frames
    assert(out(3L) == ((2L, 100L, 12L, 10000L, 32768L)), "stereo frame accounting")
  }

  test("video payloads are genuine Y4M streams; real parse recovers planted frame truth") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Seq(0L, 1L, 27L, 91L).toDF("doc_id")
    val mm = Multimodal.videoPayloads(docs)
    // the payloads open with the YUV4MPEG2 stream magic, not a fake
    mm.select(col("doc_id"), col("payload")).collect().foreach { r =>
      val b = r.getAs[Array[Byte]]("payload")
      assert(new String(b, 0, 9, java.nio.charset.StandardCharsets.US_ASCII) == "YUV4MPEG2",
        s"doc ${r.getLong(0)}: payload lacks the YUV4MPEG2 signature")
    }
    val out = Multimodal.decodeVideo(mm).collect()
    val meta = mm.select(col("doc_id"), col("meta.width"), col("meta.height"),
        col("meta.n_frames")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    meta.foreach { case (id, (w, h, nf)) =>
      val fr = out.filter(_.getAs[Long]("doc_id") == id)
      // container-truth frame count, dimensions, and 25fps timestamps
      // must equal the metadata CLAIM
      assert(fr.length == nf.toInt, s"doc $id: ${fr.length} frames vs meta $nf")
      fr.foreach { d =>
        assert(d.getAs[Long]("width") == w && d.getAs[Long]("height") == h,
          s"doc $id: decoded ${d.getAs[Long]("width")}×${d.getAs[Long]("height")} vs meta $w×$h")
        assert(d.getAs[Long]("n_frames") == nf)
        assert(d.getAs[Long]("ts_ms") == d.getAs[Long]("frame_idx") * 40L, "25 fps → 40 ms/frame")
        // hash-mixed planes: mean luma concentrates at 127.5/255 ≈ fs 5000
        val luma = d.getAs[Long]("mean_luma_fs")
        assert(luma > 4000L && luma < 6000L, s"doc $id: mean_luma_fs $luma not near 5000")
      }
    }
    // determinism: same ids → identical per-frame checksums across invocations
    val again = Multimodal.decodeVideo(Multimodal.videoPayloads(docs)).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("frame_idx")) ->
        r.getAs[Long]("y_checksum")).toMap
    out.foreach { r =>
      assert(again((r.getAs[Long]("doc_id"), r.getAs[Long]("frame_idx"))) ==
        r.getAs[Long]("y_checksum"))
    }
  }

  test("decodeVideo recovers exact planted luma statistics from hand-built Y4M containers") {
    import spark.implicits._
    // hand-encode Y4M OUTSIDE the operator under test
    def y4m(w: Int, h: Int, chroma: String, frameLumas: Seq[Int]): Array[Byte] = {
      val baos = new java.io.ByteArrayOutputStream()
      baos.write(s"YUV4MPEG2 W$w H$h F30000:1001 Ip A1:1 C$chroma\n"
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      val cb = if (chroma == "444") 2 * w * h else 2 * ((w + 1) / 2) * ((h + 1) / 2)
      frameLumas.foreach { luma =>
        baos.write("FRAME\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
        (0 until w * h).foreach(_ => baos.write(luma))
        (0 until cb).foreach(_ => baos.write(128)) // neutral chroma
      }
      baos.toByteArray
    }
    val mm = Seq(
      (1L, y4m(2, 2, "444", Seq(0, 255))),      // black frame then white frame
      (2L, y4m(4, 2, "420jpeg", Seq(51)))       // 4:2:0 subsampled chroma, luma 0.2
    ).toDF("doc_id", "payload")
    val out = Multimodal.decodeVideo(mm).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("frame_idx")) ->
        (r.getAs[Long]("width"), r.getAs[Long]("height"), r.getAs[Long]("n_frames"),
          r.getAs[Long]("ts_ms"), r.getAs[Long]("mean_luma_fs"))).toMap
    // NTSC 30000/1001 fps: frame 1 lands at floor(1000·1001/30000) = 33 ms
    assert(out((1L, 0L)) == ((2L, 2L, 2L, 0L, 0L)), "black frame: zero luminance")
    assert(out((1L, 1L)) == ((2L, 2L, 2L, 33L, 10000L)), "white frame: full luminance")
    // 4:2:0: chroma planes are quarter-size — a mis-sized chroma skip
    // would fail the parser's FRAME bounds check, so passing here pins
    // the subsampled plane arithmetic
    assert(out((2L, 0L)) == ((4L, 2L, 1L, 0L, 2000L)), "4:2:0 luma 51/255 = fs 2000")
  }

  test("frame sampling fans one payload row into nFrames deterministic frame rows") {
    import spark.implicits._
    val docs = Seq((1L, "abcdefgh"), (2L, "abcdefgh")).toDF("doc_id", "text")
    val out = Multimodal.frameSample(Multimodal.asMultimodal(docs), nFrames = 4).collect()
    assert(out.length == 8, "2 docs × 4 frames")
    val d1 = out.filter(_.getAs[Long]("doc_id") == 1L)
    assert(d1.map(_.getAs[Long]("frame_idx")).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(d1.map(_.getAs[Long]("ts_ms")).toSeq == Seq(0L, 40L, 80L, 120L))
    // frame 0 samples bytes "ab": checksum = (('a'*31)+'b') mod p
    val ab = ("a".codePointAt(0).toLong * 31 + "b".codePointAt(0)) % 1000000007L
    assert(d1(0).getAs[Long]("frame_checksum") == ab)
    // identical payloads → identical frame checksums (deterministic)
    val d2 = out.filter(_.getAs[Long]("doc_id") == 2L)
    assert(d1.map(_.getAs[Long]("frame_checksum")).toSeq ==
      d2.map(_.getAs[Long]("frame_checksum")).toSeq)
  }

  test("partitioned sink: downstream scans prune non-matching partitions") {
    import org.apache.spark.sql.functions.col
    val out = Files.createTempDirectory("graft_part").toString + "/docs"
    graft.sources.Sinks.writePartitioned(Tables.documents(spark, sfDir), out, Seq("lang"))
    val langs = new java.io.File(out).list().filter(_.startsWith("lang=")).sorted
    assert(langs.length == 5, s"expected 5 lang partitions, got ${langs.toSeq}")
    val scan = spark.read.parquet(out).filter(col("lang") === "en")
    val leaf = scan.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(leaf.contains("PartitionFilters") && leaf.contains("lang"),
      s"partition pruning missing from scan:\n$leaf")
    assert(scan.count() > 0)
  }

  test("bucketed sink: joins on the bucket key need no shuffle on the bucketed side") {
    import org.apache.spark.sql.functions.col
    graft.sources.Sinks.writeBucketed(Tables.documents(spark, sfDir), "docs_bucketed", "doc_id", 8)
    val t = spark.table("docs_bucketed")
    val joined = t.as("a").join(t.as("b"), "doc_id")
    val exchanges = joined.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 0, "bucket-key self-join should reuse the bucketed layout, no shuffle")
    assert(joined.count() == 500)
  }

  test("snapshot sink round-trips per-batch centroids through partitioned parquet") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_snap").toString + "/snaps"
    val c0 = Seq((0L, Array(1.0, 2.0)), (1L, Array(3.0, 4.0)))
    val c1 = Seq((0L, Array(1.5, 2.5)), (1L, Array(3.0, 4.0)))
    graft.sources.Sinks.writeSnapshot(spark, dir, 0L, c0, Map(0L -> 2.0, 1L -> 1.0))
    graft.sources.Sinks.writeSnapshot(spark, dir, 1L, c1, Map(0L -> 3.0, 1L -> 1.0))
    // append-only history: both batch partitions on disk
    val parts = new java.io.File(dir).list().filter(_.startsWith("batch_id=")).sorted
    assert(parts.toSeq == Seq("batch_id=0", "batch_id=1"))
    val back = graft.sources.Sinks.readSnapshots(spark, dir)
    assert(back.count() == 4)
    // "latest snapshot" readers prune the other batch partitions
    val latest = back.filter(col("batch_id") === 1L)
    val leaf = latest.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(leaf.contains("PartitionFilters") && leaf.contains("batch_id"),
      s"batch_id partition pruning missing:\n$leaf")
    val r = latest.filter(col("cid") === 0L).collect()(0)
    assert(r.getAs[scala.collection.Seq[Double]]("centroid") == Seq(1.5, 2.5))
    assert(r.getAs[Double]("weight") == 3.0)
  }

  test("driver-written snapshot: Spark's schema, a rewritten batch replaces its rows, no temp file left") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_snap_driver").toString + "/snaps"
    val c = Seq((0L, Array(1.0, 2.0)), (1L, Array(3.0, 4.0)))
    graft.sources.Sinks.writeSnapshot(spark, dir, 0L, c, Map(0L -> 2.0, 1L -> 1.0))
    graft.sources.Sinks.writeSnapshot(spark, dir, 1L, c, Map(0L -> 2.0, 1L -> 1.0))
    // a replayed batch 1 with a moved centroid
    graft.sources.Sinks.writeSnapshot(spark, dir, 1L, Seq((0L, Array(1.5, 2.5)), c(1)),
      Map(0L -> 3.0, 1L -> 1.0))
    val back = graft.sources.Sinks.readSnapshots(spark, dir)
    assert(back.schema.map(f => f.name -> f.dataType.simpleString) == Seq(
      "cid" -> "bigint", "centroid" -> "array<double>", "weight" -> "double", "batch_id" -> "int"),
      back.schema.treeString)
    assert(back.count() == 4, "the rewrite must replace batch 1's two rows, not add two more")
    val r = back.filter(col("batch_id") === 1 && col("cid") === 0L).collect()
    assert(r.length == 1 && r(0).getAs[scala.collection.Seq[Double]]("centroid") == Seq(1.5, 2.5) &&
      r(0).getAs[Double]("weight") == 3.0, r.toSeq)
    val names = new java.io.File(s"$dir/batch_id=1").list().toSeq
    assert(names.filterNot(_.startsWith(".")) == Seq("snapshot.parquet") &&
      !names.exists(_.contains("tmp")), s"batch dir holds $names")
  }

  test("guarded batch-dir clear: wipes batch_id=* layouts, refuses anything else") {
    val base = Files.createTempDirectory("graft_clear")
    // a previous run's sink layout: batch_id=* partitions + metadata
    val sink = base.resolve("assigns"); Files.createDirectories(sink.resolve("batch_id=0"))
    Files.createDirectories(sink.resolve("batch_id=1"))
    Files.writeString(sink.resolve("_SUCCESS"), "")
    KMeansJob.clearBatchOutputDir(spark, sink.toString)
    assert(!Files.exists(sink), "a batch_id=* layout must be cleared")
    // absent dir: no-op, no error
    KMeansJob.clearBatchOutputDir(spark, base.resolve("never_written").toString)
    // a dir holding ANYTHING else (the mistyped-argument case): refuse loudly
    val stray = base.resolve("user_data"); Files.createDirectories(stray)
    Files.writeString(stray.resolve("important.txt"), "do not delete")
    val e = intercept[IllegalArgumentException] {
      KMeansJob.clearBatchOutputDir(spark, stray.toString)
    }
    assert(e.getMessage.contains("refusing to clear") && Files.exists(stray.resolve("important.txt")),
      s"stray content must survive with a loud refusal: $e")
    // hidden DIRECTORIES are not metadata: a mistyped repo root whose
    // only child is .git must be refused, not recursively deleted
    val repo = base.resolve("fresh_clone"); Files.createDirectories(repo.resolve(".git"))
    Files.writeString(repo.resolve(".git").resolve("HEAD"), "ref: refs/heads/main")
    intercept[IllegalArgumentException] {
      KMeansJob.clearBatchOutputDir(spark, repo.toString)
    }
    assert(Files.exists(repo.resolve(".git").resolve("HEAD")), "the .git dir must survive")
    // while the streaming-sink metadata DIR plus hidden FILES still clear
    val sink2 = base.resolve("assigns2")
    Files.createDirectories(sink2.resolve("batch_id=0")); Files.createDirectories(sink2.resolve("_spark_metadata"))
    Files.writeString(sink2.resolve("._SUCCESS.crc"), "")
    KMeansJob.clearBatchOutputDir(spark, sink2.toString)
    assert(!Files.exists(sink2))
  }

  test("multimodal metadata allows pruned filtering without touching payloads") {
    val docs = Tables.documents(spark, sfDir)
    val mm = Multimodal.asMultimodal(docs)
    val n = mm.filter(org.apache.spark.sql.functions.col("meta.n_bytes") > 100).count()
    assert(n > 0 && n < 500)
  }

  test("maintenance flip keeps a concurrent reader on a live table through repeated compactions") {
    import spark.implicits._
    import org.apache.spark.sql.SaveMode
    import org.apache.spark.sql.functions.col
    import graft.sources.Sinks
    val n = 10000L
    Sinks.writeBucketed(
      spark.range(n).select(col("id").as("k"), (col("id") * 2).as("v")),
      "flip_spec", Seq("k"), 8, SaveMode.Overwrite)
    // hammer reads from another thread across many flip cycles. The
    // r9 drop→rename swap had a catalog window where the table did
    // not EXIST — any read planned inside it threw table-not-found.
    // The SET LOCATION flip pins: every read resolves a live table
    // and every completed count is the full row count. The one
    // allowed failure class is the DOCUMENTED residual (a scan that
    // planned the OLD generation's files and straddled its deletion
    // — file-level, not catalog-level; see Sinks.flipToGeneration).
    @volatile var stop = false
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val reads = new java.util.concurrent.atomic.AtomicLong()
    val reader = new Thread(() => {
      while (!stop) {
        try {
          val c = spark.table("flip_spec").count()
          if (c != n) failures.add(new AssertionError(s"read $c of $n rows"))
          reads.incrementAndGet()
        } catch { case t: Throwable => failures.add(t) }
      }
    })
    reader.start()
    try (1 to 6).foreach(_ => Sinks.compactBucketed(spark, "flip_spec", Seq("k"), 8))
    finally { stop = true; reader.join(60000) }
    def isResidualFileRace(t: Throwable): Boolean =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).exists { c =>
        c.isInstanceOf[java.io.FileNotFoundException] ||
          Option(c.getMessage).exists(_.contains("FileNotFound"))
      }
    val catalogFailures = failures.toArray(Array.empty[Throwable]).filterNot(isResidualFileRace)
    assert(catalogFailures.isEmpty,
      s"reads must never lose the table or see partial data: ${catalogFailures.headOption}")
    assert(reads.get() > 0, "the reader thread must have completed reads during the flips")
    // retention (r11): a reader that PLANNED file handles against the
    // pre-flip generation must finish its scan after the flip — the
    // flipped-away generation is kept one more maintenance cycle
    val plannedFiles = spark.table("flip_spec").inputFiles
    Sinks.compactBucketed(spark, "flip_spec", Seq("k"), 8) // flip 7
    val lateScan = spark.read.parquet(plannedFiles.toIndexedSeq: _*).count()
    assert(lateScan == n,
      s"a scan planned before the flip must still read the full old generation, got $lateScan")
    // generations advance in place of drop→rename; keep-one retention
    // leaves exactly the live generation plus its predecessor
    val loc = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier("flip_spec")).location.toString
    assert(loc.stripSuffix("/").endsWith("__g7"), s"7 flips must land on generation 7, got $loc")
    val wh = new java.io.File(new java.net.URI(loc)).getParentFile
    def gensOnDisk() = wh.listFiles().map(_.getName).filter(_.startsWith("flip_spec")).toSet
    assert(gensOnDisk() == Set("flip_spec__g6", "flip_spec__g7"),
      s"keep-one retention must leave g6+g7, found ${gensOnDisk().mkString(",")}")
    // explicit vacuum reclaims everything but the live generation
    val vacuumed = Sinks.vacuumGenerations(spark, "flip_spec")
    assert(vacuumed == 1, s"vacuum must delete exactly the retained g6, deleted $vacuumed")
    assert(gensOnDisk() == Set("flip_spec__g7"),
      s"post-vacuum only the live generation remains, found ${gensOnDisk().mkString(",")}")
    assert(spark.table("flip_spec").count() == n, "the live table must survive the vacuum")

    // parameterized retention (r12): at keepGenerations = 2 a reader
    // that planned against the pre-flip generation survives TWO full
    // maintenance cycles — keep-one's documented residual, closed by
    // sizing the retention to the scan horizon
    val planned2 = spark.table("flip_spec").inputFiles // generation 7
    Sinks.compactBucketed(spark, "flip_spec", Seq("k"), 8, keepGenerations = 2) // -> g8
    Sinks.compactBucketed(spark, "flip_spec", Seq("k"), 8, keepGenerations = 2) // -> g9
    assert(spark.read.parquet(planned2.toIndexedSeq: _*).count() == n,
      "a scan planned two flips ago must still read its full generation at keepGenerations=2")
    assert(gensOnDisk() == Set("flip_spec__g7", "flip_spec__g8", "flip_spec__g9"),
      s"keep-two retention must hold the live + two predecessors, found ${gensOnDisk().mkString(",")}")
    // a THIRD keep-two flip reclaims g7 (now three passes stale)
    Sinks.compactBucketed(spark, "flip_spec", Seq("k"), 8, keepGenerations = 2) // -> g10
    assert(gensOnDisk() == Set("flip_spec__g8", "flip_spec__g9", "flip_spec__g10"),
      s"the window must slide, found ${gensOnDisk().mkString(",")}")
    // vacuum honoring a retention window: keep 1 below live, reclaim older
    val vac2 = Sinks.vacuumGenerations(spark, "flip_spec", keepGenerations = 1)
    assert(vac2 == 1 && gensOnDisk() == Set("flip_spec__g9", "flip_spec__g10"),
      s"windowed vacuum must keep live+1, found ${gensOnDisk().mkString(",")}")
    assert(spark.table("flip_spec").count() == n, "the live table must survive every vacuum")
  }
  test("replaceBucketed rejects a dtype drift even when column names match") {
    import spark.implicits._
    import graft.sources.Sinks
    Sinks.writeBucketed(Seq((1L, 10L)).toDF("k", "v"), "dtype_guard_spec", Seq("k"), 4,
      org.apache.spark.sql.SaveMode.Overwrite)
    // same names, v re-typed long -> string: a name-only check passes
    // this, and the generation flip (SET LOCATION) would leave files
    // disagreeing with the live catalog schema
    val drifted = Seq((1L, "10")).toDF("k", "v")
    val e = intercept[IllegalArgumentException] {
      Sinks.replaceBucketed(spark, drifted, "dtype_guard_spec", Seq("k"), 4)
    }
    assert(e.getMessage.contains("schema change"))
    // same shape passes and replaces the data
    Sinks.replaceBucketed(spark, Seq((2L, 20L)).toDF("k", "v"), "dtype_guard_spec", Seq("k"), 4)
    assert(spark.table("dtype_guard_spec").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      == Seq((2L, 20L)))
  }
}
