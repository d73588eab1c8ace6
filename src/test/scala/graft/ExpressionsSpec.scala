package graft

import org.apache.spark.sql.functions._

import graft.functions.HashFunctions
import graft.functions.TextFunctions.tokens

/** Native Catalyst expressions vs their pure-Column twins. */
class ExpressionsSpec extends SparkSpec {

  test("native simhash64 is bit-identical to the Column formulation on real docs") {
    val docs = Tables.documents(spark, sfDir)
    val both = docs.select(
      col("doc_id"),
      call_function("graft_simhash64", tokens(col("text"))).as("native"),
      KernelTwins.simhash64Columns(tokens(col("text"))).as("columnar"))
    val diff = both.filter(col("native") =!= col("columnar")).count()
    assert(diff == 0, s"$diff docs disagree between native and Column simhash")
  }

  test("graft_simhash64 is callable from plain SQL via session extensions") {
    val r = spark.sql("SELECT graft_simhash64(array('a','b','c')) AS h").collect()(0).getLong(0)
    val expected = spark.sql("SELECT graft_simhash64(array('a','b','c')) AS h").collect()(0).getLong(0)
    assert(r == expected)
    // empty array: all votes tie at 0 → no bits set
    assert(spark.sql("SELECT graft_simhash64(array())").collect()(0).getLong(0) == 0L)
  }

  test("native jaccard_fs matches the Column formulation on all block pairs") {
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), array_distinct(split(col("text"), " ")).as("toks"))
    val pairs = d.as("a").join(d.as("b"),
      col("a.lang") === col("b.lang") && col("a.doc_id") < col("b.doc_id"))
    val colJac = floor(lit(10000.0) * (size(array_intersect(col("a.toks"), col("b.toks")))
      .cast("double") / size(array_union(col("a.toks"), col("b.toks")))))
    val diff = pairs.select(
        call_function("graft_jaccard_fs", col("a.toks"), col("b.toks")).as("native"),
        colJac.as("columnar"))
      .filter(col("native") =!= col("columnar")).count()
    assert(diff == 0, s"$diff pairs disagree between native and Column jaccard")
  }

  test("jaccard_fs merge path is pinned to the hash path on random sorted/unsorted/dup/null arrays") {
    // the r21 merge fast path engages on sorted inputs and must agree
    // with the hash pass (the pre-r21 semantics) on EVERY input shape:
    // sorted, unsorted (fallback), duplicates (left dups inflate the
    // left count only; right dups probe repeatedly), interior nulls,
    // empties — including the degenerate >1.0 ratios duplicate probes
    // can produce, which are part of the pinned behavior
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.expressions.ArrayJaccardFs
    def arr(xs: Seq[String]): ArrayData =
      ArrayData.toArrayData(xs.map(x => if (x == null) null else UTF8String.fromString(x)).toArray)
    val rnd = new scala.util.Random(42)
    // "😀" (a surrogate pair) and "ｚ" (U+FF5A) order one way in Java's
    // UTF-16 `sorted` and the other way in UTF-8 bytes; the long
    // strings share 8- and 16-byte prefixes, so both the merge's
    // word loop and its byte tail decide comparisons
    val pool = Vector("a", "b", "c", "aa", "ab", "b1", "", "zz", "日本", "x", "😀", "ｚ",
      "abcdefgh", "abcdefghi", "abcdefgh1", "abcdefghijklmnop", "abcdefghijklmnopq", "abcdefghijklmnoz")
    val byteOrder: Ordering[String] = (x, y) => UTF8String.fromString(x).binaryCompare(UTF8String.fromString(y))
    val cases = Seq(
      (Seq.empty[String], Seq.empty[String]),
      (Seq("a", "b"), Seq.empty[String]),
      (Seq.empty[String], Seq("a")),
      (Seq("a", "a"), Seq("a")),
      (Seq("a"), Seq("a", "a")),
      (Seq("a", "x", "y"), Seq("a", "a", "x")),
      (Seq(null, "a", "b"), Seq("a", null, "b")),
      (Seq(null, null), Seq(null.asInstanceOf[String])),
      (Seq("b", "a"), Seq("a", "b")), // unsorted left → fallback
      (Seq("a", "b"), Seq("b", "a"))  // unsorted right → fallback
    ) ++ (1 to 600).map { _ =>
      // unsorted, Java-sorted or byte-sorted (the merge path's order)
      def side = {
        val s = Seq.fill(rnd.nextInt(8))(pool(rnd.nextInt(pool.size)))
        rnd.nextInt(3) match { case 0 => s; case 1 => s.sorted; case _ => s.sorted(byteOrder) }
      }
      (side, side)
    }
    cases.foreach { case (l, r) =>
      val m = ArrayJaccardFs.compute(arr(l), arr(r))
      val h = ArrayJaccardFs.computeHash(arr(l), arr(r))
      assert(m == h, s"merge=$m hash=$h for l=$l r=$r")
    }
  }

  test("jaccard_fs over sort_array's UnsafeArrayData matches the hash path, incl. surrogate pairs") {
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.expressions.ArrayJaccardFs
    val pool = Vector("a", "b", "aa", "", "日本", "😀", "ｚ", "😀x", "ｚz",
      "abcdefgh", "abcdefgh1", "abcdefghijklmnop", "abcdefghijklmnoq")
    val rnd = new scala.util.Random(7)
    def side = Seq.fill(rnd.nextInt(10))(pool(rnd.nextInt(pool.size)))
    val rows = (0 until 400).map(i => (i, side.distinct, side.distinct))
    // Spark sorts; the checkpoint hands the kernel UnsafeArrayData,
    // as the cached and broadcast sides of the verify joins do
    val sorted = spark.createDataFrame(rows).toDF("id", "l", "r")
      .select(col("id"), sort_array(col("l")).as("l"), sort_array(col("r")).as("r"))
      .localCheckpoint()
    assert(sorted.queryExecution.toRdd.map(r => r.getArray(1).isInstanceOf[UnsafeArrayData]).collect().forall(identity))
    def arr(xs: scala.collection.Seq[String]): ArrayData =
      ArrayData.toArrayData(xs.map(UTF8String.fromString).toArray)
    val got = sorted.select(col("l"), col("r"),
        call_function("graft_jaccard_fs", col("l"), col("r")).as("j"))
      .collect()
    assert(got.length == rows.length)
    got.foreach { row =>
      val (l, r) = (row.getSeq[String](0), row.getSeq[String](1))
      val h = ArrayJaccardFs.computeHash(arr(l), arr(r))
      assert(row.getLong(2) == h, s"merge=${row.getLong(2)} hash=$h for l=$l r=$r")
    }
  }

  test("no string kernel calls UTF8String.compareTo (it throws under spark.testing)") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.unsafe.types.UTF8String
    import org.apache.datasketches.frequencies.ItemsSketch
    import graft.functions.expressions.{ArrayJaccardFs, FreqSketchSerde, FreqSketchTopK}
    def arr(xs: String*): ArrayData = ArrayData.toArrayData(xs.map(UTF8String.fromString).toArray)
    val sketch = new ItemsSketch[String](8)
    Seq("b", "a", "😀", "ｚ").foreach(sketch.update(_, 5L))
    val topK = FreqSketchTopK(Literal(FreqSketchSerde.toBytes(sketch)), 0)
    val before = System.getProperty("spark.testing")
    System.setProperty("spark.testing", "true")
    try {
      // merge path over generic input, converted to UnsafeArrayData
      assert(ArrayJaccardFs.compute(arr("a", "abcdefgh1", "b"), arr("abcdefgh1", "b", "c")) == 5000L)
      // an inversion falls back to the hash pass
      assert(ArrayJaccardFs.compute(arr("b", "a"), arr("a", "b")) == 10000L)
      // ties on the estimate order by UTF-8 bytes: ｚ (EF ..) before 😀 (F0 ..)
      val items = topK.eval().asInstanceOf[ArrayData]
      assert((0 until items.numElements()).map(i => items.getStruct(i, 4).getUTF8String(0).toString) ==
        Seq("a", "b", "ｚ", "😀"))
    } finally {
      if (before == null) System.clearProperty("spark.testing") else System.setProperty("spark.testing", before)
    }
  }

  test("graft_jaccard_fs edge cases: identical, disjoint, empty") {
    val r = spark.sql(
      """SELECT graft_jaccard_fs(array('a','b'), array('a','b')) AS same,
        |       graft_jaccard_fs(array('a'), array('b')) AS disjoint,
        |       graft_jaccard_fs(array(), array()) AS empty""".stripMargin).collect()(0)
    // empty/empty → 0, matching the Column twin's floor(NaN).toLong
    assert(r.getLong(0) == 10000L && r.getLong(1) == 0L && r.getLong(2) == 0L)
  }

  test("native dot/l2sq are bit-identical to the HOF twins on real embeddings") {
    import graft.functions.VectorFunctions.toDoubleArray
    // HOF twins spelled out inline
    def hofDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    def hofL2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x)
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), toDoubleArray(col("embedding")).as("v"))
    val pairs = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id")).limit(5000)
    val diff = pairs.select(
        call_function("graft_dot", col("a.v"), col("b.v")).as("nd"),
        hofDot(col("a.v"), col("b.v")).as("cd"),
        call_function("graft_l2sq", col("a.v"), col("b.v")).as("nl"),
        hofL2(col("a.v"), col("b.v")).as("cl"))
      .filter(col("nd") =!= col("cd") || col("nl") =!= col("cl")).count()
    assert(diff == 0, s"$diff pairs disagree between native and HOF vector kernels")
  }

  test("native dot/l2sq null semantics match zip_with padding") {
    val r = spark.sql(
      """SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS ok,
        |       graft_dot(array(1.0d), array(1.0d, 2.0d)) AS mismatch,
        |       graft_l2sq(array(1.0d, cast(NULL AS DOUBLE)), array(1.0d, 2.0d)) AS withnull
        |""".stripMargin).collect()(0)
    assert(r.getDouble(0) == 11.0)
    assert(r.isNullAt(1), "length mismatch → NULL (zip_with pads with null)")
    assert(r.isNullAt(2), "null element → NULL fold")
  }

  test("native minhash signature is bit-identical to the Column formulation on real docs") {
    val docs = Tables.documents(spark, sfDir)
    val toks = array_distinct(tokens(col("text")))
    val both = docs.select(
      call_function("graft_minhash_sig", toks, lit(32)).as("native"),
      KernelTwins.minhashSignatureColumns(toks, 32).as("columnar"))
    val diff = both.filter(col("native") =!= col("columnar")).count()
    assert(diff == 0, s"$diff docs disagree between native and Column minhash signature")
    // empty-array edge: all-null signature, same as array_min of empty
    val empty = spark.sql(
      "SELECT graft_minhash_sig(array(), 4) AS sig").collect()(0).getSeq[Any](0)
    assert(empty.size == 4 && empty.forall(_ == null), s"empty input → all-null sig, got $empty")
    // NULL-array edge: BOTH forms yield SQL NULL (the native expression
    // is null-intolerant; the Column twin wraps itself to match)
    val nulls = spark.range(1).select(
      call_function("graft_minhash_sig",
        lit(null).cast("array<string>"), lit(4)).as("native"),
      KernelTwins.minhashSignatureColumns(lit(null).cast("array<string>"), 4).as("columnar"))
      .collect()(0)
    assert(nulls.isNullAt(0) && nulls.isNullAt(1),
      s"null token array → SQL NULL signature in both forms, got $nulls")
  }

  test("native ngram stats match the wordNgrams Column pair on real docs, plus edges") {
    val docs = Tables.documents(spark, sfDir)
    val toks = tokens(col("text"))
    val grams = graft.functions.TextFunctions.wordNgrams(toks, 2)
    val both = docs.select(
      call_function("graft_ngram_stats", toks, lit(2)).as("native"),
      struct(size(grams).cast("long").as("n_grams"),
        size(array_distinct(grams)).cast("long").as("n_uniq")).as("columnar"))
    val diff = both.filter(col("native") =!= col("columnar")).count()
    assert(diff == 0, s"$diff docs disagree between native and Column ngram stats")
    // edges: short doc → (0,0); repeated grams counted once in n_uniq;
    // null input → SQL NULL
    val r = spark.sql(
      """SELECT graft_ngram_stats(array('solo'), 2) AS short,
        |       graft_ngram_stats(array('a','b','a','b','a','b'), 2) AS rep,
        |       graft_ngram_stats(CAST(NULL AS ARRAY<STRING>), 2) AS nul""".stripMargin).collect()(0)
    assert(r.getStruct(0).getLong(0) == 0L && r.getStruct(0).getLong(1) == 0L)
    assert(r.getStruct(1).getLong(0) == 5L && r.getStruct(1).getLong(1) == 2L,
      "ababab: 5 bigrams, 2 distinct")
    assert(r.isNullAt(2), "null token array → SQL NULL")
  }

  test("ngram stats rejects n < 1 at analysis time (foldable value check)") {
    // n is foldable, so a bad value must fail in the analyzer — not
    // throw NegativeArraySizeException per row at eval time (n < 0)
    // or silently return (len+1, 1) (n = 0)
    for (bad <- Seq(0, -3)) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"SELECT graft_ngram_stats(array('a','b'), $bad)").collect()
      }
      assert(e.getMessage.contains("n >= 1"), s"n=$bad must be rejected with the n >= 1 message: $e")
    }
  }

  test("native script counts are bit-identical to the 17-regex Column twin, incl. edges") {
    // every named script + beyond-the-named-set (Gujarati → other), a
    // SUPPLEMENTARY-PLANE Han char (U+20000, arrives as a surrogate
    // pair — must count ONCE in n_han, the code-point-loop parity
    // trap), emoji/punct (Common — counted nowhere), combining mark
    // on Latin (Inherited), digits, and the empty string
    val plants = Seq(
      "hello World 42!", "", "你好 мир سلام नमस्ते 안녕 あい アイ γεια สวัสดี שלום",
      "ჯა ગજ Հայ বাং தமி", "𠀀 kanji-ext", "é combining", "🙂🙂 7",
      "mixed: The Licence—Block, v2.0! 你好 д ぁ ゑ")
    val docs = Tables.documents(spark, sfDir).limit(50)
      .select(col("doc_id"), concat(col("text"), lit(" "),
        element_at(typedlit(plants), (col("doc_id") % plants.length + 1).cast("int"))).as("text"))
      .unionByName(spark.range(plants.length).select(
        (col("id") + 900000L).as("doc_id"),
        element_at(typedlit(plants), (col("id") + 1).cast("int")).as("text")))
    val both = docs.select(
      call_function("graft_script_counts", col("text")).as("native"),
      KernelTwins.scriptCountsColumns(col("text")).as("columnar"))
    val diff = both.filter(col("native") =!= col("columnar")).count()
    assert(diff == 0, s"$diff rows disagree between native and regex script counts")
    // null input: native → NULL struct, twin → struct of NULL fields;
    // every consumer reads FIELDS, where both forms agree (null)
    val nulls = spark.range(1).select(
      call_function("graft_script_counts", lit(null).cast("string")).getField("n_han").as("n"),
      KernelTwins.scriptCountsColumns(lit(null).cast("string")).getField("n_han").as("c"))
      .collect()(0)
    assert(nulls.isNullAt(0) && nulls.isNullAt(1), s"null text → null fields on both paths: $nulls")
    // supplementary-plane pin: U+20000 is ONE Han code point
    val supp = spark.sql("SELECT graft_script_counts('𠀀') AS sc")
      .select(col("sc.n_han"), col("sc.n_other"), col("sc.n_latin")).collect()(0)
    assert(supp.getLong(0) == 1L && supp.getLong(1) == 0L && supp.getLong(2) == 0L,
      s"U+20000 must count once in n_han, got $supp")
  }

  test("native md5 minhash signature is bit-identical to the Column twin on real docs") {
    val docs = Tables.documents(spark, sfDir)
    val toks = array_distinct(tokens(col("text")))
    val both = docs.select(
      call_function("graft_md5_minhash_sig", toks, lit(32)).as("native"),
      KernelTwins.md5MinhashSigColumns(toks, 32).as("columnar"))
    val diff = both.filter(col("native") =!= col("columnar")).count()
    assert(diff == 0, s"$diff docs disagree between native and Column md5 minhash signature")
    // empty array → all-null signature (array_min of empty per perm)
    val empty = spark.sql(
      "SELECT graft_md5_minhash_sig(array(), 4) AS sig").collect()(0).getSeq[Any](0)
    assert(empty.size == 4 && empty.forall(_ == null), s"empty input → all-null sig, got $empty")
    // null ELEMENT drops out of every minimum on both paths
    val withNull = spark.range(1).select(
      call_function("graft_md5_minhash_sig",
        array(lit("a"), lit(null).cast("string"), lit("b")), lit(8)).as("native"),
      KernelTwins.md5MinhashSigColumns(
        array(lit("a"), lit(null).cast("string"), lit("b")), 8).as("columnar"),
      call_function("graft_md5_minhash_sig", array(lit("a"), lit("b")), lit(8)).as("clean"))
      .collect()(0)
    assert(withNull.getSeq[Any](0) == withNull.getSeq[Any](1), "null element: native ≠ twin")
    assert(withNull.getSeq[Any](0) == withNull.getSeq[Any](2), "null element must not vote")
    // NULL array → SQL NULL on both paths
    val nulls = spark.range(1).select(
      call_function("graft_md5_minhash_sig", lit(null).cast("array<string>"), lit(4)).as("n"),
      KernelTwins.md5MinhashSigColumns(lit(null).cast("array<string>"), 4).as("c"))
      .collect()(0)
    assert(nulls.isNullAt(0) && nulls.isNullAt(1), s"null array → SQL NULL both paths: $nulls")
  }

  test("native simhash md5 fingerprints match the explode+groupBy twin doc-for-doc") {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val native = graft.operators.Dedup.simhashMd5Fingerprints(docs)
    val twin = KernelTwins.simhashMd5FingerprintsColumns(docs)
    assert(native.count() == twin.count(), "fingerprint row sets differ")
    val joined = native.as("n").join(twin.as("t"), "doc_id")
    val diff = joined.filter((0 until 4).map(c =>
      col(s"n.c$c") =!= col(s"t.c$c")).reduce(_ || _)).count()
    assert(diff == 0, s"$diff docs disagree between native and groupBy md5-simhash chunks")
    // ties (empty vote sum) clear the bit: empty token array → all-zero
    // chunks from the kernel (the twin emits no row — the operator
    // filters null docs identically; empty ARRAYS never reach either
    // path because split() yields at least one token)
    val z = spark.sql("SELECT graft_simhash_md5_chunks(array()) AS ch")
      .select(col("ch.c0"), col("ch.c1"), col("ch.c2"), col("ch.c3")).collect()(0)
    assert((0 until 4).forall(z.getLong(_) == 0L), s"empty array → zero chunks, got $z")
  }

  test("native PQ codes and ADC table are bit-identical to the literal-centroid twins") {
    import graft.operators.Pq
    val emb = Tables.embeddings(spark, sfDir)
    val cb = Pq.train(emb)
    val pts = Pq.normalized(emb)
    val both = pts.select(
      Pq.codesExpr(col("v"), cb).as("nc"),
      KernelTwins.codesExprColumns(col("v"), cb).as("cc"),
      Pq.adcTableExpr(col("v"), cb).as("nt"),
      KernelTwins.adcTableExprColumns(col("v"), cb).as("ct"))
    val diff = both.filter(col("nc") =!= col("cc") || col("nt") =!= col("ct")).count()
    assert(diff == 0, s"$diff vectors disagree between native and literal-centroid PQ kernels")
    // null vector → SQL NULL from the native kernels
    val nulls = spark.range(1).select(
      Pq.codesExpr(lit(null).cast("array<double>"), cb).as("c"),
      Pq.adcTableExpr(lit(null).cast("array<double>"), cb).as("t")).collect()(0)
    assert(nulls.isNullAt(0) && nulls.isNullAt(1), s"null vector → NULL codes/table: $nulls")
  }

  test("native lattice argmin and integer dot match the HOF twins on quantized embeddings") {
    import graft.operators.Dedup
    import graft.functions.VectorFunctions.toDoubleArray
    val offset = 1048576L
    val pts = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").cast("long").as("id"),
        transform(toDoubleArray(col("embedding")),
          x => round(x * lit(1000000.0)).cast("long") + lit(offset)).as("q"))
    // centroids = the k lowest ids, the gate's init convention
    val cents = pts.orderBy(col("id")).limit(7).collect()
      .sortBy(_.getAs[Long]("id")).zipWithIndex
      .map { case (r, i) => i.toLong -> r.getAs[scala.collection.Seq[Long]]("q").toArray }.toSeq
    val both = pts.select(
      Dedup.latticeClusterCol(col("q"), cents).as("nc"),
      KernelTwins.latticeClusterColColumns(col("q"), cents).as("cc"),
      Dedup.latticeDot(col("q"), col("q")).as("nd"),
      KernelTwins.latticeDotColumns(col("q"), col("q")).as("cd"))
    val diff = both.filter(col("nc") =!= col("cc") || col("nd") =!= col("cd")).count()
    assert(diff == 0, s"$diff rows disagree between native and HOF lattice kernels")
    // exact-tie pin: a point equidistant to two centroids takes the
    // LOWER cid on both paths (first-min rule)
    val twoCents = Seq(0L -> Array(0L, 0L), 1L -> Array(2L, 0L))
    val tie = spark.range(1).select(typedlit(Seq(1L, 0L)).as("q"))
      .select(Dedup.latticeClusterCol(col("q"), twoCents).as("n"),
        KernelTwins.latticeClusterColColumns(col("q"), twoCents).as("c")).collect()(0)
    assert(tie.getLong(0) == 0L && tie.getLong(1) == 0L, s"tie must take cid 0: $tie")
  }

  test("native distinct ngrams match the HOF chain on real docs, plus edges") {
    import graft.functions.TextFunctions
    val docs = Tables.documents(spark, sfDir)
    val toks = tokens(col("text"))
    val both = docs.select(
      call_function("graft_distinct_ngrams", toks, lit(2)).as("native"),
      array_distinct(TextFunctions.wordNgrams(toks, 2)).as("columnar"))
    val diff = both.filter(col("native") =!= col("columnar")).count()
    assert(diff == 0, s"$diff docs disagree between native and HOF distinct ngrams")
    // edges: short doc → empty; duplicates keep FIRST position; null
    // window members skipped like concat_ws
    val r = spark.sql(
      """SELECT graft_distinct_ngrams(array('solo'), 2) AS short,
        |       graft_distinct_ngrams(array('b','a','b','a','b'), 2) AS rep,
        |       graft_distinct_ngrams(array('a', CAST(NULL AS STRING), 'b'), 2) AS nul
        |""".stripMargin).collect()(0)
    assert(r.getSeq[String](0).isEmpty, "fewer than n tokens → empty array")
    assert(r.getSeq[String](1) == Seq("b a", "a b"), s"first-occurrence order: ${r.getSeq[String](1)}")
    assert(r.getSeq[String](2) == Seq("a", "b"), s"null member skipped like concat_ws: ${r.getSeq[String](2)}")
    // NULL array: kernel → SQL NULL, HOF chain → empty array; the
    // consumer filter/explode drops the row on both paths — pin that
    val nulls = spark.range(1).select(
      call_function("graft_distinct_ngrams", lit(null).cast("array<string>"), lit(2)).as("n"),
      array_distinct(TextFunctions.wordNgrams(lit(null).cast("array<string>"), 2)).as("c"))
    val survivors = nulls.select(
      (size(col("n")) > 0).as("nk"), (size(col("c")) > 0).as("ck")).collect()(0)
    assert(survivors.isNullAt(0) || !survivors.getBoolean(0), "null input must not survive the size filter (native)")
    assert(!survivors.getBoolean(1), "null input must not survive the size filter (twin)")
  }

  test("public kernels build their native node with no active session") {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.graftshim.ColumnBridge
    import graft.functions.{TextFunctions, VectorFunctions}
    import graft.functions.expressions._
    val toks = col("toks")
    // thunks: each Column must be built after the session is cleared
    val cases: Seq[(() => org.apache.spark.sql.Column, Class[_])] = Seq(
      (() => HashFunctions.md5MinhashSig(toks, 4), classOf[Md5MinHashSig]),
      (() => HashFunctions.minhashSignature(toks, 4), classOf[MinHashSig]),
      (() => TextFunctions.scriptCounts(col("text")), classOf[ScriptCounts]),
      (() => TextFunctions.ngramStats(toks, 2), classOf[NgramStats]),
      (() => TextFunctions.distinctWordNgrams(toks, 2), classOf[DistinctNgrams]),
      (() => VectorFunctions.dot(col("a"), col("b")), classOf[ArrayDot]),
      (() => VectorFunctions.l2sq(col("a"), col("b")), classOf[ArrayL2Sq]),
      (() => HashFunctions.simhash64(toks), classOf[SimHash64]))
    SparkSession.clearActiveSession()
    try {
      assert(SparkSession.getActiveSession.isEmpty)
      for ((build, native) <- cases) {
        val tree = ColumnBridge.expression(build())
        assert(tree.find(native.isInstance).isDefined,
          s"no ${native.getSimpleName} node without a session: $tree")
      }
    } finally SparkSession.setActiveSession(spark)
  }

  test("native simhash stays inside whole-stage codegen") {
    val docs = Tables.documents(spark, sfDir)
    val plan = docs.select(call_function("graft_simhash64", tokens(col("text"))))
      .queryExecution.executedPlan.toString
    // the "*(n)" prefix marks operators fused into WholeStageCodegen
    assert(plan.contains("*(1) Project [graft_simhash64"), s"expected codegen'd project in:\n$plan")
  }
}
