package graft

/** The session factory and the rehearsal runner: the session every
  * main and spec shares, and the report and exit code every
  * rehearsal main ends with.
  */
class SessionsSpec extends SparkSpec {

  test("the factory's session: UTC, nanos as longs, graft SQL, 4 partitions, a fresh warehouse") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    // the driver's events.ts is TIMESTAMP(NANOS), readable only as longs
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.sql("SELECT graft_simhash64(split('a b c', ' ')) AS h").collect().length == 1)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    val wh = new java.io.File(
      new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath)
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    assert(wh.getCanonicalPath.startsWith(tmp.getCanonicalPath + java.io.File.separator),
      s"warehouse $wh is not a temp dir")
    assert(wh.getName.startsWith("graft_wh"), s"warehouse $wh is not a fresh factory dir")
  }

  test("the rehearsal runner: report line, exit code, and the session stopped in every case") {
    def outcome(body: Rehearsals.Run => Seq[(String, Any)]): (Option[String], Int, Boolean) = {
      var stopped = false
      val (line, code) = Rehearsals.execute("unit", spark, 4, () => stopped = true)(body)
      (line, code, stopped)
    }
    val (passLine, passCode, passStopped) = outcome { run =>
      run.timed("phase_a")(spark.range(10).count())
      run.check("first", ok = true)
      run.check("second", ok = true)
      Seq("n" -> 10L, "planted" -> Seq("x" -> 1, "y" -> 0.5))
    }
    assert(passCode == 0 && passStopped)
    val line = passLine.get
    assert(line.startsWith("""{"rehearsal":"unit","n":10,"planted":{"x":1,"y":0.50},"""), line)
    assert(line.contains(""""all_checks_pass":true,"checks":{"first":true,"second":true},"""), line)
    assert(line.contains(""""phases":{"phase_a":""") && line.endsWith(""","cpus":4}"""), line)

    val (failLine, failCode, failStopped) = outcome { run =>
      run.check("first", ok = true)
      run.check("second", ok = false)
      Seq.empty
    }
    assert(failCode == 1 && failStopped)
    assert(failLine.get.contains(""""all_checks_pass":false,"checks":{"first":true,"second":false}"""))

    val (thrownLine, thrownCode, thrownStopped) = outcome { run =>
      run.check("first", ok = true)
      throw new IllegalStateException("planted failure")
    }
    assert(thrownLine.isEmpty && thrownCode == 1 && thrownStopped)
  }

  test("rehearsal size guards refuse, before any work, sizes their exact checks cannot hold at") {
    def refusal(run: => Unit): String = intercept[IllegalArgumentException](run).getMessage
    // the quantile tier's value set is even only at multiples of 4M
    assert(refusal(SketchRehearsal.main(Array("2000000", "unused"))).contains("multiple of 4,000,000"))
    assert(refusal(SketchRehearsal.main(Array("6000000", "unused"))).contains("multiple of 4,000,000"))
    // these scales put rows exactly on q15's 1.8×avg boundary
    Seq(2, 4, 8).foreach { s =>
      assert(refusal(RelationalRehearsal.main(Array(s.toString, "unused"))).contains("q15"), s"S=$s")
    }
    assert(!new java.io.File("unused").exists(), "a refused size must write nothing")
  }
}
