package graft

import org.apache.spark.sql.functions._

import graft.operators.Sketches

/** Scale rehearsal for the sketch components beyond the driver's
  * sf0.1 corpus: a deterministic spark.range stream (every cell a
  * pure function of the row id — reproducible, closed-form truth)
  * drives the HLL distinct tier into its ESTIMATING regime (the gate
  * corpus never leaves the exact coupon regime) and the frequency
  * tier through saturation plus the exactly-once stored lifecycle.
  *
  * Data model at n rows (default 20M):
  *   - distinct tier: grp = "g" + id % 8, uid = id % 1M. 1M ≡ 0
  *     (mod 8), so group g holds exactly the uids ≡ g (mod 8) —
  *     125k distinct per group, 1M global, closed-form.
  *   - frequency tier: 10 planted heavies h0–h9 (ids ≡ 0–9 mod
  *     1000 → n/1000 occurrences each) over a 500k-item uniform
  *     tail — far past the 4096-entry map, so purges are real and
  *     the NO_FALSE_NEGATIVES + envelope guarantees are exercised
  *     where they matter.
  *
  * Checks (closed-form or exact-recompute, no second engine):
  *   distinct per-group within 3σ of 125k; per-day → global rollup
  *   estimate ≡ the direct global sketch; stored half + half append
  *   ≡ the one-shot sketch, replay a no-op; every reported heavy
  *   envelope contains its exact count (recomputed for exactly the
  *   reported items), the top-10 ARE the planted heavies; the
  *   stored frequency table's batch-id guard holds at volume
  *   (replayed 10M-row batch leaves the collected top-k
  *   bit-identical).
  *
  *   tools/run.sh graft.SketchRehearsal [n] [outBase]
  */
object SketchRehearsal {

  private val Groups = 8L
  private val DistinctUids = 1000000L
  private val Heavies = 10L
  private val TailItems = 500000L

  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toLong).getOrElse(20000000L)
    val outBase = args.lift(1).getOrElse("tmp/sketch_rehearsal")
    // the quantile tier's values (7·id) mod 1M over n/4 ids split into
    // two groups cover 0..999,999 evenly only when n is a multiple of
    // 4M; any other n shifts p50 outside its rank-error budget. 4M also
    // covers the uid space twice (the half/half lifecycle) and divides
    // by 1000.
    require(n > 0 && n % 4000000 == 0,
      s"n=$n must be a positive multiple of 4,000,000: only then does the quantile tier's " +
        "(7·id) mod 1M value set cover 0..999,999 evenly, which its rank-error check assumes")
    Rehearsals.run("sketch", Some(outBase)) { run =>
      val spark = run.spark

      def users = spark.range(n).select(
        concat(lit("g"), col("id") % Groups).as("grp"),
        (col("id") % DistinctUids).as("uid"))
      def items = spark.range(n).select(
        when(col("id") % 1000 < Heavies, concat(lit("h"), col("id") % 1000))
          .otherwise(concat(lit("t"), col("id") % TailItems)).as("item"))
        .withColumn("grp", lit("all"))

      // ---- distinct tier: estimating regime + mergeability ----
      val perGroup = run.timed("hll_per_group") {
        Sketches.distinctByGroup(users, Seq("grp"), "uid").collect()
          .map(r => r.getAs[String]("grp") -> r.getAs[Long]("n_distinct")).toMap
      }
      val bound = 3.0 * 1.04 / math.sqrt(4096.0)
      val perGroupOk = perGroup.size == Groups && perGroup.values.forall(est =>
        math.abs(est - 125000.0) / 125000.0 <= bound)
      val estimating = perGroup.values.exists(_ != 125000L)

      val (rolled, direct) = run.timed("hll_rollup_vs_direct") {
        val sketches = Sketches.sketchByGroup(users, Seq("grp"), "uid")
        val r = Sketches.rollup(sketches, Seq.empty).collect()(0).getAs[Long]("n_distinct")
        val d = Sketches.distinctByGroup(users.withColumn("one", lit(1)), Seq("one"), "uid")
          .collect()(0).getAs[Long]("n_distinct")
        (r, d)
      }
      val mergeOk = rolled == direct &&
        math.abs(rolled - DistinctUids.toDouble) / DistinctUids <= bound

      val storedOk = run.timed("hll_stored_lifecycle") {
        val half = n / 2
        Sketches.writeSketchTable(spark, "reh_hll",
          spark.range(0, half).select(
            concat(lit("g"), col("id") % Groups).as("grp"),
            (col("id") % DistinctUids).as("uid")),
          Seq("grp"), "uid")
        Sketches.appendToSketchTable(spark,
          "reh_hll", spark.range(half, n).select(
            concat(lit("g"), col("id") % Groups).as("grp"),
            (col("id") % DistinctUids).as("uid")))
        def stored = Sketches.estimateSketchTable(spark, "reh_hll").collect()
          .map(r => r.getAs[String]("grp") -> r.getAs[Long]("n_distinct")).toMap
        val afterAppend = stored
        // replay the second half: every value is absorbed — no estimate moves
        Sketches.appendToSketchTable(spark,
          "reh_hll", spark.range(half, n).select(
            concat(lit("g"), col("id") % Groups).as("grp"),
            (col("id") % DistinctUids).as("uid")))
        afterAppend == perGroup && stored == perGroup
      }

      // ---- frequency tier: saturated heavy hitters ----
      val hhOk = run.timed("freq_heavy_hitters") {
        val hh = Sketches.heavyHitters(items, Seq("grp"), "item", k = 0).collect()
        val reported = hh.map(_.getAs[String]("item"))
        val exact = items.filter(col("item").isin(reported.toSeq: _*))
          .groupBy(col("item")).agg(count(lit(1)).as("n")).collect()
          .map(r => r.getAs[String]("item") -> r.getAs[Long]("n")).toMap
        val envelopesOk = hh.forall { r =>
          val t = exact(r.getAs[String]("item"))
          r.getAs[Long]("lower") <= t && t <= r.getAs[Long]("upper")
        }
        val top10 = hh.sortBy(r => (-r.getAs[Long]("estimate"), r.getAs[String]("item")))
          .take(10).map(_.getAs[String]("item")).toSet
        val heaviesOk = (0 until Heavies.toInt).forall(i => top10.contains(s"h$i"))
        envelopesOk && heaviesOk
      }

      // ---- quantile tier: measured rank error at 2.5M rows/group ----
      val qtOk = run.timed("quantile_rank_error") {
        // per-group values are a permutation-with-repetition of
        // 0..999999 (value ≈ rank·(1M/n_g)), so the returned element
        // itself measures its rank: |p − q·1M| ≤ (ε·n_g + 1)·(1M/n_g)
        val vals = spark.range(n / 4).select(
          concat(lit("g"), col("id") % 2).as("grp"),
          ((col("id") * 7) % DistinctUids).cast("double").as("v"))
        val nG = (n / 4) / 2.0
        val out = Sketches.quantilesByGroup(vals, Seq("grp"), "v", Seq(0.5, 0.99)).collect()
        val budget = (0.0001 * nG + 1.0) * (DistinctUids / nG)
        out.length == 2 && out.forall { r =>
          math.abs(r.getAs[Double]("p50") - 500000.0) <= budget &&
            math.abs(r.getAs[Double]("p99") - 990000.0) <= budget
        }
      }

      // ---- theta tier: set algebra in deep estimation mode ----
      val thetaOk = run.timed("theta_set_algebra") {
        // A = 0..2M, B = 1M..3M through 4096-entry sketches: |A∩B| =
        // 1M, |A\B| = 1M, both ~500× past nominal — the envelopes must
        // still contain the closed-form truths
        val m = 2000000L
        val rows = spark.range(0, m).select(lit("a").as("side"), col("id").as("uid"))
          .unionByName(spark.range(m / 2, m / 2 + m).select(lit("b").as("side"), col("id").as("uid")))
          .withColumn("grp", lit("g"))
        val sk = rows.groupBy(col("grp")).agg(
          Sketches.thetaSketch(when(col("side") === "a", col("uid"))).as("sa"),
          Sketches.thetaSketch(when(col("side") === "b", col("uid"))).as("sb"))
        val out = sk.select(
          Sketches.thetaSummary(Sketches.thetaIntersect(col("sa"), col("sb"))).as("i"),
          Sketches.thetaSummary(Sketches.thetaAnotB(col("sa"), col("sb"))).as("d"))
          .collect()(0)
        def contains(f: String, truth: Long): Boolean = {
          val r = out.getAs[org.apache.spark.sql.Row](f)
          r.getAs[Long]("lower") <= truth && truth <= r.getAs[Long]("upper") &&
            r.getAs[Long]("upper") > r.getAs[Long]("lower")
        }
        contains("i", m / 2) && contains("d", m / 2)
      }

      // ---- theta tier: STORED funnel lifecycle at volume ----
      val thetaStoredOk = run.timed("theta_stored_funnel") {
        // same A/B geometry, through the stored lifecycle: per-(side,
        // day) sketches written for days {0,1}, days {2,3} appended,
        // the funnel answered from the bounded table alone; envelopes
        // must still contain the closed-form truths in deep estimation
        // mode, and a replayed append must not move anything (theta
        // union is insertion-idempotent — the free-replay tier)
        val m = 2000000L
        def rows = spark.range(0, m).select(lit("a").as("side"), col("id").as("uid"))
          .unionByName(spark.range(m / 2, m / 2 + m)
            .select(lit("b").as("side"), col("id").as("uid")))
          .withColumn("d", col("uid") % 4)
        Sketches.writeThetaTable(spark, "reh_theta", rows.filter(col("d") < 2),
          Seq("side", "d"), "uid")
        Sketches.appendToThetaTable(spark, "reh_theta", rows.filter(col("d") >= 2))
        def funnel = {
          val r = Sketches
            .overlapFromThetaTable(spark, "reh_theta", "side", "a", "b", Seq.empty)
            .collect()(0)
          (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
            r.getAs[Long]("n_both"), r.getAs[Long]("n_a_only"))
        }
        val f0 = funnel
        val sums = spark.table("reh_theta_sketches")
          .agg(Sketches.thetaUnion(when(col("side") === "a", col("sketch"))).as("sa"),
            Sketches.thetaUnion(when(col("side") === "b", col("sketch"))).as("sb"))
          .select(Sketches.thetaSummary(col("sa")).as("ea"),
            Sketches.thetaSummary(col("sb")).as("eb"),
            Sketches.thetaSummary(Sketches.thetaIntersect(col("sa"), col("sb"))).as("ei"),
            Sketches.thetaSummary(Sketches.thetaAnotB(col("sa"), col("sb"))).as("ed"))
          .collect()(0)
        def env(f: String, truth: Long): Boolean = {
          val r = sums.getAs[org.apache.spark.sql.Row](f)
          r.getAs[Long]("lower") <= truth && truth <= r.getAs[Long]("upper")
        }
        def est(f: String): Long =
          sums.getAs[org.apache.spark.sql.Row](f).getAs[Long]("estimate")
        val envOk = env("ea", m) && env("eb", m) && env("ei", m / 2) && env("ed", m / 2)
        val estOk = f0 == ((est("ea"), est("eb"), est("ei"), est("ed")))
        Sketches.appendToThetaTable(spark, "reh_theta", rows.filter(col("d") >= 2))
        envOk && estOk && funnel == f0
      }

      // ---- theta tier: stored retention in estimation mode ----
      val retOk = run.timed("theta_retention") {
        // active(d) = uids [d·1M, d·1M + 2M) for days 0..3: each day 2M
        // actives (~500× past nominal), adjacent days overlap exactly
        // 1M, lag-2 days are DISJOINT — closed-form truths for both the
        // estimating intersections and the exact-zero ones (disjoint
        // value sets share no retained hashes, so the intersection
        // estimate is exactly 0 even in estimation mode)
        val perDay = 2000000L
        val day = (col("id") / perDay).cast("long")
        val rows = spark.range(4 * perDay).select(
          (day * 86400L).as("d"),
          (day * (perDay / 2) + col("id") % perDay).as("uid"))
        Sketches.writeThetaTable(spark, "reh_ret", rows, Seq("d"), "uid")
        val ret = Sketches.retentionFromThetaTable(spark, "reh_ret", "d", Seq(1, 2))
          .collect()
          .map(r => r.getAs[Long]("d") / 86400L -> ((r.getAs[Long]("n_active"),
            r.getAs[Long]("n_ret_1d"), r.getAs[Long]("n_ret_2d")))).toMap
        val interBound = 0.12 // ~3σ for a Jaccard-1/3 intersection at 4096 entries
        ret.size == 4 && (0L to 3L).forall { d =>
          val (act, r1, r2) = ret(d)
          math.abs(act - perDay.toDouble) / perDay <= bound &&
            (if (d < 3) math.abs(r1 - perDay / 2.0) / (perDay / 2.0) <= interBound
             else r1 == 0L) &&
            r2 == 0L
        }
      }

      // ---- ordered funnel: exact greedy fold at volume ----
      val funnelOk = run.timed("ordered_funnel") {
        // 3 events per user, pattern by uid mod 4 — closed-form depths:
        //   0: view,click,purchase  → 3     1: view,purchase,click → 2
        //   2: click,view,view      → 1     3: purchase,purchase,click → 0
        val nu = n / 4
        val pattern = Seq(
          Seq("view", "click", "purchase"), Seq("view", "purchase", "click"),
          Seq("click", "view", "view"), Seq("purchase", "purchase", "click"))
        val typeCol = (for { c <- 0 to 3; j <- 0 to 2 } yield ((c, j), pattern(c)(j)))
          .foldLeft(lit(null).cast("string")) { case (acc, ((c, j), ty)) =>
            when(col("u") % 4 === c && col("j") === j, lit(ty)).otherwise(acc)
          }
        val ev = spark.range(nu * 3)
          .select((col("id") / 3).cast("long").as("u"), (col("id") % 3).as("j"))
          .select(col("u").as("user_id"),
            timestamp_seconds(col("u") * 10L + col("j")).as("ts"), typeCol.as("event_type"))
        val got = graft.operators.Funnel
          .windowDepth(ev, Seq("view", "click", "purchase"), windowSec = 5L)
          .groupBy(col("depth")).agg(count(lit(1)).as("c")).collect()
          .map(r => r.getAs[Int]("depth") -> r.getAs[Long]("c")).toMap
        def usersInClass(c: Int): Long = nu / 4 + (if (nu % 4 > c) 1L else 0L)
        val expected = Map(3 -> usersInClass(0), 2 -> usersInClass(1),
          1 -> usersInClass(2), 0 -> usersInClass(3)).filter(_._2 > 0)
        got == expected
      }

      // ---- multi-touch attribution: closed-form credit at volume ----
      val attrOk = run.timed("attribution") {
        // ~3 events per user, class by uid mod 4, lookback 1000 s:
        //   0: clicks +10,+50, purchase +100        → n=2 (500000 each)
        //   1: click AT t−lookback (excluded, open bound), click == conv
        //      ts (included), purchase +200          → n=1
        //   2: clicks +10,+20,+30, purchase +40      → n=3 (floor 333333)
        //   3: clicks only                           → no credit
        val nu = n / 3
        val lookback = 1000L
        val rows = Seq( // (class, j, dtSec, type); dt relative to base
          (0, 0, 10L, "click"), (0, 1, 50L, "click"), (0, 2, 100L, "purchase"),
          (1, 0, 200L - lookback, "click"), (1, 1, 200L, "click"), (1, 2, 200L, "purchase"),
          (2, 0, 10L, "click"), (2, 1, 20L, "click"), (2, 2, 30L, "click"), (2, 3, 40L, "purchase"),
          (3, 0, 10L, "click"), (3, 1, 20L, "click"))
        val dtCol = rows.foldLeft(lit(null).cast("long")) { case (acc, (c, j, dt, _)) =>
          when(col("u") % 4 === c && col("j") === j, lit(dt)).otherwise(acc)
        }
        val tyCol = rows.foldLeft(lit(null).cast("string")) { case (acc, (c, j, _, ty)) =>
          when(col("u") % 4 === c && col("j") === j, lit(ty)).otherwise(acc)
        }
        val ev = spark.range(nu * 4)
          .select((col("id") / 4).cast("long").as("u"), (col("id") % 4).as("j"))
          .select(col("u").as("user_id"),
            // base mid-day, day = u mod 30 — credits spread over 30 days
            timestamp_seconds(pmod(col("u"), lit(30L)) * 86400L + 40000L + dtCol).as("ts"),
            tyCol.as("event_type"))
          .filter(col("event_type").isNotNull)
        val dir = s"$outBase/attr"
        ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
        val got = graft.operators.Attribution
          .creditDaily(spark, dir, lookbackSec = lookback)
        val byModel = got.groupBy(col("model"))
          .agg(sum(col("credit_millionths")).as("cr"), sum(col("n_touches")).as("nt"))
          .collect().map(r => r.getAs[String]("model") ->
            ((r.getAs[Long]("cr"), r.getAs[Long]("nt")))).toMap
        val days = got.select(col("d")).distinct().count()
        def usersInClass(c: Int): Long = nu / 4 + (if (nu % 4 > c) 1L else 0L)
        val (c0, c1, c2) = (usersInClass(0), usersInClass(1), usersInClass(2))
        val linear = (c0 * 1000000L + c1 * 1000000L + c2 * 999999L,
          c0 * 2L + c1 * 1L + c2 * 3L)
        // every lag sits inside one day, so each decay weight is 1 and
        // decay credits equal linear; position splits 50/50 at n = 2
        // and 40/20/40 at n = 3, so every conversion pays exactly 1M
        val expected = Map(
          "first" -> (((c0 + c1 + c2) * 1000000L, c0 + c1 + c2)),
          "last" -> (((c0 + c1 + c2) * 1000000L, c0 + c1 + c2)),
          "linear" -> linear,
          "decay" -> linear,
          "position" -> (((c0 + c1 + c2) * 1000000L, linear._2)))
        byModel == expected && days == 30L
      }

      val eoOk = run.timed("freq_exactly_once") {
        Sketches.writeFreqTable(spark, "reh_freq", items, Seq("grp"), "item")
        Sketches.appendToFreqTable(spark, "reh_freq",
          items.filter(col("item").startsWith("h")), batchId = 1L)
        def snap = Sketches.topKFromFreqTable(spark, "reh_freq", k = 20).collect()
          .map(r => (r.getAs[String]("item"), r.getAs[Long]("estimate"),
            r.getAs[Long]("lower"), r.getAs[Long]("upper"))).toSeq
        val afterBatch = snap
        Sketches.appendToFreqTable(spark, "reh_freq",
          items.filter(col("item").startsWith("h")), batchId = 1L)
        snap == afterBatch
      }

      run.check("hll_per_group_within_3sigma", perGroupOk)
      run.check("hll_actually_estimating", estimating)
      run.check("hll_rollup_equals_direct", mergeOk)
      run.check("hll_stored_lifecycle_and_replay", storedOk)
      run.check("freq_envelopes_and_planted_heavies", hhOk)
      run.check("freq_batchid_guard_at_volume", eoOk)
      run.check("quantile_rank_error_bounded", qtOk)
      run.check("theta_envelopes_in_estimation_mode", thetaOk)
      run.check("theta_stored_funnel_and_replay", thetaStoredOk)
      run.check("theta_retention_closed_form", retOk)
      run.check("ordered_funnel_exact_at_volume", funnelOk)
      run.check("attribution_closed_form_at_volume", attrOk)
      Seq("n" -> n, "per_group" -> perGroup.toSeq.sortBy(_._1).map(_._2),
        "rollup" -> rolled, "direct" -> direct)
    }
  }
}
