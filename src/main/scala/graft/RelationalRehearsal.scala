package graft

import java.time.LocalDate
import java.time.temporal.ChronoUnit

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Relational, Temporal}

/** Scale rehearsal for the RELATIONAL suite beyond the driver's sf0.1
  * corpus (TESTDATA.md caps at sf0.1, read-only) — the B-suite twin
  * of [[ScaleRehearsal]]'s dedup/ANN rehearsals. Synthesizes a
  * TPC-H-shaped directory at S× the sf0.1 row counts ENTIRELY AS
  * COLUMN EXPRESSIONS over spark.range (every cell a pure function of
  * the row id — no RNG state, reproducible), writes it with the same
  * table names `Tables` expects, and then runs the EXACT gate
  * operators (`Relational.q1Agg` etc., the same functions
  * `SparkEntry.queries` binds) against the directory — the code under
  * rehearsal is the code under the driver's gate, not a copy.
  *
  * The deterministic content makes the big-corpus results closed-form
  * checkable WITHOUT a second engine: key aggregates (counts,
  * integer-valued quantity sums, group cardinalities, session
  * layouts) are recomputed exactly by driver-side integer loops over
  * one residue block of the generating moduli, and the plan-shape
  * claims the suite makes at 100 TB (pushdown reaching the scan,
  * dimension joins broadcasting, global top-k planning as
  * TakeOrderedAndProject, no nested-loop joins anywhere) are asserted
  * on the plans actually executed at this scale — where a
  * wrongly-sized join or a silently-degraded pushdown would show.
  *
  * Exactness rule: closed-form checks only touch aggregates whose
  * every partial is an integer (counts; sums of integer-valued
  * doubles < 2^53), so Spark's summation order can't produce
  * ulp-level drift against the driver-side loop. Money aggregates
  * (discount products) are NOT closed-form-checked — their binary
  * rounding is order-dependent by construction; the sf0.01 DuckDB
  * oracle owns those.
  *
  *   tools/run.sh graft.RelationalRehearsal [S] [outBase]
  *
  * S = multiplier over sf0.1 (default 10 → 6M lineitem; 100 → 60M,
  * the 100 TB dress rehearsal this host can hold).
  */
object RelationalRehearsal {

  private val Epoch = LocalDate.of(1995, 1, 1)
  private val DateSpan = 1460L // 4 years of ship/order dates
  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val EventTypes = Seq("click", "view", "purchase", "login", "logout")
  private val PerUser = 100 // events per user
  private val SessionRun = 20 // events per planted session (gap jump every 20th)
  private val BaseEpochS = 1704067200L // 2024-01-01T00:00:00Z

  /** Row counts at S× sf0.1 (sf0.1: 600k lineitem / 150k orders /
    * 15k customer / 1k supplier / 100k events).
    */
  case class Sizes(s: Int) {
    val nCust: Long = 15000L * s // multiple of 25 and 5: exact nation/priority splits
    val nSupp: Long = 1000L * s
    val nOrders: Long = 150000L * s // 10 orders per customer exactly
    val nLine: Long = 4L * nOrders // 4 lines per order exactly
    val nEvents: Long = 100000L * s
    val nUsers: Long = nEvents / PerUser
  }

  private def pick(values: Seq[String], idx: org.apache.spark.sql.Column) =
    element_at(array(values.map(lit): _*), (idx + 1).cast("int"))

  private def dateCol(dayOffset: org.apache.spark.sql.Column) =
    date_add(to_date(lit(Epoch.toString)), dayOffset.cast("int")).cast("timestamp")

  /** Write the full table directory. Every column is a pure function
    * of the row id with small-moduli structure — the closed-form
    * oracle loops below mirror these expressions exactly.
    */
  def synthesizeDir(spark: SparkSession, dir: String, sz: Sizes): Unit = {
    val id = col("id")
    spark.range(5).select(id.cast("int").as("r_regionkey"),
      pick(Regions, id).as("r_name"))
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    spark.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION"), id).as("n_name"),
      (id % 5).cast("int").as("n_regionkey"))
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
    spark.range(sz.nCust).select(id.as("c_custkey"),
      concat(lit("Customer#"), id).as("c_name"),
      (id % 25).cast("int").as("c_nationkey"),
      (id % 10000 - 5000).cast("double").as("c_acctbal"),
      pick(Segments, id % 5).as("c_mktsegment"))
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    spark.range(sz.nSupp).select(id.as("s_suppkey"),
      concat(lit("Supplier#"), id).as("s_name"),
      (id % 25).cast("int").as("s_nationkey"),
      (id % 9000).cast("double").as("s_acctbal"))
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    spark.range(sz.nOrders).select(id.as("o_orderkey"),
      (id % sz.nCust).as("o_custkey"),
      pick(Seq("F", "O", "P"), id % 3).as("o_orderstatus"),
      (lit(1000L) + id % 90000).cast("double").as("o_totalprice"),
      dateCol(id % DateSpan).as("o_orderdate"),
      pick(Priorities, id % 5).as("o_orderpriority"))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    // l_suppkey derives from the ORDER (not the line id): with
    // 25 | nSupp and 25 | nCust this makes s_nationkey =
    // l_orderkey mod 25 = c_nationkey on every line, so q5's
    // local-supplier join is satisfiable for all 25 nations (the
    // old `id % nSupp` coupled supplier nation to lineid mod 25
    // while customer nation rode lineid div 4 — the congruence
    // 3q+r ≡ 0 (mod 25), r ≤ 3 excluded every ASIA nation and q5
    // returned 0 rows at every scale)
    // quantity modulus 47 (not a round 50): 20000·s mod 47 ≠ 0 at the
    // rehearsed scales, so quantities VARY within each partkey class
    // and q15's 1.8×avg predicate is non-degenerate. 47 does NOT keep
    // every scale off the 1.8×avg boundary, where the operator's 6-dp
    // avg rounding could flip a row the exact integer oracle counts
    // differently: `main` refuses the scales that put a row on it
    // (see [[q15Expected]]) before writing anything
    spark.range(sz.nLine).select(expr("id div 4").as("l_orderkey"),
      (id % (20000L * sz.s)).as("l_partkey"),
      (expr("id div 4") % sz.nSupp).as("l_suppkey"),
      (id % 4 + 1).cast("int").as("l_linenumber"),
      (id % 47 + 1).cast("double").as("l_quantity"),
      (lit(900L) + id % 100000).cast("double").as("l_extendedprice"),
      ((id % 11).cast("double") / 100.0).as("l_discount"),
      ((id % 9).cast("double") / 100.0).as("l_tax"),
      pick(Seq("A", "N", "R"), id % 3).as("l_returnflag"),
      pick(Seq("F", "O"), id % 2).as("l_linestatus"),
      dateCol(id % DateSpan).as("l_shipdate"))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    // events: user u's k-th event sits at base + 60k s, with a
    // >gap jump (+3600 s) planted before every SessionRun-th event —
    // the q12 session layout is exactly ceil(PerUser/SessionRun)
    // sessions of SessionRun events per user, by construction
    val k = expr(s"id div ${sz.nUsers}")
    // event_type cycles with k (the per-user sequence index), NOT the
    // raw id: nUsers is a multiple of 5, so `id % 5` would freeze
    // every user on ONE type and the temporal joins (q17 as-of, q18
    // range) would have no cross-type pairs to find
    spark.range(sz.nEvents).select(id.as("event_id"),
      timestamp_seconds(lit(BaseEpochS) + k * 60L +
        expr(s"(id div ${sz.nUsers}) div $SessionRun") * 3600L).as("ts"),
      (id % sz.nUsers).as("user_id"),
      pick(EventTypes, k % 5).as("event_type"),
      (id % 1000).cast("double").as("value"),
      concat(lit("{\"k\":"), id % 10, lit("}")).as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  /** Exact occurrence count of residue r (mod m) among ids 0..n-1. */
  private def occ(n: Long, m: Long, r: Long): Long =
    n / m + (if (r < n % m) 1L else 0L)

  /** q15's expected row count and its boundary rows at scale `sz`.
    * P | nLine exactly (nLine = 30·P), so every partkey class holds 30
    * rows whose quantities depend only on (partkey mod 47, P mod 47):
    * the expected count is a 47-class integer loop. Boundary rows sit
    * exactly ON the 1.8×avg predicate (300·v == 18·Σ), where the
    * operator's 6-dp avg rounding could legitimately differ from the
    * exact count. Modulus 47 leaves that set empty at most scales but
    * not at every one: of s = 1..20, s = 2, 4, 8, 11, 16, 18 and 20
    * have boundary rows (1, 2, 1, 1, 1, 1 and 1 of them).
    */
  private def q15Expected(sz: Sizes): (Long, Long) = {
    val qMod = 47L
    val partP = 20000L * sz.s
    val kq = partP % qMod
    val rowsPerPart = (sz.nLine / partP).toInt
    var count = 0L
    var boundary = 0L
    (0L until qMod).foreach { r =>
      val vs = (0 until rowsPerPart).map(j => ((r + kq * j) % qMod) + 1)
      val sum = vs.sum
      boundary += vs.count(v => 300 * v == 18 * sum)
      count += occ(partP, qMod, r) * vs.count(v => 300 * v > 18 * sum)
    }
    (count, boundary)
  }

  def main(args: Array[String]): Unit = {
    val s = args.lift(0).map(_.toInt).getOrElse(10)
    val outBase = args.lift(1).getOrElse("tmp/relational_rehearsal")
    require(s > 0, s"S=$s must be positive")
    val sz = Sizes(s)
    // a scale with q15 boundary rows cannot pass q15's exact check:
    // refuse it before synthesizing anything
    val boundary = q15Expected(sz)._2
    require(boundary == 0,
      s"S=$s puts $boundary rows exactly on q15's 1.8×avg boundary, where the exact count " +
        "and the operator's rounded avg may disagree: pick another S")
    Rehearsals.run("relational", Some(outBase)) { run =>
      val spark = run.spark
      val dir = s"$outBase/sf_x$s"

      run.timed("synthesize")(synthesizeDir(spark, dir, sz))

      // the gate operators themselves, run as the driver runs them —
      // full plan execution (noop sink executes sorts the way the
      // bench's noop writes do), one timed phase per plan shape
      val queries: Seq[(String, DataFrame)] = Seq(
        "q1_agg" -> Relational.q1Agg(spark, dir),
        "q2_filter_project" -> Relational.q2FilterProject(spark, dir),
        "q3_join_agg" -> Relational.q3JoinAgg(spark, dir),
        "q4_broadcast_join" -> Relational.q4BroadcastJoin(spark, dir),
        "q5_multi_join" -> Relational.q5MultiJoin(spark, dir),
        "q6_window" -> Relational.q6Window(spark, dir),
        "q7_distinct_agg" -> Relational.q7DistinctAgg(spark, dir),
        "q8_semi_anti" -> Relational.q8SemiAnti(spark, dir),
        "q10_topk" -> Relational.q10TopK(spark, dir),
        "q11_events_window" -> Relational.q11EventsWindow(spark, dir),
        "q12_sessionize" -> Relational.q12Sessionize(spark, dir),
        "q13_case_agg" -> Relational.q13CaseAgg(spark, dir),
        "q25_grouping_sets" -> Relational.q25GroupingSets(spark, dir),
        "q26_lateral_topn" -> Relational.q26LateralTopN(spark, dir),
        "q15_scalar_subquery" -> Relational.q15ScalarSubquery(spark, dir),
        // the gate binds click/error over the driver corpus; this
        // fixture's five types make click/view the equivalent non-empty
        // pairing — same operator, same plan shape
        "q17_asof_join" -> Temporal.asofJoin(Tables.events(spark, dir), "click", "view"),
        "q18_range_join" -> Temporal.rangeJoinCount(Tables.events(spark, dir), "view", "click"))
      queries.foreach { case (key, df) =>
        run.timed(key)(df.write.format("noop").mode("overwrite").save())
      }

      // ---- closed-form checks (exact driver-side integer loops) ----
      def check(name: String, ok: Boolean, detail: => String): Unit = {
        if (!ok) System.err.println(s"[relational] $name: $detail")
        run.check(name, ok)
      }

      // q1: ids passing the shipdate cutoff, their count and exact
      // integer quantity sum, from one lcm(1460, 47) = 68620 block
      val cutoffDay = ChronoUnit.DAYS.between(Epoch, LocalDate.of(1998, 9, 1))
      var q1Cnt = 0L; var q1Qty = 0L
      (0L until 68620L).foreach { r =>
        if (r % DateSpan <= cutoffDay) {
          val o = occ(sz.nLine, 68620L, r)
          q1Cnt += o
          q1Qty += o * (r % 47 + 1)
        }
      }
      val q1 = Relational.q1Agg(spark, dir).collect()
      check("q1_groups", q1.length == 6, s"${q1.length} groups")
      check("q1_count", q1.map(_.getAs[Long]("count_order")).sum == q1Cnt,
        s"${q1.map(_.getAs[Long]("count_order")).sum} vs $q1Cnt")
      check("q1_sum_qty", q1.map(_.getAs[Double]("sum_qty")).sum.toLong == q1Qty,
        s"${q1.map(_.getAs[Double]("sum_qty")).sum.toLong} vs $q1Qty")

      // q2: selectivity from one lcm(1460, 11, 47) = 754820 block
      val from97 = ChronoUnit.DAYS.between(Epoch, LocalDate.of(1997, 1, 1))
      val from98 = ChronoUnit.DAYS.between(Epoch, LocalDate.of(1998, 1, 1))
      var q2Cnt = 0L
      (0L until 754820L).foreach { r =>
        val d = r % DateSpan
        if (d >= from97 && d < from98 && r % 11 >= 7 && r % 47 <= 3)
          q2Cnt += occ(sz.nLine, 754820L, r)
      }
      check("q2_count", Relational.q2FilterProject(spark, dir).count() == q2Cnt, "selectivity")

      // q3: top-20 by construction; revenue non-increasing
      val q3 = Relational.q3JoinAgg(spark, dir).collect()
      check("q3_top20", q3.length == 20, s"${q3.length} rows")
      check("q3_ordered", q3.map(_.getAs[Double]("revenue")).sliding(2)
        .forall(w => w.length < 2 || w(0) >= w(1)), "revenue must be non-increasing")

      // q4: exactly nCust/25 customers per nation (25 | nCust)
      val q4 = Relational.q4BroadcastJoin(spark, dir).collect()
      check("q4_groups", q4.length == 25, s"${q4.length} nations")
      check("q4_counts", q4.forall(_.getAs[Long]("n_cust") == sz.nCust / 25),
        q4.map(_.getAs[Long]("n_cust")).distinct.mkString(","))

      // q5: every line is a local-supplier line by construction, so
      // exactly the 5 ASIA nations (n_nationkey ≡ 2 mod 5) see
      // revenue > 0. Revenue VALUES are money aggregates — per the
      // exactness rule they belong to the sf0.01 DuckDB oracle, not
      // the closed form.
      val q5 = Relational.q5MultiJoin(spark, dir).collect()
      val asiaNations = Set(2, 7, 12, 17, 22).map(n => s"NATION$n")
      check("q5_asia", q5.length == 5 &&
        q5.map(_.getAs[String]("n_name")).toSet == asiaNations &&
        q5.forall(_.getAs[Double]("revenue") > 0),
        s"${q5.length} rows: ${q5.map(_.getAs[String]("n_name")).mkString(",")}")

      // q6: custkey < 200 → 200 customers × nOrders/nCust orders each;
      // the max rank within each customer IS that per-customer count
      val perCust = sz.nOrders / sz.nCust
      val q6 = Relational.q6Window(spark, dir).collect()
      check("q6_rows", q6.length == 200 * perCust, s"${q6.length} vs ${200 * perCust}")
      check("q6_rank", q6.map(_.getAs[Long]("rnk")).max == perCust,
        s"max rank ${q6.map(_.getAs[Long]("rnk")).max} vs $perCust")

      // q7: priority = orderkey mod 5 and custkey = orderkey mod nCust
      // with 5 | nCust ⇒ each priority owns exactly the custkeys ≡ p
      // (mod 5): n_cust = nCust/5 per group, n_ord sums to nOrders
      val q7 = Relational.q7DistinctAgg(spark, dir).collect()
      check("q7_groups", q7.length == 5, s"${q7.length} priorities")
      check("q7_ncust", q7.forall(_.getAs[Long]("n_cust") == sz.nCust / 5),
        q7.map(_.getAs[Long]("n_cust")).distinct.mkString(","))
      check("q7_nord", q7.map(_.getAs[Long]("n_ord")).sum == sz.nOrders, "order total")

      // q8: every custkey owns exactly 10 orders (nOrders = 10·nCust,
      // o_custkey = o_orderkey mod nCust), so the anti side is EMPTY by
      // construction and the semi side holds every customer — 5 segment
      // rows of exactly nCust/5, n_without 0 (the anti join still
      // executes at full scale; its emptiness is the planted truth)
      val q8 = Relational.q8SemiAnti(spark, dir).collect()
      check("q8_segments", q8.length == 5 &&
        q8.forall(r => r.getAs[Long]("n_with") == sz.nCust / 5 &&
          r.getAs[Long]("n_without") == 0L),
        q8.map(r => (r.getAs[String]("c_mktsegment"), r.getAs[Long]("n_with"),
          r.getAs[Long]("n_without"))).mkString(","))

      val (q15Cnt, q15Boundary) = q15Expected(sz)
      check("q15_no_boundary_classes", q15Boundary == 0, s"$q15Boundary boundary rows per class")
      check("q15_count", Relational.q15ScalarSubquery(spark, dir).count() == q15Cnt,
        s"expected $q15Cnt")

      // q17 (as-of, click←view): per user, clicks sit at k ≡ 0 (mod 5)
      // and views at k ≡ 1, so every click k ≥ 5 as-ofs the view at
      // k−4; k = 0 has none (NULL). The gap is 240 s except across the
      // planted hour jump (k ∈ {20,40,60,80}: +3600) — per-user gap sum
      // 15·240 + 4·3840 = 18960, exact integers
      val q17 = Temporal.asofJoin(Tables.events(spark, dir), "click", "view")
        .agg(count(lit(1)).as("n"),
          count(when(col("asof_ts_s").isNull, 1)).as("n_null"),
          sum(col("ts_s") - col("asof_ts_s")).as("gap_sum")).head()
      check("q17_rows", q17.getLong(0) == sz.nUsers * 20, s"${q17.getLong(0)} click rows")
      check("q17_nulls", q17.getLong(1) == sz.nUsers, s"${q17.getLong(1)} null as-ofs")
      check("q17_gap_sum", q17.getLong(2) == sz.nUsers * 18960L,
        s"${q17.getLong(2)} vs ${sz.nUsers * 18960L}")

      // q18 (range, view→clicks within 600 s): a view at block offset
      // {1, 6, 11, 16} is followed within 600 s by {2, 2, 1, 0} clicks
      // (the +4/+9 neighbors, minus those across the block's hour
      // jump) — 5 follows per 20-block, 5 blocks per user
      val q18 = Temporal.rangeJoinCount(Tables.events(spark, dir), "view", "click")
        .agg(count(lit(1)).as("n"), sum(col("n_follow")).as("follow_sum")).head()
      check("q18_rows", q18.getLong(0) == sz.nUsers * 20, s"${q18.getLong(0)} view rows")
      check("q18_follow_sum", q18.getLong(1) == sz.nUsers * 25L,
        s"${q18.getLong(1)} vs ${sz.nUsers * 25L}")

      // q10: 100 rows, extendedprice at the domain maximum on top
      val q10 = Relational.q10TopK(spark, dir).collect()
      check("q10_rows", q10.length == 100, s"${q10.length} rows")
      check("q10_max", q10.head.getAs[Double]("l_extendedprice") == 900.0 + 99999.0,
        s"top price ${q10.head.getAs[Double]("l_extendedprice")}")

      // q11: every user shares the same k-offsets, so the distinct
      // hour-buckets come from one driver-side pass over k = 0..99;
      // each bucket holds all 5 event types
      val hourBuckets = (0 until PerUser)
        .map(k => (k * 60L + (k / SessionRun) * 3600L) / 3600L).distinct.size
      val q11Rows = Relational.q11EventsWindow(spark, dir).count()
      check("q11_windows", q11Rows == hourBuckets * 5L, s"$q11Rows vs ${hourBuckets * 5}")

      // q12: the planted session layout — ceil(PerUser/SessionRun)
      // sessions of exactly SessionRun events for every user
      val q12 = Relational.q12Sessionize(spark, dir)
        .groupBy().agg(count(lit(1)).as("n"), min(col("n_events")).as("mn"),
          max(col("n_events")).as("mx")).head()
      val expectSessions = sz.nUsers * ((PerUser + SessionRun - 1) / SessionRun)
      check("q12_sessions", q12.getLong(0) == expectSessions,
        s"${q12.getLong(0)} vs $expectSessions")
      check("q12_run_length", q12.getLong(1) == SessionRun && q12.getLong(2) == SessionRun,
        s"session sizes ${q12.getLong(1)}..${q12.getLong(2)}")

      // q13: one row per user, each holding exactly PerUser events
      val q13 = Relational.q13CaseAgg(spark, dir)
        .agg(count(lit(1)).as("n"), min(col("n_events")).as("mn"),
          max(col("n_events")).as("mx")).head()
      check("q13_users", q13.getLong(0) == sz.nUsers && q13.getLong(1) == PerUser &&
        q13.getLong(2) == PerUser, s"${q13.getLong(0)} users, ${q13.getLong(1)}..${q13.getLong(2)}")

      // q25: the grouping-set marginals are the exact modulo splits
      // (5 | nOrders and 3 | nOrders by construction); exactly the two
      // declared sets — no detail cell, no grand total
      val q25 = Relational.q25GroupingSets(spark, dir).collect()
      check("q25_rows", q25.length == 8, s"${q25.length} rows")
      check("q25_priority_marginal", q25.filter(_.getString(1) == "ALL")
        .forall(_.getAs[Long]("n_ord") == sz.nOrders / 5), "nOrders/5 per priority")
      check("q25_status_marginal", q25.filter(_.getString(0) == "ALL")
        .forall(_.getAs[Long]("n_ord") == sz.nOrders / 3), "nOrders/3 per status")

      // q26: nation k's top balance is residue 9975+k of the acctbal
      // modulus (25 | 10000 makes nation = balance-residue mod 25), and
      // with nCust ≥ 30000 at least three customers share it — so the
      // top-3 are custkeys 9975+k, +10000, +20000 at EQUAL balance
      // 4975+k, tie-broken by custkey exactly as the operator declares
      val q26 = Relational.q26LateralTopN(spark, dir).collect()
      check("q26_rows", q26.length == 75, s"${q26.length} rows")
      if (sz.nCust >= 30000) {
        val q26ok = (0 until 25).forall { k =>
          val rows = q26.filter(_.getString(0) == s"NATION$k")
          rows.length == 3 &&
            rows.forall(_.getAs[Double]("acctbal") == 4975.0 + k) &&
            rows.map(_.getAs[Long]("c_custkey")).sorted.toSeq ==
              Seq(9975L + k, 19975L + k, 29975L + k)
        }
        check("q26_topk_closed_form", q26ok, "per-nation residue top-3")
      }

      // ---- plan-shape assertions at scale ----
      def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString
      val q2Plan = plan(Relational.q2FilterProject(spark, dir))
      check("plan_q2_pushdown", q2Plan.contains("PushedFilters: [") &&
        !q2Plan.contains("PushedFilters: []"), "filters must reach the parquet scan")
      check("plan_q4_broadcast", plan(Relational.q4BroadcastJoin(spark, dir))
        .contains("BroadcastHashJoin"), "the 25-row dim must broadcast")
      check("plan_q10_takeordered", plan(Relational.q10TopK(spark, dir))
        .contains("TakeOrderedAndProject"), "global top-k must not global-sort")
      check("plan_q26_group_limit", plan(Relational.q26LateralTopN(spark, dir))
        .contains("WindowGroupLimit"),
        "the correlated LIMIT must decorrelate to a group-limit window")
      val nested = queries.map { case (key, df) => key -> plan(df) }
        .filter { case (_, p) => p.contains("CartesianProduct") ||
          p.contains("BroadcastNestedLoopJoin") }
      check("plan_no_nested_loops", nested.isEmpty, nested.map(_._1).mkString(","))

      Seq("s" -> s, "n_lineitem" -> sz.nLine, "n_orders" -> sz.nOrders,
        "n_customers" -> sz.nCust, "n_events" -> sz.nEvents)
    }
  }
}
