package graft

import org.apache.spark.sql.functions._

import graft.operators.{Anomaly, Funnel, PathAnalysis, Temporal}

/** Scale rehearsal for the temporal-analytics pair beyond the
  * driver's sf0.1 corpus: a deterministic spark.range event stream
  * (every cell a pure function of the row id — closed-form truth, no
  * second engine) drives [[Anomaly.eventVolume]] and
  * [[Temporal.gapFill]] at 20M+ rows.
  *
  * Data model at n rows (n % 300 == 0; default 21M): 100 days, three
  * slots (id % 3), base = n/300 events per (slot, day):
  *   - slot 0 → type "a" always; slot 1 → "a" on odd days, "b" on
  *     even days: a alternates base/2·base (nonzero variance — real
  *     z-scores), b exists ONLY on even days (every odd day is a
  *     calendar gap the OBSERVED-days anomaly window must skip and
  *     gapFill must densify);
  *   - slot 2 → type "c", except day 50 remaps onto day 49: c is
  *     flat (variance-0 → null z) with one planted double-count day
  *     followed by one planted GAP.
  *
  * Checks: the full per-(day, type) eventVolume output — counts AND
  * floor(1000·z) — equals the closed-form expectation (trailing 7
  * OBSERVED days, the integer-sum algebra applied to the planted
  * counts); the full gapFill output equals the closed-form dense
  * spine (0-fill + LOCF hold + is_gap exactly on planted gaps).
  *
  * Session tier (r15): a SECOND planted stream — n/(100·8) users ×
  * 100 days × 8 events, types cycling view/click/purchase with a
  * 3660 s mid-day jump splitting each user-day into exactly two
  * gap-sessions of known paths (v,c,p,v | c,p,v,c) — drives
  * [[Funnel.sessionDaily]], [[PathAnalysis.topkSession]],
  * [[PathAnalysis.transitionsSession]] and
  * [[PathAnalysis.transitionsDaily]] at the same scale. Every output
  * row equals the closed form; the day-grain transition matrix
  * carries exactly ONE more (view, click) count per user-day than
  * the session grain — the cross-gap edge the session split must
  * drop.
  *
  *   tools/run.sh graft.TemporalRehearsal [n] [outBase]
  */
object TemporalRehearsal {

  private val Days = 100
  private val Day0 = 86400L * 19000

  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toLong).getOrElse(21000000L)
    val outBase = args.lift(1).getOrElse("tmp/temporal_rehearsal")
    require(n % 300 == 0, s"n=$n must divide by 3 slots x 100 days")
    val base = n / 300
    Rehearsals.run("temporal", Some(outBase)) { run =>
      val spark = run.spark

      // ---- the planted event stream ------------------------------------
      def events = {
        val slot = col("id") % 3
        // `/` is true division on longs — div keeps the day integral
        val d0 = expr(s"(id div 3) % $Days")
        // slot 2's day-50 rows land on day 49 (the planted double + gap)
        val d = when(slot === 2 && d0 === 50, lit(49)).otherwise(d0)
        val tpe = when(slot === 0, "a")
          .when(slot === 1, when(d0 % 2 === 1, "a").otherwise("b"))
          .otherwise("c")
        spark.range(n).select(
          tpe.as("event_type"),
          timestamp_seconds(lit(Day0) + d * 86400L + col("id") % 1000).as("ts"))
      }

      // ---- closed-form truth -------------------------------------------
      val expCounts: Map[(Long, String), Long] = (0 until Days).flatMap { d =>
        val day = Day0 + d * 86400L
        val a = (day, "a") -> (if (d % 2 == 1) 2 * base else base)
        val b = if (d % 2 == 0) Seq((day, "b") -> base) else Nil
        val c = if (d == 50) Nil
                else Seq((day, "c") -> (if (d == 49) 2 * base else base))
        Seq(a) ++ b ++ c
      }.toMap
      def expAnomaly: Map[(Long, String), (Long, Option[Long])] =
        expCounts.keys.map(_._2).toSeq.distinct.flatMap { t =>
          val days = expCounts.keys.filter(_._2 == t).map(_._1).toSeq.sorted
          days.zipWithIndex.collect { case (day, i) if i >= 7 =>
            val trail = days.slice(i - 7, i).map(dd => expCounts((dd, t)))
            val nEv = expCounts((day, t))
            val m = trail.sum.toDouble / 7.0
            val s2 = trail.map(c => c * c).sum.toDouble / 7.0 - m * m
            val z = if (s2 > 0d) Some(math.floor(1000.0 * (nEv - m) / math.sqrt(s2)).toLong)
                    else None
            (day, t) -> ((nEv, z))
          }
        }.toMap
      // seasonal twin (r14): both baselines over the same planted
      // counts — trailing-7 observed days, and trailing-4 observed
      // same-day-of-week days (the parity-alternating type exercises
      // nonzero variance in BOTH windows: a 7-day shift flips parity)
      def expSeasonal: Map[(Long, String), (Long, Option[Long], Option[Long])] = {
        def zOf(v: Long, trail: Seq[Long], w: Int): Option[Long] =
          if (trail.length < w) None
          else {
            val m = trail.sum.toDouble / w
            val s2 = trail.map(c => c * c).sum.toDouble / w - m * m
            if (s2 > 0d) Some(math.floor(1000.0 * (v - m) / math.sqrt(s2)).toLong)
            else None
          }
        expCounts.keys.map(_._2).toSeq.distinct.flatMap { t =>
          val days = expCounts.keys.filter(_._2 == t).map(_._1).toSeq.sorted
          days.zipWithIndex.map { case (day, i) =>
            val nEv = expCounts((day, t))
            val trail7 = days.slice((i - 7) max 0, i).map(dd => expCounts((dd, t)))
            val sowDays = days.take(i).filter(dd => (dd / 86400) % 7 == (day / 86400) % 7)
            val sow = sowDays.takeRight(4).map(dd => expCounts((dd, t)))
            (day, t) -> ((nEv, zOf(nEv, trail7, 7), zOf(nEv, sow, 4)))
          }
        }.toMap
      }
      def expGapFill: Map[(Long, String), (Long, Long, Boolean)] =
        expCounts.keys.map(_._2).toSeq.distinct.flatMap { t =>
          val days = expCounts.keys.filter(_._2 == t).map(_._1).toSeq.sorted
          var locf = 0L
          (days.head to days.last by 86400L).map { day =>
            val obs = expCounts.get((day, t))
            obs.foreach(locf = _)
            (day, t) -> ((obs.getOrElse(0L), locf, obs.isEmpty))
          }
        }.toMap

      // ---- drive + compare ---------------------------------------------
      val anomOk = run.timed("anomaly") {
        val got = Anomaly.eventVolume(events, 7).collect()
          .map(r => (r.getAs[Long]("d"), r.getAs[String]("event_type")) ->
            ((r.getAs[Long]("n_events"), Option(r.getAs[Any]("z_milli")).map(_.asInstanceOf[Long]))))
          .toMap
        got == expAnomaly
      }
      val seasonalOk = run.timed("seasonal") {
        val got = Anomaly.eventVolumeSeasonal(events, 7, 4).collect()
          .map(r => (r.getAs[Long]("d"), r.getAs[String]("event_type")) ->
            ((r.getAs[Long]("n_events"),
              Option(r.getAs[Any]("z_milli")).map(_.asInstanceOf[Long]),
              Option(r.getAs[Any]("z_sow_milli")).map(_.asInstanceOf[Long]))))
          .toMap
        got == expSeasonal
      }
      val gapOk = run.timed("gapfill") {
        val got = Temporal.gapFill(events).collect()
          .map(r => (r.getAs[Long]("d"), r.getAs[String]("event_type")) ->
            ((r.getAs[Long]("n_events"), r.getAs[Long]("n_locf"), r.getAs[Boolean]("is_gap"))))
          .toMap
        got == expGapFill
      }

      // ---- the planted session stream (r15) ------------------------------
      val EvPerDay = 8
      require(n % (Days * EvPerDay) == 0, s"n=$n must divide by $Days days x $EvPerDay events")
      val users = n / (Days * EvPerDay)
      // p = position within the user-day: p 0-3 at 0/60/120/180 s, p 4-7
      // at 3840/3900/3960/4020 s — the 3660 s jump splits two sessions
      // at gap 1800; types cycle v/c/p, so session paths are
      // v,c,p,v and c,p,v,c. event_id = id keeps ordering total.
      def sessionEvents = {
        val p = col("id") % EvPerDay
        val off = when(p < 4, p * 60L).otherwise(p * 60L + 3600L)
        val tpe = when(p % 3 === 0, "view").when(p % 3 === 1, "click")
          .otherwise("purchase")
        spark.range(n).select(
          expr(s"id div ${Days * EvPerDay}").as("user_id"),
          col("id").as("event_id"),
          tpe.as("event_type"),
          timestamp_seconds(lit(Day0) + expr(s"(id div $EvPerDay) % $Days") * 86400L + off)
            .as("ts"))
      }
      val allDays = (0 until Days).map(Day0 + _ * 86400L)
      val sessFunnelOk = run.timed("sess_funnel") {
        val got = Funnel.sessionDaily(sessionEvents, 1800L, Seq("view", "click", "purchase"))
          .collect().map(r => r.getAs[Long]("d") ->
            ((r.getAs[Long]("n_step1"), r.getAs[Long]("n_step2"), r.getAs[Long]("n_step3"))))
          .toMap
        // both sessions view (s1 at p0, s2 at p6) and click after it;
        // only s1 purchases after its click → 2U / 2U / U per day
        got == allDays.map(_ -> ((2 * users, 2 * users, users))).toMap
      }
      val sessPathsOk = run.timed("sess_paths") {
        val got = PathAnalysis.topkSession(sessionEvents, 1800L, 5, 5).collect()
          .map(r => (r.getAs[Long]("d"), r.getAs[String]("path"), r.getAs[Long]("n_sessions")))
        // U-count tie per day breaks on the path string ascending
        val want = allDays.flatMap(day => Seq(
          (day, "click>purchase>view>click", users),
          (day, "view>click>purchase>view", users)))
        got.toSeq == want
      }
      val sessTransOk = run.timed("sess_trans") {
        val got = PathAnalysis.transitionsSession(sessionEvents, 1800L).collect()
          .map(r => (r.getAs[Long]("d"), r.getAs[String]("src_step"),
            r.getAs[String]("dst_step")) -> r.getAs[Long]("n_trans")).toMap
        got == allDays.flatMap(day => Seq(
          (day, "click", "purchase") -> 2 * users,
          (day, "purchase", "view") -> 2 * users,
          (day, "view", "click") -> 2 * users)).toMap
      }
      val dayTransOk = run.timed("day_trans") {
        val got = PathAnalysis.transitionsDaily(sessionEvents).collect()
          .map(r => (r.getAs[Long]("d"), r.getAs[String]("src_step"),
            r.getAs[String]("dst_step")) -> r.getAs[Long]("n_trans")).toMap
        // the day grain keeps the cross-gap p3→p4 (view, click) edge the
        // session grain drops: 3U vs 2U
        got == allDays.flatMap(day => Seq(
          (day, "click", "purchase") -> 2 * users,
          (day, "purchase", "view") -> 2 * users,
          (day, "view", "click") -> 3 * users)).toMap
      }

      run.check("anomaly_closed_form", anomOk)
      run.check("seasonal_closed_form", seasonalOk)
      run.check("gapfill_closed_form", gapOk)
      run.check("session_funnel_closed_form", sessFunnelOk)
      run.check("session_paths_closed_form", sessPathsOk)
      run.check("session_transitions_closed_form", sessTransOk)
      run.check("day_transitions_closed_form", dayTransOk)
      Seq("n" -> n)
    }
  }
}
