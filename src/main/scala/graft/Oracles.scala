package graft

import graft.functions.TextFunctions

/** DuckDB oracle SQL for every SQL-expressible query in
  * SparkEntry.queries. Each statement mirrors its Spark twin
  * expression-for-expression (same arithmetic order, same rounding,
  * same tie-breaks) per the determinism rules in SURVEY.md §4:
  *  - total-order ORDER BY on both sides;
  *  - doubles rounded at the end, ratios fixed-point floored
  *    (floor(r·10^k) — floor of identical doubles is engine-proof,
  *    unlike round's half-way mode);
  *  - timestamps truncated (second/hour) before use so parquet
  *    ns-vs-µs precision can't leak;
  *  - k-means: deterministic init (k lowest ids), ties to lowest cid,
  *    centroids rounded to 6 dp per iteration in BOTH engines so the
  *    iterations stay in lockstep.
  */
object Oracles {

  /** The RE2 spelling of [[graft.functions.TextFunctions
    * .hasNonLatinScript]]'s routing class (Java spells it
    * `[^\p{IsLatin}\p{IsCommon}\p{IsInherited}]`) — any character
    * whose Unicode script is neither Latin, Common, nor Inherited.
    * The single source of truth for every routed-keying twin.
    */
  private val NonLatinRe2 = "[^\\p{Latin}\\p{Common}\\p{Inherited}]"

  /** routedKey's DuckDB twin over column `text`. */
  private val canonKeyExpr =
    "coalesce(nullif(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ''), text)"
  private def routedKeyExpr: String =
    s"CASE WHEN regexp_matches(text, '$NonLatinRe2') THEN text ELSE $canonKeyExpr END"

  /** routedText's DuckDB twin (the gram-family stream — no digest
    * fallback).
    */
  private def routedTextExpr: String = {
    val canon = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"
    s"CASE WHEN regexp_matches(text, '$NonLatinRe2') THEN text ELSE $canon END"
  }

  val q1: String =
    """SELECT l_returnflag, l_linestatus,
      | round(sum(l_quantity),2) AS sum_qty,
      | round(sum(l_extendedprice),2) AS sum_base_price,
      | round(sum(l_extendedprice*(1.0-l_discount)),2) AS sum_disc_price,
      | round(avg(l_quantity),4) AS avg_qty,
      | round(avg(l_extendedprice),4) AS avg_price,
      | round(avg(l_discount),4) AS avg_disc,
      | count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  val q2: String =
    """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_partkey,
      | l_quantity, l_extendedprice, l_discount
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      | AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      | AND l_discount > 0.06 AND l_quantity < 5.0
      |ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice, l_discount""".stripMargin

  val q3: String =
    """SELECT l_orderkey, round(sum(l_extendedprice*(1.0-l_discount)),2) AS revenue,
      | strftime(o_orderdate, '%Y-%m-%d') AS orderdate_s
      |FROM customer
      |JOIN orders ON c_custkey=o_custkey
      |JOIN lineitem ON l_orderkey=o_orderkey
      |WHERE c_mktsegment='BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY l_orderkey, o_orderdate
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 20""".stripMargin

  val q4: String =
    """SELECT n_name, count(*) AS n_cust, round(sum(c_acctbal),2) AS sum_bal
      |FROM customer JOIN nation ON c_nationkey=n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  val q5: String =
    """SELECT n_name, round(sum(l_extendedprice*(1.0-l_discount)),2) AS revenue
      |FROM region
      |JOIN nation ON n_regionkey=r_regionkey
      |JOIN customer ON c_nationkey=n_nationkey
      |JOIN orders ON o_custkey=c_custkey
      |JOIN lineitem ON l_orderkey=o_orderkey
      |JOIN supplier ON l_suppkey=s_suppkey AND s_nationkey=c_nationkey
      |WHERE r_name='ASIA'
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  val q6: String =
    """SELECT o_orderkey, o_custkey,
      | CAST(rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk,
      | round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 2) AS run_spend
      |FROM orders WHERE o_custkey < 200
      |ORDER BY o_orderkey""".stripMargin

  val q7: String =
    """SELECT o_orderpriority, CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust,
      | count(*) AS n_ord, round(sum(o_totalprice),2) AS sum_price
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  val q8: String =
    """SELECT c_mktsegment,
      | CAST(count(CASE WHEN ex THEN 1 END) AS BIGINT) AS n_with,
      | CAST(count(CASE WHEN NOT ex THEN 1 END) AS BIGINT) AS n_without
      |FROM (SELECT c_mktsegment,
      |        EXISTS(SELECT 1 FROM orders WHERE o_custkey=c_custkey) AS ex
      |      FROM customer) t
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  val q9: String =
    """SELECT coalesce(r_name,'ALL') AS region_name, coalesce(n_name,'ALL') AS nation_name,
      | count(*) AS n_cust, round(sum(c_acctbal),2) AS sum_bal
      |FROM customer
      |JOIN nation ON c_nationkey=n_nationkey
      |JOIN region ON n_regionkey=r_regionkey
      |GROUP BY ROLLUP(r_name, n_name)
      |ORDER BY region_name, nation_name""".stripMargin

  val q20: String =
    """SELECT coalesce(o_orderpriority,'ALL') AS priority,
      | coalesce(o_orderstatus,'ALL') AS status,
      | count(*) AS n_ord, round(sum(o_totalprice),2) AS sum_price
      |FROM orders GROUP BY CUBE(o_orderpriority, o_orderstatus)
      |ORDER BY priority, status""".stripMargin

  /** Twin of q22WindowOffsets: same total intra-partition order keys,
    * so lag/lead/ntile agree across engines.
    */
  val q22: String =
    """SELECT o_orderkey, o_custkey,
      | round(lag(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 2) AS prev_price,
      | round(lead(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 2) AS next_price,
      | CAST(ntile(4) OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS spend_quartile
      |FROM orders WHERE o_custkey < 200
      |ORDER BY o_orderkey""".stripMargin

  /** Twin of q21Unpivot: the UNION ALL form of the melt (DuckDB's
    * UNPIVOT would also work; the union spells out the exact rows).
    * Values convert to integer cents BEFORE summing — double sums are
    * accumulation-order-dependent across engines (SURVEY §4) — and
    * the HUGEINT sum casts back to BIGINT per the §4 rule.
    */
  val q21: String =
    """WITH u AS (
      |  SELECT 'quantity' AS measure, l_quantity AS value FROM lineitem
      |  UNION ALL SELECT 'extendedprice', l_extendedprice FROM lineitem
      |  UNION ALL SELECT 'discount', l_discount FROM lineitem
      |  UNION ALL SELECT 'tax', l_tax FROM lineitem),
      |f AS (SELECT measure, CAST(round(value * 100, 0) AS BIGINT) AS v_fs FROM u)
      |SELECT measure, count(*) AS n,
      | CAST(sum(v_fs) AS BIGINT) AS total_fs,
      | CAST(floor(100.0 * sum(v_fs) / count(*)) AS BIGINT) AS mean_fs
      |FROM f GROUP BY measure ORDER BY measure""".stripMargin

  /** Twin of q23Pivot: the pivot as conditional sums over integer
    * cents (q21's determinism rule); empty cells are NULL both sides.
    */
  val q23: String =
    """SELECT o_orderpriority AS priority,
      | CAST(sum(CASE WHEN o_orderstatus='F' THEN CAST(round(o_totalprice*100,0) AS BIGINT) END) AS BIGINT) AS f_total_fs,
      | CAST(sum(CASE WHEN o_orderstatus='O' THEN CAST(round(o_totalprice*100,0) AS BIGINT) END) AS BIGINT) AS o_total_fs,
      | CAST(sum(CASE WHEN o_orderstatus='P' THEN CAST(round(o_totalprice*100,0) AS BIGINT) END) AS BIGINT) AS p_total_fs
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** Twin of q24SetOps: INTERSECT/EXCEPT are set-distinct in both
    * engines; the tag column disambiguates the unioned result.
    */
  val q24: String =
    """SELECT 'both' AS tag, o_custkey FROM (
      |  SELECT o_custkey FROM orders WHERE date_part('year', o_orderdate)=1995
      |  INTERSECT
      |  SELECT o_custkey FROM orders WHERE date_part('year', o_orderdate)=1996)
      |UNION ALL
      |SELECT 'only_1995' AS tag, o_custkey FROM (
      |  SELECT o_custkey FROM orders WHERE date_part('year', o_orderdate)=1995
      |  EXCEPT
      |  SELECT o_custkey FROM orders WHERE date_part('year', o_orderdate)=1996)
      |ORDER BY tag, o_custkey""".stripMargin

  val q25: String =
    """SELECT coalesce(o_orderpriority, 'ALL') AS priority,
      |  coalesce(o_orderstatus, 'ALL') AS status,
      |  count(*) AS n_ord, round(sum(o_totalprice), 2) AS sum_price
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))
      |ORDER BY priority, status""".stripMargin

  val q26: String =
    """SELECT n.n_name, t.c_custkey, round(t.c_acctbal, 2) AS acctbal
      |FROM nation n, LATERAL (
      |  SELECT c_custkey, c_acctbal FROM customer c
      |  WHERE c.c_nationkey = n.n_nationkey
      |  ORDER BY c_acctbal DESC, c_custkey LIMIT 3) t
      |ORDER BY n.n_name, t.c_custkey""".stripMargin

  val q10: String =
    """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_partkey, l_extendedprice
      |FROM lineitem
      |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber, l_partkey
      |LIMIT 100""".stripMargin

  val q11: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start, event_type,
      | count(*) AS n_events, round(sum(value),2) AS sum_value
      |FROM events
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val q12: String =
    """WITH e AS (SELECT user_id, event_id,
      |             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_s FROM events),
      |x AS (SELECT user_id, event_id, ts_s,
      |        lag(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s, event_id) AS prev_s FROM e),
      |y AS (SELECT user_id, event_id, ts_s,
      |        CASE WHEN prev_s IS NULL OR ts_s - prev_s > 1800 THEN 1 ELSE 0 END AS is_new FROM x),
      |z AS (SELECT user_id, ts_s,
      |        CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_s, event_id) AS BIGINT) AS session_id
      |      FROM y)
      |SELECT user_id, session_id, count(*) AS n_events,
      | min(ts_s) AS start_s, max(ts_s) AS end_s, max(ts_s)-min(ts_s) AS dur_s
      |FROM z GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  val q13: String =
    """SELECT user_id, count(*) AS n_events,
      | CAST(count(CASE WHEN event_type='click' THEN 1 END) AS BIGINT) AS n_click,
      | CAST(count(CASE WHEN event_type='purchase' THEN 1 END) AS BIGINT) AS n_purchase,
      | round(sum(CASE WHEN event_type='purchase' THEN value ELSE 0.0 END),2) AS purchase_value,
      | round(sum(CASE WHEN event_type='error' THEN value ELSE 0.0 END),2) AS error_value
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  val q14: String =
    """SELECT c_custkey, c_name, round(c_acctbal,2) AS acctbal
      |FROM customer
      |WHERE EXISTS(SELECT 1 FROM orders WHERE o_custkey=c_custkey AND o_totalprice > 300000.0)
      |ORDER BY c_custkey""".stripMargin

  val q15: String =
    """WITH w AS (SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
      |             l_partkey, l_quantity,
      |             round(avg(l_quantity) OVER (PARTITION BY l_partkey), 6) AS avg_qty
      |           FROM lineitem)
      |SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, avg_qty
      |FROM w WHERE l_quantity > 1.8*avg_qty
      |ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity""".stripMargin

  val q16: String =
    """SELECT o_orderpriority,
      | round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
      | round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
      | count(*) AS n_ord
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------- A-suite: k-means ----------------

  /** Shared 2-D point set + deterministic init (5 lowest ids). */
  private val pts2d =
    """pts AS (SELECT c_custkey AS id, c_acctbal AS x, CAST(c_nationkey AS DOUBLE) AS y FROM customer),
      |init AS (SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS BIGINT) AS cid, x AS cx, y AS cy
      |         FROM (SELECT id, x, y FROM pts ORDER BY id LIMIT 5))""".stripMargin

  /** One 2-D assign round vs centroid CTE `c`: nearest centroid,
    * ties to lowest cid via (d, cid) row_number.
    */
  private def assign2d(aName: String, mName: String, centCte: String): String =
    s"""$aName AS (SELECT p.id, p.x, p.y, c.cid,
       |  (p.x-c.cx)*(p.x-c.cx)+(p.y-c.cy)*(p.y-c.cy) AS d,
       |  row_number() OVER (PARTITION BY p.id
       |    ORDER BY (p.x-c.cx)*(p.x-c.cx)+(p.y-c.cy)*(p.y-c.cy), c.cid) AS rn
       |  FROM pts p CROSS JOIN $centCte c),
       |$mName AS (SELECT id, x, y, cid, d FROM $aName WHERE rn=1)""".stripMargin

  private def update2d(cName: String, mName: String): String =
    s"$cName AS (SELECT cid, round(avg(x),6) AS cx, round(avg(y),6) AS cy FROM $mName GROUP BY cid)"

  val kmeansAssign2d: String =
    s"""WITH $pts2d,
       |${assign2d("a1", "m1", "init")}
       |SELECT id, cid AS cluster, round(d,4) AS d2 FROM m1 ORDER BY id""".stripMargin

  val kmeansMetrics: String =
    s"""WITH $pts2d,
       |${assign2d("a1", "m1", "init")}
       |SELECT cid AS cluster, count(*) AS n, round(sum(d),2) AS wcss, round(avg(d),4) AS avg_d2
       |FROM m1 GROUP BY cid ORDER BY cluster""".stripMargin

  val kmeansLloyd2d: String = {
    val iters = (1 to 3).map { i =>
      val prev = if (i == 1) "init" else s"c${i - 1}"
      assign2d(s"a$i", s"m$i", prev) + ",\n" + update2d(s"c$i", s"m$i")
    }.mkString(",\n")
    s"""WITH $pts2d,
       |$iters
       |SELECT c3.cid AS cluster, s.n, s.wcss, c3.cx AS cx, c3.cy AS cy
       |FROM c3 JOIN (SELECT cid, count(*) AS n, round(sum(d),2) AS wcss FROM m3 GROUP BY cid) s
       |  ON s.cid = c3.cid
       |ORDER BY cluster""".stripMargin
  }

  /** Shared flattened embeddings + k=10 lowest-id init. */
  private val embFlat =
    """f AS (SELECT vec_id, CAST(generate_subscripts(embedding,1) AS BIGINT) AS i,
      |        CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
      |ids AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid
      |        FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 10)),
      |init AS (SELECT ids.cid, f.i, f.v AS cv FROM ids JOIN f ON f.vec_id=ids.vec_id)""".stripMargin

  private def assignEmb(dName: String, mName: String, centCte: String): String =
    s"""$dName AS (SELECT f.vec_id, c.cid, sum((f.v-c.cv)*(f.v-c.cv)) AS d
       |  FROM f JOIN $centCte c ON f.i=c.i GROUP BY f.vec_id, c.cid),
       |$mName AS (SELECT vec_id, cid, d FROM (
       |    SELECT vec_id, cid, d, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
       |    FROM $dName) WHERE rn=1)""".stripMargin

  private def updateEmb(cName: String, mName: String): String =
    s"""$cName AS (SELECT m.cid, f.i, round(avg(f.v),6) AS cv
       |  FROM $mName m JOIN f ON f.vec_id=m.vec_id GROUP BY m.cid, f.i)""".stripMargin

  val kmeansAssignEmbed: String =
    s"""WITH $embFlat,
       |${assignEmb("d1", "m1", "init")}
       |SELECT vec_id, cid AS cluster, round(d,4) AS d2 FROM m1 ORDER BY vec_id""".stripMargin

  /** embed_outliers: the same 3 unrolled Lloyd iterations as
    * kmeansLloydEmbed (trained centroids c3), a 4th assignment
    * against c3, then per-cluster z-scores of d2. Parity rule
    * (mirrors KMeans.outliers exactly): d2 snaps ONCE to fixed point
    * (d2_fs = round(d2·10⁴) as BIGINT); the cluster moments are
    * EXACT integer window sums of d2_fs / d2_fs² (order-independent,
    * unlike float avg/stddev); mu/var/z are then the same IEEE
    * expression over identical integers in both engines.
    */
  val embedOutliers: String = {
    val iters = (1 to 3).map { i =>
      val prev = if (i == 1) "init" else s"c${i - 1}"
      assignEmb(s"d$i", s"m$i", prev) + ",\n" + updateEmb(s"c$i", s"m$i")
    }.mkString(",\n")
    s"""WITH $embFlat,
       |$iters,
       |${assignEmb("d4", "m4", "c3")},
       |s AS (SELECT vec_id, cid AS cluster, CAST(round(d*10000.0) AS BIGINT) AS d2_fs FROM m4),
       |st AS (SELECT vec_id, cluster, d2_fs,
       |         CAST(count(*) OVER w AS BIGINT) AS n,
       |         CAST(sum(d2_fs) OVER w AS BIGINT) AS s1,
       |         CAST(sum(d2_fs*d2_fs) OVER w AS BIGINT) AS s2
       |       FROM s WINDOW w AS (PARTITION BY cluster)),
       |z AS (SELECT vec_id, cluster, d2_fs,
       |        (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)/n)/(n-1) AS var_fs,
       |        1000.0*(d2_fs - CAST(s1 AS DOUBLE)/n)/sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)/n)/(n-1)) AS zv
       |      FROM st)
       |SELECT vec_id, cluster, d2_fs/10000.0 AS d2, CAST(floor(zv) AS BIGINT) AS z_fs
       |FROM z WHERE var_fs > 0 AND floor(zv) >= 1000
       |ORDER BY vec_id""".stripMargin
  }

  val kmeansLloydEmbed: String = {
    val iters = (1 to 3).map { i =>
      val prev = if (i == 1) "init" else s"c${i - 1}"
      assignEmb(s"d$i", s"m$i", prev) + ",\n" + updateEmb(s"c$i", s"m$i")
    }.mkString(",\n")
    s"""WITH $embFlat,
       |$iters
       |SELECT cid AS cluster, count(*) AS n, round(sum(d),2) AS wcss, round(avg(d),4) AS avg_d2
       |FROM m3 GROUP BY cid ORDER BY cluster""".stripMargin
  }

  /** dedup_semantic (INTEGER-LATTICE, r19 — Dedup.semanticDedupGate's
    * twin): 3 unrolled Lloyd rounds + a 4th assignment, all on the
    * quantized non-negative grid q = round(v·10⁶) + 2²⁰ — distances
    * are exact integer sums (no float-sum reordering can flip an
    * argmin, which is what limited the r13–r18 float twin to
    * gate-scale geometry), centroid updates are truncating integer
    * division (non-negative, so DuckDB `//` ≡ Java `/` ≡ floor) —
    * then fixed-point cosine on the UNSHIFTED grid over
    * WITHIN-CLUSTER pairs only and the greedy
    * keep-lowest-id rule — kept = 1 iff no lower-id same-cluster
    * partner clears the threshold; drop_for = that lowest partner,
    * −1 sentinel when kept (BIGINT 0/1 and −1 instead of booleans/
    * NULLs so the dtype-strict hash compare has no cross-engine
    * null/bool representation to disagree on).
    */
  val dedupSemantic: String = {
    def assignQ(dName: String, mName: String, centCte: String): String =
      s"""$dName AS (SELECT f.vec_id, c.cid, CAST(sum((f.q-c.cq)*(f.q-c.cq)) AS BIGINT) AS d
         |  FROM f JOIN $centCte c ON f.i=c.i GROUP BY f.vec_id, c.cid),
         |$mName AS (SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid, d, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
         |    FROM $dName) WHERE rn=1)""".stripMargin
    def updateQ(cName: String, mName: String): String =
      s"""$cName AS (SELECT m.cid, f.i, CAST(sum(f.q) // count(*) AS BIGINT) AS cq
         |  FROM $mName m JOIN f ON f.vec_id=m.vec_id GROUP BY m.cid, f.i)""".stripMargin
    val iters = (1 to 3).map { i =>
      val prev = if (i == 1) "init" else s"c${i - 1}"
      assignQ(s"d$i", s"m$i", prev) + ",\n" + updateQ(s"c$i", s"m$i")
    }.mkString(",\n")
    s"""WITH f AS (SELECT vec_id, CAST(generate_subscripts(embedding,1) AS BIGINT) AS i,
       |        CAST(round(CAST(unnest(embedding) AS DOUBLE)*1000000.0) AS BIGINT) + 1048576 AS q
       |      FROM embeddings),
       |ids AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid
       |        FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 10)),
       |init AS (SELECT ids.cid, f.i, f.q AS cq FROM ids JOIN f ON f.vec_id=ids.vec_id),
       |$iters,
       |${assignQ("d4", "m4", "c3")},
       |nr AS (SELECT vec_id, CAST(sum((q-1048576)*(q-1048576)) AS BIGINT) AS n2
       |       FROM f GROUP BY vec_id),
       |p AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
       |        CAST(sum((a.q-1048576)*(b.q-1048576)) AS BIGINT) AS dp
       |      FROM f a JOIN f b ON a.i=b.i AND a.vec_id < b.vec_id
       |      JOIN m4 ma ON ma.vec_id = a.vec_id
       |      JOIN m4 mb ON mb.vec_id = b.vec_id AND mb.cid = ma.cid
       |      GROUP BY a.vec_id, b.vec_id),
       |v AS (SELECT ia, ib FROM p
       |      JOIN nr na ON na.vec_id = p.ia JOIN nr nb ON nb.vec_id = p.ib
       |      WHERE CAST(floor(10000.0 * dp / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))) AS BIGINT) >= 3000),
       |drp AS (SELECT ib AS vec_id, min(ia) AS drop_for FROM v GROUP BY ib)
       |SELECT m4.vec_id AS vec_id, m4.cid AS cluster,
       |  CAST(CASE WHEN drp.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept,
       |  CAST(COALESCE(drp.drop_for, -1) AS BIGINT) AS drop_for
       |FROM m4 LEFT JOIN drp ON drp.vec_id = m4.vec_id
       |ORDER BY m4.vec_id""".stripMargin
  }

  val featureScale: String =
    """WITH s AS (SELECT CAST(min(c_acctbal) AS DOUBLE) AS mn, CAST(max(c_acctbal) AS DOUBLE) AS mx,
      |             round(avg(c_acctbal),6) AS mu, round(stddev_samp(c_acctbal),6) AS sigma
      |           FROM customer)
      |SELECT c_custkey, round(c_acctbal,2) AS value,
      | CAST(floor(1000000.0*((c_acctbal-s.mn)/(s.mx-s.mn))) AS BIGINT) AS minmax_fs,
      | CAST(floor(10000.0*((c_acctbal-s.mu)/s.sigma)) AS BIGINT) AS z_fs
      |FROM customer, s ORDER BY c_custkey""".stripMargin

  // ---------------- C-suite ----------------

  val dedupExact: String =
    """SELECT md5(text) AS h, count(*) AS n_dups, min(doc_id) AS keep_id
      |FROM documents GROUP BY md5(text) ORDER BY h""".stripMargin

  /** dedup_exact_canon: the normalize-then-hash form — digest over
    * [[graft.functions.TextFunctions.canonicalKey]]'s DuckDB twin
    * (lower + ASCII-class collapse + trim, with the r18
    * empty-collapse guard: an empty canonical form falls back to the
    * raw text via `coalesce(nullif(canon, ''), text)`, so fully
    * non-ASCII documents dedup only on byte-identity instead of all
    * hashing md5('')), so case/punctuation variants of a document
    * land in one hash group. The expression is the documented
    * cross-engine contract; the gate hash proves the two engines
    * canonicalize byte-identically over the corpus.
    */
  val dedupExactCanon: String =
    """SELECT md5(coalesce(nullif(
      |   trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ''), text)) AS h,
      | count(*) AS n_dups, min(doc_id) AS keep_id
      |FROM documents GROUP BY 1 ORDER BY h""".stripMargin

  /** dedup_exact_routed: the script-ROUTED digest — documents with
    * any non-Latin-script character ([[NonLatinRe2]] — the r19
    * inverted class; Java spells it with Is-prefixed script names,
    * same classification, see textScript) keep their raw text as the
    * key, pure
    * Latin documents take the canonicalKey twin. Planted corpus =
    * base ∪ upper-case twins (collapse, n_dups = 2) ∪ two distinct
    * Han-suffixed variants per 5th doc ∪ two distinct KANA-suffixed
    * variants per 7th doc (r19 — all four stay singletons: plain
    * canonical keying would strip the suffixes and merge each pair,
    * and through r18 the kana pair DID merge — the router coverage
    * gap this oracle now pins closed).
    */
  val dedupExactRouted: String =
    s"""WITH m AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id + 100000, upper(text) FROM documents
       |  UNION ALL SELECT doc_id + 200000, text || ' 你好' FROM documents WHERE doc_id % 5 = 0
       |  UNION ALL SELECT doc_id + 300000, text || ' 再見' FROM documents WHERE doc_id % 5 = 0
       |  UNION ALL SELECT doc_id + 400000, text || ' ぁ' FROM documents WHERE doc_id % 7 = 0
       |  UNION ALL SELECT doc_id + 500000, text || ' ゑ' FROM documents WHERE doc_id % 7 = 0),
       |k AS (SELECT doc_id, $routedKeyExpr AS key FROM m)
       |SELECT md5(key) AS h, count(*) AS n_dups, min(doc_id) AS keep_id
       |FROM k GROUP BY 1 ORDER BY h""".stripMargin

  /** dedup_exact_routed_floor: the THRESHOLDED router's twin
    * (TextFunctions.routedKey(minLossFs = 100) via Dedup.exact) —
    * the loss meter floor(1e4 · inverted-class count / length)
    * gates routing: a one-glyph Cyrillic suffix on a gate-corpus doc
    * sits UNDER the 1% floor, keeps canonical keying, and collapses
    * with its base + upper twin (exactly the pair the 0-floor router
    * keeps separate — the documented trade); the 20-char Han suffix
    * sits far above it and routes raw. Same fixed-point meter on
    * both engines, so short docs crossing the floor agree too.
    */
  val dedupExactRoutedFloor: String =
    s"""WITH m AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id + 100000, upper(text) FROM documents
       |  UNION ALL SELECT doc_id + 200000, text || ' д' FROM documents WHERE doc_id % 3 = 0
       |  UNION ALL SELECT doc_id + 300000, text || ' 你好你好你好你好你好再見再見再見再見再見'
       |    FROM documents WHERE doc_id % 5 = 0),
       |k AS (SELECT doc_id,
       |        CASE WHEN CAST(floor(10000.0 * len(regexp_extract_all(text, '$NonLatinRe2'))
       |               / greatest(length(text), 1)) AS BIGINT) > 100
       |             THEN text ELSE $canonKeyExpr END AS key FROM m)
       |SELECT md5(key) AS h, count(*) AS n_dups, min(doc_id) AS keep_id
       |FROM k GROUP BY 1 ORDER BY h""".stripMargin

  val dedupNgramJaccard: String =
    """WITH d AS (SELECT doc_id, lang, floor(n_chars/100.0) AS lb,
      |             list_distinct(string_split(text,' ')) AS toks FROM documents)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      | CAST(floor(10000.0 * (CAST(len(list_intersect(a.toks,b.toks)) AS DOUBLE)
      |   / len(list_distinct(a.toks || b.toks)))) AS BIGINT) AS jac_fs
      |FROM d a JOIN d b ON a.lang=b.lang AND a.lb=b.lb AND a.doc_id<b.doc_id
      |WHERE CAST(floor(10000.0 * (CAST(len(list_intersect(a.toks,b.toks)) AS DOUBLE)
      |   / len(list_distinct(a.toks || b.toks)))) AS BIGINT) >= 9000
      |ORDER BY id_a, id_b""".stripMargin

  val dedupEmbedCosine: String =
    """WITH f AS (SELECT vec_id, label, CAST(generate_subscripts(embedding,1) AS BIGINT) AS i,
      |             CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
      |n AS (SELECT vec_id, sqrt(sum(v*v)) AS nrm FROM f GROUP BY vec_id),
      |p AS (SELECT a.vec_id AS ia, b.vec_id AS ib, sum(a.v*b.v) AS dp
      |      FROM f a JOIN f b ON a.i=b.i AND a.label=b.label AND a.vec_id<b.vec_id
      |      GROUP BY a.vec_id, b.vec_id)
      |SELECT ia AS id_a, ib AS id_b,
      | CAST(floor(10000.0*(dp/(na.nrm*nb.nrm))) AS BIGINT) AS cos_fs
      |FROM p JOIN n na ON na.vec_id=p.ia JOIN n nb ON nb.vec_id=p.ib
      |WHERE CAST(floor(10000.0*(dp/(na.nrm*nb.nrm))) AS BIGINT) >= 3000
      |ORDER BY id_a, id_b""".stripMargin

  val simTopkCosine: String =
    """WITH f AS (SELECT vec_id, CAST(generate_subscripts(embedding,1) AS BIGINT) AS i,
      |             CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
      |n AS (SELECT vec_id, sqrt(sum(v*v)) AS nrm FROM f GROUP BY vec_id),
      |p AS (SELECT q.vec_id AS qi, c.vec_id AS ci, sum(q.v*c.v) AS dp
      |      FROM f q JOIN f c ON q.i=c.i AND q.vec_id < 10 AND c.vec_id != q.vec_id
      |      GROUP BY q.vec_id, c.vec_id),
      |s AS (SELECT qi AS q_id, ci AS c_id,
      |        CAST(floor(1000000.0*(dp/(nq.nrm*nc.nrm))) AS BIGINT) AS cos_fs
      |      FROM p JOIN n nq ON nq.vec_id=p.qi JOIN n nc ON nc.vec_id=p.ci),
      |r AS (SELECT q_id, c_id, cos_fs,
      |        CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_fs DESC, c_id) AS BIGINT) AS rnk
      |      FROM s)
      |SELECT q_id, rnk, c_id, cos_fs FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin

  val textTokens: String =
    """SELECT doc_id,
      | CAST(len(string_split(text,' ')) AS BIGINT) AS ws_tokens,
      | CAST(len(regexp_extract_all(text,'[a-z0-9]+')) AS BIGINT) AS re_tokens,
      | CAST(len(list_distinct(string_split(text,' '))) AS BIGINT) AS uniq_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  /** text_tokens_ws: the whitespace-robustness differential
    * (TextAnalysis.tokensWsReport). The messy input is synthesized
    * from the corpus inside the query (tab-join + trailing double
    * space — the gate tables are single-space, so the contract
    * violation the key verifies must be planted), then tokenized both
    * naively and robustly. The whitespace class is the EXPLICIT
    * [ \t\n\r\f] — not \s, whose membership differs between Java
    * regex (includes U+000B) and RE2; in this triple-quoted literal
    * the \t etc. reach DuckDB as RE2 escapes.
    */
  val textTokensWs: String =
    """WITH m AS (SELECT doc_id, text || chr(9) || text || '  ' AS messy FROM documents)
      |SELECT doc_id,
      | CAST(len(string_split(messy,' ')) AS BIGINT) AS naive_tokens,
      | CAST(len(list_filter(regexp_split_to_array(messy,'[ \t\n\r\f]+'), x -> x <> '')) AS BIGINT) AS ws_tokens,
      | CAST(length(trim(regexp_replace(messy,'[ \t\n\r\f]+',' ','g'))) AS BIGINT) AS norm_chars
      |FROM m ORDER BY doc_id""".stripMargin

  // ---- the script-detection twins (generated from NamedScripts so
  // the Spark and oracle sides cannot drift) ----------------------------

  /** The planted multilingual text shared by text_script /
    * text_script_mix — one stripe per named script keyed off doc_id
    * moduli (the gate corpus is ASCII, so every routing case must be
    * planted), r19 adding kana/Greek/Thai/Hebrew stripes, r20 adding
    * the armenian/bengali/tamil ring (the %12 Georgian stripe is now
    * a NAMED counter) plus a GUJARATI stripe that takes over
    * exercising the `n_other` remainder bucket (outside the named
    * fourteen but inside the routing class). SparkEntry plants the
    * same expression Spark-side.
    */
  private[graft] val scriptPlantSql: String =
    """repeat('你好 ', CAST(doc_id % 4 AS INT)) || text ||
      |  repeat(' мир7', CAST(doc_id % 3 AS INT)) ||
      |  repeat(' سلام9', CAST(doc_id % 2 AS INT)) ||
      |  repeat(' नमस्ते8', CAST(doc_id % 5 AS INT)) ||
      |  repeat(' 안녕6', CAST(doc_id % 6 AS INT)) ||
      |  repeat(' あい5', CAST(doc_id % 7 AS INT)) ||
      |  repeat(' アイ4', CAST(doc_id % 8 AS INT)) ||
      |  repeat(' γεια2', CAST(doc_id % 9 AS INT)) ||
      |  repeat(' สวัสดี', CAST(doc_id % 10 AS INT)) ||
      |  repeat(' שלום1', CAST(doc_id % 11 AS INT)) ||
      |  repeat(' ჯა', CAST(doc_id % 12 AS INT)) ||
      |  repeat(' ગજ2', CAST(doc_id % 13 AS INT)) ||
      |  repeat(' Հայ3', CAST(doc_id % 14 AS INT)) ||
      |  repeat(' বাং', CAST(doc_id % 15 AS INT)) ||
      |  repeat(' தமி', CAST(doc_id % 16 AS INT))""".stripMargin

  private def re2ScriptClass(s: String): String = s"\\p{${s.capitalize}}"

  /** The per-script count columns (RE2 spells `\p{Han}` where Java
    * spells `\p{IsHan}` — same classification): n_latin, one column
    * per named script, `n_other` = the inverted routing-class count
    * minus the named sum (lateral alias references — RE2 has no class
    * subtraction), n_digit, len.
    */
  private def scriptCountColsSql: String = {
    val named = TextFunctions.NamedScripts.map(s =>
      s"CAST(len(regexp_extract_all(text, '${re2ScriptClass(s)}')) AS BIGINT) AS n_$s")
    val namedSum = TextFunctions.NamedScripts.map(s => s"n_$s").mkString(" + ")
    (Seq("CAST(len(regexp_extract_all(text, '\\p{Latin}')) AS BIGINT) AS n_latin") ++
      named ++ Seq(
      s"CAST(len(regexp_extract_all(text, '$NonLatinRe2')) AS BIGINT) - ($namedSum) AS n_other",
      "CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digit",
      "CAST(length(text) AS BIGINT) AS len")).mkString(",\n        ")
  }

  /** The dominant-script argmax CASE over columns `n_<tag>` — the ten
    * named scripts plus 'other', alphabetical-first tie rule (exactly
    * TextAnalysis.dominantScript's fold order).
    */
  private def dominantScriptCaseSql: String = {
    val tags = (TextFunctions.NamedScripts :+ "other").sorted
    val whens = tags.map { t =>
      val ge = tags.filter(_ != t).map(o => s"n_$t >= n_$o").mkString(" AND ")
      s"WHEN $ge AND n_$t > 0 THEN '$t'"
    }.mkString("\n      ")
    s"CASE $whens\n      ELSE 'none' END"
  }

  private def nonLatinSumSql: String =
    ((TextFunctions.NamedScripts :+ "other").sorted.map(s => s"n_$s")).mkString(" + ")

  /** text_script (TextAnalysis.scriptProfile over the planted
    * multilingual text): Unicode-SCRIPT counts, the dominant
    * non-Latin argmax, and the canonical-loss rate whose numerator is
    * the full routing-class count (named sum + other).
    */
  val textScript: String =
    s"""WITH m AS (SELECT doc_id,
       |  $scriptPlantSql AS text FROM documents),
       |s AS (SELECT doc_id,
       |        $scriptCountColsSql
       |      FROM m)
       |SELECT doc_id, n_latin, ${TextFunctions.NamedScripts.map(s => s"n_$s").mkString(", ")},
       | n_other, n_digit,
       | $dominantScriptCaseSql AS nonlatin_script,
       | CASE WHEN len > 0
       |      THEN CAST(floor(10000.0 * ($nonLatinSumSql) / len) AS BIGINT)
       |      ELSE 0 END AS canon_loss_fs
       |FROM s ORDER BY doc_id""".stripMargin

  /** text_script_mix (TextAnalysis.scriptMix over the same planted
    * multilingual corpus as textScript): the corpus composition
    * report — per dominant script (the textScript argmax), doc count,
    * fixed-point corpus share (window-summed denominator; each share
    * floors independently, so shares can sum below 10000), total
    * characters, and the characters canonical keying would strip.
    */
  val textScriptMix: String =
    s"""WITH m AS (SELECT doc_id,
       |  $scriptPlantSql AS text FROM documents),
       |s AS (SELECT doc_id,
       |        $scriptCountColsSql
       |      FROM m),
       |t AS (SELECT
       |  $dominantScriptCaseSql AS script,
       |  len,
       |  $nonLatinSumSql AS nl
       |  FROM s),
       |g AS (SELECT script, count(*) AS n_docs, CAST(sum(len) AS BIGINT) AS n_chars,
       |        CAST(sum(nl) AS BIGINT) AS nonlatin_chars
       |      FROM t GROUP BY script)
       |SELECT script, n_docs, n_chars, nonlatin_chars,
       | CAST(floor(10000.0 * n_docs / sum(n_docs) OVER ()) AS BIGINT) AS docs_share_fs
       |FROM g ORDER BY script""".stripMargin

  private def sqlWordList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("(", ",", ")")

  val textQuality: String = {
    val en = sqlWordList(TextFunctions.stopwords.toMap.apply("en"))
    s"""WITH t AS (SELECT doc_id, text, string_split(text,' ') AS toks FROM documents),
       |q AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok,
       |        CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq,
       |        CAST(len(list_filter(toks, x -> x IN $en)) AS BIGINT) AS n_stop,
       |        CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS BIGINT) AS n_punct,
       |        CAST(length(text) AS BIGINT) AS n_chars FROM t)
       |SELECT doc_id, n_tok, n_uniq, n_stop, n_punct, n_chars,
       | CAST(floor(10000.0 * (0.4*(CAST(n_uniq AS DOUBLE)/n_tok)
       |   + 0.2*(1.0 - CAST(n_stop AS DOUBLE)/n_tok)
       |   + 0.2*(1.0 - CAST(n_punct AS DOUBLE)/n_chars)
       |   + 0.2*least(1.0, CAST(n_tok AS DOUBLE)/100.0))) AS BIGINT) AS score_fs
       |FROM q ORDER BY doc_id""".stripMargin
  }

  /** The md5-minhash banded candidate CTEs (the DuckDB twin of
    * Dedup.minhashMd5PairsUnsorted at the default 32-perm / 4-band geometry):
    * ONE md5 per token (r11 — previously one per permutation):
    * h = int(substr(md5(tok),1,14),16) (56 bits), split into halves
    * h1 = h >> 28, h2 = h mod 2²⁸, with every permutation a
    * Carter-Wegman combination h_p = (a_p·h1 + b_p·h2) mod 1e9+7 over
    * the literal coefficient table `cw` (the same constants
    * HashFunctions.md5CwParams feeds the Spark side — products < 2⁵⁸,
    * so the checked BIGINT arithmetic is overflow-free and
    * bit-identical across engines). Band bucket = '#'-join of the 8
    * row minima in permutation order. Yields CTE `p`
    * (id_a, id_b, jac_fs): DISTINCT banded collisions verified with
    * exact unigram Jaccard ≥ the threshold.
    */
  private def md5LshPairCtes(perms: Int = 32, bands: Int = 4,
                             minJaccardFs: Long = 9000L,
                             source: String = "documents"): String = {
    val rows = perms / bands
    val cwRows = graft.functions.HashFunctions.md5CwParams(perms).zipWithIndex
      .map { case ((a, b), p) => s"($p, $a, $b)" }.mkString(", ")
    val prime = graft.functions.HashFunctions.Prime
    s"""tk AS (SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS tok
       |       FROM $source),
       |hx AS (SELECT doc_id,
       |         CAST(('0x' || substr(md5(tok),1,14)) AS BIGINT) AS h
       |       FROM tk),
       |cw(p, a, b) AS (VALUES $cwRows),
       |mh AS (SELECT hx.doc_id, cw.p AS p,
       |         min((CAST(cw.a AS BIGINT)*(hx.h >> 28)
       |              + CAST(cw.b AS BIGINT)*(hx.h % 268435456)) % $prime) AS h
       |       FROM hx CROSS JOIN cw GROUP BY hx.doc_id, cw.p),
       |bd AS (SELECT doc_id, CAST(p // $rows AS INT) AS band,
       |         string_agg(CAST(h AS VARCHAR), '#' ORDER BY p) AS bucket
       |       FROM mh GROUP BY doc_id, p // $rows),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |         FROM bd a JOIN bd b
       |           ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       |tt AS (SELECT doc_id, list_distinct(string_split(text,' ')) AS toks FROM $source),
       |p AS (SELECT id_a, id_b,
       |        CAST(floor(10000.0 * (CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
       |          / len(list_distinct(ta.toks || tb.toks)))) AS BIGINT) AS jac_fs
       |      FROM cand JOIN tt ta ON ta.doc_id = cand.id_a
       |                JOIN tt tb ON tb.doc_id = cand.id_b
       |      WHERE CAST(floor(10000.0 * (CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
       |          / len(list_distinct(ta.toks || tb.toks)))) AS BIGINT) >= $minJaccardFs)""".stripMargin
  }

  /** dedup_minhash_md5: the banded pair set itself, hash-verified. */
  val dedupMinhashMd5: String =
    s"""WITH ${md5LshPairCtes()}
       |SELECT id_a, id_b, jac_fs FROM p ORDER BY id_a, id_b""".stripMargin

  /** dedup_minhash_md5_canon: the same banded generator + exact
    * verify over the CANONICAL token stream (Dedup.minhashMd5PairsUnsorted
    * with canonical = true) — the one mechanical change is the doc
    * source CTE: text folds through canonicalText's DuckDB twin, and
    * docs whose canonical form is EMPTY (fully non-ASCII) drop — no
    * token signal → never a near-dup, the set-similarity counterpart
    * of canonicalKey's digest guard (a {""} token "set" would
    * otherwise pair every non-Latin doc at J = 1).
    */
  val dedupMinhashMd5Canon: String = {
    val canonExpr = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"
    s"""WITH cdocs AS (SELECT doc_id, $canonExpr AS text FROM documents
       |               WHERE length($canonExpr) > 0),
       |${md5LshPairCtes(source = "cdocs")}
       |SELECT id_a, id_b, jac_fs FROM p ORDER BY id_a, id_b""".stripMargin
  }

  /** dedup_minhash_md5_routed: the banded generator + exact verify
    * over the script-ROUTED text stream (Dedup.minhashMd5PairsUnsorted with
    * routed = true) — the doc source CTE applies routedText's twin
    * (raw text for docs carrying non-Latin-script signal, canonicalText
    * otherwise) over the planted corpus: base docs ∪ two distinct
    * Han-suffixed variants per 10th doc, which shingle RAW where
    * plain canonical keying would strip their suffixes.
    */
  val dedupMinhashMd5Routed: String = {
    val routedExpr = routedTextExpr
    s"""WITH pl AS (SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id + 100000, text || ' 你好' FROM documents WHERE doc_id % 10 = 0
       |  UNION ALL SELECT doc_id + 200000, text || ' 再見' FROM documents WHERE doc_id % 10 = 0),
       |rdocs AS (SELECT doc_id, $routedExpr AS text FROM pl
       |          WHERE length($routedExpr) > 0),
       |${md5LshPairCtes(source = "rdocs")}
       |SELECT id_a, id_b, jac_fs FROM p ORDER BY id_a, id_b""".stripMargin
  }

  /** dedup_minhash_md5_routed_floor: the banded generator + exact
    * verify over the THRESHOLDED routed stream
    * (Dedup.minhashMd5PairsUnsorted with routed = true, minLossFs = 100 —
    * TextFunctions.routedText's two-arg form, r20): the planted
    * corpus adds a 20-char Han suffix per 10th doc (loss far above
    * the 1% floor → grams RAW, as in the 0-floor twin) and a ONE-GLYPH
    * Cyrillic suffix per 7th doc (loss ≈ 0.2% → below the floor →
    * canonical grams, so the variant's token set equals its base's
    * and the J = 1 pair SURFACES — exactly the pair the 0-floor
    * router would keep apart by keying the variant raw). The loss
    * meter is the dedupExactRoutedFloor fixed-point expression, so
    * floor crossings agree engine-for-engine.
    */
  val dedupMinhashMd5RoutedFloor: String = {
    val canon = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"
    val rexpr =
      s"""CASE WHEN CAST(floor(10000.0 * len(regexp_extract_all(text, '$NonLatinRe2'))
         |       / greatest(length(text), 1)) AS BIGINT) > 100
         |     THEN text ELSE $canon END""".stripMargin
    s"""WITH pl AS (SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id + 100000, text || ' 你好你好你好你好你好再見再見再見再見再見'
       |    FROM documents WHERE doc_id % 10 = 0
       |  UNION ALL SELECT doc_id + 200000, text || ' д' FROM documents WHERE doc_id % 7 = 0),
       |rdocs AS (SELECT doc_id, $rexpr AS text FROM pl
       |          WHERE length($rexpr) > 0),
       |${md5LshPairCtes(source = "rdocs")}
       |SELECT id_a, id_b, jac_fs FROM p ORDER BY id_a, id_b""".stripMargin
  }

  /** dedup_simhash_md5 (the DuckDB twin of Dedup.simhashMd5Pairs):
    * per-token bits off the first 16 hex chars of md5(token), per-doc
    * bit sums over distinct tokens (ties → 0), the 64-bit fingerprint
    * held as FOUR 16-bit chunk integers (band = chunk index, bucket =
    * chunk value — the pigeonhole-complete plan for hamming ≤ 3), and
    * the exact hamming verify as per-chunk bit_count(xor) summed.
    * SUMs cast to BIGINT (DuckDB widens SUM(BIGINT) to HUGEINT, which
    * the driver's dtype-strict compare rejects — the q19 lesson).
    */
  val dedupSimhashMd5: String =
    s"""WITH tk AS (SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS tok
       |            FROM documents),
       |hx AS (SELECT doc_id, substr(md5(tok),1,16) AS h FROM tk),
       |jj AS (SELECT CAST(range AS INT) AS j FROM range(64)),
       |bi AS (SELECT doc_id, j,
       |         SUM(CASE WHEN (CAST(('0x' || substr(h, 1 + (j // 4), 1)) AS BIGINT)
       |                        >> (3 - (j % 4))) & 1 = 1 THEN 1 ELSE -1 END) AS s
       |       FROM hx CROSS JOIN jj GROUP BY doc_id, j),
       |ck AS (SELECT doc_id, CAST(j // 16 AS INT) AS band,
       |         CAST(SUM(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << (j % 16)
       |                       ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS cv
       |       FROM bi GROUP BY doc_id, j // 16),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |         FROM ck a JOIN ck b
       |           ON a.band = b.band AND a.cv = b.cv AND a.doc_id < b.doc_id),
       |hm AS (SELECT cand.id_a, cand.id_b,
       |         CAST(SUM(bit_count(xor(ca.cv, cb.cv))) AS BIGINT) AS hamming
       |       FROM cand JOIN ck ca ON ca.doc_id = cand.id_a
       |                 JOIN ck cb ON cb.doc_id = cand.id_b AND cb.band = ca.band
       |       GROUP BY cand.id_a, cand.id_b)
       |SELECT id_a, id_b, hamming FROM hm WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin

  /** dedup_simhash_md5_canon: [[dedupSimhashMd5]] over the canonical
    * token stream (Dedup.simhashMd5Pairs with canonical = true) —
    * mechanical CTE swap to a canonical doc source with the
    * empty-canonical drop (the [[dedupMinhashMd5Canon]] guard: a
    * fully non-ASCII doc's all-zero fingerprint would otherwise
    * hamming-0-pair every such doc); a require pins the swap.
    */
  val dedupSimhashMd5Canon: String = {
    val canonExpr = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"
    val swapped = dedupSimhashMd5.replace(
      "WITH tk AS (SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS tok\n" +
        "            FROM documents),",
      s"WITH cdocs AS (SELECT doc_id, $canonExpr AS text FROM documents\n" +
        s"               WHERE length($canonExpr) > 0),\n" +
        "tk AS (SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS tok\n" +
        "       FROM cdocs),")
    require(swapped != dedupSimhashMd5, "canon CTE swap must apply")
    swapped
  }

  /** dedup_simhash_md5_routed: [[dedupSimhashMd5]] over the
    * script-ROUTED stream of the planted corpus (base docs ∪ two
    * distinct Han-suffixed variants per 10th doc) — the
    * [[dedupMinhashMd5Routed]] pattern at fingerprint grain; the
    * routed CASE keeps the variants' Han token in their bit sums
    * where the canon twin would strip it. A require pins the swap.
    */
  val dedupSimhashMd5Routed: String = {
    val routedExpr = routedTextExpr
    val swapped = dedupSimhashMd5.replace(
      "WITH tk AS (SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS tok\n" +
        "            FROM documents),",
      "WITH pl AS (SELECT doc_id, text FROM documents\n" +
        "  UNION ALL SELECT doc_id + 100000, text || ' \u4f60\u597d' FROM documents WHERE doc_id % 10 = 0\n" +
        "  UNION ALL SELECT doc_id + 200000, text || ' \u518d\u898b' FROM documents WHERE doc_id % 10 = 0),\n" +
        s"rdocs AS (SELECT doc_id, $routedExpr AS text FROM pl\n" +
        s"          WHERE length($routedExpr) > 0),\n" +
        "tk AS (SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS tok\n" +
        "       FROM rdocs),")
    require(swapped != dedupSimhashMd5, "routed CTE swap must apply")
    swapped
  }

  /** Greedy dedup application: survivors after dropping the higher id
    * of every verified near-dup pair (mirrors Dedup.applyPairs) —
    * since r10 over the BANDED md5-minhash generator
    * ([[md5LshPairCtes]]) instead of the blocked quadratic baseline,
    * so the gate key is subquadratic and still hash-checked.
    */
  val dedupApply: String =
    s"""WITH ${md5LshPairCtes()}
       |SELECT doc_id, lang, n_chars FROM documents
       |WHERE doc_id NOT IN (SELECT id_b FROM p)
       |ORDER BY doc_id""".stripMargin

  /** Connected-component min-id labels over the banded md5-minhash
    * pair graph, unrolled to the same fixed iteration count as
    * Dedup.ccLabels (both engines run EXACTLY `iters` rounds, so the
    * oracle matches even on chains that haven't fully converged).
    */
  val dedupApplyCc: String = {
    val iters = 4
    val rounds = (1 to iters).map { i =>
      s"""l$i AS (SELECT l.doc_id, least(l.lbl, coalesce(min(n.lbl), l.lbl)) AS lbl
         |      FROM l${i - 1} l
         |      LEFT JOIN edges e ON e.u = l.doc_id
         |      LEFT JOIN l${i - 1} n ON n.doc_id = e.v
         |      GROUP BY l.doc_id, l.lbl)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${md5LshPairCtes()},
       |edges AS (SELECT id_a AS u, id_b AS v FROM p UNION ALL SELECT id_b, id_a FROM p),
       |l0 AS (SELECT doc_id, doc_id AS lbl FROM documents),
       |$rounds
       |SELECT doc_id, lbl AS rep_id FROM l$iters ORDER BY doc_id""".stripMargin
  }

  val textVocabulary: String =
    """SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq,
      | count(*) AS total_count
      |FROM (SELECT doc_id, unnest(string_split(text,' ')) AS token FROM documents) t
      |GROUP BY token ORDER BY token""".stripMargin

  /** text_vocabulary_ws (TextAnalysis.vocabulary with ws = true over
    * planted messy text — the text_tokens_ws plant): the
    * whitespace-ROBUST vocabulary. The naive tokenizer would mint
    * fused "wordN\twordM" and empty-string tokens out of this corpus
    * and quietly wrong every IDF/encode derived from it; the robust
    * class splits on [ \t\n\r\f] runs and drops empties, so the
    * vocabulary is exactly the single-space corpus's DOUBLED counts
    * (every doc's text appears twice in the plant).
    */
  val textVocabularyWs: String =
    """WITH m AS (SELECT doc_id, text || chr(9) || text || '  ' AS text FROM documents)
      |SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq,
      | count(*) AS total_count
      |FROM (SELECT doc_id,
      |        unnest(list_filter(regexp_split_to_array(text,'[ \t\n\r\f]+'), x -> x <> '')) AS token
      |      FROM m) t
      |GROUP BY token ORDER BY token""".stripMargin

  /** text_lm_score (the DuckDB twin of TextAnalysis.lmScore with the
    * even-id reference): add-one unigram costs fixed-pointed PER
    * DISTINCT TOKEN before the integer per-doc aggregate, so
    * summation order cannot move the result in either engine; ln of
    * an identical correctly-rounded integer ratio is the only
    * cross-engine freedom (see the operator's scaladoc).
    */
  val textLmScore: String =
    """WITH rt AS (SELECT unnest(string_split(text, ' ')) AS token
      |            FROM documents WHERE doc_id % 2 = 0),
      |cnt AS (SELECT token, count(*) AS c FROM rt GROUP BY token),
      |tot AS (SELECT sum(c) AS n, count(*) AS v FROM cnt),
      |dt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      |sc AS (SELECT doc_id,
      |         CAST(floor(1000000.0 * ln(CAST(t.n + t.v AS DOUBLE)
      |           / (coalesce(c.c, 0) + 1))) AS BIGINT) AS fs
      |       FROM dt CROSS JOIN tot t LEFT JOIN cnt c USING (token))
      |SELECT doc_id, count(*) AS n_tok,
      |  CAST(sum(fs) // count(*) AS BIGINT) AS lm_cost_fs
      |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** text_entropy (the DuckDB twin of TextAnalysis.entropyScore):
    * per-(count, length) fixed-point terms, integer per-doc sum —
    * the lmScore determinism discipline.
    */
  val textEntropy: String =
    """WITH ch AS (SELECT doc_id, length(text) AS len,
      |              unnest(string_split(text, '')) AS ch FROM documents),
      |ct AS (SELECT doc_id, len, ch, count(*) AS c FROM ch GROUP BY doc_id, len, ch),
      |tm AS (SELECT doc_id, len,
      |         CAST(floor(1000000.0 * (c / CAST(len AS DOUBLE))
      |           * ln(CAST(len AS DOUBLE) / c)) AS BIGINT) AS fs
      |       FROM ct)
      |SELECT doc_id, CAST(len AS BIGINT) AS n_chars,
      |  CAST(sum(fs) AS BIGINT) AS entropy_fs
      |FROM tm GROUP BY doc_id, len ORDER BY doc_id""".stripMargin

  val textLangid: String = {
    val langs = TextFunctions.stopwords
    val scoreCols = langs.map { case (l, words) =>
      s"len(list_filter(toks, x -> x IN ${sqlWordList(words)})) AS s_$l"
    }.mkString(",\n        ")
    val cases = langs.map { case (l, _) =>
      val ge = langs.map(_._1).filter(_ != l).map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN $ge AND s_$l > 0 THEN '$l'"
    }.mkString("\n   ")
    s"""WITH t AS (SELECT doc_id, lang, string_split(text,' ') AS toks FROM documents),
       |s AS (SELECT doc_id, lang,
       |        $scoreCols
       |      FROM t)
       |SELECT doc_id,
       | CASE $cases
       |   ELSE 'unk' END AS pred_lang,
       | lang AS actual_lang
       |FROM s ORDER BY doc_id""".stripMargin
  }

  /** text_langid_script (TextAnalysis.langIdScriptPredictions over
    * the planted multilingual corpus): script-majority docs tag KANA
    * FIRST → 'ja' (r19 — kanji-majority Japanese must not read 'zh'),
    * then by the dominant-script argmax (scriptProfile's tie rules,
    * generated from TextFunctions.ScriptLangTags — the same single
    * source the Spark tagger renders from, r20; an all-'other'
    * majority reads 'unk'); Latin-majority docs
    * fall through to the textLangid stopword CASE unchanged. The
    * planted stripes: %17 ∈ {0..15} replace the text with pure
    * per-script repeats — including kanji+kana Japanese (%17 = 7, the
    * r18 'zh' mislabel showpiece), the r20 ring (Armenian/Bengali/
    * Georgian/Tamil → hy/bn/ka/ta) and a GUJARATI stripe (%17 = 15)
    * pinning the honest 'unk' beyond the named set — %11 = 3 appends
    * a 3-char Cyrillic token (minority — must STAY on the stopword
    * path), everything else is the raw corpus.
    */
  val textLangidScript: String = {
    val langs = TextFunctions.stopwords
    val scoreCols = langs.map { case (l, words) =>
      s"len(list_filter(toks, x -> x IN ${sqlWordList(words)})) AS s_$l"
    }.mkString(",\n        ")
    val cases = langs.map { case (l, _) =>
      val ge = langs.map(_._1).filter(_ != l).map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN $ge AND s_$l > 0 THEN '$l'"
    }.mkString("\n      ")
    // the script→family argmax, generated from the shared tag map
    // (already script-name alphabetical) — kana is handled by its
    // own presence rule above the fold
    val fam = TextFunctions.ScriptLangTags
    val famCases = fam.map { case (s, tag) =>
      val ge = fam.map(_._1).filter(_ != s).map(o => s"n_$s >= n_$o").mkString(" AND ")
      s"WHEN $ge AND n_$s > 0 THEN '$tag'"
    }.mkString("\n             ")
    s"""WITH m AS (SELECT doc_id, lang,
       |  CASE WHEN doc_id % 17 = 0 THEN repeat('你好', 40)
       |       WHEN doc_id % 17 = 1 THEN repeat('привет ', 30)
       |       WHEN doc_id % 17 = 2 THEN repeat('سلام ', 30)
       |       WHEN doc_id % 17 = 3 THEN repeat('नमस्ते ', 30)
       |       WHEN doc_id % 17 = 4 THEN repeat('안녕 ', 30)
       |       WHEN doc_id % 17 = 5 THEN repeat('こんにちは ', 20)
       |       WHEN doc_id % 17 = 6 THEN repeat('カタカナ ', 20)
       |       WHEN doc_id % 17 = 7 THEN repeat('日本語の文 ', 20)
       |       WHEN doc_id % 17 = 8 THEN repeat('γεια σου ', 20)
       |       WHEN doc_id % 17 = 9 THEN repeat('สวัสดี ', 20)
       |       WHEN doc_id % 17 = 10 THEN repeat('שלום ', 20)
       |       WHEN doc_id % 17 = 11 THEN repeat('Հայերեն ', 20)
       |       WHEN doc_id % 17 = 12 THEN repeat('বাংলা ', 20)
       |       WHEN doc_id % 17 = 13 THEN repeat('ქართული ', 20)
       |       WHEN doc_id % 17 = 14 THEN repeat('தமிழ் ', 20)
       |       WHEN doc_id % 17 = 15 THEN repeat('ગુજરાતી ', 20)
       |       WHEN doc_id % 11 = 3 THEN text || ' мир'
       |       ELSE text END AS text FROM documents),
       |s AS (SELECT doc_id, lang, string_split(text,' ') AS toks,
       |        $scriptCountColsSql
       |      FROM m),
       |t AS (SELECT *,
       |        $scoreCols
       |      FROM s)
       |SELECT doc_id,
       | CASE WHEN $nonLatinSumSql > n_latin THEN
       |        CASE WHEN n_hiragana + n_katakana > 0 THEN 'ja'
       |             $famCases
       |             ELSE 'unk' END
       |      $cases
       |      ELSE 'unk' END AS pred_lang,
       | lang AS actual_lang
       |FROM t ORDER BY doc_id""".stripMargin
  }

  /** q17: as-of join — correlated max-before subquery, an independent
    * formulation of the Spark side's RANGE-frame window (SURVEY §4:
    * second-truncated epochs on both sides).
    */
  val q17: String =
    """WITH e AS (SELECT event_id, user_id, event_type,
      |             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_s FROM events)
      |SELECT l.event_id, l.user_id, l.ts_s,
      | (SELECT max(r.ts_s) FROM e r
      |   WHERE r.user_id = l.user_id AND r.event_type = 'error'
      |     AND r.ts_s <= l.ts_s) AS asof_ts_s
      |FROM e l WHERE l.event_type = 'click' ORDER BY l.event_id""".stripMargin

  /** q18: range join — correlated interval-count subquery vs the
    * Spark side's banded equi-join.
    */
  val q18: String =
    """WITH e AS (SELECT event_id, user_id, event_type,
      |             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_s FROM events)
      |SELECT l.event_id, l.user_id, l.ts_s,
      | (SELECT count(*) FROM e r
      |   WHERE r.user_id = l.user_id AND r.event_type = 'click'
      |     AND r.ts_s > l.ts_s AND r.ts_s <= l.ts_s + 600) AS n_follow
      |FROM e l WHERE l.event_type = 'error' ORDER BY l.event_id""".stripMargin

  /** q19: JSON field extraction + aggregate.
    *
    * NOTE the outer CAST on sum_k: DuckDB's sum(BIGINT) returns HUGEINT
    * (int128), which fails the driver's dtype-strict hash compare against
    * Spark's LONG even when values agree (the single red row in
    * CORRECTNESS_r05). Never emit an uncast integer SUM from DuckDB.
    */
  val q19: String =
    """SELECT event_type, count(*) AS n,
      | CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      | CAST(floor(10000.0 * sum(CAST(json_extract(props, '$.k') AS BIGINT)) / count(*))
      |   AS BIGINT) AS avg_k_fs
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** tf-idf proxy top-k: same integer arithmetic ((tf·10⁶) // df) —
    * DuckDB's `//` and Spark's `div` agree on non-negative BIGINTs.
    */
  val textTfidf: String =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
      |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
      |scored AS (SELECT t.doc_id, t.token, (t.tf * 1000000) // d.df AS score,
      |             row_number() OVER (PARTITION BY t.doc_id
      |               ORDER BY (t.tf * 1000000) // d.df DESC, t.token) AS rnk
      |           FROM tf t JOIN dfreq d USING (token))
      |SELECT doc_id, rnk, token, score FROM scored WHERE rnk <= 3
      |ORDER BY doc_id, rnk""".stripMargin

  /** Tokenizer encoding: vocab ranked by (total desc, token asc),
    * ids 1..1000, OOV → −1; positions via DuckDB's zip-unnest of the
    * token list with range(1, len+1).
    */
  val textEncode: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |tok AS (SELECT doc_id, unnest(toks) AS token, unnest(range(1, len(toks)+1)) AS pos FROM t),
      |vc AS (SELECT token, count(*) AS total FROM tok GROUP BY token),
      |vid AS (SELECT token, row_number() OVER (ORDER BY total DESC, token) AS token_id FROM vc),
      |v AS (SELECT token, token_id FROM vid WHERE token_id <= 1000)
      |SELECT p.doc_id, p.pos, coalesce(v.token_id, CAST(-1 AS BIGINT)) AS token_id
      |FROM tok p LEFT JOIN v USING (token)
      |ORDER BY doc_id, pos""".stripMargin

  /** Deterministic split/sample oracles: thresholds come from the SAME
    * Sampling.hexThreshold the Spark side uses, so the two engines
    * cannot drift. md5 of identical strings is engine-identical, and
    * lexicographic order on fixed-width lowercase hex is numeric
    * order (SURVEY §4).
    */
  val sampleSplit: String = {
    import graft.operators.Sampling.hexThreshold
    val trainT = hexThreshold(0.75, 2)
    val valT = hexThreshold(0.875, 2)
    s"""SELECT doc_id,
       | CASE WHEN substr(md5('graft#' || CAST(doc_id AS VARCHAR)), 1, 2) < '$trainT' THEN 'train'
       |      WHEN substr(md5('graft#' || CAST(doc_id AS VARCHAR)), 1, 2) < '$valT' THEN 'val'
       |      ELSE 'test' END AS split
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Twin of TextAnalysis.repetition (bigrams): duplicated-n-gram
    * ratio per doc, fixed-point. Gram construction mirrors Spark's
    * wordNgrams via 1-based list indexing over range(1, len) —
    * len−1 bigrams, docs under 2 tokens drop out on both sides.
    */
  val textRepetition: String =
    """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
      |gi AS (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
      |       FROM t WHERE len(toks) >= 2),
      |g AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS gram FROM gi),
      |r AS (SELECT doc_id, count(*) AS n, count(DISTINCT gram) AS u FROM g GROUP BY doc_id)
      |SELECT doc_id, CAST(n AS BIGINT) AS n_grams,
      | CAST(floor(10000.0 * (1.0 - CAST(u AS DOUBLE) / n)) AS BIGINT) AS rep_fs
      |FROM r ORDER BY doc_id""".stripMargin

  /** Twin of TextAnalysis.contaminationAcct (trigrams, benchmark = docs
    * with doc_id % 50 = 0 — the deterministic stand-in eval set):
    * per-doc distinct-trigram overlap with the benchmark's gram set.
    */
  val textContamination: String =
    """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
      |gi AS (SELECT doc_id, toks, unnest(range(1, len(toks)-1)) AS i
      |       FROM t WHERE len(toks) >= 3),
      |g AS (SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS gram FROM gi),
      |b AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
      |tot AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id),
      |h AS (SELECT g.doc_id, count(*) AS n_hit FROM g JOIN b USING (gram) GROUP BY g.doc_id)
      |SELECT tot.doc_id, CAST(tot.n_grams AS BIGINT) AS n_grams,
      | CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
      | CAST(floor(10000.0 * coalesce(h.n_hit, 0) / tot.n_grams) AS BIGINT) AS contam_fs
      |FROM tot LEFT JOIN h USING (doc_id) ORDER BY doc_id""".stripMargin

  /** pipeline_decontaminate: [[textContamination]]'s CTEs turned into
    * the FILTER (Pipeline.decontaminate at the default 2000 = 20%
    * threshold, bench = the same %50 sample): survivors are documents
    * whose contam_fs is ≤ 2000 or who carry no grams at all (absent
    * from `tot` — sub-gram docs have no overlap evidence and are
    * kept, hence the LEFT join + coalesce).
    */
  val pipelineDecontaminate: String =
    """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
      |gi AS (SELECT doc_id, toks, unnest(range(1, len(toks)-1)) AS i
      |       FROM t WHERE len(toks) >= 3),
      |g AS (SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS gram FROM gi),
      |b AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
      |tot AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id),
      |h AS (SELECT g.doc_id, count(*) AS n_hit FROM g JOIN b USING (gram) GROUP BY g.doc_id),
      |c AS (SELECT tot.doc_id,
      |        CAST(floor(10000.0 * coalesce(h.n_hit, 0) / tot.n_grams) AS BIGINT) AS contam_fs
      |      FROM tot LEFT JOIN h USING (doc_id))
      |SELECT d.doc_id, d.lang, CAST(d.n_chars AS BIGINT) AS n_chars
      |FROM documents d LEFT JOIN c USING (doc_id)
      |WHERE coalesce(c.contam_fs, 0) <= 2000
      |ORDER BY d.doc_id""".stripMargin

  /** pipeline_keying_decision (Pipeline.chooseKeyingDecision over a
    * Han-planted corpus, r20): one decision row per floor — the mode
    * from the EXACT integer cross-multiplication
    * (10⁴·nonlatin_docs > floor·n_docs, the sparse-tail-safe compare),
    * plus the mix snapshot it read: routed-class doc count (any
    * [[NonLatinRe2]] match), floored doc share, total/non-Latin char
    * counts and the corpus canonical-loss share. Two floors union'd
    * (0 → routed at the planted 20% share, 2500 → canonical) pin both
    * decision branches cross-engine at any scale (the share is planted
    * per doc_id modulus, so it is scale-independent).
    */
  val pipelineKeyingDecision: String = {
    def one(floor: Long) =
      s"""SELECT CASE WHEN n_docs > 0 AND 10000 * nonlatin_docs > $floor * n_docs
         |            THEN 'routed' ELSE 'canonical' END AS mode,
         |  n_docs, nonlatin_docs,
         |  CASE WHEN n_docs > 0
         |       THEN CAST(floor(10000.0 * nonlatin_docs / n_docs) AS BIGINT)
         |       ELSE 0 END AS docs_share_fs,
         |  n_chars, nonlatin_chars,
         |  CASE WHEN n_chars > 0
         |       THEN CAST(floor(10000.0 * nonlatin_chars / n_chars) AS BIGINT)
         |       ELSE 0 END AS char_loss_fs,
         |  CAST($floor AS BIGINT) AS min_routed_share_fs
         |FROM a""".stripMargin
    s"""WITH m AS (SELECT CASE WHEN doc_id % 5 = 0 THEN text || ' 你好' ELSE text END AS text
       |           FROM documents),
       |s AS (SELECT CASE WHEN regexp_matches(text, '$NonLatinRe2') THEN 1 ELSE 0 END AS nl,
       |        CAST(length(text) AS BIGINT) AS len,
       |        CAST(len(regexp_extract_all(text, '$NonLatinRe2')) AS BIGINT) AS nlc
       |      FROM m),
       |a AS (SELECT count(*) AS n_docs, CAST(sum(nl) AS BIGINT) AS nonlatin_docs,
       |        CAST(sum(len) AS BIGINT) AS n_chars,
       |        CAST(sum(nlc) AS BIGINT) AS nonlatin_chars
       |      FROM s)
       |${one(0L)}
       |UNION ALL
       |${one(2500L)}
       |ORDER BY min_routed_share_fs""".stripMargin
  }

  /** text_contamination_canon: [[textContamination]] with both the
    * corpus and the benchmark folded through canonicalText's DuckDB
    * twin — built mechanically by swapping only the tokenizing CTE
    * (the [[textSpanDedupCanon]] pattern; a require pins the swap).
    */
  val textContaminationCanon: String = {
    val swapped = textContamination.replace(
      "WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),",
      "WITH t AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), " +
        "'[^a-z0-9]+', ' ', 'g')),' ') AS toks FROM documents),")
    require(swapped != textContamination, "canon CTE swap must apply")
    swapped
  }

  /** Twin of TextAnalysis.redact. Patterns come from the SAME Scala
    * constants (no drift possible); they are RE2-compatible so Java
    * regex (Spark) and RE2 (DuckDB) agree. DuckDB's regexp_replace
    * needs the explicit 'g' flag — Spark's is global by default.
    */
  val textRedact: String = {
    import graft.operators.TextAnalysis.{EmailRe, Ipv4Re, PhoneRe}
    // counts are staged exactly like the Spark side: n_ip on the
    // email-redacted text, n_phone on the email+ip-redacted text, so
    // counts = tags actually emitted even when matches overlap
    s"""WITH s AS (SELECT doc_id, text,
       |  regexp_replace(text, '$EmailRe', '<EMAIL>', 'g') AS after_email FROM documents),
       |s2 AS (SELECT doc_id, text, after_email,
       |  regexp_replace(after_email, '$Ipv4Re', '<IP>', 'g') AS after_ip FROM s)
       |SELECT doc_id,
       | CAST(len(regexp_extract_all(text, '$EmailRe')) AS BIGINT) AS n_email,
       | CAST(len(regexp_extract_all(after_ip, '$PhoneRe')) AS BIGINT) AS n_phone,
       | CAST(len(regexp_extract_all(after_email, '$Ipv4Re')) AS BIGINT) AS n_ip,
       | md5(regexp_replace(after_ip, '$PhoneRe', '<PHONE>', 'g')) AS redacted_md5
       |FROM s2 ORDER BY doc_id""".stripMargin
  }

  /** text_chunk: stride-24 windows of 32 tokens. DuckDB list slicing
    * `l[a:b]` is 1-based inclusive = Spark slice(l, a, len) with
    * b = a + len − 1; both truncate at the tail. Chunk count =
    * ceil(n/stride) on both engines.
    */
  val textChunk: String =
    """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
      |c AS (SELECT doc_id, toks,
      |        unnest(range(0, CAST(ceil(len(toks)/24.0) AS BIGINT))) AS chunk_idx
      |      FROM t WHERE len(toks) > 0)
      |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
      | CAST(len(toks[chunk_idx*24+1 : chunk_idx*24+32]) AS BIGINT) AS n_chunk_tokens,
      | md5(array_to_string(toks[chunk_idx*24+1 : chunk_idx*24+32], ' ')) AS chunk_md5
      |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  /** text_passage_dedup: per-doc boilerplate accounting — chunks (the
    * [[textChunk]] CTE) whose md5 lands in ≥ 2 distinct docs are
    * boilerplate; LEFT JOIN the boilerplate hash set back and count.
    * CAST guards: DuckDB count/sum produce BIGINT/HUGEINT — pin both
    * engines to BIGINT.
    */
  val textPassageDedup: String =
    """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
      |c AS (SELECT doc_id, toks,
      |        unnest(range(0, CAST(ceil(len(toks)/24.0) AS BIGINT))) AS chunk_idx
      |      FROM t WHERE len(toks) > 0),
      |ch AS (SELECT doc_id,
      |        CAST(len(toks[chunk_idx*24+1 : chunk_idx*24+32]) AS BIGINT) AS n_chunk_tokens,
      |        md5(array_to_string(toks[chunk_idx*24+1 : chunk_idx*24+32], ' ')) AS chunk_md5
      |       FROM c),
      |b AS (SELECT chunk_md5, TRUE AS is_boiler FROM ch
      |      GROUP BY chunk_md5 HAVING count(DISTINCT doc_id) >= 2)
      |SELECT ch.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
      | CAST(coalesce(sum(CASE WHEN b.is_boiler THEN 1 END), 0) AS BIGINT) AS n_boilerplate,
      | CAST(coalesce(sum(CASE WHEN b.is_boiler IS NULL THEN n_chunk_tokens END), 0) AS BIGINT) AS kept_tokens
      |FROM ch LEFT JOIN b USING (chunk_md5)
      |GROUP BY ch.doc_id ORDER BY ch.doc_id""".stripMargin

  /** text_span_dedup: exact-substring span accounting — 8-gram
    * positions whose md5 lands in ≥ 2 distinct docs, coalesced per
    * doc into coverage regions while consecutive positions are ≤ 8
    * apart (the gap trick; lag NULL on the first row falls through
    * CASE to the break), regions ≥ 16 tokens counted. Mirrors
    * TextAnalysis.spanDedup region for region; BIGINT casts guard
    * the HUGEINT sums, coalesce(…, 0) covers span-free docs.
    */
  val textSpanDedup: String =
    """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
      |g0 AS (SELECT doc_id, toks,
      |        unnest(range(0, CAST(len(toks) - 7 AS BIGINT))) AS pos
      |       FROM t WHERE len(toks) >= 8),
      |g AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
      |        md5(array_to_string(toks[pos+1 : pos+8], ' ')) AS gram_md5
      |      FROM g0),
      |sh AS (SELECT gram_md5 FROM g GROUP BY gram_md5
      |       HAVING count(DISTINCT doc_id) >= 2),
      |p AS (SELECT doc_id, pos FROM g JOIN sh USING (gram_md5)),
      |r AS (SELECT doc_id, pos,
      |        CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
      |             THEN 0 ELSE 1 END AS brk
      |      FROM p),
      |i AS (SELECT doc_id, pos,
      |        sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS region
      |      FROM r),
      |s AS (SELECT doc_id, max(pos) - min(pos) + 8 AS span_tokens
      |      FROM i GROUP BY doc_id, region),
      |q AS (SELECT doc_id, count(*) AS n_spans, sum(span_tokens) AS dup_tokens
      |      FROM s WHERE span_tokens >= 16 GROUP BY doc_id)
      |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
      | CAST(coalesce(q.n_spans, 0) AS BIGINT) AS n_spans,
      | CAST(coalesce(q.dup_tokens, 0) AS BIGINT) AS dup_tokens,
      | CAST(len(t.toks) - coalesce(q.dup_tokens, 0) AS BIGINT) AS kept_tokens
      |FROM t LEFT JOIN q USING (doc_id) ORDER BY doc_id""".stripMargin

  /** text_span_dedup_canon: [[textSpanDedup]] with the corpus first
    * folded through [[graft.functions.TextFunctions.canonicalText]]'s
    * DuckDB twin — built mechanically from the raw oracle by swapping
    * ONLY the tokenizing CTE, so the two formulations can never drift
    * apart. Token counts and span coordinates live in the CANONICAL
    * stream, matching TextAnalysis.spanDedup(canonical = true).
    */
  val textSpanDedupCanon: String = {
    val swapped = textSpanDedup.replace(
      "WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),",
      "WITH t AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), " +
        "'[^a-z0-9]+', ' ', 'g')),' ') AS toks FROM documents),")
    require(swapped != textSpanDedup, "canon CTE swap must apply")
    swapped
  }

  /** text_span_dedup_routed: [[textSpanDedup]] over the script-ROUTED
    * stream of the planted corpus (base \u222a two Han-suffixed variants
    * per 10th doc — each variant shares its base's full token block,
    * so the planted spans are real repeated regions); the routed CASE
    * keeps the variants' Han token in their gram streams and token
    * counts where the canon twin would strip it. A require pins the
    * swap.
    */
  val textSpanDedupRouted: String = {
    val routedExpr = routedTextExpr
    val swapped = textSpanDedup.replace(
      "WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),",
      "WITH pl AS (SELECT doc_id, text FROM documents\n" +
        "  UNION ALL SELECT doc_id + 100000, text || ' \u4f60\u597d' FROM documents WHERE doc_id % 10 = 0\n" +
        "  UNION ALL SELECT doc_id + 200000, text || ' \u518d\u898b' FROM documents WHERE doc_id % 10 = 0),\n" +
        s"t AS (SELECT doc_id, string_split($routedExpr,' ') AS toks FROM pl),")
    require(swapped != textSpanDedup, "routed CTE swap must apply")
    swapped
  }

  /** text_span_dedup_apply: the span rewrite — same gram/region CTE
    * chain as [[textSpanDedup]], then covered positions exploded from
    * the qualifying regions, anti-joined against the positioned token
    * list, and the survivors re-joined in position order (string_agg
    * ORDER BY pos ≡ Spark's order-preserving HOF filter +
    * concat_ws). Span-free and sub-gram docs keep everything; a
    * fully-covered doc keeps nothing (md5('') on both engines).
    */
  val textSpanDedupApply: String =
    """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
      |g0 AS (SELECT doc_id, toks,
      |        unnest(range(0, CAST(len(toks) - 7 AS BIGINT))) AS pos
      |       FROM t WHERE len(toks) >= 8),
      |g AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
      |        md5(array_to_string(toks[pos+1 : pos+8], ' ')) AS gram_md5
      |      FROM g0),
      |sh AS (SELECT gram_md5 FROM g GROUP BY gram_md5
      |       HAVING count(DISTINCT doc_id) >= 2),
      |p AS (SELECT doc_id, pos FROM g JOIN sh USING (gram_md5)),
      |r AS (SELECT doc_id, pos,
      |        CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
      |             THEN 0 ELSE 1 END AS brk
      |      FROM p),
      |i AS (SELECT doc_id, pos,
      |        sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS region
      |      FROM r),
      |s AS (SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end
      |      FROM i GROUP BY doc_id, region),
      |f AS (SELECT doc_id, span_start, span_end FROM s
      |      WHERE span_end - span_start + 1 >= 16),
      |cov AS (SELECT doc_id, unnest(range(span_start, span_end + 1)) AS pos FROM f),
      |tp AS (SELECT doc_id, toks,
      |        unnest(range(0, CAST(len(toks) AS BIGINT))) AS pos FROM t),
      |tok AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos, toks[pos+1] AS tk FROM tp),
      |kept AS (SELECT tok.doc_id, tok.pos, tok.tk
      |         FROM tok ANTI JOIN cov USING (doc_id, pos)),
      |agg AS (SELECT doc_id, count(*) AS n_kept,
      |          md5(string_agg(tk, ' ' ORDER BY pos)) AS clean_md5
      |        FROM kept GROUP BY doc_id)
      |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
      | CAST(coalesce(agg.n_kept, 0) AS BIGINT) AS n_kept,
      | coalesce(agg.clean_md5, md5('')) AS clean_md5
      |FROM t LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin

  /** text_span_flag: the stored span-gram index end-to-end — the
    * even-doc half's DISTINCT gram set plays the index, odd docs'
    * gram positions join against it and coalesce through the same
    * gap-trick chain as [[textSpanDedup]] (threshold 16). Cross-corpus
    * semantics: a gram is known iff ANY even doc contains it.
    */
  val textSpanFlag: String =
    """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
      |idx AS (SELECT DISTINCT md5(array_to_string(toks[pos+1 : pos+8], ' ')) AS gram_md5
      |        FROM (SELECT toks,
      |                unnest(range(0, CAST(len(toks) - 7 AS BIGINT))) AS pos
      |              FROM t WHERE doc_id % 2 = 0 AND len(toks) >= 8)),
      |b AS (SELECT doc_id, toks FROM t WHERE doc_id % 2 = 1),
      |g0 AS (SELECT doc_id, toks,
      |        unnest(range(0, CAST(len(toks) - 7 AS BIGINT))) AS pos
      |       FROM b WHERE len(toks) >= 8),
      |g AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
      |        md5(array_to_string(toks[pos+1 : pos+8], ' ')) AS gram_md5
      |      FROM g0),
      |p AS (SELECT doc_id, pos FROM g JOIN idx USING (gram_md5)),
      |r AS (SELECT doc_id, pos,
      |        CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
      |             THEN 0 ELSE 1 END AS brk
      |      FROM p),
      |i AS (SELECT doc_id, pos,
      |        sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS region
      |      FROM r),
      |s AS (SELECT doc_id, max(pos) - min(pos) + 8 AS span_tokens
      |      FROM i GROUP BY doc_id, region),
      |q AS (SELECT doc_id, count(*) AS n_spans, sum(span_tokens) AS dup_tokens
      |      FROM s WHERE span_tokens >= 16 GROUP BY doc_id)
      |SELECT b.doc_id, CAST(len(b.toks) AS BIGINT) AS n_tokens,
      | CAST(coalesce(q.n_spans, 0) AS BIGINT) AS n_spans,
      | CAST(coalesce(q.dup_tokens, 0) AS BIGINT) AS dup_tokens,
      | CAST(len(b.toks) - coalesce(q.dup_tokens, 0) AS BIGINT) AS kept_tokens
      |FROM b LEFT JOIN q USING (doc_id) ORDER BY doc_id""".stripMargin

  /** text_span_top: the boilerplate leaderboard — the
    * [[textSpanDedup]] region chain, each region's covered token
    * slice recovered and ranked by occurrence count (total order:
    * count desc, text asc — LIMIT is deterministic on both engines).
    */
  val textSpanTop: String =
    """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
      |g0 AS (SELECT doc_id, toks,
      |        unnest(range(0, CAST(len(toks) - 7 AS BIGINT))) AS pos
      |       FROM t WHERE len(toks) >= 8),
      |g AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
      |        md5(array_to_string(toks[pos+1 : pos+8], ' ')) AS gram_md5
      |      FROM g0),
      |sh AS (SELECT gram_md5 FROM g GROUP BY gram_md5
      |       HAVING count(DISTINCT doc_id) >= 2),
      |p AS (SELECT doc_id, pos FROM g JOIN sh USING (gram_md5)),
      |r AS (SELECT doc_id, pos,
      |        CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
      |             THEN 0 ELSE 1 END AS brk
      |      FROM p),
      |i AS (SELECT doc_id, pos,
      |        sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS region
      |      FROM r),
      |s AS (SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end
      |      FROM i GROUP BY doc_id, region),
      |f AS (SELECT doc_id, span_start, span_end FROM s
      |      WHERE span_end - span_start + 1 >= 16),
      |x AS (SELECT array_to_string(t.toks[f.span_start+1 : f.span_end+1], ' ') AS span_text,
      |        f.span_end - f.span_start + 1 AS span_tokens
      |      FROM f JOIN t USING (doc_id))
      |SELECT span_text, CAST(span_tokens AS BIGINT) AS span_tokens,
      | CAST(count(*) AS BIGINT) AS n_occurrences
      |FROM x GROUP BY 1, 2
      |ORDER BY n_occurrences DESC, span_text LIMIT 20""".stripMargin

  /** text_span_flag_apply: the cross-corpus rewrite — the
    * [[textSpanFlag]] region chain with [[textSpanDedupApply]]'s
    * positional rewrite tail over the odd-doc batch.
    */
  val textSpanFlagApply: String =
    """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
      |idx AS (SELECT DISTINCT md5(array_to_string(toks[pos+1 : pos+8], ' ')) AS gram_md5
      |        FROM (SELECT toks,
      |                unnest(range(0, CAST(len(toks) - 7 AS BIGINT))) AS pos
      |              FROM t WHERE doc_id % 2 = 0 AND len(toks) >= 8)),
      |b AS (SELECT doc_id, toks FROM t WHERE doc_id % 2 = 1),
      |g0 AS (SELECT doc_id, toks,
      |        unnest(range(0, CAST(len(toks) - 7 AS BIGINT))) AS pos
      |       FROM b WHERE len(toks) >= 8),
      |g AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
      |        md5(array_to_string(toks[pos+1 : pos+8], ' ')) AS gram_md5
      |      FROM g0),
      |p AS (SELECT doc_id, pos FROM g JOIN idx USING (gram_md5)),
      |r AS (SELECT doc_id, pos,
      |        CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
      |             THEN 0 ELSE 1 END AS brk
      |      FROM p),
      |i AS (SELECT doc_id, pos,
      |        sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS region
      |      FROM r),
      |s AS (SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end
      |      FROM i GROUP BY doc_id, region),
      |f AS (SELECT doc_id, span_start, span_end FROM s
      |      WHERE span_end - span_start + 1 >= 16),
      |cov AS (SELECT doc_id, unnest(range(span_start, span_end + 1)) AS pos FROM f),
      |tp AS (SELECT doc_id, toks,
      |        unnest(range(0, CAST(len(toks) AS BIGINT))) AS pos FROM b),
      |tok AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos, toks[pos+1] AS tk FROM tp),
      |kept AS (SELECT tok.doc_id, tok.pos, tok.tk
      |         FROM tok ANTI JOIN cov USING (doc_id, pos)),
      |agg AS (SELECT doc_id, count(*) AS n_kept,
      |          md5(string_agg(tk, ' ' ORDER BY pos)) AS clean_md5
      |        FROM kept GROUP BY doc_id)
      |SELECT b.doc_id, CAST(len(b.toks) AS BIGINT) AS n_tokens,
      | CAST(coalesce(agg.n_kept, 0) AS BIGINT) AS n_kept,
      | coalesce(agg.clean_md5, md5('')) AS clean_md5
      |FROM b LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin

  /** text_pack: cumulative-offset packing into 512-token bins —
    * within-group running sums windowed over (source, pack_group),
    * CHAINED by the cumulative per-group totals so bins fill
    * globally per source (mirrors TextAnalysis.packByWindow). Same
    * window frames both engines (ROWS UNBOUNDED PRECEDING TO
    * 1 PRECEDING, coalesce 0); BIGINT casts guard the HUGEINT sums.
    */
  val textPack: String =
    """WITH t AS (SELECT doc_id, source,
      |        CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
      |        CAST(floor(doc_id/1000.0) AS BIGINT) AS pack_group FROM documents),
      |c AS (SELECT doc_id, source, n_tokens, pack_group,
      |        coalesce(CAST(sum(n_tokens) OVER (PARTITION BY source, pack_group
      |          ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |          AS BIGINT), 0) AS cum_local,
      |        CAST(sum(n_tokens) OVER (PARTITION BY source, pack_group) AS BIGINT) AS grp_total
      |      FROM t),
      |g AS (SELECT DISTINCT source, pack_group, grp_total FROM c),
      |o AS (SELECT source, pack_group,
      |        coalesce(CAST(sum(grp_total) OVER (PARTITION BY source
      |          ORDER BY pack_group ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |          AS BIGINT), 0) AS grp_offset
      |      FROM g)
      |SELECT c.doc_id, c.source, c.n_tokens, c.pack_group,
      | CAST(floor((o.grp_offset + c.cum_local)/512.0) AS BIGINT) AS bin_id,
      | (o.grp_offset + c.cum_local) % 512 AS bin_offset
      |FROM c JOIN o ON c.source = o.source AND c.pack_group = o.pack_group
      |ORDER BY doc_id""".stripMargin

  val sampleStratified: String = {
    import graft.operators.Sampling.hexThreshold
    val hi = hexThreshold(0.5, 4)
    val lo = hexThreshold(0.25, 4)
    s"""SELECT doc_id, source FROM documents
       |WHERE substr(md5('graft#' || CAST(doc_id AS VARCHAR)), 1, 4) <
       |  CASE WHEN source = 'src0' THEN '$hi' WHEN source = 'src1' THEN '$hi'
       |       ELSE '$lo' END
       |ORDER BY doc_id""".stripMargin
  }

  /** sample_cap_source: keep the 15 lowest-md5 docs per source. The
    * oracle uses the ONE-LEVEL window definition — the Spark side's
    * two-level refinement must be result-identical to it (that IS the
    * prefix-closure claim under test).
    */
  val sampleCapSource: String =
    """WITH r AS (SELECT doc_id, source,
      |  row_number() OVER (PARTITION BY source
      |    ORDER BY md5('graft#' || CAST(doc_id AS VARCHAR)), doc_id) AS rnk
      |  FROM documents)
      |SELECT doc_id, source, CAST(rnk AS BIGINT) AS rnk
      |FROM r WHERE rnk <= 15 ORDER BY doc_id""".stripMargin

  /** sample_mixture (the DuckDB twin of Sampling.mixtureSample at the
    * gate's pinned 5/3/2 recipe over src0/src1/src2, W = 10): the
    * integer budget/cap rule verbatim — B = min((n·10) // w),
    * cap = (B·w) // 10 — then the one-level keep-lowest-md5 rank (the
    * Spark side's two-level window must be result-identical, the same
    * prefix-closure claim sample_cap_source pins).
    */
  val sampleMixture: String =
    """WITH w(source, w) AS (VALUES ('src0', 5), ('src1', 3), ('src2', 2)),
      |c AS (SELECT w.source, w.w, count(d.doc_id) AS n
      |      FROM w LEFT JOIN documents d ON d.source = w.source GROUP BY 1, 2),
      |b AS (SELECT min((n * 10) // w) AS budget FROM c),
      |cap AS (SELECT source, ((SELECT budget FROM b) * w) // 10 AS cap FROM c),
      |r AS (SELECT d.doc_id, d.source,
      |        row_number() OVER (PARTITION BY d.source
      |          ORDER BY md5('graft#' || CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rnk
      |      FROM documents d JOIN w ON w.source = d.source)
      |SELECT r.doc_id, r.source, CAST(r.rnk AS BIGINT) AS rnk
      |FROM r JOIN cap ON cap.source = r.source
      |WHERE r.rnk <= cap.cap ORDER BY r.doc_id""".stripMargin

  /** sample_mixture_tokens (the DuckDB twin of
    * Sampling.mixtureByTokens at the same 5/3/2 recipe): the integer
    * TOKEN budget rule verbatim — B = min((T·10) // w) over
    * per-stratum token totals, cap = (B·w) // 10 — then the greedy
    * hash-order keep: a doc survives while its cumulative-BEFORE
    * token count is under the cap (the pack convention: overshoot ≤
    * one straddling doc). Stated as ONE window per stratum; the Spark
    * side's two-level bucket-offset cumsum must be result-identical
    * (the hash's 2-hex prefix orders buckets — the prefix-closure
    * claim, spec-pinned).
    */
  val sampleMixtureTokens: String =
    """WITH w(source, w) AS (VALUES ('src0', 5), ('src1', 3), ('src2', 2)),
      |d AS (SELECT doc_id, source,
      |        CAST(len(string_split(text,' ')) AS BIGINT) AS n_tok,
      |        md5('graft#' || CAST(doc_id AS VARCHAR)) AS h
      |      FROM documents JOIN w USING (source)),
      |c AS (SELECT w.source, w.w, coalesce(sum(d.n_tok), 0) AS t
      |      FROM w LEFT JOIN d ON d.source = w.source GROUP BY 1, 2),
      |b AS (SELECT min((t * 10) // w) AS budget FROM c),
      |cap AS (SELECT source, ((SELECT budget FROM b) * w) // 10 AS cap FROM c),
      |r AS (SELECT doc_id, source, n_tok,
      |        coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      |      FROM d)
      |SELECT r.doc_id, r.source, r.n_tok
      |FROM r JOIN cap ON cap.source = r.source
      |WHERE r.cb < cap.cap ORDER BY r.doc_id""".stripMargin

  /** sample_weighted (the DuckDB twin of Sampling.weightedSample at
    * the gate's length-bucket weight, k = 100): the integer-exact
    * A-ES key verbatim — max of w salted md5 strings per doc, top-k
    * by (key desc, id). The two engines agree digest-for-digest, so
    * the SAMPLE SET matches exactly, not just in distribution.
    */
  val sampleWeighted: String =
    """WITH kd AS (SELECT doc_id,
      |  least(5, 1 + length(text) // 100) AS w,
      |  list_max(list_transform(range(1, least(5, 1 + length(text) // 100) + 1),
      |    r -> md5('graft#' || CAST(doc_id AS VARCHAR) || '#' || CAST(r AS VARCHAR)))) AS k_
      |  FROM documents),
      |r AS (SELECT doc_id, w, row_number() OVER (ORDER BY k_ DESC, doc_id) AS rnk FROM kd)
      |SELECT doc_id, CAST(w AS BIGINT) AS w, CAST(rnk AS BIGINT) AS rnk
      |FROM r WHERE rnk <= 100 ORDER BY doc_id""".stripMargin

  /** sample_epochs (the DuckDB twin of Sampling.epochMix at the
    * gate's 2.5/1.0/0.25 recipe): whole-epoch copies plus the
    * hex-threshold fractional selector, unnested to one row per
    * (doc, copy).
    */
  val sampleEpochs: String = {
    import graft.operators.Sampling.hexThreshold
    val t50 = hexThreshold(0.5, 4)
    val t0 = hexThreshold(0.0, 4)
    val t25 = hexThreshold(0.25, 4)
    s"""WITH e(source, whole, thr) AS
       |  (VALUES ('src0', 2, '$t50'), ('src1', 1, '$t0'), ('src2', 0, '$t25')),
       |d AS (SELECT d.doc_id, d.source,
       |        e.whole + CASE WHEN substr(md5('graft#' || CAST(d.doc_id AS VARCHAR)), 1, 4)
       |                         < e.thr THEN 1 ELSE 0 END AS reps
       |      FROM documents d JOIN e ON e.source = d.source)
       |SELECT doc_id, source, CAST(unnest(range(1, reps + 1)) AS BIGINT) AS copy
       |FROM d WHERE reps > 0 ORDER BY doc_id, copy""".stripMargin
  }

  /** dedup_cross_exact (the DuckDB twin of ExactIndex.flagKnown over
    * the gate's derived reference): the bloom is invisible here by
    * design — it only prunes the confirm join; the RESULT is the
    * plain exact digest membership.
    */
  val dedupCrossExact: String =
    """WITH r AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 2 = 0)
      |SELECT d.doc_id, md5(d.text) AS h, (r.h IS NOT NULL) AS is_known
      |FROM documents d LEFT JOIN r ON md5(d.text) = r.h
      |ORDER BY d.doc_id""".stripMargin

  /** snapshot_diff (the DuckDB twin of Snapshot.churn over the gate's
    * derived snapshots): full-outer digest join, churn rows only,
    * absent-side digests coalesced to '' so both engines emit
    * non-null comparable strings.
    */
  val snapshotDiff: String =
    """WITH o AS (SELECT doc_id, md5(text) AS old_md5 FROM documents
      |           WHERE doc_id % 10 <> 3),
      |n AS (SELECT doc_id,
      |        md5(CASE WHEN doc_id % 10 = 1 THEN text || ' v2' ELSE text END) AS new_md5
      |      FROM documents WHERE doc_id % 10 <> 7),
      |j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, old_md5, new_md5
      |      FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
      |SELECT doc_id,
      |  CASE WHEN old_md5 IS NULL THEN 'added'
      |       WHEN new_md5 IS NULL THEN 'removed'
      |       ELSE 'changed' END AS change,
      |  coalesce(old_md5, '') AS old_md5, coalesce(new_md5, '') AS new_md5
      |FROM j
      |WHERE old_md5 IS NULL OR new_md5 IS NULL OR old_md5 <> new_md5
      |ORDER BY doc_id""".stripMargin

  /** sketch_distinct twin (scale-adaptive, r19): EXACT count-distinct
    * per group — hash-comparable at ANY scale — plus the constant
    * `in3s = 1`, which asserts the Spark side's per-group HLL
    * estimate sits inside its pinned 3σ envelope of that exact count
    * (Sketches.distinctUsersDailyChecked computes the flag; an
    * estimate outside its own bound breaks the hash instead of being
    * un-checkable, which is what the r13–r18 raw-estimate form became
    * the moment a group left the coupon regime).
    * Day key = epoch seconds of the UTC day boundary (q12's ts
    * pattern).
    */
  val sketchDistinct: String =
    """SELECT event_type, CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS d,
      | CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
      | CAST(1 AS BIGINT) AS in3s
      |FROM events GROUP BY 1, 2 ORDER BY event_type, d""".stripMargin

  /** sketch_heavy_hitters twin: exact per-source token frequencies,
    * top 10 per source by (count desc, token asc) — comparable to
    * the frequency sketch because gate-scale vocabularies never
    * trigger a purge, so every estimate is the exact count
    * (SketchesSpec pins the saturated regime; the _gate key carries
    * the any-scale bounds check). Tokenization = the text_vocabulary
    * pair's string_split parity.
    */
  /** sketch_set_overlap twin: exact per-day audience overlap via
    * per-(day, user) flag rows — comparable to the theta estimates
    * because gate-scale daily audiences sit below nominalEntries
    * (4096), where theta holds every hash and estimates are exact
    * (the coupon-regime argument, set-algebra edition; the _gate key
    * checks the sketches' own envelopes at any scale). The WHERE
    * mirrors the Spark side's pre-filter so day coverage matches.
    */
  val sketchSetOverlap: String =
    """WITH u AS (SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS d, user_id,
      |             max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
      |             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
      |           FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1, 2)
      |SELECT d, CAST(sum(c) AS BIGINT) AS n_click, CAST(sum(p) AS BIGINT) AS n_purchase,
      |       CAST(sum(c * p) AS BIGINT) AS n_both,
      |       CAST(sum(c * (1 - p)) AS BIGINT) AS n_click_only
      |FROM u GROUP BY d ORDER BY d""".stripMargin

  /** Exact distinct-join twin of
    * [[graft.operators.Sketches.retentionDaily]]: each lag re-joins
    * the distinct (day, user) set onto itself shifted by the lag —
    * at most one match per (day, user, lag), so the two left joins
    * cannot fan out.
    */
  val sketchRetention: String =
    """WITH a AS (SELECT DISTINCT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS d, user_id
      |           FROM events)
      |SELECT a0.d, count(*) AS n_active,
      |       count(a1.user_id) AS n_ret_1d,
      |       count(a7.user_id) AS n_ret_7d
      |FROM a a0
      |LEFT JOIN a a1 ON a1.d = a0.d + 86400 AND a1.user_id = a0.user_id
      |LEFT JOIN a a7 ON a7.d = a0.d + 604800 AND a7.user_id = a0.user_id
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Exact N-step funnel twin of [[graft.operators.Sketches.funnelDaily]]
    * (steps view → click → purchase): per-(day, user) step flags, then
    * flag products count the users who completed each prefix.
    */
  /** Exact chained-min-timestamp twin of
    * [[graft.operators.Funnel.orderedDaily]]: each step's earliest
    * qualifying timestamp must be at/after the previous step's, one
    * join per step — the relational form whose N-shuffle cost the
    * single-shuffle greedy fold replaces.
    */
  val funnelOrdered: String =
    """WITH e AS (SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS d, user_id, event_type, ts
      |           FROM events WHERE event_type IN ('view', 'click', 'purchase')),
      |v AS (SELECT d, user_id, min(ts) AS vt FROM e WHERE event_type = 'view' GROUP BY 1, 2),
      |c AS (SELECT e.d, e.user_id, min(e.ts) AS ct FROM e JOIN v ON e.d = v.d AND e.user_id = v.user_id
      |      WHERE e.event_type = 'click' AND e.ts >= v.vt GROUP BY 1, 2),
      |p AS (SELECT e.d, e.user_id, min(e.ts) AS pt FROM e JOIN c ON e.d = c.d AND e.user_id = c.user_id
      |      WHERE e.event_type = 'purchase' AND e.ts >= c.ct GROUP BY 1, 2)
      |SELECT v.d, count(*) AS n_step1, count(c.ct) AS n_step2, count(p.pt) AS n_step3
      |FROM v LEFT JOIN c ON v.d = c.d AND v.user_id = c.user_id
      |       LEFT JOIN p ON v.d = p.d AND v.user_id = p.user_id
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Exact conversion-latency twin of
    * [[graft.operators.Funnel.lagDaily]]: the same chained-min CTEs
    * as [[funnelOrdered]], summing first-step → last-step µs lags
    * over fully-converted users (sum(BIGINT) is HUGEINT in DuckDB —
    * cast back).
    */
  val funnelLag: String =
    """WITH e AS (SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS d, user_id, event_type, ts
      |           FROM events WHERE event_type IN ('view', 'click', 'purchase')),
      |v AS (SELECT d, user_id, min(ts) AS vt FROM e WHERE event_type = 'view' GROUP BY 1, 2),
      |c AS (SELECT e.d, e.user_id, min(e.ts) AS ct FROM e JOIN v ON e.d = v.d AND e.user_id = v.user_id
      |      WHERE e.event_type = 'click' AND e.ts >= v.vt GROUP BY 1, 2),
      |p AS (SELECT e.d, e.user_id, min(e.ts) AS pt FROM e JOIN c ON e.d = c.d AND e.user_id = c.user_id
      |      WHERE e.event_type = 'purchase' AND e.ts >= c.ct GROUP BY 1, 2)
      |SELECT v.d, count(p.pt) AS n_conv,
      |       coalesce(CAST(sum(epoch_us(p.pt) - epoch_us(v.vt)) AS BIGINT), 0) AS sum_lag_us
      |FROM v LEFT JOIN p ON v.d = p.d AND v.user_id = p.user_id
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Exact twin of [[graft.operators.Funnel.lagQuantilesDaily]] in
    * the rank-exact regime: the same chained-min CTEs produce each
    * converted user's first→last lag, and the GK summary below
    * 1/(2ε) rows per day returns the element at exactly rank
    * ⌈q·n⌉ — picked here via row_number over the sorted lags, with
    * the IDENTICAL IEEE ceil(q·n) arithmetic on both engines (ties
    * in lag_us can permute rank assignment but not the value at a
    * given rank).
    */
  val funnelLagQuantiles: String =
    """WITH e AS (SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS d, user_id, event_type, ts
      |           FROM events WHERE event_type IN ('view', 'click', 'purchase')),
      |v AS (SELECT d, user_id, min(ts) AS vt FROM e WHERE event_type = 'view' GROUP BY 1, 2),
      |c AS (SELECT e.d, e.user_id, min(e.ts) AS ct FROM e JOIN v ON e.d = v.d AND e.user_id = v.user_id
      |      WHERE e.event_type = 'click' AND e.ts >= v.vt GROUP BY 1, 2),
      |p AS (SELECT e.d, e.user_id, min(e.ts) AS pt FROM e JOIN c ON e.d = c.d AND e.user_id = c.user_id
      |      WHERE e.event_type = 'purchase' AND e.ts >= c.ct GROUP BY 1, 2),
      |l AS (SELECT v.d, epoch_us(p.pt) - epoch_us(v.vt) AS lag_us
      |      FROM v JOIN p ON v.d = p.d AND v.user_id = p.user_id),
      |r AS (SELECT d, lag_us,
      |        row_number() OVER (PARTITION BY d ORDER BY lag_us) AS rk,
      |        count(*) OVER (PARTITION BY d) AS n
      |      FROM l)
      |SELECT d, max(n) AS n_conv,
      |       max(CASE WHEN rk = CAST(ceil(0.5 * n) AS BIGINT) THEN CAST(lag_us AS DOUBLE) END) AS p50,
      |       max(CASE WHEN rk = CAST(ceil(0.9 * n) AS BIGINT) THEN CAST(lag_us AS DOUBLE) END) AS p90,
      |       max(CASE WHEN rk = CAST(ceil(0.99 * n) AS BIGINT) THEN CAST(lag_us AS DOUBLE) END) AS p99
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  /** Exact twin of [[graft.operators.Funnel.sessionDaily]]: q12's
    * session assignment verbatim (lag → flag → running sum over
    * (ts_s, event_id)), session-start day per (user, session), then
    * the chained-min-per-step form within each session over the
    * step-filtered rows.
    */
  val funnelSession: String =
    """WITH e AS (SELECT user_id, event_id, event_type,
      |             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_s FROM events),
      |x AS (SELECT user_id, event_id, event_type, ts_s,
      |        lag(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s, event_id) AS prev_s FROM e),
      |y AS (SELECT user_id, event_id, event_type, ts_s,
      |        CASE WHEN prev_s IS NULL OR ts_s - prev_s > 1800 THEN 1 ELSE 0 END AS is_new FROM x),
      |z AS (SELECT user_id, event_type, ts_s,
      |        CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_s, event_id) AS BIGINT) AS session_id
      |      FROM y),
      |st AS (SELECT user_id, session_id, (min(ts_s) // 86400) * 86400 AS d
      |       FROM z GROUP BY 1, 2),
      |f AS (SELECT user_id, session_id, event_type, ts_s FROM z
      |      WHERE event_type IN ('view', 'click', 'purchase')),
      |v AS (SELECT user_id, session_id, min(ts_s) AS vt FROM f
      |      WHERE event_type = 'view' GROUP BY 1, 2),
      |c AS (SELECT f.user_id, f.session_id, min(f.ts_s) AS ct FROM f
      |      JOIN v ON f.user_id = v.user_id AND f.session_id = v.session_id
      |      WHERE f.event_type = 'click' AND f.ts_s >= v.vt GROUP BY 1, 2),
      |p AS (SELECT f.user_id, f.session_id, min(f.ts_s) AS pt FROM f
      |      JOIN c ON f.user_id = c.user_id AND f.session_id = c.session_id
      |      WHERE f.event_type = 'purchase' AND f.ts_s >= c.ct GROUP BY 1, 2)
      |SELECT st.d, count(*) AS n_step1, count(c.ct) AS n_step2, count(p.pt) AS n_step3
      |FROM v JOIN st ON v.user_id = st.user_id AND v.session_id = st.session_id
      |       LEFT JOIN c ON v.user_id = c.user_id AND v.session_id = c.session_id
      |       LEFT JOIN p ON v.user_id = p.user_id AND v.session_id = p.session_id
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Exact twin of [[graft.operators.Funnel.lagSessionDaily]]:
    * [[funnelSession]]'s chained-min CTEs; a fully converted session
    * contributes its purchase-min − view-min seconds.
    */
  val funnelLagSession: String =
    """WITH e AS (SELECT user_id, event_id, event_type,
      |             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_s FROM events),
      |x AS (SELECT user_id, event_id, event_type, ts_s,
      |        lag(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s, event_id) AS prev_s FROM e),
      |y AS (SELECT user_id, event_id, event_type, ts_s,
      |        CASE WHEN prev_s IS NULL OR ts_s - prev_s > 1800 THEN 1 ELSE 0 END AS is_new FROM x),
      |z AS (SELECT user_id, event_type, ts_s,
      |        CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_s, event_id) AS BIGINT) AS session_id
      |      FROM y),
      |st AS (SELECT user_id, session_id, (min(ts_s) // 86400) * 86400 AS d
      |       FROM z GROUP BY 1, 2),
      |f AS (SELECT user_id, session_id, event_type, ts_s FROM z
      |      WHERE event_type IN ('view', 'click', 'purchase')),
      |v AS (SELECT user_id, session_id, min(ts_s) AS vt FROM f
      |      WHERE event_type = 'view' GROUP BY 1, 2),
      |c AS (SELECT f.user_id, f.session_id, min(f.ts_s) AS ct FROM f
      |      JOIN v ON f.user_id = v.user_id AND f.session_id = v.session_id
      |      WHERE f.event_type = 'click' AND f.ts_s >= v.vt GROUP BY 1, 2),
      |p AS (SELECT f.user_id, f.session_id, min(f.ts_s) AS pt FROM f
      |      JOIN c ON f.user_id = c.user_id AND f.session_id = c.session_id
      |      WHERE f.event_type = 'purchase' AND f.ts_s >= c.ct GROUP BY 1, 2)
      |SELECT st.d, count(p.pt) AS n_conv,
      |       CAST(coalesce(sum(p.pt - v.vt), 0) AS BIGINT) AS sum_lag_s
      |FROM v JOIN st ON v.user_id = st.user_id AND v.session_id = st.session_id
      |       LEFT JOIN c ON v.user_id = c.user_id AND v.session_id = c.session_id
      |       LEFT JOIN p ON v.user_id = p.user_id AND v.session_id = p.session_id
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Exact twin of [[graft.operators.PathAnalysis.topkSession]]:
    * [[funnelSession]]'s session-assignment CTE chain, then each
    * session's first-5-type path in (ts_s, event_id) order, counted
    * per (session-start day, path), top-5 per day with the
    * (count desc, path) tie-break.
    */
  val pathSession: String =
    """WITH e AS (SELECT user_id, event_id, event_type,
      |             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_s FROM events),
      |x AS (SELECT user_id, event_id, event_type, ts_s,
      |        lag(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s, event_id) AS prev_s FROM e),
      |y AS (SELECT user_id, event_id, event_type, ts_s,
      |        CASE WHEN prev_s IS NULL OR ts_s - prev_s > 1800 THEN 1 ELSE 0 END AS is_new FROM x),
      |z AS (SELECT user_id, event_id, event_type, ts_s,
      |        CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_s, event_id) AS BIGINT) AS session_id
      |      FROM y),
      |s AS (SELECT user_id, session_id, (min(ts_s) // 86400) * 86400 AS d,
      |        array_to_string(list_slice(
      |          list(event_type ORDER BY ts_s, event_id), 1, 5), '>') AS path
      |      FROM z GROUP BY 1, 2),
      |c AS (SELECT d, path, count(*) AS n_sessions FROM s GROUP BY 1, 2),
      |r AS (SELECT d, path, n_sessions,
      |        row_number() OVER (PARTITION BY d ORDER BY n_sessions DESC, path) AS rk
      |      FROM c)
      |SELECT d, path, n_sessions FROM r WHERE rk <= 5
      |ORDER BY d, n_sessions DESC, path""".stripMargin

  /** Exact twin of [[graft.operators.PathAnalysis.transitionsSession]]:
    * the same session CTEs, lead in (ts_s, event_id) session order,
    * edges on the session-start day.
    */
  val pathTransitionsSession: String =
    """WITH e AS (SELECT user_id, event_id, event_type,
      |             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_s FROM events),
      |x AS (SELECT user_id, event_id, event_type, ts_s,
      |        lag(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s, event_id) AS prev_s FROM e),
      |y AS (SELECT user_id, event_id, event_type, ts_s,
      |        CASE WHEN prev_s IS NULL OR ts_s - prev_s > 1800 THEN 1 ELSE 0 END AS is_new FROM x),
      |z AS (SELECT user_id, event_id, event_type, ts_s,
      |        CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_s, event_id) AS BIGINT) AS session_id
      |      FROM y),
      |t AS (SELECT min(ts_s) OVER (PARTITION BY user_id, session_id) AS start_s,
      |        event_type AS src_step,
      |        lead(event_type) OVER (PARTITION BY user_id, session_id ORDER BY ts_s, event_id) AS dst_step
      |      FROM z)
      |SELECT (start_s // 86400) * 86400 AS d, src_step, dst_step,
      |       count(*) AS n_trans
      |FROM t WHERE dst_step IS NOT NULL
      |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** Exact twin of [[graft.operators.PathAnalysis.transitionsDaily]]:
    * lead over the same (ts, event_type) per-(day, user) order — the
    * sorted VALUE sequence is unique even when tied rows are
    * interchangeable, so the transition multiset is deterministic on
    * both engines.
    */
  val pathTransitions: String =
    """WITH p AS (SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS d, user_id, event_type,
      |             lead(event_type) OVER (PARTITION BY CAST(epoch(date_trunc('day', ts)) AS BIGINT), user_id
      |                                    ORDER BY ts, event_type) AS dst_step
      |           FROM events)
      |SELECT d, event_type AS src_step, dst_step, count(*) AS n_trans
      |FROM p WHERE dst_step IS NOT NULL
      |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  val sketchFunnel: String =
    """WITH u AS (SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS d, user_id,
      |             max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS s0,
      |             max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS s1,
      |             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS s2
      |           FROM events WHERE event_type IN ('view', 'click', 'purchase')
      |           GROUP BY 1, 2)
      |SELECT d, CAST(sum(s0) AS BIGINT) AS n_view,
      |       CAST(sum(s0 * s1) AS BIGINT) AS n_view_click,
      |       CAST(sum(s0 * s1 * s2) AS BIGINT) AS n_view_click_purchase
      |FROM u GROUP BY d ORDER BY d""".stripMargin

  val sketchHeavyHitters: String =
    """WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents),
      |c AS (SELECT source, token, count(*) AS n_occurrences FROM t GROUP BY 1, 2),
      |r AS (SELECT source, token, n_occurrences,
      |        row_number() OVER (PARTITION BY source
      |                           ORDER BY n_occurrences DESC, token) AS rk
      |      FROM c)
      |SELECT source, token, n_occurrences FROM r WHERE rk <= 10
      |ORDER BY source, n_occurrences DESC, token""".stripMargin

  /** Exact relational twin of
    * [[graft.operators.Attribution.creditDaily]]: conversion↔touch
    * pairs via a plain window-predicate join (the form the banded
    * equi-join replaces), per-conversion ranks via window functions,
    * integer-millionth credit (1000000 // n floors exactly like the
    * Spark side's `div`; the decay weight 2^(6 − lag_days) is an
    * integer shift on both engines, so time-decay needs no
    * cross-engine pow() double). Ties on touch timestamp cannot flip
    * the hash: first/last credit lands on the tied rows' SHARED day,
    * and tied position endpoints carry equal credit.
    */
  val attributionCredit: String =
    """WITH p AS (SELECT user_id, ts AS pts FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, ts AS cts FROM events WHERE event_type = 'click'),
      |j AS (SELECT p.user_id, pts, cts,
      |        (CAST(1 AS BIGINT) << CAST(6 - (epoch_us(pts) - epoch_us(cts)) // 86400000000 AS INT)) AS wt
      |      FROM p JOIN c ON p.user_id = c.user_id
      |      WHERE cts <= pts AND cts > pts - INTERVAL 7 DAY),
      |w AS (SELECT CAST(epoch(date_trunc('day', cts)) AS BIGINT) AS d,
      |        count(*) OVER win AS n, wt, sum(wt) OVER win AS sum_wt,
      |        row_number() OVER (PARTITION BY user_id, pts ORDER BY cts) AS rn
      |      FROM j WINDOW win AS (PARTITION BY user_id, pts)),
      |cr AS (SELECT d, 'linear' AS model, 1000000 // n AS credit FROM w
      |       UNION ALL SELECT d, 'decay', (1000000 * wt) // sum_wt FROM w
      |       UNION ALL SELECT d, 'position',
      |         CASE WHEN n = 1 THEN 1000000
      |              WHEN rn = 1 OR rn = n THEN CASE WHEN n = 2 THEN 500000 ELSE 400000 END
      |              ELSE 200000 // (n - 2) END FROM w
      |       UNION ALL SELECT d, 'first', 1000000 FROM w WHERE rn = 1
      |       UNION ALL SELECT d, 'last', 1000000 FROM w WHERE rn = n)
      |SELECT d, model, CAST(sum(credit) AS BIGINT) AS credit_millionths,
      |       count(*) AS n_touches
      |FROM cr GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** [[attributionCredit]] at a 30-day lookback and a 7-day decay
    * half-life: maxLagDays 29, weight 2^((29 − lag_days) // 7) —
    * exponents 0–4, the same exact shift arithmetic on both engines.
    */
  val attributionCreditHl7: String =
    """WITH p AS (SELECT user_id, ts AS pts FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, ts AS cts FROM events WHERE event_type = 'click'),
      |j AS (SELECT p.user_id, pts, cts,
      |        (CAST(1 AS BIGINT) << CAST((29 - (epoch_us(pts) - epoch_us(cts)) // 86400000000) // 7 AS INT)) AS wt
      |      FROM p JOIN c ON p.user_id = c.user_id
      |      WHERE cts <= pts AND cts > pts - INTERVAL 30 DAY),
      |w AS (SELECT CAST(epoch(date_trunc('day', cts)) AS BIGINT) AS d,
      |        count(*) OVER win AS n, wt, sum(wt) OVER win AS sum_wt,
      |        row_number() OVER (PARTITION BY user_id, pts ORDER BY cts) AS rn
      |      FROM j WINDOW win AS (PARTITION BY user_id, pts)),
      |cr AS (SELECT d, 'linear' AS model, 1000000 // n AS credit FROM w
      |       UNION ALL SELECT d, 'decay', (1000000 * wt) // sum_wt FROM w
      |       UNION ALL SELECT d, 'position',
      |         CASE WHEN n = 1 THEN 1000000
      |              WHEN rn = 1 OR rn = n THEN CASE WHEN n = 2 THEN 500000 ELSE 400000 END
      |              ELSE 200000 // (n - 2) END FROM w
      |       UNION ALL SELECT d, 'first', 1000000 FROM w WHERE rn = 1
      |       UNION ALL SELECT d, 'last', 1000000 FROM w WHERE rn = n)
      |SELECT d, model, CAST(sum(credit) AS BIGINT) AS credit_millionths,
      |       count(*) AS n_touches
      |FROM cr GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Exact twin of [[graft.operators.PathAnalysis.topkDaily]]:
    * per-(day, user) ordered event-type list truncated to 5 steps
    * (ties at one timestamp order by type name, matching the Spark
    * side's (t, event_type) struct sort), counted per (day, path),
    * top-5 per day with the total (count desc, path) tie-break.
    */
  val pathTopk: String =
    """WITH p AS (SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS d, user_id,
      |             array_to_string(list_slice(
      |               list(event_type ORDER BY ts, event_type), 1, 5), '>') AS path
      |           FROM events GROUP BY 1, 2),
      |c AS (SELECT d, path, count(*) AS n_users FROM p GROUP BY 1, 2),
      |r AS (SELECT d, path, n_users,
      |        row_number() OVER (PARTITION BY d ORDER BY n_users DESC, path) AS rk
      |      FROM c)
      |SELECT d, path, n_users FROM r WHERE rk <= 5
      |ORDER BY d, n_users DESC, path""".stripMargin

  /** Exact twin of [[graft.operators.Anomaly.eventVolume]]: the
    * trailing window carries only integer sums (Σn, Σn² — no
    * float-accumulation order to diverge), then the identical IEEE
    * mean/variance/z algebra and floor(1000·z) on both engines.
    */
  val eventsAnomaly: String =
    """WITH c AS (SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS d, event_type,
      |             count(*) AS n_events
      |           FROM events GROUP BY 1, 2),
      |t AS (SELECT d, event_type, n_events,
      |        sum(n_events) OVER w AS s, sum(n_events * n_events) OVER w AS ss,
      |        count(n_events) OVER w AS np
      |      FROM c WINDOW w AS (PARTITION BY event_type ORDER BY d
      |                          ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
      |SELECT d, event_type, n_events,
      |       CASE WHEN ss / 7.0 - (s / 7.0) * (s / 7.0) > 0
      |            THEN CAST(floor(1000.0 * (n_events - s / 7.0)
      |                            / sqrt(ss / 7.0 - (s / 7.0) * (s / 7.0))) AS BIGINT)
      |            ELSE NULL END AS z_milli
      |FROM t WHERE np = 7
      |ORDER BY d, event_type""".stripMargin

  /** Exact twin of [[graft.operators.Anomaly.eventVolumeSeasonal]]:
    * the same count frame windowed twice — trailing-7 observed days
    * per type, and trailing-4 observed SAME-day-of-week days per
    * (type, (d//86400)%7) — identical IEEE algebra, NULL where a
    * window is short or flat, every (day, type) row emitted.
    */
  val eventsAnomalySeasonal: String =
    """WITH c AS (SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS d, event_type,
      |             count(*) AS n_events
      |           FROM events GROUP BY 1, 2),
      |t AS (SELECT d, event_type, n_events,
      |        sum(n_events) OVER w7 AS s7, sum(n_events * n_events) OVER w7 AS ss7,
      |        count(n_events) OVER w7 AS np7,
      |        sum(n_events) OVER w4 AS s4, sum(n_events * n_events) OVER w4 AS ss4,
      |        count(n_events) OVER w4 AS np4
      |      FROM c WINDOW
      |        w7 AS (PARTITION BY event_type ORDER BY d
      |               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING),
      |        w4 AS (PARTITION BY event_type, (d // 86400) % 7 ORDER BY d
      |               ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING))
      |SELECT d, event_type, n_events,
      |       CASE WHEN np7 = 7 AND ss7 / 7.0 - (s7 / 7.0) * (s7 / 7.0) > 0
      |            THEN CAST(floor(1000.0 * (n_events - s7 / 7.0)
      |                            / sqrt(ss7 / 7.0 - (s7 / 7.0) * (s7 / 7.0))) AS BIGINT)
      |            END AS z_milli,
      |       CASE WHEN np4 = 4 AND ss4 / 4.0 - (s4 / 4.0) * (s4 / 4.0) > 0
      |            THEN CAST(floor(1000.0 * (n_events - s4 / 4.0)
      |                            / sqrt(ss4 / 4.0 - (s4 / 4.0) * (s4 / 4.0))) AS BIGINT)
      |            END AS z_sow_milli
      |FROM t ORDER BY d, event_type""".stripMargin

  /** Exact twin of [[graft.operators.Temporal.gapFill]]: per-type
    * dense daily spine via range(), left join to the observed counts,
    * 0-fill / IGNORE NULLS last_value LOCF / gap flag.
    */
  val eventsGapFill: String =
    """WITH c AS (SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS d, event_type,
      |             count(*) AS n
      |           FROM events GROUP BY 1, 2),
      |b AS (SELECT event_type, min(d) AS d0, max(d) AS d1 FROM c GROUP BY 1),
      |s AS (SELECT event_type, unnest(range(d0, d1 + 86400, 86400)) AS d FROM b),
      |j AS (SELECT s.d, s.event_type, c.n
      |      FROM s LEFT JOIN c ON s.d = c.d AND s.event_type = c.event_type)
      |SELECT d, event_type, COALESCE(n, 0) AS n_events,
      |       last_value(n IGNORE NULLS)
      |         OVER (PARTITION BY event_type ORDER BY d
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_locf,
      |       n IS NULL AS is_gap
      |FROM j ORDER BY d, event_type""".stripMargin

  /** Exact twin of [[graft.operators.Cohort.matrixDaily]]: distinct
    * (day, user) activity, first-day cohort via a user window, count
    * per (cohort, age) — (d, user) uniqueness makes count(*) the
    * distinct-user count.
    */
  val cohortMatrix: String =
    """WITH a AS (SELECT DISTINCT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS d,
      |             user_id
      |           FROM events),
      |f AS (SELECT d, min(d) OVER (PARTITION BY user_id) AS cohort_d FROM a)
      |SELECT cohort_d, (d - cohort_d) // 86400 AS age_days, count(*) AS n_active
      |FROM f GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
}
