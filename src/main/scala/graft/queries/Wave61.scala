package graft.queries

import org.apache.spark.sql.functions._
import graft.{Q, Session, Tables}

/** Wave 61 — TPC-H Q10 (returned-item reporting, the third canonical
  * decision-support shape after Wave33's Q3/Q5) and Neyman-allocated
  * stratified sampling design (how many customers to sample per
  * segment under a fixed audit budget — the sampling-DESIGN primitive
  * next to the registry's samplers).
  */
object Wave61 {

  private val Q10Lo = "1997-10-01"
  private val Q10Hi = "1998-01-01"

  /** TPC-H Q10 adapted: customers who returned items ('R' lineitems
    * against orders placed in 1997Q4 — this corpus's order dates run
    * 1995..2001), ranked by lost revenue in the
    * exact integer micro form cents·(10000−bps), top 20 with their
    * nation and account balance in cents.
    *
    * Shape at 100TB: nation is the only pinned broadcast; customer
    * is data-sized, so customer⋈nation joins into the quarter-
    * filtered orders (partition-prunable predicate) with NO hint —
    * stats/AQE broadcast it while it fits, degrade to a shuffle past
    * the 8GB limit. orders→lineitem is the one big equi-join with the
    * returnflag filter pushed to the lineitem scan, and the global
    * top-20 is ORDER BY + LIMIT — a TakeOrdered, never a full sort.
    */
  val tpchQ10: Q = Q(
    "q_tpch_q10_returns",
    s"""SELECT c.c_custkey, c.c_name,
       |  CAST(SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)
       |    * (10000 - CAST(ROUND(l.l_discount * 10000, 0) AS BIGINT)))
       |    AS BIGINT) AS rev_micros,
       |  CAST(ROUND(c.c_acctbal * 100, 0) AS BIGINT) AS acctbal_cents,
       |  n.n_name
       |FROM customer c
       |JOIN nation n ON n.n_nationkey = c.c_nationkey
       |JOIN orders o ON o.o_custkey = c.c_custkey
       |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       |WHERE o.o_orderdate >= TIMESTAMP '$Q10Lo'
       |  AND o.o_orderdate < TIMESTAMP '$Q10Hi'
       |  AND l.l_returnflag = 'R'
       |GROUP BY 1, 2, 4, 5
       |ORDER BY rev_micros DESC, c.c_custkey
       |LIMIT 20""".stripMargin) { (s, d) =>
    val np = Session.partitions(s)
    val cust = Tables.load(s, d, "customer")
      .join(broadcast(Tables.load(s, d, "nation")
        .select(col("n_nationkey").as("c_nationkey"), col("n_name"))),
        "c_nationkey")
      .select(col("c_custkey").as("o_custkey"), col("c_name"),
        expr("CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)")
          .as("acctbal_cents"), col("n_name"))
    val ord = Tables.load(s, d, "orders")
      .filter(col("o_orderdate") >= lit(Q10Lo).cast("timestamp") &&
        col("o_orderdate") < lit(Q10Hi).cast("timestamp"))
      .join(cust, "o_custkey")
      .select(col("o_orderkey").as("l_orderkey"),
        col("o_custkey").as("c_custkey"), col("c_name"),
        col("acctbal_cents"), col("n_name"))
    Tables.load(s, d, "lineitem").repartition(np)
      .filter(col("l_returnflag") === "R")
      .join(ord, "l_orderkey")
      .groupBy("c_custkey", "c_name", "acctbal_cents", "n_name")
      .agg(sum(expr("""CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                      |  * (10000 - CAST(ROUND(l_discount * 10000, 0) AS BIGINT))"""
        .stripMargin)).as("rev_micros"))
      .select(col("c_custkey"), col("c_name"), col("rev_micros"),
        col("acctbal_cents"), col("n_name"))
      .orderBy(col("rev_micros").desc, col("c_custkey"))
      .limit(20)
  }

  /** Stratified-sample audit budget. */
  private val Budget = 600L

  /** Neyman allocation (Neyman 1934; Cochran §5.5): under a fixed
    * budget B, sample each stratum h proportionally to N_h·S_h — the
    * variance-minimizing design for estimating mean spend. Strata are
    * market segments; S_h is the integer population std-dev of
    * per-customer spend in WHOLE DOLLARS:
    *   var_h = (N·Σx² − (Σx)²) div N²   (m-form, DECIMAL(38) safe)
    *   S_h   = floor(sqrt(var_h))       (var < 2^53 ⇒ the one
    *           IEEE-exact libm call — the q_sample_temperature rule)
    * Integer weights w_h = N_h·S_h divide the budget by largest
    * remainder (the q_quota_largest_remainder idiom), so allocations
    * sum to B exactly. (ScaleOps' q_sample_stratified is the
    * hash-gated row DRAW; this is the allocation DESIGN — hence the
    * _neyman name.)
    *
    * Shape at 100TB: one customer aggregate, one broadcast dim join,
    * one 5-row segment fold; the ranking window is a BoundedWindow
    * over the segment dictionary.
    */
  val sampleStratified: Q = Q(
    "q_sample_neyman",
    s"""WITH cu AS (SELECT o.o_custkey AS ck,
       |    CAST(SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT)) // 100
       |      AS BIGINT) AS dollars
       |  FROM orders o GROUP BY 1),
       |cs AS (SELECT c.c_mktsegment AS seg, cu.dollars
       |  FROM cu JOIN customer c ON c.c_custkey = cu.ck),
       |st AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS nh,
       |    CAST(SUM(dollars) AS BIGINT) AS sx,
       |    CAST(SUM(CAST(dollars AS HUGEINT) * dollars) AS HUGEINT) AS sxx
       |  FROM cs GROUP BY 1),
       |v AS (SELECT seg, nh, sx,
       |    CAST((nh * sxx - CAST(sx AS HUGEINT) * sx)
       |         // (CAST(nh AS HUGEINT) * nh) AS BIGINT) AS var_d
       |  FROM st),
       |sd AS (SELECT seg, nh, sx, var_d,
       |    CAST(floor(sqrt(CAST(var_d AS DOUBLE))) AS BIGINT) AS s_d
       |  FROM v),
       |w AS (SELECT seg, nh, sx, var_d, s_d, nh * s_d AS wt FROM sd),
       |t AS (SELECT CAST(SUM(wt) AS BIGINT) AS tot FROM w),
       |fl AS (SELECT w.seg, w.nh, w.sx, w.var_d, w.s_d, w.wt,
       |    w.wt * $Budget // t.tot AS base, w.wt * $Budget % t.tot AS rem
       |  FROM w, t),
       |lt AS (SELECT CAST($Budget - SUM(base) AS BIGINT) AS leftover FROM fl),
       |rk AS (SELECT seg, nh, sx, var_d, s_d, wt, base, rem,
       |    ROW_NUMBER() OVER (ORDER BY rem DESC, seg) AS rr FROM fl)
       |SELECT rk.seg, rk.nh, rk.sx AS sum_dollars, rk.var_d, rk.s_d,
       |  CAST(rk.wt AS BIGINT) AS weight, CAST(rk.base AS BIGINT) AS base,
       |  CAST(rk.base + CASE WHEN rk.rr <= lt.leftover THEN 1 ELSE 0 END
       |    AS BIGINT) AS alloc
       |FROM rk, lt ORDER BY rk.seg""".stripMargin) { (s, d) =>
    import graft.ops.BoundedWindow
    val cu = Tables.load(s, d, "orders")
      .groupBy(col("o_custkey").as("ck"))
      .agg(expr("""CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                  |  div 100 AS BIGINT)""".stripMargin).as("dollars"))
    val cs = cu.join(Tables.load(s, d, "customer")
      .select(col("c_custkey").as("ck"), col("c_mktsegment").as("seg")),
      "ck")
    val st = cs.groupBy("seg")
      .agg(count(lit(1)).as("nh"), sum(col("dollars")).as("sx"),
        sum(expr("CAST(dollars AS DECIMAL(38,0)) * dollars")).as("sxx"))
    val v = st.withColumn("var_d",
      expr("""CAST((nh * sxx - CAST(sx AS DECIMAL(38,0)) * sx)
             |     div (CAST(nh AS DECIMAL(38,0)) * nh) AS BIGINT)"""
        .stripMargin))
    val sd = v.withColumn("s_d",
      expr("CAST(floor(sqrt(CAST(var_d AS DOUBLE))) AS BIGINT)"))
    val w = sd.withColumn("wt", col("nh") * col("s_d"))
    val t = w.agg(sum(col("wt")).cast("long").as("tot"))
    val fl = w.crossJoin(broadcast(t))
      .withColumn("base", expr(s"wt * $Budget div tot"))
      .withColumn("rem", expr(s"wt * $Budget % tot"))
    val lt = fl.agg((lit(Budget) - sum(col("base"))).cast("long")
      .as("leftover"))
    val rk = fl.withColumn("rr", row_number().over(
      BoundedWindow.singleRef(col("rem"), col("rem").desc, col("seg").asc)))
    rk.crossJoin(broadcast(lt))
      .select(col("seg"), col("nh"), col("sx").cast("long").as("sum_dollars"),
        col("var_d"), col("s_d"), col("wt").cast("long").as("weight"),
        col("base").cast("long").as("base"),
        expr("CAST(base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS BIGINT)")
          .as("alloc"))
      .orderBy("seg")
  }

  val all: Seq[Q] = Seq(tpchQ10, sampleStratified)
}
