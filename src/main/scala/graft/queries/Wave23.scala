package graft.queries

import org.apache.spark.sql.functions._
import graft.{Q, Session, Tables}

/** Wave 23 — closed-form estimation: per-group two-feature OLS via
  * Cramer's rule over exact central moments, and empirical-Bayes
  * (beta-binomial, method-of-moments) smoothing of per-user
  * conversion rates (Robbins 1956; the batting-average classic).
  * Both collapse the data to moments in one aggregate, then finish
  * with truncating fixed-point divisions that hash-match cross-engine.
  */
object Wave23 {

  /** Per-returnflag OLS of revenue cents on (part size, quantity):
    *   y = b0 + b1*p_size + b2*qty
    * from six raw sums per group. Central moments use the m-form
    * m_ab = S_ab - S_a*S_b//n (per-row scale, NOT the n*S form — the
    * n-scaled cross products overflow DECIMAL(38) past ~1e9 rows),
    * then Cramer:  b1 = (m22*m1y - m12*m2y)*1e6 // det  etc., the
    * intercept in cents, and R^2 in ppm from the explained sum
    * (b1*m1y + b2*m2y) // 1e6 against myy. Cross products run in
    * DECIMAL(38)/HUGEINT; every division is truncating.
    *
    * Shape at 100TB: one un-hinted dim join (part is data-sized —
    * stats/AQE broadcast while it fits), one
    * group-keyed aggregate to 3 moment rows, scalar math on those
    * rows. Nothing after the aggregate is data-sized.
    */
  val olsMulti: Q = {
    // shared scalar tail (defs: CLAUDE.md val-init-order lore) —
    // identical text for Spark (div, DECIMAL(38,0)) and DuckDB
    // (//, HUGEINT). Every multiplication is forced into the wide
    // type FIRST (Spark's div returns LONG, so a long*long product
    // before the cast would silently wrap at scale), and each output
    // does exactly ONE truncating division.
    def tail(idiv: String, big: String => String): String = {
      def m(ab: String, a: String, b: String) =
        big(s"($ab - ${big(a)} * $b $idiv n)")
      s"""SELECT flag, n, b1_ppm, b2_ppm,
         |  CAST((sy - (${big("b1_ppm")} * s1 + ${big("b2_ppm")} * s2)
         |    $idiv 1000000) $idiv n AS BIGINT) AS b0_c,
         |  CAST(CASE WHEN myy > 0 THEN
         |      (${big("b1_ppm")} * m1y + ${big("b2_ppm")} * m2y) $idiv myy
         |    END AS BIGINT) AS r2_ppm
         |FROM (SELECT flag, n, s1, s2, sy, m1y, m2y, myy,
         |    CAST((m22 * m1y - m12 * m2y) * 1000000 $idiv det AS BIGINT)
         |      AS b1_ppm,
         |    CAST((m11 * m2y - m12 * m1y) * 1000000 $idiv det AS BIGINT)
         |      AS b2_ppm
         |  FROM (SELECT flag, n, s1, s2, sy,
         |      ${m("s11", "s1", "s1")} AS m11,
         |      ${m("s22", "s2", "s2")} AS m22,
         |      ${m("s12", "s1", "s2")} AS m12,
         |      ${m("s1y", "s1", "sy")} AS m1y,
         |      ${m("s2y", "s2", "sy")} AS m2y,
         |      ${m("syy", "sy", "sy")} AS myy,
         |      ${m("s11", "s1", "s1")} * ${m("s22", "s2", "s2")}
         |        - ${m("s12", "s1", "s2")} * ${m("s12", "s1", "s2")}
         |        AS det
         |    FROM mom) dd
         |  WHERE det <> 0) d
         |ORDER BY flag""".stripMargin
    }
    Q(
      "q_ols_multi",
      s"""WITH base AS (SELECT l.l_returnflag AS flag,
         |    CAST(p.p_size AS BIGINT) AS x1,
         |    CAST(ROUND(l.l_quantity, 0) AS BIGINT) AS x2,
         |    CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT) AS y
         |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
         |mom AS (SELECT flag, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(x1) AS BIGINT) AS s1, CAST(SUM(x2) AS BIGINT) AS s2,
         |    CAST(SUM(y) AS BIGINT) AS sy,
         |    CAST(SUM(x1 * x1) AS BIGINT) AS s11,
         |    CAST(SUM(x2 * x2) AS BIGINT) AS s22,
         |    CAST(SUM(x1 * x2) AS BIGINT) AS s12,
         |    CAST(SUM(x1 * y) AS HUGEINT) AS s1y,
         |    CAST(SUM(x2 * y) AS HUGEINT) AS s2y,
         |    SUM(CAST(y AS HUGEINT) * y) AS syy
         |  FROM base GROUP BY 1)
         |${tail("//", a => s"CAST($a AS HUGEINT)")}""".stripMargin) {
      (s, d) =>
      val np = Session.partitions(s)
      val li = Tables.load(s, d, "lineitem").repartition(np)
      val part = Tables.load(s, d, "part")
        .select(col("p_partkey").as("l_partkey"),
          col("p_size").cast("long").as("x1"))
      val base = li.join(part, "l_partkey")
        .select(col("l_returnflag").as("flag"), col("x1"),
          expr("CAST(ROUND(l_quantity, 0) AS BIGINT)").as("x2"),
          expr("CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)").as("y"))
      val mom = base.groupBy("flag")
        .agg(count(lit(1)).as("n"),
          sum("x1").as("s1"), sum("x2").as("s2"), sum("y").as("sy"),
          sum(expr("x1 * x1")).as("s11"),
          sum(expr("x2 * x2")).as("s22"),
          sum(expr("x1 * x2")).as("s12"),
          sum(expr("CAST(x1 * y AS DECIMAL(38,0))")).as("s1y"),
          sum(expr("CAST(x2 * y AS DECIMAL(38,0))")).as("s2y"),
          sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
      mom.createOrReplaceTempView("w23_mom")
      s.sql(tail("div", a => s"CAST($a AS DECIMAL(38,0))")
        .replace("FROM mom", "FROM w23_mom"))
    }
  }

  /** Empirical-Bayes smoothing of per-user purchase-conversion rates:
    * raw rate = purchases/events in ppm; the beta-binomial prior comes
    * from method-of-moments over the user rates (m = mean rate, v =
    * mean squared deviation, prior strength K = m(1-m)/v - 1), and
    * each user shrinks toward the prior mean:
    *   smoothed = (conv*1e6 + m*K) // (n + K).
    * Degenerate priors (v = 0 or K <= 0 — shrinkage undefined) fall
    * back to the raw rate. Every step is truncating integer ppm math.
    *
    * Shape at 100TB: one user-keyed aggregate, one one-row prior
    * broadcast back over the user frame. The d^2 sum runs in
    * DECIMAL(38)/HUGEINT (ppm^2 times users passes BIGINT near 1e7
    * users).
    */
  val ebayesRates: Q = Q(
    "q_ebayes_rates",
    """WITH u AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS conv
      |  FROM events GROUP BY 1),
      |r AS (SELECT user_id, n, conv, conv * 1000000 // n AS raw_ppm
      |  FROM u),
      |pm AS (SELECT CAST(SUM(raw_ppm) // COUNT(*) AS BIGINT) AS m
      |  FROM r),
      |pv AS (SELECT CAST(SUM(CAST((raw_ppm - pm.m) AS HUGEINT)
      |      * (raw_ppm - pm.m)) // COUNT(*) AS BIGINT) AS v, pm.m
      |  FROM r, pm GROUP BY pm.m),
      |k AS (SELECT m, v,
      |    CASE WHEN v > 0 THEN m * (1000000 - m) // v - 1
      |      ELSE 0 END AS kk
      |  FROM pv)
      |SELECT r.user_id, r.n, r.conv, r.raw_ppm, k.m AS prior_ppm,
      |  CAST(CASE WHEN k.kk > 0 THEN
      |      (r.conv * 1000000 + k.m * k.kk) // (r.n + k.kk)
      |    ELSE r.raw_ppm END AS BIGINT) AS smoothed_ppm
      |FROM r, k ORDER BY r.user_id""".stripMargin) { (s, d) =>
    val np = Session.partitions(s)
    val r = Tables.load(s, d, "events").repartition(np, col("user_id"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("conv"))
      .withColumn("raw_ppm", expr("conv * 1000000 div n"))
    val pm = r.agg(expr("CAST(SUM(raw_ppm) div COUNT(*) AS BIGINT)").as("m"))
    val pv = r.crossJoin(broadcast(pm))
      .agg(
        expr("""CAST(SUM(CAST(raw_ppm - m AS DECIMAL(38,0))
               |  * (raw_ppm - m)) div COUNT(*) AS BIGINT)""".stripMargin)
          .as("v"),
        max("m").as("m"))
    val k = pv.select(col("m"), col("v"),
      expr("CASE WHEN v > 0 THEN m * (1000000 - m) div v - 1 ELSE 0 END")
        .as("kk"))
    r.crossJoin(broadcast(k))
      .select(col("user_id"), col("n"), col("conv"), col("raw_ppm"),
        col("m").as("prior_ppm"),
        expr("""CAST(CASE WHEN kk > 0 THEN
               |    (conv * 1000000 + m * kk) div (n + kk)
               |  ELSE raw_ppm END AS BIGINT)""".stripMargin)
          .as("smoothed_ppm"))
      .orderBy("user_id")
  }

  val all: Seq[Q] = Seq(olsMulti, ebayesRates)
}
