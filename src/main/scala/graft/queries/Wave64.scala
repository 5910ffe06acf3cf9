package graft.queries

import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.plans.FxLog2

/** Wave 64 — the two standard model-monitoring / feature-screening
  * scores next to the registry's drift detectors: the Population
  * Stability Index between two order cohorts (is the value
  * distribution drifting?) and Weight-of-Evidence / Information Value
  * per categorical feature bin (which feature separates high-value
  * orders?). Both run their logs in [[graft.plans.FxLog2]] fixed
  * point on bounded DISTINCT argument sets (the q_entropy_mi lane),
  * so the whole scorecard hash-matches; log2 units differ from the
  * classic natural-log tables by the constant ln2, and the verdict
  * thresholds are pre-multiplied accordingly.
  */
object Wave64 {

  /** PSI in log2 units: psi = Σ (p_i − q_i)·log2(p_i/q_i) over the
    * baseline-decile bins, with +1 Laplace smoothing inside the log
    * ratio (empty comparison bins stay finite and both engines agree):
    *   log2(p_i/q_i) ≈ fxlog2((cP_i+1)·(nQ+10)) − fxlog2((cQ_i+1)·(nP+10))
    * Baseline = 1997 orders, comparison = 1998; bin edges are the
    * rank-SELECTED baseline deciles (no interpolation formula to
    * drift). The classic 0.1/0.25 bands arrive pre-multiplied by
    * 1/ln2 as micro literals (144270 / 360674).
    *
    * Shape at 100TB: one RankedPrefix pass over the baseline year for
    * the 9 edges (never a global window), one broadcast edge row, two
    * map-side-combined bin counts; everything after is arithmetic on
    * 10 rows, with the log on ≤ 20 distinct integers.
    */
  val driftPsi: Q = {
    val edgeCols = (1 to 9)
    Q(
      "q_drift_psi",
      s"""WITH RECURSIVE bp AS (SELECT
         |    CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
         |    o_orderkey AS okey FROM orders
         |  WHERE EXTRACT(YEAR FROM o_orderdate) = 1997),
         |cq AS (SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
         |  FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1998),
         |rb AS (SELECT cents,
         |    ROW_NUMBER() OVER (ORDER BY cents, okey) AS rk,
         |    COUNT(*) OVER () AS n FROM bp),
         |ed AS (SELECT
         |    ${edgeCols.map(i => s"MAX(CASE WHEN rk = ($i * n) // 10 THEN cents END) AS e$i").mkString(",\n    ")}
         |  FROM rb),
         |bb AS (SELECT CASE
         |    ${edgeCols.map(i => s"WHEN bp.cents <= ed.e$i THEN ${i - 1}").mkString(" ")}
         |    ELSE 9 END AS bin FROM bp, ed),
         |qb AS (SELECT CASE
         |    ${edgeCols.map(i => s"WHEN cq.cents <= ed.e$i THEN ${i - 1}").mkString(" ")}
         |    ELSE 9 END AS bin FROM cq, ed),
         |bins AS (SELECT unnest(range(0, 10)) AS bin),
         |cp AS (SELECT bins.bin, COUNT(bb.bin) AS cnt FROM bins
         |  LEFT JOIN bb ON bb.bin = bins.bin GROUP BY 1),
         |cnq AS (SELECT bins.bin, COUNT(qb.bin) AS cnt FROM bins
         |  LEFT JOIN qb ON qb.bin = bins.bin GROUP BY 1),
         |tt AS (SELECT (SELECT CAST(SUM(cnt) AS BIGINT) FROM cp) AS np,
         |    (SELECT CAST(SUM(cnt) AS BIGINT) FROM cnq) AS nq),
         |pre AS (SELECT cp.bin, cp.cnt AS c_p, cnq.cnt AS c_q,
         |    (cp.cnt + 1) * (tt.nq + 10) AS ap,
         |    (cnq.cnt + 1) * (tt.np + 10) AS aq,
         |    cp.cnt * 1000000 // tt.np AS pp_ppm,
         |    cnq.cnt * 1000000 // tt.nq AS pq_ppm
         |  FROM cp JOIN cnq ON cnq.bin = cp.bin, tt),
         |args AS (SELECT DISTINCT n FROM (
         |  SELECT ap AS n FROM pre UNION ALL SELECT aq AS n FROM pre) ua),
         |${FxLog2.oracleCte("args")},
         |te AS (SELECT pre.bin, pre.c_p, pre.c_q, pre.pp_ppm, pre.pq_ppm,
         |    CAST((pre.pp_ppm - pre.pq_ppm) * (la.r - lb.r) AS BIGINT)
         |      AS term_fx
         |  FROM pre JOIN lg la ON la.n = pre.ap JOIN lg lb ON lb.n = pre.aq),
         |ps AS (SELECT CAST(SUM(CAST(term_fx AS HUGEINT)) // 1073741824
         |    AS BIGINT) AS psi_micro FROM te)
         |SELECT te.bin, CAST(te.c_p AS BIGINT) AS c_p,
         |  CAST(te.c_q AS BIGINT) AS c_q, te.pp_ppm, te.pq_ppm, te.term_fx,
         |  ps.psi_micro,
         |  CAST(CASE WHEN ps.psi_micro < 144270 THEN 0
         |       WHEN ps.psi_micro < 360674 THEN 1 ELSE 2 END AS BIGINT)
         |    AS drift_band
         |FROM te, ps ORDER BY bin""".stripMargin) { (s, d) =>
      import graft.ops.RankedPrefix
      val bp = Tables.load(s, d, "orders")
        .filter(year(col("o_orderdate")) === 1997)
        .select(expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)")
          .as("cents"), col("o_orderkey").as("okey"))
      val cq = Tables.load(s, d, "orders")
        .filter(year(col("o_orderdate")) === 1998)
        .select(expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)")
          .as("cents"))
      val ranked = RankedPrefix.rankedCumsum(
        bp, RankedPrefix.logBucket(col("cents")), bucketDesc = false,
        order = Seq(col("cents"), col("okey")), rankCol = Some("rk"))
      val n = ranked.nRows
      val ed = ranked.df.agg(
        (1 to 9).map(i =>
          max(when(col("rk") === (i * n) / 10, col("cents"))).as(s"e$i")).head,
        (1 to 9).map(i =>
          max(when(col("rk") === (i * n) / 10, col("cents"))).as(s"e$i"))
          .tail: _*)
      def binCase = expr("CASE " +
        (1 to 9).map(i => s"WHEN cents <= e$i THEN ${i - 1}").mkString(" ") +
        " ELSE 9 END")
      import s.implicits._
      val bins = (0L to 9L).toDF("bin")
      val bbM = bp.crossJoin(broadcast(ed))
        .select(binCase.cast("long").as("bin"), lit(1L).as("one"))
      val qbM = cq.crossJoin(broadcast(ed))
        .select(binCase.cast("long").as("bin"), lit(1L).as("one"))
      def cnts(m: org.apache.spark.sql.DataFrame) = bins
        .join(m.groupBy("bin").agg(count(lit(1)).as("c")), Seq("bin"), "left")
        .select(col("bin"), coalesce(col("c"), lit(0L)).as("cnt"))
      val cp = cnts(bbM)
      val cnq = cnts(qbM).withColumnRenamed("cnt", "cntq")
      val nq = cq.count()
      val pre = cp.join(cnq, "bin")
        .select(col("bin"), col("cnt").as("c_p"), col("cntq").as("c_q"),
          ((col("cnt") + 1L) * lit(nq + 10L)).as("ap"),
          ((col("cntq") + 1L) * lit(n + 10L)).as("aq"),
          expr(s"cnt * 1000000 div ${n}L").as("pp_ppm"),
          expr(s"cntq * 1000000 div ${nq}L").as("pq_ppm"))
      val te = pre.withColumn("term_fx",
        expr("""CAST((pp_ppm - pq_ppm) *
               |  (graft_fxlog2(ap) - graft_fxlog2(aq)) AS BIGINT)"""
          .stripMargin))
      val ps = te.agg(expr(
        """CAST(SUM(CAST(term_fx AS DECIMAL(38,0))) div 1073741824
          |  AS BIGINT)""".stripMargin).as("psi_micro"))
      te.crossJoin(broadcast(ps))
        .select(col("bin"), col("c_p"), col("c_q"), col("pp_ppm"),
          col("pq_ppm"), col("term_fx"), col("psi_micro"),
          expr("""CAST(CASE WHEN psi_micro < 144270 THEN 0
                 |     WHEN psi_micro < 360674 THEN 1 ELSE 2 END AS BIGINT)"""
            .stripMargin).as("drift_band"))
        .orderBy("bin")
    }
  }

  /** WoE / IV scorecard in log2 units over two categorical features
    * (market segment, order priority) against the "high-value order"
    * target (above the global median order value, rank-selected):
    *   woe_b = log2((good_b+1)·(B+k) / ((bad_b+1)·(G+k)))   (fx Q30)
    *   iv    = Σ_b (good_b/G − bad_b/B)·woe_b               (micro)
    * — Siddiqi's credit-scorecard screening statistic; the classic
    * 0.02/0.1/0.3 bands arrive pre-multiplied by 1/ln2 as micro
    * literals.
    *
    * Shape at 100TB: the median is one RankedPrefix rank-selection;
    * each feature is one un-hinted dim join + one map-side-combined
    * (bin, y) count; the log runs on ≤ 4·bins distinct integers.
    */
  val featureWoeIv: Q = {
    def featSql(feat: String, expr0: String, join: String) =
      s"""SELECT '$feat' AS feature, $expr0 AS bin,
         |  COUNT(CASE WHEN y = 1 THEN 1 END) AS good,
         |  COUNT(CASE WHEN y = 0 THEN 1 END) AS bad
         |FROM ob $join GROUP BY 1, 2""".stripMargin
    Q(
      "q_feature_woe_iv",
      s"""WITH RECURSIVE o2 AS (SELECT o_orderkey AS okey, o_custkey,
         |    o_orderpriority,
         |    CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
         |  FROM orders),
         |r AS (SELECT okey, cents,
         |    ROW_NUMBER() OVER (ORDER BY cents, okey) AS rk,
         |    COUNT(*) OVER () AS n FROM o2),
         |md AS (SELECT MAX(CASE WHEN rk = (n + 1) // 2 THEN cents END)
         |    AS med FROM r),
         |ob AS (SELECT o2.*, CASE WHEN o2.cents > md.med THEN 1 ELSE 0 END
         |    AS y FROM o2, md),
         |fb AS (
         |${featSql("mktsegment", "c.c_mktsegment",
            "JOIN customer c ON c.c_custkey = ob.o_custkey")}
         |UNION ALL
         |${featSql("orderpriority", "ob.o_orderpriority", "")}),
         |gt AS (SELECT feature, CAST(SUM(good) AS BIGINT) AS g,
         |    CAST(SUM(bad) AS BIGINT) AS b FROM fb GROUP BY 1),
         |pre AS (SELECT fb.feature, fb.bin, fb.good, fb.bad, gt.g, gt.b,
         |    (fb.good + 1) * (gt.b + 5) AS ag, (fb.bad + 1) * (gt.g + 5) AS ab
         |  FROM fb JOIN gt ON gt.feature = fb.feature),
         |args AS (SELECT DISTINCT n FROM (
         |  SELECT ag AS n FROM pre UNION ALL SELECT ab AS n FROM pre) ua),
         |${FxLog2.oracleCte("args")},
         |te AS (SELECT pre.feature, pre.bin,
         |    CAST(pre.good AS BIGINT) AS good, CAST(pre.bad AS BIGINT) AS bad,
         |    CAST(la.r - lb.r AS BIGINT) AS woe_fx,
         |    CAST((pre.good * 1000000 // pre.g - pre.bad * 1000000 // pre.b)
         |         * (la.r - lb.r) AS BIGINT) AS term_fx
         |  FROM pre JOIN lg la ON la.n = pre.ag JOIN lg lb ON lb.n = pre.ab),
         |iv AS (SELECT feature,
         |    CAST(SUM(CAST(term_fx AS HUGEINT)) // 1073741824 AS BIGINT)
         |      AS iv_micro
         |  FROM te GROUP BY 1)
         |SELECT te.feature, te.bin, te.good, te.bad, te.woe_fx, te.term_fx,
         |  iv.iv_micro,
         |  CAST(CASE WHEN iv.iv_micro < 28854 THEN 0
         |       WHEN iv.iv_micro < 144270 THEN 1
         |       WHEN iv.iv_micro < 432808 THEN 2 ELSE 3 END AS BIGINT)
         |    AS strength
         |FROM te JOIN iv ON iv.feature = te.feature
         |ORDER BY te.feature, te.bin""".stripMargin) { (s, d) =>
      import graft.ops.RankedPrefix
      val o2 = Tables.load(s, d, "orders")
        .select(col("o_orderkey").as("okey"), col("o_custkey"),
          col("o_orderpriority"),
          expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").as("cents"))
      val ranked = RankedPrefix.rankedCumsum(
        o2.select(col("cents"), col("okey")),
        RankedPrefix.logBucket(col("cents")), bucketDesc = false,
        order = Seq(col("cents"), col("okey")), rankCol = Some("rk"))
      val n = ranked.nRows
      val medRow = ranked.df.filter(col("rk") === (n + 1) / 2)
        .agg(max(col("cents")).as("med"))
      val ob = o2.crossJoin(broadcast(medRow))
        .withColumn("y", when(col("cents") > col("med"), 1L).otherwise(0L))
      val seg = Tables.load(s, d, "customer")
        .select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("bin"))
      val f1 = ob.join(seg, "o_custkey")
        .groupBy(lit("mktsegment").as("feature"), col("bin"))
        .agg(sum(when(col("y") === 1L, 1L).otherwise(0L)).as("good"),
          sum(when(col("y") === 0L, 1L).otherwise(0L)).as("bad"))
      val f2 = ob
        .groupBy(lit("orderpriority").as("feature"),
          col("o_orderpriority").as("bin"))
        .agg(sum(when(col("y") === 1L, 1L).otherwise(0L)).as("good"),
          sum(when(col("y") === 0L, 1L).otherwise(0L)).as("bad"))
      val fb = f1.unionAll(f2)
      val gt = fb.groupBy("feature")
        .agg(sum(col("good")).as("g"), sum(col("bad")).as("b"))
      val pre = fb.join(gt, "feature")
        .withColumn("ag", (col("good") + 1L) * (col("b") + 5L))
        .withColumn("ab", (col("bad") + 1L) * (col("g") + 5L))
      val te = pre.select(col("feature"), col("bin"),
        col("good").cast("long").as("good"),
        col("bad").cast("long").as("bad"),
        expr("CAST(graft_fxlog2(ag) - graft_fxlog2(ab) AS BIGINT)")
          .as("woe_fx"),
        expr("""CAST((good * 1000000 div g - bad * 1000000 div b) *
               |  (graft_fxlog2(ag) - graft_fxlog2(ab)) AS BIGINT)"""
          .stripMargin).as("term_fx"))
      val iv = te.groupBy("feature")
        .agg(expr("""CAST(SUM(CAST(term_fx AS DECIMAL(38,0)))
                    |  div 1073741824 AS BIGINT)""".stripMargin)
          .as("iv_micro"))
      te.join(broadcast(iv), "feature")
        .select(col("feature"), col("bin"), col("good"), col("bad"),
          col("woe_fx"), col("term_fx"), col("iv_micro"),
          expr("""CAST(CASE WHEN iv_micro < 28854 THEN 0
                 |     WHEN iv_micro < 144270 THEN 1
                 |     WHEN iv_micro < 432808 THEN 2 ELSE 3 END AS BIGINT)"""
            .stripMargin).as("strength"))
        .orderBy("feature", "bin")
    }
  }

  val all: Seq[Q] = Seq(driftPsi, featureWoeIv)
}
