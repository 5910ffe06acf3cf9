package graft.queries

import org.apache.spark.sql.functions._
import graft.{Q, Session, Tables}

/** Wave 29 — econometrics and survey statistics: instrumental-variable
  * estimation (Wald 1940; the 2SLS single-instrument closed form) and
  * iterative proportional fitting / raking (Deming & Stephan 1940) of
  * a weight table to target margins. Both reduce the data to exact
  * integer moments / cell counts, then finish in truncating fixed
  * point — hash-safe cross-engine.
  */
object Wave29 {

  /** Per-returnflag IV estimate of revenue cents on quantity, with
    * part size as the instrument: beta_iv = m_zy*1e6 // m_zx next to
    * the OLS beta m_xy*1e6 // m_xx and the first-stage slope
    * m_zx*1e6 // m_zz (the instrument-strength readout). Central
    * moments use the m-form m_ab = S_ab - S_a*S_b//n in
    * DECIMAL(38)/HUGEINT — the n-scaled form overflows at scale
    * (the q_ols_multi lesson).
    *
    * Shape at 100TB: one un-hinted dim join (part is data-sized —
    * stats/AQE broadcast while it fits), one group-keyed moment
    * aggregate, scalar math on 3 rows.
    */
  val causalIv: Q = {
    def tail(idiv: String, big: String => String): String = {
      def m(ab: String, a: String, b: String) =
        big(s"($ab - ${big(a)} * $b $idiv n)")
      s"""SELECT flag, n,
         |  CAST(${m("sxy", "sx", "sy")} * 1000000
         |    $idiv ${m("sxx", "sx", "sx")} AS BIGINT) AS beta_ols_ppm,
         |  CAST(${m("szy", "sz", "sy")} * 1000000
         |    $idiv ${m("szx", "sz", "sx")} AS BIGINT) AS beta_iv_ppm,
         |  CAST(${m("szx", "sz", "sx")} * 1000000
         |    $idiv ${m("szz", "sz", "sz")} AS BIGINT) AS first_stage_ppm
         |FROM mom
         |WHERE ${m("szx", "sz", "sx")} <> 0 AND ${m("sxx", "sx", "sx")} <> 0
         |  AND ${m("szz", "sz", "sz")} <> 0
         |ORDER BY flag""".stripMargin
    }
    Q(
      "q_causal_iv",
      s"""WITH base AS (SELECT l.l_returnflag AS flag,
         |    CAST(p.p_size AS BIGINT) AS z,
         |    CAST(ROUND(l.l_quantity, 0) AS BIGINT) AS x,
         |    CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT) AS y
         |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
         |mom AS (SELECT flag, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(z) AS BIGINT) AS sz, CAST(SUM(x) AS BIGINT) AS sx,
         |    CAST(SUM(y) AS BIGINT) AS sy,
         |    CAST(SUM(z * z) AS BIGINT) AS szz,
         |    CAST(SUM(x * x) AS BIGINT) AS sxx,
         |    CAST(SUM(z * x) AS BIGINT) AS szx,
         |    CAST(SUM(z * y) AS HUGEINT) AS szy,
         |    CAST(SUM(x * y) AS HUGEINT) AS sxy
         |  FROM base GROUP BY 1)
         |${tail("//", a => s"CAST($a AS HUGEINT)")}""".stripMargin) {
      (s, d) =>
      val np = Session.partitions(s)
      val part = Tables.load(s, d, "part")
        .select(col("p_partkey").as("l_partkey"),
          col("p_size").cast("long").as("z"))
      val mom = Tables.load(s, d, "lineitem").repartition(np)
        .join(part, "l_partkey")
        .select(col("l_returnflag").as("flag"), col("z"),
          expr("CAST(ROUND(l_quantity, 0) AS BIGINT)").as("x"),
          expr("CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)").as("y"))
        .groupBy("flag")
        .agg(count(lit(1)).as("n"),
          sum("z").as("sz"), sum("x").as("sx"), sum("y").as("sy"),
          sum(expr("z * z")).as("szz"),
          sum(expr("x * x")).as("sxx"),
          sum(expr("z * x")).as("szx"),
          sum(expr("CAST(z * y AS DECIMAL(38,0))")).as("szy"),
          sum(expr("CAST(x * y AS DECIMAL(38,0))")).as("sxy"))
      Q.sql(s, tail("div", a => s"CAST($a AS DECIMAL(38,0))"), "mom" -> mom)
    }
  }

  private val RakeRounds = 4

  /** Raking (iterative proportional fitting): the customer count table
    * by (market segment x region) adjusts toward TARGET margins — each
    * dimension's share of order revenue, scaled to the customer total
    * — by $RakeRounds row/column scaling rounds in micro fixed point:
    *   f_margin = T * 1e6 * 1e6 // sum(w in margin);  w' = w * f // 1e6.
    * The weights analysts attach to panels/surveys so both dimensions
    * match known totals at once. Truncating ppm scaling each half-step
    * keeps both engines bit-equal (exact IPF converges only in the
    * limit anyway; the FIXED round count is the contract).
    *
    * Shape at 100TB: two aggregates collapse the data to a 25-cell
    * table + two margin dictionaries; the rounds are margin-keyed
    * joins over bounded frames.
    */
  val weightRaking: Q = {
    def roundSql(r: Int): String = {
      val prev = if (r == 1) "w0" else s"w${r - 1}b"
      s"""w${r}a AS (SELECT w.seg, w.reg,
         |    CAST(CAST(w.w AS HUGEINT)
         |      * (CAST(ts.t AS HUGEINT) * 1000000 * 1000000 // rs.sw)
         |      // 1000000 AS BIGINT) AS w
         |  FROM $prev w
         |  JOIN (SELECT seg, CAST(SUM(w) AS BIGINT) AS sw FROM $prev
         |        GROUP BY 1) rs ON rs.seg = w.seg
         |  JOIN tseg ts ON ts.seg = w.seg),
         |w${r}b AS MATERIALIZED (SELECT w.seg, w.reg,
         |    CAST(CAST(w.w AS HUGEINT)
         |      * (CAST(tr.t AS HUGEINT) * 1000000 * 1000000 // cs.sw)
         |      // 1000000 AS BIGINT) AS w
         |  FROM w${r}a w
         |  JOIN (SELECT reg, CAST(SUM(w) AS BIGINT) AS sw FROM w${r}a
         |        GROUP BY 1) cs ON cs.reg = w.reg
         |  JOIN treg tr ON tr.reg = w.reg)""".stripMargin
    }
    val rounds = (1 to RakeRounds).map(roundSql).mkString(",\n")
    Q(
      "q_weight_raking",
      s"""WITH cust AS (SELECT c.c_custkey, c.c_mktsegment AS seg,
         |    n.n_regionkey AS reg
         |  FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey),
         |cells AS (SELECT seg, reg, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM cust GROUP BY 1, 2),
         |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM cells),
         |rev AS (SELECT cu.seg, cu.reg,
         |    CAST(SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT))
         |      AS BIGINT) AS rv
         |  FROM orders o JOIN cust cu ON cu.c_custkey = o.o_custkey
         |  GROUP BY 1, 2),
         |rt AS (SELECT CAST(SUM(rv) AS BIGINT) AS rvt FROM rev),
         |tseg AS MATERIALIZED (SELECT rev.seg,
         |    CAST(SUM(rev.rv) * tot.nt // rt.rvt AS BIGINT) AS t
         |  FROM rev, tot, rt GROUP BY 1, tot.nt, rt.rvt),
         |treg AS MATERIALIZED (SELECT rev.reg,
         |    CAST(SUM(rev.rv) * tot.nt // rt.rvt AS BIGINT) AS t
         |  FROM rev, tot, rt GROUP BY 1, tot.nt, rt.rvt),
         |w0 AS MATERIALIZED (SELECT seg, reg, n * 1000000 AS w FROM cells),
         |$rounds
         |SELECT w.seg, w.reg, c.n, CAST(w.w AS BIGINT) AS w_fx
         |FROM w${RakeRounds}b w JOIN cells c ON c.seg = w.seg
         |  AND c.reg = w.reg
         |ORDER BY w.seg, w.reg""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.DataFrame
      val cust = Tables.load(s, d, "customer")
        .join(broadcast(Tables.load(s, d, "nation")
          .select(col("n_nationkey").as("c_nationkey"),
            col("n_regionkey").cast("long").as("reg"))), "c_nationkey")
        .select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("seg"), col("reg"))
      val cells = cust.groupBy("seg", "reg").agg(count(lit(1)).as("n"))
      val rev = Tables.load(s, d, "orders")
        .join(cust, "o_custkey")
        .groupBy("seg", "reg")
        .agg(sum(expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)"))
          .as("rv"))
      // The carried IPF matrix is the (mktsegment x region) grid —
      // <= 25 cells at ANY corpus scale (both axes are fixed
      // dictionaries), the same boundedness that justifies
      // q_eval_bradley_terry's driver-side MM recursion and
      // q_markov_absorption's dictionary solve. The data-sized work is
      // exactly TWO corpus aggregates (cells, rev — each one map-side-
      // combined shuffle); the 2x4 scaling half-steps then run on the
      // driver in exact BigInt, mirroring the previous per-half-step
      // Spark plan bit-for-bit (truncating `div` == BigInt / on
      // positives; inner (t*1e12 div sw) first, then *w div 1e6 —
      // identical operation order and intermediates). Replaces 11
      // sequential fresh-leaf checkpoint jobs over 25-row frames with
      // two collects (bounded, auditable) — isolated sf0.1 ~3.2s ->
      // ~1s, and at 100TB the half-steps cost nothing instead of 11
      // scheduler round-trips.
      val cellRows = cells.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val revRows = rev.collect()
        .map(r => ((r.getString(0), r.getLong(1)), BigInt(r.getLong(2))))
      // Boundedness tripwire: the driver solve is
      // only legal because the grid is the (mktsegment x region)
      // product of two fixed dictionaries — 5 x 5 today. Fail LOUD if
      // a future edit generalizes an axis into something data-sized
      // rather than silently growing a driver collect.
      require(cellRows.length <= 64 && revRows.length <= 64,
        s"q_weight_raking: IPF grid must stay dictionary-bounded " +
          s"(got ${cellRows.length} cells / ${revRows.length} rev cells)")
      val nt = BigInt(cellRows.map(_._3).sum)
      val rvt = revRows.map(_._2).sum
      // Margin invariant: every scaling denominator below
      // (rvt, rs(sg), cs(rg)) must be positive — revenue cents are
      // positive and every kept cell carries weight, so a zero margin
      // means the data contract broke; the old Spark DECIMAL-div plan
      // degraded to NULL rows there (ansi=false) where BigInt `/`
      // would throw an opaque ArithmeticException mid-round. Assert
      // with a named error instead. (Also note: the old BIGINT
      // rvs * nt product could wrap at extreme scale while BigInt is
      // exact — exactness is the CORRECT reading of the recursion,
      // and the gated SFs are nowhere near the wrap point.)
      require(rvt > 0, "q_weight_raking: total revenue margin is 0")
      val e6 = BigInt(1000000); val e12 = e6 * e6
      val tseg: Map[String, BigInt] = revRows.groupBy(_._1._1)
        .map { case (sg, xs) => sg -> xs.map(_._2).sum * nt / rvt }
      val treg: Map[Long, BigInt] = revRows.groupBy(_._1._2)
        .map { case (rg, xs) => rg -> xs.map(_._2).sum * nt / rvt }
      // w0 = n * 1e6 over all cells; each half-step keeps exactly the
      // cells whose margin key exists (the Spark inner join's rows)
      var w: Seq[((String, Long), BigInt)] =
        cellRows.toSeq.map { case (sg, rg, n) => (sg, rg) -> BigInt(n) * e6 }
      for (_ <- 1 to RakeRounds) {
        val wSeg = w.filter { case ((sg, _), _) => tseg.contains(sg) }
        val rs = wSeg.groupBy(_._1._1)
          .map { case (sg, xs) => sg -> xs.map(_._2).sum }
        rs.foreach { case (sg, s) => require(s > 0,
          s"q_weight_raking: segment margin hit 0 for '$sg'") }
        w = wSeg.map { case ((sg, rg), ww) =>
          (sg, rg) -> ww * (tseg(sg) * e12 / rs(sg)) / e6 }
        val wReg = w.filter { case ((_, rg), _) => treg.contains(rg) }
        val cs = wReg.groupBy(_._1._2)
          .map { case (rg, xs) => rg -> xs.map(_._2).sum }
        cs.foreach { case (rg, s) => require(s > 0,
          s"q_weight_raking: region margin hit 0 for region $rg") }
        w = wReg.map { case ((sg, rg), ww) =>
          (sg, rg) -> ww * (treg(rg) * e12 / cs(rg)) / e6 }
      }
      val nByCell = cellRows.map { case (sg, rg, n) => (sg, rg) -> n }.toMap
      val out = w.map { case ((sg, rg), ww) =>
        (sg, rg, nByCell((sg, rg)), ww.toLong) }
      import s.implicits._
      out.toDF("seg", "reg", "n", "w_fx").orderBy("seg", "reg")
    }
  }

  val all: Seq[Q] = Seq(causalIv, weightRaking)
}
