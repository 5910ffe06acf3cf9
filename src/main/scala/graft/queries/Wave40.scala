package graft.queries

import org.apache.spark.sql.functions._
import graft.{Q, Session, Tables}

/** Wave 40 — ranking agreement and observational causal effect:
  * rank-biased overlap between the suite's sparse and dense rankings
  * (Webber et al., TOIS 2010) and inverse-propensity-weighted ATE
  * with binned propensities (Horvitz-Thompson / Hájek). Both exact
  * integer; RBO's geometric weights are Scala-generated literals so
  * neither engine ever evaluates a power.
  */
object Wave40 {

  private val RboDepth = 20

  /** Suffix weights W(m) = sum_{d=m..20} (w_d / d) in pico (1e12)
    * units, w_d = floor(0.1 * 0.9^(d-1) * 1e12) — computed exactly in
    * BigDecimal at build time and emitted as the SAME literals into
    * both engines. A pair overlapping from depth m contributes W(m)
    * to the probe's RBO, which telescopes the per-depth overlap sum
    * into one value per matched pair. */
  private val rboSuffix: IndexedSeq[Long] = {
    val p = BigDecimal("0.9")
    val wd = (1 to RboDepth).map { d =>
      ((BigDecimal(1) - p) * p.pow(d - 1) * BigDecimal(1000000000000L))
        .setScale(0, BigDecimal.RoundingMode.FLOOR).toLongExact
    }
    (1 to RboDepth).map(m => (m to RboDepth).map(d => wd(d - 1) / d).sum)
  }

  private def rboCase(col: String): String =
    s"CASE $col " + (1 to RboDepth)
      .map(m => s"WHEN $m THEN ${rboSuffix(m - 1)}")
      .mkString(" ") + " ELSE 0 END"

  /** Rank-biased overlap (p = 0.9, depth 20) between the lexical and
    * dense top-20 rankings per probe — "do my two retrieval stacks
    * even agree?", the eval that decides whether hybrid fusion is
    * worth running. A matched id contributes the suffix weight of its
    * WORSE rank (GREATEST(rs, rd) — the first depth both lists hold
    * it); probes ranked by both stacks but sharing nothing read 0.
    *
    * Shape at 100TB: consumes the two suite-shared top-20 frames
    * (tiny: 20 rows/probe), one equi-join on (probe, id), one
    * probe-keyed aggregate. The rankings themselves are the shared
    * materializations NDCG/RRF/MMR already amortize.
    */
  val retrievalRbo: Q = Q(
    "q_retrieval_rbo",
    s"""WITH ${DedupSim.sparseDenseTopSql},
       |pp AS (SELECT DISTINCT s.probe_id FROM s20 s
       |  JOIN (SELECT DISTINCT probe_id FROM d20) dd
       |    ON dd.probe_id = s.probe_id),
       |ov AS (SELECT s.probe_id, GREATEST(s.rs, d.rd) AS mx
       |  FROM s20 s JOIN d20 d
       |    ON d.probe_id = s.probe_id AND d.vec_id = s.doc_id),
       |r AS (SELECT probe_id,
       |    CAST(SUM(${rboCase("mx")}) AS BIGINT) AS rbo_pico,
       |    CAST(COUNT(*) AS BIGINT) AS overlap20
       |  FROM ov GROUP BY 1)
       |SELECT p.probe_id, COALESCE(r.rbo_pico, 0) AS rbo_pico,
       |  COALESCE(r.overlap20, 0) AS overlap20
       |FROM pp p LEFT JOIN r ON r.probe_id = p.probe_id
       |ORDER BY p.probe_id""".stripMargin) { (s, d) =>
    val sp = RetrievalShared.sparseTop20(s, d)
    val de = RetrievalShared.denseTop20(s, d)
    val pp = sp.select("probe_id").distinct()
      .join(de.select("probe_id").distinct(), Seq("probe_id"))
    val ov = sp.join(de,
        sp("probe_id") === de("probe_id") && col("doc_id") === col("vec_id"))
      .select(sp("probe_id").as("probe_id"),
        greatest(col("rs"), col("rd")).as("mx"))
    val r = ov.select(col("probe_id"), expr(rboCase("mx")).as("wsuf"))
      .groupBy("probe_id")
      .agg(sum("wsuf").as("rbo_pico"), count(lit(1)).as("overlap20"))
    pp.join(r, Seq("probe_id"), "left")
      .select(col("probe_id"),
        coalesce(col("rbo_pico"), lit(0L)).as("rbo_pico"),
        coalesce(col("overlap20"), lit(0L)).as("overlap20"))
      .orderBy("probe_id")
  }

  /** Inverse-propensity-weighted treatment effect of urgent order
    * priority (1-URGENT/2-HIGH) on order value, with the propensity
    * estimated as the exact treated-rate ppm per customer market
    * segment (binned propensity — the discrete special case where
    * IPW is exactly poststratification). Hájek-normalized weighted
    * means in truncating integer arithmetic; the naive unadjusted gap
    * rides along for contrast, plus the propensity overlap range.
    * Bins where treatment or control is empty are excluded (no
    * overlap -> no identification), reported via n_bins.
    *
    * Shape at 100TB: one un-hinted dim join (customer is data-sized
    * — stats/AQE broadcast while it fits), one bin-keyed aggregate
    * for propensities (broadcast back — segment-sized), one global
    * aggregate of weighted sums in DECIMAL(38)/HUGEINT. Nothing after
    * the first aggregate is data-sized.
    */
  val causalIpw: Q = {
    def tail(idiv: String, big: String => String): String =
      s"""SELECT nt, nc, n_bins, min_p_ppm, max_p_ppm,
         |  CAST(syt $idiv nt - syc $idiv nc AS BIGINT) AS naive_diff_cents,
         |  CAST(swyt $idiv swt - swyc $idiv swc AS BIGINT) AS ipw_ate_cents
         |FROM agg ORDER BY nt""".stripMargin
    Q(
      "q_causal_ipw",
      s"""WITH base AS (SELECT
         |    CASE WHEN substr(o.o_orderpriority, 1, 1) IN ('1', '2')
         |      THEN 1 ELSE 0 END AS t,
         |    CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT) AS y,
         |    c.c_mktsegment AS bin
         |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
         |pb AS (SELECT bin,
         |    CAST(SUM(t) AS BIGINT) * 1000000 // COUNT(*) AS p_ppm
         |  FROM base GROUP BY 1
         |  HAVING SUM(t) > 0 AND SUM(t) < COUNT(*)),
         |w AS (SELECT b.t, b.y,
         |    CASE WHEN b.t = 1 THEN 1000000000000 // p.p_ppm
         |         ELSE 1000000000000 // (1000000 - p.p_ppm) END AS w,
         |    p.p_ppm
         |  FROM base b JOIN pb p ON p.bin = b.bin),
         |agg AS (SELECT
         |    CAST(SUM(t) AS BIGINT) AS nt,
         |    CAST(COUNT(*) - SUM(t) AS BIGINT) AS nc,
         |    CAST(COUNT(DISTINCT p_ppm) AS BIGINT) AS n_bins,
         |    CAST(MIN(p_ppm) AS BIGINT) AS min_p_ppm,
         |    CAST(MAX(p_ppm) AS BIGINT) AS max_p_ppm,
         |    CAST(SUM(CASE WHEN t = 1 THEN y ELSE 0 END) AS HUGEINT) AS syt,
         |    CAST(SUM(CASE WHEN t = 0 THEN y ELSE 0 END) AS HUGEINT) AS syc,
         |    SUM(CASE WHEN t = 1 THEN CAST(y AS HUGEINT) * w ELSE 0 END) AS swyt,
         |    SUM(CASE WHEN t = 0 THEN CAST(y AS HUGEINT) * w ELSE 0 END) AS swyc,
         |    CAST(SUM(CASE WHEN t = 1 THEN w ELSE 0 END) AS BIGINT) AS swt,
         |    CAST(SUM(CASE WHEN t = 0 THEN w ELSE 0 END) AS BIGINT) AS swc
         |  FROM w)
         |${tail("//", a => s"CAST($a AS HUGEINT)")}""".stripMargin) { (s, d) =>
      val np = Session.partitions(s)
      val cust = Tables.load(s, d, "customer")
        .select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("bin"))
      val base = Tables.load(s, d, "orders").repartition(np)
        .join(cust, "o_custkey")
        .select(
          when(substring(col("o_orderpriority"), 1, 1).isin("1", "2"), 1L)
            .otherwise(0L).as("t"),
          round(col("o_totalprice") * 100, 0).cast("long").as("y"),
          col("bin"))
      val pb = base.groupBy("bin")
        .agg(sum("t").as("st"), count(lit(1)).as("nn"))
        .filter(col("st") > 0 && col("st") < col("nn"))
        .select(col("bin"), expr("st * 1000000 div nn").as("p_ppm"))
      val w = base.join(broadcast(pb), "bin")
        .select(col("t"), col("y"), col("p_ppm"),
          expr("""CASE WHEN t = 1 THEN 1000000000000L div p_ppm
                 |  ELSE 1000000000000L div (1000000 - p_ppm) END"""
            .stripMargin).as("w"))
      val agg = w.agg(
        sum("t").as("nt"),
        (count(lit(1)) - sum("t")).as("nc"),
        countDistinct("p_ppm").as("n_bins"),
        min("p_ppm").as("min_p_ppm"), max("p_ppm").as("max_p_ppm"),
        sum(expr("CAST(CASE WHEN t = 1 THEN y ELSE 0 END AS DECIMAL(38,0))"))
          .as("syt"),
        sum(expr("CAST(CASE WHEN t = 0 THEN y ELSE 0 END AS DECIMAL(38,0))"))
          .as("syc"),
        sum(expr("CASE WHEN t = 1 THEN CAST(y AS DECIMAL(38,0)) * w ELSE CAST(0 AS DECIMAL(38,0)) END"))
          .as("swyt"),
        sum(expr("CASE WHEN t = 0 THEN CAST(y AS DECIMAL(38,0)) * w ELSE CAST(0 AS DECIMAL(38,0)) END"))
          .as("swyc"),
        sum(when(col("t") === 1, col("w")).otherwise(0L)).as("swt"),
        sum(when(col("t") === 0, col("w")).otherwise(0L)).as("swc"))
      agg.createOrReplaceTempView("w40_agg")
      s.sql(tail("div", a => s"CAST($a AS DECIMAL(38,0))")
        .replace("FROM agg", "FROM w40_agg"))
    }
  }

  val all: Seq[Q] = Seq(retrievalRbo, causalIpw)
}
