package graft.queries

import org.apache.spark.sql.functions._

import graft.Q
import graft.ops.BoundedWindow
import graft.plans.FxLog2

/** Wave 66 — degree-distribution power-law tail fit over the shared
  * co-purchase graph: the scale-free-ness audit (Clauset/Shalizi/
  * Newman SIAM'09 §3; Hill 1975) behind partitioning decisions — a
  * heavy power-law tail is exactly the skew regime where hub keys
  * need salting (ops.Skew) and frontier broadcasts stop fitting.
  */
object Wave66 {

  /** Tail cutoff: fit over nodes with degree >= Dmin. log2(2) is
    * exactly 2^30 in the fx lane, so the per-node tail term
    * fxlog2(d) − fxlog2(Dmin) needs no second log evaluation. */
  private val Dmin = 2L

  /** 1/ln2 scaled by 1e9, rounded — one shared literal in BOTH
    * engines, so the (irrational) nat/bit conversion can never be a
    * float at query time. */
  private val InvLn2E9 = 1442695041L

  /** q_graph_powerlaw: the degree CCDF (distinct degree → node count
    * and cumulative nodes-with-degree-≥) next to the continuous-MLE
    * tail exponent (Hill estimator) computed entirely in fxlog2 fixed
    * point:
    *   alpha = 1 + n_tail / Σ ln(d_i / Dmin)
    *         = 1 + n_tail·2^30 / (A_fx · ln 2),
    *   A_fx  = Σ (fxlog2(d_i) − fxlog2(Dmin))  over d_i ≥ Dmin,
    * emitted as alpha_micro via the shared InvLn2E9 literal and one
    * truncating DECIMAL(38) division. The log runs on ≤ |distinct
    * degrees| arguments, never per node.
    *
    * Shape at 100TB: degrees are one aggregate of the suite-shared
    * symmetric edge list; everything after runs on the degree
    * DICTIONARY (distinct degree values — the CCDF window is a
    * BoundedWindow over that dictionary, the fit is a one-row
    * aggregate broadcast back). */
  val graphPowerlaw: Q = Q(
    "q_graph_powerlaw",
    s"""WITH RECURSIVE
       |li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |e AS (SELECT a.l_partkey AS u, b.l_partkey AS v
       |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |        AND a.l_partkey < b.l_partkey
       |      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
       |eu AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
       |deg AS (SELECT u AS node, COUNT(*) AS deg FROM eu GROUP BY 1),
       |hist AS (SELECT deg, CAST(COUNT(*) AS BIGINT) AS n_nodes
       |  FROM deg GROUP BY 1),
       |args AS (SELECT DISTINCT deg AS n FROM hist),
       |${FxLog2.oracleCte("args")},
       |tail AS (SELECT CAST(SUM(h.n_nodes) AS BIGINT) AS n_tail,
       |    CAST(SUM(h.n_nodes * (lg.r - (1::BIGINT << 30))) AS BIGINT)
       |      AS a_fx
       |  FROM hist h JOIN lg ON lg.n = h.deg WHERE h.deg >= $Dmin),
       |fit AS (SELECT n_tail, a_fx,
       |    CASE WHEN a_fx > 0 THEN 1000000 + CAST(
       |      CAST(n_tail AS HUGEINT) * $InvLn2E9 * 1073741824
       |        // (CAST(a_fx AS HUGEINT) * 1000) AS BIGINT) END
       |      AS alpha_micro
       |  FROM tail),
       |ccdf AS (SELECT deg, n_nodes,
       |    CAST(SUM(n_nodes) OVER (ORDER BY deg DESC) AS BIGINT) AS n_ge
       |  FROM hist)
       |SELECT c.deg, c.n_nodes, c.n_ge, f.n_tail,
       |  f.a_fx AS a_fx_sum, f.alpha_micro
       |FROM ccdf c, fit f ORDER BY c.deg""".stripMargin) { (s, d) =>
    val eu = GraphShared.symmetric(s, d).select("u", "v")
    val deg = eu.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
    val hist = deg.groupBy("deg").agg(count(lit(1)).as("n_nodes"))
    val fit = hist.filter(col("deg") >= Dmin)
      .agg(sum(col("n_nodes")).as("n_tail"),
        sum(col("n_nodes") * (FxLog2.column(col("deg")) - lit(1L << 30)))
          .as("a_fx"))
      .select(col("n_tail"), col("a_fx"),
        expr(s"""CASE WHEN a_fx > 0 THEN 1000000 + CAST(
                |  CAST(n_tail AS DECIMAL(38,0)) * $InvLn2E9 * 1073741824
                |    div (CAST(a_fx AS DECIMAL(38,0)) * 1000) AS BIGINT)
                |END""".stripMargin).as("alpha_micro"))
    val ccdf = hist.withColumn("n_ge",
      sum(col("n_nodes")).over(
        BoundedWindow.singleRef(col("deg"), col("deg").desc)
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
    ccdf.crossJoin(broadcast(fit))
      .select(col("deg"), col("n_nodes"), col("n_ge"), col("n_tail"),
        col("a_fx").as("a_fx_sum"), col("alpha_micro"))
      .orderBy("deg")
  }

  val all: Seq[Q] = Seq(graphPowerlaw)
}
