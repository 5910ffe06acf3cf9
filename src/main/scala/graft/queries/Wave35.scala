package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Session, Tables}

/** Wave 35 — local graph structure and inequality curves: per-node
  * clustering coefficients (Watts & Strogatz 1998) over the shared
  * co-purchase graph, and the Lorenz curve in spend bands (the
  * concentration table behind q_gini_concentration's scalar). Both
  * exact-integer: triangle counts over wedge equi-joins, cumulative
  * shares in truncating ppm.
  */
object Wave35 {

  /** Per-node clustering coefficient: closed wedges at u over
    * C(deg(u), 2), in ppm. Wedges come from the symmetric-edge
    * self-join on the center (v1 < v2 kills mirrors), closure from an
    * equi-join against the canonical (u < v) pair list — the
    * node-local version of q_triangle_count, and the standard "how
    * clique-ish is this product's neighborhood" signal.
    *
    * Shape at 100TB: wedge join and closure join are equi-joins over
    * the suite-shared cached edges; degrees join back key-partitioned;
    * nothing is all-pairs (wedges are degree-bounded).
    */
  val clusteringCoeff: Q = Q(
    "q_graph_clustering_coeff",
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS (SELECT a.l_partkey AS u, b.l_partkey AS v
      |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      |        AND a.l_partkey < b.l_partkey
      |      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |eu AS MATERIALIZED (SELECT u, v FROM e
      |  UNION ALL SELECT v, u FROM e),
      |deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM eu GROUP BY 1),
      |wedge AS (SELECT a.u, a.v AS v1, b.v AS v2
      |  FROM eu a JOIN eu b ON b.u = a.u AND a.v < b.v),
      |tri AS (SELECT w.u, CAST(COUNT(*) AS BIGINT) AS tri
      |  FROM wedge w JOIN e ON e.u = w.v1 AND e.v = w.v2
      |  GROUP BY 1)
      |SELECT d.u AS node, d.deg, COALESCE(t.tri, 0) AS closed,
      |  CAST(CASE WHEN d.deg >= 2 THEN
      |      COALESCE(t.tri, 0) * 2000000 // (d.deg * (d.deg - 1))
      |    END AS BIGINT) AS cc_ppm
      |FROM deg d LEFT JOIN tri t ON t.u = d.u
      |ORDER BY node""".stripMargin) { (s, d) =>
    val np = Session.partitions(s)
    val e = GraphShared.pairs(s, d).select("u", "v")
    val eu = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      .repartition(np, col("u"))
      .persist()
    val deg = eu.groupBy("u").agg(count(lit(1)).as("deg"))
    val b = eu.select(col("u").as("wu"), col("v").as("v2"))
    val wedge = eu.join(b, col("wu") === col("u") && col("v") < col("v2"))
      .select(col("u"), col("v").as("v1"), col("v2"))
    val closure = e.select(col("u").as("v1"), col("v").as("v2"))
    val tri = wedge.join(closure, Seq("v1", "v2"))
      .groupBy("u").agg(count(lit(1)).as("tri"))
    deg.join(tri, Seq("u"), "left")
      .select(col("u").as("node"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("closed"),
        expr("""CAST(CASE WHEN deg >= 2 THEN
               |    COALESCE(tri, 0) * 2000000 div (deg * (deg - 1))
               |  END AS BIGINT)""".stripMargin).as("cc_ppm"))
      .orderBy("node")
  }

  /** Lorenz concentration table in $1000 spend bands: customers
    * grouped by total-spend band, each band carrying the cumulative
    * customer share and cumulative revenue share in ppm — the curve
    * q_gini_concentration integrates, kept as the audit-friendly
    * table ("the top band holds X% of customers and Y% of revenue").
    *
    * Shape at 100TB: one customer-keyed aggregate, one band-keyed
    * fold (bands bounded by the spend range), cumulative sums over
    * the band dictionary ([[graft.ops.BoundedWindow]]).
    */
  val lorenzBands: Q = Q(
    "q_lorenz_bands",
    """WITH cu AS (SELECT o_custkey,
      |    CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
      |      AS rev_c
      |  FROM orders GROUP BY 1),
      |b AS (SELECT rev_c // 100000 AS band,
      |    CAST(COUNT(*) AS BIGINT) AS n_cust,
      |    CAST(SUM(rev_c) AS BIGINT) AS rev_c
      |  FROM cu GROUP BY 1),
      |t AS (SELECT CAST(SUM(n_cust) AS BIGINT) AS nt,
      |    CAST(SUM(rev_c) AS BIGINT) AS rt FROM b),
      |c AS (SELECT band, n_cust, rev_c,
      |    CAST(SUM(n_cust) OVER (ORDER BY band) AS BIGINT) AS cum_n,
      |    CAST(SUM(rev_c) OVER (ORDER BY band) AS BIGINT) AS cum_r
      |  FROM b)
      |SELECT c.band, c.n_cust, c.rev_c,
      |  CAST(c.cum_n * 1000000 // t.nt AS BIGINT) AS cum_cust_ppm,
      |  CAST(CAST(c.cum_r AS HUGEINT) * 1000000 // t.rt AS BIGINT)
      |    AS cum_rev_ppm
      |FROM c, t ORDER BY c.band""".stripMargin) { (s, d) =>
    import graft.ops.BoundedWindow
    val np = Session.partitions(s)
    val cu = Tables.load(s, d, "orders").repartition(np)
      .groupBy("o_custkey")
      .agg(sum(expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)"))
        .as("rev_c"))
    val b = cu.groupBy(expr("rev_c div 100000").as("band"))
      .agg(count(lit(1)).as("n_cust"), sum("rev_c").as("rev_c"))
    val t = b.agg(sum("n_cust").as("nt"), sum("rev_c").as("rt"))
    val pre = BoundedWindow.single(col("band"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val c = b
      .withColumn("cum_n", sum("n_cust").over(pre))
      .withColumn("cum_r", sum("rev_c").over(pre))
    c.crossJoin(broadcast(t))
      .select(col("band"), col("n_cust"), col("rev_c"),
        expr("CAST(cum_n * 1000000 div nt AS BIGINT)").as("cum_cust_ppm"),
        expr("""CAST(CAST(cum_r AS DECIMAL(38,0)) * 1000000 div rt
               |  AS BIGINT)""".stripMargin).as("cum_rev_ppm"))
      .orderBy("band")
  }

  val all: Seq[Q] = Seq(clusteringCoeff, lorenzBands)
}
