package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Session, Tables}
import graft.ops.Iterate

/** Wave 19 — multi-source graph sampling and boosted-stump training:
  * the Eppstein–Wang closeness-sampling posture (k seeds, one shared
  * frontier) and a two-round gradient-boosting loop over histogram
  * stumps (the full GBDT training step, not just the split search).
  */
object Wave19 {

  private val ClosenessSeeds = 4
  private val ClosenessHops = 3

  /** Sampled closeness centrality by MULTI-SOURCE BFS (Eppstein & Wang
    * 2004's estimator posture): the 4 highest-degree nodes seed ONE
    * shared frontier keyed by (seed, node), 3 unweighted hops relax it
    * (min-fold per (seed, node)), and each seed reports its reach and
    * closeness_ppm = (reached−1)·10⁶ div Σdist next to the full
    * distance table — all integers, both engines fold identically.
    *
    * Shape at 100TB: the frontier carries a seed DIMENSION instead of
    * running k separate BFS jobs — one edge-join per hop total, with
    * the suite-shared [[GraphShared]] edge frame on the build side and
    * the hops run by [[graft.ops.Iterate]].
    */
  val graphCloseness: Q = {
    val hops = (1 to ClosenessHops).map { i =>
      s"""d$i AS MATERIALIZED (SELECT seed, node, MIN(dist) AS dist FROM (
         |  SELECT seed, node, dist FROM d${i - 1}
         |  UNION ALL SELECT p.seed, eu.v, p.dist + 1 FROM d${i - 1} p
         |    JOIN eu ON eu.u = p.node) GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    Q(
      "q_graph_closeness",
      s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |e AS (SELECT a.l_partkey AS u, b.l_partkey AS v
         |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
         |        AND a.l_partkey < b.l_partkey
         |      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |eu AS MATERIALIZED (SELECT u, v FROM e
         |  UNION ALL SELECT v, u FROM e),
         |deg AS (SELECT u, COUNT(*) AS deg FROM eu GROUP BY 1),
         |seeds AS MATERIALIZED (SELECT u AS seed FROM deg
         |  ORDER BY deg DESC, u LIMIT $ClosenessSeeds),
         |d0 AS (SELECT seed, seed AS node, CAST(0 AS BIGINT) AS dist
         |  FROM seeds),
         |$hops,
         |cl AS (SELECT seed, CAST(COUNT(*) AS BIGINT) AS reached,
         |    CAST(SUM(dist) AS BIGINT) AS sum_dist,
         |    CAST(CASE WHEN SUM(dist) > 0 THEN
         |      (COUNT(*) - 1) * 1000000 // SUM(dist) END AS BIGINT)
         |      AS closeness_ppm
         |  FROM d$ClosenessHops GROUP BY 1)
         |SELECT d.seed, d.node, d.dist, cl.reached, cl.closeness_ppm
         |FROM d$ClosenessHops d JOIN cl ON cl.seed = d.seed
         |ORDER BY d.seed, d.node""".stripMargin) { (s, d) =>
      val np = Session.partitions(s)
      val eu = GraphShared.symmetric(s, d).select("u", "v")
        .repartition(np, col("u"))
        .persist()
      val deg = eu.groupBy("u").agg(count(lit(1)).as("deg"))
      val seeds = deg.orderBy(col("deg").desc, col("u"))
        .limit(ClosenessSeeds)
        .select(col("u").as("seed"))
        .localCheckpoint(false)
      val (dist, _) = Iterate(seeds.select(col("seed"), col("seed").as("node"),
          lit(0L).as("dist")), ClosenessHops) { dist =>
        val relaxed = eu
          .join(broadcast(dist.toDF("seed", "u", "du")), "u")
          .select(col("seed"), col("v").as("node"),
            (col("du") + 1).as("dist"))
        dist.unionAll(relaxed)
          .groupBy("seed", "node").agg(min(col("dist")).as("dist"))
      }
      val cl = dist.groupBy("seed").agg(
        count(lit(1)).as("reached"), sum("dist").as("sum_dist"),
        expr("""CAST(CASE WHEN SUM(dist) > 0 THEN
               |  (COUNT(1) - 1) * 1000000 div SUM(dist) END AS BIGINT)"""
          .stripMargin).as("closeness_ppm"))
      dist.join(broadcast(cl.select("seed", "reached", "closeness_ppm")),
          "seed")
        .select("seed", "node", "dist", "reached", "closeness_ppm")
        .orderBy("seed", "node")
    }
  }

  /** Two rounds of gradient boosting over histogram REGRESSION stumps
    * (Friedman 2001 with squared loss; the histogram split search of
    * q_tree_split extended to the full training loop): the base score
    * is the truncating global mean of the cents target, each round
    * bins two features into 32 histograms of (n, Σresidual), picks
    * the split maximizing
    *   score = sumL² div nL div 10⁹ + sumR² div nR div 10⁹
    * (the variance-gain criterion multiplied through; the 10⁹
    * down-shift keeps the cents-scale residual-sum squares inside
    * BIGINT — sums reach ~10¹³ at sf0.1, squares ~10²⁶ — while both
    * engines still order candidates identically), sets leaf values
    * to the truncating mean residual
    * per side, and the next round fits the NEW residuals. Every
    * quantity is an exact integer, so the trained model — splits,
    * leaf values, and the per-round SSE-improvement witness — hash-
    * matches across engines.
    *
    * Shape at 100TB: per round, ONE map-side-combined shuffle to
    * 2×32 histogram rows; the best split is a 64-row argmax; leaf
    * application is a broadcast join back onto the fact scan. This is
    * the XGBoost/LightGBM data layout — nothing downstream of the
    * histogram aggregate is data-sized.
    */
  val treeBoost: Q = Q(
    "q_tree_boost",
    """WITH li AS (SELECT CAST(l_quantity AS BIGINT) AS qty,
      |    CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS dc,
      |    CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS y
      |  FROM lineitem),
      |b0 AS (SELECT CAST(SUM(y) // COUNT(*) AS BIGINT) AS p0,
      |    COUNT(*) AS n FROM li),
      |r1 AS (SELECT qty, dc, y - b0.p0 AS r FROM li, b0),
      |mm1 AS (SELECT 'dc' AS feature, MIN(dc) AS mn, MAX(dc) AS mx FROM r1
      |  UNION ALL SELECT 'qty', MIN(qty), MAX(qty) FROM r1),
      |lf1 AS (SELECT 'dc' AS feature, dc AS v, r FROM r1
      |  UNION ALL SELECT 'qty', qty, r FROM r1),
      |h1 AS (SELECT l.feature, (v - mn) * 32 // (mx - mn + 1) AS bin,
      |    COUNT(*) AS n, CAST(SUM(r) AS BIGINT) AS sr
      |  FROM lf1 l JOIN mm1 m ON m.feature = l.feature GROUP BY 1, 2),
      |c1 AS (SELECT feature, bin,
      |    CAST(SUM(n) OVER w AS BIGINT) AS nl,
      |    CAST(SUM(sr) OVER w AS BIGINT) AS sl
      |  FROM h1 WINDOW w AS (PARTITION BY feature ORDER BY bin
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |t1 AS (SELECT feature, CAST(SUM(n) AS BIGINT) AS nt,
      |    CAST(SUM(sr) AS BIGINT) AS st FROM h1 GROUP BY 1),
      |sc1 AS (SELECT c.feature, c.bin, nl, sl, nt - nl AS nr,
      |    st - sl AS sr2,
      |    CAST(CAST(sl AS HUGEINT) * sl // nl // 1000000000
      |       + CAST(st - sl AS HUGEINT) * (st - sl) // (nt - nl)
      |         // 1000000000
      |      AS BIGINT) AS score
      |  FROM c1 c JOIN t1 t ON t.feature = c.feature WHERE nt > nl),
      |best1 AS (SELECT feature, bin, nl, nr,
      |    CAST(sl // nl AS BIGINT) AS leaf_l,
      |    CAST(sr2 // nr AS BIGINT) AS leaf_r, score
      |  FROM sc1 ORDER BY score DESC, feature, bin LIMIT 1),
      |r2 AS (SELECT r1.qty, r1.dc,
      |    r1.r - CASE WHEN (CASE b.feature WHEN 'qty' THEN r1.qty
      |                      ELSE r1.dc END - m.mn) * 32 // (m.mx - m.mn + 1)
      |                 <= b.bin
      |           THEN b.leaf_l ELSE b.leaf_r END AS r
      |  FROM r1, best1 b JOIN mm1 m ON m.feature = b.feature),
      |mm2 AS (SELECT 'dc' AS feature, MIN(dc) AS mn, MAX(dc) AS mx FROM r2
      |  UNION ALL SELECT 'qty', MIN(qty), MAX(qty) FROM r2),
      |lf2 AS (SELECT 'dc' AS feature, dc AS v, r FROM r2
      |  UNION ALL SELECT 'qty', qty, r FROM r2),
      |h2 AS (SELECT l.feature, (v - mn) * 32 // (mx - mn + 1) AS bin,
      |    COUNT(*) AS n, CAST(SUM(r) AS BIGINT) AS sr
      |  FROM lf2 l JOIN mm2 m ON m.feature = l.feature GROUP BY 1, 2),
      |c2 AS (SELECT feature, bin,
      |    CAST(SUM(n) OVER w AS BIGINT) AS nl,
      |    CAST(SUM(sr) OVER w AS BIGINT) AS sl
      |  FROM h2 WINDOW w AS (PARTITION BY feature ORDER BY bin
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |t2 AS (SELECT feature, CAST(SUM(n) AS BIGINT) AS nt,
      |    CAST(SUM(sr) AS BIGINT) AS st FROM h2 GROUP BY 1),
      |sc2 AS (SELECT c.feature, c.bin, nl, sl, nt - nl AS nr,
      |    st - sl AS sr2,
      |    CAST(CAST(sl AS HUGEINT) * sl // nl // 1000000000
      |       + CAST(st - sl AS HUGEINT) * (st - sl) // (nt - nl)
      |         // 1000000000
      |      AS BIGINT) AS score
      |  FROM c2 c JOIN t2 t ON t.feature = c.feature WHERE nt > nl),
      |best2 AS (SELECT feature, bin, nl, nr,
      |    CAST(sl // nl AS BIGINT) AS leaf_l,
      |    CAST(sr2 // nr AS BIGINT) AS leaf_r, score
      |  FROM sc2 ORDER BY score DESC, feature, bin LIMIT 1),
      |s1 AS (SELECT CAST(SUM(CAST(r AS HUGEINT) * r) // 1000000 AS BIGINT)
      |    AS sse_e6 FROM r1),
      |s2 AS (SELECT CAST(SUM(CAST(r AS HUGEINT) * r) // 1000000 AS BIGINT)
      |    AS sse_e6 FROM r2)
      |SELECT rnd, feature, bin, nl, nr, leaf_l, leaf_r, score, sse_in_e6
      |FROM (
      |  SELECT CAST(1 AS BIGINT) AS rnd, b.*, s1.sse_e6 AS sse_in_e6
      |  FROM best1 b, s1
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT), b.*, s2.sse_e6 FROM best2 b, s2)
      |ORDER BY rnd""".stripMargin) { (s, d) =>
    val np = Session.partitions(s)
    val li = Tables.load(s, d, "lineitem").repartition(np)
      .select(col("l_quantity").cast("long").as("qty"),
        round(col("l_discount") * 100, 0).cast("long").as("dc"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("y"))
      .persist() // both boosting rounds re-scan the fact frame
    val b0 = li.agg(expr("CAST(SUM(y) div COUNT(1) AS BIGINT)").as("p0"))
    val r1 = li.crossJoin(broadcast(b0))
      .select(col("qty"), col("dc"), (col("y") - col("p0")).as("r"))
    // r14 optimization (guide §1.2/§2.3 — fewer passes, aggregate
    // before shuffling, no explode): the bin edges depend only on the
    // STATIC features qty/dc (residual updates change r, never the
    // feature values), so min/max is ONE pass over the fact computed
    // once for both rounds — the oracle's mm2-over-r2 is value-
    // identical by construction. Each round then makes ONE map-side-
    // combined pass to the 32x32 (bin_dc, bin_qty) cell table carrying
    // (n, Σr, Σr²); both per-feature histograms AND the SSE witness
    // re-aggregate those 1024 cells, replacing the previous per-round
    // 2x-exploded min/max pass + 2x-exploded histogram pass + separate
    // full-fact SSE pass (9 fact passes total -> 5).
    val mmWide = li.agg(
      min("dc").as("mn_dc"), max("dc").as("mx_dc"),
      min("qty").as("mn_qty"), max("qty").as("mx_qty"))
      .localCheckpoint(false)
    val mm = mmWide.select(explode(array(
        struct(lit("dc").as("feature"), col("mn_dc").as("mn"),
          col("mx_dc").as("mx")),
        struct(lit("qty").as("feature"), col("mn_qty").as("mn"),
          col("mx_qty").as("mx")))).as("e"))
      .select(col("e.feature").as("feature"), col("e.mn").as("mn"),
        col("e.mx").as("mx"))

    // One boosting round: histogram split search over the residual
    // frame, returns (best-split row, residual frame for next round,
    // SSE-of-input witness).
    def boostRound(rs: org.apache.spark.sql.DataFrame)
        : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
           org.apache.spark.sql.DataFrame) = {
      val cells = rs.crossJoin(broadcast(mmWide))
        .select(
          expr("(dc - mn_dc) * 32 div (mx_dc - mn_dc + 1)").as("bin_dc"),
          expr("(qty - mn_qty) * 32 div (mx_qty - mn_qty + 1)").as("bin_qty"),
          col("r"))
        .groupBy("bin_dc", "bin_qty")
        .agg(count(lit(1)).as("n"), sum("r").as("sr"),
          expr("SUM(CAST(r AS DECIMAL(38,0)) * r)").as("sr2"))
        .localCheckpoint(false) // 1024 rows, consumed 3x
      val h = cells.groupBy(col("bin_dc").as("bin"))
        .agg(sum("n").as("n"), sum("sr").as("sr"))
        .select(lit("dc").as("feature"), col("bin"), col("n"), col("sr"))
        .unionAll(cells.groupBy(col("bin_qty").as("bin"))
          .agg(sum("n").as("n"), sum("sr").as("sr"))
          .select(lit("qty").as("feature"), col("bin"), col("n"),
            col("sr")))
      val sseDf = cells.agg(
        expr("CAST(SUM(sr2) div 1000000 AS BIGINT)").as("sse_in_e6"))
      val w = Window.partitionBy("feature").orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val t = h.groupBy("feature").agg(sum("n").as("nt"), sum("sr").as("st"))
      val best = h
        .select(col("feature"), col("bin"),
          sum("n").over(w).as("nl"), sum("sr").over(w).as("sl"))
        .join(broadcast(t), "feature")
        .filter(col("nt") > col("nl"))
        .select(col("feature"), col("bin"), col("nl"),
          (col("nt") - col("nl")).as("nr"),
          expr("CAST(sl div nl AS BIGINT)").as("leaf_l"),
          expr("CAST((st - sl) div (nt - nl) AS BIGINT)").as("leaf_r"),
          expr("""CAST(CAST(sl AS DECIMAL(38,0)) * sl div nl
                 |     div 1000000000
                 |   + CAST(st - sl AS DECIMAL(38,0)) * (st - sl)
                 |     div (nt - nl) div 1000000000 AS BIGINT)"""
            .stripMargin).as("score"))
        .orderBy(col("score").desc, col("feature"), col("bin"))
        .limit(1)
        .localCheckpoint(false)
      val next = rs.crossJoin(broadcast(best))
        .crossJoin(broadcast(mm.toDF("bfeature", "mn", "mx")))
        .filter(col("bfeature") === col("feature"))
        .select(col("qty"), col("dc"),
          (col("r") - when(
            expr("""(CASE feature WHEN 'qty' THEN qty ELSE dc END - mn)
                   | * 32 div (mx - mn + 1)""".stripMargin) <= col("bin"),
            col("leaf_l")).otherwise(col("leaf_r"))).as("r"))
      (best, next, sseDf)
    }
    val (best1, r2, sse1) = boostRound(r1)
    val r2c = r2.localCheckpoint(false)
    val (best2, _, sse2) = boostRound(r2c)
    best1.crossJoin(broadcast(sse1)).select(lit(1L).as("rnd"), col("*"))
      .unionAll(best2.crossJoin(broadcast(sse2))
        .select(lit(2L).as("rnd"), col("*")))
      .select("rnd", "feature", "bin", "nl", "nr", "leaf_l", "leaf_r",
        "score", "sse_in_e6")
      .orderBy("rnd")
  }

  val all: Seq[Q] = Seq(graphCloseness, treeBoost)
}
