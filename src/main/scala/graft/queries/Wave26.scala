package graft.queries

import org.apache.spark.sql.functions._
import graft.{Q, Session, Tables}

/** Wave 26 — graph centrality and density clustering: sampled Brandes
  * betweenness (Brandes 2001; the k-source radius-bounded form every
  * large-graph system ships) and grid-blocked DBSCAN core/border/noise
  * classification (Ester et al. 1996). Both replace the quadratic
  * naive form with the standard scale construction: BFS DAG
  * accumulation from a fixed source sample, and eps-grid candidate
  * blocking instead of an all-pairs distance join.
  */
object Wave26 {

  private val BcHops = 3

  /** Sampled, radius-bounded Brandes betweenness over the co-purchase
    * graph: from the top-2 degree nodes (ties to the smaller id), an
    * unweighted BFS assigns shortest-path counts sigma level by level
    * ($BcHops hops), then dependencies accumulate backward through the
    * BFS DAG in truncating fixed point:
    *   delta(u) += (sigma_u * 1e6 // sigma_v) * (1e6 + delta_v) // 1e6
    * over tree edges (u at h, v at h+1). Output is each reached node's
    * summed dependency over the source sample — the standard
    * approximation regime (exact Brandes is O(VE): a non-starter at
    * scale; more sources / a larger radius tighten it without changing
    * the shape).
    *
    * Shape at 100TB: per source and hop, one frontier join against the
    * cached symmetric edges + an anti-join against visited (per-hop
    * persisted — the BFS lesson); the backward pass is one join per
    * level. Frontiers are node-set-sized; nothing is all-pairs.
    */
  val graphBetweenness: Q = {
    def srcSql(k: Int) =
      s"""(SELECT u FROM (SELECT u, ROW_NUMBER() OVER (ORDER BY deg DESC, u)
         |    AS rn FROM deg) d WHERE rn = $k)""".stripMargin
    def bfsSql(tag: String, k: Int): String = {
      val fwd = (1 to BcHops).map { h =>
        val vis = (0 until h).map(i => s"SELECT node FROM f${i}_$tag")
          .mkString(" UNION ALL ")
        s"""f${h}_$tag AS MATERIALIZED (SELECT eu.v AS node,
           |    CAST(SUM(f.sigma) AS BIGINT) AS sigma
           |  FROM f${h - 1}_$tag f JOIN eu ON eu.u = f.node
           |  WHERE eu.v NOT IN (SELECT node FROM ($vis) vv)
           |  GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      val bwd = (BcHops - 1 to 1 by -1).map { h =>
        val childDelta =
          if (h == BcHops - 1) "0" else s"b${h + 1}_$tag.delta"
        val childJoin =
          if (h == BcHops - 1) s"f${h + 1}_$tag ch ON eu.v = ch.node"
          else
            s"""f${h + 1}_$tag ch ON eu.v = ch.node
               |    LEFT JOIN b${h + 1}_$tag ON b${h + 1}_$tag.node = ch.node"""
              .stripMargin
        val d = if (h == BcHops - 1) "0" else
          s"COALESCE(b${h + 1}_$tag.delta, 0)"
        s"""b${h}_$tag AS (SELECT f.node,
           |    CAST(COALESCE(SUM((f.sigma * 1000000 // ch.sigma)
           |      * (1000000 + $d) // 1000000), 0) AS BIGINT) AS delta
           |  FROM f${h}_$tag f LEFT JOIN eu ON eu.u = f.node
           |  LEFT JOIN $childJoin
           |  GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      s"""f0_$tag AS (SELECT u AS node, CAST(1 AS BIGINT) AS sigma
         |  FROM ${srcSql(k)} s(u)),
         |$fwd,
         |$bwd,
         |out_$tag AS (SELECT node, delta FROM (
         |  ${(1 to BcHops - 1).map(h => s"SELECT node, delta FROM b${h}_$tag")
             .mkString("\n  UNION ALL ")}
         |  UNION ALL SELECT node, CAST(0 AS BIGINT) FROM f${BcHops}_$tag) z)"""
        .stripMargin
    }
    Q(
      "q_graph_betweenness",
      s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |e AS (SELECT a.l_partkey AS u, b.l_partkey AS v
         |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
         |        AND a.l_partkey < b.l_partkey
         |      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |eu AS MATERIALIZED (SELECT u, v FROM e
         |  UNION ALL SELECT v, u FROM e),
         |deg AS (SELECT u, COUNT(*) AS deg FROM eu GROUP BY 1),
         |${bfsSql("s1", 1)},
         |${bfsSql("s2", 2)}
         |SELECT node, CAST(SUM(delta) AS BIGINT) AS bc_fx
         |FROM (SELECT * FROM out_s1 UNION ALL SELECT * FROM out_s2) o
         |GROUP BY node ORDER BY node""".stripMargin) { (s, d) =>
      val np = Session.partitions(s)
      val e = GraphShared.pairs(s, d).select("u", "v")
      val eu = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
        .repartition(np, col("u"))
        .persist()
      val deg = eu.groupBy("u").agg(count(lit(1)).as("deg"))
      val srcs = deg
        .orderBy(col("deg").desc, col("u")).limit(2)
        .collect().map(_.getLong(0)).toSeq.zipWithIndex
      // 2 driver scalars (the sampled sources) — k-sized, scale-safe
      val outs = srcs.map { case (src, _) =>
        var frontier = s.range(1).select(lit(src).as("node"),
          lit(1L).as("sigma")).localCheckpoint(true)
        val levels = scala.collection.mutable.ArrayBuffer(frontier)
        var visited = frontier.select("node").localCheckpoint(true)
        for (_ <- 1 to BcHops) {
          val next = eu.join(broadcast(frontier.withColumnRenamed("node", "u")), "u")
            .join(broadcast(visited.withColumnRenamed("node", "v")),
              Seq("v"), "left_anti")
            .groupBy(col("v").as("node"))
            .agg(sum("sigma").as("sigma"))
            .localCheckpoint(true)
          levels += next
          visited = visited.unionAll(next.select("node"))
            .localCheckpoint(true)
          frontier = next
        }
        // backward accumulation
        var childDelta = levels(BcHops)
          .select(col("node"), lit(0L).as("delta"))
        val outLevels = scala.collection.mutable.ArrayBuffer(
          childDelta)
        for (h <- BcHops - 1 to 1 by -1) {
          val ch = levels(h + 1)
            .select(col("node").as("v"), col("sigma").as("ch_sigma"))
            .join(childDelta.select(col("node").as("v"),
              col("delta").as("ch_delta")), Seq("v"), "left")
            .na.fill(0L, Seq("ch_delta"))
          val b = levels(h).select(col("node"), col("sigma"))
            .join(eu.withColumnRenamed("u", "node"), Seq("node"), "left")
            .join(broadcast(ch), Seq("v"), "left")
            .groupBy("node")
            .agg(coalesce(sum(
              expr("""(sigma * 1000000 div ch_sigma)
                     |  * (1000000 + ch_delta) div 1000000""".stripMargin)),
              lit(0L)).as("delta"))
            .localCheckpoint(true)
          outLevels += b
          childDelta = b
        }
        outLevels.reduce(_ unionAll _)
      }
      outs.reduce(_ unionAll _)
        .groupBy("node")
        .agg(sum("delta").as("bc_fx"))
        .orderBy("node")
    }
  }

  /** Grid-blocked DBSCAN point classification on the embedding's
    * first two dimensions (milli fixed point, eps = 100 = 0.1,
    * minPts = 4): each point lands in its eps-sized grid cell,
    * candidate pairs come from the 3x3 neighbor-cell equi-join (never
    * all-pairs — the grid guarantees any two points within eps share
    * adjacent cells), exact squared distance filters, and each point
    * classifies as core (>= minPts neighbors), border (non-core with a
    * core neighbor) or noise.
    *
    * Shape at 100TB: the pair join is blocked on cell id — quadratic
    * only within a cell neighborhood; the core-set join back is
    * key-partitioned. Cell width = eps is the standard density bound.
    * Cells use FLOOR division (the integer identity
    * `x div e - [x<0 and x%e != 0]`, identical in both engines):
    * truncate-toward-zero would make the origin cell span (-eps, eps)
    * — 4x the area — and embeddings centered near 0 would concentrate
    * candidate-pair fan-out exactly there (r9 ADVICE).
    */
  val dbscanCore: Q = {
    val eps = 100L
    val minPts = 4
    Q(
      "q_dbscan_core",
      s"""WITH pt AS (SELECT vec_id,
         |    CAST(FLOOR(CAST(embedding[1] AS DOUBLE) * 1000) AS BIGINT) AS x,
         |    CAST(FLOOR(CAST(embedding[2] AS DOUBLE) * 1000) AS BIGINT) AS y
         |  FROM embeddings),
         |cell AS (SELECT vec_id, x, y,
         |    x // $eps - CASE WHEN x < 0 AND x % $eps <> 0 THEN 1 ELSE 0 END AS cx,
         |    y // $eps - CASE WHEN y < 0 AND y % $eps <> 0 THEN 1 ELSE 0 END AS cy
         |  FROM pt),
         |ex AS (SELECT c.vec_id, c.x, c.y, c.cx + dx.d AS cx, c.cy + dy.d AS cy
         |  FROM cell c, (SELECT unnest([-1, 0, 1]) AS d) dx,
         |       (SELECT unnest([-1, 0, 1]) AS d) dy),
         |nbr AS (SELECT a.vec_id, CAST(COUNT(*) AS BIGINT) AS n_neighbors
         |  FROM ex a JOIN cell b ON b.cx = a.cx AND b.cy = a.cy
         |    AND b.vec_id <> a.vec_id
         |  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
         |    <= ${eps * eps}
         |  GROUP BY 1),
         |cls AS (SELECT p.vec_id, COALESCE(n.n_neighbors, 0) AS n_neighbors,
         |    CASE WHEN COALESCE(n.n_neighbors, 0) >= $minPts THEN 1 ELSE 0 END
         |      AS is_core
         |  FROM pt p LEFT JOIN nbr n ON n.vec_id = p.vec_id),
         |bord AS (SELECT DISTINCT a.vec_id
         |  FROM ex a JOIN cell b ON b.cx = a.cx AND b.cy = a.cy
         |    AND b.vec_id <> a.vec_id
         |  JOIN cls cb ON cb.vec_id = b.vec_id AND cb.is_core = 1
         |  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
         |    <= ${eps * eps})
         |SELECT c.vec_id, c.n_neighbors,
         |  CASE WHEN c.is_core = 1 THEN 'core'
         |       WHEN bord.vec_id IS NOT NULL THEN 'border'
         |       ELSE 'noise' END AS role
         |FROM cls c LEFT JOIN bord ON bord.vec_id = c.vec_id
         |ORDER BY c.vec_id""".stripMargin) { (s, d) =>
      val np = Session.partitions(s)
      val pt = Tables.load(s, d, "embeddings").repartition(np)
        .select(col("vec_id"),
          expr("CAST(FLOOR(CAST(embedding[0] AS DOUBLE) * 1000) AS BIGINT)")
            .as("x"),
          expr("CAST(FLOOR(CAST(embedding[1] AS DOUBLE) * 1000) AS BIGINT)")
            .as("y"))
        .persist()
      val cell = pt.select(col("vec_id"), col("x"), col("y"),
        expr(s"x div $eps - (CASE WHEN x < 0 AND x % $eps != 0 THEN 1 ELSE 0 END)").as("cx"),
        expr(s"y div $eps - (CASE WHEN y < 0 AND y % $eps != 0 THEN 1 ELSE 0 END)").as("cy"))
      val ex = cell
        .withColumn("dx", explode(lit(Array(-1, 0, 1))))
        .withColumn("dy", explode(lit(Array(-1, 0, 1))))
        .select(col("vec_id"), col("x"), col("y"),
          (col("cx") + col("dx")).as("cx"), (col("cy") + col("dy")).as("cy"))
      val b = cell.select(col("vec_id").as("b_id"), col("x").as("bx"),
        col("y").as("by"), col("cx"), col("cy"))
      val pairs = ex.join(b, Seq("cx", "cy"))
        .filter(col("b_id") =!= col("vec_id"))
        .filter(expr(s"(x - bx) * (x - bx) + (y - by) * (y - by) <= ${eps * eps}"))
      val nbr = pairs.groupBy("vec_id").agg(count(lit(1)).as("n_neighbors"))
      val cls = pt.join(nbr, Seq("vec_id"), "left")
        .na.fill(0L, Seq("n_neighbors"))
        .withColumn("is_core",
          when(col("n_neighbors") >= minPts, 1).otherwise(0))
        .select("vec_id", "n_neighbors", "is_core")
        .persist()
      val coreSet = cls.filter(col("is_core") === 1)
        .select(col("vec_id").as("b_id"))
      val bord = pairs.join(coreSet, "b_id")
        .select("vec_id").distinct()
        .withColumnRenamed("vec_id", "bd_id")
      cls.join(bord, col("vec_id") === col("bd_id"), "left")
        .select(col("vec_id"), col("n_neighbors"),
          when(col("is_core") === 1, "core")
            .when(col("bd_id").isNotNull, "border")
            .otherwise("noise").as("role"))
        .orderBy("vec_id")
    }
  }

  val all: Seq[Q] = Seq(graphBetweenness, dbscanCore)
}
