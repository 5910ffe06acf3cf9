package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Session, Tables}

/** Wave 27 — product-surface operators: the autocomplete suggestion
  * index (prefix -> top-k completions by revenue), a density-ratio
  * outlier score over the eps-grid neighbor graph (the LOF idea,
  * Breunig et al. 2000, restricted to the eps-neighborhood so it
  * stays exact-integer), and conversion-lag deciles from GROUPED
  * day counts (never a per-row global rank).
  */
object Wave27 {

  /** Autocomplete index build: for every 1..6-char prefix of a part
    * name, the top-3 completions by revenue cents (rank ties to the
    * lexicographically smaller name). This is the suggestion table a
    * search box serves — built as one declarative plan.
    *
    * Shape at 100TB: revenue folds in one (name)-keyed aggregate; the
    * prefix explosion is x6 on the NAME dictionary (not the fact
    * table); top-k per prefix is a WindowGroupLimit-able rank over
    * prefix-partitioned groups.
    */
  val prefixAutocomplete: Q = Q(
    "q_prefix_autocomplete",
    """WITH rev AS (SELECT p.p_name AS name,
      |    CAST(SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT))
      |      AS BIGINT) AS rev_c
      |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      |  GROUP BY 1),
      |pre AS (SELECT substr(name, 1, k.k) AS prefix, name, rev_c
      |  FROM rev, (SELECT unnest(range(1, 7)) AS k) k
      |  WHERE length(name) >= k.k),
      |rk AS (SELECT prefix, name, rev_c,
      |    ROW_NUMBER() OVER (PARTITION BY prefix
      |      ORDER BY rev_c DESC, name) AS rank
      |  FROM pre)
      |SELECT prefix, rank, name, rev_c FROM rk WHERE rank <= 3
      |ORDER BY prefix, rank""".stripMargin) { (s, d) =>
    import graft.ops.TopK
    val np = Session.partitions(s)
    val part = Tables.load(s, d, "part")
      .select(col("p_partkey").as("l_partkey"), col("p_name").as("name"))
    val rev = Tables.load(s, d, "lineitem").repartition(np)
      .join(part, "l_partkey")
      .groupBy("name")
      .agg(sum(expr("CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)"))
        .as("rev_c"))
    val pre = rev
      .withColumn("k", explode(sequence(lit(1), lit(6))))
      .filter(length(col("name")) >= col("k"))
      .select(expr("substr(name, 1, k)").as("prefix"), col("name"),
        col("rev_c"))
    TopK.perGroup(pre, Seq(col("prefix")),
        Seq(col("rev_c").desc, col("name").asc), 3, "rank")
      .select(col("prefix"), col("rank"), col("name"), col("rev_c"))
      .orderBy("prefix", "rank")
  }

  /** Density-ratio outlier score over the eps-grid neighbor graph
    * (the same eps = 100 blocking as q_dbscan_core): each point's
    * neighbor count against the mean neighbor count of its neighbors,
    *   score_ppm = n(p) * 1e6 // (sum_q n(q) // n(p))
    * — below 1e6 means locally sparser than its surroundings (the LOF
    * reading). Isolated points (no neighbors) report NULL. Every step
    * is integer counts and truncating division.
    *
    * Shape at 100TB: the candidate join is cell-blocked (x9 replica on
    * the grid key, never all-pairs); the neighbor-mean pass is one
    * more key-partitioned join + aggregate over the SAME pair frame.
    */
  val outlierDensity: Q = {
    val eps = 100L
    Q(
      "q_outlier_density",
      s"""WITH pt AS (SELECT vec_id,
         |    CAST(FLOOR(CAST(embedding[1] AS DOUBLE) * 1000) AS BIGINT) AS x,
         |    CAST(FLOOR(CAST(embedding[2] AS DOUBLE) * 1000) AS BIGINT) AS y
         |  FROM embeddings),
         |cell AS (SELECT vec_id, x, y,
         |    x // $eps - CASE WHEN x < 0 AND x % $eps <> 0 THEN 1 ELSE 0 END AS cx,
         |    y // $eps - CASE WHEN y < 0 AND y % $eps <> 0 THEN 1 ELSE 0 END AS cy
         |  FROM pt),
         |ex AS (SELECT c.vec_id, c.x, c.y, c.cx + dx.d AS cx,
         |    c.cy + dy.d AS cy
         |  FROM cell c, (SELECT unnest([-1, 0, 1]) AS d) dx,
         |       (SELECT unnest([-1, 0, 1]) AS d) dy),
         |pr AS (SELECT a.vec_id AS p, b.vec_id AS q
         |  FROM ex a JOIN cell b ON b.cx = a.cx AND b.cy = a.cy
         |    AND b.vec_id <> a.vec_id
         |  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
         |    <= ${eps * eps}),
         |nn AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS n FROM pr GROUP BY 1),
         |ms AS (SELECT pr.p, CAST(SUM(nq.n) AS BIGINT) AS nbr_sum
         |  FROM pr JOIN nn nq ON nq.p = pr.q GROUP BY 1)
         |SELECT pt.vec_id, COALESCE(nn.n, 0) AS n_neighbors,
         |  CAST(CASE WHEN nn.n > 0 THEN ms.nbr_sum // nn.n END AS BIGINT)
         |    AS nbr_mean,
         |  CAST(CASE WHEN nn.n > 0 AND ms.nbr_sum // nn.n > 0
         |    THEN nn.n * 1000000 // (ms.nbr_sum // nn.n) END AS BIGINT)
         |    AS score_ppm
         |FROM pt LEFT JOIN nn ON nn.p = pt.vec_id
         |        LEFT JOIN ms ON ms.p = pt.vec_id
         |ORDER BY pt.vec_id""".stripMargin) { (s, d) =>
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
      val b = cell.select(col("vec_id").as("q"), col("x").as("bx"),
        col("y").as("by"), col("cx"), col("cy"))
      val pr = ex.join(b, Seq("cx", "cy"))
        .filter(col("q") =!= col("vec_id"))
        .filter(expr(s"(x - bx) * (x - bx) + (y - by) * (y - by) <= ${eps * eps}"))
        .select(col("vec_id").as("p"), col("q"))
        .persist()
      val nn = pr.groupBy("p").agg(count(lit(1)).as("n"))
      val ms = pr.join(nn.select(col("p").as("q"), col("n").as("nq")), "q")
        .groupBy("p").agg(sum("nq").as("nbr_sum"))
      pt.select(col("vec_id"))
        .join(nn.withColumnRenamed("p", "vec_id"), Seq("vec_id"), "left")
        .join(ms.withColumnRenamed("p", "vec_id"), Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("n"), lit(0L)).as("n_neighbors"),
          expr("CAST(CASE WHEN n > 0 THEN nbr_sum div n END AS BIGINT)")
            .as("nbr_mean"),
          expr("""CAST(CASE WHEN n > 0 AND nbr_sum div n > 0
                 |  THEN n * 1000000 div (nbr_sum div n) END AS BIGINT)"""
            .stripMargin).as("score_ppm"))
        .orderBy("vec_id")
    }
  }

  /** Conversion-lag deciles: per user, the days between their first
    * 'view' and their first later 'purchase'; the d/10 quantiles for
    * d = 1..9 are rank-SELECTED from the GROUPED per-day counts —
    * cumulative counts over the calendar-bounded lag-day dictionary
    * pick the smallest day with cum >= (n-1)*d//10 + 1 (exact order
    * statistics, no interpolation formula to disagree on, and never a
    * per-row global rank).
    *
    * Shape at 100TB: one user-keyed aggregate, one day-keyed count,
    * a [[graft.ops.BoundedWindow]] cumulative over calendar days, and
    * a 9-row decile join.
    */
  val conversionLagDeciles: Q = Q(
    "q_conversion_lag_deciles",
    """WITH u AS (SELECT user_id,
      |    MIN(CASE WHEN event_type = 'view' THEN epoch_ms(ts) END) AS vms,
      |    MIN(CASE WHEN event_type = 'purchase' THEN epoch_ms(ts) END)
      |      AS pms
      |  FROM events GROUP BY 1),
      |lag AS (SELECT user_id, (pms - vms) // 86400000 AS lag_d
      |  FROM u WHERE vms IS NOT NULL AND pms IS NOT NULL AND pms >= vms),
      |g AS (SELECT lag_d, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM lag GROUP BY 1),
      |c AS (SELECT lag_d, cnt,
      |    CAST(SUM(cnt) OVER (ORDER BY lag_d) AS BIGINT) AS cum
      |  FROM g),
      |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM g),
      |d AS (SELECT unnest(range(1, 10)) AS decile)
      |SELECT d.decile, CAST((t.n - 1) * d.decile // 10 + 1 AS BIGINT) AS idx,
      |  CAST(MIN(c.lag_d) AS BIGINT) AS lag_days, t.n
      |FROM d, t, c
      |WHERE c.cum >= (t.n - 1) * d.decile // 10 + 1
      |GROUP BY 1, 2, 4 ORDER BY d.decile""".stripMargin) { (s, d) =>
    import graft.ops.BoundedWindow
    val np = Session.partitions(s)
    val ms = graft.functions.Exact.ms _
    val u = Tables.load(s, d, "events").repartition(np, col("user_id"))
      .groupBy("user_id")
      .agg(
        min(when(col("event_type") === "view", ms(col("ts")))).as("vms"),
        min(when(col("event_type") === "purchase", ms(col("ts"))))
          .as("pms"))
    val lagd = u
      .filter(col("vms").isNotNull && col("pms").isNotNull &&
        col("pms") >= col("vms"))
      .select(expr("(pms - vms) div 86400000").as("lag_d"))
    val g = lagd.groupBy("lag_d").agg(count(lit(1)).as("cnt"))
    val pre = BoundedWindow.single(col("lag_d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val c = g.withColumn("cum", sum("cnt").over(pre))
    val t = g.agg(sum("cnt").as("n"))
    val decs = s.range(1, 10).select(col("id").as("decile"))
    decs.crossJoin(broadcast(t))
      .join(c, col("cum") >= expr("(n - 1) * decile div 10 + 1"))
      .groupBy(col("decile"), expr("CAST((n - 1) * decile div 10 + 1 AS BIGINT)")
        .as("idx"), col("n"))
      .agg(min("lag_d").as("lag_days"))
      .select(col("decile"), col("idx"), col("lag_days"), col("n"))
      .orderBy("decile")
  }

  val all: Seq[Q] = Seq(prefixAutocomplete, outlierDensity,
    conversionLagDeciles)
}
