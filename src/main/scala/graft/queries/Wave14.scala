package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Session, Tables}
import graft.plans.FxLog2

/** Wave 14 — forecast-accuracy evaluation and behavioral entropy.
  * Both share machinery with their producers (the Holt chain, the
  * Markov transition counts) so model and metric cannot drift, and
  * both stay in the exact-integer/fxlog2 determinism lanes.
  */
object Wave14 {

  /** Forecast-accuracy evaluation of the Holt one-step-ahead
    * predictions (the eval half of q_holt_linear, sharing its
    * generated chain on BOTH sides): per step t >= 1 the forecast is
    * l_{t−1} + b_{t−1}, the error in exact cents, the absolute
    * percentage error in truncating ppm, and the suite-level MAPE
    * (mean of the per-step ppm values) and MASE (Σ|err| ·10⁶ div
    * Σ|naive err|, the Hyndman & Koehler 2006 scaled error against
    * the naive x_{t−1} forecast) — the "is the model better than
    * persistence" readout every forecasting pipeline needs.
    *
    * Shape at 100TB: everything after the monthly aggregate runs on
    * 24 rows; the lag window is a single fixed-size partition by
    * construction (steps never scale with data volume).
    */
  val forecastEval: Q = Q(
    "q_forecast_eval",
    s"""WITH ${Wave10.holtCteSql},
       |f AS (SELECT step, x_cents,
       |        LAG(level_cents) OVER (ORDER BY step)
       |          + LAG(trend_cents) OVER (ORDER BY step) AS forecast_cents,
       |        LAG(x_cents) OVER (ORDER BY step) AS prev_x
       |      FROM series),
       |e AS (SELECT step, x_cents, forecast_cents,
       |        x_cents - forecast_cents AS err_cents,
       |        CASE WHEN x_cents > 0
       |             THEN ABS(x_cents - forecast_cents) * 1000000 // x_cents
       |        END AS ape_ppm,
       |        ABS(x_cents - prev_x) AS naive_abs
       |      FROM f WHERE step >= 1),
       |sm AS (SELECT
       |    CAST(CAST(SUM(ape_ppm) AS BIGINT) // COUNT(ape_ppm) AS BIGINT)
       |      AS mape_ppm,
       |    CAST(CAST(SUM(ABS(err_cents)) AS HUGEINT) * 1000000
       |         // SUM(naive_abs) AS BIGINT) AS mase_ppm
       |  FROM e)
       |SELECT e.step, e.x_cents, e.forecast_cents, e.err_cents, e.ape_ppm,
       |  sm.mape_ppm, sm.mase_ppm
       |FROM e, sm ORDER BY step""".stripMargin) { (s, d) =>
    // 24 recursion steps by construction — bounded frame (BoundedWindow)
    val w = graft.ops.BoundedWindow.single(col("step"))
    val e = Wave10.holtSeries(s, d)
      .withColumn("forecast_cents",
        lag(col("level_cents"), 1).over(w) + lag(col("trend_cents"), 1).over(w))
      .withColumn("prev_x", lag(col("x_cents"), 1).over(w))
      .filter(col("step") >= 1)
      .withColumn("err_cents", col("x_cents") - col("forecast_cents"))
      .withColumn("ape_ppm",
        when(col("x_cents") > 0,
          expr("abs(err_cents) * 1000000 div x_cents")))
      .withColumn("naive_abs", abs(col("x_cents") - col("prev_x")))
    val sm = e.agg(
      expr("CAST(SUM(ape_ppm) div COUNT(ape_ppm) AS BIGINT)").as("mape_ppm"),
      expr("""CAST(CAST(SUM(ABS(err_cents)) AS DECIMAL(38,0)) * 1000000
             |     div SUM(naive_abs) AS BIGINT)""".stripMargin).as("mase_ppm"))
    e.crossJoin(broadcast(sm))
      .select(col("step"), col("x_cents"), col("forecast_cents"),
        col("err_cents"), col("ape_ppm"), col("mape_ppm"), col("mase_ppm"))
      .orderBy("step")
  }

  /** Per-state entropy of the behavioral Markov chain — how
    * predictable is the NEXT action given the current one (the
    * information-theoretic readout over q_markov_transitions' counts,
    * the same construction). All fxlog2 fixed point:
    *   h_fx = Σ_next n·(fxlog2(N) − fxlog2(n))  (= H·N·2³⁰ exactly)
    * and the normalized ratio h_fx·10⁶ div (N·fxlog2(k)) compares
    * against the uniform-over-k maximum (NULL when k = 1 — a
    * deterministic state has no entropy scale).
    *
    * Shape at 100TB: one user-keyed window for the transitions, one
    * aggregate to the T×T matrix; the log runs on ≤|matrix| distinct
    * arguments.
    */
  val markovEntropy: Q = Q(
    "q_markov_entropy",
    s"""WITH RECURSIVE
       |ev AS (SELECT user_id, event_type, epoch_ms(ts) AS ms, event_id
       |  FROM events),
       |t AS (SELECT event_type AS from_type,
       |        LEAD(event_type) OVER (PARTITION BY user_id
       |                               ORDER BY ms, event_id) AS to_type
       |      FROM ev),
       |c AS (SELECT from_type, to_type, COUNT(*) AS n FROM t
       |      WHERE to_type IS NOT NULL GROUP BY 1, 2),
       |tot AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS total,
       |          COUNT(*) AS k_next
       |        FROM c GROUP BY 1),
       |args AS (SELECT DISTINCT n FROM (
       |  SELECT n FROM c
       |  UNION ALL SELECT total FROM tot
       |  UNION ALL SELECT k_next FROM tot)),
       |${FxLog2.oracleCte("args")},
       |h AS (SELECT c.from_type,
       |        CAST(SUM(c.n * (lt.r - ln.r)) AS BIGINT) AS h_fx
       |      FROM c JOIN tot ON tot.from_type = c.from_type
       |      JOIN lg lt ON lt.n = tot.total
       |      JOIN lg ln ON ln.n = c.n
       |      GROUP BY 1)
       |SELECT t.from_type, t.total AS n_transitions, t.k_next, h.h_fx,
       |  CASE WHEN t.k_next > 1
       |       THEN CAST(CAST(h.h_fx AS HUGEINT) * 1000000
       |                 // (t.total * lk.r) AS BIGINT)
       |  END AS h_ratio_ppm
       |FROM tot t JOIN h ON h.from_type = t.from_type
       |JOIN lg lk ON lk.n = t.k_next
       |ORDER BY t.from_type""".stripMargin) { (s, d) =>
    import graft.functions.Exact.ms
    val byUser = Window.partitionBy("user_id").orderBy("ms", "event_id")
    val c = Tables.load(s, d, "events")
      .select(col("user_id"), col("event_type"),
        ms(col("ts")).as("ms"), col("event_id"))
      .select(col("event_type").as("from_type"),
        lead(col("event_type"), 1).over(byUser).as("to_type"))
      .filter(col("to_type").isNotNull)
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n"))
    val tot = c.groupBy("from_type")
      .agg(sum(col("n")).as("total"), count(lit(1)).as("k_next"))
    val h = c.join(broadcast(tot), "from_type")
      .withColumn("term",
        col("n") * (FxLog2.column(col("total")) - FxLog2.column(col("n"))))
      .groupBy("from_type").agg(sum(col("term")).as("h_fx"))
    tot.join(h, "from_type")
      .select(col("from_type"), col("total").as("n_transitions"),
        col("k_next"), col("h_fx"),
        when(col("k_next") > 1,
          expr("""CAST(CAST(h_fx AS DECIMAL(38,0)) * 1000000
                 |     div (total * graft_fxlog2(k_next)) AS BIGINT)"""
            .stripMargin)).as("h_ratio_ppm"))
      .orderBy("from_type")
  }

  /** Per-part price elasticity of demand: the log-log OLS slope of
    * quantity on effective unit price (list price net of discount)
    * across a part's order lines — the econometrics readout behind
    * pricing decisions, with BOTH logs in [[graft.plans.FxLog2]]
    * fixed point so every (x, y) pair is an exact integer and the
    * slope is the exact rational (nΣxy − ΣxΣy) / (nΣx² − (Σx)²)
    * emitted as one e6-scaled truncating division in the
    * DECIMAL(38)/HUGEINT lane (the q_regression_group moments, fed by
    * portable logs instead of raw values). The effective-price cents
    * use one identical IEEE chain (div · mul · mul · round — each
    * step correctly rounded over the same tree, the theilsen lore).
    *
    * Shape at 100TB: the log runs per fact row inside codegen (no
    * dictionary needed engine-side); one aggregate to per-part
    * moments. The ORACLE's fxlog2 dictionary is a recursive CTE over
    * the DISTINCT price/quantity values — bounded by price-point
    * cardinality, not row count.
    */
  val priceElasticity: Q = Q(
    "q_price_elasticity",
    s"""WITH RECURSIVE
       |p AS (SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
       |    CAST(ROUND(l_extendedprice / l_quantity * (1 - l_discount) * 100,
       |      0) AS BIGINT) AS pc
       |  FROM lineitem),
       |args AS (SELECT DISTINCT n FROM (
       |  SELECT pc AS n FROM p UNION ALL SELECT qty FROM p)),
       |${FxLog2.oracleCte("args")},
       |xy AS (SELECT p.l_partkey, lx.r AS x, ly.r AS y
       |  FROM p JOIN lg lx ON lx.n = p.pc JOIN lg ly ON ly.n = p.qty),
       |m AS (SELECT l_partkey, COUNT(*) AS n,
       |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
       |    CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
       |    CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
       |  FROM xy GROUP BY 1 HAVING COUNT(*) >= 8)
       |SELECT l_partkey, n,
       |  CAST((n * sxy - CAST(sx AS HUGEINT) * sy) * 1000000
       |       // (n * sxx - CAST(sx AS HUGEINT) * sx) AS BIGINT)
       |    AS elasticity_e6
       |FROM m
       |WHERE n * sxx - CAST(sx AS HUGEINT) * sx > 0
       |ORDER BY l_partkey""".stripMargin) { (s, d) =>
    val np = Session.partitions(s)
    val xy = Tables.load(s, d, "lineitem")
      .repartition(np)
      .select(col("l_partkey"),
        FxLog2.column(round(col("l_extendedprice") / col("l_quantity")
          * (lit(1) - col("l_discount")) * 100, 0).cast("long")).as("x"),
        FxLog2.column(col("l_quantity").cast("long")).as("y"))
    val m = xy.groupBy("l_partkey").agg(
      count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
      sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"))
      .filter(col("n") >= 8)
    m.filter(expr("n * sxx - CAST(sx AS DECIMAL(38,0)) * sx > 0"))
      .select(col("l_partkey"), col("n"),
        expr("""CAST((n * sxy - CAST(sx AS DECIMAL(38,0)) * sy) * 1000000
               |     div (n * sxx - CAST(sx AS DECIMAL(38,0)) * sx)
               |     AS BIGINT)""".stripMargin).as("elasticity_e6"))
      .orderBy("l_partkey")
  }

  val all: Seq[Q] = Seq(forecastEval, markovEntropy, priceElasticity)
}
