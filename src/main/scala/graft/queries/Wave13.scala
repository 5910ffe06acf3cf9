package graft.queries

import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.functions.Exact.ms
import graft.text.Text

/** Wave 13 — time-series diagnostics, network structure metrics, and
  * lexicon scoring. All exact-integer: mean-centering multiplied
  * through by n (no division before the final ppm), ppm correlations
  * in the DECIMAL(38)/HUGEINT lane.
  */
object Wave13 {

  /** Autocorrelation function of daily order revenue at lags 1..7 —
    * the Box-Jenkins model-identification diagnostic. Deviations are
    * mean-centered WITHOUT division (n·x − S, the q_anomaly_cusum
    * trick), so ACF(k) = Σ(n·x_t−S)(n·x_{t+k}−S) ·10⁶ div Σ(n·x_t−S)²
    * is exact integer arithmetic end to end; the numerator can be
    * negative (both engines truncate toward zero).
    *
    * Shape at 100TB: the fact table aggregates once to the per-day
    * series; the lag join is a broadcast band self-join of that tiny
    * series (the q_ts_ema shape) — the scan never joins anything.
    */
  val tsAcf: Q = Q(
    "q_ts_acf",
    """WITH d AS (SELECT epoch_ms(o_orderdate) // 86400000 AS day,
      |    CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY 1),
      |s AS (SELECT COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS tot FROM d),
      |den AS (SELECT CAST(SUM(CAST(d.cents * s.n - s.tot AS HUGEINT)
      |                       * (d.cents * s.n - s.tot)) AS HUGEINT) AS d2
      |  FROM d, s),
      |lag AS (SELECT k.lag,
      |    CAST(SUM(CAST(a.cents * s.n - s.tot AS HUGEINT)
      |             * (b.cents * s.n - s.tot)) AS HUGEINT) AS num,
      |    COUNT(*) AS n_pairs
      |  FROM d a JOIN (SELECT unnest(range(1, 8)) AS lag) k
      |    ON TRUE
      |  JOIN d b ON b.day = a.day + k.lag, s
      |  GROUP BY 1)
      |SELECT l.lag, l.n_pairs,
      |  CAST(l.num * 1000000 // den.d2 AS BIGINT) AS acf_ppm
      |FROM lag l, den ORDER BY lag""".stripMargin) { (s, d) =>
    val daily = Tables.load(s, d, "orders")
      .groupBy(graft.functions.Exact.bucket(ms(col("o_orderdate")), 86400000L)
        .as("day"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
    val st = daily.agg(count(lit(1)).as("n"), sum(col("cents")).as("tot"))
    val dev = daily.crossJoin(broadcast(st))
      .select(col("day"),
        (col("cents") * col("n") - col("tot")).as("c"))
    val den = dev.agg(
      sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("d2"))
    val lags = dev.as("a")
      .withColumn("lag", explode(sequence(lit(1L), lit(7L))))
      .join(broadcast(dev.select(col("day").as("bday"), col("c").as("bc"))),
        col("bday") === col("day") + col("lag"))
      .groupBy("lag")
      .agg(sum(expr("CAST(c AS DECIMAL(38,0)) * bc")).as("num"),
        count(lit(1)).as("n_pairs"))
    lags.crossJoin(broadcast(den))
      .select(col("lag"), col("n_pairs"),
        expr("CAST(CAST(num AS DECIMAL(38,0)) * 1000000 div d2 AS BIGINT)")
          .as("acf_ppm"))
      .orderBy("lag")
  }

  /** Degree assortativity of the co-purchase graph (Newman 2002): the
    * Pearson correlation of endpoint degrees across DIRECTED edge
    * instances (both orientations, the standard undirected treatment),
    * as the exact-ppm r² + sign formulation of q_corr_exact —
    * assortative graphs (hubs link hubs) score positive. Five integer
    * moments over the edge list; r² = num²·10⁶ div (d1·d2) in HUGEINT,
    * sqrt-free.
    *
    * Shape at 100TB: degrees from one aggregate of the symmetric edge
    * list; the moment sums are one more aggregate over edges joined to
    * the node-sized degree table (broadcast at sane graph sizes,
    * shuffle at extreme V).
    */
  val graphAssortativity: Q = Q(
    "q_graph_assortativity",
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS (SELECT a.l_partkey AS u, b.l_partkey AS v
      |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      |        AND a.l_partkey < b.l_partkey
      |      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |eu AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
      |deg AS (SELECT u AS node, COUNT(*) AS deg FROM eu GROUP BY 1),
      |xy AS (SELECT du.deg AS x, dv.deg AS y
      |  FROM eu JOIN deg du ON du.node = eu.u JOIN deg dv ON dv.node = eu.v),
      |m AS (SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx,
      |        CAST(SUM(y) AS BIGINT) AS sy,
      |        CAST(SUM(x * y) AS BIGINT) AS sxy,
      |        CAST(SUM(x * x) AS BIGINT) AS sxx,
      |        CAST(SUM(y * y) AS BIGINT) AS syy
      |      FROM xy)
      |SELECT n AS n_edge_ends, sx, sxy,
      |  CASE WHEN n * sxy - sx * sy > 0 THEN 1
      |       WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 0 END AS sign_r,
      |  CAST(CAST(n * sxy - sx * sy AS HUGEINT) * (n * sxy - sx * sy)
      |       * 1000000
      |       // (CAST(n * sxx - sx * sx AS HUGEINT) * (n * syy - sy * sy))
      |    AS BIGINT) AS r2_ppm
      |FROM m ORDER BY n_edge_ends""".stripMargin) { (s, d) =>
    // Suite-shared a-priori-pruned edge build (GraphShared); the lazy
    // checkpoint below keeps the symmetric closure computed once for
    // BOTH the degree aggregate and the edge-end join (5.8s -> ~2s
    // isolated sf0.1 when the edge build ran per consumer)
    val eu = GraphShared.symmetric(s, d).select("u", "v")
      .localCheckpoint(false)
    val deg = eu.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
    val xy = eu
      .join(broadcast(deg.toDF("u", "x")), "u")
      .join(broadcast(deg.toDF("v", "y")), "v")
    val m = xy.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"))
    m.select(col("n").as("n_edge_ends"), col("sx"), col("sxy"),
      expr("""CASE WHEN n * sxy - sx * sy > 0 THEN 1
             |     WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 0 END"""
        .stripMargin).as("sign_r"),
      expr("""CAST(CAST(n * sxy - sx * sy AS DECIMAL(38,0))
             |     * (n * sxy - sx * sy) * 1000000
             |     div (CAST(n * sxx - sx * sx AS DECIMAL(38,0))
             |          * (n * syy - sy * sy)) AS BIGINT)""".stripMargin)
        .as("r2_ppm"))
  }

  /** Lexicon-based sentiment scoring: per document the positive /
    * negative hit counts against broadcast word lists and the net
    * polarity in exact ppm of the token count — the rule-based
    * sentiment baseline (the structure of VADER/AFINN scoring with a
    * deterministic in-repo lexicon). Docs without tokens carry NULL
    * polarity rather than a fabricated zero.
    *
    * Shape at 100TB: the lexicon is a literal IN-list compiled into
    * the scan projection — zero joins, zero shuffles before the
    * per-doc aggregate.
    */
  val textSentiment: Q = {
    val pos = Seq("good", "great", "best", "fast", "clean", "right", "new")
    val neg = Seq("bad", "slow", "wrong", "dup", "error", "old", "broken")
    def inList(ws: Seq[String]) = ws.map("'" + _ + "'").mkString(", ")
    Q(
      "q_text_sentiment",
      s"""WITH tk AS (SELECT doc_id, ${Text.tokensSql("text")} AS toks FROM documents),
         |sc AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         |    CAST(len(list_filter(toks, x -> x IN (${inList(pos)})))
         |      AS BIGINT) AS n_pos,
         |    CAST(len(list_filter(toks, x -> x IN (${inList(neg)})))
         |      AS BIGINT) AS n_neg
         |  FROM tk)
         |SELECT doc_id, n_tokens, n_pos, n_neg,
         |  CASE WHEN n_tokens > 0
         |       THEN (n_pos - n_neg) * 1000000 // n_tokens END AS polarity_ppm
         |FROM sc ORDER BY doc_id""".stripMargin) { (s, d) =>
      val toks = graft.text.Text.tokens(col("text"))
      def hits(ws: Seq[String]) =
        size(filter(toks, t => t.isin(ws: _*)))
      Tables.load(s, d, "documents")
        .select(col("doc_id"),
          size(toks).cast("long").as("n_tokens"),
          hits(pos).cast("long").as("n_pos"),
          hits(neg).cast("long").as("n_neg"))
        .withColumn("polarity_ppm",
          when(col("n_tokens") > 0,
            expr("(n_pos - n_neg) * 1000000 div n_tokens")))
        .orderBy("doc_id")
    }
  }

  val all: Seq[Q] = Seq(tsAcf, graphAssortativity, textSentiment)
}
