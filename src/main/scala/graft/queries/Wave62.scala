package graft.queries

import org.apache.spark.sql.functions._
import graft.{Q, Session, Tables}
import graft.plans.FxLog2

/** Wave 62 — embedding-space isotropy (is the representation space
  * collapsed onto a few directions? Ethayarajh EMNLP'19 made this the
  * standard representation-quality audit) and Wald's sequential
  * probability ratio test over the event stream (the always-valid
  * sequential A/B decision next to the registry's fixed-horizon
  * q_ab_lift / q_ab_cuped readouts).
  *
  * Determinism: variances are m-form integer moments; entropy runs in
  * [[graft.plans.FxLog2]] fixed point on ≤ 65 DISTINCT arguments; the
  * SPRT log-likelihood increments and Wald bounds are Scala-generated
  * integer literals shared by both engines.
  */
object Wave62 {

  private val Dim = 64

  /** Per-dimension variance spectrum of the fx-1e6 embeddings with
    * exact shares and a fixed-point spectral entropy:
    *   var_i = (n·Σx² − (Σx)²) div n²      (m-form, DECIMAL(38) lane)
    *   H·2³⁰ ≈ h_q30 = Σ var_i·(fxlog2(T) − fxlog2(var_i)) div T
    * where T = Σ var_i — the q_entropy_mi identity over the variance
    * shares, so the "how many effective directions" readout
    * (iso_ppm = h_q30/log2(64) in ppm) hash-matches; a perfectly
    * isotropic space reads 1e6, a rank-1 collapse reads ~0.
    *
    * Shape at 100TB: ONE map-side-combined aggregate collapses the
    * corpus to 64 (Σx, Σx²) cells; the log runs on ≤ 65 distinct
    * integers; everything after is arithmetic on the 64-row spectrum.
    */
  val embedIsotropy: Q = Q(
    "q_embed_isotropy",
    s"""WITH RECURSIVE pts AS MATERIALIZED (SELECT vec_id, i,
       |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS v
       |  FROM embeddings, (SELECT unnest(range(1, ${Dim + 1})) AS i) p),
       |nn AS MATERIALIZED (SELECT COUNT(DISTINCT vec_id) AS n FROM pts),
       |dm AS MATERIALIZED (SELECT i, CAST(SUM(v) AS BIGINT) AS m,
       |    CAST(SUM(CAST(v AS HUGEINT) * v) AS HUGEINT) AS s2
       |  FROM pts GROUP BY 1),
       |vr AS MATERIALIZED (SELECT dm.i,
       |    CAST((nn.n * dm.s2 - CAST(dm.m AS HUGEINT) * dm.m)
       |         // (CAST(nn.n AS HUGEINT) * nn.n) AS BIGINT) AS var_d
       |  FROM dm, nn),
       |tr AS MATERIALIZED (SELECT CAST(SUM(var_d) AS BIGINT) AS trace_d
       |  FROM vr),
       |args AS (SELECT DISTINCT n FROM (
       |  SELECT var_d AS n FROM vr WHERE var_d > 0
       |  UNION ALL SELECT trace_d AS n FROM tr) ua),
       |${FxLog2.oracleCte("args")},
       |h AS MATERIALIZED (SELECT CAST(SUM(CASE WHEN vr.var_d > 0
       |      THEN CAST(vr.var_d AS HUGEINT) * (lt.r - lv.r) ELSE 0 END)
       |      // MAX(tr.trace_d) AS BIGINT) AS h_q30
       |  FROM vr CROSS JOIN tr
       |  JOIN lg lt ON lt.n = tr.trace_d
       |  LEFT JOIN lg lv ON lv.n = vr.var_d)
       |SELECT CAST(vr.i AS BIGINT) AS dim, vr.var_d,
       |  CAST(CAST(vr.var_d AS HUGEINT) * 1000000 // tr.trace_d AS BIGINT)
       |    AS share_ppm,
       |  tr.trace_d, h.h_q30,
       |  CAST(CAST(h.h_q30 AS HUGEINT) * 1000000 // 6442450944 AS BIGINT)
       |    AS iso_ppm
       |FROM vr, tr, h ORDER BY dim""".stripMargin) { (s, d) =>
    val np = Session.partitions(s)
    val fxUdf = udf { v: Seq[Float] =>
      v.map(x => math.floor(x.toDouble * 1e6).toLong)
    }
    val pts = Tables.load(s, d, "embeddings").repartition(np)
    val dm = pts.select(posexplode(fxUdf(col("embedding"))))
      .groupBy((col("pos") + 1).cast("long").as("i"))
      .agg(sum(col("col")).as("m"),
        sum(expr("CAST(col AS DECIMAL(38,0)) * col")).as("s2"))
    val nn = pts.agg(count(lit(1)).as("n"))
    val vr = dm.crossJoin(broadcast(nn))
      .withColumn("var_d",
        expr("""CAST((n * s2 - CAST(m AS DECIMAL(38,0)) * m)
               |     div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)"""
          .stripMargin))
      .select(col("i"), col("var_d"))
    val tr = vr.agg(sum(col("var_d")).cast("long").as("trace_d"))
    val withT = vr.crossJoin(broadcast(tr))
    val h = withT.agg(expr(
      """CAST(SUM(CASE WHEN var_d > 0
        |      THEN CAST(var_d AS DECIMAL(38,0)) *
        |           (graft_fxlog2(trace_d) - graft_fxlog2(var_d))
        |      ELSE 0 END) div MAX(trace_d) AS BIGINT)""".stripMargin)
      .as("h_q30"))
    withT.crossJoin(broadcast(h))
      .select(col("i").as("dim"), col("var_d"),
        expr("""CAST(CAST(var_d AS DECIMAL(38,0)) * 1000000
               |     div trace_d AS BIGINT)""".stripMargin).as("share_ppm"),
        col("trace_d"), col("h_q30"),
        expr("""CAST(CAST(h_q30 AS DECIMAL(38,0)) * 1000000
               |     div 6442450944 AS BIGINT)""".stripMargin).as("iso_ppm"))
      .orderBy("dim")
  }

  /** SPRT design constants (Wald 1945): H0 p=0.20 vs H1 p=0.25 on the
    * per-event purchase indicator, alpha = beta = 0.05. Increments and
    * bounds in Q20 fixed point, generated once for both engines. */
  private val P0 = 0.20
  private val P1 = 0.25
  private val IncPos = math.round(math.log(P1 / P0) * (1L << 20))
  private val IncNeg = math.round(math.log((1 - P1) / (1 - P0)) * (1L << 20))
  private val BoundUp = math.round(math.log(0.95 / 0.05) * (1L << 20))
  private val BoundDn = -BoundUp

  /** Wald's SPRT over the time-ordered event stream: each event moves
    * the log-likelihood ratio by ln(p1/p0) (purchase) or
    * ln((1−p1)/(1−p0)) (anything else), and the test stops the first
    * time the walk leaves (ln β/(1−α), ln (1−β)/α). The readout is
    * the full audit row: stream size, conversions, final LLR, both
    * first-crossing indices and the decision — the always-valid
    * sequential companion to the fixed-horizon A/B readouts.
    *
    * Shape at 100TB: the running LLR is a [[graft.ops.RankedPrefix]]
    * two-phase prefix sum over day buckets (never an unpartitioned
    * window); crossings fold map-side to one row.
    */
  val abSprt: Q = Q(
    "q_ab_sprt",
    s"""WITH e AS (SELECT epoch_ms(ts) AS ms, event_id,
       |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x,
       |    CASE WHEN event_type = 'purchase' THEN $IncPos
       |         ELSE $IncNeg END AS llr
       |  FROM events),
       |r AS (SELECT x, llr,
       |    ROW_NUMBER() OVER (ORDER BY ms, event_id) AS rk,
       |    SUM(llr) OVER (ORDER BY ms, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM e),
       |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
       |    CAST(SUM(x) AS BIGINT) AS n_conv,
       |    CAST(SUM(llr) AS BIGINT) AS llr_final,
       |    COALESCE(MIN(CASE WHEN cum >= $BoundUp THEN rk END), -1)
       |      AS cross_up,
       |    COALESCE(MIN(CASE WHEN cum <= $BoundDn THEN rk END), -1)
       |      AS cross_dn
       |  FROM r)
       |SELECT n_events, n_conv, llr_final,
       |  CAST(cross_up AS BIGINT) AS cross_up,
       |  CAST(cross_dn AS BIGINT) AS cross_dn,
       |  CAST(CASE
       |    WHEN cross_up <> -1 AND (cross_dn = -1 OR cross_up < cross_dn)
       |      THEN 1
       |    WHEN cross_dn <> -1 THEN -1 ELSE 0 END AS BIGINT) AS decision,
       |  CAST($BoundUp AS BIGINT) AS bound_q20
       |FROM agg ORDER BY n_events""".stripMargin) { (s, d) =>
    import graft.ops.RankedPrefix
    val e = Tables.load(s, d, "events")
      .select(graft.functions.Exact.ms(col("ts")).as("ms"), col("event_id"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("x"),
        when(col("event_type") === "purchase", IncPos).otherwise(IncNeg)
          .as("llr"))
    val ranked = RankedPrefix.rankedCumsum(
      e, RankedPrefix.rangeBucket(col("ms"), 86400000L), bucketDesc = false,
      order = Seq(col("ms"), col("event_id")),
      sums = Seq("llr" -> "cum", "x" -> "cx"), rankCol = Some("rk"))
    val agg = ranked.df.agg(
      coalesce(min(when(col("cum") >= BoundUp, col("rk"))), lit(-1L))
        .as("cross_up"),
      coalesce(min(when(col("cum") <= BoundDn, col("rk"))), lit(-1L))
        .as("cross_dn"))
    agg.select(
      lit(ranked.nRows).as("n_events"),
      lit(ranked.totals("x")).as("n_conv"),
      lit(ranked.totals("llr")).as("llr_final"),
      col("cross_up"), col("cross_dn"),
      expr(s"""CAST(CASE
              |  WHEN cross_up <> -1 AND (cross_dn = -1 OR cross_up < cross_dn)
              |    THEN 1
              |  WHEN cross_dn <> -1 THEN -1 ELSE 0 END AS BIGINT)"""
        .stripMargin).as("decision"),
      lit(BoundUp).as("bound_q20"))
      .orderBy("n_events")
  }

  val all: Seq[Q] = Seq(embedIsotropy, abSprt)
}
