package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Session, Tables}

/** Wave 32 — cohort economics: cumulative lifetime-value curves per
  * signup cohort (the revenue companion to q_cohort_retention's
  * presence triangle). Purchase values quantize to cents at the row
  * (the DECIMAL(18,2) discipline), so the cumulative curve is an
  * exact integer everywhere.
  */
object Wave32 {

  /** Per-cohort LTV curve: users cohort by their first-event week,
    * purchase revenue buckets by week offset, and each (cohort,
    * offset) row carries the per-cohort CUMULATIVE revenue cents and
    * the per-user LTV so far (cum // cohort size) — the curve a
    * growth team reads payback periods from.
    *
    * Shape at 100TB: two user-keyed aggregates (cohort build + user
    * attribution), one (cohort, offset)-keyed fold, and the running
    * sum partitions by cohort over the calendar-bounded offset axis —
    * never a global window.
    */
  val cohortLtv: Q = Q(
    "q_cohort_ltv",
    """WITH e AS (SELECT user_id, epoch_ms(ts) // 604800000 AS wk,
      |    event_type,
      |    CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
      |  FROM events),
      |c AS (SELECT user_id, MIN(wk) AS cohort_wk FROM e GROUP BY 1),
      |cs AS (SELECT cohort_wk, CAST(COUNT(*) AS BIGINT) AS cohort_n
      |  FROM c GROUP BY 1),
      |p AS (SELECT c.cohort_wk, e.wk - c.cohort_wk AS week_offset,
      |    CAST(SUM(e.cents) AS BIGINT) AS rev_c
      |  FROM e JOIN c ON c.user_id = e.user_id
      |  WHERE e.event_type = 'purchase'
      |  GROUP BY 1, 2),
      |w AS (SELECT cohort_wk, week_offset, rev_c,
      |    CAST(SUM(rev_c) OVER (PARTITION BY cohort_wk
      |      ORDER BY week_offset) AS BIGINT) AS cum_rev_c
      |  FROM p)
      |SELECT w.cohort_wk, w.week_offset, w.rev_c, w.cum_rev_c,
      |  cs.cohort_n,
      |  CAST(w.cum_rev_c // cs.cohort_n AS BIGINT) AS ltv_per_user_c
      |FROM w JOIN cs ON cs.cohort_wk = w.cohort_wk
      |ORDER BY w.cohort_wk, w.week_offset""".stripMargin) { (s, d) =>
    val np = Session.partitions(s)
    val e = Tables.load(s, d, "events").repartition(np, col("user_id"))
      .select(col("user_id"),
        expr("CAST(unix_millis(CAST(ts AS TIMESTAMP)) div 604800000 AS BIGINT)")
          .as("wk"),
        col("event_type"),
        expr("CAST(ROUND(value * 100, 0) AS BIGINT)").as("cents"))
    val c = e.groupBy("user_id").agg(min("wk").as("cohort_wk"))
    val cs = c.groupBy("cohort_wk").agg(count(lit(1)).as("cohort_n"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, "user_id")
      .groupBy(col("cohort_wk"),
        (col("wk") - col("cohort_wk")).as("week_offset"))
      .agg(sum("cents").as("rev_c"))
    val w = p.withColumn("cum_rev_c",
      sum("rev_c").over(Window.partitionBy("cohort_wk")
        .orderBy("week_offset")))
    w.join(cs, "cohort_wk")
      .select(col("cohort_wk"), col("week_offset"), col("rev_c"),
        col("cum_rev_c"), col("cohort_n"),
        expr("CAST(cum_rev_c div cohort_n AS BIGINT)").as("ltv_per_user_c"))
      .orderBy("cohort_wk", "week_offset")
  }

  val all: Seq[Q] = Seq(cohortLtv)
}
