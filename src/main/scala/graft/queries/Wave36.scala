package graft.queries

import org.apache.spark.sql.functions._
import graft.{Q, Session, Tables}

/** Wave 36 — traffic shape: the Fano factor (index of dispersion,
  * variance over mean of per-hour arrival counts) per event type —
  * the burstiness readout capacity planners compare against the
  * Poisson baseline of 1.0. Exact integers end to end: hourly counts,
  * m-form second moment, truncating ppm divisions.
  */
object Wave36 {

  /** Per-event-type burstiness over hourly arrival counts:
    *   fano_ppm = (sum(c^2) - sum(c)^2 // n) * 1e6 // sum(c)
    * over the OCCUPIED hours n of that type (the m-form second moment
    * over hours, divided by the total = n * mean — one extra
    * truncation avoided by folding n into the denominator). 1e6 reads
    * as Poisson; above is bursty, below is regular. Also reports the
    * hours span and the peak hour count.
    *
    * Shape at 100TB: one (type, hour)-keyed aggregate collapses the
    * stream; the moment fold runs on the calendar-bounded hour
    * dictionary per type. sum(c)^2 runs in DECIMAL(38)/HUGEINT (a
    * billion-event type overflows the BIGINT square).
    */
  val trafficBurstiness: Q = Q(
    "q_traffic_burstiness",
    """WITH h AS (SELECT event_type, epoch_ms(ts) // 3600000 AS hr,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours,
      |    CAST(SUM(c) AS BIGINT) AS total,
      |    CAST(SUM(c * c) AS BIGINT) AS s2,
      |    CAST(MAX(c) AS BIGINT) AS peak
      |  FROM h GROUP BY 1)
      |SELECT event_type, n_hours, total, peak,
      |  CAST((s2 - CAST(total AS HUGEINT) * total // n_hours) * 1000000
      |    // total AS BIGINT) AS fano_ppm
      |FROM m ORDER BY event_type""".stripMargin) { (s, d) =>
    val np = Session.partitions(s)
    val h = Tables.load(s, d, "events").repartition(np)
      .groupBy(col("event_type"),
        expr("CAST(unix_millis(CAST(ts AS TIMESTAMP)) div 3600000 AS BIGINT)")
          .as("hr"))
      .agg(count(lit(1)).as("c"))
    h.groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"), sum("c").as("total"),
        sum(expr("c * c")).as("s2"), max("c").as("peak"))
      .select(col("event_type"), col("n_hours"), col("total"), col("peak"),
        expr("""CAST((CAST(s2 AS DECIMAL(38,0))
               |  - CAST(total AS DECIMAL(38,0)) * total div n_hours)
               |  * 1000000 div total AS BIGINT)""".stripMargin)
          .as("fano_ppm"))
      .orderBy("event_type")
  }

  val all: Seq[Q] = Seq(trafficBurstiness)
}
