package graft.queries

import org.apache.spark.sql.functions._
import graft.{Q, Session, Tables}

/** Wave 20 — governance operators: the k-anonymity / l-diversity
  * privacy audit (Sweeney 2002; Machanavajjhala et al. 2007) and
  * bitemporal as-was / as-is restatement reporting. Both are pure
  * integer-count queries — nothing to drift cross-engine.
  */
object Wave20 {

  /** k-anonymity + l-diversity audit of the customer table under the
    * quasi-identifier (market segment, nation, account-balance
    * band): every equivalence class reports its size (k) and the
    * number of distinct sensitive values (l — the customer's modal
    * order priority), with the k>=5 / l>=2 verdicts and the global
    * suppression rate (share of customers in failing classes) in
    * ppm. This is the release-gate check privacy reviews run before
    * any quasi-identified extract ships.
    *
    * Shape at 100TB: one aggregate to equivalence classes (bounded by
    * the QI domain, not the row count), a second count-distinct fold
    * inside it, one-row global totals broadcast back. The sensitive
    * attribute derives from a groupBy-argmax over orders — a
    * key-partitioned shuffle, map-side combined.
    */
  val kanonAudit: Q = Q(
    "q_kanon_audit",
    """WITH sens AS (SELECT o_custkey,
      |    o_orderpriority AS sv,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey
      |      ORDER BY COUNT(*) DESC, o_orderpriority) AS rn
      |  FROM orders GROUP BY o_custkey, o_orderpriority),
      |cs AS (SELECT c.c_custkey, c.c_mktsegment AS segment,
      |    c.c_nationkey AS nation,
      |    CAST(ROUND(c.c_acctbal * 100, 0) AS BIGINT) // 100000 AS bal_band,
      |    s.sv
      |  FROM customer c JOIN sens s ON s.o_custkey = c.c_custkey
      |    AND s.rn = 1),
      |eq AS (SELECT segment, nation, bal_band,
      |    CAST(COUNT(*) AS BIGINT) AS k,
      |    CAST(COUNT(DISTINCT sv) AS BIGINT) AS l
      |  FROM cs GROUP BY 1, 2, 3),
      |tot AS (SELECT CAST(SUM(k) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN k < 5 OR l < 2 THEN k ELSE 0 END) AS BIGINT)
      |      AS n_suppressed
      |  FROM eq)
      |SELECT eq.segment, eq.nation, eq.bal_band, eq.k, eq.l,
      |  CAST(CASE WHEN eq.k >= 5 THEN 1 ELSE 0 END AS BIGINT) AS k_ok,
      |  CAST(CASE WHEN eq.l >= 2 THEN 1 ELSE 0 END AS BIGINT) AS l_ok,
      |  CAST(tot.n_suppressed * 1000000 // tot.n AS BIGINT)
      |    AS suppression_ppm
      |FROM eq, tot
      |ORDER BY segment, nation, bal_band""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val np = Session.partitions(s)
    val byCust = Window.partitionBy("o_custkey")
      .orderBy(col("cnt").desc, col("o_orderpriority").asc)
    val sens = Tables.load(s, d, "orders").repartition(np)
      .groupBy("o_custkey", "o_orderpriority")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(byCust))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderpriority").as("sv"))
    val cs = Tables.load(s, d, "customer")
      .select(col("c_custkey"), col("c_mktsegment").as("segment"),
        col("c_nationkey").as("nation"),
        expr("CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) div 100000")
          .as("bal_band"))
      .join(sens.withColumnRenamed("o_custkey", "c_custkey"), "c_custkey")
    val eq = cs.groupBy("segment", "nation", "bal_band")
      .agg(count(lit(1)).as("k"), countDistinct("sv").as("l"))
    val tot = eq.agg(sum("k").as("n"),
      sum(when(col("k") < 5 || col("l") < 2, col("k")).otherwise(0L))
        .as("n_suppressed"))
    eq.crossJoin(broadcast(tot))
      .select(col("segment"), col("nation"), col("bal_band"), col("k"),
        col("l"),
        when(col("k") >= 5, 1L).otherwise(0L).as("k_ok"),
        when(col("l") >= 2, 1L).otherwise(0L).as("l_ok"),
        expr("CAST(n_suppressed * 1000000 div n AS BIGINT)")
          .as("suppression_ppm"))
      .orderBy("segment", "nation", "bal_band")
  }

  /** Bitemporal restatement report: a deterministic ~6% of orders
    * arrive LATE (md5 arm on the order key — the same at-least-once
    * posture as q_incremental_agg's delta), and each month reports
    * revenue AS-WAS (what the dashboard showed before the late data
    * landed), AS-IS (after), the restatement delta, and its relative
    * size in ppm — the correction audit every revenue pipeline with
    * late-arriving facts owes its consumers.
    *
    * Shape at 100TB: two conditional sums in ONE month-keyed
    * aggregate (no join between the arms — the CASE does it
    * map-side); months are calendar-bounded output.
    */
  val bitemporalRestate: Q = Q(
    "q_bitemporal_restate",
    """WITH o AS (SELECT EXTRACT(YEAR FROM o_orderdate) * 100
      |      + EXTRACT(MONTH FROM o_orderdate) AS month,
      |    CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
      |    CASE WHEN md5(CAST(o_orderkey AS VARCHAR)) < '1' THEN 1 ELSE 0 END
      |      AS is_late
      |  FROM orders),
      |m AS (SELECT month,
      |    CAST(SUM(CASE WHEN is_late = 0 THEN cents ELSE 0 END) AS BIGINT)
      |      AS as_was,
      |    CAST(SUM(cents) AS BIGINT) AS as_is,
      |    CAST(SUM(is_late) AS BIGINT) AS n_late,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM o GROUP BY 1)
      |SELECT month, as_was, as_is, as_is - as_was AS restated,
      |  n_late, n,
      |  CAST(CASE WHEN as_is > 0 THEN (as_is - as_was) * 1000000 // as_is
      |    END AS BIGINT) AS restate_ppm
      |FROM m ORDER BY month""".stripMargin) { (s, d) =>
    val np = Session.partitions(s)
    Tables.load(s, d, "orders").repartition(np)
      .select(
        (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
          .cast("long").as("month"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"),
        (md5(col("o_orderkey").cast("string")) < "1").cast("long")
          .as("is_late"))
      .groupBy("month")
      .agg(
        sum(when(col("is_late") === 0, col("cents")).otherwise(0L))
          .as("as_was"),
        sum("cents").as("as_is"),
        sum("is_late").as("n_late"),
        count(lit(1)).as("n"))
      .select(col("month"), col("as_was"), col("as_is"),
        (col("as_is") - col("as_was")).as("restated"),
        col("n_late"), col("n"),
        expr("""CAST(CASE WHEN as_is > 0 THEN
               |  (as_is - as_was) * 1000000 div as_is END AS BIGINT)"""
          .stripMargin).as("restate_ppm"))
      .orderBy("month")
  }

  val all: Seq[Q] = Seq(kanonAudit, bitemporalRestate)
}
