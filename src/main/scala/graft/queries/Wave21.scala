package graft.queries

import org.apache.spark.sql.functions._
import graft.{Q, Session, Tables}

/** Wave 21 — sequence decoding and factorization: per-user HMM Viterbi
  * MAP decoding (Viterbi 1967; the Forney 1973 trellis form) over each
  * user's last six events, and a rank-1 ALS matrix factorization
  * (Koren/Bell/Volinsky 2009) of the customer x part quantity matrix.
  * Both live in the exact-integer lane: Viterbi is adds + max over
  * fixed milli-unit log-weights; ALS is truncating fixed-point
  * divisions, so every intermediate hash-matches cross-engine.
  */
object Wave21 {

  // ---------------------------------------------------------------
  // q_hmm_viterbi — shared model. Scores are milli log-weights; the
  // SQL CASE fragments below are generated from these tables so the
  // Spark plan and the DuckDB oracle cannot drift. (defs, not vals:
  // CLAUDE.md val-init-order lore.)
  // ---------------------------------------------------------------
  private def emis: Map[Int, Seq[(String, Long)]] = Map(
    0 -> Seq("view" -> 0L, "click" -> -100L, "signup" -> -400L,
      "purchase" -> -1600L, "error" -> -300L),
    1 -> Seq("view" -> -300L, "click" -> -120L, "signup" -> -150L,
      "purchase" -> -80L, "error" -> -700L))
  private def trans: Map[(Int, Int), Long] =
    Map((0, 0) -> -50L, (0, 1) -> -500L, (1, 0) -> -450L, (1, 1) -> -60L)
  private def init: Map[Int, Long] = Map(0 -> 0L, 1 -> -250L)

  /** Emission score of state `s` for the event type held in column
    * `c` — a CASE fragment valid in both Spark SQL and DuckDB. */
  private def eCase(s: Int, c: String): String = {
    val whens = emis(s)
      .map { case (t, w) => s"WHEN '$t' THEN $w" }.mkString(" ")
    s"(CASE $c $whens ELSE -2000 END)"
  }

  /** One trellis step: dp/backpointer columns for step k from step
    * k-1 (columns d0_{k-1}, d1_{k-1}), observing column o{k}. Ties
    * prefer state 0 — the >= makes the argmax deterministic. */
  private def stepCols(k: Int): Seq[(String, String)] = {
    val p = k - 1
    Seq(
      s"d0_$k" -> (s"GREATEST(d0_$p + ${trans((0, 0))}, d1_$p + " +
        s"${trans((1, 0))}) + ${eCase(0, s"o$k")}"),
      s"b0_$k" -> (s"CASE WHEN d0_$p + ${trans((0, 0))} >= d1_$p + " +
        s"${trans((1, 0))} THEN 0 ELSE 1 END"),
      s"d1_$k" -> (s"GREATEST(d0_$p + ${trans((0, 1))}, d1_$p + " +
        s"${trans((1, 1))}) + ${eCase(1, s"o$k")}"),
      s"b1_$k" -> (s"CASE WHEN d0_$p + ${trans((0, 1))} >= d1_$p + " +
        s"${trans((1, 1))} THEN 0 ELSE 1 END"))
  }

  /** Backtrace: s6 from the final argmax, then s_k = bp_{k+1}[s_{k+1}]
    * down the stored backpointers. */
  private def backtraceCols: Seq[(String, String)] =
    Seq("s6" -> "CASE WHEN d0_6 >= d1_6 THEN 0 ELSE 1 END") ++
      (5 to 1 by -1).map { k =>
        s"s$k" -> s"CASE WHEN s${k + 1} = 0 THEN b0_${k + 1} ELSE b1_${k + 1} END"
      }

  private def pathExpr: String =
    "CONCAT(" + (1 to 6)
      .map(k => s"CASE WHEN s$k = 0 THEN 'C' ELSE 'I' END")
      .mkString(", ") + ")"

  /** Per-user Viterbi MAP decoding of the last six events through a
    * two-state engagement HMM ('C'asual / 'I'ntent) with fixed integer
    * milli log-weights: dp adds + max per step, stored backpointers,
    * deterministic tie-break toward state 0. Output is the decoded
    * state path, its score, and the final state — the building block
    * of intent models, burst detection and sessionized labeling.
    *
    * Shape at 100TB: one window rank per user (key-partitioned
    * shuffle), a pivot to six bounded columns, then six chained
    * narrow projections — the trellis never materializes more than
    * O(states) columns per row, and nothing after the pivot shuffles.
    */
  val hmmViterbi: Q = {
    val stepSql = (2 to 6).map { k =>
      val cols = stepCols(k)
        .map { case (n, e) => s"    $e AS $n" }.mkString(",\n")
      s"v$k AS (SELECT *,\n$cols\n  FROM v${k - 1})"
    }.mkString(",\n")
    val btSql = backtraceCols.zipWithIndex.map { case ((n, e), i) =>
      val src = if (i == 0) "v6" else s"bt${i - 1}"
      s"bt$i AS (SELECT *, $e AS $n FROM $src)"
    }.mkString(",\n")
    val pivotSql = (1 to 6)
      .map(k => s"    MAX(CASE WHEN rn = ${7 - k} THEN event_type END) AS o$k")
      .mkString(",\n")
    Q(
      "q_hmm_viterbi",
      s"""WITH r AS (SELECT user_id, event_type,
         |    ROW_NUMBER() OVER (PARTITION BY user_id
         |      ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
         |  FROM events),
         |p AS (SELECT user_id,
         |$pivotSql
         |  FROM r WHERE rn <= 6 GROUP BY user_id HAVING COUNT(*) = 6),
         |v1 AS (SELECT *, ${init(0)} + ${eCase(0, "o1")} AS d0_1,
         |    ${init(1)} + ${eCase(1, "o1")} AS d1_1 FROM p),
         |$stepSql,
         |$btSql
         |SELECT user_id, $pathExpr AS path,
         |  CAST(GREATEST(d0_6, d1_6) AS BIGINT) AS score,
         |  CASE WHEN s6 = 0 THEN 'C' ELSE 'I' END AS final_state
         |FROM bt5 ORDER BY user_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val np = Session.partitions(s)
      val w = Window.partitionBy("user_id")
        .orderBy(graft.functions.Exact.ms(col("ts")).desc, col("event_id").desc)
      val ranked = Tables.load(s, d, "events").repartition(np, col("user_id"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 6)
      val pivoted = ranked.groupBy("user_id")
        .agg(
          count(lit(1)).as("n_ev"),
          (1 to 6).map(k =>
            max(when(col("rn") === (7 - k), col("event_type"))).as(s"o$k")): _*)
        .filter(col("n_ev") === 6)
      val v1 = pivoted
        .withColumn("d0_1", expr(s"${init(0)} + ${eCase(0, "o1")}"))
        .withColumn("d1_1", expr(s"${init(1)} + ${eCase(1, "o1")}"))
      val trellis = (2 to 6).foldLeft(v1) { (df, k) =>
        stepCols(k).foldLeft(df) { case (d2, (n, e)) =>
          d2.withColumn(n, expr(e))
        }
      }
      val traced = backtraceCols.foldLeft(trellis) { case (df, (n, e)) =>
        df.withColumn(n, expr(e))
      }
      traced.select(col("user_id"), expr(pathExpr).as("path"),
        expr("CAST(GREATEST(d0_6, d1_6) AS BIGINT)").as("score"),
        expr("CASE WHEN s6 = 0 THEN 'C' ELSE 'I' END").as("final_state"))
        .orderBy("user_id")
    }
  }

  /** Rank-1 ALS factorization of the customer x part quantity-cents
    * matrix: v0 = 1.000 (milli) for every part, one exact least-squares
    * solve per customer (u = FX * sum(r*v0) // sum(v0^2), landing in r's
    * own cents units since v0 is the all-ones vector), one per part
    * (v = sum(r*u) * FX // sum(u^2), milli), then the per-customer
    * training SSE and RMSE of u*v//FX against r. All divisions are
    * truncating fixed-point, so both engines agree bit for bit; sqrt
    * is the one libm call IEEE makes exact. Envelope: sum(r*u*FX) stays
    * under 2^63 up to ~1e6 ratings per part at these magnitudes —
    * beyond that the v-step's sums move to DECIMAL(38).
    *
    * Shape at 100TB: the ratings build is one (cust,part) shuffle;
    * each ALS half-step is a key-partitioned aggregate; the score join
    * redistributes ratings by part then customer. Factors stay columns
    * of the distributed frames — no driver-side matrix ever exists.
    */
  val alsRank1: Q = {
    def ratingsSql =
      """r AS (SELECT o.o_custkey AS ck, l.l_partkey AS pk,
        |    CAST(SUM(CAST(ROUND(l.l_quantity * 100, 0) AS BIGINT))
        |      AS BIGINT) AS r
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  GROUP BY 1, 2)""".stripMargin
    Q(
      "q_als_rank1",
      s"""WITH $ratingsSql,
         |u AS (SELECT ck,
         |    CAST(SUM(r * 1000) * 1000 // SUM(CAST(1000 AS BIGINT) * 1000)
         |      AS BIGINT) AS u_unit
         |  FROM r GROUP BY ck),
         |v AS (SELECT pk,
         |    CAST(SUM(r * u_unit) * 1000 // SUM(u_unit * u_unit)
         |      AS BIGINT) AS v_milli
         |  FROM r JOIN u USING (ck)
         |  GROUP BY pk HAVING SUM(u_unit * u_unit) > 0),
         |e AS (SELECT r.ck, u.u_unit,
         |    (r.r * 1000 - u.u_unit * v.v_milli) // 1000 AS err
         |  FROM r JOIN u USING (ck) JOIN v USING (pk))
         |SELECT ck AS custkey, u_unit,
         |  CAST(COUNT(*) AS BIGINT) AS n_items,
         |  CAST(SUM(err * err) AS BIGINT) AS sse,
         |  CAST(FLOOR(SQRT(CAST(SUM(err * err) AS BIGINT) // COUNT(*)))
         |    AS BIGINT) AS rmse_c
         |FROM e GROUP BY 1, 2 ORDER BY custkey""".stripMargin) { (s, d) =>
      val np = Session.partitions(s)
      val li = Tables.load(s, d, "lineitem").repartition(np)
      val ord = Tables.load(s, d, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_custkey"))
      val r = li.join(ord, "l_orderkey")
        .groupBy(col("o_custkey").as("ck"), col("l_partkey").as("pk"))
        .agg(sum(expr("CAST(ROUND(l_quantity * 100, 0) AS BIGINT)")).as("r"))
      val u = r.groupBy("ck")
        .agg(expr("CAST(SUM(r * 1000) * 1000 div SUM(CAST(1000 AS BIGINT) * 1000) AS BIGINT)")
          .as("u_unit"))
      val v = r.join(u, "ck")
        .groupBy("pk")
        .agg(
          expr("CAST(SUM(r * u_unit) * 1000 div SUM(u_unit * u_unit) AS BIGINT)")
            .as("v_milli"),
          sum(expr("u_unit * u_unit")).as("uu"))
        .filter(col("uu") > 0)
        .drop("uu")
      r.join(u, "ck").join(v, "pk")
        .select(col("ck"), col("u_unit"),
          expr("(r * 1000 - u_unit * v_milli) div 1000").as("err"))
        .groupBy(col("ck").as("custkey"), col("u_unit"))
        .agg(
          count(lit(1)).as("n_items"),
          sum(expr("err * err")).as("sse"))
        .select(col("custkey"), col("u_unit"), col("n_items"), col("sse"),
          expr("CAST(FLOOR(SQRT(sse div n_items)) AS BIGINT)").as("rmse_c"))
        .orderBy("custkey")
    }
  }

  val all: Seq[Q] = Seq(hmmViterbi, alsRank1)
}
