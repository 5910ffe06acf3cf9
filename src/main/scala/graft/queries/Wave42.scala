package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Session, Tables}

/** Wave 42 — leaderboard dynamics and absorption analysis: the daily
  * trending top-k over a rolling shipment window (rank + rank delta),
  * and expected steps-to-conversion per funnel state from the Markov
  * chain's absorption fixed point. Exact integers throughout.
  */
object Wave42 {

  private val TrendK = 3
  private val AbsRounds = 24
  private val Absorbing = "purchase"

  /** Daily trending parts: for each ship-day, rank that day's shipped
    * parts by their trailing-7-day shipment count (RANGE frame over
    * the day axis — quiet days inside the window count for free) and
    * keep the top 3, with each part's rank on its previous active day
    * riding along (the "movers" column; -1 = first appearance).
    * Candidates are the parts shipped THAT day — the standard
    * leaderboard gate that keeps the frame data-row-sized instead of
    * (parts x days)-spine-sized.
    *
    * Shape at 100TB: one (part, day) aggregate; a part-keyed RANGE
    * window for the trailing count; a day-keyed rank window (~active
    * parts per day rows each); a part-keyed lag. Every window carries
    * a partition spec.
    */
  val trendingTopk: Q = Q(
    "q_trending_topk",
    s"""WITH pc AS (SELECT l_partkey AS pk,
       |    epoch_ms(l_shipdate) // 86400000 AS day,
       |    CAST(COUNT(*) AS BIGINT) AS n
       |  FROM lineitem GROUP BY 1, 2),
       |tr AS (SELECT pk, day, n,
       |    CAST(SUM(n) OVER (PARTITION BY pk ORDER BY day
       |      RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS trail7
       |  FROM pc),
       |rk AS (SELECT pk, day, n, trail7,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY day
       |      ORDER BY trail7 DESC, pk) AS BIGINT) AS rnk
       |  FROM tr),
       |dl AS (SELECT pk, day, n, trail7, rnk,
       |    COALESCE(LAG(rnk) OVER (PARTITION BY pk ORDER BY day), -1)
       |      AS prev_rank
       |  FROM rk)
       |SELECT day, rnk, pk AS partkey, trail7, n AS n_today, prev_rank
       |FROM dl WHERE rnk <= $TrendK ORDER BY day, rnk""".stripMargin) {
    (s, d) =>
    val np = Session.partitions(s)
    val pc = Tables.load(s, d, "lineitem").repartition(np, col("l_partkey"))
      .select(col("l_partkey").as("pk"),
        expr("unix_millis(CAST(l_shipdate AS TIMESTAMP)) div 86400000")
          .as("day"))
      .groupBy("pk", "day").agg(count(lit(1)).as("n"))
    val wTrail = Window.partitionBy("pk").orderBy("day")
      .rangeBetween(-6, Window.currentRow)
    val wRank = Window.partitionBy("day")
      .orderBy(col("trail7").desc, col("pk"))
    val wLag = Window.partitionBy("pk").orderBy("day")
    pc.withColumn("trail7", sum("n").over(wTrail))
      .withColumn("rnk", row_number().over(wRank).cast("long"))
      .withColumn("prev_rank",
        coalesce(lag(col("rnk"), 1).over(wLag), lit(-1L)))
      .filter(col("rnk") <= TrendK)
      .select(col("day"), col("rnk"), col("pk").as("partkey"),
        col("trail7"), col("n").as("n_today"), col("prev_rank"))
      .orderBy("day", "rnk")
  }

  /** Expected steps to conversion: treating '$Absorbing' as absorbing
    * in the per-user event-type Markov chain (the q_markov_transitions
    * matrix), the mean-hitting-time system  x = 1 + Q x  is solved by
    * $AbsRounds fixed-point rounds in truncating micro units — the
    * "how many more events until this user state converts" readout.
    * The direct conversion probability per state rides along.
    *
    * Shape at 100TB: the transition matrix is (event types)^2 — a
    * dictionary. One data-sized lead-window aggregate builds it; the
    * solve iterates driver-side on the collected matrix (KMeansFx's
    * codebook posture: state is kilobytes, the plan stays constant).
    */
  val markovAbsorption: Q = {
    // AS MATERIALIZED per round: DuckDB's optimizer otherwise doubles
    // its work per inlined round (~2x/round measured — 24 rounds hung
    // the sf0.01 check); materialization keeps each round constant.
    val rounds = (1 to AbsRounds).map { k =>
      s"""x$k AS MATERIALIZED (SELECT st.state,
         |    1000000 + CAST(COALESCE(SUM(q.p_e6 * x.x), 0) // 1000000
         |      AS BIGINT) AS x
         |  FROM st LEFT JOIN q ON q.from_type = st.state
         |  LEFT JOIN x${k - 1} x ON x.state = q.to_type
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    Q(
      "q_markov_absorption",
      s"""WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms, event_id
         |  FROM events),
         |t AS (SELECT event_type AS from_type,
         |    LEAD(event_type) OVER (PARTITION BY user_id
         |      ORDER BY ms, event_id) AS to_type
         |  FROM e),
         |c AS MATERIALIZED (SELECT from_type, to_type,
         |    CAST(COUNT(*) AS BIGINT) AS n
         |  FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2),
         |tot AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS total
         |  FROM c GROUP BY 1),
         |p AS (SELECT c.from_type, c.to_type,
         |    c.n * 1000000 // t.total AS p_e6
         |  FROM c JOIN tot t ON t.from_type = c.from_type),
         |st AS MATERIALIZED (SELECT DISTINCT from_type AS state FROM p
         |  WHERE from_type <> '$Absorbing'),
         |q AS MATERIALIZED (SELECT from_type, to_type, p_e6 FROM p
         |  WHERE from_type <> '$Absorbing' AND to_type <> '$Absorbing'),
         |x0 AS (SELECT state, CAST(0 AS BIGINT) AS x FROM st),
         |$rounds,
         |pabs AS (SELECT from_type AS state, p_e6 AS p_conv_e6 FROM p
         |  WHERE to_type = '$Absorbing' AND from_type <> '$Absorbing')
         |SELECT s.state, x.x AS steps_micro,
         |  COALESCE(pa.p_conv_e6, 0) AS p_conv_e6
         |FROM st s JOIN x$AbsRounds x ON x.state = s.state
         |LEFT JOIN pabs pa ON pa.state = s.state
         |ORDER BY s.state""".stripMargin) { (s, d) =>
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
      val tot = c.groupBy("from_type").agg(sum("n").as("total"))
      val p = c.join(broadcast(tot), "from_type")
        .select(col("from_type"), col("to_type"),
          expr("n * 1000000 div total").as("p_e6"))
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      // dictionary-sized driver solve (the KMeansFx codebook posture)
      val states = p.map(_._1).filter(_ != Absorbing).distinct.sorted
      val qm = p.filter(t => t._1 != Absorbing && t._2 != Absorbing)
        .groupBy(_._1)
      var x = states.map(_ -> 0L).toMap
      for (_ <- 1 to AbsRounds) {
        x = states.map { st =>
          val acc = qm.getOrElse(st, Array.empty)
            .map { case (_, to, pe6) => pe6 * x.getOrElse(to, 0L) }.sum
          st -> (1000000L + acc / 1000000L)
        }.toMap
      }
      val pabs = p.filter(t => t._2 == Absorbing && t._1 != Absorbing)
        .map(t => t._1 -> t._3).toMap
      import s.implicits._
      states.map(st => (st, x(st), pabs.getOrElse(st, 0L))).toSeq
        .toDF("state", "steps_micro", "p_conv_e6")
        .orderBy("state")
    }
  }

  val all: Seq[Q] = Seq(trendingTopk, markovAbsorption)
}
