package graft.queries

import org.apache.spark.sql.functions._
import graft.{Q, Session, Tables}

/** Wave 30 — audit and alignment: the duplicate-payment detector
  * (same payer, same amount, near-in-time — the accounts-payable
  * control every audit runs) and Needleman-Wunsch global sequence
  * alignment (1970) between the two most active users' event
  * histories. Pure integer comparisons and a fixed-size integer DP.
  */
object Wave30 {

  /** Duplicate-payment candidates: order pairs by the same customer
    * in the SAME $1000 amount band within 365 days (keys ordered
    * a < b). The classic double-billing screen; banded-amount matching
    * blocks the join on (customer, band), so it is an equi-join,
    * never a fuzzy scan. (This synthetic ledger's amounts are nearly
    * unique, so exact-cents matching is vacuous — production rules
    * band for the same reason: OCR and fee noise.)
    *
    * Shape at 100TB: self-join blocked on (custkey, band) — the
    * quadratic term is per (payer, band) group, which business
    * reality keeps tiny; the residual date predicate rides the join.
    */
  val dupPayments: Q = Q(
    "q_dup_payments",
    """WITH o AS (SELECT o_orderkey AS ok, o_custkey AS ck,
      |    CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) // 100000 AS band,
      |    epoch_ms(o_orderdate) // 86400000 AS day
      |  FROM orders)
      |SELECT a.ck, a.ok AS ok_a, b.ok AS ok_b, a.band,
      |  CAST(ABS(a.day - b.day) AS BIGINT) AS day_gap
      |FROM o a JOIN o b ON b.ck = a.ck AND b.band = a.band
      |  AND a.ok < b.ok AND ABS(a.day - b.day) <= 365
      |ORDER BY a.ck, ok_a, ok_b""".stripMargin) { (s, d) =>
    val np = Session.partitions(s)
    val o = Tables.load(s, d, "orders").repartition(np)
      .select(col("o_orderkey").as("ok"), col("o_custkey").as("ck"),
        expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) div 100000")
          .as("band"),
        expr("""CAST(unix_millis(CAST(o_orderdate AS TIMESTAMP))
               |  div 86400000 AS BIGINT)""".stripMargin).as("day"))
    val a = o
    val b = o.select(col("ok").as("ok_b"), col("ck").as("ck_b"),
      col("band").as("band_b"), col("day").as("day_b"))
    a.join(b, col("ck_b") === col("ck") && col("band_b") === col("band")
        && col("ok") < col("ok_b")
        && abs(col("day") - col("day_b")) <= 365)
      .select(col("ck"), col("ok").as("ok_a"), col("ok_b"), col("band"),
        abs(col("day") - col("day_b")).as("day_gap"))
      .orderBy("ck", "ok_a", "ok_b")
  }

  private val AlnLen = 16

  /** Needleman-Wunsch global alignment of the two most active users'
    * last-$AlnLen event-type sequences (match +3, mismatch -1, gap
    * -2): the DP table is a fixed ${AlnLen}x$AlnLen integer grid, so
    * the engine folds it through one compiled kernel per pair and the
    * oracle walks the same cells as a linear CTE chain (the q_ts_dtw
    * construction with boundary gap rows). Sequence alignment is the
    * exact-similarity primitive under fuzzy dedup and diff tooling.
    *
    * Shape at 100TB: one window rank per user collapses each sequence
    * to $AlnLen bounded columns; the DP is constant work per pair.
    */
  val seqAlign: Q = {
    def cellExpr(i: Int, j: Int): String = {
      val diag = if (i == 1 && j == 1) "0"
        else if (i == 1) s"${-2 * (j - 1)}"
        else if (j == 1) s"${-2 * (i - 1)}"
        else s"c_${i - 1}_${j - 1}"
      val up = if (i == 1) s"${-2 * j}" else s"c_${i - 1}_$j"
      val left = if (j == 1) s"${-2 * i}" else s"c_${i}_${j - 1}"
      s"GREATEST($diag + (CASE WHEN a$i = b$j THEN 3 ELSE -1 END), " +
        s"$up - 2, $left - 2)"
    }
    val cellSql = (for (i <- 1 to AlnLen; j <- 1 to AlnLen) yield {
      val src = if (i == 1 && j == 1) "p"
        else if (j == 1) s"d_${i - 1}_$AlnLen"
        else s"d_${i}_${j - 1}"
      s"d_${i}_$j AS (SELECT *, ${cellExpr(i, j)} AS c_${i}_$j FROM $src)"
    }).mkString(",\n")
    // Positions past a short sequence's length are padded with a
    // per-side sentinel ('~1'/'~2') rather than left NULL: the Scala
    // kernel's a(i)==b(j) treats null==null as a match (+3) while
    // SQL's CASE WHEN a_i = b_j yields NULL -> ELSE -1, a latent
    // cross-engine divergence whenever a top-2 user has < AlnLen
    // events (r9 ADVICE). Distinct sentinels per side keep padding
    // from ever matching anything — a pad cell always scores the -1
    // mismatch or a -2 gap, identically in both engines.
    def pivot(col: String, tag: Int) = (1 to AlnLen)
      .map(k =>
        s"    COALESCE(MAX(CASE WHEN rn = ${AlnLen + 1 - k} THEN event_type END), '~$tag') AS $col$k")
      .mkString(",\n")
    Q(
      "q_seq_align",
      s"""WITH cnt AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1),
         |top2 AS (SELECT user_id, rk FROM (SELECT user_id,
         |    ROW_NUMBER() OVER (ORDER BY n DESC, user_id) AS rk
         |  FROM cnt) t WHERE rk <= 2),
         |r AS (SELECT e.user_id, e.event_type, t.rk,
         |    ROW_NUMBER() OVER (PARTITION BY e.user_id
         |      ORDER BY epoch_ms(e.ts) DESC, e.event_id DESC) AS rn
         |  FROM events e JOIN top2 t ON t.user_id = e.user_id),
         |sa AS (SELECT MAX(user_id) AS user_a,
         |${pivot("a", 1)}
         |  FROM r WHERE rk = 1 AND rn <= $AlnLen),
         |sb AS (SELECT MAX(user_id) AS user_b,
         |${pivot("b", 2)}
         |  FROM r WHERE rk = 2 AND rn <= $AlnLen),
         |p AS (SELECT * FROM sa, sb),
         |$cellSql
         |SELECT user_a, user_b,
         |  CAST(c_${AlnLen}_$AlnLen AS BIGINT) AS score
         |FROM d_${AlnLen}_$AlnLen""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val np = Session.partitions(s)
      val ev = Tables.load(s, d, "events").repartition(np, col("user_id"))
      val cnt = ev.groupBy("user_id").agg(count(lit(1)).as("n"))
      val top2 = cnt.withColumn("rk", row_number().over(
          graft.ops.BoundedWindow.singleRef(col("user_id"),
            col("n").desc, col("user_id").asc)))
        .filter(col("rk") <= 2)
        .select("user_id", "rk")
      val r = ev.join(broadcast(top2), "user_id")
        .withColumn("rn", row_number().over(
          Window.partitionBy("user_id")
            .orderBy(graft.functions.Exact.ms(col("ts")).desc,
              col("event_id").desc)))
        .filter(col("rn") <= AlnLen)
      // ONE pass builds both sequences (2 rows), then a trivial eager
      // checkpoint so the pair crossJoin doesn't re-rank the corpus
      // once per side
      val seqs = r.groupBy(col("user_id"), col("rk"))
        .agg(map_from_entries(collect_list(struct(col("rn"), col("event_type"))))
          .as("mw"))
        .select(col("user_id"), col("rk"),
          // same per-side sentinel padding as the oracle pivot
          transform(sequence(lit(1), lit(AlnLen)),
            k => coalesce(element_at(col("mw"),
              (lit(AlnLen + 1) - k).cast("int")),
              concat(lit("~"), col("rk").cast("string")))).as("seq"))
        .localCheckpoint(true)
      def seqOf(rk: Int) = seqs.filter(col("rk") === rk).drop("rk")
      val nwUdf = udf((a: Seq[String], b: Seq[String]) => {
        val n = a.length
        val dp = Array.ofDim[Long](n + 1, n + 1)
        for (i <- 0 to n) dp(i)(0) = -2L * i
        for (j <- 0 to n) dp(0)(j) = -2L * j
        for (i <- 1 to n; j <- 1 to n) {
          val m = dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 3 else -1)
          dp(i)(j) = math.max(m,
            math.max(dp(i - 1)(j) - 2, dp(i)(j - 1) - 2))
        }
        dp(n)(n)
      })
      seqOf(1).select(col("user_id").as("user_a"), col("seq").as("seq_a"))
        .crossJoin(
          seqOf(2).select(col("user_id").as("user_b"), col("seq").as("seq_b")))
        .select(col("user_a"), col("user_b"),
          nwUdf(col("seq_a"), col("seq_b")).as("score"))
    }
  }

  val all: Seq[Q] = Seq(dupPayments, seqAlign)
}
