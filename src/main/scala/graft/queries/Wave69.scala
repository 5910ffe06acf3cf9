package graft.queries

import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.text.Text

/** Wave 69 — LLM-evaluation aggregation primitives, part 1: arena-
  * style pairwise-preference ranking (Bradley-Terry 1952; the
  * Chatbot-Arena aggregation, Chiang et al. arXiv 2403.04132 §4 uses
  * exactly this model) and inter-annotator agreement (Cohen's kappa,
  * 1960 — the label-quality gate every eval pipeline runs before
  * trusting its raters).
  */
object Wave69 {

  /** MM fixed-point rounds (Hunter 2004 "MM algorithms for generalized
    * Bradley-Terry models", Ann. Statist. 32(1) eq. 1.5). 8 rounds:
    * convergence is geometric on this well-connected comparison graph
    * and rank ORDER stabilizes well before values. */
  private val BtRounds = 8

  private val E12 = "1000000000000"

  /** One round of the MM update as SQL over the bounded (i, j, nij)
    * match matrix — γ'_i = W_i / Σ_j n_ij/(γ_i+γ_j) multiplied through
    * to the exact integer form
    *   γ' = clamp(1, 1e12, W_i·1e12 div max(1, Σ_j n_ij·1e12 div (γ_i+γ_j)))
    * in the 38-digit lane. Both clamps are degenerate-input guards
    * (an all-loss player's γ floors at 1 instead of hitting a zero
    * denominator next round); per-term truncating division makes the
    * round replayable bit-for-bit. */
  /** The exact-integer MM recursion (the oracle's unrolled rounds in
    * BigInt — HUGEINT's mirror). Exposed for Wave69Spec's axiom tests. */
  /** The single derivation of the player set and opponent map from the
    * match matrix — shared by [[btFixedPoint]] and the query readout so
    * the reported n_matches/rnk can never drift from the ratings the
    * recursion produced. */
  private[graft] def btPlayersOpp(nij: Map[(String, String), Long])
      : (Seq[String], Map[String, Seq[String]]) = {
    val players = nij.keys.map(_._1).toSeq.distinct.sorted
    val opp: Map[String, Seq[String]] = players
      .map(i => i -> players.filter(j => nij.contains((i, j)))).toMap
    (players, opp)
  }

  private[graft] def btFixedPoint(
      nij: Map[(String, String), Long],
      wins: Map[String, Long],
      rounds: Int): Map[String, BigInt] = {
    val E12b = BigInt(1000000000000L)
    val (players, opp) = btPlayersOpp(nij)
    var g: Map[String, BigInt] = players.map(_ -> BigInt(1000000)).toMap
    for (_ <- 1 to rounds) {
      g = players.map { i =>
        val dI = opp(i)
          .map(j => (BigInt(nij((i, j))) * E12b) / (g(i) + g(j))).sum
          .max(BigInt(1))
        val gi = ((BigInt(wins.getOrElse(i, 0L)) * E12b) / dI)
          .max(BigInt(1)).min(E12b)
        i -> gi
      }.toMap
    }
    g
  }

  private def btRoundSql(k: Int): String =
    s"""r$k AS MATERIALIZED (
       |  SELECT d.i,
       |    LEAST(CAST($E12 AS HUGEINT), GREATEST(CAST(1 AS HUGEINT),
       |      CAST(COALESCE(w.wins, 0) AS HUGEINT) * $E12 // d.d)) AS g
       |  FROM (SELECT n.i,
       |          GREATEST(CAST(1 AS HUGEINT),
       |            SUM(CAST(n.nij AS HUGEINT) * $E12 // (gi.g + gj.g)))
       |            AS d
       |        FROM nm n
       |        JOIN r${k - 1} gi ON gi.i = n.i
       |        JOIN r${k - 1} gj ON gj.i = n.j
       |        GROUP BY n.i) d
       |  LEFT JOIN w ON w.i = d.i)""".stripMargin

  /** q_eval_bradley_terry: brand strength ratings from pairwise
    * "matches" — within every order, each pair of distinct brands is
    * one comparison won by the brand with the larger exact-micro spend
    * in that order (ties to the lexicographically smaller brand, which
    * is deterministic on both engines). The MM recursion runs on the
    * collected ≤ brands² match matrix — the bounded-dictionary
    * driver-solve posture of q_markov_absorption — while the oracle
    * unrolls the identical integer rounds as MATERIALIZED CTEs.
    *
    * Shape at 100TB: the data-sized work is one (order, brand) micro-
    * spend aggregate and one merge-hinted self-join on the order key
    * (per-order fan-out bounded by brands², so output stays linear in
    * orders); everything after the (i, j) match-count aggregate is
    * arithmetic on a ≤ 25×25 dictionary — collected to the driver like
    * a learned model, never joined back at data grain. */
  /** Exact micro-spend aggregate shared with Wave77's preference-cycle
    * audit (a def, not a val, so no object's initialization order can
    * read it as null). */
  private[queries] def btSpendSql: String =
    """SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)
      |    * (10000 - CAST(ROUND(l.l_discount * 10000, 0) AS BIGINT)))"""
      .stripMargin

  /** SUITE-SHARED (w, l, n) match-count frame: the (order, brand)
    * micro-spend aggregate + the merge-hinted order-key self-join,
    * materialized once per suite (brand-pair dictionary grain, <=
    * brands² rows) and consumed by both q_eval_bradley_terry (which
    * collects it as the MM model input) and q_pref_cycles (which
    * rolls it to majority edges) — the data-sized work runs once. */
  private[queries] def btPairFrame(
      s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame =
    graft.ops.SharedFrames.frame(s, d, "bt_pairs") {
      val os = Tables.load(s, d, "lineitem").as("l")
        .join(Tables.load(s, d, "part")
          .select(col("p_partkey").as("l_partkey"), col("p_brand").as("b")),
          "l_partkey")
        .groupBy(col("l_orderkey").as("ok"), col("b"))
        .agg(expr(btSpendSql.replace("l.l_", "l_")).as("spend"))
      val a = os.select(col("ok"), col("b").as("ba"), col("spend").as("sa"))
        .hint("merge")
      val c = os.select(col("ok").as("ok2"), col("b").as("bc"),
        col("spend").as("sc")).hint("merge")
      a.join(c, col("ok") === col("ok2") && col("ba") < col("bc"))
        .select(
          when(col("sa") >= col("sc"), col("ba")).otherwise(col("bc")).as("w"),
          when(col("sa") >= col("sc"), col("bc")).otherwise(col("ba")).as("l"))
        .groupBy("w", "l").agg(count(lit(1)).as("n"))
    }

  val evalBradleyTerry: Q = {
    val spendSql = btSpendSql
    Q(
      "q_eval_bradley_terry",
      s"""WITH os AS MATERIALIZED (
         |  SELECT l.l_orderkey AS ok, p.p_brand AS b, $spendSql AS spend
         |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
         |  GROUP BY 1, 2),
         |mt AS MATERIALIZED (
         |  SELECT CASE WHEN a.spend >= c.spend THEN a.b ELSE c.b END AS w,
         |         CASE WHEN a.spend >= c.spend THEN c.b ELSE a.b END AS l
         |  FROM os a JOIN os c ON a.ok = c.ok AND a.b < c.b),
         |pair AS MATERIALIZED (
         |  SELECT w, l, CAST(COUNT(*) AS BIGINT) AS n FROM mt GROUP BY 1, 2),
         |nm AS MATERIALIZED (
         |  SELECT i, j, CAST(SUM(n) AS BIGINT) AS nij FROM (
         |    SELECT w AS i, l AS j, n FROM pair
         |    UNION ALL SELECT l AS i, w AS j, n FROM pair) z
         |  GROUP BY 1, 2),
         |w AS MATERIALIZED (
         |  SELECT w AS i, CAST(SUM(n) AS BIGINT) AS wins FROM pair GROUP BY 1),
         |tm AS MATERIALIZED (
         |  SELECT i, CAST(SUM(nij) AS BIGINT) AS nmt FROM nm GROUP BY 1),
         |pl AS MATERIALIZED (SELECT DISTINCT i FROM nm),
         |r0 AS (SELECT i, CAST(1000000 AS HUGEINT) AS g FROM pl),
         |${(1 to BtRounds).map(btRoundSql).mkString(",\n")}
         |SELECT p.i AS brand, tm.nmt AS n_matches,
         |  CAST(COALESCE(w.wins, 0) AS BIGINT) AS n_wins,
         |  CAST(r$BtRounds.g AS BIGINT) AS rating_fx,
         |  CAST(ROW_NUMBER() OVER (ORDER BY r$BtRounds.g DESC, p.i)
         |    AS BIGINT) AS rnk
         |FROM pl p JOIN r$BtRounds ON r$BtRounds.i = p.i
         |JOIN tm ON tm.i = p.i LEFT JOIN w ON w.i = p.i
         |ORDER BY brand""".stripMargin) { (s, d) =>
      val pair = btPairFrame(s, d)
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      // Driver-side bounded MM recursion — exactly the oracle's
      // unrolled rounds, in BigInt (HUGEINT's mirror).
      val nij = pair.toSeq
        .flatMap { case ((w, l), n) => Seq((w, l) -> n, (l, w) -> n) }
        .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).sum }
      val wins = pair.toSeq.groupBy(_._1._1)
        .map { case (w, xs) => w -> xs.map(_._2).sum }
      val (players, opp) = btPlayersOpp(nij)
      val g = btFixedPoint(nij, wins, BtRounds)
      val ranked = players
        .map(i => (i, opp(i).map(j => nij((i, j))).sum,
          wins.getOrElse(i, 0L), g(i).toLong))
        .sortBy { case (i, _, _, r) => (-r, i) }
        .zipWithIndex
        .map { case ((i, nmt, wn, r), idx) => (i, nmt, wn, r, idx + 1L) }
        .sortBy(_._1)
      import s.implicits._
      ranked.toDF("brand", "n_matches", "n_wins", "rating_fx", "rnk")
        .orderBy("brand")
    }
  }

  /** q_eval_kappa: Cohen's kappa agreement between two deterministic
    * heuristic raters over the document corpus, per language — rater A
    * passes a doc when it has ≥ 56 tokens (the corpus median), rater B
    * when at least half its tokens are distinct (lexical-diversity
    * gate). kappa = (p_o − p_e)/(1 − p_e) cross-multiplied into ONE
    * exact division: (n·agree − pe_num)·1e6 div (n² − pe_num), with
    * pe_num = a1·b1 + a0·b0, in the 38-digit lane (n²·1e6 outgrows
    * BIGINT at ~3e6 docs per language — the q_eval_passk lesson).
    *
    * Shape at 100TB: one narrow map over docs (two boolean gates),
    * one map-side-combined aggregate to the 5-language dictionary;
    * the kappa arithmetic runs on dictionary-grain rows. */
  val evalKappa: Q = Q(
    "q_eval_kappa",
    s"""WITH r AS (
      |  SELECT lang,
      |    CASE WHEN len(toks) >= 56 THEN 1 ELSE 0 END AS a,
      |    CASE WHEN 2 * len(list_distinct(toks)) >= len(toks)
      |         THEN 1 ELSE 0 END AS b
      |  FROM (SELECT lang,
      |          ${Text.tokensSql("text")}
      |            AS toks
      |        FROM documents) t),
      |cm AS (SELECT lang,
      |    CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(a * b) AS BIGINT) AS n11,
      |    CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
      |    CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
      |    CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00
      |  FROM r GROUP BY 1)
      |SELECT lang, n, n11, n10, n01, n00,
      |  CASE WHEN CAST(n AS HUGEINT) * n
      |            - (CAST(n11 + n10 AS HUGEINT) * (n11 + n01)
      |               + CAST(n01 + n00 AS HUGEINT) * (n10 + n00)) = 0
      |       THEN NULL
      |       ELSE CAST((CAST(n AS HUGEINT) * (n11 + n00)
      |              - (CAST(n11 + n10 AS HUGEINT) * (n11 + n01)
      |                 + CAST(n01 + n00 AS HUGEINT) * (n10 + n00)))
      |            * 1000000
      |            // (CAST(n AS HUGEINT) * n
      |               - (CAST(n11 + n10 AS HUGEINT) * (n11 + n01)
      |                  + CAST(n01 + n00 AS HUGEINT) * (n10 + n00)))
      |            AS BIGINT) END AS kappa_ppm
      |FROM cm ORDER BY lang""".stripMargin) { (s, d) =>
    val r = Tables.load(s, d, "documents")
      .select(col("lang"),
        Text.tokens(col("text")).as("toks"))
      .select(col("lang"),
        when(size(col("toks")) >= 56, 1L).otherwise(0L).as("a"),
        when(size(array_distinct(col("toks"))) * 2 >= size(col("toks")), 1L)
          .otherwise(0L).as("b"))
    r.groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(col("a") * col("b")).as("n11"),
        sum(col("a") * (lit(1L) - col("b"))).as("n10"),
        sum((lit(1L) - col("a")) * col("b")).as("n01"),
        sum((lit(1L) - col("a")) * (lit(1L) - col("b"))).as("n00"))
      .select(col("lang"), col("n"), col("n11"), col("n10"), col("n01"),
        col("n00"),
        expr("""CASE WHEN CAST(n AS DECIMAL(38,0)) * n
               |          - (CAST(n11 + n10 AS DECIMAL(38,0)) * (n11 + n01)
               |             + CAST(n01 + n00 AS DECIMAL(38,0)) * (n10 + n00)) = 0
               |     THEN NULL
               |     ELSE CAST((CAST(n AS DECIMAL(38,0)) * (n11 + n00)
               |            - (CAST(n11 + n10 AS DECIMAL(38,0)) * (n11 + n01)
               |               + CAST(n01 + n00 AS DECIMAL(38,0)) * (n10 + n00)))
               |          * 1000000
               |          div (CAST(n AS DECIMAL(38,0)) * n
               |             - (CAST(n11 + n10 AS DECIMAL(38,0)) * (n11 + n01)
               |                + CAST(n01 + n00 AS DECIMAL(38,0)) * (n10 + n00)))
               |          AS BIGINT) END""".stripMargin).as("kappa_ppm"))
      .orderBy("lang")
  }

  val all: Seq[Q] = Seq(evalBradleyTerry, evalKappa)
}
