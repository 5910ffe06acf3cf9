package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, Session, Tables}
import graft.plans.FxLog2
import graft.text.Text

/** Wave 70 — LLM-evaluation aggregation primitives, part 2: the
  * n-gram text-overlap metrics every generation eval reports — BLEU
  * (Papineni et al. ACL 2002: clipped n-gram precision under a
  * brevity penalty) and ROUGE-N (Lin 2004: n-gram recall + F1).
  * Candidate/reference pairs are deterministic: each document against
  * the next doc_id within its language — a mix of near-duplicates and
  * unrelated text, exactly the dynamic range a metric audit needs.
  *
  * Cross-engine determinism: counts are exact integers; BLEU's
  * geometric mean lives in fxlog2 fixed point (log2·2³⁰) and the
  * brevity penalty log2 BP = (1 − r/c)/ln2 is ONE truncating division
  * through the shared InvLn2E9 constant — pow/exp never replay, log
  * space does. ROUGE needs no logs at all: recall and F1 are exact
  * rationals (F1 = 2·clip/(tot_c + tot_r)).
  */
object Wave70 {

  /** 1/ln2 × 1e9 (the Wave66 constant — both engines share the
    * literal, so the only "libm" is a compile-time rational). */
  private val InvLn2E9 = 1442695041L

  /** Oracle fragment: pairs + per-pair clipped 1/2-gram matches.
    * tot unigrams = token count and tot bigrams = len−1, so only the
    * clip sums need gram joins. */
  private def pairStatsSql: String =
    s"""d AS MATERIALIZED (SELECT doc_id, lang,
      |    ${Text.tokensSql("text")} AS toks
      |  FROM documents),
      |pr AS (SELECT doc_id AS cid,
      |    LEAD(doc_id) OVER (PARTITION BY lang ORDER BY doc_id) AS rid,
      |    CAST(len(toks) AS BIGINT) AS c_len
      |  FROM d),
      |p AS MATERIALIZED (SELECT pr.cid, pr.rid, pr.c_len,
      |    CAST(len(dr.toks) AS BIGINT) AS r_len
      |  FROM pr JOIN d dr ON dr.doc_id = pr.rid),
      |g1 AS MATERIALIZED (SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM (SELECT doc_id, unnest(toks) AS gram FROM d) z GROUP BY 1, 2),
      |g2 AS MATERIALIZED (SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS gram
      |        FROM d, (SELECT unnest(range(1,
      |            (SELECT COALESCE(MAX(len(toks)), 0) + 1 FROM d))) AS i) ix
      |        WHERE i <= len(toks) - 1) z GROUP BY 1, 2),
      |m1 AS MATERIALIZED (SELECT p.cid,
      |    CAST(SUM(LEAST(cg.c, rg.c)) AS BIGINT) AS clip
      |  FROM p JOIN g1 cg ON cg.doc_id = p.cid
      |  JOIN g1 rg ON rg.doc_id = p.rid AND rg.gram = cg.gram
      |  GROUP BY 1),
      |m2 AS MATERIALIZED (SELECT p.cid,
      |    CAST(SUM(LEAST(cg.c, rg.c)) AS BIGINT) AS clip
      |  FROM p JOIN g2 cg ON cg.doc_id = p.cid
      |  JOIN g2 rg ON rg.doc_id = p.rid AND rg.gram = cg.gram
      |  GROUP BY 1),
      |st AS MATERIALIZED (SELECT p.cid, p.rid, p.c_len, p.r_len,
      |    COALESCE(m1.clip, 0) AS clip1, COALESCE(m2.clip, 0) AS clip2
      |  FROM p LEFT JOIN m1 ON m1.cid = p.cid
      |  LEFT JOIN m2 ON m2.cid = p.cid)""".stripMargin

  /** Engine side of [[pairStatsSql]]: (cid, rid, c_len, r_len, clip1,
    * clip2), one row per adjacent same-language pair.
    *
    * Shape at 100TB: the pairing is a lang-partitioned window (one
    * shuffle); gram counts are one map-side-combined aggregate per n;
    * the clip joins are (doc, gram) equi-joins — candidate and
    * reference legs co-partition on the pair's doc ids, nothing
    * all-pairs, nothing data-sized on the driver. */
  private def pairStats(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents")
      .repartition(Session.partitions(s))
      .select(col("doc_id"), col("lang"),
        Text.tokens(col("text")).as("toks"))
    val byLang = Window.partitionBy("lang").orderBy("doc_id")
    val pr = d.select(col("doc_id").as("cid"),
      lead(col("doc_id"), 1).over(byLang).as("rid"),
      size(col("toks")).cast("long").as("c_len"))
      .filter(col("rid").isNotNull)
    val p = pr.join(
      d.select(col("doc_id").as("rid"),
        size(col("toks")).cast("long").as("r_len")), "rid")
    def grams(n: Int): DataFrame = Tables.load(s, dir, "documents")
      .repartition(Session.partitions(s))
      .select(col("doc_id"),
        explode(Text.shingleListUdf(n)(col("text"))).as("gram"))
      .groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
    def clip(n: Int): DataFrame = {
      val g = grams(n)
      p.select("cid", "rid")
        .join(g.select(col("doc_id").as("cid"), col("gram"),
          col("c").as("cc")), Seq("cid"))
        .join(g.select(col("doc_id").as("rid"), col("gram"),
          col("c").as("rc")), Seq("rid", "gram"))
        .groupBy("cid")
        .agg(sum(least(col("cc"), col("rc"))).as(s"clip$n"))
    }
    p.join(clip(1), Seq("cid"), "left")
      .join(clip(2), Seq("cid"), "left")
      .select(col("cid"), col("rid"), col("c_len"), col("r_len"),
        coalesce(col("clip1"), lit(0L)).as("clip1"),
        coalesce(col("clip2"), lit(0L)).as("clip2"))
  }

  /** q_eval_bleu: per-pair BLEU-2 in log2 fixed point —
    * log2BLEU·2³⁰ = (lg(clip1) − lg(c_len) + lg(clip2) − lg(c_len−1))
    * div 2 + bp_fx, bp_fx = 0 when c ≥ r else
    * (c−r)·InvLn2E9·2³⁰ div (c·1e9); NULL when either clip is 0
    * (log of zero precision). The fxlog2 kernel runs on the DISTINCT
    * clip/length dictionary, never per pair row. */
  val evalBleu: Q = Q(
    "q_eval_bleu",
    s"""WITH RECURSIVE
       |$pairStatsSql,
       |args AS (SELECT DISTINCT n FROM (
       |  SELECT clip1 AS n FROM st UNION ALL
       |  SELECT clip2 FROM st UNION ALL
       |  SELECT c_len FROM st UNION ALL
       |  SELECT c_len - 1 FROM st) z WHERE n > 0),
       |${FxLog2.oracleCte("args")}
       |SELECT st.cid AS cand_id, st.rid AS ref_id, st.c_len, st.r_len,
       |  st.clip1, st.clip2,
       |  CASE WHEN st.clip1 > 0 AND st.clip2 > 0 THEN
       |    CAST((l1.r - lc.r + l2.r - lcm.r) // 2
       |      + CASE WHEN st.c_len >= st.r_len THEN 0
       |             ELSE CAST(CAST(st.c_len - st.r_len AS HUGEINT)
       |                  * $InvLn2E9 * 1073741824
       |                  // (CAST(st.c_len AS HUGEINT) * 1000000000)
       |                  AS BIGINT) END
       |      AS BIGINT)
       |  END AS log2_bleu_fx
       |FROM st
       |LEFT JOIN lg l1 ON l1.n = st.clip1
       |LEFT JOIN lg l2 ON l2.n = st.clip2
       |LEFT JOIN lg lc ON lc.n = st.c_len
       |LEFT JOIN lg lcm ON lcm.n = st.c_len - 1
       |ORDER BY cand_id""".stripMargin) { (s, d) =>
    pairStats(s, d)
      .select(col("cid").as("cand_id"), col("rid").as("ref_id"),
        col("c_len"), col("r_len"), col("clip1"), col("clip2"),
        expr(s"""CASE WHEN clip1 > 0 AND clip2 > 0 THEN
                |  CAST((graft_fxlog2(clip1) - graft_fxlog2(c_len)
                |        + graft_fxlog2(clip2) - graft_fxlog2(c_len - 1))
                |       div 2
                |    + CASE WHEN c_len >= r_len THEN 0
                |           ELSE CAST(CAST(c_len - r_len AS DECIMAL(38,0))
                |                * $InvLn2E9 * 1073741824
                |                div (CAST(c_len AS DECIMAL(38,0))
                |                     * 1000000000)
                |                AS BIGINT) END
                |    AS BIGINT)
                |END""".stripMargin).as("log2_bleu_fx"))
      .orderBy("cand_id")
  }

  /** q_eval_rouge: per-pair ROUGE-1/ROUGE-2 recall and F1 in exact
    * ppm — no logs anywhere: recall = clip·1e6 div r_tot and
    * F1 = 2·clip·1e6 div (c_tot + r_tot) are exact rationals. */
  val evalRouge: Q = Q(
    "q_eval_rouge",
    s"""WITH $pairStatsSql
       |SELECT cid AS cand_id, rid AS ref_id, clip1, clip2,
       |  CASE WHEN r_len > 0
       |       THEN clip1 * 1000000 // r_len END AS rouge1_recall_ppm,
       |  CASE WHEN c_len + r_len > 0
       |       THEN 2 * clip1 * 1000000 // (c_len + r_len)
       |  END AS rouge1_f1_ppm,
       |  CASE WHEN r_len - 1 > 0
       |       THEN clip2 * 1000000 // (r_len - 1) END AS rouge2_recall_ppm,
       |  CASE WHEN c_len + r_len - 2 > 0
       |       THEN 2 * clip2 * 1000000 // (c_len + r_len - 2)
       |  END AS rouge2_f1_ppm
       |FROM st ORDER BY cand_id""".stripMargin) { (s, d) =>
    pairStats(s, d)
      .select(col("cid").as("cand_id"), col("rid").as("ref_id"),
        col("clip1"), col("clip2"),
        expr("""CASE WHEN r_len > 0
               |THEN clip1 * 1000000 div r_len END""".stripMargin)
          .as("rouge1_recall_ppm"),
        expr("""CASE WHEN c_len + r_len > 0
               |THEN 2 * clip1 * 1000000 div (c_len + r_len)
               |END""".stripMargin).as("rouge1_f1_ppm"),
        expr("""CASE WHEN r_len - 1 > 0
               |THEN clip2 * 1000000 div (r_len - 1) END""".stripMargin)
          .as("rouge2_recall_ppm"),
        expr("""CASE WHEN c_len + r_len - 2 > 0
               |THEN 2 * clip2 * 1000000 div (c_len + r_len - 2)
               |END""".stripMargin).as("rouge2_f1_ppm"))
      .orderBy("cand_id")
  }

  val all: Seq[Q] = Seq(evalBleu, evalRouge)
}
