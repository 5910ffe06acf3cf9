package graft.queries

import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.text.Text

/** Wave 78 — training-mixture planning: the token-budget allocation a
  * data-curation pass computes before launching a run (Hoffmann et al.
  * 2022 "Training Compute-Optimal LLMs" sets the budget; Muennighoff
  * et al. 2023 "Scaling Data-Constrained LMs" bounds useful repetition
  * at ~4 epochs).
  */
object Wave78 {

  /** q_token_budget: per-source token allocation under a fixed budget
    * B = 2× the corpus total, with target shares proportional to
    * floor(sqrt(available)) — the square-root temperature that upweights
    * small sources without letting any source dominate (the standard
    * multilingual-mixture shape, exact here because floor(sqrt(n)) of
    * an exact BIGINT is hash-safe: sqrt is the one correctly-rounded
    * libm call). alloc = B·w div W truncates; epochs_ppm = alloc·1e6
    * div avail; over4 flags sources the plan would repeat past the
    * ~4-epoch useful-repetition bound.
    *
    * Shape at 100TB: one narrow token-count map over docs, one
    * map-side-combined aggregate to the source dictionary, one one-row
    * totals broadcast; all the plan arithmetic runs on dictionary-
    * grain rows. */
  val tokenBudget: Q = Q(
    "q_token_budget",
    s"""WITH tk AS (
      |  SELECT source,
      |    CAST(SUM(len(${Text.tokensSql("text")})) AS BIGINT) AS avail
      |  FROM documents GROUP BY 1),
      |w AS (SELECT source, avail,
      |    CAST(FLOOR(SQRT(CAST(avail AS DOUBLE))) AS BIGINT) AS wt
      |  FROM tk),
      |tot AS (SELECT CAST(SUM(avail) AS BIGINT) AS t_avail,
      |               CAST(SUM(wt) AS BIGINT) AS t_wt FROM w),
      |pl AS (SELECT w.source, w.avail, w.wt,
      |    CAST(CAST(2 AS HUGEINT) * tot.t_avail * w.wt // tot.t_wt
      |      AS BIGINT) AS alloc
      |  FROM w, tot)
      |SELECT source, avail, wt, alloc,
      |  CAST(CAST(alloc AS HUGEINT) * 1000000 // avail AS BIGINT)
      |    AS epochs_ppm,
      |  CAST(CASE WHEN CAST(alloc AS HUGEINT) * 1000000 // avail > 4000000
      |            THEN 1 ELSE 0 END AS BIGINT) AS over4
      |FROM pl
      |ORDER BY source""".stripMargin) { (s, d) =>
    val tk = Tables.load(s, d, "documents")
      .select(col("source"),
        size(Text.tokens(col("text")))
          .cast("long").as("ntok"))
      .groupBy("source").agg(sum(col("ntok")).as("avail"))
    val w = tk.withColumn("wt",
      floor(sqrt(col("avail").cast("double"))).cast("long"))
    val tot = w.agg(sum(col("avail")).as("t_avail"),
      sum(col("wt")).as("t_wt"))
    w.crossJoin(broadcast(tot))
      .select(col("source"), col("avail"), col("wt"),
        expr("CAST(2 AS DECIMAL(38,0)) * t_avail * wt div t_wt")
          .as("alloc"))
      .select(col("source"), col("avail"), col("wt"), col("alloc"),
        expr("CAST(alloc AS DECIMAL(38,0)) * 1000000 div avail")
          .as("epochs_ppm"),
        expr("""CAST(CASE WHEN CAST(alloc AS DECIMAL(38,0)) * 1000000
               |               div avail > 4000000
               |          THEN 1 ELSE 0 END AS BIGINT)""".stripMargin)
          .as("over4"))
      .orderBy("source")
  }

  val all: Seq[Q] = Seq(tokenBudget)
}
