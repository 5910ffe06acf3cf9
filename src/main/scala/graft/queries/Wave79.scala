package graft.queries

import org.apache.spark.sql.functions._

import graft.{Q, Session, Tables}
import graft.functions.Hex
import graft.text.Text

/** Wave 79 — LLM-text provenance: green-list watermark detection
  * (Kirchenbauer et al. 2023 "A Watermark for Large Language Models";
  * the context-free green list is the Unigram-Watermark variant of
  * Zhao et al. 2023, whose detection statistic is exactly this
  * one-proportion z-test). A curation pass runs this over crawled text
  * to flag machine-generated documents before they re-enter training.
  */
object Wave79 {

  /** q_wm_detect: per-language watermark screening. The green list is
    * the γ = 1/4 vocabulary partition by md5 (a token is green when
    * its md5-u32 ≡ 0 mod 4 — deterministic on both engines); a doc is
    * flagged when its green count clears the one-sided z ≥ 2 test,
    * which for γ = 1/4 is EXACT in integers:
    *   z = (g − n/4)/√(n·(1/4)(3/4)) = (4g − n)/√(3n)  ⟹
    *   flag ⟺ 4g − n > 0  ∧  (4g − n)² ≥ 12n.
    * No watermark exists in this corpus, so the flag rate reads the
    * test's false-positive floor (~2.3% at z = 2) — the calibration a
    * deployment needs before trusting the detector.
    *
    * Shape at 100TB: one token explode with a map-side md5 classify,
    * one (doc)-keyed count aggregate, then a map-side integer test and
    * a dictionary-grain language rollup — no joins, no windows. */
  val wmDetect: Q = Q(
    "q_wm_detect",
    s"""WITH tok AS (
      |  SELECT doc_id, lang,
      |    unnest(${Text.tokensSql("text")})
      |      AS w
      |  FROM documents),
      |dg AS (SELECT doc_id, lang,
      |    CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN ${Hex.prefixSql("md5(w)", 1, 8)} % 4 = 0
      |             THEN 1 ELSE 0 END) AS BIGINT) AS g
      |  FROM tok GROUP BY 1, 2),
      |fl AS (SELECT lang, n, g,
      |    CASE WHEN 4 * g - n > 0
      |          AND (4 * g - n) * (4 * g - n) >= 12 * n
      |         THEN 1 ELSE 0 END AS wm
      |  FROM dg)
      |SELECT lang,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(wm) AS BIGINT) AS n_flagged,
      |  CAST(SUM(wm) * 1000000 // COUNT(*) AS BIGINT) AS flagged_ppm,
      |  CAST(SUM(g) AS BIGINT) AS green_toks,
      |  CAST(SUM(n) AS BIGINT) AS total_toks,
      |  CAST(SUM(g) * 1000000 // SUM(n) AS BIGINT) AS green_ppm
      |FROM fl GROUP BY 1 ORDER BY lang""".stripMargin) { (s, d) =>
    val tok = Tables.load(s, d, "documents")
      .repartition(Session.partitions(s))
      .select(col("doc_id"), col("lang"),
        explode(Text.tokens(col("text")))
          .as("w"))
    val dg = tok
      .select(col("doc_id"), col("lang"),
        when(Hex.prefix(md5(col("w").cast("binary")), 1, 8) % 4 === 0, 1L)
          .otherwise(0L).as("is_green"))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n"), sum(col("is_green")).as("g"))
    dg.select(col("lang"), col("n"), col("g"),
        when(lit(4L) * col("g") - col("n") > 0
          && (lit(4L) * col("g") - col("n")) * (lit(4L) * col("g") - col("n"))
            >= lit(12L) * col("n"), 1L).otherwise(0L).as("wm"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("wm")).as("n_flagged"),
        expr("CAST(SUM(wm) * 1000000 div COUNT(*) AS BIGINT)")
          .as("flagged_ppm"),
        sum(col("g")).as("green_toks"),
        sum(col("n")).as("total_toks"),
        expr("CAST(SUM(g) * 1000000 div SUM(n) AS BIGINT)").as("green_ppm"))
      .orderBy("lang")
  }

  val all: Seq[Q] = Seq(wmDetect)
}
