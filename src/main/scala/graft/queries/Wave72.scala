package graft.queries

import org.apache.spark.sql.functions._

import graft.{Q, Session, Tables}
import graft.plans.FxLog2
import graft.text.Text

/** Wave 72 — retrieval/curation scoring, part 3: Mean Reciprocal Rank
  * (Voorhees TREC-8 1999; the first-relevant-hit metric next to the
  * registry's nDCG and RBO) and per-source unigram-LM KL divergence
  * (Kullback-Leibler 1951; the "how far does this source's language
  * drift from the corpus" weight a mixture-balancing pass reads).
  */
object Wave72 {

  /** q_eval_mrr: reciprocal rank of the first DENSE-relevant document
    * in each probe's sparse top-10 — rr = 1e6 div first_rel_rank
    * (0 when the sparse list misses the dense set entirely). Both
    * rankings are the suite-shared RetrievalShared materializations;
    * relevance is the exact dense top-10, the same contract as
    * q_retrieval_ndcg, so the metric family reads one index build.
    *
    * Shape at 100TB: both inputs are already top-20-per-probe group
    * limits (probe-bounded frames); the hit join is a (probe, doc)
    * equi-join and the readout one probe-keyed min. */
  val evalMrr: Q = Q(
    "q_eval_mrr",
    s"""WITH ${DedupSim.sparseDenseTopSql},
       |rel AS (SELECT probe_id, vec_id FROM d20 WHERE rd <= 10),
       |hits AS (SELECT s.probe_id, CAST(MIN(s.rs) AS BIGINT) AS first_rel
       |  FROM s20 s JOIN rel r
       |    ON r.probe_id = s.probe_id AND r.vec_id = s.doc_id
       |  WHERE s.rs <= 10 GROUP BY 1),
       |pr AS (SELECT DISTINCT probe_id FROM s20)
       |SELECT p.probe_id, h.first_rel AS first_rel_rank,
       |  CAST(COALESCE(1000000 // h.first_rel, 0) AS BIGINT) AS rr_ppm
       |FROM pr p LEFT JOIN hits h ON h.probe_id = p.probe_id
       |ORDER BY p.probe_id""".stripMargin) { (s, d) =>
    val s10 = RetrievalShared.sparseTop20(s, d).filter(col("rs") <= 10)
    val rel = RetrievalShared.denseTop20(s, d).filter(col("rd") <= 10)
      .select(col("probe_id").as("dp"), col("vec_id"))
    val hits = s10
      .join(rel, col("probe_id") === col("dp") && col("doc_id") === col("vec_id"))
      .groupBy("probe_id")
      .agg(min(col("rs")).cast("long").as("first_rel"))
    s10.select("probe_id").distinct()
      .join(hits, Seq("probe_id"), "left")
      .select(col("probe_id"), col("first_rel").as("first_rel_rank"),
        coalesce(expr("1000000 div first_rel"), lit(0L)).as("rr_ppm"))
      .orderBy("probe_id")
  }

  /** q_text_source_kl: KL(P_source ‖ P_corpus) over unigram LMs in
    * fxlog2 fixed point — the exact form multiplies the per-word
    * contribution through both normalizers:
    *   kl_fx = Σ_w c_sw · (fxlog2(c_sw·N_c) − fxlog2(c_cw·N_s))
    * which equals KL · N_s · 2³⁰ up to one-sided fxlog2 truncation.
    * Every source word exists in the corpus (c_cw ≥ c_sw ≥ 1), so no
    * smoothing is needed and the log runs on the DISTINCT product
    * dictionary, never per token.
    *
    * Shape at 100TB: one token explode to the (source, word) aggregate
    * (map-side combined), a vocabulary-grain equi-join of source
    * counts to corpus counts (stats/AQE-decided build side), one
    * one-row total broadcast; the readout aggregates to the source
    * dictionary. */
  val textSourceKl: Q = Q(
    "q_text_source_kl",
    s"""WITH RECURSIVE
       |tok AS (SELECT source,
       |    unnest(${Text.tokensSql("text")}) AS w
       |  FROM documents),
       |cs AS MATERIALIZED (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c_sw
       |  FROM tok GROUP BY 1, 2),
       |cc AS MATERIALIZED (SELECT w, CAST(SUM(c_sw) AS BIGINT) AS c_cw
       |  FROM cs GROUP BY 1),
       |ns AS MATERIALIZED (SELECT source, CAST(SUM(c_sw) AS BIGINT) AS n_s,
       |    CAST(COUNT(*) AS BIGINT) AS n_types
       |  FROM cs GROUP BY 1),
       |nc AS (SELECT CAST(SUM(c_cw) AS BIGINT) AS n_c FROM cc),
       |args AS (SELECT DISTINCT n FROM (
       |  SELECT cs.c_sw * nc.n_c AS n FROM cs, nc
       |  UNION ALL
       |  SELECT cc.c_cw * ns.n_s
       |  FROM cs JOIN cc ON cc.w = cs.w JOIN ns ON ns.source = cs.source) z
       |  WHERE n > 0),
       |${FxLog2.oracleCte("args")}
       |SELECT cs.source, MIN(ns.n_s) AS n_toks, MIN(ns.n_types) AS n_types,
       |  CAST(SUM(cs.c_sw * (la.r - lb.r)) AS BIGINT) AS kl_fx
       |FROM cs
       |JOIN cc ON cc.w = cs.w
       |JOIN ns ON ns.source = cs.source
       |CROSS JOIN nc
       |JOIN lg la ON la.n = cs.c_sw * nc.n_c
       |JOIN lg lb ON lb.n = cc.c_cw * ns.n_s
       |GROUP BY cs.source ORDER BY cs.source""".stripMargin) { (s, d) =>
    val tok = Tables.load(s, d, "documents")
      .repartition(Session.partitions(s))
      .select(col("source"),
        explode(Text.tokens(col("text")))
          .as("w"))
    val cs = tok.groupBy("source", "w").agg(count(lit(1)).as("c_sw"))
    val cc = cs.groupBy("w").agg(sum(col("c_sw")).as("c_cw"))
    val ns = cs.groupBy("source")
      .agg(sum(col("c_sw")).as("n_s"), count(lit(1)).as("n_types"))
    val nc = cc.agg(sum(col("c_cw")).as("n_c"))
    cs
      .join(cc, "w")
      .join(ns, "source")
      .crossJoin(broadcast(nc))
      .select(col("source"), col("n_s"), col("n_types"),
        (col("c_sw") *
          (FxLog2.column(col("c_sw") * col("n_c")) -
            FxLog2.column(col("c_cw") * col("n_s"))))
          .as("contrib"))
      .groupBy("source")
      .agg(min(col("n_s")).as("n_toks"), min(col("n_types")).as("n_types"),
        sum(col("contrib")).as("kl_fx"))
      .orderBy("source")
  }

  val all: Seq[Q] = Seq(evalMrr, textSourceKl)
}
