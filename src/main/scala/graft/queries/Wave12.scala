package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Session, Tables}
import graft.functions.Hex
import graft.plans.FxLog2
import graft.text.Text

/** Wave 12 — causal inference, IR-quality evaluation, and keyphrase
  * extraction. Determinism: common-denominator exact divisions
  * (difference-in-differences), fxlog2 integer rank discounts (NDCG),
  * and per-word truncating ppm scores (RAKE).
  */
object Wave12 {

  /** Difference-in-differences treatment-effect readout (Card &
    * Krueger 1994 design): md5-gated treatment arms over customers,
    * pre/post periods split at 1998-01-01, outcome = order value in
    * cents. The DiD estimate multiplies the four cell means through by
    * the common denominator so the whole contrast is ONE truncating
    * division in the DECIMAL(38)/HUGEINT lane — no nested rounded
    * means. Cell means ride along as exact 1e4-scaled divisions.
    *
    * Magnitude envelope: each numerator term is s·n·n·n·10⁶ — with
    * cents sums s ≲ 10^q and cell counts n ≲ 10^p it needs q+3p+6
    * digits, so DECIMAL(38)/HUGEINT holds only while q+3p ≤ 32 (e.g.
    * s ≤ 10^17 with n ≤ 10^5, or s ≤ 10^14 with n ≤ 10^6). A full
    * 100TB fact table with ~10^12-row cells EXCEEDS that; the scale
    * form factors the contrast into two divisions —
    * (s11/n11 − s10/n10) − (s01/n01 − s00/n00) with each mean taken
    * at 1e6 scale first — trading one-division exactness for range.
    * Driver scale factors sit far inside the single-division envelope.
    *
    * Shape at 100TB: arm and period are map-side expressions on the
    * fact scan (no dim join — the arm gate hashes the foreign key
    * directly); ONE aggregate to 4 cells; the contrast is arithmetic
    * on a single pivoted row.
    */
  val causalDid: Q = Q(
    "q_causal_did",
    s"""WITH o AS (SELECT
      |    ${Hex.prefixSql("md5('did:' || CAST(o_custkey AS VARCHAR))", 1, 8)}
      |      % 2 AS treat,
      |    CASE WHEN epoch_ms(o_orderdate) // 86400000 >= 10227
      |         THEN 1 ELSE 0 END AS post,
      |    CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
      |  FROM orders),
      |c AS (SELECT treat, post, COUNT(*) AS n,
      |        CAST(SUM(cents) AS BIGINT) AS sum_cents
      |      FROM o GROUP BY 1, 2),
      |pv AS (SELECT
      |    MAX(CASE WHEN treat = 1 AND post = 1 THEN sum_cents END) AS s11,
      |    MAX(CASE WHEN treat = 1 AND post = 1 THEN n END) AS n11,
      |    MAX(CASE WHEN treat = 1 AND post = 0 THEN sum_cents END) AS s10,
      |    MAX(CASE WHEN treat = 1 AND post = 0 THEN n END) AS n10,
      |    MAX(CASE WHEN treat = 0 AND post = 1 THEN sum_cents END) AS s01,
      |    MAX(CASE WHEN treat = 0 AND post = 1 THEN n END) AS n01,
      |    MAX(CASE WHEN treat = 0 AND post = 0 THEN sum_cents END) AS s00,
      |    MAX(CASE WHEN treat = 0 AND post = 0 THEN n END) AS n00
      |  FROM c),
      |did AS (SELECT CAST(
      |    (CAST(s11 AS HUGEINT) * n10 * n01 * n00
      |     - CAST(s10 AS HUGEINT) * n11 * n01 * n00
      |     - CAST(s01 AS HUGEINT) * n11 * n10 * n00
      |     + CAST(s00 AS HUGEINT) * n11 * n10 * n01) * 1000000
      |    // (CAST(n11 AS HUGEINT) * n10 * n01 * n00) AS BIGINT) AS did_e6
      |  FROM pv)
      |SELECT c.treat, c.post, c.n, c.sum_cents,
      |  CAST(CAST(c.sum_cents AS HUGEINT) * 10000 // c.n AS BIGINT) AS mean_e4,
      |  did.did_e6
      |FROM c, did ORDER BY treat, post""".stripMargin) { (s, d) =>
    val o = Tables.load(s, d, "orders").select(
      (Hex.prefix(md5(concat(lit("did:"), col("o_custkey").cast("string"))),
        1, 8) % 2).as("treat"),
      when(graft.functions.Exact.bucket(
        graft.functions.Exact.ms(col("o_orderdate")), 86400000L) >= 10227, 1L)
        .otherwise(0L).as("post"),
      round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val c = o.groupBy("treat", "post")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
    val pv = c.agg(
      max(when(col("treat") === 1 && col("post") === 1, col("sum_cents"))).as("s11"),
      max(when(col("treat") === 1 && col("post") === 1, col("n"))).as("n11"),
      max(when(col("treat") === 1 && col("post") === 0, col("sum_cents"))).as("s10"),
      max(when(col("treat") === 1 && col("post") === 0, col("n"))).as("n10"),
      max(when(col("treat") === 0 && col("post") === 1, col("sum_cents"))).as("s01"),
      max(when(col("treat") === 0 && col("post") === 1, col("n"))).as("n01"),
      max(when(col("treat") === 0 && col("post") === 0, col("sum_cents"))).as("s00"),
      max(when(col("treat") === 0 && col("post") === 0, col("n"))).as("n00"))
    val did = pv.select(expr(
      """CAST((CAST(s11 AS DECIMAL(38,0)) * n10 * n01 * n00
        |      - CAST(s10 AS DECIMAL(38,0)) * n11 * n01 * n00
        |      - CAST(s01 AS DECIMAL(38,0)) * n11 * n10 * n00
        |      + CAST(s00 AS DECIMAL(38,0)) * n11 * n10 * n01) * 1000000
        |     div (CAST(n11 AS DECIMAL(38,0)) * n10 * n01 * n00) AS BIGINT)"""
        .stripMargin).as("did_e6"))
    c.crossJoin(broadcast(did))
      .select(col("treat"), col("post"), col("n"), col("sum_cents"),
        expr("CAST(CAST(sum_cents AS DECIMAL(38,0)) * 10000 div n AS BIGINT)")
          .as("mean_e4"),
        col("did_e6"))
      .orderBy("treat", "post")
  }

  /** NDCG@10 of the SPARSE (tf-idf cos²) retrieval ranking against the
    * exact DENSE cosine top-10 as the binary relevance set — the
    * ranking-quality eval that completes the retrieval story next to
    * q_ann_recall (set overlap) and q_hybrid_rrf (fusion). The rank
    * discount 1/log2(r+1) is [[graft.plans.FxLog2]] fixed point:
    * w(r) = 2⁶⁰ div fxlog2(r+1), an exact integer — so DCG, IDCG and
    * the final ndcg_ppm all hash-match (IEEE log2 would not). IDCG
    * sums the discounts over the returned positions (the relevant set
    * always has ≥ 10 members, so this IS the ideal DCG for the
    * returned length).
    *
    * Shape at 100TB: both rankings are top-10-per-probe group limits
    * (tiny frames); the eval is a left join + one aggregate; the log
    * runs on 10 DISTINCT arguments.
    */
  val retrievalNdcg: Q = Q(
    "q_retrieval_ndcg",
    s"""WITH RECURSIVE
       |tok AS (SELECT doc_id,
       |    unnest(${Text.tokensSql("text")}) AS term
       |  FROM documents),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
       |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
       |post AS (SELECT t.doc_id, t.term, t.tf * (100000 // d.df) AS w
       |         FROM tf t JOIN df d ON t.term = d.term),
       |nrm AS (SELECT doc_id, CAST(SUM(w*w) AS BIGINT) AS n2 FROM post GROUP BY doc_id),
       |qp AS (SELECT doc_id AS probe_id, term, w AS wq FROM post
       |       WHERE doc_id % 100 = 0),
       |snum AS (SELECT q.probe_id, p.doc_id, CAST(SUM(q.wq * p.w) AS BIGINT) AS num
       |         FROM qp q JOIN post p ON q.term = p.term
       |         WHERE p.doc_id <> q.probe_id GROUP BY 1, 2),
       |ssim AS (SELECT n.probe_id, n.doc_id,
       |           CAST(CAST(n.num AS HUGEINT) * CAST(n.num AS HUGEINT) * 1000000000
       |                // (CAST(a.n2 AS HUGEINT) * CAST(b.n2 AS HUGEINT))
       |                AS BIGINT) AS sim2_e9
       |         FROM snum n JOIN nrm a ON a.doc_id = n.probe_id
       |                     JOIN nrm b ON b.doc_id = n.doc_id),
       |srk AS (SELECT probe_id, doc_id,
       |          ROW_NUMBER() OVER (PARTITION BY probe_id
       |                             ORDER BY sim2_e9 DESC, doc_id) AS rs
       |        FROM ssim),
       |s10 AS (SELECT probe_id, doc_id, rs FROM srk WHERE rs <= 10),
       |${DedupSim.compSql},
       |dots AS (SELECT b.vec_id AS probe_id, a.vec_id,
       |                CAST(SUM(CAST(FLOOR(a.v * c.v * 1e15) AS BIGINT)) AS DOUBLE) / 1e15 AS dot
       |         FROM comp a
       |         JOIN (SELECT vec_id FROM e WHERE vec_id % 100 = 0) b
       |           ON a.vec_id <> b.vec_id
       |         JOIN comp c ON c.vec_id = b.vec_id AND c.i = a.i
       |         GROUP BY 1, 2),
       |drk AS (SELECT d.probe_id, d.vec_id,
       |          ROW_NUMBER() OVER (PARTITION BY d.probe_id
       |                             ORDER BY d.dot / (na.nrm * np.nrm) DESC, d.vec_id)
       |            AS rd
       |        FROM dots d JOIN norms na ON d.vec_id = na.vec_id
       |                    JOIN norms np ON d.probe_id = np.vec_id),
       |d10 AS (SELECT probe_id, vec_id FROM drk WHERE rd <= 10),
       |args AS (SELECT unnest(range(2, 12)) AS n),
       |${FxLog2.oracleCte("args")},
       |wt AS (SELECT n - 1 AS rnk, 1152921504606846976 // r AS w FROM lg),
       |sc AS (SELECT s.probe_id,
       |    COUNT(*) AS n_ret,
       |    COUNT(d.vec_id) AS n_hits,
       |    CAST(SUM(CASE WHEN d.vec_id IS NOT NULL THEN w.w ELSE 0 END)
       |      AS BIGINT) AS dcg_fx,
       |    CAST(SUM(w.w) AS BIGINT) AS idcg_fx
       |  FROM s10 s
       |  JOIN wt w ON w.rnk = s.rs
       |  LEFT JOIN d10 d ON d.probe_id = s.probe_id AND d.vec_id = s.doc_id
       |  GROUP BY 1)
       |SELECT probe_id, n_ret, n_hits, dcg_fx, idcg_fx,
       |  CAST(CAST(dcg_fx AS HUGEINT) * 1000000 // idcg_fx AS BIGINT)
       |    AS ndcg_ppm
       |FROM sc ORDER BY probe_id""".stripMargin) { (s, d) =>
    // Both rankings come from the suite-shared materializations
    // (RetrievalShared): filtering the shared top-20 to <=10 yields
    // rows identical to ranking at k=10 directly (same total order).
    val s10 = RetrievalShared.sparseTop20(s, d)
      .filter(col("rs") <= 10)
    val d10 = RetrievalShared.denseTop20(s, d)
      .filter(col("rd") <= 10)
      .select(col("probe_id").as("dp"), col("vec_id"))
    s10
      .withColumn("w", expr(
        "1152921504606846976 div graft_fxlog2(CAST(rs + 1 AS BIGINT))"))
      .join(d10, col("probe_id") === col("dp") && col("doc_id") === col("vec_id"),
        "left")
      .groupBy("probe_id")
      .agg(count(lit(1)).as("n_ret"),
        count(col("vec_id")).as("n_hits"),
        sum(when(col("vec_id").isNotNull, col("w")).otherwise(0L)).as("dcg_fx"),
        sum(col("w")).as("idcg_fx"))
      .select(col("probe_id"), col("n_ret"), col("n_hits"),
        col("dcg_fx").cast("long").as("dcg_fx"),
        col("idcg_fx").cast("long").as("idcg_fx"),
        expr("""CAST(CAST(dcg_fx AS DECIMAL(38,0)) * 1000000
               |     div idcg_fx AS BIGINT)""".stripMargin).as("ndcg_ppm"))
      .orderBy("probe_id")
  }

  /** RAKE keyphrase extraction (Rose, Engel, Cramer & Cowley 2010):
    * candidate phrases are maximal stopword-free token runs (2–5
    * words), word scores are degree/frequency over the candidate set
    * (degree = sum of lengths of phrases containing the word — the
    * within-phrase co-occurrence count), and a phrase scores the sum
    * of its words' deg·10⁶ div freq — exact ppm, one truncating
    * division per distinct word. Corpus-level output: distinct
    * phrases seen ≥ 2 times.
    *
    * Shape at 100TB: one position-windowed pass segments phrases (the
    * running boundary count), word stats are one aggregate over
    * phrase-word pairs, and scoring joins the broadcast-sized word
    * stat table back to occurrences.
    */
  val textRake: Q = Q(
    "q_text_rake",
    s"""WITH tk AS (SELECT doc_id, ${Text.tokensSql("text")} AS toks FROM documents),
      |pos AS (SELECT doc_id, i, toks[i] AS tok,
      |    CASE WHEN toks[i] IN ('the','and','of','to','in','is','a')
      |         THEN 1 ELSE 0 END AS stop
      |  FROM tk, (SELECT unnest(range(1,
      |    (SELECT COALESCE(MAX(len(toks)), 0) + 1 FROM tk))) AS i) p
      |  WHERE i <= len(toks)),
      |seg AS (SELECT doc_id, i, tok, stop,
      |    SUM(stop) OVER (PARTITION BY doc_id ORDER BY i) AS pid
      |  FROM pos),
      |occ AS (SELECT doc_id, pid, COUNT(*) AS n_words,
      |    string_agg(tok, ' ' ORDER BY i) AS phrase
      |  FROM seg WHERE stop = 0 GROUP BY 1, 2
      |  HAVING COUNT(*) BETWEEN 2 AND 5),
      |wo AS (SELECT doc_id, pid, n_words,
      |    unnest(string_split(phrase, ' ')) AS w
      |  FROM occ),
      |ws AS (SELECT w, COUNT(*) AS freq, CAST(SUM(n_words) AS BIGINT) AS deg
      |  FROM wo GROUP BY 1),
      |osc AS (SELECT wo.doc_id, wo.pid,
      |    CAST(SUM(ws.deg * 1000000 // ws.freq) AS BIGINT) AS score_ppm
      |  FROM wo JOIN ws ON ws.w = wo.w GROUP BY 1, 2)
      |SELECT o.phrase, MIN(o.n_words) AS n_words, COUNT(*) AS n_occ,
      |  CAST(MIN(sc.score_ppm) AS BIGINT) AS score_ppm
      |FROM occ o JOIN osc sc ON sc.doc_id = o.doc_id AND sc.pid = o.pid
      |GROUP BY o.phrase HAVING COUNT(*) >= 2
      |ORDER BY phrase""".stripMargin) { (s, d) =>
    val np = Session.partitions(s)
    val stops = Seq("the", "and", "of", "to", "in", "is", "a")
    val pos = Tables.load(s, d, "documents")
      .repartition(np)
      .select(col("doc_id"),
        posexplode(graft.text.Text.tokens(col("text"))).as(Seq("i", "tok")))
      .withColumn("stop", when(col("tok").isin(stops: _*), 1).otherwise(0))
    val seg = pos.withColumn("pid",
      sum(col("stop")).over(Window.partitionBy("doc_id").orderBy("i")))
    val occ = seg.filter(col("stop") === 0)
      .groupBy("doc_id", "pid")
      .agg(count(lit(1)).as("n_words"),
        expr("array_join(transform(array_sort(collect_list(struct(i, tok))), x -> x.tok), ' ')")
          .as("phrase"))
      .filter(col("n_words").between(2, 5))
    val wo = occ.select(col("doc_id"), col("pid"), col("n_words"),
      explode(split(col("phrase"), " ")).as("w"))
    val ws = wo.groupBy("w")
      .agg(count(lit(1)).as("freq"), sum(col("n_words")).as("deg"))
    // word deg/freq scores are vocabulary-grain (corpus-scaling):
    // stats/AQE decide the build side
    val osc = wo.join(ws, "w")
      .groupBy("doc_id", "pid")
      .agg(sum(expr("deg * 1000000 div freq")).as("score_ppm"))
    occ.join(osc, Seq("doc_id", "pid"))
      .groupBy("phrase")
      .agg(min(col("n_words")).as("n_words"), count(lit(1)).as("n_occ"),
        min(col("score_ppm")).cast("long").as("score_ppm"))
      .filter(col("n_occ") >= 2)
      .select("phrase", "n_words", "n_occ", "score_ppm")
      .orderBy("phrase")
  }

  val all: Seq[Q] = Seq(causalDid, retrievalNdcg, textRake)
}
