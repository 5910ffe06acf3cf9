package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Session, Tables}
import graft.ops.Iterate
import graft.plans.FxLog2
import graft.text.Text

/** Wave 17 — the model-adjacent quartet: multiclass Naive Bayes
  * train+classify, personalized PageRank, exact tie-aware AUC with a
  * reliability table, and mutual-information feature selection. Same
  * lanes as ever: fxlog2 fixed point for every log, truncating integer
  * divisions, generated unrolled CTE chains for iteration.
  */
object Wave17 {


  /** Multinomial Naive Bayes language identification, trained and
    * scored in one plan (McCallum & Nigam 1998's event model): the
    * ~80% md5 train split estimates per-class token counts, and each
    * held-out document scores every class by
    *   lg(n_docs_c) − lg(n_docs) + Σ_tok [lg(n_cw+1) − lg(n_c+V)]
    * — Laplace-smoothed log-likelihoods where every argument is an
    * integer count, so the whole posterior (and the argmax) replays
    * bit-for-bit through [[graft.plans.FxLog2]]. Unseen tokens
    * contribute lg(1) = 0 minus the class normalizer, exactly as the
    * estimator says.
    *
    * Shape at 100TB: the model is (classes × vocab) — vocabulary-sized
    * by Heaps' law, broadcast; scoring is one narrow tokenize pass,
    * one broadcast join, one per-(doc, class) partial aggregate; the
    * class dictionary and priors are one-row-per-class broadcasts.
    */
  val naiveBayes: Q = Q(
    "q_naive_bayes",
    s"""WITH RECURSIVE
       |lab AS (SELECT doc_id, lang, text,
       |    CASE WHEN md5(CAST(doc_id AS VARCHAR)) < 'cc' THEN 1 ELSE 0 END
       |      AS is_train
       |  FROM documents),
       |tk AS (SELECT lang, unnest(${Text.tokensSql("text")}) AS w
       |  FROM lab WHERE is_train = 1),
       |cw AS (SELECT lang, w, COUNT(*) AS n_cw FROM tk GROUP BY 1, 2),
       |ct AS (SELECT lang, CAST(SUM(n_cw) AS BIGINT) AS n_c
       |  FROM cw GROUP BY 1),
       |vs AS (SELECT COUNT(DISTINCT w) AS v FROM cw),
       |ndc AS (SELECT lang, COUNT(*) AS n_dc FROM lab
       |  WHERE is_train = 1 GROUP BY 1),
       |nds AS (SELECT COUNT(*) AS nd FROM lab WHERE is_train = 1),
       |cls AS (SELECT ndc.lang, ndc.n_dc, ct.n_c + vs.v AS denom
       |  FROM ndc JOIN ct ON ct.lang = ndc.lang, vs),
       |tt AS (SELECT doc_id, lang AS true_lang, unnest(${Text.tokensSql("text")}) AS w
       |  FROM lab WHERE is_train = 0),
       |args AS (SELECT DISTINCT n FROM (
       |  SELECT n_cw + 1 AS n FROM cw
       |  UNION ALL SELECT denom FROM cls
       |  UNION ALL SELECT n_dc FROM cls
       |  UNION ALL SELECT nd FROM nds
       |  UNION ALL SELECT 1) WHERE n >= 1),
       |${FxLog2.oracleCte("args")},
       |terms AS (SELECT t.doc_id, t.true_lang, c.lang,
       |    CAST(SUM(ln_.r - ld.r) AS BIGINT) AS tok_fx
       |  FROM tt t CROSS JOIN cls c
       |  LEFT JOIN cw ON cw.lang = c.lang AND cw.w = t.w
       |  JOIN lg ln_ ON ln_.n = COALESCE(cw.n_cw, 0) + 1
       |  JOIN lg ld ON ld.n = c.denom
       |  GROUP BY 1, 2, 3),
       |grid AS (SELECT d.doc_id, d.lang AS true_lang, c.lang,
       |    COALESCE(tm.tok_fx, 0) + lp.r - ln2.r AS score_fx
       |  FROM lab d CROSS JOIN cls c
       |  LEFT JOIN terms tm ON tm.doc_id = d.doc_id AND tm.lang = c.lang
       |  JOIN lg lp ON lp.n = c.n_dc
       |  CROSS JOIN nds JOIN lg ln2 ON ln2.n = nds.nd
       |  WHERE d.is_train = 0),
       |best AS (SELECT doc_id, true_lang, lang, score_fx,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id
       |      ORDER BY score_fx DESC, lang) AS rk
       |  FROM grid)
       |SELECT doc_id, true_lang, lang AS pred_lang, score_fx,
       |  CAST(CASE WHEN lang = true_lang THEN 1 ELSE 0 END AS BIGINT)
       |    AS correct
       |FROM best WHERE rk = 1 ORDER BY doc_id""".stripMargin) { (s, d) =>
    val np = Session.partitions(s)
    val lab = Tables.load(s, d, "documents").repartition(np)
      .select(col("doc_id"), col("lang"), col("text"),
        (md5(col("doc_id").cast("string")) < "cc").cast("long")
          .as("is_train"))
    val tk = lab.filter(col("is_train") === 1)
      .select(col("lang"), explode(Text.tokens(col("text"))).as("w"))
    val cw = tk.groupBy("lang", "w").agg(count(lit(1)).as("n_cw"))
    val ct = cw.groupBy("lang").agg(sum("n_cw").as("n_c"))
    val vs = cw.select("w").distinct().agg(count(lit(1)).as("v"))
    val ndc = lab.filter(col("is_train") === 1)
      .groupBy("lang").agg(count(lit(1)).as("n_dc"))
    val nds = lab.filter(col("is_train") === 1)
      .agg(count(lit(1)).as("nd"))
    val cls = ndc.join(ct, "lang").crossJoin(vs)
      .select(col("lang"), col("n_dc"), (col("n_c") + col("v")).as("denom"))
    val tt = lab.filter(col("is_train") === 0)
      .select(col("doc_id"), col("lang").as("true_lang"),
        explode(Text.tokens(col("text"))).as("w"))
    val terms = tt.crossJoin(broadcast(cls.select(col("lang").as("clang"),
        col("denom"))))
      // the (lang, word) model is VOCABULARY-grain (corpus-scaling):
      // stats/AQE decide — broadcast while it fits, shuffled
      // (clang, w) equi-join past the 8GB limit
      .join(cw.withColumnRenamed("lang", "clang"),
        Seq("clang", "w"), "left")
      .select(col("doc_id"), col("true_lang"), col("clang"),
        (FxLog2.column(coalesce(col("n_cw"), lit(0L)) + 1)
          - FxLog2.column(col("denom"))).as("term_fx"))
      .groupBy("doc_id", "true_lang", "clang")
      .agg(sum("term_fx").as("tok_fx"))
    val grid = lab.filter(col("is_train") === 0)
      .select(col("doc_id"), col("lang").as("true_lang"))
      .crossJoin(broadcast(cls.select(col("lang").as("clang"), col("n_dc"))))
      .crossJoin(broadcast(nds))
      .join(terms, Seq("doc_id", "true_lang", "clang"), "left")
      .select(col("doc_id"), col("true_lang"), col("clang"),
        (coalesce(col("tok_fx"), lit(0L))
          + FxLog2.column(col("n_dc")) - FxLog2.column(col("nd"))).as("score_fx"))
    val byDoc = Window.partitionBy("doc_id")
      .orderBy(col("score_fx").desc, col("clang").asc)
    grid.withColumn("rk", row_number().over(byDoc)).filter(col("rk") === 1)
      .select(col("doc_id"), col("true_lang"),
        col("clang").as("pred_lang"), col("score_fx"),
        when(col("clang") === col("true_lang"), 1L).otherwise(0L)
          .as("correct"))
      .orderBy("doc_id")
  }

  private val PprRounds = 6
  private val PprS = 1000000000000L // mass scale: 10^12

  /** Personalized PageRank from the highest-degree node of the
    * co-purchase graph (fixed-round power iteration, α = 0.15
    * teleport to the seed only):
    *   pr_{k+1}(v) = [v = seed]·(15·S div 100)
    *                 + (85 · Σ_{u→v} (pr_k(u) div deg(u))) div 100
    * with all mass in integer units of S = 10¹² — truncating
    * divisions shed deterministic dust, so both engines carry the
    * identical mass vector round by round (the q_hits_scores /
    * q_graph_sssp iteration lane). PPR is the standard similarity
    * primitive behind "related items" at web scale.
    *
    * Shape at 100TB: the a-priori-pruned edge build runs once
    * (merge-hinted self-join, the q_graph_sssp shape), degrees join
    * the edges once up front, and each round is ONE shuffled join +
    * aggregate over the node-sized mass vector, the rounds run by
    * [[graft.ops.Iterate]].
    */
  val graphPpr: Q = {
    val rounds = (1 to PprRounds).map { i =>
      s"""p$i AS MATERIALIZED (SELECT node, CAST(SUM(pr) AS BIGINT) AS pr
         |  FROM (
         |    SELECT ed.v AS node,
         |      (85 * CAST(SUM(p.pr // ed.deg) AS BIGINT)) // 100 AS pr
         |    FROM ed JOIN p${i - 1} p ON p.node = ed.u GROUP BY ed.v
         |    UNION ALL
         |    SELECT node, (15 * ${PprS}) // 100 FROM seed)
         |  GROUP BY 1 HAVING SUM(pr) > 0)""".stripMargin
    }.mkString(",\n")
    Q(
      "q_graph_ppr",
      s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |e AS (SELECT a.l_partkey AS u, b.l_partkey AS v
         |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
         |        AND a.l_partkey < b.l_partkey
         |      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |eu AS MATERIALIZED (SELECT u, v FROM e
         |  UNION ALL SELECT v, u FROM e),
         |deg AS (SELECT u, COUNT(*) AS deg FROM eu GROUP BY 1),
         |ed AS MATERIALIZED (SELECT eu.u, eu.v, deg.deg
         |  FROM eu JOIN deg ON deg.u = eu.u),
         |seed AS MATERIALIZED (SELECT u AS node FROM deg
         |  ORDER BY deg DESC, u LIMIT 1),
         |p0 AS (SELECT node, CAST($PprS AS BIGINT) AS pr FROM seed),
         |$rounds
         |SELECT node, pr FROM p$PprRounds ORDER BY node""".stripMargin) {
      (s, d) =>
      val np = Session.partitions(s)
      // Suite-shared edge build (GraphShared); degrees checkpoint
      // lazily off it and BROADCAST back, so each round is one narrow
      // scan of cached edges + two broadcast joins + the v-keyed
      // aggregate. An eager seed checkpoint + an uncached edge list
      // ran the self-join build per consumer and measured 11.4s vs
      // SSSP's 3.7s same-session — don't repeat it.
      val eu = GraphShared.symmetric(s, d).select("u", "v")
        .repartition(np, col("u"))
        .persist()
      val deg = eu.groupBy("u").agg(count(lit(1)).as("deg"))
        .localCheckpoint(false)
      val seed = deg.orderBy(col("deg").desc, col("u")).limit(1)
        .select(col("u").as("node"))
        .localCheckpoint(false)
      val (pr, _) = Iterate(seed.withColumn("pr", lit(PprS)), PprRounds) { pr =>
        val flow = eu
          .join(broadcast(deg), "u")
          .join(broadcast(pr.toDF("u", "pru")), "u")
          .groupBy(col("v").as("node"))
          .agg(expr("CAST(SUM(pru div deg) AS BIGINT)").as("fl"))
          .select(col("node"), expr("(85 * fl) div 100").as("pr"))
        val teleport = seed
          .select(col("node"), lit(15L * PprS / 100L).as("pr"))
        flow.unionAll(teleport)
          .groupBy("node").agg(sum("pr").as("pr"))
          .filter(col("pr") > 0)
      }
      pr.orderBy("node")
    }
  }

  /** Exact tie-aware ROC AUC plus the reliability table, computed
    * entirely from GROUPED counts — never a per-row rank: documents
    * bucket by n_chars div 32 (the "score"), the per-bucket positive/
    * negative counts feed the midrank identity
    *   2·U⁺ = Σ_b n⁺_b · (2·cumneg_below_b + n⁻_b)
    * and AUC = U⁺/(n⁺·n⁻) lands as one truncating ppm division. Each
    * bucket also reports its observed positive rate — the calibration
    * readout — so ranking power AND calibration sit in one hash.
    *
    * Shape at 100TB: one aggregate to ≤ a few dozen bucket rows; the
    * cumulative window runs over the score dictionary
    * ([[graft.ops.BoundedWindow]] — buckets are bounded by the score
    * range, not the corpus); totals and AUC are one-row broadcasts.
    * This is the only AUC formulation that scales: per-row ranking
    * would be a data-sized global sort.
    */
  val aucCalibration: Q = Q(
    "q_auc_calibration",
    """WITH lab AS (SELECT n_chars // 32 AS b,
      |    CASE WHEN source IN ('src0', 'src1', 'src2') THEN 1 ELSE 0 END
      |      AS y
      |  FROM documents),
      |g AS (SELECT b, CAST(SUM(y) AS BIGINT) AS n_pos,
      |    CAST(COUNT(*) - SUM(y) AS BIGINT) AS n_neg
      |  FROM lab GROUP BY 1),
      |c AS (SELECT b, n_pos, n_neg,
      |    CAST(COALESCE(SUM(n_neg) OVER (ORDER BY b
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS cum_neg_below
      |  FROM g),
      |t AS (SELECT CAST(SUM(n_pos) AS BIGINT) AS p,
      |    CAST(SUM(n_neg) AS BIGINT) AS n FROM g),
      |a AS (SELECT CAST(SUM(n_pos * (2 * cum_neg_below + n_neg)) * 1000000
      |    // (2 * t.p * t.n) AS BIGINT) AS auc_ppm
      |  FROM c, t GROUP BY t.p, t.n)
      |SELECT c.b, c.n_pos, c.n_neg,
      |  CAST(c.n_pos * 1000000 // (c.n_pos + c.n_neg) AS BIGINT)
      |    AS rate_ppm,
      |  c.cum_neg_below,
      |  CAST(c.n_pos * (2 * c.cum_neg_below + c.n_neg) AS BIGINT)
      |    AS contrib2,
      |  a.auc_ppm
      |FROM c, a ORDER BY c.b""".stripMargin) { (s, d) =>
    import graft.ops.BoundedWindow
    val g = Tables.load(s, d, "documents")
      .select(expr("n_chars div 32").as("b"),
        when(col("source").isin("src0", "src1", "src2"), 1L).otherwise(0L)
          .as("y"))
      .groupBy("b")
      .agg(sum("y").as("n_pos"), (count(lit(1)) - sum("y")).as("n_neg"))
    val below = BoundedWindow.single(col("b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val c = g.withColumn("cum_neg_below",
      coalesce(sum("n_neg").over(below), lit(0L)))
    val t = g.agg(sum("n_pos").as("p"), sum("n_neg").as("n"))
    val a = c.crossJoin(broadcast(t))
      .agg(expr("""CAST(SUM(n_pos * (2 * cum_neg_below + n_neg)) * 1000000
                  |     div (2 * MAX(p) * MAX(n)) AS BIGINT)"""
        .stripMargin).as("auc_ppm"))
    c.crossJoin(broadcast(a))
      .select(col("b"), col("n_pos"), col("n_neg"),
        expr("CAST(n_pos * 1000000 div (n_pos + n_neg) AS BIGINT)")
          .as("rate_ppm"),
        col("cum_neg_below"),
        expr("CAST(n_pos * (2 * cum_neg_below + n_neg) AS BIGINT)")
          .as("contrib2"),
        col("auc_ppm"))
      .orderBy("b")
  }

  /** Mutual-information feature selection (the filter method every
    * text classifier starts from — Yang & Pedersen 1997): for each
    * token, the MI between document-level presence and the curated
    * label over the train split, multiplied through by n so every
    * term is integer:
    *   mi_n_fx = Σ_cells c · (lg(c) + lg(n) − lg(rowsum) − lg(colsum))
    * (the q_entropy_mi cell identity over the 2×2 presence/label
    * table; zero cells contribute zero). Tokens rank by
    * (mi desc, token) — the selected-feature ORDER is in the hash.
    *
    * Shape at 100TB: distinct (doc, token) presence is one shuffle;
    * the 2×2 cells are vocabulary-sized; the fxlog2 dictionary runs
    * on distinct counts only; the rank window covers the
    * vocabulary-bounded frame ([[graft.ops.BoundedWindow]]).
    */
  val featureSelectMi: Q = Q(
    "q_feature_select_mi",
    s"""WITH RECURSIVE
       |lab AS (SELECT doc_id, text,
       |    CASE WHEN source IN ('src0', 'src1', 'src2') THEN 1 ELSE 0 END
       |      AS y
       |  FROM documents
       |  WHERE md5(CAST(doc_id AS VARCHAR)) < 'cc'),
       |pres AS (SELECT DISTINCT doc_id, y, w FROM (
       |  SELECT doc_id, y, unnest(${Text.tokensSql("text")}) AS w
       |  FROM lab)),
       |tot AS (SELECT CAST(SUM(y) AS BIGINT) AS p,
       |    CAST(COUNT(*) - SUM(y) AS BIGINT) AS nn FROM lab),
       |cell AS (SELECT w, CAST(SUM(y) AS BIGINT) AS a,
       |    CAST(COUNT(*) - SUM(y) AS BIGINT) AS b
       |  FROM pres GROUP BY 1),
       |args AS (SELECT DISTINCT n FROM (
       |  SELECT a AS n FROM cell
       |  UNION ALL SELECT b FROM cell
       |  UNION ALL SELECT a + b FROM cell
       |  UNION ALL SELECT t.p - c.a FROM cell c, tot t
       |  UNION ALL SELECT t.nn - c.b FROM cell c, tot t
       |  UNION ALL SELECT t.p + t.nn - c.a - c.b FROM cell c, tot t
       |  UNION ALL SELECT p FROM tot
       |  UNION ALL SELECT nn FROM tot
       |  UNION ALL SELECT p + nn FROM tot) WHERE n >= 1),
       |${FxLog2.oracleCte("args")},
       |flat AS (SELECT c.w, c.a, c.b, t.p, t.nn,
       |    t.p - c.a AS pa, t.nn - c.b AS nb,
       |    c.a + c.b AS r1, t.p + t.nn - c.a - c.b AS r0,
       |    t.p + t.nn AS n FROM cell c, tot t),
       |mi AS (SELECT f.w, f.a, f.b,
       |    CAST(
       |      CASE WHEN f.a > 0 THEN f.a * (la.r + ln_.r - lr1.r - lcp.r)
       |           ELSE 0 END
       |    + CASE WHEN f.b > 0 THEN f.b * (lb.r + ln_.r - lr1.r - lcn.r)
       |           ELSE 0 END
       |    + CASE WHEN f.pa > 0 THEN
       |        f.pa * (lpa.r + ln_.r - lr0.r - lcp.r) ELSE 0 END
       |    + CASE WHEN f.nb > 0 THEN
       |        f.nb * (lnb.r + ln_.r - lr0.r - lcn.r) ELSE 0 END
       |    AS BIGINT) AS mi_n_fx
       |  FROM flat f
       |  LEFT JOIN lg la ON la.n = f.a
       |  LEFT JOIN lg lb ON lb.n = f.b
       |  LEFT JOIN lg lr1 ON lr1.n = f.r1
       |  LEFT JOIN lg lpa ON lpa.n = f.pa
       |  LEFT JOIN lg lnb ON lnb.n = f.nb
       |  LEFT JOIN lg lr0 ON lr0.n = f.r0
       |  JOIN lg lcp ON lcp.n = f.p
       |  JOIN lg lcn ON lcn.n = f.nn
       |  JOIN lg ln_ ON ln_.n = f.n)
       |SELECT w, a AS n_pos_docs, b AS n_neg_docs, mi_n_fx,
       |  ROW_NUMBER() OVER (ORDER BY mi_n_fx DESC, w) AS rnk
       |FROM mi ORDER BY w""".stripMargin) { (s, d) =>
    import graft.ops.BoundedWindow
    val np = Session.partitions(s)
    val lab = Tables.load(s, d, "documents").repartition(np)
      .filter(md5(col("doc_id").cast("string")) < "cc")
      .select(col("doc_id"), col("text"),
        when(col("source").isin("src0", "src1", "src2"), 1L).otherwise(0L)
          .as("y"))
    val pres = lab
      .select(col("doc_id"), col("y"),
        explode(Text.tokens(col("text"))).as("w"))
      .distinct()
    val tot = lab.agg(sum("y").as("p"), (count(lit(1)) - sum("y")).as("nn"))
    val cell = pres.groupBy("w")
      .agg(sum("y").as("a"), (count(lit(1)) - sum("y")).as("b"))
    val mi = cell.crossJoin(broadcast(tot))
      .select(col("w"), col("a"), col("b"),
        (expr("""CASE WHEN a > 0 THEN a * (graft_fxlog2(a)
                |  + graft_fxlog2(p + nn) - graft_fxlog2(a + b)
                |  - graft_fxlog2(p)) ELSE 0 END""".stripMargin)
          + expr("""CASE WHEN b > 0 THEN b * (graft_fxlog2(b)
                   |  + graft_fxlog2(p + nn) - graft_fxlog2(a + b)
                   |  - graft_fxlog2(nn)) ELSE 0 END""".stripMargin)
          + expr("""CASE WHEN p - a > 0 THEN (p - a) * (graft_fxlog2(p - a)
                   |  + graft_fxlog2(p + nn)
                   |  - graft_fxlog2(p + nn - a - b)
                   |  - graft_fxlog2(p)) ELSE 0 END""".stripMargin)
          + expr("""CASE WHEN nn - b > 0 THEN
                   |  (nn - b) * (graft_fxlog2(nn - b)
                   |  + graft_fxlog2(p + nn)
                   |  - graft_fxlog2(p + nn - a - b)
                   |  - graft_fxlog2(nn)) ELSE 0 END""".stripMargin))
          .cast("long").as("mi_n_fx"))
    mi.withColumn("rnk", row_number().over(
        BoundedWindow.singleRef(col("w"), col("mi_n_fx").desc,
          col("w").asc)))
      .select(col("w"), col("a").as("n_pos_docs"), col("b").as("n_neg_docs"),
        col("mi_n_fx"), col("rnk"))
      .orderBy("w")
  }

  val all: Seq[Q] = Seq(naiveBayes, graphPpr, aucCalibration, featureSelectMi)
}
