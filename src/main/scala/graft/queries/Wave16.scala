package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Session, Tables}
import graft.plans.FxLog2
import graft.text.Text

/** Wave 16 — supervised-ML building blocks and series mining, all in
  * the exact-integer / fxlog2 / rank-selected lanes: histogram-based
  * decision-stump split finding (the XGBoost/LightGBM scale pattern),
  * k-NN majority-vote classification over the fx cosine kernel,
  * Zipf's-law rank-frequency fitting (the corpus-health twin of
  * q_vocab_growth's Heaps law), SAX-lite time-series motif discovery,
  * and split-conformal prediction intervals with exact coverage.
  */
object Wave16 {

  /** Histogram-based best-split finding for a decision stump — the
    * distributed split search at the heart of gradient-boosted trees
    * (Chen & Guestrin 2016 §3.3 "approximate algorithm"; LightGBM's
    * feature histograms): three numeric features are binned into 32
    * equal-width integer bins, one shuffle builds the (feature, bin)
    * class histograms, and every split boundary is scored by the
    * Gini-equivalent criterion
    *   score = (posL² + negL²)·10⁶ div nL + (posR² + negR²)·10⁶ div nR
    * (maximizing this minimizes weighted Gini impurity; the two
    * truncating divisions are deterministic in both engines, and the
    * DECIMAL(38)/HUGEINT intermediates hold to n ≤ 10¹⁵ rows).
    *
    * Shape at 100TB: the scan aggregates straight to 32·3 histogram
    * rows (map-side partial combine does almost all the work); the
    * prefix sums and scoring run on ≤32 rows per feature partition;
    * min/max and totals are 3-row broadcasts. Nothing downstream of
    * the first aggregate is data-sized — exactly why every production
    * GBDT trainer uses this layout.
    */
  val treeSplit: Q = Q(
    "q_tree_split",
    """WITH li AS (SELECT CAST(l_quantity AS BIGINT) AS qty,
      |    CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS pc,
      |    CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS dc,
      |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      |  FROM lineitem),
      |lf AS (SELECT 'qty' AS feature, qty AS v, y FROM li
      |  UNION ALL SELECT 'price', pc, y FROM li
      |  UNION ALL SELECT 'disc', dc, y FROM li),
      |mm AS (SELECT feature, MIN(v) AS mn, MAX(v) AS mx
      |  FROM lf GROUP BY 1),
      |b AS (SELECT lf.feature, (v - mn) * 32 // (mx - mn + 1) AS bin, y
      |  FROM lf JOIN mm ON mm.feature = lf.feature),
      |h AS (SELECT feature, bin, COUNT(*) AS n,
      |    CAST(SUM(y) AS BIGINT) AS pos
      |  FROM b GROUP BY 1, 2),
      |c AS (SELECT feature, bin,
      |    CAST(SUM(n) OVER w AS BIGINT) AS nl,
      |    CAST(SUM(pos) OVER w AS BIGINT) AS posl
      |  FROM h WINDOW w AS (PARTITION BY feature ORDER BY bin
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |t AS (SELECT feature, CAST(SUM(n) AS BIGINT) AS nt,
      |    CAST(SUM(pos) AS BIGINT) AS post
      |  FROM h GROUP BY 1),
      |sc AS (SELECT c.feature, c.bin,
      |    mn + ((c.bin + 1) * (mx - mn + 1)) // 32 AS thr,
      |    nl, posl, nt - nl AS nr, post - posl AS posr,
      |    CAST((CAST(posl AS HUGEINT) * posl
      |          + CAST(nl - posl AS HUGEINT) * (nl - posl)) * 1000000 // nl
      |       + (CAST(post - posl AS HUGEINT) * (post - posl)
      |          + CAST((nt - nl) - (post - posl) AS HUGEINT)
      |            * ((nt - nl) - (post - posl))) * 1000000 // (nt - nl)
      |      AS BIGINT) AS score_ppm
      |  FROM c JOIN t ON t.feature = c.feature
      |         JOIN mm ON mm.feature = c.feature
      |  WHERE nt > nl)
      |SELECT feature, bin, thr, nl AS n_left, posl AS pos_left,
      |  nr AS n_right, posr AS pos_right, score_ppm,
      |  CAST(CASE WHEN ROW_NUMBER() OVER (PARTITION BY feature
      |      ORDER BY score_ppm DESC, bin) = 1 THEN 1 ELSE 0 END
      |    AS BIGINT) AS is_best
      |FROM sc ORDER BY feature, bin""".stripMargin) { (s, d) =>
    val np = Session.partitions(s)
    val li = Tables.load(s, d, "lineitem").repartition(np)
      .select(col("l_quantity").cast("long").as("qty"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("pc"),
        round(col("l_discount") * 100, 0).cast("long").as("dc"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
    val lf = li.select(explode(array(
        struct(lit("qty").as("feature"), col("qty").as("v"), col("y").as("y")),
        struct(lit("price").as("feature"), col("pc").as("v"), col("y").as("y")),
        struct(lit("disc").as("feature"), col("dc").as("v"), col("y").as("y"))
      )).as("e"))
      .select(col("e.feature").as("feature"), col("e.v").as("v"),
        col("e.y").as("y"))
    val mm = lf.groupBy("feature").agg(min("v").as("mn"), max("v").as("mx"))
    val b = lf.join(broadcast(mm), "feature")
      .select(col("feature"),
        expr("(v - mn) * 32 div (mx - mn + 1)").as("bin"), col("y"))
    val h = b.groupBy("feature", "bin")
      .agg(count(lit(1)).as("n"), sum("y").as("pos"))
    val w = Window.partitionBy("feature").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val t = h.groupBy("feature").agg(sum("n").as("nt"), sum("pos").as("post"))
    val sc = h
      .select(col("feature"), col("bin"),
        sum("n").over(w).as("nl"), sum("pos").over(w).as("posl"))
      .join(broadcast(t), "feature").join(broadcast(mm), "feature")
      .filter(col("nt") > col("nl"))
      .select(col("feature"), col("bin"),
        expr("mn + ((bin + 1) * (mx - mn + 1)) div 32").as("thr"),
        col("nl").as("n_left"), col("posl").as("pos_left"),
        (col("nt") - col("nl")).as("n_right"),
        (col("post") - col("posl")).as("pos_right"),
        expr("""CAST((CAST(posl AS DECIMAL(38,0)) * posl
               |      + CAST(nl - posl AS DECIMAL(38,0)) * (nl - posl))
               |       * 1000000 div nl
               |   + (CAST(post - posl AS DECIMAL(38,0)) * (post - posl)
               |      + CAST((nt - nl) - (post - posl) AS DECIMAL(38,0))
               |        * ((nt - nl) - (post - posl))) * 1000000
               |       div (nt - nl)
               |  AS BIGINT)""".stripMargin).as("score_ppm"))
    val best = Window.partitionBy("feature")
      .orderBy(col("score_ppm").desc, col("bin").asc)
    sc.withColumn("is_best",
        when(row_number().over(best) === 1, 1L).otherwise(0L))
      .orderBy("feature", "bin")
  }

  /** k-NN majority-vote classification over the embedding table: the
    * held-out probes (vec_id % 20 = 7, ~5%) are scored against every
    * training vector by exact fx cosine (the q_ann_topk lane — dot
    * products are order-free BIGINT sums, the final cosine is two
    * correctly-rounded IEEE steps over an identical tree), the top
    * k = 5 vote by label, and ties break to the smallest label. The
    * per-probe verdict rides next to the true label so held-out
    * accuracy folds downstream.
    *
    * Shape at 100TB: probes broadcast, the corpus is scanned once and
    * never shuffled (TopK.perGroup keeps per-probe heaps partial);
    * at a billion vectors the scoring side swaps to the IVF-PQ index
    * (q_ann_ivfpq) with this exact eval contract unchanged — that
    * swap is what q_ann_recall measures.
    */
  val knnClassify: Q = Q(
    "q_knn_classify",
    s"""WITH ${DedupSim.compSql},
       |pr AS (SELECT vec_id AS probe_id, label AS true_label FROM e
       |  WHERE vec_id % 20 = 7),
       |dots AS (SELECT p.probe_id, a.vec_id,
       |    CAST(SUM(CAST(FLOOR(a.v * q.v * 1e15) AS BIGINT)) AS DOUBLE)
       |      / 1e15 AS dot
       |  FROM comp a JOIN pr p ON a.vec_id % 20 <> 7
       |  JOIN comp q ON q.vec_id = p.probe_id AND q.i = a.i
       |  GROUP BY 1, 2),
       |scored AS (SELECT d.probe_id, d.vec_id,
       |    dot / (na.nrm * np.nrm) AS cosine
       |  FROM dots d JOIN norms na ON d.vec_id = na.vec_id
       |              JOIN norms np ON d.probe_id = np.vec_id),
       |top AS (SELECT probe_id, vec_id FROM (
       |    SELECT probe_id, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY probe_id
       |        ORDER BY cosine DESC, vec_id) AS rk
       |    FROM scored) WHERE rk <= 5),
       |votes AS (SELECT t.probe_id, e.label,
       |    CAST(COUNT(*) AS BIGINT) AS votes
       |  FROM top t JOIN e ON e.vec_id = t.vec_id GROUP BY 1, 2),
       |best AS (SELECT probe_id, label, votes,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id
       |      ORDER BY votes DESC, label) AS rk
       |  FROM votes)
       |SELECT b.probe_id, p.true_label, b.label AS pred_label, b.votes,
       |  CAST(CASE WHEN b.label = p.true_label THEN 1 ELSE 0 END
       |    AS BIGINT) AS correct
       |FROM best b JOIN pr p ON p.probe_id = b.probe_id
       |WHERE b.rk = 1 ORDER BY b.probe_id""".stripMargin) { (s, d) =>
    import graft.ml.Embeddings.fxDot
    val withNorm = Tables.load(s, d, "embeddings").withColumn("nrm",
      sqrt(fxDot(col("embedding"), col("embedding")).cast("double") / 1e15))
    val probes = withNorm.filter(col("vec_id") % 20 === 7)
      .select(col("vec_id").as("probe_id"), col("label").as("true_label"),
        col("embedding").as("ep"), col("nrm").as("nrm_p"))
    val scored = withNorm.filter(col("vec_id") % 20 =!= 7)
      .crossJoin(broadcast(probes))
      .withColumn("cosine",
        fxDot(col("embedding"), col("ep")).cast("double") / 1e15
          / (col("nrm") * col("nrm_p")))
    val top = graft.ops.TopK.perGroup(scored,
      partitionBy = Seq(col("probe_id")),
      orderBy = Seq(col("cosine").desc, col("vec_id").asc),
      k = 5, rankCol = "rk")
    val votes = top.groupBy("probe_id", "true_label", "label")
      .agg(count(lit(1)).as("votes"))
    val bestW = Window.partitionBy("probe_id")
      .orderBy(col("votes").desc, col("label").asc)
    votes.withColumn("rn", row_number().over(bestW)).filter(col("rn") === 1)
      .select(col("probe_id"), col("true_label"),
        col("label").as("pred_label"), col("votes"),
        when(col("label") === col("true_label"), 1L).otherwise(0L)
          .as("correct"))
      .orderBy("probe_id")
  }

  /** Zipf's-law fit per source: the rank-frequency OLS slope of
    * lg(count) on lg(rank) over the top-256 token types — the corpus
    * naturalness screen next to q_vocab_growth's Heaps law (natural
    * text sits near slope −1; machine-generated or boilerplate
    * corpora drift). Both logs are [[graft.plans.FxLog2]] fixed point
    * right-shifted 18 bits so the five OLS moments — and the r²
    * numerator SQUARED — stay inside DECIMAL(38)/HUGEINT (the
    * q_price_elasticity slope lane + the q_corr_exact r² lane, with
    * the shift doing the envelope work the raw 2³⁰ scale cannot at
    * 256 ranks).
    *
    * Shape at 100TB: token counts are one partial-aggregated shuffle;
    * the rank window partitions by source over vocabulary-sized
    * frames (bounded by Heaps' law, and cut to 256 immediately); the
    * fxlog2 runs on ≤512 surviving values per source. The ORACLE's
    * fxlog2 dictionary is the recursive CTE over distinct ranks and
    * counts.
    */
  val textZipf: Q = Q(
    "q_text_zipf",
    s"""WITH RECURSIVE
       |tk AS (SELECT source, unnest(${Text.tokensSql("text")}) AS w
       |  FROM documents),
       |c1 AS (SELECT source, w, COUNT(*) AS n FROM tk GROUP BY 1, 2),
       |f AS (SELECT * FROM (SELECT source, w, n,
       |    ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY n DESC, w) AS rnk
       |  FROM c1) WHERE rnk <= 256),
       |args AS (SELECT DISTINCT n FROM (
       |  SELECT rnk AS n FROM f UNION ALL SELECT n FROM f)),
       |${FxLog2.oracleCte("args")},
       |xy AS (SELECT f.source, lx.r >> 18 AS x, ly.r >> 18 AS y
       |  FROM f JOIN lg lx ON lx.n = f.rnk JOIN lg ly ON ly.n = f.n),
       |m AS (SELECT source, COUNT(*) AS nr,
       |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
       |    CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
       |    CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
       |    CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
       |  FROM xy GROUP BY 1)
       |SELECT source, CAST(nr AS BIGINT) AS n_ranks,
       |  CAST((nr * sxy - CAST(sx AS HUGEINT) * sy) * 1000000
       |       // (nr * sxx - CAST(sx AS HUGEINT) * sx) AS BIGINT)
       |    AS slope_e6,
       |  CAST(CASE WHEN nr * syy - CAST(sy AS HUGEINT) * sy > 0 THEN
       |      (nr * sxy - CAST(sx AS HUGEINT) * sy)
       |        * (nr * sxy - CAST(sx AS HUGEINT) * sy) * 1000000
       |      // ((nr * sxx - CAST(sx AS HUGEINT) * sx)
       |          * (nr * syy - CAST(sy AS HUGEINT) * sy)) END AS BIGINT)
       |    AS r2_ppm
       |FROM m WHERE nr * sxx - CAST(sx AS HUGEINT) * sx > 0
       |ORDER BY source""".stripMargin) { (s, d) =>
    val np = Session.partitions(s)
    val cnt = Tables.load(s, d, "documents").repartition(np)
      .select(col("source"), explode(Text.tokens(col("text"))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("n"))
    val bySrc = Window.partitionBy("source")
      .orderBy(col("n").desc, col("w").asc)
    val xy = cnt.withColumn("rnk", row_number().over(bySrc))
      .filter(col("rnk") <= 256)
      .select(col("source"),
        expr("shiftright(graft_fxlog2(CAST(rnk AS BIGINT)), 18)").as("x"),
        expr("shiftright(graft_fxlog2(n), 18)").as("y"))
    val m = xy.groupBy("source").agg(count(lit(1)).as("nr"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
      sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
      sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
    m.filter(expr("nr * sxx - CAST(sx AS DECIMAL(38,0)) * sx > 0"))
      .select(col("source"), col("nr").as("n_ranks"),
        expr("""CAST((nr * sxy - CAST(sx AS DECIMAL(38,0)) * sy) * 1000000
               |     div (nr * sxx - CAST(sx AS DECIMAL(38,0)) * sx)
               |  AS BIGINT)""".stripMargin).as("slope_e6"),
        expr("""CAST(CASE WHEN nr * syy - CAST(sy AS DECIMAL(38,0)) * sy > 0
               |  THEN (nr * sxy - CAST(sx AS DECIMAL(38,0)) * sy)
               |       * (nr * sxy - CAST(sx AS DECIMAL(38,0)) * sy) * 1000000
               |     div ((nr * sxx - CAST(sx AS DECIMAL(38,0)) * sx)
               |          * (nr * syy - CAST(sy AS DECIMAL(38,0)) * sy))
               |  END AS BIGINT)""".stripMargin).as("r2_ppm"))
      .orderBy("source")
  }

  /** SAX-lite motif discovery over daily order revenue (Lin et al.
    * 2003's symbolization, rank-quartile breakpoints instead of
    * Gaussian ones so everything stays exact): the day series is
    * PAA-compressed 2:1 (pairwise sums — means would divide), each
    * PAA value maps to {a,b,c,d} by the rank-SELECTED quartiles of
    * the PAA distribution (the r8b order-statistic lane — no
    * interpolation formula to drift), 4-symbol sliding words form via
    * three LEADs over ONE bounded window, and any word seen twice or
    * more is a motif (count + first/last occurrence).
    *
    * Shape at 100TB: the fact table aggregates once to the per-day
    * series; every window after that is calendar-bounded
    * ([[graft.ops.BoundedWindow]]) and the quartile row is a one-row
    * broadcast.
    */
  val tsMotif: Q = Q(
    "q_ts_motif",
    """WITH d AS (SELECT epoch_ms(o_orderdate) // 86400000 AS day,
      |    CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY 1),
      |sq AS (SELECT day, cents,
      |    ROW_NUMBER() OVER (ORDER BY day) - 1 AS seq
      |  FROM d),
      |paa AS (SELECT seq // 2 AS g, CAST(SUM(cents) AS BIGINT) AS v
      |  FROM sq GROUP BY 1 HAVING COUNT(*) = 2),
      |rk AS (SELECT g, v, ROW_NUMBER() OVER (ORDER BY v, g) AS rn,
      |    COUNT(*) OVER () AS np
      |  FROM paa),
      |qs AS (SELECT MAX(CASE WHEN rn = (np + 1) // 4 THEN v END) AS q1,
      |    MAX(CASE WHEN rn = (np + 1) // 2 THEN v END) AS q2,
      |    MAX(CASE WHEN rn = (3 * (np + 1)) // 4 THEN v END) AS q3
      |  FROM rk),
      |sym AS (SELECT g,
      |    CASE WHEN v <= q1 THEN 'a' WHEN v <= q2 THEN 'b'
      |         WHEN v <= q3 THEN 'c' ELSE 'd' END AS c
      |  FROM paa, qs),
      |wd AS (SELECT g, c
      |    || LEAD(c, 1) OVER (ORDER BY g)
      |    || LEAD(c, 2) OVER (ORDER BY g)
      |    || LEAD(c, 3) OVER (ORDER BY g) AS word
      |  FROM sym)
      |SELECT word, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(MIN(g) AS BIGINT) AS first_g, CAST(MAX(g) AS BIGINT) AS last_g
      |FROM wd WHERE word IS NOT NULL
      |GROUP BY 1 HAVING COUNT(*) >= 2
      |ORDER BY word""".stripMargin) { (s, d) =>
    import graft.ops.BoundedWindow
    val daily = Tables.load(s, d, "orders")
      .groupBy(graft.functions.Exact.bucket(
        graft.functions.Exact.ms(col("o_orderdate")), 86400000L).as("day"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
    val sq = daily.withColumn("seq",
      row_number().over(BoundedWindow.single(col("day"))) - 1)
    val paa = sq.groupBy((col("seq") / 2).cast("long").as("g"))
      .agg(sum("cents").as("v"), count(lit(1)).as("cnt"))
      .filter(col("cnt") === 2).drop("cnt")
    val rk = paa
      .withColumn("rn",
        row_number().over(BoundedWindow.single(col("v"), col("g"))))
      .withColumn("np", count(lit(1)).over(BoundedWindow.all(col("v"))))
    val qs = rk.agg(
      max(when(col("rn") === expr("(np + 1) div 4"), col("v"))).as("q1"),
      max(when(col("rn") === expr("(np + 1) div 2"), col("v"))).as("q2"),
      max(when(col("rn") === expr("(3 * (np + 1)) div 4"), col("v")))
        .as("q3"))
    val byG = BoundedWindow.single(col("g"))
    val sym = paa.crossJoin(broadcast(qs))
      .select(col("g"),
        when(col("v") <= col("q1"), "a").when(col("v") <= col("q2"), "b")
          .when(col("v") <= col("q3"), "c").otherwise("d").as("c"))
    sym
      .select(col("g"), concat(col("c"), lead(col("c"), 1).over(byG),
        lead(col("c"), 2).over(byG), lead(col("c"), 3).over(byG)).as("word"))
      .filter(col("word").isNotNull)
      .groupBy("word")
      .agg(count(lit(1)).as("n"), min("g").as("first_g"),
        max("g").as("last_g"))
      .filter(col("n") >= 2)
      .orderBy("word")
  }

  /** Split-conformal prediction intervals (Vovk's inductive conformal;
    * Lei et al. JASA 2018 split form) for the naive persistence
    * forecast of daily revenue: the first 70% of one-step absolute
    * residuals calibrate q̂ = the ⌈0.9·(n_cal+1)⌉-th smallest residual
    * (rank-SELECTED — the distribution-free 90% guarantee needs
    * exactly this order statistic, and it cannot drift cross-engine),
    * and every held-out day reports whether its residual landed inside
    * ±q̂, plus the realized coverage in ppm. Conformal's promise —
    * coverage ≥ 90% regardless of the forecaster — becomes a
    * hash-checked output.
    *
    * Shape at 100TB: one aggregate to the day series, then everything
    * is calendar-bounded ([[graft.ops.BoundedWindow]]); q̂ and the
    * coverage fold are one-row broadcasts (two BNLJs by construction,
    * the skip-gram plan-pin precedent).
    */
  val conformalInterval: Q = Q(
    "q_conformal_interval",
    """WITH d AS (SELECT epoch_ms(o_orderdate) // 86400000 AS day,
      |    CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY 1),
      |r AS (SELECT day, cents,
      |    LAG(cents) OVER (ORDER BY day) AS fc,
      |    ROW_NUMBER() OVER (ORDER BY day) - 1 AS rseq
      |  FROM d),
      |res AS (SELECT day, cents, fc, ABS(cents - fc) AS ar, rseq,
      |    MAX(rseq) OVER () AS n_res
      |  FROM r WHERE fc IS NOT NULL),
      |cal AS (SELECT ar, ROW_NUMBER() OVER (ORDER BY ar, day) AS rn,
      |    LEAST((7 * n_res) // 10,
      |      (9 * ((7 * n_res) // 10 + 1) + 9) // 10) AS kq
      |  FROM res WHERE rseq <= (7 * n_res) // 10),
      |qh AS (SELECT MAX(CASE WHEN rn = kq THEN ar END) AS q_hat FROM cal),
      |te AS (SELECT day, cents, fc, ar,
      |    CASE WHEN ar <= (SELECT q_hat FROM qh) THEN 1 ELSE 0 END AS cov
      |  FROM res WHERE rseq > (7 * n_res) // 10),
      |cv AS (SELECT CAST(SUM(cov) * 1000000 // COUNT(*) AS BIGINT)
      |    AS coverage_ppm FROM te)
      |SELECT te.day, te.cents AS x_cents, te.fc AS forecast,
      |  te.ar AS abs_resid, qh.q_hat,
      |  CAST(te.cov AS BIGINT) AS covered, cv.coverage_ppm
      |FROM te, qh, cv ORDER BY te.day""".stripMargin) { (s, d) =>
    import graft.ops.BoundedWindow
    val byDay = BoundedWindow.single(col("day"))
    val daily = Tables.load(s, d, "orders")
      .groupBy(graft.functions.Exact.bucket(
        graft.functions.Exact.ms(col("o_orderdate")), 86400000L).as("day"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
    val res = daily
      .withColumn("fc", lag(col("cents"), 1).over(byDay))
      .withColumn("rseq", row_number().over(byDay) - 1)
      .filter(col("fc").isNotNull)
      .withColumn("ar", abs(col("cents") - col("fc")))
      .withColumn("n_res", max(col("rseq")).over(BoundedWindow.all(col("day"))))
      .withColumn("ncal", expr("(7 * n_res) div 10"))
    val cal = res.filter(col("rseq") <= col("ncal"))
      .withColumn("rn",
        row_number().over(BoundedWindow.single(col("ar"), col("day"))))
      .withColumn("kq", expr("LEAST(ncal, (9 * (ncal + 1) + 9) div 10)"))
    val qh = cal.agg(max(when(col("rn") === col("kq"), col("ar"))).as("q_hat"))
    val te = res.filter(col("rseq") > col("ncal"))
      .crossJoin(broadcast(qh))
      .withColumn("cov", when(col("ar") <= col("q_hat"), 1L).otherwise(0L))
    val cv = te.agg(
      expr("CAST(SUM(cov) * 1000000 div COUNT(*) AS BIGINT)")
        .as("coverage_ppm"))
    te.crossJoin(broadcast(cv))
      .select(col("day"), col("cents").as("x_cents"),
        col("fc").as("forecast"), col("ar").as("abs_resid"), col("q_hat"),
        col("cov").as("covered"), col("coverage_ppm"))
      .orderBy("day")
  }

  val all: Seq[Q] =
    Seq(treeSplit, knnClassify, textZipf, tsMotif, conformalInterval)
}
