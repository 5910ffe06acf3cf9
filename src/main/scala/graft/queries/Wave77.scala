package graft.queries

import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.text.Text

/** Wave 77 — eval-reliability auditing, part 2: Krippendorff's alpha
  * (Krippendorff 1970/2004 — the multi-rater generalization of Wave69's
  * Cohen kappa, the standard label-quality gate when an eval set is
  * rated by MORE than two annotators) and a pairwise-preference
  * transitivity audit (cyclic-triad rate — the arena-data consistency
  * check that bounds how well ANY total ranking, Bradley-Terry
  * included, can explain the observed preferences; Tversky 1969).
  */
object Wave77 {

  /** q_eval_krippendorff: alpha over THREE deterministic heuristic
    * raters per document (m = 3, binary verdicts, no missing data),
    * per language — rater A passes >= 56 tokens (Wave69's kappa rater),
    * rater B passes lexical diversity (2·distinct >= total), rater C
    * passes terse docs (<= 400 chars; deliberately anti-correlated
    * with A so expected disagreement stays well off zero). Nominal
    * alpha in exact integers: with per-unit category counts summing to
    * m, the observed-disagreement sum is S = Σ_u (m² − n_u1² − n_u0²),
    * and with margin totals t_c over N = m·n ratings,
    *   alpha = 1 − [S / (n·m(m−1))] / [(N² − t1² − t0²) / (N(N−1))]
    * cross-multiplied into ONE division in the 38-digit lane
    * (6n·T·1e6 outgrows BIGINT at sf1 — the q_eval_passk lesson):
    *   alpha_ppm = (6n·T − S·N(N−1))·1e6 div (6n·T),  T = N²−t1²−t0².
    *
    * Shape at 100TB: one narrow map over docs (three boolean gates),
    * one map-side-combined aggregate to the 5-language dictionary;
    * the alpha arithmetic runs on dictionary-grain rows. */
  val evalKrippendorff: Q = Q(
    "q_eval_krippendorff",
    s"""WITH r AS (
      |  SELECT lang,
      |    CASE WHEN len(toks) >= 56 THEN 1 ELSE 0 END
      |      + CASE WHEN 2 * len(list_distinct(toks)) >= len(toks)
      |             THEN 1 ELSE 0 END
      |      + CASE WHEN n_chars <= 400 THEN 1 ELSE 0 END AS s
      |  FROM (SELECT lang,
      |          ${Text.tokensSql("text")}
      |            AS toks,
      |          len(text) AS n_chars
      |        FROM documents) t),
      |ag AS (SELECT lang,
      |    CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(s) AS BIGINT) AS t1,
      |    CAST(SUM(9 - s * s - (3 - s) * (3 - s)) AS BIGINT) AS sd
      |  FROM r GROUP BY 1)
      |SELECT lang, n, t1, sd AS s_disag,
      |  CASE WHEN CAST(3 AS HUGEINT) * n * (3 * n)
      |            - CAST(t1 AS HUGEINT) * t1
      |            - CAST(3 * n - t1 AS HUGEINT) * (3 * n - t1) = 0
      |       THEN NULL
      |       ELSE CAST((CAST(6 AS HUGEINT) * n
      |              * (CAST(3 AS HUGEINT) * n * (3 * n)
      |                 - CAST(t1 AS HUGEINT) * t1
      |                 - CAST(3 * n - t1 AS HUGEINT) * (3 * n - t1))
      |              - CAST(sd AS HUGEINT) * (3 * n) * (3 * n - 1))
      |            * 1000000
      |            // (CAST(6 AS HUGEINT) * n
      |               * (CAST(3 AS HUGEINT) * n * (3 * n)
      |                  - CAST(t1 AS HUGEINT) * t1
      |                  - CAST(3 * n - t1 AS HUGEINT) * (3 * n - t1)))
      |            AS BIGINT) END AS alpha_ppm
      |FROM ag ORDER BY lang""".stripMargin) { (s, d) =>
    val r = Tables.load(s, d, "documents")
      .select(col("lang"), length(col("text")).as("n_chars"),
        Text.tokens(col("text")).as("toks"))
      .select(col("lang"),
        (when(size(col("toks")) >= 56, 1L).otherwise(0L)
          + when(size(array_distinct(col("toks"))) * 2 >= size(col("toks")),
              1L).otherwise(0L)
          + when(col("n_chars") <= 400, 1L).otherwise(0L)).as("s"))
    // T = (3n)^2 - t1^2 - t0^2; alpha_ppm =
    // (6n*T - S*3n*(3n-1)) * 1e6 div (6n*T) — identical integer
    // expression trees on both engines (DECIMAL(38,0) here mirrors
    // the oracle's HUGEINT lane)
    r.groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(col("s")).as("t1"),
        sum(lit(9L) - col("s") * col("s")
          - (lit(3L) - col("s")) * (lit(3L) - col("s"))).as("sd"))
      .select(col("lang"), col("n"), col("t1"), col("sd").as("s_disag"),
        expr("""CASE WHEN CAST(3 AS DECIMAL(38,0)) * n * (3 * n)
               |          - CAST(t1 AS DECIMAL(38,0)) * t1
               |          - CAST(3 * n - t1 AS DECIMAL(38,0)) * (3 * n - t1) = 0
               |     THEN NULL
               |     ELSE CAST((CAST(6 AS DECIMAL(38,0)) * n
               |            * (CAST(3 AS DECIMAL(38,0)) * n * (3 * n)
               |               - CAST(t1 AS DECIMAL(38,0)) * t1
               |               - CAST(3 * n - t1 AS DECIMAL(38,0)) * (3 * n - t1))
               |            - CAST(sd AS DECIMAL(38,0)) * (3 * n) * (3 * n - 1))
               |          * 1000000
               |          div (CAST(6 AS DECIMAL(38,0)) * n
               |             * (CAST(3 AS DECIMAL(38,0)) * n * (3 * n)
               |                - CAST(t1 AS DECIMAL(38,0)) * t1
               |                - CAST(3 * n - t1 AS DECIMAL(38,0)) * (3 * n - t1)))
               |          AS BIGINT) END""".stripMargin).as("alpha_ppm"))
      .orderBy("lang")
  }

  /** q_pref_cycles: cyclic-triad rate of the order-level brand
    * preference data (the same per-order micro-spend "matches" as
    * q_eval_bradley_terry). Each unordered brand pair with at least
    * one match gets ONE majority edge (ties -> the lexicographically
    * smaller brand wins — deterministic on both engines); a triad
    * {i, j, k} whose three pairs are all present is CYCLIC when its
    * edges form a directed 3-cycle. cyc_ppm bounds rankability: a
    * cyclic triad is a preference no total order can explain.
    *
    * Shape at 100TB: the data-sized work — the (order, brand) spend
    * aggregate + the merge-hinted order-key self-join — is the
    * SUITE-SHARED [[Wave69.btPairFrame]] materialization (built once,
    * consumed by Bradley-Terry and this audit; brand-pair dictionary
    * grain); everything here — majority edges, the two triad joins —
    * runs on the <= brands²/2 dictionary edge list (AQE broadcasts
    * it). */
  val prefCycles: Q = Q(
    "q_pref_cycles",
    s"""WITH os AS MATERIALIZED (
       |  SELECT l.l_orderkey AS ok, p.p_brand AS b, ${Wave69.btSpendSql} AS spend
       |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
       |  GROUP BY 1, 2),
       |pair AS MATERIALIZED (
       |  SELECT CASE WHEN a.spend >= c.spend THEN a.b ELSE c.b END AS w,
       |         CASE WHEN a.spend >= c.spend THEN c.b ELSE a.b END AS l,
       |         CAST(COUNT(*) AS BIGINT) AS n
       |  FROM os a JOIN os c ON a.ok = c.ok AND a.b < c.b
       |  GROUP BY 1, 2),
       |up AS (SELECT LEAST(w, l) AS i, GREATEST(w, l) AS j,
       |    CAST(SUM(CASE WHEN w < l THEN n ELSE 0 END) AS BIGINT) AS wi,
       |    CAST(SUM(CASE WHEN w > l THEN n ELSE 0 END) AS BIGINT) AS wj
       |  FROM pair GROUP BY 1, 2),
       |ek AS (SELECT i, j, CASE WHEN wi >= wj THEN j ELSE i END AS dst
       |       FROM up),
       |tri AS (SELECT p1.i AS a, p1.j AS b, p2.j AS c
       |  FROM up p1 JOIN up p2 ON p2.i = p1.j
       |  JOIN up p3 ON p3.i = p1.i AND p3.j = p2.j),
       |cyc AS (SELECT t.a, t.b, t.c,
       |    CASE WHEN (e1.dst = t.b AND e2.dst = t.c AND e3.dst = t.a)
       |           OR (e1.dst = t.a AND e2.dst = t.b AND e3.dst = t.c)
       |         THEN 1 ELSE 0 END AS is_cyc
       |  FROM tri t
       |  JOIN ek e1 ON e1.i = t.a AND e1.j = t.b
       |  JOIN ek e2 ON e2.i = t.b AND e2.j = t.c
       |  JOIN ek e3 ON e3.i = t.a AND e3.j = t.c)
       |SELECT CAST((SELECT COUNT(DISTINCT i) FROM (
       |         SELECT i FROM up UNION ALL SELECT j FROM up) z) AS BIGINT)
       |    AS n_brands,
       |  CAST((SELECT COUNT(*) FROM up) AS BIGINT) AS n_pairs,
       |  CAST(COUNT(*) AS BIGINT) AS n_triads,
       |  CAST(SUM(is_cyc) AS BIGINT) AS n_cyclic,
       |  CASE WHEN COUNT(*) = 0 THEN NULL
       |       ELSE CAST(SUM(is_cyc) * 1000000 // COUNT(*) AS BIGINT)
       |  END AS cyc_ppm
       |FROM cyc
       |ORDER BY n_brands""".stripMargin) { (s, d) =>
    val pair = Wave69.btPairFrame(s, d)
    val up = pair
      .groupBy(least(col("w"), col("l")).as("i"),
        greatest(col("w"), col("l")).as("j"))
      .agg(sum(when(col("w") < col("l"), col("n")).otherwise(0L)).as("wi"),
        sum(when(col("w") > col("l"), col("n")).otherwise(0L)).as("wj"))
    // edge lookups keyed by the UNORDERED pair (i, j) so every triad
    // probe is an EQUI-join (the src/dst OR-form planned as a
    // cartesian product with AQE off)
    val ek = up.select(col("i"), col("j"),
      when(col("wi") >= col("wj"), col("j")).otherwise(col("i")).as("dst"))
    val tri = up.select(col("i").as("a"), col("j").as("b"))
      .join(up.select(col("i").as("b"), col("j").as("c")), "b")
      .join(up.select(col("i").as("a"), col("j").as("c")), Seq("a", "c"))
    val cyc = tri
      .join(ek.select(col("i").as("a"), col("j").as("b"),
        col("dst").as("e1d")), Seq("a", "b"))
      .join(ek.select(col("i").as("b"), col("j").as("c"),
        col("dst").as("e2d")), Seq("b", "c"))
      .join(ek.select(col("i").as("a"), col("j").as("c"),
        col("dst").as("e3d")), Seq("a", "c"))
      .select(when(
        (col("e1d") === col("b") && col("e2d") === col("c")
          && col("e3d") === col("a"))
          || (col("e1d") === col("a") && col("e2d") === col("b")
            && col("e3d") === col("c")), 1L).otherwise(0L).as("is_cyc"))
    val brands = up.select(col("i").as("x"))
      .unionAll(up.select(col("j").as("x"))).distinct()
      .agg(count(lit(1)).as("n_brands"))
    val npairs = up.agg(count(lit(1)).as("n_pairs"))
    cyc.agg(count(lit(1)).as("n_triads"), sum(col("is_cyc")).as("n_cyclic"))
      .crossJoin(broadcast(brands))
      .crossJoin(broadcast(npairs))
      .select(col("n_brands"), col("n_pairs"), col("n_triads"),
        col("n_cyclic"),
        when(col("n_triads") === 0, lit(null).cast("long"))
          .otherwise(expr("n_cyclic * 1000000 div n_triads")).as("cyc_ppm"))
  }

  val all: Seq[Q] = Seq(evalKrippendorff, prefCycles)
}
