package graft.queries

import org.apache.spark.sql.functions._
import graft.{Q, Session, Tables}

/** Wave 24 — similarity beyond pointwise metrics: dynamic-time-warping
  * distance between nation revenue curves (Sakoe & Chiba 1978), and
  * maximal-marginal-relevance diversity reranking of dense retrieval
  * candidates (Carbonell & Goldstein 1998). DTW runs its 12x12 DP in
  * exact integer dollars (engine: one compiled kernel per pair;
  * oracle: one linear CTE per DP cell); MMR runs its greedy rounds in
  * raw fxdot units, so both hash bit-for-bit.
  */
object Wave24 {

  private val DtwYear = 1998
  private val DtwLen = 12

  /** DTW distance over every nation pair's monthly revenue curve
    * (whole dollars, calendar year 1998, missing months as 0): the
    * classic |a_i - b_j| band-free DP. Curves are dictionary-sized
    * (nations x 12), so the pair set and the DP are bounded; the
    * engine folds each pair through one compiled kernel call, the
    * oracle walks the same 144 cells as a linear CTE chain (one cell
    * per CTE — the r8c lesson: same-SELECT alias recursion explodes
    * in DuckDB, chained CTEs stay linear).
    *
    * Shape at 100TB: one month-keyed aggregate collapses the fact
    * table; everything after runs on a 25-row dictionary. The month
    * vector build is the same map_from_entries fold the tf-idf index
    * uses; the pair join is a bounded self-join.
    */
  val tsDtw: Q = {
    val monthsA = (1 to DtwLen).map(m => s"a$m")
    val monthsB = (1 to DtwLen).map(m => s"b$m")
    // dp cell CTEs: c_i_j = |a_i - b_j| + min over the three
    // predecessors (row 1 / col 1 degenerate to prefix sums)
    val cells = for (i <- 1 to DtwLen; j <- 1 to DtwLen) yield {
      val cost = s"ABS(a$i - b$j)"
      val prev =
        if (i == 1 && j == 1) ""
        else if (i == 1) s" + c_1_${j - 1}"
        else if (j == 1) s" + c_${i - 1}_1"
        else s" + LEAST(c_${i - 1}_$j, c_${i}_${j - 1}, c_${i - 1}_${j - 1})"
      (i, j, s"$cost$prev")
    }
    val cellSql = cells.map { case (i, j, e) =>
      val src =
        if (i == 1 && j == 1) "p"
        else if (j == 1) s"d_${i - 1}_$DtwLen"
        else s"d_${i}_${j - 1}"
      s"d_${i}_$j AS (SELECT *, $e AS c_${i}_$j FROM $src)"
    }.mkString(",\n")
    val pivotA = (1 to DtwLen)
      .map(m => s"    COALESCE(MAX(CASE WHEN mo = $m THEN rev END), 0) AS m$m")
      .mkString(",\n")
    Q(
      "q_ts_dtw",
      s"""WITH nm AS (SELECT c.c_nationkey AS nk,
         |    EXTRACT(MONTH FROM o.o_orderdate) AS mo,
         |    CAST(SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT) // 100)
         |      AS BIGINT) AS rev
         |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
         |  WHERE EXTRACT(YEAR FROM o.o_orderdate) = $DtwYear
         |  GROUP BY 1, 2),
         |v AS (SELECT n.n_nationkey AS nk,
         |$pivotA
         |  FROM nation n LEFT JOIN nm ON nm.nk = n.n_nationkey
         |  GROUP BY 1),
         |p AS (SELECT a.nk AS na, b.nk AS nb,
         |    ${monthsA.zipWithIndex.map { case (c, i) => s"a.m${i + 1} AS $c" }.mkString(", ")},
         |    ${monthsB.zipWithIndex.map { case (c, i) => s"b.m${i + 1} AS $c" }.mkString(", ")}
         |  FROM v a JOIN v b ON a.nk < b.nk),
         |$cellSql
         |SELECT na, nb, c_${DtwLen}_$DtwLen AS dtw
         |FROM d_${DtwLen}_$DtwLen ORDER BY na, nb""".stripMargin) { (s, d) =>
      val np = Session.partitions(s)
      val cust = Tables.load(s, d, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_nationkey").as("nk"))
      val nm = Tables.load(s, d, "orders").repartition(np)
        .filter(year(col("o_orderdate")) === DtwYear)
        .join(cust, "o_custkey")
        .groupBy(col("nk"), month(col("o_orderdate")).as("mo"))
        .agg(sum(expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) div 100"))
          .as("rev"))
      val v = Tables.load(s, d, "nation")
        .select(col("n_nationkey").cast("long").as("nk"))
        .join(nm.withColumn("nk", col("nk").cast("long")), Seq("nk"), "left")
        .groupBy("nk")
        .agg(map_from_entries(collect_list(
          when(col("mo").isNotNull, struct(col("mo"), col("rev")))))
          .as("mw"))
        .select(col("nk"),
          transform(sequence(lit(1), lit(DtwLen)),
            m => coalesce(element_at(col("mw"), m), lit(0L))).as("arr"))
      val dtwUdf = udf((a: Seq[Long], b: Seq[Long]) => {
        val n = a.length
        val dp = Array.ofDim[Long](n, n)
        for (i <- 0 until n; j <- 0 until n) {
          val cost = math.abs(a(i) - b(j))
          dp(i)(j) = cost + {
            if (i == 0 && j == 0) 0L
            else if (i == 0) dp(0)(j - 1)
            else if (j == 0) dp(i - 1)(0)
            else math.min(dp(i - 1)(j), math.min(dp(i)(j - 1),
              dp(i - 1)(j - 1)))
          }
        }
        dp(n - 1)(n - 1)
      })
      val a = v.select(col("nk").as("na"), col("arr").as("va"))
      val b = v.select(col("nk").as("nb"), col("arr").as("vb"))
      a.join(b, col("na") < col("nb"))
        .select(col("na"), col("nb"), dtwUdf(col("va"), col("vb")).as("dtw"))
        .orderBy("na", "nb")
    }
  }

  /** MMR diversity reranking of the dense retrieval candidates: from
    * each probe's exact-cosine top-10 ([[RetrievalShared.denseTop20]]
    * — the frame NDCG/RRF already share), greedily select 3 results
    * maximizing  mmr = (7*rel - 3*maxsim) div 10  where rel is the
    * raw fxdot of (probe, candidate) and maxsim the max fxdot to the
    * already-selected set — the lambda=0.7 diversity/relevance
    * trade-off, entirely in exact fixed point. Ties break to the
    * lower vector id, making the greedy path deterministic.
    *
    * Shape at 100TB: candidates are top-k-per-probe group limits (10
    * rows/probe); the pairwise-sim frame is 45 rows/probe; each
    * greedy round is a probe-partitioned window argmax. Nothing is
    * all-pairs — diversity runs AFTER retrieval pruning, which is the
    * only place MMR is affordable at scale.
    */
  val retrievalMmr: Q = Q(
    "q_retrieval_mmr",
    s"""WITH ${DedupSim.compSql},
       |dots AS (SELECT b.vec_id AS probe_id, a.vec_id,
       |    CAST(SUM(CAST(FLOOR(a.v * c.v * 1e15) AS BIGINT)) AS BIGINT)
       |      AS rel_fx,
       |    CAST(SUM(CAST(FLOOR(a.v * c.v * 1e15) AS BIGINT)) AS DOUBLE)
       |      / 1e15 AS dot
       |  FROM comp a
       |  JOIN (SELECT vec_id FROM e WHERE vec_id % 100 = 0) b
       |    ON a.vec_id <> b.vec_id
       |  JOIN comp c ON c.vec_id = b.vec_id AND c.i = a.i
       |  GROUP BY 1, 2),
       |cand AS (SELECT probe_id, vec_id, rel_fx FROM (
       |    SELECT d.probe_id, d.vec_id, d.rel_fx,
       |      ROW_NUMBER() OVER (PARTITION BY d.probe_id
       |        ORDER BY d.dot / (na.nrm * np.nrm) DESC, d.vec_id) AS rd
       |    FROM dots d JOIN norms na ON d.vec_id = na.vec_id
       |                JOIN norms np ON d.probe_id = np.vec_id) r
       |  WHERE rd <= 10),
       |psim AS (SELECT x.probe_id, x.vec_id AS ci, y.vec_id AS cj,
       |    CAST(SUM(CAST(FLOOR(a.v * b.v * 1e15) AS BIGINT)) AS BIGINT)
       |      AS sim_fx
       |  FROM cand x
       |  JOIN cand y ON y.probe_id = x.probe_id AND x.vec_id < y.vec_id
       |  JOIN comp a ON a.vec_id = x.vec_id
       |  JOIN comp b ON b.vec_id = y.vec_id AND b.i = a.i
       |  GROUP BY 1, 2, 3),
       |s1 AS (SELECT probe_id, vec_id AS sel1, rel_fx AS rel1 FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
       |      ORDER BY rel_fx DESC, vec_id) AS rn FROM cand) t
       |  WHERE rn = 1),
       |m2 AS (SELECT c.probe_id, c.vec_id, c.rel_fx,
       |    (7 * c.rel_fx - 3 * p.sim_fx) // 10 AS mmr
       |  FROM cand c
       |  JOIN s1 ON s1.probe_id = c.probe_id AND c.vec_id <> s1.sel1
       |  JOIN psim p ON p.probe_id = c.probe_id
       |    AND p.ci = LEAST(c.vec_id, s1.sel1)
       |    AND p.cj = GREATEST(c.vec_id, s1.sel1)),
       |s2 AS (SELECT probe_id, vec_id AS sel2, mmr AS mmr2 FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
       |      ORDER BY mmr DESC, vec_id) AS rn FROM m2) t
       |  WHERE rn = 1),
       |m3 AS (SELECT c.probe_id, c.vec_id,
       |    (7 * c.rel_fx - 3 * GREATEST(p1.sim_fx, p2.sim_fx)) // 10 AS mmr
       |  FROM cand c
       |  JOIN s1 ON s1.probe_id = c.probe_id
       |  JOIN s2 ON s2.probe_id = c.probe_id
       |    AND c.vec_id <> s1.sel1 AND c.vec_id <> s2.sel2
       |  JOIN psim p1 ON p1.probe_id = c.probe_id
       |    AND p1.ci = LEAST(c.vec_id, s1.sel1)
       |    AND p1.cj = GREATEST(c.vec_id, s1.sel1)
       |  JOIN psim p2 ON p2.probe_id = c.probe_id
       |    AND p2.ci = LEAST(c.vec_id, s2.sel2)
       |    AND p2.cj = GREATEST(c.vec_id, s2.sel2)),
       |s3 AS (SELECT probe_id, vec_id AS sel3, mmr AS mmr3 FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
       |      ORDER BY mmr DESC, vec_id) AS rn FROM m3) t
       |  WHERE rn = 1)
       |SELECT s1.probe_id, s1.sel1, s1.rel1, s2.sel2, s2.mmr2,
       |  s3.sel3, s3.mmr3
       |FROM s1 JOIN s2 ON s2.probe_id = s1.probe_id
       |        JOIN s3 ON s3.probe_id = s1.probe_id
       |ORDER BY s1.probe_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    import graft.ml.Embeddings.fxDot
    val emb = Tables.load(s, d, "embeddings")
    val top10 = RetrievalShared.denseTop20(s, d).filter(col("rd") <= 10)
      .select(col("probe_id"), col("vec_id"))
    val cand = top10
      .join(emb.select(col("vec_id"), col("embedding").as("ec")), "vec_id")
      .join(broadcast(emb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("probe_id"), col("embedding").as("ep"))),
        "probe_id")
      .select(col("probe_id"), col("vec_id"),
        fxDot(col("ec"), col("ep")).as("rel_fx"), col("ec"))
    val x = cand.select(col("probe_id").as("sp"), col("vec_id").as("ci"),
      col("ec").as("ea"))
    val y = cand.select(col("probe_id").as("pb"), col("vec_id").as("cj"),
      col("ec").as("eb"))
    val psim = x.join(y,
        col("pb") === col("sp") && col("ci") < col("cj"))
      .select(col("sp"), col("ci"), col("cj"),
        fxDot(col("ea"), col("eb")).as("sim_fx"))
    val byProbe = Window.partitionBy("probe_id")
    val s1 = cand
      .withColumn("rn", row_number().over(
        byProbe.orderBy(col("rel_fx").desc, col("vec_id").asc)))
      .filter(col("rn") === 1)
      .select(col("probe_id"), col("vec_id").as("sel1"),
        col("rel_fx").as("rel1"))
    val m2 = cand.join(s1, "probe_id")
      .filter(col("vec_id") =!= col("sel1"))
      .join(psim,
        col("sp") === col("probe_id") &&
          col("ci") === least(col("vec_id"), col("sel1")) &&
          col("cj") === greatest(col("vec_id"), col("sel1")))
      .select(col("probe_id"), col("vec_id"), col("rel_fx"),
        expr("(7 * rel_fx - 3 * sim_fx) div 10").as("mmr"))
    val s2 = m2
      .withColumn("rn", row_number().over(
        byProbe.orderBy(col("mmr").desc, col("vec_id").asc)))
      .filter(col("rn") === 1)
      .select(col("probe_id"), col("vec_id").as("sel2"), col("mmr").as("mmr2"))
    val p1 = psim.select(col("sp").as("p1p"), col("ci").as("p1i"),
      col("cj").as("p1j"), col("sim_fx").as("sim1"))
    val p2 = psim.select(col("sp").as("p2p"), col("ci").as("p2i"),
      col("cj").as("p2j"), col("sim_fx").as("sim2"))
    val m3 = cand.join(s1, "probe_id").join(s2, "probe_id")
      .filter(col("vec_id") =!= col("sel1") && col("vec_id") =!= col("sel2"))
      .join(p1, col("p1p") === col("probe_id") &&
        col("p1i") === least(col("vec_id"), col("sel1")) &&
        col("p1j") === greatest(col("vec_id"), col("sel1")))
      .join(p2, col("p2p") === col("probe_id") &&
        col("p2i") === least(col("vec_id"), col("sel2")) &&
        col("p2j") === greatest(col("vec_id"), col("sel2")))
      .select(col("probe_id"), col("vec_id"),
        expr("(7 * rel_fx - 3 * GREATEST(sim1, sim2)) div 10").as("mmr"))
    val s3 = m3
      .withColumn("rn", row_number().over(
        byProbe.orderBy(col("mmr").desc, col("vec_id").asc)))
      .filter(col("rn") === 1)
      .select(col("probe_id"), col("vec_id").as("sel3"), col("mmr").as("mmr3"))
    s1.join(s2, "probe_id").join(s3, "probe_id")
      .select(col("probe_id"), col("sel1"), col("rel1"), col("sel2"),
        col("mmr2"), col("sel3"), col("mmr3"))
      .orderBy("probe_id")
  }

  val all: Seq[Q] = Seq(tsDtw, retrievalMmr)
}
