package graft.queries

import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.functions.{Hex, Sketches}

/** Wave 60 — set-OPERATION sketching (the KMV/theta bottom-k
  * intersection estimate between two cohorts — the audience-overlap
  * primitive; q_sketch_kmv only merged UNIONS) and an
  * epsilon-differentially-private count release via the geometric
  * mechanism (the discrete Laplace — the missing privacy MECHANISM
  * next to the q_kanon_audit risk audit).
  *
  * Determinism: hashes are md5-u48/u32 integers; the noise CDF is ONE
  * Scala-generated threshold list emitted into both the engine
  * expression and the oracle SQL (the q_bootstrap_ci inverse-CDF
  * precedent); estimators are single exact integer divisions.
  */
object Wave60 {

  private val SketchK = 128

  /** KMV/theta sketch intersection (Beyer et al. SIGMOD'07; the
    * DataSketches theta-sketch set-op shape): cohorts A = 1995
    * customers, B = 1996 customers, each summarized by the bottom-K
    * of its DISTINCT md5-u48 hash values (dedup before the bottom-K
    * keeps the estimator collision-robust); the combined bottom-K L
    * prices the union as U = (K−1)·2^48 div max(L) (the
    * [[graft.functions.Sketches]] KMV estimator), and the intersection
    * estimate is |L ∩ S_A ∩ S_B| · U div K (the Jaccard-times-union
    * identity).
    * The EXACT distinct union/intersection ride along as witnesses,
    * so estimator quality is in the hash, not a comment.
    *
    * Shape at 100TB: one distinct per cohort (map-side combined), one
    * WindowGroupLimit bottom-K partitioned by cohort; everything
    * after operates on ≤ 2K rows (TakeOrdered for L — never an
    * unpartitioned window).
    */
  val sketchTheta: Q = Q(
    "q_sketch_theta",
    s"""WITH m AS (SELECT DISTINCT EXTRACT(YEAR FROM o_orderdate) AS yr,
       |    o_custkey AS ck FROM orders
       |  WHERE EXTRACT(YEAR FROM o_orderdate) IN (1995, 1996)),
       |h AS (SELECT yr, ck,
       |    ${Sketches.kmvHashSql("md5('th:' || CAST(ck AS VARCHAR))")} AS hv
       |  FROM m),
       |hd AS (SELECT DISTINCT yr, hv FROM h),
       |r AS (SELECT yr, hv,
       |    ROW_NUMBER() OVER (PARTITION BY yr ORDER BY hv) AS rn
       |  FROM hd),
       |sa AS (SELECT hv FROM r WHERE yr = 1995 AND rn <= $SketchK),
       |sb AS (SELECT hv FROM r WHERE yr = 1996 AND rn <= $SketchK),
       |lu AS (SELECT DISTINCT hv FROM (SELECT hv FROM sa
       |  UNION ALL SELECT hv FROM sb) u),
       |l AS (SELECT hv FROM lu ORDER BY hv LIMIT $SketchK),
       |kl AS (SELECT MAX(hv) AS klmax, COUNT(*) AS nl FROM l),
       |cmn AS (SELECT COUNT(*) AS n_common FROM l
       |  JOIN sa ON sa.hv = l.hv JOIN sb ON sb.hv = l.hv),
       |est AS (SELECT kl.klmax, kl.nl, cmn.n_common,
       |    ${Sketches.kmvEstimateSql(SketchK, "kl.klmax")} AS union_est,
       |    cmn.n_common * ${Sketches.kmvEstimateSql(SketchK, "kl.klmax")}
       |      // $SketchK AS inter_est,
       |    cmn.n_common * 1000000 // $SketchK AS jaccard_ppm
       |  FROM kl, cmn),
       |ex AS (SELECT
       |    CAST(COUNT(DISTINCT ck) AS BIGINT) AS exact_union,
       |    CAST(SUM(CASE WHEN ny = 2 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS exact_inter
       |  FROM (SELECT ck, COUNT(DISTINCT yr) AS ny FROM m GROUP BY 1) t)
       |SELECT CAST($SketchK AS BIGINT) AS k, est.klmax,
       |  CAST(est.nl AS BIGINT) AS n_l,
       |  CAST(est.n_common AS BIGINT) AS n_common,
       |  CAST(est.union_est AS BIGINT) AS union_est,
       |  CAST(est.inter_est AS BIGINT) AS inter_est,
       |  CAST(est.jaccard_ppm AS BIGINT) AS jaccard_ppm,
       |  ex.exact_union, ex.exact_inter
       |FROM est, ex ORDER BY k""".stripMargin) { (s, d) =>
    val m = Tables.load(s, d, "orders")
      .select(year(col("o_orderdate")).as("yr"), col("o_custkey").as("ck"))
      .filter(col("yr").isin(1995, 1996)).distinct()
    val h = m.withColumn("hv",
      Sketches.kmvHash(md5(concat(lit("th:"), col("ck").cast("string")))))
    // KMV sketches hold DISTINCT hash values: dedup hv within each
    // cohort BEFORE the bottom-K, so a 48-bit collision between two
    // custkeys cannot double-count in the l⋈sa⋈sb intersection (both
    // engines would still agree, but the estimator and Wave60Spec's
    // set-based recompute would diverge at the first collision).
    val hd = h.select(col("yr"), col("hv")).distinct()
    val r = graft.ops.TopK.perGroup(hd,
      partitionBy = Seq(col("yr")),
      orderBy = Seq(col("hv").asc), k = SketchK)
    val sa = r.filter(col("yr") === 1995).select("hv")
    val sb = r.filter(col("yr") === 1996).select("hv")
    val l = sa.unionAll(sb).distinct().orderBy("hv").limit(SketchK)
    val kl = l.agg(max(col("hv")).as("klmax"), count(lit(1)).as("nl"))
    val cmn = l.join(sa, "hv").join(sb, "hv")
      .agg(count(lit(1)).as("n_common"))
    val est = kl.crossJoin(broadcast(cmn))
      .withColumn("union_est", Sketches.kmvEstimate(SketchK, col("klmax")))
      .withColumn("inter_est", expr(s"n_common * union_est div $SketchK"))
      .withColumn("jaccard_ppm", expr(s"n_common * 1000000 div $SketchK"))
    val ex = m.groupBy("ck").agg(countDistinct(col("yr")).as("ny"))
      .agg(count(lit(1)).as("exact_union"),
        sum(when(col("ny") === 2, 1L).otherwise(0L)).cast("long")
          .as("exact_inter"))
    est.crossJoin(broadcast(ex))
      .select(lit(SketchK.toLong).as("k"), col("klmax"),
        col("nl").cast("long").as("n_l"),
        col("n_common").cast("long").as("n_common"),
        col("union_est"), col("inter_est"), col("jaccard_ppm"),
        col("exact_union"), col("exact_inter"))
      .orderBy("k")
  }

  /** Truncated two-sided geometric noise, alpha = 3/4: exact-rational
    * CDF over k = -8..8 scaled to u32 thresholds, generated once here
    * for both engines. */
  private val GeoThresholds: Seq[(Long, Int)] = {
    val ks = (-8 to 8)
    val weights = ks.map(k => BigInt(3).pow(k.abs) * BigInt(4).pow(8 - k.abs))
    val total = weights.sum
    var cum = BigInt(0)
    ks.zip(weights).map { case (k, w) =>
      cum += w
      ((cum * BigInt(4294967296L) / total).toLong, k)
    }
  }

  /** Epsilon-DP count release via the geometric mechanism (Ghosh,
    * Roughgarden & Sundararajan STOC'09 — the universally
    * utility-maximizing mechanism for counts; the discrete Laplace):
    * per order-priority count, add two-sided geometric noise with
    * alpha = 3/4 (epsilon = ln(4/3) ≈ 0.2877 per release, truncated
    * at |k| <= 8 and renormalized), clamp at zero, report true next
    * to released — the privacy MECHANISM companion to q_kanon_audit's
    * risk audit. Noise is the md5-u32 uniform pushed through the
    * shared exact-rational inverse CDF, so both engines release the
    * same counts (determinism for the gate; a production release
    * draws fresh randomness).
    *
    * Shape at 100TB: one map-side-combined count aggregate; the noise
    * CASE is constant-folded per group.
    */
  val dpGeometric: Q = {
    val sqlCase = "CASE " + GeoThresholds.dropRight(1)
      .map { case (t, k) => s"WHEN u < $t THEN ($k)" }
      .mkString(" ") + s" ELSE ${GeoThresholds.last._2} END"
    Q(
      "q_dp_geometric",
      s"""WITH c AS (SELECT o_orderpriority AS pri,
         |    CAST(COUNT(*) AS BIGINT) AS true_count FROM orders GROUP BY 1),
         |u AS (SELECT pri, true_count,
         |    ${Hex.prefixSql("md5('dp:' || pri)", 1, 8)} AS u
         |  FROM c),
         |n AS (SELECT pri, true_count, CAST($sqlCase AS BIGINT) AS noise
         |  FROM u)
         |SELECT pri, true_count, noise,
         |  CAST(GREATEST(true_count + noise, 0) AS BIGINT) AS dp_count,
         |  CAST(287682 AS BIGINT) AS eps_micro
         |FROM n ORDER BY pri""".stripMargin) { (s, d) =>
      val c = Tables.load(s, d, "orders")
        .groupBy(col("o_orderpriority").as("pri"))
        .agg(count(lit(1)).as("true_count"))
      val u = c.withColumn("u", Hex.prefix(md5(concat(lit("dp:"), col("pri"))), 1, 8))
      val noise = GeoThresholds.dropRight(1).foldRight(
        lit(GeoThresholds.last._2.toLong)) { case ((t, k), rest) =>
        when(col("u") < t, k.toLong).otherwise(rest)
      }
      u.withColumn("noise", noise)
        .select(col("pri"), col("true_count"), col("noise"),
          greatest(col("true_count") + col("noise"), lit(0L)).as("dp_count"),
          lit(287682L).as("eps_micro"))
        .orderBy("pri")
    }
  }

  val all: Seq[Q] = Seq(sketchTheta, dpGeometric)
}
