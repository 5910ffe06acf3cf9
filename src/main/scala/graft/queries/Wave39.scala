package graft.queries

import org.apache.spark.sql.functions._
import graft.{Q, Session, Tables}

/** Wave 39 — experiment readouts and distribution drift: CUPED
  * variance reduction (Deng et al., WSDM 2013 — the pre-period
  * covariate adjustment every experimentation platform runs) and
  * linear-kernel MMD shift between embedding groups (the mean-map
  * drift monitor a training-data feed runs per label/source). Both
  * collapse to exact integer moments in ONE aggregate; every division
  * truncates, so the readouts hash-match cross-engine.
  */
object Wave39 {

  /** 1996-01-01 UTC in epoch ms — the pre/post experiment split. */
  private val SplitMs = 820454400000L

  /** CUPED-adjusted A/B revenue readout over per-customer order
    * totals: pre-period spend is the covariate, theta = cov(pre,
    * post)/var(pre) fitted POOLED (micro units, truncating), and the
    * adjusted metric is post*1e6 - theta*(pre - mean_pre). Because
    * the adjustment is affine, arm means need only arm-level sums —
    * no per-user adjusted rows exist anywhere. Reports raw and
    * adjusted arm mean gaps (micro-cents) and the remaining-variance
    * ratio vr_ppm = var(adj)/var(post) — the whole point of CUPED is
    * vr_ppm well under 1e6.
    *
    * Shape at 100TB: one customer-keyed aggregate (map-side partial)
    * collapses orders to per-customer (pre, post); one more aggregate
    * collapses those to a SINGLE moments row; everything after is
    * scalar math on that row. Cross moments run in DECIMAL(38)/
    * HUGEINT (the m-form numerators pass BIGINT at ~1e5 customers).
    */
  val abCuped: Q = {
    // shared scalar tail over the one-row moments frame `mom` —
    // identical text for Spark (div, DECIMAL(38,0)) and DuckDB
    // (//, HUGEINT); defs per CLAUDE.md val-init-order lore. Wide
    // casts FIRST on every product. Spark's `div` ALWAYS returns
    // BIGINT while DuckDB's `//` stays HUGEINT, so every quotient in
    // this tail must FIT a BIGINT: vr_ppm divides vadj (micro^2) by
    // vq = n*sss - ss^2 (the raw-cents^2 m-form, = vpost/1e12
    // exactly) giving <= ~1e12, then by 1e6 — never by the 1e28-sized
    // vpost itself.
    def tail(idiv: String, big: String => String): String =
      s"""SELECT na AS n_a, nb AS n_b, theta_u AS theta_micro,
         |  CAST(${big("ssa")} * 1000000 $idiv na
         |     - ${big("ssb")} * 1000000 $idiv nb AS BIGINT) AS raw_diff_micro,
         |  CAST((${big("ssa")} * 1000000 - ${big("theta_u")} * spa
         |        + ${big("na")} * theta_u * mp) $idiv na
         |     - (${big("ssb")} * 1000000 - ${big("theta_u")} * spb
         |        + ${big("nb")} * theta_u * mp) $idiv nb AS BIGINT)
         |    AS cuped_diff_micro,
         |  CAST(CASE WHEN vq > 0 THEN
         |      vadj $idiv vq $idiv 1000000 END AS BIGINT) AS vr_ppm
         |FROM (SELECT na, nb, spa, ssa, spb, ssb, theta_u, mp,
         |    ${big("n")} * sadj2 - ${big("sadj")} * sadj AS vadj,
         |    ${big("n")} * sss - ${big("ss")} * ss AS vq
         |  FROM (SELECT *,
         |      ${big("1000000")} * 1000000 * sss
         |        - ${big("2000000")} * theta_u * (sps - ${big("mp")} * ss)
         |        + ${big("theta_u")} * theta_u
         |          * (spp - ${big("2")} * mp * sp + ${big("n")} * mp * mp)
         |        AS sadj2,
         |      ${big("1000000")} * ss - ${big("theta_u")} * sp
         |        + ${big("n")} * theta_u * mp AS sadj
         |    FROM (SELECT *,
         |        CAST(CASE WHEN ${big("n")} * spp - ${big("sp")} * sp <> 0
         |          THEN (${big("n")} * sps - ${big("sp")} * ss) * 1000000
         |            $idiv (${big("n")} * spp - ${big("sp")} * sp)
         |          ELSE 0 END AS BIGINT) AS theta_u,
         |        sp $idiv n AS mp
         |      FROM mom) t1) t2) t3 ORDER BY n_a""".stripMargin
    Q(
      "q_ab_cuped",
      s"""WITH o AS (SELECT o_custkey AS ck, epoch_ms(o_orderdate) AS ems,
         |    CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
         |  FROM orders),
         |u AS (SELECT ck,
         |    CASE WHEN md5(CAST(ck AS VARCHAR)) < '80' THEN 'a' ELSE 'b' END
         |      AS arm,
         |    CAST(SUM(CASE WHEN ems < $SplitMs THEN cents ELSE 0 END)
         |      AS BIGINT) AS pre,
         |    CAST(SUM(CASE WHEN ems >= $SplitMs THEN cents ELSE 0 END)
         |      AS BIGINT) AS post
         |  FROM o GROUP BY 1, 2),
         |mom AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(pre) AS BIGINT) AS sp, CAST(SUM(post) AS BIGINT) AS ss,
         |    SUM(CAST(pre AS HUGEINT) * pre) AS spp,
         |    SUM(CAST(pre AS HUGEINT) * post) AS sps,
         |    SUM(CAST(post AS HUGEINT) * post) AS sss,
         |    CAST(COUNT(CASE WHEN arm = 'a' THEN 1 END) AS BIGINT) AS na,
         |    CAST(COUNT(CASE WHEN arm = 'b' THEN 1 END) AS BIGINT) AS nb,
         |    CAST(SUM(CASE WHEN arm = 'a' THEN pre ELSE 0 END) AS BIGINT) AS spa,
         |    CAST(SUM(CASE WHEN arm = 'a' THEN post ELSE 0 END) AS BIGINT) AS ssa,
         |    CAST(SUM(CASE WHEN arm = 'b' THEN pre ELSE 0 END) AS BIGINT) AS spb,
         |    CAST(SUM(CASE WHEN arm = 'b' THEN post ELSE 0 END) AS BIGINT) AS ssb
         |  FROM u)
         |${tail("//", a => s"CAST($a AS HUGEINT)")}""".stripMargin) { (s, d) =>
      val np = Session.partitions(s)
      val u = Tables.load(s, d, "orders").repartition(np, col("o_custkey"))
        .select(col("o_custkey").as("ck"),
          graft.functions.Exact.ms(col("o_orderdate")).as("ems"),
          round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
        .groupBy(col("ck"),
          when(md5(col("ck").cast("string").cast("binary")) < "80", "a")
            .otherwise("b").as("arm"))
        .agg(
          sum(when(col("ems") < SplitMs, col("cents")).otherwise(0L)).as("pre"),
          sum(when(col("ems") >= SplitMs, col("cents")).otherwise(0L)).as("post"))
      val mom = u.agg(
        count(lit(1)).as("n"),
        sum("pre").as("sp"), sum("post").as("ss"),
        sum(expr("CAST(pre AS DECIMAL(38,0)) * pre")).as("spp"),
        sum(expr("CAST(pre AS DECIMAL(38,0)) * post")).as("sps"),
        sum(expr("CAST(post AS DECIMAL(38,0)) * post")).as("sss"),
        count(when(col("arm") === "a", 1)).as("na"),
        count(when(col("arm") === "b", 1)).as("nb"),
        sum(when(col("arm") === "a", col("pre")).otherwise(0L)).as("spa"),
        sum(when(col("arm") === "a", col("post")).otherwise(0L)).as("ssa"),
        sum(when(col("arm") === "b", col("pre")).otherwise(0L)).as("spb"),
        sum(when(col("arm") === "b", col("post")).otherwise(0L)).as("ssb"))
      mom.createOrReplaceTempView("w39_mom")
      s.sql(tail("div", a => s"CAST($a AS DECIMAL(38,0))")
        .replace("FROM mom", "FROM w39_mom"))
    }
  }

  /** Linear-kernel MMD (mean-embedding L2 gap) between every pair of
    * label groups in exact fx arithmetic: per group the per-dimension
    * coordinate sums S_g (fx-1e6 longs), then for a pair (g, h)
    *   gap2_fx = sum_i (n_h*S_g[i] - n_g*S_h[i])^2 // (n_g*n_h)^2
    * — exactly ||mean_g - mean_h||^2 in fx^2 (1e-12) units. The drift
    * monitor for "did source X's embeddings move this week": under a
    * linear kernel MMD^2 IS the mean-map distance (Gretton et al.,
    * JMLR 2012).
    *
    * Shape at 100TB: ONE (label, dim)-keyed aggregate collapses the
    * corpus to a labels x 64 dictionary (map-side partial); the pair
    * join and fold run on that dictionary. Squares in DECIMAL(38)/
    * HUGEINT.
    */
  val embeddingShift: Q = {
    def tail(idiv: String, big: String => String): String =
      s"""SELECT a.label AS label_a, b.label AS label_b,
         |  ca.n AS n_a, cb.n AS n_b,
         |  CAST(SUM(${big("cb.n * a.s - ca.n * b.s")}
         |           * (cb.n * a.s - ca.n * b.s))
         |    $idiv (${big("ca.n")} * ca.n * cb.n * cb.n) AS BIGINT) AS gap2_fx
         |FROM dim a JOIN dim b ON a.i = b.i AND a.label < b.label
         |JOIN cnt ca ON ca.label = a.label
         |JOIN cnt cb ON cb.label = b.label
         |GROUP BY 1, 2, 3, 4 ORDER BY label_a, label_b""".stripMargin
    Q(
      "q_embedding_shift",
      s"""WITH pts AS (SELECT vec_id, label, i,
         |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS v
         |  FROM embeddings, (SELECT unnest(range(1, 65)) AS i) p),
         |dim AS (SELECT label, i, CAST(SUM(v) AS BIGINT) AS s
         |  FROM pts GROUP BY 1, 2),
         |cnt AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM embeddings GROUP BY 1)
         |${tail("//", a => s"CAST($a AS HUGEINT)")}""".stripMargin) { (s, d) =>
      val np = Session.partitions(s)
      val emb = Tables.load(s, d, "embeddings").repartition(np)
      val dim = emb.select(col("label"),
          posexplode(transform(col("embedding"),
            x => floor(x.cast("double") * 1e6).cast("long"))))
        .select(col("label"), (col("pos") + 1).as("i"), col("col").as("v"))
        .groupBy("label", "i").agg(sum("v").as("s"))
      val cnt = emb.groupBy("label").agg(count(lit(1)).as("n"))
      dim.createOrReplaceTempView("w39_dim")
      cnt.createOrReplaceTempView("w39_cnt")
      s.sql(tail("div", a => s"CAST($a AS DECIMAL(38,0))")
        .replace("FROM dim a", "FROM w39_dim a")
        .replace("JOIN dim b", "JOIN w39_dim b")
        .replace("JOIN cnt ca", "JOIN w39_cnt ca")
        .replace("JOIN cnt cb", "JOIN w39_cnt cb"))
    }
  }

  val all: Seq[Q] = Seq(abCuped, embeddingShift)
}
