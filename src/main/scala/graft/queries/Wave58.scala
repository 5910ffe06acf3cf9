package graft.queries

import org.apache.spark.sql.functions._
import graft.{Q, Session, Tables}
import graft.functions.Hex

/** Wave 58 — two classics the registry lacked: the top principal
  * component of the embedding corpus by integer power iteration (the
  * PCA primitive behind whitening / drift monitoring / spectral
  * filters on training embeddings) and Duffield-Lund-Thorup priority
  * sampling (the weighted-sample-without-replacement every
  * pipeline-cost or revenue-audit subsample actually wants).
  *
  * Same determinism contract as every wave: the only float op is the
  * established floor(x*1e6) embedding fixed-point cast; everything
  * downstream is BIGINT/HUGEINT products and truncating divisions that
  * both engines unroll identically (Scala BigInt `/` and DuckDB `//`
  * both truncate toward zero, negatives included).
  */
object Wave58 {

  private val Dim = 64
  private val Rounds = 12
  /** Covariance rescale: c_ij = (n*S_ij - m_i*m_j) div 2^22 keeps the
    * per-round matvec inside HUGEINT/DECIMAL(38) headroom with fx-1e6
    * vectors at any corpus size whose moments fit BIGINT. */
  private val CShiftDiv = 4194304L

  /** Top principal component via fixed-point power iteration (the
    * classic von Mises iteration; Golub & Van Loan §7.3) over the
    * EXACT second-moment matrix of the fx-1e6 embeddings:
    *
    *   S_ij = Σ_r x_ri x_rj   m_i = Σ_r x_ri   (one corpus aggregate)
    *   c_ij = (n·S_ij − m_i·m_j) div 2^22      (centered, rescaled)
    *   v⁰   = 1e6·1;  y = C v;  v' = y·1e6 div max|y|   (×12 rounds)
    *
    * Max-normalization is one truncating division per component (the
    * HITS precedent — L2 norms need sqrt of >2^53 integers, which is
    * not replayable); C is positive semidefinite, so each round can
    * only grow the Rayleigh quotient toward λ₁ at rate (λ₂/λ₁)^r. The
    * CONTRACT is the fixed-round iterate (the registry's fixed-round
    * graph-kernel posture — this synthetic corpus is near-isotropic,
    * λ₂/λ₁ ≈ 0.93, the worst case; real embedding spectra with a
    * dominant direction converge geometrically). The readout carries
    * the previous round's iterate (stability witness in-hash) and the
    * Rayleigh quotient λ̂ = (v'Cv) div (v'v) in c-units.
    *
    * Shape at 100TB: the ONLY data-sized work is one aggregate that
    * collapses the corpus to 2080 (i≤j) moment cells + 64 sums with
    * map-side combine behind a compiled pair-product UDF; the matrix
    * is dictionary-sized (64×64), so the 12 rounds are a driver-side
    * BigInt solve — the q_markov_absorption codebook posture. The
    * oracle replays moments, rescale and all 12 rounds as MATERIALIZED
    * CTEs.
    */
  val embedPcaPower: Q = {
    val rounds = (1 to Rounds).map { r =>
      s"""y$r AS MATERIALIZED (SELECT c.i, SUM(CAST(c.c AS HUGEINT) * v.v) AS y
         |  FROM cm c JOIN v${r - 1} v ON v.i = c.j GROUP BY 1),
         |x$r AS MATERIALIZED (SELECT MAX(ABS(y)) AS mx FROM y$r),
         |v$r AS MATERIALIZED (SELECT i, CAST(y * 1000000 // mx AS BIGINT) AS v
         |  FROM y$r, x$r)""".stripMargin
    }.mkString(",\n")
    Q(
      "q_embed_pca_power",
      s"""WITH pts AS MATERIALIZED (SELECT vec_id, i,
         |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS v
         |  FROM embeddings, (SELECT unnest(range(1, ${Dim + 1})) AS i) p),
         |nn AS MATERIALIZED (SELECT COUNT(DISTINCT vec_id) AS n FROM pts),
         |mm AS MATERIALIZED (SELECT i, CAST(SUM(v) AS BIGINT) AS m
         |  FROM pts GROUP BY 1),
         |ss AS MATERIALIZED (SELECT a.i AS i, b.i AS j,
         |    CAST(SUM(a.v * b.v) AS BIGINT) AS s2
         |  FROM pts a JOIN pts b ON a.vec_id = b.vec_id AND a.i <= b.i
         |  GROUP BY 1, 2),
         |sf AS MATERIALIZED (SELECT i, j, s2 FROM ss
         |  UNION ALL SELECT j AS i, i AS j, s2 FROM ss WHERE i < j),
         |cm AS MATERIALIZED (SELECT sf.i, sf.j,
         |    CAST((CAST(nn.n AS HUGEINT) * sf.s2
         |          - CAST(ma.m AS HUGEINT) * mb.m) // $CShiftDiv AS BIGINT) AS c
         |  FROM sf CROSS JOIN nn
         |    JOIN mm ma ON ma.i = sf.i JOIN mm mb ON mb.i = sf.j),
         |v0 AS MATERIALIZED (SELECT i, CAST(1000000 AS BIGINT) AS v
         |  FROM (SELECT unnest(range(1, ${Dim + 1})) AS i) q0),
         |$rounds,
         |yf AS MATERIALIZED (SELECT c.i, SUM(CAST(c.c AS HUGEINT) * v.v) AS y
         |  FROM cm c JOIN v$Rounds v ON v.i = c.j GROUP BY 1),
         |ray AS MATERIALIZED (SELECT
         |    CAST(SUM(CAST(yf.y AS HUGEINT) * v.v)
         |         // SUM(CAST(v.v AS HUGEINT) * v.v) AS BIGINT) AS lam_c
         |  FROM yf JOIN v$Rounds v ON v.i = yf.i)
         |SELECT CAST(a.i AS BIGINT) AS dim, a.v AS v_fx, b.v AS prev_fx,
         |  ray.lam_c, CAST(nn.n AS BIGINT) AS n_vec
         |FROM v$Rounds a JOIN v${Rounds - 1} b ON b.i = a.i, ray, nn
         |ORDER BY dim""".stripMargin) { (s, d) =>
      val np = Session.partitions(s)
      val pts = Tables.load(s, d, "embeddings").repartition(np)
        .select(col("vec_id"), col("embedding"))
      // upper-triangle pair products in one compiled pass: 2080 cells,
      // map-side combined — the only data-sized job
      val prodUdf = udf { v: Seq[Float] =>
        val fx = Array.tabulate(v.length)(k =>
          math.floor(v(k).toDouble * 1e6).toLong)
        val out = Array.newBuilder[(Int, Int, Long)]
        var i = 0
        while (i < fx.length) {
          var j = i
          while (j < fx.length) { out += ((i + 1, j + 1, fx(i) * fx(j))); j += 1 }
          i += 1
        }
        out.result()
      }
      val fxUdf = udf { v: Seq[Float] =>
        v.map(x => math.floor(x.toDouble * 1e6).toLong)
      }
      val sRows = pts.select(explode(prodUdf(col("embedding"))).as("t"))
        .groupBy(col("t._1").as("i"), col("t._2").as("j"))
        .agg(sum(col("t._3")).as("s2"))
        .collect().map(r => ((r.getInt(0), r.getInt(1)), BigInt(r.getLong(2))))
        .toMap
      val mRows = pts.select(posexplode(fxUdf(col("embedding"))))
        .groupBy((col("pos") + 1).as("i")).agg(sum(col("col")).as("m"))
        .collect().map(r => r.getInt(0) -> BigInt(r.getLong(1))).toMap
      val n = BigInt(pts.count())
      // dictionary-sized driver solve (64x64 = 4096 BigInts)
      val c = Array.tabulate(Dim, Dim) { (i0, j0) =>
        val (i, j) = (i0 + 1, j0 + 1)
        val s2 = if (i <= j) sRows((i, j)) else sRows((j, i))
        (n * s2 - mRows(i) * mRows(j)) / CShiftDiv
      }
      def matvec(v: Array[BigInt]): Array[BigInt] =
        Array.tabulate(Dim)(i =>
          (0 until Dim).foldLeft(BigInt(0))((a, j) => a + c(i)(j) * v(j)))
      var v = Array.fill(Dim)(BigInt(1000000))
      var prev = v
      (1 to Rounds).foreach { _ =>
        prev = v
        val y = matvec(v)
        val mx = y.map(_.abs).max
        v = y.map(_ * 1000000 / mx)
      }
      val yf = matvec(v)
      val rayNum = (0 until Dim).foldLeft(BigInt(0))((a, i) => a + yf(i) * v(i))
      val rayDen = (0 until Dim).foldLeft(BigInt(0))((a, i) => a + v(i) * v(i))
      val lamC = (rayNum / rayDen).toLong
      import s.implicits._
      (0 until Dim).map(i =>
        ((i + 1).toLong, v(i).toLong, prev(i).toLong, lamC, n.toLong))
        .toDF("dim", "v_fx", "prev_fx", "lam_c", "n_vec")
        .orderBy("dim")
    }
  }

  /** Priority-sample size (the (k+1)-th priority prices the sample). */
  private val PrioK = 50

  /** Priority sampling (Duffield, Lund & Thorup, JACM 54(6) 2007) of
    * orders weighted by spend: each order draws the md5-u32 uniform
    * u ∈ [1, 2^32] and gets priority q = w·2^32 div u (ONE exact
    * integer division — no pow/log anywhere, unlike the Efraimidis-
    * Spirakis u^(1/w) keys); the sample is the top-K by (q, okey) and
    * τ = the (K+1)-th priority prices every kept item at
    * ŵ = max(w, τ), whose sum is the (near-)unbiased total estimator
    * the paper proves optimal among threshold schemes. est_total and
    * the exact corpus total sit side by side in the hash. (ScaleOps'
    * q_sample_priority is the double-precision top-k DRAW; this is
    * the exact-integer tau-PRICED estimator — hence the _tau name.)
    *
    * Shape at 100TB: priorities are map-side expressions on the scan;
    * the top-(K+1) is TakeOrdered (per-partition heaps — no global
    * sort, no unpartitioned window on the engine side); τ and the
    * totals are one-row broadcasts.
    */
  val samplePriority: Q = Q(
    "q_sample_priority_tau",
    s"""WITH w AS (SELECT o_orderkey AS okey,
       |    CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
       |    ${Hex.prefixSql("md5('ps:' || CAST(o_orderkey AS VARCHAR))", 1, 8)}
       |      + 1 AS u
       |  FROM orders),
       |p AS (SELECT okey, cents, u, cents * 4294967296 // u AS q FROM w),
       |r AS (SELECT okey, cents, u, q,
       |    ROW_NUMBER() OVER (ORDER BY q DESC, okey) AS rn FROM p),
       |tau AS (SELECT q AS tau FROM r WHERE rn = ${PrioK + 1}),
       |tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS total_cents,
       |    CAST(COUNT(*) AS BIGINT) AS n_rows FROM w),
       |s AS (SELECT okey, cents, u, q, GREATEST(cents, tau.tau) AS wh,
       |    tau.tau FROM r, tau WHERE rn <= $PrioK),
       |e AS (SELECT CAST(SUM(wh) AS BIGINT) AS est_total FROM s)
       |SELECT s.okey, s.cents, s.u, s.q, s.wh, s.tau, e.est_total,
       |  tot.total_cents, tot.n_rows
       |FROM s, e, tot ORDER BY okey""".stripMargin) { (s, d) =>
    val w = Tables.load(s, d, "orders").select(
      col("o_orderkey").as("okey"),
      expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").as("cents"),
      (Hex.prefix(md5(concat(lit("ps:"), col("o_orderkey").cast("string"))),
        1, 8) + lit(1L)).as("u"))
    val p = w.withColumn("q", expr("cents * 4294967296 div u"))
    // top-(K+1) via TakeOrdered under the (q desc, okey) total order;
    // tau = min priority of that frame = the (K+1)-th priority
    val topK1 = p.orderBy(col("q").desc, col("okey").asc).limit(PrioK + 1)
    val tau = topK1.agg(min(col("q")).as("tau"))
    val sample = p.orderBy(col("q").desc, col("okey").asc).limit(PrioK)
      .crossJoin(broadcast(tau))
      .withColumn("wh", greatest(col("cents"), col("tau")))
    val est = sample.agg(sum(col("wh")).cast("long").as("est_total"))
    val tot = w.agg(sum(col("cents")).cast("long").as("total_cents"),
      count(lit(1)).as("n_rows"))
    sample
      .crossJoin(broadcast(est))
      .crossJoin(broadcast(tot))
      .select(col("okey"), col("cents"), col("u"), col("q"), col("wh"),
        col("tau"), col("est_total"), col("total_cents"), col("n_rows"))
      .orderBy("okey")
  }

  val all: Seq[Q] = Seq(embedPcaPower, samplePriority)
}
