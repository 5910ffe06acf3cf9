package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Session

/** Lloyd's k-means in exact fixed-point arithmetic, engine-replayable
  * bit-for-bit: coordinates become `floor(x * 1e6)` BIGINTs (the
  * IEEE-exact float→double→multiply→floor chain shared with the
  * fxdot kernels), squared distances are integer sums, and centroid
  * updates divide with a positive offset so truncating and flooring
  * integer division agree on negative coordinate sums. Floating
  * k-means can never hash-match across engines — the per-dimension
  * mean's summation order differs per shuffle.
  *
  * Shape at 100TB — the Spark MLlib posture
  * (`org.apache.spark.ml.clustering.KMeans` does exactly this): the
  * corpus stays distributed and is probed by a narrow argmin map
  * against the current centroids; each iteration reduces k·dim
  * partial sums and collects ONLY the k·dim centroid state to the
  * driver, which seeds the next iteration's closure. Centroid state
  * is k·dim longs — for the k in play here (8..~hundreds) that is
  * kilobytes; a vocabulary-scale k would switch to the join
  * formulation. Iterating the state driver-side instead of nesting
  * it in lazy plans keeps the physical plan per iteration CONSTANT
  * (one map + one partial-agg shuffle), where the previous in-plan
  * chain re-executed every prior iteration's window pass inside each
  * broadcast build (O(iters²) passes), compiled >100 distinct codegen
  * fragments per query (evicting Spark's 100-entry codegen cache),
  * and read 11-23s for 2000 vectors; this form reads ~2s for the
  * same IVF-ADC query, outputs bit-identical.
  */
object KMeansFx {

  private val Scale = 1e6
  private val Off = 2000000L // > max |scaled coordinate|, keeps dividends positive

  /** The float→double→multiply→floor fx chain for one vector — shared
    * by the batch scan UDF and the streaming encoder ([[Pq.encoderFor]])
    * so a streamed vector quantizes through the identical arithmetic. */
  private[ml] def scaleVec(v: Seq[Float]): Array[Long] =
    v.map { x =>
      val s = math.floor(x.toDouble * Scale).toLong
      // The +Off trick only keeps dividends positive while every scaled
      // coordinate stays inside (-Off, Off); an out-of-range vector
      // would silently reintroduce the truncating-div vs floor-div
      // divergence on negative centroid sums — fail loudly instead.
      require(math.abs(s) < Off,
        s"embedding coordinate $x out of range: |floor(x*1e6)| = ${math.abs(s)} " +
          s">= $Off — raise Off to cover the data's coordinate range")
      s
    }.toArray

  private val toFx = udf { v: Seq[Float] =>
    if (v == null) null else scaleVec(v)
  }

  /** Squared distance via the codegen [[graft.plans.FxSqDist]] kernel —
    * ADC LUT construction probes (query, centroid) pairs with it, and
    * the fused array loop avoids the per-pair Seq boxing of a Scala
    * UDF (requires GraftExtensions, like the fxdot kernels). */
  private def sqDist(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    call_function("graft_fxsqdist", a, b)

  /** Final assignments (idCol, cluster, dist) after `iters` Lloyd
    * iterations with centroids seeded from the `k` lowest ids. */
  def fit(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int): DataFrame =
    fitWithCodebook(emb, idCol, vecCol, k, iters)._1

  /** [[fit]] plus the CODEBOOK the final assignment was measured
    * against — the centroids after `iters - 1` Lloyd updates (`c{iters-1}`
    * in the oracle chain), i.e. exactly the table a quantization code
    * refers to. Product-quantization ADC search ([[Pq.adcTopK]]) needs
    * both halves consistent: a code is only meaningful together with
    * the codebook that produced it. Returns
    * ((idCol, cluster, dist), (cid, cv)); the codebook is a
    * LocalRelation (driver-side k·dim state), so broadcasting it costs
    * no job. */
  def fitWithCodebook(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int): (DataFrame, DataFrame) = {
    val (a, cb) = fitFx(prepare(fxPoints(emb, idCol, vecCol)), k.toLong, iters)
    (a.select(col("pid").as(idCol), col("cluster"), col("dist")), cb)
  }

  /** Scaled fx points (pid, v: Array[Long]) — the shared quantization
    * of [[fit]] exposed so ADC query vectors go through the identical
    * float→double→floor chain as the indexed corpus. */
  private[ml] def fxPoints(
      emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol).as("pid"), toFx(col(vecCol)).as("v"))

  /** [[fxPoints]] repartitioned + cached ([[prepare]]) — the relation
    * [[fitFx]] expects, exposed so IVF ([[Pq.ivfAdcTopK]]) shares one
    * point cache between the coarse fit and the residual map. */
  private[ml] def preparedFxPoints(
      emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    prepare(fxPoints(emb, idCol, vecCol))

  private[ml] def fxSqDist(a: Column, b: Column): Column = sqDist(a, b)

  /** [[fit]] with k DERIVED from the corpus size, k = max(minK,
    * n / targetClusterSize) — the SemDeDup posture "k grows with the
    * corpus so n/k stays bounded" made executable instead of a comment.
    * The count is one job over the cached points (the same first pass
    * MLlib's fit takes); the oracle replays the identical expression
    * as a scalar subquery ([[derivedKSql]] — `//` and `/` agree
    * because both operands are non-negative). */
  def fitDerivedK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      minK: Int,
      targetClusterSize: Long,
      iters: Int): DataFrame = {
    val pts = prepare(fxPoints(emb, idCol, vecCol))
    val k = math.max(minK.toLong, pts.count() / targetClusterSize)
    fitFx(pts, k, iters)._1
      .select(col("pid").as(idCol), col("cluster"), col("dist"))
  }

  /** The SQL expression for the derived k, shared with oracle builders
    * so engine and oracle can never drift. */
  def derivedKSql(minK: Int, targetClusterSize: Long): String =
    s"(SELECT GREATEST($minK, COUNT(*) // $targetClusterSize) FROM embeddings)"

  /** One materialization of the scaled points, hash-partitioned on the
    * POINT ID: the single-file inputs otherwise collapse the narrow
    * per-iteration map onto one core (CLAUDE.md perf lore), and every
    * iteration plus the final assignment rescans this relation. The
    * cache is released by the ContextCleaner when the result frame is
    * dropped; on a shared cluster wrap fit() calls with your own
    * lifecycle if that matters. */
  private def prepare(ptsRaw: DataFrame): DataFrame =
    ptsRaw
      .repartition(Session.partitions(ptsRaw.sparkSession), col("pid"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Argmin of the fx squared distance over `cents` (sorted by cid
    * ascending), ties to the lowest cid — identical to the
    * (dist, cid)-ordered rank-1 window of the oracle chain. Returns
    * (cluster, dist), or (-1, Long.MaxValue) for an empty table. */
  private def argmin(cents: Array[(Long, Array[Long])], v: Seq[Long]): (Long, Long) = {
    var bestCid = -1L
    var bestD = Long.MaxValue
    var j = 0
    while (j < cents.length) {
      val cv = cents(j)._2
      require(cv.length == v.length,
        s"fx point length ${v.length} != centroid length ${cv.length}")
      var d = 0L
      var i = 0
      while (i < cv.length) {
        val t = v(i) - cv(i)
        d += t * t
        i += 1
      }
      if (d < bestD) { bestD = d; bestCid = cents(j)._1 }
      j += 1
    }
    (bestCid, bestD)
  }

  /** [[argmin]] as a UDF: struct(cluster, dist), or null for a null
    * vector. */
  private def argminUdf(cents: Array[(Long, Array[Long])]) = udf {
    v: Seq[Long] => if (v == null) null else argmin(cents, v)
  }

  /** The Lloyd loop over ALREADY-PREPARED points (pid, v: Array[Long])
    * — shared core of [[fit]]/[[fitWithCodebook]]/[[fitDerivedK]].
    * Assignment is a narrow map ([[argminUdf]]); the update is one
    * partial-aggregated shuffle of k·dim sums collected to the driver,
    * where the `(s + Off·n) div n − Off` centroid formula runs in the
    * same Long arithmetic the oracle's SQL uses (dividends positive by
    * the Off shift, so `/` here ≡ `//` there). Returns
    * ((pid, cluster, dist, v), (cid, cv)) — the assignment keeps `v`
    * so residual quantization ([[Pq.ivfAdcTopK]]) needs no join back. */
  private[ml] def fitFx(
      pts: DataFrame,
      k: Long,
      iters: Int): (DataFrame, DataFrame) = {
    var cents: Array[(Long, Array[Long])] = pts.filter(col("pid") < k)
      .select(col("pid"), col("v")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1)
    var centsUsed = cents
    for (it <- 1 to iters) {
      centsUsed = cents
      if (it < iters) {
        val sums = assigned(pts, cents)
          .select(col("s._1").as("cid"), posexplode(col("v")).as(Seq("i", "vi")))
          .groupBy("cid", "i")
          .agg(sum(col("vi")).as("sm"), count(lit(1)).as("n"))
          .collect()
        cents = sums.groupBy(_.getLong(0)).map { case (cid, rows) =>
          val dim = rows.length
          val cv = new Array[Long](dim)
          rows.foreach { r =>
            cv(r.getInt(1)) = (r.getLong(2) + Off * r.getLong(3)) / r.getLong(3) - Off
          }
          (cid, cv)
        }.toArray.sortBy(_._1)
      }
    }
    val assign = assigned(pts, centsUsed)
      .select(col("pid"), col("s._1").as("cluster"),
        col("s._2").as("dist"), col("v"))
    (assign, codebookDf(pts, centsUsed.map { case (cid, cv) =>
      (Option.empty[Long], cid, cv) }).drop("g"))
  }

  private def assigned(
      pts: DataFrame, cents: Array[(Long, Array[Long])]): DataFrame =
    pts.withColumn("s", argminUdf(cents)(col("v")))

  private def codebookDf(
      like: DataFrame,
      rows: Array[(Option[Long], Long, Array[Long])]): DataFrame = {
    val spark = like.sparkSession
    import spark.implicits._
    rows.toSeq.map { case (g, cid, cv) => (g, cid, cv.toSeq) }
      .toDF("g", "cid", "cv")
  }

  /** Batched Lloyd over GROUPED pre-scaled points (g, pid, v): every
    * group trains its own independent codebook with the exact
    * [[fitFx]] arithmetic (same seeds pid < k per group, same
    * (dist, cid) tie-break, same offset division), but all groups
    * share ONE cached relation, one narrow argmin map, and one
    * partial-agg shuffle per iteration — M subspace fits for the
    * price of one. Product quantization over M subspaces runs through
    * this. Returns ((g, pid, cluster, dist), (g, cid, cv)); the
    * codebook is a LocalRelation. */
  private[ml] def fitFxGrouped(
      ptsRaw: DataFrame,
      k: Int,
      iters: Int): (DataFrame, DataFrame) = {
    val pts = prepare(ptsRaw)
    def collectCents(src: DataFrame): Map[Long, Array[(Long, Array[Long])]] =
      src.collect()
        .groupBy(_.getLong(0))
        .map { case (g, rows) =>
          g -> rows.map(r => (r.getLong(1), r.getSeq[Long](2).toArray))
            .sortBy(_._1)
        }
    var cents: Map[Long, Array[(Long, Array[Long])]] = collectCents(
      pts.filter(col("pid") < k).select(col("g"), col("pid"), col("v")))
    var centsUsed = cents
    for (it <- 1 to iters) {
      centsUsed = cents
      if (it < iters) {
        val sums = assignedGrouped(pts, cents)
          .select(col("g"), col("s._1").as("cid"),
            posexplode(col("v")).as(Seq("i", "vi")))
          .groupBy("g", "cid", "i")
          .agg(sum(col("vi")).as("sm"), count(lit(1)).as("n"))
          .collect()
        cents = sums.groupBy(_.getLong(0)).map { case (g, gRows) =>
          g -> gRows.groupBy(_.getLong(1)).map { case (cid, rows) =>
            val cv = new Array[Long](rows.length)
            rows.foreach { r =>
              cv(r.getInt(2)) = (r.getLong(3) + Off * r.getLong(4)) / r.getLong(4) - Off
            }
            (cid, cv)
          }.toArray.sortBy(_._1)
        }
      }
    }
    val assign = assignedGrouped(pts, centsUsed)
      .select(col("g"), col("pid"), col("s._1").as("cluster"),
        col("s._2").as("dist"))
    val cbRows = centsUsed.toArray.sortBy(_._1).flatMap { case (g, cs) =>
      cs.map { case (cid, cv) => (Option(g), cid, cv) }
    }
    (assign, codebookDf(pts, cbRows))
  }

  /** Per-group argmin: the group id picks its own centroid table from
    * the closure map; arithmetic identical to [[argminUdf]]. */
  private def assignedGrouped(
      pts: DataFrame,
      cents: Map[Long, Array[(Long, Array[Long])]]): DataFrame = {
    val f = udf { (g: Long, v: Seq[Long]) =>
      if (v == null) null
      else argmin(cents.getOrElse(g, Array.empty[(Long, Array[Long])]), v)
    }
    pts.withColumn("s", f(col("g"), col("v")))
  }

  /** The identical iteration as DuckDB SQL over the embeddings table —
    * generated alongside [[fit]] so oracle and engine can never drift
    * on k/iteration count/scale constants. */
  def oracleSql(k: Int, iters: Int, dim: Int): String =
    s"WITH ${oracleCtes(k, iters, dim)}" +
      s"\nSELECT vec_id, cid AS cluster, CAST(dist AS BIGINT) AS dist" +
      s"\nFROM ${assignCte(iters)} ORDER BY vec_id"

  /** Name of the final-assignment CTE produced by [[oracleCtes]]. */
  def assignCte(iters: Int): String = s"s$iters"

  /** The Lloyd-iteration CTE chain (no `WITH`, no final SELECT) so
    * downstream oracles — semantic dedup, IVF — can compose on the
    * bit-exact cluster assignments. */
  def oracleCtes(k: Int, iters: Int, dim: Int): String =
    oracleCtesKExpr(k.toString, iters, dim)

  /** [[oracleCtes]] with the seed count as an arbitrary SQL expression
    * (e.g. [[derivedKSql]]'s corpus-size-derived scalar subquery). */
  def oracleCtesKExpr(kExpr: String, iters: Int, dim: Int): String =
    oracleCtesSlice(kExpr, iters, dim, offset = 0, sfx = "")

  /** The same chain over a SUBSPACE slice `embedding[offset+1 ..
    * offset+dim]` with every CTE name suffixed — product quantization
    * ([[Pq]]) runs one chain per subspace in a single WITH; offset=0
    * and sfx="" give the plain [[oracleCtes]] chain. */
  def oracleCtesSlice(
      kExpr: String, iters: Int, dim: Int, offset: Int, sfx: String): String = {
    val idx = if (offset == 0) "i" else s"i + $offset"
    oracleCtesFromSrc(
      s"""SELECT vec_id, i,
         |    CAST(floor(CAST(embedding[$idx] AS DOUBLE) * 1000000) AS BIGINT) AS v
         |  FROM embeddings, (SELECT unnest(range(1, ${dim + 1})) AS i) p""".stripMargin,
      kExpr, iters, sfx)
  }

  /** The same chain over an ARBITRARY (vec_id, i, v) source select —
    * residual quantization ([[Pq.ivfAdcTopK]]'s oracle) runs
    * per-subspace chains over integer residuals rather than embedding
    * slices. `srcSql` must yield one row per (vec_id, i in 1..dim)
    * with v already in fx longs. Every CTE is AS MATERIALIZED: DuckDB
    * otherwise inlines each reference and re-plans the whole chain per
    * round (q_ann_pq's oracle took minutes at sf0.01). */
  def oracleCtesFromSrc(
      srcSql: String, kExpr: String, iters: Int, sfx: String): String = {
    val head =
      s"""pts$sfx AS MATERIALIZED ($srcSql),
         |c0$sfx AS MATERIALIZED (SELECT vec_id AS cid, i, v FROM pts$sfx WHERE vec_id < $kExpr)""".stripMargin
    val its = (1 to iters).map { j =>
      s"""a$j$sfx AS MATERIALIZED (SELECT p.vec_id, c.cid, SUM((p.v - c.v) * (p.v - c.v)) AS dist
         |  FROM pts$sfx p JOIN c${j - 1}$sfx c ON p.i = c.i GROUP BY p.vec_id, c.cid),
         |s$j$sfx AS MATERIALIZED (SELECT vec_id, cid, dist FROM (
         |    SELECT vec_id, cid, dist,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |    FROM a$j$sfx) WHERE rn = 1),
         |c$j$sfx AS MATERIALIZED (SELECT s.cid, p.i,
         |    CAST(((SUM(p.v) + 2000000 * COUNT(*)) // COUNT(*)) - 2000000 AS BIGINT) AS v
         |  FROM s$j$sfx s JOIN pts$sfx p ON s.vec_id = p.vec_id GROUP BY s.cid, p.i)""".stripMargin
    }
    (Seq(head) ++ its).mkString(",\n")
  }
}
