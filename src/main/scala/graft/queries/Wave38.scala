package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Session, Tables}

/** Wave 38 — training-data curation economics: coreset selection
  * (which K points summarize the embedding corpus?) and data
  * valuation (which training points actually earn their keep under a
  * KNN utility?). Both exact-integer and oracle-replayable.
  */
object Wave38 {

  private val CoreK = 8
  private val Dim = 64
  private val ShapK = 5

  /** Gonzalez (1985) greedy k-center coreset over the embedding
    * corpus in exact fx arithmetic: seed = lowest vec_id, then K-1
    * rounds of "select the point farthest from the selected set"
    * (squared fx distance, ties to the lowest vec_id). Output is the
    * selected coreset with each point's selection round and its
    * distance-to-set at selection — the classic 2-approximation to
    * the k-center cover, and the diverse-subset primitive under
    * "pick K representative documents per bucket" curation passes.
    *
    * Shape at 100TB: the corpus is never shuffled — each round is one
    * narrow map (min distance against the <= K-vector driver state,
    * compiled closure like [[graft.ml.KMeansFx]]) plus a TakeOrdered(1);
    * driver state is K x dim longs. K sequential passes is the
    * canonical distributed Gonzalez.
    */
  val sampleCoreset: Q = {
    // Every per-round CTE is AS MATERIALIZED: DuckDB otherwise INLINES
    // each reference, and mm_r / c_r are referenced twice per round —
    // the 2^R plan-blowup shape (see CLAUDE.md; q_markov_absorption hit
    // it even at a single reference per round). pts is read 2x per
    // round and c1 twice overall, so they materialize too.
    def distCte(r: Int, centerCte: String): String =
      s"""dd$r AS MATERIALIZED (SELECT p.vec_id, CAST(SUM((p.v - t.v) * (p.v - t.v)) AS BIGINT) AS d2
         |  FROM pts p JOIN (SELECT q.i, q.v FROM pts q, $centerCte c
         |    WHERE q.vec_id = c.cid) t ON p.i = t.i
         |  GROUP BY p.vec_id)""".stripMargin
    val rounds = (2 to CoreK).map { r =>
      val mins =
        if (r == 2) s"mm2 AS MATERIALIZED (SELECT vec_id, d2 FROM dd2)"
        else s"""mm$r AS MATERIALIZED (SELECT m.vec_id, LEAST(m.d2, d.d2) AS d2
                |  FROM mm${r - 1} m JOIN dd$r d USING (vec_id))""".stripMargin
      s"""${distCte(r, if (r == 2) "c1" else s"c$r")},
         |$mins,
         |c${r + 1} AS MATERIALIZED (SELECT vec_id AS cid, d2 FROM mm$r
         |  ORDER BY d2 DESC, vec_id LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val readout = (Seq(s"SELECT 1 AS round, cid AS vec_id, d2 FROM c1") ++
      (2 to CoreK).map(r => s"SELECT $r, cid, d2 FROM c${r + 1}"))
      .mkString("\nUNION ALL ")
    Q(
      "q_sample_coreset",
      s"""WITH pts AS MATERIALIZED (SELECT vec_id, i,
         |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS v
         |  FROM embeddings, (SELECT unnest(range(1, ${Dim + 1})) AS i) p),
         |c1 AS MATERIALIZED (SELECT MIN(vec_id) AS cid, CAST(0 AS BIGINT) AS d2 FROM pts),
         |$rounds
         |SELECT CAST(round AS BIGINT) AS round, vec_id, d2 FROM (
         |$readout) t ORDER BY round""".stripMargin) { (s, d) =>
      val np = Session.partitions(s)
      val pts = Tables.load(s, d, "embeddings").repartition(np)
        .select(col("vec_id"), col("embedding"))
      // the same float->double->*1e6->floor chain as KMeansFx/pts CTE
      def fx(v: Seq[Float]): Array[Long] =
        v.map(x => math.floor(x.toDouble * 1e6).toLong).toArray
      val seedId = pts.agg(min("vec_id")).collect()(0).getLong(0)
      val seedVec = fx(pts.filter(col("vec_id") === seedId)
        .collect()(0).getSeq[Float](1))
      val centers = scala.collection.mutable.ArrayBuffer(seedVec)
      val out = scala.collection.mutable.ArrayBuffer((1L, seedId, 0L))
      for (r <- 2 to CoreK) {
        val cs = centers.toArray
        val minD = udf { v: Seq[Float] =>
          val p = fx(v)
          var best = Long.MaxValue
          var j = 0
          while (j < cs.length) {
            val c = cs(j)
            var dd = 0L; var i = 0
            while (i < p.length) { val t = p(i) - c(i); dd += t * t; i += 1 }
            if (dd < best) best = dd
            j += 1
          }
          best
        }
        val far = pts
          .select(col("vec_id"), col("embedding"), minD(col("embedding")).as("d2"))
          .orderBy(col("d2").desc, col("vec_id")).limit(1).collect()(0)
        centers += fx(far.getSeq[Float](1))
        out += ((r.toLong, far.getLong(0), far.getLong(2)))
      }
      import s.implicits._
      out.toSeq.toDF("round", "vec_id", "d2").orderBy("round")
    }
  }

  /** Exact KNN-Shapley data valuation (Jia et al., VLDB 2019): under
    * the K-nearest-neighbor utility, each training point's Shapley
    * value per test probe has the closed form
    *   s_N = 1[y_N = y] / N
    *   s_j = s_{j+1} + (1[y_j = y] - 1[y_{j+1} = y]) / K * min(K, j) / j
    * over training points ranked nearest-first (exact fx dot product
    * descending, vec_id ascending). Computed in truncating nano units
    * so both engines agree bit-for-bit; the readout is the top-20
    * most valuable training points by total value across all probes —
    * the "which examples to keep when the data budget shrinks"
    * primitive.
    *
    * Shape at 100TB: probes broadcast against the never-shuffled
    * corpus (the q_knn_classify posture); the recursion is ONE
    * reverse-cumulative window per probe partition (the telescoped
    * closed form — no iteration); the final aggregate is keyed by
    * training point. The IVF index swaps in for the brute-force
    * ranking at billion-vector scale with the valuation window
    * unchanged.
    */
  val knnShapley: Q = Q(
    "q_knn_shapley",
    s"""WITH ${DedupSim.compSql},
       |pr AS (SELECT vec_id AS probe_id, label AS plabel FROM e
       |  WHERE vec_id % 100 = 7),
       |dots AS (SELECT p.probe_id, a.vec_id,
       |    CAST(SUM(CAST(FLOOR(a.v * q.v * 1e15) AS BIGINT)) AS BIGINT) AS dotfx
       |  FROM comp a JOIN pr p ON a.vec_id % 100 <> 7
       |  JOIN comp q ON q.vec_id = p.probe_id AND q.i = a.i
       |  GROUP BY 1, 2),
       |lab AS (SELECT d.probe_id, d.vec_id, d.dotfx,
       |    CASE WHEN e.label = p2.plabel THEN 1 ELSE 0 END AS ind
       |  FROM dots d JOIN e ON e.vec_id = d.vec_id
       |  JOIN pr p2 ON p2.probe_id = d.probe_id),
       |rk AS (SELECT probe_id, vec_id, ind,
       |    ROW_NUMBER() OVER w AS rk,
       |    COUNT(*) OVER (PARTITION BY probe_id) AS n,
       |    LEAD(ind) OVER w AS ind_next
       |  FROM lab WINDOW w AS (PARTITION BY probe_id ORDER BY dotfx DESC, vec_id)),
       |t AS (SELECT probe_id, vec_id, rk,
       |    CASE WHEN rk < n THEN (ind - ind_next) * LEAST($ShapK, rk)
       |      * 1000000000 // ($ShapK * rk) ELSE 0 END AS tm,
       |    CASE WHEN rk = n THEN ind * 1000000000 // n ELSE 0 END AS base_part
       |  FROM rk),
       |s AS (SELECT probe_id, vec_id,
       |    SUM(tm) OVER (PARTITION BY probe_id ORDER BY rk DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |    + SUM(base_part) OVER (PARTITION BY probe_id) AS shap_nano
       |  FROM t)
       |SELECT s.vec_id, e.label,
       |  CAST(SUM(s.shap_nano) AS BIGINT) AS shap_nano_total,
       |  CAST(COUNT(*) AS BIGINT) AS n_probes
       |FROM s JOIN e ON e.vec_id = s.vec_id
       |GROUP BY 1, 2 ORDER BY shap_nano_total DESC, s.vec_id
       |LIMIT 20""".stripMargin) { (s, d) =>
    import graft.ml.Embeddings.fxDot
    val np = Session.partitions(s)
    val emb = Tables.load(s, d, "embeddings")
    val probes = emb.filter(col("vec_id") % 100 === 7)
      .select(col("vec_id").as("probe_id"), col("label").as("plabel"),
        col("embedding").as("pemb"))
    val train = emb.filter(col("vec_id") % 100 =!= 7)
      .select(col("vec_id"), col("label"), col("embedding"))
      .repartition(np)
    val w = Window.partitionBy("probe_id")
      .orderBy(col("dotfx").desc, col("vec_id"))
    val ranked = train.crossJoin(broadcast(probes))
      .select(col("probe_id"), col("vec_id"), col("label"),
        when(col("label") === col("plabel"), 1).otherwise(0).as("ind"),
        fxDot(col("embedding"), col("pemb")).as("dotfx"))
      .withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("probe_id")))
      .withColumn("ind_next", lead(col("ind"), 1).over(w))
    val terms = ranked.select(col("probe_id"), col("vec_id"), col("label"),
      col("rk"),
      expr(s"""CASE WHEN rk < n THEN CAST(ind - ind_next AS BIGINT)
              |  * least(CAST($ShapK AS BIGINT), CAST(rk AS BIGINT))
              |  * 1000000000L div (${ShapK}L * rk) ELSE 0L END""".stripMargin)
        .as("tm"),
      expr("CASE WHEN rk = n THEN CAST(ind AS BIGINT) * 1000000000L div n " +
        "ELSE 0L END").as("base_part"))
    val svals = terms.select(col("probe_id"), col("vec_id"), col("label"),
      (sum("tm").over(Window.partitionBy("probe_id").orderBy(col("rk").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        + sum("base_part").over(Window.partitionBy("probe_id")))
        .as("shap_nano"))
    svals.groupBy("vec_id", "label")
      .agg(sum("shap_nano").as("shap_nano_total"),
        count(lit(1)).as("n_probes"))
      .orderBy(col("shap_nano_total").desc, col("vec_id"))
      .limit(20)
  }

  val all: Seq[Q] = Seq(sampleCoreset, knnShapley)
}
