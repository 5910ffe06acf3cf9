package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.{Session, Tables}
import graft.ops.{BoundedWindow, SharedFrames, TopK}
import graft.text.Text

/** The retrieval-eval family's shared subplans, materialized once per
  * suite run via [[graft.ops.SharedFrames]].
  *
  * Three queries consume the SAME two expensive frames —
  * `q_retrieval_ndcg` (sparse top-10 vs dense top-10),
  * `q_hybrid_rrf` (sparse top-20 fused with dense top-20) and
  * `q_sparse_cosine` (the sparse scorer over its own probe set) — and
  * built per consumer, each would rebuild the full tf-idf index and/or
  * the exact dense scoring from scratch. Now:
  *
  *  - [[docvecs]] — the dense per-doc tf-idf weight-vector index
  *    (doc_id, v, n2) behind [[TextQueries.sparseSims]]: built once,
  *    shared by every sparse consumer regardless of probe set;
  *  - [[sparseTop20]] — the exact-integer sparse ranking, top-20 per
  *    %100 probe, consumed at rs<=10 by NDCG and rs<=20 by RRF;
  *  - [[denseTop20]] — the exact dense-cosine brute-force ranking
  *    (the eval ground truth; probe-sampled so the quadratic term is
  *    N·N/100 — computed ONCE per suite now), top-20 per %100 probe,
  *    consumed at rd<=10 by NDCG and rd<=20 by RRF.
  *
  * Filtering a deeper shared ranking to a shallower k yields rows
  * identical to ranking at that k directly (row_number over the same
  * total order), so every consumer's hash is unchanged by the sharing.
  */
object RetrievalShared {

  /** Vocabulary size (distinct terms) — driver scalar, dictionary-
    * bounded. Reads the materialized [[tfFrame]], not its own corpus
    * pass (vsize and the two tf references inside docvecs would
    * otherwise be three full explode+aggregate passes over the corpus). */
  def vsize(s: SparkSession, d: String): Int =
    SharedFrames.value[Long](s, d, "vsize") {
      tfFrame(s, d).select("term").distinct().count()
    }.toInt

  /** (doc_id, term, tf) — THE single corpus-wide pass of the sparse
    * family, materialized once per (dir). docvecs references it twice
    * (df branch + join side) and vsize once; without the shared
    * materialization each reference re-ran the corpus explode +
    * aggregate (guide §1.2: don't recompute what you already have). */
  private def tfFrame(s: SparkSession, d: String): DataFrame =
    SharedFrames.frame(s, d, "tf") {
      Text.tokenRows(
          Tables.load(s, d, "documents").repartition(Session.partitions(s)),
          col("text"), "term", col("doc_id"))
        .groupBy("doc_id", "term")
        .agg(count(lit(1)).as("tf"))
    }

  /** Compiled dense-vector fold: (idx, w) pairs -> the length-n dense
    * weight array with zeros elsewhere. Value-identical to the HOF
    * formulation it replaced (transform(sequence(0, n-1),
    * i -> coalesce(element_at(map, i), 0)) over map_from_entries):
    * every idx is unique per doc and lives in [0, n), so positional
    * stores and map lookups build the same array. One compiled pass
    * per doc instead of n interpreted element_at probes (HOF lambdas
    * evaluate interpreted — the repo's measured ~10x lore); pinned by
    * RetrSharedSpec. */
  private[graft] def denseFoldUdf(n: Int) =
    udf { (pairs: Seq[org.apache.spark.sql.Row]) =>
      val a = new Array[Long](n)
      val it = pairs.iterator
      while (it.hasNext) {
        val r = it.next()
        a(r.getInt(0)) = r.getLong(1)
      }
      a.toSeq
    }

  /** The dense per-doc weight-vector index: (doc_id, v array<long>,
    * n2). One corpus shuffle to tf, one to the vector fold; weights
    * are the exact integers w = tf * (100000 div df). Materialized
    * once per (dir); the 32-partition shape survives the checkpoint,
    * so downstream scoring stays parallel (no AQE single-partition
    * coalesce of the fan-out stage). */
  def docvecs(s: SparkSession, d: String): DataFrame =
    SharedFrames.frame(s, d, "docvecs") {
      val n = vsize(s, d)
      val tf = tfFrame(s, d)
      val dfq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val dict = dfq.select(col("term"),
        (row_number().over(BoundedWindow.single(col("term"))) - 1).as("idx"))
      tf.join(broadcast(dict.join(dfq, "term")), "term")
        .select(col("doc_id"), col("idx"),
          (col("tf") * expr("100000 div df")).as("w"))
        .groupBy("doc_id")
        .agg(collect_list(struct(col("idx"), col("w"))).as("iw"),
          sum(col("w") * col("w")).as("n2"))
        .select(col("doc_id"), denseFoldUdf(n)(col("iw")).as("v"),
          col("n2"))
    }

  /** Exact-integer sparse cos² similarities for a probe set — the
    * scoring stage over the shared [[docvecs]] index.
    *
    * Dense-adjacency scoring rationale: this corpus's
    * vocabulary is 31 terms with df ~ 80% of N, so EVERY (probe, doc)
    * pair shares terms — the inverted-index candidate join (kept as
    * the oracle's shape) would materialize the same Q x N pairs 31
    * rows at a time (5-10s at sf0.1). Instead each doc folds to one
    * dense weight vector and pairs score through the codegen
    * graft_fxsqdist kernel via the polarization identity
    * dot = (na + nb - |a-b|²) / 2 — exact integers, no string keys
    * (1.7s). Zero-dot pairs are filtered, which is exactly the
    * candidate set the inverted join yields, so the formulations are
    * row-equal by construction. At a natural vocabulary the
    * posting-list join is the scale path; the crossover is corpus
    * density, and this comment is the contract. */
  def sparseSims(s: SparkSession, d: String, probeMod: Long): DataFrame = {
    val docvec = docvecs(s, d)
    val qvec = docvec.filter(col("doc_id") % probeMod === 0)
      .select(col("doc_id").as("probe_id"), col("v").as("qv"),
        col("n2").as("na"))
    docvec.crossJoin(broadcast(qvec))
      .filter(col("doc_id") =!= col("probe_id"))
      .select(col("probe_id"), col("doc_id"), col("na"), col("n2").as("nb"),
        expr("(na + n2 - graft_fxsqdist(v, qv)) div 2").as("num"))
      .filter(col("num") > 0)
      .select(col("probe_id"), col("doc_id"),
        expr("""CAST(CAST(num AS DECIMAL(38,0)) * CAST(num AS DECIMAL(38,0))
               |     * 1000000000
               |     div (CAST(na AS DECIMAL(38,0)) * CAST(nb AS DECIMAL(38,0)))
               |     AS BIGINT)""".stripMargin).as("sim2_e9"))
  }

  /** Sparse ranking, top-20 per %100 probe: (probe_id, doc_id, rs). */
  def sparseTop20(s: SparkSession, d: String): DataFrame =
    SharedFrames.frame(s, d, "sparse_top20") {
      TopK.perGroup(sparseSims(s, d, probeMod = 100L),
        partitionBy = Seq(col("probe_id")),
        orderBy = Seq(col("sim2_e9").desc, col("doc_id").asc),
        k = 20, rankCol = "rs")
        .select(col("probe_id"), col("doc_id"), col("rs"))
    }

  /** Exact dense-cosine ranking (fxDot fixed point), top-20 per %100
    * probe: (probe_id, vec_id, rd). The probe-sampled brute force is
    * the eval GROUND TRUTH (the production lane is the ANN family) —
    * and it is the suite's quadratic term, which is exactly why it is
    * computed once and shared. */
  def denseTop20(s: SparkSession, d: String): DataFrame =
    SharedFrames.frame(s, d, "dense_top20") {
      import graft.ml.Embeddings.fxDot
      val withNorm = Tables.load(s, d, "embeddings")
        .repartition(Session.partitions(s))
        .withColumn("nrm",
          sqrt(fxDot(col("embedding"), col("embedding")).cast(DoubleType) / 1e15))
      val probes = withNorm.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("probe_id"), col("embedding").as("ep"),
          col("nrm").as("nrm_p"))
      val scored = withNorm
        .join(broadcast(probes), col("vec_id") =!= col("probe_id"))
        .withColumn("dot",
          fxDot(col("embedding"), col("ep")).cast(DoubleType) / 1e15)
        .withColumn("cosine", col("dot") / (col("nrm") * col("nrm_p")))
      TopK.perGroup(scored,
        partitionBy = Seq(col("probe_id")),
        orderBy = Seq(col("cosine").desc, col("vec_id").asc),
        k = 20, rankCol = "rd")
        .select(col("probe_id"), col("vec_id"), col("rd"))
    }
}
