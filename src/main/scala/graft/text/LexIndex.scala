package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Session

/** Persisted inverted text index — build once, serve many: the lexical
  * counterpart of [[graft.ml.Pq.writeIvfPqIndex]]. The postings table
  * (term, doc_id, w) is written PARTITIONED BY a term-hash bucket, so
  * a query's terms prune to their buckets at the FILE level — the
  * on-disk analog of walking only the query's posting lists (exactly
  * how `codes` partitioned by IVF cell serves the dense index). The
  * weights are the same exact integers as q_sparse_cosine
  * (w = tf · (100000 // df)), and the per-doc squared norms persist
  * alongside, so serving never re-tokenizes the corpus.
  *
  * Shape at 100TB: the build is one tokenize + two aggregates (the
  * q_sparse_cosine front half); serving reads only nq of the
  * [[Buckets]] posting partitions, joins the tiny query-weight frame
  * broadcast, and group-limits to k — corpus work proportional to the
  * query's posting lists, not the corpus.
  */
object LexIndex {

  val Buckets = 64

  private def postings(docs: DataFrame, idCol: String, textCol: String)
      : (DataFrame, DataFrame) = {
    val tf = Text.tokenRows(docs.repartition(Session.partitions(docs.sparkSession)),
        col(textCol), "term", col(idCol).as("doc_id"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val post = tf.join(df, "term")
      .select(col("doc_id"), col("term"),
        (col("tf") * expr("100000 div df")).as("w"))
    (post, post.groupBy("doc_id").agg(sum(col("w") * col("w")).as("n2")))
  }

  /** Write the index: `postings` partitioned by term-hash bucket plus
    * the `norms` side table. */
  def writeIndex(
      docs: DataFrame, idCol: String, textCol: String, dir: String): Unit = {
    val (post, norms) = postings(docs, idCol, textCol)
    post.withColumn("bucket", pmod(xxhash64(col("term")), lit(Buckets)))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$dir/postings")
    norms.write.mode("overwrite").parquet(s"$dir/norms")
  }

  /** Serve a bag-of-terms query from the persisted index: top-k docs
    * by the exact integer cos² ranking key of q_sparse_cosine
    * (num²·10⁹ div (nq·nd)). Only the query terms' buckets are read
    * (PartitionFilters — [[prunes]] asserts it). */
  def search(
      spark: SparkSession, dir: String, terms: Map[String, Long], k: Int)
      : DataFrame = {
    import spark.implicits._
    val q = terms.toSeq.toDF("term", "wq")
      .withColumn("bucket", pmod(xxhash64(col("term")), lit(Buckets)))
    val wantedBuckets = q.select("bucket").as[Long].collect().toSet.toSeq
    val nq = terms.values.map(w => w * w).sum
    val post = spark.read.parquet(s"$dir/postings")
      .filter(col("bucket").isin(wantedBuckets: _*))
    val norms = spark.read.parquet(s"$dir/norms")
    val scored = post.join(broadcast(q.select("term", "wq")), "term")
      .groupBy("doc_id")
      .agg(sum(col("wq") * col("w")).as("num"))
      .join(norms, "doc_id")
      .select(col("doc_id"), col("num"),
        expr(s"""CAST(CAST(num AS DECIMAL(38,0)) * CAST(num AS DECIMAL(38,0))
                |     * 1000000000
                |     div (CAST($nq AS DECIMAL(38,0)) * CAST(n2 AS DECIMAL(38,0)))
                |     AS BIGINT)""".stripMargin).as("sim2_e9"))
    graft.ops.TopK.perGroup(
      scored.withColumn("__g", lit(1)),
      partitionBy = Seq(col("__g")),
      orderBy = Seq(col("sim2_e9").desc, col("doc_id").asc),
      k = k, rankCol = "rank")
      .select("rank", "doc_id", "num", "sim2_e9")
      .orderBy("rank")
  }

  /** True when the served scan actually pruned to the query buckets. */
  def prunes(df: DataFrame): Boolean = {
    val plan = df.queryExecution.executedPlan.toString
    plan.contains("PartitionFilters") && {
      val pf = plan.split("PartitionFilters:")(1).split("]")(0)
      pf.contains("bucket")
    }
  }
}
