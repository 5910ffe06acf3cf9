package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.plans.FxLog2

/** BM25 lexical retrieval (Robertson/Spärck Jones probabilistic
  * relevance framework; the Okapi BM25 formulation with the standard
  * k1/b parameters) over a tokenized document corpus.
  *
  * Shape at 100TB: the query-term set is a literal IN-list, so the
  * per-token filter collapses the exploded token stream to query-term
  * hits before any shuffle; (doc, term) tf aggregates with map-side
  * combine; corpus stats (N, avgdl) and per-term document frequencies
  * are single-row / query-term-sized frames joined by broadcast — the
  * corpus itself shuffles once, keyed by doc, and the final top-k is
  * TakeOrderedAndProject (heap per partition, no global sort
  * materialization).
  *
  * No DuckDB oracle by design: ln() is not bit-stable across engine
  * libms (see CLAUDE.md cross-engine rules); Bm25Spec checks the
  * scores against an independent in-test computation instead.
  */
object Bm25 {

  /** Top-k docs for `terms`, scored sum_t idf(t) * tf*(k1+1) /
    * (tf + k1*(1-b + b*dl/avgdl)), idf(t) = ln(1 + (N-df+0.5)/(df+0.5)).
    * Output: (idCol, score, n_terms_hit), score descending, id
    * tiebreak.
    */
  def topK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String],
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val toks = docs.select(col(idCol), Text.tokens(col(textCol)).as("toks"))
    val withDl = toks.select(col(idCol), col("toks"),
      size(col("toks")).cast("double").as("dl"))

    // corpus stats: one row, broadcast everywhere
    val stats = withDl.agg(
      count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))

    // (doc, term) -> tf, only for query terms (filter before shuffle)
    val tf = withDl
      .select(col(idCol), col("dl"), explode(col("toks")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))

    // per-term document frequency: at most terms.size rows
    val df = tf.groupBy("term")
      .agg(countDistinct(col(idCol)).cast("double").as("df"))

    tf.join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("w",
        col("idf") * (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(col(idCol))
      .agg(sum(col("w")).as("score"), count(lit(1)).as("n_terms_hit"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** BM25 top-k in EXACT integer fixed-point — the hash-matchable
    * formulation. Same ranking model as [[topK]] with k1=1.2, b=0.75,
    * but every quantity is a 64-bit integer:
    *
    *   idf2(t)    = fxlog2(2N+2) - fxlog2(2df+1)          (F=30 bits)
    *                [ ln(1 + (N-df+.5)/(df+.5)) = ln((2N+2)/(2df+1));
    *                  scores stay in log2 units — a constant ln(2)
    *                  factor that cannot change the ranking ]
    *   dlr20      = floor(dl * N * 2^20 / SD)             (dl/avgdl)
    *   tfnorm20   = floor(22*tf * 2^40 /
    *                      ((10*tf + 3) * 2^20 + 9*dlr20)) (F=20 bits)
    *                [ tf*(k1+1)/(tf + k1*(1-b) + k1*b*dl/avgdl) with
    *                  k1=6/5, b=3/4 cleared to integers by 10*2^20 ]
    *   w          = floor(idf2 * tfnorm20 / 2^20)
    *   score_fx   = SUM(w)  per doc                        (F=30 bits)
    *
    * Every division is a single exact integer division of exact
    * integers and fxlog2 is [[graft.plans.FxLog2]] — so the score
    * replays bit-for-bit in DuckDB (30-step recursive-CTE fxlog2),
    * unlike the double-precision [[topK]] whose ln() is libm-bound.
    * Overflow headroom (documented worst cases): dl*N*2^20 and
    * 22*tf*2^40 and idf2*tfnorm20 all < 2^60 for corpora up to ~10^9
    * docs of ~10^4 tokens with tf ≤ dl ≤ 10^4.
    *
    * Shape at 100TB: identical to [[topK]] — filter-before-shuffle on
    * the literal term list, broadcast df/stats, one corpus shuffle,
    * TakeOrderedAndProject top-k.
    */
  def topKFx(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String],
      k: Int): DataFrame = {
    val toks = docs.select(col(idCol), Text.tokens(col(textCol)).as("toks"))
    val withDl = toks.select(col(idCol), col("toks"),
      size(col("toks")).cast("long").as("dl"))

    val stats = withDl.agg(
      count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))

    val tf = withDl
      .select(col(idCol), col("dl"), explode(col("toks")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))

    val idf = tf.groupBy("term")
      .agg(countDistinct(col(idCol)).as("df"))
      .crossJoin(broadcast(stats))
      .select(col("term"),
        (FxLog2.column(col("n_docs") * 2L + 2L) -
          FxLog2.column(col("df") * 2L + 1L)).as("idf2"))

    tf.join(broadcast(idf), "term")
      .crossJoin(broadcast(stats))
      .withColumn("dlr20", expr("dl * n_docs * 1048576 div sum_dl"))
      .withColumn("tfnorm20", expr(
        "22 * tf * 1099511627776 div ((10 * tf + 3) * 1048576 + 9 * dlr20)"))
      .withColumn("w", expr("idf2 * tfnorm20 div 1048576"))
      .groupBy(col(idCol))
      .agg(sum(col("w")).as("score_fx"), count(lit(1)).as("n_terms_hit"))
      .orderBy(col("score_fx").desc, col(idCol))
      .limit(k)
  }
}
