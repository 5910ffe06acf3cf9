package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.text.Text

/** Batch-vs-corpus dedup verdicts — the production posture at 100TB: a
  * (small) new batch is probed against the EXISTING corpus index,
  * never corpus-vs-corpus. Exact tier matches on the canonical content
  * fingerprint ([[contentFingerprint]]); near tier is the [[MinHash]]
  * operator's batch-vs-corpus probe (shared LSH band, exact Jaccard
  * >= 0.5); exact takes precedence; every new doc gets a verdict row.
  *
  * Shape: the corpus's fingerprint + band index is a write-once
  * artifact; the batch joins the band index (AQE broadcasts it while it
  * fits) and only verified candidates fetch shingle arrays — the corpus
  * is never rescanned, never self-joined, nothing quadratic leaves a
  * band bucket.
  *
  * This is the engine behind BOTH q_dedup_incremental (whose DuckDB
  * oracle replays the fingerprint and the [[MinHash.oracleCtes]]
  * signature chain) and the streaming [[graft.streaming.Streams]]
  * verdict sink, which applies it per micro-batch against a static
  * corpus.
  */
object Incremental {

  /** Canonical content fingerprint of a token array: md5 of the sorted
    * distinct tokens joined with '|' — case/whitespace/word-order
    * insensitive (raw byte-identity is a strictly weaker prefilter);
    * null for a token-less doc. */
  def contentFingerprint(toks: Column): Column =
    when(size(toks) > 0,
      md5(array_join(sort_array(array_distinct(toks)), "|").cast("binary")))

  /** One (doc_id, verdict, dup_of) row per `newDocs` row, judged
    * against `corpus`. Both frames need (doc_id, text). */
  def verdicts(newDocs: DataFrame, corpus: DataFrame): DataFrame = {
    val nw = MinHash.shingled(newDocs)
    val old = MinHash.shingled(corpus)
    def fp(df: DataFrame): DataFrame =
      df.select(col("doc_id"), contentFingerprint(Text.tokens(col("text"))).as("fp"))
    val exact = fp(nw)
      .join(fp(old).toDF("old_id", "fp"), "fp")
      .groupBy("doc_id").agg(min(col("old_id")).as("dup_of_exact"))
    def nonEmpty(df: DataFrame): DataFrame = df.filter(size(col("shs")) > 0)
    val near = MinHash.nearMatches(nonEmpty(nw), nonEmpty(old))
      .groupBy(col("new_id").as("doc_id"))
      .agg(min(col("old_id")).as("dup_of_near"))
    nw.select("doc_id")
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("dup_of_exact").isNotNull, "exact_dup")
          .when(col("dup_of_near").isNotNull, "near_dup")
          .otherwise("unique").as("verdict"),
        coalesce(col("dup_of_exact"), col("dup_of_near")).as("dup_of"))
  }
}
