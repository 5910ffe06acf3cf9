package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Session

/** Exact cross-document substring dedup at ARBITRARY alignment — the
  * "Deduplicating Training Data Makes Language Models Better"
  * (arXiv 2107.06499) primitive: maximal repeated substrings between
  * document pairs, substring-level where passage mining is
  * chunk-aligned.
  *
  * Pipeline (all content-based, offset-independent):
  *   1. winnow anchors WITH positions ([[graft.text.Winnow.anchors]]):
  *      a substring shared by two docs selects the SAME anchor k-grams
  *      in both, wherever it sits;
  *   2. df-capped inverted index on anchor hash (hot boilerplate
  *      anchors excluded — the shingle-df-cap pattern);
  *   3. candidate (pair, diagonal) groups, diagonal = pos_a - pos_b;
  *      a true match of length L contains ⌊(L-k+1-2(w-1))/w⌋ disjoint
  *      interior winnow windows whose picks align on one diagonal, so
  *      `minSupport = 2` is guarantee-safe whenever
  *      minLen >= 4w + k - 3 (21 at the k=8/w=4 defaults; the 25
  *      default clears it) and prunes single-gram coincidences before
  *      any text is moved;
  *   4. one verified maximal char-walk extension per diagonal from its
  *      first shared anchor (a 64-bit hash collision fails the k-gram
  *      verification and reports nothing).
  *
  * Scale shape: anchor kernel is a compiled narrow pass; one shuffle
  * on anchor hash feeds the merge-hinted self-join from a single
  * reused exchange; one groupBy on (pair, diagonal); texts are joined
  * only for diagonals that survive the support filter. No all-pairs
  * stage anywhere.
  *
  * The q_dedup_substring DuckDB oracle replays this chain end-to-end
  * (HUGEINT rolling hash, packed rightmost-min winnow, df cap, support
  * filter, correlated MAX-over-range extension) — its constants are
  * the DEFAULTS here; change one and the other must follow.
  */
object Substring {

  /** Maximal repeated spans between documents of `docs`:
    * (doc_a, doc_b, start_a, start_b, match_len, match_md5) with
    * doc_a < doc_b and 1-based starts. One span per (pair, diagonal),
    * anchored at the diagonal's first shared winnow pick. */
  def repeatedSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      w: Int = 4,
      dfCap: Int = 64,
      minSupport: Int = 2,
      minLen: Int = 25): DataFrame = {
    val d = docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    // compiled anchor kernel behind repartition: a single-file input
    // would otherwise run the whole pass on one core
    val anch = d
      .repartition(Session.partitions(docs.sparkSession))
      .select(col("doc_id"),
        explode(graft.text.Winnow.anchorUdf(k, w)(col("text"))).as("a"))
      .select(col("doc_id"), col("a._1").as("p"), col("a._2").as("h"))
    val hot = anch.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select("h")
    val idx = anch.join(broadcast(hot), Seq("h"), "left_anti")
    // merge hints: one reused exchange feeds both sides of the
    // anchor-hash self-join (the Jaccard-join lore)
    val candA = idx.select(col("h"), col("doc_id").as("da"), col("p").as("pa"))
      .hint("merge")
    val candB = idx.select(col("h").as("hb"), col("doc_id").as("db"), col("p").as("pb"))
      .hint("merge")
    val diag = candA
      .join(candB, col("h") === col("hb") && col("da") < col("db"))
      .groupBy(col("da"), col("db"), (col("pa") - col("pb")).as("dg"))
      .agg(min(col("pa")).as("pa"), count(lit(1)).as("sup"))
      .filter(col("sup") >= minSupport)
      .select(col("da"), col("db"), col("pa"), (col("pa") - col("dg")).as("pb"))
    diag
      .join(d.select(col("doc_id").as("da"), col("text").as("xa")), Seq("da"))
      .join(d.select(col("doc_id").as("db"), col("text").as("xb")), Seq("db"))
      .withColumn("bf", extendUdf(k)(col("xa"), col("pa"), col("xb"), col("pb")))
      .filter(col("bf").isNotNull)
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        (col("pa") - col("bf._1")).as("start_a"),
        (col("pb") - col("bf._1")).as("start_b"),
        (col("bf._1") + k + col("bf._2")).as("match_len"),
        col("xa"))
      .filter(col("match_len") >= minLen)
      .withColumn("match_md5",
        md5(expr("substring(xa, cast(start_a as int), cast(match_len as int))")))
      .drop("xa")
  }

  /** (back, fwd) maximal extension around the 1-based anchors, or null
    * when the k-gram itself fails verification (64-bit hash collision). */
  private def extendUdf(k: Int) = udf {
    (xa: String, paL: Long, xb: String, pbL: Long) =>
      val pa = paL.toInt; val pb = pbL.toInt
      if (!xa.regionMatches(pa - 1, xb, pb - 1, k)) null
      else {
        var back = 0
        while (pa - 1 - back > 0 && pb - 1 - back > 0 &&
          xa.charAt(pa - 2 - back) == xb.charAt(pb - 2 - back)) back += 1
        var fwd = 0
        while (pa - 1 + k + fwd < xa.length && pb - 1 + k + fwd < xb.length &&
          xa.charAt(pa - 1 + k + fwd) == xb.charAt(pb - 1 + k + fwd)) fwd += 1
        (back.toLong, fwd.toLong)
      }
  }
}
