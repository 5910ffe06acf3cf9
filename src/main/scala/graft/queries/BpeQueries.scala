package graft.queries

import org.apache.spark.sql.functions._
import graft.{Q, Session, Tables}
import graft.ops.SharedFrames
import graft.text.{Bpe, Text}

/** Tokenizer training AND application over `documents` — the BPE steps
  * of an LLM data pipeline (see [[graft.text.Bpe]] for the scale
  * argument: one corpus shuffle to word counts, then K driver-iterated
  * rounds over the compact vocab with chain depth bounded by
  * materialization, Sennrich et al. arXiv 1508.07909).
  *
  * All three queries consume ONE suite-level `Bpe.train` run
  * (memoized via [[graft.ops.SharedFrames.value]], so the corpus
  * shuffle and the K argmax rounds run once, not once per query) and
  * share the same generated oracle
  * CTE chain, so the learned merges, the resulting vocabulary and the
  * corpus encoding cannot drift from each other or from the oracle.
  * The memoized state is driver-bounded by construction (K merge rows
  * and <= |alphabet|+K vocab symbols); the training caches are
  * released inside the build, so nothing persisted outlives it.
  */
object BpeQueries {

  /** Merge rounds to learn. Plenty of pairs remain at every SF (the
    * corpus vocabulary is word-shaped, max symbol runway ~9 per word);
    * `Bpe.train` fails loudly if the corpus ever exhausts pairs. */
  val K = 8

  /** One training run per suite: the learned merges plus the collected
    * vocabulary aggregate (sym, occurrences, n_words) in its output
    * order. Both are bounded driver values, so the memo is cheap to
    * hold; the vocab aggregate collects BEFORE release because the
    * symbolized vocab relation dies with the training caches. */
  private def trained(s: org.apache.spark.sql.SparkSession, d: String)
      : (Seq[Bpe.Merge], Seq[(String, Long, Long)]) =
    SharedFrames.value(s, d, "bpe_trained") {
      val t = Bpe.train(s, d, K)
      import s.implicits._
      val vocabRows = t.vocab
        .select(col("w"), col("freq"), explode(col("syms")).as("sym"))
        .groupBy("sym")
        .agg(sum("freq").as("occurrences"),
          countDistinct("w").as("n_words"))
        .orderBy(col("occurrences").desc, col("sym").asc)
        .as[(String, Long, Long)].collect().toSeq
      t.release()
      (t.merges, vocabRows)
    }

  /** Test hook (PlanShapeSpec): exposes the memoized training result so
    * one-build-per-suite is assertable by reference equality. */
  private[graft] def trainedForTest(
      s: org.apache.spark.sql.SparkSession, d: String)
      : (Seq[Bpe.Merge], Seq[(String, Long, Long)]) = trained(s, d)

  /** The learned merge table: (step, x, y, pair count at selection,
    * corpus tokens after applying it) — the tokenizer artifact itself,
    * K rows built from the per-round argmax collects. */
  val bpeMerges: Q = Q("q_bpe_merges", Bpe.mergesOracle(K)) { (s, d) =>
    val (merges, _) = trained(s, d)
    import s.implicits._
    merges.toDF("step", "x", "y", "cnt", "toks").orderBy("step")
  }

  /** The post-training symbol vocabulary with corpus occurrence counts
    * and word support — the "what tokens did we learn" audit view.
    * The aggregate is bounded by construction (<= |alphabet| + K
    * symbols exist after K merges), so it is collected before the
    * caches are released and returned as a local relation. */
  val bpeVocab: Q = Q("q_bpe_vocab", Bpe.vocabOracle(K)) { (s, d) =>
    val (_, vocabRows) = trained(s, d)
    import s.implicits._
    vocabRows.toDF("sym", "occurrences", "n_words")
  }

  /** Tokenizer APPLICATION: encode every document with the learned
    * merge table — doc -> token sequence + counts, the step a
    * training-data pipeline actually ships. The K learned pairs travel
    * in the UDF closure (broadcast semantics); encoding is map-side
    * only — no join, no shuffle, at any corpus scale. Docs with zero
    * filter-surviving words are dropped on both sides (the oracle's
    * inner word join has the same effect). */
  val bpeEncode: Q = Q("q_bpe_encode", Bpe.encodeOracle(K)) { (s, d) =>
    val (merges, _) = trained(s, d)
    val enc = Bpe.encodeUdf(merges.map(m => (m.x, m.y)))
    Tables.load(s, d, "documents")
      .repartition(Session.partitions(s))
      .select(col("doc_id"), enc(col("text")).as("e"))
      .select(col("doc_id"), col("e._1").as("n_words"),
        col("e._2").as("n_tokens"), col("e._3").as("toks"))
      .filter(col("n_words") > 0)
      .orderBy("doc_id")
  }

  /** Per-language tokenizer fertility (tokens-per-word) — the
    * tokenizer-quality audit run before committing a vocab to a
    * training corpus: high fertility on a language means the learned
    * merges under-serve it (its text costs more tokens per word).
    * n_single / single_tok_ppm is the share of word occurrences the
    * merge table compresses to ONE token — the coverage reading.
    * Consumes the same ONE suite-level training; the engine encodes
    * each DISTINCT word once (the oracle's wt construction) and joins
    * word occurrences back, so nothing re-runs the merge loop per row.
    *
    * Shape at 100TB: the distinct-word encode is vocabulary-sized;
    * word occurrences aggregate per (doc, lang) with map-side
    * combine; output is the language dictionary. */
  val bpeFertility: Q = Q("q_bpe_fertility", Bpe.fertilityOracle(K)) {
    (s, d) =>
    val (merges, _) = trained(s, d)
    val enc = Bpe.encodeUdf(merges.map(m => (m.x, m.y)))
    val docs = Tables.load(s, d, "documents")
      .repartition(Session.partitions(s))
    val words = Text.tokenRows(docs, col("text"), "w", col("doc_id"), col("lang"))
      .filter(col("w").rlike("^[a-z]+$") &&
        length(col("w")) <= Bpe.MaxWordLen)
    val wt = words.select("w").distinct()
      .withColumn("e", enc(col("w")))
      .select(col("w"), col("e._2").as("ntoks"))
    words.join(wt, "w")
      .groupBy("lang")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_words"),
        sum(col("ntoks")).as("n_tokens"),
        sum(when(col("ntoks") === 1L, 1L).otherwise(0L))
          .as("n_single_tok_words"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_tokens"),
        col("n_single_tok_words"),
        expr("n_tokens * 1000000 div n_words").as("fertility_ppm"),
        expr("n_single_tok_words * 1000000 div n_words")
          .as("single_tok_ppm"))
      .orderBy("lang")
  }

  val all: Seq[Q] = Seq(bpeMerges, bpeVocab, bpeEncode, bpeFertility)
}
