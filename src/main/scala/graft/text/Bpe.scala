package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.{Session, Tables}

/** Distributed BPE tokenizer training (merge learning).
  *
  * The industrial-scale formulation: Lloyd-style driver iteration over
  * the WORD-FREQUENCY table, not the corpus (Sennrich et al. 2015,
  * arXiv 1508.07909 — their reference trainer also operates on the
  * vocab-with-counts dict). The corpus is scanned ONCE (one shuffle to
  * build word counts); each of the K merge rounds then touches only the
  * compact vocab relation: pair counts are a groupBy over exploded
  * adjacent symbol pairs, the argmax is a 1-row TakeOrdered collect
  * (same driver-action shape as KMeansFx's centroid loop), and the
  * merge application is a compiled per-word UDF. At 100 TB the vocab is
  * ~1e8 rows vs ~1e11 corpus tokens — the rounds cost O(vocab), and the
  * pair-count shuffle key space is tiny (symbol bigrams).
  *
  * Determinism: counts are exact longs; the argmax tie-break is total
  * (cnt DESC, x ASC, y ASC); the merge application is left-to-right
  * greedy, which equals the "merge matches at even offsets within each
  * run of consecutive matches" rule the DuckDB oracle replays with
  * gaps-and-islands SQL (overlap is only possible when x == y, since a
  * match at i and i+1 forces sym(i+1) = y = x).
  *
  * Words are lowercase whitespace tokens restricted to `^[a-z]+$` and
  * length <= 40 (single-byte chars, so JVM char split == DuckDB
  * codepoint substr; the cap drops pathological tokens, standard BPE
  * practice). Each word gets the classic end-of-word marker '_'
  * appended before char split.
  */
object Bpe {

  val MaxWordLen = 40

  /** word -> single-char symbols of (word + '_'). */
  val toSymsUdf = udf { (w: String) =>
    val s = w + "_"
    Array.tabulate(s.length)(i => s.substring(i, i + 1))
  }

  /** Adjacent symbol pairs of one word, with multiplicity. */
  val pairsUdf = udf { (syms: Seq[String]) =>
    if (syms == null || syms.length < 2) Array.empty[(String, String)]
    else Array.tabulate(syms.length - 1)(i => (syms(i), syms(i + 1)))
  }

  /** Left-to-right greedy merge of (x, y) -> xy in one word. */
  val mergeUdf = udf { (syms: Seq[String], x: String, y: String) =>
    if (syms == null) Array.empty[String]
    else {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == x && syms(i + 1) == y) {
          out += (x + y); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toArray
    }
  }

  /** One learned merge: the pair, its count at selection time, and the
    * corpus token count after applying it. */
  final case class Merge(step: Long, x: String, y: String, cnt: Long, toks: Long)

  /** Result of [[train]]: the learned merges, the final symbolized
    * vocab (w, freq, syms), and an explicit cache-release handle —
    * call it once the results are materialized so a multi-query run
    * (Verify executes q_bpe_merges, q_bpe_vocab AND q_bpe_encode)
    * doesn't accumulate cached vocab relations waiting on the
    * ContextCleaner. After release, `vocab` is still correct but
    * recomputes its (depth-bounded) lineage on next use. */
  final case class Trained(merges: Seq[Merge], vocab: DataFrame, release: () => Unit)

  /** `documents` -> (w, freq): the single corpus-wide shuffle. */
  def wordFreq(s: SparkSession, dir: String): DataFrame =
    Text.tokenRows(Tables.load(s, dir, "documents").repartition(Session.partitions(s)),
        col("text"), "w")
      .filter(col("w").rlike("^[a-z]+$") && length(col("w")) <= MaxWordLen)
      .groupBy("w")
      .agg(count(lit(1)).as("freq"))

  /** Learn k merges; returns them plus the final symbolized vocab
    * (w, freq, syms) and a cache-release handle.
    *
    * One Spark job per round, not three: the pair-count table is tiny
    * BY CONSTRUCTION (at most (|alphabet| + k)^2 symbol bigrams at any
    * corpus scale), so each round collects it whole and does the
    * argmax + tie-break on the driver. Token accounting needs no extra
    * job either — toks(vocab) = pairTotal + wordTotal, since each word
    * contributes len(syms) = pairs + 1, so round i+1's pair collect
    * prices round i's merge for free (one final agg prices merge k).
    *
    * Merge application is a lazy nested-UDF chain over the cached
    * current relation, MATERIALIZED every `materializeEvery` rounds:
    * the pending chain is applied, persisted and counted, and the
    * previous cache dropped, so UDF nesting depth (and per-round
    * recompute work) is bounded by R = materializeEvery regardless of
    * k — train is O(k * vocab) + O(k/R) materializations instead of
    * the unbounded-chain O(k^2 * vocab). R defaults to 16 so small-k
    * demo runs (K=8 in the registry) keep the measured-faster
    * zero-churn shape — per-round persist+unpersist was measured ~2x
    * slower at K=8 on pure scheduling overhead — while tokenizer-real
    * k (BpeSpec pins K=64 against an in-memory reference) stays
    * linear. */
  def train(s: SparkSession, dir: String, k: Int,
      materializeEvery: Int = 16): Trained = {
    require(materializeEvery >= 1, "materializeEvery must be >= 1")
    var cur = wordFreq(s, dir)
      .select(col("w"), col("freq"), toSymsUdf(col("w")).as("syms"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val live = scala.collection.mutable.ListBuffer[DataFrame](cur)
    val wordTotal = cur.agg(sum(col("freq"))).collect()(0).getLong(0)
    val picked = scala.collection.mutable.ListBuffer.empty[(String, String, Long)]
    // merges applied since the last materialization — the lazy chain
    val pending = scala.collection.mutable.ListBuffer.empty[(String, String)]
    def symsCol: Column = pending.foldLeft(col("syms")) {
      case (c, (x, y)) => mergeUdf(c, lit(x), lit(y))
    }
    val toksAfter = scala.collection.mutable.ListBuffer.empty[Long]
    for (step <- 1 to k) {
      val pc = cur
        .select(col("freq"), explode(pairsUdf(symsCol)).as("p"))
        .groupBy(col("p._1").as("x"), col("p._2").as("y"))
        .agg(sum("freq").as("cnt"))
        .collect()
      require(pc.nonEmpty, s"BPE ran out of pairs at step $step of $k")
      if (step > 1) toksAfter += pc.map(_.getLong(2)).sum + wordTotal
      val best = pc.minBy(r => (-r.getLong(2), r.getString(0), r.getString(1)))
      picked += ((best.getString(0), best.getString(1), best.getLong(2)))
      pending += ((best.getString(0), best.getString(1)))
      if (pending.size >= materializeEvery && step < k) {
        val nxt = cur.select(col("w"), col("freq"), symsCol.as("syms"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        nxt.count() // materialize through the parent cache, THEN drop it
        live += nxt
        cur.unpersist(blocking = false)
        cur = nxt
        pending.clear()
      }
    }
    val finalVocab = cur.select(col("w"), col("freq"), symsCol.as("syms"))
    toksAfter += finalVocab
      .agg(sum(size(col("syms")).cast("long") * col("freq")))
      .collect()(0).getLong(0)
    val merges = picked.zip(toksAfter).zipWithIndex.map {
      case (((x, y, cnt), toks), i) => Merge(i + 1L, x, y, cnt, toks)
    }
    Trained(merges.toSeq, finalVocab,
      () => live.foreach(_.unpersist(blocking = false)))
  }

  /** Tokenize one word (marker appended) with the learned merge list,
    * applied in learning order, each pass left-to-right greedy — the
    * exact per-word semantics of `mergeUdf` folded over the merges. */
  def tokenizeWord(w: String, merges: Seq[(String, String)]): Array[String] = {
    val s = w + "_"
    var syms = Array.tabulate(s.length)(i => s.substring(i, i + 1))
    merges.foreach { case (x, y) =>
      val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == x && syms(i + 1) == y) {
          out += (x + y); i += 2
        } else { out += syms(i); i += 1 }
      }
      syms = out.toArray
    }
    syms
  }

  /** ENCODE a document with a learned merge table: the tokenizer
    * APPLICATION step every training-data pipeline ships. The merge
    * list (k pairs) travels in the UDF closure — broadcast semantics,
    * map-side only, NO join against the vocab and no shuffle at any
    * corpus scale. Word filter identical to [[wordFreq]] (lowercase,
    * `^[a-z]+$`, length cap), so on the training corpus every encoded
    * word is covered by the learned vocabulary by construction.
    * Returns (n_words, n_tokens, space-joined token string). */
  def encodeUdf(merges: Seq[(String, String)]) = udf { (text: String) =>
    if (text == null) (0L, 0L, "")
    else {
      val words = Text.tokenize(text)
        .filter(w => w.length <= MaxWordLen && w.forall(c => c >= 'a' && c <= 'z'))
      val toks = words.flatMap(w => tokenizeWord(w, merges))
      (words.length.toLong, toks.length.toLong, toks.mkString(" "))
    }
  }

  // ---------------------------------------------------------------
  // DuckDB oracle: the identical K rounds as chained MATERIALIZED CTEs
  // (each s{i} is referenced twice per round — without MATERIALIZED the
  // inlined tree re-reads the parquet exponentially). Generated here so
  // engine and oracle can never drift on K / the word filter / the
  // tie-break.
  // ---------------------------------------------------------------

  private def baseSql: String =
    s"""WITH w0 AS MATERIALIZED (SELECT w, COUNT(*) AS freq FROM (
       |  SELECT unnest(list_filter(${Text.tokensSql("text")},
       |    x -> regexp_matches(x, '^[a-z]+$$'))) AS w
       |  FROM documents) WHERE len(w) <= $MaxWordLen GROUP BY 1),
       |pos AS (SELECT unnest(range(1, ${MaxWordLen + 2})) AS i),
       |s0 AS MATERIALIZED (SELECT w AS word, freq, i AS pos, substr(w || '_', i, 1) AS sym
       |  FROM w0, pos WHERE i <= len(w) + 1)""".stripMargin

  /** One merge round: pair counts, argmax, gaps-and-islands greedy
    * merge (merge at even offsets within each run of matches), renumber. */
  private def roundSql(i: Int): String = {
    val p = i - 1
    s"""p$i AS MATERIALIZED (SELECT a.sym AS x, b.sym AS y, SUM(a.freq) AS cnt
       |  FROM s$p a JOIN s$p b ON a.word = b.word AND b.pos = a.pos + 1
       |  GROUP BY 1, 2),
       |b$i AS MATERIALIZED (SELECT x, y, cnt FROM p$i ORDER BY cnt DESC, x, y LIMIT 1),
       |h$i AS MATERIALIZED (SELECT word, freq, pos, sym,
       |  COALESCE(sym = (SELECT x FROM b$i) AND
       |    LEAD(sym) OVER (PARTITION BY word ORDER BY pos) = (SELECT y FROM b$i),
       |    FALSE) AS hit
       |  FROM s$p),
       |g$i AS MATERIALIZED (SELECT *,
       |  pos - ROW_NUMBER() OVER (PARTITION BY word, hit ORDER BY pos) AS isl
       |  FROM h$i),
       |m$i AS MATERIALIZED (SELECT *,
       |  hit AND (pos - MIN(pos) OVER (PARTITION BY word, hit, isl)) % 2 = 0 AS mrg
       |  FROM g$i),
       |d$i AS MATERIALIZED (SELECT *,
       |  COALESCE(LAG(mrg) OVER (PARTITION BY word ORDER BY pos), FALSE) AS dropped
       |  FROM m$i),
       |s$i AS MATERIALIZED (SELECT word, freq,
       |  ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS pos,
       |  CASE WHEN mrg THEN sym || (SELECT y FROM b$i) ELSE sym END AS sym
       |  FROM d$i WHERE NOT dropped),
       |r$i AS (SELECT $i AS step, x, y, cnt, (SELECT SUM(freq) FROM s$i) AS toks
       |  FROM b$i)""".stripMargin
  }

  private def chainSql(k: Int): String =
    (Seq(baseSql) ++ (1 to k).map(roundSql)).mkString(",\n")

  /** Oracle for the merge list (step, x, y, cnt, toks). */
  def mergesOracle(k: Int): String = {
    val union = (1 to k).map(i => s"SELECT * FROM r$i").mkString(" UNION ALL ")
    s"""${chainSql(k)},
       |fin AS ($union)
       |SELECT CAST(step AS BIGINT) AS step, x, y, CAST(cnt AS BIGINT) AS cnt,
       |  CAST(toks AS BIGINT) AS toks
       |FROM fin ORDER BY step""".stripMargin
  }

  /** Oracle for the post-training symbol vocabulary. */
  def vocabOracle(k: Int): String =
    s"""${chainSql(k)}
       |SELECT sym, CAST(SUM(freq) AS BIGINT) AS occurrences,
       |  CAST(COUNT(DISTINCT word) AS BIGINT) AS n_words
       |FROM s$k GROUP BY sym ORDER BY occurrences DESC, sym""".stripMargin

  /** Oracle for corpus ENCODING with the learned merges: tokenization
    * of a word is a pure function of the word, and s$k already holds
    * the final symbolization of every corpus word — so the oracle
    * encodes each DISTINCT word once from the chain and joins the
    * documents' word occurrences (in order) against it. One extra CTE
    * step over the same generated chain: engine and oracle share K,
    * the word filter and the tie-break by construction. */
  /** Shared CTE prefix for corpus encoding: per-word symbolization
    * from the trained chain plus the in-order document word list —
    * consumed by [[encodeOracle]] and [[fertilityOracle]] so the two
    * cannot drift. */
  private def encodeCtes(k: Int): String =
    s"""${chainSql(k)},
       |wt AS MATERIALIZED (SELECT word,
       |  string_agg(sym, ' ' ORDER BY pos) AS wtoks, COUNT(*) AS ntoks
       |  FROM s$k GROUP BY word),
       |dt AS (SELECT doc_id, list_filter(${Text.tokensSql("text")},
       |    x -> regexp_matches(x, '^[a-z]+$$') AND len(x) <= $MaxWordLen) AS ws
       |  FROM documents),
       |dw AS (SELECT doc_id, i, ws[i] AS w
       |  FROM dt, (SELECT unnest(range(1,
       |    (SELECT COALESCE(MAX(len(ws)), 0) + 1 FROM dt))) AS i) p
       |  WHERE i <= len(ws))""".stripMargin

  def encodeOracle(k: Int): String =
    s"""${encodeCtes(k)}
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(wt.ntoks) AS BIGINT) AS n_tokens,
       |  string_agg(wt.wtoks, ' ' ORDER BY i) AS toks
       |FROM dw JOIN wt ON dw.w = wt.word
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Oracle for per-language tokenizer fertility (tokens per word):
    * the per-doc encode totals of [[encodeOracle]] re-aggregated to
    * the language dictionary, with the single-token (never-merged)
    * word share as the vocabulary-coverage reading. */
  def fertilityOracle(k: Int): String =
    s"""${encodeCtes(k)},
       |pd AS (SELECT dw.doc_id, COUNT(*) AS nw,
       |    CAST(SUM(wt.ntoks) AS BIGINT) AS nt,
       |    CAST(SUM(CASE WHEN wt.ntoks = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_single
       |  FROM dw JOIN wt ON dw.w = wt.word
       |  GROUP BY 1)
       |SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(pd.nw) AS BIGINT) AS n_words,
       |  CAST(SUM(pd.nt) AS BIGINT) AS n_tokens,
       |  CAST(SUM(pd.n_single) AS BIGINT) AS n_single_tok_words,
       |  CAST(SUM(pd.nt) * 1000000 // SUM(pd.nw) AS BIGINT)
       |    AS fertility_ppm,
       |  CAST(SUM(pd.n_single) * 1000000 // SUM(pd.nw) AS BIGINT)
       |    AS single_tok_ppm
       |FROM pd JOIN documents d ON d.doc_id = pd.doc_id
       |GROUP BY d.lang ORDER BY d.lang""".stripMargin
}
