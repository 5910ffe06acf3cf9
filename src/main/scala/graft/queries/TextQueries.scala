package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import graft.{Q, Session, Tables}
import graft.functions.Hex
import graft.plans.FxLog2
import graft.text.Text

/** Wave 4a — text analysis over `documents`: tokenization + counts,
  * quality scoring, language ID, document fingerprinting, exact dedup.
  */
object TextQueries {

  private val toks = Text.tokens(col("text"))

  val textTokens: Q = Q(
    "q_text_tokens",
    s"""WITH tok AS (
      |  SELECT unnest(${Text.tokensSql("text")}) AS token
      |  FROM documents)
      |SELECT token, COUNT(*) AS n FROM tok
      |GROUP BY token ORDER BY n DESC, token LIMIT 50""".stripMargin) { (s, d) =>
    Text.tokenRows(Tables.load(s, d, "documents"), col("text"), "token")
      .groupBy("token")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(50)
      .orderBy(col("n").desc, col("token").asc)
  }

  /** Token counting both ways (the budgeting pair): whitespace tokens
    * and BPE-ish subword tokens ([[Text.regexTokens]] — alpha/digit
    * runs, the deterministic stand-in for a model-specific BPE table). */
  val textTokenCounts: Q = Q(
    "q_text_token_counts",
    s"""SELECT doc_id,
      |  len(${Text.tokensSql("text")}) AS n_ws_tokens,
      |  len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS n_subword_tokens
      |FROM documents ORDER BY doc_id NULLS FIRST""".stripMargin) { (s, d) =>
    Tables.load(s, d, "documents")
      .select(
        col("doc_id"),
        size(Text.tokens(col("text"))).cast("long").as("n_ws_tokens"),
        size(Text.regexTokens(col("text"))).cast("long").as("n_subword_tokens"))
      .orderBy("doc_id")
  }

  val textQuality: Q = Q(
    "q_text_quality",
    s"""WITH t AS (SELECT doc_id, text,
      |             ${Text.tokensSql("text")} AS toks
      |           FROM documents)
      |SELECT doc_id,
      |  LENGTH(text) AS n_chars,
      |  len(toks) AS n_tokens,
      |  len(list_distinct(toks)) AS n_distinct_tokens,
      |  LENGTH(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS n_punct,
      |  CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
      |    / len(toks) AS avg_token_len,
      |  CAST(len(list_filter(toks, x -> x IN ('the','and','of','to','in','is','a'))) AS DOUBLE)
      |    / len(toks) AS stopword_ratio,
      |  CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS distinct_ratio
      |FROM t ORDER BY doc_id""".stripMargin) { (s, d) =>
    val feats = Text.qualityFeatures(col("text"))
    Tables.load(s, d, "documents")
      .select(col("doc_id") +: feats.map { case (n, c) => c.as(n) }: _*)
      .withColumn("n_tokens", col("n_tokens").cast(LongType))
      .orderBy("doc_id")
  }

  val textLangId: Q = Q(
    "q_text_langid",
    // mirror Text.langId exactly: per-language marker counts, argmax
    // with first-listed-language-wins tie-break.
    s"""WITH t AS (SELECT doc_id, lang,
       |             ${Text.tokensSql("text")} AS toks
       |           FROM documents),
       |sc AS (SELECT doc_id, lang AS labeled_lang,
       |  ${Text.langScoresSql}
       |FROM t)
       |SELECT doc_id, labeled_lang, ${Text.langIdSql} AS predicted_lang
       |FROM sc ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.load(s, d, "documents")
      .select(col("doc_id"), col("lang").as("labeled_lang"),
        Text.langScoresUdf(col("text")).as("sc"))
      .select(col("doc_id") +: col("labeled_lang") +:
        Text.langMarkers.zipWithIndex.map { case ((l, _), i) =>
          col("sc").getItem(i).as(s"s_$l") }: _*)
      .select(
        col("doc_id"),
        col("labeled_lang"),
        Text.langIdFromScores(
          Text.langMarkers.map { case (l, _) => l -> col(s"s_$l") })
          .as("predicted_lang"))
      .orderBy("doc_id")
  }

  /** Content fingerprint: md5 whole-doc + md5 of the sorted 3-gram
    * shingle set (a rolling-window fingerprint that survives reordering
    * of duplicated spans). */
  val docFingerprint: Q = Q(
    "q_doc_fingerprint",
    s"""WITH t AS (SELECT doc_id, text,
      |             ${Text.tokensSql("text")} AS toks
      |           FROM documents)
      |SELECT doc_id,
      |  md5(text) AS fp_exact,
      |  md5(array_to_string(list_sort(list_distinct(
      |    list_transform(range(1, greatest(len(toks) - 1, 1)),
      |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))), '|')) AS fp_shingle
      |FROM t ORDER BY doc_id""".stripMargin) { (s, d) =>
    val sh = Text.shingles(toks, 3)
    Tables.load(s, d, "documents")
      .select(
        col("doc_id"),
        md5(col("text")).as("fp_exact"),
        md5(concat_ws("|", array_sort(array_distinct(sh)))).as("fp_shingle"))
      .orderBy("doc_id")
  }

  /** Exact dedup: group by content hash, keep lowest doc_id
    * (hash-groupBy — one shuffle on the 128-bit fingerprint). */
  val dedupExact: Q = Q(
    "q_dedup_exact",
    """SELECT md5(text) AS fp, COUNT(*) AS n_copies, MIN(doc_id) AS keeper_doc_id
      |FROM documents GROUP BY fp ORDER BY fp""".stripMargin) { (s, d) =>
    Tables.load(s, d, "documents")
      .groupBy(md5(col("text")).as("fp"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper_doc_id"))
      .orderBy("fp")
  }

  /** Generator op (UDTF analog of the reference's script decode, R5/
    * `u_udtf_explode_scripts`): one doc row -> N (position, token) rows
    * via a typed flatMap on the Dataset. */
  val explodeTokensTyped: Q = Q(
    "q_udtf_explode_tokens",
    s"""WITH t AS (SELECT doc_id,
      |             ${Text.tokensSql("text")} AS toks
      |           FROM documents)
      |SELECT doc_id, i AS pos, toks[i] AS token
      |FROM t, (SELECT unnest(range(1,
      |         (SELECT COALESCE(MAX(len(toks)), 0) + 1 FROM t))) AS i) p
      |WHERE i <= len(toks) AND doc_id < 100
      |ORDER BY doc_id, pos""".stripMargin) { (s, d) =>
    val spark = s
    import spark.implicits._
    Tables.load(s, d, "documents")
      .filter(col("doc_id") < 100)
      .select(col("doc_id"), toks.as("toks"))
      .as[(Long, Seq[String])]
      .flatMap { case (id, ts) =>
        ts.iterator.zipWithIndex.map { case (t, i) => (id, (i + 1).toLong, t) }
      }
      .toDF("doc_id", "pos", "token")
      .orderBy("doc_id", "pos")
  }

  /** Winnowing fingerprints ([[graft.text.Winnow]] — the rolling-hash
    * document fingerprinting of the north star): per-doc count plus the
    * first/last selected hash (unsigned order).
    *
    * FULL ORACLE: the engine's Rabin-Karp chain wraps in signed
    * Long, i.e. lives mod 2^64 — so DuckDB replays each k-gram hash as
    * a HUGEINT residue sum (c_j * B^(k-1-j), true-precision powers,
    * one % 2^64), packs (hash, 2^32-1-pos) so an unsigned window MIN
    * lands on the RIGHTMOST tied minimum exactly like the kernel's
    * compareUnsigned <= 0 scan, winnows full windows only, and maps
    * residues >= 2^63 back to negative BIGINTs. Degenerate docs
    * (ngrams <= w: one global minimum; n < k: zero fingerprints)
    * follow the same branches as the kernel. The substring-match
    * guarantee stays property-tested in WinnowSpec. */
  val docWinnow: Q = Q(
    "q_doc_winnow",
    // k = 5, w = 4, B = 1000003; powers are B^4..B^1 at full precision
    // (congruent mod 2^64 to the kernel's wrapped bk), M = 2^64
    """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
      |pos AS (SELECT unnest(range(1,
      |    (SELECT MAX(length(text)) FROM documents) + 1)) AS i),
      |g AS (SELECT doc_id, i,
      |    (  ascii(substr(text, i,     1)) * 1000012000054000108000081
      |     + ascii(substr(text, i + 1, 1)) * CAST(1000009000027000027 AS HUGEINT)
      |     + ascii(substr(text, i + 2, 1)) * CAST(1000006000009 AS HUGEINT)
      |     + ascii(substr(text, i + 3, 1)) * CAST(1000003 AS HUGEINT)
      |     + ascii(substr(text, i + 4, 1))) % 18446744073709551616 AS h
      |  FROM d, pos WHERE i <= n - 4),
      |ng AS (SELECT doc_id, n - 4 AS ngrams FROM d WHERE n >= 5),
      |pk AS (SELECT doc_id, i, h,
      |    h * 4294967296 + (4294967295 - i) AS packed FROM g),
      |wmin AS (SELECT doc_id, i AS s,
      |    MIN(packed) OVER (PARTITION BY doc_id ORDER BY i
      |                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mp
      |  FROM pk),
      |sel AS (SELECT DISTINCT w.doc_id, w.mp // 4294967296 AS v
      |  FROM wmin w JOIN ng ON w.doc_id = ng.doc_id
      |  WHERE ng.ngrams > 4 AND w.s <= ng.ngrams - 3),
      |degen AS (SELECT g.doc_id, MIN(g.h) AS v
      |  FROM g JOIN ng ON g.doc_id = ng.doc_id
      |  WHERE ng.ngrams <= 4 GROUP BY g.doc_id),
      |allsel AS (SELECT doc_id, v FROM sel
      |           UNION ALL SELECT doc_id, v FROM degen),
      |agg AS (SELECT doc_id, COUNT(DISTINCT v) AS n_fp,
      |          MIN(v) AS mn, MAX(v) AS mx
      |        FROM allsel GROUP BY doc_id)
      |SELECT d.doc_id, CAST(COALESCE(agg.n_fp, 0) AS BIGINT) AS n_fp,
      |  CAST(CASE WHEN mn >= 9223372036854775808
      |            THEN mn - 18446744073709551616 ELSE mn END AS BIGINT)
      |    AS fp_first,
      |  CAST(CASE WHEN mx >= 9223372036854775808
      |            THEN mx - 18446744073709551616 ELSE mx END AS BIGINT)
      |    AS fp_last
      |FROM d LEFT JOIN agg ON d.doc_id = agg.doc_id
      |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    val fps = graft.text.Winnow.fingerprintUdf(k = 5, w = 4)(col("text"))
    Tables.load(s, d, "documents")
      .select(col("doc_id"), fps.as("fps"))
      .select(col("doc_id"),
        size(col("fps")).cast("long").as("n_fp"),
        element_at(col("fps"), 1).as("fp_first"),
        element_at(col("fps"), -1).as("fp_last"))
      .orderBy("doc_id")
  }

  /** Gopher-style repetition signals: per-doc trigram totals plus the
    * dominant trigram (ties broken lexicographically) — the
    * "fraction of chars in the most common n-gram" boilerplate filter,
    * kept in integer counts for cross-engine exactness. Docs with
    * fewer than 3 tokens have no trigrams and drop out (both sides).
    *
    * Shape at scale: one shuffle to count (doc, trigram) pairs, then a
    * doc-keyed window over the (already small) per-doc count frame —
    * never an all-pairs or per-doc collect. */
  val textRepetition: Q = Q(
    "q_text_repetition",
    s"""WITH t AS (SELECT doc_id,
      |             ${Text.tokensSql("text")} AS toks
      |           FROM documents),
      |tri AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS tri
      |        FROM t, (SELECT unnest(range(1,
      |         (SELECT COALESCE(MAX(len(toks)), 0) + 1 FROM t))) AS i) p
      |        WHERE i <= len(toks) - 2),
      |c AS (SELECT doc_id, tri, COUNT(*) AS n FROM tri GROUP BY doc_id, tri),
      |r AS (SELECT doc_id, tri, n,
      |        ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY n DESC, tri) AS rn,
      |        CAST(SUM(n) OVER (PARTITION BY doc_id) AS BIGINT) AS n_trigrams,
      |        COUNT(*) OVER (PARTITION BY doc_id) AS n_distinct_trigrams
      |      FROM c)
      |SELECT doc_id, n_trigrams, n_distinct_trigrams,
      |       tri AS top_trigram, n AS top_trigram_n
      |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    // single-file input: repartition FIRST so the compiled shingle UDF
    // runs on all cores, not one (the q_dedup_minhash lesson)
    val counts = Tables.load(s, d, "documents")
      .repartition(Session.partitions(s))
      .select(col("doc_id"), explode(Text.shingleListUdf(3)(col("text"))).as("tri"))
      .groupBy("doc_id", "tri")
      .agg(count(lit(1)).as("n"))
    val byDoc = Window.partitionBy("doc_id")
    counts
      .withColumn("rn", row_number().over(
        byDoc.orderBy(col("n").desc, col("tri").asc)))
      .withColumn("n_trigrams", sum(col("n")).over(byDoc))
      .withColumn("n_distinct_trigrams", count(lit(1)).over(byDoc))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("n_trigrams"), col("n_distinct_trigrams"),
        col("tri").as("top_trigram"), col("n").as("top_trigram_n"))
      .orderBy("doc_id")
  }

  /** PII redaction (emails + phone-shaped digit runs) via anchored
    * regex replace. The synthetic corpus contains no PII, so the query
    * first APPENDS a deterministic contact line derived from doc_id —
    * the redactor then has real spans to find, and the oracle proves
    * non-vacuously that both engines erase the same bytes (outputs are
    * md5 fingerprints of before/after, plus match counts). */
  val textPiiRedact: Q = Q(
    "q_text_pii_redact",
    """WITH w AS (SELECT doc_id,
      |  text || ' contact user' || doc_id || '@example.com or +1-555-' ||
      |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
      |  FROM documents),
      |r AS (SELECT doc_id, raw,
      |  CAST(len(regexp_extract_all(raw, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
      |  regexp_replace(raw, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g') AS pass1
      |  FROM w)
      |SELECT doc_id, n_emails,
      |  CAST(len(regexp_extract_all(pass1, '\+?[0-9][0-9-]{6,}[0-9]')) AS BIGINT) AS n_phones,
      |  md5(raw) AS fp_raw,
      |  md5(regexp_replace(pass1, '\+?[0-9][0-9-]{6,}[0-9]', '<PHONE>', 'g')) AS fp_redacted
      |FROM r ORDER BY doc_id""".stripMargin) { (s, d) =>
    val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val phoneRe = "\\+?[0-9][0-9-]{6,}[0-9]"
    val raw = concat(col("text"), lit(" contact user"), col("doc_id"),
      lit("@example.com or +1-555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
    Tables.load(s, d, "documents")
      .select(col("doc_id"), raw.as("raw"))
      .select(col("doc_id"),
        regexp_count(col("raw"), lit(emailRe)).as("n_emails"),
        col("raw"),
        regexp_replace(col("raw"), emailRe, "<EMAIL>").as("pass1"))
      .select(col("doc_id"), col("n_emails"),
        regexp_count(col("pass1"), lit(phoneRe)).as("n_phones"),
        md5(col("raw")).as("fp_raw"),
        md5(regexp_replace(col("pass1"), phoneRe, "<PHONE>")).as("fp_redacted"))
      .orderBy("doc_id")
  }

  /** TF-IDF table build as an inverted-index pipeline: token explode →
    * (doc, term) tf counts → per-term document frequency → join back →
    * top-5 terms per doc. The idf factor is a projection over (tf, df,
    * N) left to the caller — ln() is not bit-portable across engines,
    * integer counts are.
    *
    * Shape at scale: tf agg shuffles on (doc, term); the df branch
    * re-aggregates by term. In the single declarative plan Spark
    * recomputes the tf lineage for the df branch (exchanges on
    * different keys are never reusable) — at 100TB you materialize the
    * tf table once, bucketed by term ([[graft.ops.Bucketing]]), and
    * both the df agg and the join back become exchange-free. The join
    * is broadcast at this sf because the vocab is tiny; with AQE's
    * runtime sizing it demotes to a term-keyed shuffle join when the
    * vocab outgrows the threshold. Top-k runs as WindowGroupLimit
    * (partial before the doc shuffle, final after). */
  val tfidfTerms: Q = Q(
    "q_tfidf_terms",
    s"""WITH tok AS (SELECT doc_id,
      |    unnest(${Text.tokensSql("text")}) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
      |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      |r AS (SELECT t.doc_id, t.term, t.tf, d.df,
      |        ROW_NUMBER() OVER (PARTITION BY t.doc_id
      |                           ORDER BY t.tf DESC, t.term) AS rn
      |      FROM tf t JOIN df d ON t.term = d.term)
      |SELECT doc_id, term, tf, df, rn FROM r WHERE rn <= 5
      |ORDER BY doc_id, rn""".stripMargin) { (s, d) =>
    val tf = Text.tokenRows(Tables.load(s, d, "documents"), col("text"), "term",
        col("doc_id"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    graft.ops.TopK.perGroup(
      tf.join(df, "term"),
      partitionBy = Seq(col("doc_id")),
      orderBy = Seq(col("tf").desc, col("term").asc),
      k = 5)
      .select("doc_id", "term", "tf", "df", "rn")
      .orderBy("doc_id", "rn")
  }

  /** BM25 top-20 retrieval ([[graft.text.Bm25]]) for a fixed query-term
    * set ("dup" is the rare high-idf discriminator in the corpus;
    * "merge"/"window"/"scan" are bulk terms). No DuckDB oracle: ln()
    * is not bit-stable across engine libms — Bm25Spec verifies scores
    * against an independent in-test computation instead. */
  val bm25TopK: Q = Q.noOracle("q_bm25_topk") { (s, d) =>
    graft.text.Bm25.topK(
      Tables.load(s, d, "documents"), "doc_id", "text",
      terms = Seq("dup", "merge", "window", "scan"), k = 20)
  }

  /** BM25 top-20 in exact integer fixed-point ([[graft.text.Bm25
    * .topKFx]]): same ranking model as q_bm25_topk but idf comes from
    * the [[graft.plans.FxLog2]] square-and-shift integer log2, so the
    * scores ARE hash-matchable — the oracle replays fxlog2 as a
    * 30-step recursive CTE over `length(bin(n))-1` plus the identical
    * square/shift recurrence, on the handful of distinct (2df+1, 2N+2)
    * arguments (per-term, not per-doc — the log runs on ≤|terms|+1
    * values in both engines). This lifts the one scoring family the
    * no-oracle tail attributed to libm ln() into the hash gate. */
  val bm25Fx: Q = Q(
    "q_bm25_fx",
    s"""WITH RECURSIVE
      |tk AS (SELECT doc_id, ${Text.tokensSql("text")} AS toks FROM documents),
      |dld AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM tk),
      |stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dld),
      |tf AS (SELECT doc_id, dl, t.term AS term, COUNT(*) AS tf
      |       FROM dld, unnest(toks) AS t(term)
      |       WHERE t.term IN ('dup', 'merge', 'window', 'scan')
      |       GROUP BY 1, 2, 3),
      |dfr AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
      |args AS (SELECT DISTINCT n FROM (
      |         SELECT 2 * df + 1 AS n FROM dfr
      |         UNION ALL SELECT 2 * n_docs + 2 FROM stats)),
      |${FxLog2.oracleCte("args")},
      |idf AS (SELECT d.term, ln.r - ld.r AS idf2
      |        FROM dfr d CROSS JOIN stats s
      |        JOIN lg ln ON ln.n = 2 * s.n_docs + 2
      |        JOIN lg ld ON ld.n = 2 * d.df + 1),
      |sc AS (SELECT t.doc_id,
      |         SUM(i.idf2 * (22 * t.tf * 1099511627776 //
      |             ((10 * t.tf + 3) * 1048576 +
      |              9 * (t.dl * s.n_docs * 1048576 // s.sum_dl))) // 1048576)
      |           AS score_fx,
      |         COUNT(*) AS n_terms_hit
      |       FROM tf t CROSS JOIN stats s JOIN idf i ON t.term = i.term
      |       GROUP BY 1)
      |SELECT doc_id, CAST(score_fx AS BIGINT) AS score_fx,
      |       CAST(n_terms_hit AS BIGINT) AS n_terms_hit
      |FROM sc ORDER BY score_fx DESC, doc_id LIMIT 20""".stripMargin) {
    (s, d) =>
      graft.text.Bm25.topKFx(
        Tables.load(s, d, "documents"), "doc_id", "text",
        terms = Seq("dup", "merge", "window", "scan"), k = 20)
  }

  /** DSIR-style importance weights for data selection (Xie et al.,
    * arXiv 2302.03169 "Data Selection for Language Models via
    * Importance Resampling"): hashed-bigram bag features, per-bucket
    * log importance ratio log(p_target(b) / p_raw(b)) with Laplace
    * smoothing, per-doc weight = sum of its feature buckets' ratios.
    * Target distribution = the 'en' slice; raw = the whole corpus.
    * All in exact integers: bucket = md5-u32 % 1024, and the log is
    * [[graft.plans.FxLog2]] on the cross-multiplied smoothed counts —
    *   w_fx(b) = fxlog2((n_t+1)·(R+B)) - fxlog2((n_r+1)·(T+B))
    * — so the weights hash-match (the oracle replays fxlog2 as the
    * recursive CTE over the ≤2·1024 distinct arguments).
    *
    * Shape at 100TB: bucket counts are ≤B rows BY CONSTRUCTION (one
    * map-side-combined shuffle over the bigram stream), the weight
    * table broadcasts, and the per-doc sum is the corpus's only
    * row-scale shuffle — the log never runs per-document. */
  val dsirWeight: Q = Q(
    "q_dsir_weight",
    s"""WITH RECURSIVE
      |tk AS (SELECT doc_id, lang, ${Text.tokensSql("text")} AS toks FROM documents),
      |bb AS (SELECT doc_id, lang,
      |         ${Hex.prefixSql("md5(toks[i] || ' ' || toks[i+1])", 1, 8)} % 1024 AS b
      |       FROM tk, (SELECT unnest(range(1,
      |         (SELECT COALESCE(MAX(len(toks)), 0) + 1 FROM tk))) AS i) p
      |       WHERE i <= len(toks) - 1),
      |cr AS (SELECT b, COUNT(*) AS n_r,
      |         COUNT(*) FILTER (WHERE lang = 'en') AS n_t
      |       FROM bb GROUP BY 1),
      |tot AS (SELECT CAST(SUM(n_r) AS BIGINT) AS r_tot,
      |               CAST(SUM(n_t) AS BIGINT) AS t_tot FROM cr),
      |wt AS (SELECT cr.b,
      |         CAST((cr.n_t + 1) * (tot.r_tot + 1024) AS BIGINT) AS num,
      |         CAST((cr.n_r + 1) * (tot.t_tot + 1024) AS BIGINT) AS den
      |       FROM cr CROSS JOIN tot),
      |args AS (SELECT DISTINCT n FROM (
      |         SELECT num AS n FROM wt UNION ALL SELECT den FROM wt)),
      |${FxLog2.oracleCte("args")},
      |wfx AS (SELECT wt.b, ln.r - ld.r AS w_fx
      |        FROM wt JOIN lg ln ON ln.n = wt.num
      |                 JOIN lg ld ON ld.n = wt.den),
      |sc AS (SELECT bb.doc_id, COUNT(*) AS n_feats,
      |         SUM(w.w_fx) AS weight_fx
      |       FROM bb JOIN wfx w ON bb.b = w.b GROUP BY 1)
      |SELECT d.doc_id, d.lang,
      |  CAST(COALESCE(sc.n_feats, 0) AS BIGINT) AS n_feats,
      |  CAST(COALESCE(sc.weight_fx, 0) AS BIGINT) AS weight_fx
      |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
      |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.load(s, d, "documents")
      .repartition(Session.partitions(s))
    val bb = docs
      .select(col("doc_id"), col("lang"),
        explode(Text.shingleListUdf(2)(col("text"))).as("bg"))
      .select(col("doc_id"), col("lang"),
        (Hex.prefix(md5(col("bg").cast("binary")), 1, 8) % 1024).as("b"))
    val cr = bb.groupBy("b").agg(
      count(lit(1)).as("n_r"),
      count(when(col("lang") === "en", 1)).as("n_t"))
    val tot = cr.agg(
      sum(col("n_r")).as("r_tot"), sum(col("n_t")).as("t_tot"))
    val wfx = cr.crossJoin(broadcast(tot))
      .select(col("b"),
        (FxLog2.column((col("n_t") + 1L) * (col("r_tot") + 1024L)) -
          FxLog2.column((col("n_r") + 1L) * (col("t_tot") + 1024L))).as("w_fx"))
    val sc = bb.join(broadcast(wfx), "b")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"), sum(col("w_fx")).as("weight_fx"))
    docs.select("doc_id", "lang")
      .join(sc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("weight_fx"), lit(0L)).as("weight_fx"))
      .orderBy("doc_id")
  }

  /** Bigram language-model statistics: corpus bigram counts and the
    * conditional probability P(w2|w1) = c(w1 w2) / c(w1 ·) — the
    * count-based LM / next-token-statistics primitive. One compiled
    * shingle pass (behind the repartition that keeps the narrow
    * single-file scan off one core), one hash shuffle on the bigram,
    * then the denominator folds from the bigram counts themselves
    * (c1 = sum of n2 per w1 — the raw corpus is NOT rescanned). The
    * probability is one exact integer division, bit-identical
    * cross-engine.
    */
  val ngramLm: Q = Q(
    "q_ngram_lm",
    s"""WITH tk AS (SELECT ${Text.tokensSql("text")} AS toks FROM documents),
      |big AS (SELECT toks[i] AS w1, toks[i+1] AS w2
      |        FROM tk, (SELECT unnest(range(1,
      |          (SELECT COALESCE(MAX(len(toks)), 0) + 1 FROM tk))) AS i) p
      |        WHERE i <= len(toks) - 1),
      |c2 AS (SELECT w1, w2, COUNT(*) AS n2 FROM big GROUP BY 1, 2),
      |c1 AS (SELECT w1, CAST(SUM(n2) AS BIGINT) AS n1 FROM c2 GROUP BY 1)
      |SELECT w1, w2, n2, n1, CAST(n2 AS DOUBLE) / n1 AS p
      |FROM c2 JOIN c1 USING (w1)
      |WHERE n2 >= 5 ORDER BY w1, w2""".stripMargin) { (s, d) =>
    val bg = Tables.load(s, d, "documents")
      .repartition(Session.partitions(s))
      .select(explode(Text.shingleListUdf(2)(col("text"))).as("bg"))
    val c2 = bg.groupBy("bg").agg(count(lit(1)).as("n2"))
      .select(
        split(col("bg"), " ").getItem(0).as("w1"),
        split(col("bg"), " ").getItem(1).as("w2"),
        col("n2"))
    val c1 = c2.groupBy("w1").agg(sum(col("n2")).as("n1"))
    c2.join(c1, "w1")
      .filter(col("n2") >= 5)
      .select(col("w1"), col("w2"), col("n2"), col("n1"),
        (col("n2").cast(DoubleType) / col("n1")).as("p"))
      .orderBy("w1", "w2")
  }

  /** C4/Gopher-style quality GATE: the filter DECISION layered on the
    * [[textQuality]] feature expressions (too short -> low lexical
    * diversity -> no stopwords, first failing rule wins), aggregated to
    * per-source survival stats — the go/no-go a corpus curation run
    * actually consumes, not just the raw signals. Ratio rules never
    * decide for token-less docs (the short rule catches them first), so
    * the div-by-zero semantics of either engine are unreachable.
    *
    * Shape at 100TB: entirely map-side feature math + one aggregate on
    * the (tiny) source key. */
  val qualityGate: Q = Q(
    "q_quality_gate",
    s"""WITH t AS (SELECT doc_id, source,
      |             ${Text.tokensSql("text")} AS toks
      |           FROM documents),
      |r AS (SELECT source,
      |  CASE WHEN len(toks) < 20 THEN 'too_short'
      |       WHEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) < 0.35
      |         THEN 'low_diversity'
      |       WHEN CAST(len(list_filter(toks,
      |              x -> x IN ('the','and','of','to','in','is','a'))) AS DOUBLE)
      |            / len(toks) < 0.01 THEN 'no_stopwords'
      |       ELSE 'pass' END AS reason
      |  FROM t)
      |SELECT source, COUNT(*) AS n_docs,
      |  COUNT(CASE WHEN reason = 'pass' THEN 1 END) AS n_passed,
      |  COUNT(CASE WHEN reason = 'too_short' THEN 1 END) AS n_short,
      |  COUNT(CASE WHEN reason = 'low_diversity' THEN 1 END) AS n_low_diversity,
      |  COUNT(CASE WHEN reason = 'no_stopwords' THEN 1 END) AS n_no_stopwords,
      |  CAST(COUNT(CASE WHEN reason = 'pass' THEN 1 END) AS DOUBLE) / COUNT(*)
      |    AS pass_rate
      |FROM r GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    val feats = Text.qualityFeatures(col("text")).toMap
    val reason =
      when(feats("n_tokens") < 20, "too_short")
        .when(feats("distinct_ratio") < 0.35, "low_diversity")
        .when(feats("stopword_ratio") < 0.01, "no_stopwords")
        .otherwise("pass")
    Tables.load(s, d, "documents")
      .select(col("source"), reason.as("reason"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("reason") === "pass", 1)).as("n_passed"),
        count(when(col("reason") === "too_short", 1)).as("n_short"),
        count(when(col("reason") === "low_diversity", 1)).as("n_low_diversity"),
        count(when(col("reason") === "no_stopwords", 1)).as("n_no_stopwords"))
      .withColumn("pass_rate",
        col("n_passed").cast(DoubleType) / col("n_docs"))
      .orderBy("source")
  }

  /** Corpus-LM document scoring — the CCNet/GPT-3-style "score every
    * incoming document with a language model trained on the reference
    * corpus" quality step, with the exact bigram LM standing in for
    * KenLM: the LM is built from the doc_id % 10 != 0 split (same
    * new-batch convention as q_dedup_incremental) and every held-out
    * doc gets (n_bigrams, oov_n, score_fx) where score_fx sums
    * floor(n2 * 1e6 / n1) per known bigram — pure integer arithmetic,
    * hash-exact cross-engine where a float log-prob sum never is
    * (summation order). High oov_n / low score_fx = out-of-domain or
    * junk; the downstream gate thresholds on it.
    *
    * Shape at 100TB: the LM is one groupBy over the train split
    * (write-once artifact); scoring is a (w1, w2) equi-join of the
    * batch's bigrams against it plus one per-doc aggregate — no
    * per-doc LM scan, nothing quadratic. */
  val lmScore: Q = Q(
    "q_lm_score",
    s"""WITH tk AS (SELECT doc_id, ${Text.tokensSql("text")} AS toks FROM documents),
      |big AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
      |        FROM tk, (SELECT unnest(range(1,
      |          (SELECT COALESCE(MAX(len(toks)), 0) + 1 FROM tk))) AS i) p
      |        WHERE i <= len(toks) - 1),
      |c2 AS (SELECT w1, w2, COUNT(*) AS n2 FROM big
      |       WHERE doc_id % 10 <> 0 GROUP BY 1, 2),
      |c1 AS (SELECT w1, CAST(SUM(n2) AS BIGINT) AS n1 FROM c2 GROUP BY 1),
      |sc AS (SELECT b.doc_id,
      |         COUNT(*) AS n_bigrams,
      |         COUNT(*) FILTER (WHERE c2.n2 IS NULL) AS oov_n,
      |         COALESCE(SUM(c2.n2 * 1000000 // c1.n1), 0) AS score_fx
      |       FROM big b LEFT JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
      |                  LEFT JOIN c1 ON c2.w1 = c1.w1
      |       WHERE b.doc_id % 10 = 0
      |       GROUP BY 1)
      |SELECT d.doc_id,
      |  CAST(COALESCE(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
      |  CAST(COALESCE(sc.oov_n, 0) AS BIGINT) AS oov_n,
      |  CAST(COALESCE(sc.score_fx, 0) AS BIGINT) AS score_fx
      |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
      |WHERE d.doc_id % 10 = 0
      |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.load(s, d, "documents")
      .repartition(Session.partitions(s))
    val big = docs
      .select(col("doc_id"), explode(Text.shingleListUdf(2)(col("text"))).as("bg"))
      .select(col("doc_id"),
        split(col("bg"), " ").getItem(0).as("w1"),
        split(col("bg"), " ").getItem(1).as("w2"))
    val c2 = big.filter(col("doc_id") % 10 =!= 0)
      .groupBy("w1", "w2").agg(count(lit(1)).as("n2"))
    val c1 = c2.groupBy("w1").agg(sum(col("n2")).as("n1"))
    val sc = big.filter(col("doc_id") % 10 === 0)
      .join(c2.join(c1, "w1"), Seq("w1", "w2"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        count(when(col("n2").isNull, 1)).as("oov_n"),
        coalesce(sum(expr("n2 * 1000000 div n1")), lit(0L)).as("score_fx"))
    docs.filter(col("doc_id") % 10 === 0).select("doc_id")
      .join(sc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("oov_n"), lit(0L)).as("oov_n"),
        coalesce(col("score_fx"), lit(0L)).as("score_fx"))
      .orderBy("doc_id")
  }

  /** Per-document n-gram novelty / duplication fraction — the dataset
    * audit signal behind "what share of this doc also appears
    * elsewhere": for each doc, the fraction of its distinct 3-token
    * shingles that occur in at least one OTHER doc (corpus df >= 2).
    * High shared_frac marks boilerplate/template docs and memorization
    * risk; the quality gate can threshold on it. Exact integers plus
    * ONE division per row (correctly rounded, hash-safe).
    *
    * Shape at 100TB: the df count is a window over ONE exchange on
    * shingle (the jaccard df-cap pattern — no join back, no second
    * shingle shuffle), then one per-doc aggregate. */
  val textNovelty: Q = Q(
    "q_text_novelty",
    s"""WITH t AS (SELECT doc_id, ${Text.tokensSql("text")} AS toks FROM documents),
      |pos AS (SELECT unnest(range(1,
      |  (SELECT COALESCE(MAX(len(toks)), 0) + 1 FROM t))) AS i),
      |sh AS (SELECT DISTINCT doc_id,
      |         toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
      |       FROM t, pos WHERE i <= len(toks) - 2),
      |wd AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh),
      |per AS (SELECT doc_id, COUNT(*) AS n_shingles,
      |          COUNT(*) FILTER (WHERE df >= 2) AS n_shared
      |        FROM wd GROUP BY 1)
      |SELECT t.doc_id,
      |  CAST(COALESCE(per.n_shingles, 0) AS BIGINT) AS n_shingles,
      |  CAST(COALESCE(per.n_shared, 0) AS BIGINT) AS n_shared,
      |  CASE WHEN COALESCE(per.n_shingles, 0) = 0 THEN 0.0
      |       ELSE CAST(per.n_shared AS DOUBLE) / per.n_shingles END AS shared_frac
      |FROM t LEFT JOIN per ON t.doc_id = per.doc_id
      |ORDER BY t.doc_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.load(s, d, "documents")
      .repartition(Session.partitions(s))
    val sh = docs.select(col("doc_id"),
      explode(Text.shingleSetUdf(3)(col("text"))).as("shingle"))
    val per = sh
      .withColumn("df", count(lit(1)).over(Window.partitionBy("shingle")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        count(when(col("df") >= 2, 1)).as("n_shared"))
    docs.select("doc_id")
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        when(coalesce(col("n_shingles"), lit(0L)) === 0, lit(0.0))
          .otherwise(col("n_shared").cast("double") / col("n_shingles"))
          .as("shared_frac"))
      .orderBy("doc_id")
  }

  /** Shingle width for intra-doc repetition excision: a span must
    * repeat VERBATIM for >= 3 words within the same document to be
    * excised. 3 matches the corpus's within-doc repetition scale
    * (measured: W=3 affects ~30 docs per SF, W=5 excises nothing) and
    * the Gopher-style trigram signal q_text_repetition measures; a
    * real curation run would tune this per corpus. */
  private val RepW = 3

  /** Intra-document repetition EXCISION — the third member of the span
    * family (q_text_repetition MEASURES within-doc duplication,
    * q_dedup_excise removes cross-doc spans): strip repeated spans
    * WITHIN a doc (boilerplate headers, templated chat-log loops,
    * decoding loops), the curation step that runs before any cross-doc
    * pass. Rule, identical on both engines: scan word 5-gram shingles
    * left to right; every occurrence AFTER a shingle's first one marks
    * its 5 positions excised; kept words are stitched in order and
    * fingerprinted. For a block of length L repeated verbatim, interior
    * shingles of the later copy are all non-first, so the whole later
    * copy is excised exactly while the first copy survives (its
    * shingles ARE the first occurrences); position 1 is always kept.
    *
    * Shape at 100TB: the operation is doc-LOCAL, so the engine side is
    * ONE compiled narrow pass (UDF per doc, zero shuffles beyond the
    * input repartition) — where the oracle needs three window
    * exchanges to replay the same rule relationally. */
  val textRepeatExcise: Q = Q(
    "q_text_repeat_excise",
    s"""WITH t AS (SELECT doc_id, ${Text.tokensSql("text")} AS toks FROM documents),
      |pos AS (SELECT unnest(range(1,
      |  (SELECT COALESCE(MAX(len(toks)), 0) + 1 FROM t))) AS i),
      |w AS (SELECT doc_id, i AS p, toks[i] AS w FROM t, pos WHERE i <= len(toks)),
      |sh AS (SELECT doc_id, i AS strt,
      |         ${(0 until RepW).map(j => if (j == 0) "toks[i]" else s"toks[i+$j]").mkString(" || ' ' || ")} AS shingle
      |       FROM t, pos WHERE i <= len(toks) - ${RepW - 1}),
      |dup AS (SELECT doc_id, strt FROM (
      |          SELECT doc_id, strt,
      |            MIN(strt) OVER (PARTITION BY doc_id, shingle) AS mn
      |          FROM sh) WHERE strt > mn),
      |cov AS (SELECT DISTINCT doc_id, strt + j AS p
      |        FROM dup, (SELECT unnest(range(0, $RepW)) AS j) o),
      |k AS (SELECT w.doc_id, w.p, w.w FROM w LEFT JOIN cov
      |        ON w.doc_id = cov.doc_id AND w.p = cov.p
      |      WHERE cov.p IS NULL),
      |ka AS (SELECT doc_id, COUNT(*) AS n_kept,
      |         md5(string_agg(w, ' ' ORDER BY p)) AS clean_fp
      |       FROM k GROUP BY doc_id),
      |tot AS (SELECT doc_id, COUNT(*) AS n_words FROM w GROUP BY doc_id)
      |SELECT tot.doc_id, CAST(tot.n_words AS BIGINT) AS n_words,
      |  CAST(ka.n_kept AS BIGINT) AS n_kept,
      |  CAST(tot.n_words - ka.n_kept AS BIGINT) AS n_excised,
      |  ka.clean_fp
      |FROM tot JOIN ka ON tot.doc_id = ka.doc_id
      |ORDER BY tot.doc_id""".stripMargin) { (s, d) =>
    val excise = Text.repeatExciseUdf(RepW)
    Tables.load(s, d, "documents")
      .repartition(Session.partitions(s))
      .select(col("doc_id"), excise(col("text")).as("e"))
      .select(col("doc_id"), col("e._1").as("n_words"),
        col("e._2").as("n_kept"), col("e._3").as("n_excised"),
        md5(col("e._4")).as("clean_fp"))
      .filter(col("n_words") > 0)
      .orderBy("doc_id")
  }

  /** CCNet/fastText-style binary quality classifier (Wenzek et al.
    * arXiv 1911.00359 train reference-vs-crawl; Joulin et al. arXiv
    * 1607.01759 hash features into a bounded table): label = doc from
    * a "curated" source (src0-src2, the reference-corpus stand-in),
    * features = the doc's DISTINCT tokens hashed into B=2048 buckets
    * (md5-u32 % B, the same feature-hashing trick as q_dsir_weight),
    * weights = smoothed odds-ratios of per-bucket doc frequencies in
    * the TRAIN split (md5(doc_id) < 'cc', ~80%), bucketed into integer
    * steps {-2,-1,0,1,2} by exact cross-multiplication (rate ratio
    * >= 4x / >= 2x) — no log, no float, so model AND scores replay
    * bit-for-bit in DuckDB. Score = sum of the doc's bucket weights;
    * predicted = score >= 0, reported next to the true label and the
    * split flag so held-out accuracy is computable downstream.
    *
    * Shape at 100TB: bucket dfs are <= B rows BY CONSTRUCTION (one
    * map-side-combined shuffle over the hashed token stream), the
    * weight table broadcasts at any corpus size, and scoring is one
    * narrow map + one per-doc shuffle — the same posture as
    * q_dsir_weight, with a supervised label instead of an importance
    * target. */
  val qualityClassifier: Q = {
    val B = 2048
    Q(
      "q_quality_classifier",
      s"""WITH lab AS (SELECT doc_id,
         |    CASE WHEN source IN ('src0', 'src1', 'src2') THEN 1 ELSE 0 END AS label,
         |    CASE WHEN md5(CAST(doc_id AS VARCHAR)) < 'cc' THEN 1 ELSE 0 END AS is_train,
         |    text FROM documents),
         |db AS (SELECT DISTINCT doc_id, label, is_train,
         |    ${Hex.prefixSql("md5(tok)", 1, 8)} % $B AS b
         |  FROM lab, UNNEST(list_distinct(${Text.tokensSql("text")})) AS u(tok)),
         |n AS (SELECT SUM(label) AS n_pos, SUM(1 - label) AS n_neg
         |  FROM lab WHERE is_train = 1),
         |df AS (SELECT b, SUM(label) AS df_pos, SUM(1 - label) AS df_neg
         |  FROM db WHERE is_train = 1 GROUP BY b),
         |w AS (SELECT b,
         |    CASE WHEN (df_pos + 1) * (n_neg + 2) >= 4 * (df_neg + 1) * (n_pos + 2) THEN 2
         |         WHEN (df_pos + 1) * (n_neg + 2) >= 2 * (df_neg + 1) * (n_pos + 2) THEN 1
         |         WHEN (df_neg + 1) * (n_pos + 2) >= 4 * (df_pos + 1) * (n_neg + 2) THEN -2
         |         WHEN (df_neg + 1) * (n_pos + 2) >= 2 * (df_pos + 1) * (n_neg + 2) THEN -1
         |         ELSE 0 END AS w
         |  FROM df CROSS JOIN n),
         |sc AS (SELECT db.doc_id, SUM(COALESCE(w.w, 0)) AS score
         |  FROM db LEFT JOIN w ON db.b = w.b GROUP BY 1)
         |SELECT l.doc_id, CAST(l.label AS BIGINT) AS label,
         |  CAST(l.is_train AS BIGINT) AS is_train,
         |  CAST(COALESCE(sc.score, 0) AS BIGINT) AS score,
         |  CAST(CASE WHEN COALESCE(sc.score, 0) >= 0 THEN 1 ELSE 0 END AS BIGINT) AS predicted
         |FROM lab l LEFT JOIN sc ON l.doc_id = sc.doc_id
         |ORDER BY l.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.load(s, d, "documents")
        .repartition(Session.partitions(s))
      val lab = docs.select(col("doc_id"),
        col("source").isin("src0", "src1", "src2").cast(LongType).as("label"),
        (md5(col("doc_id").cast("string").cast("binary")) < "cc")
          .cast(LongType).as("is_train"),
        col("text"))
      val db = lab
        .select(col("doc_id"), col("label"), col("is_train"),
          explode(Text.shingleSetUdf(1)(col("text"))).as("tok"))
        .select(col("doc_id"), col("label"), col("is_train"),
          (Hex.prefix(md5(col("tok").cast("binary")), 1, 8) % B).as("b"))
        .distinct()
      val n = lab.filter(col("is_train") === 1)
        .agg(sum(col("label")).as("n_pos"),
          sum(lit(1L) - col("label")).as("n_neg"))
      val df = db.filter(col("is_train") === 1)
        .groupBy("b")
        .agg(sum(col("label")).as("df_pos"),
          sum(lit(1L) - col("label")).as("df_neg"))
      val w = df.crossJoin(broadcast(n))
        .select(col("b"),
          when((col("df_pos") + 1L) * (col("n_neg") + 2L) >=
            (col("df_neg") + 1L) * (col("n_pos") + 2L) * 4L, 2L)
            .when((col("df_pos") + 1L) * (col("n_neg") + 2L) >=
              (col("df_neg") + 1L) * (col("n_pos") + 2L) * 2L, 1L)
            .when((col("df_neg") + 1L) * (col("n_pos") + 2L) >=
              (col("df_pos") + 1L) * (col("n_neg") + 2L) * 4L, -2L)
            .when((col("df_neg") + 1L) * (col("n_pos") + 2L) >=
              (col("df_pos") + 1L) * (col("n_neg") + 2L) * 2L, -1L)
            .otherwise(0L).as("w"))
      val sc = db.join(broadcast(w), Seq("b"), "left")
        .groupBy("doc_id")
        .agg(sum(coalesce(col("w"), lit(0L))).as("score"))
      lab.select("doc_id", "label", "is_train")
        .join(sc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("label"), col("is_train"),
          coalesce(col("score"), lit(0L)).as("score"),
          when(coalesce(col("score"), lit(0L)) >= 0, 1L)
            .otherwise(0L).as("predicted"))
        .orderBy("doc_id")
    }
  }

  /** Blocklist term filter via one Aho-Corasick pass
    * ([[graft.text.AhoCorasick]] — CACM 1975): every occurrence of
    * every blocklist phrase counted in O(|text|) regardless of the
    * list size. The list mixes nested patterns ("scan" inside
    * "scan scan") and phrases, so the suffix/output links are
    * exercised in-query, not just in the spec.
    *
    * Shape at scale: the automaton builds once on the driver from the
    * (small) blocklist and ships in the closure — a pure map-side scan
    * behind the repartition, no shuffle, no join against a term table,
    * cost independent of pattern count. The oracle replays the exact
    * all-occurrences semantics by position enumeration (a greedy
    * replace()-count would undercount self-overlapping phrases). */
  val blocklistFilter: Q = Q(
    "q_blocklist_filter",
    """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
      |p AS (SELECT * FROM (VALUES ('scan'), ('scan scan'), ('slow'),
      |        ('table key'), ('fast merge'), ('big table')) AS t(pat)),
      |pos AS (SELECT unnest(range(1,
      |    (SELECT MAX(length(text)) FROM documents) + 1)) AS i),
      |m AS (SELECT d.doc_id, p.pat FROM d, p, pos
      |      WHERE i + length(pat) - 1 <= n
      |        AND substr(text, i, length(pat)) = pat),
      |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
      |               CAST(COUNT(DISTINCT pat) AS BIGINT) AS n_patterns
      |        FROM m GROUP BY doc_id)
      |SELECT d.doc_id, COALESCE(agg.n_hits, 0) AS n_hits,
      |  COALESCE(agg.n_patterns, 0) AS n_patterns,
      |  CASE WHEN COALESCE(agg.n_hits, 0) >= 4 THEN 'drop' ELSE 'keep' END
      |    AS verdict
      |FROM d LEFT JOIN agg ON d.doc_id = agg.doc_id
      |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    val ac = graft.text.AhoCorasick.build(Seq(
      "scan", "scan scan", "slow", "table key", "fast merge", "big table"))
    val countsUdf = udf((t: String) => ac.countAll(t))
    Tables.load(s, d, "documents")
      .repartition(32)
      .select(col("doc_id"), countsUdf(col("text")).as("c"))
      // 6-element arrays: the interpreted HOFs are off the hot path
      .select(col("doc_id"),
        aggregate(col("c"), lit(0L), (a, x) => a + x).as("n_hits"),
        size(filter(col("c"), _ > 0)).cast(LongType).as("n_patterns"))
      .withColumn("verdict",
        when(col("n_hits") >= 4, "drop").otherwise("keep"))
      .orderBy("doc_id")
  }

  /** Proximity (slop) phrase search over a positional inverted index:
    * docs where "table" is followed by "hash" within 2 token
    * positions. The plan is the real distributed phrase-query shape —
    * tokenize once into (doc, pos, term) postings, fetch the two
    * term posting lists by filter, intersect them with a doc-key
    * equi-join carrying the position-window predicate. At 100 TB the
    * postings table is the materialized inverted index partitioned by
    * term; each phrase query touches only its terms' postings, never
    * the raw text (contrast q_blocklist_filter's automaton, which is
    * the right shape when the PATTERN set is fixed and the text is
    * streamed).
    */
  val phraseProximity: Q = Q(
    "q_phrase_proximity",
    s"""WITH t AS (SELECT doc_id,
      |             ${Text.tokensSql("text")} AS toks
      |           FROM documents),
      |tok AS (SELECT doc_id, i AS pos, toks[i] AS w
      |        FROM t, (SELECT unnest(range(1,
      |         (SELECT COALESCE(MAX(len(toks)), 0) + 1 FROM t))) AS i) p
      |        WHERE i <= len(toks)),
      |m AS (SELECT a.doc_id, a.pos AS pa FROM tok a JOIN tok b
      |      ON a.doc_id = b.doc_id AND b.pos BETWEEN a.pos + 1 AND a.pos + 2
      |        AND b.w = 'hash'
      |      WHERE a.w = 'table')
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
      |  CAST(MIN(pa) AS BIGINT) AS first_pos
      |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    val tok = Tables.load(s, d, "documents")
      .repartition(32)
      .select(col("doc_id"), posexplode(toks))
      .select(col("doc_id"), (col("pos") + 1).cast(LongType).as("pos"),
        col("col").as("w"))
    val a = tok.filter(col("w") === "table")
      .select(col("doc_id"), col("pos").as("pa"))
    val b = tok.filter(col("w") === "hash")
      .select(col("doc_id").as("doc_b"), col("pos").as("pb"))
    a.join(b, col("doc_id") === col("doc_b") &&
        col("pb").between(col("pa") + 1, col("pa") + 2))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_matches"), min(col("pa")).as("first_pos"))
      .orderBy("doc_id")
  }

  /** Sparse tf-idf cosine retrieval over an inverted index — the
    * document-at-a-time lexical-search counterpart of the dense ANN
    * family: probe docs score the corpus through shared postings only,
    * never through full vectors. Weights are exact integers
    * (w = tf · (100000 // df), a truncated-reciprocal idf), and the
    * ranking key is cos² in exact parts-per-billion:
    * sim2_e9 = num² · 10⁹ div (‖a‖²·‖b‖²), computed in DECIMAL(38,0)
    * / HUGEINT because num² exceeds 64 bits — and Cauchy-Schwarz
    * bounds num² ≤ ‖a‖²·‖b‖², so num²·10⁹ ≤ na·nb·10⁹ stays inside
    * 38 digits for ANY data whose norms fit a BIGINT. sqrt-free on
    * purpose — cos² ranks identically to cos for the non-negative
    * weights here, and it stays IEEE-independent. No df-cap stopword
    * prune: this corpus's vocabulary is 31 terms with df ≈ 80% of N,
    * so any useful cap empties the index — the idf weight carries the
    * whole rare-term signal ('dup' at df≈5%N dominates every match
    * it appears in). On a natural-vocabulary corpus the production
    * prune (drop df > εN posting lists before the join) bolts onto
    * the `post` stage unchanged.
    *
    * Shape at 100TB: the posting list shuffles once on term (the
    * inverted-index build); probes' postings broadcast against it
    * (queries are tiny by construction), candidate pairs partial-sum
    * map-side, and only candidates that share ≥1 surviving term ever
    * materialize — the corpus is never pairwise-joined. The df cap
    * bounds the worst posting list, exactly the role stopword pruning
    * plays in production lexical engines. */
  val sparseCosine: Q = Q(
    "q_sparse_cosine",
    s"""WITH tok AS (SELECT doc_id,
      |    unnest(${Text.tokensSql("text")}) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
      |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      |post AS (SELECT t.doc_id, t.term, t.tf * (100000 // d.df) AS w
      |         FROM tf t JOIN df d ON t.term = d.term),
      |nrm AS (SELECT doc_id, CAST(SUM(w*w) AS BIGINT) AS n2 FROM post GROUP BY doc_id),
      |qp AS (SELECT doc_id AS probe_id, term, w AS wq FROM post
      |       WHERE doc_id % 19 = 0),
      |num AS (SELECT q.probe_id, p.doc_id, CAST(SUM(q.wq * p.w) AS BIGINT) AS num
      |        FROM qp q JOIN post p ON q.term = p.term
      |        WHERE p.doc_id <> q.probe_id GROUP BY 1, 2),
      |sim AS (SELECT n.probe_id, n.doc_id,
      |          CAST(CAST(n.num AS HUGEINT) * CAST(n.num AS HUGEINT) * 1000000000
      |               // (CAST(a.n2 AS HUGEINT) * CAST(b.n2 AS HUGEINT))
      |               AS BIGINT) AS sim2_e9
      |        FROM num n JOIN nrm a ON a.doc_id = n.probe_id
      |                   JOIN nrm b ON b.doc_id = n.doc_id),
      |rk AS (SELECT probe_id, doc_id, sim2_e9,
      |         ROW_NUMBER() OVER (PARTITION BY probe_id
      |                            ORDER BY sim2_e9 DESC, doc_id) AS rank
      |       FROM sim)
      |SELECT probe_id, rank, doc_id, sim2_e9 FROM rk WHERE rank <= 10
      |ORDER BY probe_id, rank""".stripMargin) { (s, d) =>
    graft.ops.TopK.perGroup(sparseSims(s, d, probeMod = 19L),
      partitionBy = Seq(col("probe_id")),
      orderBy = Seq(col("sim2_e9").desc, col("doc_id").asc),
      k = 10, rankCol = "rank")
      .select("probe_id", "rank", "doc_id", "sim2_e9")
      .orderBy("probe_id", "rank")
  }

  /** The (probe_id, doc_id, sim2_e9) similarity frame behind
    * [[sparseCosine]], parameterized on the probe gate so hybrid
    * fusion ([[DedupSim.hybridRrf]]) can score the q_ann_topk probe
    * set through the identical exact-integer pipeline. The dense
    * doc-vector index underneath is built ONCE per suite run and
    * shared across every consumer ([[RetrievalShared.docvecs]]);
    * only the probe-set scoring is per-query.
    */
  private[queries] def sparseSims(
      s: org.apache.spark.sql.SparkSession, d: String, probeMod: Long)
      : org.apache.spark.sql.DataFrame =
    RetrievalShared.sparseSims(s, d, probeMod)

  /** Whitespace/control-character text normalization — the cleanup
    * pass every crawl pipeline runs before tokenization (strip tabs /
    * CR / LF, collapse space runs, trim). The corpus is clean ASCII,
    * so noise is INJECTED deterministically first (leading/trailing
    * pad, a tab and double-space around every ' the ') — the
    * q_text_pii_redact non-vacuity trick — and the output proves the
    * normalizer INVERTS the injection exactly: `recovered` must be
    * true for every doc, and the cleaned text is fingerprinted so the
    * hash covers the full string, not just the flag. Regex stays
    * inside the `[\t\n\r]` / ' +' fragment both Java regex and RE2
    * read identically.
    *
    * Shape at 100TB: stateless per-row string work — no shuffle at
    * all until the output sort; at cluster scale this is a pure
    * map-only pass. */
  val textNormalize: Q = Q(
    "q_text_normalize",
    """WITH noisy AS (SELECT doc_id,
      |    text,
      |    concat('  ', replace(text, ' the ', concat('  the', chr(9), ' ')), chr(9))
      |      AS raw
      |  FROM documents),
      |cleaned AS (SELECT doc_id, text, raw,
      |    trim(regexp_replace(regexp_replace(raw, '[\t\n\r]', ' ', 'g'),
      |                        '  +', ' ', 'g'))
      |      AS clean
      |  FROM noisy)
      |SELECT doc_id,
      |  length(raw) - length(clean) AS n_shrunk,
      |  clean = text AS recovered,
      |  md5(clean) AS fp
      |FROM cleaned ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.load(s, d, "documents")
      .select(col("doc_id"), col("text"),
        expr("concat('  ', replace(text, ' the ', concat('  the', chr(9), ' ')), chr(9))")
          .as("raw"))
      .select(col("doc_id"), col("text"), col("raw"),
        expr("trim(regexp_replace(regexp_replace(raw, '[\\t\\n\\r]', ' '), '  +', ' '))")
          .as("clean"))
      .select(col("doc_id"),
        (length(col("raw")) - length(col("clean"))).as("n_shrunk"),
        (col("clean") === col("text")).as("recovered"),
        md5(col("clean").cast("binary")).as("fp"))
      .orderBy("doc_id")
  }

  val all: Seq[Q] = Seq(
    textTokens, textTokenCounts, textQuality, textLangId, docFingerprint,
    docWinnow, dedupExact, explodeTokensTyped,
    textRepetition, textPiiRedact, tfidfTerms, bm25TopK, bm25Fx, ngramLm,
    dsirWeight, qualityGate,
    lmScore, textNovelty, textRepeatExcise, qualityClassifier,
    blocklistFilter, phraseProximity, sparseCosine, textNormalize)
}
