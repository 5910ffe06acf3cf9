package graft.queries

import org.apache.spark.sql.functions._
import graft.{Q, Session, Tables}
import graft.functions.Hex
import graft.text.Text

/** Wave 31 — curation signals and featurization: integer Flesch-style
  * readability scoring (Flesch 1948; the education-value filter in
  * LLM data curation) and the feature-hashing trick (Weinberger et
  * al. 2009) with collision diagnostics. Readability stays exact by
  * counting vowel RUNS as syllables and fixed 16-word chunks as
  * sentence proxies (this corpus has no punctuation); hashing uses
  * the repo's md5-prefix integer idiom.
  */
object Wave31 {

  /** Per-document readability: words (whitespace tokens), syllables
    * (vowel runs — two regex replaces, run-marked minus run-deleted),
    * 16-word chunk count as the sentence proxy, and the Flesch score
    * in milli units
    *   206835 - (1015*words)//chunks - (84600*sylls)//words
    * with a CASE banding into easy/standard/hard. Every step is
    * integer; the regexes are plain character classes, which Spark
    * and DuckDB ('g' flag — CLAUDE.md) treat identically.
    *
    * Shape at 100TB: map-side string ops + no shuffle before the
    * output sort.
    */
  val textReadability: Q = Q(
    "q_text_readability",
    """WITH d AS (SELECT doc_id, lower(COALESCE(text, '')) AS t
      |  FROM documents),
      |m AS (SELECT doc_id,
      |    CAST(length(list_filter(string_split(t, ' '), x -> x <> ''))
      |      AS BIGINT) AS words,
      |    CAST(length(regexp_replace(t, '[aeiou]+', '#', 'g'))
      |      - length(regexp_replace(t, '[aeiou]+', '', 'g'))
      |      AS BIGINT) AS sylls
      |  FROM d),
      |s AS (SELECT doc_id, words, sylls,
      |    CAST((words + 15) // 16 AS BIGINT) AS chunks
      |  FROM m)
      |SELECT doc_id, words, sylls, chunks,
      |  CAST(CASE WHEN words > 0 THEN
      |      206835 - (1015 * words) // chunks - (84600 * sylls) // words
      |    END AS BIGINT) AS flesch_milli,
      |  CASE WHEN words = 0 THEN 'empty'
      |       WHEN 206835 - (1015 * words) // chunks
      |         - (84600 * sylls) // words >= 70000 THEN 'easy'
      |       WHEN 206835 - (1015 * words) // chunks
      |         - (84600 * sylls) // words >= 30000 THEN 'standard'
      |       ELSE 'hard' END AS band
      |FROM s ORDER BY doc_id""".stripMargin) { (s, d) =>
    val np = Session.partitions(s)
    Tables.load(s, d, "documents").repartition(np)
      .select(col("doc_id"),
        lower(coalesce(col("text"), lit(""))).as("t"))
      .select(col("doc_id"),
        expr("CAST(size(filter(split(t, ' '), x -> x <> '')) AS BIGINT)")
          .as("words"),
        expr("""CAST(length(regexp_replace(t, '[aeiou]+', '#'))
               |  - length(regexp_replace(t, '[aeiou]+', ''))
               |  AS BIGINT)""".stripMargin).as("sylls"))
      .withColumn("chunks", expr("CAST((words + 15) div 16 AS BIGINT)"))
      .select(col("doc_id"), col("words"), col("sylls"), col("chunks"),
        expr("""CAST(CASE WHEN words > 0 THEN
               |    206835 - (1015 * words) div chunks
               |    - (84600 * sylls) div words
               |  END AS BIGINT)""".stripMargin).as("flesch_milli"),
        expr("""CASE WHEN words = 0 THEN 'empty'
               |     WHEN 206835 - (1015 * words) div chunks
               |       - (84600 * sylls) div words >= 70000 THEN 'easy'
               |     WHEN 206835 - (1015 * words) div chunks
               |       - (84600 * sylls) div words >= 30000 THEN 'standard'
               |     ELSE 'hard' END""".stripMargin).as("band"))
      .orderBy("doc_id")
  }

  private val HashBuckets = 16

  /** The hashing trick's collision report: every corpus term hashes
    * to one of $HashBuckets buckets (md5-prefix integer — the repo's
    * deterministic hash idiom); per bucket the distinct-term load,
    * total term frequency and the lexicographically first member,
    * plus the global collision rate in ppm (terms beyond one per
    * occupied bucket). This is the diagnostic run before fixing a
    * hashed-feature dimension for a model.
    *
    * Shape at 100TB: one (doc,term)-free corpus tokenize straight
    * into a term-keyed aggregate (vocabulary-sized by Heaps' law),
    * then a bucket-keyed fold of the term dictionary; the one-row
    * totals broadcast back.
    */
  val featureHashing: Q = Q(
    "q_feature_hashing",
    s"""WITH tok AS (SELECT unnest(${Text.tokensSql("text")}) AS term
       |  FROM documents),
       |tf AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM tok GROUP BY 1),
       |hb AS (SELECT term, tf,
       |    ${Hex.prefixSql("md5(term)", 1, 8)} % $HashBuckets AS bucket
       |  FROM tf),
       |bk AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_terms,
       |    CAST(SUM(tf) AS BIGINT) AS total_tf,
       |    MIN(term) AS first_term
       |  FROM hb GROUP BY 1),
       |g AS (SELECT CAST(SUM(n_terms) AS BIGINT) AS v,
       |    CAST(COUNT(*) AS BIGINT) AS occupied FROM bk)
       |SELECT bk.bucket, bk.n_terms, bk.total_tf, bk.first_term,
       |  CAST((g.v - g.occupied) * 1000000 // g.v AS BIGINT)
       |    AS collision_ppm
       |FROM bk, g ORDER BY bk.bucket""".stripMargin) { (s, d) =>
    val np = Session.partitions(s)
    val tf = Tables.load(s, d, "documents").repartition(np)
      .select(explode(Text.tokens(col("text")))
        .as("term"))
      .groupBy("term").agg(count(lit(1)).as("tf"))
    val hb = tf.withColumn("bucket",
      Hex.prefix(md5(col("term").cast("binary")), 1, 8) % HashBuckets)
    val bk = hb.groupBy("bucket")
      .agg(count(lit(1)).as("n_terms"), sum("tf").as("total_tf"),
        min("term").as("first_term"))
    val g = bk.agg(sum("n_terms").as("v"), count(lit(1)).as("occupied"))
    bk.crossJoin(broadcast(g))
      .select(col("bucket"), col("n_terms"), col("total_tf"),
        col("first_term"),
        expr("CAST((v - occupied) * 1000000 div v AS BIGINT)")
          .as("collision_ppm"))
      .orderBy("bucket")
  }

  val all: Seq[Q] = Seq(textReadability, featureHashing)
}
