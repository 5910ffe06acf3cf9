package graft.queries

import org.apache.spark.sql.functions._

import graft.{Q, Session, Tables}
import graft.text.Text

/** Wave 68 — per-document duplicated-passage COVERAGE: the
  * memorization-risk audit (Lee et al. arXiv 2107.06499 §4; Carlini
  * et al. 2202.07646 tie extraction risk to duplication). Where
  * q_dup_passages lists the corpus's duplicated 8-grams, this scores
  * each DOCUMENT by how much of it is made of them — the per-doc
  * signal a curation pass thresholds on ("mostly boilerplate, drop or
  * down-weight").
  */
object Wave68 {

  /** q_text_dupgram_coverage: for every doc with >= 1 word-8-gram
    * position, the count of positions whose 8-gram occurs in >= 2
    * DISTINCT documents (within-doc repeats alone do not count — the
    * q_dup_passages contract), and the coverage in exact ppm.
    *
    * Shape at 100TB: one compiled shingle pass (positions kept), one
    * passage-keyed aggregate whose n_docs >= 2 filter drops the
    * singleton long tail at the first shuffle, one passage-keyed
    * left-semi back onto the position rows, two doc-keyed map-side-
    * combined aggregates. Never a self-join, never all-pairs. */
  val textDupgramCoverage: Q = Q(
    "q_text_dupgram_coverage",
    s"""WITH d AS (SELECT doc_id,
      |    ${Text.tokensSql("text")} AS toks
      |  FROM documents),
      |sh AS (SELECT doc_id,
      |    toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
      |      || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' || toks[i+6]
      |      || ' ' || toks[i+7] AS passage
      |  FROM d, (SELECT unnest(range(1,
      |          (SELECT COALESCE(MAX(len(toks)), 0) + 1 FROM d))) AS i) p
      |  WHERE i <= len(toks) - 7),
      |dupg AS (SELECT passage FROM (
      |    SELECT passage, COUNT(DISTINCT doc_id) AS nd FROM sh GROUP BY 1) t
      |  WHERE nd >= 2),
      |tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_pos
      |  FROM sh GROUP BY 1),
      |dup AS (SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup
      |  FROM sh s JOIN dupg g ON g.passage = s.passage GROUP BY 1)
      |SELECT tot.doc_id, tot.n_pos,
      |  COALESCE(dup.n_dup, 0) AS n_dup_pos,
      |  COALESCE(dup.n_dup, 0) * 1000000 // tot.n_pos AS dup_coverage_ppm
      |FROM tot LEFT JOIN dup ON dup.doc_id = tot.doc_id
      |ORDER BY tot.doc_id""".stripMargin) { (s, d) =>
    val sh8 = Text.shingleListUdf(8) // positions kept (repeats count)
    val sh = Tables.load(s, d, "documents")
      .repartition(Session.partitions(s))
      .select(col("doc_id"), explode(sh8(col("text"))).as("passage"))
    val dupg = sh.select("passage", "doc_id").distinct()
      .groupBy("passage").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select("passage")
    val tot = sh.groupBy("doc_id").agg(count(lit(1)).as("n_pos"))
    val dup = sh.join(dupg, Seq("passage"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup"))
    tot.join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_pos"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup_pos"),
        expr("COALESCE(n_dup, 0) * 1000000 div n_pos")
          .as("dup_coverage_ppm"))
      .orderBy("doc_id")
  }

  val all: Seq[Q] = Seq(textDupgramCoverage)
}
