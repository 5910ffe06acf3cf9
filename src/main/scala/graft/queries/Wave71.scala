package graft.queries

import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.text.Text

/** Wave 71 — corpus-curation forensics: Burrows' Delta authorship/
  * style distance between sources (Burrows 2002 "Delta: a measure of
  * stylistic difference"; the source-attribution audit a mixed-crawl
  * corpus runs before weighting sources) and asymmetric CONTAINMENT
  * near-dup detection (Broder 1997 §2 defines containment c(A,B) =
  * |A∩B|/|A| next to resemblance — it catches doc-inside-doc
  * duplication that symmetric Jaccard under-scores).
  */
object Wave71 {

  /** The function-word panel: high-frequency corpus words, fixed
    * literal in BOTH engines (Burrows' method prescribes the top-N
    * most frequent words; this corpus's generator vocabulary is
    * SF-stable, so the panel is too). */
  private val Panel = Seq("the", "a", "scan", "column", "window", "order",
    "sort", "part", "agg", "value", "key", "join")

  /** q_text_burrows_delta: per-source relative frequencies of the
    * panel words in ppm, per-word corpus mean and population std over
    * sources (m-form variance, floor(sqrt) — the one IEEE-exact libm
    * call), z-scores in milli, and Delta(a,b) = mean |z_a − z_b| over
    * the panel for every source pair.
    *
    * Shape at 100TB: the token explode filters to the 12-word panel
    * BEFORE any shuffle; one aggregate to the (source × word) grid
    * (bounded: sources × 12) plus one per-source total — everything
    * after runs on dictionary-grain rows. */
  val burrowsDelta: Q = {
    val panelSql = Panel.map(w => s"('$w')").mkString(", ")
    val panelIn = Panel.map(w => s"'$w'").mkString(", ")
    Q(
      "q_text_burrows_delta",
      s"""WITH d AS MATERIALIZED (SELECT source,
         |    ${Text.tokensSql("text")} AS toks
         |  FROM documents),
         |tot AS MATERIALIZED (SELECT source,
         |    CAST(SUM(len(toks)) AS BIGINT) AS n_toks
         |  FROM d GROUP BY 1),
         |cnt AS MATERIALIZED (SELECT source, tok,
         |    CAST(COUNT(*) AS BIGINT) AS c
         |  FROM (SELECT source, unnest(toks) AS tok FROM d) z
         |  WHERE tok IN ($panelIn) GROUP BY 1, 2),
         |grid AS MATERIALIZED (
         |  SELECT t.source, p.tok,
         |    COALESCE(c.c, 0) * 1000000 // t.n_toks AS f_ppm
         |  FROM tot t CROSS JOIN (VALUES $panelSql) p(tok)
         |  LEFT JOIN cnt c ON c.source = t.source AND c.tok = p.tok),
         |st AS MATERIALIZED (
         |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(f_ppm) AS BIGINT) AS s,
         |    CAST(SUM(f_ppm * f_ppm) AS BIGINT) AS s2
         |  FROM grid GROUP BY 1),
         |z AS MATERIALIZED (
         |  SELECT g.source, g.tok,
         |    CASE WHEN CAST(FLOOR(SQRT((st.n * st.s2 - st.s * st.s)
         |                              // (st.n * st.n))) AS BIGINT) > 0
         |         THEN (g.f_ppm * st.n - st.s) * 1000
         |              // (CAST(FLOOR(SQRT((st.n * st.s2 - st.s * st.s)
         |                                  // (st.n * st.n))) AS BIGINT)
         |                 * st.n)
         |         ELSE 0 END AS z_milli
         |  FROM grid g JOIN st ON st.tok = g.tok)
         |SELECT a.source AS source_a, b.source AS source_b,
         |  CAST(SUM(ABS(a.z_milli - b.z_milli)) // ${Panel.size} AS BIGINT)
         |    AS delta_milli
         |FROM z a JOIN z b ON a.tok = b.tok AND a.source < b.source
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val docs = Tables.load(s, d, "documents")
        .select(col("source"),
          Text.tokens(col("text")).as("toks"))
      val tot = docs.groupBy("source")
        .agg(sum(size(col("toks")).cast("long")).as("n_toks"))
      val cnt = docs
        .select(col("source"), explode(col("toks")).as("tok"))
        .filter(col("tok").isin(Panel: _*))
        .groupBy("source", "tok").agg(count(lit(1)).as("c"))
      import s.implicits._
      val panel = Panel.toDF("tok")
      val grid = tot.crossJoin(broadcast(panel))
        .join(cnt, Seq("source", "tok"), "left")
        .select(col("source"), col("tok"),
          expr("COALESCE(c, 0) * 1000000 div n_toks").as("f_ppm"))
      val st = grid.groupBy("tok")
        .agg(count(lit(1)).as("n"), sum(col("f_ppm")).as("s"),
          sum(col("f_ppm") * col("f_ppm")).as("s2"))
      // z·milli multiplied through the common denominator: the
      // mean's div n folds into ONE truncating division by (σ·n)
      val z = grid.join(st, "tok")
        .select(col("source"), col("tok"),
          expr("""CASE WHEN CAST(FLOOR(SQRT((n * s2 - s * s)
                 |                          div (n * n))) AS BIGINT) > 0
                 |THEN (f_ppm * n - s) * 1000
                 |     div (CAST(FLOOR(SQRT((n * s2 - s * s)
                 |                          div (n * n))) AS BIGINT) * n)
                 |ELSE 0 END""".stripMargin).as("z_milli"))
      z.as("a")
        .join(z.as("b"),
          col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"),
          col("b.source").as("source_b"))
        .agg(expr(s"SUM(ABS(a.z_milli - b.z_milli)) div ${Panel.size}")
          .as("delta_milli"))
        .orderBy("source_a", "source_b")
    }
  }

  /** q_dedup_containment: asymmetric set containment over the 3-gram
    * shingle sets — c(A→B) = |A∩B|·1e6 div |A| — for the df-capped
    * candidate pairs, keeping pairs where either direction ≥ 0.5.
    * A near-1e6 one-sided containment with low Jaccard is exactly the
    * quote-expansion / doc-inside-doc case resemblance misses.
    *
    * Shape at 100TB: identical candidate discipline to
    * q_dedup_ngram_jaccard (one shingle exchange feeds the df-cap
    * window and both merge-hinted join sides; the df cap bounds the
    * quadratic term); containment is arithmetic on the pair rows. */
  val dedupContainment: Q = Q(
    "q_dedup_containment",
    s"""WITH ${DedupSim.shingleSql},
       |shc AS (SELECT doc_id, shingle FROM (
       |          SELECT doc_id, shingle,
       |                 COUNT(*) OVER (PARTITION BY shingle) AS df
       |          FROM sh) WHERE df <= ${DedupSim.ShingleDfCap}),
       |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh
       |       GROUP BY doc_id),
       |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |            CAST(COUNT(*) AS BIGINT) AS common
       |          FROM shc a JOIN shc b
       |            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2),
       |ct AS (SELECT doc_a, doc_b, common, sa.n AS n_a, sb.n AS n_b,
       |         common * 1000000 // sa.n AS cont_a_ppm,
       |         common * 1000000 // sb.n AS cont_b_ppm
       |       FROM pairs JOIN sz sa ON doc_a = sa.doc_id
       |                  JOIN sz sb ON doc_b = sb.doc_id)
       |SELECT doc_a, doc_b, common, n_a, n_b, cont_a_ppm, cont_b_ppm,
       |  CAST(CASE WHEN GREATEST(cont_a_ppm, cont_b_ppm) >= 900000
       |       THEN 1 ELSE 0 END AS BIGINT) AS near_subset
       |FROM ct
       |WHERE GREATEST(cont_a_ppm, cont_b_ppm) >= 500000
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    DedupSim.jaccardPairs(s, d)
      .select(col("doc_a"), col("doc_b"), col("common"),
        col("n_a"), col("n_b"),
        expr("common * 1000000 div n_a").as("cont_a_ppm"),
        expr("common * 1000000 div n_b").as("cont_b_ppm"))
      .filter(greatest(col("cont_a_ppm"), col("cont_b_ppm")) >= 500000L)
      .withColumn("near_subset",
        when(greatest(col("cont_a_ppm"), col("cont_b_ppm")) >= 900000L, 1L)
          .otherwise(0L))
      .orderBy("doc_a", "doc_b")
  }

  val all: Seq[Q] = Seq(burrowsDelta, dedupContainment)
}
