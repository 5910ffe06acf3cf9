package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.text.Text

/** Wave 74 — LLM-evaluation aggregation primitives, part 4: the
  * classifier confusion/F1 report over the corpus language-ID
  * heuristic (the eval table every labeling pass prints), and
  * majority-vote stability (self-consistency, Wang et al. arXiv
  * 2203.11171: does the k-sample plurality answer match the
  * full-sample plurality — how many samples does the vote need).
  */
object Wave74 {

  /** q_eval_f1_langid: confusion counts and exact-ppm precision /
    * recall / F1 per language for the q_text_langid heuristic against
    * the labeled lang column — F1 = 2·tp·1e6 div (n_true + n_pred)
    * exactly (2tp+fp+fn = n_true+n_pred; no float harmonic mean).
    * The marker/argmax SQL is Text.langScoresSql / Text.langIdSql,
    * the same strings q_text_langid interpolates, so scorer and report
    * cannot drift.
    *
    * Shape at 100TB: one narrow marker-count map over docs, one
    * aggregate to the langs² confusion dictionary; everything after
    * is arithmetic on ≤ |langs| rows. */
  val evalF1Langid: Q = Q(
    "q_eval_f1_langid",
    s"""WITH t AS (SELECT doc_id, lang,
       |    ${Text.tokensSql("text")} AS toks
       |  FROM documents),
       |p AS MATERIALIZED (SELECT labeled, ${Text.langIdSql} AS pred FROM
       |  (SELECT doc_id, lang AS labeled, ${Text.langScoresSql} FROM t) sc),
       |cells AS MATERIALIZED (SELECT labeled, pred,
       |    CAST(COUNT(*) AS BIGINT) AS n
       |  FROM p GROUP BY 1, 2),
       |lt AS (SELECT labeled AS lang, CAST(SUM(n) AS BIGINT) AS n_true
       |  FROM cells GROUP BY 1),
       |lp AS (SELECT pred AS lang, CAST(SUM(n) AS BIGINT) AS n_pred
       |  FROM cells GROUP BY 1),
       |tp AS (SELECT labeled AS lang, n AS tp FROM cells
       |  WHERE labeled = pred)
       |SELECT lt.lang, lt.n_true, COALESCE(lp.n_pred, 0) AS n_pred,
       |  COALESCE(tp.tp, 0) AS tp,
       |  CASE WHEN COALESCE(lp.n_pred, 0) > 0
       |       THEN COALESCE(tp.tp, 0) * 1000000 // lp.n_pred
       |  END AS prec_ppm,
       |  COALESCE(tp.tp, 0) * 1000000 // lt.n_true AS rec_ppm,
       |  2 * COALESCE(tp.tp, 0) * 1000000
       |    // (lt.n_true + COALESCE(lp.n_pred, 0)) AS f1_ppm
       |FROM lt LEFT JOIN lp ON lp.lang = lt.lang
       |LEFT JOIN tp ON tp.lang = lt.lang
       |ORDER BY lt.lang""".stripMargin) { (s, d) =>
    // two-step language ID (r14): all marker counts in ONE compiled
    // UDF pass (the single-expression argmax inlined every score into
    // every CASE branch — ~46 interpreted size(filter(...)) per row),
    // then the argmax CASE folds over the projected ATTRIBUTES
    val scored = Tables.load(s, d, "documents")
      .select(col("lang").as("labeled"),
        Text.langScoresUdf(col("text")).as("sc"))
      .select(col("labeled") +:
        Text.langMarkers.zipWithIndex.map { case ((l, _), i) =>
          col("sc").getItem(i).as(s"s_$l") }: _*)
    val p = scored.select(col("labeled"),
      Text.langIdFromScores(
        Text.langMarkers.map { case (l, _) => l -> col(s"s_$l") })
        .as("pred"))
    val cells = p.groupBy("labeled", "pred").agg(count(lit(1)).as("n"))
    val lt = cells.groupBy(col("labeled").as("lang"))
      .agg(sum("n").as("n_true"))
    val lp = cells.groupBy(col("pred").as("lang"))
      .agg(sum("n").as("n_pred"))
    val tp = cells.filter(col("labeled") === col("pred"))
      .select(col("labeled").as("lang"), col("n").as("tp"))
    lt.join(lp, Seq("lang"), "left").join(tp, Seq("lang"), "left")
      .select(col("lang"), col("n_true"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .select(col("lang"), col("n_true"), col("n_pred"), col("tp"),
        expr("""CASE WHEN n_pred > 0
               |THEN tp * 1000000 div n_pred END""".stripMargin)
          .as("prec_ppm"),
        expr("tp * 1000000 div n_true").as("rec_ppm"),
        expr("2 * tp * 1000000 div (n_true + n_pred)").as("f1_ppm"))
      .orderBy("lang")
  }

  /** q_eval_majority: vote stability per brand — for every part with
    * ≥ 5 attempt rows (lineitems ordered by (orderkey, linenumber,
    * returnflag) — duplicates beyond that key share the answer, so the
    * first-3 multiset is order-insensitive), does the plurality
    * returnflag of the FIRST 3 attempts equal the full-sample
    * plurality? Plurality ties break to the lexicographically smallest
    * answer on both engines.
    *
    * Shape at 100TB: one task-partitioned attempt-rank window, two
    * (task, answer) count aggregates, two task-partitioned argmax
    * windows — everything task-keyed, nothing global. */
  val evalMajority: Q = Q(
    "q_eval_majority",
    """WITH a AS (SELECT l_partkey AS task, l_returnflag AS ans,
      |    ROW_NUMBER() OVER (PARTITION BY l_partkey
      |      ORDER BY l_orderkey, l_linenumber, l_returnflag) AS rn,
      |    COUNT(*) OVER (PARTITION BY l_partkey) AS n_att
      |  FROM lineitem),
      |t AS MATERIALIZED (SELECT * FROM a WHERE n_att >= 5),
      |cf AS (SELECT task, ans, CAST(COUNT(*) AS BIGINT) AS c FROM t
      |  GROUP BY 1, 2),
      |mf AS (SELECT task, ans AS maj_full FROM (
      |    SELECT task, ans, ROW_NUMBER() OVER (PARTITION BY task
      |      ORDER BY c DESC, ans) AS r FROM cf) z WHERE r = 1),
      |c3 AS (SELECT task, ans, CAST(COUNT(*) AS BIGINT) AS c FROM t
      |  WHERE rn <= 3 GROUP BY 1, 2),
      |m3 AS (SELECT task, ans AS maj_3 FROM (
      |    SELECT task, ans, ROW_NUMBER() OVER (PARTITION BY task
      |      ORDER BY c DESC, ans) AS r FROM c3) z WHERE r = 1)
      |SELECT p.p_brand AS brand,
      |  CAST(COUNT(*) AS BIGINT) AS n_tasks,
      |  CAST(SUM(CASE WHEN m3.maj_3 = mf.maj_full THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_stable,
      |  CAST(SUM(CASE WHEN m3.maj_3 = mf.maj_full THEN 1 ELSE 0 END)
      |    * 1000000 // COUNT(*) AS BIGINT) AS stable_ppm
      |FROM mf JOIN m3 ON m3.task = mf.task
      |JOIN part p ON p.p_partkey = mf.task
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val byTask = Window.partitionBy("task")
      .orderBy("l_orderkey", "l_linenumber", "ans")
    val a = Tables.load(s, d, "lineitem")
      .select(col("l_partkey").as("task"), col("l_returnflag").as("ans"),
        col("l_orderkey"), col("l_linenumber"))
      .withColumn("rn", row_number().over(byTask))
      .withColumn("n_att",
        count(lit(1)).over(Window.partitionBy("task")))
    val t = a.filter(col("n_att") >= 5)
    def plurality(counts: org.apache.spark.sql.DataFrame, out: String) = {
      val byC = Window.partitionBy("task")
        .orderBy(col("c").desc, col("ans"))
      counts.withColumn("r", row_number().over(byC))
        .filter(col("r") === 1).select(col("task"), col("ans").as(out))
    }
    val mf = plurality(
      t.groupBy("task", "ans").agg(count(lit(1)).as("c")), "maj_full")
    val m3 = plurality(
      t.filter(col("rn") <= 3).groupBy("task", "ans")
        .agg(count(lit(1)).as("c")), "maj_3")
    mf.join(m3, "task")
      .join(Tables.load(s, d, "part")
        .select(col("p_partkey").as("task"), col("p_brand").as("brand")),
        "task")
      .groupBy("brand")
      .agg(count(lit(1)).as("n_tasks"),
        sum(when(col("maj_3") === col("maj_full"), 1L).otherwise(0L))
          .as("n_stable"))
      .select(col("brand"), col("n_tasks"), col("n_stable"),
        expr("n_stable * 1000000 div n_tasks").as("stable_ppm"))
      .orderBy("brand")
  }

  val all: Seq[Q] = Seq(evalF1Langid, evalMajority)
}
