package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine capability: a Spark-first implementation plus (when the
  * semantics are ANSI-SQL-expressible) a DuckDB oracle formulation the
  * driver hash-matches against (SURVEY.md §2.B, §5.2).
  *
  * Oracle discipline (SURVEY.md §7.3): total ORDER BY with a unique
  * tiebreaker, explicit NULLS FIRST, exact-decimal aggregation
  * ([[graft.functions.Exact]]), epoch-ms for all timestamp arithmetic.
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def apply(name: String, oracle: String)(
      run: (SparkSession, String) => DataFrame): Q =
    Q(name, run, Some(oracle))

  def noOracle(name: String)(run: (SparkSession, String) => DataFrame): Q =
    Q(name, run, None)

  /** `text` run over frames: each `name -> frame` binds as a CTE over a
    * temp view with a fresh unique name, dropped before this returns.
    * The analyzed frame no longer needs the view, and the session's own
    * views (even one called `name`) are left as they were, so a query
    * can share its SQL text with its oracle without touching the
    * caller's catalog. */
  def sql(s: SparkSession, text: String, frames: (String, DataFrame)*): DataFrame = {
    val bound = frames.map { case (name, df) =>
      (name, df, s"graft_q_${java.util.UUID.randomUUID.toString.replace('-', '_')}")
    }
    try {
      bound.foreach { case (_, df, view) => df.createTempView(view) }
      s.sql(bound.map { case (name, _, view) => s"$name AS (SELECT * FROM $view)" }
        .mkString("WITH ", ",\n", "\n") + text)
    } finally bound.foreach { case (_, _, view) => s.catalog.dropTempView(view) }
  }
}
