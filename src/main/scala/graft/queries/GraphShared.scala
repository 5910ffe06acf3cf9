package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Session, Tables}
import graft.ops.SharedFrames

/** The co-purchase graph's shared edge build, materialized once per
  * suite run via [[graft.ops.SharedFrames]] (the RetrievalShared
  * pattern applied to the graph family).
  *
  * Eight registry queries — q_triangle_count, q_graph_bfs,
  * q_graph_kcore, q_graph_labelprop (+ q_graph_modularity through
  * [[Wave10.lpaLabels]]), q_graph_linkpred, q_graph_assortativity,
  * q_graph_sssp and q_graph_ppr — define the SAME edge contract:
  * distinct (order, part) incidences, parts pairing within an order,
  * support >= 2 shared orders. Built per consumer, each would run its
  * own a-priori-pruned merge-hinted pair self-join (~1.5-2s each at
  * sf0.1); the first consumer pays one build and the rest read the
  * materialized RDD. Every consumer derives its own shape (oriented,
  * symmetric, weighted) with narrow ops whose rows are identical to
  * the inline build — hashes unchanged.
  *
  * Scale note: the checkpoint is executor-local RDD storage,
  * edge-list-sized (graph edges, not fact rows), partitioned on u —
  * exactly the frame a 100TB run would pin in cluster memory once
  * for the whole analysis session.
  */
object GraphShared {

  /** Support>=2 co-purchase pairs: (u, v, n) with u < v, n = number
    * of shared orders. A-priori pre-pruned (a pair with >= 2 shared
    * orders needs both parts in >= 2 order lines), merge-hinted so
    * the one big self-join is an SMJ over one exchange pair. */
  def pairs(s: SparkSession, d: String): DataFrame =
    SharedFrames.frame(s, d, "graph_pairs_ge2") {
      val np = Session.partitions(s)
      val li = Tables.load(s, d, "lineitem")
        .select("l_orderkey", "l_partkey").distinct()
      // a-priori prefilter: parts on >= 2 order lines. Part-grain
      // (data-sized), so NO broadcast hint — stats/AQE broadcast it
      // while it fits and degrade to a shuffled semi-join at cluster
      // scale (the registry-wide broadcast tripwire in PlanShapeSpec).
      val hot = Tables.load(s, d, "lineitem").groupBy("l_partkey")
        .agg(count(lit(1)).as("n_raw")).filter(col("n_raw") >= 2)
        .select("l_partkey")
      val lih = li.join(hot, Seq("l_partkey"), "left_semi")
      val a = lih.select(col("l_orderkey"), col("l_partkey").as("u"))
        .hint("merge")
      val b = lih.select(col("l_orderkey").as("okey_b"),
        col("l_partkey").as("v")).hint("merge")
      a.join(b, col("l_orderkey") === col("okey_b") && col("u") < col("v"))
        .groupBy("u", "v").agg(count(lit(1)).as("n"))
        .filter(col("n") >= 2)
        .repartition(np, col("u"))
    }

  /** Symmetric closure (u, v, n) — both directions of every pair. */
  def symmetric(s: SparkSession, d: String): DataFrame = {
    val p = pairs(s, d)
    p.unionAll(p.select(col("v").as("u"), col("u").as("v"), col("n")))
  }
}
