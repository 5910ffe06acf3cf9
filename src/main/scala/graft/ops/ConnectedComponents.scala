package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an edge list — the step that turns a
  * near-duplicate PAIR list (minhash/simhash/cosine candidates) into
  * dedup CLUSTERS with one canonical keeper per cluster.
  *
  * Algorithm: min-label propagation with a POINTER-DOUBLING shortcut.
  * Every node starts labeled with itself; each round every node takes
  * the minimum label in its closed neighborhood, then compresses one
  * pointer hop (component := component's component — valid because a
  * label is always itself a node id). The neighborhood step alone moves
  * labels one hop per round (a duplicate group chained as a path of n
  * needs n rounds — a data-size-dependent failure); the doubling step
  * halves the remaining pointer depth each round, giving O(log n)
  * convergence on any topology — the same shortcutting idea as the
  * large-star rewiring of Kiveris et al., "Connected Components in
  * MapReduce and Beyond" (SoCC 2014), expressed as one extra self-join
  * per round instead of edge rewrites. One round = two shuffle joins +
  * one aggregate — all-scalable primitives, no driver-side graph.
  *
  * The rounds run through [[Iterate]] with `SUM(component)` as the
  * fixed-point witness: labels only decrease and the node set is fixed,
  * so the sum is unchanged exactly when no label moved.
  */
object ConnectedComponents {

  /** Round cap; pointer doubling converges in O(log n) rounds. */
  private val MaxIter = 64

  /** Labels every node of `edges` (long cols `src`, `dst`; direction
    * ignored) plus every node of `nodes` with its component's minimum
    * node id. Returns (node, component). */
  def labels(
      nodes: DataFrame, // single long col "node" (includes isolated nodes)
      edges: DataFrame): DataFrame = {
    // symmetric closure once, checkpointed: reused every round
    val sym = edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint()
    val init = nodes.select(col("node"), col("node").as("component"))
    val witness = sum(col("component").cast("decimal(38,0)"))
    val (labels, converged) = Iterate(init, MaxIter, Some(witness)) { lab =>
      // min label over the closed neighborhood (self + neighbors)
      val fromNeighbors = sym
        .join(lab, sym("src") === lab("node"))
        .groupBy(col("dst").as("node"))
        .agg(min(col("component")).as("nc"))
      val hop = lab
        .join(fromNeighbors, Seq("node"), "left")
        .select(col("node"),
          least(col("component"), coalesce(col("nc"), col("component")))
            .as("component"))
      // pointer doubling: follow the label one more hop (labels are node
      // ids, monotonically decreasing, so the lookup always resolves and
      // only ever lowers the label further)
      hop
        .join(hop.select(col("node").as("component"),
          col("component").as("cc")), Seq("component"))
        .select(col("node"), col("cc").as("component"))
    }
    require(converged, s"not converged after $MaxIter rounds (pointer " +
      "doubling bounds this at O(log n) — a graph needing more is a bug)")
    labels
  }
}
