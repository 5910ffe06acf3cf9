package graft.ops

import scala.annotation.tailrec
import org.apache.spark.sql.{Column, DataFrame}

/** The round loop over one carried frame. Connected components,
  * k-core, the SCC peel, SSSP, closeness and personalized PageRank run
  * through it, so the materialization and stop rules live in one place
  * and have no setting:
  *
  *  - The initial frame and every round's output get a LAZY
  *    `localCheckpoint(false)`. A per-round cut keeps the plan linear:
  *    a step that reads the carried frame twice (k-core's two endpoint
  *    semi-joins, a carried-forward-and-relaxed distance frame)
  *    otherwise doubles the logical plan per round, 2^R by the end,
  *    and `persist` does not truncate lineage (r8b, r9). Lazy rather
  *    than eager, because a chain whose final frame feeds several
  *    branches (result + witness) is then computed once, with no
  *    scheduled job per round (r8c; eager per-round checkpoints did
  *    not help there and split big reused exchanges in PageRank).
  *  - With a witness, each round runs ONE action, `agg(witness)` on the
  *    new frame; that action is also the checkpoint's materialization
  *    (r15), so a round costs the aggregate's jobs and nothing more.
  *    The loop stops at the first round whose witness equals the
  *    previous round's, or when the budget runs out.
  *  - Without a witness, no action runs: the rounds fold into the
  *    consumer's DAG.
  *
  * The early stop is exact only for a MONOTONE witness — an aggregate
  * that stays the same exactly when no row changed (a SUM over labels
  * that only decrease, a COUNT over a set that only shrinks). A round
  * that changes nothing then makes every later round the identity, so
  * the result equals running the full budget (r13).
  *
  * Loops that carry two frames, rebuild fresh leaves (Boruvka's
  * `createDataFrame(ck.rdd, schema)`), checkpoint inside the round or
  * run a driver pick per round stay hand-written.
  */
object Iterate {

  /** Runs `step` from `init` for at most `rounds` rounds. Returns the
    * final frame and whether a round changed nothing (always false
    * without a witness). */
  def apply(init: DataFrame, rounds: Int, witness: Option[Column] = None)(
      step: DataFrame => DataFrame): (DataFrame, Boolean) = {
    // `raw` is the initial frame or the last step's output; `last` is
    // the previous frame's witness value
    @tailrec def loop(raw: DataFrame, last: Option[Any], left: Int): (DataFrame, Boolean) = {
      val cur = raw.localCheckpoint(false)
      val now = witness.map(w => cur.agg(w).head().get(0))
      if (now.isDefined && now == last) (cur, true)
      else if (left == 0) (cur, false)
      else loop(step(cur), now, left - 1)
    }
    loop(init, None, rounds)
  }
}
