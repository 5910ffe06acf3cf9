package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry-wide SharedFrames tripwire: after a full registry pass,
  * every suite-shared build must have materialized EXACTLY once, and
  * the known shared families must actually ride the memo. The
  * per-family reference-equality pins in PlanShapeSpec catch a family
  * whose consumers stop sharing; this catches the other two
  * regressions — a key that builds twice (memo bypass / key drift
  * between call sites) and a family that silently stops registering
  * builds at all (e.g. a refactor that drops the memoKey argument).
  */
class SharedBuildSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  test("full registry pass: every shared (dir, name) builds exactly " +
    "once, and the LPA/BPE/spans/PQ/retrieval families ride the memo") {
    import graft.ops.SharedFrames
    // Fresh epoch: earlier suites may have already built frames (memo
    // hits leave no build entry), so drop both the memo and the log —
    // this pass, at one dir, must rebuild everything itself.
    SharedFrames.releaseAll()
    SharedFrames.clearBuildLog()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, f) =>
      SharedFrames.setPayer(name)
      f(spark, SharedSpark.sf001).count()
    }
    val builds = SharedFrames.paidBuilds.toSeq
      .flatMap { case (payer, ns) => ns.map(n => (n, payer)) }
    val dup = builds.groupBy(_._1).filter(_._2.size > 1)
    assert(dup.isEmpty,
      "shared names built more than once per suite:\n" + dup.map {
        case (n, xs) => s"  $n by ${xs.map(_._2).mkString(", ")}"
      }.mkString("\n"))
    val names = builds.map(_._1).toSet
    val expectedPrefixes = Seq(
      "lpa_", "bpe_trained", "substring_spans", "ivfpq_", "pqraw_",
      "graph_pairs_ge2", "docvecs", "sparse_top20", "dense_top20",
      "graft_b_tables")
    val missing =
      expectedPrefixes.filterNot(p => names.exists(_.startsWith(p)))
    assert(missing.isEmpty,
      s"shared families no longer riding the SharedFrames memo: " +
        missing.mkString(", ") + s" (saw: ${names.toSeq.sorted.mkString(", ")})")
    SharedFrames.setPayer("")
  }
}
