package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Session, Tables}

/** Wave 28 — assignment and apportionment: parallel greedy bipartite
  * matching by the local-max rule (Hoepman 2004; the MapReduce
  * matching staple — a pair matches when each endpoint is the other's
  * best remaining option) and largest-remainder (Hare quota) seat
  * apportionment. Both are exact-integer with total tie orders, so
  * the greedy paths are deterministic cross-engine.
  */
object Wave28 {

  private val MatchRounds = 8

  /** Local-max bipartite matching of suppliers to parts by shipped
    * quantity (the affinity matrix every procurement/assignment
    * problem starts from): each round, every supplier points at its
    * best remaining part and every part at its best remaining
    * supplier (affinity desc, partner id asc — a total order), MUTUAL
    * pairs lock in, matched endpoints leave. $MatchRounds fixed
    * rounds; extra rounds no-op once no mutual pairs remain, so the
    * engine may stop early while the oracle unrolls them all —
    * identical output either way. Local-max yields a maximal matching
    * with at least half the maximum weight's CARDINALITY guarantee —
    * the standard scale trade against the inherently serial exact
    * greedy.
    *
    * Shape at 100TB: each round is two key-partitioned argmax windows
    * + one equi-join for mutuality + two anti-joins to retire
    * endpoints; the edge frame shrinks monotonically and carries
    * fresh-leaf checkpoints (the Boruvka stats lesson).
    */
  val bipartiteMatch: Q = {
    def roundSql(r: Int): String = {
      val prev = if (r == 1) "e0" else s"e${r - 1}"
      s"""bs$r AS (SELECT s, p FROM (SELECT s, p,
         |    ROW_NUMBER() OVER (PARTITION BY s ORDER BY a DESC, p) AS rn
         |  FROM $prev) t WHERE rn = 1),
         |bp$r AS (SELECT s, p FROM (SELECT s, p,
         |    ROW_NUMBER() OVER (PARTITION BY p ORDER BY a DESC, s) AS rn
         |  FROM $prev) t WHERE rn = 1),
         |m$r AS (SELECT bs$r.s, bs$r.p FROM bs$r
         |  JOIN bp$r ON bp$r.s = bs$r.s AND bp$r.p = bs$r.p),
         |e$r AS MATERIALIZED (SELECT e.s, e.p, e.a FROM $prev e
         |  WHERE e.s NOT IN (SELECT s FROM m$r)
         |    AND e.p NOT IN (SELECT p FROM m$r))""".stripMargin
    }
    val rounds = (1 to MatchRounds).map(roundSql).mkString(",\n")
    val sels = (1 to MatchRounds)
      .map(r => s"SELECT s, p FROM m$r").mkString("\n  UNION ALL ")
    Q(
      "q_bipartite_match",
      s"""WITH e0 AS MATERIALIZED (SELECT l_suppkey AS s, l_partkey AS p,
         |    CAST(SUM(CAST(ROUND(l_quantity, 0) AS BIGINT)) AS BIGINT) AS a
         |  FROM lineitem GROUP BY 1, 2),
         |$rounds,
         |mm AS (SELECT s, p FROM ($sels) z)
         |SELECT e0.s, e0.p, e0.a FROM mm JOIN e0 ON e0.s = mm.s
         |  AND e0.p = mm.p
         |ORDER BY e0.s, e0.p""".stripMargin) { (s, d) =>
      val np = Session.partitions(s)
      // PLAIN localCheckpoint (r13, the q_graph_scc lesson): the
      // fresh-leaf rebuild's per-read Row round-trip taxes the
      // edge-sized frame once per matching round; per-round refs are
      // few, so snapshot-stats growth stays additive (no Boruvka
      // wedge).
      def ckptLeaf(df: DataFrame): DataFrame = df.localCheckpoint(true)
      val e0 = ckptLeaf(Tables.load(s, d, "lineitem").repartition(np)
        .groupBy(col("l_suppkey").as("s"), col("l_partkey").as("p"))
        .agg(sum(expr("CAST(ROUND(l_quantity, 0) AS BIGINT)")).as("a")))
      var edges = e0
      var matched: DataFrame = null
      var done = false
      for (_ <- 1 to MatchRounds if !done) {
        // r15 (guide §2.3, aggregate before you shuffle): each side's
        // best-remaining-partner is an argmax under the total order
        // (a DESC, partner ASC) — unique per key since (s, p) pairs
        // are distinct after the e0 groupBy — so the ROW_NUMBER
        // windows (full shuffle + SORT of the edge frame, twice per
        // round) collapse to max_by hash aggregates with map-side
        // partial combine: one partial row per (mapper, key) crosses
        // the wire, no sort. struct(a, -partner) orders ties toward
        // the smaller partner id, exactly the window's ORDER BY.
        val bs = edges.groupBy("s")
          .agg(max_by(col("p"), struct(col("a"), (-col("p")).as("np")))
            .as("p"))
          .select("s", "p")
        val bp = edges.groupBy("p")
          .agg(max_by(col("s"), struct(col("a"), (-col("s")).as("ns")))
            .as("s"))
          .select(col("s").as("s2"), col("p").as("p2"))
        val m = ckptLeaf(
          bs.join(bp, col("p") === col("p2") && col("s") === col("s2"))
            .select(col("s"), col("p")))
        matched = if (matched == null) m else matched.unionAll(m)
        edges = ckptLeaf(edges
          .join(broadcast(m.select(col("s"))), Seq("s"), "left_anti")
          .join(broadcast(m.select(col("p"))), Seq("p"), "left_anti"))
        // r15: also stop when NO edges remain — every later round's
        // mutual set is empty by construction (the old loop ran one
        // more full round just to observe that). Output-identical:
        // the oracle's remaining m$r CTEs are empty selects.
        done = m.isEmpty || edges.isEmpty
      }
      matched.join(e0, Seq("s", "p"))
        .select(col("s"), col("p"), col("a"))
        .orderBy("s", "p")
    }
  }

  /** Largest-remainder (Hare quota) apportionment of 100 sampling
    * slots across nations by revenue: each nation's floor share
    * rev*100 // total, the leftover slots to the largest remainders
    * (ties to the smaller nation key) — exactly how proportional
    * sampling quotas, shard budgets and parliamentary seats divide an
    * integer among weights with zero drift (the allocation sums to
    * 100 by construction; Wave28Spec asserts it).
    *
    * Shape at 100TB: one nation-keyed aggregate to a 25-row
    * dictionary; everything after runs on [[graft.ops.BoundedWindow]]
    * frames.
    */
  val quotaLargestRemainder: Q = Q(
    "q_quota_largest_remainder",
    """WITH r AS (SELECT c.c_nationkey AS nk,
      |    CAST(SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT))
      |      AS BIGINT) AS rev
      |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      |  GROUP BY 1),
      |t AS (SELECT CAST(SUM(rev) AS BIGINT) AS tot FROM r),
      |fl AS (SELECT r.nk, r.rev, r.rev * 100 // t.tot AS base,
      |    r.rev * 100 % t.tot AS rem
      |  FROM r, t),
      |lt AS (SELECT CAST(100 - SUM(base) AS BIGINT) AS leftover FROM fl),
      |rk AS (SELECT nk, rev, base, rem,
      |    ROW_NUMBER() OVER (ORDER BY rem DESC, nk) AS rr
      |  FROM fl)
      |SELECT rk.nk, rk.rev, CAST(rk.base AS BIGINT) AS base,
      |  CAST(rk.base + CASE WHEN rk.rr <= lt.leftover THEN 1 ELSE 0 END
      |    AS BIGINT) AS slots
      |FROM rk, lt ORDER BY rk.nk""".stripMargin) { (s, d) =>
    import graft.ops.BoundedWindow
    val cust = Tables.load(s, d, "customer")
      .select(col("c_custkey").as("o_custkey"),
        col("c_nationkey").cast("long").as("nk"))
    val r = Tables.load(s, d, "orders")
      .join(cust, "o_custkey")
      .groupBy("nk")
      .agg(sum(expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)"))
        .as("rev"))
    val t = r.agg(sum("rev").as("tot"))
    val fl = r.crossJoin(broadcast(t))
      .select(col("nk"), col("rev"),
        expr("rev * 100 div tot").as("base"),
        expr("rev * 100 % tot").as("rem"))
    val lt = fl.agg((lit(100L) - sum("base")).as("leftover"))
    val rk = fl.withColumn("rr", row_number().over(
      BoundedWindow.singleRef(col("rem"), col("rem").desc, col("nk").asc)))
    rk.crossJoin(broadcast(lt))
      .select(col("nk"), col("rev"), col("base").cast("long").as("base"),
        expr("CAST(base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS BIGINT)")
          .as("slots"))
      .orderBy("nk")
  }

  val all: Seq[Q] = Seq(bipartiteMatch, quotaLargestRemainder)
}
