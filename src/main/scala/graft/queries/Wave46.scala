package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Session, Tables}
import graft.ops.Iterate

/** Wave 46 — directed-graph structure: strongly connected components
  * of the linenumber-oriented co-purchase flow digraph (fixed-round
  * forward/backward min-label peeling — the parallel FW-BW algorithm),
  * and Granovetter tie-strength / local-bridge analysis per edge of
  * the shared undirected graph.
  */
object Wave46 {

  /** Min-label propagation rounds per peel. R = 6 settles every
    * vertex at sf0.001/0.01/0.1 (validated against an exact Tarjan
    * run; the digraph is a short-diameter hairball); vertices still
    * unsettled after both peels report scc = -1 rather than a wrong
    * label — the settle test f(v) = b(v) = m is SOUND for any R
    * (it certifies v and m mutually reachable within R hops).
    */
  private val SccRounds = 6
  require(SccRounds % 2 == 0, "q_graph_scc fuses rounds in pairs")

  /** SCC of the directed co-purchase graph: edge u -> v when u ships
    * at an earlier MIN(linenumber) than v within a shared order (part
    * key breaking linenumber ties), any support. Two FW-BW peels:
    * per peel, propagate f(v) = min id reachable FROM v and b(v) =
    * min id REACHING v for $SccRounds rounds; vertices with f = b
    * settle into that SCC (one peel settles the whole graph here —
    * it is one giant SCC plus nothing, an honest structural finding;
    * the second peel re-runs on the leftover subgraph).
    *
    * Shape at 100TB: the edge list materializes once (fresh-leaf
    * checkpoint — constant stats, the Boruvka lesson) and never
    * reshuffles; each round joins it against the vertex-sized label
    * frame (broadcast locally; a cluster run would hash-partition
    * both on v and colocate). At most 12 bounded rounds, with a
    * monotone-sum fixed-point test stopping each peel early (and
    * skipping peel 2 outright when peel 1 settles everything) —
    * output-identical to the full unroll; no data-sized collect
    * anywhere (the convergence probe reads ONE aggregated row per
    * round).
    */
  val graphScc: Q = {
    def rounds(peel: Int, edges: String): String =
      (1 to SccRounds).map { k =>
        s"""l${peel}_$k AS MATERIALIZED (SELECT v, MIN(f) AS f, MIN(b) AS b
           |  FROM (SELECT v, f, b FROM l${peel}_${k - 1}
           |    UNION ALL SELECT $edges.u AS v, l.f AS f,
           |      CAST(NULL AS BIGINT) AS b
           |    FROM $edges JOIN l${peel}_${k - 1} l ON l.v = $edges.v
           |    UNION ALL SELECT $edges.v AS v, CAST(NULL AS BIGINT) AS f,
           |      l.b AS b
           |    FROM $edges JOIN l${peel}_${k - 1} l ON l.v = $edges.u) z
           |  GROUP BY 1)""".stripMargin
      }.mkString(",\n")
    Q(
      "q_graph_scc",
      s"""WITH inc AS MATERIALIZED (SELECT l_orderkey AS ok,
         |    l_partkey AS pk, MIN(l_linenumber) AS ln
         |  FROM lineitem GROUP BY 1, 2),
         |e1 AS MATERIALIZED (SELECT a.pk AS u, b.pk AS v
         |  FROM inc a JOIN inc b ON a.ok = b.ok
         |    AND (a.ln < b.ln OR (a.ln = b.ln AND a.pk < b.pk))
         |  GROUP BY 1, 2),
         |vx AS MATERIALIZED (SELECT DISTINCT v FROM
         |  (SELECT u AS v FROM e1 UNION ALL SELECT v FROM e1) z),
         |l1_0 AS (SELECT v, v AS f, v AS b FROM vx),
         |${rounds(1, "e1")},
         |s1 AS MATERIALIZED (SELECT v, f AS scc FROM l1_$SccRounds
         |  WHERE f = b),
         |u1 AS MATERIALIZED (SELECT v FROM l1_$SccRounds WHERE f <> b),
         |e2 AS MATERIALIZED (SELECT e1.u, e1.v FROM e1
         |  JOIN u1 a ON a.v = e1.u JOIN u1 c ON c.v = e1.v),
         |l2_0 AS (SELECT v, v AS f, v AS b FROM u1),
         |${rounds(2, "e2")},
         |s2 AS MATERIALIZED (SELECT v, f AS scc FROM l2_$SccRounds
         |  WHERE f = b),
         |allv AS MATERIALIZED (SELECT vx.v,
         |    COALESCE(sa.scc, sb.scc, -1) AS scc
         |  FROM vx LEFT JOIN s1 sa ON sa.v = vx.v
         |  LEFT JOIN s2 sb ON sb.v = vx.v),
         |sz AS (SELECT scc, CAST(COUNT(*) AS BIGINT) AS c FROM allv
         |  WHERE scc <> -1 GROUP BY 1)
         |SELECT a.v AS part, a.scc,
         |  CASE WHEN a.scc = -1 THEN CAST(-1 AS BIGINT) ELSE s.c END
         |    AS scc_size
         |FROM allv a LEFT JOIN sz s ON s.scc = a.scc
         |ORDER BY a.v""".stripMargin) { (s, d) =>
      val np = Session.partitions(s)
      // LAZY checkpoints: compute-once persist semantics per frame,
      // but the materializations fold into the final action's DAG
      // instead of eagerly scheduled jobs (the q_graph_labelprop
      // lesson); the fresh-leaf rebuild keeps stats constant.
      // PLAIN localCheckpoint, NOT the Boruvka fresh-leaf rebuild
      // (createDataFrame(ck.rdd, schema)): the rebuild's .rdd exposes
      // Java Row objects, so every READ of the leaf pays an
      // UnsafeRow -> GenericRow -> re-encode round-trip — the 2|E|+|V|
      // template read once per round turned that into the sf1 GC bomb
      // (measured here: ~20s of a 39s run was GC). localCheckpoint
      // keeps the materialized InternalRows as-is. The stats snapshot
      // it carries is safe for THIS loop: each round references the
      // carried frame once (digit growth is additive per round, not
      // the ~50-ref multiplicative blowup that wedged Boruvka).
      def ckptLeaf(df: DataFrame): DataFrame = df.localCheckpoint(false)
      val inc = Tables.load(s, d, "lineitem")
        .groupBy(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .agg(min("l_linenumber").as("ln"))
      val a = inc.select(col("ok"), col("pk").as("u"), col("ln").as("lu"))
        .hint("merge")
      val b = inc.select(col("ok").as("ok2"), col("pk").as("v"),
        col("ln").as("lv")).hint("merge")
      val e1 = ckptLeaf(a
        .join(b, col("ok") === col("ok2") &&
          (col("lu") < col("lv") ||
            (col("lu") === col("lv") && col("u") < col("v"))))
        .groupBy(col("u").as("src"), col("v").as("dst"))
        .agg(count(lit(1)))
        .select("src", "dst"))
      val vx = ckptLeaf(
        e1.select(col("src").as("v")).unionAll(e1.select(col("dst").as("v")))
          .distinct())

      // One message-template frame per peel: each edge emits an
      // f-message (dst -> src) and a b-message (src -> dst), each
      // vertex a self-message carrying both — so every round is ONE
      // broadcast join + ONE map-side-combinable min aggregate over
      // the cached template instead of two edge joins and a 3-way
      // union (isolated sf0.1: 7.9s -> see PLANS.md pin).
      //
      // Min-label propagation is monotone: the self-message re-offers
      // the old label, so f(v) and b(v) never rise, and SUM(f)+SUM(b)
      // is an exact fixed-point witness. On this corpus peel 1
      // converges in ~4 of 6 rounds and peel 2 never runs (the
      // empty-remainder short-circuit below).
      def peel(edges: DataFrame, verts: DataFrame): DataFrame = {
        val tmpl = ckptLeaf(
          edges.select(col("dst").as("from"), col("src").as("to"),
              lit("f").as("dir"))
            .unionByName(edges.select(col("src").as("from"),
              col("dst").as("to"), lit("b").as("dir")))
            .unionByName(verts.select(col("v").as("from"),
              col("v").as("to"), lit("s").as("dir"))))
        val step: DataFrame => DataFrame = l =>
          tmpl.join(broadcast(l), col("from") === col("v"))
            .groupBy(col("to").as("v"))
            .agg(
              min(when(col("dir") =!= "b", col("f"))).as("f"),
              min(when(col("dir") =!= "f", col("b"))).as("b"))
        // r15: TWO propagation rounds fuse into one materialization (the
        // round reads the carried frame once, so the fused plan stays
        // linear and the inner round rides the outer's broadcast build).
        // The two-round sum is unchanged iff both rounds changed nothing.
        // 38-digit sums: id * |V| products outgrow BIGINT long before
        // they outgrow the corpus (restrided sf1 ids are ~1e10 already).
        val labSum = sum(col("f").cast("decimal(38,0)")) +
          sum(col("b").cast("decimal(38,0)"))
        Iterate(verts.select(col("v"), col("v").as("f"), col("v").as("b")),
          SccRounds / 2, Some(labSum))(step andThen step)._1
      }
      val l1 = peel(e1, vx)
      val s1 = l1.filter(col("f") === col("b"))
        .select(col("v"), col("f").as("scc"))
      val u1 = l1.filter(col("f") =!= col("b")).select("v")
        .localCheckpoint(true)
      // Empty-remainder short-circuit: when peel 1 settled every
      // vertex (the common case — FW-BW peels remove at least the SCC
      // of the min vertex per peel), peel 2's template build, 6
      // rounds, and two semi-joins are dead work; an empty s2 frame
      // is output-identical to running them on zero vertices.
      val s2 =
        if (u1.isEmpty)
          s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("v",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("scc2",
                org.apache.spark.sql.types.LongType))))
        else {
          val e2 = ckptLeaf(e1
            .join(broadcast(u1.select(col("v").as("src"))), Seq("src"),
              "left_semi")
            .join(broadcast(u1.select(col("v").as("dst"))), Seq("dst"),
              "left_semi")
            .select("src", "dst"))
          val l2 = peel(e2, u1)
          l2.filter(col("f") === col("b"))
            .select(col("v"), col("f").as("scc2"))
        }
      val allv = vx
        .join(broadcast(s1), Seq("v"), "left")
        .join(broadcast(s2), Seq("v"), "left")
        .select(col("v"),
          coalesce(col("scc"), col("scc2"), lit(-1L)).as("scc"))
      val sz = allv.filter(col("scc") =!= -1L)
        .groupBy("scc").agg(count(lit(1)).as("c"))
      allv.join(broadcast(sz), Seq("scc"), "left")
        .select(col("v").as("part"), col("scc"),
          when(col("scc") === -1L, lit(-1L)).otherwise(col("c"))
            .as("scc_size"))
        .orderBy("part")
    }
  }

  /** Tie strength per co-purchase edge: embeddedness (common-neighbor
    * count), Granovetter neighborhood overlap in ppm, and the
    * local-bridge flag (embeddedness 0 — the edge is the only local
    * route between its endpoints). Runs on the suite-shared
    * support>=2 graph.
    *
    * Shape at 100TB: degrees broadcast onto the edge list (one
    * BroadcastExchange — both renamed sides canonicalize together);
    * the common-neighbor count is one edge⋈sym⋈sym equi-join chain
    * partitioned on the shared neighbor key, never all-pairs.
    */
  val tieStrength: Q = Q(
    "q_tie_strength",
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS MATERIALIZED (SELECT a.l_partkey AS u, b.l_partkey AS v,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      |    AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |sym AS MATERIALIZED (SELECT u, v FROM e
      |  UNION ALL SELECT v AS u, u AS v FROM e),
      |deg AS MATERIALIZED (SELECT u AS x, CAST(COUNT(*) AS BIGINT) AS d
      |  FROM sym GROUP BY 1),
      |tri AS MATERIALIZED (SELECT e.u, e.v, CAST(COUNT(*) AS BIGINT)
      |    AS emb
      |  FROM e JOIN sym s1 ON s1.u = e.u
      |  JOIN sym s2 ON s2.u = e.v AND s2.v = s1.v
      |  GROUP BY 1, 2)
      |SELECT e.u, e.v, e.n AS n_shared, du.d AS deg_u, dv.d AS deg_v,
      |  COALESCE(t.emb, 0) AS emb,
      |  CASE WHEN du.d + dv.d - 2 - COALESCE(t.emb, 0) = 0 THEN 1000000
      |    ELSE COALESCE(t.emb, 0) * 1000000
      |      // (du.d + dv.d - 2 - COALESCE(t.emb, 0)) END AS overlap_ppm,
      |  CASE WHEN COALESCE(t.emb, 0) = 0 THEN 1 ELSE 0 END
      |    AS local_bridge
      |FROM e JOIN deg du ON du.x = e.u JOIN deg dv ON dv.x = e.v
      |LEFT JOIN tri t ON t.u = e.u AND t.v = e.v
      |ORDER BY e.u, e.v""".stripMargin) { (s, d) =>
    val np = Session.partitions(s)
    val e = GraphShared.pairs(s, d)
    val sym = e.select(col("u"), col("v"))
      .unionAll(e.select(col("v").as("u"), col("u").as("v")))
      .repartition(np, col("u"))
      .persist()
    val deg = sym.groupBy(col("u").as("x")).agg(count(lit(1)).as("d"))
    val s1 = sym.select(col("u").as("cu"), col("v").as("w"))
    val s2 = sym.select(col("u").as("cv"), col("v").as("w2"))
    val tri = e.select(col("u"), col("v"))
      .join(s1, col("cu") === col("u"))
      .join(s2, col("cv") === col("v") && col("w2") === col("w"))
      .groupBy("u", "v").agg(count(lit(1)).as("emb"))
    e.join(broadcast(deg.select(col("x").as("u"), col("d").as("deg_u"))),
        Seq("u"))
      .join(broadcast(deg.select(col("x").as("v"), col("d").as("deg_v"))),
        Seq("v"))
      .join(tri, Seq("u", "v"), "left")
      .select(col("u"), col("v"), col("n").as("n_shared"),
        col("deg_u"), col("deg_v"),
        coalesce(col("emb"), lit(0L)).as("emb"))
      .select(col("u"), col("v"), col("n_shared"), col("deg_u"),
        col("deg_v"), col("emb"),
        expr("""CASE WHEN deg_u + deg_v - 2 - emb = 0 THEN 1000000
               |  ELSE emb * 1000000 div (deg_u + deg_v - 2 - emb)
               |END""".stripMargin).as("overlap_ppm"),
        when(col("emb") === 0L, 1L).otherwise(0L).as("local_bridge"))
      .orderBy("u", "v")
  }

  val all: Seq[Q] = Seq(graphScc, tieStrength)
}
