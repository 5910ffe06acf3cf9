package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Session, Tables}

/** Wave 25 — distributed graph construction and game-theoretic
  * attribution: Boruvka minimum spanning forest over the shared
  * co-purchase graph (Boruvka 1926; the GraphX/Pregel staple — each
  * round every component claims its lightest out-edge, components
  * merge by pointer-jumping), and exact Shapley-value channel
  * attribution (Shapley 1953; Zhao et al. 2018 data-driven form)
  * over the 3-channel touchset lattice. Both run a FIXED number of
  * rounds so the engine and the oracle walk identical step
  * sequences, and both stay in exact integers.
  */
object Wave25 {

  private val MstRounds = 6
  private val MstJumps = 4

  /** Boruvka MSF of the co-purchase graph (w = 1000000 // support —
    * the q_graph_sssp metric; light = strong tie). Each round: every
    * component picks its minimum cross edge under the TOTAL order
    * (w, u, v) — distinct keys make the forest unique — mutual picks
    * break toward the smaller component id, then pointers compress by
    * $MstJumps jump-squarings and labels re-map. $MstRounds rounds
    * halve component count geometrically (2^$MstRounds components
    * covered; Wave25Spec proves convergence vs Kruskal at test SFs —
    * at larger graphs the constants grow logarithmically, not the
    * per-round shape).
    *
    * Shape at 100TB: edges stay partitioned on u (the shared
    * [[GraphShared.pairs]] build); each round is two label joins +
    * one component-keyed argmin + dictionary-sized pointer jumps; the
    * carried node->component frame is node-set-sized and
    * localCheckpointed per round (the k-core lineage lesson).
    */
  val graphMst: Q = {
    def roundSql(r: Int): String = {
      val prev = if (r == 1) "comp0" else s"comp${r - 1}"
      val jumps = (1 to MstJumps).map { j =>
        val src = if (j == 1) s"ptr$r" else s"j${j - 1}_$r"
        s"j${j}_$r AS (SELECT a.c, b.p FROM $src a JOIN $src b ON b.c = a.p)"
      }.mkString(",\n")
      s"""ce$r AS (SELECT e.u, e.v, e.w, cu.c AS cu, cv.c AS cv
         |  FROM ep e JOIN $prev cu ON cu.node = e.u
         |            JOIN $prev cv ON cv.node = e.v
         |  WHERE cu.c <> cv.c),
         |inc$r AS (SELECT cu AS c, u, v, w, cv AS oc FROM ce$r
         |  UNION ALL SELECT cv AS c, u, v, w, cu AS oc FROM ce$r),
         |pick$r AS (SELECT c, u, v, w, oc FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY c
         |      ORDER BY w, u, v) AS rn FROM inc$r) t WHERE rn = 1),
         |ptr0_$r AS (SELECT a.c,
         |    CASE WHEN b.oc = a.c AND a.oc > a.c THEN a.c ELSE a.oc END AS p
         |  FROM pick$r a LEFT JOIN pick$r b ON b.c = a.oc),
         |ptr$r AS (SELECT c0.c, COALESCE(p0.p, c0.c) AS p
         |  FROM (SELECT DISTINCT c FROM $prev) c0
         |  LEFT JOIN ptr0_$r p0 ON p0.c = c0.c),
         |$jumps,
         |comp$r AS MATERIALIZED (SELECT cm.node, j.p AS c
         |  FROM $prev cm JOIN j${MstJumps}_$r j ON j.c = cm.c)""".stripMargin
    }
    val rounds = (1 to MstRounds).map(roundSql).mkString(",\n")
    val sels = (1 to MstRounds)
      .map(r => s"SELECT u, v, w FROM pick$r").mkString("\n  UNION ALL ")
    Q(
      "q_graph_mst",
      s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |ep AS MATERIALIZED (SELECT a.l_partkey AS u, b.l_partkey AS v,
         |    1000000 // COUNT(*) AS w
         |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
         |    AND a.l_partkey < b.l_partkey
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |comp0 AS MATERIALIZED (SELECT node, node AS c FROM (
         |  SELECT DISTINCT n FROM (SELECT u AS n FROM ep
         |    UNION ALL SELECT v AS n FROM ep) raw) nn(node)),
         |$rounds
         |SELECT DISTINCT u, v, w FROM (
         |  $sels) sel
         |ORDER BY u, v""".stripMargin) { (s, d) =>
      val np = Session.partitions(s)
      // EAGER checkpoint + a FRESH LogicalRDD leaf per carried frame.
      // localCheckpoint alone is NOT enough here: LogicalRDD.fromDataset
      // SNAPSHOTS the origin plan's stats into the leaf, and sizeInBytes
      // is a BigInt PRODUCT over join children — with ~50 join references
      // per Boruvka round the digit count multiplies every round and by
      // round 4 the driver wedges inside BigInteger.multiply during the
      // stats walk (observed r9, 17min on sf0.001). Rebuilding the frame
      // from the checkpointed RDD gives a leaf with the constant default
      // sizeInBytes, so per-round stats stay ~kilobits. Joins against
      // these stats-less leaves are broadcast() explicitly (k-core
      // lesson).
      def ckptLeaf(df: DataFrame): DataFrame = {
        val ck = df.localCheckpoint(true)
        s.createDataFrame(ck.toDF().rdd, ck.schema)
      }
      val ep = GraphShared.pairs(s, d)
        .select(col("u"), col("v"), expr("1000000 div n").as("w"))
        .repartition(np, col("u"))
        .persist()
      val nodes = ep.select(col("u").as("node"))
        .unionAll(ep.select(col("v").as("node"))).distinct()
      // EAGER per-round checkpoints throughout: the carried frames are
      // node-set-sized, and a lazy checkpoint leaves the full R-round
      // join lineage in the logical plan until the final action — at
      // which point Spark's sizeInBytes stats walk multiplies BigInts
      // across the nested join tree and the DRIVER wedges in
      // BigInteger.multiply before any job runs (observed r9; the
      // k-core lesson, now with a stats-estimation failure mode).
      var comp = ckptLeaf(nodes.withColumn("c", col("node")))
      var selected: DataFrame = null
      var done = false
      for (_ <- 1 to MstRounds if !done) {
        val cu = comp.select(col("node").as("u"), col("c").as("cu"))
        val cv = comp.select(col("node").as("v"), col("c").as("cv"))
        val ce = ep.join(broadcast(cu), "u").join(broadcast(cv), "v")
          .filter(col("cu") =!= col("cv"))
        val inc = ce.select(col("cu").as("c"), col("u"), col("v"), col("w"),
            col("cv").as("oc"))
          .unionAll(ce.select(col("cv").as("c"), col("u"), col("v"),
            col("w"), col("cu").as("oc")))
        // r15 (guide §2.3, aggregate before you shuffle): the per-
        // component argmin is a min_by aggregate under the same
        // (w, u, v) total order the ROW_NUMBER pick used — (w, u, v)
        // is unique within a component (distinct edges, direction
        // split by cu<>cv), so the argmin row is THE pick row and the
        // rewrite is value-identical. The window shuffled and SORTED
        // every inc row; the hash aggregate map-side-combines to one
        // partial row per (mapper, live component) before the
        // exchange — strictly fewer bytes, no sort, at any scale.
        val pick = ckptLeaf(inc.groupBy("c")
          .agg(min_by(struct(col("u"), col("v"), col("w"), col("oc")),
            struct(col("w"), col("u"), col("v"))).as("m"))
          .select(col("c"), col("m.u").as("u"), col("m.v").as("v"),
            col("m.w").as("w"), col("m.oc").as("oc")))
        val mutual = pick.select(col("c").as("bc"), col("oc").as("boc"))
        val ptr0 = pick.join(broadcast(mutual),
            col("bc") === col("oc"), "left")
          .select(col("c"),
            when(col("boc") === col("c") && col("oc") > col("c"), col("c"))
              .otherwise(col("oc")).as("p"))
          // a LEFT JOIN can only multiply rows if (bc) repeats — bc is
          // pick's key c, unique per component — so p stays 1-per-c
          .dropDuplicates("c")
        val ids = comp.select(col("c")).distinct()
        // r15: the ptr materialization is LAZY — the jump chain
        // references the checkpointed leaf 2x per jump (16 refs of the
        // LEAF, not of the origin plan), the cache fills on first use
        // inside comp's checkpoint job, and one scheduled job per
        // round disappears. Stats stay bounded: comp's fresh-leaf
        // rebuild below still resets the digit growth every round
        // (the Boruvka wedge needed COMPOUNDING across rounds).
        var ptr: DataFrame = ids.join(ptr0.withColumnRenamed("c", "pc"),
            col("c") === col("pc"), "left")
          .select(col("c"), coalesce(col("p"), col("c")).as("p"))
          .localCheckpoint(false)
        for (_ <- 1 to MstJumps) {
          val b = ptr.select(col("c").as("jc"), col("p").as("jp"))
          ptr = ptr.select(col("c"), col("p").as("jc"))
            .join(broadcast(b), "jc")
            .select(col("c"), col("jp").as("p"))
        }
        comp = ckptLeaf(comp.select(col("node"), col("c").as("jc"))
          .join(broadcast(ptr.select(col("c").as("jc"), col("p"))), "jc")
          .select(col("node"), col("p").as("c")))
        val sel = pick.select("u", "v", "w")
        selected = if (selected == null) sel else selected.unionAll(sel)
        // r15 early exit: once no component has a cross edge, pick is
        // empty and every later round is the identity (ce stays empty)
        // — the oracle's remaining unrolled rounds contribute zero
        // SELECT rows too, so stopping is output-identical. pick is
        // already materialized (eager ckptLeaf); isEmpty reads cache.
        done = pick.isEmpty
      }
      selected.distinct().orderBy("u", "v")
    }
  }

  /** Exact Shapley-value attribution over the 3-channel touchset
    * lattice (view / click / signup; conversion = any purchase):
    * v(S) = conversion rate in ppm of users whose touched-channel set
    * is EXACTLY S (0 when the cell is empty), and each channel's
    * Shapley value in sixth-units
    *   phi6 = 2(v({i}) - v({})) + sum_{j<>i}(v({i,j}) - v({j}))
    *        + 2(v(N) - v(N minus i))
    * — the |S|!(n-1-|S|)!/n! weights times 3! so every term is an
    * exact integer. The marginal everyone fights about in meetings,
    * as one hashable query.
    *
    * Shape at 100TB: one user-keyed aggregate to touchsets, one
    * 8-cell aggregate, then a 3-row pivot — nothing after the first
    * shuffle is data-sized.
    */
  val attributionShapley: Q = {
    def vcell(hv: Int, hc: Int, hs: Int) =
      s"COALESCE(MAX(CASE WHEN hv = $hv AND hc = $hc AND hs = $hs " +
        s"THEN v_ppm END), 0)"
    def phi(me: Char): String = {
      // subsets as (hv, hc, hs) triples; channel bits: v, c, s
      def b(ch: Char, set: Set[Char]) = if (set.contains(ch)) 1 else 0
      def v(set: Set[Char]) = s"v${b('v', set)}${b('c', set)}${b('s', set)}"
      val others = Set('v', 'c', 's') - me
      val full = Set('v', 'c', 's')
      val pairTerms = others.toSeq.sorted.map { j =>
        s"(${v(Set(me, j))} - ${v(Set(j))})"
      }.mkString(" + ")
      s"2 * (${v(Set(me))} - ${v(Set.empty)}) + $pairTerms" +
        s" + 2 * (${v(full)} - ${v(full - me)})"
    }
    val cells = for (hv <- 0 to 1; hc <- 0 to 1; hs <- 0 to 1)
      yield s"    ${vcell(hv, hc, hs)} AS v$hv$hc$hs"
    Q(
      "q_attribution_shapley",
      s"""WITH t AS (SELECT user_id,
         |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS hv,
         |    MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS hc,
         |    MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS hs,
         |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
         |  FROM events GROUP BY 1),
         |cell AS (SELECT hv, hc, hs,
         |    CAST(SUM(y) * 1000000 // COUNT(*) AS BIGINT) AS v_ppm,
         |    CAST(COUNT(*) AS BIGINT) AS n_users
         |  FROM t GROUP BY 1, 2, 3),
         |piv AS (SELECT
         |${cells.mkString(",\n")},
         |    CAST(SUM(CASE WHEN hv = 1 THEN n_users ELSE 0 END) AS BIGINT)
         |      AS nv,
         |    CAST(SUM(CASE WHEN hc = 1 THEN n_users ELSE 0 END) AS BIGINT)
         |      AS nc,
         |    CAST(SUM(CASE WHEN hs = 1 THEN n_users ELSE 0 END) AS BIGINT)
         |      AS ns
         |  FROM cell)
         |SELECT channel, phi6_ppm, n_touched FROM (
         |  SELECT 'click' AS channel, CAST(${phi('c')} AS BIGINT)
         |    AS phi6_ppm, nc AS n_touched FROM piv
         |  UNION ALL
         |  SELECT 'signup', CAST(${phi('s')} AS BIGINT), ns FROM piv
         |  UNION ALL
         |  SELECT 'view', CAST(${phi('v')} AS BIGINT), nv FROM piv) z
         |ORDER BY channel""".stripMargin) { (s, d) =>
      val np = Session.partitions(s)
      val t = Tables.load(s, d, "events").repartition(np, col("user_id"))
        .groupBy("user_id")
        .agg(
          max(when(col("event_type") === "view", 1).otherwise(0)).as("hv"),
          max(when(col("event_type") === "click", 1).otherwise(0)).as("hc"),
          max(when(col("event_type") === "signup", 1).otherwise(0)).as("hs"),
          max(when(col("event_type") === "purchase", 1).otherwise(0)).as("y"))
      val cell = t.groupBy("hv", "hc", "hs")
        .agg(expr("CAST(SUM(y) * 1000000 div COUNT(*) AS BIGINT)").as("v_ppm"),
          count(lit(1)).as("n_users"))
      val piv = cell.agg(
        expr(vcell(0, 0, 0)).as("v000"),
        (Seq((0, 0, 1), (0, 1, 0), (0, 1, 1), (1, 0, 0), (1, 0, 1),
          (1, 1, 0), (1, 1, 1)).map { case (a, b, c) =>
          expr(vcell(a, b, c)).as(s"v$a$b$c")
        } ++ Seq(
          sum(when(col("hv") === 1, col("n_users")).otherwise(0L)).as("nv"),
          sum(when(col("hc") === 1, col("n_users")).otherwise(0L)).as("nc"),
          sum(when(col("hs") === 1, col("n_users")).otherwise(0L)).as("ns"))): _*)
      val rows = Seq(
        ("click", phi('c'), "nc"),
        ("signup", phi('s'), "ns"),
        ("view", phi('v'), "nv")).map { case (name, formula, ncol) =>
        piv.select(lit(name).as("channel"),
          expr(s"CAST($formula AS BIGINT)").as("phi6_ppm"),
          col(ncol).as("n_touched"))
      }
      rows.reduce(_ unionAll _).orderBy("channel")
    }
  }

  val all: Seq[Q] = Seq(graphMst, attributionShapley)
}
