package graft

import org.scalatest.funsuite.AnyFunSuite

/** Enforced versions of the PLANS.md pins for the newest scale-critical
  * queries: the property each physical plan must keep is asserted here,
  * so a planner regression fails the suite instead of only showing up
  * as a PLANS.md diff.
  */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  /** Static physical plan with AQE off (same posture as PlanDump): the
    * shape properties asserted here are decided at planning time, and
    * the AdaptiveSparkPlanExec wrapper would hide the operator tree
    * from collect until execution. */
  private def staticPlan(name: String): org.apache.spark.sql.execution.SparkPlan = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try SparkEntry.queries(name)(spark, SharedSpark.sf001).queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  private def executed(name: String): String = staticPlan(name).toString

  /** What a build may change in the session: its temp views, global temp
    * views and temporary functions (each by reference), and its
    * persistent tables (by name). */
  private def catalogState(): Map[String, AnyRef] = {
    val c = spark.sessionState.catalog
    val g = c.globalTempViewManager
    val fns = spark.sessionState.functionRegistry
    val ext = c.externalCatalog
    c.getTempViewNames().map(n => s"temp view $n" -> c.getRawTempView(n).orNull).toMap ++
      g.listViewNames("*").map(n => s"global temp view $n" -> g.get(n).orNull) ++
      c.listTemporaryFunctions().map(f =>
        s"temporary function ${f.funcName}" -> fns.lookupFunctionBuilder(f).orNull) ++
      ext.listDatabases().flatMap(db => ext.listTables(db).map(t => s"table $db.$t" -> ""))
  }

  /** The tables `q_join_bucketed` writes: writing them is its capability. */
  private val ownedTables = Set("table default.graft_b_orders", "table default.graft_b_lineitem")

  /** The one registry walk: every query built once at sf0.001, in name
    * order, with the catalog entries its build added, dropped or
    * replaced. The registry-wide tripwires read their plans from it.
    * Sharing one walk is sound only because no build rebinds a view
    * that another build reads, which the catalog tripwire checks. */
  private lazy val walk: Seq[(String, org.apache.spark.sql.DataFrame, Seq[String])] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, f) =>
      val before = catalogState()
      val df = f(spark, SharedSpark.sf001)
      val after = catalogState()
      val changed = (before.keySet ++ after.keySet).toSeq.sorted.filter { k =>
        !ownedTables(k) && !(before.get(k).zip(after.get(k)).exists { case (a, b) => a eq b })
      }
      (name, df, changed)
    }

  test("registry-wide: a build leaves the session's temp views, global " +
    "temp views and temporary functions as it found them, and adds no " +
    "persistent table but graft_b_orders and graft_b_lineitem") {
    val bad = walk.collect { case (name, _, changed) if changed.nonEmpty =>
      s"$name: ${changed.mkString(", ")}"
    }
    assert(bad.isEmpty,
      s"${bad.size} builds changed the session's catalog:\n" + bad.mkString("\n"))
  }

  test("q_join_interval_overlap: binned equi-join, never a nested-loop " +
    "or cartesian product") {
    val plan = executed("q_join_interval_overlap")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
  }

  test("q_join_scd2: the point-in-time join is an equi-join with the " +
    "interval containment as a residual") {
    val plan = executed("q_join_scd2")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      plan.take(1500))
  }

  test("q_funnel_stages: all three stage windows share one exchange " +
    "(no per-stage reshuffle)") {
    val plan = staticPlan("q_funnel_stages")
    val windows = plan.collectWithSubqueries {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.size == 3, s"expected 3 WindowExec, got ${windows.size}")
    // every Window must sit over the SAME single exchange: no exchange
    // may appear between the topmost and bottom-most window operator
    val topWindow = windows.head
    val exchangesInside = topWindow.collectWithSubqueries {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }
    assert(exchangesInside.size == 1,
      s"expected exactly 1 exchange under the window chain, got " +
        s"${exchangesInside.size}:\n${plan.toString.take(1500)}")
  }

  test("q_bloom_prune: the bloom probe filters the fact scan BELOW the " +
    "exact semi-join, as a native expression (no ScalaUDF)") {
    val plan = staticPlan("q_bloom_prune")
    val s = plan.toString
    assert(!s.contains("ScalaUDF"), s.take(1500))
    assert(s.contains("graft_bloom_might_contain"), s.take(1500))
    // the semi-join's left (streamed) child must already contain the
    // bloom Filter — i.e. pruning happens before the join, not after
    // (PushLeftSemiLeftAntiThroughJoin broke the crossJoin formulation)
    val semi = plan.collectWithSubqueries {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
        if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
    }
    assert(semi.nonEmpty, s.take(1500))
    val streamedSide = semi.head.children.head.toString
    assert(streamedSide.contains("graft_bloom_might_contain"),
      s"bloom probe not below the semi-join:\n${s.take(2000)}")
  }

  test("q_seq_events: row_number gate and collect share one exchange " +
    "on user_id") {
    val plan = staticPlan("q_seq_events")
    val exchanges = plan.collectWithSubqueries {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }
    // one shuffle for the window+aggregate chain, plus the output sort's
    // range exchange
    assert(exchanges.size <= 2,
      s"expected <=2 exchanges (user_id hash + output range), got " +
        s"${exchanges.size}:\n${plan.toString.take(1500)}")
  }

  test("q_triangle_count: wedge and closing joins are equi-joins " +
    "(no nested loop, no cartesian product)") {
    val s = executed("q_triangle_count")
    assert(!s.contains("BroadcastNestedLoopJoin"), s.take(1500))
    assert(!s.contains("CartesianProduct"), s.take(1500))
  }

  test("Substring.repeatedSpans: the one suite-level span build keeps " +
    "the anchor-hash self-join a hinted SMJ, never a cartesian or " +
    "nested-loop pair stage") {
    // build the span-mining PLAN fresh (SharedFrames would hand back
    // the checkpoint) — same posture as the GraphShared.pairs pin
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val s = graft.dedup.Substring
        .repeatedSpans(Tables.load(spark, SharedSpark.sf001, "documents"),
          "doc_id", "text")
        .queryExecution.executedPlan.toString
      assert(!s.contains("BroadcastNestedLoopJoin"), s.take(1500))
      assert(!s.contains("CartesianProduct"), s.take(1500))
      assert(s.contains("SortMergeJoin"), s.take(1500))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q_dedup_substring and q_dedup_excise consume ONE suite-shared " +
    "span frame (checkpoint scan; the mining self-join is not rebuilt)") {
    val s1 = executed("q_dedup_substring")
    assert(s1.contains("Scan ExistingRDD"), s1.take(1500))
    assert(!s1.contains("SortMergeJoin"),
      "the span-mining join must not be rebuilt per consumer")
    val s2 = executed("q_dedup_excise")
    assert(s2.contains("Scan ExistingRDD"), s2.take(1500))
    // the SharedFrames memo must hand both consumers the same frame
    val a = graft.queries.DedupSim.sharedSpansForTest(spark, SharedSpark.sf001)
    val b = graft.queries.DedupSim.sharedSpansForTest(spark, SharedSpark.sf001)
    assert(a eq b, "repeatedSpansShared must memoize per suite")
  }

  test("q_ann_ivfpq: code scoring is a broadcast hash join (the LUT " +
    "side broadcasts), no cartesian product, final top-k is a group " +
    "limit") {
    val s = executed("q_ann_ivfpq")
    // BroadcastNestedLoopJoin IS allowed here: the Lloyd loop's
    // point-vs-every-centroid probe is a deliberate broadcast cross
    // product. A CartesianProduct (shuffled both sides) is not.
    assert(!s.contains("CartesianProduct"), s.take(1500))
    assert(s.contains("BroadcastHashJoin"), s.take(1500))
    assert(s.contains("WindowGroupLimit"), s.take(1500))
  }

  test("q_ann_ivfpq_rerank: the exact refinement is a broadcast join " +
    "of the candidate list (no corpus shuffle, no cartesian product) " +
    "cut by a group limit") {
    val s = executed("q_ann_ivfpq_rerank")
    assert(!s.contains("CartesianProduct"), s.take(1500))
    assert(s.contains("BroadcastHashJoin"), s.take(1500))
    assert(s.contains("WindowGroupLimit"), s.take(1500))
    assert(s.contains("graft_fxsqdist"), s.take(1500))
  }

  test("q_sketch_kmv: bottom-k per shard is a WindowGroupLimit (map-side " +
    "group limit), no join wider than the final month merge, and the " +
    "corpus is scanned exactly twice (sketch + exact witness)") {
    val plan = staticPlan("q_sketch_kmv")
    val s = plan.toString
    assert(s.contains("WindowGroupLimit"), s.take(1500))
    assert(!s.contains("CartesianProduct") &&
      !s.contains("BroadcastNestedLoopJoin"), s.take(1500))
    val scans = plan.collectWithSubqueries {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.size == 2, s"expected 2 lineitem scans, got ${scans.size}")
  }

  test("q_sparse_cosine: pairs score through the codegen fxsqdist " +
    "kernel over dense vectors — no string-keyed posting join in the " +
    "scoring path") {
    val plan = executed("q_sparse_cosine")
    assert(plan.contains("graft_fxsqdist"), plan.take(1500))
    // The scoring join is the probe-vector nested-loop broadcast (263
    // rows) — the 40M-row term-keyed hash join formulation must not
    // come back.
    assert(!plan.contains("SortMergeJoin"), plan.take(1500))
  }

  test("q_sketch_hll_fx: the corpus collapses to register maxima in " +
    "partial-aggregated shuffles — no window, no global sort before " +
    "the output ORDER BY") {
    val plan = staticPlan("q_sketch_hll_fx")
    val windows = plan.collectWithSubqueries {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty, s"unexpected WindowExec in HLL plan")
  }

  test("q_graph_bfs: the edge relation and every frontier are cached " +
    "(InMemoryRelation) so hops never re-execute earlier hops") {
    // Execute once so the loop's persists materialize, then check the
    // final frame's plan reads from the cache.
    val df = SparkEntry.queries("q_graph_bfs")(spark, SharedSpark.sf001)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryTableScan") || plan.contains("InMemoryRelation"),
      plan.take(1500))
  }

  test("q_graph_kcore: the final degree count reads the cached edge " +
    "relation through BROADCAST semi-joins (stats-less checkpoint " +
    "frames must not re-shuffle the edge cache)") {
    val df = SparkEntry.queries("q_graph_kcore")(spark, SharedSpark.sf001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryTableScan") || plan.contains("InMemoryRelation"),
      plan.take(1500))
    assert(plan.contains("BroadcastHashJoin") &&
      plan.contains("LeftSemi"), plan.take(1500))
  }

  test("q_skipgram_pairs: the context join is an equi-join on " +
    "(doc, position) — never a per-doc cross product; the only " +
    "nested-loop is the intended 31-row negative-range broadcast") {
    val plan = staticPlan("q_skipgram_pairs")
    val bnl = plan.collectWithSubqueries {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    // exactly the three INTENDED nested loops: two one-row scalar
    // broadcasts (total, negtot) and the 31-row negative-range join —
    // a fourth would mean the context join degenerated
    assert(bnl.size <= 3, s"expected at most 3 broadcast nested loops, " +
      s"got ${bnl.size}:\n${plan.toString.take(1500)}")
    assert(!plan.toString.contains("CartesianProduct"),
      plan.toString.take(1500))
    assert(plan.toString.contains("SortMergeJoin")
      || plan.toString.contains("ShuffledHashJoin")
      || plan.toString.contains("BroadcastHashJoin"),
      plan.toString.take(1500))
  }

  test("q_pagerank_bipartite: the degree-joined edge cache materializes " +
    "once and rounds 2..4 read it back as ReusedExchange; no cartesian " +
    "product") {
    val plan = staticPlan("q_pagerank_bipartite")
    val s = plan.toString
    assert(!s.contains("CartesianProduct"), s.take(2000))
    val reused = plan.collectWithSubqueries {
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r
    }
    // the src-repartitioned edge+degree subtree is identical per round:
    // 4 rounds must plan it ONCE and reuse it >= 3 times (a drop to 0
    // means the edge build recomputes per round — the 100TB killer)
    assert(reused.size >= 3,
      s"expected >=3 ReusedExchange (rounds 2..4 reading the edge " +
        s"cache), got ${reused.size}:\n${s.take(2000)}")
  }

  test("q_eval_mrr: consumes the suite-shared retrieval top-20 frames " +
    "(checkpointed RDD scans) and plans probe-bounded equi-joins only") {
    val plan = staticPlan("q_eval_mrr")
    val s = plan.toString
    // both inputs must arrive as the RetrievalShared materializations —
    // a raw parquet scan here would mean the query rebuilt the index
    // instead of reading the family's shared build (the 3.72s driver
    // reading is the SHARED build landing on the alphabetically-first
    // family member, not this query's own work)
    assert(s.contains("Scan ExistingRDD"), s.take(2000))
    assert(!s.contains("Scan parquet"),
      s"q_eval_mrr must not rescan base tables:\n${s.take(2000)}")
    // the hit join is a (probe, doc) equi-join over top-20-per-probe
    // group limits; nothing may degenerate to a product
    assert(!s.contains("CartesianProduct"), s.take(2000))
    assert(!s.contains("BroadcastNestedLoopJoin"), s.take(2000))
    assert(s.contains("HashJoin") || s.contains("SortMergeJoin"),
      s.take(2000))
  }

  test("q_eval_bradley_terry: the collected match matrix stays brand-" +
    "dictionary-bounded and the readout is a driver-solved local " +
    "relation (no data-grain join-back)") {
    val df = SparkEntry.queries("q_eval_bradley_terry")(spark, SharedSpark.sf001)
    // the MM recursion runs on the driver over the <= brands^2 match
    // matrix; its readout therefore plans as a LocalTableScan — a scan
    // of anything data-sized here would mean the model joined back at
    // corpus grain
    val s = df.queryExecution.executedPlan.toString
    assert(s.contains("LocalTableScan"), s.take(1500))
    assert(!s.contains("Scan parquet"), s.take(1500))
    // the output (and so the collected matrix's player set) is bounded
    // by the p_brand dictionary, which is schema-fixed at every SF
    val brands = spark.read
      .parquet(s"${SharedSpark.sf001}/part.parquet")
      .select("p_brand").distinct().count()
    assert(df.count() <= brands,
      s"bradley-terry output exceeds the $brands-brand dictionary")
  }

  test("q_pref_cycles: consumes the suite-shared bt_pairs frame " +
    "(checkpointed RDD scan, no lineitem rescan) and plans " +
    "dictionary-grain joins only — no cartesian product") {
    val plan = staticPlan("q_pref_cycles")
    val s = plan.toString
    // the (order, brand) spend aggregate + order-key self-join live in
    // the SHARED build (paid once per suite); this query's own plan
    // must read the checkpoint, not rebuild the data-sized chain
    assert(s.contains("Scan ExistingRDD"), s.take(2000))
    assert(!s.contains("Scan parquet"),
      s"q_pref_cycles must not rescan base tables:\n${s.take(2000)}")
    assert(!s.contains("CartesianProduct"), s.take(2000))
  }

  test("q_curation_pipeline: the near-dup pair join reuses one shingle " +
    "exchange (hinted SMJ -> ReusedExchange) and no cartesian product " +
    "appears anywhere") {
    val plan = executed("q_curation_pipeline")
    assert(plan.contains("ReusedExchange"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("q_spatial_join: the distance join is a cell EQUI-join (never a " +
    "theta/nested-loop product) with the 9x replica Generate") {
    val plan = executed("q_spatial_join")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      plan.take(1500))
    assert(plan.contains("Generate"), plan.take(1500)) // the 3x3 explode
  }

  test("q_image_dhash_dedup: pair search is the quarter-blocked " +
    "equi-join — all-pairs exists only in the oracle") {
    val plan = executed("q_image_dhash_dedup")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      plan.take(1500))
  }

  test("q_graph_linkpred: wedges and candidates are equi-joins over " +
    "the suite-shared edge frame; degrees join back as broadcasts") {
    val plan = executed("q_graph_linkpred")
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    // the edge build arrives as the GraphShared checkpoint (built once
    // per suite — the reuse the old ReusedExchange assertion pinned
    // now happens one level up)
    assert(plan.contains("Scan ExistingRDD"), plan.take(2000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("q_hits_scores: only the one-row max-norm broadcasts are nested " +
    "loops; rounds read checkpointed RDDs, never the full lineage") {
    val plan = staticPlan("q_hits_scores")
    val s = plan.toString
    assert(!s.contains("CartesianProduct"), s.take(1500))
    val bnl = plan.collectWithSubqueries {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    // exactly the two intended one-row max broadcasts (one per output
    // side); a third would mean a round's score join degenerated
    assert(bnl.size <= 2, s"expected <=2 one-row BNLJs, got ${bnl.size}:\n" +
      s.take(1500))
    assert(s.contains("Scan ExistingRDD"), s.take(1500)) // checkpointed rounds
  }

  test("q_copurchase_lift: pairs arrive from the suite-shared edge " +
    "frame; denominators join back as broadcasts") {
    val plan = staticPlan("q_copurchase_lift")
    val s = plan.toString
    assert(!s.contains("CartesianProduct") || s.contains("BroadcastNestedLoop"),
      s.take(2000))
    // the basket self-join (with its a-priori semi prune and merge
    // hints) now lives inside the GraphShared build — this consumer
    // must read the checkpointed frame, not rebuild the pair join
    assert(s.contains("Scan ExistingRDD"), s.take(2000))
    assert(s.contains("BroadcastHashJoin"), s.take(2000))
    val smj = plan.collectWithSubqueries {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.isEmpty, "the pair self-join must not be rebuilt here")
  }

  test("GraphShared.pairs: the one suite-level edge build keeps the " +
    "a-priori semi prune below both sides of the merge-hinted SMJ") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // build the frame's PLAN without materializing: reconstruct via a
      // fresh logical copy (SharedFrames would hand back the checkpoint)
      val li = Tables.load(spark, SharedSpark.sf001, "lineitem")
        .select("l_orderkey", "l_partkey").distinct()
      val hot = Tables.load(spark, SharedSpark.sf001, "lineitem")
        .groupBy("l_partkey")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_raw"))
        .filter(org.apache.spark.sql.functions.col("n_raw") >= 2)
        .select("l_partkey")
      import org.apache.spark.sql.functions._
      // un-hinted: hot is part-grain (data-sized)
      val lih = li.join(hot, Seq("l_partkey"), "left_semi")
      val a = lih.select(col("l_orderkey"), col("l_partkey").as("u"))
        .hint("merge")
      val b = lih.select(col("l_orderkey").as("okey_b"),
        col("l_partkey").as("v")).hint("merge")
      val plan = a
        .join(b, col("l_orderkey") === col("okey_b") && col("u") < col("v"))
        .groupBy("u", "v").agg(count(lit(1)).as("n"))
        .filter(col("n") >= 2)
        .queryExecution.executedPlan
      val smj = plan.collectWithSubqueries {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }
      assert(smj.nonEmpty, plan.toString.take(2000))
      smj.head.children.foreach { side =>
        val t = side.toString
        assert(t.contains("LeftSemi") || t.contains("ReusedExchange"),
          s"self-join side missing the semi prune:\n${t.take(1500)}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q_graph_assortativity: the pruned self-join builds the edge " +
    "list once (checkpoint scan) and degrees join back as broadcasts") {
    val df = SparkEntry.queries("q_graph_assortativity")(spark, SharedSpark.sf001)
    val s = df.queryExecution.executedPlan.toString
    assert(!s.contains("CartesianProduct"), s.take(1500))
    assert(s.contains("Scan ExistingRDD"), s.take(1500)) // the eu checkpoint
    assert(s.contains("BroadcastHashJoin"), s.take(1500)) // degree joins
  }

  test("q_retrieval_ndcg: consumes the suite-shared checkpointed " +
    "rankings — no corpus scan, no window, no cartesian product") {
    val plan = staticPlan("q_retrieval_ndcg")
    val s = plan.toString
    assert(!s.contains("CartesianProduct"), s.take(1500))
    assert(s.contains("graft_fxlog2"), s.take(1500))
    assert(s.contains("Scan ExistingRDD"), s.take(1500)) // shared frames
    val scans = plan.collectWithSubqueries {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.isEmpty,
      s"NDCG must not rescan the corpus (shared frames): ${scans.size} scans")
    val windows = plan.collectWithSubqueries {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty, "ranking must arrive pre-cut from the shared frames")
  }

  test("q_tree_split: the prefix-sum window partitions by feature and " +
    "nothing past the first aggregate is data-sized") {
    val plan = staticPlan("q_tree_split")
    assert(!plan.toString.contains("CartesianProduct"))
    val windows = plan.collectWithSubqueries {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      "histogram windows must partition by feature")
  }

  test("q_knn_classify: probes broadcast against the corpus scan — the " +
    "corpus side is never shuffled before scoring") {
    val plan = staticPlan("q_knn_classify")
    val s = plan.toString
    assert(!s.contains("CartesianProduct"), s.take(1500))
    // the probe fan-out is the broadcast nested-loop crossJoin by
    // construction; the corpus must reach it straight from the scan
    assert(s.contains("BroadcastNestedLoopJoin"), s.take(1500))
  }

  test("q_naive_bayes: the class/vocab model joins back as broadcasts " +
    "(no data-sized shuffle after the token count)") {
    val plan = executed("q_naive_bayes")
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
  }

  test("q_textrank_chunks: the chunk graph is cached once and every " +
    "join is an equi-join keyed by doc (nothing cross-doc)") {
    val plan = executed("q_textrank_chunks")
    assert(plan.contains("InMemoryTableScan"), plan.take(1500))
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
  }

  test("q_tree_boost: one histogram aggregate per round, split frames " +
    "ride broadcasts (no sort-merge join, no cartesian)") {
    val plan = executed("q_tree_boost")
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    // every join side past the fact scan is histogram/one-row sized:
    // a SortMergeJoin would mean a data-sized frame leaked into the
    // split-selection path
    assert(!plan.contains("SortMergeJoin"), plan.take(1500))
    assert(plan.contains("HashAggregate"), plan.take(1500))
  }

  test("q_bootstrap_ci: the 200x fan-out is Generate(explode), joinless " +
    "until the replica aggregate (the r9 BNLJ GC bomb shape)") {
    val plan = executed("q_bootstrap_ci")
    assert(plan.contains("Generate explode"), plan.take(1500))
    assert(!plan.contains("Join"), plan.take(1500))
  }

  test("q_graph_scc: the assembly plan reads lazy-checkpointed RDD " +
    "leaves with broadcast-only joins (rounds live in the RDD lineage; " +
    "no sort-merge join, no cartesian, no nested loop in the assembly)") {
    val plan = executed("q_graph_scc")
    assert(plan.contains("ExistingRDD"), plan.take(1500))
    assert(!plan.contains("SortMergeJoin"), plan.take(1500))
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
  }

  test("q_max_coverage: the visible plan is the k-row driver-assembled " +
    "pick table (rounds live behind per-round actions; no data-sized " +
    "collect can hide here — the output is exactly k rows)") {
    val plan = executed("q_max_coverage")
    assert(plan.contains("LocalTableScan") || plan.contains("Scan"),
      plan.take(1500))
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
  }

  test("q_graph_modularity: consumes the suite-shared LPA label frames " +
    "(checkpoint scans) with only the two one-row scalar broadcasts as " +
    "nested loops — the 4-round chain must not rebuild per consumer") {
    val plan = staticPlan("q_graph_modularity")
    val s = plan.toString
    assert(s.contains("Scan ExistingRDD"), s.take(1500)) // shared labels/eu
    assert(!s.contains("CartesianProduct"), s.take(1500))
    val bnl = plan.collectWithSubqueries {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(bnl.size <= 2, s"expected <=2 one-row BNLJs (m, q_ppm), got " +
      s"${bnl.size}:\n" + s.take(1500))
    // the SharedFrames memo must hand labelprop and modularity the SAME
    // label frames (one LPA build per suite)
    val a = graft.queries.Wave10.lpaLabels(spark, SharedSpark.sf001)
    val b = graft.queries.Wave10.lpaLabels(spark, SharedSpark.sf001)
    assert((a._2 eq b._2) && (a._3 eq b._3) && (a._4 eq b._4),
      "lpaLabels must memoize eu/labels/prev per suite")
  }

  test("q_graph_labelprop: reads the suite-shared checkpointed label " +
    "rounds (no chain re-execution in the witness branch)") {
    val plan = executed("q_graph_labelprop")
    assert(plan.contains("Scan ExistingRDD"), plan.take(1500))
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
  }

  test("BPE: all three registry queries consume ONE memoized training " +
    "run per suite (merges and vocab come from the same build)") {
    val a = graft.queries.BpeQueries.trainedForTest(spark, SharedSpark.sf001)
    val b = graft.queries.BpeQueries.trainedForTest(spark, SharedSpark.sf001)
    assert(a.asInstanceOf[AnyRef] eq b.asInstanceOf[AnyRef],
      "Bpe training must memoize per suite")
    assert(a._1.size == graft.queries.BpeQueries.K)
  }

  test("q_tpch_q10_returns: nation broadcast pinned, customer un-hinted " +
    "(stats/AQE decide — the scale-safe shape), top-20 is a TakeOrdered " +
    "(no global sort materialization, no cartesian product)") {
    val plan = executed("q_tpch_q10_returns")
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    // the bounded nation dim still rides a BroadcastExchange; customer
    // no longer carries a hint (covered by the registry-wide tripwire)
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1500))
  }

  test("q_embed_pca_power: the iteration is a driver-side dictionary " +
    "solve — the visible plan is the 64-row local relation") {
    val plan = executed("q_embed_pca_power")
    assert(plan.contains("LocalTableScan"), plan.take(1500))
  }

  test("IVF-PQ: the ANN family consumes ONE memoized trained index per " +
    "suite (codebooks and code table come from the same build)") {
    val emb = Tables.load(spark, SharedSpark.sf001, "embeddings")
    val a = graft.ml.Pq.ivfPartsForTest(emb, "vec_id", "embedding",
      kc = 8, m = 4, subDim = 16, k = 16, iters = 2,
      memoKey = Some(SharedSpark.sf001))
    val b = graft.ml.Pq.ivfPartsForTest(emb, "vec_id", "embedding",
      kc = 8, m = 4, subDim = 16, k = 16, iters = 2,
      memoKey = Some(SharedSpark.sf001))
    assert((a._1 eq b._1) && (a._2 eq b._2) && (a._3 eq b._3),
      "ivfParts must memoize per (dir, params)")
  }

  test("registry-wide: every WindowExec carries a partition spec (no " +
    "data-sized single-partition windows anywhere)") {
    val built = walk
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      built.foreach { case (name, df, _) =>
        val plan = df.queryExecution.executedPlan
        val bad = plan.collectWithSubqueries {
          case w: org.apache.spark.sql.execution.window.WindowExec
              if w.partitionSpec.isEmpty => w
        }
        assert(bad.isEmpty, s"$name carries an unpartitioned WindowExec " +
          "(use ops.BoundedWindow for bounded frames, RankedPrefix/" +
          "Packing for data-sized ones)")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q_dedup_prefixfilter: rank and size windows share one doc_id " +
    "exchange; no cartesian product, no broadcast nested loop") {
    val plan = staticPlan("q_dedup_prefixfilter")
    val s = plan.toString
    assert(!s.contains("CartesianProduct"), s.take(1500))
    assert(!s.contains("BroadcastNestedLoopJoin"), s.take(1500))
    val windows = plan.collectWithSubqueries {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    // the merge-hinted candidate self-join must feed both sides from
    // ONE reused exchange, so the shingle+df+window chain (and its 2
    // WindowExec) plans exactly once — not once per join side
    assert(windows.size == 2, s"expected 2 WindowExec, got ${windows.size}")
    assert(s.contains("ReusedExchange"), s.take(1500))
  }

  test("q_dedup_minhash: the signature UDF sits directly on the doc " +
    "repartition, candidates are a (band, bkey) equi-join, verify " +
    "intersects shingle arrays (no shingle explode), no broadcast hint") {
    import org.apache.spark.sql.catalyst.expressions.{ArrayIntersect, ScalaUDF}
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint}
    import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    import org.apache.spark.sql.types.{ArrayType, StringType, StructType}
    val plan = staticPlan("q_dedup_minhash")
    val s = plan.toString
    // nearest exchanges under a node (a reused exchange stands for the
    // exchange it reuses)
    def exchangesBelow(p: SparkPlan): Seq[SparkPlan] = p.children.flatMap {
      case e: Exchange => Seq(e)
      case r: ReusedExchangeExec => Seq(r.child)
      case c => exchangesBelow(c)
    }
    // the signature UDF is the one ScalaUDF over a shingle ARRAY (the
    // shingler takes the text string)
    val sigNodes = plan.collectWithSubqueries {
      case n if n.expressions.exists(_.exists {
        case u: ScalaUDF => u.children.exists(_.dataType == ArrayType(StringType))
        case _ => false
      }) => n
    }
    assert(sigNodes.nonEmpty, s"no signature UDF found:\n${s.take(2000)}")
    sigNodes.foreach { n =>
      val below = exchangesBelow(n)
      assert(below.nonEmpty && below.forall {
        case e: ShuffleExchangeExec =>
          e.outputPartitioning.isInstanceOf[RoundRobinPartitioning]
        case _ => false
      }, s"an exchange sits between the doc repartition and the " +
        s"signature UDF:\n${s.take(2000)}")
    }
    val joinKeys = plan.collectWithSubqueries {
      case j: BaseJoinExec => j.leftKeys.flatMap(_.references.map(_.name)).toSet
    }
    assert(joinKeys.contains(Set("band", "bkey")),
      s"no (band, bkey) equi-join: $joinKeys")
    // the only explodes are the band rows (array<struct>); verification
    // intersects the joined shingle arrays instead of exploding them
    val generators = plan.collectWithSubqueries {
      case g: GenerateExec => g.generator.children.head.dataType
    }
    assert(generators.nonEmpty && generators.forall {
      case ArrayType(_: StructType, _) => true
      case _ => false
    }, s"a non-band explode in the plan: $generators")
    assert(plan.collectWithSubqueries {
      case n if n.expressions.exists(_.exists(_.isInstanceOf[ArrayIntersect])) => n
    }.nonEmpty, s.take(2000))
    val broadcastHints = SparkEntry.queries("q_dedup_minhash")(
      spark, SharedSpark.sf001).queryExecution.analyzed
      .collectWithSubqueries {
        case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) => h
      }
    assert(broadcastHints.isEmpty, broadcastHints.mkString("\n"))
  }

  test("registry-wide: no broadcast hint pins a data-sized base-table " +
    "scan (a dim that scales with SF must be free to degrade to a " +
    "shuffle join at cluster scale instead of hard-failing Spark's 8GB " +
    "broadcast limit; bounded dims — nation/region — and aggregated/" +
    "limited frames may stay pinned)") {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    // Tables whose row count scales with SF: force-broadcasting any of
    // them (un-aggregated) hard-fails at 100TB. nation (25) / region (5)
    // are bounded and exempt.
    val dataSized =
      Seq("customer", "supplier", "part", "orders", "lineitem",
        "events", "documents", "embeddings")
    // Workload-bounded probe panels: a fixed set of ANN/kNN query
    // vectors is the *query workload*, not a data dim — its size is an
    // operating parameter, independent of corpus growth.
    val probePanels = Set(
      "q_ann_bruteforce", "q_ann_ivf", "q_ann_ivfpq", "q_ann_ivfpq_rerank",
      "q_ann_lsh", "q_ann_pq", "q_ann_recall", "q_ann_topk",
      "q_knn_classify", "q_knn_shapley", "q_label_noise",
      "q_contrastive_negatives",
      "q_retrieval_mmr", "q_retrieval_ndcg", "q_retrieval_rbo",
      "q_embed_knn_shapley",
      // BM25's df/idf tables look term-grain but are filtered to the
      // QUERY terms before the aggregate — bounded by the probe panel,
      // not the corpus
      "q_bm25_fx", "q_bm25_topk",
      // skipgram's negative-sampling table is vocabulary-grain but its
      // consumer is a RANGE join (u in [lo, hi)) — broadcast is the
      // only physical strategy short of a cartesian product, which is
      // a strictly worse scale posture; the equi-join sites in the
      // same query are un-hinted
      "q_skipgram_pairs",
      // the broadcast-join OPERATOR surface itself (SURVEY §2.B):
      // invoking it is the user's assertion that the dim fits
      "q_join_broadcast")
    // Columns whose distinct cardinality is schema-bounded (TPC-H enum
    // dictionaries + the bounded synthetic dims): an aggregate whose
    // grain is built ONLY from these can never outgrow the dictionary
    // product, regardless of corpus size.
    val boundedCols = Set(
      "n_nationkey", "n_name", "n_regionkey", "r_regionkey", "r_name",
      "c_mktsegment", "o_orderpriority", "o_orderstatus",
      "l_returnflag", "l_linestatus", "l_shipmode", "l_shipinstruct",
      "p_brand", "p_mfgr", "p_container", "p_size", "p_type",
      "lang", "event_type", "channel",
      // nationkey FKs resolve to the 25-nation dictionary
      "c_nationkey", "s_nationkey",
      // TPC-H dates span a FIXED 1992-1998 window at every SF: a
      // date-grain aggregate is bounded (~2,400 rows) regardless of
      // corpus size
      "o_orderdate", "l_shipdate", "l_receiptdate", "l_commitdate",
      // Audited derived grains with SELF-DESCRIBING names (aliases our
      // own queries coin; each verified bounded-by-construction when
      // its query landed): seg = mktsegment, prio/pri = orderpriority,
      // feature = the 3-wide feature list, dow/mon/yr/n_mon = calendar
      // dictionaries, dim = embedding dimension index (64), source =
      // the crawl source dictionary, ctx = user_id % 4 policy contexts,
      // from_type/to_type = event-type pairs, nk = nationkey alias
      "seg", "prio", "pri", "feature",
      "dow", "mon", "yr", "n_mon", "dim", "source", "ctx",
      "from_type", "to_type", "nk")
    // GENERIC one-letter/short aliases (b, i, s1, s2, bin, bkt) are NOT
    // globally exempt: a future data-grain aggregate whose key happens
    // to be aliased "b" must not silently bypass the tripwire. Each
    // generic alias is exempted ONLY for the audited query that coined
    // it, with the bounding argument inline:
    val scopedBoundedCols: Map[String, Set[String]] = Map(
      // bin = c_mktsegment aliased (5-segment dictionary)
      "q_causal_ipw" -> Set("bin"),
      // b = md5-u32 % 1024 feature-hash buckets (fixed bucket count)
      "q_dsir_weight" -> Set("b"),
      // b = md5-u32 % B feature-hash buckets (fixed B)
      "q_quality_classifier" -> Set("b"),
      // i = embedding dimension index 1..64 (schema-fixed width)
      "q_embed_quantize" -> Set("i"),
      // s1/s2 = 0/1 early/late-window indicator flags ({0,1}^2 grain)
      "q_segment_migration" -> Set("s1", "s2"),
      // bkt = fixed-width price buckets over TPC-H's schema-fixed
      // 900..1900 p_retailprice range (~25 buckets at every SF)
      "q_skyline_pareto" -> Set("bkt"))
    // Subtrees that provably bound their output regardless of input
    // cardinality: a GLOBAL aggregate (one row), an aggregate whose
    // grouping keys reference only dictionary-bounded columns, or an
    // explicit limit. A data-sized-grain aggregate (groupBy doc_id /
    // custkey / partkey …) is NOT exempt — its output scales with the
    // corpus and a forced broadcast over it still hard-fails the 8GB
    // limit at cluster scale.
    def unboundedScans(p: LogicalPlan, bounded: Set[String]): Seq[String] =
      p match {
        case a: Aggregate =>
          val keys = a.groupingExpressions.flatMap(_.references.map(_.name))
          if (keys.forall(bounded)) Nil
          else a.children.flatMap(unboundedScans(_, bounded))
            .map(t => s"$t (under a data-grain aggregate on " +
              s"${keys.distinct.mkString(",")})")
        case _: GlobalLimit => Nil
        case l: LogicalRelation => l.relation match {
          case h: HadoopFsRelation =>
            val path = h.location.rootPaths.mkString(",")
            dataSized.filter(t => path.contains(s"$t.parquet"))
          case _ => Nil
        }
        case other => other.children.flatMap(unboundedScans(_, bounded))
      }
    val bad = walk.flatMap {
      case (name, _, _) if probePanels(name) => Nil
      case (name, df, _) =>
        val bounded =
          boundedCols ++ scopedBoundedCols.getOrElse(name, Set.empty)
        val plan = df.queryExecution.analyzed
        plan.collectWithSubqueries {
          case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) =>
            unboundedScans(h.child, bounded)
              .map(t => s"$name: broadcast over $t")
        }.flatten
    }
    assert(bad.isEmpty,
      s"${bad.size} forced broadcasts of data-sized scans:\n" +
        bad.distinct.mkString("\n"))
  }

  test("registry-wide: every graft_* kernel GraftExtensions registers is " +
    "reached by the analyzed plan of at least one registry query (a " +
    "kernel no query runs has no oracle holding it to its result)") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val registry = spark.sessionState.functionRegistry
    // the GraftExtensions kernels are the graft_* functions whose class
    // is a graft.plans expression; the catalog tripwire keeps builds
    // from registering any other function, so the filter only guards
    // against a graft_* name registered outside the registry
    val kernels = registry.listFunction().map(_.funcName)
      .filter(_.startsWith("graft_")).distinct
      .map(n => n -> registry.lookupFunction(FunctionIdentifier(n)).get.getClassName)
      .filter(_._2.startsWith("graft.plans."))
    assert(kernels.nonEmpty, "no graft_* kernel is registered")
    val reached = walk.flatMap { case (_, df, _) =>
      df.queryExecution.analyzed
        .collectWithSubqueries { case p =>
          p.expressions.flatMap(_.collect { case e => e.getClass.getName })
        }.flatten
    }.toSet
    val unreached = kernels.collect { case (n, c) if !reached(c) => n }.sorted
    assert(unreached.isEmpty,
      s"graft_* kernels no registry query reaches: ${unreached.mkString(", ")}")
  }
}
