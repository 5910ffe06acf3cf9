package graft.queries

import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.functions.Exact._
import graft.ops.{Bucketing, SharedFrames, Skew}
import graft.text.Text

/** Wave 5 — scale patterns exercised as first-class queries: the
  * results must equal their unsalted/unbucketed formulations (that IS
  * the oracle), while the physical plans differ (see PLANS.md).
  */
object ScaleOps {

  /** Two-phase salted aggregation == plain GROUP BY count. */
  val skewSaltedAgg: Q = Q(
    "q_skew_salted_agg",
    """SELECT o_custkey AS key, COUNT(*) AS n
      |FROM orders GROUP BY o_custkey ORDER BY key""".stripMargin) { (s, d) =>
    Skew.saltedCount(Tables.load(s, d, "orders"), col("o_custkey"), saltBuckets = 8)
      .orderBy("key")
  }

  /** Salted fact-dim join == plain join (same rows, skew-proof plan). */
  val skewSaltedJoin: Q = Q(
    "q_skew_salted_join",
    """SELECT n_name, COUNT(*) AS n_supps,
      |  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin) { (s, d) =>
    Skew.saltedJoin(
      Tables.load(s, d, "supplier"),
      Tables.load(s, d, "nation").withColumnRenamed("n_nationkey", "s_nationkey"),
      "s_nationkey", saltBuckets = 4)
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_supps"), dsum(col("s_acctbal")).as("total_bal"))
      .orderBy("n_name")
  }

  /** Co-located bucketed join == plain join; the bucketed plan has no
    * shuffle exchange for the join itself (asserted in ScaleOpsSpec;
    * visible in PLANS.md). Writing the managed tables `graft_b_orders`
    * and `graft_b_lineitem` is a warehouse-build cost, not a per-query
    * one: a [[SharedFrames]] build writes them once per session and
    * input files, so repeated invocations time only the join. The
    * catalog holds one pair of tables, so the build for one dir drops
    * the entry of any other dir, whose tables it overwrites. */
  val joinBucketed: Q = Q(
    "q_join_bucketed",
    """SELECT o_orderkey, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    SharedFrames.value(s, d, "graft_b_tables") {
      SharedFrames.release("graft_b_tables")
      Bucketing.writeBucketed(Tables.load(s, d, "orders").select("o_orderkey"),
        "graft_b_orders", "o_orderkey", buckets = 8)
      Bucketing.writeBucketed(Tables.load(s, d, "lineitem")
          .select(col("l_orderkey").as("o_orderkey"), col("l_quantity")),
        "graft_b_lineitem", "o_orderkey", buckets = 8)
    }
    Bucketing.colocatedJoin(s, "graft_b_orders", "graft_b_lineitem", "o_orderkey")
      .groupBy("o_orderkey")
      .agg(count(lit(1)).as("n_items"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy("o_orderkey")
  }

  /** Deterministic stratified sampling: per-class md5-prefix thresholds
    * (purchases kept 100%, clicks ~25%, the rest ~6.25%). Hash-gated
    * sampling is the 100TB downsampling pattern: reproducible across
    * runs, engines, and retries (rand() is none of those), stable under
    * re-partitioning, and pushes down as an ordinary filter. The md5
    * hex STRING comparison is the portable form — both engines compare
    * identical lowercase-hex bytes. */
  val sampleStratified: Q = Q(
    "q_sample_stratified",
    """SELECT event_id, event_type, user_id FROM events
      |WHERE CASE event_type WHEN 'purchase' THEN true
      |      WHEN 'click' THEN md5(CAST(event_id AS VARCHAR)) < '4'
      |      ELSE md5(CAST(event_id AS VARCHAR)) < '1' END
      |ORDER BY event_id NULLS FIRST""".stripMargin) { (s, d) =>
    val h = md5(col("event_id").cast("string").cast("binary"))
    Tables.load(s, d, "events")
      .filter(
        when(col("event_type") === "purchase", lit(true))
          .when(col("event_type") === "click", h < "4")
          .otherwise(h < "1"))
      .select("event_id", "event_type", "user_id")
      .orderBy("event_id")
  }

  /** Leakage-safe dataset split: every row of an ENTITY lands in the
    * same train/val/test bucket because the gate hashes the entity key,
    * not the row (~80/10/10 by md5 prefix). The group-consistency is
    * what separates this from row sampling — eval rows must never share
    * a user with training rows. */
  val splitByKey: Q = Q(
    "q_split_bykey",
    """SELECT CASE WHEN md5(CAST(user_id AS VARCHAR)) < 'cc' THEN 'train'
      |            WHEN md5(CAST(user_id AS VARCHAR)) < 'e6' THEN 'val'
      |            ELSE 'test' END AS split,
      |       COUNT(*) AS n_events,
      |       COUNT(DISTINCT user_id) AS n_users
      |FROM events GROUP BY split ORDER BY split NULLS FIRST""".stripMargin) { (s, d) =>
    val h = md5(col("user_id").cast("string").cast("binary"))
    Tables.load(s, d, "events")
      .withColumn("split",
        when(h < "cc", "train").when(h < "e6", "val").otherwise("test"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_events"), countDistinct(col("user_id")).as("n_users"))
      .orderBy("split")
  }

  /** Pretraining token packing ("concat-then-chunk"): every doc's
    * tokens land at a global running offset; 512-token context windows
    * are cut across the concatenated stream. The oracle is the naive
    * single-window cumulative sum; the engine runs
    * [[graft.ops.Packing.withGlobalOffsets]] — the two-phase prefix sum
    * with NO single-partition stage (the equality IS the oracle, the
    * plans differ: parallel per-bucket windows vs one global sort). */
  val packChunks: Q = Q(
    "q_pack_chunks",
    s"""WITH t AS (SELECT doc_id,
      |    len(${Text.tokensSql("text")}) AS n_tokens
      |  FROM documents),
      |o AS (SELECT doc_id, n_tokens,
      |        CAST(SUM(n_tokens) OVER (ORDER BY doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |          - n_tokens AS start_tok
      |      FROM t)
      |SELECT doc_id, n_tokens, start_tok,
      |  start_tok // 512 AS first_chunk,
      |  (start_tok + n_tokens - 1) // 512 AS last_chunk,
      |  start_tok % 512 AS offset_in_chunk
      |FROM o ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.load(s, d, "documents")
      .select(col("doc_id"),
        size(graft.text.Text.tokens(col("text"))).cast("long").as("n_tokens"))
    graft.ops.Packing.withGlobalOffsets(docs, "doc_id", "n_tokens", bucketSize = 1000L)
      .select(col("doc_id"), col("n_tokens"), col("start_tok"),
        expr("start_tok div 512").as("first_chunk"),
        expr("(start_tok + n_tokens - 1) div 512").as("last_chunk"),
        (col("start_tok") % 512).as("offset_in_chunk"))
      .orderBy("doc_id")
  }

  /** Sliding-window chunking of long documents (stride < window, so
    * consecutive chunks overlap — the RAG/long-context preprocessing
    * shape): one generator row per (doc, chunk), integer spans only. */
  val slideChunks: Q = Q(
    "q_doc_slide_chunks",
    s"""WITH t AS (SELECT doc_id,
      |    len(${Text.tokensSql("text")}) AS n_tokens
      |  FROM documents),
      |c AS (SELECT doc_id, n_tokens, i AS chunk_no, CAST(i * 48 AS BIGINT) AS tok_start
      |      FROM t, (SELECT unnest(range(0, 100000)) AS i) p
      |      WHERE i * 48 < n_tokens)
      |SELECT doc_id, chunk_no, tok_start,
      |  least(tok_start + 64, n_tokens) AS tok_end
      |FROM c ORDER BY doc_id, chunk_no""".stripMargin) { (s, d) =>
    val window = 64L
    val stride = 48L
    Tables.load(s, d, "documents")
      .select(col("doc_id"),
        size(graft.text.Text.tokens(col("text"))).cast("long").as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        // last chunk starts at the largest stride multiple < n_tokens
        explode(sequence(lit(0L),
          expr(s"greatest((n_tokens - 1) div $stride, 0)"))).as("chunk_no"))
      .filter(col("chunk_no") * stride < col("n_tokens"))
      .select(col("doc_id"), col("chunk_no"),
        (col("chunk_no") * stride).as("tok_start"),
        least(col("chunk_no") * stride + window, col("n_tokens")).as("tok_end"))
      .orderBy("doc_id", "chunk_no")
  }

  /** SCD-1 warehouse merge ([[graft.ops.Merge]]): a CDC batch of
    * upserts (keys %10=3 get a repriced row), inserts (%10=1 spawn a
    * new negative-keyed row), and deletes (%10=7) applied in one pass.
    * The reference maintains its warehouse by blind append + downstream
    * dedup repair (`etl.sh:6-17`) or full replace; MERGE is the shape a
    * user actually wants. Plan: change keys broadcast, warehouse side
    * anti-joins without shuffling. All price math in exact DECIMAL. */
  val mergeUpsert: Q = Q(
    "q_merge_upsert",
    """WITH ch AS (
      |  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 100.00 AS DOUBLE) AS o_totalprice,
      |         'upsert' AS op
      |  FROM orders WHERE o_orderkey % 10 = 3
      |  UNION ALL
      |  SELECT -o_orderkey, o_custkey, 'I',
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE), 'upsert'
      |  FROM orders WHERE o_orderkey % 10 = 1
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_orderstatus, 0.0, 'delete'
      |  FROM orders WHERE o_orderkey % 10 = 7)
      |SELECT t.o_orderkey, t.o_custkey, t.o_orderstatus,
      |       CAST(CAST(t.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice
      |FROM orders t WHERE t.o_orderkey NOT IN (SELECT o_orderkey FROM ch)
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      |FROM ch WHERE op = 'upsert'
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    val base = Tables.load(s, d, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        dec(col("o_totalprice")).cast("double").as("o_totalprice"))
    val upd = base.filter(col("o_orderkey") % 10 === 3)
      .withColumn("o_orderstatus", lit("U"))
      .withColumn("o_totalprice",
        (dec(col("o_totalprice")) + lit("100.00").cast(Money)).cast("double"))
      .withColumn("op", lit("upsert"))
    val ins = base.filter(col("o_orderkey") % 10 === 1)
      .withColumn("o_orderkey", -col("o_orderkey"))
      .withColumn("o_orderstatus", lit("I"))
      .withColumn("op", lit("upsert"))
    val del = base.filter(col("o_orderkey") % 10 === 7)
      .withColumn("op", lit("delete"))
    graft.ops.Merge.upsert(base, upd.unionByName(ins).unionByName(del),
      "o_orderkey")
      .orderBy("o_orderkey")
  }

  /** Source-mixture sampling with fractional epochs: per-source weights
    * (0.25 / 1 / 1.5 / 2.25 by source group) realized as
    * floor(w) full copies plus an md5-hash-gated extra copy with
    * probability frac(w) — the LLM data-mixing pattern (oversample
    * high-quality sources, downsample bulk ones). Hash gating keeps it
    * reproducible across runs/engines/retries, and the copy fan-out is
    * a narrow explode — no shuffle, no skew (every doc expands <= 3x). */
  val sampleMixture: Q = Q(
    "q_sample_mixture",
    """WITH t AS (SELECT doc_id, source,
      |    CAST(substring(source, 4) AS INT) % 4 AS m,
      |    md5(CAST(doc_id AS VARCHAR)) AS h
      |  FROM documents),
      |n AS (SELECT doc_id, source,
      |    CASE m WHEN 0 THEN CASE WHEN h < '4' THEN 1 ELSE 0 END
      |           WHEN 1 THEN 1
      |           WHEN 2 THEN CASE WHEN h < '8' THEN 2 ELSE 1 END
      |           ELSE CASE WHEN h < '4' THEN 3 ELSE 2 END END AS n_copies
      |  FROM t)
      |SELECT doc_id, source, CAST(i AS BIGINT) AS copy
      |FROM n, (SELECT unnest(range(1, 4)) AS i) p
      |WHERE i <= n_copies
      |ORDER BY doc_id, copy""".stripMargin) { (s, d) =>
    val h = md5(col("doc_id").cast("string").cast("binary"))
    val m = expr("CAST(substring(source, 4, 8) AS INT)") % 4
    val copies =
      when(m === 0, when(h < "4", 1).otherwise(0))
        .when(m === 1, lit(1))
        .when(m === 2, when(h < "8", 2).otherwise(1))
        .otherwise(when(h < "4", 3).otherwise(2))
    Tables.load(s, d, "documents")
      .withColumn("n_copies", copies.cast("long"))
      .filter(col("n_copies") > 0)
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(1L), col("n_copies"))).as("copy"))
      .orderBy("doc_id", "copy")
  }

  /** Z-order clustering key ([[graft.ops.ZOrder]]): Morton-interleave
    * of (customer, order-day) — the layout key under which range-
    * partitioned files carry bounded min/max spans in BOTH dimensions,
    * so file stats prune point/range predicates on either (a plain
    * sort prunes only its leading column). Exact integer arithmetic →
    * bit-identical oracle; the narrow key computation never shuffles
    * (the write-side layout itself is exercised in ScaleOpsSpec). */
  val zorderKey: Q = Q(
    "q_zorder_key",
    s"""WITH t AS (SELECT o_orderkey, o_custkey % 65536 AS x,
       |    (epoch_ms(o_orderdate) // 86400000) % 65536 AS y
       |  FROM orders)
       |SELECT o_orderkey, x, y,
       |  CAST(${graft.ops.ZOrder.zvalueSql("x", "y")} AS BIGINT) AS zval
       |FROM t ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    Tables.load(s, d, "orders")
      .select(col("o_orderkey"),
        col("o_custkey").bitwiseAND(lit(65535L)).as("x"),
        graft.functions.Exact.bucket(ms(col("o_orderdate")), 86400000L)
          .bitwiseAND(lit(65535L)).as("y"))
      .withColumn("zval", graft.ops.ZOrder.zvalue2(col("x"), col("y")))
      .orderBy("o_orderkey")
  }

  /** PageRank over the lineitem part/supplier bipartite graph
    * ([[graft.ops.PageRank]]): 4 power iterations in exact fixed-point
    * BIGINT arithmetic, so the DuckDB oracle replays the iterative
    * joins bit-for-bit — floating PageRank can never hash-match across
    * engines (inflow sum order). Parts are even node ids, suppliers
    * odd. */
  val pagerankBipartite: Q = Q(
    "q_pagerank_bipartite",
    graft.ops.PageRank.bipartiteOracleSql(4)) { (s, d) =>
    val pairs = Tables.load(s, d, "lineitem")
      .select(col("l_partkey").as("p"), col("l_suppkey").as("sk")).distinct()
    val edges = pairs
      .select((col("p") * 2).as("src"), (col("sk") * 2 + 1).as("dst"))
      .unionByName(pairs
        .select((col("sk") * 2 + 1).as("src"), (col("p") * 2).as("dst")))
    graft.ops.PageRank.run(edges, "src", "dst", iters = 4)
      .orderBy("node")
  }

  /** Bloom-pruned semi-join == plain IN-subquery semi-join. The engine
    * aggregates the selective dim side's keys into a deterministic
    * bloom ([[graft.functions.BloomFilter]]), broadcasts that one
    * array<bigint> row onto the fact scan, and drops ~99% of fact rows
    * BEFORE any exchange; the exact semi-join afterwards removes the
    * false positives. This is Catalyst's InjectRuntimeFilter pattern
    * made explicit — at 100TB the shuffle input shrinks by the dim
    * selectivity, which is the difference between shuffling the
    * lineitem table and shuffling 1% of it. The probe is the codegen'd
    * [[graft.plans.BloomMightContain]] expression reading the word
    * array in place (Spark's own might_contain is internal-only), and
    * the bloom reaches it as an UNCORRELATED SCALAR SUBQUERY — exactly
    * how Catalyst's own runtime filters materialize (SubqueryExec runs
    * the dim aggregate once, the result feeds the scan-side Filter).
    * The earlier crossJoin(broadcast(bloom)) form was silently broken
    * by PushLeftSemiLeftAntiThroughJoin: the exact semi-join was pushed
    * BELOW the bloom filter, pruning after the join it was meant to
    * protect. The subquery form keeps the probe pinned on the scan
    * (PlanShapeSpec asserts the Filter-under-semi-join order). */
  val bloomPrune: Q = Q(
    "q_bloom_prune",
    """SELECT l_orderkey, l_linenumber, l_suppkey FROM lineitem
      |WHERE l_suppkey IN
      |  (SELECT s_suppkey FROM supplier WHERE s_acctbal > 4500.0)
      |ORDER BY l_orderkey, l_linenumber, l_suppkey""".stripMargin) { (s, d) =>
    val dim = Tables.load(s, d, "supplier").filter(col("s_acctbal") > 4500.0)
    val bloomAgg =
      udaf(graft.functions.BloomFilter.Agg(numBits = 1 << 13, numHashes = 4))
        .withName("graft_bloom_agg")
    val bloom = dim.select(bloomAgg(col("s_suppkey"))).scalar()
    Tables.load(s, d, "lineitem")
      .filter(call_function("graft_bloom_might_contain",
          bloom, col("l_suppkey").cast("bigint")) &&
        col("l_suppkey").isin(dim.select("s_suppkey")))
      .select("l_orderkey", "l_linenumber", "l_suppkey")
      .orderBy("l_orderkey", "l_linenumber", "l_suppkey")
  }

  /** Data-quality constraint suite (Deequ-style): each check is one
    * scan-and-aggregate (the FK orphan check an anti-join), unioned into
    * a (check, n_violations, n_checked) report — the pre-ingest gate a
    * training warehouse runs on every batch. Each check is
    * embarrassingly map-side; nothing here shuffles more than its
    * aggregate. The duplicate-key check is non-vacuous by construction:
    * (l_orderkey, l_linenumber) is NOT unique in this corpus.
    *
    * Building this DataFrame runs NO driver action: the per-table
    * n_checked totals are single-row count aggregates cross-joined onto
    * each check (the exact shape of the oracle's scalar subqueries),
    * not driver-side `.count()` calls — a driver count would be an
    * extra full scan of the fact table per DQ run at 100TB, and the
    * identical total-count subplans dedupe via ReusedExchange anyway.
    * ScaleOpsSpec asserts the zero-jobs-at-build property.
    */
  val dqChecks: Q = Q(
    "q_dq_checks",
    """SELECT 'lineitem_pk_dup' AS check_name,
      |  CAST(COALESCE(SUM(n - 1), 0) AS BIGINT) AS n_violations,
      |  (SELECT COUNT(*) FROM lineitem) AS n_checked
      |FROM (SELECT COUNT(*) AS n FROM lineitem
      |      GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1)
      |UNION ALL
      |SELECT 'lineitem_qty_range', COUNT(*), (SELECT COUNT(*) FROM lineitem)
      |FROM lineitem WHERE l_quantity < 1 OR l_quantity > 50
      |UNION ALL
      |SELECT 'lineitem_orphan_fk', COUNT(*), (SELECT COUNT(*) FROM lineitem)
      |FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
      |UNION ALL
      |SELECT 'orders_null_custkey', COUNT(*), (SELECT COUNT(*) FROM orders)
      |FROM orders WHERE o_custkey IS NULL
      |UNION ALL
      |SELECT 'orders_nonpositive_price', COUNT(*), (SELECT COUNT(*) FROM orders)
      |FROM orders WHERE o_totalprice <= 0
      |ORDER BY check_name""".stripMargin) { (s, d) =>
    val li = Tables.load(s, d, "lineitem")
    val o = Tables.load(s, d, "orders")
    // single-row total-count frames, cross-joined under each check —
    // no driver action, and the identical agg subplans reuse exchanges
    val nLi = li.agg(count(lit(1)).as("n_checked"))
    val nO = o.agg(count(lit(1)).as("n_checked"))
    // each `viol` frame is a single-row ungrouped aggregate
    def report(name: String, viol: org.apache.spark.sql.DataFrame,
        checked: org.apache.spark.sql.DataFrame) =
      viol.crossJoin(checked).select(lit(name).as("check_name"),
        col("v").as("n_violations"), col("n_checked"))
    val pkDup = li.groupBy("l_orderkey", "l_linenumber")
      .agg(count(lit(1)).as("n")).filter(col("n") > 1)
      .agg(coalesce(sum(col("n") - 1), lit(0L)).as("v"))
    val qtyRange = li.filter(col("l_quantity") < 1 || col("l_quantity") > 50)
      .agg(count(lit(1)).as("v"))
    val orphan = li.join(o.select(col("o_orderkey").as("l_orderkey")),
        Seq("l_orderkey"), "left_anti")
      .agg(count(lit(1)).as("v"))
    val nullCust = o.filter(col("o_custkey").isNull).agg(count(lit(1)).as("v"))
    val nonPos = o.filter(col("o_totalprice") <= 0).agg(count(lit(1)).as("v"))
    report("lineitem_pk_dup", pkDup, nLi)
      .unionByName(report("lineitem_qty_range", qtyRange, nLi))
      .unionByName(report("lineitem_orphan_fk", orphan, nLi))
      .unionByName(report("orders_null_custkey", nullCust, nO))
      .unionByName(report("orders_nonpositive_price", nonPos, nO))
      .orderBy("check_name")
  }

  /** Snapshot diff (change data feed between two table versions):
    * versions A and B are carved deterministically from orders (A drops
    * okey%10=3, B drops okey%7=2 and doubles the price where okey%5=0),
    * then a full outer join on the key classifies every key as
    * insert / delete / update, dropping unchanged rows. One shuffle on
    * the key; at 100TB both snapshots are bucketed on it and the join
    * goes exchange-free ([[graft.ops.Bucketing]]).
    */
  val snapshotDiff: Q = Q(
    "q_snapshot_diff",
    """WITH a AS (SELECT o_orderkey, o_orderstatus, o_totalprice
      |           FROM orders WHERE o_orderkey % 10 <> 3),
      |b AS (SELECT o_orderkey, o_orderstatus,
      |        CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2
      |             ELSE o_totalprice END AS o_totalprice
      |      FROM orders WHERE o_orderkey % 7 <> 2)
      |SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
      |  CASE WHEN a.o_orderkey IS NULL THEN 'insert'
      |       WHEN b.o_orderkey IS NULL THEN 'delete'
      |       ELSE 'update' END AS change,
      |  a.o_totalprice AS old_price, b.o_totalprice AS new_price
      |FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
      |WHERE a.o_orderkey IS NULL OR b.o_orderkey IS NULL
      |   OR a.o_totalprice <> b.o_totalprice
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    val o = Tables.load(s, d, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val a = o.filter(col("o_orderkey") % 10 =!= 3)
      .select(col("o_orderkey").as("a_key"), col("o_totalprice").as("old_price"))
    val b = o.filter(col("o_orderkey") % 7 =!= 2)
      .select(col("o_orderkey").as("b_key"),
        when(col("o_orderkey") % 5 === 0, col("o_totalprice") * 2)
          .otherwise(col("o_totalprice")).as("new_price"))
    a.join(b, col("a_key") === col("b_key"), "full_outer")
      .filter(col("a_key").isNull || col("b_key").isNull ||
        col("old_price") =!= col("new_price"))
      .select(coalesce(col("a_key"), col("b_key")).as("o_orderkey"),
        when(col("a_key").isNull, "insert")
          .when(col("b_key").isNull, "delete")
          .otherwise("update").as("change"),
        col("old_price"), col("new_price"))
      .orderBy("o_orderkey")
  }

  /** Hierarchical subtree rollup — the recursive-CTE capability Spark
    * lacks, re-expressed as BOUNDED ITERATION: the key space forms a
    * decimal trie (parent(k) = k div 10), and each row contributes to
    * every ancestor via a fixed fan of 8 level projections unioned and
    * aggregated once. The ORACLE uses DuckDB's real WITH RECURSIVE to
    * walk the same tree — hash equality proves the flattened form is
    * the recursion. Depth is log10(keyspace): at 100TB it stays a
    * dozen map-side projections over one scan, no driver loop, no
    * shuffle per level — the same dissolve-recursion-into-union trick
    * that scales BOM explosion and org-chart rollups.
    */
  val hierarchyRollup: Q = Q(
    "q_hierarchy_rollup",
    """WITH RECURSIVE anc AS (
      |  SELECT o_orderkey AS node, o_orderkey AS anc, o_totalprice
      |  FROM orders WHERE o_orderkey > 0
      |  UNION ALL
      |  SELECT node, anc // 10, o_totalprice FROM anc WHERE anc // 10 > 0
      |)
      |SELECT anc AS node, COUNT(*) AS n_desc,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS subtree_spend
      |FROM anc GROUP BY anc ORDER BY anc""".stripMargin) { (s, d) =>
    val o = Tables.load(s, d, "orders").select("o_orderkey", "o_totalprice")
    // 0..18 covers the FULL positive Long domain (10^18 has 19 digits'
    // worth of ancestors), matching the oracle's unbounded WITH RECURSIVE
    // at any scale factor — a fixed 0..7 silently dropped level-8+
    // ancestors once o_orderkey reached 1e8. The ancestor fan is ONE
    // narrow generate over ONE scan (an explode of the 19 trie prefixes
    // per row), not a 19-branch union re-scanning the table per level;
    // prefixes past the key's digit count are 0 and drop map-side.
    val ancestors = array((0 to 18).map { i =>
      val p = math.pow(10, i).toLong
      expr(s"o_orderkey div $p")
    }: _*)
    o.select(explode(ancestors).as("node"), col("o_totalprice"))
      .filter(col("node") > 0)
      .groupBy("node")
      .agg(count(lit(1)).as("n_desc"), dsum(col("o_totalprice")).as("subtree_spend"))
      .orderBy("node")
  }

  /** Deterministic weighted sampling by PRIORITY (Duffield/Lund/Thorup
    * priority sampling): each row's priority is weight / u with u a
    * uniform (0,1] derived from the md5 of its key, and the sample is
    * the global top-k by priority — heavy rows are proportionally
    * likelier to survive, yet the draw is reproducible across runs,
    * engines, and retries (rand() is none of those). The top-k is a
    * TakeOrderedAndProject: per-partition heads then one k-row merge,
    * no global sort. (Exponential/ES keys would need ln/pow, which are
    * NOT bit-portable across libm implementations; priority sampling's
    * plain division is.)
    */
  val samplePriority: Q = Q(
    "q_sample_priority",
    """SELECT o_orderkey, o_totalprice AS w,
      |  o_totalprice /
      |    ((CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
      |           AS BIGINT) + 1) / 4294967296.0) AS priority
      |FROM orders
      |ORDER BY priority DESC, o_orderkey LIMIT 100""".stripMargin) { (s, d) =>
    val u32 = conv(
      substring(md5(col("o_orderkey").cast("string").cast("binary")), 1, 8),
      16, 10).cast("long")
    Tables.load(s, d, "orders")
      .select(col("o_orderkey"), col("o_totalprice").as("w"),
        (col("o_totalprice") / ((u32 + 1) / lit(4294967296.0))).as("priority"))
      .orderBy(col("priority").desc, col("o_orderkey"))
      .limit(100)
  }

  /** Deterministic contrastive negative mining: for each anchor vector
    * (every 100th), the 5 different-label corpus vectors ranked by
    * md5(anchor:candidate) — the negative-pair sampling step of
    * contrastive embedding training (in-batch negatives are biased;
    * hash-ranked corpus negatives are reproducible across runs,
    * engines, and retries, unlike rand()).
    *
    * Shape at 100TB: anchors are few and BROADCAST; the corpus is
    * scanned once, scored map-side, and reduced per anchor through
    * WindowGroupLimit top-k — only k rows per anchor cross the wire,
    * the corpus itself never shuffles (same shape as ANN brute
    * force). */
  val contrastiveNegatives: Q = Q(
    "q_contrastive_negatives",
    """WITH a AS (SELECT vec_id AS probe_id, label AS plabel
      |           FROM embeddings WHERE vec_id % 100 = 0),
      |c AS (SELECT a.probe_id, e.vec_id, e.label,
      |        md5(CAST(a.probe_id AS VARCHAR) || ':' ||
      |            CAST(e.vec_id AS VARCHAR)) AS h
      |      FROM a JOIN embeddings e ON e.label <> a.plabel),
      |r AS (SELECT probe_id, vec_id, label,
      |        ROW_NUMBER() OVER (PARTITION BY probe_id
      |                           ORDER BY h, vec_id) AS rank
      |      FROM c)
      |SELECT probe_id, rank, vec_id, label FROM r
      |WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin) { (s, d) =>
    val emb = Tables.load(s, d, "embeddings")
    val anchors = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("probe_id"), col("label").as("plabel"))
    val scored = emb.select("vec_id", "label")
      .crossJoin(broadcast(anchors))
      .filter(col("label") =!= col("plabel"))
      .withColumn("h", md5(concat(col("probe_id").cast("string"), lit(":"),
        col("vec_id").cast("string")).cast("binary")))
    graft.ops.TopK.perGroup(scored,
      partitionBy = Seq(col("probe_id")),
      orderBy = Seq(col("h").asc, col("vec_id").asc),
      k = 5, rankCol = "rank")
      .select("probe_id", "rank", "vec_id", "label")
      .orderBy("probe_id", "rank")
  }

  /** Class-balanced downsampling: exactly min(n_class, 20) documents
    * per language, chosen by md5(doc_id) rank — the "cap the head
    * classes, keep the tail whole" rebalancing step of a training mix
    * (rand() sampling is irreproducible and drifts per retry; hash
    * rank is a total deterministic order).
    *
    * Shape at 100TB: one shuffle on the class key with WindowGroupLimit
    * — per-partition top-k runs BEFORE the exchange, so only k rows
    * per class per partition cross the wire regardless of class
    * skew. */
  val sampleBalanced: Q = Q(
    "q_sample_balanced",
    """WITH r AS (SELECT lang, doc_id,
      |    ROW_NUMBER() OVER (PARTITION BY lang
      |                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
      |      AS rank
      |  FROM documents)
      |SELECT lang, rank, doc_id FROM r WHERE rank <= 20
      |ORDER BY lang, rank""".stripMargin) { (s, d) =>
    graft.ops.TopK.perGroup(
      Tables.load(s, d, "documents")
        .select(col("lang"), col("doc_id"),
          md5(col("doc_id").cast("string").cast("binary")).as("h")),
      partitionBy = Seq(col("lang")),
      orderBy = Seq(col("h").asc, col("doc_id").asc),
      k = 20, rankCol = "rank")
      .select("lang", "rank", "doc_id")
      .orderBy("lang", "rank")
  }

  /** Temperature-flattened mixture sampling (the multilingual-training
    * recipe: sample source s with probability ∝ n_s^alpha, alpha < 1,
    * so small sources are up-weighted relative to their share — mBERT/
    * XLM-R's exponent-smoothed sampling). alpha = 0.5 keeps the whole
    * computation engine-exact: w_s = floor(sqrt(n_s)) uses the ONLY
    * libm function IEEE specifies correctly rounded, and the per-source
    * rate B*w_s / (W*n_s) is a single division of two exact integers —
    * one rounding, bit-identical cross-engine (a pow(n, 0.7) variant
    * would drift per libm; a log-space formulation would drift per
    * summation order). Acceptance is the md5-u32 gate shared with the
    * priority sampler: deterministic, retry-stable, replayable.
    *
    * Shape at 100TB: per-source counts are one tiny aggregate,
    * broadcast back; the corpus is filtered map-side with no extra
    * shuffle. (At extreme counts compute W*n_s in DECIMAL — the BIGINT
    * product holds to ~2^63.) */
  val sampleTemperature: Q = Q(
    "q_sample_temperature",
    """WITH n AS (SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source),
      |w AS (SELECT source, n_s,
      |        CAST(FLOOR(SQRT(CAST(n_s AS DOUBLE))) AS BIGINT) AS w_s FROM n),
      |tot AS (SELECT CAST(SUM(w_s) AS BIGINT) AS wt FROM w),
      |r AS (SELECT source, n_s, w_s,
      |        CAST(100 * w_s AS DOUBLE) / CAST(wt * n_s AS DOUBLE) AS rate
      |      FROM w, tot)
      |SELECT d.doc_id, d.source, r.n_s AS n_source, r.w_s AS w_source
      |FROM documents d JOIN r ON d.source = r.source
      |WHERE CAST(CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
      |             AS BIGINT) AS DOUBLE) / 4294967296.0 < r.rate
      |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.load(s, d, "documents")
    val n = docs.groupBy("source").agg(count(lit(1)).as("n_s"))
    val w = n.withColumn("w_s",
      floor(sqrt(col("n_s").cast("double"))).cast("long"))
    val tot = w.agg(sum(col("w_s")).cast("long").as("wt"))
    val r = w.crossJoin(broadcast(tot))
      .withColumn("rate", (col("w_s") * 100).cast("double") /
        (col("wt") * col("n_s")).cast("double"))
    val u32 = conv(
      substring(md5(col("doc_id").cast("string").cast("binary")), 1, 8),
      16, 10).cast("long")
    docs.join(broadcast(r), "source")
      .filter(u32.cast("double") / lit(4294967296.0) < col("rate"))
      .select(col("doc_id"), col("source"),
        col("n_s").as("n_source"), col("w_s").as("w_source"))
      .orderBy("doc_id")
  }

  /** Deterministic corpus shuffle + sharding — the "shuffle the corpus
    * and write N training shards" step: the md5-of-key order IS the
    * permutation (reproducible across runs/engines/retries, unlike
    * rand()), shard assignment is a STATELESS hash gate (u32 % S — no
    * global sort anywhere), and each shard independently computes its
    * read order plus cumulative char offsets (the contiguous-write
    * plan for the shard file). S scales with the cluster and each
    * shard's window sorts only its own slice — the global-sort-free
    * form of "globally shuffle 100TB". */
  val shardShuffle: Q = Q(
    "q_shard_shuffle",
    """WITH h AS (SELECT doc_id, n_chars,
      |    md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents),
      |s AS (SELECT doc_id, n_chars, hx,
      |    CAST(('0x' || substr(hx, 1, 8)) AS BIGINT) % 8 AS shard FROM h)
      |SELECT doc_id, CAST(shard AS BIGINT) AS shard,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY hx, doc_id)
      |       AS BIGINT) AS pos_in_shard,
      |  CAST(SUM(n_chars) OVER (PARTITION BY shard ORDER BY hx, doc_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |       AS BIGINT) AS chars_cum
      |FROM s ORDER BY shard, pos_in_shard""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val hx = md5(col("doc_id").cast("string").cast("binary"))
    val base = Tables.load(s, d, "documents")
      .select(col("doc_id"), col("n_chars"), hx.as("hx"))
      .withColumn("shard",
        (conv(substring(col("hx"), 1, 8), 16, 10).cast("long") % 8))
    val w = Window.partitionBy("shard").orderBy("hx", "doc_id")
    base.select(col("doc_id"), col("shard"),
        row_number().over(w).cast("long").as("pos_in_shard"),
        sum(col("n_chars")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long").as("chars_cum"))
      .orderBy("shard", "pos_in_shard")
  }

  /** 2-D skyline (Pareto frontier): the parts no other part beats on
    * BOTH (cheaper-or-equal price, larger-or-equal size) with at least
    * one strict — the "best tradeoff" operator of preference queries.
    * The ENGINE computes it scalably in two levels: per-price-bucket
    * windows (parallel — a running max over strictly-cheaper rows via
    * a RANGE .. 1 PRECEDING frame on integer cents, plus the
    * ≤-price/greater-size check) and a 25-row bucket-stats broadcast
    * (any lower bucket's max size dominating crosses buckets, and
    * every lower-bucket row is strictly cheaper by construction). The
    * ORACLE is the naive quadratic NOT EXISTS — the hash equality
    * proves the two-level decomposition drops exactly the dominated
    * rows. Duplicate (price, size) points dominate each other only
    * non-strictly, so both survive — tie semantics are part of the
    * contract.
    *
    * Shape at 100TB: one shuffle on the bucket key, per-bucket sorts,
    * and a bucket-count-sized aggregate broadcast — never a global
    * sort, never a self-join. */
  val skylinePareto: Q = Q(
    "q_skyline_pareto",
    """WITH p AS (SELECT p_partkey,
      |    CAST(ROUND(p_retailprice * 100, 0) AS BIGINT) AS cents,
      |    CAST(p_size AS BIGINT) AS size FROM part)
      |SELECT a.p_partkey, a.cents, a.size
      |FROM p a
      |WHERE NOT EXISTS (SELECT 1 FROM p b
      |  WHERE b.cents <= a.cents AND b.size >= a.size
      |    AND (b.cents < a.cents OR b.size > a.size))
      |ORDER BY a.p_partkey""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val W = 4000L // cents per bucket: ~25 buckets over the 900..1900 range
    val p = Tables.load(s, d, "part")
      .select(col("p_partkey"),
        round(col("p_retailprice") * 100, 0).cast("long").as("cents"),
        col("p_size").cast("long").as("size"),
        graft.functions.Exact.bucket(
          round(col("p_retailprice") * 100, 0).cast("long"), W).as("bkt"))
    // intra-bucket dominance: strictly cheaper with >= size, or
    // <=-price with strictly larger size (self excluded by strictness)
    val byPrice = Window.partitionBy("bkt").orderBy("cents")
    val strictlyCheaper = byPrice.rangeBetween(Window.unboundedPreceding, -1)
    val upToHere = byPrice.rangeBetween(Window.unboundedPreceding, 0)
    val local = p
      .withColumn("maxLt", max(col("size")).over(strictlyCheaper))
      .withColumn("maxLe", max(col("size")).over(upToHere))
      .withColumn("locDom",
        (col("maxLt").isNotNull && col("maxLt") >= col("size")) ||
          col("maxLe") > col("size"))
    // cross-bucket: every row of a lower bucket is strictly cheaper,
    // so its max size >= mine dominates me
    val stats = p.groupBy("bkt").agg(max(col("size")).as("bmax"))
    val below = stats.as("x").join(stats.as("y"),
        col("x.bkt") > col("y.bkt"), "left")
      .groupBy(col("x.bkt").as("bkt"))
      .agg(max(col("y.bmax")).as("prevMax"))
    local.join(broadcast(below), Seq("bkt"))
      .filter(!col("locDom") &&
        (col("prevMax").isNull || col("prevMax") < col("size")))
      .select("p_partkey", "cents", "size")
      .orderBy("p_partkey")
  }

  val all: Seq[Q] = Seq(
    skewSaltedAgg, skewSaltedJoin, joinBucketed, sampleStratified, splitByKey,
    packChunks, slideChunks, mergeUpsert, sampleMixture, zorderKey,
    pagerankBipartite, bloomPrune, dqChecks, snapshotDiff, hierarchyRollup,
    samplePriority, contrastiveNegatives, sampleBalanced, sampleTemperature,
    shardShuffle, skylinePareto)
}
