package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Q, Tables}
import graft.functions.Exact._

/** Wave 1 — relational core: scan/filter/project, hash aggregates,
  * grouping sets, all join shapes, sort/limit/top-k, set ops.
  *
  * The reference delegated all of these to BigQuery on the published
  * dataset (SURVEY.md §2.A tail note); here they are native Spark.
  */
object Relational {

  private def lineitem(s: SparkSession, d: String) = Tables.load(s, d, "lineitem")
  private def orders(s: SparkSession, d: String)   = Tables.load(s, d, "orders")
  private def customer(s: SparkSession, d: String) = Tables.load(s, d, "customer")
  private def supplier(s: SparkSession, d: String) = Tables.load(s, d, "supplier")
  private def nation(s: SparkSession, d: String)   = Tables.load(s, d, "nation")
  private def region(s: SparkSession, d: String)   = Tables.load(s, d, "region")

  // -- scan + projection (R16 analog: etl.sh:20-29 star projection) -------
  val scanProject: Q = Q(
    "q_scan_project",
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag""".stripMargin) {
    (s, d) =>
      lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag")
  }

  // -- predicates (R14 analog: etl.sh:16-17) ------------------------------
  val filterPred: Q = Q(
    "q_filter_pred",
    """SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag
      |FROM lineitem
      |WHERE (l_quantity > 30 AND l_discount <= 0.05) OR l_returnflag = 'R'
      |ORDER BY l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag""".stripMargin) {
    (s, d) =>
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic data, so
      // the total order covers every output column.
      lineitem(s, d)
        .filter((col("l_quantity") > 30 && col("l_discount") <= 0.05) ||
          col("l_returnflag") === "R")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_returnflag")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_returnflag")
  }

  // -- hash aggregate -----------------------------------------------------
  val aggHash: Q = Q(
    "q_agg_hash",
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      |  COUNT(*) AS n_rows,
      |  MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
    lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base"),
        sum(dec(col("l_extendedprice")) * (lit(1).cast(Money) - dec(col("l_discount"))))
          .cast(DoubleType).as("sum_disc_price"),
        count(lit(1)).as("n_rows"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        davg(col("l_quantity")).as("avg_qty"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val aggDistinct: Q = Q(
    "q_agg_distinct",
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_partkey) AS distinct_parts,
      |  COUNT(DISTINCT l_suppkey) AS distinct_supps,
      |  COUNT(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
    (s, d) =>
      lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_partkey")).as("distinct_parts"),
          countDistinct(col("l_suppkey")).as("distinct_supps"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
  }

  /** Exact percentiles on integer cents. Quartile fractions (0, .25, .5,
    * .75) are exact binary fractions, so linear interpolation between
    * two integer values is bit-identical no matter how the engine
    * associates the formula — the ONLY percentile points that are
    * portable across Spark `percentile` and DuckDB `quantile_cont`
    * (p90's 0.1 fraction rounds differently). Scale note: exact
    * percentile buffers each group's values — at 100TB use
    * approx_percentile (t-digest); the exact form here doubles as its
    * correctness baseline. */
  val aggPercentile: Q = Q(
    "q_agg_percentile",
    """SELECT l_returnflag,
      |  quantile_cont(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT), 0.25) AS p25_cents,
      |  quantile_cont(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT), 0.5) AS median_cents,
      |  quantile_cont(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT), 0.75) AS p75_cents,
      |  COUNT(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag
      |ORDER BY l_returnflag NULLS FIRST""".stripMargin) {
    (s, d) =>
      val cents = round(col("l_extendedprice") * 100, 0).cast("long")
      lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          percentile(cents, lit(0.25)).as("p25_cents"),
          percentile(cents, lit(0.5)).as("median_cents"),
          percentile(cents, lit(0.75)).as("p75_cents"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
  }

  val aggHaving: Q = Q(
    "q_agg_having",
    """SELECT o_custkey, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
      |FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 10
      |ORDER BY o_custkey""".stripMargin) { (s, d) =>
    orders(s, d)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_spend"))
      .filter(col("n_orders") >= 10)
      .orderBy("o_custkey")
  }

  // -- grouping-set family ------------------------------------------------
  private val groupedAggSql =
    """  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n_rows""".stripMargin

  val aggRollup: Q = Q(
    "q_agg_rollup",
    s"""SELECT l_returnflag, l_linestatus,
       |$groupedAggSql
       |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
       |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin) {
    (s, d) =>
      lineitem(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  }

  val aggCube: Q = Q(
    "q_agg_cube",
    s"""SELECT l_returnflag, l_linestatus,
       |$groupedAggSql
       |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
       |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin) {
    (s, d) =>
      lineitem(s, d)
        .cube("l_returnflag", "l_linestatus")
        .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  }

  private val aggGroupingSetsSql =
    s"""SELECT l_returnflag, l_linestatus,
       |$groupedAggSql
       |FROM lineitem
       |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
       |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  /** The oracle text itself, run over the table (the same Catalyst
    * Expand plan as rollup). */
  val aggGroupingSets: Q = Q("q_agg_gsets", aggGroupingSetsSql) { (s, d) =>
    Q.sql(s, aggGroupingSetsSql, "lineitem" -> lineitem(s, d))
  }

  // -- joins --------------------------------------------------------------
  val joinInner: Q = Q(
    "q_join_inner",
    """SELECT c_mktsegment, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
    customer(s, d)
      .join(orders(s, d), col("c_custkey") === col("o_custkey"), "inner")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
      .orderBy("c_mktsegment")
  }

  val joinLeft: Q = Q(
    "q_join_left",
    """SELECT c_custkey, c_mktsegment, COUNT(o_orderkey) AS n_orders
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey, c_mktsegment ORDER BY c_custkey""".stripMargin) { (s, d) =>
    customer(s, d)
      .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey", "c_mktsegment")
      .agg(count(col("o_orderkey")).as("n_orders"))
      .orderBy("c_custkey")
  }

  val joinFull: Q = Q(
    "q_join_full",
    """WITH big AS (
      |  SELECT o_custkey, COUNT(*) AS n_big
      |  FROM orders WHERE o_totalprice > 300000 GROUP BY o_custkey),
      |neg AS (
      |  SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal < 0)
      |SELECT COALESCE(o_custkey, c_custkey) AS custkey, n_big, c_acctbal
      |FROM big FULL JOIN neg ON o_custkey = c_custkey
      |ORDER BY custkey""".stripMargin) { (s, d) =>
    val big = orders(s, d).filter(col("o_totalprice") > 300000)
      .groupBy("o_custkey").agg(count(lit(1)).as("n_big"))
    val neg = customer(s, d).filter(col("c_acctbal") < 0)
      .select("c_custkey", "c_acctbal")
    big.join(neg, col("o_custkey") === col("c_custkey"), "full")
      .select(
        coalesce(col("o_custkey"), col("c_custkey")).as("custkey"),
        col("n_big"), col("c_acctbal"))
      .orderBy("custkey")
  }

  val joinSemi: Q = Q(
    "q_join_semi",
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_totalprice > 400000)
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    customer(s, d)
      .join(
        orders(s, d).filter(col("o_totalprice") > 400000),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** Anti join with a restricted right side (customers with no BIG
    * orders) so the result is non-empty — every custkey has at least
    * one order in the driver data, so the unrestricted form proves
    * nothing. */
  val joinAnti: Q = Q(
    "q_join_anti",
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    customer(s, d)
      .join(
        orders(s, d).filter(col("o_totalprice") > 400000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** Dim tables (region/nation/supplier) broadcast to every executor:
    * the fact-side scan never shuffles for the join — the 100TB-safe
    * star-join plan. */
  val joinBroadcast: Q = Q(
    "q_join_broadcast",
    """SELECT r_name, n_name, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin) { (s, d) =>
    lineitem(s, d)
      .join(broadcast(supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(count(lit(1)).as("n_items"), dsum(col("l_extendedprice")).as("revenue"))
      .orderBy("r_name", "n_name")
  }

  // -- sort / limit / top-k ----------------------------------------------
  val sortLimit: Q = Q(
    "q_sort_limit",
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin) { (s, d) =>
    orders(s, d)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(100)
      // re-sort after limit so the written row order is the declared one
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
  }

  val topKGroup: Q = Q(
    "q_topk_group",
    """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) WHERE rn <= 3
      |ORDER BY o_custkey, rn""".stripMargin) { (s, d) =>
    graft.ops.TopK.perGroup(
      orders(s, d),
      partitionBy = Seq(col("o_custkey")),
      orderBy = Seq(col("o_totalprice").desc, col("o_orderkey").asc),
      k = 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
      .orderBy("o_custkey", "rn")
  }

  // -- set operations -----------------------------------------------------
  private val sides =
    """SELECT c_custkey AS key, 'customer' AS side FROM customer
      |UNION ALL SELECT o_custkey AS key, 'orders' AS side FROM orders""".stripMargin

  val unionAll: Q = Q(
    "q_union_all",
    s"""SELECT key, side, COUNT(*) AS n FROM ($sides)
       |GROUP BY key, side ORDER BY key, side""".stripMargin) { (s, d) =>
    val c = customer(s, d).select(col("c_custkey").as("key"), lit("customer").as("side"))
    val o = orders(s, d).select(col("o_custkey").as("key"), lit("orders").as("side"))
    c.unionAll(o).groupBy("key", "side").agg(count(lit(1)).as("n"))
      .orderBy("key", "side")
  }

  val unionDistinct: Q = Q(
    "q_union_distinct",
    """SELECT c_custkey AS key FROM customer
      |UNION SELECT o_custkey FROM orders ORDER BY key""".stripMargin) { (s, d) =>
    customer(s, d).select(col("c_custkey").as("key"))
      .union(orders(s, d).select(col("o_custkey").as("key")))
      .distinct()
      .orderBy("key")
  }

  val intersectQ: Q = Q(
    "q_intersect",
    """SELECT c_custkey AS key FROM customer
      |INTERSECT SELECT o_custkey FROM orders ORDER BY key""".stripMargin) { (s, d) =>
    customer(s, d).select(col("c_custkey").as("key"))
      .intersect(orders(s, d).select(col("o_custkey").as("key")))
      .orderBy("key")
  }

  /** EXCEPT with a restricted right side so the difference is non-empty
    * (all customer keys appear in unrestricted orders). */
  val exceptQ: Q = Q(
    "q_except",
    """SELECT c_custkey AS key FROM customer
      |EXCEPT SELECT o_custkey FROM orders WHERE o_totalprice > 300000
      |ORDER BY key""".stripMargin) { (s, d) =>
    customer(s, d).select(col("c_custkey").as("key"))
      .except(orders(s, d).filter(col("o_totalprice") > 300000)
        .select(col("o_custkey").as("key")))
      .orderBy("key")
  }

  // -- pivot / subqueries -------------------------------------------------

  /** Pivot with an EXPLICIT value list: at 100TB the implicit form's
    * extra distinct-values pass over the fact table is a full scan you
    * don't need — declare the (small, known) dimension domain instead.
    * The oracle is the portable conditional-aggregation formulation. */
  val aggPivot: Q = Q(
    "q_agg_pivot",
    """SELECT o_orderpriority,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS total_f,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS total_o,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS total_p
      |FROM orders GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    orders(s, d)
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(dsum(col("o_totalprice")))
      .select(col("o_orderpriority"),
        col("F").as("total_f"), col("O").as("total_o"), col("P").as("total_p"))
      .orderBy("o_orderpriority")
  }

  /** UNPIVOT — the inverse of q_agg_pivot: a wide per-group metrics
    * row melted to (group, metric, value) long form via the native
    * `Dataset.unpivot` (Spark lowers it to one Expand node — each
    * input row fans out to the metric rows in-place, no shuffle and no
    * N-way self-union scan). Values are integer cents/counts so the
    * melted column stays one hash-safe BIGINT. The oracle is the
    * portable UNION ALL formulation over the same aggregate. */
  val aggUnpivot: Q = Q(
    "q_agg_unpivot",
    """WITH a AS (SELECT o_orderpriority,
      |    CAST(COUNT(*) AS BIGINT) AS n_orders,
      |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |         AS BIGINT) AS cents_sum,
      |    CAST(MAX(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |         AS BIGINT) AS cents_max
      |  FROM orders GROUP BY o_orderpriority)
      |SELECT o_orderpriority, metric, value FROM (
      |  SELECT o_orderpriority, 'n_orders' AS metric, n_orders AS value FROM a
      |  UNION ALL
      |  SELECT o_orderpriority, 'cents_sum', cents_sum FROM a
      |  UNION ALL
      |  SELECT o_orderpriority, 'cents_max', cents_max FROM a)
      |ORDER BY o_orderpriority, metric""".stripMargin) { (s, d) =>
    val cents = (col("o_totalprice").cast("decimal(18,2)") * 100)
      .cast("long")
    orders(s, d)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(cents).cast("long").as("cents_sum"),
        max(cents).as("cents_max"))
      .unpivot(
        Array(col("o_orderpriority")),
        Array(col("n_orders"), col("cents_sum"), col("cents_max")),
        "metric", "value")
      .orderBy("o_orderpriority", "metric")
  }

  /** Correlated EXISTS through the SQL surface: Catalyst decorrelates
    * this into the same shuffled semi join q_join_semi declares
    * directly (RewritePredicateSubquery) — the subquery never executes
    * per-row. The correlation is two-sided (key equality + an
    * inequality on the outer row's own column). */
  private val subqueryExistsSql =
    """SELECT c_custkey, c_name, c_acctbal FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey
      |                AND o.o_totalprice > c.c_acctbal * 50)
      |ORDER BY c_custkey""".stripMargin
  val subqueryExists: Q = Q("q_subquery_exists", subqueryExistsSql) { (s, d) =>
    Q.sql(s, subqueryExistsSql, "customer" -> customer(s, d), "orders" -> orders(s, d))
  }

  /** Correlated scalar subqueries (count + max per outer row):
    * decorrelated into one aggregate over orders joined back to
    * customer (RewriteCorrelatedScalarSubquery) — including the
    * COUNT-over-no-rows = 0 edge both engines must agree on. */
  private val subqueryScalarSql =
    """SELECT c_custkey, c_acctbal,
      |  (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey
      |     AND o.o_totalprice > 350000) AS n_big_orders,
      |  (SELECT MAX(o_totalprice) FROM orders o
      |     WHERE o.o_custkey = c.c_custkey) AS max_order
      |FROM customer c ORDER BY c_custkey""".stripMargin
  val subqueryScalar: Q = Q("q_subquery_scalar", subqueryScalarSql) { (s, d) =>
    Q.sql(s, subqueryScalarSql, "customer" -> customer(s, d), "orders" -> orders(s, d))
  }

  /** Equi-width histogram in exact integer space: prices as cents,
    * bucket = (cents-min)*NB div (max-min+1) — no float division, so
    * bucket edges are bit-identical cross-engine. The global min/max
    * is a single-row broadcast (no second scan shuffle); at 100TB the
    * stats row comes from table metadata instead and the bucketing
    * stays one narrow pass. */
  val aggHistogram: Q = Q(
    "q_agg_histogram",
    """WITH c AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM orders),
      |st AS (SELECT MIN(cents) AS mn, MAX(cents) AS mx FROM c)
      |SELECT CAST((cents - mn) * 16 // (mx - mn + 1) AS BIGINT) AS bucket,
      |       COUNT(*) AS n, MIN(cents) AS lo_cents, MAX(cents) AS hi_cents
      |FROM c, st GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, d) =>
    val c = Tables.load(s, d, "orders")
      .select((dec(col("o_totalprice")) * 100).cast(LongType).as("cents"))
    val st = c.agg(min(col("cents")).as("mn"), max(col("cents")).as("mx"))
    c.crossJoin(broadcast(st))
      .withColumn("bucket", expr("((cents - mn) * 16) div (mx - mn + 1)"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        min(col("cents")).as("lo_cents"), max(col("cents")).as("hi_cents"))
      .orderBy("bucket")
  }

  /** t-digest-family approximate percentiles (percentile_approx) per
    * group — the 100TB replacement for [[aggPercentile]]'s exact
    * buffering form, mergeable across partitions with map-side
    * partials. No oracle (the sketch is algorithm-specific);
    * RelationalSpec bounds it against the exact quartiles. */
  val aggApproxPercentile: Q = Q.noOracle("q_agg_approx_percentile") { (s, d) =>
    val cents = round(col("l_extendedprice") * 100, 0).cast("long")
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(percentile_approx(cents, array(lit(0.25), lit(0.5), lit(0.75)),
        lit(10000)).as("qs"), count(lit(1)).as("n_rows"))
      .select(col("l_returnflag"),
        col("qs")(0).as("p25_cents"), col("qs")(1).as("median_cents"),
        col("qs")(2).as("p75_cents"), col("n_rows"))
      .orderBy("l_returnflag")
  }

  /** Equi-depth feature binning (decile discretization) the scalable
    * way: the 9 decile boundaries come from one distributed exact
    * percentile AGGREGATE over integer cents (map-side partials — NOT
    * a global-sort ntile, which would funnel the table through one
    * partition), broadcast as a single row, and each row's bin is a
    * branch-free sum of boundary comparisons. The discretization step
    * of every feature pipeline, shaped so the table is scanned once
    * and never globally sorted.
    */
  val featureBins: Q = {
    val sqlBin = (1 to 9)
      .map(i => s"CASE WHEN cents >= b$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    val sqlBs = (1 to 9)
      .map(i => s"quantile_cont(cents, 0.${i}) AS b$i").mkString(", ")
    Q(
      "q_feature_bins",
      s"""WITH c AS (SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
         |             o_totalprice
         |           FROM orders),
         |b AS (SELECT $sqlBs FROM c)
         |SELECT CAST($sqlBin AS BIGINT) AS bin,
         |  COUNT(*) AS n, MIN(cents) AS min_cents, MAX(cents) AS max_cents,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
         |FROM c, b GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val c = orders(s, d).select(
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"),
        col("o_totalprice"))
      // one percentile buffer for all nine cut points (an array-typed
      // percentile agg builds ONE value-count map; nine scalar aggs
      // would build nine — measured 2.7s -> sub-second at sf0.1)
      val b = c
        .agg(percentile(col("cents"),
          array((1 to 9).map(i => lit(i / 10.0)): _*)).as("bs"))
        .select((1 to 9).map(i => col("bs").getItem(i - 1).as(s"b$i")): _*)
      val bin = (1 to 9)
        .map(i => when(col("cents") >= col(s"b$i"), 1).otherwise(0))
        .reduce(_ + _)
      c.crossJoin(broadcast(b))
        .groupBy(bin.cast("long").as("bin"))
        .agg(count(lit(1)).as("n"),
          min(col("cents")).as("min_cents"),
          max(col("cents")).as("max_cents"),
          dsum(col("o_totalprice")).as("total_spend"))
        .orderBy("bin")
    }
  }

  /** Group-wise feature standardization (z-score per segment): the ML
    * feature-scaling transform, computed from integer-cent SUM and
    * SUM-of-squares partials (order-free) with per-group stats
    * broadcast back onto the row stream — one scan, one tiny stats
    * shuffle, map-side normalization. The z formula is the identical
    * IEEE tree in both engines.
    */
  val featureStandardize: Q = Q(
    "q_feature_standardize",
    """WITH c AS (SELECT c_custkey, c_mktsegment,
      |             CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS cents
      |           FROM customer),
      |st AS (SELECT c_mktsegment,
      |         CAST(SUM(cents) AS DOUBLE) / COUNT(*) AS mean,
      |         SQRT((CAST(SUM(cents * cents) AS DOUBLE)
      |               - CAST(SUM(cents) AS DOUBLE) * SUM(cents) / COUNT(*))
      |              / COUNT(*)) AS sd
      |       FROM c GROUP BY 1)
      |SELECT c_custkey, c_mktsegment, cents, (cents - mean) / sd AS z
      |FROM c JOIN st USING (c_mktsegment)
      |WHERE sd > 0
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    val c = customer(s, d).select(col("c_custkey"), col("c_mktsegment"),
      round(col("c_acctbal") * 100, 0).cast("long").as("cents"))
    val cnt = count(lit(1))
    val st = c.groupBy("c_mktsegment")
      .agg((sum(col("cents")).cast("double") / cnt).as("mean"),
        sqrt((sum(col("cents") * col("cents")).cast("double")
          - sum(col("cents")).cast("double") * sum(col("cents")) / cnt) / cnt)
          .as("sd"))
    c.join(broadcast(st), "c_mktsegment")
      .filter(col("sd") > 0)
      .select(col("c_custkey"), col("c_mktsegment"), col("cents"),
        ((col("cents") - col("mean")) / col("sd")).as("z"))
      .orderBy("c_custkey")
  }

  val all: Seq[Q] = Seq(
    scanProject, filterPred,
    aggHash, aggDistinct, aggPercentile, aggHaving, aggRollup, aggCube, aggGroupingSets,
    joinInner, joinLeft, joinFull, joinSemi, joinAnti, joinBroadcast,
    sortLimit, topKGroup,
    unionAll, unionDistinct, intersectQ, exceptQ,
    aggPivot, aggUnpivot, subqueryExists, subqueryScalar, aggHistogram,
    aggApproxPercentile,
    featureBins, featureStandardize)
}
