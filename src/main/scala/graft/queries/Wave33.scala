package graft.queries

import org.apache.spark.sql.functions._
import graft.{Q, Session, Tables}

/** Wave 33 — the canonical TPC-H decision-support shapes on this
  * schema: Q3 (shipping-priority top-10 behind a 3-way join) and Q5
  * (local-supplier volume behind a 6-way snowflake join). Revenue is
  * the exact integer micro form
  *   rev_micros = cents(extendedprice) * (10000 - bps(discount))
  * so the money math hash-matches without the double-product caveats.
  */
object Wave33 {

  private val Q3Cut = "1998-06-01"

  /** TPC-H Q3 adapted: BUILDING-segment orders placed before the cut
    * whose lineitems ship after it, grouped to (orderkey, orderdate,
    * orderpriority) revenue, top-10 by revenue. The classic "most
    * valuable unshipped orders" screen.
    *
    * Shape at 100TB: customer is data-sized (scales with SF), so it
    * carries NO broadcast hint — stats/AQE broadcast it while it fits
    * and degrade to a shuffled equi-join past the 8GB limit (the r11
    * verdict's one weak component); orders->lineitem is the one big
    * equi-join; the global top-10 is ORDER BY + LIMIT — a TakeOrdered,
    * never a full sort.
    */
  val tpchQ3: Q = Q(
    "q_tpch_q3_priority",
    s"""SELECT l.l_orderkey,
       |  CAST(SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)
       |    * (10000 - CAST(ROUND(l.l_discount * 10000, 0) AS BIGINT)))
       |    AS BIGINT) AS rev_micros,
       |  epoch_ms(o.o_orderdate) AS odate_ms, o.o_orderpriority
       |FROM customer c
       |JOIN orders o ON o.o_custkey = c.c_custkey
       |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       |WHERE c.c_mktsegment = 'BUILDING'
       |  AND o.o_orderdate < TIMESTAMP '$Q3Cut'
       |  AND l.l_shipdate > TIMESTAMP '$Q3Cut'
       |GROUP BY 1, 3, 4
       |ORDER BY rev_micros DESC, odate_ms, l.l_orderkey
       |LIMIT 10""".stripMargin) { (s, d) =>
    val np = Session.partitions(s)
    val cust = Tables.load(s, d, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("o_custkey"))
    val ord = Tables.load(s, d, "orders")
      .filter(col("o_orderdate") < lit(Q3Cut).cast("timestamp"))
      .join(cust, "o_custkey")
      .select(col("o_orderkey").as("l_orderkey"),
        graft.functions.Exact.ms(col("o_orderdate")).as("odate_ms"),
        col("o_orderpriority"))
    Tables.load(s, d, "lineitem").repartition(np)
      .filter(col("l_shipdate") > lit(Q3Cut).cast("timestamp"))
      .join(ord, "l_orderkey")
      .groupBy("l_orderkey", "odate_ms", "o_orderpriority")
      .agg(sum(expr("""CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                      |  * (10000 - CAST(ROUND(l_discount * 10000, 0) AS BIGINT))"""
        .stripMargin)).as("rev_micros"))
      .select(col("l_orderkey"), col("rev_micros"), col("odate_ms"),
        col("o_orderpriority"))
      .orderBy(col("rev_micros").desc, col("odate_ms"), col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5 adapted: revenue by nation for ASIA-region orders where
    * the lineitem's SUPPLIER sits in the customer's nation (the
    * "local supplier volume" snowflake — 6 relations), for orders in
    * calendar 1997.
    *
    * Shape at 100TB: region/nation are pinned broadcast dims
    * (bounded); customer and supplier scale with SF, so they carry NO
    * hint — stats/AQE broadcast them while they fit and degrade to
    * shuffled equi-joins at cluster scale. orders->lineitem is the
    * only fact-fact equi-join; the local-supplier condition is a
    * residual equality on the two nation keys. Output is
    * nation-dictionary-sized.
    */
  val tpchQ5: Q = Q(
    "q_tpch_q5_local",
    """SELECT n.n_name,
      |  CAST(SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)
      |    * (10000 - CAST(ROUND(l.l_discount * 10000, 0) AS BIGINT)))
      |    AS BIGINT) AS rev_micros,
      |  CAST(COUNT(*) AS BIGINT) AS n_lines
      |FROM region r
      |JOIN nation n ON n.n_regionkey = r.r_regionkey
      |JOIN customer c ON c.c_nationkey = n.n_nationkey
      |JOIN orders o ON o.o_custkey = c.c_custkey
      |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |  AND s.s_nationkey = c.c_nationkey
      |WHERE r.r_name = 'ASIA'
      |  AND EXTRACT(YEAR FROM o.o_orderdate) = 1997
      |GROUP BY 1 ORDER BY rev_micros DESC, n.n_name""".stripMargin) {
    (s, d) =>
    val np = Session.partitions(s)
    val nations = Tables.load(s, d, "nation")
      .join(broadcast(Tables.load(s, d, "region")
        .filter(col("r_name") === "ASIA")
        .select(col("r_regionkey").as("n_regionkey"))), "n_regionkey")
      .select(col("n_nationkey"), col("n_name"))
    val cust = Tables.load(s, d, "customer")
      .join(broadcast(nations.withColumnRenamed("n_nationkey", "c_nationkey")),
        "c_nationkey")
      .select(col("c_custkey").as("o_custkey"),
        col("c_nationkey").as("cnat"), col("n_name"))
    val ord = Tables.load(s, d, "orders")
      .filter(year(col("o_orderdate")) === 1997)
      .join(cust, "o_custkey")
      .select(col("o_orderkey").as("l_orderkey"), col("cnat"), col("n_name"))
    val supp = Tables.load(s, d, "supplier")
      .select(col("s_suppkey").as("l_suppkey"),
        col("s_nationkey").cast("long").as("snat"))
    Tables.load(s, d, "lineitem").repartition(np)
      .join(supp, "l_suppkey")
      .join(ord, "l_orderkey")
      .filter(col("snat") === col("cnat").cast("long"))
      .groupBy("n_name")
      .agg(
        sum(expr("""CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                   |  * (10000 - CAST(ROUND(l_discount * 10000, 0) AS BIGINT))"""
          .stripMargin)).as("rev_micros"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("rev_micros").desc, col("n_name"))
  }

  val all: Seq[Q] = Seq(tpchQ3, tpchQ5)
}
