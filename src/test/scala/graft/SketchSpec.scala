package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Error-bound tests for the sketch-family queries that cannot have a
  * cross-engine oracle (algorithm-specific layouts): count-min sketch
  * point estimates and t-digest approximate percentiles.
  */
class SketchSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  test("count-min sketch never undercounts, overcounts by at most eps*N slack") {
    val out = graft.queries.Udfs.sketchCms
      .run(spark, SharedSpark.sf001).collect()
    assert(out.nonEmpty && out.length <= 20)
    val n = Tables.load(spark, SharedSpark.sf001, "events").count()
    val slack = math.max(1L, (3 * 0.0001 * n).toLong) // 3x eps*N head-room
    out.foreach { r =>
      val (t, e) = (r.getLong(1), r.getLong(2))
      assert(e >= t, s"CMS undercounted: true=$t est=$e")
      assert(e <= t + slack, s"CMS overcounted past bound: true=$t est=$e")
    }
  }

  test("CMS at full sf0.01: query true-counts replay exactly, estimates " +
    "obey the eps*N bound, and merged per-month sketches reproduce the " +
    "full-table estimates (sketch of union = merge of sketches)") {
    // Full-table independent recompute (the q_bm25_topk treatment): the
    // DuckDB oracle can't replay Spark's CMS layout, so the spec
    // replays everything AROUND the sketch on the whole sf0.01 table
    // and pins the sketch itself with its two algebraic contracts —
    // the one-sided eps*N error bound and linear mergeability.
    val out = graft.queries.Udfs.sketchCms
      .run(spark, SharedSpark.sf01).collect()
    assert(out.length == 20)
    // 1) the probe side (top-20 true counts) replayed sequentially
    val ev = Tables.load(spark, SharedSpark.sf01, "events")
      .select("user_id").collect().map(_.getLong(0))
    val trueCounts = ev.groupBy(identity).map { case (u, g) => u -> g.length.toLong }
    val top20 = trueCounts.toSeq.sortBy { case (u, n) => (-n, u) }.take(20)
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq == top20)
    // 2) estimate bounds at the declared eps = 1e-4, N = |events|
    val slack = math.max(1L, (3 * 0.0001 * ev.length).toLong)
    out.foreach { r =>
      val (t, e) = (r.getLong(1), r.getLong(2))
      assert(e >= t && e <= t + slack, s"true=$t est=$e slack=$slack")
    }
    // 3) mergeability: per-month sketches merged in the spec must give
    // the SAME estimate per probe as the query's full-table sketch —
    // the property that makes CMS a valid distributed partial aggregate
    val monthly = ev.grouped(math.max(1, ev.length / 12)).map { chunk =>
      val sk = org.apache.spark.util.sketch.CountMinSketch
        .create(0.0001, 0.99, 42)
      chunk.foreach(sk.addLong) // addLong: the same path the SQL aggregate takes for BIGINT
      sk
    }.toSeq
    val merged = monthly.reduce { (a, b) => a.mergeInPlace(b); a }
    out.foreach { r =>
      assert(merged.estimateCount(r.getLong(0)) == r.getLong(2),
        s"merged sketch diverges for key ${r.getLong(0)}")
    }
  }

  test("approx percentiles fall inside the +-1% rank band of the exact values") {
    val cents = Tables.load(spark, SharedSpark.sf001, "lineitem")
      .select(col("l_returnflag"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (f, xs) => f -> xs.map(_._2).sorted }
    val approx = graft.queries.Relational.aggApproxPercentile
      .run(spark, SharedSpark.sf001).collect()
    assert(approx.nonEmpty)
    approx.foreach { r =>
      val xs = cents(r.getString(0))
      def atRank(q: Double): Long =
        xs(math.max(0, math.min(xs.length - 1, (q * (xs.length - 1)).round.toInt)))
      Seq(0.25 -> r.getLong(1), 0.5 -> r.getLong(2), 0.75 -> r.getLong(3))
        .foreach { case (q, got) =>
          assert(got >= atRank(q - 0.01) && got <= atRank(q + 0.01),
            s"flag=${r.getString(0)} q=$q got=$got band=[${atRank(q - 0.01)}, ${atRank(q + 0.01)}]")
        }
    }
  }

  test("the md5 hex-prefix decode and the sketch arithmetic on it agree " +
    "between their Spark and Scala forms at every (from, width) in use, " +
    "and width 16 is rejected") {
    import graft.functions.{Hex, Sketches}
    import spark.implicits._
    val uses = Seq((1, 2), (3, 12), (1, 8), (1, 12), (1, 15))
    val hexes = spark.range(300).select(md5(col("id").cast("string")).as("h"))
      .union(Seq("0" * 32, "f" * 32).toDF("h"))
    val rows = hexes.select(col("h") +:
        uses.map { case (from, width) => Hex.prefix(col("h"), from, width) } :+
        Sketches.kmvEstimate(64, Sketches.kmvHash(col("h"))) :+
        Sketches.hllRegister(col("h")) :+ Sketches.hllRank(col("h")): _*)
      .collect()
    assert(rows.length == 302)
    rows.foreach { r =>
      val h = r.getString(0)
      val local = uses.map { case (from, width) => Hex.prefix(h, from, width) } ++
        Seq(Sketches.kmvEstimate(64, Sketches.kmvHash(h)),
          Sketches.hllRegister(h).toLong, Sketches.hllRank(h).toLong)
      assert((1 to local.length).map(r.getLong) == local,
        s"Spark and Scala forms disagree on $h")
    }
    assert(Hex.prefix("f" * 32, 1, 15) == (1L << 60) - 1)
    assert(Sketches.hllRank("0" * 32) == 49 && Sketches.hllRank("f" * 32) == 1)
    intercept[IllegalArgumentException](Hex.prefix(col("h"), 1, 16))
    intercept[IllegalArgumentException](Hex.prefixSql("h", 1, 16))
    intercept[IllegalArgumentException](Hex.prefix("f" * 32, 1, 16))
  }

  test("KMV mergeability: the day->month merged sketch estimate equals " +
    "a direct month-level bottom-k (sketch of union = union of sketches)") {
    val li = Tables.load(spark, SharedSpark.sf001, "lineitem")
    // Direct month sketch: bottom-64 per month straight off the corpus,
    // no day stage — if merging day sketches lost information, the
    // query's estimates would diverge from these.
    val mh = li.select(
        trunc(to_date(col("l_shipdate")), "month").as("month"),
        md5(col("l_orderkey").cast("string")).as("h"))
      .distinct()
    val direct = graft.ops.TopK.perGroup(mh,
      partitionBy = Seq(col("month")), orderBy = Seq(col("h").asc),
      k = 64, rankCol = "__rn")
      .groupBy("month").agg(count(lit(1)).as("k"), max(col("h")).as("hk"))
      .collect()
      .map(r => r.getDate(0).toString -> {
        val k = r.getLong(1)
        if (k < 64) k
        else 17732923532771328L /
          math.max(java.lang.Long.parseLong(r.getString(2).take(12), 16), 1L)
      }).toMap
    val merged = graft.queries.Analytics.kmvDistinct
      .run(spark, SharedSpark.sf001).collect()
      .map(r => r.getDate(0).toString -> r.getLong(2)).toMap
    assert(merged.keySet == direct.keySet)
    merged.foreach { case (m, est) =>
      assert(est == direct(m), s"month $m: merged est $est != direct ${direct(m)}")
    }
  }

  test("KMV set-op estimates land within the k=64 error band of the " +
    "exact union/intersection carried in the same row") {
    val r = graft.queries.Analytics.kmvSetOps
      .run(spark, SharedSpark.sf001).collect()
    assert(r.length == 1)
    val row = r.head
    val (unionEst, interEst) = (row.getLong(1), row.getLong(3))
    val (exactU, exactI) = (row.getLong(4), row.getLong(5))
    assert(exactI > 0, "test sets must overlap or the estimator is vacuous")
    // KMV std error ~ 1/sqrt(k) = 12.5%; allow 4 sigma for the small SF
    assert(math.abs(unionEst - exactU) <= 0.5 * exactU,
      s"union est $unionEst vs exact $exactU")
    assert(math.abs(interEst - exactI) <= 0.5 * exactI,
      s"inter est $interEst vs exact $exactI")
  }
}
