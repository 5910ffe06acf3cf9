package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.{Q, Session, Tables}
import graft.functions.Exact.ms
import graft.ops.SharedFrames
import graft.plans.FxLog2
import graft.text.Text

/** Wave 10 — profiling, multi-touch attribution, smoothed LM
  * estimation, survival analysis, spatial joins, perceptual-hash image
  * dedup, and community detection.
  *
  * Same cross-engine determinism contract as every prior wave: exact
  * integer/ppm arithmetic (Kneser-Ney's d = 3/4 is an exact binary
  * fraction, so the discount multiplies through to integers), md5-u32
  * uniforms for injected randomness, and truncating-division chains
  * that both engines unroll identically.
  */
object Wave10 {

  private val P = 10000000L // packed (ms, event_id) key stride

  /** Per-column data-profiling report over `orders` — the Deequ/
    * dataprofiler-style table summary (row/null/distinct counts,
    * min/max, total string length) that any warehouse intake pipeline
    * runs before trusting a new drop. Numerics profile in exact
    * integer views (cents / epoch days); strings carry min/max and an
    * exact total length.
    *
    * Shape at 100TB: ONE pass over the fact table computing all
    * column stats as mergeable aggregates (count/min/max/sum), plus
    * Spark's partial-aggregated distinct counts per column; the
    * 6-row unpivot happens on a single aggregated row.
    */
  val profileTable: Q = Q(
    "q_profile_table",
    """WITH v AS (SELECT o_orderkey AS k, o_custkey AS ck, o_orderstatus AS st,
      |    CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
      |    epoch_ms(o_orderdate) // 86400000 AS day, o_orderpriority AS pri
      |  FROM orders),
      |a AS (SELECT COUNT(*) AS n,
      |  COUNT(k) AS nn_k, COUNT(DISTINCT k) AS nd_k,
      |    MIN(k) AS mn_k, MAX(k) AS mx_k,
      |  COUNT(ck) AS nn_ck, COUNT(DISTINCT ck) AS nd_ck,
      |    MIN(ck) AS mn_ck, MAX(ck) AS mx_ck,
      |  COUNT(cents) AS nn_c, COUNT(DISTINCT cents) AS nd_c,
      |    MIN(cents) AS mn_c, MAX(cents) AS mx_c,
      |  COUNT(day) AS nn_d, COUNT(DISTINCT day) AS nd_d,
      |    MIN(day) AS mn_d, MAX(day) AS mx_d,
      |  COUNT(st) AS nn_st, COUNT(DISTINCT st) AS nd_st,
      |    MIN(st) AS mns_st, MAX(st) AS mxs_st,
      |    CAST(COALESCE(SUM(length(st)), 0) AS BIGINT) AS ls_st,
      |  COUNT(pri) AS nn_p, COUNT(DISTINCT pri) AS nd_p,
      |    MIN(pri) AS mns_p, MAX(pri) AS mxs_p,
      |    CAST(COALESCE(SUM(length(pri)), 0) AS BIGINT) AS ls_p
      |  FROM v)
      |SELECT col_name, n_rows, n_null, n_distinct, min_num, max_num,
      |       min_str, max_str, len_sum
      |FROM (
      |  SELECT 'o_orderkey' AS col_name, n AS n_rows, n - nn_k AS n_null,
      |    nd_k AS n_distinct, mn_k AS min_num, mx_k AS max_num,
      |    CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str,
      |    CAST(NULL AS BIGINT) AS len_sum FROM a
      |  UNION ALL SELECT 'o_custkey', n, n - nn_ck, nd_ck, mn_ck, mx_ck,
      |    NULL, NULL, NULL FROM a
      |  UNION ALL SELECT 'o_totalprice_cents', n, n - nn_c, nd_c, mn_c, mx_c,
      |    NULL, NULL, NULL FROM a
      |  UNION ALL SELECT 'o_orderdate_day', n, n - nn_d, nd_d, mn_d, mx_d,
      |    NULL, NULL, NULL FROM a
      |  UNION ALL SELECT 'o_orderstatus', n, n - nn_st, nd_st, NULL, NULL,
      |    mns_st, mxs_st, ls_st FROM a
      |  UNION ALL SELECT 'o_orderpriority', n, n - nn_p, nd_p, NULL, NULL,
      |    mns_p, mxs_p, ls_p FROM a)
      |ORDER BY col_name""".stripMargin) { (s, d) =>
    val v = Tables.load(s, d, "orders")
      // single-file input + the 7x multi-distinct Expand: spread across
      // cores before the aggregate (the q_dedup_minhash repartition lore)
      .repartition(Session.partitions(s))
      .select(
      col("o_orderkey").as("k"), col("o_custkey").as("ck"),
      col("o_orderstatus").as("st"),
      round(col("o_totalprice") * 100, 0).cast("long").as("cents"),
      graft.functions.Exact.bucket(ms(col("o_orderdate")), 86400000L).as("day"),
      col("o_orderpriority").as("pri"))
    // min/max over STRING columns put UTF8String fields in the aggregation
    // buffer, which disqualifies HashAggregate — the whole 7-way
    // multi-distinct Expand path (7x the fact rows) fell back to
    // SortAggregate, paying TWO full sorts of the expanded rows on the
    // 7-part grouping key. Splitting the four string min/max into a
    // side aggregate (keyless — SortAggregate without grouping keys
    // needs NO sort, it is a single fold) leaves only BIGINT buffers
    // in the Expand path, which now runs as HashAggregate end to end.
    // Same aggregate functions over the same input = same values; the
    // one-row side frame re-attaches via a broadcast cross join.
    val a0 = v.agg(
      count(lit(1)).as("n"),
      count(col("k")).as("nn_k"), countDistinct(col("k")).as("nd_k"),
      min(col("k")).as("mn_k"), max(col("k")).as("mx_k"),
      count(col("ck")).as("nn_ck"), countDistinct(col("ck")).as("nd_ck"),
      min(col("ck")).as("mn_ck"), max(col("ck")).as("mx_ck"),
      count(col("cents")).as("nn_c"), countDistinct(col("cents")).as("nd_c"),
      min(col("cents")).as("mn_c"), max(col("cents")).as("mx_c"),
      count(col("day")).as("nn_d"), countDistinct(col("day")).as("nd_d"),
      min(col("day")).as("mn_d"), max(col("day")).as("mx_d"),
      count(col("st")).as("nn_st"), countDistinct(col("st")).as("nd_st"),
      coalesce(sum(length(col("st"))), lit(0L)).cast(LongType).as("ls_st"),
      count(col("pri")).as("nn_p"), countDistinct(col("pri")).as("nd_p"),
      coalesce(sum(length(col("pri"))), lit(0L)).cast(LongType).as("ls_p"))
    val aStr = v.agg(
      min(col("st")).as("mns_st"), max(col("st")).as("mxs_st"),
      min(col("pri")).as("mns_p"), max(col("pri")).as("mxs_p"))
    val a = a0.crossJoin(broadcast(aStr))
    a.selectExpr(
      """stack(6,
        |'o_orderkey', n, n - nn_k, nd_k, mn_k, mx_k,
        |  CAST(NULL AS STRING), CAST(NULL AS STRING), CAST(NULL AS BIGINT),
        |'o_custkey', n, n - nn_ck, nd_ck, mn_ck, mx_ck,
        |  CAST(NULL AS STRING), CAST(NULL AS STRING), CAST(NULL AS BIGINT),
        |'o_totalprice_cents', n, n - nn_c, nd_c, mn_c, mx_c,
        |  CAST(NULL AS STRING), CAST(NULL AS STRING), CAST(NULL AS BIGINT),
        |'o_orderdate_day', n, n - nn_d, nd_d, mn_d, mx_d,
        |  CAST(NULL AS STRING), CAST(NULL AS STRING), CAST(NULL AS BIGINT),
        |'o_orderstatus', n, n - nn_st, nd_st, CAST(NULL AS BIGINT),
        |  CAST(NULL AS BIGINT), mns_st, mxs_st, ls_st,
        |'o_orderpriority', n, n - nn_p, nd_p, CAST(NULL AS BIGINT),
        |  CAST(NULL AS BIGINT), mns_p, mxs_p, ls_p
        |) AS (col_name, n_rows, n_null, n_distinct, min_num, max_num,
        |      min_str, max_str, len_sum)""".stripMargin)
      .orderBy("col_name")
  }

  /** U-shaped (position-based) multi-touch attribution: every purchase
    * splits one million ppm of credit across the user's clicks in the
    * strictly-prior 7-day window — 40% to the first touch, 40% to the
    * last, 20% shared equally by the middles, with the truncation
    * remainder assigned to the first touch so the split is EXACT
    * (c_first + c_last + (n-2)·c_mid = 10⁶ for every n ≥ 3; 10⁶/0 and
    * 5·10⁵/5·10⁵ for n = 1/2). The window is a RANGE frame on epoch-ms
    * ([-7d, -1ms]), and first/last touch come from min/max over the
    * packed (ms·10⁷ + event_id) key — the q_attribution_last_touch
    * packing, so no self-join and ONE shuffle on the user key.
    *
    * Shape at 100TB: identical to last-touch — one exchange, one sort,
    * three window aggregates; the event stream never joins itself.
    */
  val attributionPosition: Q = {
    val base = 1704067200000L
    val W = 604800000L // 7 days of millis
    Q(
      "q_attribution_position",
      s"""WITH e AS (SELECT user_id, event_id, event_type,
         |    (epoch_ms(ts) - $base) * $P + event_id AS k,
         |    epoch_ms(ts) AS ms
         |  FROM events),
         |w AS (SELECT user_id, event_id, event_type, ms,
         |    COUNT(CASE WHEN event_type = 'click' THEN 1 END)
         |      OVER f AS n_touches,
         |    MIN(CASE WHEN event_type = 'click' THEN k END) OVER f AS fk,
         |    MAX(CASE WHEN event_type = 'click' THEN k END) OVER f AS lk
         |  FROM e
         |  WINDOW f AS (PARTITION BY user_id ORDER BY ms
         |               RANGE BETWEEN $W PRECEDING AND 1 PRECEDING))
         |SELECT event_id AS purchase_id, user_id, ms AS purchase_ms,
         |  n_touches, fk % $P AS first_click_id, lk % $P AS last_click_id,
         |  CASE WHEN n_touches = 0 THEN 0
         |       WHEN n_touches = 1 THEN 1000000
         |       WHEN n_touches = 2 THEN 500000
         |       ELSE 400000 + (200000 - (200000 // (n_touches - 2))
         |                               * (n_touches - 2)) END AS c_first_ppm,
         |  CASE WHEN n_touches <= 2 THEN 0
         |       ELSE 200000 // (n_touches - 2) END AS c_mid_ppm,
         |  CASE WHEN n_touches <= 1 THEN 0
         |       WHEN n_touches = 2 THEN 500000 ELSE 400000 END AS c_last_ppm
         |FROM w WHERE event_type = 'purchase'
         |ORDER BY purchase_id""".stripMargin) { (s, d) =>
      val f = Window.partitionBy("user_id").orderBy("ms")
        .rangeBetween(-W, -1L)
      Tables.load(s, d, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          // Packing invariants GUARDED, not assumed: k = (ms-base)*P +
          // event_id recovers first/last_click_id via k % P only while
          // ms >= base and event_id < P. A violating row would corrupt
          // the recovered ids IDENTICALLY in both engines (the hash
          // gate cannot catch it), so the engine fails loudly instead.
          when(ms(col("ts")) >= base && col("event_id") < P,
            (ms(col("ts")) - base) * P + col("event_id"))
            .otherwise(raise_error(concat(
              lit(s"attribution packing violated (ts < $base or "),
              lit(s"event_id >= $P): event "), col("event_id"))))
            .as("k"),
          ms(col("ts")).as("ms"))
        .withColumn("n_touches",
          count(when(col("event_type") === "click", 1)).over(f))
        .withColumn("fk",
          min(when(col("event_type") === "click", col("k"))).over(f))
        .withColumn("lk",
          max(when(col("event_type") === "click", col("k"))).over(f))
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ms").as("purchase_ms"), col("n_touches"),
          (col("fk") % P).as("first_click_id"),
          (col("lk") % P).as("last_click_id"),
          when(col("n_touches") === 0, 0L)
            .when(col("n_touches") === 1, 1000000L)
            .when(col("n_touches") === 2, 500000L)
            .otherwise(lit(400000L) + (lit(200000L) -
              expr("200000 div (n_touches - 2)") * (col("n_touches") - 2)))
            .as("c_first_ppm"),
          when(col("n_touches") <= 2, 0L)
            .otherwise(expr("200000 div (n_touches - 2)")).as("c_mid_ppm"),
          when(col("n_touches") <= 1, 0L)
            .when(col("n_touches") === 2, 500000L)
            .otherwise(400000L).as("c_last_ppm"))
        .orderBy("purchase_id")
    }
  }

  /** Interpolated Kneser-Ney bigram probabilities (Kneser & Ney 1995;
    * Chen & Goodman 1999 eq. 4.17) in exact parts-per-million. The
    * discount d = 0.75 is an exact binary fraction, so multiplying the
    * estimator through by 4·T (T = corpus bigram types) makes every
    * term an integer:
    *   P_KN(w2|w1) = [max(4·c12−3, 0)·T + 3·N1+(w1·)·N1+(·w2)]
    *                 / (4·T·c(w1))
    * — the numerator's continuation half is the Kneser-Ney insight
    * (back off to how many CONTEXTS a word completes, not how often it
    * occurs). Emitted as one exact division in the DECIMAL(38)/HUGEINT
    * lane.
    *
    * Shape at 100TB: one corpus shuffle to bigram counts; c(w1·),
    * N1+(w1·), N1+(·w2) all fold from the bigram TYPE table (the
    * corpus is never rescanned), and T is a one-row broadcast.
    */
  val lmKneserNey: Q = Q(
    "q_lm_kneserney",
    s"""WITH tk AS (SELECT ${Text.tokensSql("text")} AS toks FROM documents),
      |big AS (SELECT toks[i] AS w1, toks[i+1] AS w2
      |        FROM tk, (SELECT unnest(range(1,
      |          (SELECT COALESCE(MAX(len(toks)), 0) + 1 FROM tk))) AS i) p
      |        WHERE i <= len(toks) - 1),
      |c2 AS (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY 1, 2),
      |w1s AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1, COUNT(*) AS nw1
      |        FROM c2 GROUP BY 1),
      |w2s AS (SELECT w2, COUNT(*) AS nw2 FROM c2 GROUP BY 1),
      |t AS (SELECT COUNT(*) AS t_types FROM c2)
      |SELECT c2.w1, c2.w2, c2.c12, w1s.c1, w1s.nw1, w2s.nw2, t.t_types,
      |  CAST((CAST(GREATEST(4 * c2.c12 - 3, 0) AS HUGEINT) * t.t_types
      |        + 3 * CAST(w1s.nw1 AS HUGEINT) * w2s.nw2) * 1000000
      |       // (4 * CAST(t.t_types AS HUGEINT) * w1s.c1) AS BIGINT)
      |    AS pkn_e6
      |FROM c2 JOIN w1s USING (w1) JOIN w2s USING (w2), t
      |WHERE c2.c12 >= 5
      |ORDER BY w1, w2""".stripMargin) { (s, d) =>
    val bg = Tables.load(s, d, "documents")
      // single-file input: spread the compiled shingle kernel across cores
      .repartition(Session.partitions(s))
      .select(explode(graft.text.Text.shingleListUdf(2)(col("text"))).as("bg"))
    val c2 = bg.groupBy("bg").agg(count(lit(1)).as("c12"))
      .select(split(col("bg"), " ").getItem(0).as("w1"),
        split(col("bg"), " ").getItem(1).as("w2"), col("c12"))
    val w1s = c2.groupBy("w1").agg(sum(col("c12")).as("c1"),
      count(lit(1)).as("nw1"))
    val w2s = c2.groupBy("w2").agg(count(lit(1)).as("nw2"))
    val t = c2.agg(count(lit(1)).as("t_types"))
    c2.join(w1s, "w1").join(w2s, "w2").crossJoin(broadcast(t))
      .filter(col("c12") >= 5)
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("nw1"),
        col("nw2"), col("t_types"),
        expr("""CAST((CAST(GREATEST(4 * c12 - 3, 0) AS DECIMAL(38,0)) * t_types
               |      + 3 * CAST(nw1 AS DECIMAL(38,0)) * nw2) * 1000000
               |     div (4 * CAST(t_types AS DECIMAL(38,0)) * c1) AS BIGINT)"""
          .stripMargin).as("pkn_e6"))
      .orderBy("w1", "w2")
  }

  /** Kaplan-Meier survival analysis (Kaplan & Meier 1958) of customer
    * churn at quarterly grain: a customer's lifetime runs from first
    * to last order day; one with no order in the corpus's final 91
    * days has churned (death), anyone still ordering is right-censored
    * at their last observed quarter. The KM product-limit estimator
    *   S_k = Π_{i≤k} (n_i − d_i)/n_i
    * is computed as a TRUNCATING-DIVISION ppm chain (s_k = s_{k-1}·
    * (n_k−d_k) div n_k, unrolled over the 8 fixed steps) — no float
    * product to drift, and every intermediate is ≤ 10⁶·n so the chain
    * never leaves BIGINT at any corpus size.
    *
    * Shape at 100TB: one aggregate to per-customer (first, last), one
    * broadcast corpus-max-day scalar, one single-row pivot of 16
    * conditional counts; the 8-step chain and unpivot run on that one
    * row. Fact data is touched exactly once.
    */
  val survivalKm: Q = Q(
    "q_survival_km", {
      // n_k / s_k chain as lateral column aliases, identical text both
      // engines modulo the integer-division spelling
      def nK(k: Int) = (k to 7).flatMap(j => Seq(s"d$j", s"c$j")).mkString(" + ")
      def chain(div: String) = (0 to 7).map { k =>
        val prev = if (k == 0) "1000000" else s"s${k - 1}"
        s"CASE WHEN n$k > 0 THEN ($prev * (n$k - d$k)) $div n$k ELSE $prev END AS s$k"
      }.mkString(",\n")
      val nDefs = (0 to 7).map(k => s"${nK(k)} AS n$k").mkString(",\n")
      s"""WITH o AS (SELECT o_custkey, epoch_ms(o_orderdate) // 86400000 AS day
         |           FROM orders),
         |m AS (SELECT MAX(day) AS mx FROM o),
         |cu AS (SELECT o_custkey, MIN(day) AS f, MAX(day) AS l FROM o GROUP BY 1),
         |cl AS (SELECT LEAST((l - f) // 91, 7) AS q, (m.mx - l) > 91 AS churn
         |       FROM cu, m),
         |pv AS (SELECT
         |  ${(0 to 7).map(k => s"COUNT(CASE WHEN churn AND q = $k THEN 1 END) AS d$k, COUNT(CASE WHEN NOT churn AND q = $k THEN 1 END) AS c$k").mkString(",\n  ")}
         |  FROM cl),
         |x AS (SELECT *,
         |$nDefs,
         |${chain("//")}
         |FROM pv)
         |SELECT step, n_risk, d_events, c_censored, s_ppm FROM (
         |${(0 to 7).map(k => s"  SELECT CAST($k AS BIGINT) AS step, CAST(n$k AS BIGINT) AS n_risk, d$k AS d_events, c$k AS c_censored, CAST(s$k AS BIGINT) AS s_ppm FROM x").mkString("\n  UNION ALL\n")})
         |ORDER BY step""".stripMargin
    }) { (s, d) =>
    val o = Tables.load(s, d, "orders").select(col("o_custkey"),
      graft.functions.Exact.bucket(ms(col("o_orderdate")), 86400000L).as("day"))
    val m = o.agg(max(col("day")).as("mx"))
    val cl = o.groupBy("o_custkey")
      .agg(min(col("day")).as("f"), max(col("day")).as("l"))
      .crossJoin(broadcast(m))
      .select(least(expr("(l - f) div 91"), lit(7L)).as("q"),
        (col("mx") - col("l") > 91).as("churn"))
    val pv = cl.agg(
      count(when(col("churn") && col("q") === 0, 1)).as("d0"),
      count(when(!col("churn") && col("q") === 0, 1)).as("c0"),
      count(when(col("churn") && col("q") === 1, 1)).as("d1"),
      count(when(!col("churn") && col("q") === 1, 1)).as("c1"),
      count(when(col("churn") && col("q") === 2, 1)).as("d2"),
      count(when(!col("churn") && col("q") === 2, 1)).as("c2"),
      count(when(col("churn") && col("q") === 3, 1)).as("d3"),
      count(when(!col("churn") && col("q") === 3, 1)).as("c3"),
      count(when(col("churn") && col("q") === 4, 1)).as("d4"),
      count(when(!col("churn") && col("q") === 4, 1)).as("c4"),
      count(when(col("churn") && col("q") === 5, 1)).as("d5"),
      count(when(!col("churn") && col("q") === 5, 1)).as("c5"),
      count(when(col("churn") && col("q") === 6, 1)).as("d6"),
      count(when(!col("churn") && col("q") === 6, 1)).as("c6"),
      count(when(col("churn") && col("q") === 7, 1)).as("d7"),
      count(when(!col("churn") && col("q") === 7, 1)).as("c7"))
    val withN = (0 to 7).foldLeft(pv) { (df, k) =>
      df.withColumn(s"n$k",
        (k to 7).flatMap(j => Seq(col(s"d$j"), col(s"c$j"))).reduce(_ + _))
    }
    val withS = (0 to 7).foldLeft(withN) { (df, k) =>
      val prev = if (k == 0) lit(1000000L) else col(s"s${k - 1}")
      df.withColumn(s"s$k",
        when(col(s"n$k") > 0,
          expr(s"(${if (k == 0) "1000000" else s"s${k - 1}"} * (n$k - d$k)) div n$k"))
          .otherwise(prev))
    }
    withS.selectExpr(
      s"""stack(8, ${(0 to 7).map(k =>
        s"CAST($k AS BIGINT), n$k, d$k, c$k, s$k").mkString(", ")})
         | AS (step, n_risk, d_events, c_censored, s_ppm)""".stripMargin)
      .orderBy("step")
  }

  /** Grid-cell-blocked spatial distance join: customers matched to
    * suppliers within Euclidean radius 600 on a synthetic 10000x10000
    * integer plane (coordinates are md5-u32 uniforms of the keys —
    * deterministic, so both engines see identical geometry). The
    * engine is the classic spatial-join shape: bucket both sides into
    * radius-sized grid cells, replicate ONE side to its 3x3 cell
    * neighborhood, equi-join on the cell, then verify the exact
    * integer distance; cell width = radius makes the neighborhood
    * cover exact (points farther than one cell apart are > R apart on
    * that axis alone), and each supplier replica lands in a distinct
    * cell so no pair can match twice. The oracle is the naive theta
    * join — the hash match proves the blocking loses nothing.
    *
    * Shape at 100TB: the equi-join on (gx, gy) is one hash shuffle
    * with constant 9x replication of the smaller side — never the
    * quadratic cross join the oracle runs.
    */
  val spatialJoin: Q = Q(
    "q_spatial_join",
    """WITH c AS (SELECT c_custkey,
      |    CAST(('0x' || substr(md5('cx:' || CAST(c_custkey AS VARCHAR)), 1, 8))
      |      AS BIGINT) % 10000 AS cx,
      |    CAST(('0x' || substr(md5('cy:' || CAST(c_custkey AS VARCHAR)), 1, 8))
      |      AS BIGINT) % 10000 AS cy
      |  FROM customer),
      |s AS (SELECT s_suppkey,
      |    CAST(('0x' || substr(md5('sx:' || CAST(s_suppkey AS VARCHAR)), 1, 8))
      |      AS BIGINT) % 10000 AS sx,
      |    CAST(('0x' || substr(md5('sy:' || CAST(s_suppkey AS VARCHAR)), 1, 8))
      |      AS BIGINT) % 10000 AS sy
      |  FROM supplier)
      |SELECT c.c_custkey, s.s_suppkey, c.cx, c.cy, s.sx, s.sy,
      |  (c.cx - s.sx) * (c.cx - s.sx) + (c.cy - s.sy) * (c.cy - s.sy) AS dist2
      |FROM c, s
      |WHERE (c.cx - s.sx) * (c.cx - s.sx) + (c.cy - s.sy) * (c.cy - s.sy)
      |      <= 360000
      |ORDER BY c_custkey, s_suppkey""".stripMargin) { (s, d) =>
    def coord(prefix: String, key: org.apache.spark.sql.Column) =
      conv(substring(md5(concat(lit(prefix), key.cast("string"))), 1, 8),
        16, 10).cast("long") % 10000L
    val cust = Tables.load(s, d, "customer").select(col("c_custkey"),
      coord("cx:", col("c_custkey")).as("cx"),
      coord("cy:", col("c_custkey")).as("cy"))
      .withColumn("gx", expr("cx div 600"))
      .withColumn("gy", expr("cy div 600"))
    val reps = Tables.load(s, d, "supplier").select(col("s_suppkey"),
      coord("sx:", col("s_suppkey")).as("sx"),
      coord("sy:", col("s_suppkey")).as("sy"))
      .withColumn("dx", explode(sequence(lit(-1L), lit(1L))))
      .withColumn("dy", explode(sequence(lit(-1L), lit(1L))))
      .select(col("s_suppkey"), col("sx"), col("sy"),
        (expr("sx div 600") + col("dx")).as("gx"),
        (expr("sy div 600") + col("dy")).as("gy"))
    cust.join(reps, Seq("gx", "gy"))
      .withColumn("dist2",
        (col("cx") - col("sx")) * (col("cx") - col("sx")) +
          (col("cy") - col("sy")) * (col("cy") - col("sy")))
      .filter(col("dist2") <= 360000L)
      .select("c_custkey", "s_suppkey", "cx", "cy", "sx", "sy", "dist2")
      .orderBy("c_custkey", "s_suppkey")
  }

  /** Perceptual-hash IMAGE near-duplicate detection over the real
    * Netpbm decode path: every synthetic P6 payload is decoded
    * ([[graft.multimodal.Multimodal.decodeNetpbm]]), dHashed from its
    * pixel raster ([[graft.multimodal.Multimodal.dhash64]] — 9x8
    * nearest-neighbor grayscale grid, horizontal gradient signs), and
    * near-dup pairs (hamming <= 3) found with the SimHash 16-bit
    * quarter blocking, which is EXACT at that threshold (pigeonhole).
    * The image twin of q_dedup_simhash: text near-dups become pixel
    * near-dups, and the hash survives the zero-padding tail that
    * breaks byte-exact comparison.
    *
    * FULL ORACLE: the payload builder is deterministic (8-wide P6,
    * text bytes zero-padded to the row stride), so DuckDB replays the
    * whole chain — downscale index math, channel-sum grayscale,
    * gradient bits, quartered signature, all-pairs hamming — from the
    * source text via ascii(); the engine walks bytes it decoded back
    * OUT of the PPM container, the oracle walks the bytes that went
    * IN, and the hash match proves codec round-trip + hash + blocking
    * in one signal (the q_multimodal_decode precedent).
    *
    * Shape at 100TB: decode + hash are one narrow compiled pass behind
    * a repartition; candidate search is 4 quarter-keyed equi-joins —
    * never all-pairs (the oracle's quadratic join exists only to prove
    * the blocking exact).
    */
  val imageDhashDedup: Q = {
    def byteAt(p: String) =
      s"(CASE WHEN $p < n THEN ascii(substr(t, CAST($p + 1 AS BIGINT), 1)) ELSE 0 END)"
    def grayAt(px: String) =
      s"(${byteAt(px)} + ${byteAt(s"$px + 1")} + ${byteAt(s"$px + 2")})"
    def quarter(j: Int) =
      s"""SUM(CASE WHEN bit = 1 AND b // 16 = $j
         |    THEN (1 << (b % 16)) ELSE 0 END) AS q$j""".stripMargin
    val hamming =
      """bit_count(xor(a.q0, b.q0)) + bit_count(xor(a.q1, b.q1))
        |   + bit_count(xor(a.q2, b.q2)) + bit_count(xor(a.q3, b.q3))"""
        .stripMargin
    Q(
      "q_image_dhash_dedup",
      s"""WITH d AS (SELECT doc_id, COALESCE(text, '') AS t,
         |    COALESCE(length(text), 0) AS n,
         |    GREATEST(1, (COALESCE(length(text), 0) + 23) // 24) AS h
         |  FROM documents),
         |cell AS (SELECT doc_id, gy * 8 + gx AS b, t, n,
         |    (((gy * h) // 8) * 8 + (gx * 8) // 9) * 3 AS p0,
         |    (((gy * h) // 8) * 8 + ((gx + 1) * 8) // 9) * 3 AS p1
         |  FROM d, (SELECT unnest(range(0, 8)) AS gy) yy,
         |       (SELECT unnest(range(0, 8)) AS gx) xx),
         |bits AS (SELECT doc_id, b,
         |    CASE WHEN ${grayAt("p0")} < ${grayAt("p1")} THEN 1 ELSE 0 END AS bit
         |  FROM cell),
         |sig AS (SELECT doc_id,
         |  ${(0 to 3).map(quarter).mkString(",\n  ")}
         |  FROM bits GROUP BY doc_id)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST($hamming AS BIGINT) AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE $hamming <= 3
         |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      import graft.multimodal.Multimodal
      val np = Session.partitions(s)
      val decoded = Multimodal.decode(s,
        Multimodal.ppmAssetsFromDocuments(s, d).repartition(np))
      import s.implicits._
      val sigs = decoded.map { a =>
        // synthesized payloads are always decodable; a decode error is a
        // codec bug and must fail the run (q_multimodal_decode convention)
        require(a.error == null, s"asset ${a.asset_id}: ${a.error}")
        (a.asset_id, Multimodal.dhash64(a.meta, a.pixels))
      }.toDF("doc_id", "simhash")
      graft.dedup.SimHash.nearPairs(sigs, "doc_id", maxDist = 3)
        .select(col("id_a"), col("id_b"),
          col("hamming").cast(LongType).as("hamming"))
        .orderBy("id_a", "id_b")
    }
  }

  /** Synchronous label-propagation community detection (Raghavan,
    * Albert & Kumara 2007) over the co-purchase graph, FIXED-ROUND
    * like q_graph_kcore so the contract is engine-portable: every node
    * starts as its own label, and each of the [[LpaRounds]] rounds
    * reassigns every node the most frequent label among its neighbors
    * (ties to the smallest label — fully deterministic, no random tie
    * break). `n_changed` witnesses the final round's movement in-hash
    * (sync LPA may legally oscillate; the witness reports rather than
    * asserts convergence). The oracle is a generated MATERIALIZED CTE
    * chain sharing the round count.
    *
    * Shape at 100TB: the edge list builds once (merge-hinted pair
    * self-join) and persists pre-partitioned on the neighbor key; each
    * round shuffles only the node-sized label table into an SMJ plus
    * one (node, label) count — labels are O(V), so unlike the k-core
    * alive sets they are NOT broadcast. Per-round localCheckpoint
    * keeps lineage flat (the k-core discipline).
    */
  val LpaRounds = 4

  /** Shared LPA oracle scaffolding: edge build + symmetric edges +
    * [[LpaRounds]] generated MATERIALIZED rounds (l0..l4). Used by
    * q_graph_labelprop and q_graph_modularity so detector and metric
    * can never drift. */
  def lpaChainSql: String = {
    val rounds = (1 to LpaRounds).map { i =>
      s"""g$i AS (SELECT eu.u AS node, p.lbl AS lbl, COUNT(*) AS n
         |  FROM eu JOIN l${i - 1} p ON p.node = eu.v GROUP BY 1, 2),
         |l$i AS MATERIALIZED (SELECT node, lbl FROM (
         |  SELECT node, lbl, ROW_NUMBER() OVER (PARTITION BY node
         |      ORDER BY n DESC, lbl ASC) AS rn FROM g$i) t WHERE rn = 1)"""
        .stripMargin
    }.mkString(",\n")
    s"""li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey
       |  FROM lineitem),
       |e AS MATERIALIZED (SELECT a.l_partkey AS u, b.l_partkey AS v
       |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |    AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
       |eu AS MATERIALIZED (SELECT u, v FROM e
       |  UNION ALL SELECT v AS u, u AS v FROM e),
       |l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS lbl FROM eu),
       |$rounds""".stripMargin
  }

  /** Shared LPA engine machinery: (oriented edges, symmetric cached
    * edges, final labels, previous-round labels). See
    * [[graphLabelprop]] for the plan-shape commentary.
    *
    * Every frame is memoized through [[graft.ops.SharedFrames]] (the
    * GraphShared pattern one level up): q_graph_labelprop and
    * q_graph_modularity both consume this chain; built per consumer,
    * the suite ran its most expensive iterative job
    * twice to score its own output (modularity was the #1 driver bench
    * cost). Now the first consumer pays one build (eager executor-local
    * checkpoints, exempt from perfbench's `Harness.hygiene`) and the
    * second reads materialized RDDs; rows are identical by
    * construction, so hashes are unchanged. */
  def lpaLabels(s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
         org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val e = GraphShared.pairs(s, d).select("u", "v")
    val np = Session.partitions(s)
    // load-bearing partitioning: every round joins labels against eu on
    // v, and the checkpointed LogicalRDD preserves the repartition's
    // hashpartitioning(v), so rounds shuffle only the node-sized labels
    val eu = SharedFrames.frame(s, d, "lpa_eu") {
      e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
        .repartition(np, col("v"))
    }
    var frames = Vector(SharedFrames.frame(s, d, "lpa_l0") {
      eu.select(col("u").as("node")).distinct()
        .withColumn("lbl", col("node"))
    })
    (1 to LpaRounds).foreach { i =>
      val prev = frames.last
      frames :+= SharedFrames.frame(s, d, s"lpa_l$i") {
        eu.join(prev.select(col("node").as("v"), col("lbl")), "v")
          .groupBy(col("u"), col("lbl")).agg(count(lit(1)).as("n"))
          .groupBy(col("u"))
          .agg(max(struct(col("n"), (-col("lbl")).as("neg"))).as("m"))
          .select(col("u").as("node"), (-col("m.neg")).as("lbl"))
      }
    }
    (e, eu, frames(LpaRounds), frames(LpaRounds - 1))
  }

  val graphLabelprop: Q = {
    Q(
      "q_graph_labelprop",
      s"""WITH ${lpaChainSql},
         |ch AS (SELECT COUNT(*) AS n_changed FROM l$LpaRounds a
         |  JOIN l${LpaRounds - 1} b ON a.node = b.node AND a.lbl <> b.lbl)
         |SELECT a.node, a.lbl AS community,
         |  CAST(COUNT(*) OVER (PARTITION BY a.lbl) AS BIGINT) AS n_members,
         |  ch.n_changed
         |FROM l$LpaRounds a, ch ORDER BY node""".stripMargin) { (s, d) =>
      // Plan shape (see PLANS.md pin): rounds in [[lpaLabels]] are
      // checkpointed SharedFrames — the final plan references round R
      // in the main projection and rounds R and R-1 in the n_changed
      // witness subquery, and without the checkpoints those branches
      // would RE-EXECUTE the whole chain (11 round-evaluations instead
      // of 4; measured 5.9s -> 4.1s isolated sf0.1). The frames are
      // ALSO suite-memoized: q_graph_modularity reads the
      // same RDDs instead of rebuilding the chain. The argmax is a
      // struct max (max n, then min label via negation): one
      // aggregate, no window rank.
      val (_, _, cur, prev) = lpaLabels(s, d)
      val changed = cur.as("a")
        .join(prev.as("b"), col("a.node") === col("b.node"))
        .filter(col("a.lbl") =!= col("b.lbl"))
        .agg(count(lit(1)).as("n_changed"))
      cur
        .withColumn("n_members",
          count(lit(1)).over(Window.partitionBy("lbl")))
        .crossJoin(broadcast(changed))
        .select(col("node"), col("lbl").as("community"), col("n_members"),
          col("n_changed"))
        .orderBy("node")
    }
  }

  /** Mutual information + marginal entropies between customer market
    * segment and order priority — the information-theoretic
    * feature-selection primitive (which categorical features carry
    * signal about each other), entirely in [[graft.plans.FxLog2]]
    * fixed-point so the scores hash-match where IEEE log2 cannot:
    *   cell_mi_fx = n_sp · (fxlog2(N·n_sp) − fxlog2(n_s·n_p))
    * sums to MI · N · 2³⁰ exactly; H(seg)/H(pri) use the same identity
    * on the margins. The log runs on ≤|cells|+|margins|+1 DISTINCT
    * integer arguments — never per fact row.
    *
    * Shape at 100TB: one broadcast dim join, one aggregate to the
    * 15-cell contingency table; everything after is arithmetic on a
    * broadcast-sized frame.
    */
  val entropyMi: Q = Q(
    "q_entropy_mi",
    s"""WITH RECURSIVE
       |o AS (SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri
       |      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
       |cells AS (SELECT seg, pri, COUNT(*) AS n_sp FROM o GROUP BY 1, 2),
       |ms AS (SELECT seg, CAST(SUM(n_sp) AS BIGINT) AS n_s FROM cells GROUP BY 1),
       |mp AS (SELECT pri, CAST(SUM(n_sp) AS BIGINT) AS n_p FROM cells GROUP BY 1),
       |tot AS (SELECT CAST(SUM(n_sp) AS BIGINT) AS n FROM cells),
       |args AS (SELECT DISTINCT n FROM (
       |  SELECT c.n_sp * t.n AS n FROM cells c, tot t
       |  UNION ALL SELECT ms.n_s * mp.n_p FROM cells c
       |    JOIN ms ON ms.seg = c.seg JOIN mp ON mp.pri = c.pri
       |  UNION ALL SELECT n_s FROM ms
       |  UNION ALL SELECT n_p FROM mp
       |  UNION ALL SELECT n FROM tot)),
       |${FxLog2.oracleCte("args")},
       |cm AS (SELECT c.seg, c.pri, c.n_sp, ms.n_s, mp.n_p,
       |    c.n_sp * (la.r - lb.r) AS cell_mi_fx
       |  FROM cells c JOIN ms ON ms.seg = c.seg JOIN mp ON mp.pri = c.pri
       |  CROSS JOIN tot t
       |  JOIN lg la ON la.n = c.n_sp * t.n
       |  JOIN lg lb ON lb.n = ms.n_s * mp.n_p),
       |hs AS (SELECT CAST(SUM(ms.n_s * (ln.r - ls.r)) AS BIGINT) AS h_seg_fx
       |  FROM ms CROSS JOIN tot t
       |  JOIN lg ln ON ln.n = t.n JOIN lg ls ON ls.n = ms.n_s),
       |hp AS (SELECT CAST(SUM(mp.n_p * (ln.r - lp.r)) AS BIGINT) AS h_pri_fx
       |  FROM mp CROSS JOIN tot t
       |  JOIN lg ln ON ln.n = t.n JOIN lg lp ON lp.n = mp.n_p),
       |mi AS (SELECT CAST(SUM(cell_mi_fx) AS BIGINT) AS mi_fx FROM cm)
       |SELECT cm.seg, cm.pri, cm.n_sp, cm.n_s, cm.n_p,
       |  CAST(cm.cell_mi_fx AS BIGINT) AS cell_mi_fx,
       |  mi.mi_fx, hs.h_seg_fx, hp.h_pri_fx
       |FROM cm, mi, hs, hp
       |ORDER BY seg, pri""".stripMargin) { (s, d) =>
    val cust = Tables.load(s, d, "customer")
      .select(col("c_custkey"), col("c_mktsegment").as("seg"))
    val cells = Tables.load(s, d, "orders")
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("seg"), col("o_orderpriority").as("pri"))
      .agg(count(lit(1)).as("n_sp"))
    val ms = cells.groupBy("seg").agg(sum(col("n_sp")).as("n_s"))
    val mp = cells.groupBy("pri").agg(sum(col("n_sp")).as("n_p"))
    val tot = cells.agg(sum(col("n_sp")).as("n"))
    val cm = cells
      .join(broadcast(ms), "seg").join(broadcast(mp), "pri")
      .crossJoin(broadcast(tot))
      .withColumn("cell_mi_fx",
        col("n_sp") * (FxLog2.column(col("n_sp") * col("n")) -
          FxLog2.column(col("n_s") * col("n_p"))))
    val mi = cm.agg(sum(col("cell_mi_fx")).as("mi_fx"))
    val hs = ms.crossJoin(broadcast(tot))
      .agg(sum(col("n_s") * (FxLog2.column(col("n")) - FxLog2.column(col("n_s"))))
        .as("h_seg_fx"))
    val hp = mp.crossJoin(broadcast(tot))
      .agg(sum(col("n_p") * (FxLog2.column(col("n")) - FxLog2.column(col("n_p"))))
        .as("h_pri_fx"))
    cm.crossJoin(broadcast(mi)).crossJoin(broadcast(hs))
      .crossJoin(broadcast(hp))
      .select(col("seg"), col("pri"), col("n_sp"), col("n_s"), col("n_p"),
        col("cell_mi_fx"), col("mi_fx"), col("h_seg_fx"), col("h_pri_fx"))
      .orderBy("seg", "pri")
  }

  /** Common-neighbor / Jaccard link prediction (Liben-Nowell & Kleinberg
    * 2003) over the co-purchase graph: for every NON-adjacent pair at
    * distance 2 with >= 2 shared neighbors, the common-neighbor count
    * and the Jaccard coefficient cn/(deg_u + deg_w − cn) in exact ppm —
    * the "customers also bought these together-adjacent parts" candidate
    * generator for recommendations.
    *
    * Shape at 100TB: wedges come from ONE equi-self-join of the
    * symmetric edge list (the triangle-count shape); the candidate set
    * anti-joins the edge list; the degree table joins once per endpoint
    * but builds ONE BroadcastExchange (renamed projections canonicalize
    * identically, as in q_triangle_count). No all-pairs stage.
    */
  val graphLinkpred: Q = Q(
    "q_graph_linkpred",
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS (SELECT a.l_partkey AS u, b.l_partkey AS v
      |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      |        AND a.l_partkey < b.l_partkey
      |      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |eu AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
      |deg AS (SELECT u AS node, COUNT(*) AS deg FROM eu GROUP BY 1),
      |w AS (SELECT a.u AS u, b.v AS w, COUNT(*) AS cn
      |      FROM eu a JOIN eu b ON a.v = b.u AND a.u < b.v
      |      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |cand AS (SELECT w.* FROM w
      |         WHERE NOT EXISTS (SELECT 1 FROM e
      |                           WHERE e.u = w.u AND e.v = w.w))
      |SELECT c.u, c.w, c.cn, du.deg AS deg_u, dw.deg AS deg_w,
      |  c.cn * 1000000 // (du.deg + dw.deg - c.cn) AS jaccard_ppm
      |FROM cand c JOIN deg du ON du.node = c.u JOIN deg dw ON dw.node = c.w
      |ORDER BY u, w""".stripMargin) { (s, d) =>
    val e = GraphShared.pairs(s, d).select("u", "v")
    val eu = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
    val deg = eu.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
    val wedges = eu.toDF("u", "mid").hint("merge")
      .join(eu.toDF("mid", "w").hint("merge"), "mid")
      .filter(col("u") < col("w"))
      .groupBy("u", "w").agg(count(lit(1)).as("cn"))
      .filter(col("cn") >= 2)
    val cand = wedges.join(e.toDF("u", "w"), Seq("u", "w"), "left_anti")
    cand
      .join(broadcast(deg.toDF("u", "deg_u")), "u")
      .join(broadcast(deg.toDF("w", "deg_w")), "w")
      .select(col("u"), col("w"), col("cn"), col("deg_u"), col("deg_w"),
        expr("cn * 1000000 div (deg_u + deg_w - cn)").as("jaccard_ppm"))
      .orderBy("u", "w")
  }

  /** Holt's linear-trend double exponential smoothing (Holt 1957) of
    * monthly order revenue over a fixed 24-month horizon, with DYADIC
    * smoothing weights α = 1/2, β = 1/4 so both recursions are single
    * truncating integer divisions (Spark `div` and DuckDB `//` both
    * truncate toward zero — verified including negatives, which the
    * trend term hits):
    *   l_t = (x_t + l_{t−1} + b_{t−1}) div 2
    *   b_t = (l_t − l_{t−1} + 3·b_{t−1}) div 4
    * unrolled over the fixed steps as lateral column aliases (the
    * q_survival_km pattern). `forecast_cents = l + b` is the one-step-
    * ahead prediction the smoother exists to produce.
    *
    * Shape at 100TB: the fact table aggregates once to 24 month rows;
    * the recursion runs on a single pivoted row.
    */
  private[queries] val HoltSteps = 24

  /** Shared Holt-chain oracle scaffolding: monthly pivot + the 24-step
    * dyadic recursion + a `series` CTE of (step, x, level, trend) rows.
    * One CTE per step: a 24-deep LATERAL-ALIAS chain would inline
    * ~3 references per level into a 3^24-node expression tree and hang
    * the DuckDB planner (the k-core CTE-inlining lesson in alias
    * form); chained CTEs reference previous COLUMNS, so nesting stays
    * linear. Shared by q_holt_linear and q_forecast_eval so model and
    * eval cannot drift. */
  private[queries] def holtCteSql: String = {
    val H = HoltSteps
    val chain = (1 until H).map { t =>
      s"""s$t AS (SELECT *,
         |  (x$t + l${t - 1} + b${t - 1}) // 2 AS l$t,
         |  ((x$t + l${t - 1} + b${t - 1}) // 2 - l${t - 1} + 3 * b${t - 1}) // 4 AS b$t
         |  FROM s${t - 1})""".stripMargin
    }.mkString(",\n")
    s"""o AS (SELECT EXTRACT(YEAR FROM o_orderdate) * 12
       |    + EXTRACT(MONTH FROM o_orderdate) - 1 AS amo,
       |    CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
       |  FROM orders),
       |m0 AS (SELECT MIN(amo) AS base FROM o),
       |mo AS (SELECT t, CAST(SUM(cents) AS BIGINT) AS cents FROM
       |         (SELECT o.amo - m0.base AS t, o.cents FROM o, m0) s
       |       WHERE t < $H GROUP BY 1),
       |pv AS (SELECT
       |  ${(0 until H).map(t => s"CAST(COALESCE(SUM(CASE WHEN t = $t THEN cents END), 0) AS BIGINT) AS x$t").mkString(",\n  ")}
       |  FROM mo),
       |s0 AS (SELECT *, x0 AS l0, CAST(0 AS BIGINT) AS b0 FROM pv),
       |$chain,
       |series AS (
       |${(0 until H).map(t => s"  SELECT CAST($t AS BIGINT) AS step, x$t AS x_cents, l$t AS level_cents, b$t AS trend_cents FROM s${H - 1}").mkString("\n  UNION ALL\n")})"""
      .stripMargin
  }

  /** Shared Holt-chain engine machinery: the 24 stacked
    * (step, x_cents, level_cents, trend_cents) rows. Memoized per
    * suite: q_holt_linear and q_forecast_eval consume
    * the identical chain, and before the memo each evaluated its own
    * orders aggregate. Hash-invariant — the frame content is
    * unchanged; the 24-row checkpoint is trivial to materialize. */
  def holtSeries(s: SparkSession, d: String): DataFrame =
    graft.ops.SharedFrames.frame(s, d, "holt_series")(holtSeriesBuild(s, d))

  private def holtSeriesBuild(s: SparkSession, d: String): DataFrame = {
    val H = HoltSteps
    val o = Tables.load(s, d, "orders").select(
      (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
        .as("amo"),
      round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val m0 = o.agg(min(col("amo")).as("base"))
    val mo = o.crossJoin(broadcast(m0))
      .select((col("amo") - col("base")).as("t"), col("cents"))
      .filter(col("t") < H)
      .groupBy("t").agg(sum(col("cents")).as("cents"))
    val xs = (0 until H).map(t =>
      coalesce(sum(when(col("t") === t, col("cents"))), lit(0L))
        .as(s"x$t"))
    val pv = mo.agg(xs.head, xs.tail: _*)
    val init = pv.withColumn("l0", col("x0")).withColumn("b0", lit(0L))
    val folded = (1 until H).foldLeft(init) { (df, t) =>
      df.withColumn(s"l$t",
          expr(s"(x$t + l${t - 1} + b${t - 1}) div 2"))
        .withColumn(s"b$t",
          expr(s"(l$t - l${t - 1} + 3 * b${t - 1}) div 4"))
    }
    folded.selectExpr(
      s"""stack($H, ${(0 until H).map(t =>
        s"CAST($t AS BIGINT), x$t, l$t, b$t").mkString(", ")})
         | AS (step, x_cents, level_cents, trend_cents)""".stripMargin)
  }

  val holtLinear: Q = Q(
    "q_holt_linear",
    s"""WITH ${holtCteSql}
       |SELECT step, x_cents, level_cents, trend_cents,
       |  level_cents + trend_cents AS forecast_cents
       |FROM series ORDER BY step""".stripMargin) { (s, d) =>
    holtSeries(s, d)
      .withColumn("forecast_cents", col("level_cents") + col("trend_cents"))
      .orderBy("step")
  }

  val all: Seq[Q] = Seq(profileTable, attributionPosition, lmKneserNey,
    survivalKm, spatialJoin, imageDhashDedup, graphLabelprop, entropyMi,
    graphLinkpred, holtLinear)
}
