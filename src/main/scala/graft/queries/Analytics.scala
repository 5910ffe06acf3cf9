package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.functions.Exact._
import graft.functions.Sketches

/** Wave 4c — event-stream product analytics: ordered funnels and
  * cohort retention. Both are per-entity window pipelines: ONE shuffle
  * on the user key, then window/aggregate math inside the partition —
  * the shape that scales to 100TB because the event stream never
  * joins against itself.
  */
object Analytics {

  /** Ordered funnel signup -> click -> purchase: each stage's timestamp
    * is the user's FIRST qualifying event at-or-after the previous
    * stage (strictly ordered funnels; a click before the signup does
    * not count). Three same-partition windows — Catalyst plans one
    * exchange + one sort for all of them. Output is one row per user
    * who entered the funnel, with the stage depth reached.
    */
  val funnel: Q = Q(
    "q_funnel_stages",
    """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
      |s1 AS (SELECT user_id, ms, event_type,
      |         MIN(CASE WHEN event_type = 'signup' THEN ms END)
      |           OVER (PARTITION BY user_id) AS signup_ms
      |       FROM e),
      |s2 AS (SELECT user_id, ms, event_type, signup_ms,
      |         MIN(CASE WHEN event_type = 'click' AND ms >= signup_ms THEN ms END)
      |           OVER (PARTITION BY user_id) AS click_ms
      |       FROM s1),
      |s3 AS (SELECT user_id, signup_ms, click_ms,
      |         MIN(CASE WHEN event_type = 'purchase' AND ms >= click_ms THEN ms END)
      |           OVER (PARTITION BY user_id) AS purchase_ms
      |       FROM s2)
      |SELECT DISTINCT user_id, signup_ms, click_ms, purchase_ms,
      |  CASE WHEN purchase_ms IS NOT NULL THEN 3
      |       WHEN click_ms IS NOT NULL THEN 2
      |       ELSE 1 END AS stage
      |FROM s3 WHERE signup_ms IS NOT NULL
      |ORDER BY user_id""".stripMargin) { (s, d) =>
    val byUser = Window.partitionBy("user_id")
    Tables.load(s, d, "events")
      .select(col("user_id"), col("event_type"), ms(col("ts")).as("ms"))
      .withColumn("signup_ms",
        min(when(col("event_type") === "signup", col("ms"))).over(byUser))
      .withColumn("click_ms",
        min(when(col("event_type") === "click" && col("ms") >= col("signup_ms"),
          col("ms"))).over(byUser))
      .withColumn("purchase_ms",
        min(when(col("event_type") === "purchase" && col("ms") >= col("click_ms"),
          col("ms"))).over(byUser))
      .filter(col("signup_ms").isNotNull)
      .select(col("user_id"), col("signup_ms"), col("click_ms"), col("purchase_ms"),
        when(col("purchase_ms").isNotNull, 3L)
          .when(col("click_ms").isNotNull, 2L)
          .otherwise(1L).as("stage"))
      .distinct()
      .orderBy("user_id")
  }

  /** Weekly cohort retention: users cohorted by their first-ever event
    * week; a (cohort_week, week_offset) cell counts the cohort's users
    * active that many weeks later. Two aggregates on the user key and
    * one count shuffle — the raw stream is touched once.
    */
  val cohort: Q = Q(
    "q_cohort_retention",
    """WITH e AS (SELECT user_id, epoch_ms(ts) // 604800000 AS wk FROM events),
      |c AS (SELECT user_id, MIN(wk) AS cohort_wk FROM e GROUP BY user_id),
      |a AS (SELECT DISTINCT user_id, wk FROM e)
      |SELECT c.cohort_wk, a.wk - c.cohort_wk AS week_offset,
      |       COUNT(*) AS n_users
      |FROM a JOIN c ON a.user_id = c.user_id
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
    val e = Tables.load(s, d, "events")
      .select(col("user_id"),
        graft.functions.Exact.bucket(ms(col("ts")), 604800000L).as("wk"))
    val cohorts = e.groupBy("user_id").agg(min(col("wk")).as("cohort_wk"))
    val active = e.distinct()
    active.join(cohorts, "user_id")
      .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_wk", "week_offset")
  }

  /** Incremental re-aggregation (materialized-view maintenance): daily
    * metrics derived ONLY from hourly partial states (sum/count/min/max
    * merge associatively; avg re-derives from merged sum/count), while
    * the oracle aggregates the raw stream directly — equality proves
    * the partial-merge path. This is how a 100TB warehouse maintains
    * rollups: the raw table is touched once per hour, every coarser
    * grain folds partials. Decimal sums keep the merge order-free.
    */
  val reaggregate: Q = Q(
    "q_agg_reaggregate",
    """SELECT event_type, epoch_ms(ts) // 86400000 AS day,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
      |       AS DOUBLE) AS avg_value,
      |  MIN(event_id) AS min_id, MAX(event_id) AS max_id
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
    val hourly = Tables.load(s, d, "events")
      .groupBy(col("event_type"),
        graft.functions.Exact.bucket(ms(col("ts")), 3600000L).as("hr"))
      .agg(count(lit(1)).as("pn"),
        sum(dec(col("value"))).as("psum"), // stays DECIMAL: exact merge
        min(col("event_id")).as("pmin"),
        max(col("event_id")).as("pmax"))
    hourly
      .groupBy(col("event_type"),
        graft.functions.Exact.bucket(col("hr"), 24L).as("day"))
      .agg(sum(col("pn")).as("n_events"),
        sum(col("psum")).cast(org.apache.spark.sql.types.DoubleType).as("sum_value"),
        min(col("pmin")).as("min_id"),
        max(col("pmax")).as("max_id"))
      .withColumn("avg_value", col("sum_value") / col("n_events"))
      .select("event_type", "day", "n_events", "sum_value", "avg_value",
        "min_id", "max_id")
      .orderBy("event_type", "day")
  }

  /** Per-user ordered event sequences — the dataset-building step for
    * behavioral sequence models: one shuffle on the user key, events
    * sorted inside the group by the unique (ms, event_id) pair, types
    * joined into one string. The sequence is a HARD-CAPPED prefix (the
    * user's first [[SeqCap]] events): a row_number over the same
    * (user_id, ms, event_id) sort gates what enters the collect, so one
    * bot user with 10M events contributes a bounded payload instead of
    * a 100MB straggler row — n_events still counts everything. Window
    * and aggregate share one exchange + one sort on the user key.
    */
  private val SeqCap = 40
  val seqEvents: Q = Q(
    "q_seq_events",
    s"""WITH r AS (SELECT user_id, event_type, epoch_ms(ts) AS ms, event_id,
       |    ROW_NUMBER() OVER (PARTITION BY user_id
       |                       ORDER BY epoch_ms(ts), event_id) AS rn
       |  FROM events)
       |SELECT user_id, COUNT(*) AS n_events,
       |  string_agg(CASE WHEN rn <= $SeqCap THEN event_type END, '>'
       |             ORDER BY ms, event_id) AS seq
       |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
    val byUser = Window.partitionBy("user_id").orderBy("ms", "event_id")
    Tables.load(s, d, "events")
      .select(col("user_id"), col("event_type"),
        ms(col("ts")).as("ms"), col("event_id"))
      .withColumn("rn", row_number().over(byUser))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        array_join(
          transform(
            // collect_list skips nulls: only the first SeqCap events of
            // the group ever enter the buffer
            array_sort(collect_list(when(col("rn") <= SeqCap,
              struct(col("ms"), col("event_id"), col("event_type"))))),
            e => e("event_type")),
          ">").as("seq"))
      .orderBy("user_id")
  }

  /** Z-score anomaly detection over hourly event-type counts: an hour
    * is anomalous when its count deviates >= 2.5 sd from the type's
    * mean. Mean/variance fold from integer SUM(n)/SUM(n*n) partials
    * (order-free), and the z formula replays the identical IEEE
    * expression tree in both engines, so even the >=2.5 boundary
    * decides the same way. One agg over the stream, one tiny broadcast
    * of per-type stats back onto the hourly frame.
    */
  val anomalyZscore: Q = Q(
    "q_anomaly_zscore",
    """WITH h AS (SELECT event_type, epoch_ms(ts) // 3600000 AS hr,
      |             COUNT(*) AS n
      |           FROM events GROUP BY 1, 2),
      |st AS (SELECT event_type,
      |         CAST(SUM(n) AS DOUBLE) / COUNT(*) AS mean,
      |         SQRT((CAST(SUM(n*n) AS DOUBLE)
      |               - CAST(SUM(n) AS DOUBLE) * SUM(n) / COUNT(*))
      |              / COUNT(*)) AS sd
      |       FROM h GROUP BY 1)
      |SELECT event_type, hr, n, (n - mean) / sd AS z
      |FROM h JOIN st USING (event_type)
      |WHERE sd > 0 AND ABS((n - mean) / sd) >= 2.5
      |ORDER BY event_type, hr""".stripMargin) { (s, d) =>
    val h = Tables.load(s, d, "events")
      .groupBy(col("event_type"),
        graft.functions.Exact.bucket(ms(col("ts")), 3600000L).as("hr"))
      .agg(count(lit(1)).as("n"))
    val cnt = count(lit(1))
    val st = h.groupBy("event_type")
      .agg((sum(col("n")).cast(org.apache.spark.sql.types.DoubleType) / cnt)
          .as("mean"),
        sqrt((sum(col("n") * col("n")).cast(org.apache.spark.sql.types.DoubleType)
          - sum(col("n")).cast(org.apache.spark.sql.types.DoubleType)
            * sum(col("n")) / cnt) / cnt).as("sd"))
    h.join(broadcast(st), "event_type")
      .filter(col("sd") > 0 &&
        abs((col("n") - col("mean")) / col("sd")) >= 2.5)
      .select(col("event_type"), col("hr"), col("n"),
        ((col("n") - col("mean")) / col("sd")).as("z"))
      .orderBy("event_type", "hr")
  }

  /** Co-occurrence (market-basket) mining: part pairs ordered together
    * in >= 3 distinct orders, with support counts — the association-
    * rule / "bought-together" primitive. The pair join is blocked on
    * the ORDER key, so the quadratic term is items-per-basket squared
    * (single digits), never global; the support HAVING discards the
    * singleton tail at the first aggregate, the same shape as passage
    * dup mining.
    */
  val copurchase: Q = Q(
    "q_copurchase_pairs",
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
      |SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
      |       COUNT(*) AS n_orders
      |FROM li a JOIN li b
      |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |GROUP BY 1, 2 HAVING COUNT(*) >= 3
      |ORDER BY part_a, part_b""".stripMargin) { (s, d) =>
    // The support>=3 pair set is the suite-shared GraphShared frame
    // (support >= 2) filtered one notch tighter — identical rows to
    // the inline a-priori-pruned merge-hinted self-join this replaced.
    GraphShared.pairs(s, d).filter(col("n") >= 3)
      .select(col("u").as("part_a"), col("v").as("part_b"),
        col("n").as("n_orders"))
      .orderBy("part_a", "part_b")
  }

  /** Triangle enumeration over the co-purchase graph — the classic
    * distributed-join graph kernel (clustering coefficients, community
    * cohesion). The engine orients every edge from its LOWER-(degree,id)
    * endpoint to its higher one and generates wedges only at the
    * lowest-ordered corner (the Cohen / GraphX recipe): out-degree under
    * degree orientation is O(sqrt(m)), so a hub vertex of degree d
    * spawns O(m) wedges instead of O(d^2) — the id-ordered form this
    * replaces left hub fan-out unbounded on skewed graphs. Each
    * triangle still closes with one semi-join on the (higher, highest)
    * edge, and each is found exactly once. The oracle keeps the simple
    * id-ordered SQL: both formulations enumerate the same triangle set,
    * re-sorted to id order (u < v < w) on output — the hash equality is
    * what proves the orientation rewrite sound.
    */
  val triangles: Q = Q(
    "q_triangle_count",
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS (SELECT a.l_partkey AS u, b.l_partkey AS v
      |      FROM li a JOIN li b
      |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |      GROUP BY 1, 2 HAVING COUNT(*) >= 2)
      |SELECT e1.u AS u, e1.v AS v, e2.v AS w
      |FROM e e1 JOIN e e2 ON e1.v = e2.u
      |          JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
      |ORDER BY u, v, w""".stripMargin) { (s, d) =>
    val e = GraphShared.pairs(s, d)
      .select(col("u").as("a"), col("v").as("b"))
    // undirected degree of every vertex in the co-purchase edge set
    val deg = e.select(col("a").as("x")).unionAll(e.select(col("b").as("x")))
      .groupBy("x").agg(count(lit(1)).as("deg"))
    // attach BOTH endpoint degrees via two broadcast joins of the SAME
    // deg subtree: the two broadcast sides canonicalize identically, so
    // one BroadcastExchange is built and reused — deg is computed once
    // and the edge list never shuffles for orientation (the unhinted
    // form re-planned each deg join as its own exchange over e)
    val ed = e
      .join(broadcast(deg.select(col("x").as("a"), col("deg").as("da"))), "a")
      .join(broadcast(deg.select(col("x").as("b"), col("deg").as("db"))), "b")
      .select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          struct(col("a").as("src"), col("b").as("dst"),
            col("db").as("ddeg")))
          .otherwise(struct(col("b").as("src"), col("a").as("dst"),
            col("da").as("ddeg"))).as("o"))
      .select(col("o.src"), col("o.dst"), col("o.ddeg"))
    // wedges at the lowest-ordered corner: (src -> m -> n) with m
    // before n in (degree, id) order, so the closing edge, if present,
    // is oriented exactly (m -> n)
    // merge hints pin the wedge self-join to SMJ so the oriented edge
    // list materializes ONCE (ReusedExchange — the planner would rather
    // broadcast one side and recompute the whole ed subtree for it)
    val wedges = ed.toDF("s", "m", "mdeg").hint("merge")
      .join(ed.toDF("s", "n", "ndeg").hint("merge"), "s")
      .filter(struct(col("mdeg"), col("m")) < struct(col("ndeg"), col("n")))
    val tri = wedges
      .join(ed.select(col("src").as("m"), col("dst").as("n")),
        Seq("m", "n"), "left_semi")
      .select(array_sort(array(col("s"), col("m"), col("n"))).as("t"))
    tri.select(element_at(col("t"), 1).as("u"),
        element_at(col("t"), 2).as("v"),
        element_at(col("t"), 3).as("w"))
      .orderBy("u", "v", "w")
  }

  /** Rolling engagement (DAU / trailing-28-day MAU): sliding-window
    * DISTINCT counting, the classically hard scale op — a naive range
    * join recomputes a 28-day distinct per day over the raw stream.
    * The engine instead EXPLODES each (user, active-day) into the <=28
    * future days it keeps the user "monthly active" (bounded fan-out),
    * dedups, and counts per day: distinct-count over a sliding window
    * becomes two hash aggregates. The oracle IS the naive range join —
    * hash equality proves the cover rewrite. Days = observed activity
    * days (every day has dau >= 1, so the ratio is total).
    */
  val dauMau: Q = Q(
    "q_dau_mau",
    """WITH du AS (SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day
      |            FROM events),
      |days AS (SELECT DISTINCT day FROM du),
      |mau AS (SELECT d.day, COUNT(DISTINCT u.user_id) AS mau
      |        FROM days d JOIN du u ON u.day BETWEEN d.day - 27 AND d.day
      |        GROUP BY 1),
      |dau AS (SELECT day, COUNT(*) AS dau FROM du GROUP BY 1)
      |SELECT day, dau, mau, CAST(dau AS DOUBLE) / mau AS stickiness
      |FROM dau JOIN mau USING (day)
      |ORDER BY day""".stripMargin) { (s, d) =>
    val du = Tables.load(s, d, "events")
      .select(col("user_id"),
        graft.functions.Exact.bucket(ms(col("ts")), 86400000L).as("day"))
      .distinct()
    val days = du.select("day").distinct()
    val cover = du
      .select(col("user_id"), explode(sequence(col("day"), col("day") + 27)).as("day"))
      .distinct()
      .join(days, Seq("day"), "left_semi") // only observed days
    val mau = cover.groupBy("day").agg(count(lit(1)).as("mau"))
    val dau = du.groupBy("day").agg(count(lit(1)).as("dau"))
    dau.join(mau, "day")
      .select(col("day"), col("dau"), col("mau"),
        (col("dau").cast(org.apache.spark.sql.types.DoubleType) / col("mau"))
          .as("stickiness"))
      .orderBy("day")
  }

  /** KMV (k-minimum-values, a.k.a. bottom-k) distinct sketch
    * (Bar-Yossef et al. "Counting distinct elements in a data stream",
    * RANDOM 2002; Beyer et al. SIGMOD 2007 for the unbiased (k−1)/U_k
    * estimator), built per ship-DAY and MERGED to per-month estimates —
    * the mergeability demo is the point: the union of two bottom-k
    * sets re-trimmed to k IS the sketch of the union, so shard
    * sketches combine without ever revisiting the data. md5 hex is the
    * hash (lexicographic order on fixed-width hex = numeric order); the
    * estimator is [[Sketches]]' exact-integer KMV. `exact_distinct`
    * rides along as the accuracy witness — at 100TB you'd never
    * compute it; the sketch is the feasible path.
    *
    * Shape at 100TB: one map-side-partial distinct on (day, hash),
    * bottom-k per day via the map-side group limit ([[graft.ops
    * .TopK]]) — k·days rows survive, and the month merge touches only
    * those. The sketch never shuffles the corpus on anything but the
    * (day, hash) distinct. */
  val kmvDistinct: Q = Q(
    "q_sketch_kmv",
    s"""WITH dh AS (SELECT DISTINCT CAST(l_shipdate AS DATE) AS day,
      |    md5(CAST(l_orderkey AS VARCHAR)) AS h FROM lineitem),
      |dsk AS (SELECT day, h FROM (
      |    SELECT day, h, ROW_NUMBER() OVER (PARTITION BY day ORDER BY h) AS rn
      |    FROM dh) WHERE rn <= 64),
      |mh AS (SELECT DISTINCT CAST(date_trunc('month', day) AS DATE) AS month, h
      |       FROM dsk),
      |msk AS (SELECT month, h FROM (
      |    SELECT month, h, ROW_NUMBER() OVER (PARTITION BY month ORDER BY h) AS rn
      |    FROM mh) WHERE rn <= 64),
      |est AS (SELECT month, COUNT(*) AS sketch_k, MAX(h) AS hk
      |        FROM msk GROUP BY month),
      |ex AS (SELECT CAST(date_trunc('month', CAST(l_shipdate AS DATE)) AS DATE) AS month,
      |    COUNT(DISTINCT l_orderkey) AS exact_distinct FROM lineitem GROUP BY month)
      |SELECT e.month, e.sketch_k,
      |  CASE WHEN e.sketch_k < 64 THEN e.sketch_k
      |       ELSE ${Sketches.kmvEstimateSql(64, Sketches.kmvHashSql("e.hk"))} END
      |    AS kmv_est,
      |  x.exact_distinct
      |FROM est e JOIN ex x ON e.month = x.month ORDER BY e.month""".stripMargin) {
    (s, d) =>
      val li = Tables.load(s, d, "lineitem")
      val dh = li.select(to_date(col("l_shipdate")).as("day"),
        md5(col("l_orderkey").cast(org.apache.spark.sql.types.StringType)).as("h"))
        .distinct()
      val dsk = graft.ops.TopK.perGroup(dh,
        partitionBy = Seq(col("day")), orderBy = Seq(col("h").asc),
        k = 64, rankCol = "__rn").select("day", "h")
      val mh = dsk.select(trunc(col("day"), "month").as("month"), col("h"))
        .distinct()
      val msk = graft.ops.TopK.perGroup(mh,
        partitionBy = Seq(col("month")), orderBy = Seq(col("h").asc),
        k = 64, rankCol = "__rn").select("month", "h")
      val est = msk.groupBy("month")
        .agg(count(lit(1)).as("sketch_k"), max(col("h")).as("hk"))
      val ex = li
        .groupBy(trunc(to_date(col("l_shipdate")), "month").as("month"))
        .agg(countDistinct(col("l_orderkey")).as("exact_distinct"))
      est.join(ex, "month")
        .select(col("month"), col("sketch_k"),
          when(col("sketch_k") < 64, col("sketch_k"))
            .otherwise(Sketches.kmvEstimate(64, Sketches.kmvHash(col("hk"))))
            .as("kmv_est"),
          col("exact_distinct"))
        .orderBy("month")
  }

  /** KMV set-operation estimates (Beyer et al., SIGMOD 2007 §4): from
    * the bottom-64 sketches of two part sets (ships in 1996 vs 1997),
    * estimate |A ∪ B| from the combined sketch's k-th minimum and
    * |A ∩ B| from the match fraction inside the combined sketch —
    * WITHOUT revisiting the raw sets. The point the per-month KMV
    * query (q_sketch_kmv) can't make: sketches compose under set
    * algebra, so segment overlap / audience-intersection questions
    * run on k-row summaries, not 100 TB rescans.
    *
    * Estimator stays in exact integers: union est is [[Sketches]]' KMV;
    * intersection est is matched_of_k * union_est // k (Jaccard
    * numerator exposed as matched_of_k). Exact counts ride along
    * in-plan (no driver actions) via broadcast one-row aggregates for
    * the error story. */
  val kmvSetOps: Q = Q(
    "q_sketch_kmv_ops",
    s"""WITH a AS (SELECT DISTINCT md5(CAST(l_partkey AS VARCHAR)) AS h
      |           FROM lineitem WHERE year(CAST(l_shipdate AS DATE)) = 1996),
      |b AS (SELECT DISTINCT md5(CAST(l_partkey AS VARCHAR)) AS h
      |      FROM lineitem WHERE year(CAST(l_shipdate AS DATE)) = 1997),
      |ska AS (SELECT h FROM (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn
      |                       FROM a) WHERE rn <= 64),
      |skb AS (SELECT h FROM (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn
      |                       FROM b) WHERE rn <= 64),
      |u AS (SELECT DISTINCT h FROM (SELECT h FROM ska
      |                              UNION ALL SELECT h FROM skb)),
      |kk AS (SELECT h FROM (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn
      |                      FROM u) WHERE rn <= 64),
      |stats AS (SELECT COUNT(*) AS k_eff, MAX(h) AS hk,
      |    SUM(CASE WHEN h IN (SELECT h FROM ska)
      |              AND h IN (SELECT h FROM skb) THEN 1 ELSE 0 END) AS n_both
      |  FROM kk),
      |est AS (SELECT k_eff, n_both,
      |    CASE WHEN k_eff < 64 THEN k_eff
      |         ELSE ${Sketches.kmvEstimateSql(64, Sketches.kmvHashSql("hk"))}
      |    END AS union_est
      |  FROM stats),
      |ex AS (SELECT
      |    (SELECT COUNT(*) FROM (SELECT h FROM a UNION SELECT h FROM b))
      |      AS exact_union,
      |    (SELECT COUNT(*) FROM (SELECT h FROM a INTERSECT SELECT h FROM b))
      |      AS exact_inter)
      |SELECT CAST(k_eff AS BIGINT) AS k_eff,
      |  CAST(union_est AS BIGINT) AS union_est,
      |  CAST(n_both AS BIGINT) AS matched_of_k,
      |  CAST((n_both * union_est) // k_eff AS BIGINT) AS inter_est,
      |  CAST(ex.exact_union AS BIGINT) AS exact_union,
      |  CAST(ex.exact_inter AS BIGINT) AS exact_inter
      |FROM est, ex ORDER BY k_eff""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.types.StringType
    val li = Tables.load(s, d, "lineitem")
    def setOf(yr: Int) = li
      .filter(year(to_date(col("l_shipdate"))) === yr)
      .select(md5(col("l_partkey").cast(StringType)).as("h"))
      .distinct()
    val a = setOf(1996)
    val b = setOf(1997)
    // global bottom-64: TakeOrderedAndProject — per-partition top-k,
    // then a 64-row merge on the driver side of the exchange
    val ska = a.orderBy("h").limit(64)
    val skb = b.orderBy("h").limit(64)
    val kk = ska.union(skb).distinct().orderBy("h").limit(64)
    val marked = kk
      .join(ska.withColumn("in_a", lit(1)), Seq("h"), "left")
      .join(skb.withColumn("in_b", lit(1)), Seq("h"), "left")
    val stats = marked.agg(
      count(lit(1)).as("k_eff"),
      max(col("h")).as("hk"),
      sum(when(col("in_a").isNotNull && col("in_b").isNotNull, 1L)
        .otherwise(0L)).as("n_both"))
    val exact = a.union(b).distinct().agg(count(lit(1)).as("exact_union"))
      .crossJoin(broadcast(
        a.intersect(b).agg(count(lit(1)).as("exact_inter"))))
    stats
      .withColumn("union_est",
        when(col("k_eff") < 64, col("k_eff"))
          .otherwise(Sketches.kmvEstimate(64, Sketches.kmvHash(col("hk")))))
      .crossJoin(broadcast(exact))
      .select(col("k_eff"), col("union_est"),
        col("n_both").as("matched_of_k"),
        expr("(n_both * union_est) div k_eff").as("inter_est"),
        col("exact_union"), col("exact_inter"))
      .orderBy("k_eff")
  }

  /** Single-source BFS over the co-purchase graph: min hop distance
    * (<= 4) from the lowest-id part with a strong co-purchase edge —
    * the frontier-expansion graph kernel (reachability, "related
    * products within k hops", blast-radius queries).
    *
    * Shape at scale: the classic Pregel/GraphX iteration — edges
    * build ONCE (one shuffle to distinct + one pair self-join) and
    * persist; each of the 4 bounded rounds is one equi-join of the
    * (small) frontier against the edge cache plus an anti-join
    * against the visited set. Rounds are bounded by the hop cap, so
    * the lazy plan stays shallow; for unbounded-diameter traversal
    * the pointer-doubling shape in [[graft.ops.ConnectedComponents]]
    * is the O(log n)-round alternative.
    *
    * Oracle: DuckDB WITH RECURSIVE replays frontier expansion —
    * UNION-dedup on (node, dist) pairs bounds the recursion, MIN(dist)
    * per node is exactly the engine's first-visit level. */
  val graphBfs: Q = Q(
    "q_graph_bfs",
    """WITH RECURSIVE li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e0 AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
      |       FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      |         AND a.l_partkey <> b.l_partkey
      |       GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |seed AS (SELECT MIN(src) AS s FROM e0),
      |bfs AS (
      |  SELECT s AS node, 0 AS dist FROM seed
      |  UNION
      |  SELECT e.dst, b.dist + 1 FROM bfs b
      |  JOIN e0 e ON b.node = e.src WHERE b.dist < 4
      |)
      |SELECT node, CAST(MIN(dist) AS BIGINT) AS dist
      |FROM bfs GROUP BY node ORDER BY dist, node""".stripMargin) { (s, d) =>
    import s.implicits._
    val edges = GraphShared.symmetric(s, d)
      .select(col("u").as("src"), col("v").as("dst"))
      .persist() // load-bearing: 4 frontier joins reuse one edge build
    val seed = edges.agg(min(col("src"))).as[Long].head()
    var dist = s.createDataFrame(Seq(Tuple2(seed, 0L)))
      .toDF("node", "dist")
    var frontier = dist
    for (h <- 1 to 4) {
      val next = frontier
        .join(edges, frontier("node") === edges("src"))
        .select(col("dst").as("node")).distinct()
        .join(dist, Seq("node"), "left_anti")
        .withColumn("dist", lit(h.toLong))
        // Break the frontier lineage: without the persists each hop's
        // anti-join RE-EXECUTES every earlier hop's join chain (the
        // nested-iteration recompute KMeansFx documents), which read
        // 6.2s isolated at sf0.1; persisted frontiers read ~2x faster.
        // Frames are frontier-sized; the edge cache above carries the
        // corpus-scale state.
        .persist()
      dist = dist.union(next).persist()
      frontier = next
    }
    dist.orderBy("dist", "node")
  }

  /** CEP-style contiguous event-pattern matching (the batch analog of
    * Flink CEP / SQL MATCH_RECOGNIZE): each user's event history
    * becomes an ordered 1-char-code string, and the pattern
    * view→click→purchase is matched as a contiguous substring —
    * non-overlapping occurrence count via the replace-length identity
    * and the first match position via strpos/instr (identical 1-based
    * / 0-absent semantics in both engines). String matching instead
    * of regex keeps the semantics engine-portable (Java regex vs RE2
    * disagree at the margins).
    *
    * Shape at 100TB: one shuffle on the user key builds the per-user
    * sequence (same exchange as q_seq_events); the match itself is a
    * narrow per-row string scan — no joins, no second exchange. A
    * per-user history cap would bound the row width (q_seq_events
    * demonstrates the cap pattern); matching is O(len) per user
    * either way. */
  val seqPattern: Q = Q(
    "q_seq_pattern",
    """WITH r AS (SELECT user_id, event_id, epoch_ms(ts) AS ms,
      |    substr(event_type, 1, 1) AS code FROM events),
      |s AS (SELECT user_id, COUNT(*) AS n_events,
      |        string_agg(code, '' ORDER BY ms, event_id) AS seq
      |      FROM r GROUP BY user_id)
      |SELECT user_id, n_events, seq,
      |  (length(seq) - length(replace(seq, 'vcp', ''))) // 3 AS n_funnel,
      |  CAST(strpos(seq, 'vcp') AS BIGINT) AS first_funnel
      |FROM s ORDER BY user_id""".stripMargin) { (s, d) =>
    Tables.load(s, d, "events")
      .select(col("user_id"), col("event_id"), ms(col("ts")).as("ms"),
        substring(col("event_type"), 1, 1).as("code"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        array_join(
          transform(
            array_sort(collect_list(
              struct(col("ms"), col("event_id"), col("code")))),
            e => e("code")),
          "").as("seq"))
      .select(col("user_id"), col("n_events"), col("seq"),
        expr("(length(seq) - length(replace(seq, 'vcp', ''))) div 3")
          .as("n_funnel"),
        instr(col("seq"), "vcp").cast("long").as("first_funnel"))
      .orderBy("user_id")
  }

  /** Per-group exact OLS trend: the slope of monthly revenue over time
    * for each customer nation, kept as the exact rational
    * (slope_num / slope_den) from the closed form
    * n·Σxy − Σx·Σy over n·Σx² − (Σx)², plus a fixed-point reading
    * slope_e3 = sign·(|num|·1000 div den). All sums are BIGINTs over
    * whole-dollar revenue (floored exact decimals) and small rebased
    * month ids, so every engine computes the identical integers; the
    * division happens once, on non-negative operands, where truncating
    * and flooring division agree.
    *
    * Shape at 100TB: one partial-aggregated shuffle to (nation, month)
    * cells, then a per-nation aggregate of 5 integer moments —
    * regression state is mergeable partials, never raw rows. The
    * customer dim broadcasts. */
  val regressionGroup: Q = Q(
    "q_regression_group",
    """WITH m AS (SELECT c.c_nationkey AS nationkey,
      |    epoch_ms(o.o_orderdate) // 86400000 // 30 - 300 AS x,
      |    SUM(CAST(FLOOR(CAST(o.o_totalprice AS DECIMAL(18,2))) AS BIGINT)) AS y
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  GROUP BY 1, 2),
      |g AS (SELECT nationkey, COUNT(*) AS n,
      |        CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |        CAST(SUM(x*x) AS BIGINT) AS sxx, CAST(SUM(x*y) AS BIGINT) AS sxy
      |      FROM m GROUP BY 1)
      |SELECT nationkey, n,
      |  n*sxy - sx*sy AS slope_num, n*sxx - sx*sx AS slope_den,
      |  CASE WHEN n*sxy - sx*sy < 0 THEN -1 ELSE 1 END
      |    * (abs(n*sxy - sx*sy) * 1000 // (n*sxx - sx*sx)) AS slope_e3
      |FROM g WHERE n*sxx - sx*sx > 0 ORDER BY nationkey""".stripMargin) { (s, d) =>
    val cust = Tables.load(s, d, "customer")
      .select(col("c_custkey"), col("c_nationkey").as("nationkey"))
    val cells = Tables.load(s, d, "orders")
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("nationkey"),
        (graft.functions.Exact.bucket(
          graft.functions.Exact.bucket(ms(col("o_orderdate")), 86400000L),
          30L) - 300L).as("x"))
      .agg(sum(floor(dec(col("o_totalprice"))).cast("long")).as("y"))
    cells.groupBy("nationkey")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("nationkey"), col("n"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("slope_den"))
      .filter(col("slope_den") > 0)
      .select(col("nationkey"), col("n"), col("slope_num"), col("slope_den"),
        (when(col("slope_num") < 0, -1L).otherwise(1L) *
          expr("abs(slope_num) * 1000 div slope_den")).as("slope_e3"))
      .orderBy("nationkey")
  }

  /** Exact Pearson correlation per supplier between line quantity and
    * extended price: r² in parts-per-million as one exact integer —
    * corr2_e6 = num²·10⁶ div (d1·d2) with num = n·Σxy − ΣxΣy,
    * d1/d2 the variance numerators — plus the sign of r. The squares
    * exceed 64 bits, so the final expression runs in DECIMAL(38,0) on
    * Spark and HUGEINT in DuckDB (both exact at this width); sqrt-free
    * because √(d1·d2) of a >2⁵³ integer is not IEEE-replayable.
    *
    * Shape at 100TB: five mergeable integer moments per group — the
    * same partial-agg shuffle as any sum, no second pass, no raw-row
    * retention. */
  val corrExact: Q = Q(
    "q_corr_exact",
    """WITH r AS (SELECT l_suppkey, CAST(l_quantity AS BIGINT) AS x,
      |    CAST(FLOOR(CAST(l_extendedprice AS DECIMAL(18,2))) AS BIGINT) AS y
      |  FROM lineitem),
      |g AS (SELECT l_suppkey, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
      |        SUM(x*x) AS sxx, SUM(y*y) AS syy, SUM(x*y) AS sxy
      |      FROM r GROUP BY 1)
      |SELECT l_suppkey, n,
      |  CASE WHEN n*sxy - sx*sy < 0 THEN -1
      |       WHEN n*sxy - sx*sy > 0 THEN 1 ELSE 0 END AS r_sign,
      |  CAST(CAST(n*sxy - sx*sy AS HUGEINT) * CAST(n*sxy - sx*sy AS HUGEINT)
      |       * 1000000
      |       // (CAST(n*sxx - sx*sx AS HUGEINT) * CAST(n*syy - sy*sy AS HUGEINT))
      |       AS BIGINT) AS corr2_e6
      |FROM g WHERE n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0
      |ORDER BY l_suppkey""".stripMargin) { (s, d) =>
    Tables.load(s, d, "lineitem")
      .select(col("l_suppkey"), col("l_quantity").cast("long").as("x"),
        floor(dec(col("l_extendedprice"))).cast("long").as("y"))
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"), sum(col("x") * col("y")).as("sxy"))
      .select(col("l_suppkey"), col("n"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("d1"),
        (col("n") * col("syy") - col("sy") * col("sy")).as("d2"))
      .filter(col("d1") > 0 && col("d2") > 0)
      .select(col("l_suppkey"), col("n"),
        when(col("num") < 0, -1L).when(col("num") > 0, 1L).otherwise(0L)
          .as("r_sign"),
        expr("""CAST(CAST(num AS DECIMAL(38,0)) * CAST(num AS DECIMAL(38,0))
               |     * 1000000
               |     div (CAST(d1 AS DECIMAL(38,0)) * CAST(d2 AS DECIMAL(38,0)))
               |     AS BIGINT)""".stripMargin).as("corr2_e6"))
      .orderBy("l_suppkey")
  }

  /** Deterministic A/B experiment readout: users hash into arms by the
    * md5 gate (the reproducible assignment every experimentation
    * system needs — re-running the analysis re-derives the same
    * arms), conversion is "first
    * event is a purchase" (a scale-free ~20% base rate — "ever
    * purchased" saturates to 1.0 on any active user), and the output is the
    * exact per-arm counts, the rate difference as an exact rational
    * (lift_num/lift_den), and the two-proportion z statistic. The z
    * is the one float: both engines evaluate the IDENTICAL expression
    * tree over the same four BIGINTs, and +,−,×,÷,√ are all IEEE
    * correctly-rounded, so even the float hash-matches (the
    * q_anomaly_zscore precedent).
    *
    * Shape at 100TB: one aggregate to per-user conversion flags, one
    * 2-row aggregate to arm totals — the experiment readout touches
    * the event stream once, and the z math runs on 4 scalars. */
  val abLift: Q = Q(
    "q_ab_lift",
    """WITH r AS (SELECT user_id, event_type,
      |    CASE WHEN md5(CAST(user_id AS VARCHAR)) < '80' THEN 'a' ELSE 'b' END AS arm,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |                       ORDER BY epoch_ms(ts), event_id) AS rn
      |  FROM events),
      |u AS (SELECT user_id, arm,
      |    MAX(CASE WHEN rn = 1 AND event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      |  FROM r GROUP BY 1, 2),
      |s AS (SELECT
      |    COUNT(CASE WHEN arm = 'a' THEN 1 END) AS n_a,
      |    CAST(SUM(CASE WHEN arm = 'a' THEN conv ELSE 0 END) AS BIGINT) AS c_a,
      |    COUNT(CASE WHEN arm = 'b' THEN 1 END) AS n_b,
      |    CAST(SUM(CASE WHEN arm = 'b' THEN conv ELSE 0 END) AS BIGINT) AS c_b
      |  FROM u)
      |SELECT n_a, c_a, n_b, c_b,
      |  c_a * n_b - c_b * n_a AS lift_num, n_a * n_b AS lift_den,
      |  (CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
      |    / SQRT((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
      |           * (1.0 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
      |           * (1.0 / n_a + 1.0 / n_b)) AS z
      |FROM s""".stripMargin) { (s, d) =>
    val byUser = Window.partitionBy("user_id").orderBy("ms", "event_id")
    val u = Tables.load(s, d, "events")
      .select(col("user_id"), col("event_type"), ms(col("ts")).as("ms"),
        col("event_id"),
        when(md5(col("user_id").cast("string").cast("binary")) < "80", "a")
          .otherwise("b").as("arm"))
      .withColumn("rn", row_number().over(byUser))
      .groupBy("user_id", "arm")
      .agg(max(when(col("rn") === 1 && col("event_type") === "purchase", 1L)
        .otherwise(0L)).as("conv"))
    u.agg(
      count(when(col("arm") === "a", 1)).as("n_a"),
      sum(when(col("arm") === "a", col("conv")).otherwise(0L)).as("c_a"),
      count(when(col("arm") === "b", 1)).as("n_b"),
      sum(when(col("arm") === "b", col("conv")).otherwise(0L)).as("c_b"))
      .select(col("n_a"), col("c_a"), col("n_b"), col("c_b"),
        (col("c_a") * col("n_b") - col("c_b") * col("n_a")).as("lift_num"),
        (col("n_a") * col("n_b")).as("lift_den"),
        expr("""(CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
               |  / SQRT((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
               |         * (1.0D - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
               |         * (1.0D / n_a + 1.0D / n_b))""".stripMargin).as("z"))
  }

  /** A fully ENGINE-PORTABLE HyperLogLog (Flajolet et al. 2007) in
    * exact integer arithmetic — the sketch family q_agg_approx_distinct
    * had to leave outside the hash gate (Spark's HLL++ register binary
    * is engine-internal) rebuilt from public parts so the whole
    * estimator hash-matches: register, rank and estimate are
    * [[Sketches]]' HLL (the harmonic sum carried as the exact integer
    * Σ2^(49−M_j) — power-of-two shifts, never floats). Registers build
    * per MONTH and MERGE by max to per-year estimates — the
    * mergeability that makes HLL the production cardinality sketch
    * (re-aggregation without rescans); zero-register counts ride along
    * (the linear-counting regime flag), and the exact distinct count
    * joins in as the error witness.
    *
    * Shape at 100TB: the corpus aggregates once to (month, register)
    * maxima — 256·months rows total, regardless of input size; every
    * coarser grain folds maxima. The register spine is a generated
    * 256-row frame, broadcast. */
  val hllFx: Q = Q(
    "q_sketch_hll_fx",
    s"""WITH dh AS (SELECT DISTINCT CAST(date_part('year', l_shipdate) AS BIGINT) AS yr,
      |    CAST(date_trunc('month', CAST(l_shipdate AS DATE)) AS DATE) AS mon,
      |    md5(CAST(l_orderkey AS VARCHAR)) AS h FROM lineitem),
      |rr AS (SELECT yr, mon, ${Sketches.hllRegisterSql("h")} AS reg,
      |    ${Sketches.hllRankSql("h")} AS r
      |  FROM dh),
      |mreg AS (SELECT yr, mon, reg, MAX(r) AS mr FROM rr GROUP BY 1, 2, 3),
      |yreg AS (SELECT yr, reg, MAX(mr) AS mr FROM mreg GROUP BY 1, 2),
      |spine AS (SELECT y.yr, p.reg FROM (SELECT DISTINCT yr FROM dh) y,
      |          (SELECT unnest(range(0, 256)) AS reg) p),
      |full0 AS (SELECT s.yr, s.reg, COALESCE(yr2.mr, 0) AS m0
      |          FROM spine s LEFT JOIN yreg yr2
      |            ON yr2.yr = s.yr AND yr2.reg = s.reg),
      |hsum AS (SELECT yr,
      |    CAST(SUM(CAST(1 AS BIGINT) << (49 - m0)) AS BIGINT) AS ss,
      |    COUNT(CASE WHEN m0 = 0 THEN 1 END) AS n_zero
      |  FROM full0 GROUP BY yr),
      |ex AS (SELECT CAST(date_part('year', l_shipdate) AS BIGINT) AS yr,
      |       COUNT(DISTINCT l_orderkey) AS exact_distinct FROM lineitem GROUP BY 1)
      |SELECT h.yr, h.n_zero, ${Sketches.hllEstimateSql("h.ss")} AS hll_est,
      |  e.exact_distinct
      |FROM hsum h JOIN ex e ON e.yr = h.yr ORDER BY h.yr""".stripMargin) { (s, d) =>
    val li = Tables.load(s, d, "lineitem")
    val dh = li.select(year(col("l_shipdate")).cast("long").as("yr"),
      trunc(to_date(col("l_shipdate")), "month").as("mon"),
      md5(col("l_orderkey").cast("string").cast("binary")).as("h"))
      .distinct()
    val rr = dh.select(col("yr"), col("mon"),
      Sketches.hllRegister(col("h")).as("reg"), Sketches.hllRank(col("h")).as("r"))
    val mreg = rr.groupBy("yr", "mon", "reg").agg(max(col("r")).as("mr"))
    val yreg = mreg.groupBy("yr", "reg").agg(max(col("mr")).as("mr"))
    val spine = dh.select(col("yr")).distinct()
      .crossJoin(broadcast(
        s.range(0, 256).select(col("id").as("reg"))))
    val full0 = spine.join(yreg, Seq("yr", "reg"), "left")
      .select(col("yr"), col("reg"), coalesce(col("mr"), lit(0L)).as("m0"))
    val hsum = full0.groupBy("yr")
      .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(49 - m0 AS INT))"))
        .as("ss"),
        count(when(col("m0") === 0, 1)).as("n_zero"))
    val ex = li.groupBy(year(col("l_shipdate")).cast("long").as("yr"))
      .agg(countDistinct(col("l_orderkey")).as("exact_distinct"))
    hsum.join(ex, "yr")
      .select(col("yr"), col("n_zero"), Sketches.hllEstimate(col("ss")).as("hll_est"),
        col("exact_distinct"))
      .orderBy("yr")
  }

  /** RFM customer segmentation — recency / frequency / monetary
    * quintile scores, the classic lifecycle-marketing discretization —
    * done the scalable way: one aggregate computes per-customer
    * (recency vs a fixed reference day, order count, exact cents
    * spend), ONE global aggregate row holds all 12 quintile
    * boundaries (three array-typed exact percentiles — map-side
    * partials, never a global-sort ntile), and each customer's scores
    * are branch-free sums of boundary comparisons against the
    * broadcast row. Segment = r·100 + f·10 + m. Recency scores
    * ascending in days-since-last-order (1 = most recent buyers), so
    * the canonical "555" reads high-F high-M but 5 = stalest R; the
    * orientation is a labeling choice the comparisons make explicit.
    *
    * Shape at 100TB: two shuffles total (per-customer aggregate,
    * 1-row boundary aggregate); scoring is a map over the customer
    * frame with the boundary row broadcast. */
  val rfmSegment: Q = {
    val refDay = 11688L // 2002-01-01, just past the order-date range
    def sqlScore(m: String): String = "1 + " + (1 to 4)
      .map(i => s"CASE WHEN $m >= ${m}_b$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    val sqlBs = Seq("rec", "freq", "money").map { m =>
      (1 to 4).map(i => s"quantile_cont($m, 0.${i * 2}) AS ${m}_b$i")
        .mkString(", ")
    }.mkString(", ")
    Q(
      "q_rfm_segment",
      s"""WITH c AS (SELECT o_custkey,
         |    $refDay - MAX(epoch_ms(o_orderdate) // 86400000) AS rec,
         |    COUNT(*) AS freq,
         |    CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         |      AS money
         |  FROM orders GROUP BY 1),
         |b AS (SELECT $sqlBs FROM c)
         |SELECT o_custkey, rec, freq, money,
         |  CAST(${sqlScore("rec")} AS BIGINT) AS r_score,
         |  CAST(${sqlScore("freq")} AS BIGINT) AS f_score,
         |  CAST(${sqlScore("money")} AS BIGINT) AS m_score,
         |  CAST((${sqlScore("rec")}) * 100 + (${sqlScore("freq")}) * 10
         |       + (${sqlScore("money")}) AS BIGINT) AS segment
         |FROM c, b ORDER BY o_custkey""".stripMargin) { (s, d) =>
      val c = Tables.load(s, d, "orders")
        .groupBy("o_custkey")
        .agg((lit(refDay) - max(graft.functions.Exact.bucket(
          ms(col("o_orderdate")), 86400000L))).as("rec"),
          count(lit(1)).as("freq"),
          sum(round(col("o_totalprice") * 100, 0).cast("long")).as("money"))
      val b = c.agg(
        percentile(col("rec"), array((1 to 4).map(i => lit(i / 5.0)): _*))
          .as("rbs"),
        percentile(col("freq"), array((1 to 4).map(i => lit(i / 5.0)): _*))
          .as("fbs"),
        percentile(col("money"), array((1 to 4).map(i => lit(i / 5.0)): _*))
          .as("mbs"))
        .select(
          (1 to 4).map(i => col("rbs").getItem(i - 1).as(s"rec_b$i")) ++
            (1 to 4).map(i => col("fbs").getItem(i - 1).as(s"freq_b$i")) ++
            (1 to 4).map(i => col("mbs").getItem(i - 1).as(s"money_b$i")): _*)
      def score(m: String) = (1 to 4)
        .map(i => when(col(m) >= col(s"${m}_b$i"), 1).otherwise(0))
        .foldLeft(lit(1))(_ + _)
      c.crossJoin(broadcast(b))
        .select(col("o_custkey"), col("rec"), col("freq"), col("money"),
          score("rec").cast("long").as("r_score"),
          score("freq").cast("long").as("f_score"),
          score("money").cast("long").as("m_score"),
          (score("rec") * 100 + score("freq") * 10 + score("money"))
            .cast("long").as("segment"))
        .orderBy("o_custkey")
    }
  }

  /** Behavioral Markov chain: the event-type transition matrix over
    * per-user ordered histories — P(next | current) as an exact
    * rational in parts-per-million (n·10⁶ div row_total), the
    * first-order model behind next-action prediction and
    * session-simulation. One shuffle on the user key for the lead
    * window, one tiny aggregate to the T×T matrix.
    */
  val markovTransitions: Q = Q(
    "q_markov_transitions",
    """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms, event_id
      |  FROM events),
      |t AS (SELECT event_type AS from_type,
      |        LEAD(event_type) OVER (PARTITION BY user_id
      |                               ORDER BY ms, event_id) AS to_type
      |      FROM e),
      |c AS (SELECT from_type, to_type, COUNT(*) AS n FROM t
      |      WHERE to_type IS NOT NULL GROUP BY 1, 2),
      |tot AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS total FROM c GROUP BY 1)
      |SELECT c.from_type, c.to_type, c.n, t.total,
      |  c.n * 1000000 // t.total AS p_e6
      |FROM c JOIN tot t ON t.from_type = c.from_type
      |ORDER BY c.from_type, c.to_type""".stripMargin) { (s, d) =>
    val byUser = Window.partitionBy("user_id").orderBy("ms", "event_id")
    val t = Tables.load(s, d, "events")
      .select(col("user_id"), col("event_type"),
        ms(col("ts")).as("ms"), col("event_id"))
      .select(col("event_type").as("from_type"),
        lead(col("event_type"), 1).over(byUser).as("to_type"))
      .filter(col("to_type").isNotNull)
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n"))
    val tot = t.groupBy("from_type").agg(sum(col("n")).as("total"))
    t.join(broadcast(tot), "from_type")
      .select(col("from_type"), col("to_type"), col("n"), col("total"),
        expr("n * 1000000 div total").as("p_e6"))
      .orderBy("from_type", "to_type")
  }

  /** Robust anomaly detection via median absolute deviation — the
    * outlier-resistant twin of q_anomaly_zscore (one wild hour
    * inflates a mean/sd gate but barely moves the median/MAD one).
    * Median and MAD come from exact percentile aggregates over integer
    * counts (interpolated midpoints are exact binary fractions, so
    * both engines see identical doubles) broadcast back onto the
    * hourly frame; the robust z and the 3.5 outlier gate replay as
    * the identical IEEE tree. The 1.4826 consistency constant is the
    * standard normal calibration.
    *
    * Shape at 100TB: the stream aggregates once to (type, hour), the
    * per-type stats are a tiny two-percentile aggregate, and the gate
    * is a broadcast-joined map. */
  val anomalyMad: Q = Q(
    "q_anomaly_mad",
    """WITH h AS (SELECT event_type, epoch_ms(ts) // 3600000 AS hr,
      |             COUNT(*) AS n
      |           FROM events GROUP BY 1, 2),
      |med AS (SELECT event_type, quantile_cont(n, 0.5) AS med FROM h GROUP BY 1),
      |dev AS (SELECT h.event_type, h.hr, h.n, m.med,
      |          ABS(h.n - m.med) AS dv
      |        FROM h JOIN med m ON m.event_type = h.event_type),
      |mad AS (SELECT event_type, quantile_cont(dv, 0.5) AS mad FROM dev GROUP BY 1)
      |SELECT d.event_type, d.hr, d.n, d.med, m.mad,
      |  CASE WHEN m.mad > 0
      |       THEN (d.n - d.med) / (1.4826 * m.mad) END AS rz,
      |  CASE WHEN m.mad > 0
      |       THEN ABS((d.n - d.med) / (1.4826 * m.mad)) > 3.5 END AS is_outlier
      |FROM dev d JOIN mad m ON m.event_type = d.event_type
      |ORDER BY d.event_type, d.hr""".stripMargin) { (s, d) =>
    val h = Tables.load(s, d, "events")
      .groupBy(col("event_type"),
        graft.functions.Exact.bucket(ms(col("ts")), 3600000L).as("hr"))
      .agg(count(lit(1)).as("n"))
    val med = h.groupBy("event_type")
      .agg(percentile(col("n"), lit(0.5)).as("med"))
    val dev = h.join(broadcast(med), "event_type")
      .withColumn("dv", abs(col("n") - col("med")))
    val mad = dev.groupBy("event_type")
      .agg(percentile(col("dv"), lit(0.5)).as("mad"))
    // mad = 0 (a flat or ultra-sparse series) yields NULL gates rather
    // than dropping the rows — the report stays total over (type, hr).
    dev.join(broadcast(mad), "event_type")
      .select(col("event_type"), col("hr"), col("n"), col("med"), col("mad"),
        expr("CASE WHEN mad > 0 THEN (n - med) / (1.4826 * mad) END").as("rz"),
        expr("CASE WHEN mad > 0 THEN ABS((n - med) / (1.4826 * mad)) > 3.5 END")
          .as("is_outlier"))
      .orderBy("event_type", "hr")
  }

  /** Benford first-digit screening — the forensic-accounting test for
    * fabricated numeric columns: observed first-digit counts of the
    * order totals against the Benford expectation log10(1+1/d), with
    * each chi-square component as an EXACT integer
    * ((obs·10⁶ − n·p_e6)² div (n·p_e6), ×10⁶ scaling carried in the
    * numerator) — the per-digit evidence a screening pipeline ranks
    * by. The Benford probabilities are precomputed integer literals
    * (floor(log10(1+1/d)·10⁶)): log10 never executes at query time,
    * so no libm drift. The square exceeds 64 bits at corpus scale →
    * DECIMAL(38,0)/HUGEINT, the established wide-integer lane.
    *
    * Shape at 100TB: one aggregate to 9 digit counts, one broadcast
    * 9-row constants join — the column is scanned once. */
  val benfordDigits: Q = {
    val ps = Seq(301029L, 176091L, 124938L, 96910L, 79181L, 66946L,
      57991L, 51152L, 45757L)
    val valuesSql = ps.zipWithIndex
      .map { case (p, i) => s"(${i + 1}, $p)" }.mkString(", ")
    Q(
      "q_benford_digits",
      s"""WITH v AS (SELECT CAST(substr(CAST(
         |      CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS VARCHAR), 1, 1)
         |      AS BIGINT) AS digit
         |  FROM orders),
         |c AS (SELECT digit, COUNT(*) AS obs FROM v GROUP BY 1),
         |n AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM c),
         |b(digit, p_e6) AS (VALUES $valuesSql)
         |SELECT b.digit, COALESCE(c.obs, 0) AS obs,
         |  n.n * b.p_e6 // 1000000 AS expected,
         |  CAST(
         |    (CAST(COALESCE(c.obs, 0) AS HUGEINT) * 1000000 - CAST(n.n AS HUGEINT) * b.p_e6)
         |    * (CAST(COALESCE(c.obs, 0) AS HUGEINT) * 1000000 - CAST(n.n AS HUGEINT) * b.p_e6)
         |    // (CAST(n.n AS HUGEINT) * b.p_e6 * 1000000) AS BIGINT) AS chi2_e6
         |FROM b LEFT JOIN c ON c.digit = b.digit, n
         |ORDER BY b.digit""".stripMargin) { (s, d) =>
      import s.implicits._
      val c = Tables.load(s, d, "orders")
        .select(expr("""CAST(substr(CAST(
          CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS STRING), 1, 1)
          AS BIGINT)""").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("obs"))
      val b = ps.zipWithIndex.map { case (p, i) => ((i + 1).toLong, p) }
        .toDF("digit", "p_e6")
      // total n as an uncorrelated scalar via a 1-row broadcast (the
      // CLAUDE.md-safe shape: no semi-join below it to invert)
      val n = c.agg(sum(col("obs")).as("n"))
      b.join(c, Seq("digit"), "left")
        .crossJoin(broadcast(n))
        .select(col("digit"), coalesce(col("obs"), lit(0L)).as("obs"),
          expr("n * p_e6 div 1000000").as("expected"),
          expr("""CAST(
            (CAST(coalesce(obs, 0) AS DECIMAL(38,0)) * 1000000
              - CAST(n AS DECIMAL(38,0)) * p_e6)
            * (CAST(coalesce(obs, 0) AS DECIMAL(38,0)) * 1000000
              - CAST(n AS DECIMAL(38,0)) * p_e6)
            div (CAST(n AS DECIMAL(38,0)) * p_e6 * 1000000) AS BIGINT)""")
            .as("chi2_e6"))
        .orderBy("digit")
    }
  }

  /** Revenue-concentration (Gini) per customer nation — the
    * inequality readout behind "top-N% of customers drive M% of
    * revenue" dashboards. Per-customer whole-dollar revenue ranks
    * INSIDE its nation (a partitioned window — parallel, never a
    * global sort), and Gini comes out of the rank identity
    * (2Σiχᵢ − (n+1)Σx) / (n·Σx) as one exact integer division in
    * parts-per-million. Ties rank by customer key, so the value is
    * the deterministic ties-broken Gini — the contract both engines
    * compute bit-for-bit. The decile-share companion (top-10% revenue
    * share) rides on the same ranks.
    *
    * Shape at 100TB: one aggregate to customer revenue, one
    * partitioned window, one per-nation aggregate of two integer
    * moments. Whole dollars keep Σ rank·x inside BIGINT through
    * sf≈1; wider corpora switch the two sums to DECIMAL(38,0), the
    * established lane. */
  val giniConcentration: Q = Q(
    "q_gini_concentration",
    """WITH r AS (SELECT c.c_nationkey AS nationkey, o.o_custkey,
      |    CAST(SUM(CAST(FLOOR(CAST(o.o_totalprice AS DECIMAL(18,2))) AS BIGINT))
      |         AS BIGINT) AS x
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  GROUP BY 1, 2),
      |rk AS (SELECT nationkey, x,
      |    ROW_NUMBER() OVER (PARTITION BY nationkey
      |                       ORDER BY x, o_custkey) AS i,
      |    COUNT(*) OVER (PARTITION BY nationkey) AS n
      |  FROM r),
      |g AS (SELECT nationkey, MAX(n) AS n,
      |        CAST(SUM(x) AS BIGINT) AS sx,
      |        CAST(SUM(i * x) AS BIGINT) AS six,
      |        CAST(SUM(CASE WHEN i > n - n // 10 THEN x ELSE 0 END) AS BIGINT)
      |          AS top_decile_x
      |      FROM rk GROUP BY 1)
      |SELECT nationkey, n, sx AS total_dollars,
      |  (2 * six - (n + 1) * sx) * 1000000 // (n * sx) AS gini_e6,
      |  top_decile_x * 1000000 // sx AS top10_share_e6
      |FROM g ORDER BY nationkey""".stripMargin) { (s, d) =>
    val byNation = Window.partitionBy("nationkey").orderBy("x", "o_custkey")
    val cust = Tables.load(s, d, "customer")
      .select(col("c_custkey"), col("c_nationkey").as("nationkey"))
    val r = Tables.load(s, d, "orders")
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy("nationkey", "o_custkey")
      .agg(sum(floor(dec(col("o_totalprice"))).cast("long")).as("x"))
    r.withColumn("i", row_number().over(byNation).cast("long"))
      .withColumn("n", count(lit(1))
        .over(Window.partitionBy("nationkey")))
      .groupBy("nationkey")
      .agg(max(col("n")).as("n"), sum(col("x")).as("sx"),
        sum(col("i") * col("x")).as("six"),
        sum(when(col("i") > col("n") - expr("n div 10"), col("x"))
          .otherwise(0L)).as("top_decile_x"))
      .select(col("nationkey"), col("n"), col("sx").as("total_dollars"),
        expr("(2 * six - (n + 1) * sx) * 1000000 div (n * sx)").as("gini_e6"),
        expr("top_decile_x * 1000000 div sx").as("top10_share_e6"))
      .orderBy("nationkey")
  }

  /** Chi-square test of independence between customer market segment
    * and order priority — the contingency-table screen behind "does
    * segment drive priority" questions. Expected cell counts are the
    * exact rationals row·col/n (emitted in thousandths), and each
    * cell's chi-square component is one exact integer:
    * (obs·n − row·col)²·10⁶ div (n·row·col) — the squares pass 64
    * bits at corpus scale, so the expression runs in
    * DECIMAL(38,0)/HUGEINT like every wide-integer kernel here.
    *
    * Shape at 100TB: one aggregate to the S×P cell counts, two tiny
    * margin aggregates broadcast back — the fact table is scanned
    * once. */
  val chisqIndependence: Q = Q(
    "q_chisq_independence",
    """WITH j AS (SELECT c.c_mktsegment AS seg, o.o_orderpriority AS prio,
      |    COUNT(*) AS obs
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  GROUP BY 1, 2),
      |rm AS (SELECT seg, CAST(SUM(obs) AS BIGINT) AS rn FROM j GROUP BY 1),
      |cm AS (SELECT prio, CAST(SUM(obs) AS BIGINT) AS cn FROM j GROUP BY 1),
      |n AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM j)
      |SELECT j.seg, j.prio, j.obs,
      |  rm.rn * cm.cn * 1000 // n.n AS expected_e3,
      |  CAST((CAST(j.obs AS HUGEINT) * n.n - CAST(rm.rn AS HUGEINT) * cm.cn)
      |       * (CAST(j.obs AS HUGEINT) * n.n - CAST(rm.rn AS HUGEINT) * cm.cn)
      |       * 1000000
      |       // (CAST(n.n AS HUGEINT) * rm.rn * cm.cn) AS BIGINT) AS chi2_e6
      |FROM j JOIN rm ON rm.seg = j.seg JOIN cm ON cm.prio = j.prio, n
      |ORDER BY j.seg, j.prio""".stripMargin) { (s, d) =>
    val cust = Tables.load(s, d, "customer")
      .select(col("c_custkey"), col("c_mktsegment").as("seg"))
    val j = Tables.load(s, d, "orders")
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("seg"), col("o_orderpriority").as("prio"))
      .agg(count(lit(1)).as("obs"))
    val rm = j.groupBy("seg").agg(sum(col("obs")).as("rn"))
    val cm = j.groupBy("prio").agg(sum(col("obs")).as("cn"))
    val n = j.agg(sum(col("obs")).as("n"))
    j.join(broadcast(rm), "seg").join(broadcast(cm), "prio")
      .crossJoin(broadcast(n))
      .select(col("seg"), col("prio"), col("obs"),
        expr("rn * cn * 1000 div n").as("expected_e3"),
        expr("""CAST((CAST(obs AS DECIMAL(38,0)) * n - CAST(rn AS DECIMAL(38,0)) * cn)
               |     * (CAST(obs AS DECIMAL(38,0)) * n - CAST(rn AS DECIMAL(38,0)) * cn)
               |     * 1000000
               |     div (CAST(n AS DECIMAL(38,0)) * rn * cn) AS BIGINT)""".stripMargin)
          .as("chi2_e6"))
      .orderBy("seg", "prio")
  }

  /** Mann-Whitney U — the nonparametric two-sample test (does
    * BUILDING differ from MACHINERY in account balance, per nation?)
    * carried entirely in EXACT integers: tied ranks use midranks, and
    * doubling them (2·midrank = 2·count(<) + count(=) + 1, two
    * RANGE-frame window counts) keeps everything integral, so
    * u2 = 2·U = Σ(2·midrank over A) − n_a(n_a+1) hash-matches without
    * any float. The identity u2_a + u2_b = 2·n_a·n_b is emitted as
    * its own column — the self-check a reader applies first.
    *
    * Shape at 100TB: ranks come from per-nation windows (parallel —
    * the pooled sample partitions by the group key), then one
    * aggregate of integer sums. */
  val mannWhitney: Q = Q(
    "q_mann_whitney",
    """WITH c AS (SELECT c_nationkey AS nationkey, c_mktsegment AS seg,
      |    CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS cents
      |  FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
      |r AS (SELECT nationkey, seg, cents,
      |    2 * COUNT(*) OVER (PARTITION BY nationkey ORDER BY cents
      |                       RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      + COUNT(*) OVER (PARTITION BY nationkey ORDER BY cents
      |                       RANGE BETWEEN CURRENT ROW AND CURRENT ROW)
      |      + 1 AS r2
      |  FROM c),
      |g AS (SELECT nationkey,
      |        COUNT(CASE WHEN seg = 'BUILDING' THEN 1 END) AS n_a,
      |        COUNT(CASE WHEN seg = 'MACHINERY' THEN 1 END) AS n_b,
      |        CAST(SUM(CASE WHEN seg = 'BUILDING' THEN r2 ELSE 0 END) AS BIGINT)
      |          AS ra2
      |      FROM r GROUP BY 1)
      |SELECT nationkey, n_a, n_b,
      |  ra2 - n_a * (n_a + 1) AS u2_a,
      |  2 * n_a * n_b - (ra2 - n_a * (n_a + 1)) AS u2_b
      |FROM g WHERE n_a > 0 AND n_b > 0 ORDER BY nationkey""".stripMargin) {
    (s, d) =>
      val byNation = Window.partitionBy("nationkey").orderBy("cents")
      val strictlyLess = byNation.rangeBetween(Window.unboundedPreceding, -1)
      val peers = byNation.rangeBetween(0, 0)
      val r = Tables.load(s, d, "customer")
        .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(col("c_nationkey").as("nationkey"),
          col("c_mktsegment").as("seg"),
          round(col("c_acctbal") * 100, 0).cast("long").as("cents"))
        .withColumn("r2",
          lit(2L) * count(lit(1)).over(strictlyLess)
            + count(lit(1)).over(peers) + 1L)
      r.groupBy("nationkey")
        .agg(count(when(col("seg") === "BUILDING", 1)).as("n_a"),
          count(when(col("seg") === "MACHINERY", 1)).as("n_b"),
          sum(when(col("seg") === "BUILDING", col("r2")).otherwise(0L))
            .as("ra2"))
        .filter(col("n_a") > 0 && col("n_b") > 0)
        .select(col("nationkey"), col("n_a"), col("n_b"),
          (col("ra2") - col("n_a") * (col("n_a") + 1)).as("u2_a"),
          (lit(2L) * col("n_a") * col("n_b")
            - (col("ra2") - col("n_a") * (col("n_a") + 1))).as("u2_b"))
        .orderBy("nationkey")
  }

  /** Hour-of-week seasonality profile: each (event_type, hour-of-week)
    * cell's load as an exact multiplicative index against the type's
    * uniform expectation — idx_e6 = n_cell·168·10⁶ div n_type — the
    * seasonal fingerprint load forecasting starts from. One aggregate
    * plus a tiny per-type margin broadcast.
    */
  val seasonality: Q = Q(
    "q_seasonality_how",
    """WITH e AS (SELECT event_type,
      |    (epoch_ms(ts) // 3600000 + 72) % 168 AS how
      |  FROM events),
      |c AS (SELECT event_type, how, COUNT(*) AS n FROM e GROUP BY 1, 2),
      |t AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS total FROM c GROUP BY 1)
      |SELECT c.event_type, c.how, c.n,
      |  c.n * 168 * 1000000 // t.total AS idx_e6
      |FROM c JOIN t ON t.event_type = c.event_type
      |ORDER BY c.event_type, c.how""".stripMargin) { (s, d) =>
    // epoch hour 0 is Thursday 00:00; +72 rebases hour-of-week to Monday
    val c = Tables.load(s, d, "events")
      .select(col("event_type"),
        ((graft.functions.Exact.bucket(ms(col("ts")), 3600000L) + 72L) % 168L)
          .as("how"))
      .groupBy("event_type", "how")
      .agg(count(lit(1)).as("n"))
    val t = c.groupBy("event_type").agg(sum(col("n")).as("total"))
    c.join(broadcast(t), "event_type")
      .select(col("event_type"), col("how"), col("n"),
        expr("n * 168 * 1000000 div total").as("idx_e6"))
      .orderBy("event_type", "how")
  }

  /** Association-rule strength for the co-purchase pairs: support
    * (order count), confidence P(b|a) and lift P(ab)/(P(a)P(b)) as
    * exact ppm rationals over basket counts — the market-basket
    * readout on top of q_copurchase_pairs' candidate edges (support
    * ≥ 3 prunes the pair space BEFORE any probability math). Lift
    * > 10⁶ marks genuinely associated pairs; the exact integers make
    * the threshold replayable.
    *
    * Shape at 100TB: the pair frame is the already-pruned support
    * join; item counts are a part-grain aggregate joined twice —
    * stats/AQE-decided (broadcast while small, one shared exchange by
    * canonicalization; shuffled equi-join past the 8GB limit). */
  val copurchaseLift: Q = Q(
    "q_copurchase_lift",
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM li),
      |item AS (SELECT l_partkey, COUNT(*) AS n_i FROM li GROUP BY 1),
      |pair AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
      |                COUNT(*) AS n_ab
      |         FROM li a JOIN li b
      |           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |         GROUP BY 1, 2 HAVING COUNT(*) >= 3)
      |SELECT p.part_a, p.part_b, p.n_ab,
      |  p.n_ab * 1000000 // ia.n_i AS conf_ab_e6,
      |  p.n_ab * 1000000 // ib.n_i AS conf_ba_e6,
      |  p.n_ab * n.n_orders * 1000000 // (ia.n_i * ib.n_i) AS lift_e6
      |FROM pair p JOIN item ia ON ia.l_partkey = p.part_a
      |            JOIN item ib ON ib.l_partkey = p.part_b, n
      |ORDER BY part_a, part_b""".stripMargin) { (s, d) =>
    val li = Tables.load(s, d, "lineitem")
      .select("l_orderkey", "l_partkey").distinct()
    val n = li.select(countDistinct(col("l_orderkey")).as("n_orders"))
    val item = li.groupBy("l_partkey").agg(count(lit(1)).as("n_i"))
    // The suite-shared support>=2 pair frame filtered to >= 3 —
    // identical rows to the inline a-priori-pruned self-join. `item`
    // stays UNpruned: the confidence/lift denominators and the oracle
    // use full distinct-basket counts.
    val pair = GraphShared.pairs(s, d).filter(col("n") >= 3)
      .select(col("u").as("part_a"), col("v").as("part_b"),
        col("n").as("n_ab"))
    // item counts are part-grain (corpus-scaling): stats/AQE decide —
    // locally both sides still broadcast (and the two identical
    // subtrees still share ONE exchange via canonicalization); at
    // cluster scale they degrade to shuffled equi-joins
    pair
      .join(item.select(col("l_partkey").as("part_a"),
        col("n_i").as("na")), Seq("part_a"))
      .join(item.select(col("l_partkey").as("part_b"),
        col("n_i").as("nb")), Seq("part_b"))
      .crossJoin(broadcast(n))
      .select(col("part_a"), col("part_b"), col("n_ab"),
        expr("n_ab * 1000000 div na").as("conf_ab_e6"),
        expr("n_ab * 1000000 div nb").as("conf_ba_e6"),
        expr("n_ab * n_orders * 1000000 div (na * nb)").as("lift_e6"))
      .orderBy("part_a", "part_b")
  }

  val all: Seq[Q] = Seq(funnel, cohort, reaggregate, seqEvents, anomalyZscore,
    copurchase, triangles, dauMau, kmvDistinct, graphBfs, kmvSetOps,
    seqPattern, regressionGroup, corrExact, abLift, hllFx, rfmSegment,
    markovTransitions, anomalyMad, benfordDigits, giniConcentration,
    chisqIndependence, mannWhitney, seasonality, copurchaseLift)
}
