package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Session, Tables}
import graft.ops.Iterate
import graft.plans.FxLog2
import graft.text.Text

/** Wave 15 — corpus statistics and behavioral mining: PMI collocations
  * (the classic "which word pairs belong together" corpus readout),
  * frequent event paths (sequence mining), and item-item collaborative
  * filtering (the co-occurrence-cosine recommender baseline). All in
  * the exact-integer / fxlog2 lanes: counts, truncating ppm divisions,
  * and fixed-point logs — no IEEE transcendentals anywhere.
  */
object Wave15 {

  /** PMI-ranked bigram collocations (Church & Hanks 1990): for every
    * adjacent word pair seen >= 5 times,
    *   PMI = log2( p(w1,w2) / (p(w1)·p(w2)) )
    * computed entirely in [[graft.plans.FxLog2]] fixed point via the
    * factored identity
    *   pmi_fx = lg(n2) + 2·lg(N) − lg(Nb) − lg(n1_w1) − lg(n1_w2)
    * (every argument is a small corpus count — the unfactored
    * c2·N²/(Nb·c1·c1) form would overflow BIGINT at corpus scale).
    *
    * Shape at 100TB: unigram and bigram counts are each ONE
    * partial-aggregated shuffle off a narrow compiled-UDF tokenize
    * pass; the two totals are one-row broadcasts; the count joins are
    * vocabulary-sized broadcasts (vocab ≪ corpus by Heaps' law —
    * q_vocab_growth measures exactly that); the log runs per SURVIVING
    * pair, never per token.
    */
  val textCollocations: Q = Q(
    "q_text_collocations",
    s"""WITH RECURSIVE
       |tk AS (SELECT ${Text.tokensSql("text")} AS toks FROM documents),
       |uni AS (SELECT unnest(toks) AS w FROM tk),
       |c1 AS (SELECT w, COUNT(*) AS n1 FROM uni GROUP BY 1),
       |nt AS (SELECT CAST(SUM(n1) AS BIGINT) AS n_tok FROM c1),
       |big AS (SELECT toks[i] AS w1, toks[i+1] AS w2
       |        FROM tk, (SELECT unnest(range(1,
       |          (SELECT COALESCE(MAX(len(toks)), 0) + 1 FROM tk))) AS i) p
       |        WHERE i <= len(toks) - 1),
       |c2 AS (SELECT w1, w2, COUNT(*) AS n2 FROM big GROUP BY 1, 2),
       |nb AS (SELECT CAST(SUM(n2) AS BIGINT) AS n_big FROM c2),
       |f AS (SELECT w1, w2, n2 FROM c2 WHERE n2 >= 5),
       |args AS (SELECT DISTINCT n FROM (
       |  SELECT n2 AS n FROM f
       |  UNION ALL SELECT n1 FROM c1
       |  UNION ALL SELECT n_tok FROM nt
       |  UNION ALL SELECT n_big FROM nb)),
       |${FxLog2.oracleCte("args")}
       |SELECT f.w1, f.w2, f.n2, ca.n1 AS n1_w1, cb.n1 AS n1_w2,
       |  l2.r + 2 * ln_.r - lb_.r - la.r - lbw.r AS pmi_fx
       |FROM f
       |JOIN c1 ca ON ca.w = f.w1
       |JOIN c1 cb ON cb.w = f.w2
       |CROSS JOIN nt CROSS JOIN nb
       |JOIN lg l2 ON l2.n = f.n2
       |JOIN lg ln_ ON ln_.n = nt.n_tok
       |JOIN lg lb_ ON lb_.n = nb.n_big
       |JOIN lg la ON la.n = ca.n1
       |JOIN lg lbw ON lbw.n = cb.n1
       |ORDER BY w1, w2""".stripMargin) { (s, d) =>
    val np = Session.partitions(s)
    val docs = Tables.load(s, d, "documents").repartition(np)
    val c1 = docs.select(explode(Text.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n1"))
    val c2 = docs
      .select(explode(Text.shingleListUdf(2)(col("text"))).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("n2"))
      .select(split(col("bg"), " ").getItem(0).as("w1"),
        split(col("bg"), " ").getItem(1).as("w2"), col("n2"))
    val nt = c1.agg(sum(col("n1")).as("n_tok"))
    val nb = c2.agg(sum(col("n2")).as("n_big"))
    // unigram counts are VOCABULARY-grain (Heaps-law corpus-scaling),
    // so the hint is stats/AQE-decided: broadcast while it fits, a
    // shuffled equi-join on w past the 8GB limit (r12 purge policy)
    c2.filter(col("n2") >= 5)
      .join(c1.toDF("w1", "n1_w1"), "w1")
      .join(c1.toDF("w2", "n1_w2"), "w2")
      .crossJoin(broadcast(nt)).crossJoin(broadcast(nb))
      .select(col("w1"), col("w2"), col("n2"), col("n1_w1"), col("n1_w2"),
        (FxLog2.column(col("n2")) + lit(2) * FxLog2.column(col("n_tok"))
          - FxLog2.column(col("n_big")) - FxLog2.column(col("n1_w1"))
          - FxLog2.column(col("n1_w2"))).as("pmi_fx"))
      .orderBy("w1", "w2")
  }

  /** Frequent 3-step behavioral paths (PrefixSpan-lite, contiguous
    * form): every contiguous event-type trigram in a user's timeline,
    * with total occurrences and distinct-user support — the sequence
    * mining that feeds funnel design and next-action models. Counts
    * only; nothing to drift cross-engine.
    *
    * Shape at 100TB: the two LEADs share ONE user-keyed window
    * exchange (the q_funnel_stages shape); the path aggregate is the
    * only other shuffle, and the distinct-user count partial-aggregates
    * on (path, user) before the final fold.
    */
  val pathMining: Q = Q(
    "q_path_mining",
    """WITH ev AS (SELECT user_id, event_type, epoch_ms(ts) AS ms, event_id
      |  FROM events),
      |tg AS (SELECT user_id, event_type AS t1,
      |    LEAD(event_type, 1) OVER (PARTITION BY user_id
      |                              ORDER BY ms, event_id) AS t2,
      |    LEAD(event_type, 2) OVER (PARTITION BY user_id
      |                              ORDER BY ms, event_id) AS t3
      |  FROM ev)
      |SELECT t1 || '>' || t2 || '>' || t3 AS path,
      |  COUNT(*) AS n_occ, COUNT(DISTINCT user_id) AS n_users
      |FROM tg WHERE t3 IS NOT NULL
      |GROUP BY 1 HAVING COUNT(*) >= 5
      |ORDER BY path""".stripMargin) { (s, d) =>
    import graft.functions.Exact.ms
    val byUser = Window.partitionBy("user_id").orderBy("ms", "event_id")
    Tables.load(s, d, "events")
      .select(col("user_id"), col("event_type"),
        ms(col("ts")).as("ms"), col("event_id"))
      .select(col("user_id"), col("event_type").as("t1"),
        lead(col("event_type"), 1).over(byUser).as("t2"),
        lead(col("event_type"), 2).over(byUser).as("t3"))
      .filter(col("t3").isNotNull)
      .select(concat_ws(">", col("t1"), col("t2"), col("t3")).as("path"),
        col("user_id"))
      .groupBy("path")
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("user_id")).as("n_users"))
      .filter(col("n_occ") >= 5)
      .orderBy("path")
  }

  /** Item-item collaborative filtering (Sarwar et al. 2001, the
    * Amazon-style recommender baseline): basket co-occurrence cosine
    * between parts, squared into the exact-integer lane —
    *   sim²_ppm = n_ij² · 10⁶ div (n_i · n_j)
    * — and the top-3 recommendations per item by (sim² desc, partner
    * asc). Shares the a-priori pre-prune + merge-hinted basket
    * self-join scale shape with q_copurchase_lift: a pair needs
    * co-occurrence >= 3, so both items must sit on >= 3 raw lines —
    * the broadcast semi-join shrinks the quadratic-in-basket-size
    * stage's input without changing its output.
    *
    * Shape at 100TB: basket self-join on the order key (merge-hinted,
    * ReusedExchange both sides), item-count joins are broadcasts of
    * the item dictionary, and the top-3 cut is a WindowGroupLimit —
    * only 3 rows per item survive to the final exchange.
    */
  val itemcfRecs: Q = Q(
    "q_itemcf_recs",
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |ic AS (SELECT l_partkey, COUNT(*) AS n_i FROM li GROUP BY 1),
      |pr AS (SELECT a.l_partkey AS i, b.l_partkey AS j, COUNT(*) AS n_ij
      |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      |    AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
      |sym AS (SELECT i, j, n_ij FROM pr
      |  UNION ALL SELECT j, i, n_ij FROM pr),
      |sc AS (SELECT sym.i AS item, sym.j AS rec, sym.n_ij,
      |    CAST(CAST(sym.n_ij AS HUGEINT) * sym.n_ij * 1000000
      |         // (ci.n_i * cj.n_i) AS BIGINT) AS sim2_ppm
      |  FROM sym JOIN ic ci ON ci.l_partkey = sym.i
      |  JOIN ic cj ON cj.l_partkey = sym.j),
      |rk AS (SELECT item, rec, n_ij, sim2_ppm,
      |    ROW_NUMBER() OVER (PARTITION BY item
      |                       ORDER BY sim2_ppm DESC, rec) AS rank
      |  FROM sc)
      |SELECT item, rank, rec, n_ij, sim2_ppm FROM rk
      |WHERE rank <= 3 ORDER BY item, rank""".stripMargin) { (s, d) =>
    val li = Tables.load(s, d, "lineitem")
      .select("l_orderkey", "l_partkey").distinct()
    val ic = li.groupBy("l_partkey").agg(count(lit(1)).as("n_i"))
    // The suite-shared support>=2 pair frame filtered to >= 3 —
    // identical rows to the inline a-priori-pruned self-join.
    val pr = GraphShared.pairs(s, d).filter(col("n") >= 3)
      .select(col("u").as("i"), col("v").as("j"), col("n").as("n_ij"))
    val sym = pr.select("i", "j", "n_ij")
      .unionAll(pr.select(col("j").as("i"), col("i").as("j"), col("n_ij")))
    // item counts are part-grain (corpus-scaling): stats/AQE-decided —
    // broadcast while small, shuffled equi-join at cluster scale
    val sc = sym
      .join(ic.toDF("i", "n_i_i"), "i")
      .join(ic.toDF("j", "n_i_j"), "j")
      .select(col("i").as("item"), col("j").as("rec"), col("n_ij"),
        expr("""CAST(CAST(n_ij AS DECIMAL(38,0)) * n_ij * 1000000
               |     div (n_i_i * n_i_j) AS BIGINT)""".stripMargin)
          .as("sim2_ppm"))
    val byItem = Window.partitionBy("item")
      .orderBy(col("sim2_ppm").desc, col("rec"))
    sc.withColumn("rank", row_number().over(byItem))
      .filter(col("rank") <= 3)
      .select("item", "rank", "rec", "n_ij", "sim2_ppm")
      .orderBy("item", "rank")
  }

  /** Offline policy evaluation by replay (the Li et al. 2011 method's
    * deterministic skeleton): learn a per-context greedy policy on the
    * md5-80% train split (the action with the highest total reward,
    * action-name tiebreak), then REPLAY it against the held-out test
    * events — the policy is only credited on test events whose logged
    * action matches its choice, which is the unbiased off-policy
    * estimator when logging is uniform. Match rate in truncating ppm,
    * rewards in exact cents.
    *
    * Shape at 100TB: the context × action train aggregate is tiny
    * (contexts × actions rows); the policy broadcast-joins the test
    * scan and the replay readout is one more aggregate — the event log
    * itself is scanned twice and never shuffled beyond the two
    * partial-aggregated groupBys.
    */
  val policyReplay: Q = Q(
    "q_policy_replay",
    """WITH ev AS (SELECT user_id, event_type,
      |    CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
      |    user_id % 4 AS ctx,
      |    md5(CAST(user_id AS VARCHAR)) < 'cc' AS is_train
      |  FROM events),
      |tr AS (SELECT ctx, event_type,
      |    CAST(SUM(cents) AS BIGINT) AS train_cents
      |  FROM ev WHERE is_train GROUP BY 1, 2),
      |pol AS (SELECT ctx, event_type AS policy_action, train_cents,
      |    ROW_NUMBER() OVER (PARTITION BY ctx
      |                       ORDER BY train_cents DESC, event_type) AS rn
      |  FROM tr),
      |p1 AS (SELECT ctx, policy_action, train_cents FROM pol WHERE rn = 1),
      |m AS (SELECT t.ctx, COUNT(*) AS n_test,
      |    COUNT(CASE WHEN t.event_type = p.policy_action THEN 1 END)
      |      AS n_matched,
      |    CAST(SUM(CASE WHEN t.event_type = p.policy_action
      |                  THEN t.cents ELSE 0 END) AS BIGINT) AS matched_cents
      |  FROM ev t JOIN p1 p ON p.ctx = t.ctx
      |  WHERE NOT t.is_train GROUP BY 1)
      |SELECT p1.ctx, p1.policy_action, p1.train_cents, m.n_test,
      |  m.n_matched, m.n_matched * 1000000 // m.n_test AS match_ppm,
      |  m.matched_cents
      |FROM p1 JOIN m ON m.ctx = p1.ctx ORDER BY p1.ctx""".stripMargin) { (s, d) =>
    val ev = Tables.load(s, d, "events")
      .select(col("event_type"),
        round(col("value") * 100, 0).cast("long").as("cents"),
        (col("user_id") % 4).as("ctx"),
        (md5(col("user_id").cast("string").cast("binary")) < "cc")
          .as("is_train"))
    val tr = ev.filter(col("is_train"))
      .groupBy("ctx", "event_type")
      .agg(sum(col("cents")).as("train_cents"))
    val byCtx = Window.partitionBy("ctx")
      .orderBy(col("train_cents").desc, col("event_type"))
    val p1 = tr.withColumn("rn", row_number().over(byCtx))
      .filter(col("rn") === 1)
      .select(col("ctx"), col("event_type").as("policy_action"),
        col("train_cents"))
    val m = ev.filter(!col("is_train"))
      .join(broadcast(p1.select("ctx", "policy_action")), "ctx")
      .groupBy("ctx")
      .agg(count(lit(1)).as("n_test"),
        count(when(col("event_type") === col("policy_action"), 1))
          .as("n_matched"),
        sum(when(col("event_type") === col("policy_action"), col("cents"))
          .otherwise(0L)).as("matched_cents"))
    p1.join(m, "ctx")
      .select(col("ctx"), col("policy_action"), col("train_cents"),
        col("n_test"), col("n_matched"),
        expr("n_matched * 1000000 div n_test").as("match_ppm"),
        col("matched_cents"))
      .orderBy("ctx")
  }

  /** Johnson–Lindenstrauss random sign projection of the embedding
    * table, 64 → 8 dims: y_j = Σ_i s_ij·x_i with s_ij = ±1 from an
    * md5 coin on ("rp:" + dim + ":" + j). Components enter as
    * floor(x·10¹²) BIGINT fixed point (one correctly-rounded IEEE
    * multiply — the hash-safe float lane), so the projected values
    * are exact integer sums; the per-vector norm-preservation readout
    * ||y||²/(K·||x||²) (≈ 1 in expectation — the JL guarantee) is one
    * truncating ppm division in the DECIMAL(38)/HUGEINT lane, with
    * the 1/K folded into the ppm multiplier (10⁶/8 = 125000 exactly)
    * so it stays ONE division and intermediates stay inside 38 digits
    * (a div-8-first form overflowed Spark's LONG-typed IntegralDivide).
    *
    * Shape at 100TB: the 512-entry sign matrix is a broadcast; the
    * component explode is narrow and both groupBys partial-aggregate
    * map-side. The fused-kernel alternative (a projection Expression
    * like FxDotProduct) removes the 64× explode rows once profiles
    * demand it.
    */
  val randomProjection: Q = Q(
    "q_random_projection",
    """WITH e AS (SELECT vec_id, embedding FROM embeddings),
      |pos AS (SELECT unnest(range(1, 65)) AS i),
      |comp AS (SELECT vec_id, i,
      |    CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1e12) AS BIGINT) AS fx
      |  FROM e, pos),
      |ks AS (SELECT unnest(range(0, 8)) AS j),
      |sg AS (SELECT i, j,
      |    CASE WHEN substring(md5('rp:' || CAST(i - 1 AS VARCHAR)
      |                            || ':' || CAST(j AS VARCHAR)), 1, 1) < '8'
      |         THEN 1 ELSE -1 END AS sgn
      |  FROM pos, ks),
      |y AS (SELECT c.vec_id, s.j,
      |    CAST(SUM(s.sgn * c.fx) AS BIGINT) AS y_fx
      |  FROM comp c JOIN sg s ON s.i = c.i GROUP BY 1, 2),
      |nx AS (SELECT vec_id,
      |    CAST(SUM(CAST(fx AS HUGEINT) * fx) AS HUGEINT) AS n2
      |  FROM comp GROUP BY 1),
      |ny AS (SELECT vec_id,
      |    CAST(SUM(CAST(y_fx AS HUGEINT) * y_fx) AS HUGEINT) AS n2
      |  FROM y GROUP BY 1),
      |r AS (SELECT nx.vec_id,
      |    CAST(ny.n2 * 125000 // nx.n2 AS BIGINT) AS ratio_ppm
      |  FROM nx JOIN ny ON ny.vec_id = nx.vec_id)
      |SELECT y.vec_id, y.j AS dim_out, y.y_fx, r.ratio_ppm
      |FROM y JOIN r ON r.vec_id = y.vec_id
      |ORDER BY y.vec_id, dim_out""".stripMargin) { (s, d) =>
    val comp = Tables.load(s, d, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("vec_id"), col("dim"),
        floor(col("v").cast("double") * lit(1e12)).cast("long").as("fx"))
    val signs = s.range(0, 64).toDF("dim")
      .crossJoin(s.range(0, 8).toDF("j"))
      .select(col("dim"), col("j"),
        when(substring(md5(concat(lit("rp:"), col("dim").cast("string"),
          lit(":"), col("j").cast("string")).cast("binary")), 1, 1) < "8",
          1L).otherwise(-1L).as("sgn"))
    val y = comp.join(broadcast(signs), "dim")
      .groupBy("vec_id", "j")
      .agg(sum(col("sgn") * col("fx")).as("y_fx"))
    val nx = comp.groupBy("vec_id")
      .agg(sum(expr("CAST(fx AS DECIMAL(38,0)) * fx")).as("nx2"))
    val ny = y.groupBy("vec_id")
      .agg(sum(expr("CAST(y_fx AS DECIMAL(38,0)) * y_fx")).as("ny2"))
    val r = nx.join(ny, "vec_id")
      .select(col("vec_id"),
        expr("CAST(ny2 * 125000 div nx2 AS BIGINT)").as("ratio_ppm"))
    y.join(r, "vec_id")
      .select(col("vec_id"), col("j").as("dim_out"), col("y_fx"),
        col("ratio_ppm"))
      .orderBy("vec_id", "dim_out")
  }

  /** Weighted single-source shortest paths over the co-purchase graph
    * (Bellman-Ford, 4 bounded relaxation rounds — the horizon is part
    * of the operator contract, like q_graph_bfs's hop bound): edge
    * weight 10⁶ div support (strong ties are cheap), source = the
    * max-degree node (smallest-id tiebreak) derived in-plan. Exact
    * integer distances; MIN is order-free.
    *
    * Shape at 100TB: the a-priori-pruned merge-hinted self-join builds
    * the edge list ONCE and persists it pre-partitioned on the source
    * endpoint, so every round's relax join reuses the cached
    * partitioning; the distance frontier is carried by
    * [[graft.ops.Iterate]] and joins back as an explicit broadcast
    * while node-sized (shuffle once it isn't). The ORACLE unrolls the
    * same four rounds as MATERIALIZED CTEs (per-round inlining
    * otherwise doubles the plan per round).
    */
  val graphSssp: Q = Q(
    "q_graph_sssp",
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS (SELECT a.l_partkey AS u, b.l_partkey AS v,
      |        1000000 // COUNT(*) AS w
      |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      |        AND a.l_partkey < b.l_partkey
      |      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |eu AS MATERIALIZED (SELECT u, v, w FROM e
      |  UNION ALL SELECT v, u, w FROM e),
      |deg AS (SELECT u, COUNT(*) AS deg FROM eu GROUP BY 1),
      |d0 AS MATERIALIZED (SELECT u AS node, CAST(0 AS BIGINT) AS dist
      |  FROM deg ORDER BY deg DESC, u LIMIT 1),
      |d1 AS MATERIALIZED (SELECT node, MIN(dist) AS dist FROM (
      |  SELECT node, dist FROM d0
      |  UNION ALL SELECT eu.v, d0.dist + eu.w FROM d0
      |    JOIN eu ON eu.u = d0.node) GROUP BY 1),
      |d2 AS MATERIALIZED (SELECT node, MIN(dist) AS dist FROM (
      |  SELECT node, dist FROM d1
      |  UNION ALL SELECT eu.v, d1.dist + eu.w FROM d1
      |    JOIN eu ON eu.u = d1.node) GROUP BY 1),
      |d3 AS MATERIALIZED (SELECT node, MIN(dist) AS dist FROM (
      |  SELECT node, dist FROM d2
      |  UNION ALL SELECT eu.v, d2.dist + eu.w FROM d2
      |    JOIN eu ON eu.u = d2.node) GROUP BY 1),
      |d4 AS (SELECT node, MIN(dist) AS dist FROM (
      |  SELECT node, dist FROM d3
      |  UNION ALL SELECT eu.v, d3.dist + eu.w FROM d3
      |    JOIN eu ON eu.u = d3.node) GROUP BY 1)
      |SELECT node, dist FROM d4 ORDER BY node""".stripMargin) { (s, d) =>
    val np = Session.partitions(s)
    val e = GraphShared.pairs(s, d)
      .select(col("u"), col("v"), expr("1000000 div n").as("w"))
    val eu = e.select("u", "v", "w")
      .unionAll(e.select(col("v").as("u"), col("u").as("v"), col("w")))
      .repartition(np, col("u"))
      .persist()
    val deg = eu.groupBy("u").agg(count(lit(1)).as("deg"))
    val source = deg.orderBy(col("deg").desc, col("u")).limit(1)
      .select(col("u").as("node"), lit(0L).as("dist"))
    val (dist, _) = Iterate(source, 4) { dist =>
      val relaxed = eu
        .join(broadcast(dist.toDF("u", "du")), "u")
        .select(col("v").as("node"), (col("du") + col("w")).as("dist"))
      dist.unionAll(relaxed)
        .groupBy("node").agg(min(col("dist")).as("dist"))
    }
    // No in-body unpersist: the rounds run in the consumer's action, so
    // the edge cache must stay marked through it (the bench harness
    // reclaims per-query persists between queries).
    dist.orderBy("node")
  }

  /** Probabilistic record linkage (the Fellegi–Sunter 1969 decision
    * structure with fixed integer log-odds weights): a deterministic
    * "dirty" copy of the customer table — case-mangled names
    * (key%3=0), names lost to 'unknown' (key%11=0), segments nulled
    * (key%5=0), balances drifted by key%7 cents — is blocked on the
    * nation key and scored field-by-field: agreement/disagreement
    * points per field, NULL comparisons contribute zero (the
    * missing-at-random convention), and the total decides
    * match (>= 50) vs possible (>= 40, the clerical-review band).
    * Everything below the band is suppressed, exactly like a
    * production linkage emits candidate pairs, not the cross product.
    *
    * Shape at 100TB: the pair space is the BLOCK join (equi-join on
    * nation), never all-pairs; scoring is pure map-side integer
    * arithmetic inside the join's projection, and the emitted set is
    * support-filtered before any sort.
    */
  val recordLinkage: Q = Q(
    "q_record_linkage",
    """WITH a AS (SELECT c_custkey, c_nationkey, lower(c_name) AS name_a,
      |    c_mktsegment AS seg_a,
      |    CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS cents_a
      |  FROM customer),
      |b AS (SELECT c_custkey + 1000000 AS b_key, c_nationkey,
      |    CASE WHEN c_custkey % 11 = 0 THEN 'unknown'
      |         WHEN c_custkey % 3 = 0 THEN lower(upper(c_name))
      |         ELSE lower(c_name) END AS name_b,
      |    CASE WHEN c_custkey % 5 = 0 THEN NULL
      |         ELSE c_mktsegment END AS seg_b,
      |    CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) + c_custkey % 7
      |      AS cents_b
      |  FROM customer),
      |sc AS (SELECT a.c_custkey AS a_custkey, b.b_key,
      |    CASE WHEN a.name_a = b.name_b THEN 40 ELSE -15 END AS name_pts,
      |    CASE WHEN b.seg_b IS NULL THEN 0
      |         WHEN a.seg_a = b.seg_b THEN 10 ELSE -5 END AS seg_pts,
      |    CASE WHEN ABS(a.cents_a - b.cents_b) <= 3 THEN 5 ELSE -5 END
      |      AS bal_pts
      |  FROM a JOIN b ON a.c_nationkey = b.c_nationkey)
      |SELECT a_custkey, b_key, name_pts, seg_pts, bal_pts,
      |  name_pts + seg_pts + bal_pts AS score,
      |  CASE WHEN name_pts + seg_pts + bal_pts >= 50 THEN 'match'
      |       ELSE 'possible' END AS verdict
      |FROM sc WHERE name_pts + seg_pts + bal_pts >= 40
      |ORDER BY a_custkey, b_key""".stripMargin) { (s, d) =>
    val cust = Tables.load(s, d, "customer")
    val a = cust.select(col("c_custkey"), col("c_nationkey"),
      lower(col("c_name")).as("name_a"), col("c_mktsegment").as("seg_a"),
      round(col("c_acctbal") * 100, 0).cast("long").as("cents_a"))
    val b = cust.select(
      (col("c_custkey") + 1000000L).as("b_key"),
      col("c_nationkey").as("nat_b"),
      when(col("c_custkey") % 11 === 0, lit("unknown"))
        .when(col("c_custkey") % 3 === 0, lower(upper(col("c_name"))))
        .otherwise(lower(col("c_name"))).as("name_b"),
      when(col("c_custkey") % 5 === 0, lit(null).cast("string"))
        .otherwise(col("c_mktsegment")).as("seg_b"),
      (round(col("c_acctbal") * 100, 0).cast("long")
        + col("c_custkey") % 7).as("cents_b"))
    a.join(b, col("c_nationkey") === col("nat_b"))
      .select(col("c_custkey").as("a_custkey"), col("b_key"),
        when(col("name_a") === col("name_b"), 40).otherwise(-15)
          .as("name_pts"),
        when(col("seg_b").isNull, 0)
          .when(col("seg_a") === col("seg_b"), 10).otherwise(-5)
          .as("seg_pts"),
        when(abs(col("cents_a") - col("cents_b")) <= 3, 5).otherwise(-5)
          .as("bal_pts"))
      .withColumn("score", col("name_pts") + col("seg_pts") + col("bal_pts"))
      .filter(col("score") >= 40)
      .withColumn("verdict",
        when(col("score") >= 50, "match").otherwise("possible"))
      .orderBy("a_custkey", "b_key")
  }

  /** STL-lite seasonal-trend decomposition of daily order revenue,
    * entirely in the exact-integer lane: trend = centered 7-day RANGE
    * sum (full windows only — calendar gaps and edges carry no trend
    * rather than a biased one), detrended = 7·x − Σ₇ (multiplied
    * through, never divided — the q_anomaly_cusum trick), seasonal =
    * per-day-of-week rank-SELECTED median of the detrended values
    * (the r8b order-statistic lane: pick the (n+1)//2-th element by
    * ROW_NUMBER — no interpolation formula to disagree on), remainder
    * = detrended − seasonal. The ×7 scale rides every output column,
    * stated in the names.
    *
    * Shape at 100TB: the fact table aggregates once to the per-day
    * series; every window after that runs on calendar-bounded rows
    * ([[graft.ops.BoundedWindow]] — days don't scale with volume) and
    * the 7-row seasonal table broadcasts back.
    */
  val tsStl: Q = Q(
    "q_ts_stl",
    """WITH d AS (SELECT epoch_ms(o_orderdate) // 86400000 AS day,
      |    CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY 1),
      |t AS (SELECT day, cents,
      |    CAST(SUM(cents) OVER w AS BIGINT) AS sum7,
      |    COUNT(*) OVER w AS n7
      |  FROM d WINDOW w AS (ORDER BY day
      |    RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |dt AS (SELECT day, cents, sum7, 7 * cents - sum7 AS detr_x7,
      |    day % 7 AS dow
      |  FROM t WHERE n7 = 7),
      |rk AS (SELECT dow, detr_x7,
      |    ROW_NUMBER() OVER (PARTITION BY dow ORDER BY detr_x7, day) AS rn,
      |    COUNT(*) OVER (PARTITION BY dow) AS cnt
      |  FROM dt),
      |md AS (SELECT dow,
      |    MAX(CASE WHEN rn = (cnt + 1) // 2 THEN detr_x7 END) AS seas_x7
      |  FROM rk GROUP BY 1)
      |SELECT dt.day, dt.cents, dt.sum7, dt.detr_x7, md.seas_x7,
      |  dt.detr_x7 - md.seas_x7 AS resid_x7
      |FROM dt JOIN md ON md.dow = dt.dow
      |ORDER BY day""".stripMargin) { (s, d) =>
    val daily = Tables.load(s, d, "orders")
      .groupBy(graft.functions.Exact.bucket(
        graft.functions.Exact.ms(col("o_orderdate")), 86400000L).as("day"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
    val w = graft.ops.BoundedWindow.single(col("day")).rangeBetween(-3, 3)
    val dt = daily
      .withColumn("sum7", sum(col("cents")).over(w))
      .withColumn("n7", count(lit(1)).over(w))
      .filter(col("n7") === 7)
      .select(col("day"), col("cents"), col("sum7"),
        (lit(7) * col("cents") - col("sum7")).as("detr_x7"),
        (col("day") % 7).as("dow"))
    val byDow = Window.partitionBy("dow").orderBy("detr_x7", "day")
    val md = dt
      .withColumn("rn", row_number().over(byDow))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("dow")))
      .groupBy("dow")
      .agg(max(when(col("rn") === expr("(cnt + 1) div 2"), col("detr_x7")))
        .as("seas_x7"))
    dt.join(broadcast(md), "dow")
      .select(col("day"), col("cents"), col("sum7"), col("detr_x7"),
        col("seas_x7"), (col("detr_x7") - col("seas_x7")).as("resid_x7"))
      .orderBy("day")
  }

  /** Markov-chain channel attribution by removal effect (Anderl et al.
    * 2014's construction, bounded to a 6-step horizon so the absorbing
    * probabilities are a FINITE integer recursion instead of a linear
    * solve): journeys are each user's events up to their first
    * purchase, the first-order chain is start/channel → channel/conv/
    * null transition counts, and conversion probability is iterated in
    * truncating ppm —
    *   P_k(s) = (n_conv(s)·10⁶ + Σ_t n(s→t)·P_{k-1}(t)) div total(s)
    * — which both engines replay bit-identically. A channel's removal
    * effect redirects transitions INTO it to null (totals unchanged);
    * monotonicity of the recursion makes every effect >= 0, and shares
    * normalize the effects to ppm.
    *
    * Shape at 100TB: transition counting is one user-keyed window +
    * one aggregate; the recursion runs driver-side on the collected
    * states×states matrix (k-sized, the PQ-codebook precedent — the
    * chain has channel-dictionary cardinality, not data cardinality).
    * The ORACLE unrolls the same recursion, one linear CTE per round
    * per scenario (the q_holt_linear one-CTE-per-step lesson).
    */
  val attributionMarkov: Q = {
    val chans = Seq("click", "error", "signup", "view")
    val H = 6
    def roundsSql(sc: String, removed: Option[String]): String = {
      val notIn = ("'conv'" :: "'null'" :: removed.map("'" + _ + "'").toList)
        .mkString(", ")
      val r1 =
        s"""p1_$sc AS (SELECT from_state,
           |    CAST(n_conv * 1000000 // total AS BIGINT) AS p
           |  FROM fr)""".stripMargin
      val rest = (2 to H).map { k =>
        s"""p${k}_$sc AS (SELECT f.from_state,
           |    CAST((f.n_conv * 1000000
           |          + COALESCE(SUM(CAST(t.n AS HUGEINT) * p.p), 0))
           |         // f.total AS BIGINT) AS p
           |  FROM fr f
           |  LEFT JOIN tr t ON t.from_state = f.from_state
           |    AND t.to_state NOT IN ($notIn)
           |  LEFT JOIN p${k - 1}_$sc p ON p.from_state = t.to_state
           |  GROUP BY f.from_state, f.n_conv, f.total)""".stripMargin
      }
      (r1 +: rest).mkString(",\n")
    }
    val scenarios = roundsSql("full", None) + ",\n" +
      chans.map(c => roundsSql(c, Some(c))).mkString(",\n")
    val reUnion = chans.map { c =>
      s"""SELECT '$c' AS channel, f.p AS p_full_ppm, r.p AS p_removed_ppm,
         |  f.p - r.p AS re_ppm
         |FROM (SELECT p FROM p${H}_full WHERE from_state = 'start') f,
         |     (SELECT p FROM p${H}_$c WHERE from_state = 'start') r"""
        .stripMargin
    }.mkString("\nUNION ALL\n")
    Q(
      "q_attribution_markov",
      s"""WITH ev AS (SELECT user_id, event_type,
         |    ROW_NUMBER() OVER (PARTITION BY user_id
         |                       ORDER BY epoch_ms(ts), event_id) AS rn
         |  FROM events),
         |fp AS (SELECT user_id,
         |    MIN(CASE WHEN event_type = 'purchase' THEN rn END) AS prn,
         |    MAX(rn) AS mrn
         |  FROM ev GROUP BY 1),
         |ke AS (SELECT e.user_id, e.event_type, e.rn
         |  FROM ev e JOIN fp ON fp.user_id = e.user_id
         |  WHERE e.rn <= COALESCE(fp.prn, fp.mrn)),
         |tr AS (SELECT from_state,
         |    CASE to_raw WHEN 'purchase' THEN 'conv' ELSE to_raw END
         |      AS to_state,
         |    CAST(COUNT(*) AS BIGINT) AS n
         |  FROM (
         |    SELECT event_type AS from_state,
         |      COALESCE(LEAD(event_type) OVER (PARTITION BY user_id
         |                                      ORDER BY rn), 'null') AS to_raw
         |    FROM ke
         |    UNION ALL
         |    SELECT 'start', event_type FROM ke WHERE rn = 1) x
         |  WHERE from_state <> 'purchase'
         |  GROUP BY 1, 2),
         |fr AS (SELECT from_state, CAST(SUM(n) AS BIGINT) AS total,
         |    CAST(COALESCE(SUM(CASE WHEN to_state = 'conv' THEN n END), 0)
         |      AS BIGINT) AS n_conv
         |  FROM tr GROUP BY 1),
         |$scenarios,
         |re AS ($reUnion),
         |tot AS (SELECT CAST(SUM(re_ppm) AS BIGINT) AS s FROM re)
         |SELECT re.channel, re.p_full_ppm, re.p_removed_ppm, re.re_ppm,
         |  CASE WHEN tot.s > 0
         |       THEN CAST(re.re_ppm * 1000000 // tot.s AS BIGINT)
         |  END AS share_ppm
         |FROM re, tot ORDER BY channel""".stripMargin) { (s, d) =>
      import graft.functions.Exact.ms
      val byUserTs = Window.partitionBy("user_id").orderBy("ms", "event_id")
      val ev = Tables.load(s, d, "events")
        .select(col("user_id"), col("event_type"),
          ms(col("ts")).as("ms"), col("event_id"))
        .withColumn("rn", row_number().over(byUserTs))
      val fp = ev.groupBy("user_id").agg(
        min(when(col("event_type") === "purchase", col("rn"))).as("prn"),
        max(col("rn")).as("mrn"))
      val ke = ev.join(fp, "user_id")
        .filter(col("rn") <= coalesce(col("prn"), col("mrn")))
        .select("user_id", "event_type", "rn")
      val byUser = Window.partitionBy("user_id").orderBy("rn")
      val trans = ke
        .select(col("event_type").as("from_state"),
          coalesce(lead(col("event_type"), 1).over(byUser), lit("null"))
            .as("to_raw"))
        .filter(col("from_state") =!= "purchase")
        .unionAll(ke.filter(col("rn") === 1)
          .select(lit("start").as("from_state"),
            col("event_type").as("to_raw")))
        .select(col("from_state"),
          when(col("to_raw") === "purchase", "conv").otherwise(col("to_raw"))
            .as("to_state"))
        .groupBy("from_state", "to_state").agg(count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      // Driver-side bounded recursion over the channel-dictionary-sized
      // matrix — exactly the oracle's unrolled CTE chain.
      val froms = trans.keys.map(_._1).toSeq.distinct
      val total = froms.map(f =>
        f -> trans.collect { case ((`f`, _), n) => n }.sum).toMap
      val nConv = froms.map(f => f -> trans.getOrElse((f, "conv"), 0L)).toMap
      def horizon(removed: Option[String]): Map[String, Long] = {
        var p: Map[String, Long] = froms.map(_ -> 0L).toMap
        (1 to H).foreach { _ =>
          p = froms.map { f =>
            val flow: BigInt = trans.collect {
              case ((`f`, t), n)
                  if t != "conv" && t != "null" && !removed.contains(t) =>
                BigInt(n) * BigInt(p.getOrElse(t, 0L))
            }.sum
            f -> ((BigInt(nConv(f)) * 1000000 + flow) / total(f)).toLong
          }.toMap
        }
        p
      }
      val pFull = horizon(None).getOrElse("start", 0L)
      val re = chans.map { c =>
        val pr = horizon(Some(c)).getOrElse("start", 0L)
        (c, pFull, pr, pFull - pr)
      }
      val tot = re.map(_._4).sum
      val rows = re.map { case (c, pf, pr, e) =>
        (c, pf, pr, e,
          if (tot > 0) Some(e * 1000000L / tot) else Option.empty[Long])
      }
      import s.implicits._
      rows.toDF("channel", "p_full_ppm", "p_removed_ppm", "re_ppm",
        "share_ppm").orderBy("channel")
    }
  }

  val all: Seq[Q] =
    Seq(textCollocations, pathMining, itemcfRecs, policyReplay,
      randomProjection, graphSssp, recordLinkage, tsStl, attributionMarkov)
}
