package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Session, Tables}
import graft.text.Text

/** Wave 18 — pipeline-infrastructure operators: TextRank-style
  * extractive chunk selection (context compression for LLM corpora)
  * and the incremental-aggregation maintenance proof (merge ≡ rebuild,
  * the contract behind every materialized view at scale).
  */
object Wave18 {

  private val TrRounds = 4

  /** TextRank-lite extractive chunk ranking (Mihalcea & Tarau 2004,
    * integer form): each document splits into 8-token chunks, chunks
    * link when they share >= 2 distinct tokens (edge weight = overlap
    * count), and 4 rounds of the weighted PageRank recursion
    *   pr'(c) = 150000 + 85·(Σ_j pr(j)·w_jc div wdeg_j) div 100
    * run in exact ppm — every division truncating, so the ranking
    * replays bit-for-bit. The top-2 chunks per doc are the extractive
    * summary; selecting them is how a curation pipeline compresses
    * context before packing.
    *
    * Shape at 100TB: everything is keyed by (doc, chunk) — the chunk
    * graph never leaves its document, so the similarity self-join and
    * all 4 rounds shuffle-partition by doc and parallelize perfectly;
    * rounds unroll INSIDE one plan (each references the previous
    * exactly once — no checkpoints needed); the final top-2 is a
    * doc-partitioned rank window.
    */
  val textrankChunks: Q = {
    val rounds = (1 to TrRounds).map { i =>
      s"""p$i AS (SELECT c.doc_id, c.g,
         |    150000 + (85 * COALESCE(f.fl, 0)) // 100 AS pr
         |  FROM ch c LEFT JOIN (
         |    SELECT e.doc_id, e.cj AS g,
         |      CAST(SUM(p.pr * e.w // wd.wdeg) AS BIGINT) AS fl
         |    FROM ed e
         |    JOIN p${i - 1} p ON p.doc_id = e.doc_id AND p.g = e.ci
         |    JOIN wdeg wd ON wd.doc_id = e.doc_id AND wd.g = e.ci
         |    GROUP BY 1, 2) f
         |  ON f.doc_id = c.doc_id AND f.g = c.g)""".stripMargin
    }.mkString(",\n")
    Q(
      "q_textrank_chunks",
      s"""WITH tk AS (SELECT doc_id, ${Text.tokensSql("text")} AS toks
         |  FROM documents),
         |ch AS (SELECT doc_id, g,
         |    array_to_string(toks[g * 8 + 1 : g * 8 + 8], ' ') AS chunk
         |  FROM tk, (SELECT unnest(range(0, (SELECT
         |      COALESCE(MAX((len(toks) + 7) // 8), 0) FROM tk))) AS g) gs
         |  WHERE g * 8 < len(toks)),
         |ct AS (SELECT DISTINCT doc_id, g, tok FROM (
         |  SELECT doc_id, g, unnest(string_split(chunk, ' ')) AS tok
         |  FROM ch)),
         |e0 AS (SELECT a.doc_id, a.g AS ci, b.g AS cj,
         |    CAST(COUNT(*) AS BIGINT) AS w
         |  FROM ct a JOIN ct b ON a.doc_id = b.doc_id AND a.tok = b.tok
         |    AND a.g < b.g
         |  GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2),
         |ed AS (SELECT doc_id, ci, cj, w FROM e0
         |  UNION ALL SELECT doc_id, cj, ci, w FROM e0),
         |wdeg AS (SELECT doc_id, ci AS g, CAST(SUM(w) AS BIGINT) AS wdeg
         |  FROM ed GROUP BY 1, 2),
         |p0 AS (SELECT doc_id, g, CAST(1000000 AS BIGINT) AS pr FROM ch),
         |$rounds,
         |rk AS (SELECT p.doc_id, p.g, p.pr, ch.chunk,
         |    ROW_NUMBER() OVER (PARTITION BY p.doc_id
         |      ORDER BY p.pr DESC, p.g) AS rnk
         |  FROM p$TrRounds p JOIN ch ON ch.doc_id = p.doc_id
         |    AND ch.g = p.g)
         |SELECT doc_id, rnk, g AS chunk_id, pr AS pr_ppm,
         |  md5(chunk) AS chunk_fp
         |FROM rk WHERE rnk <= 2 ORDER BY doc_id, rnk""".stripMargin) {
      (s, d) =>
      val np = Session.partitions(s)
      val tk = Tables.load(s, d, "documents").repartition(np)
        .select(col("doc_id"), graft.text.Text.tokens(col("text")).as("toks"))
      val ch = tk
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(0),
            expr("greatest((size(toks) + 7) div 8 - 1, 0)"))).as("g"))
        .filter(col("g") * 8 < size(col("toks")))
        .select(col("doc_id"), col("g").cast("long").as("g"),
          array_join(slice(col("toks"), col("g") * 8 + 1, lit(8)), " ")
            .as("chunk"))
      val ct = ch
        .select(col("doc_id"), col("g"),
          explode(split(col("chunk"), " ")).as("tok"))
        .distinct()
      val e0 = ct.toDF("doc_id", "ci", "tok")
        .join(ct.toDF("doc_id", "cj", "tok"), Seq("doc_id", "tok"))
        .filter(col("ci") < col("cj"))
        .groupBy("doc_id", "ci", "cj").agg(count(lit(1)).as("w"))
        .filter(col("w") >= 2)
      // The similarity self-join sits in EVERY unrolled round's
      // lineage — cache the symmetric edge list so it builds once, not
      // once per round. r14 optimization (guide §2.4 — remove shuffles
      // outright): wdeg is a FUNCTION of the edge list, so it is folded
      // into the persisted edge cache ONCE instead of joined back in
      // every round (was: 3 joins/round — pr, wdeg, and a chunk-frame
      // completion left join; now: 1 join + 1 aggregate per round).
      // The per-round completion join is unnecessary because the edge
      // list is SYMMETRIC: every chunk with any edge has in-edges, so
      // the groupBy(cj) emits every endpoint chunk each round, and a
      // chunk with NO edges keeps pr = 150000 + 85*0 = 150000 in every
      // round of the original recursion — it is re-attached once at
      // the end via coalesce(pr, 150000). Output bit-identical (same
      // truncating-integer arithmetic per edge), gated at both SFs.
      val ed = e0.unionAll(e0.select(col("doc_id"), col("cj").as("ci"),
        col("ci").as("cj"), col("w")))
        .repartition(np, col("doc_id"))
        .persist()
      val wdeg = ed.groupBy(col("doc_id"), col("ci").as("g"))
        .agg(sum("w").as("wdeg"))
        .localCheckpoint(false)
      // one-time fold of the per-source weighted degree onto each edge,
      // pre-partitioned on the per-round join key (doc_id, ci)
      val edW = ed
        .join(wdeg.toDF("doc_id", "ci", "wdeg"), Seq("doc_id", "ci"))
        .repartition(np, col("doc_id"), col("ci"))
        .persist()
      // r15 (ADVICE): ed is only read to build wdeg and edW — force
      // edW's (and, through the join, wdeg's) materialization once,
      // then drop ed's cache so the rounds don't carry TWO edge-sized
      // residencies. The count is work the first action would do
      // anyway; everything downstream reads edW/wdeg only.
      edW.count()
      ed.unpersist(false)
      var pr = wdeg.select(col("doc_id"), col("g"), lit(1000000L).as("pr"))
      for (_ <- 1 to TrRounds) {
        pr = edW
          .join(pr.toDF("doc_id", "ci", "pru"), Seq("doc_id", "ci"))
          .groupBy(col("doc_id"), col("cj").as("g"))
          .agg(expr("CAST(SUM(pru * w div wdeg) AS BIGINT)").as("fl"))
          .select(col("doc_id"), col("g"),
            (lit(150000L) + expr("(85 * fl) div 100")).as("pr"))
      }
      val byDoc = Window.partitionBy("doc_id")
        .orderBy(col("pr").desc, col("g").asc)
      ch.join(pr, Seq("doc_id", "g"), "left")
        // The 150000 fallback is the edge-free chunk's fixed point and
        // DEPENDS ON TrRounds >= 1: after round 1 an edgeless chunk's
        // pr is 150000 + 85*0 forever; at 0 rounds the recursion's
        // value would be the 1000000 seed instead. If TrRounds ever
        // becomes data-dependent or 0, derive this constant from the
        // recursion's base term rather than editing it by hand.
        .select(col("doc_id"), col("g"),
          coalesce(col("pr"), lit(150000L)).as("pr"), col("chunk"))
        .withColumn("rnk", row_number().over(byDoc))
        .filter(col("rnk") <= 2)
        .select(col("doc_id"), col("rnk").cast("long").as("rnk"),
          col("g").as("chunk_id"), col("pr").as("pr_ppm"),
          md5(col("chunk")).as("chunk_fp"))
        .orderBy("doc_id", "rnk")
    }
  }

  /** Incremental aggregate maintenance, proven in-hash: the orders
    * fact splits into a ~94% base and a ~6% late-arriving delta (md5
    * arms); the per-customer aggregate is maintained by MERGING the
    * delta's partial aggregate into the base's (count/sum add,
    * min/max fold) and the output carries BOTH the merged and the
    * from-scratch rebuilt statistics plus their equality — the
    * algebraic contract (commutative-monoid partial aggregation) that
    * makes materialized views, partial shuffles, and sketch merges
    * correct at any scale, stated as a query result.
    *
    * Shape at 100TB: two partial aggregates (each one shuffle, both
    * map-side combined) + one key-aligned merge join — the rebuild
    * branch exists only as the in-hash witness; real pipelines run
    * the merge side alone, touching only delta-sized state.
    */
  val incrementalAgg: Q = Q(
    "q_incremental_agg",
    """WITH o AS (SELECT o_custkey, o_orderkey,
      |    CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
      |    epoch_ms(o_orderdate) // 86400000 AS day,
      |    CASE WHEN md5(CAST(o_orderkey AS VARCHAR)) < '1' THEN 1 ELSE 0 END
      |      AS is_delta
      |  FROM orders),
      |base AS (SELECT o_custkey, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT)
      |    AS s, MIN(day) AS mn, MAX(day) AS mx
      |  FROM o WHERE is_delta = 0 GROUP BY 1),
      |delta AS (SELECT o_custkey, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT)
      |    AS s, MIN(day) AS mn, MAX(day) AS mx
      |  FROM o WHERE is_delta = 1 GROUP BY 1),
      |merged AS (SELECT COALESCE(b.o_custkey, d.o_custkey) AS o_custkey,
      |    COALESCE(b.n, 0) + COALESCE(d.n, 0) AS n,
      |    COALESCE(b.s, 0) + COALESCE(d.s, 0) AS s,
      |    LEAST(COALESCE(b.mn, 9223372036854775807),
      |          COALESCE(d.mn, 9223372036854775807)) AS mn,
      |    GREATEST(COALESCE(b.mx, -9223372036854775808),
      |             COALESCE(d.mx, -9223372036854775808)) AS mx
      |  FROM base b FULL JOIN delta d ON d.o_custkey = b.o_custkey),
      |rebuilt AS (SELECT o_custkey, COUNT(*) AS n,
      |    CAST(SUM(cents) AS BIGINT) AS s, MIN(day) AS mn, MAX(day) AS mx
      |  FROM o GROUP BY 1)
      |SELECT m.o_custkey, CAST(m.n AS BIGINT) AS n, m.s,
      |  CAST(m.mn AS BIGINT) AS mn, CAST(m.mx AS BIGINT) AS mx,
      |  CAST(r.n AS BIGINT) AS r_n, r.s AS r_s,
      |  CAST(r.mn AS BIGINT) AS r_mn, CAST(r.mx AS BIGINT) AS r_mx,
      |  CAST(CASE WHEN m.n = r.n AND m.s = r.s AND m.mn = r.mn
      |    AND m.mx = r.mx THEN 1 ELSE 0 END AS BIGINT) AS merge_ok
      |FROM merged m JOIN rebuilt r ON r.o_custkey = m.o_custkey
      |ORDER BY m.o_custkey""".stripMargin) { (s, d) =>
    import graft.functions.Exact
    val np = Session.partitions(s)
    val o = Tables.load(s, d, "orders").repartition(np)
      .select(col("o_custkey"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"),
        Exact.bucket(Exact.ms(col("o_orderdate")), 86400000L).as("day"),
        (md5(col("o_orderkey").cast("string")) < "1").cast("long")
          .as("is_delta"))
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("o_custkey").agg(count(lit(1)).as("n"),
        sum("cents").as("s"), min("day").as("mn"), max("day").as("mx"))
    val base = agg(o.filter(col("is_delta") === 0))
    val delta = agg(o.filter(col("is_delta") === 1))
    val merged = base.toDF("o_custkey", "b_n", "b_s", "b_mn", "b_mx")
      .join(delta.toDF("o_custkey", "d_n", "d_s", "d_mn", "d_mx"),
        Seq("o_custkey"), "full")
      .select(col("o_custkey"),
        (coalesce(col("b_n"), lit(0L)) + coalesce(col("d_n"), lit(0L)))
          .as("n"),
        (coalesce(col("b_s"), lit(0L)) + coalesce(col("d_s"), lit(0L)))
          .as("s"),
        least(coalesce(col("b_mn"), lit(Long.MaxValue)),
          coalesce(col("d_mn"), lit(Long.MaxValue))).as("mn"),
        greatest(coalesce(col("b_mx"), lit(Long.MinValue)),
          coalesce(col("d_mx"), lit(Long.MinValue))).as("mx"))
    val rebuilt = agg(o).toDF("o_custkey", "r_n", "r_s", "r_mn", "r_mx")
    merged.join(rebuilt, "o_custkey")
      .select(col("o_custkey"), col("n"), col("s"), col("mn"), col("mx"),
        col("r_n"), col("r_s"), col("r_mn"), col("r_mx"),
        when(col("n") === col("r_n") && col("s") === col("r_s")
          && col("mn") === col("r_mn") && col("mx") === col("r_mx"), 1L)
          .otherwise(0L).as("merge_ok"))
      .orderBy("o_custkey")
  }

  val all: Seq[Q] = Seq(textrankChunks, incrementalAgg)
}
