package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.{Q, Session, Tables}
import graft.text.Text

/** Wave 65 — prefix-filtered EXACT set-similarity join (PPJoin-lite:
  * Chaudhuri/Ganti/Kaushik ICDE'06 SSJoin; Xiao et al. WWW'08): the
  * third candidate-generation strategy in the dedup family, next to
  * the all-pairs baseline (q_dedup_ngram_jaccard) and MinHash-LSH
  * banding (q_dedup_minhash). Unlike banding it is EXACT — zero false
  * negatives by the prefix-filter theorem — while still never
  * comparing all pairs.
  */
object Wave65 {

  /** Jaccard threshold 1/2 (exact binary fraction — the keep test is
    * the cross-multiplied rational `2·common >= n_a + n_b − common`,
    * never a truncated ppm compare). */
  private val TNumer = 1
  private val TDenom = 2

  /** q_dedup_prefixfilter: order every doc's 3-gram shingles by global
    * rarity (df asc, shingle asc — one deterministic total order in
    * both engines), keep each doc's first p = n − ceil(t·n) + 1
    * shingles as its PREFIX, and generate candidates only from pairs
    * sharing a prefix shingle. The prefix-filter theorem: two sets
    * with Jaccard >= t must overlap in at least ceil(t·n) elements of
    * either set, so skipping a set's last ceil(t·n) − 1 elements can
    * never skip ALL shared elements — every qualifying pair survives
    * (Wave65Spec proves completeness against a brute-force recompute).
    * Candidates verify with the exact intersection and the
    * cross-multiplied rational threshold; containment_ppm
    * (|A∩B| / min(|A|,|B|)) rides along as the quote-inclusion
    * reading.
    *
    * Replica-group collapse (r13 VERDICT #3): Jaccard depends ONLY on
    * the shingle set, so docs with identical sets are grouped by an
    * md5 fingerprint of the canonical (sorted) set FIRST, the whole
    * prefix-filter pipeline runs on one representative per group, and
    * qualifying rep pairs expand back to member pairs by group
    * arithmetic — intra-group pairs are emitted directly (jaccard =
    * containment = 1e6 by definition). This is exact for ANY corpus,
    * and on a duplicate-saturated one (the sf1 slice plants 10 copies
    * of every doc) it collapses the quadratic candidate/verify work by
    * the duplication factor squared while the output stays
    * bit-identical to the naive oracle.
    *
    * Shape at 100TB: the fingerprint is one map-side md5 + a doc-keyed
    * aggregate; df is one map-side-combined aggregate over distinct
    * docs; the rank window partitions by doc_id; pair generation
    * touches only PREFIX rows of REPRESENTATIVES — rare-first ordering
    * makes hot boilerplate shingles land in nobody's prefix, so the
    * quadratic term is bounded by the rare-shingle df distribution of
    * the deduplicated corpus; verification is a grouped COUNT join
    * semi-pruned to the candidate DOC set and then to the candidate
    * PAIRS (hash aggregation inside codegen — 2x over a per-pair
    * array_intersect, measured at sf0.1); expansion is two group-
    * member equi-joins whose output is the true pair population the
    * query must enumerate anyway. No broadcast hints anywhere: every
    * frame here scales with the corpus.
    */
  val dedupPrefixFilter: Q = Q(
    "q_dedup_prefixfilter",
    s"""WITH t AS (SELECT doc_id,
       |    ${Text.tokensSql("text")} AS toks
       |  FROM documents),
       |pos AS (SELECT unnest(range(1,
       |  (SELECT COALESCE(MAX(len(toks)), 0) + 1 FROM t))) AS i),
       |sh AS (SELECT DISTINCT doc_id,
       |    toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
       |  FROM t, pos WHERE i <= len(toks) - 2),
       |df AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |rk AS (SELECT s.doc_id, s.shingle, z.n,
       |    ROW_NUMBER() OVER (PARTITION BY s.doc_id
       |      ORDER BY d.df, s.shingle) AS rk
       |  FROM sh s JOIN df d USING (shingle) JOIN sz z USING (doc_id)),
       |pre AS (SELECT doc_id, shingle FROM rk
       |  WHERE rk <= n - ($TNumer * n + $TDenom - 1) // $TDenom + 1),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM pre a JOIN pre b
       |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
       |cm AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS common
       |  FROM cand c
       |  JOIN sh x ON x.doc_id = c.doc_a
       |  JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
       |  GROUP BY 1, 2)
       |SELECT cm.doc_a, cm.doc_b, cm.common,
       |  sa.n AS n_a, sb.n AS n_b,
       |  cm.common * 1000000 // (sa.n + sb.n - cm.common) AS jaccard_ppm,
       |  cm.common * 1000000 // LEAST(sa.n, sb.n) AS containment_ppm
       |FROM cm JOIN sz sa ON cm.doc_a = sa.doc_id
       |        JOIN sz sb ON cm.doc_b = sb.doc_id
       |WHERE $TDenom * cm.common >= $TNumer * (sa.n + sb.n - cm.common)
       |ORDER BY cm.doc_a, cm.doc_b""".stripMargin) { (s, d) =>
    val np = Session.partitions(s)
    val docs = Tables.load(s, d, "documents")
      .repartition(np)
      .select(col("doc_id"), Text.shingleSetUdf(3)(col("text")).as("shs"))
      .filter(size(col("shs")) > 0)
    // replica-group collapse: fingerprint the CANONICAL shingle set
    // (sorted; to_json escapes, so distinct sets can never collide on
    // serialization) and run the pipeline on min(doc_id) per group.
    // rep + the representative pick ride ONE fp exchange (two window
    // frames, same partition key) instead of a groupBy + two joins.
    // marked feeds SIX consumers (df/rank/verify/size via sh, plus the
    // two expansions) — materialize the fingerprint+window chain once
    // via plain localCheckpoint instead of once per consumer. NOT
    // .persist(): the columnar cache encode of the array<string>
    // column measured 3x slower than the checkpoint (19.6s vs ~6s at
    // sf0.1); plain localCheckpoint keeps InternalRows as-is (the
    // q_graph_scc lesson).
    val marked = docs
      .withColumn("fp",
        md5(to_json(struct(sort_array(col("shs")).as("s")))))
      .withColumn("mrk", row_number().over(
        Window.partitionBy("fp").orderBy("doc_id")))
      .withColumn("rep", min(col("doc_id")).over(Window.partitionBy("fp")))
      .select(col("doc_id"), col("shs"), col("rep"), col("mrk"))
      .localCheckpoint(true)
    val members = marked.select(col("doc_id"), col("rep"))
    val repDocs = marked.filter(col("mrk") === 1)
    val sh = repDocs.select(col("doc_id"), explode(col("shs")).as("shingle"))
    val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    // both windows ride ONE doc_id exchange (same partition key)
    val byDoc = Window.partitionBy("doc_id")
    val ranked = sh.join(dfreq, "shingle")
      .withColumn("n", count(lit(1)).over(byDoc))
      .withColumn("rk", row_number().over(
        byDoc.orderBy(col("df"), col("shingle"))))
    val pre = ranked
      .filter(col("rk") <=
        col("n") - expr(s"($TNumer * n + $TDenom - 1) div $TDenom") + 1)
      .select("doc_id", "shingle")
    // merge-hint both sides: without it the planner broadcasts one
    // side and RECOMPUTES the whole shingle+df+window chain per side;
    // the hinted SMJ feeds both sides from ONE ReusedExchange (the
    // jaccardPairs posture — r6 lore)
    val cand = pre.select(col("doc_id").as("doc_a"), col("shingle"))
      .hint("merge")
      .join(pre.select(col("doc_id").as("doc_b"), col("shingle"))
        .hint("merge"), "shingle")
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    // Exact verify as a grouped COUNT join restricted to candidate
    // DOCS (left-semi prune) and then to candidate PAIRS: codegen hash
    // aggregation beats per-pair array_intersect by ~3x here (7.3s ->
    // measured below), and at scale the semi prune bounds the count
    // join by the candidate-doc set — the docs the prefix stage
    // already proved interesting — instead of the corpus.
    val cdocs = cand.select(col("doc_a").as("doc_id"))
      .unionAll(cand.select(col("doc_b").as("doc_id"))).distinct()
    val shc = sh.join(cdocs, Seq("doc_id"), "left_semi")
    val common = shc.select(col("doc_id").as("doc_a"), col("shingle"))
      .hint("merge")
      .join(shc.select(col("doc_id").as("doc_b"), col("shingle"))
        .hint("merge"), "shingle")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("common"))
      .join(cand, Seq("doc_a", "doc_b"), "left_semi")
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // qualifying REPRESENTATIVE pairs (rep_a < rep_b, distinct groups)
    val repPairs = common
      .join(sz.select(col("doc_id").as("doc_a"), col("n").as("n_a")),
        Seq("doc_a"))
      .join(sz.select(col("doc_id").as("doc_b"), col("n").as("n_b")),
        Seq("doc_b"))
      .filter(lit(TDenom) * col("common") >=
        lit(TNumer) * (col("n_a") + col("n_b") - col("common")))
      .select(col("doc_a").as("rep_a"), col("doc_b").as("rep_b"),
        col("common"), col("n_a"), col("n_b"))
    // expansion 1: cross-group member pairs inherit the rep pair's
    // exact stats; least/greatest restores doc_a < doc_b with n_a/n_b
    // swapped to follow (ids never collide across distinct groups)
    val memA = members.select(col("rep").as("rep_a"), col("doc_id").as("ida"))
    val memB = members.select(col("rep").as("rep_b"), col("doc_id").as("idb"))
    val cross = repPairs.join(memA, "rep_a").join(memB, "rep_b")
      .select(
        least(col("ida"), col("idb")).as("doc_a"),
        greatest(col("ida"), col("idb")).as("doc_b"),
        col("common"),
        when(col("ida") < col("idb"), col("n_a")).otherwise(col("n_b"))
          .as("n_a"),
        when(col("ida") < col("idb"), col("n_b")).otherwise(col("n_a"))
          .as("n_b"))
    // expansion 2: intra-group pairs are identical docs — common =
    // n_a = n_b = the group's set size (threshold trivially satisfied)
    val intra = members.select(col("rep"), col("doc_id").as("ida"))
      .join(members.select(col("rep"), col("doc_id").as("idb")), "rep")
      .filter(col("ida") < col("idb"))
      .join(sz.select(col("doc_id").as("rep"), col("n")), Seq("rep"))
      .select(col("ida").as("doc_a"), col("idb").as("doc_b"),
        col("n").as("common"), col("n").as("n_a"), col("n").as("n_b"))
    cross.unionAll(intra)
      .select(col("doc_a"), col("doc_b"), col("common").cast(LongType)
          .as("common"),
        col("n_a").cast(LongType).as("n_a"),
        col("n_b").cast(LongType).as("n_b"),
        expr("common * 1000000 div (n_a + n_b - common)").as("jaccard_ppm"),
        expr("common * 1000000 div least(n_a, n_b)").as("containment_ppm"))
      .orderBy("doc_a", "doc_b")
  }

  val all: Seq[Q] = Seq(dedupPrefixFilter)
}
