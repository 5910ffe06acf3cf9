package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
import graft.{Q, Session, Tables}
import graft.functions.Hex
import graft.dedup.MinHash
import graft.text.Text

/** Wave 4b — near-duplicate detection and similarity search, the
  * training-data-pipeline core. Oracle-matched variants use engine-
  * portable exact arithmetic: md5 for permutation hashing, DECIMAL
  * accumulation for dot products (order-free => bit-identical doubles
  * in Spark and DuckDB). The minhash LSH family (q_dedup_minhash,
  * q_minhash_estimate, q_split_leakage, q_dedup_incremental) composes
  * the one [[graft.dedup.MinHash]] operator and its oracle CTEs; the
  * zip_with dense path lives in [[graft.ml.Embeddings]] (ScalaTest'd).
  */
object DedupSim {

  /** Deterministic fixed-point accumulation for float dot products:
    * floor(x * 1e15) is an IEEE-exact chain (float->double widening,
    * double multiply, floor) yielding the identical BIGINT in Spark and
    * DuckDB; summing longs is order-free. (A DECIMAL(30,15) cast is NOT
    * portable: the engines round the 16th digit differently.) */
  private def fx(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(c * lit(1e15)).cast(LongType)
  private val FxDiv = 1e15

  /** Distinct (doc_id, 3-gram shingle) pairs. Uses the compiled-UDF
    * shingler: ~12x faster than the interpreted HOF chain on a corpus
    * scan (see Text.shingleSetUdf). */
  private def shingleRows(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "documents")
      .select(col("doc_id"),
        explode(Text.shingleSetUdf(3)(col("text"))).as("shingle"))

  /** (doc_id, text, shs) with a non-empty 3-shingle set — the
    * [[MinHash]] input of the corpus-level minhash queries (the
    * signature of an empty set is all-null). */
  private def minhashDocs(s: SparkSession, d: String): DataFrame =
    MinHash.shingled(Tables.load(s, d, "documents"))
      .filter(size(col("shs")) > 0)

  private[queries] val shingleSql =
    s"""t AS (SELECT doc_id, ${Text.tokensSql("text")} AS toks
      |      FROM documents),
      |pos AS (SELECT unnest(range(1,
      |  (SELECT COALESCE(MAX(len(toks)), 0) + 1 FROM t))) AS i),
      |sh AS (SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
      |       FROM t, pos WHERE i <= len(toks) - 2)""".stripMargin

  private val jaccardSql =
    """sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
      |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |jac AS (SELECT doc_a, doc_b, common, sa.n AS n_a, sb.n AS n_b,
      |               CAST(common AS DOUBLE) / (sa.n + sb.n - common) AS jaccard
      |        FROM pairs JOIN sz sa ON doc_a = sa.doc_id
      |                   JOIN sz sb ON doc_b = sb.doc_id)""".stripMargin

  /** Doc-frequency cap for the all-pairs shingle join: shingles seen in
    * more than this many docs are boilerplate and generate O(df^2) pair
    * rows — drop them from PAIR GENERATION (not from the per-doc sizes)
    * to bound the quadratic term. 50 exceeds every df in the driver
    * corpora (max 25 at sf0.1), so results are unchanged there while
    * the blowup is capped at 100TB. */
  private[queries] val ShingleDfCap = 50

  /** Exact shingle-set Jaccard over pairs sharing >= 1 rare shingle.
    *
    * Scale notes: the self-join runs over ONE shingle frame (both sides
    * are the identical subplan, so the shuffle exchange is planned once
    * and reused — see PLANS.md ReusedExchange); hot shingles above
    * [[ShingleDfCap]] are excluded from pair generation. Still the
    * small-corpus baseline: at 100TB you never run all-pairs directly —
    * minhashLsh generates a sparse candidate set first and verifies
    * only that. */
  private[queries] def jaccardPairs(s: SparkSession, d: String): DataFrame = {
    val sh = shingleRows(s, d)
    val byShingle = org.apache.spark.sql.expressions.Window.partitionBy("shingle")
    // one exchange on `shingle` feeds the df-cap window AND both join
    // sides (identical subplans -> ReusedExchange); the pair-count
    // groupBy is the only other shuffle.
    val capped = sh
      .withColumn("df", count(lit(1)).over(byShingle))
      .filter(col("df") <= ShingleDfCap)
      .drop("df")
    val sizes = Tables.load(s, d, "documents")
      .select(col("doc_id"),
        size(Text.shingleSetUdf(3)(col("text"))).cast("long").as("n"))
    // merge hints: without them the planner broadcasts the (small here)
    // b-side, which recomputes the shingle frame and cannot scale —
    // the hinted SMJ feeds both sides from ONE reused exchange instead.
    val common = capped.hint("merge").as("a")
      .join(capped.hint("merge").as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")), Seq("doc_b"))
      .withColumn("jaccard",
        col("common").cast(DoubleType) / (col("n_a") + col("n_b") - col("common")))
      .select("doc_a", "doc_b", "common", "n_a", "n_b", "jaccard")
  }

  val ngramJaccard: Q = Q(
    "q_dedup_ngram_jaccard",
    s"""WITH $shingleSql,
       |shc AS (SELECT doc_id, shingle FROM (
       |          SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df
       |          FROM sh) WHERE df <= 50),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
       |          FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2),
       |jac AS (SELECT doc_a, doc_b, common, sa.n AS n_a, sb.n AS n_b,
       |               CAST(common AS DOUBLE) / (sa.n + sb.n - common) AS jaccard
       |        FROM pairs JOIN sz sa ON doc_a = sa.doc_id
       |                   JOIN sz sb ON doc_b = sb.doc_id)
       |SELECT doc_a, doc_b, common, n_a, n_b, jaccard
       |FROM jac WHERE jaccard >= 0.2 ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    jaccardPairs(s, d)
      .filter(col("jaccard") >= 0.2)
      .select("doc_a", "doc_b", "common", "n_a", "n_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** MinHash + LSH banding, engine-portable form: permutation hash j of
    * a shingle is md5("j:" + shingle); signature = 8 minima; 4 bands of
    * 2; candidates share a band; candidates verified with exact Jaccard
    * >= 0.5 — the [[MinHash.nearPairs]] chain, whose scaladoc states
    * the scale shape (narrow signature pass, banded equi-join, array
    * verify, no broadcast hint on the corpus-scaled candidate side). */
  val minhashLsh: Q = Q(
    "q_dedup_minhash",
    s"""WITH $shingleSql,
       |${MinHash.oracleCtes},
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |$jaccardSql
       |SELECT c.doc_a, c.doc_b, j.jaccard
       |FROM cand c JOIN jac j ON c.doc_a = j.doc_a AND c.doc_b = j.doc_b
       |WHERE j.jaccard >= 0.5 ORDER BY c.doc_a, c.doc_b""".stripMargin) { (s, d) =>
    MinHash.nearPairs(minhashDocs(s, d))
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** MinHash estimator calibration — the sketch-quality eval for the
    * LSH dedup family, the way [[annRecall]] evals the IVF index: for
    * every banded candidate pair, the signature-agreement estimate
    * (agree/8, exact thousandths: agree·125) sits next to the EXACT
    * shingle Jaccard in parts-per-million, both hash-matched. This is
    * the table you read before trusting a minhash threshold: E[agree/k]
    * = J, and the per-pair spread at k=8 is what the numbers show.
    *
    * Shape at 100TB: identical to q_dedup_minhash through the banded
    * candidate join (signatures one compiled pass, candidates only —
    * never all pairs); the agreement sum is 8 element compares per
    * candidate, and the exact Jaccard joins the two shingle arrays of
    * candidate pairs only. */
  val minhashEstimate: Q = Q(
    "q_minhash_estimate",
    s"""WITH $shingleSql,
       |${MinHash.oracleCtes},
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |agr AS (SELECT c.doc_a, c.doc_b,
       |          CAST(SUM(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) AS BIGINT)
       |            AS agree
       |        FROM cand c JOIN mh x ON x.doc_id = c.doc_a
       |                    JOIN mh y ON y.doc_id = c.doc_b AND y.p = x.p
       |        GROUP BY 1, 2),
       |$jaccardSql
       |SELECT g.doc_a, g.doc_b, g.agree, g.agree * 125 AS est_e3,
       |  j.common * 1000000 // (j.n_a + j.n_b - j.common) AS jac_e6
       |FROM agr g JOIN jac j ON j.doc_a = g.doc_a AND j.doc_b = g.doc_b
       |ORDER BY g.doc_a, g.doc_b""".stripMargin) { (s, d) =>
    val docs = minhashDocs(s, d)
    val withSig = MinHash.signatures(docs)
    val cand = MinHash.candidates(MinHash.bands(withSig))
    val agree = (1 to MinHash.K)
      .map(i => when(element_at(col("siga"), i) === element_at(col("sigb"), i),
        1L).otherwise(0L))
      .reduce(_ + _)
    val withSigs = cand
      .join(withSig.select(col("doc_id").as("doc_a"), col("sig").as("siga")),
        Seq("doc_a"))
      .join(withSig.select(col("doc_id").as("doc_b"), col("sig").as("sigb")),
        Seq("doc_b"))
    MinHash.withShingles(withSigs, docs, docs, "doc_a", "doc_b")
      .select(Seq(col("doc_a"), col("doc_b"), agree.as("agree")) ++
        MinHash.overlap: _*)
      .select(col("doc_a"), col("doc_b"), col("agree"),
        (col("agree") * 125L).as("est_e3"),
        expr("common * 1000000 div (n_a + n_b - common)").as("jac_e6"))
      .orderBy("doc_a", "doc_b")
  }

  /** Shared oracle CTE prefix: the lexical tf-idf top-20 (`s20`) and
    * dense cosine top-20 (`d20`) rankings for the % 100 probe set —
    * the SQL mirror of [[RetrievalShared.sparseTop20]] /
    * [[RetrievalShared.denseTop20]]. q_hybrid_rrf and q_retrieval_rbo
    * interpolate this one def so their oracles cannot drift apart. */
  private[queries] def sparseDenseTopSql: String =
    s"""tok AS (SELECT doc_id,
       |    unnest(${Text.tokensSql("text")}) AS term
       |  FROM documents),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
       |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
       |post AS (SELECT t.doc_id, t.term, t.tf * (100000 // d.df) AS w
       |         FROM tf t JOIN df d ON t.term = d.term),
       |nrm AS (SELECT doc_id, CAST(SUM(w*w) AS BIGINT) AS n2 FROM post GROUP BY doc_id),
       |qp AS (SELECT doc_id AS probe_id, term, w AS wq FROM post
       |       WHERE doc_id % 100 = 0),
       |snum AS (SELECT q.probe_id, p.doc_id, CAST(SUM(q.wq * p.w) AS BIGINT) AS num
       |         FROM qp q JOIN post p ON q.term = p.term
       |         WHERE p.doc_id <> q.probe_id GROUP BY 1, 2),
       |ssim AS (SELECT n.probe_id, n.doc_id,
       |           CAST(CAST(n.num AS HUGEINT) * CAST(n.num AS HUGEINT) * 1000000000
       |                // (CAST(a.n2 AS HUGEINT) * CAST(b.n2 AS HUGEINT))
       |                AS BIGINT) AS sim2_e9
       |         FROM snum n JOIN nrm a ON a.doc_id = n.probe_id
       |                     JOIN nrm b ON b.doc_id = n.doc_id),
       |srk AS (SELECT probe_id, doc_id,
       |          ROW_NUMBER() OVER (PARTITION BY probe_id
       |                             ORDER BY sim2_e9 DESC, doc_id) AS rs
       |        FROM ssim),
       |s20 AS (SELECT probe_id, doc_id, rs FROM srk WHERE rs <= 20),
       |$compSql,
       |dots AS (SELECT b.vec_id AS probe_id, a.vec_id,
       |                CAST(SUM(CAST(FLOOR(a.v * c.v * 1e15) AS BIGINT)) AS DOUBLE) / 1e15 AS dot
       |         FROM comp a
       |         JOIN (SELECT vec_id FROM e WHERE vec_id % 100 = 0) b
       |           ON a.vec_id <> b.vec_id
       |         JOIN comp c ON c.vec_id = b.vec_id AND c.i = a.i
       |         GROUP BY 1, 2),
       |drk AS (SELECT d.probe_id, d.vec_id,
       |          ROW_NUMBER() OVER (PARTITION BY d.probe_id
       |                             ORDER BY d.dot / (na.nrm * np.nrm) DESC, d.vec_id)
       |            AS rd
       |        FROM dots d JOIN norms na ON d.vec_id = na.vec_id
       |                    JOIN norms np ON d.probe_id = np.vec_id),
       |d20 AS (SELECT probe_id, vec_id, rd FROM drk WHERE rd <= 20)""".stripMargin

  /** Hybrid retrieval fusion — reciprocal-rank fusion of the LEXICAL
    * ranking (exact-integer tf-idf cos², [[TextQueries.sparseSims]])
    * and the DENSE ranking (embedding cosine, the q_ann_topk
    * construction) for the shared % 100 probe set, treating document i
    * and vector i as the text/embedding halves of one item. Each RRF
    * term is the exact integer 10⁹ // (60 + rank) (the Cormack et al.
    * k=60 constant), so the fused score is a sum of exact integers
    * and hash-matches — no float fusion. This is the modern retrieval
    * stack (BM25/sparse + ANN/dense → RRF) as one query.
    *
    * Shape at 100TB: both input rankings are already top-20-per-probe
    * group limits (tiny frames); the fusion is a full outer join on
    * (probe, id) and one more group limit. */
  val hybridRrf: Q = Q(
    "q_hybrid_rrf",
    s"""WITH ${sparseDenseTopSql},
       |fused AS (SELECT COALESCE(s.probe_id, d.probe_id) AS probe_id,
       |            COALESCE(s.doc_id, d.vec_id) AS id,
       |            COALESCE(1000000000 // (60 + s.rs), 0)
       |              + COALESCE(1000000000 // (60 + d.rd), 0) AS rrf_e9,
       |            s.rs AS r_sparse, d.rd AS r_dense
       |          FROM s20 s FULL OUTER JOIN d20 d
       |            ON d.probe_id = s.probe_id AND d.vec_id = s.doc_id),
       |frk AS (SELECT probe_id, id, rrf_e9, r_sparse, r_dense,
       |          ROW_NUMBER() OVER (PARTITION BY probe_id
       |                             ORDER BY rrf_e9 DESC, id) AS rank
       |        FROM fused)
       |SELECT probe_id, rank, id, rrf_e9, r_sparse, r_dense
       |FROM frk WHERE rank <= 10 ORDER BY probe_id, rank""".stripMargin) {
    (s, d) =>
      // Both top-20 rankings are the suite-shared materializations
      // (RetrievalShared) — NDCG consumes the same frames at k<=10.
      val s20 = RetrievalShared.sparseTop20(s, d)
      val d20 = RetrievalShared.denseTop20(s, d)
      val fused = s20.join(d20,
          s20("probe_id") === d20("probe_id") && s20("doc_id") === d20("vec_id"),
          "full_outer")
        .select(
          coalesce(s20("probe_id"), d20("probe_id")).as("probe_id"),
          coalesce(col("doc_id"), col("vec_id")).as("id"),
          (coalesce(expr("1000000000 div (60 + rs)"), lit(0L))
            + coalesce(expr("1000000000 div (60 + rd)"), lit(0L))).as("rrf_e9"),
          col("rs").as("r_sparse"), col("rd").as("r_dense"))
      graft.ops.TopK.perGroup(fused,
        partitionBy = Seq(col("probe_id")),
        orderBy = Seq(col("rrf_e9").desc, col("id").asc),
        k = 10, rankCol = "rank")
        .select("probe_id", "rank", "id", "rrf_e9", "r_sparse", "r_dense")
        .orderBy("probe_id", "rank")
  }

  /** SimHash near-dup pairs, oracle-matched: the md5-derived signature
    * chain ([[graft.dedup.SimHash.simhash64]]) replays in DuckDB SQL —
    * per-token bit votes from md5 hex digits, sign threshold, then
    * XOR + bit_count Hamming distance, carried as four 16-bit quarter
    * values so no 64-bit signed shift overflows. The oracle compares
    * ALL pairs; the engine only quarter-blocked candidates — equality
    * holds because 4-quarter blocking is EXACT for hamming <= 3
    * (pigeonhole), which is precisely what the hash match proves.
    * Token-less docs are excluded on both sides (no votes, no
    * signature). */
  val simhashPairs: Q = Q(
    "q_dedup_simhash",
    s"""WITH toks AS (SELECT doc_id,
      |    unnest(${Text.tokensSql("text")}) AS tok
      |  FROM documents),
      |tc AS (SELECT doc_id, tok, COUNT(*) AS n FROM toks GROUP BY 1, 2),
      |th AS (SELECT doc_id, n, md5(tok) AS h FROM tc),
      |bits AS (SELECT doc_id, b,
      |    CASE WHEN (strpos('0123456789abcdef', substr(h, b // 4 + 1, 1)) - 1)
      |              & (1 << (3 - (b % 4))) > 0 THEN n ELSE -n END AS vote
      |  FROM th, (SELECT unnest(range(0, 64)) AS b) p),
      |acc AS (SELECT doc_id, b, SUM(vote) AS s FROM bits GROUP BY 1, 2),
      |sig AS (SELECT doc_id,
      |    SUM(CASE WHEN s > 0 AND b // 16 = 0 THEN (1 << (b % 16)) ELSE 0 END) AS q0,
      |    SUM(CASE WHEN s > 0 AND b // 16 = 1 THEN (1 << (b % 16)) ELSE 0 END) AS q1,
      |    SUM(CASE WHEN s > 0 AND b // 16 = 2 THEN (1 << (b % 16)) ELSE 0 END) AS q2,
      |    SUM(CASE WHEN s > 0 AND b // 16 = 3 THEN (1 << (b % 16)) ELSE 0 END) AS q3
      |  FROM acc GROUP BY doc_id)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(bit_count(xor(a.q0, b.q0)) + bit_count(xor(a.q1, b.q1))
      |     + bit_count(xor(a.q2, b.q2)) + bit_count(xor(a.q3, b.q3))
      |    AS BIGINT) AS hamming
      |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.q0, b.q0)) + bit_count(xor(a.q1, b.q1))
      |    + bit_count(xor(a.q2, b.q2)) + bit_count(xor(a.q3, b.q3)) <= 3
      |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
    val docs = Tables.load(s, d, "documents")
      // single-file input: spread the CPU-bound md5 kernel across cores
      .repartition(Session.partitions(s))
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
    val sim = graft.dedup.SimHash.withSimhash(s, docs, "doc_id", "toks")
    graft.dedup.SimHash.nearPairs(sim, "doc_id", maxDist = 3)
      .select(col("id_a"), col("id_b"), col("hamming").cast(LongType).as("hamming"))
      .orderBy("id_a", "id_b")
  }

  // ---- embedding similarity --------------------------------------------

  private[queries] def compSql: String =
    """e AS (SELECT vec_id, label, embedding FROM embeddings),
      |pos AS (SELECT unnest(range(1, 65)) AS i),
      |comp AS (SELECT vec_id, label, i, CAST(embedding[i] AS DOUBLE) AS v FROM e, pos),
      |norms AS (SELECT vec_id,
      |                 SQRT(CAST(SUM(CAST(FLOOR(v*v*1e15) AS BIGINT)) AS DOUBLE) / 1e15) AS nrm
      |          FROM comp GROUP BY vec_id)""".stripMargin

  /** Embedding-cosine near-duplicate pairs, blocked by label (the
    * candidate-blocking pattern; at 100TB the block key would be an LSH
    * bucket — see [[graft.ml.Embeddings.lshBucketFx]]). Dot products are
    * fixed-point BIGINT sums (`graft_fxdot`): order-free, so Spark and
    * DuckDB agree bitwise. */
  val embedCosineDup: Q = Q(
    "q_embed_cosine_dup",
    s"""WITH $compSql,
       |dots AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |                CAST(SUM(CAST(FLOOR(a.v * b.v * 1e15) AS BIGINT)) AS DOUBLE) / 1e15 AS dot
       |         FROM comp a JOIN comp b
       |           ON a.i = b.i AND a.label = b.label AND a.vec_id < b.vec_id
       |         GROUP BY 1, 2)
       |SELECT id_a, id_b, dot / (na.nrm * nb.nrm) AS cosine
       |FROM dots JOIN norms na ON id_a = na.vec_id
       |          JOIN norms nb ON id_b = nb.vec_id
       |WHERE dot / (na.nrm * nb.nrm) >= 0.35
       |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
    // Spark side: same VALUES as the oracle's posexplode+grouped-SUM,
    // but fused into the graft_fxdot kernel (order-free long sum =>
    // bit-identical) over a label-blocked pair join — no component
    // explosion, no 64x shuffle rows.
    import graft.ml.Embeddings.fxDot
    val emb = Tables.load(s, d, "embeddings")
    val withNorm = emb.withColumn("nrm",
      sqrt(fxDot(col("embedding"), col("embedding")).cast(DoubleType) / FxDiv))
    val a = withNorm.select(col("vec_id").as("id_a"), col("label"),
      col("embedding").as("ea"), col("nrm").as("nrm_a"))
    val b = withNorm.select(col("vec_id").as("id_b"), col("label").as("label_b"),
      col("embedding").as("eb"), col("nrm").as("nrm_b"))
    a.join(b, col("label") === col("label_b") && col("id_a") < col("id_b"))
      .withColumn("dot", fxDot(col("ea"), col("eb")).cast(DoubleType) / FxDiv)
      .withColumn("cosine", col("dot") / (col("nrm_a") * col("nrm_b")))
      .filter(col("cosine") >= 0.35)
      .select("id_a", "id_b", "cosine")
      .orderBy("id_a", "id_b")
  }

  /** Brute-force cosine top-10 per probe (probes = every 100th vector),
    * the ANN correctness baseline. Self-matches excluded. */
  val annTopK: Q = Q(
    "q_ann_topk",
    s"""WITH $compSql,
       |probes AS (SELECT vec_id AS probe_id FROM e WHERE vec_id % 100 = 0),
       |dots AS (SELECT b.probe_id, a.vec_id,
       |                CAST(SUM(CAST(FLOOR(a.v * c.v * 1e15) AS BIGINT)) AS DOUBLE) / 1e15 AS dot
       |         FROM comp a
       |         JOIN (SELECT probe_id FROM probes) b ON a.vec_id <> b.probe_id
       |         JOIN comp c ON c.vec_id = b.probe_id AND c.i = a.i
       |         GROUP BY 1, 2),
       |scored AS (SELECT dots.probe_id, dots.vec_id, dot / (na.nrm * np.nrm) AS cosine
       |           FROM dots JOIN norms na ON dots.vec_id = na.vec_id
       |                     JOIN norms np ON dots.probe_id = np.vec_id),
       |ranked AS (SELECT probe_id, vec_id, cosine,
       |                  ROW_NUMBER() OVER (PARTITION BY probe_id
       |                                     ORDER BY cosine DESC, vec_id) AS rank
       |           FROM scored)
       |SELECT probe_id, rank, vec_id, cosine FROM ranked
       |WHERE rank <= 10 ORDER BY probe_id, rank""".stripMargin) { (s, d) =>
    import graft.ml.Embeddings.fxDot
    val withNorm = Tables.load(s, d, "embeddings").withColumn("nrm",
      sqrt(fxDot(col("embedding"), col("embedding")).cast(DoubleType) / FxDiv))
    val probes = withNorm.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("probe_id"), col("embedding").as("ep"),
        col("nrm").as("nrm_p"))
    val scored = withNorm
      .join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .withColumn("dot", fxDot(col("embedding"), col("ep")).cast(DoubleType) / FxDiv)
      .withColumn("cosine", col("dot") / (col("nrm") * col("nrm_p")))
    graft.ops.TopK.perGroup(scored,
      partitionBy = Seq(col("probe_id")),
      orderBy = Seq(col("cosine").desc, col("vec_id").asc),
      k = 10, rankCol = "rank")
      .select("probe_id", "rank", "vec_id", "cosine")
      .orderBy("probe_id", "rank")
  }

  /** LSH-bucketed ANN, oracle-matched: hyperplane components derive
    * from md5 ([[graft.ml.Embeddings.md5Planes]]) and the bucket sign
    * test plus the candidate cosine both run through the fx BIGINT
    * chain, so DuckDB replays bucket assignment, candidate set, and
    * ranking bit-for-bit.
    *
    * Replica-group collapse: byte-identical vectors
    * share bucket, norm, and every pairwise cosine, so the corpus is
    * grouped by an embedding fingerprint first and ALL fx dot products
    * run rep-against-rep; member pairs inherit the rep cosine through
    * two cheap equi-joins before the per-probe top-10 ranking. Each
    * candidate group contributes at most its 11 smallest vec_ids
    * (group-mates tie on cosine and lose the vec_id tie-break beyond
    * that, even after one self-exclusion), so expansion stays
    * rank-bounded. Exact for any corpus; on the duplicate-saturated
    * sf1 slice (10 copies per vector) the quadratic scoring work drops
    * by the duplication factor squared.
    *
    * Scale shape otherwise unchanged: probe reps broadcast, the
    * distinct corpus computes its 6 plane signs map-side and
    * equi-joins on the bucket id — never shuffled, never all-paired. */
  val annLsh: Q = Q(
    "q_ann_lsh",
    s"""WITH $compSql,
       |pl AS (SELECT p, i,
       |    ${Hex.prefixSql("md5(CAST(p AS VARCHAR) || ':' || CAST(i AS VARCHAR))", 1, 2)}
       |      - 128 AS c
       |  FROM (SELECT unnest(range(0, 6)) AS p) pp, pos),
       |sgn AS (SELECT vec_id, p, SUM(CAST(FLOOR(v * c * 1e15) AS BIGINT)) AS sd
       |  FROM comp JOIN pl USING (i) GROUP BY 1, 2),
       |bkt AS (SELECT vec_id,
       |    SUM(CASE WHEN sd >= 0 THEN (1 << p) ELSE 0 END) AS bucket
       |  FROM sgn GROUP BY 1),
       |pr AS (SELECT vec_id AS probe_id, bucket FROM bkt WHERE vec_id % 100 = 0),
       |cand AS (SELECT pr.probe_id, b.vec_id
       |  FROM pr JOIN bkt b ON pr.bucket = b.bucket AND b.vec_id <> pr.probe_id),
       |dots AS (SELECT cd.probe_id, cd.vec_id,
       |    CAST(SUM(CAST(FLOOR(a.v * q.v * 1e15) AS BIGINT)) AS DOUBLE) / 1e15 AS dot
       |  FROM cand cd JOIN comp a ON a.vec_id = cd.vec_id
       |  JOIN comp q ON q.vec_id = cd.probe_id AND q.i = a.i
       |  GROUP BY 1, 2),
       |scored AS (SELECT dots.probe_id, dots.vec_id, dot / (na.nrm * np.nrm) AS cosine
       |  FROM dots JOIN norms na ON dots.vec_id = na.vec_id
       |            JOIN norms np ON dots.probe_id = np.vec_id),
       |ranked AS (SELECT probe_id, vec_id, cosine,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id
       |                       ORDER BY cosine DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT probe_id, rank, vec_id, cosine FROM ranked
       |WHERE rank <= 10 ORDER BY probe_id, rank""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    import graft.ml.Embeddings.{fxDot, lshBucketFx, md5Planes}
    val planes = md5Planes(dim = 64, numPlanes = 6)
    val emb = Tables.load(s, d, "embeddings")
    // replica-group collapse: fingerprint the raw vector (to_json is a
    // collision-free serialization of equal float arrays). Member rank,
    // group rep, and the group-has-probe flag all ride ONE fp exchange
    // (three window frames over the same partition key) — no groupBy,
    // no join-back, no semi-joins.
    val wfp = Window.partitionBy("fp")
    // marked feeds four consumers (rep scan, probe panel, probe
    // groups, member cut) — materialize the fingerprint+window chain
    // once via plain localCheckpoint, NOT .persist(): the columnar
    // cache encode of the array<float> column costs more than the
    // chain itself (measured on the prefixfilter twin).
    val marked = emb
      .withColumn("fp", md5(to_json(struct(col("embedding").as("e")))))
      .withColumn("mrk", row_number().over(wfp.orderBy("vec_id")))
      .withColumn("rep", min(col("vec_id")).over(wfp))
      .withColumn("has_probe",
        max(when(col("vec_id") % 100 === 0, 1).otherwise(0)).over(wfp))
      .select(col("vec_id"), col("embedding"), col("rep"), col("mrk"),
        col("has_probe"))
      .localCheckpoint(true)
    val withNorm = marked.filter(col("mrk") === 1)
      .withColumn("bucket", lshBucketFx(col("embedding"), planes))
      .withColumn("nrm",
        sqrt(fxDot(col("embedding"), col("embedding")).cast(DoubleType) / FxDiv))
    // probe GROUPS: every original vec_id % 100 == 0 probe, keyed by
    // its group rep; the rep-level scoring runs once per distinct
    // probe vector
    val probeGroups = marked.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("probe_id"), col("rep").as("prep"))
    val repProbes = withNorm.filter(col("has_probe") === 1)
      .select(col("vec_id").as("prep"), col("bucket"),
        col("embedding").as("ep"), col("nrm").as("nrm_p"))
    // rep x rep scoring INCLUDING the self pair (a probe's own group
    // mates are real candidates at cosine 1); self-exclusion happens
    // per expanded member below, exactly as the naive form does
    val scoredRep = withNorm
      .join(broadcast(repProbes), Seq("bucket"))
      .withColumn("dot", fxDot(col("embedding"), col("ep")).cast(DoubleType) / FxDiv)
      .withColumn("cosine", col("dot") / (col("nrm") * col("nrm_p")))
      .select(col("prep"), col("vec_id").as("crep"), col("cosine"))
    // candidate groups expand to their 11 smallest member ids: group
    // mates tie on cosine, so beyond 10 (plus one slot that the
    // self-exclusion can free) the vec_id tie-break already lost
    val memCut = marked.filter(col("mrk") <= 11)
      .select(col("rep").as("crep"), col("vec_id").as("cand_id"))
    val expanded = scoredRep
      .join(probeGroups, Seq("prep"))
      .join(memCut, Seq("crep"))
      .filter(col("cand_id") =!= col("probe_id"))
      .select(col("probe_id"), col("cand_id").as("vec_id"), col("cosine"))
    graft.ops.TopK.perGroup(expanded,
      partitionBy = Seq(col("probe_id")),
      orderBy = Seq(col("cosine").desc, col("vec_id").asc),
      k = 10, rankCol = "rank")
      .select("probe_id", "rank", "vec_id", "cosine")
      .orderBy("probe_id", "rank")
  }

  /** IVF-partitioned ANN (coarse quantizer + nprobe lists — the
    * inverted-file scale path), oracle-matched: centroids are a
    * deterministic corpus sample (every 50th vector), the nearest-
    * centroid assignment, the probe's nprobe=4 list choice, and the
    * final candidate ranking all run through the fx BIGINT cosine
    * chain with explicit tie-breaks (assignment ties -> larger
    * centroid id, list ties -> smaller, rank ties -> smaller vec id),
    * so DuckDB replays index build AND search bit-for-bit. Scale shape
    * unchanged: centroids + probe lists broadcast, the corpus crosses
    * the wire once for assignment (a write-time cost), and search
    * scans ONLY the probed lists via an equi-join on centroid_id. */
  val annIvf: Q = Q(
    "q_ann_ivf",
    s"""WITH $compSql,
       |cents AS (SELECT vec_id AS cid FROM e WHERE vec_id % 50 = 0),
       |cdots AS (SELECT a.vec_id, c.cid,
       |    CAST(SUM(CAST(FLOOR(a.v * b.v * 1e15) AS BIGINT)) AS DOUBLE) / 1e15 AS dot
       |  FROM comp a JOIN cents c ON true
       |  JOIN comp b ON b.vec_id = c.cid AND b.i = a.i
       |  GROUP BY 1, 2),
       |ccos AS (SELECT cdots.vec_id, cid, dot / (na.nrm * nc.nrm) AS cos
       |  FROM cdots JOIN norms na ON cdots.vec_id = na.vec_id
       |             JOIN norms nc ON cdots.cid = nc.vec_id),
       |assigned AS (SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id
       |                         ORDER BY cos DESC, cid DESC) AS rn
       |    FROM ccos) WHERE rn = 1),
       |plists AS (SELECT probe_id, cid FROM (
       |    SELECT vec_id AS probe_id, cid,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id
       |                         ORDER BY cos DESC, cid ASC) AS pr
       |    FROM ccos WHERE vec_id % 100 = 0) WHERE pr <= 4),
       |cand AS (SELECT p.probe_id, a.vec_id
       |  FROM plists p JOIN assigned a ON p.cid = a.cid),
       |dots AS (SELECT cd.probe_id, cd.vec_id,
       |    CAST(SUM(CAST(FLOOR(a.v * q.v * 1e15) AS BIGINT)) AS DOUBLE) / 1e15 AS dot
       |  FROM cand cd JOIN comp a ON a.vec_id = cd.vec_id
       |  JOIN comp q ON q.vec_id = cd.probe_id AND q.i = a.i
       |  GROUP BY 1, 2),
       |scored AS (SELECT dots.probe_id, dots.vec_id,
       |    dot / (na.nrm * np.nrm) AS cosine
       |  FROM dots JOIN norms na ON dots.vec_id = na.vec_id
       |            JOIN norms np ON dots.probe_id = np.vec_id),
       |ranked AS (SELECT probe_id, vec_id, cosine,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id
       |                       ORDER BY cosine DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT probe_id, rank, vec_id, cosine FROM ranked
       |WHERE rank <= 10 AND vec_id <> probe_id
       |ORDER BY probe_id, rank""".stripMargin) { (s, d) =>
    import graft.ml.Embeddings.fxDot
    val emb = Tables.load(s, d, "embeddings").withColumn("nrm",
      sqrt(fxDot(col("embedding"), col("embedding")).cast(DoubleType) / FxDiv))
    val cents = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cemb"),
        col("nrm").as("nrm_c"))
    val ccos = emb.crossJoin(broadcast(cents))
      .withColumn("cos",
        fxDot(col("embedding"), col("cemb")).cast(DoubleType) / FxDiv /
          (col("nrm") * col("nrm_c")))
    // index build: one pass over the corpus, ties -> larger centroid id
    val assigned = ccos.groupBy("vec_id")
      .agg(first(col("embedding")).as("embedding"), first(col("nrm")).as("nrm"),
        max_by(col("centroid_id"), struct(col("cos"), col("centroid_id")))
          .as("centroid_id"))
    // each probe keeps its nprobe=4 nearest lists, ties -> smaller id
    val probeLists = graft.ops.TopK.perGroup(
      ccos.filter(col("vec_id") % 100 === 0),
      partitionBy = Seq(col("vec_id")),
      orderBy = Seq(col("cos").desc, col("centroid_id").asc),
      k = 4, rankCol = "__pr")
      .select(col("vec_id").as("probe_id"), col("embedding").as("ep"),
        col("nrm").as("nrm_p"), col("centroid_id"))
    val scored = assigned.join(broadcast(probeLists), Seq("centroid_id"))
      .withColumn("cosine",
        fxDot(col("embedding"), col("ep")).cast(DoubleType) / FxDiv /
          (col("nrm") * col("nrm_p")))
    graft.ops.TopK.perGroup(scored,
      partitionBy = Seq(col("probe_id")),
      orderBy = Seq(col("cosine").desc, col("vec_id").asc),
      k = 10, rankCol = "rank")
      .filter(col("vec_id") =!= col("probe_id"))
      .select("probe_id", "rank", "vec_id", "cosine")
      .orderBy("probe_id", "rank")
  }

  /** HLL sketch distinct — algorithmic, no cross-engine oracle;
    * error bound vs exact is ScalaTest'd. */
  val approxDistinct: Q = Q.noOracle("q_agg_approx_distinct") { (s, d) =>
    Tables.load(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        approx_count_distinct(col("l_partkey")).as("approx_parts"),
        countDistinct(col("l_partkey")).as("exact_parts"))
      .orderBy("l_returnflag")
  }

  /** Pair list -> dedup CLUSTERS via
    * [[graft.ops.ConnectedComponents]]: the step every near-dup
    * pipeline needs after candidate verification (pairs alone can't
    * say "keep one of these five"). The edge list here chains each
    * exact-duplicate group in doc_id order, so components only come
    * out right if labels genuinely propagate MULTI-HOP (a group of 5
    * is a 4-edge path, not a clique); the oracle states the expected
    * fixpoint directly from the group structure. Isolated docs stay
    * their own singleton component. */
  val dedupComponents: Q = Q(
    "q_dedup_components",
    """WITH fp AS (SELECT doc_id, md5(text) AS fp FROM documents)
      |SELECT doc_id,
      |  MIN(doc_id) OVER (PARTITION BY fp) AS component,
      |  doc_id = MIN(doc_id) OVER (PARTITION BY fp) AS is_keeper,
      |  COUNT(*) OVER (PARTITION BY fp) AS n_members
      |FROM fp ORDER BY doc_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val fp = Tables.load(s, d, "documents")
      .select(col("doc_id"), md5(col("text")).as("fp"))
    // multi-hop chain edges: consecutive docs of each duplicate group
    val prev = lag(col("doc_id"), 1).over(
      Window.partitionBy("fp").orderBy("doc_id"))
    val edges = fp.select(col("doc_id"), prev.as("prev"))
      .filter(col("prev").isNotNull)
      .select(col("prev").as("src"), col("doc_id").as("dst"))
    val labels = graft.ops.ConnectedComponents.labels(
      fp.select(col("doc_id").as("node")), edges)
    labels
      .select(col("node").as("doc_id"), col("component"),
        (col("node") === col("component")).as("is_keeper"),
        count(lit(1)).over(Window.partitionBy("component")).as("n_members"))
      .orderBy("doc_id")
  }

  /** Benchmark decontamination: flag training docs sharing any word
    * 4-gram with the held-out eval set (docs with doc_id % 97 == 0
    * stand in for the benchmark). The canonical pretraining hygiene
    * pass.
    *
    * Shape at 100TB: eval suites are tiny by construction, so the
    * benchmark shingle set BROADCASTS and the training corpus is
    * probed in place — one compiled shingle pass per doc, one
    * broadcast join, one per-doc aggregate. The corpus never shuffles
    * on shingles. */
  val decontamOverlap: Q = Q(
    "q_decontam_overlap",
    s"""WITH d AS (SELECT doc_id,
      |    ${Text.tokensSql("text")} AS toks
      |  FROM documents),
      |bsh AS (SELECT DISTINCT toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
      |                 || ' ' || toks[i+3] AS sh
      |        FROM d, (SELECT unnest(range(1,
      |          (SELECT COALESCE(MAX(len(toks)), 0) + 1 FROM d))) AS i) p
      |        WHERE doc_id % 97 = 0 AND i <= len(toks) - 3),
      |tsh AS (SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' ||
      |                 toks[i+2] || ' ' || toks[i+3] AS sh
      |        FROM d, (SELECT unnest(range(1,
      |          (SELECT COALESCE(MAX(len(toks)), 0) + 1 FROM d))) AS i) p
      |        WHERE doc_id % 97 <> 0 AND i <= len(toks) - 3)
      |SELECT t.doc_id, COUNT(*) AS n_hits, MIN(t.sh) AS first_hit
      |FROM tsh t JOIN bsh b ON t.sh = b.sh
      |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin) { (s, d) =>
    val sh4 = Text.shingleSetUdf(4) // per-doc DISTINCT shingles, compiled
    val docs = Tables.load(s, d, "documents")
      .repartition(Session.partitions(s))
    val bench = docs.filter(col("doc_id") % 97 === 0)
      .select(explode(sh4(col("text"))).as("sh")).distinct()
    val train = docs.filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), explode(sh4(col("text"))).as("sh"))
    train.join(bench, "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"), min(col("sh")).as("first_hit"))
      .orderBy("doc_id")
  }

  /** Passage-level duplicate mining: every word 8-gram that appears in
    * >= 2 distinct documents, with its document frequency, total
    * occurrence count, and first/last carrier — the signal behind
    * exact-substring dedup of training corpora (boilerplate, licenses,
    * templated spam repeat verbatim across crawls).
    *
    * Shape at 100TB: deliberately NOT a self-join — one compiled
    * shingle pass, one hash shuffle on the passage key with map-side
    * partial aggregation, and the n_docs >= 2 filter discards the
    * singleton long tail (the overwhelming majority) at the first
    * aggregate. Skewed mega-passages split by AQE. */
  val dupPassages: Q = Q(
    "q_dup_passages",
    s"""WITH d AS (SELECT doc_id,
      |    ${Text.tokensSql("text")} AS toks
      |  FROM documents),
      |sh AS (SELECT doc_id,
      |    toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
      |      || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' || toks[i+6]
      |      || ' ' || toks[i+7] AS passage
      |  FROM d, (SELECT unnest(range(1,
      |          (SELECT COALESCE(MAX(len(toks)), 0) + 1 FROM d))) AS i) p
      |  WHERE i <= len(toks) - 7)
      |SELECT passage, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occ,
      |       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      |FROM sh GROUP BY passage HAVING COUNT(DISTINCT doc_id) >= 2
      |ORDER BY passage""".stripMargin) { (s, d) =>
    val sh8 = Text.shingleListUdf(8) // repeats kept: n_occ counts them
    Tables.load(s, d, "documents")
      .repartition(Session.partitions(s))
      .select(col("doc_id"), explode(sh8(col("text"))).as("passage"))
      .groupBy("passage")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy("passage")
  }

  /** Fuzzy entity matching: distinct part names within Levenshtein
    * distance 3, BLOCKED on the head noun (last token) so the edit-
    * distance comparisons run inside small blocks instead of all-pairs
    * — the standard entity-resolution shape (at 100TB the block key
    * becomes phonetic/length-band buckets; the quadratic cost is
    * bounded per block, never global). Levenshtein is exact integer
    * dynamic programming — identical in any engine, so it oracles. */
  val fuzzyNameJoin: Q = Q(
    "q_fuzzy_name_join",
    """WITH n AS (SELECT DISTINCT p_name,
      |    string_split(p_name, ' ')[-1] AS blk FROM part)
      |SELECT a.p_name AS name_a, b.p_name AS name_b,
      |       levenshtein(a.p_name, b.p_name) AS dist
      |FROM n a JOIN n b ON a.blk = b.blk AND a.p_name < b.p_name
      |WHERE levenshtein(a.p_name, b.p_name) <= 3
      |ORDER BY name_a, name_b""".stripMargin) { (s, d) =>
    val n = Tables.load(s, d, "part")
      .select(col("p_name"), element_at(split(col("p_name"), " "), -1).as("blk"))
      .distinct()
    n.toDF("name_a", "blk")
      .join(n.toDF("name_b", "blk"), "blk")
      .filter(col("name_a") < col("name_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= 3)
      .select("name_a", "name_b", "dist")
      .orderBy("name_a", "name_b")
  }

  /** Distributed k-means over the embeddings ([[graft.ml.KMeansFx]]):
    * 3 Lloyd iterations, k=8, in exact fixed-point BIGINT arithmetic
    * so the DuckDB oracle replays assignment AND centroid updates
    * bit-for-bit — floating k-means can never hash-match (mean
    * summation order). The semantic backbone of IVF partitioning and
    * embedding-space corpus curation. */
  val kmeansFx: Q = Q(
    "q_kmeans_fx",
    graft.ml.KMeansFx.oracleSql(k = 8, iters = 3, dim = 64)) { (s, d) =>
    graft.ml.KMeansFx.fit(
      Tables.load(s, d, "embeddings"), "vec_id", "embedding",
      k = 8, iters = 3)
      .orderBy("vec_id")
  }

  /** Product quantization of the embedding corpus ([[graft.ml.Pq]],
    * Jégou et al. TPAMI 2011): each 64-float vector compressed to
    * M=4 subspace codes from 16-way fx-k-means codebooks, plus the
    * exact integer quantization error — the compressed-index
    * construction IVF-PQ engines build at billion-vector scale. The
    * oracle replays all four subspace Lloyd chains bit-for-bit in one
    * WITH (suffixed [[graft.ml.KMeansFx.oracleCtesSlice]] chains). */
  val embedPq: Q = Q(
    "q_embed_pq",
    graft.ml.Pq.oracleSql(m = 4, subDim = 16, k = 16, iters = 2)) { (s, d) =>
    graft.ml.Pq.encode(
      Tables.load(s, d, "embeddings"), "vec_id", "embedding",
      m = 4, subDim = 16, k = 16, iters = 2, memoKey = Some(d))
      .orderBy("vec_id")
  }

  /** ADC top-k search over the PQ index ([[graft.ml.Pq.adcTopK]]) —
    * the query path of an IVF-PQ engine (Jégou et al. TPAMI 2011
    * §IV): probes precompute M×k LUTs of exact fx distances to the
    * subspace codebooks; a corpus vector's score is M table lookups
    * on its 2-byte codes. The corpus is scanned as codes, never as
    * floats — the posture that makes billion-vector ANN fit in RAM.
    * All-integer, so the oracle replays the LUTs and lookups exactly
    * against the same suffixed Lloyd chains as q_embed_pq. */
  val annPq: Q = Q(
    "q_ann_pq",
    graft.ml.Pq.adcOracleSql(
      m = 4, subDim = 16, k = 16, iters = 2, probeMod = 100, topK = 10)) {
    (s, d) =>
      graft.ml.Pq.adcTopK(
        Tables.load(s, d, "embeddings"), "vec_id", "embedding",
        m = 4, subDim = 16, k = 16, iters = 2, probeMod = 100, topK = 10,
        memoKey = Some(d))
  }

  /** IVF-ADC search (Jégou et al. TPAMI 2011 §V — the FAISS IVFADC
    * index, the architecture actually deployed at billion-vector
    * scale): a coarse quantizer partitions the corpus into cells, PQ
    * codes quantize each vector's RESIDUAL against its cell centroid,
    * and a probe scans only its nprobe nearest cells with a
    * per-(probe, cell) ADC lookup table. Inverted-list pruning + code
    * scanning compound: candidates shrink ~nprobe/kc BEFORE any
    * distance work, and surviving ones cost M table lookups each.
    * All-integer (residuals are differences of fx longs), so the
    * oracle replays coarse chain, residual CTE, subspace chains,
    * LUTs, and lookups exactly. */
  val annIvfPq: Q = Q(
    "q_ann_ivfpq",
    graft.ml.Pq.ivfAdcOracleSql(
      kc = 8, nprobe = 2, m = 4, subDim = 16, k = 16, iters = 2,
      probeMod = 100, topK = 10)) { (s, d) =>
    graft.ml.Pq.ivfAdcTopK(
      Tables.load(s, d, "embeddings"), "vec_id", "embedding",
      kc = 8, nprobe = 2, m = 4, subDim = 16, k = 16, iters = 2,
      probeMod = 100, topK = 10, memoKey = Some(d))
  }

  /** IVFADC-R (Jégou et al. TPAMI 2011 §VI — FAISS's IVFPQR): the
    * IVF-ADC candidate list widened to R=30, then re-ranked by the
    * EXACT fx probe↔vector distance and cut to top-10 — the
    * refinement pass that buys back the PQ approximation error by
    * touching only Q·R full vectors. The exact pass is one narrow
    * corpus scan against the candidate list (point lookups
    * at cluster scale); the oracle replays ADC ranking AND the exact
    * re-rank over the same full-dim fx points CTE. */
  val annIvfPqRerank: Q = Q(
    "q_ann_ivfpq_rerank",
    graft.ml.Pq.ivfAdcRerankOracleSql(
      kc = 8, nprobe = 2, m = 4, subDim = 16, k = 16, iters = 2,
      probeMod = 100, rerankR = 30, topK = 10)) { (s, d) =>
    graft.ml.Pq.ivfAdcRerankTopK(
      Tables.load(s, d, "embeddings"), "vec_id", "embedding",
      kc = 8, nprobe = 2, m = 4, subDim = 16, k = 16, iters = 2,
      probeMod = 100, rerankR = 30, topK = 10, memoKey = Some(d))
  }

  /** Recall@10 of the IVF-ADC index vs exact fx-L2 brute force
    * ([[graft.ml.Pq.ivfRecall]]) — the eval that decides whether an
    * approximate index is trustworthy, expressed as a query: per
    * probe, how many of the exact top-10 the nprobe=2/8-cell PQ
    * search recovered. The oracle replays BOTH rankings (the whole
    * IVF-ADC chain plus the exact brute-force ranking over the same
    * fx points) and intersects them — recall itself is hash-matched,
    * not spot-checked. */
  val annRecall: Q = Q(
    "q_ann_recall",
    graft.ml.Pq.ivfRecallOracleSql(
      kc = 8, nprobe = 2, m = 4, subDim = 16, k = 16, iters = 2,
      probeMod = 100, topK = 10)) { (s, d) =>
    graft.ml.Pq.ivfRecall(
      Tables.load(s, d, "embeddings"), "vec_id", "embedding",
      kc = 8, nprobe = 2, m = 4, subDim = 16, k = 16, iters = 2,
      probeMod = 100, topK = 10, memoKey = Some(d))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv
    * 2303.09540): cluster the embedding space with fixed-point k-means
    * ([[graft.ml.KMeansFx]]), then compare pairs ONLY within a cluster
    * and drop every vector that has a lower-id neighbor above the
    * cosine threshold — one representative per semantic near-dup set.
    *
    * Shape at 100TB: the pair join is blocked on the cluster id, so the
    * quadratic term is (n/k)^2 per cluster instead of n^2 global —
    * exactly why SemDeDup clusters first. k is DERIVED from the corpus
    * size (k = max(8, n/64), an in-plan count — no driver action), so
    * n/k stays bounded by construction at any scale instead of by a
    * comment's promise; centroids stay a broadcast, and the verdict
    * is one grouped MIN + a left join, both on the vector id. Cosine
    * uses the fused graft_fxdot kernel; the oracle replays the same
    * floor(x*1e15) chain — including the derived-k scalar subquery —
    * so verdicts hash-match bit-for-bit. DedupSpec asserts the
    * within-cluster pair bound. */
  val semanticDedup: Q = {
    val (minK, target, iters, dim, tau) = (8, 64L, 2, 64, "0.3")
    val s2 = graft.ml.KMeansFx.assignCte(iters)
    Q(
      "q_dedup_semantic",
      s"""WITH ${graft.ml.KMeansFx.oracleCtesKExpr(
             graft.ml.KMeansFx.derivedKSql(minK, target), iters, dim)},
         |comp AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
         |  FROM embeddings, (SELECT unnest(range(1, ${dim + 1})) AS i) p),
         |norms AS (SELECT vec_id,
         |    SQRT(CAST(SUM(CAST(FLOOR(v*v*1e15) AS BIGINT)) AS DOUBLE) / 1e15) AS nrm
         |  FROM comp GROUP BY vec_id),
         |dots AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    CAST(SUM(CAST(FLOOR(a.v * b.v * 1e15) AS BIGINT)) AS DOUBLE) / 1e15 AS dot
         |  FROM comp a JOIN comp b ON a.i = b.i AND a.vec_id < b.vec_id
         |  JOIN $s2 sa ON a.vec_id = sa.vec_id
         |  JOIN $s2 sb ON b.vec_id = sb.vec_id AND sa.cid = sb.cid
         |  GROUP BY 1, 2),
         |dup AS (SELECT id_b AS vec_id, MIN(id_a) AS dup_of
         |  FROM dots JOIN norms na ON id_a = na.vec_id
         |            JOIN norms nb ON id_b = nb.vec_id
         |  WHERE dot / (na.nrm * nb.nrm) >= $tau GROUP BY 1)
         |SELECT s.vec_id, s.cid AS cluster, d.dup_of,
         |  CAST(CASE WHEN d.dup_of IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
         |FROM $s2 s LEFT JOIN dup d ON s.vec_id = d.vec_id
         |ORDER BY s.vec_id""".stripMargin) { (s, d) =>
      import graft.ml.Embeddings.fxDot
      val emb = Tables.load(s, d, "embeddings")
      val assign = graft.ml.KMeansFx
        .fitDerivedK(emb, "vec_id", "embedding", minK, target, iters)
        .select(col("vec_id"), col("cluster"))
      val withVec = emb.join(assign, "vec_id")
        .withColumn("nrm",
          sqrt(fxDot(col("embedding"), col("embedding")).cast(DoubleType) / FxDiv))
      val a = withVec.select(col("vec_id").as("id_a"), col("cluster"),
        col("embedding").as("ea"), col("nrm").as("nrm_a"))
      val b = withVec.select(col("vec_id").as("id_b"), col("cluster").as("cluster_b"),
        col("embedding").as("eb"), col("nrm").as("nrm_b"))
      val dupOf = a.join(b,
          col("cluster") === col("cluster_b") && col("id_a") < col("id_b"))
        .withColumn("cosine",
          fxDot(col("ea"), col("eb")).cast(DoubleType) / FxDiv /
            (col("nrm_a") * col("nrm_b")))
        .filter(col("cosine") >= tau.toDouble)
        .groupBy(col("id_b").as("vec_id"))
        .agg(min(col("id_a")).as("dup_of"))
      assign.join(dupOf, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cluster"), col("dup_of"),
          when(col("dup_of").isNull, 1L).otherwise(0L).as("kept"))
        .orderBy("vec_id")
    }
  }

  /** Int8 embedding quantization with per-dimension affine scales —
    * the storage-compression step for billion-vector ANN indexes
    * (IVF/PQ front-end). Per-dim min/max are a 64-row broadcast; the
    * quantize + dequantize + reconstruction-error pass is map-side.
    * Every arithmetic step (min/max picks, the affine chain, floors)
    * is the identical IEEE expression tree in both engines, and the
    * per-vector error folds through the order-free floor(x*1e15)
    * BIGINT sum, so the oracle hash-matches bit-for-bit. At 100TB the
    * exploded components fuse into a compiled kernel like graft_fxdot;
    * the declarative form here keeps the quantization law reviewable.
    */
  val embedQuantize: Q = Q(
    "q_embed_quantize",
    """WITH comp AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
      |  FROM embeddings, (SELECT unnest(range(1, 65)) AS i) p),
      |st AS (SELECT i, MIN(x) AS mn, MAX(x) AS mx,
      |         (MAX(x) - MIN(x)) / 255 AS scale
      |       FROM comp GROUP BY i),
      |qz AS (SELECT vec_id, c.i, x, mn, scale,
      |         CASE WHEN mx > mn
      |              THEN LEAST(255, CAST(FLOOR((x - mn) / scale) AS BIGINT))
      |              ELSE 0 END AS q
      |       FROM comp c JOIN st ON c.i = st.i)
      |SELECT vec_id,
      |  CAST(SUM(CAST(FLOOR(ABS(x - (mn + (q + 0.5) * scale)) * 1e15)
      |       AS BIGINT)) AS BIGINT) AS recon_err_fx,
      |  CAST(SUM(q * i) AS BIGINT) AS q_checksum
      |FROM qz GROUP BY vec_id ORDER BY vec_id""".stripMargin) { (s, d) =>
    val comp = Tables.load(s, d, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i0", "xf")))
      .select(col("vec_id"), (col("i0") + 1).as("i"),
        col("xf").cast(DoubleType).as("x"))
    val st = comp.groupBy("i")
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .withColumn("scale", (col("mx") - col("mn")) / 255)
    comp.join(broadcast(st), "i")
      .withColumn("q", when(col("mx") > col("mn"),
        least(lit(255L),
          floor((col("x") - col("mn")) / col("scale")).cast(LongType)))
        .otherwise(0L))
      .withColumn("err_fx",
        floor(abs(col("x") - (col("mn") + (col("q") + 0.5) * col("scale")))
          * 1e15).cast(LongType))
      .groupBy("vec_id")
      .agg(sum(col("err_fx")).as("recon_err_fx"),
        sum(col("q") * col("i")).as("q_checksum"))
      .orderBy("vec_id")
  }

  /** INCREMENTAL dedup — the production posture at 100TB: a new batch
    * (doc_id % 10 == 0 stands in for today's crawl) is probed against
    * the EXISTING corpus's fingerprint index, never corpus-vs-corpus.
    * The exact tier matches on the CANONICAL content fingerprint —
    * md5 of the sorted distinct token set (case/whitespace/word-order
    * insensitive, the practical "exact after normalization" tier; raw
    * byte-identity would be a strictly weaker prefilter of it);
    * near-dups share a minhash LSH band with an old doc and verify at
    * Jaccard >= 0.5 (same signature chain as [[minhashLsh]]); exact
    * takes precedence. Every new doc gets a verdict row (unique docs
    * included).
    *
    * Shape at 100TB: the old side's fingerprint + band index is a
    * write-once artifact (bucketed by band key); the daily batch is
    * small, joins the band index (AQE broadcasts it while it fits;
    * no forced hint), and only verified candidates
    * fetch shingle arrays — the old corpus is never rescanned, never
    * self-joined, and nothing quadratic leaves a band bucket. */
  val dedupIncremental: Q = Q(
    "q_dedup_incremental",
    s"""WITH $shingleSql,
       |fp AS (SELECT doc_id,
       |    CASE WHEN len(toks) = 0 THEN NULL
       |         ELSE md5(list_aggregate(list_sort(list_distinct(toks)),
       |                                 'string_agg', '|')) END AS fp
       |  FROM t),
       |new_fp AS (SELECT doc_id, fp FROM fp WHERE doc_id % 10 = 0),
       |old_fp AS (SELECT doc_id, fp FROM fp WHERE doc_id % 10 <> 0),
       |exact AS (SELECT n.doc_id, MIN(o.doc_id) AS dup_of
       |  FROM new_fp n JOIN old_fp o ON n.fp = o.fp GROUP BY 1),
       |${MinHash.oracleCtes},
       |cand AS (SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
       |         FROM bands n JOIN bands o
       |           ON n.band = o.band AND n.bkey = o.bkey
       |         WHERE n.doc_id % 10 = 0 AND o.doc_id % 10 <> 0),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |common AS (SELECT c.new_id, c.old_id, COUNT(*) AS common
       |  FROM cand c JOIN sh a ON a.doc_id = c.new_id
       |  JOIN sh b ON b.doc_id = c.old_id AND b.shingle = a.shingle
       |  GROUP BY 1, 2),
       |near AS (SELECT new_id AS doc_id, MIN(old_id) AS dup_of
       |  FROM common JOIN sz sa ON new_id = sa.doc_id
       |              JOIN sz sb ON old_id = sb.doc_id
       |  WHERE CAST(common AS DOUBLE) / (sa.n + sb.n - common) >= 0.5
       |  GROUP BY 1)
       |SELECT n.doc_id,
       |  CASE WHEN e.dup_of IS NOT NULL THEN 'exact_dup'
       |       WHEN nr.dup_of IS NOT NULL THEN 'near_dup'
       |       ELSE 'unique' END AS verdict,
       |  COALESCE(e.dup_of, nr.dup_of) AS dup_of
       |FROM new_fp n LEFT JOIN exact e ON n.doc_id = e.doc_id
       |              LEFT JOIN near nr ON n.doc_id = nr.doc_id
       |ORDER BY n.doc_id""".stripMargin) { (s, d) =>
    // the oracle above replays Incremental.verdicts: its fingerprint,
    // the MinHash.oracleCtes signature chain, and MinHash's fixed
    // Jaccard >= 0.5 verify
    val docs = Tables.load(s, d, "documents")
    graft.dedup.Incremental.verdicts(
      docs.filter(col("doc_id") % 10 === 0),
      docs.filter(col("doc_id") % 10 =!= 0))
      .orderBy("doc_id")
  }

  /** Keeper-POLICY dedup: clusters on the canonical content
    * fingerprint (sorted distinct token set — the same key as
    * [[dedupIncremental]]'s exact tier) and keeps the BEST member
    * instead of the first: highest total token count (most complete
    * version), ties to the lowest id. Production near-dup pipelines
    * keep best-quality, not first-seen — min-id keeping
    * ([[dedupComponents]]) silently prefers whichever crawl shard got
    * the smaller ids. Token-less docs carry a null fingerprint and
    * stay their own singleton cluster on both sides.
    *
    * Shape at 100TB: one shuffle on the fingerprint; both windows
    * (size, keeper pick) share that one exchange. */
  val dedupKeepBest: Q = Q(
    "q_dedup_keep_best",
    s"""WITH $shingleSql,
       |fp AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
       |    CASE WHEN len(toks) = 0 THEN NULL
       |         ELSE md5(list_aggregate(list_sort(list_distinct(toks)),
       |                                 'string_agg', '|')) END AS fp
       |  FROM t)
       |SELECT doc_id, n_toks,
       |  CAST(CASE WHEN fp IS NULL THEN 1
       |       ELSE COUNT(*) OVER (PARTITION BY fp) END AS BIGINT)
       |    AS cluster_size,
       |  CASE WHEN fp IS NULL THEN doc_id
       |       ELSE FIRST_VALUE(doc_id) OVER (PARTITION BY fp
       |              ORDER BY n_toks DESC, doc_id) END AS keeper_id,
       |  doc_id = CASE WHEN fp IS NULL THEN doc_id
       |       ELSE FIRST_VALUE(doc_id) OVER (PARTITION BY fp
       |              ORDER BY n_toks DESC, doc_id) END AS is_kept
       |FROM fp ORDER BY doc_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val toks = Text.tokens(col("text"))
    val fp = Tables.load(s, d, "documents")
      .select(col("doc_id"), size(toks).cast(LongType).as("n_toks"),
        graft.dedup.Incremental.contentFingerprint(toks).as("fp"))
    val byFp = Window.partitionBy("fp")
    val keeperW = Window.partitionBy("fp")
      .orderBy(col("n_toks").desc, col("doc_id"))
    fp.select(col("doc_id"), col("n_toks"),
        when(col("fp").isNull, 1L)
          .otherwise(count(lit(1)).over(byFp)).as("cluster_size"),
        when(col("fp").isNull, col("doc_id"))
          .otherwise(first(col("doc_id")).over(keeperW)).as("keeper_id"))
      .withColumn("is_kept", col("doc_id") === col("keeper_id"))
      .orderBy("doc_id")
  }

  /** Train/eval near-dup LEAKAGE audit: an md5-gated 80/20 document
    * split (the [[graft.queries.ScaleOps.splitByKey]] gate) is
    * leakage-safe only for EXACT duplicates — a near-duplicate pair
    * straddling the boundary still inflates eval scores. This query
    * lists every verified near-dup pair (minhash candidates, Jaccard
    * >= 0.5 — the [[minhashLsh]] chain) whose members land in
    * DIFFERENT splits, oriented (train_doc, eval_doc) — the
    * pre-training eval-hygiene check run before any held-out score is
    * trusted.
    *
    * Shape at 100TB: identical to [[minhashLsh]] (banded candidates,
    * size-adaptive verify join) plus a map-side split gate — the audit costs
    * one extra projection over the dedup pass you already run. */
  val splitLeakage: Q = Q(
    "q_split_leakage",
    s"""WITH $shingleSql,
       |${MinHash.oracleCtes},
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |$jaccardSql,
       |ver AS (SELECT c.doc_a, c.doc_b, j.jaccard,
       |          md5(CAST(c.doc_a AS VARCHAR)) < 'cc' AS train_a,
       |          md5(CAST(c.doc_b AS VARCHAR)) < 'cc' AS train_b
       |        FROM cand c JOIN jac j
       |          ON c.doc_a = j.doc_a AND c.doc_b = j.doc_b
       |        WHERE j.jaccard >= 0.5)
       |SELECT CASE WHEN train_a THEN doc_a ELSE doc_b END AS train_doc,
       |       CASE WHEN train_a THEN doc_b ELSE doc_a END AS eval_doc,
       |       jaccard
       |FROM ver WHERE train_a <> train_b
       |ORDER BY train_doc, eval_doc""".stripMargin) { (s, d) =>
    def isTrain(c: org.apache.spark.sql.Column) =
      md5(c.cast("string").cast("binary")) < "cc"
    MinHash.nearPairs(minhashDocs(s, d))
      .withColumn("train_a", isTrain(col("doc_a")))
      .withColumn("train_b", isTrain(col("doc_b")))
      .filter(col("train_a") =!= col("train_b"))
      .select(
        when(col("train_a"), col("doc_a")).otherwise(col("doc_b")).as("train_doc"),
        when(col("train_a"), col("doc_b")).otherwise(col("doc_a")).as("eval_doc"),
        col("jaccard"))
      .orderBy("train_doc", "eval_doc")
  }

  /** Exact cross-document substring dedup (the Lee et al. 2107.06499
    * "Deduplicating Training Data" primitive): maximal repeated
    * substrings of length >= 25 chars between document pairs, at
    * ARBITRARY alignment — the substring-level complement of the
    * chunk-aligned passage miner (q_dup_passages).
    *
    * Pipeline: winnow anchors WITH positions ([[graft.text.Winnow
    * .anchors]], k=8 w=4 — content-based sampling, so a shared
    * substring picks the SAME anchors in both docs regardless of
    * offset) -> df-capped inverted index (hot boilerplate anchors
    * excluded, the shingle-df-cap pattern) -> candidate (pair,
    * diagonal) groups where diagonal = pos_a - pos_b; a true match of
    * length >= 25 contains >= 3 disjoint full winnow windows strictly
    * inside it, so requiring >= 2 aligned shared anchors per diagonal
    * prunes single-gram coincidences without losing any reportable
    * match -> one verified maximal extension per diagonal from its
    * FIRST shared anchor (compiled char-loop UDF; a 64-bit hash
    * collision fails k-gram verification and reports nothing).
    *
    * Scale shape: anchor UDF behind repartition (narrow), one shuffle
    * on anchor hash for the index + merge-hinted self-join (one reused
    * exchange), one groupBy on (pair, diagonal), two doc-keyed joins to
    * attach texts only for surviving diagonals. No all-pairs anywhere;
    * the extension touches only supported candidates.
    *
    * FULL ORACLE: DuckDB replays the k=8 rolling hash as HUGEINT
    * residues (coefficients pre-reduced mod 2^64 so terms stay far from
    * the 128-bit bound), the packed rightmost-min winnow selection, the
    * df cap, the diagonal support filter, and the maximal extension as
    * correlated MAX(l)-over-range scans (prefix/suffix equality is
    * monotone in l, so MAX over the equality predicate equals the
    * engine's contiguous char walk). */
  /** The full substring-span oracle chain as a WITH body ending in a
    * `spans` CTE — shared by q_dedup_substring (reports spans) and
    * q_dedup_excise (acts on them), so the two can never drift. */
  private val substringSpansSql: String =
    """d AS (SELECT doc_id, text, length(text) AS n FROM documents),
      |pos AS (SELECT unnest(range(1,
      |    (SELECT MAX(length(text)) FROM documents) + 1)) AS i),
      |g AS (SELECT doc_id, i,
      |    (  ascii(substr(text, i,     1)) * CAST(12924618581234127435 AS HUGEINT)
      |     + ascii(substr(text, i + 1, 1)) * CAST(10923514805226455897 AS HUGEINT)
      |     + ascii(substr(text, i + 2, 1)) * CAST(14453212906556403763 AS HUGEINT)
      |     + ascii(substr(text, i + 3, 1)) * CAST(14003818205314896721 AS HUGEINT)
      |     + ascii(substr(text, i + 4, 1)) * CAST(1000009000027000027 AS HUGEINT)
      |     + ascii(substr(text, i + 5, 1)) * CAST(1000006000009 AS HUGEINT)
      |     + ascii(substr(text, i + 6, 1)) * CAST(1000003 AS HUGEINT)
      |     + ascii(substr(text, i + 7, 1))) % 18446744073709551616 AS h
      |  FROM d, pos WHERE i <= n - 7),
      |ng AS (SELECT doc_id, n - 7 AS ngrams FROM d WHERE n >= 8),
      |pk AS (SELECT doc_id, i, h,
      |    h * 4294967296 + (4294967295 - i) AS packed FROM g),
      |wmin AS (SELECT doc_id, i AS s,
      |    MIN(packed) OVER (PARTITION BY doc_id ORDER BY i
      |                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mp
      |  FROM pk),
      |selw AS (SELECT DISTINCT w.doc_id,
      |    CAST(4294967295 - (w.mp % 4294967296) AS BIGINT) AS p,
      |    w.mp // 4294967296 AS h
      |  FROM wmin w JOIN ng ON w.doc_id = ng.doc_id
      |  WHERE ng.ngrams > 4 AND w.s <= ng.ngrams - 3),
      |degen AS (SELECT pk.doc_id,
      |    CAST(4294967295 - (MIN(pk.packed) % 4294967296) AS BIGINT) AS p,
      |    MIN(pk.packed) // 4294967296 AS h
      |  FROM pk JOIN ng ON pk.doc_id = ng.doc_id
      |  WHERE ng.ngrams <= 4 GROUP BY pk.doc_id),
      |anch AS (SELECT doc_id, p, h FROM selw
      |         UNION ALL SELECT doc_id, p, h FROM degen),
      |idx AS (SELECT * FROM anch WHERE h NOT IN
      |    (SELECT h FROM anch GROUP BY h HAVING COUNT(*) > 64)),
      |cand AS (SELECT a.doc_id AS da, b.doc_id AS db, a.p AS pa, b.p AS pb
      |  FROM idx a JOIN idx b ON a.h = b.h AND a.doc_id < b.doc_id),
      |dgg AS (SELECT da, db, pa - pb AS dg, MIN(pa) AS pa
      |  FROM cand GROUP BY da, db, pa - pb HAVING COUNT(*) >= 2),
      |wt AS (SELECT dgg.da, dgg.db, dgg.pa, dgg.pa - dgg.dg AS pb,
      |    ta.text AS xa, ta.n AS na, tb.text AS xb, tb.n AS nb
      |  FROM dgg JOIN d ta ON dgg.da = ta.doc_id
      |           JOIN d tb ON dgg.db = tb.doc_id
      |  WHERE substr(ta.text, dgg.pa, 8) =
      |        substr(tb.text, dgg.pa - dgg.dg, 8)),
      |ext AS (SELECT da, db, pa, pb, xa,
      |    COALESCE((SELECT MAX(l)
      |      FROM (SELECT unnest(range(1, LEAST(pa, pb))) AS l)
      |      WHERE substr(xa, pa - l, l) = substr(xb, pb - l, l)), 0) AS back,
      |    COALESCE((SELECT MAX(r)
      |      FROM (SELECT unnest(range(1, LEAST(na - pa - 7, nb - pb - 7) + 1)) AS r)
      |      WHERE substr(xa, pa + 8, r) = substr(xb, pb + 8, r)), 0) AS fwd
      |  FROM wt),
      |spans AS (SELECT da AS doc_a, db AS doc_b,
      |    CAST(pa - back AS BIGINT) AS start_a,
      |    CAST(pb - back AS BIGINT) AS start_b,
      |    CAST(back + 8 + fwd AS BIGINT) AS match_len,
      |    md5(substr(xa, pa - back, back + 8 + fwd)) AS match_md5
      |  FROM ext WHERE back + 8 + fwd >= 25)""".stripMargin

  /** One span-mining pass per suite: q_dedup_substring (the detector
    * readout) and q_dedup_excise (the action) both consume the same
    * winnow-anchor span table, where each would otherwise run its own
    * mining join (~3s apiece at sf0.1). Spans are tiny relative to the corpus
    * (the natural SharedFrames checkpoint size). */
  private def repeatedSpansShared(
      s: org.apache.spark.sql.SparkSession, d: String) =
    graft.ops.SharedFrames.frame(s, d, "substring_spans") {
      graft.dedup.Substring
        .repeatedSpans(Tables.load(s, d, "documents"), "doc_id", "text")
    }

  /** Test hook (PlanShapeSpec): exposes the memoized span frame so the
    * one-build-per-suite property is assertable by reference equality. */
  private[graft] def sharedSpansForTest(
      s: org.apache.spark.sql.SparkSession, d: String) =
    repeatedSpansShared(s, d)

  val substringDedup: Q = Q(
    "q_dedup_substring",
    s"""WITH $substringSpansSql
      |SELECT doc_a, doc_b, start_a, start_b, match_len, match_md5
      |FROM spans
      |ORDER BY doc_a, doc_b, start_a, start_b""".stripMargin) { (s, d) =>
    // the oracle above replays Substring.repeatedSpans' DEFAULT
    // constants (k=8, w=4, dfCap=64, minSupport=2, minLen=25) — change
    // one and the other must follow
    repeatedSpansShared(s, d)
      .orderBy("doc_a", "doc_b", "start_a", "start_b")
  }

  /** Acting on the detected spans: EXCISE every repeated span from its
    * LATER document (keep-first policy — doc_a survives untouched, the
    * doc_b copy is cut), the actual dedup action of Lee et al.
    * 2107.06499. Per victim doc the spans are merged into disjoint
    * islands first (gaps-and-islands: running MAX(end) over the
    * start-ordered spans marks island breaks — overlapping and nested
    * matches collapse before any cutting), then the kept pieces are
    * stitched back in order and fingerprinted. Output is one row per
    * affected doc: span/island counts, removed chars, cleaned length,
    * and the md5 of the cleaned text — the hash proves both engines cut
    * the exact same characters.
    *
    * Shape at 100TB: spans are tiny relative to the corpus; the merge
    * is a per-doc window over them, and only AFFECTED docs join their
    * text. The stitch UDF walks each affected doc once. */
  val substringExcise: Q = Q(
    "q_dedup_excise",
    s"""WITH $substringSpansSql,
      |sp AS (SELECT doc_b AS doc_id, start_b AS s,
      |         start_b + match_len - 1 AS e FROM spans),
      |o AS (SELECT doc_id, s, e,
      |       MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
      |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
      |     FROM sp),
      |isl AS (SELECT doc_id, s, e,
      |         SUM(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
      |           OVER (PARTITION BY doc_id ORDER BY s, e
      |                 ROWS UNBOUNDED PRECEDING) AS isle
      |       FROM o),
      |m AS (SELECT doc_id, isle, COUNT(*) AS n_sp, MIN(s) AS s, MAX(e) AS e
      |      FROM isl GROUP BY 1, 2),
      |ordered AS (SELECT doc_id, n_sp, s, e,
      |         LAG(e, 1, CAST(0 AS BIGINT)) OVER (PARTITION BY doc_id ORDER BY s) AS pe
      |       FROM m),
      |pieces AS (SELECT o.doc_id,
      |         CAST(SUM(o.n_sp) AS BIGINT) AS n_spans,
      |         CAST(COUNT(*) AS BIGINT) AS n_islands,
      |         CAST(SUM(o.e - o.s + 1) AS BIGINT) AS removed_chars,
      |         string_agg(substr(d.text, o.pe + 1, o.s - o.pe - 1), ''
      |                    ORDER BY o.s) AS kept_head,
      |         MAX(o.e) AS last_e
      |       FROM ordered o JOIN d ON o.doc_id = d.doc_id GROUP BY o.doc_id)
      |SELECT p.doc_id, p.n_spans, p.n_islands, p.removed_chars,
      |  CAST(d.n - p.removed_chars AS BIGINT) AS cleaned_len,
      |  md5(p.kept_head || substr(d.text, p.last_e + 1)) AS cleaned_md5
      |FROM pieces p JOIN d ON p.doc_id = d.doc_id
      |ORDER BY p.doc_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.load(s, d, "documents").select(col("doc_id"), col("text"))
    val spans = repeatedSpansShared(s, d)
    val sp = spans.select(col("doc_b").as("doc_id"), col("start_b").as("s"),
      (col("start_b") + col("match_len") - 1).as("e"))
    val wOrd = Window.partitionBy("doc_id").orderBy("s", "e")
    val isl = sp
      .withColumn("pm", max(col("e")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("isle", sum(
        when(col("pm").isNull || col("s") > col("pm"), 1).otherwise(0))
        .over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val m = isl.groupBy("doc_id", "isle")
      .agg(count(lit(1)).as("n_sp"), min(col("s")).as("s"), max(col("e")).as("e"))
    val ordered = m.withColumn("pe",
      lag(col("e"), 1, 0L).over(Window.partitionBy("doc_id").orderBy("s")))
    val joined = ordered
      .join(docs, Seq("doc_id"))
      .withColumn("piece",
        expr("substring(text, cast(pe + 1 as int), cast(s - pe - 1 as int))"))
    val pieces = joined.groupBy("doc_id")
      .agg(
        sum(col("n_sp")).as("n_spans"),
        count(lit(1)).as("n_islands"),
        sum(col("e") - col("s") + 1).as("removed_chars"),
        // order-free stitch: sort the (start, piece) structs by the
        // unique island start, then join — collect_list order is
        // nondeterministic, the array_sort is what pins it
        array_join(transform(
          array_sort(collect_list(struct(col("s"), col("piece")))),
          x => x.getField("piece")), "").as("kept_head"),
        max(col("e")).as("last_e"))
    pieces
      .join(docs, Seq("doc_id"))
      .select(col("doc_id"), col("n_spans"), col("n_islands"),
        col("removed_chars"),
        (length(col("text")).cast("long") - col("removed_chars")).as("cleaned_len"),
        md5(concat(col("kept_head"),
          expr("substring(text, cast(last_e + 1 as int))"))).as("cleaned_md5"))
      .orderBy("doc_id")
  }

  /** Content-defined chunk dedup ([[graft.dedup.Cdc]] — LBFS SOSP'01 /
    * FastCDC ATC'16): each document splits at rolling-hash boundaries
    * (K=8 Rabin-Karp window, cut when h ≡ 0 mod 64, expected chunk
    * ≈ 64 chars), then chunks dedup by content across the corpus —
    * the storage/near-dup primitive that survives insertions, because
    * boundaries follow content, not offsets.
    *
    * Shape at scale: chunking is one compiled map-side pass behind the
    * repartition; global duplicate marking is a COUNT window over ONE
    * exchange on the chunk fingerprint (the q_text_novelty no-join-back
    * shape), then one exchange back to doc_id for the rollup. Never an
    * all-pairs or a join against a chunk dictionary.
    *
    * Oracle: the stateless cut predicate is a pure per-position test,
    * so DuckDB enumerates k-gram positions, replays the residue sum
    * with mod-2^64-reduced power coefficients (the q_dedup_substring
    * HUGEINT discipline; 64 divides 2^64, so the cut test needs no
    * final reduction), rebuilds chunks with LAG over the cut set, and
    * re-counts occurrences per md5. */
  val cdcDedup: Q = Q(
    "q_dedup_cdc",
    // B = 1000003; coefficients are B^7..B^1 mod 2^64 (pre-reduced:
    // HUGEINT would overflow at true-precision B^7)
    """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
      |pos AS (SELECT unnest(range(1,
      |    (SELECT MAX(length(text)) FROM documents) + 1)) AS i),
      |cut AS (SELECT doc_id, i + 7 AS e FROM d, pos
      |  WHERE i <= n - 8 AND
      |   (  ascii(substr(text, i,     1)) * CAST(12924618581234127435 AS HUGEINT)
      |    + ascii(substr(text, i + 1, 1)) * CAST(10923514805226455897 AS HUGEINT)
      |    + ascii(substr(text, i + 2, 1)) * CAST(14453212906556403763 AS HUGEINT)
      |    + ascii(substr(text, i + 3, 1)) * CAST(14003818205314896721 AS HUGEINT)
      |    + ascii(substr(text, i + 4, 1)) * CAST(1000009000027000027 AS HUGEINT)
      |    + ascii(substr(text, i + 5, 1)) * CAST(1000006000009 AS HUGEINT)
      |    + ascii(substr(text, i + 6, 1)) * CAST(1000003 AS HUGEINT)
      |    + ascii(substr(text, i + 7, 1))) % 64 = 0),
      |b AS (SELECT doc_id, e,
      |        COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY e), 0) AS p
      |      FROM cut),
      |mid AS (SELECT b.doc_id, substr(d.text, b.p + 1, b.e - b.p) AS chunk
      |        FROM b JOIN d ON b.doc_id = d.doc_id),
      |tail AS (SELECT d.doc_id, substr(d.text, COALESCE(mx.mx, 0) + 1) AS chunk
      |         FROM d LEFT JOIN (SELECT doc_id, MAX(e) AS mx FROM cut
      |                           GROUP BY doc_id) mx
      |           ON d.doc_id = mx.doc_id),
      |ch AS (SELECT doc_id, chunk FROM mid
      |       UNION ALL SELECT doc_id, chunk FROM tail),
      |occ AS (SELECT doc_id, chunk,
      |          COUNT(*) OVER (PARTITION BY md5(chunk)) AS n_occ FROM ch)
      |SELECT doc_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
      |  CAST(SUM(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dup_chunks,
      |  CAST(SUM(length(chunk)) AS BIGINT) AS n_chars,
      |  CAST(SUM(CASE WHEN n_occ >= 2 THEN length(chunk) ELSE 0 END) AS BIGINT)
      |    AS dup_chars
      |FROM occ GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    // single-file input: repartition FIRST so the compiled chunker
    // runs on all cores (the q_dedup_minhash lesson)
    val chunks = Tables.load(s, d, "documents")
      .repartition(32)
      .select(col("doc_id"),
        explode(graft.dedup.Cdc.chunkUdf(col("text"))).as("chunk"))
    val occ = chunks.withColumn("n_occ",
      count(lit(1)).over(Window.partitionBy(md5(col("chunk")))))
    occ.groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("n_occ") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"),
        sum(length(col("chunk")).cast(LongType)).as("n_chars"),
        sum(when(col("n_occ") >= 2, length(col("chunk")).cast(LongType))
          .otherwise(0L)).as("dup_chars"))
      .orderBy("doc_id")
  }

  val all: Seq[Q] = Seq(
    ngramJaccard, minhashLsh, minhashEstimate, simhashPairs, hybridRrf,
    embedCosineDup, annTopK, annLsh, annIvf, approxDistinct,
    dedupComponents, decontamOverlap, dupPassages, fuzzyNameJoin, kmeansFx,
    semanticDedup, embedQuantize, embedPq, annPq, annIvfPq, annIvfPqRerank,
    annRecall,
    dedupIncremental, dedupKeepBest,
    splitLeakage, substringDedup, substringExcise, cdcDedup)
}
