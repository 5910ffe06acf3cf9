package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Session, Tables}

/** Wave 11 — link-analysis scoring, community quality, and the audio
  * half of the multimodal surface. Same determinism contract: integer
  * max-normalization (one truncating division per round), single
  * exact divisions in the DECIMAL(38)/HUGEINT lane, and byte-walk
  * oracles over the deterministic asset builders.
  */
object Wave11 {

  val HitsRounds = 4

  /** HITS hubs-and-authorities (Kleinberg 1999) on the bipartite
    * customer→supplier purchase graph, FIXED-ROUND like the other
    * iterative kernels: each round sums hub scores into authority
    * scores and back, max-normalizing both sides to 10⁶ with ONE
    * truncating DECIMAL(38) division per node (pow-free, so every
    * round replays bit-exactly; float HITS normalizes by an L2 norm —
    * a sqrt of a SUM, not IEEE-replayable — so the integer max-norm
    * variant is the portable formulation). The oracle is a generated
    * MATERIALIZED CTE chain sharing [[HitsRounds]].
    *
    * Shape at 100TB: the edge list builds once (fact join, distinct)
    * and persists pre-partitioned on the hub key; per round the
    * node-sized score tables shuffle into two joins + two aggregates
    * — scores are O(V), never broadcast; the max is a one-row
    * broadcast. Lazy per-round localCheckpoints keep the witness-free
    * chain single-execution (the LPA lesson).
    */
  val hitsScores: Q = {
    val rounds = (1 to HitsRounds).map { i =>
      s"""ar$i AS MATERIALIZED (SELECT ed.s, CAST(SUM(h.score) AS BIGINT) AS raw
         |  FROM ed JOIN h${i - 1} h ON h.c = ed.c GROUP BY ed.s),
         |am$i AS (SELECT MAX(raw) AS mx FROM ar$i),
         |a$i AS MATERIALIZED (SELECT s,
         |  CAST(CAST(raw AS HUGEINT) * 1000000 // mx AS BIGINT) AS score
         |  FROM ar$i, am$i),
         |hr$i AS MATERIALIZED (SELECT ed.c, CAST(SUM(a.score) AS BIGINT) AS raw
         |  FROM ed JOIN a$i a ON a.s = ed.s GROUP BY ed.c),
         |hm$i AS (SELECT MAX(raw) AS mx FROM hr$i),
         |h$i AS MATERIALIZED (SELECT c,
         |  CAST(CAST(raw AS HUGEINT) * 1000000 // mx AS BIGINT) AS score
         |  FROM hr$i, hm$i)""".stripMargin
    }.mkString(",\n")
    Q(
      "q_hits_scores",
      s"""WITH ed AS MATERIALIZED (SELECT DISTINCT o.o_custkey AS c,
         |    l.l_suppkey AS s
         |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         |h0 AS MATERIALIZED (SELECT DISTINCT c,
         |  CAST(1000000 AS BIGINT) AS score FROM ed),
         |$rounds
         |SELECT role, id, score FROM (
         |  SELECT 'auth' AS role, s AS id, score FROM a$HitsRounds
         |  UNION ALL
         |  SELECT 'hub' AS role, c AS id, score FROM h$HitsRounds)
         |ORDER BY role, id""".stripMargin) { (s, d) =>
      val np = Session.partitions(s)
      // r15 (guide §2.4, two operations keyed the same way share one
      // exchange): repartition(c) FIRST, then dedup — hashpartitioning
      // on c satisfies the (c, s) clustered distribution, so the
      // distinct aggregate rides the repartition exchange instead of
      // adding its own (c, s) exchange: one edge-sized shuffle, not
      // two, and the cache keeps the c-partitioning the rounds need.
      val ed = Tables.load(s, d, "orders").select("o_orderkey", "o_custkey")
        .join(Tables.load(s, d, "lineitem").select("l_orderkey", "l_suppkey"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
        .repartition(np, col("c"))
        .dropDuplicates("c", "s")
        .persist() // 2 joins per round reuse one edge build
      def norm(raw: DataFrame, key: String): DataFrame = {
        val mx = raw.agg(max(col("raw")).as("mx"))
        raw.crossJoin(broadcast(mx))
          .select(col(key),
            expr("CAST(CAST(raw AS DECIMAL(38,0)) * 1000000 div mx AS BIGINT)")
              .as("score"))
          .localCheckpoint(false)
      }
      var h = ed.select(col("c")).distinct()
        .withColumn("score", lit(1000000L))
        .localCheckpoint(false)
      var a: DataFrame = null
      // Score frames are node-set-sized localCheckpoints — stats-less
      // LogicalRDDs that would otherwise plan as SortMergeJoins and
      // reshuffle the 500k-row edge cache TWICE per round (the r8b
      // k-core lesson). Broadcasting them keeps every round's joins
      // map-side: the s-half pays only its groupBy(s) exchange, and
      // the c-half is exchange-FREE (the broadcast join preserves the
      // edge cache's c-partitioning straight into groupBy(c)).
      (1 to HitsRounds).foreach { _ =>
        val araw = ed
          .join(broadcast(h.select(col("c"), col("score"))), "c")
          .groupBy("s").agg(sum(col("score")).as("raw"))
          .localCheckpoint(false)
        a = norm(araw, "s")
        val hraw = ed
          .join(broadcast(a.select(col("s"), col("score"))), "s")
          .groupBy("c").agg(sum(col("score")).as("raw"))
          .localCheckpoint(false)
        h = norm(hraw, "c")
      }
      a.select(lit("auth").as("role"), col("s").as("id"), col("score"))
        .unionAll(
          h.select(lit("hub").as("role"), col("c").as("id"), col("score")))
        .orderBy("role", "id")
    }
  }

  /** Newman modularity of the q_graph_labelprop communities — the
    * community-QUALITY metric next to the detector (Newman & Girvan
    * 2004), as one exact division: Q·4m² = Σ_c (4·m·e_c − d_c²), so
    * q_ppm = (Σ contrib)·10⁶ div (4m²) in the DECIMAL(38)/HUGEINT
    * lane with no per-community rounding. Shares the LPA round
    * scaffolding with the detector on BOTH sides (engine helper +
    * generated CTE chain), so metric and detector cannot drift.
    *
    * Shape at 100TB: labels (localCheckpointed, node-sized) join the
    * oriented edge list once per endpoint; per-community sums are two
    * small aggregates; m and the total are one-row broadcasts.
    */
  val graphModularity: Q = Q(
    "q_graph_modularity",
    s"""WITH ${Wave10.lpaChainSql},
       |m AS (SELECT COUNT(*) AS m FROM e),
       |wi AS (SELECT lu.lbl AS community, COUNT(*) AS e_in
       |  FROM e JOIN l${Wave10.LpaRounds} lu ON lu.node = e.u
       |         JOIN l${Wave10.LpaRounds} lv ON lv.node = e.v
       |  WHERE lu.lbl = lv.lbl GROUP BY 1),
       |deg AS (SELECT u AS node, COUNT(*) AS deg FROM eu GROUP BY 1),
       |ds AS (SELECT l.lbl AS community, CAST(SUM(deg.deg) AS BIGINT) AS d_sum,
       |    COUNT(*) AS n_members
       |  FROM l${Wave10.LpaRounds} l JOIN deg ON deg.node = l.node
       |  GROUP BY 1),
       |per AS (SELECT ds.community, ds.n_members,
       |    COALESCE(wi.e_in, 0) AS e_in, ds.d_sum,
       |    CAST(4 * CAST(m.m AS HUGEINT) * COALESCE(wi.e_in, 0)
       |         - CAST(ds.d_sum AS HUGEINT) * ds.d_sum AS BIGINT) AS contrib
       |  FROM ds LEFT JOIN wi ON wi.community = ds.community, m),
       |qt AS (SELECT CAST(SUM(CAST(contrib AS HUGEINT)) * 1000000
       |    // (4 * CAST(m.m AS HUGEINT) * m.m) AS BIGINT) AS q_ppm
       |  FROM per, m GROUP BY m.m)
       |SELECT per.community, per.n_members, per.e_in, per.d_sum,
       |  per.contrib, qt.q_ppm
       |FROM per, qt ORDER BY community""".stripMargin) { (s, d) =>
    // m and e_in derive from the CACHED symmetric edge list (every
    // undirected edge appears exactly twice, so halves are exact
    // integers) — going back to `e` would re-run the pair self-join
    // once per consumer (measured: 6.1s -> ~4s in-suite sf0.1)
    val (_, eu, labels, _) = Wave10.lpaLabels(s, d)
    val m = eu.agg(expr("CAST(COUNT(1) div 2 AS BIGINT)").as("m"))
    val within = eu
      .join(labels.toDF("u", "cu"), "u")
      .join(labels.toDF("v", "cv"), "v")
      .filter(col("cu") === col("cv"))
      .groupBy(col("cu").as("community"))
      .agg(expr("CAST(COUNT(1) div 2 AS BIGINT)").as("e_in"))
    val deg = eu.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
    val ds = labels.join(deg, "node")
      .groupBy(col("lbl").as("community"))
      .agg(sum(col("deg")).as("d_sum"), count(lit(1)).as("n_members"))
    val per = ds.join(within, Seq("community"), "left")
      .withColumn("e_in", coalesce(col("e_in"), lit(0L)))
      .crossJoin(broadcast(m))
      .withColumn("contrib",
        expr("""CAST(4 * CAST(m AS DECIMAL(38,0)) * e_in
               |     - CAST(d_sum AS DECIMAL(38,0)) * d_sum AS BIGINT)"""
          .stripMargin))
      .localCheckpoint(false) // referenced by the total AND the output
    val qt = per.groupBy(col("m"))
      .agg(sum(col("contrib")).as("qn"))
      .select(expr("""CAST(CAST(qn AS DECIMAL(38,0)) * 1000000
                     |     div (4 * CAST(m AS DECIMAL(38,0)) * m) AS BIGINT)"""
        .stripMargin).as("q_ppm"))
    per.crossJoin(broadcast(qt))
      .select(col("community"), col("n_members"), col("e_in"), col("d_sum"),
        col("contrib"), col("q_ppm"))
      .orderBy("community")
  }

  /** Audio-frame energy + voice-activity detection over binary
    * payloads: the byte stream is read as unsigned 8-bit PCM samples
    * (the [[graft.multimodal.Multimodal.assetsFromDocuments]] builder,
    * same ASCII contract as the frame sampler), cut into 160-sample
    * frames (20ms at 8kHz), and each frame gets its exact integer
    * energy Σ(s−128)² and a threshold VAD decision — the
    * silence-trimming / speech-segmentation front of every audio
    * training pipeline, with the real codec a JNI decoder away (the
    * frame shape is the part that matters). The oracle replays the
    * byte walk with ascii() exactly.
    *
    * Shape at 100TB: one narrow compiled flatMap behind the
    * repartition — no shuffle at all before the output sort.
    */
  val audioEnergyVad: Q = Q(
    "q_audio_energy_vad",
    """WITH pos AS (SELECT unnest(range(0,
      |    (SELECT COALESCE(MAX(length(text)), 0) FROM documents))) AS i),
      |b AS (SELECT doc_id, i // 160 AS frame_no,
      |    ascii(substr(text, CAST(i + 1 AS BIGINT), 1)) - 128 AS v
      |  FROM documents, pos WHERE i < length(text))
      |SELECT doc_id AS asset_id, frame_no, COUNT(*) AS n_samples,
      |  CAST(SUM(CAST(v * v AS BIGINT)) AS BIGINT) AS energy,
      |  CAST(SUM(CAST(v * v AS BIGINT)) AS BIGINT) > COUNT(*) * 2000
      |    AS is_speech
      |FROM b GROUP BY 1, 2
      |ORDER BY asset_id, frame_no""".stripMargin) { (s, d) =>
    import graft.multimodal.Multimodal
    val np = Session.partitions(s)
    import s.implicits._
    Multimodal.assetsFromDocuments(s, d).repartition(np)
      .flatMap { a =>
        a.payload.grouped(160).zipWithIndex.map { case (chunk, i) =>
          var e = 0L
          var k = 0
          while (k < chunk.length) {
            val v = (chunk(k) & 0xff) - 128
            e += v.toLong * v
            k += 1
          }
          (a.asset_id, i.toLong, chunk.length.toLong, e)
        }
      }
      .toDF("asset_id", "frame_no", "n_samples", "energy")
      .withColumn("is_speech", col("energy") > col("n_samples") * 2000L)
      .orderBy("asset_id", "frame_no")
  }

  val all: Seq[Q] = Seq(hitsScores, graphModularity, audioEnergyVad)
}
