package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Session, Tables}

/** Wave 41 — exact sliding-window distincts and label-noise auditing:
  * trailing-7-day active users per day via the island/difference-array
  * decomposition (the exact alternative to approximate sliding HLLs),
  * and a confident-learning style audit of labels against their
  * KNN-majority (Northcutt et al., JAIR 2021).
  */
object Wave41 {

  private val WinDays = 7L

  /** Exact trailing-7-day active-user count per day. Sliding distinct
    * does NOT decompose over days (a user active twice in a window
    * must count once), so the query decomposes over USERS instead:
    * each user's active days split into islands with gaps > 6 days;
    * an island [s, e] contributes that user to every day in
    * [s, e + 6]; the day readout is a difference array (+1 at s, -1
    * at e + 7) prefix-summed over the calendar spine. Every step is
    * exact — no sketch, no per-day re-scan of the window.
    *
    * Shape at 100TB: one (user, day) dedup aggregate, one user-keyed
    * island window (lag + running group id), one island aggregate —
    * all keyed by user — then a calendar-dictionary prefix sum
    * (BoundedWindow: days are time-span-bounded). The trailing window
    * is never materialized; a 90-day window costs exactly the same.
    */
  val slidingDistinct: Q = Q(
    "q_sliding_distinct",
    s"""WITH ud AS (SELECT DISTINCT user_id,
       |    epoch_ms(ts) // 86400000 AS day FROM events),
       |isl AS (SELECT user_id, day,
       |    CASE WHEN day - LAG(day) OVER w > ${WinDays - 1} OR
       |      LAG(day) OVER w IS NULL THEN 1 ELSE 0 END AS brk
       |  FROM ud WINDOW w AS (PARTITION BY user_id ORDER BY day)),
       |grp AS (SELECT user_id, day,
       |    SUM(brk) OVER (PARTITION BY user_id ORDER BY day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
       |  FROM isl),
       |iv AS (SELECT user_id, gid, MIN(day) AS s, MAX(day) AS e
       |  FROM grp GROUP BY 1, 2),
       |diff AS (SELECT s AS day, 1 AS delta FROM iv
       |  UNION ALL SELECT e + $WinDays, -1 FROM iv),
       |dd AS (SELECT day, CAST(SUM(delta) AS BIGINT) AS delta
       |  FROM diff GROUP BY 1),
       |bounds AS (SELECT MIN(day) AS mn, MAX(day) AS mx FROM ud),
       |spine AS (SELECT unnest(range(mn, mx + 1)) AS day FROM bounds),
       |daily AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n_day FROM ud
       |  GROUP BY 1)
       |SELECT sp.day,
       |  CAST(SUM(COALESCE(dd.delta, 0)) OVER (ORDER BY sp.day
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS active_7d,
       |  COALESCE(daily.n_day, 0) AS n_day
       |FROM spine sp LEFT JOIN dd ON dd.day = sp.day
       |LEFT JOIN daily ON daily.day = sp.day
       |ORDER BY sp.day""".stripMargin) { (s, d) =>
    val np = Session.partitions(s)
    val ud = Tables.load(s, d, "events").repartition(np, col("user_id"))
      .select(col("user_id"),
        expr("unix_millis(CAST(ts AS TIMESTAMP)) div 86400000").as("day"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
    val iv = ud
      .withColumn("brk",
        when(lag(col("day"), 1).over(w).isNull ||
          col("day") - lag(col("day"), 1).over(w) > (WinDays - 1), 1L)
          .otherwise(0L))
      .withColumn("gid", sum("brk").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "gid")
      .agg(min("day").as("s"), max("day").as("e"))
    val dd = iv.select(col("s").as("day"), lit(1L).as("delta"))
      .unionAll(iv.select((col("e") + WinDays).as("day"), lit(-1L).as("delta")))
      .groupBy("day").agg(sum("delta").as("delta"))
    val bounds = ud.agg(min("day").as("mn"), max("day").as("mx"))
    val spine = bounds.select(explode(sequence(col("mn"), col("mx"))).as("day"))
    val daily = ud.groupBy("day").agg(count(lit(1)).as("n_day"))
    spine.join(dd, Seq("day"), "left").join(daily, Seq("day"), "left")
      .select(col("day"),
        sum(coalesce(col("delta"), lit(0L))).over(
          graft.ops.BoundedWindow.single(col("day"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("active_7d"),
        coalesce(col("n_day"), lit(0L)).as("n_day"))
      .orderBy("day")
  }

  /** Confident-learning label audit (Northcutt et al., JAIR 2021,
    * the counting core): for a 5% audit sample, each point's label is
    * checked against the majority label of its 5 nearest reference
    * points (exact fx dot, ties to lower vec_id / lower label). The
    * readout is the (given, knn) confusion matrix with each given
    * label's off-diagonal noise rate in ppm — the "which class's
    * labels to re-annotate first" table.
    *
    * Shape at 100TB: the audit sample broadcasts against the
    * never-shuffled corpus (the q_knn_classify posture); top-5 via
    * per-probe group limit; the matrix is labels x labels. The IVF
    * index replaces brute-force scoring at billion-vector scale.
    */
  val labelNoise: Q = Q(
    "q_label_noise",
    s"""WITH ${DedupSim.compSql},
       |au AS (SELECT vec_id AS probe_id, label AS given FROM e
       |  WHERE vec_id % 20 = 3),
       |dots AS (SELECT p.probe_id, a.vec_id,
       |    CAST(SUM(CAST(FLOOR(a.v * q.v * 1e15) AS BIGINT)) AS BIGINT) AS dotfx
       |  FROM comp a JOIN au p ON a.vec_id % 20 <> 3
       |  JOIN comp q ON q.vec_id = p.probe_id AND q.i = a.i
       |  GROUP BY 1, 2),
       |top AS (SELECT probe_id, vec_id FROM (
       |    SELECT probe_id, vec_id, ROW_NUMBER() OVER (PARTITION BY probe_id
       |      ORDER BY dotfx DESC, vec_id) AS rk
       |    FROM dots) t WHERE rk <= 5),
       |votes AS (SELECT t.probe_id, e.label, COUNT(*) AS v
       |  FROM top t JOIN e ON e.vec_id = t.vec_id GROUP BY 1, 2),
       |maj AS (SELECT probe_id, label AS knn FROM (
       |    SELECT probe_id, label, ROW_NUMBER() OVER (PARTITION BY probe_id
       |      ORDER BY v DESC, label) AS rk
       |    FROM votes) t WHERE rk = 1),
       |cm AS (SELECT a.given, m.knn, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM au a JOIN maj m ON m.probe_id = a.probe_id GROUP BY 1, 2)
       |SELECT given, knn, n,
       |  CAST(SUM(CASE WHEN given <> knn THEN n ELSE 0 END)
       |      OVER (PARTITION BY given) * 1000000
       |    // SUM(n) OVER (PARTITION BY given) AS BIGINT) AS noise_ppm
       |FROM cm ORDER BY given, knn""".stripMargin) { (s, d) =>
    import graft.ml.Embeddings.fxDot
    val np = Session.partitions(s)
    val emb = Tables.load(s, d, "embeddings")
    val au = emb.filter(col("vec_id") % 20 === 3)
      .select(col("vec_id").as("probe_id"), col("label").as("given"),
        col("embedding").as("ep"))
    val ref = emb.filter(col("vec_id") % 20 =!= 3)
      .select(col("vec_id"), col("label"), col("embedding"))
      .repartition(np)
    val scored = ref.crossJoin(broadcast(au))
      .select(col("probe_id"), col("vec_id"), col("label"),
        fxDot(col("embedding"), col("ep")).as("dotfx"))
    val top = graft.ops.TopK.perGroup(scored,
      partitionBy = Seq(col("probe_id")),
      orderBy = Seq(col("dotfx").desc, col("vec_id").asc),
      k = 5, rankCol = "rk")
    val votes = top.groupBy("probe_id", "label").agg(count(lit(1)).as("v"))
    val maj = votes.withColumn("rk", row_number().over(
        Window.partitionBy("probe_id").orderBy(col("v").desc, col("label"))))
      .filter(col("rk") === 1)
      .select(col("probe_id"), col("label").as("knn"))
    val cm = au.select("probe_id", "given").join(maj, "probe_id")
      .groupBy("given", "knn").agg(count(lit(1)).as("n"))
    val wg = Window.partitionBy("given")
    cm.select(col("given"), col("knn"), col("n"),
        expr("CAST(given <> knn AS INT)").as("od"))
      .select(col("given"), col("knn"), col("n"),
        (sum(col("od") * col("n")).over(wg) * 1000000L).as("odn"),
        sum("n").over(wg).as("tot"))
      .select(col("given"), col("knn"), col("n"),
        expr("odn div tot").as("noise_ppm"))
      .orderBy("given", "knn")
  }

  val all: Seq[Q] = Seq(slidingDistinct, labelNoise)
}
