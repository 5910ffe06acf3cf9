package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Session, Tables}
import graft.ops.Iterate
import graft.functions.Exact._
import graft.functions.Hex
import graft.text.Text

/** Wave 9 — exact-integer time-series smoothing, sequential change
  * detection, and leakage-safe feature encoding.
  *
  * Everything here keeps the cross-engine determinism contract: dyadic
  * weights (shifts, not pow), floor divisions of exact integers, and
  * quartile interpolation (weights in {0, .25, .5, .75} are exact binary
  * fractions, so both engines see identical doubles).
  */
object Wave9 {

  /** Dyadic-decay moving average of daily order revenue: weight 2^(15-lag)
    * over the trailing 16 days — an EMA whose weights are exact powers of
    * two, so the whole smoother is one integer division per day (pow/exp
    * never replay cross-engine; shifts always do). `wsum` exposes the
    * realized window mass (gaps in the calendar shrink it), making the
    * normalization auditable.
    *
    * Shape at 100TB: the raw table aggregates once to a per-day series
    * (days don't scale with data volume), and the trailing window is a
    * broadcast band self-join of that tiny series — the fact scan never
    * joins anything.
    */
  val tsEma: Q = Q(
    "q_ts_ema",
    """WITH dtot AS (
      |  SELECT epoch_ms(o_orderdate) // 86400000 AS day,
      |         CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
      |           AS cents
      |  FROM orders GROUP BY 1),
      |w AS (
      |  SELECT a.day,
      |         b.cents * (CAST(1 AS BIGINT) << CAST(15 - (a.day - b.day) AS INTEGER))
      |           AS wx,
      |         (CAST(1 AS BIGINT) << CAST(15 - (a.day - b.day) AS INTEGER)) AS w
      |  FROM dtot a JOIN dtot b ON b.day BETWEEN a.day - 15 AND a.day)
      |SELECT day, CAST(SUM(w) AS BIGINT) AS wsum,
      |  CAST(SUM(wx) // SUM(w) AS BIGINT) AS ema_cents
      |FROM w GROUP BY day ORDER BY day""".stripMargin) { (s, d) =>
    val dtot = Tables.load(s, d, "orders")
      .groupBy(graft.functions.Exact.bucket(ms(col("o_orderdate")), 86400000L)
        .as("day"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
    dtot.as("a")
      .join(broadcast(dtot.as("b")),
        col("b.day") >= col("a.day") - 15 && col("b.day") <= col("a.day"))
      .select(col("a.day").as("day"), col("b.cents").as("cents"),
        (col("a.day") - col("b.day")).cast("int").as("lag"))
      .withColumn("w", expr("shiftleft(1L, 15 - lag)"))
      .groupBy("day")
      .agg(sum(col("w")).as("wsum"), sum(col("cents") * col("w")).as("wxsum"))
      .select(col("day"), col("wsum"),
        expr("wxsum div wsum").as("ema_cents"))
      .orderBy("day")
  }

  /** One-sided CUSUM change detection over the hourly event-rate series,
    * in pure integers: deviations are mean-centered WITHOUT division
    * (c = x·n − Σx, i.e. n·(x − mean)), and the sequential recursion
    * S_i = max(0, S_{i-1} + c_i) is computed closed-form as
    * P_i − min(0, min_{j≤i} P_j) over running prefix sums — two window
    * passes instead of an inherently serial scan. The alarm fires when
    * the accumulated drift exceeds 4 mean-hours (scaled: cusum > 4·Σx).
    *
    * Shape at 100TB: the stream aggregates once to (type, hour); the
    * per-type totals are a tiny broadcast; the windows partition by type.
    */
  val anomalyCusum: Q = Q(
    "q_anomaly_cusum",
    """WITH h AS (SELECT event_type, epoch_ms(ts) // 3600000 AS hr,
      |             COUNT(*) AS x
      |           FROM events GROUP BY 1, 2),
      |s AS (SELECT event_type, CAST(SUM(x) AS BIGINT) AS tot, COUNT(*) AS n
      |      FROM h GROUP BY 1),
      |p AS (SELECT h.event_type, h.hr, h.x, s.tot,
      |        CAST(SUM(h.x * s.n - s.tot)
      |             OVER (PARTITION BY h.event_type ORDER BY h.hr) AS BIGINT)
      |          AS pre
      |      FROM h JOIN s ON s.event_type = h.event_type)
      |SELECT event_type, hr, x, pre,
      |  pre - LEAST(0, MIN(pre) OVER (PARTITION BY event_type ORDER BY hr))
      |    AS cusum,
      |  (pre - LEAST(0, MIN(pre) OVER (PARTITION BY event_type ORDER BY hr)))
      |    > 4 * tot AS is_alarm
      |FROM p ORDER BY event_type, hr""".stripMargin) { (s, d) =>
    val byType = Window.partitionBy("event_type").orderBy("hr")
    val h = Tables.load(s, d, "events")
      .groupBy(col("event_type"),
        graft.functions.Exact.bucket(ms(col("ts")), 3600000L).as("hr"))
      .agg(count(lit(1)).as("x"))
    val stats = h.groupBy("event_type")
      .agg(sum(col("x")).as("tot"), count(lit(1)).as("n"))
    h.join(broadcast(stats), "event_type")
      .withColumn("pre",
        sum(col("x") * col("n") - col("tot")).over(byType))
      .withColumn("cusum",
        col("pre") - least(lit(0L), min(col("pre")).over(byType)))
      .select(col("event_type"), col("hr"), col("x"), col("pre"),
        col("cusum"), (col("cusum") > lit(4L) * col("tot")).as("is_alarm"))
      .orderBy("event_type", "hr")
  }

  /** Leave-one-out target encoding of customer market segment against
    * order value — the categorical-feature encoder that avoids label
    * leakage (each row's own target is excluded from its segment mean)
    * plus the m=100 smoothed variant pulled toward the global prior.
    * Both encodings are SINGLE exact integer divisions: the smoothed
    * mean multiplies through by the global count instead of nesting a
    * truncating division inside another.
    *
    * Shape at 100TB: per-segment and global sums are two tiny broadcast
    * aggregates; the encoding itself is map-side arithmetic on the fact
    * scan. The smoothed numerator crosses 64 bits at warehouse scale →
    * DECIMAL(38,0)/HUGEINT, the established wide-integer lane.
    */
  val targetEncode: Q = Q(
    "q_feature_target_encode",
    """WITH o AS (SELECT o.o_orderkey, c.c_mktsegment AS seg,
      |             CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT) AS cents
      |           FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
      |s AS (SELECT seg, CAST(SUM(cents) AS BIGINT) AS ssum, COUNT(*) AS sn
      |      FROM o GROUP BY 1),
      |g AS (SELECT CAST(SUM(cents) AS BIGINT) AS gsum, COUNT(*) AS gn FROM o)
      |SELECT o.o_orderkey, o.seg, o.cents,
      |  (s.ssum - o.cents) // (s.sn - 1) AS loo_cents,
      |  CAST((CAST(g.gn AS HUGEINT) * (s.ssum - o.cents)
      |        + 100 * CAST(g.gsum AS HUGEINT))
      |       // (CAST(g.gn AS HUGEINT) * (s.sn - 1 + 100)) AS BIGINT)
      |    AS loo_smooth_cents
      |FROM o JOIN s ON s.seg = o.seg, g
      |ORDER BY o.o_orderkey""".stripMargin) { (s, d) =>
    val cust = Tables.load(s, d, "customer")
      .select(col("c_custkey"), col("c_mktsegment").as("seg"))
    val o = Tables.load(s, d, "orders")
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("seg"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val segStats = o.groupBy("seg")
      .agg(sum(col("cents")).as("ssum"), count(lit(1)).as("sn"))
    val global = o.agg(sum(col("cents")).as("gsum"), count(lit(1)).as("gn"))
    o.join(broadcast(segStats), "seg")
      .crossJoin(broadcast(global))
      .select(col("o_orderkey"), col("seg"), col("cents"),
        expr("(ssum - cents) div (sn - 1)").as("loo_cents"),
        expr("""CAST((CAST(gn AS DECIMAL(38,0)) * (ssum - cents)
               |      + 100 * CAST(gsum AS DECIMAL(38,0)))
               |     div (CAST(gn AS DECIMAL(38,0)) * (sn - 1 + 100)) AS BIGINT)"""
          .stripMargin).as("loo_smooth_cents"))
      .orderBy("o_orderkey")
  }

  /** Tukey-fence winsorization of per-customer revenue within each
    * market segment: quartiles from exact-percentile aggregates
    * (quarter-fraction interpolation weights are exact in binary, the
    * q_anomaly_mad precedent), fences at 1.5·IQR, values clipped into
    * [lo, hi] with the outlier flag kept — the robust feature-clipping
    * step that runs before any scale-sensitive model. Non-vacuous on
    * this corpus: customer revenue is skewed enough that the fences
    * actually trip.
    *
    * Shape at 100TB: one aggregate to customer revenue, a tiny
    * per-segment quartile aggregate broadcast back, clipping map-side.
    */
  val winsorize: Q = Q(
    "q_feature_winsorize",
    """WITH r AS (SELECT c.c_custkey, c.c_mktsegment AS seg,
      |             CAST(SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT))
      |                  AS BIGINT) AS cents
      |           FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      |           GROUP BY 1, 2),
      |q AS (SELECT seg, quantile_cont(cents, 0.25) AS q1,
      |             quantile_cont(cents, 0.75) AS q3
      |      FROM r GROUP BY 1)
      |SELECT r.c_custkey, r.seg, r.cents,
      |  q.q1 - 1.5 * (q.q3 - q.q1) AS lo,
      |  q.q3 + 1.5 * (q.q3 - q.q1) AS hi,
      |  LEAST(GREATEST(CAST(r.cents AS DOUBLE), q.q1 - 1.5 * (q.q3 - q.q1)),
      |        q.q3 + 1.5 * (q.q3 - q.q1)) AS clipped,
      |  (CAST(r.cents AS DOUBLE) < q.q1 - 1.5 * (q.q3 - q.q1)
      |   OR CAST(r.cents AS DOUBLE) > q.q3 + 1.5 * (q.q3 - q.q1)) AS is_outlier
      |FROM r JOIN q ON q.seg = r.seg
      |ORDER BY r.c_custkey""".stripMargin) { (s, d) =>
    val r = Tables.load(s, d, "customer")
      .join(Tables.load(s, d, "orders"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_mktsegment").as("seg"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
    val q = r.groupBy("seg")
      .agg(percentile(col("cents"), lit(0.25)).as("q1"),
        percentile(col("cents"), lit(0.75)).as("q3"))
    r.join(broadcast(q), "seg")
      .withColumn("lo", col("q1") - lit(1.5) * (col("q3") - col("q1")))
      .withColumn("hi", col("q3") + lit(1.5) * (col("q3") - col("q1")))
      .select(col("c_custkey"), col("seg"), col("cents"),
        col("lo"), col("hi"),
        least(greatest(col("cents").cast("double"), col("lo")), col("hi"))
          .as("clipped"),
        (col("cents").cast("double") < col("lo")
          || col("cents").cast("double") > col("hi")).as("is_outlier"))
      .orderBy("c_custkey")
  }

  /** Heaps-law vocabulary-growth curve over bigram types, sampled at
    * 16-doc bucket grain: per bucket, the corpus-order cumulative bigram
    * count next to the cumulative count of NEVER-SEEN-BEFORE bigram
    * types (first occurrence = min doc_id per type — no sequential scan
    * over the corpus). The saturation shape of this curve is the
    * diversity diagnostic a pretraining-corpus audit reads first: a
    * flatlining curve means new data is not adding new language.
    *
    * Shape at 100TB: one shingle pass (compiled UDF behind the
    * repartition), one shuffle to first-occurrence per type, one
    * per-bucket aggregate; the cumulative sums over the docs/16 bucket
    * series run as [[graft.ops.RankedPrefix]]'s two-phase prefix — the
    * series is data-sized, so it never rides a single-partition global
    * window.
    */
  val vocabGrowth: Q = Q(
    "q_vocab_growth",
    s"""WITH tk AS (SELECT doc_id,
      |        ${Text.tokensSql("text")} AS toks
      |      FROM documents),
      |bg AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bg
      |       FROM tk, (SELECT unnest(range(1,
      |         (SELECT COALESCE(MAX(len(toks)), 0) + 1 FROM tk))) AS i) p
      |       WHERE i <= len(toks) - 1),
      |pb AS (SELECT doc_id // 16 AS bucket, COUNT(*) AS n_bigrams,
      |              COUNT(DISTINCT doc_id) AS n_docs FROM bg GROUP BY 1),
      |fs AS (SELECT bg.bg, MIN(doc_id) AS first_doc FROM bg GROUP BY 1),
      |nb AS (SELECT first_doc // 16 AS bucket, COUNT(*) AS n_new
      |       FROM fs GROUP BY 1)
      |SELECT p.bucket, p.n_docs, p.n_bigrams, COALESCE(n.n_new, 0) AS n_new,
      |  CAST(SUM(p.n_bigrams) OVER (ORDER BY p.bucket) AS BIGINT) AS cum_bigrams,
      |  CAST(SUM(COALESCE(n.n_new, 0)) OVER (ORDER BY p.bucket) AS BIGINT)
      |    AS cum_types
      |FROM pb p LEFT JOIN nb n ON n.bucket = p.bucket
      |ORDER BY p.bucket""".stripMargin) { (s, d) =>
    val bg = Tables.load(s, d, "documents")
      .repartition(Session.partitions(s))
      .select(col("doc_id"),
        explode(Text.shingleListUdf(2)(col("text"))).as("bg"))
    val pb = bg.groupBy(expr("doc_id div 16").as("bucket"))
      .agg(count(lit(1)).as("n_bigrams"), countDistinct(col("doc_id")).as("n_docs"))
    val nb = bg.groupBy("bg").agg(min(col("doc_id")).as("first_doc"))
      .groupBy(expr("first_doc div 16").as("bucket"))
      .agg(count(lit(1)).as("n_new"))
    // The bucket series is docs/16 — data-sized, so the cumulative
    // sums run through RankedPrefix's two-phase prefix (range-buckets
    // over the dense bucket ids, width from one max scalar), never a
    // single-partition global window.
    val cur = pb.join(nb, Seq("bucket"), "left")
      .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
      .persist()
    val maxB = cur.agg(coalesce(max(col("bucket")), lit(0L))).head.getLong(0)
    val r = graft.ops.RankedPrefix.rankedCumsum(
      cur,
      bucket = graft.ops.RankedPrefix.rangeBucket(col("bucket"), maxB / 2048 + 1),
      bucketDesc = false,
      order = Seq(col("bucket")),
      sums = Seq("n_bigrams" -> "cum_bigrams", "n_new" -> "cum_types"),
      rankCol = None)
    r.df
      .select(col("bucket"), col("n_docs"), col("n_bigrams"), col("n_new"),
        col("cum_bigrams"), col("cum_types"))
      .orderBy("bucket")
  }

  /** Portable mergeable QUANTILE sketch — the fourth member of the
    * engine-portable sketch family (HLL-fx distinct, KMV distinct,
    * CMS counts): a 64-bucket equi-width histogram over order-value
    * cents built per MONTH (the mergeable partial: merging = adding
    * bucket counts), merged to per-year estimates, with the median
    * read out of the merged histogram by exact-integer interpolation.
    * Every estimate sits next to the exact median witness and the
    * a-priori error bound (one bucket width + 1); `within_bound` must
    * be all-true by construction, making the sketch's contract part of
    * the hash. Global [mn, mx] comes from one tiny broadcast aggregate
    * (a two-pass sketch — the price of equi-width portability).
    *
    * Shape at 100TB: the fact column aggregates once to ≤ 12·64 rows
    * per year; merge and readout are window math over that tiny frame.
    */
  val sketchQuantileFx: Q = Q(
    "q_sketch_quantile_fx",
    """WITH v AS (SELECT EXTRACT(YEAR FROM o_orderdate) AS yr,
      |        EXTRACT(MONTH FROM o_orderdate) AS mo,
      |        CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents FROM orders),
      |mm AS (SELECT MIN(cents) AS mn, MAX(cents) AS mx FROM v),
      |hb AS (SELECT yr, mo, LEAST(63, (cents - mn) * 64 // (mx - mn + 1)) AS b,
      |              COUNT(*) AS cnt
      |       FROM v, mm GROUP BY 1, 2, 3),
      |hy AS (SELECT yr, b, CAST(SUM(cnt) AS BIGINT) AS cnt FROM hb GROUP BY 1, 2),
      |cum AS (SELECT yr, b, cnt,
      |          CAST(SUM(cnt) OVER (PARTITION BY yr ORDER BY b) AS BIGINT) AS cum,
      |          CAST(SUM(cnt) OVER (PARTITION BY yr) AS BIGINT) AS n FROM hy),
      |med AS (SELECT yr, b, cnt, cum - cnt AS below, n FROM cum
      |        WHERE cum - cnt < (n + 1) // 2 AND cum >= (n + 1) // 2),
      |ex AS (SELECT yr, quantile_cont(cents, 0.5) AS exact_med_cents
      |       FROM v GROUP BY 1)
      |SELECT m.yr, m.n, m.b AS med_bucket,
      |  mm.mn + (mm.mx - mm.mn + 1) * m.b // 64
      |    + ((mm.mx - mm.mn + 1) // 64) * ((m.n + 1) // 2 - m.below - 1) // m.cnt
      |    AS est_med_cents,
      |  ex.exact_med_cents,
      |  (mm.mx - mm.mn + 1) // 64 + 1 AS bound_cents,
      |  ABS(mm.mn + (mm.mx - mm.mn + 1) * m.b // 64
      |      + ((mm.mx - mm.mn + 1) // 64) * ((m.n + 1) // 2 - m.below - 1) // m.cnt
      |      - ex.exact_med_cents) <= (mm.mx - mm.mn + 1) // 64 + 1 AS within_bound
      |FROM med m JOIN ex ON ex.yr = m.yr, mm
      |ORDER BY m.yr""".stripMargin) { (s, d) =>
    val byYr = Window.partitionBy("yr")
    val v = Tables.load(s, d, "orders")
      .select(year(col("o_orderdate")).as("yr"), month(col("o_orderdate")).as("mo"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val mm = v.agg(min(col("cents")).as("mn"), max(col("cents")).as("mx"))
    val hb = v.crossJoin(broadcast(mm))
      .groupBy(col("yr"), col("mo"),
        expr("least(63, (cents - mn) * 64 div (mx - mn + 1))").as("b"))
      .agg(count(lit(1)).as("cnt"))
    val hy = hb.groupBy("yr", "b").agg(sum(col("cnt")).as("cnt"))
    val med = hy
      .withColumn("cum", sum(col("cnt")).over(byYr.orderBy("b")))
      .withColumn("n", sum(col("cnt")).over(byYr))
      .withColumn("below", col("cum") - col("cnt"))
      .filter(expr("below < (n + 1) div 2 AND cum >= (n + 1) div 2"))
    val ex = v.groupBy("yr")
      .agg(percentile(col("cents"), lit(0.5)).as("exact_med_cents"))
    med.join(broadcast(ex), "yr").crossJoin(broadcast(mm))
      .withColumn("est_med_cents",
        expr("""mn + (mx - mn + 1) * b div 64
               |  + ((mx - mn + 1) div 64) * ((n + 1) div 2 - below - 1) div cnt"""
          .stripMargin))
      .withColumn("bound_cents", expr("(mx - mn + 1) div 64 + 1"))
      .select(col("yr"), col("n"), col("b").as("med_bucket"),
        col("est_med_cents"), col("exact_med_cents"), col("bound_cents"),
        (abs(col("est_med_cents") - col("exact_med_cents"))
          <= col("bound_cents")).as("within_bound"))
      .orderBy("yr")
  }

  /** URL canonicalization dedup — the first normalization pass of any
    * web-crawl corpus: cosmetic variants of one page URL (scheme/host
    * case, `:80` default port, `www.` prefix, `utm_*`/click-id tracking
    * params, param order, trailing slash, fragment) collapse to one
    * canonical key, and the groups ARE the URL-level dup clusters.
    * Deterministically injected raw URLs (doc_id-derived variants, the
    * q_text_pii_redact injection pattern) make the collapse provable:
    * up to 9 raw spellings per canonical key. The engine canonicalizes
    * with a compiled UDF ([[graft.functions.Url]]); the oracle replays
    * the identical contract with regexp/list SQL.
    *
    * Shape at 100TB: canonicalization is map-side behind the
    * repartition; one shuffle on the canonical key.
    */
  val urlCanonicalize: Q = Q(
    "q_url_canonicalize",
    """WITH raw AS (SELECT doc_id,
      |    (CASE doc_id % 3 WHEN 0 THEN 'http' WHEN 1 THEN 'HTTP' ELSE 'hTTp' END)
      |    || '://'
      |    || (CASE doc_id % 4 WHEN 0 THEN 'news.example.com'
      |         WHEN 1 THEN 'NEWS.Example.COM'
      |         WHEN 2 THEN 'news.example.com:80'
      |         ELSE 'www.news.example.com' END)
      |    || '/articles/' || CAST(doc_id % 40 AS VARCHAR)
      |    || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)
      |    || '?'
      |    || (CASE doc_id % 3
      |         WHEN 0 THEN 'utm_source=rss&id=' || CAST(doc_id % 20 AS VARCHAR)
      |         WHEN 1 THEN 'id=' || CAST(doc_id % 20 AS VARCHAR) || '&utm_campaign=promo'
      |         ELSE 'id=' || CAST(doc_id % 20 AS VARCHAR) || '&lang=en' END)
      |    || (CASE WHEN doc_id % 5 = 0 THEN '#sec' || CAST(doc_id % 7 AS VARCHAR)
      |        ELSE '' END)
      |    AS url FROM documents),
      |parts AS (SELECT doc_id, url,
      |    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
      |    regexp_replace(regexp_replace(
      |      lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)), ':80$', ''),
      |      '^www\.', '') AS host,
      |    regexp_replace(regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1),
      |      '/+$', '') AS path,
      |    array_to_string(list_sort(list_filter(
      |      string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
      |      x -> x <> '' AND substr(x, 1, 4) <> 'utm_'
      |        AND substr(x, 1, 7) <> 'fbclid=' AND substr(x, 1, 6) <> 'gclid=')),
      |      '&') AS qs
      |  FROM raw),
      |canon AS (SELECT doc_id, url,
      |    scheme || '://' || host || path
      |      || (CASE WHEN qs <> '' THEN '?' || qs ELSE '' END) AS curl
      |  FROM parts)
      |SELECT curl, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc,
      |       COUNT(DISTINCT url) AS n_raw_variants
      |FROM canon GROUP BY curl ORDER BY curl""".stripMargin) { (s, d) =>
    val raw = Tables.load(s, d, "documents")
      .repartition(Session.partitions(s))
      .select(col("doc_id"), concat(
        expr("CASE doc_id % 3 WHEN 0 THEN 'http' WHEN 1 THEN 'HTTP' ELSE 'hTTp' END"),
        lit("://"),
        expr("""CASE doc_id % 4 WHEN 0 THEN 'news.example.com'
               | WHEN 1 THEN 'NEWS.Example.COM'
               | WHEN 2 THEN 'news.example.com:80'
               | ELSE 'www.news.example.com' END""".stripMargin),
        lit("/articles/"), expr("CAST(doc_id % 40 AS STRING)"),
        expr("CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END"),
        lit("?"),
        expr("""CASE doc_id % 3
               | WHEN 0 THEN 'utm_source=rss&id=' || CAST(doc_id % 20 AS STRING)
               | WHEN 1 THEN 'id=' || CAST(doc_id % 20 AS STRING) || '&utm_campaign=promo'
               | ELSE 'id=' || CAST(doc_id % 20 AS STRING) || '&lang=en' END"""
          .stripMargin),
        expr("""CASE WHEN doc_id % 5 = 0 THEN '#sec' || CAST(doc_id % 7 AS STRING)
               | ELSE '' END""".stripMargin)).as("url"))
    raw
      .withColumn("curl", graft.functions.Url.canonicalizeUdf(col("url")))
      .groupBy("curl")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"),
        countDistinct(col("url")).as("n_raw_variants"))
      .orderBy("curl")
  }

  /** K-core decomposition (k=3) of the co-purchase graph by FIXED-ROUND
    * peeling: both engines run exactly [[KcoreRounds]] rounds of
    * "drop nodes with fewer than k alive neighbors", so the contract is
    * round-count-deterministic — convergence cannot drift between
    * engines, and the `converged` column (round R == round R-1)
    * witnesses in-hash that the fixpoint was actually reached. The
    * oracle is a GENERATED unrolled CTE chain (the BPE generated-oracle
    * pattern) sharing R and k with the engine loop; each round is
    * MATERIALIZED because a twice-referenced recursive CTE otherwise
    * inlines into a 2^R-size plan.
    *
    * Shape at 100TB: the edge list builds once (merge-hinted pair
    * self-join, one reused exchange) and persists; each round is two
    * semi-joins of the shrinking alive set against the edge cache plus
    * one count, run by [[graft.ops.Iterate]] with the alive count as
    * its fixed-point witness.
    */
  // R=12: the sf0.01 corpus's 3-core fixpoint lands at round 11 (935
  // nodes), sf0.001 at ~3 (200) and sf0.1 at 3 (empty core) — all
  // witnessed converged with a spare round. Peeling is O(rounds·E).
  val KcoreRounds = 12
  val KcoreK = 3
  val graphKcore: Q = {
    val rounds = (1 to KcoreRounds).map { i =>
      s"""a$i AS MATERIALIZED (SELECT eu.u AS node FROM eu
         |  JOIN a${i - 1} x ON x.node = eu.u JOIN a${i - 1} y ON y.node = eu.v
         |  GROUP BY eu.u HAVING COUNT(*) >= $KcoreK)""".stripMargin
    }.mkString(",\n")
    Q(
      "q_graph_kcore",
      s"""WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey
         |  FROM lineitem),
         |e AS MATERIALIZED (SELECT a.l_partkey AS u, b.l_partkey AS v
         |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
         |    AND a.l_partkey < b.l_partkey
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |eu AS MATERIALIZED (SELECT u, v FROM e
         |  UNION ALL SELECT v AS u, u AS v FROM e),
         |a0 AS MATERIALIZED (SELECT DISTINCT u AS node FROM eu),
         |$rounds,
         |fin AS (SELECT eu.u AS node, COUNT(*) AS core_deg FROM eu
         |  JOIN a$KcoreRounds x ON x.node = eu.u
         |  JOIN a$KcoreRounds y ON y.node = eu.v
         |  GROUP BY eu.u),
         |cv AS (SELECT (SELECT COUNT(*) FROM a$KcoreRounds)
         |            = (SELECT COUNT(*) FROM a${KcoreRounds - 1}) AS converged)
         |SELECT f.node, f.core_deg, cv.converged FROM fin f, cv
         |ORDER BY f.node""".stripMargin) { (s, d) =>
      val e = GraphShared.pairs(s, d).select("u", "v")
      // Pre-partition the edge cache on u: every round's degree count
      // then reuses the cached partitioning (zero per-round shuffles —
      // the alive sets below join as explicit broadcasts, which also
      // sidesteps the statless-LogicalRDD trap where a localCheckpoint
      // frame can't auto-broadcast and each semi-join re-shuffled the
      // edge cache: 4.0s -> ~1.5s isolated sf0.1).
      val np = Session.partitions(s)
      val eu = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
        .repartition(np, col("u"))
        .persist() // load-bearing: 2R+2 semi-joins reuse one edge build
      // Peeling only removes nodes, so the alive count is a monotone
      // witness: equal counts imply equal sets (at sf0.1 the 3-core
      // empties by round 3, 4 of 12 rounds run).
      val (alive, converged) = Iterate(
        eu.select(col("u").as("node")).distinct(), KcoreRounds,
        Some(count(lit(1)))) { live =>
        eu
          .join(broadcast(live.select(col("node").as("u"))), Seq("u"), "left_semi")
          .join(broadcast(live.select(col("node").as("v"))), Seq("v"), "left_semi")
          .groupBy("u").agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= KcoreK)
          .select(col("u").as("node"))
      }
      eu.join(broadcast(alive.select(col("node").as("u"))), Seq("u"), "left_semi")
        .join(broadcast(alive.select(col("node").as("v"))), Seq("v"), "left_semi")
        .groupBy(col("u").as("node"))
        .agg(count(lit(1)).as("core_deg"))
        .withColumn("converged", lit(converged))
        .orderBy("node")
    }
  }

  /** Theil-Sen robust trend per nation — the median of all pairwise
    * monthly-revenue slopes, the estimator that shrugs off the outlier
    * months OLS ([[q_regression_group]]) chases. Slopes are SINGLE IEEE
    * divisions of exact integers (division is correctly rounded, so
    * both engines produce bit-identical doubles — the sqrt lore's other
    * safe operation), the median is the mean of the rank-selected
    * middle one-or-two slopes (no interpolation formula to disagree
    * on), and ties order totally via (slope, mo1, mo2).
    *
    * Shape at 100TB: the fact table aggregates once to (nation, month);
    * the pair join is quadratic only in MONTHS per nation (merge-hinted
    * self-join of a tiny frame); ranks partition by nation.
    */
  val theilsenTrend: Q = Q(
    "q_theilsen_trend",
    """WITH m AS (SELECT c.c_nationkey AS nk,
      |        EXTRACT(YEAR FROM o.o_orderdate) * 12
      |          + EXTRACT(MONTH FROM o.o_orderdate) AS mo,
      |        CAST(SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
      |          AS cents
      |      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |      GROUP BY 1, 2),
      |p AS (SELECT a.nk, CAST(b.cents - a.cents AS DOUBLE) / (b.mo - a.mo)
      |        AS slope, a.mo AS mo1, b.mo AS mo2
      |      FROM m a JOIN m b ON a.nk = b.nk AND a.mo < b.mo),
      |r AS (SELECT nk, slope,
      |        ROW_NUMBER() OVER (PARTITION BY nk ORDER BY slope, mo1, mo2) AS rn,
      |        COUNT(*) OVER (PARTITION BY nk) AS n FROM p)
      |SELECT nk AS nationkey, CAST(MAX(n) AS BIGINT) AS n_pairs,
      |  CAST(SUM(slope) / COUNT(*) AS DOUBLE) AS theil_slope
      |FROM r WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
      |GROUP BY nk ORDER BY nationkey""".stripMargin) { (s, d) =>
    val byNk = Window.partitionBy("nk")
    val cust = Tables.load(s, d, "customer")
      .select(col("c_custkey"), col("c_nationkey").as("nk"))
    val m = Tables.load(s, d, "orders")
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("nk"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("mo"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
    val p = m.as("a").hint("merge")
      .join(m.as("b").hint("merge"),
        col("a.nk") === col("b.nk") && col("a.mo") < col("b.mo"))
      .select(col("a.nk").as("nk"),
        ((col("b.cents") - col("a.cents")).cast("double")
          / (col("b.mo") - col("a.mo"))).as("slope"),
        col("a.mo").as("mo1"), col("b.mo").as("mo2"))
    p.withColumn("rn",
        row_number().over(byNk.orderBy("slope", "mo1", "mo2")))
      .withColumn("n", count(lit(1)).over(byNk))
      .filter(expr("rn = (n + 1) div 2 OR rn = (n + 2) div 2"))
      .groupBy(col("nk").as("nationkey"))
      .agg(max(col("n")).as("n_pairs"),
        (sum(col("slope")) / count(lit(1))).cast("double").as("theil_slope"))
      .orderBy("nationkey")
  }

  /** ABC / Pareto inventory classification: parts ranked by revenue,
    * classified A/B/C at the classic 80% / 95% cumulative-share
    * breakpoints — the merchandising readout behind "which 20% of the
    * catalog carries 80% of revenue". Cumulative share is an exact ppm
    * integer, so the class boundaries replay bit-for-bit; rank ties
    * break by part key.
    *
    * Shape at 100TB: the fact table aggregates once to per-part
    * revenue; the ranking then runs as [[graft.ops.RankedPrefix]]'s
    * two-phase prefix (log-bucket -> per-bucket subtotals -> driver
    * prefix over bucket sums -> broadcast bases -> parallel local
    * windows), so even a multi-million-part catalog never serializes
    * through a single-partition global window.
    */
  val abcClassify: Q = Q(
    "q_abc_classify",
    """WITH r AS (SELECT l_partkey,
      |        CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
      |          AS cents
      |      FROM lineitem GROUP BY 1),
      |w AS (SELECT l_partkey, cents,
      |        ROW_NUMBER() OVER (ORDER BY cents DESC, l_partkey) AS rk,
      |        CAST(SUM(cents) OVER (ORDER BY cents DESC, l_partkey) AS BIGINT)
      |          AS cum,
      |        CAST(SUM(cents) OVER () AS BIGINT) AS total
      |      FROM r)
      |SELECT l_partkey, cents, rk, cum,
      |  cum * 1000000 // total AS cum_share_e6,
      |  CASE WHEN cum * 1000000 // total <= 800000 THEN 'A'
      |       WHEN cum * 1000000 // total <= 950000 THEN 'B'
      |       ELSE 'C' END AS abc
      |FROM w ORDER BY rk""".stripMargin) { (s, d) =>
    // Two-phase prefix (RankedPrefix): the rank/cumsum over the
    // catalog-sized revenue frame never serializes through one task —
    // log-bucket the revenue (monotone in the ORDER BY cents DESC
    // leg), per-bucket subtotals, driver prefix over the <=2k bucket
    // sums, broadcast bases, local windows per bucket. The grand total
    // falls out of the driver prefix, replacing the SUM() OVER ()
    // global window.
    val r = Tables.load(s, d, "lineitem")
      .groupBy("l_partkey")
      .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long")).as("cents"))
      .persist()
    val ranked = graft.ops.RankedPrefix.rankedCumsum(
      r,
      bucket = graft.ops.RankedPrefix.logBucket(col("cents")),
      bucketDesc = true,
      order = Seq(col("cents").desc, col("l_partkey")),
      sums = Seq("cents" -> "cum"),
      rankCol = Some("rk"))
    val total = ranked.totals("cents")
    ranked.df
      .withColumn("cum_share_e6", expr(s"cum * 1000000 div ${total}L"))
      .select(col("l_partkey"), col("cents"), col("rk"), col("cum"),
        col("cum_share_e6"),
        when(col("cum_share_e6") <= 800000, "A")
          .when(col("cum_share_e6") <= 950000, "B")
          .otherwise("C").as("abc"))
      .orderBy("rk")
  }

  /** Key-skew diagnostic report — the audit a 100TB pipeline runs
    * BEFORE choosing a partitioning ([[graft.ops.Skew]] is the cure;
    * this is the diagnosis): per-key group sizes of the l_partkey fact
    * distribution, with p50/p99 as rank-SELECTED order statistics
    * (discrete percentiles — pure element selection, no interpolation
    * formula to drift), the max/p50 skew ratio in exact ppm, and the
    * top-5 heavy keys with their own ratios. One aggregate to group
    * sizes; the percentile selection runs over the DISTINCT-size
    * histogram via [[graft.ops.RankedPrefix]] (two-phase prefix, no
    * O(keys) global window) and the top-5 is a sort+limit
    * (TakeOrderedAndProject).
    */
  val skewReport: Q = Q(
    "q_skew_report",
    """WITH g AS (SELECT l_partkey AS key, COUNT(*) AS sz
      |      FROM lineitem GROUP BY 1),
      |r AS (SELECT key, sz, ROW_NUMBER() OVER (ORDER BY sz, key) AS rn,
      |        COUNT(*) OVER () AS n, CAST(SUM(sz) OVER () AS BIGINT) AS total
      |      FROM g),
      |p AS (SELECT MAX(CASE WHEN rn = (n + 1) // 2 THEN sz END) AS p50_sz,
      |             MAX(CASE WHEN rn = (99 * n + 99) // 100 THEN sz END) AS p99_sz,
      |             MAX(sz) AS max_sz, MAX(n) AS n_keys, MAX(total) AS n_rows
      |      FROM r),
      |h AS (SELECT key, sz, ROW_NUMBER() OVER (ORDER BY sz DESC, key) AS hrk
      |      FROM g)
      |SELECT h.key, h.sz, h.hrk, p.n_keys, p.n_rows, p.max_sz, p.p50_sz,
      |  p.p99_sz,
      |  h.sz * 1000000 // p.p50_sz AS key_vs_p50_e6,
      |  p.max_sz * 1000000 // p.p50_sz AS skew_ratio_e6
      |FROM h, p WHERE h.hrk <= 5 ORDER BY h.hrk""".stripMargin) { (s, d) =>
    val g = Tables.load(s, d, "lineitem")
      .groupBy(col("l_partkey").as("key"))
      .agg(count(lit(1)).as("sz"))
      .persist()
    // Rank-selected percentiles over sz depend only on the DISTINCT-
    // size histogram (ties share a size, so the sz at any global rank
    // is the histogram row whose cumulative key count covers it). The
    // histogram is <= O(sqrt(2N)) rows by the partition-sum argument
    // (distinct sizes s_1 < s_2 < ... satisfy sum s_i <= N), and its
    // cumulative count comes from RankedPrefix's two-phase prefix —
    // no O(keys) single-partition window anywhere.
    val h = g.groupBy("sz").agg(count(lit(1)).as("nk"))
      .withColumn("w", col("sz") * col("nk"))
    val rh = graft.ops.RankedPrefix.rankedCumsum(
      h,
      bucket = graft.ops.RankedPrefix.logBucket(col("sz")),
      bucketDesc = false,
      order = Seq(col("sz")),
      sums = Seq("nk" -> "cumk", "w" -> "cumw"),
      rankCol = None)
    val nKeys = rh.totals("nk")
    val nRows = rh.totals("w")
    val p50rn = (nKeys + 1) / 2
    val p99rn = (99 * nKeys + 99) / 100
    val p = rh.df
      .withColumn("lo", col("cumk") - col("nk"))
      .agg(
        max(when(col("lo") < p50rn && col("cumk") >= p50rn, col("sz")))
          .as("p50_sz"),
        max(when(col("lo") < p99rn && col("cumk") >= p99rn, col("sz")))
          .as("p99_sz"),
        max(col("sz")).as("max_sz"))
      .withColumn("n_keys", lit(nKeys))
      .withColumn("n_rows", lit(nRows))
    // Top-5 heavy keys: sort+limit plans as TakeOrderedAndProject (a
    // per-partition top-5 then a 5-row merge — scale-safe); the rank
    // column is a window over those five rows only.
    g.orderBy(col("sz").desc, col("key")).limit(5)
      .withColumn("hrk", row_number().over(
        graft.ops.BoundedWindow.singleRef(col("sz"),
          col("sz").desc, col("key"))))
      .crossJoin(broadcast(p))
      .select(col("key"), col("sz"), col("hrk"), col("n_keys"), col("n_rows"),
        col("max_sz"), col("p50_sz"), col("p99_sz"),
        expr("sz * 1000000 div p50_sz").as("key_vs_p50_e6"),
        expr("max_sz * 1000000 div p50_sz").as("skew_ratio_e6"))
      .orderBy("hrk")
  }

  /** Trailing-7-day rolling correlation between the click and purchase
    * daily series — the windowed form of [[q_corr_exact]]: the five
    * correlation moments are integer sums over one ROWS frame, r² is
    * the exact ppm rational num²·10⁶ div (d1·d2) (squares pass 64 bits
    * at corpus scale → DECIMAL(38,0)/HUGEINT), the sign travels
    * separately, and zero-variance windows yield NULL gates instead of
    * dropped rows — the drift monitor between two metrics that ops
    * dashboards poll.
    *
    * Shape at 100TB: the stream aggregates once to the per-day pivot
    * (days don't scale with volume); all six window sums share ONE
    * frame over that tiny series.
    */
  val rollingCorr: Q = Q(
    "q_rolling_corr",
    """WITH d AS (SELECT epoch_ms(ts) // 86400000 AS day,
      |        COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS x,
      |        COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS y
      |      FROM events GROUP BY 1),
      |w AS (SELECT day, x, y,
      |        COUNT(*) OVER fr AS n,
      |        CAST(SUM(x) OVER fr AS BIGINT) AS sx,
      |        CAST(SUM(y) OVER fr AS BIGINT) AS sy,
      |        CAST(SUM(x * y) OVER fr AS BIGINT) AS sxy,
      |        CAST(SUM(x * x) OVER fr AS BIGINT) AS sxx,
      |        CAST(SUM(y * y) OVER fr AS BIGINT) AS syy
      |      FROM d
      |      WINDOW fr AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
      |SELECT day, x, y, n,
      |  n * sxy - sx * sy AS cov_num,
      |  CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0 THEN
      |    CAST((CAST(n * sxy - sx * sy AS HUGEINT) * (n * sxy - sx * sy)
      |          * 1000000)
      |         // (CAST(n * sxx - sx * sx AS HUGEINT) * (n * syy - sy * sy))
      |         AS BIGINT)
      |  END AS r2_e6,
      |  CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0 THEN
      |    CAST(SIGN(n * sxy - sx * sy) AS BIGINT) END AS r_sign
      |FROM w ORDER BY day""".stripMargin) { (s, d) =>
    // daily series — calendar-bounded frame, deliberate single
    // partition (BoundedWindow)
    val fr = graft.ops.BoundedWindow.single(col("day")).rowsBetween(-6, 0)
    val daily = Tables.load(s, d, "events")
      .groupBy(graft.functions.Exact.bucket(ms(col("ts")), 86400000L).as("day"))
      .agg(count(when(col("event_type") === "click", 1)).as("x"),
        count(when(col("event_type") === "purchase", 1)).as("y"))
    daily
      .withColumn("n", count(lit(1)).over(fr))
      .withColumn("sx", sum(col("x")).over(fr))
      .withColumn("sy", sum(col("y")).over(fr))
      .withColumn("sxy", sum(col("x") * col("y")).over(fr))
      .withColumn("sxx", sum(col("x") * col("x")).over(fr))
      .withColumn("syy", sum(col("y") * col("y")).over(fr))
      .select(col("day"), col("x"), col("y"), col("n"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("cov_num"),
        expr("""CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
               | THEN CAST((CAST(n * sxy - sx * sy AS DECIMAL(38,0))
               |   * (n * sxy - sx * sy) * 1000000)
               |  div (CAST(n * sxx - sx * sx AS DECIMAL(38,0))
               |   * (n * syy - sy * sy)) AS BIGINT) END""".stripMargin)
          .as("r2_e6"),
        expr("""CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
               | THEN CAST(SIGN(n * sxy - sx * sy) AS BIGINT) END"""
          .stripMargin).as("r_sign"))
      .orderBy("day")
  }

  /** The END-TO-END curation pipeline as ONE declarative plan — the
    * Dolma/C4-style chain every pretraining corpus runs, composed from
    * this library's own stages with a single per-doc verdict:
    * eval-holdout → quality gate (≥30 tokens + a stopword) → exact
    * dedup (md5 canonical fingerprint, keep-first; non-vacuous via a
    * simulated at-least-once re-crawl that re-keys doc_id%83==5 copies,
    * the Blocks.withDuplicates posture) → near-dup (distinct 3-gram
    * shingles, df≤50 cap, Jaccard ≥ 0.2 in exact ppm, drop the
    * higher id) → 13-gram decontamination against the eval docs →
    * kept. Stage precedence is part of the contract and of the hash;
    * `keeper` names the surviving twin for exact dups.
    *
    * Shape at 100TB: one pass builds tokens/fingerprints (map-side
    * behind the repartition), one shuffle per stage key (fingerprint,
    * shingle, 13-gram), the pair join is the df-capped ReusedExchange
    * self-join of q_dedup_ngram_jaccard, and the eval 13-gram side is
    * a broadcast. Every stage is the scale shape its standalone query
    * already pinned.
    */
  val curationPipeline: Q = Q(
    "q_curation_pipeline",
    s"""WITH base AS (SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000 AS doc_id, text FROM documents
      |  WHERE doc_id % 83 = 5),
      |d AS (SELECT doc_id, text,
      |        ${Text.tokensSql("text")} AS toks
      |      FROM base),
      |q AS (SELECT doc_id, text, toks,
      |        (len(toks) >= 30 AND
      |         len(list_filter(toks, t -> t IN ('the','a','of','and','to'))) > 0)
      |          AS q_ok
      |      FROM d),
      |fp AS (SELECT doc_id, md5(lower(text)) AS fp FROM q
      |       WHERE q_ok AND doc_id % 97 <> 3),
      |keep1 AS (SELECT fp, MIN(doc_id) AS keeper FROM fp GROUP BY 1),
      |ex AS (SELECT f.doc_id, k.keeper FROM fp f JOIN keep1 k ON k.fp = f.fp),
      |s2 AS (SELECT doc_id FROM ex WHERE doc_id = keeper),
      |sh AS (SELECT DISTINCT d.doc_id,
      |         toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
      |       FROM d, (SELECT unnest(range(1,
      |         (SELECT COALESCE(MAX(len(toks)), 0) + 1 FROM d))) AS i) p
      |       WHERE i <= len(toks) - 2),
      |shc AS (SELECT doc_id, shingle FROM (
      |          SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df
      |          FROM sh WHERE doc_id IN (SELECT doc_id FROM s2)) WHERE df <= 50),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
      |          FROM shc a JOIN shc b
      |            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |near AS (SELECT DISTINCT p.doc_b AS doc_id
      |         FROM pairs p JOIN sz sa ON p.doc_a = sa.doc_id
      |                      JOIN sz sb ON p.doc_b = sb.doc_id
      |         WHERE p.common * 1000000 // (sa.n + sb.n - p.common) >= 200000),
      |s3 AS (SELECT doc_id FROM s2
      |       WHERE doc_id NOT IN (SELECT doc_id FROM near)),
      |g13 AS (SELECT DISTINCT d.doc_id,
      |          toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
      |          || toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' '
      |          || toks[i+6] || ' ' || toks[i+7] || ' ' || toks[i+8] || ' '
      |          || toks[i+9] || ' ' || toks[i+10] || ' ' || toks[i+11] || ' '
      |          || toks[i+12] AS g
      |        FROM d, (SELECT unnest(range(1,
      |          (SELECT COALESCE(MAX(len(toks)), 0) + 1 FROM d))) AS i) p
      |        WHERE i <= len(toks) - 12),
      |evg AS (SELECT DISTINCT g FROM g13 WHERE doc_id % 97 = 3),
      |contam AS (SELECT DISTINCT g13.doc_id FROM g13 JOIN evg ON g13.g = evg.g
      |           WHERE g13.doc_id IN (SELECT doc_id FROM s3))
      |SELECT q.doc_id,
      |  CASE WHEN q.doc_id % 97 = 3 THEN 'eval'
      |       WHEN NOT q.q_ok THEN 'low_quality'
      |       WHEN ed.keeper IS NOT NULL THEN 'exact_dup'
      |       WHEN q.doc_id IN (SELECT doc_id FROM near) THEN 'near_dup'
      |       WHEN q.doc_id IN (SELECT doc_id FROM contam) THEN 'contaminated'
      |       ELSE 'kept' END AS verdict,
      |  ed.keeper
      |FROM q LEFT JOIN (SELECT doc_id, keeper FROM ex WHERE doc_id <> keeper) ed
      |  ON ed.doc_id = q.doc_id
      |ORDER BY q.doc_id""".stripMargin) { (s, d) =>
    val np = Session.partitions(s)
    val docs = Tables.load(s, d, "documents").select("doc_id", "text")
    val base = docs
      .unionAll(docs.filter(col("doc_id") % 83 === 5)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
      .repartition(np)
    val stop = array(Seq("the", "a", "of", "and", "to").map(lit): _*)
    val q = base.select(col("doc_id"), col("text"),
      Text.tokens(col("text")).as("toks"))
      .withColumn("q_ok",
        size(col("toks")) >= 30 && arrays_overlap(col("toks"), stop))
    val fp = q.filter(col("q_ok") && col("doc_id") % 97 =!= 3)
      .select(col("doc_id"), md5(lower(col("text"))).as("fp"))
    val keep1 = fp.groupBy("fp").agg(min(col("doc_id")).as("keeper"))
    val ex = fp.join(keep1, "fp").select("doc_id", "keeper")
    val s2 = ex.filter(col("doc_id") === col("keeper")).select("doc_id")
    val sh = base.select(col("doc_id"),
      explode(Text.shingleSetUdf(3)(col("text"))).as("shingle"))
    val byShingle = Window.partitionBy("shingle")
    val shc = sh.join(s2, Seq("doc_id"), "left_semi")
      .withColumn("df", count(lit(1)).over(byShingle))
      .filter(col("df") <= 50).drop("df")
    val sz = base.select(col("doc_id"),
      size(Text.shingleSetUdf(3)(col("text"))).cast("long").as("n"))
    val pairs = shc.hint("merge").as("a")
      .join(shc.hint("merge").as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("common"))
    val near = pairs
      .join(sz.select(col("doc_id").as("doc_a"), col("n").as("na")),
        Seq("doc_a"))
      .join(sz.select(col("doc_id").as("doc_b"), col("n").as("nb")),
        Seq("doc_b"))
      .filter(expr("common * 1000000 div (na + nb - common) >= 200000"))
      .select(col("doc_b").as("doc_id")).distinct()
    val s3 = s2.join(near, Seq("doc_id"), "left_anti")
    val g13 = base.select(col("doc_id"),
      explode(Text.shingleSetUdf(13)(col("text"))).as("g"))
    val evg = g13.filter(col("doc_id") % 97 === 3).select("g").distinct()
    val contam = g13.join(s3, Seq("doc_id"), "left_semi")
      .join(evg, "g")
      .select("doc_id").distinct()
    q.join(ex.filter(col("doc_id") =!= col("keeper")), Seq("doc_id"), "left")
      .join(near.withColumn("is_near", lit(true)), Seq("doc_id"), "left")
      .join(contam.withColumn("is_contam", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("doc_id") % 97 === 3, "eval")
          .when(!col("q_ok"), "low_quality")
          .when(col("keeper").isNotNull, "exact_dup")
          .when(col("is_near"), "near_dup")
          .when(col("is_contam"), "contaminated")
          .otherwise("kept").as("verdict"),
        col("keeper"))
      .orderBy("doc_id")
  }

  /** Poisson(1) inverse-CDF thresholds scaled to 2^32 (cumulative
    * e^-1·Σ1/k!), shared by the oracle SQL generator and the engine
    * CASE so the two weight functions cannot drift. Precomputed
    * offline — no exp/factorial executes at query time. */
  val PoissonThresholds: Seq[Long] = Seq(1580030168L, 3160060337L,
    3950075421L, 4213413783L, 4279248373L, 4292415291L, 4294609777L,
    4294923276L)

  /** Deterministic Poisson bootstrap CI for the mean order value — the
    * DISTRIBUTED bootstrap (Chamandy et al., "Estimating Uncertainty
    * for Massive Data Streams", Google 2012): instead of resampling n
    * rows with replacement (which needs global coordination), every
    * (replica, row) pair draws a Poisson(1) weight: one 48-bit md5
    * uniform per ROW, mixed per replica by an odd multiplier mod 2^32
    * (a bijection, so each replica's draw stays uniform; rows stay
    * independent through the md5) and pushed through the precomputed
    * inverse-CDF thresholds — fully deterministic, so the whole CI
    * hash-matches. Replica means are exact integer rationals; the
    * 5/50/95 percentiles are rank-SELECTED replica means (no
    * interpolation). B=200 replicas.
    *
    * Shape at 100TB: the B-fold fan-out is a broadcast nested-loop
    * against a 200-row frame (map-side — no shuffle until the
    * replica-mean aggregate, which is B partial sums); the quantile
    * readout windows over 200 rows.
    */
  val bootstrapCi: Q = {
    val caseSql = "CASE " + PoissonThresholds.zipWithIndex.map {
      case (t, i) => s"WHEN u32 < $t THEN $i"
    }.mkString(" ") + s" ELSE ${PoissonThresholds.length} END"
    Q(
      "q_bootstrap_ci",
      s"""WITH o AS (SELECT o_orderkey,
         |        CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
         |        ${Hex.prefixSql("md5(CAST(o_orderkey AS VARCHAR))", 1, 12)} AS h48
         |      FROM orders),
         |rep AS (SELECT unnest(range(0, 200)) AS b),
         |u AS (SELECT r.b, o.cents,
         |        (o.h48 * (2 * r.b + 1)) % 4294967296 AS u32
         |      FROM o, rep r),
         |w AS (SELECT b, cents, $caseSql AS wt FROM u),
         |m AS (SELECT b, CAST(SUM(wt * cents) AS BIGINT) AS num,
         |        CAST(SUM(wt) AS BIGINT) AS den
         |      FROM w GROUP BY b HAVING SUM(wt) > 0),
         |mm AS (SELECT b, num // den AS mean_cents FROM m),
         |r AS (SELECT b, mean_cents,
         |        ROW_NUMBER() OVER (ORDER BY mean_cents, b) AS rn,
         |        COUNT(*) OVER () AS nb FROM mm)
         |SELECT
         |  MAX(CASE WHEN rn = (5 * nb + 99) // 100 THEN mean_cents END)
         |    AS lo_cents,
         |  MAX(CASE WHEN rn = (nb + 1) // 2 THEN mean_cents END) AS med_cents,
         |  MAX(CASE WHEN rn = (95 * nb + 99) // 100 THEN mean_cents END)
         |    AS hi_cents,
         |  MAX(nb) AS n_replicas
         |FROM r""".stripMargin) { (s, d) =>
      val o = Tables.load(s, d, "orders")
        // single-file scan: without this the 200x replica fan-out runs
        // as ONE narrow chain on one core (138s at sf0.1 — the
        // CLAUDE.md trap)
        .repartition(Session.partitions(s))
        .select(col("o_orderkey"),
          round(col("o_totalprice") * 100, 0).cast("long").as("cents"),
          // ONE md5 per ROW (48 bits), then per-replica mixing by an
          // odd multiplier mod 2^32 — a bijection, so each replica's
          // uniform stays uniform, and the 200x fan-out is pure long
          // arithmetic inside codegen instead of 30M md5 string
          // evaluations (26s of GC churn -> ~2s at sf0.1)
          Hex.prefix(md5(col("o_orderkey").cast("string").cast("binary")), 1, 12)
            .as("h48"))
      val wt = PoissonThresholds.zipWithIndex.reverse
        .foldLeft(lit(PoissonThresholds.length.toLong)) {
          case (acc, (t, i)) => when(col("u32") < t, i.toLong).otherwise(acc)
        }
      // 200x fan-out via explode of a CONSTANT sequence, not
      // crossJoin(broadcast(rep)): the BNLJ materialized ~30M joined
      // UnsafeRows fast enough to fill the heap and hand the suite a
      // 13s full-GC pause. Generate(explode) is
      // whole-stage-codegen'd, so fan-out -> u32 -> wt -> partial agg
      // run in ONE pipeline per input row with no intermediate row
      // materialization; only (cents, h48) ride into the fan-out.
      val m = o.select(col("cents"), col("h48"),
          explode(sequence(lit(0L), lit(199L))).as("b"))
        .withColumn("u32", expr("(h48 * (2 * b + 1)) % 4294967296"))
        .withColumn("wt", wt)
        .groupBy("b")
        .agg(sum(col("wt") * col("cents")).as("num"), sum(col("wt")).as("den"))
        .filter(col("den") > 0)
        .select(col("b"), expr("num div den").as("mean_cents"))
      // 200 replicas by construction — bounded frame, deliberate
      // single partition (BoundedWindow documents the assertion)
      m.withColumn("rn",
          row_number().over(graft.ops.BoundedWindow.single(
            col("mean_cents"), col("b"))))
        .withColumn("nb", count(lit(1)).over(
          graft.ops.BoundedWindow.all(col("mean_cents"))))
        .agg(
          max(when(expr("rn = (5 * nb + 99) div 100"), col("mean_cents")))
            .as("lo_cents"),
          max(when(expr("rn = (nb + 1) div 2"), col("mean_cents")))
            .as("med_cents"),
          max(when(expr("rn = (95 * nb + 99) div 100"), col("mean_cents")))
            .as("hi_cents"),
          max(col("nb")).as("n_replicas"))
    }
  }

  /** JSON schema-drift audit over semi-structured payloads — the
    * health check a JSONL training-data feed runs per batch: for each
    * expected key, how many docs are valid JSON at all, carry the key,
    * and pass its content rule (digits for id/score, a language
    * whitelist for lang), as counts and exact ppm rates. Payload
    * variants are INJECTED deterministically (missing keys, rule-
    * violating values, extra keys, truncated JSON — the
    * q_text_pii_redact non-vacuity pattern), so every failure mode is
    * exercised. Content rules rather than JSON types keep the contract
    * engine-portable: both engines unquote extracted strings, so a
    * regexp on the extracted text reads identically, while native
    * JSON-type introspection differs. Validity gates the extractor
    * (DuckDB's json functions RAISE on malformed input; the CASE guard
    * is load-bearing).
    *
    * Shape at 100TB: stateless map-side parse + one aggregate over
    * (key) — the payload column is scanned once per key via a 3-row
    * broadcast rules frame.
    */
  val jsonSchemaAudit: Q = Q(
    "q_json_schema_audit",
    """WITH p AS (SELECT doc_id,
      |    CASE doc_id % 7
      |      WHEN 0 THEN '{"id": ' || doc_id || ', "lang": "en", "score": '
      |        || doc_id % 100 || '}'
      |      WHEN 1 THEN '{"id": ' || doc_id || ', "lang": "de"}'
      |      WHEN 2 THEN '{"id": ' || doc_id || ', "score": "abc'
      |        || doc_id % 10 || '"}'
      |      WHEN 3 THEN '{"id": ' || doc_id || ', "lang": "en", "score": '
      |        || doc_id % 100 || ', "extra": true}'
      |      WHEN 4 THEN '{"id": "x' || doc_id || '"}'
      |      WHEN 5 THEN '{"id": ' || doc_id || ', "lang": "fr", "score": '
      |        || doc_id % 100 || '}'
      |      ELSE '{"id": ' || doc_id || ', "lang": "fr", "score":'
      |    END AS payload
      |  FROM documents),
      |v AS (SELECT doc_id, payload, json_valid(payload) AS ok FROM p),
      |k(key, rule) AS (VALUES ('id', '^[0-9]+$'), ('lang', '^(en|de|fr)$'),
      |                        ('score', '^[0-9]+$')),
      |x AS (SELECT v.doc_id, v.ok, k.key, k.rule,
      |        CASE WHEN v.ok THEN json_extract_string(v.payload, '$.' || k.key)
      |        END AS val
      |      FROM v, k)
      |SELECT key,
      |  COUNT(*) AS n_docs,
      |  COUNT(CASE WHEN ok THEN 1 END) AS n_valid_json,
      |  COUNT(val) AS n_present,
      |  COUNT(CASE WHEN regexp_matches(val, rule) THEN 1 END) AS n_rule_ok,
      |  COUNT(CASE WHEN ok AND val IS NULL THEN 1 END) AS n_missing,
      |  COUNT(val) * 1000000 // COUNT(*) AS present_ppm,
      |  COUNT(CASE WHEN regexp_matches(val, rule) THEN 1 END) * 1000000
      |    // COUNT(*) AS rule_ok_ppm
      |FROM x GROUP BY key ORDER BY key""".stripMargin) { (s, d) =>
    import s.implicits._
    val p = Tables.load(s, d, "documents")
      .select(col("doc_id"), expr(
        """CASE doc_id % 7
          | WHEN 0 THEN '{"id": ' || doc_id || ', "lang": "en", "score": '
          |   || doc_id % 100 || '}'
          | WHEN 1 THEN '{"id": ' || doc_id || ', "lang": "de"}'
          | WHEN 2 THEN '{"id": ' || doc_id || ', "score": "abc'
          |   || doc_id % 10 || '"}'
          | WHEN 3 THEN '{"id": ' || doc_id || ', "lang": "en", "score": '
          |   || doc_id % 100 || ', "extra": true}'
          | WHEN 4 THEN '{"id": "x' || doc_id || '"}'
          | WHEN 5 THEN '{"id": ' || doc_id || ', "lang": "fr", "score": '
          |   || doc_id % 100 || '}'
          | ELSE '{"id": ' || doc_id || ', "lang": "fr", "score":'
          |END""".stripMargin).as("payload"))
    val rules = Seq(("id", "^[0-9]+$"), ("lang", "^(en|de|fr)$"),
      ("score", "^[0-9]+$")).toDF("key", "rule")
    p.withColumn("ok", get_json_object(col("payload"), "$").isNotNull)
      .crossJoin(broadcast(rules))
      .withColumn("val",
        when(col("ok"), expr("get_json_object(payload, '$.' || key)")))
      .withColumn("rule_ok", expr("regexp_like(val, rule)"))
      .groupBy("key")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("ok"), 1)).as("n_valid_json"),
        count(col("val")).as("n_present"),
        count(when(col("rule_ok"), 1)).as("n_rule_ok"),
        count(when(col("ok") && col("val").isNull, 1)).as("n_missing"))
      .withColumn("present_ppm", expr("n_present * 1000000 div n_docs"))
      .withColumn("rule_ok_ppm", expr("n_rule_ok * 1000000 div n_docs"))
      .orderBy("key")
  }

  /** Per-entity lag/rolling feature engineering — the feature matrix a
    * demand-forecasting model trains on: per customer order history,
    * lag-1/lag-2 value, first difference, inter-purchase gap, rolling
    * 3-order mean (exact integer division), day-of-week, and sequence
    * index — all from ONE window exchange on the customer key (every
    * feature shares the same partition + sort, so Catalyst plans one
    * shuffle + one sort for the lot).
    */
  val tsFeatures: Q = Q(
    "q_ts_features",
    """WITH o AS (SELECT o_custkey, o_orderkey,
      |        epoch_ms(o_orderdate) // 86400000 AS day,
      |        CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
      |      FROM orders),
      |f AS (SELECT o_custkey, o_orderkey, day, cents,
      |        LAG(cents, 1) OVER w AS lag1,
      |        LAG(cents, 2) OVER w AS lag2,
      |        cents - LAG(cents, 1) OVER w AS diff1,
      |        day - LAG(day, 1) OVER w AS days_since_prev,
      |        CAST(SUM(cents) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
      |             AS BIGINT) AS roll3_sum,
      |        COUNT(*) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
      |          AS roll3_n,
      |        (day + 4) % 7 AS dow,
      |        ROW_NUMBER() OVER w AS seq
      |      FROM o
      |      WINDOW w AS (PARTITION BY o_custkey ORDER BY day, o_orderkey))
      |SELECT o_custkey, o_orderkey, seq, day, dow, cents, lag1, lag2, diff1,
      |  days_since_prev, roll3_sum // roll3_n AS roll3_mean
      |FROM f ORDER BY o_custkey, seq""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("o_custkey").orderBy("day", "o_orderkey")
    val fr = w.rowsBetween(-2, 0)
    Tables.load(s, d, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        graft.functions.Exact.bucket(ms(col("o_orderdate")), 86400000L)
          .as("day"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .withColumn("lag1", lag(col("cents"), 1).over(w))
      .withColumn("lag2", lag(col("cents"), 2).over(w))
      .withColumn("diff1", col("cents") - col("lag1"))
      .withColumn("days_since_prev", col("day") - lag(col("day"), 1).over(w))
      .withColumn("roll3_sum", sum(col("cents")).over(fr))
      .withColumn("roll3_n", count(lit(1)).over(fr))
      .withColumn("dow", (col("day") + 4) % 7)
      .withColumn("seq", row_number().over(w).cast("long"))
      .select(col("o_custkey"), col("o_orderkey"), col("seq"), col("day"),
        col("dow"), col("cents"), col("lag1"), col("lag2"), col("diff1"),
        col("days_since_prev"),
        expr("roll3_sum div roll3_n").as("roll3_mean"))
      .orderBy("o_custkey", "seq")
  }

  /** Skip-gram training-pair generation with negative sampling — the
    * word2vec corpus builder (Mikolov et al. 1310.4546) as one
    * deterministic query: (center, context) pairs over a ±2 window,
    * center instances kept by the frequency-subsampling gate
    * p = (√(z/t)+1)·t/z at t=10⁻³ (every float op is one
    * correctly-rounded IEEE step over the same tree, so both engines
    * agree bit-for-bit; the uniform is the established md5-u32 gate),
    * and 3 negatives per pair drawn from the unigram^(3/4)
    * distribution — the ¾ power computed WITHOUT pow as
    * floor(√c·√√c), two exactly-rounded roots, and the draw as
    * md5-u32 mod Σw against broadcast cumulative ranges. Subsampling
    * gates center instances only (window adjacency stays positional —
    * the deterministic-window contract, documented deviation from
    * compaction-then-pair).
    *
    * Shape at 100TB: tokenize + gate are map-side behind the
    * repartition; vocab counts, the ¾-power ranges, and the total are
    * tiny broadcasts; the context join is an equi-join on
    * (doc, position); no shuffle carries more than the pair stream.
    */
  val skipgramPairs: Q = Q(
    "q_skipgram_pairs",
    s"""WITH tk AS (SELECT doc_id,
      |        ${Text.tokensSql("text")} AS toks
      |      FROM documents),
      |tok AS (SELECT doc_id, i, toks[i] AS w
      |        FROM tk, (SELECT unnest(range(1,
      |          (SELECT COALESCE(MAX(len(toks)), 0) + 1 FROM tk))) AS i) p
      |        WHERE i <= len(toks)),
      |cnt AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY 1),
      |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM cnt),
      |keepp AS (SELECT w, c,
      |            (SQRT((CAST(c AS DOUBLE) / total) * 1000) + 1)
      |              * (0.001 / (CAST(c AS DOUBLE) / total)) AS p_keep
      |          FROM cnt, tot),
      |kept AS (SELECT t.doc_id, t.i, t.w FROM tok t JOIN keepp k ON k.w = t.w
      |         WHERE (${Hex.prefixSql(
        "md5(CAST(t.doc_id AS VARCHAR) || ':' || CAST(t.i AS VARCHAR))", 1, 8)} + 1)
      |               / 4294967296.0 < k.p_keep),
      |ctx AS (SELECT k.doc_id, k.i, k.w AS center, o.o AS off, t2.w AS context
      |        FROM kept k, (SELECT unnest([-2, -1, 1, 2]) AS o) o
      |        JOIN tok t2 ON t2.doc_id = k.doc_id AND t2.i = k.i + o.o),
      |negw AS (SELECT w, CAST(FLOOR(SQRT(CAST(c AS DOUBLE))
      |                * SQRT(SQRT(CAST(c AS DOUBLE)))) AS BIGINT) AS wt
      |         FROM cnt),
      |negc AS (SELECT w, wt,
      |           CAST(SUM(wt) OVER (ORDER BY w) AS BIGINT) AS hi,
      |           CAST(SUM(wt) OVER (ORDER BY w) - wt AS BIGINT) AS lo
      |         FROM negw),
      |negtot AS (SELECT CAST(SUM(wt) AS BIGINT) AS bigw FROM negw),
      |negs AS (SELECT c.doc_id, c.i, c.off, c.center, c.context, j.j,
      |           ${Hex.prefixSql("md5(CAST(c.doc_id AS VARCHAR) || ':' || " +
        "CAST(c.i AS VARCHAR) || ':' || CAST(c.off AS VARCHAR) || ':' || " +
        "CAST(j.j AS VARCHAR))", 1, 8)}
      |             % nt.bigw AS u
      |         FROM ctx c, (SELECT unnest(range(0, 3)) AS j) j, negtot nt)
      |SELECT n.doc_id, n.i AS pos, n.off, n.center, n.context,
      |       n.j AS neg_slot, g.w AS negative
      |FROM negs n JOIN negc g ON n.u >= g.lo AND n.u < g.hi
      |ORDER BY n.doc_id, pos, n.off, neg_slot""".stripMargin) { (s, d) =>
    val np = Session.partitions(s)
    val tok = Tables.load(s, d, "documents")
      .repartition(np)
      .select(col("doc_id"),
        posexplode(Text.tokens(col("text"))))
      .select(col("doc_id"), (col("pos") + 1).as("i"), col("col").as("w"))
    val cnt = tok.groupBy("w").agg(count(lit(1)).as("c"))
    val tot = cnt.agg(sum(col("c")).as("total"))
    val keepp = cnt.crossJoin(broadcast(tot))
      .withColumn("p_keep",
        (sqrt(col("c").cast("double") / col("total") * lit(1000)) + lit(1))
          * (lit(0.001) / (col("c").cast("double") / col("total"))))
      .select("w", "p_keep")
    def u32(parts: org.apache.spark.sql.Column*) =
      Hex.prefix(md5(concat_ws(":", parts: _*).cast("binary")), 1, 8)
    // subsample gate is vocabulary-grain (corpus-scaling): the equi-
    // join on w is stats/AQE-decided (the RANGE join against negc
    // below stays hinted — broadcast is the only physical strategy
    // for a non-equi join short of a cartesian product)
    val kept = tok.join(keepp, "w")
      .filter((u32(col("doc_id").cast("string"), col("i").cast("string"))
        + lit(1)) / lit(4294967296.0) < col("p_keep"))
      .select(col("doc_id"), col("i"), col("w"))
    val t2 = tok.select(col("doc_id").as("d2"), col("i").as("i2"),
      col("w").as("context"))
    val ctx = kept
      .withColumn("off", explode(array(lit(-2), lit(-1), lit(1), lit(2))))
      // both (doc, position) legs are equi keys — SMJ/shuffle-hash on
      // (doc_id, i+off), never a per-doc cross product
      .join(t2, col("d2") === col("doc_id")
        && col("i2") === col("i") + col("off"))
      .select(col("doc_id"), col("i"), col("w").as("center"), col("off"),
        col("context"))
    val negw = cnt.select(col("w"),
      floor(sqrt(col("c").cast("double"))
        * sqrt(sqrt(col("c").cast("double")))).cast("long").as("wt"))
    // vocabulary-bounded frame (one row per distinct word) —
    // deliberate single partition (BoundedWindow)
    val byW = graft.ops.BoundedWindow.single(col("w"))
    val negc = negw
      .withColumn("hi", sum(col("wt")).over(byW))
      .withColumn("lo", col("hi") - col("wt"))
    val negtot = negw.agg(sum(col("wt")).as("bigw"))
    val negs = ctx
      .withColumn("j", explode(array(lit(0L), lit(1L), lit(2L))))
      .crossJoin(broadcast(negtot))
      .withColumn("u",
        u32(col("doc_id").cast("string"), col("i").cast("string"),
          col("off").cast("string"), col("j").cast("string")) % col("bigw"))
    negs
      .join(broadcast(negc.select(col("w").as("negative"), col("lo"), col("hi"))),
        col("u") >= col("lo") && col("u") < col("hi"))
      .select(col("doc_id"), col("i").as("pos"), col("off"), col("center"),
        col("context"), col("j").as("neg_slot"), col("negative"))
      .orderBy("doc_id", "pos", "off", "neg_slot")
  }

  val all: Seq[Q] = Seq(tsEma, anomalyCusum, targetEncode, winsorize,
    vocabGrowth, sketchQuantileFx, urlCanonicalize, graphKcore, theilsenTrend,
    abcClassify, skewReport, rollingCorr, curationPipeline, bootstrapCi,
    jsonSchemaAudit, tsFeatures, skipgramPairs)
}
