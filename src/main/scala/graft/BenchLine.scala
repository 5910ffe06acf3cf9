package graft

/** Builds Bench's single JSON artifact line. Pure (no Spark) so the
  * stdout contract — length ceiling, decimal-degradation ladder,
  * gc_hot emission — is unit-testable without running the suite
  * (BenchLineSpec).
  *
  * Driver-tail contract (cost round 9 its bench number): the consumer
  * keeps only the LAST ~2000 chars of the run's output and parses the
  * JSON line out of that tail. Therefore (a) the line must stay
  * <= [[MaxLen]] chars, and (b) NOTHING may print after it — every
  * cleanup step (SharedFrames.releaseAll, unpersists, spark.stop log
  * noise) must run before the line is printed, with the log level
  * forced to ERROR first. Bench.main enforces (b); this object
  * enforces (a).
  */
object BenchLine {

  /** 1500, not 1800: r9's ~1800-char line was crowded out of the
    * 2000-char tail by ~1,070 chars of post-print unpersist WARNs plus
    * sbt's success line. Cleanup now precedes the print, but the lower
    * ceiling keeps ~400 chars of slack against future log surprises
    * (sbt's "[success] Total time" trailer alone is ~75). */
  val MaxLen = 1500

  /** gc_hot lists queries whose gc_ms exceeds this fraction of the
    * suite's total GC time — the fail-soft visibility signal for the
    * next q_bootstrap_ci-style GC bomb. Only emitted when the suite's
    * total GC is big enough to matter (>= 2s): at a 0.1s suite total,
    * a 25ms collection is noise, not a bomb. */
  val GcHotFraction = 0.2
  val GcHotMinSuiteS = 2.0

  // Locale.ROOT everywhere: a non-English default locale renders %f
  // with comma decimals and breaks the single-line JSON contract.
  private def fmt(dec: Int, v: Double): String =
    String.format(java.util.Locale.ROOT, s"%.${dec}f", Double.box(v))

  /** Deterministic bench execution order (r12 VERDICT #2): the registry
    * is a Map, so "registry order" was hash order — WHICH family member
    * paid a SharedFrames build moved between rounds whenever the
    * registry grew, producing false driver-side regressions (r12:
    * q_copurchase_lift read 5.68s paying graph_pairs_ge2 vs 2.23s
    * isolated). Name-sorted order makes paid_build attribution stable
    * round-over-round: the alphabetically-first family member always
    * pays. */
  def order(names: Iterable[String]): Seq[String] = names.toSeq.distinct.sorted

  /** Renders the artifact line, degrading per-query precision
    * (3 -> 2 -> 1 decimals), then falling back to the most-expensive-N
    * queries at 2 decimals plus a fast_omitted count, so SOME line
    * always fits in [[MaxLen]]. Full precision belongs in the side
    * file, not here.
    *
    * @param results  query -> wall seconds (-1.0 for a failed query)
    * @param gcMs     query -> GC wall ms measured across its timed region
    */
  /** @param canaryS median wall seconds of the fixed calibration
    *   workload (registry/SF-independent; Bench.main) — the driver-env
    *   speed normalizer. Negative means "not measured" and is omitted,
    *   keeping pre-canary consumers working (r13 VERDICT #1). */
  def build(
      results: Map[String, Double],
      gcMs: Map[String, Long],
      failed: Seq[String],
      cores: Int,
      heapG: Long,
      ramG: Long,
      sfDir: String,
      canaryS: Double = -1.0): String = {
    val total = results.values.filter(_ >= 0).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val gcTotalS = gcMs.values.sum / 1e3
    val gcHot =
      if (gcTotalS < GcHotMinSuiteS) Seq.empty[String]
      else gcMs.toSeq
        .filter { case (_, ms) => ms > GcHotFraction * gcTotalS * 1e3 }
        .sortBy { case (n, ms) => (-ms, n) }
        .map(_._1)
    val gcHotJson =
      if (gcHot.isEmpty) ""
      else gcHot.map("\"" + _ + "\"").mkString(",\"gc_hot\":[", ",", "]")
    val canaryJson =
      if (canaryS < 0) "" else s""","canary_s":${fmt(2, canaryS)}"""
    def head =
      s""""metric":"total","value":${fmt(3, total)},"unit":"sec","cores":$cores,"heap_g":$heapG,"ram_g":$ramG,"gc_s":${fmt(1, gcTotalS)}$canaryJson$gcHotJson"""
    def tail = s""""failed":$failedJson,"sf":"$sfDir""""
    def render(dec: Int): String = {
      val qs = results
        .map { case (k, v) => "\"" + k + "\":" + fmt(dec, v) }
        .mkString("{", ",", "}")
      s"""{$head,"queries":$qs,$tail}"""
    }
    def topN(n: Int): String = {
      val top = results.toSeq.sortBy { case (k, v) => (-v, k) }.take(n)
      val qs = top
        .map { case (k, v) => "\"" + k + "\":" + fmt(2, v) }
        .mkString("{", ",", "}")
      s"""{$head,"queries":$qs,"fast_omitted":${results.size - top.size},$tail}"""
    }
    def topFit: String =
      (results.size to 0 by -1).iterator.map(topN)
        .find(_.length <= MaxLen).getOrElse(topN(0))
    Seq(render(3), render(2), render(1))
      .find(_.length <= MaxLen).getOrElse(topFit)
  }
}
