package graftbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** The benchmark's one command (started by `perfbench/run.py`):
  *
  *   Main --workload etl_incremental|analytics --seed N
  *        --seconds S --trace 0|1 --work DIR
  *
  * Prints, as the last line of standard output, one JSON object with
  * `correct`, `attempted`, `failed` and `metrics`: the end-to-end
  * metrics when untraced, the per-layer metrics when traced (see
  * perfbench/README.md). A wrong program output prints `correct: false`
  * and exits 1.
  */
object Main {
  /** Set-up runs this many times; `setup_s` is the median. */
  val SetupReps = 3

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: File)

  val Workloads = Seq("etl_incremental", "analytics")

  def parse(argv: Array[String]): Args = {
    val usage = "usage: --workload " + Workloads.mkString("|") +
      " --seed N --seconds S --trace 0|1 --work DIR"
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
      case bad => throw new IllegalArgumentException(s"$usage; bad: ${bad.mkString(" ")}")
    }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"$usage; missing --$k"))
    require(kv.keySet == Set("workload", "seed", "seconds", "trace", "work"), usage)
    val a = Args(get("workload"), get("seed").toLong, get("seconds").toInt,
      get("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"$usage; --trace $t")
      }, new File(get("work")))
    require(Workloads.contains(a.workload), usage)
    require(a.seconds >= 1, usage)
    a
  }

  def session(work: File): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      // the program's bench session (graft.Bench), paths kept inside
      // the benchmark's work directory
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.ui.enabled", "false")
      // Spark's own job/stage/execution history would otherwise grow
      // through the run and read as program heap in heap_peak_mb
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = try parse(argv) catch {
      case e: IllegalArgumentException => System.err.println(e.getMessage); sys.exit(2)
    }
    a.work.mkdirs()
    val t0 = System.nanoTime()
    val spark = session(a.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val code =
      try run(spark, a, sessionS)
      finally {
        graft.ops.SharedFrames.releaseAll()
        spark.stop()
      }
    sys.exit(code)
  }

  private def run(spark: SparkSession, a: Args, sessionS: Double): Int = {
    val cores = spark.sparkContext.defaultParallelism
    val h = new Harness(spark, cores)
    val w: Workload = a.workload match {
      case "etl_incremental" =>
        new EtlWorkload(spark, a.seed, a.work)
      case "analytics" =>
        new AnalyticsWorkload(spark, a.seed, a.work)
    }
    def result(correct: Boolean, metrics: Map[String, (Double, String)]): String =
      Json.obj(Seq("correct" -> correct, "attempted" -> h.attempted, "failed" -> h.failed,
        "metrics" -> metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
          k -> Map("value" -> v, "unit" -> u)
        }.toMap))
    try {
      val setups = (1 to SetupReps).map { _ =>
        val t0 = System.nanoTime(); w.setup(); (System.nanoTime() - t0) / 1e9
      }
      val t1 = System.nanoTime()
      w.warmup(h)
      val warmupS = (System.nanoTime() - t1) / 1e9
      h.resetCounts()
      val episodes = math.max(1, math.round(a.seconds / w.episodeSeconds).toInt)
      val steal0 = Steal.ticks()
      val ops = h.measure(w, episodes, a.trace)
      val steal = Steal.share(steal0, Steal.ticks())
      val untraced = ops.filter(o => o.ok && o.span.isEmpty)
      val traced = ops.filter(o => o.ok && o.span.nonEmpty)
      val lat = untraced.map(_.seconds)
      val tail = Stats.tail(lat)
      val notes = Map("workload" -> a.workload, "seed" -> a.seed, "cores" -> cores,
        "session_s" -> sessionS, "setup_s_each" -> setups, "warmup_s" -> warmupS,
        "episodes" -> episodes, "steal_share" -> steal, "ops" -> lat.length,
        "op_p50_s" -> Stats.median(lat), "op_geomean_s" -> Stats.geomean(lat),
        "op_tail_s" -> tail.value,
        "op_tail_percentile" -> tail.percentile, "op_tail_samples" -> tail.samples) ++ w.notes
      val metrics: Map[String, (Double, String)] =
        if (!a.trace) Map(
          "setup_s" -> (Stats.median(setups), "s"),
          "ops_per_s" -> (lat.length / lat.sum, "1/s"),
          "cpu_s_per_op" -> (untraced.map(_.cpuS).sum / lat.length, "s"),
          "heap_peak_mb" -> (h.heapPeakMb, "MB"))
        else {
          val layers = h.sparkLayers(traced, w.layer) ++ w.layers(h, traced) +
            ("trace.overhead_share" -> (traced.map(_.seconds).sum / lat.sum - 1))
          val units = PerLayer.units
          val unknown = layers.keySet -- units.keySet
          require(unknown.isEmpty, s"per-layer metrics without a unit: $unknown")
          units.map { case (k, u) => k -> (layers.getOrElse(k, 0.0), u) }
        }
      if (a.trace) {
        val path = new File(a.work, s"trace-${a.workload}-${a.seed}.jsonl")
        h.tracer.write(path.toPath)
        System.err.println(s"[perfbench] spans written to $path")
      }
      println(Json.obj(Seq("notes" -> notes)))
      println(result(correct = true, metrics))
      0
    } catch {
      case m: Mismatch =>
        System.err.println(s"[perfbench] WRONG OUTPUT: ${m.getMessage}")
        println(result(correct = false, Map.empty))
        1
    }
  }
}

/** Every per-layer metric with its unit; a traced run prints all of
  * them, 0 where the workload does not reach the layer. */
object PerLayer {
  val units: Map[String, String] = Map(
    "ingest.avro_sink.busy_s" -> "s",
    "ingest.warehouse_append.busy_s" -> "s",
    "ingest.etl.busy_s" -> "s",
    "ingest.driver_s" -> "s",
    "ingest.etl.scan_ratio" -> "ratio",
    "ingest.avro_files" -> "count",
    "ingest.avro_bytes" -> "bytes",
    "ingest.warehouse_bytes" -> "bytes",
    "ingest.dest_bytes" -> "bytes",
    "ingest.rows_per_s" -> "1/s",
    "ingest.written_bytes_per_row" -> "bytes",
    "ingest.busy_s" -> "s",
    "queries.busy_s" -> "s",
    "ops.busy_s" -> "s",
    "plans.busy_s" -> "s",
    "text.busy_s" -> "s",
    "dedup.busy_s" -> "s",
    "ml.busy_s" -> "s",
    "functions.busy_s" -> "s",
    "queries.plan_s" -> "s",
    "ops.shared_frames.builds" -> "count",
    "ops.shared_frames.build_s" -> "s",
    "spark.jobs" -> "count",
    "spark.tasks" -> "count",
    "spark.task_busy_share" -> "share",
    "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "spark.output_bytes" -> "bytes",
    "jvm.gc_s" -> "s",
    "trace.overhead_share" -> "share") ++
    AnalyticsWorkload.Mix.map(q => s"queries.$q.s" -> "s")
}

/** Share of CPU time the hypervisor took from this machine (Linux
  * `/proc/stat` steal ticks), for reading a run's wall-time numbers. */
object Steal {
  def ticks(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      try {
        val cpu = f.getLines().next().split("\\s+").drop(1).map(_.toLong)
        (if (cpu.length > 7) cpu(7) else 0L, cpu.sum)
      } finally f.close()
    } catch { case _: Exception => (0L, 0L) }

  def share(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) (b._1 - a._1).toDouble / (b._2 - a._2) else 0.0
}
