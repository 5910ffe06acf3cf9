package graftbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One timed call into the program.
  * @param name what was called (a query name, or the workload's op name)
  * @param episode the episode (pass, session or batch series) it ran in
  * @param seconds wall time of the call; NaN when it threw
  * @param span the trace span, when the episode was traced
  * @param gcS JVM collection time during the call
  * @param cpuS CPU time of every JVM thread during the call
  * @param facts workload measurements of this call (rows, bytes, ...)
  */
final case class OpResult(name: String, episode: Int, seconds: Double,
    span: Option[Span], gcS: Double, cpuS: Double, facts: Map[String, Double] = Map.empty) {
  def ok: Boolean = !seconds.isNaN
}

/** A wrong program output: fails the run, never counted as a timing. */
final class Mismatch(msg: String) extends Exception(msg)

/** A named benchmark workload. */
trait Workload {
  /** The program module whose public entry point each call enters. */
  def layer: String
  /** Wall seconds one episode takes on a 4-core machine; a run of
    * `--seconds S` measures round(S / episodeSeconds) episodes (at least
    * one), the same work whatever the program's speed. */
  def episodeSeconds: Double
  /** Build the inputs from the seed, from scratch. Called several times;
    * the last build is the one measured. */
  def setup(): Unit
  /** Untimed work before measuring: outputs are checked here too. */
  def warmup(h: Harness): Unit
  /** One closed-loop episode; every call checks its output. */
  def episode(h: Harness, index: Int): Seq[OpResult]
  /** Workload-specific per-layer metrics from traced ops. */
  def layers(h: Harness, traced: Seq[OpResult]): Map[String, Double]
  /** Facts to print beside the result (warm-up size, check time, ...). */
  def notes: Map[String, Any] = Map.empty
}

/** Runs a workload: set-up, warm-up, the measured closed loop, and the
  * metric computation. One client: each call starts when the previous
  * one has returned and its output has been checked. */
final class Harness(val spark: SparkSession, val cores: Int) {
  val tracer = new Tracer(spark.sparkContext)
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private var heapPeak = 0L
  private var failures = 0
  private var attempts = 0
  private var request = 0L
  private var tracing = false
  private var measuring = false

  private def gcMs: Long = gcBeans.map(_.getCollectionTime).sum
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNs: Long = os.getProcessCpuTime

  /** Between timed calls and outside them (as graft.Bench does): drop
    * every persisted relation except shared frames, BLOCKING so cleanup
    * cannot overlap the next call, then collect garbage. While
    * measuring, collect until the heap settles: that settled heap is the
    * live set the program retains between calls. */
  def hygiene(): Unit = {
    spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => graft.ops.SharedFrames.isShared(id) }
      .values.foreach(_.unpersist(blocking = true))
    spark.sharedState.cacheManager.clearCache()
    if (measuring) heapPeak = math.max(heapPeak, settledHeap())
    else System.gc()
  }

  private def usedHeap: Long = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed

  /** Heap in use once collections stop freeing memory. One collection
    * still counts a finished call's broadcasts, shuffle state and
    * blocks: Spark's ContextCleaner frees them on its own thread only
    * after a collection has cleared their last reference, and freeing
    * one can release the next. Two more collections, each after a short
    * pause, settle it; a third, keeping the smaller of the last two
    * readings, drops what other threads allocated between collection
    * and reading. */
  private def settledHeap(): Long = {
    System.gc()
    val readings = (1 to 3).map { _ =>
      Thread.sleep(50)
      System.gc()
      usedHeap
    }
    readings.drop(1).min
  }

  /** Time one call; a throw counts as a failed attempt, not a timing.
    * `slot` is the call's fixed place in an episode (batch number, query
    * number in the mix). A traced call runs inside a span with the
    * listener attached; the listener is drained and detached after the
    * call, outside its time. */
  def op[T](name: String, episode: Int, slot: Int)(body: => T): (Option[T], OpResult) = {
    hygiene()
    attempts += 1
    request += 1
    val traced = tracing && (slot + episode) % 2 == 1
    tracer.attach(traced)
    try timed(name, episode)(body)
    finally if (traced) { tracer.drain(); tracer.attach(false) }
  }

  private def timed[T](name: String, episode: Int)(body: => T): (Option[T], OpResult) = {
    val g0 = gcMs
    val c0 = cpuNs
    val t0 = System.nanoTime()
    try {
      val (out, span) =
        if (tracer.isAttached) {
          val (o, s) = tracer.span(name, 0L, request)(body)
          (o, Some(s))
        } else (body, None)
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] episode $episode%3d $name%-28s $sec%.3f s")
      (Some(out), OpResult(name, episode, sec, span, (gcMs - g0) / 1e3, (cpuNs - c0) / 1e9))
    } catch {
      case m: Mismatch => throw m
      case e: Exception =>
        failures += 1
        System.err.println(s"[perfbench] $name failed: $e")
        (None, OpResult(name, episode, Double.NaN, None, (gcMs - g0) / 1e3, (cpuNs - c0) / 1e9))
    }
  }

  def attempted: Int = attempts
  def failed: Int = failures
  /** Largest settled heap over the measured calls (set-up and warm-up
    * are not measured). */
  def heapPeakMb: Double = heapPeak / 1048576.0
  def resetCounts(): Unit = { attempts = 0; failures = 0 }

  /** Run `episodes` whole episodes. A traced run (at least two
    * episodes) traces every other slot, swapping which ones each
    * episode, so in a pair of episodes every slot is traced once and
    * untraced once: the untraced calls of the same run give the tracing
    * overhead. */
  def measure(w: Workload, episodes: Int, trace: Boolean): Seq[OpResult] = {
    tracing = trace
    measuring = true
    val n = if (trace) math.max(2, episodes) else episodes
    val ops = (0 until n).flatMap(i => w.episode(this, i))
    hygiene() // so the heap the last call leaves is measured too
    measuring = false
    ops
  }

  /** Generic per-layer metrics of traced calls: medians over calls of
    * each call's Spark work, plus job time per program module. A job
    * whose call site holds no program frame (an action the harness
    * itself runs on a lazily built frame) belongs to `layer`, the module
    * of the entry point the call went into. */
  def sparkLayers(traced: Seq[OpResult], layer: String): Map[String, Double] = {
    def med(f: (OpResult, Seq[JobRecord]) => Double): Double =
      if (traced.isEmpty) 0.0
      else Stats.median(traced.map(o => f(o, tracer.jobsOf(o.span.get.id))))
    val modules = Seq("ingest", "queries", "ops", "plans", "text", "dedup", "ml", "functions")
    val perModule = modules.map { m =>
      val busy = traced.map(o => tracer.jobsOf(o.span.get.id)
        .filter(j => (if (j.module.startsWith("?/")) layer else j.module.takeWhile(_ != '/')) == m)
        .map(j => (j.endNs - j.startNs) / 1e9).sum)
      s"$m.busy_s" -> (if (busy.isEmpty) 0.0 else busy.sum / busy.length)
    }
    Map(
      "spark.jobs" -> med((_, js) => js.size.toDouble),
      "spark.tasks" -> med((_, js) => js.map(_.tasks).sum.toDouble),
      "spark.task_busy_share" -> med((o, js) => js.map(_.runMs).sum / 1e3 / (o.seconds * cores)),
      "spark.shuffle_write_bytes" -> med((_, js) => js.map(_.shuffleWrite).sum.toDouble),
      "spark.shuffle_read_bytes" -> med((_, js) => js.map(_.shuffleRead).sum.toDouble),
      "spark.spill_bytes" -> med((_, js) => js.map(_.spill).sum.toDouble),
      "spark.output_bytes" -> med((_, js) => js.map(_.output).sum.toDouble),
      "jvm.gc_s" -> med((o, _) => o.gcS)) ++ perModule
  }

  /** The part of a span no Spark job covers: driver-side time. */
  def driverSeconds(s: Span): Double = {
    val iv = tracer.jobsOf(s.id).map(j => (math.max(j.startNs, s.startNs), math.min(j.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    ((s.endNs - s.startNs) - covered) / 1e9
  }

  /** Time from the call to its first Spark job; the whole call if none. */
  def planSeconds(s: Span): Double = {
    val js = tracer.jobsOf(s.id)
    if (js.isEmpty) s.seconds else (js.map(_.startNs).min - s.startNs) / 1e9
  }
}
