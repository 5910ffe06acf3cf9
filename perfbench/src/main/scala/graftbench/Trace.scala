package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One timed interval. `request` ties the spans of one benchmark
  * operation together; `parent` is the span that caused this one
  * (0 for an operation's root). Times are `System.nanoTime`. */
final case class Span(id: Long, parent: Long, request: Long, name: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Work one Spark job did, summed over its tasks. */
final case class JobRecord(jobId: Int, span: Long, startNs: Long, endNs: Long,
    module: String, callSite: String, plan: String, tasks: Long,
    runMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
    output: Long)

/** In-memory span store plus the listener that links Spark jobs to the
  * benchmark's spans.
  *
  * The benchmark names the span it is inside through a Spark local
  * property on its own thread ([[SpanProperty]]); Spark copies local
  * properties into every job submitted on behalf of that thread, and
  * the listener reads the property back at job start. A job is
  * attributed to a program module by the first `graft.` frame of its
  * call site (its result stage's `details`), falling back to the file
  * named in the short call site (the stage's name). Nothing is written
  * until [[write]] at the end of the run.
  */
final class Tracer(sc: SparkContext) {
  import Tracer._

  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 1L
  @volatile private var attached = false

  private final class Open(val startNs: Long, val callSite: String,
      val longSite: String, val execId: String, val span: Long) {
    var tasks, runMs, shuffleWrite, shuffleRead, spill, output = 0L
  }
  private val open = scala.collection.concurrent.TrieMap.empty[Int, Open]
  private val stageJob = scala.collection.concurrent.TrieMap.empty[Int, Int]
  /** SQL execution id -> (physical plan, call site) */
  private val plans = scala.collection.concurrent.TrieMap.empty[String, (String, String)]
  private val jobs = ArrayBuffer.empty[JobRecord]
  @volatile private var drainMarkerSeen = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse("")
      if (prop(DrainProperty).nonEmpty) return
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      // the result stage carries the job's call site: name = short form,
      // details = the stack of the call that submitted it
      val result = e.stageInfos.sortBy(_.stageId).lastOption
      open(e.jobId) = new Open(System.nanoTime(), result.map(_.name).getOrElse(""),
        result.map(_.details).getOrElse(""), prop("spark.sql.execution.id"),
        prop(SpanProperty).toLongOption.getOrElse(0L))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (j <- stageJob.get(e.stageId); o <- open.get(j); m <- Option(e.taskMetrics))
        o.synchronized {
          o.tasks += 1
          o.runMs += m.executorRunTime
          o.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          o.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          o.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          o.output += m.outputMetrics.bytesWritten
        }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      open.remove(e.jobId) match {
        case Some(o) =>
          // AQE submits query stages from its own threads; such a job
          // takes the call site of the SQL execution it belongs to
          val (plan, execSite) = plans.getOrElse(o.execId, ("", ""))
          val own = moduleOf(o.longSite, o.callSite)
          val module = if (own.startsWith("?/") && execSite.nonEmpty) moduleOf(execSite, "") else own
          val rec = JobRecord(e.jobId, o.span, o.startNs, System.nanoTime(),
            module, o.callSite, plan, o.tasks, o.runMs, o.shuffleWrite,
            o.shuffleRead, o.spill, o.output)
          Tracer.this.synchronized(jobs += rec)
        case None => drainMarkerSeen = true
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        plans(s.executionId.toString) = (s.physicalPlanDescription, s.details)
      case _ =>
    }
  }

  /** Start or stop receiving Spark events; detached runs pay nothing. */
  def attach(on: Boolean): Unit = if (on != attached) {
    if (on) sc.addSparkListener(listener) else sc.removeSparkListener(listener)
    attached = on
  }

  def isAttached: Boolean = attached

  private def newId(): Long = synchronized { val i = nextId; nextId += 1; i }

  /** Run `body` inside a span; jobs it submits on this thread link to it. */
  def span[T](name: String, parent: Long, request: Long)(body: => T): (T, Span) = {
    val id = newId()
    val prev = sc.getLocalProperty(SpanProperty)
    sc.setLocalProperty(SpanProperty, id.toString)
    val t0 = System.nanoTime()
    try {
      val out = body
      val s = Span(id, parent, request, name, t0, System.nanoTime())
      synchronized(spans += s)
      (out, s)
    } finally sc.setLocalProperty(SpanProperty, prev)
  }

  /** Wait until the listener has seen every event posted so far: a
    * marker job's end arrives after all earlier events on the bus. */
  def drain(): Unit = if (attached) {
    drainMarkerSeen = false
    sc.setLocalProperty(DrainProperty, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(DrainProperty, null)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!drainMarkerSeen && System.nanoTime() < deadline) Thread.sleep(5)
  }

  def jobsOf(span: Long): Seq[JobRecord] = synchronized(jobs.filter(_.span == span).toSeq)

  def allSpans: Seq[Span] = synchronized(spans.toSeq)

  /** Write every span and job as JSON lines; job spans are children of
    * the benchmark span that submitted them. */
  def write(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try {
      val byId = allSpans.map(s => s.id -> s).toMap
      allSpans.foreach { s =>
        w.write(Json.obj(Seq("id" -> s.id, "parent" -> s.parent,
          "request" -> s.request, "name" -> s.name, "start_ns" -> s.startNs,
          "end_ns" -> s.endNs)))
        w.newLine()
      }
      synchronized(jobs.toSeq).foreach { j =>
        w.write(Json.obj(Seq("id" -> s"job-${j.jobId}", "parent" -> j.span,
          "request" -> byId.get(j.span).map(_.request).getOrElse(0L),
          "name" -> "spark.job", "start_ns" -> j.startNs, "end_ns" -> j.endNs,
          "module" -> j.module, "call_site" -> j.callSite, "tasks" -> j.tasks,
          "executor_run_ms" -> j.runMs, "shuffle_write_bytes" -> j.shuffleWrite,
          "shuffle_read_bytes" -> j.shuffleRead, "spill_bytes" -> j.spill,
          "output_bytes" -> j.output)))
        w.newLine()
      }
    } finally w.close()
  }
}

object Tracer {
  val SpanProperty = "graftbench.span"
  private val DrainProperty = "graftbench.drain"

  private val Frame = """graft\.([a-z0-9_]+)\.""".r
  private val ShortFile = """ at ([A-Za-z0-9_$]+)\.scala:""".r

  /** Program module of a job: the package of the first `graft.` frame of
    * the long call site (`graft.ingest.AvroSink$...` -> `ingest`, with the
    * file kept for ingest's sub-layers), else the short call site's file. */
  def moduleOf(longSite: String, shortSite: String): String = {
    val frame = longSite.linesIterator.map(_.trim)
      .find(l => l.startsWith("graft.") && !l.startsWith("graftbench."))
    frame match {
      case Some(l) =>
        val pkg = Frame.findPrefixMatchOf(l).map(_.group(1)).getOrElse("graft")
        val file = """\(([A-Za-z0-9_$]+)\.scala""".r.findFirstMatchIn(l)
          .map(_.group(1)).getOrElse("")
        s"$pkg/$file"
      case None =>
        ShortFile.findFirstMatchIn(shortSite).map("?/" + _.group(1)).getOrElse("?/")
    }
  }
}
