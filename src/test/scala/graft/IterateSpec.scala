package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Iterate

/** `ops.Iterate`: the witnessed fixed-point stop, the lazy per-round
  * checkpoint, and the jobs each kind of loop submits. */
class IterateSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  /** x starts at id % 5 and each round lowers it by one down to 0: a
    * narrow (shuffle-free) step whose fixed point is reached after 4
    * rounds, so round 5 is the first that changes nothing. */
  private def init: DataFrame =
    spark.range(0, 40, 1, 4).select(col("id"), (col("id") % 5).as("x"))
  private val witness = sum(col("x"))
  private val FixedAfter = 4

  /** A step that counts how often the loop calls it. */
  private def countingStep(calls: AtomicInteger): DataFrame => DataFrame = { df =>
    calls.incrementAndGet()
    df.select(col("id"), greatest(col("x") - 1, lit(0L)).as("x"))
  }

  private def rows(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq.sortBy(_._1)

  /** The result of every round of the budget, with no loop operator. */
  private def unrolled(rounds: Int): Seq[(Long, Long)] =
    rows((1 to rounds).foldLeft(init)((df, _) => countingStep(new AtomicInteger)(df)))

  /** Runs `body` and returns its value with the number of Spark jobs it
    * submitted. A barrier job in its own group follows the body: the
    * listener bus delivers in order, so once the barrier's start
    * arrives every job of the body has been counted. */
  private def countingJobs[T](body: => T): (T, Int) = {
    val group = "iterate-spec-body"
    val marker = "iterate-spec-marker"
    val jobs = new AtomicInteger(0)
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`marker`) => markerSeen.countDown()
          case _ =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "Iterate")
      val out = body
      sc.setJobGroup(marker, "listener barrier")
      sc.parallelize(Seq(1), 1).count()
      assert(markerSeen.await(60, TimeUnit.SECONDS))
      (out, jobs.get())
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("with a witness: the full budget's result, stopped at the first unchanged round") {
    val budget = 20
    val calls = new AtomicInteger(0)
    val ((out, converged), loopJobs) =
      countingJobs(Iterate(init, budget, Some(witness))(countingStep(calls)))
    assert(converged)
    assert(calls.get() == FixedAfter + 1, "rounds run")
    // one more aggregate on the (already materialized) final frame: the
    // jobs a single witness probe takes under this session's AQE
    val (_, perAgg) = countingJobs(out.agg(witness).head())
    assert(perAgg >= 1)
    // the initial probe plus one probe per round, and nothing else: the
    // checkpoints add no job of their own
    assert(loopJobs == (calls.get() + 1) * perAgg,
      s"$loopJobs jobs for ${calls.get()} rounds at $perAgg per probe")
    assert(rows(out) == unrolled(budget))
  }

  test("a budget that ends before the fixed point is not converged") {
    val calls = new AtomicInteger(0)
    val (out, converged) =
      Iterate(init, FixedAfter - 1, Some(witness))(countingStep(calls))
    assert(!converged)
    assert(calls.get() == FixedAfter - 1)
    assert(rows(out) == unrolled(FixedAfter - 1))
  }

  test("without a witness: no job before the consumer's action, every round runs") {
    val budget = 7
    val calls = new AtomicInteger(0)
    val ((out, converged), jobs) =
      countingJobs(Iterate(init, budget)(countingStep(calls)))
    assert(jobs == 0, s"Iterate submitted $jobs job(s) with no witness")
    assert(!converged)
    assert(calls.get() == budget)
    assert(rows(out) == unrolled(budget))
  }
}
