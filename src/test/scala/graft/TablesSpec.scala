package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.load`: declared schemas, no Spark job, and the reused
  * relation (refreshed when a file changes, fresh ids per load). */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  /** The sf0.001 tables copied into a fresh directory, so the first load
    * of each resolves its file in this session. */
  private def copyOfTables(): Path = {
    val dir = Files.createTempDirectory("tables-spec")
    Tables.names.foreach { n =>
      Files.copy(java.nio.file.Paths.get(SharedSpark.sf001, s"$n.parquet"),
        dir.resolve(s"$n.parquet"))
    }
    dir
  }

  /** Replace table `name` in `dir` with the rows of `df`, as one file. */
  private def replaceTable(dir: Path, name: String, df: org.apache.spark.sql.DataFrame): Unit = {
    val tmp = Files.createTempDirectory("tables-spec-write").resolve("out").toString
    df.coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    Files.move(part.toPath, dir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }

  test("each declared schema equals the schema Spark infers from the file") {
    Tables.names.foreach { n =>
      val inferred = spark.read.parquet(s"${SharedSpark.sf001}/$n.parquet").schema
      assert(Tables.schemas(n) == inferred, s"$n: declared vs inferred")
      assert(Tables.load(spark, SharedSpark.sf001, n).schema == inferred, n)
    }
  }

  test("loading every table, cold and again warm, submits no Spark job") {
    val group = "tables-spec-load"
    val marker = "tables-spec-marker"
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
    val dir = copyOfTables().toString
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "Tables.load")
      for (_ <- 1 to 2; n <- Tables.names) Tables.load(spark, dir, n)
      // the listener bus delivers in order: once the marker job's start
      // arrives, every job the loads submitted has been counted
      sc.setJobGroup(marker, "listener barrier")
      sc.parallelize(Seq(1), 1).count()
      assert(markerSeen.await(60, TimeUnit.SECONDS))
      assert(jobs.get() == 0, s"loading the tables submitted ${jobs.get()} Spark job(s)")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("a table file replaced with different rows is read afresh") {
    val dir = copyOfTables()
    val before = Tables.load(spark, dir.toString, "orders").count()
    val kept = Tables.load(spark, dir.toString, "orders")
      .filter(col("o_orderkey") % 7 === 0).orderBy("o_orderkey").collect()
    assert(kept.nonEmpty && kept.length < before)
    replaceTable(dir, "orders",
      spark.createDataFrame(java.util.Arrays.asList(kept: _*), Tables.schemas("orders")))
    val reloaded = Tables.load(spark, dir.toString, "orders")
    assert(reloaded.orderBy("o_orderkey").collect().toSeq == kept.toSeq)
    // the planner sizes the scan (broadcast choices) from the new file
    assert(reloaded.queryExecution.optimizedPlan.stats.sizeInBytes ==
      Files.size(dir.resolve("orders.parquet")))
  }

  test("memoized builds follow a replaced table file: q_retrieval_ndcg, " +
    "q_bpe_vocab and q_join_bucketed equal the same queries over a fresh " +
    "copy that holds the new file") {
    val queries = Seq("q_retrieval_ndcg", "q_bpe_vocab", "q_join_bucketed")
    def rows(q: String, dir: Path): Seq[String] =
      SparkEntry.queries(q)(spark, dir.toString).collect().map(_.toString).toSeq
    val sf001 = java.nio.file.Paths.get(SharedSpark.sf001)
    val bucketed = rows("q_join_bucketed", sf001)
    val replaced = copyOfTables()
    queries.foreach(rows(_, replaced)) // the memos now hold the first files
    // every third row of documents and of orders, replacing the files of
    // the used copy and, in a fresh copy, there from the start
    val fresh = copyOfTables()
    Seq("documents" -> "doc_id", "orders" -> "o_orderkey").foreach { case (t, key) =>
      val kept = Tables.load(spark, SharedSpark.sf001, t).filter(col(key) % 3 === 0)
      Seq(replaced, fresh).foreach(replaceTable(_, t, kept))
    }
    val stale = queries.filter { q =>
      val (got, want) = (rows(q, replaced), rows(q, fresh))
      if (got != want) info(s"$q: ${got.size} rows after the replacement, ${want.size} over the fresh copy")
      got != want
    }
    assert(stale.isEmpty,
      s"memoized builds returned rows of the replaced files: ${stale.mkString(", ")}")
    // the catalog holds one pair of bucketed tables: back at sf0.001,
    // the query must not read the tables the other dirs' builds wrote
    assert(rows("q_join_bucketed", sf001) == bucketed)
  }

  test("a table joined with a second load of itself resolves") {
    val n = Tables.load(spark, SharedSpark.sf001, "orders").count()
    val a = Tables.load(spark, SharedSpark.sf001, "orders")
    val b = Tables.load(spark, SharedSpark.sf001, "orders")
    assert(a.join(b, a("o_orderkey") === b("o_orderkey")).count() == n)
    assert(a.join(b, a("o_orderkey") < b("o_orderkey")).count() == n * (n - 1) / 2)
  }
}
