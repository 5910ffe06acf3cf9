package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class EmbeddingsSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  /** Runs `kernel` over one row whose arrays differ in length and
    * checks that it throws with the kernel's mismatch message. */
  private def assertLengthMismatch(kernel: String, df: DataFrame): Unit = {
    val e = intercept[Exception] {
      df.select(call_function(kernel, col("a"), col("b"))).collect()
    }
    // Spark wraps the executor-side exception; check the root message
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(e).exists(m =>
      m != null && m.contains(s"$kernel: array length mismatch")),
      s"unexpected failure: $e")
  }

  test("graft_fxsqdist fails loudly on array length mismatch (a dim bug " +
    "must not become a plausible-but-wrong distance)") {
    assertLengthMismatch("graft_fxsqdist",
      Seq((Seq(1L, 2L, 3L), Seq(1L, 2L))).toDF("a", "b"))
    // equal lengths still compute exactly
    val ok = Seq((Seq(1L, 2L), Seq(3L, 4L))).toDF("a", "b")
      .select(call_function("graft_fxsqdist", col("a"), col("b")))
      .head.getLong(0)
    assert(ok == 8L)
  }

  test("graft_fxdot fails loudly on array length mismatch") {
    assertLengthMismatch("graft_fxdot",
      Seq((Seq(1f, 2f, 3f), Seq(1f, 2f))).toDF("a", "b"))
    // equal lengths still compute exactly: 1*3 + 2*4 = 11, times 1e15
    val ok = Seq((Seq(1f, 2f), Seq(3f, 4f))).toDF("a", "b")
      .select(call_function("graft_fxdot", col("a"), col("b")))
      .head.getLong(0)
    assert(ok == 11000000000000000L)
  }

  test("fixed-point k-means: every point assigned, >1 cluster, inertia non-increasing") {
    val emb = Tables.load(spark, SharedSpark.sf001, "embeddings")
    val rows = graft.ml.KMeansFx.fit(emb, "vec_id", "embedding", k = 8, iters = 3)
      .collect()
    assert(rows.length == emb.count())
    assert(rows.map(_.getLong(1)).distinct.length > 1,
      "k-means collapsed to one cluster")
    val d3 = rows.map(_.getLong(2)).sum
    val d1 = graft.ml.KMeansFx.fit(emb, "vec_id", "embedding", k = 8, iters = 1)
      .collect().map(_.getLong(2)).sum
    assert(d3 <= d1, s"inertia rose across iterations: iter1=$d1 iter3=$d3")
  }
}
