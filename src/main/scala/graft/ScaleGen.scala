package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-up slice generator for the SCALING.md experiment (r11 verdict
  * #4): replicate the driver tables K× with consistent key re-striding
  * so every foreign-key relationship lands inside its own replica —
  * the result is a corpus K× the rows with the same per-key density
  * (K disjoint copies of the co-purchase graph, K× the daily order
  * volume, K× the users at constant events-per-user), i.e. a
  * weak-scaling workload. nation/region are bounded dims and copy
  * once; document text and embedding vectors are left byte-identical
  * across replicas, which makes the sf1 slice a WORST-CASE dedup
  * workload (every doc has K exact copies) — noted in SCALING.md.
  *
  * Usage: runMain graft.ScaleGen <inDir> <outDir> <K>
  */
object ScaleGen {

  /** Larger than any key at sf0.1 — TPC-H orderkeys are SPARSELY
    * numbered (max o_orderkey ≈ 4× the order count ≈ 6e5 at sf0.1,
    * not the 1.5e5 row count), so the margin is Stride/6e5 ≈ 1.7e3 —
    * and small enough that rep*Stride + key stays far under 2^53 for
    * the exact integer kernels: K*1e9 + 6e5 < 2^53 holds for any
    * K ≤ ~9e6 replicas (r12 ADVICE: size future K against the sparse
    * maximum, not the row count). */
  val Stride = 1000000000L

  def main(args: Array[String]): Unit = {
    val Array(in, out, kStr) = args
    val k = kStr.toInt
    val spark = Session.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val keyCols: Map[String, Seq[String]] = Map(
      "customer" -> Seq("c_custkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "part" -> Seq("p_partkey"),
      "supplier" -> Seq("s_suppkey"),
      "events" -> Seq("event_id", "user_id"),
      "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"))

    def replicate(name: String): DataFrame = {
      val base = Tables.load(spark, in, name)
      val reps = spark.range(0, k).select(col("id").as("__rep"))
      val crossed = base.crossJoin(broadcast(reps)) // K-row panel: bounded fan-out
      keyCols(name).foldLeft(crossed) { (df, c) =>
        val t = base.schema(c).dataType
        df.withColumn(c, (col(c).cast("long") + col("__rep") * Stride).cast(t))
      }.drop("__rep")
    }

    Seq("region", "nation").foreach { n =>
      Tables.load(spark, in, n).write.mode("overwrite")
        .parquet(s"$out/$n.parquet")
    }
    keyCols.keys.toSeq.sorted.foreach { n =>
      replicate(n)
        .repartition(32) // multi-file output: sf1 reads start parallel
        .write.mode("overwrite").parquet(s"$out/$n.parquet")
      println(s"[scalegen] $n x$k written")
    }
    Tables.names.foreach { n =>
      println(s"[scalegen] $n rows=" + Tables.load(spark, out, n).count())
    }
    spark.stop()
  }
}
