package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession for the whole forked test JVM (never stopped —
  * suites share it). Built by [[graft.Session]], the engine contract
  * Verify and Bench run under; only the master (`local[4]`) and a temp
  * warehouse dir are test-specific. */
object SharedSpark {
  lazy val spark: SparkSession = Session.builder("4")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .getOrCreate()

  val sf001 = "/root/testdata/sf0.001"
  val sf01 = "/root/testdata/sf0.01"
}
