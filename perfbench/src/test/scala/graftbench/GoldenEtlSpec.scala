package graftbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.{Bitcoin, BlockEtl}

/** The ETL output check agrees with the program on the golden blocks. */
class GoldenEtlSpec extends AnyFunSuite {

  test("expected-destination checksum matches BlockEtl.run on Bitcoin.goldenBlocks") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    val dir = Files.createTempDirectory("perfbench-golden").toFile
    try {
      val golden = Bitcoin.goldenBlocks(spark)
      val arrivals = golden.collect().toIndexedSeq
      val stream = BlockGen.Stream(arrivals)
      val want = Checksum.of(BlockGen.expectedRows(stream.distinct))
      val r = BlockEtl.run(spark, golden, dir.getPath, 600L)
      assert(r.warehouseRows == arrivals.length)
      assert(r.etlRows == want.rows)
      val got = spark.read.parquet(s"$dir/transactions").collect()
      assert(Checksum.of(got.iterator) == want)
      // a second load appends duplicates; the replaced destination is unchanged
      BlockEtl.run(spark, golden, dir.getPath, 600L)
      assert(Checksum.of(spark.read.parquet(s"$dir/transactions").collect().iterator) == want)
    } finally {
      Disk.deleteTree(dir)
      spark.stop()
    }
  }
}
