package graft

import org.scalatest.funsuite.AnyFunSuite
import java.io.File

import org.apache.spark.sql.{DataFrame, Row}
import graft.ingest.{AvroSink, Bitcoin, BlockEtl}

/** Golden-fixture spec (FIXTURES.md §1): every reference quirk on the
  * exact BQRow schema, flagship ETL output checked by hand. */
class BitcoinSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private lazy val blocks = Bitcoin.goldenBlocks(spark).cache()
  private lazy val etl = Bitcoin.etl(blocks).cache()

  test("schema is the BQRow schema, quirks included") {
    val f = Bitcoin.blockSchema.fieldNames.toSeq
    assert(f.contains("difficultyTarget")) // camelCase preserved (BQRow.avsc:44)
    assert(Bitcoin.blockSchema("timestamp").dataType.typeName == "long") // ms as long
    assert(!Bitcoin.blockSchema("transactions").nullable) // [] never null
    assert(Bitcoin.outputSchema("output_satoshis").nullable) // BQRow.avsc:19
  }

  test("work_terahash divides by 1e11 (not 1e12) and overflows to work_error") {
    assert(Bitcoin.TerahashDivisor == BigInt("100000000000"))
    assert(Bitcoin.workTerahash(BigInt("200000000000")) == (Some(2L), None))
    val (v, e) = Bitcoin.workTerahash(BigInt(2).pow(100))
    assert(v.isEmpty && e.nonEmpty) // ArithmeticException message captured
  }

  test("etl output: dedup keeps one b1; empty-tx b2 VANISHES under inner unnest") {
    val ids = etl.select("block_id").collect().map(_.getString(0))
    assert(ids.count(_ == "b1") == 1) // duplicate removed (etl.sh:12-17)
    assert(!ids.contains("b2")) // inner unnest row loss (etl.sh:32-33)
    assert(ids.sorted.toSeq == Seq("b1", "b3", "b4", "b5", "b5")) // b5 has 2 txs
  }

  test("etl projection: exact etl.sh:20-29 column order, difficultyTarget dropped") {
    assert(etl.columns.toSeq == Seq(
      "timestamp", "transaction_id", "inputs", "outputs",
      "block_id", "previous_block", "merkle_root",
      "nonce", "version", "work_terahash", "work_error"))
    assert(!etl.columns.contains("difficultyTarget"))
    assert(!etl.columns.contains("row_number"))
  }

  test("coinbase input carries empty-string pubkey, not null") {
    val b1 = etl.filter(etl("block_id") === "b1").head
    val inputs = b1.getSeq[Row](b1.fieldIndex("inputs"))
    assert(inputs.head.getAs[String]("input_pubkey_base58") == "")
  }

  test("script error rows keep value null + error populated; null satoshis survive") {
    val b3 = etl.filter(etl("block_id") === "b3").head
    val in0 = b3.getSeq[Row](b3.fieldIndex("inputs")).head
    assert(in0.getAs[String]("input_script_string") == null)
    assert(in0.getAs[String]("input_script_string_error") ==
      "Push of data element that is larger than remaining data")
    val out0 = b3.getSeq[Row](b3.fieldIndex("outputs")).head
    assert(out0.isNullAt(out0.fieldIndex("output_satoshis")))
  }

  test("work overflow block lands in etl with null value + error") {
    val b4 = etl.filter(etl("block_id") === "b4").head
    assert(b4.isNullAt(b4.fieldIndex("work_terahash")))
    assert(b4.getAs[String]("work_error") != null)
  }

  test("BlockEtl pipeline: re-running appends duplicates, the dedup ETL repairs them") {
    val work = java.nio.file.Files.createTempDirectory("blocketl").toString
    val r1 = graft.ingest.BlockEtl.run(spark, blocks.toDF(), work, rotationSeconds = 600)
    assert(r1.avroFiles > 0)
    assert(r1.warehouseRows == 6) // 5 blocks + the duplicated b1
    assert(r1.etlRows == 5) // dedup keeps one b1; empty b2 vanishes
    // the at-least-once append: a re-run doubles the warehouse but the
    // ETL output is unchanged — etl.sh's whole reason to exist
    val r2 = graft.ingest.BlockEtl.run(spark, blocks.toDF(), work, rotationSeconds = 600)
    assert(r2.warehouseRows == 12)
    assert(r2.etlRows == 5)
  }

  test("nested blocks round-trip through the rotated Avro sink") {
    val dir = java.nio.file.Files.createTempDirectory("btcavro").toString
    AvroSink.write(blocks.toDF(), "timestamp", rotationSeconds = 86400, outDir = dir)
    val rows = AvroSink.readAll(dir)
    assert(rows.size == 6) // 5 distinct blocks + the duplicated b1 (sink is pre-dedup)
    assert(rows.map(_("block_id").toString).toSet ==
      Set("b1", "b2", "b3", "b4", "b5"))
    val b5 = rows.find(_("block_id").toString == "b5").get
    val txs = b5("transactions").asInstanceOf[java.util.List[_]]
    assert(txs.size == 2) // nested array survived the avro round-trip
  }

  // -- incremental BlockEtl.run ------------------------------------------

  /** The golden arrivals split in two, one copy of b1 in each half. */
  private lazy val arrivals = blocks.collect().toSeq
  private lazy val (firstHalf, secondHalf) = {
    val (b1s, rest) = arrivals.partition(_.getString(0) == "b1")
    assert(b1s.size == 2 && rest.size == 4)
    (b1s.head +: rest.take(2), b1s(1) +: rest.drop(2))
  }

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), Bitcoin.blockSchema)

  /** Order-insensitive content of a frame; bytes compared by value. */
  private def content(df: DataFrame): Seq[String] = {
    def canon(v: Any): String = v match {
      case null => "null"
      case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case x => x.toString
    }
    df.collect().toSeq.map(canon).sorted
  }

  private def dest(work: String) = spark.read.parquet(s"$work/transactions")

  /** The destination must hold what one full etl.sh over every arrival
    * so far gives, and the counts must be the cumulative totals. */
  private def assertFolded(work: String, r: BlockEtl.Result, all: Seq[Row]): Unit = {
    val want = Bitcoin.etl(frame(all))
    assert(content(dest(work)) == content(want))
    assert(r.warehouseRows == all.size)
    assert(r.etlRows == want.count())
  }

  private def newWork(): String = java.nio.file.Files.createTempDirectory("blocketl").toString

  test("incremental BlockEtl: split duplicate and re-runs match a full etl of all arrivals") {
    val work = newWork()
    var all = Seq.empty[Row]
    for (batch <- Seq(firstHalf, secondHalf, firstHalf, secondHalf)) {
      val r = BlockEtl.run(spark, frame(batch), work, rotationSeconds = 600)
      all ++= batch
      assertFolded(work, r, all)
    }
    assert(new File(s"$work/transactions/${BlockEtl.LogName}").isFile)
  }

  test("incremental BlockEtl: a warehouse file appended outside run is folded next call") {
    val work = newWork()
    BlockEtl.run(spark, frame(firstHalf), work, rotationSeconds = 600)
    // a crash after the warehouse commit, before the destination's
    frame(secondHalf).write.mode("append").parquet(s"$work/warehouse")
    val r = BlockEtl.run(spark, frame(Seq.empty), work, rotationSeconds = 600)
    assertFolded(work, r, firstHalf ++ secondHalf)
  }

  test("incremental BlockEtl: a crash after the destination commit adds no duplicates") {
    val work = newWork()
    BlockEtl.run(spark, frame(firstHalf), work, rotationSeconds = 600)
    val log = new File(s"$work/transactions/${BlockEtl.LogName}").toPath
    val before = java.nio.file.Files.readAllBytes(log)
    BlockEtl.run(spark, frame(secondHalf), work, rotationSeconds = 600)
    // the log never got replaced: the second call's files look new
    java.nio.file.Files.write(log, before)
    val r = BlockEtl.run(spark, frame(Seq.empty), work, rotationSeconds = 600)
    assertFolded(work, r, firstHalf ++ secondHalf)
  }

  test("incremental BlockEtl: deleting the destination rebuilds it with the same rows") {
    val work = newWork()
    BlockEtl.run(spark, frame(firstHalf), work, rotationSeconds = 600)
    BlockEtl.run(spark, frame(secondHalf), work, rotationSeconds = 600)
    val built = content(dest(work))
    org.apache.commons.io.FileUtils.deleteDirectory(new File(s"$work/transactions"))
    val r = BlockEtl.run(spark, frame(Seq.empty), work, rotationSeconds = 600)
    assert(content(dest(work)) == built)
    assertFolded(work, r, firstHalf ++ secondHalf)
  }

  test("incremental BlockEtl: a destination without a log picks up no duplicates") {
    val work = newWork()
    // the layout the full-replace pipeline left: warehouse + replaced
    // destination, no _etl_log
    blocks.write.parquet(s"$work/warehouse")
    Bitcoin.etl(spark.read.schema(Bitcoin.blockSchema).parquet(s"$work/warehouse"))
      .write.parquet(s"$work/transactions")
    val r = BlockEtl.run(spark, blocks.toDF(), work, rotationSeconds = 600)
    assertFolded(work, r, arrivals ++ arrivals)
  }

  test("BlockEtl: a failing warehouse sink fails the call and leaves no sink thread") {
    val work = newWork()
    // a regular file where the warehouse directory belongs
    java.nio.file.Files.write(new File(work, "warehouse").toPath, Array[Byte](1))
    intercept[Exception] {
      BlockEtl.run(spark, blocks.toDF(), work, rotationSeconds = 600)
    }
    val running = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .filter(_.getName == BlockEtl.AppendThreadName)
    assert(running.isEmpty)
    assert(!new File(s"$work/transactions").exists()) // nothing folded
  }
}
