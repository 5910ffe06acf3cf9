package graft

import org.scalatest.funsuite.AnyFunSuite
import java.io.File
import java.nio.channels.FileChannel
import java.nio.file.{Files, StandardOpenOption}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, udf}
import org.scalacheck.{Gen, Test => SCTest}
import org.scalacheck.Prop.forAllNoShrink
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

  private def blockEtlThreads(): Seq[Thread] =
    Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread]).toSeq
      .filter(_.getName.startsWith("blocketl-"))

  test("BlockEtl: a failing fold fails the call and leaves no blocketl thread; " +
      "the next call labels its three actions' jobs") {
    val work = newWork()
    val destFile = new File(work, "transactions")
    Files.write(destFile.toPath, Array[Byte](1))
    intercept[Exception] {
      BlockEtl.run(spark, frame(firstHalf), work, rotationSeconds = 600)
    }
    assert(blockEtlThreads().isEmpty)
    assert(destFile.isFile) // left as the call found it
    Files.delete(destFile.toPath)

    val sc = spark.sparkContext
    val JobDescription = "spark.job.description" // SparkContext.SPARK_JOB_DESCRIPTION
    val labels = new ConcurrentLinkedQueue[String]()
    val barrier = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty(JobDescription)))
          .foreach(d => if (d == "listener barrier") barrier.countDown() else labels.add(d))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobDescription("caller")
      // the failed call's warehouse append landed; the clean call folds it
      val r = BlockEtl.run(spark, frame(secondHalf), work, rotationSeconds = 600)
      assert(sc.getLocalProperty(JobDescription) == "caller")
      assertFolded(work, r, firstHalf ++ secondHalf)
      sc.setJobDescription("listener barrier")
      sc.parallelize(Seq(1), 1).count()
      assert(barrier.await(60, TimeUnit.SECONDS))
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
    val seen = labels.toArray(Array.empty[String]).toSet
    assert(Set("blocketl.warehouse_append", "blocketl.avro_sink", "blocketl.fold").subsetOf(seen), seen)
  }

  test("BlockEtl: a held workdir lock fails the call before it writes anything") {
    val work = newWork()
    val channel = FileChannel.open(new File(work, BlockEtl.LockName).toPath,
      StandardOpenOption.CREATE, StandardOpenOption.WRITE)
    try {
      channel.lock()
      val e = intercept[IllegalStateException] {
        BlockEtl.run(spark, frame(firstHalf), work, rotationSeconds = 600)
      }
      assert(e.getMessage.contains(work))
      assert(new File(work).list().toSeq == Seq(BlockEtl.LockName))
    } finally channel.close()
  }

  test("BlockEtl: a second call on a workdir fails while the first runs; the first completes") {
    val work = newWork()
    import BitcoinSpec.{entered, release}
    val gate = udf { (_: String) =>
      entered.countDown(); release.await(120, TimeUnit.SECONDS)
    }
    val gated = frame(firstHalf).filter(gate(col("block_id")))
    val first = new java.util.concurrent.FutureTask(() =>
      BlockEtl.run(spark, gated, work, rotationSeconds = 600))
    new Thread(first).start()
    try {
      assert(entered.await(120, TimeUnit.SECONDS)) // the first call is inside its actions
      val e = intercept[IllegalStateException] {
        BlockEtl.run(spark, frame(secondHalf), work, rotationSeconds = 600)
      }
      assert(e.getMessage.contains(work))
    } finally release.countDown()
    assertFolded(work, first.get(120, TimeUnit.SECONDS), firstHalf)
  }

  test("BlockEtl: a leftover _commit directory is rolled forward without duplicates") {
    val work = newWork()
    BlockEtl.run(spark, frame(firstHalf), work, rotationSeconds = 600)
    // a call that crashed inside its commit: its warehouse file landed,
    // one of its staged files moved in, the log was not replaced
    frame(secondHalf).write.mode("append").parquet(s"$work/warehouse")
    val commit = new File(s"$work/transactions/_commit-crashed")
    // its anti-join dropped b1, which the destination already holds
    Bitcoin.etl(frame(secondHalf)).filter("block_id != 'b1'").repartition(3)
      .write.parquet(commit.getPath)
    val staged = commit.listFiles().filter(_.getName.startsWith("part-")).toSeq
    assert(staged.size >= 2)
    Files.move(staged.head.toPath, new File(s"$work/transactions", staged.head.getName).toPath)
    val r = BlockEtl.run(spark, frame(Seq.empty), work, rotationSeconds = 600)
    assertFolded(work, r, firstHalf ++ secondHalf)
    assert(!commit.exists())
    assert(staged.forall(f => new File(s"$work/transactions", f.getName).isFile))
  }

  test("BlockEtl: a call that fails inside its commit releases the lock; " +
      "the next call rolls its commit forward without duplicates") {
    val work = newWork()
    val destDir = new File(s"$work/transactions")
    def leftovers() = destDir.list().toSeq
      .filter(n => n.startsWith("_commit-") || n.startsWith("_staging-"))
    BlockEtl.run(spark, frame(firstHalf), work, rotationSeconds = 600)
    // a directory where the log's temp file goes: the call fails after
    // its files moved in, before the log is replaced
    val tmp = new File(destDir, s"${BlockEtl.LogName}.tmp")
    assert(tmp.mkdir())
    intercept[Exception] {
      BlockEtl.run(spark, frame(secondHalf), work, rotationSeconds = 600)
    }
    val commits = leftovers()
    assert(commits.size == 1 && commits.head.startsWith("_commit-"), commits)
    // every data file moved in; only Spark's markers and checksums stay
    assert(new File(destDir, commits.head).list().forall(n => n.startsWith("_") || n.startsWith(".")))
    val channel = FileChannel.open(new File(work, BlockEtl.LockName).toPath,
      StandardOpenOption.WRITE)
    try assert(channel.tryLock() != null) finally channel.close()
    assert(tmp.delete())

    val r = BlockEtl.run(spark, frame(firstHalf), work, rotationSeconds = 600)
    val warehouse = spark.read.schema(Bitcoin.blockSchema).parquet(s"$work/warehouse")
    assert(content(dest(work)) == content(Bitcoin.etl(warehouse)))
    assert(leftovers().isEmpty)
    assert(r.warehouseRows == warehouse.count())
    assert(r.etlRows == dest(work).count())
    assert(r.warehouseRows == firstHalf.size * 2 + secondHalf.size)
  }

  test("BlockEtl: a leftover _staging directory is deleted, never folded") {
    val work = newWork()
    BlockEtl.run(spark, frame(firstHalf), work, rotationSeconds = 600)
    // a call that crashed before its commit, after its fold was staged
    val staging = new File(s"$work/transactions/_staging-crashed")
    Bitcoin.etl(frame(secondHalf)).write.parquet(staging.getPath)
    val r = BlockEtl.run(spark, frame(Seq.empty), work, rotationSeconds = 600)
    assertFolded(work, r, firstHalf)
    assert(!staging.exists())
  }

  // -- the ingest contract under random batch cuts, retries and failures --

  /** One call of a case: its arrivals, and the failure injected into it. */
  private case class Call(rows: Seq[Row], fault: Option[String])

  /** Distinct golden blocks, one of each quirk: b1 normal, b2 empty, b3
    * decode error + null satoshis, b4 work overflow, b5 two transactions. */
  private lazy val quirks = arrivals.groupBy(_.getString(0)).values.map(_.head).toSeq
    .sortBy(_.getString(0))

  private val Faults = Seq("warehouse", "avro", "transactions", "log")

  private lazy val cases: Gen[Seq[Call]] = for {
    n <- Gen.choose(1, 8)
    picks <- Gen.listOfN(n, Gen.oneOf(quirks))
    blocks = picks.zipWithIndex.map { case (b, i) => Row.fromSeq(s"c$i" +: b.toSeq.tail) }
    cuts <- Gen.listOfN(2, Gen.choose(0, n)).map(_.sorted)
    batches = Seq(blocks.take(cuts(0)), blocks.slice(cuts(0), cuts(1)), blocks.drop(cuts(1)))
    // exact-copy retries of blocks already sent, or of the batch's own
    withRetries <- Gen.sequence[Seq[Seq[Row]], Seq[Row]](batches.zipWithIndex.map { case (b, k) =>
      Gen.someOf(batches.take(k + 1).flatten).flatMap(rs => Gen.pick(b.size + rs.size, b ++ rs))
        .map(_.toSeq)
    })
    // a failure hits a call with arrivals: an empty batch opens no Avro file
    sent = withRetries.indices.filter(withRetries(_).nonEmpty)
    fault <- if (sent.isEmpty) Gen.const(None)
      else Gen.frequency(1 -> Gen.const(None),
        4 -> Gen.zip(Gen.oneOf(sent), Gen.oneOf(Faults)).map(Some(_)))
  } yield {
    val calls = withRetries.zipWithIndex.map { case (rows, k) =>
      Call(rows, fault.collect { case (`k`, f) => f })
    }
    // the failed batch is not retried; a clean call follows the failure
    if (calls.last.fault.isDefined) calls :+ Call(Seq.empty, None) else calls
  }

  /** Run `body` with the work directory's `name` entry swapped for a
    * regular file, then put the entry back. */
  private def withFileAt[A](work: String, name: String)(body: => A): A = {
    val entry = new File(work, name).toPath
    val aside = new File(work, s"$name.aside").toPath
    if (Files.exists(entry)) Files.move(entry, aside)
    Files.write(entry, Array[Byte](1))
    try body
    finally {
      Files.delete(entry)
      if (Files.exists(aside)) Files.move(aside, entry)
    }
  }

  private val transactionsAt = Bitcoin.blockSchema.fieldIndex("transactions")

  test("property: the destination equals Bitcoin.etl over every warehouse row, " +
      "under random batch cuts, retries and one injected failure") {
    val injected = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    val prop = forAllNoShrink(cases) { calls =>
      val work = newWork()
      var landed = Seq.empty[Row]
      // the cumulative counts of every landed arrival: one etl row per
      // transaction of each distinct block
      def assertCounts(r: BlockEtl.Result) = {
        val etlRows = landed.groupBy(_.getString(0)).values
          .map(_.head.getSeq[Row](transactionsAt).size).sum
        assert((r.warehouseRows, r.etlRows) == ((landed.size.toLong, etlRows.toLong)))
      }
      for (call <- calls) {
        def run() = BlockEtl.run(spark, frame(call.rows), work, rotationSeconds = 600)
        call.fault match {
          case Some("log") =>
            val log = new File(s"$work/transactions/${BlockEtl.LogName}").toPath
            val before = if (Files.exists(log)) Some(Files.readAllBytes(log)) else None
            val r = run()
            landed ++= call.rows
            assertCounts(r)
            // the log as it was before the call
            before.fold(Files.delete(log))(b => Files.write(log, b))
            injected("log") += 1
          case Some(dir) =>
            intercept[Exception](withFileAt(work, dir)(run()))
            injected(dir) += 1
            if (dir != "warehouse") landed ++= call.rows
          case None =>
            val r = run()
            landed ++= call.rows
            assertCounts(r)
        }
      }
      val warehouse = spark.read.schema(Bitcoin.blockSchema).parquet(s"$work/warehouse")
      assert(warehouse.count() == landed.size)
      assert(content(dest(work)) == content(Bitcoin.etl(warehouse)))
      true
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(25)
      .withInitialSeed(39L), prop)
    assert(r.passed, r.status.toString)
    // every kind of failure happened several times
    assert(Faults.forall(injected(_) >= 3), injected)
  }
}

object BitcoinSpec {
  /** Gate of the concurrent-call test: its first call's tasks wait here. */
  private val entered = new CountDownLatch(1)
  private val release = new CountDownLatch(1)
}
