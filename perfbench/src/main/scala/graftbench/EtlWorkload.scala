package graftbench

import java.io.File

import org.apache.spark.sql.{Row, SparkSession}

import graft.ingest.{Bitcoin, BlockEtl}

/** The reference pipeline (`BlockEtl.run`: rotated Avro files, warehouse
  * append, dedup + flatten into a replaced destination) fed
  * incrementally: a seeded stream of [[EtlWorkload.Blocks]] blocks cut
  * into [[EtlWorkload.Batches]] consecutive batches, each a call into one
  * work directory that persists for the episode, the next batch sent
  * only when the previous call returned. Every call re-dedups and
  * rewrites the whole destination, so a batch's cost grows with the
  * warehouse. An episode replays the same batch series into a fresh
  * directory, so every run samples the same warehouse sizes whatever the
  * program's speed.
  */
final class EtlWorkload(spark: SparkSession, seed: Long, work: File) extends Workload {
  import EtlWorkload._

  private val cores = spark.sparkContext.defaultParallelism

  def layer: String = "ingest"
  def episodeSeconds: Double = 6.0

  /** What one batch must produce: its arrivals, the distinct blocks new
    * in it, and the destination expected once it is loaded. */
  private final case class Batch(dir: String, arrivals: Int, newDistinct: Int,
      destRows: Long, dest: Checksum)
  private var plan: IndexedSeq[Batch] = IndexedSeq.empty
  private var setups = 0

  def setup(): Unit = {
    setups += 1
    val dir = new File(work, s"input-$setups")
    Disk.deleteTree(dir)
    val stream = BlockGen.generate(seed, Blocks)
    val seen = scala.collection.mutable.HashSet.empty[String]
    var dest = Checksum.Empty
    val cut = BlockGen.batches(stream, Batches)
    plan = cut.zipWithIndex.map { case (rows, k) =>
      val fresh = rows.filter(b => seen.add(b.getString(0)))
      dest = dest + Checksum.of(BlockGen.expectedRows(fresh))
      Batch(new File(dir, s"batch=$k").getPath, rows.length, fresh.length, dest.rows, dest)
    }
    // one write for every batch: a directory per batch, each read alone
    val tagged = cut.zipWithIndex.flatMap { case (rows, k) => rows.map(r => Row.fromSeq(r.toSeq :+ k)) }
    spark.createDataFrame(spark.sparkContext.parallelize(tagged, cores),
      Bitcoin.blockSchema.add("batch", "int", nullable = false))
      .write.partitionBy("batch").parquet(dir.getPath)
    // earlier set-ups only existed to be timed
    if (setups > 1) Disk.deleteTree(new File(work, s"input-${setups - 1}"))
  }

  def warmup(h: Harness): Unit = {
    var n = 0
    while (n < WarmupCalls) {
      val calls = episode(h, -1 - n, limit = WarmupCalls - n)
      n += calls.length
    }
  }

  def episode(h: Harness, index: Int): Seq[OpResult] = episode(h, index, plan.length)

  private def episode(h: Harness, index: Int, limit: Int): Seq[OpResult] = {
    val dir = new File(work, "pipeline")
    Disk.deleteTree(dir)
    val avroDir = new File(dir, "avro")
    var warehouseRows = 0L
    plan.take(limit).zipWithIndex.map { case (b, slot) =>
      val avroBefore = Disk.files(avroDir, ".avro")
      val input = spark.read.schema(Bitcoin.blockSchema).parquet(b.dir)
      val (res, op) = h.op(OpName, index, slot) {
        BlockEtl.run(spark, input, dir.getPath, RotationSeconds)
      }
      res.fold(op) { r =>
        warehouseRows += b.arrivals
        val newAvro = Disk.files(avroDir, ".avro") -- avroBefore
        check(r.etlRows == b.destRows, s"etlRows ${r.etlRows}, expected ${b.destRows}")
        check(r.warehouseRows == warehouseRows,
          s"warehouseRows ${r.warehouseRows}, expected $warehouseRows")
        check(r.avroFiles == newAvro.size, s"avroFiles ${r.avroFiles}, found ${newAvro.size}")
        val avroRecords = Disk.avroRecords(avroDir, newAvro)
        check(avroRecords == b.arrivals, s"avro records $avroRecords, expected ${b.arrivals}")
        // the full content check reads the whole destination: once per
        // episode, after its last call
        if (b eq plan.last) {
          val got = spark.read.parquet(new File(dir, "transactions").getPath).rdd
            .mapPartitions(it => Iterator(Checksum.of(it))).fold(Checksum.Empty)(_ + _)
          check(got == b.dest, s"destination checksum $got, expected ${b.dest}")
        }
        val avroBytes = newAvro.iterator.map(n => new File(avroDir, n).length()).sum
        val onDisk = Seq("avro", "warehouse", "transactions").map(d => Disk.bytes(new File(dir, d)))
        val prevRows = plan.takeWhile(_ ne b).lastOption.map(_.destRows).getOrElse(0L)
        op.copy(facts = Map(
          "ingest.rows_per_s" -> (b.destRows - prevRows) / op.seconds,
          "ingest.etl.scan_ratio" -> r.warehouseRows.toDouble / b.newDistinct,
          "ingest.avro_files" -> newAvro.size.toDouble,
          "ingest.avro_bytes" -> avroBytes.toDouble,
          "ingest.warehouse_bytes" -> onDisk(1).toDouble,
          "ingest.dest_bytes" -> onDisk(2).toDouble,
          "ingest.written_bytes_per_row" -> onDisk.sum.toDouble / b.destRows))
      }
    }
  }

  def layers(h: Harness, traced: Seq[OpResult]): Map[String, Double] = {
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val stages = traced.map { o =>
      val s = o.span.get
      val byStage = h.tracer.jobsOf(s.id).groupBy(j => stageOf(j))
        .map { case (k, js) => k -> js.map(j => (j.endNs - j.startNs) / 1e9).sum }
      (byStage, h.driverSeconds(s))
    }
    val facts = traced.flatMap(_.facts.keys).distinct.map(k =>
      k -> med(traced.flatMap(_.facts.get(k))))
    Map(
      "ingest.avro_sink.busy_s" -> med(stages.map(_._1.getOrElse("avro_sink", 0.0))),
      "ingest.warehouse_append.busy_s" -> med(stages.map(_._1.getOrElse("warehouse_append", 0.0))),
      "ingest.etl.busy_s" -> med(stages.map(_._1.getOrElse("etl", 0.0))),
      "ingest.driver_s" -> med(stages.map(_._2))) ++ facts
  }

  private def check(ok: Boolean, what: => String): Unit =
    if (!ok) throw new Mismatch(s"BlockEtl.run: $what")
}

object EtlWorkload {
  val OpName = "ingest.BlockEtl.run"
  val Blocks = 1200
  val Batches = 6
  /** Untimed calls before measuring: the first call is 3-4x a warm one
    * and calls keep getting faster for about ten more. */
  val WarmupCalls = 8
  /** Rotation window of the Avro sink: six hours, 36 blocks a window. */
  val RotationSeconds = 21600L

  /** Pipeline stage of an ingest job: the Avro sink by call-site file;
    * the ETL when its SQL plan touches the destination directory (its
    * write and its read-back count); the rest of `BlockEtl.run` (the
    * warehouse append and its count) otherwise. */
  def stageOf(j: JobRecord): String =
    if (j.module.endsWith("/AvroSink")) "avro_sink"
    else if (j.plan.contains("/transactions")) "etl"
    else if (j.module.startsWith("ingest/")) "warehouse_append"
    else "other"
}
