package graft.ingest

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The reference's whole pipeline as one runnable unit — what its user
  * actually operates day to day:
  *
  *   blocks -> rotated Avro files (R7, `AvroWriter.java`)
  *          -> warehouse APPEND (R8, `Main.java:204-259` — at-least-once:
  *             re-running appends duplicates, exactly like a retried load)
  *          -> dedup + flatten ETL (R12-R17, `etl.sh`) into a destination
  *             that holds exactly what etl.sh's REPLACE would
  *
  * The two sinks read the same input and run concurrently. The ETL is
  * incremental: a call folds only the warehouse files no earlier call
  * folded, drops blocks the destination already holds, and APPENDs the
  * rest. Duplicates are exact copies under the reference's
  * at-least-once contract, so the destination's rows equal a full
  * `Bitcoin.etl` over the whole warehouse. The destination's `_etl_log`
  * records which warehouse files are folded and every file's row
  * count; deleting the destination directory deletes the log too, and
  * the next call rebuilds the destination from the whole warehouse.
  *
  * CLI flags mirror `Main.java:55-93` where they still mean something on
  * Spark (`--rotationtime`; `--threads` ≙ the session's parallelism) —
  * the GCS/BQ plumbing they configured dissolves into paths.
  *
  * Usage: runMain graft.ingest.BlockEtl --workdir <dir>
  *          [--input <blocks parquet>|golden] [--rotationtime <sec>]
  */
object BlockEtl {

  final case class Result(avroFiles: Int, warehouseRows: Long, etlRows: Long)

  /** Name of the thread a call runs its warehouse append on. */
  val AppendThreadName = "blocketl-warehouse-append"

  /** File log kept inside the destination directory. Spark skips names
    * starting with `_` when it reads the directory as parquet. */
  val LogName = "_etl_log"

  /** One pipeline run. Repeated calls APPEND to the warehouse (the
    * reference's at-least-once semantics) and fold only the warehouse
    * files that are new since the last call into the destination, so a
    * call costs in proportion to its batch. `etlRows` is stable across
    * re-runs of the same blocks even as `warehouseRows` grows: the dedup
    * repair at work.
    *
    * Crash safety: the log is replaced (write, then atomic rename) only
    * after the destination append commits. Files a crashed call left
    * unlisted are folded by the next call; the anti-join on `block_id`
    * keeps blocks it already wrote from landing twice. */
  def run(spark: SparkSession, blocks: DataFrame, workDir: String,
      rotationSeconds: Long): Result = {
    val avroDir = s"$workDir/avro"
    val warehouseDir = s"$workDir/warehouse"
    val destDir = s"$workDir/transactions"

    // R7: rotated Avro container files, event-time bucketed.
    // avroFiles reports THIS run's output (the directory accumulates
    // across re-runs by design — append semantics).
    def countAvro() = Option(new File(avroDir).listFiles())
      .getOrElse(Array.empty[File]).count(_.getName.endsWith(".avro"))
    // R8: warehouse append (parquet stands in for the BQ table), on its
    // own thread beside the Avro sink. The rotated files are the
    // transport format; the warehouse loads the same rows (we append the
    // source frame rather than re-parsing avro, which AvroSink.readAll
    // covers).
    val avroFiles = alongside(blocks.write.mode(SaveMode.Append).parquet(warehouseDir)) {
      val before = countAvro()
      AvroSink.write(blocks, "timestamp", rotationSeconds, avroDir)
      countAvro() - before
    }

    // R12-R17: dedup + inner-unnest + star-project over the new
    // warehouse files, minus blocks already in the destination, APPENDED
    val log = EtlLog.read(new File(destDir, LogName))
    val warehouseFiles = dataFiles(warehouseDir)
    val fresh = warehouseFiles.filterNot(f => log.warehouse.contains(f.getName))
    if (fresh.nonEmpty) {
      val arrived = spark.read.schema(blocks.schema).parquet(fresh.map(_.getPath): _*)
      val unseen =
        if (dataFiles(destDir).isEmpty) arrived
        else arrived.join(spark.read.schema(DestKeySchema).parquet(destDir),
          Seq("block_id"), "left_anti")
      Bitcoin.etl(unseen).write.mode(SaveMode.Append).parquet(destDir)
    }

    // row counts: logged, else from the parquet footer (only new files)
    val conf = spark.sessionState.newHadoopConf()
    def counted(files: Seq[File], logged: Map[String, Long]) =
      files.map(f => f.getName -> logged.getOrElse(f.getName, footerRows(f, conf))).toMap
    val next = EtlLog(counted(warehouseFiles, log.warehouse),
      counted(dataFiles(destDir), log.dest))
    EtlLog.write(next, new File(destDir, LogName))

    Result(avroFiles, next.warehouse.values.sum, next.dest.values.sum)
  }

  /** Only the destination column the anti-join needs. */
  private val DestKeySchema = StructType(Seq(StructField("block_id", StringType)))

  /** Run `side` on a fresh thread while `main` runs on this one, and
    * wait for both. A fresh thread, not a pooled one, inherits this
    * thread's Spark local properties (job group, scheduler pool, ...).
    * `main`'s error wins; `side`'s is attached to it, or thrown when
    * `main` succeeded. */
  private def alongside[A](side: => Unit)(main: => A): A = {
    @volatile var sideError: Throwable = null
    val t = new Thread(() => try side catch { case e: Throwable => sideError = e },
      AppendThreadName)
    t.start()
    var mainError: Throwable = null
    try main
    catch { case e: Throwable => mainError = e; throw e }
    finally {
      t.join()
      if (sideError != null) {
        if (mainError != null) mainError.addSuppressed(sideError)
        else throw sideError
      }
    }
  }

  /** Committed data files of a parquet directory, by Spark's own rule:
    * names starting with `_` or `.` (logs, markers, temp dirs, CRCs) are
    * not data. */
  private def dataFiles(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty[File]).toSeq
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))

  private def footerRows(f: File, conf: org.apache.hadoop.conf.Configuration): Long = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.toURI), conf))
    try reader.getRecordCount finally reader.close()
  }

  /** Row count per file name: the warehouse files already folded into
    * the destination, and the destination's own files. */
  private final case class EtlLog(warehouse: Map[String, Long], dest: Map[String, Long])

  private object EtlLog {
    /** One `<w|d> TAB <file name> TAB <rows>` line per file; a missing
      * log is an empty one. */
    def read(f: File): EtlLog =
      if (!f.isFile) EtlLog(Map.empty, Map.empty)
      else {
        val entries = Files.readAllLines(f.toPath, UTF_8).toArray(Array.empty[String]).toSeq
          .filter(_.nonEmpty).map(_.split('\t') match {
            case Array(kind, name, rows) => (kind, name -> rows.toLong)
            case bad => throw new IllegalStateException(s"$f: bad line '${bad.mkString("\t")}'")
          })
        def of(kind: String) = entries.collect { case (`kind`, e) => e }.toMap
        EtlLog(of("w"), of("d"))
      }

    /** Replace `f` atomically: a reader sees the old log or the new one. */
    def write(log: EtlLog, f: File): Unit = {
      def lines(kind: String, m: Map[String, Long]) =
        m.toSeq.sortBy(_._1).map { case (n, r) => s"$kind\t$n\t$r\n" }
      val tmp = new File(f.getParentFile, f.getName + ".tmp")
      f.getParentFile.mkdirs()
      Files.write(tmp.toPath, (lines("w", log.warehouse) ++ lines("d", log.dest)).mkString.getBytes(UTF_8))
      Files.move(tmp.toPath, f.toPath, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }
  }

  private val KnownFlags = Set("workdir", "input", "rotationtime", "threads")

  def main(args: Array[String]): Unit = {
    // strict flag parsing: unknown or value-less flags abort instead of
    // silently falling back (a typo'd --workdir must not send the
    // warehouse to a fresh temp dir)
    val opts = args.grouped(2).map {
      // a value may not itself look like a flag: "--input --workdir /x"
      // must abort, not read "--workdir" as the input path
      case Array(k, v) if k.startsWith("--") && KnownFlags(k.drop(2)) &&
          !v.startsWith("--") =>
        k.drop(2) -> v
      case bad =>
        sys.error(s"usage: BlockEtl [--workdir D] [--input P|golden] " +
          s"[--rotationtime S] [--threads N]; offending args: ${bad.mkString(" ")}")
    }.toMap
    val workDir = opts.getOrElse("workdir",
      java.nio.file.Files.createTempDirectory("blocketl").toString)
    val rotation = opts.getOrElse("rotationtime", "600").toLong
    val threads = opts.getOrElse("threads", "4")
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", threads)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val blocks = opts.get("input").filter(_ != "golden")
      .map(p => spark.read.schema(Bitcoin.blockSchema).parquet(p))
      .getOrElse(Bitcoin.goldenBlocks(spark))
    val r = run(spark, blocks, workDir, rotation)
    println(s"[blocketl] avroFiles=${r.avroFiles} warehouseRows=${r.warehouseRows} " +
      s"etlRows=${r.etlRows} workdir=$workDir")
    spark.stop()
  }
}
