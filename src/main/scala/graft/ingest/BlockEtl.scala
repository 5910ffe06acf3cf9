package graft.ingest

import java.io.File
import java.nio.channels.{FileChannel, OverlappingFileLockException}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
import java.util.UUID

import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
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
  * A call runs three actions concurrently, each on its own thread: the
  * warehouse append, the Avro sink, and the fold. The fold reads what the
  * sinks read — the call's own blocks — plus any warehouse files a
  * crashed call left unfolded, dedups them, drops blocks the destination
  * already holds, and writes the rest to a staging directory inside the
  * destination. Only when all three actions succeeded does the staged
  * output join the destination, so a destination row never outlives a
  * failed warehouse append. Duplicates are exact copies under the
  * reference's at-least-once contract, so the destination's rows equal a
  * full `Bitcoin.etl` over the whole warehouse. The destination's
  * `_etl_log` records which warehouse files are folded and every file's
  * row count; deleting the destination directory deletes the log too,
  * and the next call rebuilds the destination from the whole warehouse.
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

  /** Name of the thread a call runs its Avro sink on. */
  val AvroThreadName = "blocketl-avro-sink"

  /** Name of the thread a call runs its fold into the staging directory on. */
  val FoldThreadName = "blocketl-fold"

  /** File log kept inside the destination directory. Spark skips names
    * starting with `_` when it reads the directory as parquet. */
  val LogName = "_etl_log"

  /** Lock file inside the work directory; a call holds it throughout. */
  val LockName = "_blocketl.lock"

  /** Prefixes of a call's fold output inside the destination: written
    * under `_staging-<id>`, renamed to `_commit-<id>` once all three
    * actions succeeded. Spark's reader skips both. */
  private val StagingPrefix = "_staging-"
  private val CommitPrefix = "_commit-"

  /** One pipeline run. Repeated calls APPEND to the warehouse (the
    * reference's at-least-once semantics) and fold only the call's own
    * blocks, plus warehouse files no earlier call folded, into the
    * destination, so a call costs in proportion to its batch. `etlRows`
    * is stable across re-runs of the same blocks even as `warehouseRows`
    * grows: the dedup repair at work.
    *
    * Order of a call:
    *  1. Take `<workdir>/_blocketl.lock` (`FileChannel.tryLock`); a call
    *     that finds it held, by another process or by another call in
    *     this JVM, fails at once and writes nothing. The OS drops the lock
    *     with the process, so a crash leaves no stale lock.
    *  1. Recover what a crashed call left in the destination: move the
    *     remaining files of a `_commit-*` directory in, delete any
    *     `_staging-*` directory (only a call holding the lock writes one).
    *  1. Run the warehouse append, the Avro sink and the fold
    *     concurrently. The fold writes to `transactions/_staging-<id>`.
    *  1. If any action failed, delete the staging directory, leave
    *     `transactions/` as the call found it (absent if it was absent),
    *     and throw the first error with the others suppressed.
    *  1. Otherwise commit: rename the staging directory to
    *     `_commit-<id>`, move its data files into `transactions/`,
    *     replace the log (write, then atomic rename), delete the commit
    *     directory.
    *
    * Crash safety: a crash before the rename leaves a staging directory,
    * which the next call deletes; the warehouse files the crashed call
    * appended are not in the log, so the next call folds them. A crash
    * after it leaves a commit directory, which the next call rolls
    * forward; files moved in but not yet logged are counted from their
    * parquet footers, and the anti-join on `block_id` keeps the blocks
    * they hold from landing twice. */
  def run(spark: SparkSession, blocks: DataFrame, workDir: String,
      rotationSeconds: Long): Result = locked(workDir) {
    val avroDir = s"$workDir/avro"
    val warehouseDir = s"$workDir/warehouse"
    val destDir = s"$workDir/transactions"
    val dest = new File(destDir)
    val destFound = dest.exists()
    recover(dest)

    // R12-R17: dedup + inner-unnest + star-project over the call's blocks
    // and the warehouse files no call has folded, minus blocks already in
    // the destination. Dedup first, so the arrivals' shuffle and the
    // destination key scan are independent stages.
    val log = EtlLog.read(new File(destDir, LogName))
    val unfolded = dataFiles(warehouseDir).filterNot(f => log.warehouse.contains(f.getName))
    val arrived =
      if (unfolded.isEmpty) blocks
      else blocks.union(spark.read.schema(blocks.schema).parquet(unfolded.map(_.getPath): _*))
    val etl = Bitcoin.etl(arrived)
    val unseen =
      if (dataFiles(destDir).isEmpty) etl
      else etl.join(spark.read.schema(DestKeySchema).parquet(destDir), Seq("block_id"), "left_anti")
        .select(etl.columns.map(col): _*) // a USING join puts block_id first

    // R7: rotated Avro container files, event-time bucketed.
    // avroFiles reports THIS run's output (the directory accumulates
    // across re-runs by design — append semantics).
    def countAvro() = Option(new File(avroDir).listFiles())
      .getOrElse(Array.empty[File]).count(_.getName.endsWith(".avro"))
    var avroFiles = 0
    val id = UUID.randomUUID()
    val staging = new File(dest, s"$StagingPrefix$id")
    // R8: warehouse append (parquet stands in for the BQ table). The
    // rotated files are the transport format; the warehouse loads the
    // same rows (we append the source frame rather than re-parsing avro,
    // which AvroSink.readAll covers).
    try concurrently(spark.sparkContext)(
      (AppendThreadName, "blocketl.warehouse_append",
        () => blocks.write.mode(SaveMode.Append).parquet(warehouseDir)),
      (AvroThreadName, "blocketl.avro_sink", () => {
        val before = countAvro()
        AvroSink.write(blocks, "timestamp", rotationSeconds, avroDir)
        avroFiles = countAvro() - before
      }),
      (FoldThreadName, "blocketl.fold", () => unseen.write.parquet(staging.getPath)))
    catch {
      case e: Throwable =>
        FileUtils.deleteQuietly(staging)
        if (!destFound) dest.delete() // only removes it while empty
        throw e
    }

    val commit = new File(dest, s"$CommitPrefix$id")
    Files.move(staging.toPath, commit.toPath, StandardCopyOption.ATOMIC_MOVE)
    moveIn(commit, dest)
    // row counts: logged, else from the parquet footer (only new files)
    val conf = spark.sessionState.newHadoopConf()
    def counted(files: Seq[File], logged: Map[String, Long]) =
      files.map(f => f.getName -> logged.getOrElse(f.getName, footerRows(f, conf))).toMap
    val next = EtlLog(counted(dataFiles(warehouseDir), log.warehouse),
      counted(dataFiles(destDir), log.dest))
    EtlLog.write(next, new File(destDir, LogName))
    FileUtils.deleteDirectory(commit)

    Result(avroFiles, next.warehouse.values.sum, next.dest.values.sum)
  }

  /** Only the destination column the anti-join needs. */
  private val DestKeySchema = StructType(Seq(StructField("block_id", StringType)))

  /** Work directories whose lock a call in this JVM holds. */
  private val lockedDirs = java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()

  /** Run `body` holding `<workDir>/_blocketl.lock`, creating the work
    * directory if needed; fail at once if the lock is held. A rival call
    * in this JVM is turned away before it opens the file: closing any
    * channel on it would release this process's OS lock (POSIX record
    * locks), letting another process in while the first call runs. */
  private def locked[A](workDir: String)(body: => A): A = {
    val dir = Files.createDirectories(Paths.get(workDir)).toRealPath()
    def busy = new IllegalStateException(s"BlockEtl: another run holds the lock on workdir $workDir")
    if (!lockedDirs.add(dir)) throw busy
    try {
      val channel = FileChannel.open(dir.resolve(LockName),
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        val held = try channel.tryLock() == null
          catch { case _: OverlappingFileLockException => true }
        if (held) throw busy
        body
      } finally channel.close()
    } finally lockedDirs.remove(dir)
  }

  /** Finish what a crashed call left in the destination: a commit
    * directory's remaining files move in, a staging directory goes. */
  private def recover(dest: File): Unit =
    Option(dest.listFiles()).getOrElse(Array.empty[File]).foreach { d =>
      if (d.getName.startsWith(CommitPrefix)) {
        moveIn(d, dest)
        FileUtils.deleteDirectory(d)
      } else if (d.getName.startsWith(StagingPrefix)) FileUtils.deleteDirectory(d)
    }

  /** Move a commit directory's data files into the destination. Spark
    * names every written file uniquely, so no move replaces a file. */
  private def moveIn(commit: File, dest: File): Unit =
    dataFiles(commit.getPath).foreach(f =>
      Files.move(f.toPath, new File(dest, f.getName).toPath, StandardCopyOption.ATOMIC_MOVE))

  /** Run each `(thread name, job description, action)` on its own fresh
    * thread and wait for all of them. A fresh thread, not a pooled one,
    * inherits a copy of this thread's Spark local properties (job group,
    * scheduler pool, ...), so the action's job description labels its
    * jobs and leaves the caller's as it was. The first failed action's
    * error, in argument order, is thrown with the others suppressed. */
  private def concurrently(sc: SparkContext)(actions: (String, String, () => Unit)*): Unit = {
    val errors = new Array[Throwable](actions.size)
    val threads = actions.zipWithIndex.map { case ((name, description, action), i) =>
      new Thread(() => {
        sc.setJobDescription(description)
        try action() catch { case e: Throwable => errors(i) = e }
      }, name)
    }
    try threads.foreach(_.start()) finally threads.foreach(_.join())
    errors.filter(_ != null) match {
      case Array(first, rest @ _*) => rest.foreach(first.addSuppressed); throw first
      case _ =>
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
    val spark = graft.Session.builder(threads).getOrCreate()
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
