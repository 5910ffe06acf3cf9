package graftbench

import java.io.File

/** File-system helpers for the benchmark's work directory. */
object Disk {
  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Bytes of every regular file under `f`, hidden files (Spark's .crc
    * checksums and _SUCCESS markers) excluded. */
  def bytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(bytes).sum).getOrElse(0L)
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
    else f.length()

  def files(dir: File, suffix: String): Set[String] =
    Option(dir.listFiles()).map(_.map(_.getName).filter(_.endsWith(suffix)).toSet)
      .getOrElse(Set.empty)

  /** Records in Avro container files, counted block by block. */
  def avroRecords(dir: File, names: Iterable[String]): Long = names.iterator.map { n =>
    val r = new org.apache.avro.file.DataFileReader[AnyRef](new File(dir, n),
      new org.apache.avro.generic.GenericDatumReader[AnyRef]())
    try {
      var count = 0L
      while (r.hasNext) { r.nextBlock(); count += r.getBlockCount }
      count
    } finally r.close()
  }.sum

  /** Run `f` over `xs` on `threads` threads: small independent Spark
    * writes, each a single-task job, run side by side. */
  def inParallel[T](xs: Seq[T], threads: Int)(f: T => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try xs.map(x => pool.submit(new Runnable { def run(): Unit = f(x) })).foreach(_.get())
    finally pool.shutdown()
  }
}
