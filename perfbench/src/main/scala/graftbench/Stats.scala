package graftbench

import org.apache.spark.sql.Row

/** Summary statistics over a run's samples. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Geometric mean: the typical call of a mix whose members differ
    * several-fold in latency (where the median falls in a gap between
    * members and jumps between them from run to run). */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geometric mean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.length)
  }

  /** The tail a sample supports: the highest percentile that still has
    * at least `beyond` samples strictly above it.
    * @param value the sample at that rank
    * @param percentile the rank as a percentile of the sample count
    * @param samples how many samples the tail rests on
    */
  final case class Tail(value: Double, percentile: Double, samples: Int)

  /** With n sorted samples, the k-th smallest (1-based) has n - k samples
    * beyond it, so the tail is the (n - beyond)-th smallest. Fewer than
    * beyond + 1 samples support no tail: the maximum is reported instead
    * and `percentile` reads 100. */
  def tail(xs: Seq[Double], beyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    if (n <= beyond) Tail(s.last, 100.0, n)
    else {
      val k = n - beyond
      Tail(s(k - 1), 100.0 * k / n, n)
    }
  }
}

/** Order-insensitive content checksum of a set of rows: the count and
  * the wrapping sum of a 64-bit hash of each row's canonical text.
  * Nested rows and arrays are walked, binary becomes hex, null has its
  * own token, so every field of every row is inside the hash. */
final case class Checksum(rows: Long, sum: Long) {
  def +(o: Checksum): Checksum = Checksum(rows + o.rows, sum + o.sum)
  override def toString: String = f"$rows rows / ${sum}%016x"
}

object Checksum {
  val Empty: Checksum = Checksum(0L, 0L)

  def of(rows: Iterator[Row]): Checksum =
    rows.foldLeft(Empty)((c, r) => c + Checksum(1L, rowHash(r)))

  /** The text a row hashes as. */
  def canonical(r: Row): String = {
    val sb = new java.lang.StringBuilder
    canon(r, sb)
    sb.toString
  }

  def rowHash(r: Row): Long = {
    val s = canonical(r)
    import scala.util.hashing.MurmurHash3.stringHash
    (stringHash(s, 0x5bd1e995).toLong << 32) | (stringHash(s, 0x1b873593) & 0xffffffffL)
  }

  private def canon(v: Any, sb: java.lang.StringBuilder): Unit = v match {
    case null => sb.append('∅')
    case b: Array[Byte] => sb.append(graft.functions.Hex.bytesToHex(b))
    case r: Row =>
      sb.append('(')
      var i = 0
      while (i < r.length) { canon(r.get(i), sb); sb.append('|'); i += 1 }
      sb.append(')')
    case xs: scala.collection.Seq[_] =>
      sb.append('[')
      xs.foreach { x => canon(x, sb); sb.append(';') }
      sb.append(']')
    // 10 significant digits: the last bits of a libm result may differ
    // between machines, the digits a reader compares do not
    case d: Double => sb.append(String.format(java.util.Locale.ROOT, "%.10g", Double.box(d)))
    case f: Float => sb.append(String.format(java.util.Locale.ROOT, "%.6g", Double.box(f.toDouble)))
    case m: scala.collection.Map[_, _] =>
      canon(m.toSeq.map { case (k, x) => Row(k, x) }.sortBy(_.toString), sb)
    case other => sb.append(other.toString)
  }
}
