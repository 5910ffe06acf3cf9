package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{conv, substring}

/** Shared lowercase-hex codec (single home — BtcScript, Bitcoin fixtures
  * and the minhash signature UDF all need one and must agree).
  *
  * It also owns the md5 hex-prefix decode, the `width` hex digits at the
  * 1-based `from` read as an unsigned integer, once per engine: `prefix`
  * on a Column, `prefixSql` in DuckDB SQL, `prefix` on a Scala String.
  * `width <= 15`: 60 bits is the widest prefix both engines hold; at 16
  * DuckDB's cast throws (`Could not convert string '0xffffffffffffffff'
  * to INT64`) and Spark's `conv` + cast overflows a signed long.
  * [[Sketches]] holds the KMV and HLL arithmetic built on the decode. */
object Hex {
  private val Digits = "0123456789abcdef".toCharArray

  private def checked(width: Int): Int = {
    require(1 <= width && width <= 15,
      s"hex prefix width must be 1..15 (both engines hold 60 bits), got $width")
    width
  }

  def prefix(hex: Column, from: Int, width: Int): Column =
    conv(substring(hex, from, checked(width)), 16, 10).cast("long")
  /** Over the DuckDB SQL expression `hex`. */
  def prefixSql(hex: String, from: Int, width: Int): String =
    s"CAST(('0x' || substr($hex, $from, ${checked(width)})) AS BIGINT)"
  def prefix(hex: String, from: Int, width: Int): Long =
    java.lang.Long.parseLong(hex.substring(from - 1, from - 1 + checked(width)), 16)

  def bytesToHex(b: Array[Byte]): String = bytesToHex(b, 0, b.length)

  /** Hot-loop overload: encode into a caller-reused char buffer
    * (buf.length must be >= 2*len) — one String alloc, no char[]. */
  def bytesToHex(b: Array[Byte], len: Int, buf: Array[Char]): String = {
    var i = 0
    while (i < len) {
      buf(2 * i) = Digits((b(i) >> 4) & 0xf)
      buf(2 * i + 1) = Digits(b(i) & 0xf)
      i += 1
    }
    new String(buf, 0, 2 * len)
  }

  def bytesToHex(b: Array[Byte], from: Int, len: Int): String = {
    val out = new Array[Char](len * 2)
    var i = 0
    while (i < len) {
      out(2 * i) = Digits((b(from + i) >> 4) & 0xf)
      out(2 * i + 1) = Digits(b(from + i) & 0xf)
      i += 1
    }
    new String(out)
  }

  def hexToBytes(h: String): Array[Byte] = {
    require(h.length % 2 == 0, s"odd-length hex: ${h.length}")
    val out = new Array[Byte](h.length / 2)
    var i = 0
    while (i < out.length) {
      out(i) = Integer.parseInt(h.substring(2 * i, 2 * i + 2), 16).toByte
      i += 1
    }
    out
  }
}
