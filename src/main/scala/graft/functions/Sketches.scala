package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** KMV (bottom-k) and HyperLogLog on md5 hex digests, once per engine:
  * a Spark Column, DuckDB SQL (`…Sql`) and Scala. The prefix decode is
  * [[Hex]]'s; the widths and constants built on it live only here. Each
  * estimate is one exact integer division, so all three forms agree.
  *
  * KMV: the hash is the first 48 bits; from the k-th smallest hash h the
  * estimate is (k−1)·2^48 div greatest(h, 1) (no division by zero).
  * HLL: the first byte picks one of m = 256 registers; the rank is 49 −
  * bitlength of the next 48 bits (49 when all zero); with the harmonic
  * sum as the exact integer ss = Σ2^(49−M_j), the estimate is
  * α₂₅₆·m²·2⁴⁹·10⁶ div (ss·10⁶), α scaled by 10⁶ = 718273. */
object Sketches {
  private def kmvNumerator(k: Int): Long = (k - 1).toLong << 48
  private val HllNumeratorE6 = "26499596412111161535758336"

  def kmvHash(hex: Column): Column = Hex.prefix(hex, 1, 12)
  def kmvHashSql(hex: String): String = Hex.prefixSql(hex, 1, 12)
  def kmvHash(hex: String): Long = Hex.prefix(hex, 1, 12)

  def kmvEstimate(k: Int, h48: Column): Column =
    call_function("div", lit(kmvNumerator(k)), greatest(h48, lit(1L)))
  /** Parenthesized, so it composes as an operand. */
  def kmvEstimateSql(k: Int, h48: String): String =
    s"(${kmvNumerator(k)} // GREATEST($h48, 1))"
  def kmvEstimate(k: Int, h48: Long): Long = kmvNumerator(k) / math.max(h48, 1L)

  def hllRegister(hex: Column): Column = Hex.prefix(hex, 1, 2)
  def hllRegisterSql(hex: String): String = Hex.prefixSql(hex, 1, 2)
  def hllRegister(hex: String): Int = Hex.prefix(hex, 1, 2).toInt

  def hllRank(hex: Column): Column = {
    val w = Hex.prefix(hex, 3, 12)
    when(w === 0, 49L).otherwise(lit(49L) - length(bin(w)))
  }
  def hllRankSql(hex: String): String = {
    val w = Hex.prefixSql(hex, 3, 12)
    s"CASE WHEN $w = 0 THEN 49 ELSE 49 - length(bin($w)) END"
  }
  def hllRank(hex: String): Int = {
    val w = Hex.prefix(hex, 3, 12)
    if (w == 0L) 49 else 49 - (64 - java.lang.Long.numberOfLeadingZeros(w))
  }

  def hllEstimate(ss: Column): Column =
    call_function("div", lit(HllNumeratorE6).cast(DecimalType(38, 0)),
      ss.cast(DecimalType(38, 0)) * 1000000).cast("long")
  def hllEstimateSql(ss: String): String =
    s"CAST($HllNumeratorE6 // (CAST($ss AS HUGEINT) * 1000000) AS BIGINT)"
  def hllEstimate(ss: BigInt): Long = (BigInt(HllNumeratorE6) / (ss * 1000000)).toLong
}
