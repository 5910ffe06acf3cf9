package graft.ml

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Fixed-point vector kernels over an `array<float>` embedding column —
  * the forms the registry's ANN and embedding queries run, because each
  * has an exact SQL replay that the DuckDB oracles hash-match (float
  * accumulation cannot: summation order differs between engines).
  *
  *  - [[fxDot]]: the exact dot product, sum of floor(a_i * b_i * 1e15)
  *    as BIGINT, through the codegen kernel `graft_fxdot`;
  *  - [[md5Planes]] + [[lshBucketFx]]: sign-LSH bucketing (random-
  *    hyperplane rounding, Charikar 2002) with md5-derived integer
  *    planes and the fxDot sign test, so the bucket id is an equi-join
  *    key that SQL reproduces.
  */
object Embeddings {

  /** Fixed-point exact dot (sum of floor(ai*bi*1e15) as BIGINT) — the
    * engine-portable kernel ([[graft.plans.FxDotProduct]]): bit-equal
    * to the posexplode+grouped-SUM formulation at array speed. */
  def fxDot(a: Column, b: Column): Column =
    call_function("graft_fxdot", a, b)

  /** Engine-portable hyperplanes: component (p, i) is the first md5
    * byte of "p:i" minus 128 — a deterministic integer in [-128, 127]
    * that any engine reproduces from its own md5(), so the sign-LSH
    * bucket assignment (and therefore the q_ann_lsh candidate set) can
    * be replayed as SQL. Small-integer components are exact in float
    * AND in the float→double product (8+24 significand bits < 53), so
    * the fx sign test below is bit-portable. */
  def md5Planes(dim: Int, numPlanes: Int): Array[Array[Float]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(numPlanes)(p => Array.tabulate(dim) { i0 =>
      val d = md.digest(s"$p:${i0 + 1}".getBytes("UTF-8"))
      ((d(0) & 0xff) - 128).toFloat
    })
  }

  /** Sign-pattern bucket id under [[md5Planes]], decided by the exact
    * fixed-point dot (sum of floor(x_i * c_i * 1e15) >= 0) — the same
    * order-free BIGINT chain as the cosine oracles, so Spark and a SQL
    * replay agree on every boundary case. */
  def lshBucketFx(emb: Column, planes: Array[Array[Float]]): Column =
    planes.zipWithIndex.map { case (pl, ip) =>
      val planeCol = array(pl.map(v => lit(v)): _*)
      when(fxDot(emb, planeCol) >= 0, lit(1L << ip)).otherwise(lit(0L))
    }.reduce(_ + _)
}
