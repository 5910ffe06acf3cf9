package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, LongType}

/** Fixed-point base-2 logarithm of a positive BIGINT: the classic
  * square-and-shift binary-digit algorithm (each fractional bit of
  * log2(x) is the overflow bit of squaring the normalized mantissa),
  * entirely in 64-bit integer arithmetic — no libm anywhere.
  *
  * Output: `(e << 30) | frac` where `e = floor(log2(n))` and `frac`
  * holds 30 binary fractional digits, i.e. fxlog2(n) / 2^30 ≈ log2(n)
  * with error < 2^-29 per the per-step mantissa truncation. Crucially
  * the value is DETERMINISTIC and replayable bit-for-bit in any engine
  * with 64-bit integers (the DuckDB oracle replays it as a 30-step
  * recursive CTE over `length(bin(n))-1` + the same square/shift,
  * [[FxLog2.oracleCte]]),
  * which makes log-space scoring — BM25 idf, importance-resampling
  * log-ratios, entropy — hash-matchable cross-engine where IEEE
  * `ln`/`log` never is (CLAUDE.md: pow/ln/exp differ across libms).
  *
  * F=30 is the largest fraction width where the squared mantissa fits
  * a signed 64-bit long: x ∈ [2^30, 2^31) ⇒ x² < 2^62.
  *
  * Domain: n ≥ 1. n ≤ 0 raises (loud, not a silent null) — callers
  * feed counts+1 style arguments that are positive by construction.
  */
case class FxLog2(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case LongType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_fxlog2 requires BIGINT, got ${other.simpleString}")
    }

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_fxlog2"

  override def nullSafeEval(input: Any): Any =
    FxLog2.fxlog2(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.FxLog2.fxlog2($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object FxLog2 {
  final val FracBits = 30

  /** See class doc. Static so the codegen path and the interpreted
    * path share one body (same pattern as a fused kernel call). */
  def fxlog2(n: Long): Long = {
    if (n <= 0L)
      throw new IllegalArgumentException(
        s"graft_fxlog2 requires a positive argument, got $n")
    val e = 63 - java.lang.Long.numberOfLeadingZeros(n)
    // normalize the mantissa to [2^30, 2^31); for e > 30 the low bits
    // truncate — identical to the oracle's `n >> (e - 30)`
    var x = if (e <= FracBits) n << (FracBits - e) else n >> (e - FracBits)
    var r = e.toLong << FracBits
    var i = 0
    while (i < FracBits) {
      x = (x * x) >> FracBits
      if (x >= (1L << (FracBits + 1))) {
        x >>= 1
        r |= 1L << (FracBits - 1 - i)
      }
      i += 1
    }
    r
  }

  /** `graft_fxlog2(n)`, the name `GraftExtensions` registers, as a Column. */
  def column(n: Column): Column = call_function("graft_fxlog2", n)

  /** [[fxlog2]] as a DuckDB recursive CTE, parameterized on the CTE
    * that supplies the distinct `n` arguments. Emits `base`/`fxl`/`lg`;
    * join `lg` on n and read `r`. */
  def oracleCte(argsCte: String): String =
    s"""base AS (SELECT n, length(bin(n)) - 1 AS e FROM $argsCte),
       |fxl(n, i, x, r) AS (
       |  SELECT n, 0,
       |    CASE WHEN e <= 30 THEN n << (30 - e) ELSE n >> (e - 30) END,
       |    CAST(e AS BIGINT) << 30
       |  FROM base
       |  UNION ALL
       |  SELECT n, i + 1,
       |    CASE WHEN ((x * x) >> 30) >= (1::BIGINT << 31)
       |         THEN ((x * x) >> 30) >> 1 ELSE (x * x) >> 30 END,
       |    CASE WHEN ((x * x) >> 30) >= (1::BIGINT << 31)
       |         THEN r | (1::BIGINT << (29 - i)) ELSE r END
       |  FROM fxl WHERE i < 30),
       |lg AS (SELECT n, r FROM fxl WHERE i = 30)""".stripMargin
}
