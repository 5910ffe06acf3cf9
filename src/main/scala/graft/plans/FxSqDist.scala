package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Fixed-point squared Euclidean distance: SUM_i (a_i - b_i)^2 over
  * `array<bigint>` coordinates — the Lloyd-iteration inner loop of
  * [[graft.ml.KMeansFx]] (every (point, centroid) pair probes this, so
  * it is k-means' hottest expression). Pure integer arithmetic: the
  * result is exactly the value the DuckDB oracle's exploded
  * SUM((p.v - c.v)^2) computes, fused into one codegen loop over the
  * two arrays — no boxed Seq conversion per pair (the Scala-UDF form
  * this replaces boxed both arrays on every probe).
  */
case class FxSqDist(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_fxsqdist requires (array<bigint>, array<bigint>), " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_fxsqdist"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    // fail loud on dimension mismatch (like the Scala UDF this replaced):
    // a silent min-length loop would turn a caller's dim bug into a
    // plausible-but-wrong distance
    val n = FxSqDist.checkedLen(prettyName, x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      val d = x.getLong(i) - y.getLong(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val dv = ctx.freshName("d")
      s"""
        |int $n = graft.plans.FxSqDist.checkedLen("$prettyName",
        |  $x.numElements(), $y.numElements());
        |long $acc = 0L;
        |for (int $i = 0; $i < $n; $i++) {
        |  long $dv = $x.getLong($i) - $y.getLong($i);
        |  $acc += $dv * $dv;
        |}
        |${ev.value} = $acc;
      """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object FxSqDist {
  /** The one length check of the two-array kernels (`graft_fxsqdist`,
    * `graft_fxdot`), shared by eval and generated code (a static
    * forwarder, janino-visible): unequal lengths throw, naming the
    * kernel, instead of looping over the common prefix. */
  def checkedLen(kernel: String, a: Int, b: Int): Int = {
    if (a != b) throw new IllegalArgumentException(
      s"$kernel: array length mismatch: $a vs $b")
    a
  }
}
