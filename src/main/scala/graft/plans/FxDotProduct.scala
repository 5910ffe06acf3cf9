package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Fixed-point dot product: SUM_i floor(a_i * b_i * 1e15) as BIGINT.
  *
  * This is the engine-portable exact-dot kernel (see DedupSim.fx): every
  * step — float->double widening, double multiply, *1e15, floor — is
  * IEEE-exact and the long sum is order-free, so one fused loop over the
  * arrays produces the SAME value as the posexplode + join + grouped-SUM
  * formulation the DuckDB oracle uses, at a fraction of the cost (no
  * component explosion, no per-pair shuffle rows). Arrays of unequal
  * length throw ([[FxSqDist.checkedLen]]): a dimension bug must not
  * become a plausible-but-wrong dot product.
  */
case class FxDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_fxdot requires (array<float>, array<float>), " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_fxdot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = FxSqDist.checkedLen(prettyName, x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += math.floor(x.getFloat(i).toDouble * y.getFloat(i).toDouble * 1e15).toLong
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
        |int $n = graft.plans.FxSqDist.checkedLen("$prettyName",
        |  $x.numElements(), $y.numElements());
        |long $acc = 0L;
        |for (int $i = 0; $i < $n; $i++) {
        |  $acc += (long) java.lang.Math.floor(
        |    (double) $x.getFloat($i) * (double) $y.getFloat($i) * 1e15);
        |}
        |${ev.value} = $acc;
      """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
