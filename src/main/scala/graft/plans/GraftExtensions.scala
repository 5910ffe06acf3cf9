package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension registering graft's native expressions
  * (SparkSessionExtensions is the supported plug-in point — set
  * `spark.sql.extensions=graft.plans.GraftExtensions`).
  *
  * Kept deliberately small: SURVEY.md §4.3 — every declared operator
  * lowers to built-in plans, so no custom Rule/Strategy is injected;
  * only scalar kernels that benefit from codegen live here, and each
  * is reached by at least one registry query, whose oracle holds it to
  * its result (a `PlanShapeSpec` tripwire checks this).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_fxdot"),
      new ExpressionInfo(classOf[FxDotProduct].getName, "graft_fxdot"),
      (children: Seq[Expression]) => FxDotProduct(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_bloom_might_contain"),
      new ExpressionInfo(classOf[BloomMightContain].getName,
        "graft_bloom_might_contain"),
      (children: Seq[Expression]) => BloomMightContain.fromChildren(children)))
    ext.injectFunction((
      FunctionIdentifier("graft_fxsqdist"),
      new ExpressionInfo(classOf[FxSqDist].getName, "graft_fxsqdist"),
      (children: Seq[Expression]) => FxSqDist(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_fxlog2"),
      new ExpressionInfo(classOf[FxLog2].getName, "graft_fxlog2"),
      (children: Seq[Expression]) => FxLog2(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_base58check"),
      new ExpressionInfo(classOf[Base58Check].getName, "graft_base58check"),
      (children: Seq[Expression]) => Base58Check.fromChildren(children)))
  }
}
