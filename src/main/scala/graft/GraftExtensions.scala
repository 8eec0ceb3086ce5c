package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.plans.{DotProduct, H32, KplExplode, SquaredDistance, ZOrder2}

/** Session extension entry point: registers the engine's native Catalyst
  * functions so they work from SQL and `expr(...)` in any session created
  * with `spark.sql.extensions=graft.GraftExtensions` (or imperatively via
  * [[GraftExtensions.register]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    // Band θ-join → bucketized equi-join rewrite (graft.plans.BandJoinRewrite)
    ext.injectOptimizerRule(_ => graft.plans.BandJoinRewrite)
  }
}

object GraftExtensions {
  private def descriptor(name: String, cls: Class[_], arity: Int)(
      build: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier(name),
    new ExpressionInfo(cls.getName, name),
    (children: Seq[Expression]) => {
      require(children.length == arity,
        s"$name takes exactly ${if (arity == 1) "one argument" else "two arguments"}")
      build(children)
    })

  /** The engine's SQL functions, injected by [[GraftExtensions.apply]] and
    * registered by [[register]]. */
  private val functions = Seq(
    descriptor("graft_kpl_explode", classOf[KplExplode], 1)(c => KplExplode(c.head)),
    descriptor("graft_h32", classOf[H32], 1)(c => H32(c.head)),
    descriptor("graft_dot", classOf[DotProduct], 2)(c => DotProduct(c.head, c(1))),
    descriptor("graft_sqdist", classOf[SquaredDistance], 2)(c => SquaredDistance(c.head, c(1))),
    descriptor("graft_zorder", classOf[ZOrder2], 2)(c => ZOrder2(c.head, c(1))))

  /** Imperative registration for sessions built without the extensions
    * config (tests, notebooks). Idempotent. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    if (!spark.experimental.extraOptimizations.contains(graft.plans.BandJoinRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.BandJoinRewrite
    functions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder) }
  }
}
