package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions plugin registering graft's native expressions with
  * the SQL function registry, so pure-SQL users get them too:
  *
  * {{{
  *   SparkSession.builder()
  *     .config("spark.sql.extensions", "graft.plans.GraftExtensions")
  *     ...
  *   spark.sql("SELECT graft_dot(a, b) FROM vectors")
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, cls, builder) =>
      ext.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), builder))
    }
    ext.injectPlannerStrategy(_ => TopKStrategy)
    ext.injectOptimizerRule(_ => WindowTopKRewrite)
  }
}

object GraftExtensions {
  /** Every SQL function graft ships, as (name, expression class, builder)
    * — the one table both registration paths read.
    */
  private[graft] val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] =
    ArrayKernel.Ops.map(op =>
      (op.name, classOf[ArrayKernel], binary(op.name)(ArrayKernel(op, _, _)))) ++ Seq(
      ("graft_distinct_bitmap", classOf[BitmapDistinct], BitmapDistinct.builder),
      ("graft_bitmap_build", classOf[BitmapBuild], BitmapBuild.builder),
      ("graft_bitmap_test", classOf[BitmapTest], BitmapTest.builder),
      ("graft_freq_sketch", classOf[MisraGries], MisraGries.builder),
      ("graft_zorder", classOf[ZOrder], binary("graft_zorder")(ZOrder(_, _))))

  private def binary(name: String)(mk: (Expression, Expression) => Expression)
      : Seq[Expression] => Expression = { children =>
    require(children.length == 2,
      s"$name expects 2 arguments, got ${children.length}")
    mk(children(0), children(1))
  }

  /** Register graft functions on an already-running session. Strategy +
    * optimizer rule go through the experimental hooks (the only post-build
    * injection point Spark offers); the rule is useless without the
    * strategy, so they travel together.
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    functions.foreach { case (name, _, builder) =>
      org.apache.spark.sql.graftbridge.Bridge.registerFunction(spark, name, builder)
    }
    if (!spark.experimental.extraStrategies.contains(TopKStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKStrategy
    if (!spark.experimental.extraOptimizations.contains(WindowTopKRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ WindowTopKRewrite
  }
}
