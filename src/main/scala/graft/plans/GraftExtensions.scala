package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{CosineSim, DotProduct}

/** SQL-surface registration of the native vector expressions
  * (SURVEY.md §2.10): attach with
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`
  * and `SELECT dot_product(a, b)`, `cosine_sim(a, b)` work in spark.sql.
  * Also injects the (opt-in, conf-gated) BinnedIntervalJoinRule so SQL
  * range joins get the binned scale path without DataFrame-API calls.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (children: Seq[Expression]) => DotProduct(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (children: Seq[Expression]) => CosineSim(children(0), children(1))))
    ext.injectOptimizerRule(s => BinnedIntervalJoinRule(s))
  }
}
