package graft.core

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{BottomKDistinct, CosineSimilarity, TopKByScore}

/** Engine extensions, registered by [[GraftSession.builder]] on every
  * session the engine builds (a foreign session can take them through
  * `spark.sql.extensions=graft.core.GraftExtensions`). They register
  * the engine's native functions, so pure-SQL clients (`spark.sql`,
  * thrift-server style) can use them without the Scala API, and the
  * [[graft.plans.IntervalJoin]] rule and strategy.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction(
      (FunctionIdentifier("cosine_sim"),
        new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
        (exprs: Seq[Expression]) => CosineSimilarity(exprs(0), exprs(1))))
    e.injectFunction(
      (FunctionIdentifier("topk_ids"),
        new ExpressionInfo(classOf[TopKByScore].getName, "topk_ids"),
        (exprs: Seq[Expression]) =>
          TopKByScore(exprs(0), exprs(1), exprs(2))))
    e.injectFunction(
      (FunctionIdentifier("bottomk_distinct"),
        new ExpressionInfo(classOf[BottomKDistinct].getName,
          "bottomk_distinct"),
        (exprs: Seq[Expression]) =>
          BottomKDistinct(exprs(0), exprs(1))))
    e.injectOptimizerRule(_ => graft.plans.IntervalJoin.RewriteRule)
    e.injectPlannerStrategy(_ => graft.plans.IntervalJoin.JoinStrategy)
  }
}
