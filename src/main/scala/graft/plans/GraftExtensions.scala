package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: injects the native vector
  * functions at session build, so a deployment gets them without any
  * imperative registration call. Every [[graft.Sessions]] session sets
  * `spark.sql.extensions` to this class; another deployment sets the
  * same key.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction(
      (
        FunctionIdentifier("vec_dot"),
        new ExpressionInfo(classOf[DotProduct].getName, "vec_dot"),
        (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))
      )
    )
    e.injectFunction(
      (
        FunctionIdentifier("vec_cosine"),
        new ExpressionInfo(classOf[CosineSimilarity].getName, "vec_cosine"),
        (exprs: Seq[Expression]) => CosineSimilarity(exprs(0), exprs(1))
      )
    )
    e.injectFunction(
      (
        FunctionIdentifier("env_intersects"),
        new ExpressionInfo(classOf[EnvIntersects].getName, "env_intersects"),
        (exprs: Seq[Expression]) => EnvExpressions.build(exprs)
      )
    )
    // expands env_intersects under Filter into pushable range predicates
    e.injectOptimizerRule(_ => EnvIntersectsRewrite)
  }
}
