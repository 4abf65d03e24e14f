package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL surface for graft's custom Catalyst expressions: registers
  * `dot_product(a, b)` and `l2_norm(a)` so `spark.sql(...)` users get the
  * same codegen'd kernels the DataFrame API gets via [[VectorOps]].
  *
  * Wire up with either
  * `SparkSession.builder.withExtensions(new GraftExtensions)` or
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "", "", "", "", "", "", "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("dot_product"),
      info("dot_product", "dot_product(a, b) - dot product of two double arrays"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "dot_product expects exactly 2 arguments")
        DotProduct(args.head, args(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("l2_norm"),
      info("l2_norm", "l2_norm(a) - Euclidean norm of a double array"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "l2_norm expects exactly 1 argument")
        L2Norm(args.head)
      }))
  }
}
