package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{DotProduct, Md5Prefix60}

/** SparkSessionExtensions hook: registers graft's native Catalyst
  * expressions as SQL functions, so `spark.sql("SELECT graft_dot(a, b)")`
  * works next to the Column API, and the whole-operator extension
  * ([[graft.plans.TopKPerGroup]]: optimizer rule + planner strategy +
  * physical heap top-k replacing the row_number window pattern).
  * [[GraftSession]] enables it with the conf
  * `spark.sql.extensions=graft.GraftExtensions`, which any other session
  * (spark-submit, a notebook) can set the same way.
  *
  * This is the standard extension seam — no Spark fork, works on any
  * cluster that can see the graft jar.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.plans.TopKPerGroup.register(ext)
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_dot(a, b) takes exactly 2 arguments")
        DotProduct(args(0), args(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_md5_prefix60"),
      new ExpressionInfo(classOf[Md5Prefix60].getName, "graft_md5_prefix60"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_md5_prefix60(s) takes exactly 1 argument")
        Md5Prefix60(args(0))
      }))
  }
}
