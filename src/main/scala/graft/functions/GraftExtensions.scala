package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Engine extension point (SURVEY §4 conclusion: custom Catalyst surface
  * is reserved for genuinely missing primitives). Injects the native
  * functions into the session's FunctionRegistry so they are usable from
  * both SQL text and `expr(...)`:
  *
  * {{{
  * val spark = graft.Session() // installs GraftExtensions
  * spark.sql("SELECT cosine_sim(a.embedding, b.embedding) ...")
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (children: Seq[Expression]) => {
        require(children.size == 2, s"cosine_sim expects 2 arguments, got ${children.size}")
        CosineSimilarity(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (children: Seq[Expression]) => {
        require(children.size == 2, s"dot_product expects 2 arguments, got ${children.size}")
        DotProduct(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinklerSim].getName, "jaro_winkler"),
      (children: Seq[Expression]) => {
        require(children.size == 2, s"jaro_winkler expects 2 arguments, got ${children.size}")
        JaroWinklerSim(children.head, children(1))
      }))
  }
}
