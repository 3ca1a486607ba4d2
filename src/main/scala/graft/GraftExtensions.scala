package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.{FloatVecCosine, FloatVecL2, JaroWinkler, Md5Long, ZOrderKey}

/** The one way SQL names the engine's native functions. [[Sessions.build]]
  * installs it on every session the repo builds; any other session —
  * spark-sql / JDBC entry points included — gets the same names via
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * DataFrame code uses the Column builders in `graft.functions` instead.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      new FunctionIdentifier("vec_cosine"),
      new ExpressionInfo(classOf[FloatVecCosine].getName, "vec_cosine"),
      exprs => FloatVecCosine(exprs(0), exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("vec_l2"),
      new ExpressionInfo(classOf[FloatVecL2].getName, "vec_l2"),
      exprs => FloatVecL2(exprs(0), exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("md5_long"),
      new ExpressionInfo(classOf[Md5Long].getName, "md5_long"),
      exprs => Md5Long(exprs(0))))
    e.injectFunction((
      new FunctionIdentifier("zorder_key"),
      new ExpressionInfo(classOf[ZOrderKey].getName, "zorder_key"),
      exprs => ZOrderKey(exprs(0), exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinkler].getName, "jaro_winkler"),
      exprs => JaroWinkler(exprs(0), exprs(1))))
  }
}
