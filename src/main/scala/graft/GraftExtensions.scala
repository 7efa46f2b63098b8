package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.{DotProduct, Md5Prefix60}

/** SparkSessionExtensions entry point: registers graft's native Catalyst
  * expressions as SQL functions, so `spark.sql("SELECT graft_dot(a, b)")`
  * works cluster-wide via
  * `--conf spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        DotProduct(exprs(0), exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("graft_md5p60"),
      new ExpressionInfo(classOf[Md5Prefix60].getName, "graft_md5p60"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        Md5Prefix60(exprs(0))))
  }
}

object GraftExtensions {
  /** Runtime registration on an existing session (same builder as the
    * extension path; usable without restarting the session).
    */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_dot", exprs => DotProduct(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_md5p60", exprs => Md5Prefix60(exprs(0)), "built-in")
  }

  /** Sessions already registered — held weakly, so a session the caller
    * drops is not kept reachable by having been passed to `ensure`.
    */
  private val registered = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))

  /** Idempotent per-session registration for library call sites whose
    * expr() strings reference graft functions.
    */
  def ensure(spark: SparkSession): Unit =
    if (registered.add(spark)) register(spark)
}
