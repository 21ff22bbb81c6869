package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into `private[sql]` surface — the standard pattern for
  * libraries shipping custom Catalyst expressions (the alternative,
  * `SparkSessionExtensions.injectFunction`, needs control of session
  * construction, which the driver contract does not give us: sessions
  * arrive pre-built).
  */
object Bridge {

  /** Wrap a Catalyst expression as a user-facing Column. */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Unwrap a Column to its Catalyst expression. */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The session's unique id: a clone (every streaming query runs in one)
    * gets its own. */
  def sessionId(spark: SparkSession): String =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionUUID

  /** Register `cosine_milli(a, b)` for SQL use on an existing session —
    * the runtime equivalent of `SparkSessionExtensions.injectFunction`. */
  def registerCosineMilli(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("cosine_milli"),
      new ExpressionInfo("graft.functions.CosineMilliExpr", "cosine_milli"),
      (exprs: Seq[Expression]) => graft.functions.CosineMilliExpr(exprs(0), exprs(1)))

  /** Register `poly_hash(s)` for SQL use on an existing session. */
  def registerPolyHash(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("poly_hash"),
      new ExpressionInfo("graft.functions.PolyHashExpr", "poly_hash"),
      (exprs: Seq[Expression]) => graft.functions.PolyHashExpr(exprs(0)))

  /** Register `simhash64(tokens)` for SQL use on an existing session. */
  def registerSimHash64(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("simhash64"),
      new ExpressionInfo("graft.functions.SimHash64Expr", "simhash64"),
      (exprs: Seq[Expression]) => graft.functions.SimHash64Expr(exprs(0)))

  /** Test hook: the injected-function names an extensions object would
    * contribute to a new session (registerFunctions is private[sql]). */
  def injectedFunctionNames(ext: org.apache.spark.sql.SparkSessionExtensions): Seq[String] = {
    val reg = org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin.clone()
    ext.registerFunctions(reg)
    reg.listFunction().map(_.funcName)
  }
}
