package org.apache.spark.sql.graftshim

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/**
 * Imperative function registration onto an EXISTING session — the
 * driver hands us plain sessions built without
 * `spark.sql.extensions`, so registration is how SQL users reach
 * graft's native functions. `FunctionRegistry` access is
 * `private[sql]`, hence this shim. The `ExpressionInfo` carries the
 * usage line, which `DESCRIBE FUNCTION <name>` prints.
 */
object GraftRegistration {
  def register(spark: SparkSession, name: String, usage: String,
      builder: Seq[Expression] => Expression): Unit = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.sessionState.functionRegistry.registerFunction(FunctionIdentifier(name),
      new ExpressionInfo("graft.functions", null, name, usage, "", "", "", "", "", "",
        "scala_udf"),
      builder)
  }
}
