package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** The SQL functions a registration route adds, by name, for a spec that
  * compares two routes. `SparkSessionExtensions.registerFunctions` is
  * package-private, hence this file's package. */
object TestSqlFunctions {

  /** What `ext` injects, read from a fresh registry. */
  def injected(ext: SparkSessionExtensions => Unit): Map[String, ExpressionInfo] = {
    val e = new SparkSessionExtensions
    ext(e)
    val reg = e.registerFunctions(new SimpleFunctionRegistry)
    reg.listFunction().map(id => id.funcName -> reg.lookupFunction(id).get).toMap
  }

  /** What `register` adds to a new session of `spark`. */
  def registered(spark: SparkSession)(register: SparkSession => Unit)
      : Map[String, ExpressionInfo] = {
    val s = spark.newSession()
    val reg = s.sessionState.functionRegistry
    val before = reg.listFunction().toSet
    register(s)
    reg.listFunction().filterNot(before).map(id => id.funcName -> reg.lookupFunction(id).get).toMap
  }
}
