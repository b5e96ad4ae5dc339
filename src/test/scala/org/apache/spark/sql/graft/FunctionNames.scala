package org.apache.spark.sql.graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry

/** Spec access to the `private[sql]` function-registry surfaces: which
  * function names each graft entry point actually installs.
  */
object FunctionNames {

  /** Names `ext` injects into a session built with it. */
  def injected(ext: SparkSessionExtensions => Unit): Set[String] = {
    val e = new SparkSessionExtensions()
    ext(e)
    e.registerFunctions(new SimpleFunctionRegistry).listFunction().map(_.funcName).toSet
  }

  /** `graft_*` names [[GraftFunctions.register]] installs on a fresh session. */
  def registered(spark: SparkSession): Set[String] = {
    val s = spark.newSession()
    GraftFunctions.register(s)
    s.sessionState.functionRegistry.listFunction().map(_.funcName)
      .filter(_.startsWith("graft_")).toSet
  }
}
