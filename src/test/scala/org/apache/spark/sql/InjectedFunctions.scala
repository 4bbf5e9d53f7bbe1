package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry

/** Test access to the `private[sql]` half of [[SparkSessionExtensions]]:
  * the names of the functions its injections would register. */
object InjectedFunctions {
  def names(extensions: SparkSessionExtensions): Set[String] =
    extensions.registerFunctions(new SimpleFunctionRegistry).listFunction().map(_.funcName).toSet
}
