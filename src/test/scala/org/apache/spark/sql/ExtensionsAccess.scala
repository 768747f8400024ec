package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.FunctionRegistry

/** The one `private[sql]` hook the extension test needs: apply an
  * extension's injected functions to a copy of the built-in registry,
  * so they are checked without building a second session.
  */
object ExtensionsAccess {
  def functions(e: SparkSessionExtensions): FunctionRegistry =
    e.registerFunctions(FunctionRegistry.builtin.clone())
}
