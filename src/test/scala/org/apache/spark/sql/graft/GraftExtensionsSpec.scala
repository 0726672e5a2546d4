package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import graft.functions.{GraftExtensions, GraftFunctions}

/** The two SQL registration paths install the same functions. Lives in
  * Spark's package tree because `SparkSessionExtensions.registerFunctions`
  * is `private[sql]`.
  */
class GraftExtensionsSpec extends graft.SparkSpec {

  test("every function GraftFunctions.register installs resolves under GraftExtensions") {
    // a fresh session's registry holds only the built-ins
    val fresh = spark.newSession()
    val before = fresh.sessionState.functionRegistry.listFunction().toSet
    GraftFunctions.register(fresh)
    val installed = fresh.sessionState.functionRegistry.listFunction().toSet -- before
    assert(installed.map(_.funcName) ===
      Set("pcm_snr", "pcm_stats", "pcm_hum"))

    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val injected = ext.registerFunctions(FunctionRegistry.builtin.clone())
    val missing = installed.filterNot(injected.functionExists)
    assert(missing.isEmpty, s"not injected by GraftExtensions: $missing")
  }
}
