package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession

/** Session internals the specs reach. Lives under the sql package because
  * the CacheManager and the function registry are `private[sql]`.
  */
object TestBridge {

  /** True when the session's SQL cache manager holds ZERO cached plans —
    * the lifecycle contract of the iterative ops and the state sinks: after
    * a call returns, every persist() it issued must be gone.
    */
  def sqlCacheIsEmpty(spark: SparkSession): Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  /** Register a function builder into an existing session's registry (the
    * post-construction twin of `SparkSessionExtensions.injectFunction`).
    */
  def registerFunction(spark: SparkSession,
                       description: graft.functions.GraftFunctions.FunctionDescription): Unit = {
    val (ident, info, builder) = description
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(ident, info, builder)
  }
}
