package org.apache.spark.perfbench

import org.apache.spark.sql.SparkSession

/** The one `private[spark]` call the benchmark needs: block until the
  * listener bus has delivered every queued event, so counters read after an
  * operation include all of that operation's task and job events.
  */
object Bridge {
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
