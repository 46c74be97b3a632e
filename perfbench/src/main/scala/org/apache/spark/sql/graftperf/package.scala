package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The two Spark internals the traced run needs, both `private[sql]` /
  * `private[spark]`: analysing an already-parsed plan (so parsing and
  * analysis can be timed apart), and draining the listener bus (so the
  * job/stage/task events of an operation are all delivered before the
  * operation's spans are closed). */
package object graftperf {
  def analyze(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
