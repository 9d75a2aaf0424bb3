package org.apache.spark.sql

import org.apache.spark.sql.execution.ui.SQLAppStatusStore

/** The two engine internals the benchmark's probes read, reached from
  * inside the `sql` package because they are `private[spark]` or only on
  * the classic session. */
object BenchBridge {

  /** Block until every listener queue has delivered its pending events,
    * so counters read afterwards include all work done so far. */
  def drainBus(s: SparkSession): Unit =
    s.sparkContext.listenerBus.waitUntilEmpty()

  /** The SQL status store: per-execution plan metrics. */
  def statusStore(s: SparkSession): SQLAppStatusStore =
    s.asInstanceOf[classic.SparkSession].sharedState.statusStore
}
