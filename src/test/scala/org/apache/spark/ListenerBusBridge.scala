package org.apache.spark

/** Test access to the `private[spark]` listener bus (the same
  * one-object-in-Spark's-package idiom as `GraftSqlBridge`). */
object ListenerBusBridge {

  /** Returns once every event posted so far has reached its listeners,
    * `QueryExecutionListener`s included. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
