package org.apache.spark.sql

/** Compile-time bridge to two `private[sql]` classic-session APIs the
  * engine needs for leak-free scoped-conf execution (the standard
  * Spark-extension idiom — a one-object file in the `sql` package, the
  * same access pattern libraries like Delta use for planner-adjacent
  * hooks):
  *
  *   - `cloneSession()` — a sibling session sharing the SparkContext,
  *     cached data, and a COPY of all session state (runtime conf, temp
  *     views, registered functions). The public `newSession()` is NOT a
  *     substitute: it resets runtime conf to the builder's initial
  *     options, so an embedding application's runtime-set knobs (e.g.
  *     `spark.graft.checkpoint.dir`) would silently vanish inside the
  *     scope. The clone shares its parent's classloader (session-artifact
  *     isolation is off in [[graft.GraftSession.local]]), so it reuses the
  *     classes already compiled for the same plans instead of compiling
  *     them again.
  *   - `Dataset.ofRows` — re-binds a logical plan onto the clone so the
  *     scoped frame plans/executes under the clone's conf, with no
  *     temp-view round-trip through the parent's (shared, mutable)
  *     catalog.
  *
  * Used only by [[graft.queries.QueryConf.materializeWithConf]]; keep it
  * that narrow.
  */
object GraftSqlBridge {

  def cloneSession(s: SparkSession): SparkSession =
    s.asInstanceOf[classic.SparkSession].cloneSession()

  /** `df`'s logical plan re-bound (re-analyzed) on `target`. */
  def rebind(target: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(target.asInstanceOf[classic.SparkSession],
      df.queryExecution.logical)
}
