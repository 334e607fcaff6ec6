package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The internal-access shim this library needs: turning a hand-built
  * [[LogicalPlan]] into a DataFrame (the custom as-of join node,
  * graft.plans.AsOfJoinPlan, and the SQL text whose fixture names
  * [[graft.Catalog.sql]] bound), and the shutdown cleanup of
  * [[graft.Memo]]'s scratch.
  * `Dataset.ofRows` is `private[sql]` and `ShutdownHookManager` is
  * `private[spark]`, so
  * the accessors must live in this package — the standard pattern for
  * Spark extensions that add whole-operator plan nodes. Nothing else
  * reaches into internals; the node itself is planned by an injected
  * SparkStrategy.
  */
object GraftShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Delete `dir` recursively at JVM shutdown, with Spark's own temp dirs. */
  def deleteAtShutdown(dir: java.io.File): Unit =
    org.apache.spark.util.ShutdownHookManager.registerShutdownDeleteDir(dir)
}
