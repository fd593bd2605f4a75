package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression

/** Column ↔ Expression bridge.
  *
  * Spark 4 moved the conversion helpers behind `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`); a library adding
  * native Catalyst expressions still needs them to expose a typed
  * Column API. This object lives inside the `org.apache.spark.sql`
  * package solely to re-export such package-private calls (below:
  * the conversion pair, `ofRows`, `cloneSession`, the listener-bus
  * drain) — no other internals are touched. */
object Bridge {
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)
  /** Wrap a (resolved) logical plan as a DataFrame — the entry point a
    * library-defined operator needs to hand its custom LogicalPlan to
    * the session (`Dataset.ofRows` is `private[sql]` in Spark 4). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Fork a session sharing the SparkContext/sharedState but with its
    * OWN SQLConf (a copy of the parent's at fork time) — `cloneSession`
    * is `private[sql]` in Spark 4. This is how a library scopes
    * planner settings to ONE query without mutating the caller's
    * session: plan against the clone, and concurrent queries with
    * different settings can't race. */
  def forkSession(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** Block until every posted listener event has been delivered — the
    * listener bus is `private[spark]`; a probe reading its own
    * listener's counters needs them complete, not a fixed sleep. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
