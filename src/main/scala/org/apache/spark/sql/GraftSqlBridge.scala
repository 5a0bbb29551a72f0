package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The package-private hops an operator library needs that the public API
  * does not expose, one call each.
  *
  * `ofRows` turns a logical plan into a DataFrame of a given session — a
  * custom LogicalPlan node (the as-of join), or a streaming micro-batch's
  * plan bound to the session that started the query instead of Spark's
  * per-start clone (`StreamOps.startStore`). `Dataset.ofRows` is
  * `private[sql]` by design (the supported entry points are SQL text and
  * the DataFrame DSL, neither of which can do either), so the injection
  * pattern used by every plan-extending library applies.
  *
  * `drainListeners` waits until every listener event posted so far is
  * delivered (`listenerBus` is `private[spark]`), so `graft.Profile`
  * reads counters that cover exactly the calls made before it.
  */
object GraftSqlBridge {
  def ofRows(spark: classic.SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark, plan)

  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
