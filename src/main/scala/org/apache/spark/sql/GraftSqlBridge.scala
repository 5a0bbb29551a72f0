package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one package-private hop a SparkSessionExtensions-based operator
  * library needs that the public API does not expose: turning a logical
  * plan into a DataFrame of a given session — a custom LogicalPlan node
  * (the as-of join), or a streaming micro-batch's plan bound to the
  * session that started the query instead of Spark's per-start clone
  * (`StreamOps.startStore`). `Dataset.ofRows` is `private[sql]` by design
  * (the supported entry points are SQL text and the DataFrame DSL,
  * neither of which can do either), so the injection pattern used by
  * every plan-extending library applies: one bridge object in the sql
  * package, kept to the single call.
  */
object GraftSqlBridge {
  def ofRows(spark: classic.SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark, plan)
}
