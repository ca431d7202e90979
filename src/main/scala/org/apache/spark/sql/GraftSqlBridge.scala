package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one `private[sql]` doorway the engine uses: constructing a
  * DataFrame from a custom logical plan ([[graft.plans.AsofJoinPlan]]).
  * Spark's extension points cover expressions, optimizer rules, and
  * planner STRATEGIES, but deliberately not plan construction — every
  * engine that ships its own operators (Iceberg, Delta) hosts exactly
  * this shim in `org.apache.spark.sql` for the same reason. Nothing is
  * overridden or monkey-patched; this is one forwarding call. The only
  * other package-private doorway is
  * [[org.apache.spark.sql.catalyst.json.GraftJsonBridge]], which forwards
  * the `private[json]` `JsonInferSchema.canonicalizeType` for
  * [[graft.sources.ZipIngest]]'s driver-side schema inference.
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Second doorway, same shape: Spark wraps a row-level DML target's
    * table in the `private[sql]` [[connector.write.RowLevelOperationTable]]
    * before the analyzer rewrites run, so an injected resolution rule
    * that must recognize ITS OWN operation inside the rewritten plan
    * ([[graft.plans.MorApplyRewrite]] swapping the merge-on-read
    * delta's READ for the applied view) needs one forwarding accessor.
    * Returns the wrapped [[connector.write.RowLevelOperation]] when
    * `t` is such a wrapper, None otherwise.
    */
  def rowLevelOperationOf(
      t: org.apache.spark.sql.connector.catalog.Table)
      : Option[org.apache.spark.sql.connector.write.RowLevelOperation] = t match {
    case rt: org.apache.spark.sql.connector.write.RowLevelOperationTable =>
      Some(rt.operation)
    case _ => None
  }
}
