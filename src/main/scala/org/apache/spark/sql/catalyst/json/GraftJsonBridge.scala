package org.apache.spark.sql.catalyst.json

import org.apache.spark.sql.types.DataType

/** Forwarder to `JsonInferSchema.canonicalizeType`, which is
  * `private[json]`. [[graft.sources.ZipIngest]] infers a zip member's
  * schema on the driver from lines it already holds, with Spark's own
  * `inferField`/`compatibleRootType`; this last step (drop NullType
  * fields and empty structs, NullType → StringType) is what makes the
  * result equal `spark.read.json`'s. Same shape as
  * [[org.apache.spark.sql.GraftSqlBridge]]: one forwarding call,
  * nothing overridden.
  */
object GraftJsonBridge {
  def canonicalizeType(inferrer: JsonInferSchema, tpe: DataType, options: JSONOptions): Option[DataType] =
    inferrer.canonicalizeType(tpe, options)
}
