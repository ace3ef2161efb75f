package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `private[sql]` Column↔Expression converters of the
  * classic (non-Connect) API — the standard extension idiom for
  * libraries that ship custom Catalyst expressions against Spark 4.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  /** The schema file sources report for data written with `s`. */
  def asNullable(s: types.StructType): types.StructType = s.asNullable
}

/** Serializable Hadoop `Configuration` carrier for task closures —
  * wraps the `private[spark]` SerializableConfiguration so executor-side
  * filesystem access (cuckoo blob IO) sees the session's `spark.hadoop.*`
  * settings (s3a credentials, endpoints) instead of a bare default conf.
  */
final class SerializableHadoopConf(@transient conf: org.apache.hadoop.conf.Configuration)
    extends Serializable {
  private val inner = new org.apache.spark.util.SerializableConfiguration(conf)
  def value: org.apache.hadoop.conf.Configuration = inner.value
}
