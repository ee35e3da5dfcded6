package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the `private[sql]` Column ↔ Expression converters —
  * the supported way for extension libraries to expose custom Catalyst
  * expressions as user-facing `Column`s on Spark 4.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Ship the driver's hadoop conf (object-store credentials etc.) to
    * executor tasks that touch the FileSystem API directly: wraps the
    * `private[spark]` SerializableConfiguration in a serializable
    * factory returning the public Configuration type.
    */
  def confFactory(conf: org.apache.hadoop.conf.Configuration)
      : () => org.apache.hadoop.conf.Configuration = {
    val sc = new org.apache.spark.util.SerializableConfiguration(conf)
    () => sc.value
  }

  /** Wait until the listener bus has delivered every posted event, so
    * listener counters are complete before they are read.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
