package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into `private[sql]` Column<->Expression conversion (the same
  * mechanism org.apache.spark.sql.functions uses internally) so graft's
  * native expressions can be exposed as Columns, plus the
  * `private[spark]` listener-bus drain the bench/probe job census
  * needs (the async bus can deliver onJobStart AFTER the timed body
  * returns; reading the counter without a drain undercounts — r17
  * advice). Lives under org.apache.spark.sql by necessity; keep it to
  * these four calls.
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def drainListenerBus(sc: org.apache.spark.SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
  /** `sessionUUID` is `private[sql]` on the classic session — exposed
    * here so Tables.frameMemo can key on the UUID STRING (a key that,
    * unlike the session object, the cached frames can never pin).
    */
  def sessionUUID(spark: org.apache.spark.sql.SparkSession): Option[String] =
    spark match {
      case c: org.apache.spark.sql.classic.SparkSession => Some(c.sessionUUID)
      case _ => None
    }
}
