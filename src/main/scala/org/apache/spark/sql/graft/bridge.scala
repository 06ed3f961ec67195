package org.apache.spark.sql.graft

import java.util.concurrent.{CompletableFuture, ExecutorService}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.internal.SQLConf

/** Bridge into `private[sql]` Column<->Expression conversion (the same
  * mechanism org.apache.spark.sql.functions uses internally) so graft's
  * native expressions can be exposed as Columns, plus the
  * `private[spark]` listener-bus drain the bench/probe job census
  * needs (the async bus can deliver onJobStart AFTER the timed body
  * returns; reading the counter without a drain undercounts — r17
  * advice), and the cache/conf/thread-capture calls the sink fan-out
  * (`graft.streaming.RcSinks`) sizes and runs its writes with. Lives
  * under org.apache.spark.sql by necessity; keep it to these calls.
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

  /** Fills the cache entry of the persisted `df` unless every partition
    * is already cached, then returns the entry's in-memory size in bytes
    * (the `InMemoryRelation` statistics, exact once the buffers are
    * built).
    */
  def materializedCacheBytes(df: DataFrame): Long = {
    val d = df.asInstanceOf[classic.Dataset[_]]
    val rel = d.sparkSession.sharedState.cacheManager.lookupCachedData(d)
      .getOrElse(throw new IllegalArgumentException("frame is not persisted"))
      .cachedRepresentation
    if (!rel.cacheBuilder.isCachedColumnBuffersLoaded) df.count()
    rel.computeStats().sizeInBytes.toLong
  }

  /** AQE's target partition size,
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes` (with its
    * fallback conf), as the session resolves it.
    */
  def advisoryPartitionBytes(spark: SparkSession): Long =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf
      .getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)

  /** Runs `body` on `exec` under the caller's Spark local properties
    * (job group, job tags, scheduler pool, SQL execution root) and
    * active session — the capture `BroadcastExchangeExec` uses for its
    * own build threads.
    */
  def captured[T](spark: SparkSession, exec: ExecutorService)(body: => T): CompletableFuture[T] =
    SQLExecution.withThreadLocalCaptured(spark.asInstanceOf[classic.SparkSession], exec)(body)
}
