package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column ↔ Expression bridge. Spark 4 made `Column.expr` and
  * `ExpressionUtils` private[sql]; custom Catalyst expressions still need the
  * conversion to expose a Column API, so this accessor lives in the sql
  * package (bytecode-public API, standard extension-library technique).
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Non-blocking observed-metric read (`Observation.getOrEmpty` is
    * private[sql] in Spark 4): empty map when the observed plan's action has
    * not completed — lets snapshot counters degrade to a re-read instead of
    * blocking forever if CollectMetrics ever fails to fire on a write.
    */
  def observedOrEmpty(obs: Observation): Map[String, Any] = obs.getOrEmpty

  /** Observed metrics of an action that has already run, waiting at most
    * ~2 s for them: the metrics row is posted on the async listener bus
    * after the action completes, and under load the bus can re-queue
    * behind a slow listener, so one drain is not always enough. Empty map
    * when the row was not delivered in time; the caller decides the
    * fallback.
    */
  def awaitObserved(spark: SparkSession, obs: Observation): Map[String, Any] = {
    var m = obs.getOrEmpty
    val deadline = System.nanoTime() + 2000000000L
    while (m.isEmpty && System.nanoTime() < deadline) {
      drainListenerBus(spark)
      m = obs.getOrEmpty
      if (m.isEmpty) Thread.sleep(20)
    }
    m
  }

  /** Block until the async SparkListenerBus has delivered every queued
    * event (`listenerBus` is private[spark]). Used by [[awaitObserved]]
    * and by `tools.ShuffleMeter`, so listener-fed values are read after
    * the bus drained instead of after a guessed sleep.
    */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(30000L)
}
