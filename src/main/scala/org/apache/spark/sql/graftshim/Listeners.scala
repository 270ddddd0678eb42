package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Bridge to the listener-bus internals `graft.Ledger` reads. Lives under
  * org.apache.spark.sql to satisfy `private[spark]` / `private[sql]`
  * access. */
object Listeners {
  /** Blocks until every event posted so far has reached every listener
    * (`SparkContext.listenerBus` is `private[spark]`). */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The query a SQL execution ran (`qe` is `private[sql]`; it is set on
    * the event before it is posted). */
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
