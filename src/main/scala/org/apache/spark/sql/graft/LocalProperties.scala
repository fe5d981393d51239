package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.util.Utils

import java.util.Properties

/**
 * Bridge to a SparkContext's thread-local properties (job group,
 * description, scheduler pool, call site), whose whole-set getter and
 * setter are `private[spark]`. A task handed to another thread captures
 * them at submit time and runs under them, the way Spark's
 * `SQLExecution.withThreadLocalCaptured` does.
 */
object LocalProperties {

  /** A copy of the calling thread's properties, without the SQL execution
   *  ids: actions run under the copy start executions of their own. */
  def capture(sc: SparkContext): Properties = {
    val props = Utils.cloneProperties(sc.getLocalProperties)
    props.remove(SQLExecution.EXECUTION_ID_KEY)
    props.remove(SQLExecution.EXECUTION_ROOT_ID_KEY)
    props
  }

  /** Runs `body` on this thread under `props`, then restores the
   *  thread's own. */
  def within[T](sc: SparkContext, props: Properties)(body: => T): T = {
    val own = sc.getLocalProperties
    sc.setLocalProperties(props)
    try body finally sc.setLocalProperties(own)
  }
}
