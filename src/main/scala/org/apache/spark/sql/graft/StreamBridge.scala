package org.apache.spark.sql.graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.StreamingQuery

/** Bridge to a streaming query's last micro-batch plan: the
  * `StreamExecution` behind the public handle is private[sql] in 4.1.
  * Lives in a spark-owned package solely for access. */
object StreamBridge {
  def lastExecutedPlan(q: StreamingQuery): Option[SparkPlan] = q match {
    case w: StreamingQueryWrapper => Option(w.streamingQuery.lastExecution).map(_.executedPlan)
    case _ => None
  }
}
