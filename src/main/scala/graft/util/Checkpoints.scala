package graft.util

import org.apache.spark.sql.DataFrame

object Checkpoints {

  /** Drop a local checkpoint's blocks now. A checkpointed frame's plan
    * is the `LogicalRDD` over the checkpointed RDD, whose blocks
    * otherwise stay in executor storage until a driver GC lets the
    * context cleaner find them; any other frame is left alone. */
  def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ =>
  }
}
