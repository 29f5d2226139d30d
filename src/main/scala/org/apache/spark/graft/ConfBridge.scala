package org.apache.spark.graft

import org.apache.hadoop.conf.Configuration
import org.apache.spark.TaskContext
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.util.SerializableConfiguration

/** Access bridge for `private[spark]` [[SerializableConfiguration]] —
  * executor-side Hadoop FS access must carry the SESSION's
  * configuration (credentials, endpoints, committers), not a blank
  * `new Configuration()` that silently loses S3A/HDFS settings on a
  * real cluster — and for the task input metrics Spark's file sources
  * keep. Same shim pattern as [[org.apache.spark.sql.graft.Bridge]]. */
object ConfBridge {
  def serializable(conf: Configuration): SerializableConfiguration =
    new SerializableConfiguration(conf)

  /** Counts a task's input as Spark's file scan does: each call of the
    * result adds one record read, and sets the bytes read to what this
    * thread has read through Hadoop file systems since this call. */
  def inputCounter(ctx: TaskContext): () => Unit = {
    val metrics = ctx.taskMetrics().inputMetrics
    val base = metrics.bytesRead
    val bytesRead = SparkHadoopUtil.get.getFSBytesReadOnThreadCallback()
    () => {
      metrics.incRecordsRead(1L)
      metrics.setBytesRead(base + bytesRead())
    }
  }
}
