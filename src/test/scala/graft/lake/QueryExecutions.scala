package graft.lake

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** What a piece of work ran: the query executions a session reported
  * while it ran, which of them read files under a directory, and how
  * many Spark jobs it started. */
object QueryExecutions {

  /** Runs `body`, returning its value and every query execution it
    * reported, failed ones included. */
  def during[T](spark: SparkSession)(body: => T): (T, Seq[QueryExecution]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = seen.add(qe)
    }
    ListenerBusAccess.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val out = body
      ListenerBusAccess.drain(spark.sparkContext)
      (out, seen.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  /** Runs `body`, returning its value and the number of Spark jobs the
    * context started meanwhile. */
  def jobsDuring[T](spark: SparkSession)(body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusAccess.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(counter)
    try {
      val out = body
      ListenerBusAccess.drain(spark.sparkContext)
      (out, jobs.get())
    } finally spark.sparkContext.removeSparkListener(counter)
  }

  /** Whether the execution's plan reads a file under `dir`. */
  def readsUnder(dir: String)(qe: QueryExecution): Boolean = {
    val root = new org.apache.hadoop.fs.Path(dir).toUri.getPath
    qe.analyzed.collectWithSubqueries { case l: LogicalRelation => l.relation }
      .exists {
        case r: HadoopFsRelation => r.location.rootPaths.exists(_.toUri.getPath.startsWith(root))
        case _ => false
      }
  }
}
