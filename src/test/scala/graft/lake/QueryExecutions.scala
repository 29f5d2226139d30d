package graft.lake

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** What a piece of work ran: the query executions a session reported
  * while it ran, which of them read files under a directory, and the
  * Spark jobs it started. */
object QueryExecutions {

  /** A Spark job: its stage count (more than one means a shuffle) and
    * the bytes its tasks read from input files. */
  final case class Job(stages: Int, inputBytes: Long)

  /** Runs `body`, returning its value and every Spark job it started,
    * in start order. Unlike [[during]] this also sees jobs that are not
    * SQL executions, such as the distribution publish's write. */
  def jobsOf[T](spark: SparkSession)(body: => T): (T, Seq[Job]) = {
    val stagesOf = new java.util.concurrent.ConcurrentHashMap[Int, Int]() // stage -> job
    val jobs = new java.util.concurrent.ConcurrentSkipListMap[Int, Int]() // job -> stages
    val bytes = new java.util.concurrent.ConcurrentHashMap[Int, Long]() // job -> input bytes
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.put(e.jobId, e.stageIds.size)
        e.stageIds.foreach(stagesOf.put(_, e.jobId))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => Option(stagesOf.get(e.stageId)).foreach(job =>
          bytes.merge(job, m.inputMetrics.bytesRead, (a, b) => a + b)))
    }
    ListenerBusAccess.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      ListenerBusAccess.drain(spark.sparkContext)
      (out, jobs.asScala.toSeq.map { case (job, stages) => Job(stages, bytes.getOrDefault(job, 0L)) })
    } finally spark.sparkContext.removeSparkListener(listener)
  }

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
