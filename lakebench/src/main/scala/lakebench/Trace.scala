package lakebench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.lakebench.SparkAccess

/** Hadoop file-system calls the program makes, counted at the
  * `file://` scheme. Installed only in traced runs (through
  * `spark.hadoop.fs.file.impl`); untraced runs use the stock
  * `LocalFileSystem`. Bronze bytes are the lengths of the bronze
  * objects opened, which is what a whole-object read fetches. */
class CountingFs extends LocalFileSystem {
  import CountingFs._
  override def listStatus(f: Path): Array[FileStatus] = { count(lists); super.listStatus(f) }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    count(opens)
    if (on && f.toString.contains("/bronze/")) bronzeBytes.addAndGet(getRawFileSystem.getFileStatus(f).getLen)
    super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    count(creates)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { count(renames); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { count(deletes); super.delete(f, recursive) }
}

object CountingFs {
  /** Counting is on only while a traced operation runs. */
  @volatile var on = false
  private def count(c: AtomicLong): Unit = if (on) c.incrementAndGet()
  val lists, opens, creates, renames, deletes, bronzeBytes = new AtomicLong
  def snapshot: Map[String, Long] = Map("list_calls" -> lists.get, "opens" -> opens.get,
    "files_written" -> creates.get, "renames" -> renames.get, "deletes" -> deletes.get,
    "bronze_bytes" -> bronzeBytes.get)
}

/** Executor-side work of the tasks run on behalf of one span. */
final class TaskSums {
  var cpuNs, runMs, gcMs, inputBytes, shuffleWriteBytes, spillBytes, tasks = 0L
  var planS = 0.0
  def add(o: TaskSums): Unit = {
    cpuNs += o.cpuNs; runMs += o.runMs; gcMs += o.gcMs; inputBytes += o.inputBytes
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes; tasks += o.tasks
    planS += o.planS
  }
}

/** Sums task metrics and planning-phase times per span. A job belongs
  * to the span whose id its submitting thread carried in the
  * [[Tracer.SpanProp]] local property; the property is inherited by the
  * threads a span starts (a streaming query's execution thread), so a
  * micro-batch's jobs land on the span that started the stream. */
final class SpanListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val execSpan = new ConcurrentHashMap[Long, Long]()
  private val sums = new ConcurrentHashMap[Long, TaskSums]()

  private def sumsOf(span: Long) = sums.computeIfAbsent(span, _ => new TaskSums)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanProp))).map(_.toLong).getOrElse(0L)
    e.stageIds.foreach(stageSpan.put(_, span))
    props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => execSpan.putIfAbsent(id.toLong, span))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
    val s = sumsOf(stageSpan.getOrDefault(e.stageId, 0L))
    s.synchronized {
      s.cpuNs += m.executorCpuTime; s.runMs += m.executorRunTime; s.gcMs += m.jvmGCTime
      s.inputBytes += m.inputMetrics.bytesRead
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.tasks += 1
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      s.jobGroupId.filter(_.startsWith(Tracer.GroupPrefix))
        .foreach(g => execSpan.putIfAbsent(s.executionId, g.stripPrefix(Tracer.GroupPrefix).toLong))
    case end: SparkListenerSQLExecutionEnd =>
      val s = sumsOf(execSpan.getOrDefault(end.executionId, 0L))
      val plan = SparkAccess.planSeconds(end)
      s.synchronized { s.planS += plan }
    case _ =>
  }

  def bySpan: Map[Long, TaskSums] = sums.asScala.toMap
}

/** One timed region around a call into a layer of the program. */
final case class Span(id: Long, parent: Long, name: String, request: Long,
    startNs: Long, endNs: Long, fs: Map[String, Long])

/** Spans around the benchmark's calls into the program. A traced run
  * installs the listener for the whole run and switches tracing on
  * only around its traced operations ([[during]]); while tracing is
  * off, `span` only runs its body. A live span tags the Spark jobs it
  * submits, snapshots the file-system counters, and is kept in memory
  * until the run writes its report. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Long, String)] = Nil
  private var nextId = 1L
  private var active = false
  var request = 0L
  private val listener = if (enabled) Some(new SpanListener) else None
  listener.foreach(sc.addSparkListener)

  /** Run `body` with tracing on (`traced` and the run is traced) or off. */
  def during[T](traced: Boolean)(body: => T): T = {
    active = traced && enabled
    CountingFs.on = active
    try body finally { active = false; CountingFs.on = false }
  }

  def span[T](name: String)(body: => T): T = if (!active) body else {
    val id = nextId; nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(0L)
    stack = (id, name) :: stack
    tag(id, name)
    val fs0 = CountingFs.snapshot
    val t0 = System.nanoTime()
    try body finally {
      val t1 = System.nanoTime()
      val fs1 = CountingFs.snapshot
      done += Span(id, parent, name, request, t0, t1, fs1.map { case (k, v) => k -> (v - fs0(k)) })
      stack = stack.tail
      stack.headOption match {
        case Some((pid, pname)) => tag(pid, pname)
        case None =>
          sc.setLocalProperty(Tracer.SpanProp, null)
          sc.clearJobGroup()
      }
    }
  }

  private def tag(id: Long, name: String): Unit = {
    sc.setJobGroup(s"${Tracer.GroupPrefix}$id", name)
    sc.setLocalProperty(Tracer.SpanProp, id.toString)
  }

  def spans: Seq[Span] = done.toSeq

  /** Detach the listener once every event it is owed has arrived. */
  def finish(): Map[Long, TaskSums] = listener match {
    case None => Map.empty
    case Some(l) =>
      SparkAccess.drainListenerBus(sc)
      sc.removeSparkListener(l)
      l.bySpan
  }
}

object Tracer {
  val SpanProp = "lakebench.span"
  val GroupPrefix = "lakebench-"

  /** Per layer: total span time, self time (span time minus the part
    * its child spans cover) and call count. Children are nested in
    * their parent's interval on one thread, so the covered part is the
    * sum of the children's durations. */
  def layerTimes(spans: Seq[Span]): Map[String, (Double, Double, Long)] = {
    val childNs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(c => c.endNs - c.startNs).sum }
    spans.groupBy(_.name).map { case (name, ss) =>
      val total = ss.map(s => s.endNs - s.startNs).sum
      val self = ss.map(s => s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)).sum
      name -> (total / 1e9, self / 1e9, ss.size.toLong)
    }
  }

  /** Sum a file-system counter over the spans of one layer. */
  def layerCount(spans: Seq[Span], layer: String, key: String): Long =
    spans.filter(_.name == layer).map(_.fs.getOrElse(key, 0L)).sum

  /** Task sums of every span of a layer (jobs are tagged with the
    * innermost span, so there is no double counting). */
  def layerTasks(spans: Seq[Span], sums: Map[Long, TaskSums], layer: String): TaskSums = {
    val t = new TaskSums
    spans.filter(_.name == layer).foreach(s => sums.get(s.id).foreach(t.add))
    t
  }
}
