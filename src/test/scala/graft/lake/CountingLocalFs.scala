package graft.lake

import java.net.URI

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** A local filesystem masquerading as an object-store scheme
  * (`countfs:`) that COUNTS metadata requests against `_log`
  * directories — the measurement harness for the `_last_checkpoint`
  * pointer: a pointer-guided cold read must do ZERO `_log` LISTs and
  * O(tail) point lookups, where the listing path pays a full-dir LIST
  * whose entry count grows with retained history. Registered via
  * `fs.countfs.impl` in the Hadoop conf; being non-`file`-schemed it
  * exercises exactly the [[Catalog]] probe path an s3a deployment
  * would. It also records the path of every top-level list, status
  * and open request, so a spec can check which data directories and
  * files a read touched, and of every file or directory created, so a
  * spec can check what a write left behind. */
class CountingLocalFs extends RawLocalFileSystem {
  override def getScheme: String = "countfs"
  override def getUri: URI = URI.create("countfs:///")

  // RawLocal's listStatus/open call getFileStatus INTERNALLY — count
  // only top-level requests (the S3-request shape: a LIST page serves
  // its entries' metadata; a GET needs no separate HEAD)
  private val nested = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = false
  }
  private def topLevel[T](body: => T): T = {
    val was = nested.get(); nested.set(true)
    try body finally nested.set(was)
  }

  override def listStatus(p: Path): Array[FileStatus] = {
    val r = topLevel(super.listStatus(p))
    if (!nested.get()) CountingLocalFs.listed.add(p.toUri.getPath)
    if (p.toString.endsWith("/_log") && !nested.get()) {
      CountingLocalFs.logLists.incrementAndGet()
      CountingLocalFs.logListedEntries.addAndGet(r.length)
    }
    r
  }

  override def getFileStatus(p: Path): FileStatus = {
    if (!nested.get()) CountingLocalFs.statted.add(p.toUri.getPath)
    if (p.toString.contains("/_log/") && !nested.get())
      CountingLocalFs.logStats.incrementAndGet()
    topLevel(super.getFileStatus(p))
  }

  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    if (!nested.get()) CountingLocalFs.opened.add(p.toUri.getPath)
    if (p.toString.contains("/_log/") && !nested.get())
      CountingLocalFs.logOpens.incrementAndGet()
    topLevel(super.open(p, bufferSize))
  }

  private def made(p: Path): Unit = if (!nested.get()) CountingLocalFs.created.add(p.toUri.getPath)

  override def create(p: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    made(p)
    topLevel(super.create(p, overwrite, bufferSize, replication, blockSize, progress))
  }

  override def create(p: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    made(p)
    topLevel(super.create(p, permission, overwrite, bufferSize, replication, blockSize, progress))
  }

  override def mkdirs(p: Path): Boolean = { made(p); topLevel(super.mkdirs(p)) }

  override def mkdirs(p: Path, permission: FsPermission): Boolean = {
    made(p)
    topLevel(super.mkdirs(p, permission))
  }
}

object CountingLocalFs {
  val logLists = new java.util.concurrent.atomic.AtomicInteger(0)
  val logListedEntries = new java.util.concurrent.atomic.AtomicLong(0L)
  val logStats = new java.util.concurrent.atomic.AtomicInteger(0)
  val logOpens = new java.util.concurrent.atomic.AtomicInteger(0)
  val listed, statted, opened, created = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def reset(): Unit = {
    logLists.set(0); logListedEntries.set(0); logStats.set(0); logOpens.set(0)
    listed.clear(); statted.clear(); opened.clear(); created.clear()
  }
}
