package perfbench

import java.util.concurrent.atomic.AtomicLongArray
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.TaskContext

/** The `file` scheme's filesystem with call counters. Installed as
  * `fs.file.impl`, so the scheme stays `file` and the lake still picks
  * its local commit arbiter. The counts cover every call through
  * Hadoop: the lake's metadata reads, listings and deletes on the
  * driver and Spark's readers and committers in tasks. Calls made
  * outside a task are counted a second time as driver ops. The commit
  * arbiter's manifest publishing and the watermark store write through
  * java.nio instead and never reach this class; [[NioWrites]] counts
  * them from outside.
  */
class CountingFs extends LocalFileSystem {
  import CountingFs._

  override def listStatus(f: Path): Array[FileStatus] = { hit(List); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { hit(Status); super.getFileStatus(f) }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    hit(Open)
    val rec = opened
    if (rec != null && TaskContext.get() != null) rec.add(f.toUri.getPath)
    super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    hit(Create)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag], bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    hit(Create)
    super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { hit(Rename); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { hit(Delete); super.delete(f, recursive) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { hit(Mkdirs); super.mkdirs(f, permission) }
}

object CountingFs {
  val Names: Seq[String] = Seq("list", "status", "open", "create", "rename", "delete", "mkdirs")
  private val List = 0; private val Status = 1; private val Open = 2; private val Create = 3
  private val Rename = 4; private val Delete = 5; private val Mkdirs = 6
  private val DriverOps = Names.size

  private val counts = new AtomicLongArray(Names.size + 1)
  /** When set, every path a task opens is added to it. */
  @volatile var opened: java.util.Set[String] = null

  /** Distinct paths Spark tasks opened while `body` ran. */
  def recordOpens[T](body: => T): (T, Set[String]) = {
    val rec = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    opened = rec
    try { val r = body; (r, rec.asScala.toSet) }
    finally opened = null
  }

  private def hit(i: Int): Unit = {
    counts.incrementAndGet(i)
    if (TaskContext.get() == null) counts.incrementAndGet(DriverOps)
  }

  /** Counters now: one entry per op name plus `driver_ops`, and the
    * byte totals Hadoop keeps for the `file` scheme.
    */
  def snapshot(): Map[String, Long] = {
    val ops = Names.indices.map(i => Names(i) -> counts.get(i)).toMap
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics
    var read = 0L; var written = 0L
    st.forEach { s => if (s.getScheme == "file") { read += s.getBytesRead; written += s.getBytesWritten } }
    ops ++ Map("driver_ops" -> counts.get(DriverOps), "bytes_read" -> read, "bytes_written" -> written)
  }

  def delta(from: Map[String, Long], to: Map[String, Long]): Map[String, Long] =
    to.map { case (k, v) => k -> (v - from.getOrElse(k, 0L)) }
}
