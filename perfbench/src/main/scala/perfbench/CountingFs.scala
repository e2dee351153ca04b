package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, FSDataInputStream,
  FSDataOutputStream, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem with a counter on every metadata and stream
  * call the engine makes. Installed only in traced runs, through
  * Hadoop config (`fs.file.impl`). Counts are filed under the op kind
  * in flight: the benchmark is a closed loop with one client, so at
  * most one op runs at a time, and tasks on executor threads are
  * filed under it too. */
class CountingFs extends org.apache.hadoop.fs.LocalFileSystem {
  import CountingFs.bump

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    bump("create")
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag],
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    bump("create")
    super.createNonRecursive(f, permission, flags, bufferSize, replication,
      blockSize, progress)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    bump("open")
    super.open(f, bufferSize)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    bump("list")
    super.listStatus(f)
  }

  override def getFileStatus(f: Path): FileStatus = {
    bump("status")
    super.getFileStatus(f)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    bump("delete")
    super.delete(f, recursive)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    bump("rename")
    super.rename(src, dst)
  }
}

object CountingFs {
  val Ops: Seq[String] = Seq("create", "open", "list", "status", "delete", "rename")

  @volatile var enabled = false
  @volatile var currentKind = "other"

  private val counts = new ConcurrentHashMap[(String, String), AtomicLong]()

  private def bump(op: String): Unit =
    if (enabled)
      counts.computeIfAbsent((currentKind, op), _ => new AtomicLong).incrementAndGet()

  /** Calls of `op` filed under `kind` (all kinds when None). */
  def count(op: String, kind: Option[String] = None): Long =
    counts.asScala.collect {
      case ((k, o), n) if o == op && kind.forall(_ == k) => n.get
    }.sum

  private val traced = new java.util.concurrent.atomic.AtomicLongArray(2)

  /** Adds the (read, written) bytes between two [[bytes]] readings
    * taken around a traced op. */
  def addTracedBytes(before: (Long, Long), after: (Long, Long)): Unit = {
    traced.addAndGet(0, after._1 - before._1)
    traced.addAndGet(1, after._2 - before._2)
  }

  /** Bytes (read, written) by traced ops since the last [[reset]]. */
  def tracedBytes: (Long, Long) = (traced.get(0), traced.get(1))

  def reset(): Unit = {
    counts.clear()
    traced.set(0, 0L)
    traced.set(1, 0L)
  }

  /** Bytes (read, written) through the local filesystem, all instances. */
  def bytes: (Long, Long) =
    Option(FileSystem.getGlobalStorageStatistics.get("file")).fold((0L, 0L)) { st =>
      def get(k: String) = Option(st.getLong(k)).fold(0L)(_.longValue)
      (get("bytesRead"), get("bytesWritten"))
    }
}
