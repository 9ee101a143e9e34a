package perfbench

import java.util.EnumSet
import java.util.concurrent.atomic.AtomicLongArray

import org.apache.hadoop.fs._
import org.apache.hadoop.fs.impl.OpenFileParameters
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem with a tally of the metadata calls made into it.
  *
  * Registered for scheme `file` (`fs.file.impl`) in the traced run only, so
  * the engine sees an ordinary local filesystem: the scheme stays `file`, and
  * `CommitArbiter` keeps its link-based publish. Only the outermost call on a
  * thread counts: `exists` reaching `getFileStatus`, or `listFiles` reaching
  * `listLocatedStatus`, is one call, the one the caller made. Executor tasks
  * run in this JVM under `local[N]`, so their opens and creates count too. */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem._

  private def counted[A](op: Int)(body: => A): A =
    if (depth.get > 0) body
    else {
      counts.incrementAndGet(op)
      depth.set(1)
      try body finally depth.set(0)
    }

  override def listStatus(f: Path): Array[FileStatus] = counted(List)(super.listStatus(f))
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] =
    counted(List)(super.listStatusIterator(f))
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] =
    counted(List)(super.listLocatedStatus(f))
  override def listFiles(f: Path, recursive: Boolean): RemoteIterator[LocatedFileStatus] =
    counted(List)(super.listFiles(f, recursive))
  override def getFileStatus(f: Path): FileStatus = counted(Status)(super.getFileStatus(f))
  override def exists(f: Path): Boolean = counted(Exists)(super.exists(f))
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    counted(Open)(super.open(f, bufferSize))
  override protected def openFileWithOptions(
      f: Path, p: OpenFileParameters): java.util.concurrent.CompletableFuture[FSDataInputStream] =
    counted(Open)(super.openFileWithOptions(f, p))
  override def create(f: Path, perm: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    counted(Create)(super.create(f, perm, overwrite, bufferSize, replication, blockSize, progress))
  override def create(f: Path, perm: FsPermission, flags: EnumSet[CreateFlag], bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable,
      opt: Options.ChecksumOpt): FSDataOutputStream =
    counted(Create)(super.create(f, perm, flags, bufferSize, replication, blockSize, progress, opt))
  override def createNonRecursive(f: Path, perm: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    counted(Create)(super.createNonRecursive(f, perm, overwrite, bufferSize, replication,
      blockSize, progress))
  override def createNonRecursive(f: Path, perm: FsPermission, flags: EnumSet[CreateFlag],
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    counted(Create)(super.createNonRecursive(f, perm, flags, bufferSize, replication,
      blockSize, progress))
  override def rename(src: Path, dst: Path): Boolean = counted(Rename)(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    counted(Delete)(super.delete(f, recursive))
}

object CountingFileSystem {
  val Names: Seq[String] = Seq("list", "status", "exists", "open", "create", "rename", "delete")
  private val List = 0; private val Status = 1; private val Exists = 2; private val Open = 3
  private val Create = 4; private val Rename = 5; private val Delete = 6

  private val counts = new AtomicLongArray(Names.size)
  private val depth = ThreadLocal.withInitial[Int](() => 0)

  /** Current totals, in the order of [[Names]]. */
  def snapshot(): Array[Long] = Array.tabulate(Names.size)(counts.get)

  /** Session settings that route scheme `file` through this class. */
  val sessionConf: Map[String, String] =
    Map("spark.hadoop.fs.file.impl" -> classOf[CountingFileSystem].getName)
}
