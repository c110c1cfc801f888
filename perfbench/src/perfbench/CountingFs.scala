package perfbench

import java.net.URI
import java.util.EnumSet
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file scheme with every metadata and stream-opening call
  * counted: Hadoop's own statistics count bytes but no operations for
  * the local filesystem. Installed by the traced runs' core-site.xml. */
class CountingLocalFs extends LocalFileSystem(new CountingRawLocalFs)

/** The same counting for the `FileContext` route of the local scheme
  * (`WriFs.atomicWriteString` renames through it): Hadoop's `LocalFs`
  * with the counting raw filesystem underneath. */
class CountingLocalAfs(uri: URI, conf: Configuration)
    extends ChecksumFs(new CountingRawLocalAfs(uri, conf))

class CountingRawLocalAfs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new CountingRawLocalFs, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  // as org.apache.hadoop.fs.local.RawLocalFs
  override def getUriDefaultPort: Int = -1
  override def isValidName(src: String): Boolean = true
}

object CountingRawLocalFs {
  val readOps = new AtomicLong
  val writeOps = new AtomicLong
}

/** Counts the calls made from outside: the ones the filesystem makes on
  * itself (`create` checking and making the parent directory) are part
  * of the outer operation. */
class CountingRawLocalFs extends RawLocalFileSystem {
  import CountingRawLocalFs._
  private val depth = new ThreadLocal[Int] { override def initialValue = 0 }
  private def count[T](ops: AtomicLong)(x: => T): T = {
    val d = depth.get
    if (d == 0) ops.incrementAndGet()
    depth.set(d + 1)
    try x finally depth.set(d)
  }
  private def r[T](x: => T): T = count(readOps)(x)
  private def w[T](x: => T): T = count(writeOps)(x)

  override def open(f: Path, bs: Int): FSDataInputStream = r(super.open(f, bs))
  override def getFileStatus(f: Path): FileStatus = r(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] = r(super.listStatus(f))
  override def create(f: Path, ow: Boolean, bs: Int, rep: Short, block: Long,
      p: Progressable): FSDataOutputStream =
    w(super.create(f, ow, bs, rep, block, p))
  override def create(f: Path, perm: FsPermission, ow: Boolean, bs: Int,
      rep: Short, block: Long, p: Progressable): FSDataOutputStream =
    w(super.create(f, perm, ow, bs, rep, block, p))
  override def createNonRecursive(f: Path, perm: FsPermission,
      flags: EnumSet[CreateFlag], bs: Int, rep: Short, block: Long,
      p: Progressable): FSDataOutputStream =
    w(super.createNonRecursive(f, perm, flags, bs, rep, block, p))
  override def createNonRecursive(f: Path, perm: FsPermission, ow: Boolean,
      bs: Int, rep: Short, block: Long, p: Progressable): FSDataOutputStream =
    w(super.createNonRecursive(f, perm, ow, bs, rep, block, p))
  override def append(f: Path, bs: Int, p: Progressable): FSDataOutputStream =
    w(super.append(f, bs, p))
  override def rename(a: Path, b: Path): Boolean = w(super.rename(a, b))
  override def delete(f: Path, rec: Boolean): Boolean = w(super.delete(f, rec))
  override def mkdirs(f: Path): Boolean = w(super.mkdirs(f))
  override def mkdirs(f: Path, perm: FsPermission): Boolean = w(super.mkdirs(f, perm))
}
