package graft

import java.io.IOException
import java.net.URI
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus,
  FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession

/** Fault-injecting Hadoop FileSystem for crash tests: the local
  * filesystem under the `fault:` scheme, counting the mutating calls
  * (create, mkdirs, rename, delete) whose path lies under an armed root.
  * With `failAt = N` the Nth such call and every later one throw an
  * `IOException` instead of reaching the disk, so the files left behind
  * are exactly what a process killed at call N leaves; readers keep
  * working. State is global because Hadoop caches filesystem instances
  * and Spark tasks share the JVM under `local[*]`.
  */
class FaultFs extends FilterFileSystem(new FaultFs.Local) {
  import FaultFs.mutating

  override def getScheme: String = FaultFs.Scheme

  override def create(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    mutating(f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag],
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    mutating(f)
    super.createNonRecursive(f, permission, flags, bufferSize, replication,
      blockSize, progress)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    mutating(f)
    super.mkdirs(f, permission)
  }

  override def mkdirs(f: Path): Boolean = {
    mutating(f)
    super.mkdirs(f)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    mutating(src, dst)
    super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    mutating(f)
    super.delete(f, recursive)
  }
}

object FaultFs {
  val Scheme = "fault"
  private val Uri = URI.create(s"$Scheme:///")

  /** the raw local filesystem, answering to the `fault:` scheme. Its
    * statuses are plain copies: the local ones load permissions lazily
    * through `java.io.File`, which rejects any scheme but `file:`. */
  class Local extends RawLocalFileSystem {
    override def getUri: URI = Uri
    override def getScheme: String = Scheme

    private def plain(s: FileStatus) = new FileStatus(s.getLen,
      s.isDirectory, s.getReplication, s.getBlockSize,
      s.getModificationTime, s.getPath)

    override def getFileStatus(f: Path): FileStatus =
      plain(super.getFileStatus(f))

    override def getFileLinkStatus(f: Path): FileStatus =
      plain(super.getFileLinkStatus(f))

    override def listStatus(f: Path): Array[FileStatus] =
      super.listStatus(f).map(plain)
  }

  @volatile private var root: Option[String] = None
  @volatile private var failAt = 0L
  private val calls = new AtomicLong

  /** register the scheme in the session's Hadoop conf (idempotent) */
  def register(spark: SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration
      .set(s"fs.$Scheme.impl", classOf[FaultFs].getName)

  /** `fault:` URI of a local directory */
  def uri(localDir: String): String = s"$Scheme://$localDir"

  /** count mutating calls under `localDir` from zero; fail from the
    * `failAt`th on (0 = never) */
  def arm(localDir: String, failAt: Long = 0L): Unit = synchronized {
    calls.set(0)
    this.failAt = failAt
    root = Some(localDir)
  }

  /** mutating calls counted since [[arm]] */
  def counted: Long = calls.get

  /** stop counting and failing */
  def disarm(): Unit = synchronized {
    root = None
    failAt = 0L
  }

  private def mutating(paths: Path*): Unit = root.foreach { r =>
    if (paths.exists { p =>
      val s = p.toUri.getPath
      s == r || s.startsWith(r + "/")
    }) {
      val n = calls.incrementAndGet()
      if (failAt > 0 && n >= failAt)
        throw new IOException(s"injected fault at mutating call $n " +
          s"(${paths.mkString(" -> ")})")
    }
  }
}
