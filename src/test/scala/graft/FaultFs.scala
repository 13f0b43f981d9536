package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FileStatus, FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system under its own scheme (`faultfs:`), with one
  * armed fault for the snapshot commit protocol. A table rooted at
  * `faultfs:/some/dir` reads and writes the local dir `/some/dir`; every
  * `create` of a snapshot's placeholder marker (`snap-N.staged`, the
  * optimistic writers' claim holder — WAP stages go through a
  * `.staged.stg` rename instead) is counted and can arm the fault, which
  * then fires on a later create or delete of that id's files. No hook
  * lives in the engine: the engine only sees a Hadoop file system.
  * Register it with [[FaultFs.register]]. */
class FaultFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = FaultFs.Uri
  override def getScheme: String = FaultFs.Scheme

  // the local statuses load permissions lazily through a `file:` URI,
  // which this scheme's paths are not; the engine never reads them
  private def plain(s: FileStatus): FileStatus =
    new FileStatus(s.getLen, s.isDirectory, s.getReplication, s.getBlockSize,
      s.getModificationTime, s.getAccessTime, FsPermission.getDefault, "", "", s.getPath)
  override def getFileStatus(f: Path): FileStatus = plain(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] = super.listStatus(f).map(plain)

  override def delete(f: Path, recursive: Boolean): Boolean = {
    FaultFs.beforeDelete(f)
    super.delete(f, recursive)
  }

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    FaultFs.beforeCreate(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    FaultFs.beforeCreate(f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object FaultFs {
  val Scheme = "faultfs"
  val Uri = new java.net.URI(s"$Scheme:///")

  sealed trait Fault
  /** Before the first placeholder is created, run `foreign` — e.g. one
    * commit through a second table handle — so the writer's head moves
    * under it and its validation fails once. */
  final case class LoseRace(foreign: () => Unit) extends Fault
  /** Throw from the data write of the first placeholder's id: the create
    * of its `snap-N.stats` file (the last step of every data write). */
  case object FailWrite extends Fault
  /** Throw from the first placeholder's delete once its id's `.meta`
    * exists: a failure just past the commit point. */
  case object FailAfterCommit extends Fault

  private val PlaceholderName = """snap-(\d+)\.staged""".r

  @volatile private var armed: Option[Fault] = None
  @volatile private var failingStats: Option[String] = None
  @volatile private var failingDelete: Option[String] = None
  /** Placeholder creates since the last [[arm]]: one per attempt. */
  val placeholders = new AtomicInteger()

  def register(conf: org.apache.hadoop.conf.Configuration): Unit =
    conf.set(s"fs.$Scheme.impl", classOf[FaultFs].getName)

  def arm(f: Option[Fault]): Unit = synchronized {
    armed = f
    failingStats = None
    failingDelete = None
    placeholders.set(0)
  }

  private def beforeCreate(f: Path): Unit = f.getName match {
    case PlaceholderName(id) =>
      placeholders.incrementAndGet()
      val fault = synchronized { val a = armed; armed = None; a }
      fault.foreach {
        case LoseRace(foreign) => foreign()
        case FailWrite => failingStats = Some(s"snap-$id.stats")
        case FailAfterCommit => failingDelete = Some(s"snap-$id")
      }
    case n if failingStats.contains(n) =>
      failingStats = None
      throw new java.io.IOException(s"injected data-write failure at $f")
    case _ => ()
  }

  private def beforeDelete(f: Path): Unit = failingDelete.foreach { id =>
    if (f.getName == s"$id.staged" &&
        new java.io.File(f.getParent.toUri.getPath, s"$id.meta").exists()) {
      failingDelete = None
      throw new java.io.IOException(s"injected post-commit failure at $f")
    }
  }
}
