package graft.warehouse

import java.nio.file.{Files, LinkOption}
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermission}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system without its process starts.
  * Lacking Hadoop's native library, `RawLocalFileSystem` runs `chmod` for
  * every file and dir it creates (each `.crc` twin included) and `ls -ld`
  * for every status whose permission, owner or group is read — and
  * `listFiles` reads them for every file it returns. Each start costs
  * about 3.4 ms (measured on a 4-vCPU host), which on a single-row
  * statement is a large share of its time. This file system sets the same
  * mode bits through `java.nio` and loads a status's permission, owner
  * and group through `java.nio` only when a caller asks; checksums,
  * renames and deletes are Hadoop's own. Obtain it through [[LocalFs.of]].
  *
  * `renameKeepsFiles` mirrors the local file system it stands in for:
  * Hive's `ProxyLocalFileSystem`, which Spark's Hive jars register for
  * `file:`, refuses a rename onto an existing file (returns false, as
  * HDFS does) where Hadoop's own replaces it. */
final class LocalFs(renameKeepsFiles: Boolean) extends LocalFileSystem(new LocalFs.Raw) {
  override def rename(src: Path, dst: Path): Boolean =
    if (renameKeepsFiles && isFile(dst)) false else super.rename(src, dst)
}

object LocalFs {
  @volatile private var shared: LocalFs = _

  private val HiveLocal = "org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem"

  /** The file system for `path`: one shared [[LocalFs]] whenever Hadoop
    * resolves `path` to its `LocalFileSystem` (or to Hive's proxy of it),
    * and whatever Hadoop resolves otherwise (`hdfs:`, `s3a:`, a test
    * scheme). Like Hadoop's file-system cache, the first caller's
    * configuration initialises the shared instance. */
  def of(path: Path, conf: Configuration): FileSystem = {
    val resolved = path.getFileSystem(conf)
    val cls = resolved.getClass
    if (cls != classOf[LocalFileSystem] && cls.getName != HiveLocal) resolved
    else {
      if (shared == null) synchronized {
        if (shared == null) {
          val fs = new LocalFs(renameKeepsFiles = cls.getName == HiveLocal)
          fs.setConf(conf)
          fs.initialize(resolved.getUri, conf)
          shared = fs
        }
      }
      shared
    }
  }

  /** `RawLocalFileSystem` with its two forking paths on `java.nio`. */
  private final class Raw extends RawLocalFileSystem {
    // the nine rwx bits, as `chmod` sets them (Hadoop passes the mode
    // already masked by the configured umask)
    override def setPermission(p: Path, permission: FsPermission): Unit =
      Files.setPosixFilePermissions(pathToFile(p).toPath, toPosix(permission.toShort))

    override def getFileStatus(f: Path): FileStatus = new NioStatus(super.getFileStatus(f))

    // a dir's entries already come through getFileStatus; a plain file's
    // listing does not
    override def listStatus(f: Path): Array[FileStatus] = super.listStatus(f).map {
      case s: NioStatus => s
      case s => new NioStatus(s)
    }
  }

  /** A local status whose permission, owner and group come from one
    * `java.nio` attribute read (not following links, as `ls -ld` does),
    * made the first time any of them is asked for. */
  private final class NioStatus(s: FileStatus)
    extends FileStatus(s.getLen, s.isDirectory, s.getReplication, s.getBlockSize,
      s.getModificationTime, s.getAccessTime, null, null, null, s.getPath) {
    @transient private lazy val attrs = Files.readAttributes(
      new java.io.File(s.getPath.toUri.getPath).toPath,
      classOf[PosixFileAttributes], LinkOption.NOFOLLOW_LINKS)
    override def getPermission: FsPermission = new FsPermission(fromPosix(attrs.permissions))
    override def getOwner: String = attrs.owner.getName
    override def getGroup: String = attrs.group.getName
  }

  // PosixFilePermission's declaration order is OWNER_READ … OTHERS_EXECUTE:
  // mode bit 8 down to bit 0
  private val Perms = PosixFilePermission.values.toSeq.zipWithIndex
    .map { case (p, i) => p -> (0x100 >> i) }

  private def toPosix(mode: Short): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    Perms.foreach { case (p, bit) => if ((mode & bit) != 0) set.add(p) }
    set
  }

  private def fromPosix(set: java.util.Set[PosixFilePermission]): Short =
    Perms.collect { case (p, bit) if set.contains(p) => bit }.sum.toShort
}
