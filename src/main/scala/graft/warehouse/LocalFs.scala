package graft.warehouse

import java.io.FileNotFoundException
import java.nio.file.{Files, LinkOption, NoSuchFileException}
import java.nio.file.attribute.{BasicFileAttributes, PosixFileAttributes, PosixFilePermission}

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
  * renames and deletes are Hadoop's own. A status, and each entry of a
  * listing, is one `java.nio` attribute read, where Hadoop makes four
  * calls for it. Obtain it through [[LocalFs.of]].
  *
  * `renameKeepsFiles` mirrors the local file system it stands in for:
  * Hive's `ProxyLocalFileSystem`, which Spark's Hive jars register for
  * `file:`, refuses a rename onto an existing file (returns false, as
  * HDFS does) where Hadoop's own replaces it. */
final class LocalFs private (raw: LocalFs.Raw, renameKeepsFiles: Boolean)
    extends LocalFileSystem(raw) {
  override def rename(src: Path, dst: Path): Boolean =
    if (renameKeepsFiles && isFile(dst)) false else super.rename(src, dst)

  // the checksum files Hadoop's listing filters out afterwards are never
  // stat'ed (its rule: a `.` prefix and a `.crc` suffix)
  override def listStatus(f: Path): Array[FileStatus] =
    raw.list(f, n => !(n.startsWith(".") && n.endsWith(".crc")))
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
          val fs = new LocalFs(new Raw, renameKeepsFiles = cls.getName == HiveLocal)
          fs.setConf(conf)
          fs.initialize(resolved.getUri, conf)
          shared = fs
        }
      }
      shared
    }
  }

  /** `RawLocalFileSystem` with its forking paths, and its statuses, on
    * `java.nio`. */
  private final class Raw extends RawLocalFileSystem {
    // the nine rwx bits, as `chmod` sets them (Hadoop passes the mode
    // already masked by the configured umask)
    override def setPermission(p: Path, permission: FsPermission): Unit =
      Files.setPosixFilePermissions(pathToFile(p).toPath, toPosix(permission.toShort))

    override def getFileStatus(f: Path): FileStatus =
      statusOf(pathToFile(f)).getOrElse(throw notFound(f))

    override def listStatus(f: Path): Array[FileStatus] = list(f, _ => true)

    /** Hadoop's `listStatus` with one attribute read per entry (Hadoop
      * reads length, kind, mtime and atime one call each), over the
      * entries whose names `keep`. Hadoop's semantics: a file lists as
      * itself, a missing path throws, an entry that vanishes mid-listing
      * is skipped, links are followed. */
    def list(f: Path, keep: String => Boolean): Array[FileStatus] = {
      val dir = pathToFile(f)
      val self = statusOf(dir).getOrElse(throw notFound(f))
      if (!self.isDirectory) return if (keep(dir.getName)) Array(self) else Array.empty
      val out = Array.newBuilder[FileStatus]
      val entries = Files.newDirectoryStream(dir.toPath)
      try entries.forEach { e =>
        val name = e.getFileName.toString
        if (keep(name)) statusOf(new java.io.File(dir, name)).foreach(out += _)
      } finally entries.close()
      out.result()
    }

    private def notFound(f: Path) = new FileNotFoundException(s"File $f does not exist")

    /** The status Hadoop builds for `file` (its path qualified from the
      * file's own path), from one `java.nio` read; None when it is gone. */
    private def statusOf(file: java.io.File): Option[FileStatus] =
      try {
        val a = Files.readAttributes(file.toPath, classOf[BasicFileAttributes])
        val path = new Path(file.getPath).makeQualified(getUri, getWorkingDirectory)
        Some(new NioStatus(a.size, a.isDirectory, getDefaultBlockSize(path),
          a.lastModifiedTime.toMillis, a.lastAccessTime.toMillis, path))
      } catch { case _: NoSuchFileException => None }
  }

  /** A local status whose permission, owner and group come from one
    * `java.nio` attribute read (not following links, as `ls -ld` does),
    * made the first time any of them is asked for. */
  private final class NioStatus(len: Long, isDir: Boolean, blockSize: Long,
                                mtime: Long, atime: Long, path: Path)
    extends FileStatus(len, isDir, 1, blockSize, mtime, atime, null, null, null, path) {
    @transient private lazy val attrs = Files.readAttributes(
      new java.io.File(path.toUri.getPath).toPath,
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
