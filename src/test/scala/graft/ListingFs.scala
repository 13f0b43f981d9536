package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The local file system under its own scheme (`listfs:`), counting the
  * listings of watched dirs. A table rooted at `listfs:/some/dir` reads
  * and writes the local dir `/some/dir`; [[ListingFs.listingsOf]] counts
  * how often a call lists given dirs (the table root: its marker
  * listing), and [[ListingFs.afterNextListing]] runs a hook right after
  * the next listing of a dir returns its entries — a commit landing
  * between a reader's listings. Register it with [[ListingFs.register]]. */
class ListingFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = ListingFs.Uri
  override def getScheme: String = ListingFs.Scheme

  // as FaultFs: local statuses load permissions through a `file:` URI,
  // which this scheme's paths are not; the engine never reads them
  private def plain(s: FileStatus): FileStatus =
    new FileStatus(s.getLen, s.isDirectory, s.getReplication, s.getBlockSize,
      s.getModificationTime, s.getAccessTime, FsPermission.getDefault, "", "", s.getPath)
  override def getFileStatus(f: Path): FileStatus = plain(super.getFileStatus(f))

  override def listStatus(f: Path): Array[FileStatus] = {
    val entries = super.listStatus(f).map(plain)
    ListingFs.listed(f)
    entries
  }
}

object ListingFs {
  val Scheme = "listfs"
  val Uri = new java.net.URI(s"$Scheme:///")

  def register(conf: org.apache.hadoop.conf.Configuration): Unit =
    conf.set(s"fs.$Scheme.impl", classOf[ListingFs].getName)

  /** A dir as the local path the listings compare. */
  private def key(p: String): String = new Path(p).toUri.getPath.stripSuffix("/")

  @volatile private var watched: Set[String] = Set.empty
  private val count = new AtomicInteger()
  private val hook = new AtomicReference[Option[(String, () => Unit)]](None)

  private def listed(f: Path): Unit = {
    val dir = key(f.toString)
    if (watched(dir)) count.incrementAndGet()
    // the hook runs once, disarmed first: what it does lists too
    hook.get match {
      case cur @ Some((d, h)) if d == dir && hook.compareAndSet(cur, None) => h()
      case _ => ()
    }
  }

  /** `f`'s result and the listings of `dirs` it made (one caller at a
    * time). */
  def listingsOf[T](dirs: String*)(f: => T): (T, Int) = {
    watched = dirs.map(key).toSet
    count.set(0)
    try { val r = f; (r, count.get()) } finally watched = Set.empty
  }

  /** Run `h` once, right after the next listing of `dir` returns. */
  def afterNextListing(dir: String)(h: => Unit): Unit = hook.set(Some((key(dir), () => h)))

  def disarm(): Unit = hook.set(None)
}
