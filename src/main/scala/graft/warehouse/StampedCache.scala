package graft.warehouse

/** The warehouse metadata cache: one process-wide, bounded map from
  * (qualified table root, entry name) to a value plus the STAMP it was
  * loaded under. A lookup hits only when the caller's current stamp
  * equals the stored one, so every hit is exact as long as the stamp
  * changes whenever the value could:
  *
  *  - write-once files (`.meta` markers, `.stats` sidecars) and the
  *    retired-notes ledger are stamped by their (length, mtime);
  *  - a snapshot dir's inferred read schema by its OWNING marker's
  *    (length, mtime) — committed dirs are immutable;
  *  - a delete batch's key set (captured at commit, or read from its
  *    sidecar on a miss) by its marker's commit ts
  *    ([[SnapshotTable.CapturedDelKeys]]).
  *
  * Entry names are the file names (plus `.delkeys` for key sets), so one
  * name always holds one value type. The bound is LRU — an access-ordered
  * map behind one lock — so a long trickle drops its least recently read
  * entries (stale markers, captures of compacted batches) instead of
  * wiping the live ones with them. [[evictRoot]] matches the root
  * exactly: dropping `/wh/t1` leaves `/wh/t10` alone. Loads run outside
  * the lock; two racing misses both load and the later put wins, which
  * is harmless because a stamp pins one value. */
final class StampedCache(cap: Int) {
  import StampedCache.Entry

  private val entries =
    new java.util.LinkedHashMap[(String, String), Entry](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String), Entry]): Boolean = size > cap
    }

  def get[V](root: String, name: String, stamp: Any): Option[V] =
    entries.synchronized(Option(entries.get((root, name))))
      .collect { case Entry(s, v) if s == stamp => v.asInstanceOf[V] }

  def put(root: String, name: String, stamp: Any, value: Any): Unit =
    entries.synchronized { entries.put((root, name), Entry(stamp, value)); () }

  def getOrLoad[V](root: String, name: String, stamp: Any)(load: => V): V =
    get[V](root, name, stamp).getOrElse {
      val v = load
      put(root, name, stamp, v)
      v
    }

  def evictRoot(root: String): Unit =
    entries.synchronized { entries.keySet.removeIf(_._1 == root); () }

  /** The entry names cached under `root`, least recently used first. */
  def names(root: String): Seq[String] = entries.synchronized {
    import scala.jdk.CollectionConverters._
    entries.keySet.asScala.collect { case (r, n) if r == root => n }.toList
  }
}

object StampedCache {
  private final case class Entry(stamp: Any, value: Any)

  /** The process-wide instance the warehouse layer shares. */
  val shared = new StampedCache(65536)
}
