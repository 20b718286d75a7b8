package graft.sources

import com.google.common.cache.{Cache, CacheBuilder, RemovalListener, RemovalNotification}
import java.util.concurrent.atomic.LongAdder
import org.apache.hadoop.fs.{FileSystem, Path}

/** The storage layer's one metadata cache: a bounded map from a qualified
  * file or directory path to what was parsed or derived from it, honored
  * only while the path's [[MetaCache.fingerprint]] still equals the one the
  * entry was stored under. A hit takes no lock; past `cap` entries the
  * least recently used one is evicted, one entry at a time. Metadata only —
  * never rows or results.
  *
  * Known cross-JVM staleness window, accepted: the fingerprint is
  * `mtime:len`, so ANOTHER JVM rewriting a file within the same mtime
  * granule at the same byte length could serve this JVM a stale entry (a
  * writer's own JVM is covered by its explicit [[invalidate]]). */
final class MetaCache[V](cap: Int) {
  private val hits, misses, evictions = new LongAdder
  private val entries: Cache[String, (String, V)] = CacheBuilder.newBuilder()
    // one segment, so `cap` bounds the whole cache, not each of Guava's
    // default four segments at cap / 4
    .concurrencyLevel(1)
    .maximumSize(cap.toLong)
    .removalListener(new RemovalListener[String, (String, V)] {
      def onRemoval(n: RemovalNotification[String, (String, V)]): Unit =
        if (n.wasEvicted()) evictions.increment()
    })
    .build[String, (String, V)]()

  /** The value stored for `key` under fingerprint `fp`; on any other
    * fingerprint (or none) `load` runs, counts a miss and replaces the
    * entry. Concurrent misses on one key may each run `load`. */
  def get(key: String, fp: String)(load: => V): V = {
    val hit = entries.getIfPresent(key)
    if (hit != null && hit._1 == fp) { hits.increment(); hit._2 }
    else {
      misses.increment()
      val v = load
      entries.put(key, (fp, v))
      v
    }
  }

  /** Drop `key`: a writer calls this after rewriting the file, so its own
    * JVM never waits on the fingerprint to move. */
  def invalidate(key: String): Unit = entries.invalidate(key)

  private[graft] def size: Long = entries.size()

  def counters: MetaCache.Counters =
    MetaCache.Counters(hits.sum(), misses.sum(), evictions.sum())
}

object MetaCache {
  final case class Counters(hits: Long, misses: Long, evictions: Long)

  /** `mtime:len` of `f`, or "absent" when it does not exist. */
  def fingerprint(fs: FileSystem, f: Path): String =
    try {
      val st = fs.getFileStatus(f)
      s"${st.getModificationTime}:${st.getLen}"
    } catch { case _: java.io.FileNotFoundException => "absent" }
}
