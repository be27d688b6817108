package graft.core

import java.util.concurrent.atomic.LongAdder
import scala.collection.immutable.TreeMap

/** JVM-wide, monotonic hit/miss counters of the store's read caches, read
  * as one map by [[StoreCounters.read]]; a caller measures a window by
  * subtracting two reads.
  *
  *  - `manifest.reused` / `manifest.reloaded`: [[VectorTable]] head
  *    snapshots revalidated and reused vs listed, read and parsed again;
  *  - `manifest.listings` / `manifest.parses`: `_graft/` version listings
  *    and manifest parses, whoever asked for them;
  *  - `parts.listings`: batch-directory listings for part files;
  *  - `footer.hits` / `footer.misses`: [[DirectParquetRead]] cached
  *    footers and readers vs footer reads;
  *  - `decoded.hits` / `decoded.misses`: point reads served from a
  *    [[DirectParquetRead]] cached decoded unit vs decoded from the file;
  *  - `decoded.evictions`: cached decoded units dropped, by the cache's
  *    bound, by `vacuum` or by `invalidate`;
  *  - `open.hits` / `open.misses`: [[VectorTable]] opened-DataFrame cache.
  *
  * The `ReadCachedStore` LRU keeps its own per-instance `stats`.
  */
object StoreCounters {
  private[core] val manifestReused = new LongAdder
  private[core] val manifestReloaded = new LongAdder
  private[core] val manifestListings = new LongAdder
  private[core] val manifestParses = new LongAdder
  private[core] val partsListings = new LongAdder
  private[core] val footerHits = new LongAdder
  private[core] val footerMisses = new LongAdder
  private[core] val decodedHits = new LongAdder
  private[core] val decodedMisses = new LongAdder
  private[core] val decodedEvictions = new LongAdder
  private[core] val openHits = new LongAdder
  private[core] val openMisses = new LongAdder

  /** Every counter's current value, by name. */
  def read: Map[String, Long] = TreeMap(
    "manifest.reused" -> manifestReused.sum(),
    "manifest.reloaded" -> manifestReloaded.sum(),
    "manifest.listings" -> manifestListings.sum(),
    "manifest.parses" -> manifestParses.sum(),
    "parts.listings" -> partsListings.sum(),
    "footer.hits" -> footerHits.sum(),
    "footer.misses" -> footerMisses.sum(),
    "decoded.hits" -> decodedHits.sum(),
    "decoded.misses" -> decodedMisses.sum(),
    "decoded.evictions" -> decodedEvictions.sum(),
    "open.hits" -> openHits.sum(),
    "open.misses" -> openMisses.sum())
}
