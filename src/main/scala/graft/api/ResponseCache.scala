package graft.api

import graft.engine.Catalog
import org.apache.spark.sql.SparkSession

/** Response bodies of the GET routes whose answer reads only the CUR view
  * and asOf, kept for as long as that view keeps its identity
  * ([[Catalog.sameView]]). Every entry is dropped when the view is
  * replaced — a re-registration, a root change, a `createOrReplaceTempView`.
  * No TTL.
  *
  * Precondition: the data behind the view must not change while the view
  * exists. That holds for the views `PartitionCatalog.registerListed`
  * makes, which read a fixed list of files; a temp view over a catalog
  * table that is written to, or refreshed with `refreshTable`, keeps its
  * identity while its data changes, and would be answered stale.
  *
  * A body is computed outside the lock and kept only if it was computed
  * and the view is still the one it was computed over; a failure is never
  * kept. Concurrent first requests for one key each compute. Query strings
  * come from clients, so at most [[ResponseCache.MaxEntries]] bodies are
  * kept, the least recently used making room for a new one. A `table` that
  * is not a temp view has no identity, so nothing is cached over it.
  */
private[api] final class ResponseCache(spark: SparkSession, table: String) {

  private type Key = (String, String)

  // guarded by `this`: the view identity the entries were computed over,
  // and the entries in access order
  private var view: AnyRef = _
  private val entries = new java.util.LinkedHashMap[Key, Array[Byte]](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, Array[Byte]]): Boolean =
      size > ResponseCache.MaxEntries
  }

  /** Entries held for the current view. */
  def size: Int = synchronized(entries.size)

  /** The kept body for (path, query), or `compute`'s. */
  def apply(path: String, query: String)(compute: => Array[Byte]): Array[Byte] = {
    val key = (path, query)
    val (seen, kept) = synchronized {
      // read under the lock, so `view` follows the catalog's order of views
      val seen = Catalog.viewIdentity(spark, table)
      if (!seen.exists(_ eq view)) {
        entries.clear()
        view = seen.orNull
      }
      (seen, Option(entries.get(key)))
    }
    kept.getOrElse {
      val body = compute
      synchronized {
        if (seen.exists(Catalog.sameView(spark, table, _))) entries.put(key, body)
      }
      body
    }
  }
}

private[api] object ResponseCache {

  /** Entries kept. The route table binds about two dozen cached GET
    * routes, so this leaves room for about ten query-string variants of
    * each; a client cycling through more evicts the least recently used
    * entries rather than growing the driver's heap. */
  val MaxEntries = 256
}
