package graft.server

/** LRU cache of encoded responses keyed by `query_id` (reference S8,
  * `LRUCache(maxsize=10)`, `/root/reference/main.py:65,276-278,287-288`):
  * a GET carrying only `query_id` replays the cached bytes. The server
  * qualifies each id with the request's tenant and `database`, so one
  * tenant cannot replay another's result. Bounded by the
  * reference's entry count and by [[ResultCache.maxBytes]] in total: a put
  * evicts the least recently used entries until both fit, and a result
  * larger than the cap is not kept. */
final class ResultCache {
  import ResultCache._
  // access order: iteration starts at the least recently used entry
  private val map = new java.util.LinkedHashMap[String, Array[Byte]](16, 0.75f, true)
  private var bytes = 0L

  def get(id: String): Option[Array[Byte]] = synchronized(Option(map.get(id)))
  def put(id: String, value: Array[Byte]): Unit = synchronized {
    remove(id)
    if (value.length <= maxBytes) {
      map.put(id, value)
      bytes += value.length
      val it = map.values.iterator
      while (map.size > maxEntries || bytes > maxBytes) { bytes -= it.next().length; it.remove() }
    }
  }
  def remove(id: String): Unit = synchronized {
    Option(map.remove(id)).foreach(old => bytes -= old.length)
  }
  def size: Int = synchronized(map.size())
}

object ResultCache {
  val maxEntries = 10
  val maxBytes: Long = 64L << 20
}
