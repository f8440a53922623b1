package graft.sources

/** A thread-safe LRU map from a checkpoint's identity to its decoded
  * actions, bounded by the TOTAL action count it holds: inserting past
  * `maxActions` evicts whole least-recently-used entries, and a value
  * larger than the bound is returned without being kept. A miss
  * decodes outside the lock, so two threads missing together may both
  * decode; the values are equal and the later insert wins.
  */
private[sources] final class CheckpointCache[K, A](maxActions: Int) {
  private val entries = new java.util.LinkedHashMap[K, Seq[A]](16, 0.75f, true)
  private var held = 0L

  def getOrDecode(key: K)(decode: => Seq[A]): Seq[A] =
    synchronized(Option(entries.get(key))).getOrElse {
      val acts = decode
      if (acts.size <= maxActions) synchronized {
        val old = entries.put(key, acts)
        if (old != null) held -= old.size
        held += acts.size
        val eldest = entries.values.iterator
        while (held > maxActions) {
          held -= eldest.next().size
          eldest.remove()
        }
      }
      acts
    }
}
