package graft.pipeline

/** A task-lived memo of a PURE string function, bounded in BYTES: the
  * shared form of the token→digest memos of the md5-hashing typed
  * passes ([[Dedup.portableShingleHashes]], [[Dedup.simhashed60]],
  * [[Similarity.withTokenVectors]]). Corpora repeat tokens (Zipf), so
  * computing each DISTINCT token once per task removes most digests;
  * values are exactly `f`'s, so results never depend on the memo.
  *
  * The cap counts estimated heap bytes — key chars, payload and a
  * fixed per-entry overhead — not entries: an entry cap lets the
  * footprint grow with the payload (2^18 token vectors of 4096 doubles
  * would be 8 GB per task). Past the cap new keys are computed but not
  * kept, so an adversarial all-unique stream degrades to the uncached
  * cost, never to an unbounded map. Not thread-safe: one per task. */
final class TaskMemo[V <: AnyRef](maxBytes: Long, payloadBytes: V => Long)(
    f: String => V) {
  private val map = new java.util.HashMap[String, V](1 << 12)
  private var used = 0L

  def apply(key: String): V = {
    val hit = map.get(key)
    if (hit != null) hit
    else {
      val v = f(key)
      val b = TaskMemo.keyBytes(key) + payloadBytes(v)
      if (used + b <= maxBytes) {
        map.put(key, v): Unit
        used += b
      }
      v
    }
  }

  /** Estimated bytes held — never above the cap. */
  def usedBytes: Long = used

  def size: Int = map.size
}

object TaskMemo {
  /** Per-task budget of every md5 memo. */
  val MaxBytes: Long = 32L << 20

  /** HashMap node + String header + UTF-16 chars. */
  def keyBytes(key: String): Long = 88L + 2L * key.length

  /** A boxed Long payload. */
  val LongBytes: java.lang.Long => Long = _ => 16L

  /** A double-array payload. */
  val DoublesBytes: Array[Double] => Long = a => 16L + 8L * a.length
}
