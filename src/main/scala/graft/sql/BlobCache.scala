package graft.sql

/**
 * Per-JVM decode cache for binary blobs that ride query plans as
 * Literals (codebooks, centroid tables): executors decode each distinct
 * blob once. Collision-resistant SHA-256 key — two
 * different blobs in a long-lived executor must never alias to the same
 * decoded value. One instance per blob kind (the decoded types differ:
 * AnnIndex centroids, Pq codebooks); shared here so the keying subtlety
 * lives in one place.
 *
 * A plan literal is one array object for every row a task evaluates, so
 * each thread remembers the last array it asked for and its value: a
 * repeat of the SAME object returns without hashing, and only an array
 * not seen last pays the SHA-256 of its bytes. Callers never mutate a
 * blob after handing it in.
 */
final class BlobCache[T](decode: Array[Byte] => T) extends Serializable {
  @transient private lazy val cache = new java.util.concurrent.ConcurrentHashMap[String, T]()
  @transient private lazy val last = new ThreadLocal[(Array[Byte], T)]

  def get(bytes: Array[Byte]): T = {
    val hit = last.get()
    if (hit != null && (hit._1 eq bytes)) return hit._2
    val key = java.util.Base64.getEncoder.encodeToString(
      java.security.MessageDigest.getInstance("SHA-256").digest(bytes))
    var v = cache.get(key)
    if (v == null) {
      v = decode(bytes)
      cache.put(key, v)
    }
    last.set((bytes, v))
    v
  }
}
