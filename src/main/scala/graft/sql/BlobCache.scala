package graft.sql

/**
 * Per-JVM decode cache for binary blobs that ride query plans as
 * Literals (codebooks, centroid tables): executors decode each distinct
 * blob once. Collision-resistant SHA-256 key — two
 * different blobs in a long-lived executor must never alias to the same
 * decoded value. One instance per blob kind (the decoded types differ:
 * AnnIndex centroids, Pq codebooks); shared here so the keying subtlety
 * lives in one place.
 */
final class BlobCache[T](decode: Array[Byte] => T) extends Serializable {
  @transient private lazy val cache = new java.util.concurrent.ConcurrentHashMap[String, T]()

  def get(bytes: Array[Byte]): T = {
    val key = java.util.Base64.getEncoder.encodeToString(
      java.security.MessageDigest.getInstance("SHA-256").digest(bytes))
    var v = cache.get(key)
    if (v == null) {
      v = decode(bytes)
      cache.put(key, v)
    }
    v
  }
}
