package graft.sql

import org.scalatest.funsuite.AnyFunSuite

/** BlobCache decodes each distinct blob once, and never lets two
  * different blobs share a value. */
class BlobCacheSpec extends AnyFunSuite {

  test("one array decodes once; equal bytes share one value; different bytes never alias") {
    val decoded = new java.util.concurrent.atomic.AtomicInteger
    val c = new BlobCache[String](b => { decoded.incrementAndGet(); new String(b, "UTF-8") })
    val a = "centroids-a".getBytes("UTF-8")
    val v = c.get(a)
    (0 until 1000).foreach(_ => assert(c.get(a) eq v))
    assert(decoded.get == 1)

    // the same bytes in a distinct array: the SHA-256 key finds the value
    val a2 = a.clone()
    assert(c.get(a2) eq v)
    assert(decoded.get == 1)

    // different bytes, including one that differs in the last byte only,
    // and a switch back to the first array
    val b = "centroids-b".getBytes("UTF-8")
    assert(c.get(b) == "centroids-b")
    assert(c.get(a) eq v)
    assert(c.get(b) == "centroids-b")
    assert(decoded.get == 2)

    // another thread sees the same value without a new decode
    @volatile var other: String = null
    val t = new Thread(() => other = c.get(a))
    t.start(); t.join()
    assert(other eq v)
    assert(decoded.get == 2)
  }
}
