package perfbench

/** Order statistics and checksums the benchmark reports and checks with. */
object Stats {

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted.toIndexedSeq
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Tail latency: the highest percentile that still has at least `beyond`
    * samples above it, i.e. the (beyond+1)-th largest sample, reported with
    * its percentile 100·(n−beyond)/n and the sample count. With `beyond`
    * or fewer samples it degrades to the maximum (percentile 100). */
  final case class Tail(pct: Double, value: Double, n: Int)

  def tail(xs: Seq[Double], beyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted.toIndexedSeq
    val n = s.length
    if (n <= beyond) Tail(100.0, s(n - 1), n)
    else Tail(100.0 * (n - beyond) / n, s(n - beyond - 1), n)
  }

  def mix64(v: Long): Long = {
    var z = v + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Hash of one row's fields: strings by content, integers exactly,
    * floating values rounded to `decimals` places first so that the last
    * bits of a float sum do not decide equality. */
  def rowHash(fields: Seq[Any], decimals: Int = 6): Long =
    fields.foldLeft(0x51ED270B27C7F3A1L) { (h, f) =>
      val v: Long = f match {
        case null => 0x7FF8DEADL
        case d: Double => java.lang.Double.doubleToLongBits(
          BigDecimal(d).setScale(decimals, BigDecimal.RoundingMode.HALF_EVEN).toDouble + 0.0)
        case x: Float => java.lang.Double.doubleToLongBits(
          BigDecimal(x.toDouble).setScale(decimals, BigDecimal.RoundingMode.HALF_EVEN).toDouble + 0.0)
        case l: Long => l
        case i: Int => i.toLong
        case s: Short => s.toLong
        case b: Byte => b.toLong
        case b: Boolean => if (b) 1L else 0L
        case s: String => s.foldLeft(s.length.toLong)((a, c) => mix64(a ^ c))
        case o => o.toString.foldLeft(-1L)((a, c) => mix64(a ^ c))
      }
      mix64(h ^ v)
    }

  /** Order-independent checksum of a row bag: wrapping sum of row hashes
    * (a bag, so a duplicated row changes it, unlike XOR). */
  def bagChecksum(rows: Iterable[Seq[Any]], decimals: Int = 6): Long =
    rows.foldLeft(0L)((acc, r) => acc + rowHash(r, decimals))
}
