package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.expr
import org.scalatest.funsuite.AnyFunSuite

/** q310's capture and lift expressions on a decile frame with no
  * positive row (pt = 0): 0, where the bare division throws under ANSI. */
class GainsGuardSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("capture_ppm and lift_milli are 0 when pt = 0, exact otherwise") {
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    // (cum_pos, cum_n, nt, pt)
    val dc = Seq((0L, 5L, 10L, 0L), (3L, 5L, 10L, 6L), (1L, 3L, 10L, 7L))
      .toDF("cum_pos", "cum_n", "nt", "pt")
    val got = dc.select(expr(SparkEntry.q310CaptureSql("div")), expr(SparkEntry.q310LiftSql("div")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // 3/6 = 500000 ppm, lift 30/30 = 1000; 1/7 = 142857 ppm, lift 10/21 = 476
    assert(got == Seq((0L, 0L), (500000L, 1000L), (142857L, 476L)))
    // the guard is what keeps pt = 0 from throwing
    val bare = dc.where("pt = 0").select(expr("(cum_pos * 100) div pt"))
    intercept[Exception](bare.collect())
  }
}
