package graft.sql

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** `GraftFunctions.install` raises the object-hash-aggregate fallback
  * threshold only in sessions that leave it unset. */
class InstallConfSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"

  test("install keeps an explicit fallback threshold and sets 16384 when unset") {
    val explicit = spark.newSession()
    explicit.conf.set(key, "77")
    GraftFunctions.install(explicit)
    assert(explicit.conf.get(key) == "77")

    val unset = spark.newSession()
    assert(!unset.sessionState.conf.contains(key))
    GraftFunctions.install(unset)
    assert(unset.conf.get(key) == "16384")
  }
}
