package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** Pins the driver contract: the set of query names and the oracle SQL of
  * each. A change that keeps the contract (a refactor, or a code path
  * deleted behind a kept query name) keeps both digests; a change that
  * means to alter the contract updates them on purpose. */
class EntryPinSpec extends AnyFunSuite {

  private val OracleDigest = "b1991eb4df0c1535d329319ab9e77cac09acd25edd85984027a040341e0e3065"
  private val NamesDigest = "8df7d65ac3974aa529e541ffedecf110182172676ed30ce11147279d042b9617"

  /** SHA-256 (hex) of the strings, each followed by a NUL byte. */
  private def sha256(parts: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach { p => md.update(p.getBytes(UTF_8)); md.update(0.toByte) }
    md.digest().map(b => f"$b%02x").mkString
  }

  test("oracle SQL map digest is unchanged") {
    val pairs = SparkEntry.oracleSql.toSeq.sortBy(_._1).flatMap { case (n, sql) => Seq(n, sql) }
    assert(sha256(pairs) == OracleDigest)
  }

  test("query name set digest is unchanged") {
    assert(sha256(SparkEntry.queries.keySet.toSeq.sorted) == NamesDigest)
  }
}
