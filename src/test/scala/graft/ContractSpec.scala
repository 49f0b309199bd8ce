package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

/** The SparkEntry contract — the key set and every key's oracle SQL — must
  * not change under refactors. The constants are SHA-256 digests of the
  * sorted keys and of the sorted (key, sql) pairs, each part followed by
  * a NUL byte. A change that adds or edits keys on purpose updates them. */
class ContractSpec extends AnyFunSuite {

  private def sha256(parts: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach { p => md.update(p.getBytes(UTF_8)); md.update(0.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  test("SparkEntry.queries key set is unchanged") {
    assert(SparkEntry.queries.size === 532)
    assert(sha256(SparkEntry.queries.keySet.toSeq.sorted) ===
      "1de1f1e14f1bc4e806741ba888d0680fc8f8cecfe1f53baf5dfc7771376f7d4e")
  }

  test("SparkEntry.oracleSql is byte-identical") {
    assert(SparkEntry.oracleSql.size === 525)
    assert(sha256(SparkEntry.oracleSql.toSeq.sorted.flatMap { case (k, v) => Seq(k, v) }) ===
      "ac3fdc2d7050a06701338906f11d45f54249e91e1fe3c4464b9cd1f94a0a2896")
  }
}
