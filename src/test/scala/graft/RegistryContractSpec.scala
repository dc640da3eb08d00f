package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite

/** The registry's BEHAVIOUR CONTRACT, pinned: the set of registered
  * names and the DuckDB oracle SQL each one is gated against. A
  * refactor of how entries are declared (shared oracle values,
  * generated `_stream`/`_tws` twins) must leave both byte-identical,
  * so this digest may only move when a change means to alter what the
  * registry promises.
  *
  * `registry_contract.tsv` holds one `name<TAB>fingerprint` line per
  * entry (the fingerprint is the first 16 hex digits of the sha256 of
  * the oracle text, empty oracle for rows-only entries); it only
  * serves to name the first entry that differs when the digest does
  * not match. */
class RegistryContractSpec extends AnyFunSuite {
  private val ExpectedNames = 482
  private val ExpectedDigest =
    "3434a5944ec13c6da3c2d4694c5bc3f45a0ceb551ff96b3ba2dcf0a1e71e2098"

  private def hex(bytes: Array[Byte]): String = bytes.map("%02x".format(_)).mkString

  private def sha256(s: String): String =
    hex(MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8)))

  test("registry names and oracle SQL match the pinned contract digest") {
    val oracles = SparkEntry.oracleSql
    val pairs = SparkEntry.queries.keys.toSeq.sorted.map(n => n -> oracles.getOrElse(n, ""))
    val md = MessageDigest.getInstance("SHA-256")
    pairs.foreach { case (n, o) =>
      md.update(n.getBytes(UTF_8)); md.update(0.toByte)
      md.update(o.getBytes(UTF_8)); md.update(0.toByte)
    }
    val digest = hex(md.digest())
    val current = pairs.map { case (n, o) => n -> sha256(o).take(16) }
    val pinned = scala.io.Source.fromResource("registry_contract.tsv").getLines()
      .filter(_.nonEmpty).map { l => val Array(n, f) = l.split("\t", 2); n -> f }.toSeq
    val firstDiff = current.zipAll(pinned, ("", ""), ("", ""))
      .collectFirst { case (c, p) if c != p => if (c._1.nonEmpty) c._1 else p._1 }
    val names = pairs.size
    assert(names == ExpectedNames && digest == ExpectedDigest,
      s"registry contract changed: $names names (pinned $ExpectedNames), " +
        s"digest $digest (pinned $ExpectedDigest); first differing entry: " +
        s"${firstDiff.getOrElse("<none in registry_contract.tsv>")}. A change that alters " +
        "the registry's names or oracle SQL on purpose updates ExpectedNames, " +
        "ExpectedDigest and registry_contract.tsv, and says why in CHANGES.md.")
  }
}
