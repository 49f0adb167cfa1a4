package graft

import org.scalatest.funsuite.AnyFunSuite

/** COVERAGE.md ↔ query-registry sync (round-8 verdict #8): the coverage
  * doc was hand-synced for several rounds; this pins it mechanically.
  * COVERAGE.md declares the battery size in its header (`Battery: N
  * oracle-checked queries`) — that count must equal the registry, so
  * adding a query without touching COVERAGE.md fails the suite — and
  * every query-shaped token cited in COVERAGE.md must exist in the
  * registry (no stale rows naming dead queries). */
class CoverageSyncSpec extends AnyFunSuite {

  private val coverage = new String(
    java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("COVERAGE.md")), "UTF-8")

  private val registry = SparkEntry.queries.keySet

  // names that legitimately appear in COVERAGE.md without being
  // oracle-gated registry queries (bench-only workloads, tool names)
  private val nonRegistry = Set("pcap_decode_dns_256m", "pcap_oracle")

  test("the declared battery count matches the registry") {
    val decl = """Battery: (\d+) oracle-checked queries""".r
      .findFirstMatchIn(coverage)
    assert(decl.isDefined,
      "COVERAGE.md must declare `Battery: N oracle-checked queries`")
    assert(decl.get.group(1).toInt == registry.size,
      s"COVERAGE.md declares ${decl.get.group(1)} queries, " +
        s"registry has ${registry.size} — update COVERAGE.md")
  }

  test("README.md's operator count matches the registry") {
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), "UTF-8")
    val decl = """operator inventory\W+(\d+) named""".r.findFirstMatchIn(readme)
    assert(decl.isDefined,
      "README.md must state `operator inventory — N named queries`")
    assert(decl.get.group(1).toInt == registry.size,
      s"README.md states ${decl.get.group(1)} queries, " +
        s"registry has ${registry.size} — update README.md")
  }

  test("every query-shaped citation in COVERAGE.md is a live query") {
    val token =
      """\b(?:q\d{2}_[a-z0-9_]+|(?:dedup|mm|pcap|pcapng|pipeline|sim|text)_[a-z0-9_]+)\b""".r
    val cited = token.findAllIn(coverage).toSet
    val dead = cited -- registry -- nonRegistry
    assert(dead.isEmpty,
      s"COVERAGE.md cites unknown queries: ${dead.toSeq.sorted.mkString(", ")}")
  }
}
