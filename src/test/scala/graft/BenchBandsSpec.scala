package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench regression gate's band table (round-9 verdict #8) must
  * stay wired: the JSON twin parses, its tolerance is sane, and every
  * banded name is a live registry query (or the decode proxy) — a
  * renamed query would otherwise silently drop out of the gate. */
class BenchBandsSpec extends AnyFunSuite {

  test("BENCH_BANDS.json parses and every band names a live query") {
    val (tol, bands) = BenchBands.load("BENCH_BANDS.json")
    assert(bands.nonEmpty, "band table must not be empty")
    assert(tol >= 1.0 && tol <= 4.0, s"implausible tolerance $tol")
    // the non-registry bench probes carry their own band names
    val live = SparkEntry.queries.keySet +
      "pcap_decode_dns_256m" + "sim_ann_ivfpq_cold" +
      "pipeline_pagerank_cold"
    val dead = bands.keySet -- live
    assert(dead.isEmpty, s"bands name dead queries: ${dead.mkString(", ")}")
    assert(bands.values.forall(v => v > 0 && v < 60),
      "band values must be positive sub-minute seconds")
  }

  test("a missing or corrupt bands file fails loudly, naming the path") {
    val missing = intercept[IllegalStateException](
      BenchBands.load("/nonexistent/bands.json"))
    assert(missing.getMessage.contains("/nonexistent/bands.json"))
    val dir = java.nio.file.Files.createTempDirectory("bands")
    def write(name: String, body: String): String = {
      val p = dir.resolve(name)
      java.nio.file.Files.write(p, body.getBytes("UTF-8"))
      p.toString
    }
    val corrupt = write("corrupt.json", """{"tolerance": 2.0, "bands": {""")
    assert(intercept[IllegalStateException](BenchBands.load(corrupt))
      .getMessage.contains(corrupt))
    val noBands = write("nobands.json", """{"tolerance": 2.0}""")
    assert(intercept[IllegalStateException](BenchBands.load(noBands))
      .getMessage.contains(noBands))
  }

  test("the host-load marker is wired: the spin probe measures plausible " +
      "fixed work and loadavg reads (round-11 advisory #3)") {
    val p = HostProbe.spin()
    // the fixed 100M-step loop takes real time on any hardware this
    // runs on, and a run into the minutes would mean the probe itself
    // is broken, not the host loaded
    assert(p > 0.001 && p < 30.0, s"implausible spin probe $p s")
    val l = HostProbe.loadavg()
    assert(l >= 0.0, s"/proc/loadavg must parse on linux, got $l")
    // the bench JSON really carries the marker fields (the emitting
    // code is main(), so pin the contract at its source)
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/Bench.scala")), "UTF-8")
    Seq("host_probe", "probe_start_s", "probe_end_s",
        "loadavg_start", "loadavg_end", "user_ticks", "steal_ticks")
      .foreach(k => assert(src.contains(k), s"bench JSON lost marker $k"))
  }

  test("cpuTicks reads plausible /proc/stat user+steal jiffies and the " +
      "window delta is monotone (round-16 verdict #8)") {
    val (u0, s0) = HostProbe.cpuTicks()
    assert(u0 > 0, s"user ticks must be positive on linux, got $u0")
    assert(s0 >= 0, s"steal ticks must be non-negative, got $s0")
    // burn a little CPU so the second sample strictly advances user
    var x = 1L; var i = 0
    while (i < 20000000) { x ^= x << 13; x ^= x >>> 7; i += 1 }
    if (x == 42L) System.err.println("improbable")
    val (u1, s1) = HostProbe.cpuTicks()
    assert(u1 >= u0 && s1 >= s0, s"ticks went backwards: $u0->$u1 $s0->$s1")
  }
}
