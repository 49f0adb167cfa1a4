package graft.pcap

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Structural gates for the passive-inventory analytics
  * (`pcap_ssh_inventory`, `pcap_ntp_amplification`, `pcap_capinfos`)
  * that the DuckDB hash match alone doesn't show: which rows the
  * filters EXCLUDE (client banners, binary KEX payloads, non-NTP
  * traffic), that byte extraction survives non-UTF-8 payload bytes,
  * and the one-shuffle plan shapes. */
class InventorySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def run(name: String) =
    graft.operators.PcapQueries.defs.find(_.name == name).get
      .fn(spark, "unused")

  test("ssh inventory: client banners and binary payloads excluded; " +
      "exactly the four server populations survive, legacy flagged") {
    val rows = run("pcap_ssh_inventory").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4))).sortBy(_._1)
    assert(rows.length == 4)
    // no client banner row: libssh2 appears only client->server
    assert(!rows.exists(_._2.contains("libssh2")))
    // fixture: 200 sessions, 4 populations, 50 each; the every-3rd
    // binary KEX packet (also src_port 22) must not inflate counts
    rows.foreach { case (srv, banner, nB, nC, legacy) =>
      assert(nB == 50 && nC == 50, s"$srv $banner")
      assert(legacy == !banner.startsWith("SSH-2.0"), s"$srv legacy")
    }
    // the embedded-space banner survives whole (no token split)
    assert(rows.exists(_._2 == "SSH-2.0-OpenSSH_8.9p1 Ubuntu-3ubuntu0.10"))
    assert(rows.count(_._5) == 1)
  }

  test("ntp amplification: only the reflector pair is flagged, with " +
      "mode-7 counting intact for >=0x80 first bytes") {
    val rows = run("pcap_ntp_amplification").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7), r.getBoolean(8)))
    val amped = rows.filter(_._9)
    assert(amped.length == 1)
    val a = amped.head
    assert(a._1 == "198.51.100.9" && a._2 == "203.0.113.66")
    // 20 monlist exchanges: 1 req + 4 resp each, all mode 7 — the
    // response first byte is 0xD7, so a UTF-8-decode-based byte
    // extraction would have mangled it to the replacement char
    assert(a._3 == 20 && a._4 == 80 && a._7 == 100)
    assert(a._8 == 440L * 4 * 10 / 8, s"amp_x10=${a._8}")
    // benign polls sit at exactly 1.0x (48 B each way)
    assert(rows.filterNot(_._9).forall(r => r._8 == 10 && r._7 == 0))
  }

  test("capinfos: per-file stats agree with the sidecar index counts") {
    val rows = run("pcap_capinfos").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1)
    assert(rows.map(t => (t._1, t._2)).toSeq ==
      Seq(("cap00.pcap", 40L), ("cap01.pcap", 50L), ("cap02.pcap", 60L)))
    // cross-check the scan-derived counts and ts bounds against the
    // .tsidx sidecar path (metadata-only) — the two independent
    // derivations must agree file by file
    val conf = spark.sessionState.newHadoopConf()
    rows.foreach { case (name, n, first, last) =>
      val p = new org.apache.hadoop.fs.Path(s"/tmp/graft_synth_capdir/$name")
      val in = graft.sources.FileSource.open(conf, p.toString)
      val st = try graft.sources.pcap.PcapTsIndex.scanMinMax(in)
        finally in.close()
      // the sidecar scan records whole seconds; the fixture's usec
      // field is 0, so the micro bounds are exact multiples
      val (mn, mx, cnt) = st.get
      assert(cnt == n && mn * 1000000L == first && mx * 1000000L == last,
        name)
    }
  }

  test("typosquat: all six lookalikes detected at their true distance, " +
      "controls and exact allowlist hits excluded, broadcast NLJ plan") {
    val df = run("pcap_dns_typosquat")
    val plan = df.queryExecution.executedPlan.toString
    // the allowlist side must broadcast: the match itself is a
    // broadcast nested-loop (levenshtein is not an equi-key), and
    // nothing may degrade to a shuffled cartesian product
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the nested-loop input is the PRE-AGGREGATED distinct-name
    // relation — the rollup exchanges sit below the join, and the
    // join itself adds none
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles <= 2, s"$shuffles shuffles\n$plan")
    val rows = df.collect().map(r => (r.getString(0), r.getString(1),
      r.getInt(2), r.getLong(3), r.getLong(4))).sortBy(_._1)
    // exactly the six fixture lookalikes — no control (svcN) rows, no
    // popular-domain self-matches (dist 0 excluded by the != guard)
    assert(rows.map(t => (t._1, t._2, t._3)).toSeq == Seq(
      ("arnazon.com", "amazon.com", 2),
      ("gituhb.com", "github.com", 2),
      ("gooogle.com", "google.com", 1),
      ("netfl1x.com", "netflix.com", 1),
      ("paypa1.com", "paypal.com", 1),
      ("rnicrosoft.com", "microsoft.com", 2)))
    // fixture: 100 typo queries round-robin over 6 names, each from a
    // distinct client — counts 17/17/17/17/16/16 in rotation order
    assert(rows.map(_._4).sum == 100 && rows.forall(r => r._4 == r._5))
  }

  test("one shuffle each: ssh/ntp key rollups and the per-file rollup") {
    Seq("pcap_ssh_inventory", "pcap_ntp_amplification",
      "pcap_capinfos").foreach { name =>
      val plan = run(name).queryExecution.executedPlan.toString
      val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
      // countDistinct in ssh adds a second aggregate level but Spark
      // plans it as expand + two aggs over ONE exchange pair; accept
      // <= 2 for ssh, exactly 1 for the pure-sum rollups
      val bound = if (name == "pcap_ssh_inventory") 2 else 1
      assert(shuffles <= bound, s"$name: $shuffles shuffles\n$plan")
    }
  }

  test("quic inventory: short-header and non-443 decoys excluded; " +
      "negotiation attributed to the server side; versions complete") {
    val rows = run("pcap_quic_inventory").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getInt(4), r.getBoolean(5)))
    assert(rows.length == 4)
    assert(rows.forall(_._1 == "198.51.100.44"))
    assert(rows.map(_._2).toSet ==
      Set("v1", "v2", "draft-29", "negotiation"))
    // 120 sessions over 4 populations; the 40 short-header and 18
    // port-53 decoys must not inflate any count
    rows.foreach { r =>
      assert(r._3 == 30 && r._4 == 30, r.toString)
      assert(r._5 == 12, s"max dcid len ${r._5}")
      assert(r._6 == (r._2 == "negotiation"))
    }
    // no UDF anywhere: the byte extraction must stay codegen'd
    val plan = run("pcap_quic_inventory")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      plan)
  }

  test("smtp audit: EHLO-only probes and binary junk excluded; " +
      "starttls/auth counted per session, not per packet") {
    val rows = run("pcap_smtp_audit").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6)))
    assert(rows.length == 7 && rows.forall(_._1 == "192.0.2.55"))
    // fixture: 140 sessions, i%5<=2 carry envelopes = 84, spread over
    // 7 sender domains = 12 each; every domain has some non-STARTTLS
    // sessions, so all are exposed
    assert(rows.map(_._3).sum == 84)
    rows.foreach { r =>
      assert(r._3 == 12, r.toString)
      assert(r._5 < r._3 && r._7, s"exposure: $r")
      assert(r._6 > 0, s"auth population present: $r")
    }
    // per-session semantics: the 2-packet AUTH LOGIN exchange counts
    // once, so n_plain_auth can never exceed n_sessions
    assert(rows.forall(r => r._6 <= r._3))
  }

  test("dga candidates: exactly the DGA clients flagged — neither " +
      "signal alone suffices (typo NX stays benign; both thresholds " +
      "gate), one shuffle") {
    val df = run("pcap_dga_candidates")
    val rows = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6)))
    // 10 benign + 10 DGA clients (the i%4 population gate composes
    // with i%20, so only even-ish benign octets occur)
    assert(rows.length == 20)
    val flagged = rows.filter(_._6).map(_._1).sorted
    assert(flagged.length == 10 && flagged.forall(_.startsWith("10.51.")),
      flagged.mkString(","))
    // benign clients DO see NXDOMAIN (the i%11 typo rate) — the rate
    // threshold is what keeps them clean, not an absence of NX
    assert(rows.exists(r => !r._6 && r._3 > 0))
    // DGA name shape: digit mass ~10/36 of base-36 chars
    rows.filter(_._6).foreach { r =>
      assert(r._5 * 100 >= r._4 * 15, r.toString)
    }
    // an AdaptiveSparkPlan prints final + initial plans; count only
    // the final section or the duplicate exchange double-counts
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles <= 1, s"$shuffles shuffles\n$plan")
  }

  test("ttl path: ICMP exclusion holds, populations land on the right " +
      "side of each flag, and class mixing never counts as a flap") {
    val rows = run("pcap_ttl_path").collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getInt(5), r.getInt(6), r.getBoolean(7),
        r.getBoolean(8)))
    assert(rows.length == 210)
    // ICMP echoes from every 17th client must not inflate n_pkts
    assert(rows.forall(_._2 == 5L), "ICMP leaked into the UDP rollup")
    val stable = rows.filter(r => !r._7 && !r._8)
    val flap = rows.filter(_._7)
    val spoof = rows.filter(_._8)
    assert(stable.length == 70 && flap.length == 70 &&
      spoof.length == 70)
    // flap: one class, spread exactly 5 (hops 4..9)
    flap.foreach { r =>
      assert(r._4 == 1L && r._5 == 4 && r._6 == 9, r.toString)
    }
    // spoof-mix: spread 4 (hops 4 vs 8) is BELOW the flap threshold
    // only because the classes differ — the n_classes==1 gate, not
    // the spread, is what keeps it out of path_change
    spoof.foreach { r =>
      assert(r._4 == 2L && !r._7 && r._6 - r._5 >= 3, r.toString)
    }
    // stable: single ttl, zero spread
    stable.foreach { r => assert(r._3 == 1L && r._5 == r._6, r.toString) }
  }

  test("passive traceroute: hop attribution comes from the QUOTE, " +
      "probes and echo noise are excluded, paths ordered, completion " +
      "split correct") {
    val rows = run("pcap_passive_traceroute").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getInt(3), r.getBoolean(4), r.getString(5)))
    assert(rows.length == 120)
    val (reached, timedOut) = rows.partition(_._5)
    // t % 5 == 0 -> 24 timeouts
    assert(timedOut.length == 24 && reached.length == 96)
    rows.foreach { case (prober, target, n, last, ok, path) =>
      // path routers are ordered hop-by-hop and share the trace's
      // low-octet infrastructure index
      val routers = path.split(">")
      assert(routers.length == n && last == n,
        s"$prober>$target hop accounting")
      routers.zipWithIndex.foreach { case (r, i) =>
        assert(r.startsWith(s"198.18.${i + 1}."), s"$prober>$target $r")
      }
      // completed traces stop one short (the target answered the last
      // probe); timed-out traces saw the full router chain
      val t = prober.split("\\.").last.toInt
      if (ok) assert(routers.last.split("\\.")(2).toInt <= 5)
    }
    // the prober's own UDP probes and the echo pairs never leak into
    // hop rows: every router is in 198.18/16
    assert(rows.forall(_._6.split(">").forall(_.startsWith("198.18."))))
  }

  test("exfil candidates: only unsanctioned upload-heavy flows flag — " +
      "the backup population is upload-heavy but allowlisted, browsing " +
      "is download-heavy; allowlist joins broadcast") {
    val df = run("pcap_exfil_candidates")
    val rows = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getBoolean(5), r.getBoolean(6), r.getBoolean(7)))
    // 60 browsing clients × 3 servers + 60 exfil + 60 backup
    assert(rows.length == 300)
    val candidates = rows.filter(_._7)
    assert(candidates.length == 60 &&
      candidates.forall(_._1.startsWith("198.51.100.")))
    // the backup population is the precision case: SAME byte shape as
    // exfil (upload_heavy true) but cleared by the allowlist alone
    val backup = rows.filter(_._1 == "192.0.2.10")
    assert(backup.length == 60 &&
      backup.forall(r => r._6 && r._5 && !r._7))
    // browsing never trips the ratio
    assert(rows.filter(_._1.startsWith("203.0.113."))
      .forall(r => !r._6 && r._3 < r._4))
    // the allowlist join must be broadcast — no shuffle added for it
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin"), plan)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles <= 1, s"$shuffles shuffles\n$plan")
  }
}
