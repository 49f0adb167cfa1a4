package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType, StringType}

/** Queries over the `pcap` source itself (SURVEY.md §2A) — the reference's
  * own demonstrated workloads re-expressed on our DSv2 format.
  *
  * DuckDB cannot read pcap, but every input here is DETERMINISTIC: the
  * 2-packet reference fixture (in-repo; fields pinned by PcapGoldenSpec)
  * and a synthesized capture whose bytes are a pure function of packet
  * index ([[graft.pcap.PcapSynth.synthFrame]]). The oracle for each query
  * is therefore a constant table, derived INDEPENDENTLY by
  * `tools/gen_pcap_oracles.py` — a plain-Python struct-level re-decode of
  * the same capture (no Spark, no graft code) — and pinned here as a
  * DuckDB VALUES relation. `tools/pcap_oracle.py` re-runs the independent
  * derivation against the Spark parquet dumps each round.
  */
object PcapQueries {

  private val fixturePath = "/root/repo/src/test/resources/test.pcap"

  private def synthPath: String = {
    val p = java.nio.file.Paths.get("/tmp/graft_synth_32m.pcap")
    graft.pcap.PcapSynth.ensureFile(p, 32L << 20)
    p.toString
  }

  /** Deterministic pcapng capture: the same pure-function frames as the
    * classic synth file (synthFrame(i), i < 50000), written as
    * SHB + IDB + EPBs. */
  private def ngSynthPath: String = {
    val p = java.nio.file.Paths.get("/tmp/graft_synth_50k.pcapng")
    if (!java.nio.file.Files.exists(p)) {
      val pkts = (0 until 50000).map { i =>
        (0, 1700000000L * 1000000L + i * 1000L,
          graft.pcap.PcapSynth.synthFrame(i))
      }
      graft.pcap.PcapSynth.writeAtomic(p,
        graft.pcap.PcapSynth.fileNg(Seq(1), pkts))
    }
    p.toString
  }

  /** Deterministic DNS query/response conversation capture (20k
    * conversations; see [[graft.pcap.PcapSynth.qrConversations]]). */
  private def qrSynthPath: String = {
    val p = java.nio.file.Paths.get("/tmp/graft_synth_qr.pcap")
    graft.pcap.PcapSynth.ensureQrFile(p, 20000)
    p.toString
  }

  /** Deterministic Linux-cooked-capture pair: one SLL v1 file (linktype
    * 113, 6000 UDP frames) + one SLL2 file (276, 4000 frames) in a
    * directory, so one scan crosses BOTH non-Ethernet framings the way
    * a `tcpdump -i any` archive does. Frames are pure functions of the
    * index (same determinism contract as [[synthPath]]). */
  private def sllSynthPath: String = {
    import graft.pcap.PcapSynth
    val dir = java.nio.file.Paths.get("/tmp/graft_synth_sll")
    val v1 = dir.resolve("cooked_v1.pcap")
    val v2 = dir.resolve("cooked_v2.pcap")
    if (!java.nio.file.Files.exists(v1) ||
        !java.nio.file.Files.exists(v2)) {
      java.nio.file.Files.createDirectories(dir)
      def src(i: Int) = Array[Byte](10, 0, (i >> 8).toByte, i.toByte)
      def dst(i: Int) = Array[Byte](((i % 13) + 1).toByte, 0, 0, 1)
      val p1 = (0 until 6000).map { i =>
        (1700000000L + i, (i * 37L) % 1000000L,
          PcapSynth.sllUdpFrame(src(i), dst(i), 1024 + (i % 9),
            4000 + (i % 7), ttl = 64 - (i % 20),
            payload = new Array[Byte](32 + i % 64)))
      }
      val p2 = (0 until 4000).map { i =>
        (1700010000L + i, (i * 41L) % 1000000L,
          PcapSynth.sll2UdpFrame(src(i), dst(i), 2048 + (i % 11),
            4000 + (i % 5), ttl = 64 - (i % 10),
            payload = new Array[Byte](16 + i % 32)))
      }
      PcapSynth.writeAtomic(v1, PcapSynth.file(p1, linkType = 113))
      PcapSynth.writeAtomic(v2, PcapSynth.file(p2, linkType = 276))
    }
    dir.toString
  }

  private def ipNum(a: Int, b: Int, c: Int, d0: Int): Long =
    (a.toLong << 24) | (b.toLong << 16) | (c.toLong << 8) | d0.toLong

  /** Deterministic segmented TCP flow capture (60 flows, round-robin
    * interleaved; see [[graft.pcap.PcapSynth.tcpFlowSegments]]). */
  private def tcpSynthPath: String = {
    val p = java.nio.file.Paths.get("/tmp/graft_synth_tcpflows.pcap")
    graft.pcap.PcapSynth.ensureTcpFlowFile(p, 60)
    p.toString
  }

  /** Overlapping-retransmit TCP capture (40 flows; see
    * [[graft.pcap.PcapSynth.tcpOverlapSegments]] — corrupted partial
    * and fully-covered retransmits that only first-copy-wins trimming
    * reassembles to the clean payload). */
  private def tcpOverlapSynthPath: String = {
    val p = java.nio.file.Paths.get("/tmp/graft_synth_tcpoverlap.pcap")
    graft.pcap.PcapSynth.ensureTcpOverlapFile(p, 40)
    p.toString
  }

  /** Deterministic segmented HTTP request capture (50 flows; see
    * [[graft.pcap.PcapSynth.httpFlowSegments]] — cuts land mid-header). */
  private def httpSynthPath: String = {
    val p = java.nio.file.Paths.get("/tmp/graft_synth_httpflows2.pcap")
    graft.pcap.PcapSynth.ensureHttpFlowFile(p, 50)
    p.toString
  }

  /** Deterministic handshake capture (50 flows + 7 scanner bursts; see
    * [[graft.pcap.PcapSynth.handshakePackets]]). */
  private def handshakeSynthPath: String = {
    val p = java.nio.file.Paths.get("/tmp/graft_synth_handshake.pcap")
    graft.pcap.PcapSynth.ensureHandshakeFile(p, 50)
    p.toString
  }

  /** Deterministic TLS ClientHello capture (40 flows; see
    * [[graft.pcap.PcapSynth.tlsFlowPackets]]). */
  private def tlsSynthPath: String = {
    val p = java.nio.file.Paths.get("/tmp/graft_synth_tlsflows.pcap")
    graft.pcap.PcapSynth.ensureTlsFlowFile(p, 40)
    p.toString
  }

  /** The segmented variant — ClientHellos cut mid-record across TCP
    * segments (see [[graft.pcap.PcapSynth.tlsFlowSegments]]). */
  private def tlsSegSynthPath: String = {
    val p = java.nio.file.Paths.get("/tmp/graft_synth_tlssegs.pcap")
    graft.pcap.PcapSynth.ensureTlsSegFile(p, 40)
    p.toString
  }

  /** TLS 1.2 certificate-flight capture — ServerHello + Certificate +
    * ServerHelloDone split mid-record across TCP segments (see
    * [[graft.pcap.PcapSynth.tlsCertPackets]]). */
  private def tlsCertSynthPath: String = {
    val p = java.nio.file.Paths.get("/tmp/graft_synth_tlscert.pcap")
    graft.pcap.PcapSynth.ensureTlsCertFile(p, 60)
    p.toString
  }

  /** Constant oracle for pcap_tls_certs: replay the certificate
    * population formulas ([[graft.pcap.PcapSynth.certDer]] — subject /
    * issuer / serial / validity / SAN count per k = i%5) and the
    * session rotation (server 203.0.113.(31+k) serves every i ≡ k
    * (mod 5)); `expired` compares notAfter to the 1706.1M capture
    * clock. */
  private def tlsCertsOracle(n: Int): String = {
    val rows = (0 until 5).map { k =>
      val sessions = (0 until n).count(_ % 5 == k)
      s"('203.0.113.${31 + k}', '${graft.pcap.PcapSynth.certSubjectCn(k)}', " +
        s"'${graft.pcap.PcapSynth.certIssuerCn(k)}', " +
        s"${graft.pcap.PcapSynth.certSerial(k)}, " +
        s"${graft.pcap.PcapSynth.CertNotBefore}, " +
        s"${graft.pcap.PcapSynth.certNotAfter(k)}, " +
        s"${graft.pcap.PcapSynth.certSanCount(k)}, ${k == 4}, $sessions, " +
        s"${graft.pcap.PcapSynth.certNotAfter(k) < 1706100000L})"
    }.mkString(",\n        ")
    s"""SELECT CAST(v.server AS VARCHAR) AS server,
        CAST(v.subject_cn AS VARCHAR) AS subject_cn,
        CAST(v.issuer_cn AS VARCHAR) AS issuer_cn,
        CAST(v.serial AS BIGINT) AS serial,
        CAST(v.not_before AS BIGINT) AS not_before,
        CAST(v.not_after AS BIGINT) AS not_after,
        CAST(v.san_count AS INT) AS san_count,
        CAST(v.self_signed AS BOOLEAN) AS self_signed,
        CAST(v.n_sessions AS BIGINT) AS n_sessions,
        CAST(v.expired AS BOOLEAN) AS expired
        FROM (VALUES $rows)
          AS v(server, subject_cn, issuer_cn, serial, not_before,
            not_after, san_count, self_signed, n_sessions, expired)"""
  }

  /** QUIC long-header capture (see
    * [[graft.pcap.PcapSynth.quicPackets]]). */
  private def quicSynthPath: String = {
    val p = java.nio.file.Paths.get("/tmp/graft_synth_quic.pcap")
    graft.pcap.PcapSynth.ensureQuicFile(p, 120)
    p.toString
  }

  /** Constant oracle for pcap_quic_inventory: replay the population
    * rotation (version by i%4, dcid_len 8+i%5, one distinct client per
    * session, VNEG sourced from the server). */
  private def quicInventoryOracle(n: Int): String = {
    val acc = scala.collection.mutable.LinkedHashMap[String,
      (Long, scala.collection.mutable.Set[Int], Int)]()
    for (i <- 0 until n) {
      val name = (i % 4) match {
        case 0 => "v1"
        case 1 => "v2"
        case 2 => "draft-29"
        case _ => "negotiation"
      }
      val (c, cl, mx) = acc.getOrElse(name,
        (0L, scala.collection.mutable.Set.empty[Int], 0))
      cl += i
      acc(name) = (c + 1, cl, math.max(mx, graft.pcap.PcapSynth.quicDcidLen(i)))
    }
    val rows = acc.map { case (name, (c, cl, mx)) =>
      s"('198.51.100.44', '$name', $c, ${cl.size}, $mx, ${name == "negotiation"})"
    }.mkString(",\n        ")
    s"""SELECT CAST(v.server AS VARCHAR) AS server,
        CAST(v.version_name AS VARCHAR) AS version_name,
        CAST(v.n_pkts AS BIGINT) AS n_pkts,
        CAST(v.n_clients AS BIGINT) AS n_clients,
        CAST(v.max_dcid_len AS INT) AS max_dcid_len,
        CAST(v.is_negotiation AS BOOLEAN) AS is_negotiation
        FROM (VALUES $rows)
          AS v(server, version_name, n_pkts, n_clients, max_dcid_len,
            is_negotiation)"""
  }

  /** Protected QUIC client-Initial capture (see
    * [[graft.pcap.PcapSynth.quicInitialPackets]]). */
  private def quicSniSynthPath: String = {
    val p = java.nio.file.Paths.get("/tmp/graft_synth_quic_sni.pcap")
    graft.pcap.PcapSynth.ensureQuicInitialFile(p, 96)
    p.toString
  }

  /** Constant oracle for pcap_quic_sni: replay the 24-flow rotation —
    * ClientHello fields from [[graft.pcap.PcapSynth.tlsClientHello]](f),
    * QUIC version v2 iff f%3 == 2, token/packet-number arithmetic over
    * the 4 sessions i ≡ f (mod 24). The corrupted/short-header/VNEG
    * decoys contribute NOTHING here — the query must reject them via
    * GCM auth and header-form checks. */
  private def quicSniOracle(n: Int): String = {
    val tlds = Array("com", "org", "net")
    val alpns = Array("\'h2\'", "\'http/1.1\'", "NULL")
    val rows = (0 until 24).map { f =>
      val is = (f until n by 24).toSeq
      val sni = f"host$f%03d.example.${tlds(f % 3)}"
      val qv = if (f % 3 == 2) "v2" else "v1"
      val tlsV = if (f % 2 == 1) "TLS1.3" else "TLS1.2"
      val sumTok = is.count(_ % 5 == 0) * 8L
      val maxPn = is.map(_ % 7).max
      s"('198.51.100.77', '$qv', '$sni', ${alpns(f % 3)}, '$tlsV', " +
        s"${is.size}, ${is.size}, ${8 + f % 5}, $sumTok, $maxPn, 1)"
    }.mkString(",\n        ")
    s"""SELECT CAST(v.server AS VARCHAR) AS server,
        CAST(v.quic_version AS VARCHAR) AS quic_version,
        CAST(v.sni AS VARCHAR) AS sni,
        CAST(v.alpn AS VARCHAR) AS alpn,
        CAST(v.tls_version AS VARCHAR) AS tls_version,
        CAST(v.n_pkts AS BIGINT) AS n_pkts,
        CAST(v.n_clients AS BIGINT) AS n_clients,
        CAST(v.cipher_count AS INT) AS cipher_count,
        CAST(v.sum_token_len AS BIGINT) AS sum_token_len,
        CAST(v.max_pkt_num AS BIGINT) AS max_pkt_num,
        CAST(v.n_fps AS BIGINT) AS n_fps
        FROM (VALUES $rows)
          AS v(server, quic_version, sni, alpn, tls_version, n_pkts,
            n_clients, cipher_count, sum_token_len, max_pkt_num, n_fps)"""
  }

  /** SMTP command-stream capture (see
    * [[graft.pcap.PcapSynth.smtpPackets]]). */
  private def smtpSynthPath: String = {
    val p = java.nio.file.Paths.get("/tmp/graft_synth_smtp.pcap")
    graft.pcap.PcapSynth.ensureSmtpFile(p, 140)
    p.toString
  }

  /** Constant oracle for pcap_smtp_audit: replay the session rotation
    * ([[graft.pcap.PcapSynth.smtpPackets]] — envelopes only for
    * i%5 <= 2, STARTTLS at 0, AUTH LOGIN at 2, rcpt fan 1+i%3, sender
    * domain corp(i%7)). */
  private def smtpAuditOracle(n: Int): String = {
    val acc = scala.collection.mutable.LinkedHashMap[String,
      (Long, Long, Long, Long)]()
    for (i <- 0 until n if i % 5 <= 2) {
      val dom = s"corp${i % 7}.example"
      val (se, rc, st, au) = acc.getOrElse(dom, (0L, 0L, 0L, 0L))
      acc(dom) = (se + 1, rc + graft.pcap.PcapSynth.smtpRcpts(i),
        st + (if (i % 5 == 0) 1 else 0), au + (if (i % 5 == 2) 1 else 0))
    }
    val rows = acc.map { case (dom, (se, rc, st, au)) =>
      s"('192.0.2.55', '$dom', $se, $rc, $st, $au, ${st < se})"
    }.mkString(",\n        ")
    s"""SELECT CAST(v.server AS VARCHAR) AS server,
        CAST(v.sender_domain AS VARCHAR) AS sender_domain,
        CAST(v.n_sessions AS BIGINT) AS n_sessions,
        CAST(v.n_rcpts AS BIGINT) AS n_rcpts,
        CAST(v.n_starttls AS BIGINT) AS n_starttls,
        CAST(v.n_plain_auth AS BIGINT) AS n_plain_auth,
        CAST(v.cleartext_exposed AS BOOLEAN) AS cleartext_exposed
        FROM (VALUES $rows)
          AS v(server, sender_domain, n_sessions, n_rcpts, n_starttls,
            n_plain_auth, cleartext_exposed)"""
  }

  /** DGA query/response capture (see
    * [[graft.pcap.PcapSynth.dgaPackets]]). */
  private def dgaSynthPath: String = {
    val p = java.nio.file.Paths.get("/tmp/graft_synth_dga2.pcap")
    graft.pcap.PcapSynth.ensureDgaFile(p, 200)
    p.toString
  }

  /** Constant oracle for pcap_dga_candidates: replay both client
    * populations' query/NXDOMAIN formulas, including the exact digit
    * counts of every [[graft.pcap.PcapSynth.dgaSld]] string. */
  private def dgaOracle(n: Int): String = {
    val acc = scala.collection.mutable.LinkedHashMap[String,
      (Long, Long, Long, Long, Long)]()
    for (i <- 0 until n) {
      val benign = i % 4 <= 1
      val client =
        if (benign) s"10.50.0.${i % 20}" else s"10.51.0.${i % 10}"
      val sld = if (benign) "www" else graft.pcap.PcapSynth.dgaSld(i)
      val nx = if (benign) i % 11 == 0 else i % 7 != 0
      val (q, r, x, sl, sd) = acc.getOrElse(client, (0L, 0L, 0L, 0L, 0L))
      acc(client) = (q + 1, r + 1, x + (if (nx) 1 else 0),
        sl + sld.length, sd + sld.count(_.isDigit))
    }
    val rows = acc.map { case (c, (q, r, x, sl, sd)) =>
      val flag = q >= 10 && x * 10 >= r * 6 && sd * 100 >= sl * 15
      s"('$c', $q, $r, $x, $sl, $sd, $flag)"
    }.mkString(",\n        ")
    s"""SELECT CAST(v.client AS VARCHAR) AS client,
        CAST(v.n_queries AS BIGINT) AS n_queries,
        CAST(v.n_responses AS BIGINT) AS n_responses,
        CAST(v.n_nxdomain AS BIGINT) AS n_nxdomain,
        CAST(v.sum_sld_len AS BIGINT) AS sum_sld_len,
        CAST(v.sum_sld_digits AS BIGINT) AS sum_sld_digits,
        CAST(v.dga_flag AS BOOLEAN) AS dga_flag
        FROM (VALUES $rows)
          AS v(client, n_queries, n_responses, n_nxdomain, sum_sld_len,
            sum_sld_digits, dga_flag)"""
  }

  /** Deterministic ICMP echo/unreachable capture (see
    * [[graft.pcap.PcapSynth.icmpPackets]]). */
  private def icmpSynthPath: String = {
    val p = java.nio.file.Paths.get("/tmp/graft_synth_icmp.pcap")
    graft.pcap.PcapSynth.ensureIcmpFile(p, 50)
    p.toString
  }

  /** Bidirectional HTTP conversation capture (see
    * [[graft.pcap.PcapSynth.httpRrSegments]]). */
  private def httpRrSynthPath: String = {
    val p = java.nio.file.Paths.get("/tmp/graft_synth_httprr2.pcap")
    graft.pcap.PcapSynth.ensureHttpRrFile(p, 50)
    p.toString
  }

  /** Corpus-bridge capture (60 flows; see
    * [[graft.pcap.PcapSynth.httpCorpusSegments]]). The numeric suffix
    * versions the fixture (round 10 added real body framing, round 11
    * mixed-case request-header names): `ensure*` only writes missing
    * files, so an unversioned name could pin a stale capture. */
  private def httpCorpusSynthPath: String = {
    val p = java.nio.file.Paths.get("/tmp/graft_synth_httpcorpus3.pcap")
    graft.pcap.PcapSynth.ensureHttpCorpusFile(p, 60)
    p.toString
  }

  /** Expected corpus rows, re-derived from the synthesis formulas (the
    * constant-oracle pattern of [[httpConvOracle]]): replay the gate
    * and the exact dedup over [[graft.pcap.PcapSynth.corpusBody]].
    * tools/pcap_oracle.py additionally re-derives the same table from
    * the RAW capture bytes in Python, independent of these formulas. */
  private def httpCorpusOracle(n: Int): String = {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xFF}%02x").mkString
    val kept = (0 until n).map { f =>
      (f, s"host${f % 13}.example.com", graft.pcap.PcapSynth.corpusBody(f))
    }.filter { case (_, _, b) =>
      val w = b.split(" ", -1)
      w.length >= 20 &&
        w.distinct.length.toLong * 1000000L / w.length >= 300000L
    }
    val rows = kept.groupBy(_._3).toSeq.map { case (b, fs) =>
      val (f0, host, _) = fs.minBy(_._1)
      (f0, host, b.split(" ", -1).length, fs.size, md5hex(b))
    }.sortBy(_._1).map { case (id, host, nt, nd, h) =>
      s"($id, '$host', $nt, $nd, '$h')"
    }.mkString(",\n        ")
    s"""SELECT CAST(v.doc_id AS BIGINT) AS doc_id,
        CAST(v.host AS VARCHAR) AS host,
        CAST(v.n_tokens AS BIGINT) AS n_tokens,
        CAST(v.n_dups AS BIGINT) AS n_dups,
        CAST(v.body_md5 AS VARCHAR) AS body_md5
        FROM (VALUES $rows)
          AS v(doc_id, host, n_tokens, n_dups, body_md5)"""
  }

  /** Fragmented-DNS capture (see
    * [[graft.pcap.PcapSynth.fragmentedDnsSegments]]). */
  private def fragSynthPath: String = {
    val p = java.nio.file.Paths.get("/tmp/graft_synth_ipfrag.pcap")
    graft.pcap.PcapSynth.ensureFragFile(p, 120)
    p.toString
  }

  /** 802.1Q-tagged office capture (see
    * [[graft.pcap.PcapSynth.vlanPackets]]). */
  private def vlanSynthPath: String = {
    val p = java.nio.file.Paths.get("/tmp/graft_synth_vlan.pcap")
    graft.pcap.PcapSynth.ensureVlanFile(p, 120)
    p.toString
  }

  /** VXLAN-encapsulated DNS capture (see
    * [[graft.pcap.PcapSynth.vxlanPackets]]). */
  private def vxlanSynthPath: String = {
    val p = java.nio.file.Paths.get("/tmp/graft_synth_vxlan.pcap")
    graft.pcap.PcapSynth.ensureVxlanFile(p, 120)
    p.toString
  }

  /** GENEVE-encapsulated DNS capture (see
    * [[graft.pcap.PcapSynth.genevePackets]]). */
  private def geneveSynthPath: String = {
    val p = java.nio.file.Paths.get("/tmp/graft_synth_geneve.pcap")
    graft.pcap.PcapSynth.ensureGeneveFile(p, 120)
    p.toString
  }

  /** Constant oracle for pcap_tcp_retransmits: the overlap fixture's
    * retransmit structure is the same for every flow — in capture
    * order A,R,D,B,C the frontier sweep classifies R (straddles by 5)
    * and B (re-covers R's 7-byte extension) as partial, D (fully
    * below) as a retransmission, A and C as in-order — so the counts
    * are literal constants and only the endpoints and byte totals vary
    * with f (L = |tcpFlowPayload(f)|; total carried = L + 21 because
    * R re-sends 5 bytes and D 9, R's 12-byte segment extends by 7). */
  private def tcpRetransOracle(n: Int): String = {
    val rows = (0 until n).map { f =>
      val l = graft.pcap.PcapSynth.tcpFlowPayload(f).length
      s"('10.7.${f >> 8}.${f & 255}', '10.8.0.1', ${31000 + f}, 80, " +
        s"5, 2, 2, 1, 21, ${l + 21})"
    }.mkString(",\n        ")
    s"""SELECT CAST(v.src AS VARCHAR) AS src,
        CAST(v.dst AS VARCHAR) AS dst,
        CAST(v.src_port AS INT) AS src_port,
        CAST(v.dst_port AS INT) AS dst_port,
        CAST(v.n_seg AS BIGINT) AS n_seg,
        CAST(v.n_inorder AS BIGINT) AS n_inorder,
        CAST(v.n_partial AS BIGINT) AS n_partial,
        CAST(v.n_retrans AS BIGINT) AS n_retrans,
        CAST(v.dup_bytes AS BIGINT) AS dup_bytes,
        CAST(v.total_bytes AS BIGINT) AS total_bytes
        FROM (VALUES $rows) AS v(src, dst, src_port, dst_port, n_seg,
          n_inorder, n_partial, n_retrans, dup_bytes, total_bytes)"""
  }

  /** GRE-encapsulated DNS capture (see
    * [[graft.pcap.PcapSynth.grePackets]]). */
  private def greSynthPath: String = {
    val p = java.nio.file.Paths.get("/tmp/graft_synth_gre.pcap")
    graft.pcap.PcapSynth.ensureGreFile(p, 120)
    p.toString
  }

  /** Constant oracle for pcap_gre_decap: key = 200 + i mod 5, NXDOMAIN
    * when i mod 11 == 0, qname `gre$i.tunnel.example.com.`. */
  private def greDecapOracle(n: Int): String = {
    val rows = (0 until 5).map { k =>
      val is = (0 until n).filter(_ % 5 == k)
      val nx = is.count(_ % 11 == 0)
      val firstQ = is.map(i => s"gre$i.tunnel.example.com.").min
      s"(${200 + k}, ${is.size}, $nx, '$firstQ')"
    }.mkString(",\n        ")
    s"""SELECT CAST(v.key AS BIGINT) AS key,
        CAST(v.n_pkts AS BIGINT) AS n_pkts,
        CAST(v.n_nx AS BIGINT) AS n_nx,
        CAST(v.first_qname AS VARCHAR) AS first_qname
        FROM (VALUES $rows) AS v(key, n_pkts, n_nx, first_qname)"""
  }

  /** DHCP capture (see [[graft.pcap.PcapSynth.dhcpPackets]]). */
  private def dhcpSynthPath: String = {
    val p = java.nio.file.Paths.get("/tmp/graft_synth_dhcp.pcap")
    graft.pcap.PcapSynth.ensureDhcpFile(p, 90)
    p.toString
  }

  /** Constant oracle for pcap_dhcp_servers: the legit server OFFERs
    * and ACKs every client; the rogue OFFERs every 9th (arpPackets-
    * style replay of the emission rules). */
  private def dhcpServersOracle(n: Int): String = {
    val rogues = (0 until n).count(_ % 9 == 0)
    s"""SELECT CAST(v.server_id AS VARCHAR) AS server_id,
        CAST(v.n_offers AS BIGINT) AS n_offers,
        CAST(v.n_acks AS BIGINT) AS n_acks,
        CAST(v.n_clients AS BIGINT) AS n_clients
        FROM (VALUES ('10.95.0.1', $n, $n, $n),
          ('10.95.66.66', $rogues, 0, $rogues))
          AS v(server_id, n_offers, n_acks, n_clients)"""
  }

  /** Constant oracle for pcap_dhcp_rogue_twin: replay the DORA
    * emission loop's packet clock (t/40 seconds) to place every OFFER
    * in its 2-second window; alert rows = windows with ≥ 2 distinct
    * OFFERing servers. */
  private def dhcpRogueOracle(n: Int): String = {
    val offers = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    var t = 0
    for (i <- 0 until n) {
      t += 1 // DISCOVER
      offers += ((1701500000L + t / 40, "10.95.0.1")); t += 1
      if (i % 9 == 0) {
        offers += ((1701500000L + t / 40, "10.95.66.66")); t += 1
      }
      t += 2 // REQUEST + ACK
    }
    val rows = offers.groupBy(o => o._1 - o._1 % 2).toSeq
      .map { case (w, os) =>
        val ss = os.map(_._2).distinct.sorted
        (w, ss.size, ss.head, ss.last)
      }
      .filter(_._2 >= 2).sortBy(_._1)
      .map { case (w, k, a, b) => s"($w, $k, '$a', '$b')" }
      .mkString(",\n        ")
    s"""SELECT CAST(v.window_start_s AS BIGINT) AS window_start_s,
        CAST(v.n_servers AS BIGINT) AS n_servers,
        CAST(v.srv_a AS VARCHAR) AS srv_a,
        CAST(v.srv_b AS VARCHAR) AS srv_b
        FROM (VALUES $rows) AS v(window_start_s, n_servers, srv_a, srv_b)"""
  }

  /** Beacon/noise capture (see [[graft.pcap.PcapSynth.beaconPackets]]). */
  private def beaconSynthPath: String = {
    val p = java.nio.file.Paths.get("/tmp/graft_synth_beacon.pcap")
    graft.pcap.PcapSynth.ensureBeaconFile(p, 24, 18)
    p.toString
  }

  /** Constant oracle for pcap_beacon_candidates: replay the fixture's
    * per-flow gap formulas (beacon period ± jitter; noise LCG) and the
    * detector's integer CV rule — exactly the arithmetic the Spark
    * plan runs, derived independently from the emission rules. */
  private def beaconOracle(nB: Int, nN: Int): String = {
    val flows = Seq.newBuilder[(String, String, Int, Seq[Long])]
    for (c <- 0 until nB) {
      val periodMs = (30L + (c % 5) * 10L) * 1000L
      flows += ((s"10.80.${c >> 8}.${c & 255}", "203.0.113.7", 443,
        (1 until 40).map(k =>
          periodMs + ((c * 37 + k * 101) % 401) - 200)))
    }
    for (b <- 0 until nN) {
      val nPkts = if (b % 5 == 4) 5 else 20
      flows += ((s"10.81.${b >> 8}.${b & 255}", "203.0.113.9",
        if (b % 2 == 0) 443 else 8080,
        (1 until nPkts).map(k =>
          1000L + (b * 2654435761L + k * 40503L) % 60000L)))
    }
    val rows = flows.result().filter(_._4.size >= 8)
      .map { case (src, dst, dp, gaps) =>
        val n = gaps.size.toLong
        val s1 = gaps.sum
        val s2 = gaps.map(g => g * g).sum
        val cv2bp = (n * s2 - s1 * s1) * 10000L / (s1 * s1)
        s"('$src', '$dst', $dp, ${n + 1}, ${s1 / n}, $cv2bp, " +
          s"${cv2bp <= 100})"
      }.mkString(",\n        ")
    s"""SELECT CAST(v.src AS VARCHAR) AS src,
        CAST(v.dst AS VARCHAR) AS dst,
        CAST(v.dst_port AS INT) AS dst_port,
        CAST(v.n_pkts AS BIGINT) AS n_pkts,
        CAST(v.period_ms AS BIGINT) AS period_ms,
        CAST(v.cv2_bp AS BIGINT) AS cv2_bp,
        CAST(v.is_beacon AS BOOLEAN) AS is_beacon
        FROM (VALUES $rows)
          AS v(src, dst, dst_port, n_pkts, period_ms, cv2_bp, is_beacon)"""
  }

  /** Passive-DNS capture (see
    * [[graft.pcap.PcapSynth.passiveDnsPackets]]). */
  private def passiveDnsSynthPath: String = {
    val p = java.nio.file.Paths.get("/tmp/graft_synth_pdns.pcap")
    graft.pcap.PcapSynth.ensurePassiveDnsFile(p, 400)
    p.toString
  }

  /** Constant oracle for pcap_passive_dns: replay the answer-emission
    * formulas (A round-robin per name, CNAME every 4th) and the
    * observation rollup. */
  private def passiveDnsOracle(n: Int): String = {
    val obs = scala.collection.mutable.LinkedHashMap
      .empty[(String, String, String), (Long, Long, Long)]
    def add(k: (String, String, String), ts: Long): Unit =
      obs(k) = obs.get(k) match {
        case Some((c, f, l)) => (c + 1, math.min(f, ts), math.max(l, ts))
        case None => (1L, ts, ts)
      }
    for (i <- 0 until n) {
      val ts = 1703000000L + i
      val name = s"app${i % 40}.svc.example.com."
      add((name, "A", s"10.20.${i % 40}.${1 + i % 3}"), ts)
      if (i % 4 == 0)
        add((name, "CNAME", s"cdn${i % 5}.edge.example.net."), ts)
    }
    val rows = obs.toSeq.map { case ((nm, t, rd), (c, f, l)) =>
      s"('$nm', '$t', '$rd', $c, $f, $l)"
    }.mkString(",\n        ")
    s"""SELECT CAST(v.rrname AS VARCHAR) AS rrname,
        CAST(v.rrtype AS VARCHAR) AS rrtype,
        CAST(v.rdata AS VARCHAR) AS rdata,
        CAST(v.n_obs AS BIGINT) AS n_obs,
        CAST(v.first_seen AS BIGINT) AS first_seen,
        CAST(v.last_seen AS BIGINT) AS last_seen
        FROM (VALUES $rows)
          AS v(rrname, rrtype, rdata, n_obs, first_seen, last_seen)"""
  }

  /** Constant oracle for pcap_nod_twin: the first observation of
    * qname `app{q}.svc.example.com` is response i = q. */
  private def nodOracle(n: Int): String = {
    val rows = (0 until math.min(40, n)).map { q =>
      s"('app$q.svc.example.com.', ${1703000000L + q})"
    }.mkString(",\n        ")
    s"""SELECT CAST(v.rrname AS VARCHAR) AS rrname,
        CAST(v.first_seen AS BIGINT) AS first_seen
        FROM (VALUES $rows) AS v(rrname, first_seen)"""
  }

  /** DNS response-integrity capture (see
    * [[graft.pcap.PcapSynth.dnsSpoofPackets]]). */
  private def dnsSpoofSynthPath: String = {
    val p = java.nio.file.Paths.get("/tmp/graft_synth_dnsspoof.pcap")
    graft.pcap.PcapSynth.ensureDnsSpoofFile(p, 280)
    p.toString
  }

  /** Constant oracle for pcap_dns_spoof_candidates: replay the per-i
    * populations — every i queries resolver 192.0.2.(30 + i%2) and
    * gets one matched answer; i%7==0 adds one wrong-txid orphan,
    * i%11==0 adds one same-txid different-answer race. */
  private def dnsSpoofOracle(n: Int): String = {
    val acc = scala.collection.mutable.LinkedHashMap
      .empty[String, (Long, Long, Long, Long)]
    for (i <- 0 until n) {
      val r = s"192.0.2.${30 + i % 2}"
      val (q, rsp, o, race) = acc.getOrElse(r, (0L, 0L, 0L, 0L))
      acc(r) = (q + 1,
        rsp + 1 + (if (i % 7 == 0) 1 else 0) + (if (i % 11 == 0) 1 else 0),
        o + (if (i % 7 == 0) 1 else 0),
        race + (if (i % 11 == 0) 1 else 0))
    }
    val rows = acc.toSeq.map { case (r, (q, rsp, o, race)) =>
      s"('$r', $q, $rsp, $o, $race)"
    }.mkString(",\n        ")
    s"""SELECT CAST(v.resolver AS VARCHAR) AS resolver,
        CAST(v.n_query AS BIGINT) AS n_query,
        CAST(v.n_resp AS BIGINT) AS n_resp,
        CAST(v.n_orphan AS BIGINT) AS n_orphan,
        CAST(v.n_race AS BIGINT) AS n_race
        FROM (VALUES $rows) AS v(resolver, n_query, n_resp, n_orphan,
          n_race)"""
  }

  /** SYN capture for OS fingerprinting (see
    * [[graft.pcap.PcapSynth.osSynPackets]]). */
  private def osSynthPath: String = {
    val p = java.nio.file.Paths.get("/tmp/graft_synth_ossyn.pcap")
    graft.pcap.PcapSynth.ensureOsSynFile(p, 260)
    p.toString
  }

  /** TTL path-stability capture (see
    * [[graft.pcap.PcapSynth.ttlPathPackets]]). */
  private def ttlPathSynthPath: String = {
    val p = java.nio.file.Paths.get("/tmp/graft_synth_ttlpath.pcap")
    graft.pcap.PcapSynth.ensureTtlPathFile(p, 210)
    p.toString
  }

  /** Exfiltration-asymmetry capture (see
    * [[graft.pcap.PcapSynth.exfilPackets]]). */
  private def exfilSynthPath: String = {
    val p = java.nio.file.Paths.get("/tmp/graft_synth_exfil.pcap")
    graft.pcap.PcapSynth.ensureExfilFile(p, 180)
    p.toString
  }

  /** Constant oracle for pcap_exfil_candidates: replay the browsing /
    * exfil / backup populations and the byte-asymmetry rule. */
  private def exfilOracle(n: Int): String = {
    val rows = Seq.newBuilder[String]
    for (i <- 0 until n) {
      val host = s"10.88.${i >> 8}.${i & 255}"
      (i % 3) match {
        case 0 =>
          for (k <- 0 until 3)
            rows += s"('203.0.113.${(3 * i + k) % 60}', '$host', " +
              s"200, 7000, 7, false, false, false)"
        case 1 =>
          rows += s"('198.51.100.${70 + i % 3}', '$host', " +
            s"28000, 120, 22, false, true, true)"
        case _ =>
          rows += s"('192.0.2.10', '$host', 28000, 120, 22, " +
            s"true, true, false)"
      }
    }
    s"""SELECT CAST(v.ext AS VARCHAR) AS ext,
        CAST(v.host AS VARCHAR) AS host,
        CAST(v.bytes_out AS BIGINT) AS bytes_out,
        CAST(v.bytes_in AS BIGINT) AS bytes_in,
        CAST(v.n_pkts AS BIGINT) AS n_pkts,
        CAST(v.allowlisted AS BOOLEAN) AS allowlisted,
        CAST(v.upload_heavy AS BOOLEAN) AS upload_heavy,
        CAST(v.exfil_candidate AS BOOLEAN) AS exfil_candidate
        FROM (VALUES ${rows.result().mkString(",\n        ")})
          AS v(ext, host, bytes_out, bytes_in, n_pkts, allowlisted,
            upload_heavy, exfil_candidate)"""
  }

  /** Constant oracle for pcap_flow_size_histogram: replay BOTH
    * captures' per-flow byte totals (flow-export syslog flows and the
    * exfil populations) and fold into log2 buckets. */
  private def flowSizeHistogramOracle(nFe: Int, nEx: Int): String = {
    val flows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    // flow-export capture: flow i = 6 packets (3 bursts of 1+(i+b)%3
    // sums to 6) of size 62 + (i%5)*10, one directional 5-tuple each
    for (i <- 0 until nFe)
      flows += ((6L * (62 + (i % 5) * 10), 6L))
    // exfil capture: browsing i%3==0 -> per server k: up 2x142,
    // down 5x1442; exfil/backup -> up 20x1442, down 2x102
    for (i <- 0 until nEx) (i % 3) match {
      case 0 =>
        for (_ <- 0 until 3) {
          flows += ((2L * 142, 2L))
          flows += ((5L * 1442, 5L))
        }
      case _ =>
        flows += ((20L * 1442, 20L))
        flows += ((2L * 102, 2L))
    }
    val acc = scala.collection.mutable.Map
      .empty[Int, (Long, Long, Long)]
    for ((bytes, pkts) <- flows) {
      val bucket = 63 - java.lang.Long.numberOfLeadingZeros(bytes)
      val (f, b, p) = acc.getOrElse(bucket, (0L, 0L, 0L))
      acc(bucket) = (f + 1, b + bytes, p + pkts)
    }
    val rows = acc.toSeq.sortBy(_._1).map { case (k, (f, b, p)) =>
      s"($k, $f, $b, $p)"
    }.mkString(",\n        ")
    s"""SELECT CAST(v.bucket AS INT) AS bucket,
        CAST(v.n_flows AS BIGINT) AS n_flows,
        CAST(v.sum_bytes AS BIGINT) AS sum_bytes,
        CAST(v.sum_pkts AS BIGINT) AS sum_pkts
        FROM (VALUES $rows)
          AS v(bucket, n_flows, sum_bytes, sum_pkts)"""
  }

  /** Sensor-health capture (see [[graft.pcap.PcapSynth.gapPackets]]). */
  private def gapSynthPath: String = {
    val p = java.nio.file.Paths.get("/tmp/graft_synth_gaps.pcap")
    graft.pcap.PcapSynth.ensureGapFile(p, 500)
    p.toString
  }

  /** Constant oracle for pcap_capture_gaps: the three planted drops
    * (previous-packet µs, gap µs). */
  private def captureGapsOracle(): String = {
    val base = 1760000000L * 1000000L
    // packet i lands at base + (i+1)*1000 + accumulated gap bumps
    val g1 = base + 101L * 1000
    val g2 = base + 251L * 1000 + 2000000L
    val g3 = base + 401L * 1000 + 2000000L + 5000000L
    val rows = Seq(
      (g1, 2001000L), (g2, 5001000L), (g3, 30001000L))
      .map { case (p, g) => s"($p, $g)" }.mkString(",\n        ")
    s"""SELECT CAST(v.gap_start_micro AS BIGINT) AS gap_start_micro,
        CAST(v.gap_micro AS BIGINT) AS gap_micro
        FROM (VALUES $rows) AS v(gap_start_micro, gap_micro)"""
  }

  /** Mixed-quality capture (see
    * [[graft.pcap.PcapSynth.malformedPackets]]). */
  private def malformedSynthPath: String = {
    val p = java.nio.file.Paths.get("/tmp/graft_synth_malformed.pcap")
    graft.pcap.PcapSynth.ensureMalformedFile(p, 150)
    p.toString
  }

  /** Constant oracle for pcap_decode_depth_census: replay the five
    * population classes and their exact frame sizes. */
  private def decodeDepthOracle(n: Int): String = {
    val per = n / 5
    // frame sizes from the generator: UDP 14+20+8+16, TCP 14+20+20,
    // ARP 14+20, truncated 22, proto-132 14+20+12
    val rows = Seq(
      ("l4_decoded", 2L * per, per.toLong * 58 + per.toLong * 54),
      ("l2_only", per.toLong, per.toLong * 34),
      ("l3_truncated", per.toLong, per.toLong * 22),
      ("l3_unsupported_l4", per.toLong, per.toLong * 46))
      .map { case (dep, c, b) => s"('$dep', $c, $b)" }
      .mkString(",\n        ")
    s"""SELECT CAST(v.depth AS VARCHAR) AS depth,
        CAST(v.n AS BIGINT) AS n,
        CAST(v.n_bytes AS BIGINT) AS n_bytes
        FROM (VALUES $rows) AS v(depth, n, n_bytes)"""
  }

  /** UDP-traceroute capture (see
    * [[graft.pcap.PcapSynth.traceroutePackets]]). */
  private def tracerouteSynthPath: String = {
    val p = java.nio.file.Paths.get("/tmp/graft_synth_traceroute.pcap")
    graft.pcap.PcapSynth.ensureTracerouteFile(p, 120)
    p.toString
  }

  /** Constant oracle for pcap_passive_traceroute: replay the trace
    * populations — router-per-hop formula, completion rule, and the
    * ordered path join. */
  private def tracerouteOracle(n: Int): String = {
    val rows = (0 until n).map { t =>
      val prober = s"10.77.0.${t % 50}"
      val target = s"203.0.113.${t % 30}"
      val hops = 3 + t % 4
      val reached = t % 5 != 0
      val nTe = if (reached) hops - 1 else hops
      val path = (1 to nTe).map(k => s"198.18.$k.${t % 20}")
        .mkString(">")
      s"('$prober', '$target', $nTe, ${if (reached) hops - 1 else hops}, " +
        s"$reached, '$path')"
    }.mkString(",\n        ")
    s"""SELECT CAST(v.prober AS VARCHAR) AS prober,
        CAST(v.target AS VARCHAR) AS target,
        CAST(v.n_hops_seen AS BIGINT) AS n_hops_seen,
        CAST(v.last_hop AS INT) AS last_hop,
        CAST(v.reached AS BOOLEAN) AS reached,
        CAST(v.path AS VARCHAR) AS path
        FROM (VALUES $rows)
          AS v(prober, target, n_hops_seen, last_hop, reached, path)"""
  }

  /** Constant oracle for pcap_ttl_path: replay the three flow
    * populations (stable / flapping / spoof-mix) and the hop math. */
  private def ttlPathOracle(n: Int): String = {
    val rows = (0 until n).map { i =>
      val src = s"10.70.${i >> 8}.${i & 255}"
      val dst = s"198.51.100.${i % 40}"
      val (nTtls, nClasses, minH, maxH, change, spoof) = (i % 3) match {
        case 0 => (1, 1, 3 + i % 5, 3 + i % 5, false, false)
        case 1 => (2, 1, 4, 9, true, false)
        case _ => (2, 2, 4, 8, false, true)
      }
      s"('$src', '$dst', 5, $nTtls, $nClasses, $minH, $maxH, " +
        s"$change, $spoof)"
    }.mkString(",\n        ")
    s"""SELECT CAST(v.src AS VARCHAR) AS src,
        CAST(v.dst AS VARCHAR) AS dst,
        CAST(v.n_pkts AS BIGINT) AS n_pkts,
        CAST(v.n_ttls AS BIGINT) AS n_ttls,
        CAST(v.n_classes AS BIGINT) AS n_classes,
        CAST(v.min_hops AS INT) AS min_hops,
        CAST(v.max_hops AS INT) AS max_hops,
        CAST(v.path_change AS BOOLEAN) AS path_change,
        CAST(v.spoof_suspect AS BOOLEAN) AS spoof_suspect
        FROM (VALUES $rows)
          AS v(src, dst, n_pkts, n_ttls, n_classes, min_hops, max_hops,
            path_change, spoof_suspect)"""
  }

  /** Constant oracle for pcap_os_fingerprint: replay the population
    * signatures and hop formulas. */
  private def osFingerprintOracle(n: Int): String = {
    val acc = scala.collection.mutable.Map
      .empty[(String, Int, Int), (Long, Set[String], Int)]
    def add(k: (String, Int, Int), host: String, hops: Int): Unit = {
      val (c, hs, mh) = acc.getOrElse(k, (0L, Set.empty[String], 0))
      acc(k) = (c + 1, hs + host, math.max(mh, hops))
    }
    for (i <- 0 until n) {
      val (os, initTtl, win, hops) = (i % 4) match {
        case 0 => ("linux", 64, 29200, 1 + i % 5)
        case 1 => ("windows", 128, 64240, 2 + i % 7)
        case 2 => ("macos", 64, 65535, 1 + i % 3)
        case _ => ("embedded", 255, 8192, 3 + i % 4)
      }
      add((os, initTtl, win), s"10.60.${i >> 8}.${i & 255}", hops)
      if (i % 13 == 0)
        add(("unknown", 255, 512), s"10.61.${i >> 8}.${i & 255}",
          255 - (200 + i % 20))
    }
    val rows = acc.toSeq.sortBy(_._1)
      .map { case ((os, t, w), (c, hs, mh)) =>
        s"('$os', $t, $w, $c, ${hs.size}, $mh)"
      }.mkString(",\n        ")
    s"""SELECT CAST(v.os_guess AS VARCHAR) AS os_guess,
        CAST(v.initial_ttl AS INT) AS initial_ttl,
        CAST(v.tcp_window AS INT) AS tcp_window,
        CAST(v.n_syn AS BIGINT) AS n_syn,
        CAST(v.n_hosts AS BIGINT) AS n_hosts,
        CAST(v.max_hops AS INT) AS max_hops
        FROM (VALUES $rows)
          AS v(os_guess, initial_ttl, tcp_window, n_syn, n_hosts,
            max_hops)"""
  }

  /** SYN option-fingerprint capture (see
    * [[graft.pcap.PcapSynth.synOptPackets]]). */
  private def synOptSynthPath: String = {
    val p = java.nio.file.Paths.get("/tmp/graft_synth_synopt.pcap")
    graft.pcap.PcapSynth.ensureSynOptFile(p, 240)
    p.toString
  }

  /** Constant oracle for pcap_tcp_syn_options: replay the four option
    * templates and the MSS rotation over the SYN side only (the
    * SYN|ACKs carry options too but the SYN-only predicate drops
    * them). Every client is distinct per i, so n_hosts == n_syn per
    * group by construction. */
  private def synOptOracle(n: Int): String = {
    val acc = scala.collection.mutable.LinkedHashMap
      .empty[(Option[Int], Option[Int], Boolean, Boolean), Long]
    for (i <- 0 until n) {
      val mss = 1400 + (i % 5) * 20
      val k = (i % 4) match {
        case 0 => (Some(mss), Some(7), true, true)
        case 1 => (Some(mss), Some(8), true, false)
        case 2 => (Some(mss), Some(6), true, true)
        case _ => (None, None, false, false)
      }
      acc(k) = acc.getOrElse(k, 0L) + 1L
    }
    val rows = acc.map { case ((mss, ws, sack, ts), c) =>
      s"(${mss.map(_.toString).getOrElse("NULL")}, " +
        s"${ws.map(_.toString).getOrElse("NULL")}, $sack, $ts, $c, $c)"
    }.mkString(",\n        ")
    s"""SELECT CAST(v.mss AS INT) AS tcp_mss,
        CAST(v.ws AS INT) AS tcp_wscale,
        CAST(v.sack AS BOOLEAN) AS tcp_sack_ok,
        CAST(v.ts AS BOOLEAN) AS tcp_ts_ok,
        CAST(v.n_syn AS BIGINT) AS n_syn,
        CAST(v.n_hosts AS BIGINT) AS n_hosts
        FROM (VALUES $rows) AS v(mss, ws, sack, ts, n_syn, n_hosts)"""
  }

  /** SSH capture (see [[graft.pcap.PcapSynth.sshPackets]]). */
  private def sshSynthPath: String = {
    val p = java.nio.file.Paths.get("/tmp/graft_synth_ssh.pcap")
    graft.pcap.PcapSynth.ensureSshFile(p, 200)
    p.toString
  }

  /** Constant oracle for pcap_ssh_inventory: replay the population
    * rotation — server 192.0.2.(21+p) emits banner p for every
    * i ≡ p (mod 4), each session from a distinct client. */
  private def sshInventoryOracle(n: Int): String = {
    val rows = (0 until 4).map { p =>
      val count = (0 until n).count(_ % 4 == p)
      val banner = graft.pcap.PcapSynth.sshBanner(p)
      s"('192.0.2.${21 + p}', '$banner', $count, $count, " +
        s"${!banner.startsWith("SSH-2.0")})"
    }.mkString(",\n        ")
    s"""SELECT CAST(v.server AS VARCHAR) AS server,
        CAST(v.banner AS VARCHAR) AS banner,
        CAST(v.n_banners AS BIGINT) AS n_banners,
        CAST(v.n_clients AS BIGINT) AS n_clients,
        CAST(v.is_legacy AS BOOLEAN) AS is_legacy
        FROM (VALUES $rows)
          AS v(server, banner, n_banners, n_clients, is_legacy)"""
  }

  /** NTP capture (see [[graft.pcap.PcapSynth.ntpPackets]]). */
  private def ntpSynthPath: String = {
    val p = java.nio.file.Paths.get("/tmp/graft_synth_ntp.pcap")
    graft.pcap.PcapSynth.ensureNtpFile(p, 140)
    p.toString
  }

  /** Constant oracle for pcap_ntp_amplification: replay the benign
    * poll pairs (48 B each way per client) and the monlist exchanges
    * (all i ≡ 0 (mod 7) collapse onto ONE (reflector, victim) pair:
    * 8 B request + 4 × 440 B responses each). */
  private def ntpAmplificationOracle(n: Int): String = {
    val rows = Seq.newBuilder[String]
    for (i <- 0 until n) {
      val client = s"10.95.${i >> 8}.${i & 255}"
      rows += s"('198.51.100.5', '$client', 1, 1, 48, 48, 0, 10, false)"
    }
    val nAmp = (0 until n).count(_ % 7 == 0)
    val reqB = nAmp * 8L
    val respB = nAmp * 4L * 440L
    rows += s"('198.51.100.9', '203.0.113.66', $nAmp, ${nAmp * 4}, " +
      s"$reqB, $respB, ${nAmp * 5}, ${respB * 10 / reqB}, true)"
    s"""SELECT CAST(v.server AS VARCHAR) AS server,
        CAST(v.client AS VARCHAR) AS client,
        CAST(v.req_pkts AS BIGINT) AS req_pkts,
        CAST(v.resp_pkts AS BIGINT) AS resp_pkts,
        CAST(v.req_bytes AS BIGINT) AS req_bytes,
        CAST(v.resp_bytes AS BIGINT) AS resp_bytes,
        CAST(v.n_mode7 AS BIGINT) AS n_mode7,
        CAST(v.amp_x10 AS BIGINT) AS amp_x10,
        CAST(v.amplified AS BOOLEAN) AS amplified
        FROM (VALUES ${rows.result().mkString(",\n        ")})
          AS v(server, client, req_pkts, resp_pkts, req_bytes,
            resp_bytes, n_mode7, amp_x10, amplified)"""
  }

  /** capinfos multi-file capture dir (see
    * [[graft.pcap.PcapSynth.capinfoPackets]]). */
  private def capinfoSynthDir: String = {
    val p = java.nio.file.Paths.get("/tmp/graft_synth_capdir")
    graft.pcap.PcapSynth.ensureCapinfoDir(p, 3)
    p.toString
  }

  /** Constant oracle for pcap_capinfos: file f = 40+10f packets one
    * second apart from 1707000000+100f, frame size 58+8f each. */
  private def capinfosOracle(nFiles: Int): String = {
    val rows = (0 until nFiles).map { f =>
      val n = 40 + 10 * f
      val sz = 58 + 8 * f
      val first = (1707000000L + 100L * f) * 1000000L
      val last = first + (n - 1) * 1000000L
      val bytes = n.toLong * sz
      s"('cap0$f.pcap', $n, $first, $last, $bytes, ${n - 1}, " +
        s"${bytes * 1000000L / (last - first)})"
    }.mkString(",\n        ")
    s"""SELECT CAST(v.file_name AS VARCHAR) AS file_name,
        CAST(v.n_pkts AS BIGINT) AS n_pkts,
        CAST(v.first_ts AS BIGINT) AS first_ts,
        CAST(v.last_ts AS BIGINT) AS last_ts,
        CAST(v.total_bytes AS BIGINT) AS total_bytes,
        CAST(v.duration_s AS BIGINT) AS duration_s,
        CAST(v.rate_bps AS BIGINT) AS rate_bps
        FROM (VALUES $rows)
          AS v(file_name, n_pkts, first_ts, last_ts, total_bytes,
            duration_s, rate_bps)"""
  }

  /** Typosquat DNS-query capture (see
    * [[graft.pcap.PcapSynth.typoDnsPackets]]). */
  private def typoDnsSynthPath: String = {
    val p = java.nio.file.Paths.get("/tmp/graft_synth_typodns.pcap")
    graft.pcap.PcapSynth.ensureTypoDnsFile(p, 300)
    p.toString
  }

  /** Classic DP edit distance — the oracle's OWN implementation, so
    * the constant table never depends on Spark's `levenshtein`. */
  private def editDist(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  /** Constant oracle for pcap_dns_typosquat: replay the query-rotation
    * formulas, dedupe to per-domain observation counts, and re-run the
    * detector's match rule (dist ≤ 2, not exact) with the independent
    * DP distance. */
  private def typosquatOracle(n: Int): String = {
    val obs = scala.collection.mutable.LinkedHashMap
      .empty[String, (Long, Set[String])]
    for (i <- 0 until n) {
      val qname = (i % 3) match {
        case 0 => graft.pcap.PcapSynth.popularDomains(
          i % graft.pcap.PcapSynth.popularDomains.size)
        case 1 => graft.pcap.PcapSynth.typoDomains(
          (i / 3) % graft.pcap.PcapSynth.typoDomains.size)._1
        case _ => s"svc${i % 10}.example.org"
      }
      val client = s"10.96.${i >> 8}.${i & 255}"
      val (c, cs) = obs.getOrElse(qname, (0L, Set.empty[String]))
      obs(qname) = (c + 1, cs + client)
    }
    val rows = obs.toSeq.flatMap { case (domain, (c, cs)) =>
      graft.pcap.PcapSynth.popularDomains.collect {
        case p if domain != p && editDist(domain, p) <= 2 =>
          s"('$domain', '$p', ${editDist(domain, p)}, $c, ${cs.size})"
      }
    }.mkString(",\n        ")
    s"""SELECT CAST(v.domain AS VARCHAR) AS domain,
        CAST(v.popular AS VARCHAR) AS popular,
        CAST(v.edit_dist AS INT) AS edit_dist,
        CAST(v.n_queries AS BIGINT) AS n_queries,
        CAST(v.n_clients AS BIGINT) AS n_clients
        FROM (VALUES $rows)
          AS v(domain, popular, edit_dist, n_queries, n_clients)"""
  }

  /** TCP connection-mix capture (see
    * [[graft.pcap.PcapSynth.connCensusPackets]]). */
  private def connCensusSynthPath: String = {
    val p = java.nio.file.Paths.get("/tmp/graft_synth_conncensus.pcap")
    graft.pcap.PcapSynth.ensureConnCensusFile(p, 200)
    p.toString
  }

  /** Constant oracle for pcap_tcp_conn_census: replay the i % 5 state
    * rotation; every frame is 54 B (eth+ip+tcp) + payload. */
  private def connCensusOracle(n: Int): String = {
    val acc = scala.collection.mutable.LinkedHashMap
      .empty[(String, String), (Long, Long, Long)]
    for (i <- 0 until n) {
      val server = s"192.0.2.${40 + i % 4}"
      val (state, payloads) = (i % 5) match {
        case 0 => ("attempt", Seq(0, 0, 0))
        case 1 => ("refused", Seq(0, 0))
        case 2 => ("closed", Seq(0, 0, 0, 100, 200, 0, 0, 0))
        case 3 => ("reset", Seq(0, 0, 0, 100, 0))
        case _ => ("open", Seq(0, 0, 0, 100, 200, 100, 200))
      }
      val (c, p, b) = acc.getOrElse((server, state), (0L, 0L, 0L))
      acc((server, state)) =
        (c + 1, p + payloads.size, b + payloads.map(54L + _).sum)
    }
    val rows = acc.toSeq.map { case ((sv, st), (c, p, b)) =>
      s"('$sv', '$st', $c, $p, $b)"
    }.mkString(",\n        ")
    s"""SELECT CAST(v.server AS VARCHAR) AS server,
        CAST(v.state AS VARCHAR) AS state,
        CAST(v.n_conns AS BIGINT) AS n_conns,
        CAST(v.n_pkts AS BIGINT) AS n_pkts,
        CAST(v.n_bytes AS BIGINT) AS n_bytes
        FROM (VALUES $rows)
          AS v(server, state, n_conns, n_pkts, n_bytes)"""
  }

  /** Bursty-UDP capture (see
    * [[graft.pcap.PcapSynth.flowExportPackets]]). */
  private def flowExportSynthPath: String = {
    val p = java.nio.file.Paths.get("/tmp/graft_synth_flowexport.pcap")
    graft.pcap.PcapSynth.ensureFlowExportFile(p, 60)
    p.toString
  }

  /** Constant oracle for pcap_flow_export: replay the burst formulas —
    * each of the 3 bursts per tuple is its own flow record (bursts sit
    * 120 s apart, beyond the 60 s idle timeout; intra-burst spacing is
    * 1 s). UDP frame = 42 B + payload. */
  /** The NetFlow-style flow relation over the flow-export capture —
    * shared by pcap_flow_export and pcap_flow_percentiles (one
    * derivation, two consumers). */
  private def exportedFlows(s: SparkSession): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window
      .partitionBy($"src", $"dst", $"src_port", $"dst_port")
      .orderBy($"ts_micro")
    s.read.format("pcap").load(flowExportSynthPath)
      .filter($"protocol" === "UDP")
      .select($"src", $"dst", $"src_port", $"dst_port",
        $"ts_micro", $"size")
      .withColumn("new_flow",
        when(lag($"ts_micro", 1).over(w).isNull ||
          $"ts_micro" - lag($"ts_micro", 1).over(w) >
            60L * 1000000L, 1L).otherwise(0L))
      .withColumn("flow_seq", sum($"new_flow").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"src", $"dst", $"src_port", $"dst_port",
        $"flow_seq")
      .agg(min($"ts_micro").as("first_ts"),
        max($"ts_micro").as("last_ts"),
        count(lit(1)).as("n_pkts"),
        sum($"size").as("n_bytes"))
  }

  /** Constant oracle for pcap_flow_percentiles: replay the flow
    * synthesis formulas (flowExportOracle doc) per dst endpoint and
    * select the exact order statistics with the same positional
    * rules as the query. */
  private def flowPercentilesOracle(n: Int): String = {
    val flows = for (i <- 0 until n; b <- 0 until 3) yield {
      val npk = 1 + (i + b) % 3
      val fsz = 42L + 20 + (i % 5) * 10
      (s"192.0.2.${50 + i % 3}", npk * fsz, (npk - 1) * 1000000L)
    }
    def stats(vs: Seq[Long]): (Int, Double, Long, Long) = {
      val s0 = vs.sorted
      val m = s0.length
      val med =
        if (m % 2 == 1) s0(m / 2).toDouble
        else (s0(m / 2 - 1) + s0(m / 2)) / 2.0
      (m, med, s0((9 * m + 9) / 10 - 1), s0((99 * m + 99) / 100 - 1))
    }
    val rows = flows.groupBy(_._1).toSeq.sortBy(_._1).flatMap {
      case (dst, fs) =>
        val (nb, medB, p90B, p99B) = stats(fs.map(_._2))
        val (_, medD, p90D, p99D) = stats(fs.map(_._3))
        Seq(s"('$dst', 'bytes', $nb, $medB, $p90B, $p99B)",
          s"('$dst', 'dur_us', $nb, $medD, $p90D, $p99D)")
    }.mkString(",\n        ")
    s"""SELECT CAST(v.dst AS VARCHAR) AS dst,
        CAST(v.metric AS VARCHAR) AS metric,
        CAST(v.n_flows AS BIGINT) AS n_flows,
        CAST(v.median AS DOUBLE) AS median,
        CAST(v.p90 AS BIGINT) AS p90,
        CAST(v.p99 AS BIGINT) AS p99
        FROM (VALUES $rows)
          AS v(dst, metric, n_flows, median, p90, p99)"""
  }

  private def flowExportOracle(n: Int): String = {
    val rows = (for (i <- 0 until n; b <- 0 until 3) yield {
      val npk = 1 + (i + b) % 3
      val first = (1710000000L + i * 7L + b * 120L) * 1000000L +
        (i % 1000) * 41L
      val fsz = 42L + 20 + (i % 5) * 10
      s"('10.99.${i >> 8}.${i & 255}', '192.0.2.${50 + i % 3}', " +
        s"${50000 + i}, 514, ${b + 1}, $first, " +
        s"${first + (npk - 1) * 1000000L}, $npk, ${npk * fsz})"
    }).mkString(",\n        ")
    s"""SELECT CAST(v.src AS VARCHAR) AS src,
        CAST(v.dst AS VARCHAR) AS dst,
        CAST(v.src_port AS INT) AS src_port,
        CAST(v.dst_port AS INT) AS dst_port,
        CAST(v.flow_seq AS BIGINT) AS flow_seq,
        CAST(v.first_ts AS BIGINT) AS first_ts,
        CAST(v.last_ts AS BIGINT) AS last_ts,
        CAST(v.n_pkts AS BIGINT) AS n_pkts,
        CAST(v.n_bytes AS BIGINT) AS n_bytes
        FROM (VALUES $rows)
          AS v(src, dst, src_port, dst_port, flow_seq, first_ts,
            last_ts, n_pkts, n_bytes)"""
  }

  /** Fast-flux resolver-response capture (see
    * [[graft.pcap.PcapSynth.fastfluxPackets]]). */
  private def fastfluxSynthPath: String = {
    val p = java.nio.file.Paths.get("/tmp/graft_synth_fastflux.pcap")
    graft.pcap.PcapSynth.ensureFastfluxFile(p, 240)
    p.toString
  }

  /** Constant oracle for pcap_dns_fastflux: replay the per-population
    * answer pools and re-apply the flag rule (n_ips ≥ 10 ∧ n_subnets ≥ 5
    * ∧ max_ttl ≤ 300). */
  private def fastfluxOracle(n: Int): String = {
    val acc = scala.collection.mutable.LinkedHashMap
      .empty[String, (Long, Set[String], Set[String], Long, Long)]
    def ip(pop: Int, idx: Int): String =
      graft.pcap.PcapSynth.fastfluxIp(pop, idx)
        .map(b => b & 0xFF).mkString(".")
    def add(name: String, ttl: Long, a: String): Unit = {
      val (c, ips, sns, mn, mx) = acc.getOrElse(name,
        (0L, Set.empty[String], Set.empty[String], Long.MaxValue, 0L))
      acc(name) = (c + 1, ips + a,
        sns + a.substring(0, a.lastIndexOf('.')),
        math.min(mn, ttl), math.max(mx, ttl))
    }
    for (i <- 0 until n) {
      val j = i / 4
      (i % 4) match {
        case 0 => for (k <- 0 until 3)
          add("cdn-flux.bad.", 60L, ip(0, (j * 3 + k) % 30))
        case 1 => for (k <- 0 until 3)
          add("static.bigcdn.com.", 30L, ip(1, (j * 3 + k) % 12))
        case 2 => add("www.corp.example.", 3600L, ip(2, 0))
        case _ => for (k <- 0 until 2)
          add("login-update.bad.", 120L, ip(3, (j * 2 + k) % 20))
      }
    }
    val rows = acc.toSeq.map { case (nm, (c, ips, sns, mn, mx)) =>
      val flag = ips.size >= 10 && sns.size >= 5 && mx <= 300
      s"('$nm', $c, ${ips.size}, ${sns.size}, $mn, $mx, $flag)"
    }.mkString(",\n        ")
    s"""SELECT CAST(v.rrname AS VARCHAR) AS rrname,
        CAST(v.n_obs AS BIGINT) AS n_obs,
        CAST(v.n_ips AS BIGINT) AS n_ips,
        CAST(v.n_subnets AS BIGINT) AS n_subnets,
        CAST(v.min_ttl AS BIGINT) AS min_ttl,
        CAST(v.max_ttl AS BIGINT) AS max_ttl,
        CAST(v.fastflux AS BOOLEAN) AS fastflux
        FROM (VALUES $rows)
          AS v(rrname, n_obs, n_ips, n_subnets, min_ttl, max_ttl,
            fastflux)"""
  }

  /** Cleartext-credential capture (see
    * [[graft.pcap.PcapSynth.credsPackets]]). */
  private def credsSynthPath: String = {
    val p = java.nio.file.Paths.get("/tmp/graft_synth_creds.pcap")
    graft.pcap.PcapSynth.ensureCredsFile(p, 250)
    p.toString
  }

  /** Constant oracle for pcap_cleartext_creds: replay the rotation —
    * HTTP Basic sessions carry one credential packet each (user{i%8}),
    * FTP sessions carry two (USER names alice{i%4}, PASS names
    * nothing); controls contribute nothing. */
  private def credsOracle(n: Int): String = {
    val acc = scala.collection.mutable.LinkedHashMap
      .empty[(String, String), (Long, Set[String], Set[String])]
    def add(proto: String, server: String, user: Option[String],
        client: String): Unit = {
      val (c, us, cs) = acc.getOrElse((proto, server),
        (0L, Set.empty[String], Set.empty[String]))
      acc((proto, server)) = (c + 1, us ++ user, cs + client)
    }
    for (i <- 0 until n) {
      val client = s"10.95.${i >> 8}.${i & 255}"
      (i % 5) match {
        case 0 => add("http-basic", s"192.0.2.${60 + i % 2}",
          Some(s"user${i % 8}"), client)
        case 2 =>
          add("ftp", "192.0.2.70", Some(s"alice${i % 4}"), client)
          add("ftp", "192.0.2.70", None, client)
        case _ => ()
      }
    }
    val rows = acc.toSeq.map { case ((pr, sv), (c, us, cs)) =>
      s"('$pr', '$sv', $c, ${us.size}, ${cs.size})"
    }.mkString(",\n        ")
    s"""SELECT CAST(v.proto AS VARCHAR) AS proto,
        CAST(v.server AS VARCHAR) AS server,
        CAST(v.n_creds AS BIGINT) AS n_creds,
        CAST(v.n_users AS BIGINT) AS n_users,
        CAST(v.n_clients AS BIGINT) AS n_clients
        FROM (VALUES $rows)
          AS v(proto, server, n_creds, n_users, n_clients)"""
  }

  /** ARP capture (see [[graft.pcap.PcapSynth.arpPackets]]). */
  private def arpSynthPath: String = {
    val p = java.nio.file.Paths.get("/tmp/graft_synth_arp.pcap")
    graft.pcap.PcapSynth.ensureArpFile(p, 96)
    p.toString
  }

  /** Constant oracle for pcap_arp_conflicts: replay the fixture's
    * emission rules (gateway replies per i; device gratuitous per 4th;
    * rogue claim per 6th — see arpPackets). */
  private def arpConflictsOracle(n: Int): String = {
    val claims = scala.collection.mutable.Map
      .empty[String, (Long, Set[String])]
    def add(ip: String, mac: String): Unit = {
      val (cnt, macs) = claims.getOrElse(ip, (0L, Set.empty[String]))
      claims(ip) = (cnt + 1, macs + mac)
    }
    for (i <- 0 until n) {
      add("10.90.0.1", "02:11:00:00:00:01")
      val devIp = s"10.90.${i >> 8}.${i & 255}"
      val devMac = f"02:00:00:00:${i >> 8}%02x:${i & 255}%02x"
      if (i % 4 == 0) add(devIp, devMac)
      if (i % 6 == 0)
        add(devIp, f"02:66:00:00:${i >> 8}%02x:${i & 255}%02x")
    }
    val vs = claims.toSeq.sortBy(_._1).map { case (ip, (cnt, macs)) =>
      s"('$ip', $cnt, ${macs.size}, '${macs.min}', ${macs.size >= 2})"
    }.mkString(",\n        ")
    s"""SELECT CAST(v.claimed_ip AS VARCHAR) AS claimed_ip,
        CAST(v.n_ann AS BIGINT) AS n_ann,
        CAST(v.n_macs AS BIGINT) AS n_macs,
        CAST(v.first_mac AS VARCHAR) AS first_mac,
        CAST(v.conflict AS BOOLEAN) AS conflict
        FROM (VALUES $vs)
          AS v(claimed_ip, n_ann, n_macs, first_mac, conflict)"""
  }

  /** ICMPv6/NDP capture (see
    * [[graft.pcap.PcapSynth.icmpv6Packets]]). */
  private def icmpv6SynthPath: String = {
    val p = java.nio.file.Paths.get("/tmp/graft_synth_icmpv6.pcap")
    graft.pcap.PcapSynth.ensureIcmpV6File(p, 96)
    p.toString
  }

  /** Constant oracle for pcap_icmpv6_summary: replay the fixture's
    * emission rules — echo pair per i, NS/NA per 4th, time-exceeded
    * per 7th, unreachable code (i/9)%5 per 9th (one router source for
    * the error types, one server for replies/NA). */
  private def icmpv6SummaryOracle(n: Int): String = {
    val rows = scala.collection.mutable.Map
      .empty[(Int, Int), (Long, Set[String])]
    def add(t: Int, c: Int, src: String): Unit = {
      val (cnt, srcs) = rows.getOrElse((t, c), (0L, Set.empty[String]))
      rows((t, c)) = (cnt + 1, srcs + src)
    }
    for (i <- 0 until n) {
      add(128, 0, s"client$i"); add(129, 0, "server")
      if (i % 4 == 0) { add(135, 0, s"client$i"); add(136, 0, "server") }
      if (i % 7 == 0) add(3, 0, "router")
      if (i % 9 == 0) add(1, (i / 9) % 5, "router")
    }
    val vs = rows.toSeq.sortBy(_._1).map { case ((t, c), (cnt, srcs)) =>
      s"($t, $c, $cnt, ${srcs.size})"
    }.mkString(",\n        ")
    s"""SELECT CAST(v.icmp_type AS INT) AS icmp_type,
        CAST(v.icmp_code AS INT) AS icmp_code,
        CAST(v.n AS BIGINT) AS n,
        CAST(v.n_src AS BIGINT) AS n_src
        FROM (VALUES $vs) AS v(icmp_type, icmp_code, n, n_src)"""
  }

  /** IP-in-IP tunnel capture (see
    * [[graft.pcap.PcapSynth.ipipPackets]]). */
  private def ipipSynthPath: String = {
    val p = java.nio.file.Paths.get("/tmp/graft_synth_ipip.pcap")
    graft.pcap.PcapSynth.ensureIpipFile(p, 120)
    p.toString
  }

  /** Constant oracle for pcap_ipip_decap: even i → inner v4 qname
    * `t4-$i...`, odd i → inner v6 qname `t6-$i...`, NXDOMAIN when
    * i mod 13 == 0, one distinct inner client per i. */
  private def ipipDecapOracle(n: Int): String = {
    val rows = Seq(4, 6).map { v =>
      val is = (0 until n).filter(i => i % 2 == (if (v == 4) 0 else 1))
      val nx = is.count(_ % 13 == 0)
      val firstQ = is.map(i => s"t$v-$i.tunnel.example.com.").min
      s"($v, ${is.size}, ${is.size}, $nx, '$firstQ')"
    }.mkString(",\n        ")
    s"""SELECT CAST(v.inner_v AS INT) AS inner_v,
        CAST(v.n_pkts AS BIGINT) AS n_pkts,
        CAST(v.n_clients AS BIGINT) AS n_clients,
        CAST(v.n_nx AS BIGINT) AS n_nx,
        CAST(v.first_qname AS VARCHAR) AS first_qname
        FROM (VALUES $rows)
          AS v(inner_v, n_pkts, n_clients, n_nx, first_qname)"""
  }

  /** Constant oracle for pcap_vlan_inventory, re-derived from the
    * synthesis formulas: tagged frames are i mod 10 != 7, vid =
    * 100 + i mod 6, pcp = i mod 8, one distinct client per i, qname
    * `vlan$i.office.example.com.` (parser form). */
  private def vlanInventoryOracle(n: Int): String = {
    val rows = (0 until 6).map { k =>
      val is = (0 until n).filter(i => i % 10 != 7 && i % 6 == k)
      val firstQ = is.map(i => s"vlan$i.office.example.com.").min
      s"(${100 + k}, ${is.size}, ${is.size}, ${is.map(_ % 8).max}, '$firstQ')"
    }.mkString(",\n        ")
    s"""SELECT CAST(v.vlan_id AS INT) AS vlan_id,
        CAST(v.n_pkts AS BIGINT) AS n_pkts,
        CAST(v.n_clients AS BIGINT) AS n_clients,
        CAST(v.max_pcp AS INT) AS max_pcp,
        CAST(v.first_qname AS VARCHAR) AS first_qname
        FROM (VALUES $rows)
          AS v(vlan_id, n_pkts, n_clients, max_pcp, first_qname)"""
  }

  /** QinQ metro capture (see [[graft.pcap.PcapSynth.qinqPackets]]). */
  private def qinqSynthPath: String = {
    val p = java.nio.file.Paths.get("/tmp/graft_synth_qinq.pcap")
    graft.pcap.PcapSynth.ensureQinqFile(p, 120)
    p.toString
  }

  /** Constant oracle for pcap_qinq_inventory, re-derived from the
    * synthesis formulas: single-tag frames are i mod 12 == 5 (inner
    * NULL), service vid = 200 + i mod 4, customer vid = 300 + i mod 9,
    * one distinct client per i, qname `qinq$i.metro.example.com.`. */
  private def qinqInventoryOracle(n: Int): String = {
    val groups = (0 until n).groupBy { i =>
      (200 + i % 4,
        if (i % 12 == 5) None else Some(300 + i % 9))
    }
    val rows = groups.toSeq.sortBy(g => (g._1._1, g._1._2.getOrElse(-1)))
      .map { case ((svid, cvid), is) =>
        val firstQ = is.map(i => s"qinq$i.metro.example.com.").min
        s"($svid, ${cvid.map(_.toString).getOrElse("NULL")}, " +
          s"${is.size}, ${is.size}, '$firstQ')"
      }.mkString(",\n        ")
    s"""SELECT CAST(v.vlan_id AS INT) AS vlan_id,
        CAST(v.vlan_inner_id AS INT) AS vlan_inner_id,
        CAST(v.n_pkts AS BIGINT) AS n_pkts,
        CAST(v.n_clients AS BIGINT) AS n_clients,
        CAST(v.first_qname AS VARCHAR) AS first_qname
        FROM (VALUES $rows)
          AS v(vlan_id, vlan_inner_id, n_pkts, n_clients, first_qname)"""
  }

  /** MPLS carrier capture (see [[graft.pcap.PcapSynth.mplsPackets]]). */
  private def mplsSynthPath: String = {
    val p = java.nio.file.Paths.get("/tmp/graft_synth_mpls.pcap")
    graft.pcap.PcapSynth.ensureMplsFile(p, 120)
    p.toString
  }

  /** Constant oracle for pcap_mpls_inventory, re-derived from the
    * synthesis formulas: stacked frames are i mod 10 != 3, depth =
    * 1 + i mod 3, outermost label = 16000 + i mod 5, one distinct
    * client per i, qname `mpls$i.core.example.com.` (parser form). */
  private def mplsInventoryOracle(n: Int): String = {
    val groups = (0 until n).filter(_ % 10 != 3)
      .groupBy(i => (16000 + i % 5, 1 + i % 3))
    val rows = groups.toSeq.sortBy(_._1).map { case ((lbl, d), is) =>
      val firstQ = is.map(i => s"mpls$i.core.example.com.").min
      s"($lbl, $d, ${is.size}, ${is.size}, '$firstQ')"
    }.mkString(",\n        ")
    s"""SELECT CAST(v.outer_label AS INT) AS outer_label,
        CAST(v.depth AS INT) AS depth,
        CAST(v.n_pkts AS BIGINT) AS n_pkts,
        CAST(v.n_clients AS BIGINT) AS n_clients,
        CAST(v.first_qname AS VARCHAR) AS first_qname
        FROM (VALUES $rows)
          AS v(outer_label, depth, n_pkts, n_clients, first_qname)"""
  }

  /** RTP media capture (see [[graft.pcap.PcapSynth.rtpPackets]]). */
  private def rtpSynthPath: String = {
    val p = java.nio.file.Paths.get("/tmp/graft_synth_rtp.pcap")
    graft.pcap.PcapSynth.ensureRtpFile(p, 200)
    p.toString
  }

  /** RTP capture with real G.711 payloads (see
    * [[graft.pcap.PcapSynth.rtpAudioPackets]]). */
  private def rtpAudioSynthPath: String = {
    val p = java.nio.file.Paths.get("/tmp/graft_synth_rtpaudio.pcap")
    graft.pcap.PcapSynth.ensureRtpAudioFile(p, 50)
    p.toString
  }

  /** Per-packet RTP audio level: parse the RTP header, expand the
    * payload by payload type — G.711 µ-law (pt 0) / A-law (pt 8)
    * stateless tables, or DVI4 (pt 5, RFC 3551 §4.5.1: IMA ADPCM with
    * a 4-byte per-packet state header — int16 BE predictor, step
    * index, reserved — and HIGH-nibble-first packing, the opposite of
    * WAV IMA; the header state seeds the walk and is not itself a
    * sample) — into (ssrc, pt, nSamples, peak, sumAbs). ONE definition
    * shared by the batch query and the streaming monitor, so the two
    * cannot drift on wire-format interpretation. None for non-RTP or
    * non-audio payload types. */
  private[graft] def rtpAudioStats(pl: Array[Byte])
      : Option[(Long, Int, Int, Int, Long)] =
    graft.pcap.Decap.rtp(pl).flatMap { h =>
      val wc = Multimodal.WavCodec
      h.pt match {
        case 0 | 8 =>
          var peak = 0
          var sumAbs = 0L
          var i = 12
          while (i < pl.length) {
            val b = pl(i) & 0xFF
            val v = if (h.pt == 8) wc.alawExpand(b) else wc.ulawExpand(b)
            val a = math.abs(v)
            if (a > peak) peak = a
            sumAbs += a
            i += 1
          }
          Some((h.ssrc, h.pt, pl.length - 12, peak, sumAbs))
        case 5 if pl.length >= 16 =>
          var pred = ((pl(12) << 8) | (pl(13) & 0xFF)).toShort.toInt
          var idx = pl(14) & 0xFF
          if (idx > 88) None
          else {
            var peak = 0
            var sumAbs = 0L
            var i = 16
            while (i < pl.length) {
              val w = pl(i) & 0xFF
              var n = 0
              while (n < 2) {
                val c = if (n == 0) w >> 4 else w & 0xF // HIGH first
                val step = wc.ImaSteps(idx)
                var diff = step >> 3
                if ((c & 1) != 0) diff += step >> 2
                if ((c & 2) != 0) diff += step >> 1
                if ((c & 4) != 0) diff += step
                pred = if ((c & 8) != 0) pred - diff else pred + diff
                if (pred > 32767) pred = 32767
                else if (pred < -32768) pred = -32768
                idx += wc.ImaIndexDelta(c & 7)
                if (idx < 0) idx = 0 else if (idx > 88) idx = 88
                val a = math.abs(pred)
                if (a > peak) peak = a
                sumAbs += a
                n += 1
              }
              i += 1
            }
            Some((h.ssrc, h.pt, 2 * (pl.length - 16), peak, sumAbs))
          }
        case _ => None
      }
    }

  /** SIP signaling capture (see [[graft.pcap.PcapSynth.sipPackets]]). */
  private def sipSynthPath: String = {
    val p = java.nio.file.Paths.get("/tmp/graft_synth_sip.pcap")
    graft.pcap.PcapSynth.ensureSipFile(p, 80)
    p.toString
  }

  /** Constant oracle for pcap_sip_sessions, re-derived from the
    * synthesis formulas (setup/duration/busy split per call i). */
  private def sipSessionsOracle(n: Int): String = {
    val rows = (0 until n).map { i =>
      val busy = i % 9 == 4
      val setup = 100000L + (i * 37) % 200000L
      val dur = (1L + i % 30) * 1000000L
      val status = if (busy) 486 else 200
      val nm = if (busy) 2 else 4
      val durStr = if (busy) "NULL" else dur.toString
      s"('call$i@example.com', 'sip:user$i@a.example.com', " +
        s"'sip:peer${i % 7}@b.example.com', $nm, $status, $setup, $durStr)"
    }.mkString(",\n        ")
    s"""SELECT CAST(v.call_id AS VARCHAR) AS call_id,
        CAST(v.caller AS VARCHAR) AS caller,
        CAST(v.callee AS VARCHAR) AS callee,
        CAST(v.n_msgs AS BIGINT) AS n_msgs,
        CAST(v.status_code AS INT) AS status_code,
        CAST(v.setup_us AS BIGINT) AS setup_us,
        CAST(v.duration_us AS BIGINT) AS duration_us
        FROM (VALUES $rows) AS v(call_id, caller, callee, n_msgs,
          status_code, setup_us, duration_us)"""
  }

  /** Constant oracle for pcap_rtp_quality, re-derived from the
    * synthesis formulas: stream s loses packet j when
    * (s*31 + j) mod 17 == 0; the interarrival deviation between
    * consecutive DELIVERED packets is exactly the delay-noise
    * difference ((s*7 + j²) mod 4000), because nominal pacing and the
    * RTP clock advance identically (20 ms per packet). */
  private def rtpQualityOracle(nPerStream: Int): String = {
    val rows = (0 until 4).map { s =>
      val js = (0 until nPerStream).filter(j => (s * 31 + j) % 17 != 0)
      def noise(j: Int): Long = (s * 7 + j * j) % 4000
      val ds = js.sliding(2).collect {
        case Seq(a, b) => math.abs(noise(b) - noise(a)) }.toSeq
      val lost = (js.last - js.head + 1) - js.size
      s"(${1000000L + s}, ${if (s % 2 == 0) 0 else 8}, ${js.size}, " +
        s"$lost, ${ds.sum}, ${ds.max})"
    }.mkString(",\n        ")
    s"""SELECT CAST(v.ssrc AS BIGINT) AS ssrc,
        CAST(v.pt AS INT) AS pt,
        CAST(v.n_received AS BIGINT) AS n_received,
        CAST(v.n_lost AS BIGINT) AS n_lost,
        CAST(v.jitter_sum_us AS BIGINT) AS jitter_sum_us,
        CAST(v.jitter_max_us AS BIGINT) AS jitter_max_us
        FROM (VALUES $rows)
          AS v(ssrc, pt, n_received, n_lost, jitter_sum_us,
               jitter_max_us)"""
  }

  /** Constant oracle for pcap_vxlan_decap, re-derived from the
    * synthesis formulas: vni = 100 + i mod 7, NXDOMAIN when
    * i mod 9 == 0, qname `vx$i.tunnel.example.com.` (parser form:
    * lowercased + trailing dot). */
  private def vxlanDecapOracle(n: Int): String = {
    val rows = (0 until 7).map { k =>
      val is = (0 until n).filter(_ % 7 == k)
      val nx = is.count(_ % 9 == 0)
      val firstQ = is.map(i => s"vx$i.tunnel.example.com.").min
      s"(${100 + k}, ${is.size}, $nx, '$firstQ')"
    }.mkString(",\n        ")
    s"""SELECT CAST(v.vni AS INT) AS vni,
        CAST(v.n_pkts AS BIGINT) AS n_pkts,
        CAST(v.n_nx AS BIGINT) AS n_nx,
        CAST(v.first_qname AS VARCHAR) AS first_qname
        FROM (VALUES $rows) AS v(vni, n_pkts, n_nx, first_qname)"""
  }

  /** Constant oracle for pcap_geneve_decap, re-derived from the
    * synthesis formulas: vni = 200 + i mod 5, NXDOMAIN when
    * i mod 8 == 0, qname `gv$i.overlay.example.com.` (parser form),
    * option count = i mod 3 (0/1/2 options per the fixture). */
  private def geneveDecapOracle(n: Int): String = {
    val rows = (0 until 5).map { k =>
      val is = (0 until n).filter(_ % 5 == k)
      val nx = is.count(_ % 8 == 0)
      val firstQ = is.map(i => s"gv$i.overlay.example.com.").min
      val maxOpts = is.map(_ % 3).max
      s"(${200 + k}, ${is.size}, $nx, '$firstQ', $maxOpts)"
    }.mkString(",\n        ")
    s"""SELECT CAST(v.vni AS INT) AS vni,
        CAST(v.n_pkts AS BIGINT) AS n_pkts,
        CAST(v.n_nx AS BIGINT) AS n_nx,
        CAST(v.first_qname AS VARCHAR) AS first_qname,
        CAST(v.max_opts AS INT) AS max_opts
        FROM (VALUES $rows) AS v(vni, n_pkts, n_nx, first_qname, max_opts)"""
  }

  /** Offset-sorted datagram reassembly + DNS parse over a fragmented
    * capture — shared by the v4 and v6 entries (both decoders
    * normalize onto the same (ip_id, frag_offset, payload-chunk)
    * columns, so ONE plan serves both fragment schemes). One groupBy
    * on the fragment key; sort_array orders the struct list by
    * offset; a binary fold concatenates the datagram (the first
    * fragment's payload column is already UDP-header-stripped; later
    * fragments carry raw chunks); the clean-room DNS parser reads the
    * reassembled message — including out-of-order deliveries. */
  private def fragReassembledDns(s: SparkSession, path: String)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    s.read.format("pcap").load(path)
      .filter($"frag" && $"protocol" === "UDP" && $"ip_id".isNotNull)
      .select($"src", $"dst", $"ip_id",
        struct($"frag_offset", $"len", $"payload").as("fp"))
      .groupBy($"src", $"dst", $"ip_id")
      .agg(sort_array(collect_list($"fp")).as("fr"))
      // completeness gate: a datagram with a missing/partial
      // fragment must be DROPPED, not emitted as corrupt bytes —
      // offsets must tile contiguously (the first fragment's len
      // excludes the 8-byte UDP header its chunk carried), and a
      // lone fragment is by definition incomplete (its MF bit or
      // nonzero offset is what flagged it). A lost TAIL fragment
      // is the one gap this can't see (MF isn't a column); the
      // DNS parse of the truncated message then fails closed.
      .filter(expr("size(fr) >= 2 AND fr[0].frag_offset = 0 AND " +
        "forall(sequence(1, size(fr) - 1), k -> " +
        "fr[k].frag_offset = fr[k - 1].frag_offset + " +
        "fr[k - 1].len + IF(k = 1, 8, 0))"))
      .select($"src", $"dst", $"ip_id",
        size($"fr").as("n_frags"),
        expr("aggregate(fr, CAST('' AS BINARY), " +
          "(acc, x) -> concat(acc, x.payload))").as("msg"))
      .as[(String, String, Int, Int, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (src, dst, ipId, nf, msg) =>
          val f = graft.pcap.DnsParser.parse(msg)
          (src, dst, ipId, nf, msg.length,
            f.flatMap(_.qname).orNull, f.map(_.rcode).orNull)
        }
      }
      .toDF("src", "dst", "ip_id", "n_frags", "msg_len",
        "qname", "rcode")
  }

  /** Fragmented-DNS-over-IPv6 capture (see
    * [[graft.pcap.PcapSynth.fragmentedDnsV6Segments]]). */
  private def fragV6SynthPath: String = {
    val p = java.nio.file.Paths.get("/tmp/graft_synth_ip6frag.pcap")
    graft.pcap.PcapSynth.ensureFragV6File(p, 120)
    p.toString
  }

  /** Constant oracle for the IPv6 fragment reassembly entry — the v6
    * twin of [[fragReassemblyOracle]]: endpoints / frag id / rcode are
    * pure functions of i, msg_len from the same dnsResponse builder.
    * Address strings are java.net formatting (full groups, no `::`
    * compression) — the decoder's ipv6String convention. */
  private def fragV6ReassemblyOracle(n: Int): String = {
    val rows = (0 until n).map { i =>
      val dnsLen = graft.pcap.PcapSynth.dnsResponse(0x6000 + i,
        s"frag6-$i.data.example.com", qtype = 28,
        rcode = if (i % 7 == 0) 3 else 0).length
      val rcode = if (i % 7 == 0) "NXDOMAIN" else "NOERROR"
      s"('2001:db8:0:0:0:0:0:53', '2001:db8:1:0:0:0:0:${i.toHexString}', " +
        s"${0x70000 + i}, ${2 + i % 2}, $dnsLen, " +
        s"'frag6-$i.data.example.com.', '$rcode')"
    }.mkString(",\n        ")
    s"""SELECT CAST(v.src AS VARCHAR) AS src,
        CAST(v.dst AS VARCHAR) AS dst,
        CAST(v.ip_id AS INT) AS ip_id,
        CAST(v.n_frags AS INT) AS n_frags,
        CAST(v.msg_len AS INT) AS msg_len,
        CAST(v.qname AS VARCHAR) AS qname,
        CAST(v.rcode AS VARCHAR) AS rcode
        FROM (VALUES $rows)
          AS v(src, dst, ip_id, n_frags, msg_len, qname, rcode)"""
  }

  /** Constant oracle for the fragment reassembly battery entry,
    * derived from the synthesis formulas (ip_id / endpoints / rcode are
    * pure functions of i; the message length comes from the same
    * dnsResponse builder the capture was written with — the Spark side
    * must recover it from RAW FRAGMENT BYTES through the decoder,
    * reassembly, and the clean-room DNS parser). */
  private def fragReassemblyOracle(n: Int): String = {
    val rows = (0 until n).map { i =>
      val dnsLen = graft.pcap.PcapSynth.dnsResponse(0x5000 + i,
        s"frag$i.data.example.com", qtype = 1,
        rcode = if (i % 7 == 0) 3 else 0).length
      val rcode = if (i % 7 == 0) "NXDOMAIN" else "NOERROR"
      s"('10.9.0.1', '10.21.${i >> 8}.${i & 255}', ${0x3000 + i}, " +
        s"${2 + i % 2}, $dnsLen, 'frag$i.data.example.com.', '$rcode')"
    }.mkString(",\n        ")
    s"""SELECT CAST(v.src AS VARCHAR) AS src,
        CAST(v.dst AS VARCHAR) AS dst,
        CAST(v.ip_id AS INT) AS ip_id,
        CAST(v.n_frags AS INT) AS n_frags,
        CAST(v.msg_len AS INT) AS msg_len,
        CAST(v.qname AS VARCHAR) AS qname,
        CAST(v.rcode AS VARCHAR) AS rcode
        FROM (VALUES $rows)
          AS v(src, dst, ip_id, n_frags, msg_len, qname, rcode)"""
  }

  /** Oracle for the streaming bridge's batch twin: the gated rows
    * BEFORE dedup, re-derived from the synthesis formulas like
    * [[httpCorpusOracle]] (whose kept-set filter this shares). */
  private def corpusStreamTwinOracle(n: Int): String = {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xFF}%02x").mkString
    val rows = (0 until n).map { f =>
      (f, s"host${f % 13}.example.com", graft.pcap.PcapSynth.corpusBody(f))
    }.filter { case (_, _, b) =>
      val w = b.split(" ", -1)
      w.length >= 20 &&
        w.distinct.length.toLong * 1000000L / w.length >= 300000L
    }.map { case (f, host, b) =>
      s"($f, '$host', ${b.split(" ", -1).length}, '${md5hex(b)}')"
    }.mkString(",\n        ")
    s"""SELECT CAST(v.doc_id AS BIGINT) AS doc_id,
        CAST(v.host AS VARCHAR) AS host,
        CAST(v.n_tokens AS BIGINT) AS n_tokens,
        CAST(v.body_md5 AS VARCHAR) AS body_md5
        FROM (VALUES $rows)
          AS v(doc_id, host, n_tokens, body_md5)"""
  }

  /** The pcap→corpus bridge, parameterized for reuse on arbitrary
    * captures (the Q entry binds the fixture's constants): one capture
    * scan, then the gated conversation relation of [[httpCorpusGated]]
    * — each direction-normalized conversation reassembled and gated
    * once: RFC 9112 body de-framing (Content-Length cut / chunked walk /
    * gzip decode), 2xx, the token-count and distinct-ratio quality
    * gate, Host provenance — then the digest dedup window. The
    * response stream stays BINARY until de-framed: a gzip body cast to
    * string before decode would be corrupt.
    *
    * `docIdBase >= 0` derives doc_id as `client_port - docIdBase` (the
    * fixture's stable mapping); `docIdBase < 0` uses a 64-bit hash of
    * the client endpoint — the form a real capture needs, where ports
    * carry no document semantics. */
  private[graft] def httpToCorpus(s: SparkSession, path: String,
      serverPort: Int, docIdBase: Int): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    httpCorpusGated(s, path, serverPort, docIdBase)
      .withColumn("body_md5", md5($"text".cast(BinaryType)))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"body_md5").orderBy($"doc_id")))
      .withColumn("n_dups",
        count(lit(1)).over(Window.partitionBy($"body_md5")))
      .filter($"rn" === 1)
      .select($"doc_id", $"host", $"n_tokens",
        $"n_dups".cast(LongType).as("n_dups"), $"body_md5")
  }

  /** The bridge's GATED pre-dedup relation (doc_id, host, n_tokens,
    * text): shared by the batch bridge above (which adds the digest
    * window) and by `pcap_corpus_stream_twin` — the batch twin whose
    * row set the STREAMING bridge
    * ([[graft.streaming.CorpusBridgeStream]]) is spec-matched against,
    * the `pcap_syn_portscan_twin` oracled-twin pattern. `text` is a
    * binary cast of the body, byte for byte, so `md5(text)` digests the
    * bytes sent even when they are not valid UTF-8.
    *
    * Segments shuffle once on the conversation key ([[Spread.forGrouping]])
    * and sort; each conversation's go through
    * [[graft.functions.HttpConversationAgg]]'s `reduce` and `finish` in
    * one call, the streaming bridge's path. Not a `udaf`: that plans an
    * ObjectHashAggregate pair, and each side falls back to sorting past
    * 128 groups per task. */
  private[graft] def httpCorpusGated(s: SparkSession, path: String,
      serverPort: Int, docIdBase: Int,
      maxBytesPerDirection: Long =
        graft.functions.Reassemble.DefaultMaxStreamBytes): DataFrame = {
    import s.implicits._
    import graft.functions.{ConvSeg, HttpConversation, HttpConversationAgg}
    import HttpConversation.ConvKey
    val keys = Seq($"server", $"client", $"client_port")
    val segs = HttpConversation.segments(s.read.format("pcap").load(path),
      serverPort)
    val agg = new HttpConversationAgg(maxBytesPerDirection)
    Spread.forGrouping(segs, keys: _*)
      .groupBy(keys: _*)
      .as[ConvKey, ConvSeg](HttpConversation.keyEncoder,
        HttpConversation.segEncoder)
      .flatMapGroups { (k: ConvKey, rows: Iterator[ConvSeg]) =>
        val d = agg.finish(rows.foldLeft(agg.zero)(agg.reduce))
        if (d.ok) Iterator.single((k._2, k._3, d.host, d.n_tokens, d.body))
        else Iterator.empty
      }(HttpConversation.docRowEncoder)
      .toDF("client", "client_port", "host", "n_tokens", "body")
      .select(HttpConversation.docId(docIdBase).as("doc_id"), $"host",
        $"n_tokens", $"body".cast(StringType).as("text"))
  }

  private def httpConvOracle(n: Int): String = {
    val counts = (0 until n)
      .groupBy(f => (s"host${f % 13}.example.com",
        if (f % 7 == 6) 404 else 200))
      .map { case (k, fs) => (k, fs.size) }
    val rows = counts.toSeq.sortBy(_._1).map { case ((h, st), c) =>
      s"('$h', $st, $c)"
    }.mkString(",\n        ")
    s"""SELECT CAST(v.host AS VARCHAR) AS host, CAST(v.status AS INT) AS status, CAST(v.n AS BIGINT) AS n
        FROM (VALUES $rows) AS v(host, status, n)"""
  }

  /** Deterministic receive-window evolution capture (see
    * [[graft.pcap.PcapSynth.windowPackets]]). */
  private def windowSynthPath: String = {
    val p = java.nio.file.Paths.get("/tmp/graft_synth_tcpwindow.pcap")
    graft.pcap.PcapSynth.ensureWindowFile(p, 40)
    p.toString
  }

  private def zeroWindowOracle(n: Int): String = {
    val rows = (0 until n).map { f =>
      val minW = if (f % 4 == 0) 0 else 1000 + 100 * f
      s"('10.13.0.$f', 6, ${if (f % 4 == 0) 1 else 0}, $minW, ${1000 + 100 * f + 50})"
    }.mkString(",\n        ")
    s"""SELECT CAST(v.client AS VARCHAR) AS client, CAST(v.n_pkts AS BIGINT) AS n_pkts, CAST(v.n_zero AS BIGINT) AS n_zero, CAST(v.min_window AS INT) AS min_window, CAST(v.max_window AS INT) AS max_window
        FROM (VALUES $rows) AS v(client, n_pkts, n_zero, min_window, max_window)"""
  }

  // ----- formula-derived oracles for the handshake/TLS fixtures ---------
  // Unlike the reassembly goldens (frozen md5 VALUES), these oracles are
  // derived from the fixture GENERATOR's spec (rtt = 150 + 37f µs, SNI =
  // host%03d.example.{com,org,net}, …) — a second, independent route to
  // the expected rows that never touches the decoder under test.

  private def handshakeRttOracle(n: Int): String = {
    val rows = (0 until n).map { f =>
      s"('10.5.0.$f', '10.9.0.1', ${40000 + f}, ${150 + 37 * f})"
    }.mkString(",\n        ")
    s"""SELECT CAST(v.client AS VARCHAR) AS client, CAST(v.server AS VARCHAR) AS server, CAST(v.client_port AS INT) AS client_port, CAST(v.rtt_micro AS BIGINT) AS rtt_micro
        FROM (VALUES $rows) AS v(client, server, client_port, rtt_micro)"""
  }

  private def synScanOracle(n: Int): String = {
    val rows = (0 until n).filter(_ % 7 == 3).map { f =>
      s"('10.6.0.$f', 5, 5)"
    }.mkString(",\n        ")
    s"""SELECT CAST(v.scanner AS VARCHAR) AS scanner, CAST(v.n_syn AS BIGINT) AS n_syn, CAST(v.n_ports AS BIGINT) AS n_ports
        FROM (VALUES $rows) AS v(scanner, n_syn, n_ports)"""
  }

  private def flowFeaturesOracle(n: Int): String = {
    val convo = (0 until n).map { f =>
      // '10.5.x.y' < '10.9.0.1' lexicographically, 443 < 40000+f
      s"('10.5.0.$f', '10.9.0.1', 443, ${40000 + f}, 3, 162, ${2 * (150 + 37 * f)})"
    }
    val scans = (0 until n).filter(_ % 7 == 3).flatMap { f =>
      (0 until 5).map { k =>
        s"('10.6.0.$f', '10.9.0.1', ${1000 + 10 * f + k}, ${55000 + f}, 1, 54, 0)"
      }
    }
    val rows = (convo ++ scans).mkString(",\n        ")
    s"""SELECT CAST(v.addr_lo AS VARCHAR) AS addr_lo, CAST(v.addr_hi AS VARCHAR) AS addr_hi, CAST(v.port_lo AS INT) AS port_lo, CAST(v.port_hi AS INT) AS port_hi, CAST(v.n_pkts AS BIGINT) AS n_pkts, CAST(v.total_bytes AS BIGINT) AS total_bytes, CAST(v.duration_micro AS BIGINT) AS duration_micro
        FROM (VALUES $rows) AS v(addr_lo, addr_hi, port_lo, port_hi, n_pkts, total_bytes, duration_micro)"""
  }

  private def synPortscanTwinOracle(n: Int): String = {
    val rows = (0 until n).filter(_ % 7 == 3).map { f =>
      val sec = 1700300000L + f
      s"(${sec - sec % 10}, '10.6.0.$f', 5)"
    }.mkString(",\n        ")
    s"""SELECT CAST(v.window_start_s AS BIGINT) AS window_start_s, CAST(v.scanner AS VARCHAR) AS scanner, CAST(v.n_ports AS BIGINT) AS n_ports
        FROM (VALUES $rows) AS v(window_start_s, scanner, n_ports)"""
  }

  /** Fingerprint oracle: re-derive each flow's canonical client-stack
    * string from the GENERATOR spec (legacy 0x0303=771; ciphers
    * 0x1301.. for 8+f%5; ext order [server_name, alpn?, supported_
    * versions?]) and hash with the same public md5 — never touching the
    * parser under test. */
  private def tlsFingerprintOracle(n: Int): String = {
    val groups = (0 until n).groupBy { f =>
      val ciphers = (0 until 8 + f % 5).map(0x1301 + _).toArray
      val ext = Array(0) ++
        (if (f % 3 != 2) Array(16) else Array.empty[Int]) ++
        (if (f % 2 == 1) Array(43) else Array.empty[Int])
      graft.functions.TlsParse.fingerprint(0x0303, ciphers, ext)
    }
    val rows = groups.toSeq.sortBy(_._1).map { case (fp, fs) =>
      s"('$fp', ${fs.size}, ${fs.size})"
    }.mkString(",\n        ")
    s"""SELECT CAST(v.fp AS VARCHAR) AS fp, CAST(v.n_clients AS BIGINT) AS n_clients, CAST(v.n_sni AS BIGINT) AS n_sni
        FROM (VALUES $rows) AS v(fp, n_clients, n_sni)"""
  }

  /** ServerHello capture (see
    * [[graft.pcap.PcapSynth.tlsServerPackets]]). */
  private def tlsSrvSynthPath: String = {
    val p = java.nio.file.Paths.get("/tmp/graft_synth_tlssrv.pcap")
    graft.pcap.PcapSynth.ensureTlsServerFile(p, 40)
    p.toString
  }

  /** Constant oracle for pcap_tls_ja3s: per-flow ext list =
    * renegotiation_info (65281) + ALPN when f%3 != 2 + supported_versions
    * when odd, selected cipher 0x1301 + f%5 — grouped by the SHARED
    * md5 canonicalizer over independently re-derived field lists (the
    * tlsFingerprintOracle pattern). */
  private def tlsJa3sOracle(n: Int): String = {
    val groups = (0 until n).groupBy { f =>
      val ext = Array(65281) ++
        (if (f % 3 != 2) Array(16) else Array.empty[Int]) ++
        (if (f % 2 == 1) Array(43) else Array.empty[Int])
      graft.functions.TlsParse.fingerprint(0x0303,
        Array(0x1301 + f % 5), ext)
    }
    val rows = groups.toSeq.sortBy(_._1).map { case (fp, fs) =>
      val f0 = fs.head
      val v = if (f0 % 2 == 1) "TLS1.3" else "TLS1.2"
      s"('$fp', ${fs.size}, ${0x1301 + f0 % 5}, '$v')"
    }.mkString(",\n        ")
    s"""SELECT CAST(v.fp AS VARCHAR) AS fp,
        CAST(v.n_conns AS BIGINT) AS n_conns,
        CAST(v.cipher AS INT) AS cipher,
        CAST(v.version AS VARCHAR) AS version
        FROM (VALUES $rows) AS v(fp, n_conns, cipher, version)"""
  }

  private def icmpEchoRttOracle(n: Int): String = {
    val rows = (0 until n).map { f =>
      s"('10.12.0.$f', ${200 + 11 * f})"
    }.mkString(",\n        ")
    s"""SELECT CAST(v.client AS VARCHAR) AS client, CAST(v.rtt_micro AS BIGINT) AS rtt_micro
        FROM (VALUES $rows) AS v(client, rtt_micro)"""
  }

  private def tlsSniOracle(n: Int, clientPrefix: String = "10.7.0"): String = {
    val tlds = Array("com", "org", "net")
    val alpns = Array("h2", "http/1.1", "-")
    val rows = (0 until n).map { f =>
      val sni = f"host$f%03d.example.${tlds(f % 3)}"
      val ver = if (f % 2 == 1) "TLS1.3" else "TLS1.2"
      s"('$clientPrefix.$f', '$sni', '$ver', ${8 + f % 5}, '${alpns(f % 3)}')"
    }.mkString(",\n        ")
    s"""SELECT CAST(v.client AS VARCHAR) AS client, CAST(v.sni AS VARCHAR) AS sni, CAST(v.version AS VARCHAR) AS version, CAST(v.cipher_count AS INT) AS cipher_count, CAST(v.alpn AS VARCHAR) AS alpn
        FROM (VALUES $rows) AS v(client, sni, version, cipher_count, alpn)"""
  }

  /** Seq-ordered stream reassembly as a pure SQL fold: sort the
    * collected (tcp_seq, pkt_idx, payload) segments, concatenate, and
    * keep only the FIRST capture copy of a retransmitted sequence number
    * (the sort puts the earliest pkt_idx first; a later duplicate of the
    * same tcp_seq is skipped by the accumulator). Overlapping PARTIAL
    * retransmits (a shifted seq inside already-reassembled bytes) are
    * out of scope for THIS fold; the production aggregator handles them
    * by trimming the covered prefix (first-copy-wins — see
    * [[graft.functions.ReassembleAgg]] and pcap_tcp_reassembly_overlap),
    * so the two agree exactly on captures without partial overlaps.
    *
    * NO LONGER shipped by the queries: this fold buffers each flow's
    * whole segment list + stream, so an elephant flow OOMs its task. The
    * production path is [[graft.functions.ReassembleAgg]] (bounded
    * per-flow state, `truncated` flag); this expression stays as the
    * independently-written reference twin ReassemblyCapSpec checks the
    * aggregator against byte-for-byte on un-truncated flows. */
  private[graft] val reassembleExpr: String =
    "aggregate(array_sort(collect_list(struct(tcp_seq, pkt_idx, payload))), " +
      "named_struct('s', X'', 'last', CAST(-1 AS BIGINT)), " +
      "(acc, x) -> IF(x.tcp_seq = acc.last, acc, " +
      "named_struct('s', concat(acc.s, x.payload), 'last', x.tcp_seq)), " +
      "acc -> acc.s)"

  val defs: Seq[Q] = Seq(

    // the reference's canonical MR example: count by source port
    // (hadoop-pcap-lib/README.md:20-81)
    Q("pcap_port_histogram",
      (s, d) => {
        s.read.format("pcap").load(synthPath)
          .groupBy("dst_port")
          .agg(count(lit(1)).as("n"))
          .orderBy(desc("n"), asc("dst_port"))
          .limit(50)
      },
      Some("""SELECT CAST(v.dst_port AS INT) AS dst_port, CAST(v.n AS BIGINT) AS n
        FROM (VALUES (53, 249786),
        (NULL, 41630),
        (4000, 2449),
        (4001, 2449),
        (4002, 2449),
        (4003, 2449),
        (4004, 2449),
        (4005, 2449),
        (4006, 2449),
        (4008, 2449),
        (4009, 2449),
        (4010, 2449),
        (4011, 2449),
        (4012, 2449),
        (4013, 2449),
        (4014, 2449),
        (4016, 2449),
        (4007, 2448),
        (4015, 2448)) AS v(dst_port, n)""")),

    // the Hive SerDe's documented DNS table workload
    // (hadoop-pcap-serde/README.md:25-60)
    Q("pcap_dns_qtype_agg",
      (s, d) => {
        import s.implicits._
        s.read.format("pcap").option("decoder", "dns").load(synthPath)
          .filter($"dns_qname".isNotNull)
          .groupBy($"dns_qtype_str")
          .agg(count(lit(1)).as("n"),
            countDistinct($"dns_qname").as("n_names"))
      },
      Some("""SELECT CAST(v.dns_qtype_str AS VARCHAR) AS dns_qtype_str,
        CAST(v.n AS BIGINT) AS n, CAST(v.n_names AS BIGINT) AS n_names
        FROM (VALUES ('A', 199828, 60000),
        ('AAAA', 49958, 15000)) AS v(dns_qtype_str, n, n_names)""")),

    // full-schema scan of the golden fixture (2 rows, all columns).
    // Array RR-lists ride as JSON strings and the timestamp as a UTC
    // string so the driver's row-sort compare (pandas) can hash them.
    Q("pcap_fixture_scan",
      (s, d) => {
        import s.implicits._
        s.read.format("pcap")
          .option("decoder", "dns").option("md5", "true")
          .load(fixturePath)
          // binary/unstable-across-hosts columns out (md5 already pins
          // the exact frame bytes); tcp_seq/tcp_flags/tcp_ack are
          // parity-extension columns not present in the pinned
          // reference-surface golden
          .drop("payload", "file", "frame", "tcp_seq", "tcp_flags",
            "tcp_ack", "icmp_type", "icmp_code", "tcp_window",
            "tcp_mss", "tcp_wscale", "tcp_sack_ok", "tcp_ts_ok",
            "vlan_id", "vlan_pcp", "vlan_inner_id", "mpls_labels",
            "ip_id", "frag_offset")
          .withColumn("time",
            date_format($"time", "yyyy-MM-dd HH:mm:ss.SSSSSS"))
          .withColumn("dns_answer", to_json($"dns_answer"))
          .withColumn("dns_authority", to_json($"dns_authority"))
          .withColumn("dns_additional", to_json($"dns_additional"))
      },
      Some("""SELECT CAST(v.ts AS BIGINT) AS ts,
          CAST(v.ts_micro AS BIGINT) AS ts_micro,
          CAST(v."time" AS VARCHAR) AS "time",
          CAST(v.size AS BIGINT) AS size,
          CAST(v.md5 AS VARCHAR) AS md5,
          CAST(v.ether_type AS VARCHAR) AS ether_type,
          CAST(v.ttl AS INT) AS ttl,
          CAST(v.protocol AS VARCHAR) AS protocol,
          CAST(v.src AS VARCHAR) AS src,
          CAST(v.dst AS VARCHAR) AS dst,
          CAST(v.src_port AS INT) AS src_port,
          CAST(v.dst_port AS INT) AS dst_port,
          CAST(v.udpsum AS INT) AS udpsum,
          CAST(v.len AS INT) AS len,
          CAST(v.frag AS BOOLEAN) AS frag,
          CAST(v.payload_len AS INT) AS payload_len,
          CAST(v.ext_count AS INT) AS ext_count,
          CAST(v.ext_headers AS VARCHAR) AS ext_headers,
          CAST(v.dns_queryid AS INT) AS dns_queryid,
          CAST(v.dns_flags AS VARCHAR) AS dns_flags,
          CAST(v.dns_qr AS BOOLEAN) AS dns_qr,
          CAST(v.dns_opcode AS VARCHAR) AS dns_opcode,
          CAST(v.dns_rcode AS VARCHAR) AS dns_rcode,
          CAST(v.dns_qname AS VARCHAR) AS dns_qname,
          CAST(v.dns_qtype AS INT) AS dns_qtype,
          CAST(v.dns_qtype_str AS VARCHAR) AS dns_qtype_str,
          CAST(v.dns_answer AS VARCHAR) AS dns_answer,
          CAST(v.dns_authority AS VARCHAR) AS dns_authority,
          CAST(v.dns_additional AS VARCHAR) AS dns_additional,
          CAST(v.pkt_idx AS BIGINT) AS pkt_idx
        FROM (VALUES
          (1317993942, 1317993942105851, '2011-10-07 13:25:42.105851', 68, '4156549794A3EB9FEA035E5F6A701DC2', 'IPv4', 64, 'UDP', '193.0.10.82', '193.0.14.129', 52938, 53, 0, 26, NULL, NULL, NULL, NULL, 49638, 'rd', FALSE, 'QUERY', 'NOERROR', 'ripe.net.', 1, 'A', '[]', '[]', '[]', 1),
          (1317993942, 1317993942107792, '2011-10-07 13:25:42.107792', 553, 'DFC5AD58862D3F8AFC9D5DE34B6F44BC', 'IPv4', 62, 'UDP', '193.0.14.129', '193.0.10.82', 53, 52938, 0, 511, NULL, NULL, NULL, NULL, 49638, 'qr rd', TRUE, 'QUERY', 'NOERROR', 'ripe.net.', 1, 'A', '[]', '["net. 172800 IN NS a.gtld-servers.net.","net. 172800 IN NS b.gtld-servers.net.","net. 172800 IN NS c.gtld-servers.net.","net. 172800 IN NS d.gtld-servers.net.","net. 172800 IN NS e.gtld-servers.net.","net. 172800 IN NS f.gtld-servers.net.","net. 172800 IN NS g.gtld-servers.net.","net. 172800 IN NS h.gtld-servers.net.","net. 172800 IN NS i.gtld-servers.net.","net. 172800 IN NS j.gtld-servers.net.","net. 172800 IN NS k.gtld-servers.net.","net. 172800 IN NS l.gtld-servers.net.","net. 172800 IN NS m.gtld-servers.net."]', '["a.gtld-servers.net. 172800 IN A 192.5.6.30","b.gtld-servers.net. 172800 IN A 192.33.14.30","c.gtld-servers.net. 172800 IN A 192.26.92.30","d.gtld-servers.net. 172800 IN A 192.31.80.30","e.gtld-servers.net. 172800 IN A 192.12.94.30","f.gtld-servers.net. 172800 IN A 192.35.51.30","g.gtld-servers.net. 172800 IN A 192.42.93.30","h.gtld-servers.net. 172800 IN A 192.54.112.30","i.gtld-servers.net. 172800 IN A 192.43.172.30","j.gtld-servers.net. 172800 IN A 192.48.79.30","k.gtld-servers.net. 172800 IN A 192.52.178.30","l.gtld-servers.net. 172800 IN A 192.41.162.30","m.gtld-servers.net. 172800 IN A 192.55.83.30","a.gtld-servers.net. 172800 IN AAAA 2001:503:a83e:0:0:0:2:30","b.gtld-servers.net. 172800 IN AAAA 2001:503:231d:0:0:0:2:30"]', 2))
          AS v(ts, ts_micro, "time", size, md5, ether_type, ttl, protocol, src, dst, src_port, dst_port, udpsum, len, frag, payload_len, ext_count, ext_headers, dns_queryid, dns_flags, dns_qr, dns_opcode, dns_rcode, dns_qname, dns_qtype, dns_qtype_str, dns_answer, dns_authority, dns_additional, pkt_idx)""")),

    // flow/conversation stats: the classic "top talkers" network-
    // analytics rollup (per destination endpoint: packets, bytes, active
    // window). One hash aggregation over the scan — at 100 TB only
    // (dst, port) partial states shuffle, never packets. VALUES oracle
    // derived independently by tools/gen_pcap_oracles.py.
    // ----- TCP payload reassembly (cross-packet state) --------------------
    // Orders each flow's segments by the decoded `tcp_seq` column (a
    // parity-extension field) and concatenates payload bytes — the
    // packet-to-stream step every L7-over-TCP analysis needs, which the
    // reference cannot express (strictly packet-at-a-time). Contract:
    // in-capture segments only; an exact retransmit (duplicate tcp_seq)
    // keeps the first capture copy (PcapTcpReassemblySpec proves it);
    // an overlapping partial retransmit contributes only its new tail —
    // covered bytes are never overwritten (first-copy-wins; see
    // pcap_tcp_reassembly_overlap). Scale shape: ONE shuffle
    // on the flow key; per-flow state is BOUNDED by construction — the
    // graft.functions.ReassembleAgg typed aggregator caps each flow at
    // maxStreamBytes of seq-ordered prefix (compacting map-side partials
    // too), so an elephant flow truncates with `truncated=true` instead
    // of OOMing the task (ReassemblyCapSpec). The ordering is seq-based,
    // so out-of-order captures reassemble identically
    // (PcapTcpReassemblySpec shuffles a capture to prove it).
    Q("pcap_tcp_reassembly",
      (s, d) => {
        import s.implicits._
        s.read.format("pcap").load(tcpSynthPath)
          // tcp_seq/payload go NULL when the snaplen cuts the TCP header
          // short; TcpSeg's primitive Long can't encode NULL, so such
          // frames are skipped (mirrors TcpStreamFollower.follow).
          .filter($"protocol" === "TCP" && $"tcp_seq".isNotNull &&
            $"payload".isNotNull)
          .select($"src", $"dst", $"src_port", $"dst_port", $"tcp_seq",
            $"pkt_idx", $"payload")
          .groupBy($"src", $"dst", $"src_port", $"dst_port")
          .agg(count(lit(1)).as("n_seg"),
            graft.functions.Reassemble.stream().as("r"))
          .select($"src", $"dst", $"src_port", $"dst_port", $"n_seg",
            length($"r.stream").as("stream_len"),
            md5($"r.stream").as("stream_md5"),
            $"r.truncated".as("truncated"))
      },
      Some("""SELECT CAST(v.src AS VARCHAR) AS src, CAST(v.dst AS VARCHAR) AS dst, CAST(v.src_port AS INT) AS src_port, CAST(v.dst_port AS INT) AS dst_port, CAST(v.n_seg AS BIGINT) AS n_seg, CAST(v.stream_len AS INT) AS stream_len, CAST(v.stream_md5 AS VARCHAR) AS stream_md5, CAST(FALSE AS BOOLEAN) AS truncated
        FROM (VALUES ('10.1.0.0', '10.2.0.1', 30000, 80, 2, 46, '9e06a4d9e977ca08d9db4a6403630e73'),
        ('10.1.0.1', '10.2.0.1', 30001, 80, 3, 47, '85f3ac9c915e1aa245071334b51be58c'),
        ('10.1.0.10', '10.2.0.1', 30010, 80, 4, 57, '1dee965175a6fb84012d5a8736f77c4b'),
        ('10.1.0.11', '10.2.0.1', 30011, 80, 5, 58, 'a1b7fa7259fc9356edf119e9bd4bcf1e'),
        ('10.1.0.12', '10.2.0.1', 30012, 80, 2, 59, '7a3921e33380063083fa23924421ce9c'),
        ('10.1.0.13', '10.2.0.1', 30013, 80, 3, 60, '41045a7a2e5df9a1c5baa39350b80edc'),
        ('10.1.0.14', '10.2.0.1', 30014, 80, 4, 61, '741c33b17cd018d6b91d3d8d2b9a9089'),
        ('10.1.0.15', '10.2.0.1', 30015, 80, 5, 62, 'f512ee91eae870d4cc04ae28ed973a05'),
        ('10.1.0.16', '10.2.0.1', 30016, 80, 2, 63, '58bfd9744b172bb7ab273e2e4abe40e4'),
        ('10.1.0.17', '10.2.0.1', 30017, 80, 3, 64, 'd1eb0aa595634dbe0673fc873d59e807'),
        ('10.1.0.18', '10.2.0.1', 30018, 80, 4, 65, '4d42aa79ad50101b117b028882cf38d9'),
        ('10.1.0.19', '10.2.0.1', 30019, 80, 5, 66, '72b7eda9fd456b234dd23188dd7af5c1'),
        ('10.1.0.2', '10.2.0.1', 30002, 80, 4, 48, '97ecd08d9c24b92e2e643edadfdc6539'),
        ('10.1.0.20', '10.2.0.1', 30020, 80, 2, 67, 'a08871a88afd2f259351caa80540d1b5'),
        ('10.1.0.21', '10.2.0.1', 30021, 80, 3, 68, 'd34104ad7ea55f594565debff4c9e44c'),
        ('10.1.0.22', '10.2.0.1', 30022, 80, 4, 69, '9eec94d67e14587026f336e6e7590175'),
        ('10.1.0.23', '10.2.0.1', 30023, 80, 5, 70, 'b43c1c874f0e057d6933cbbcf5272d5b'),
        ('10.1.0.24', '10.2.0.1', 30024, 80, 2, 71, '7888c6799377fa6e4a7f3bc133c35e5b'),
        ('10.1.0.25', '10.2.0.1', 30025, 80, 3, 72, '9dd89b36a8338abc430499737af65b44'),
        ('10.1.0.26', '10.2.0.1', 30026, 80, 4, 73, 'b970bad60edf3c77d92b98d22aa3836c'),
        ('10.1.0.27', '10.2.0.1', 30027, 80, 5, 74, 'f3d7c670c7e6ec2e2b7395e2f043bb51'),
        ('10.1.0.28', '10.2.0.1', 30028, 80, 2, 75, '72e0b21c91392da432a1f0b77cd656cf'),
        ('10.1.0.29', '10.2.0.1', 30029, 80, 3, 76, '331c9bc953b6d6e6d941c3633072b029'),
        ('10.1.0.3', '10.2.0.1', 30003, 80, 5, 49, 'eb6e89b3c8933eaebef2ff5d1e90b7a9'),
        ('10.1.0.30', '10.2.0.1', 30030, 80, 4, 77, 'fe3a2d6e57cb99e0dd720ee2e8fd3d62'),
        ('10.1.0.31', '10.2.0.1', 30031, 80, 5, 78, 'fa91bec04d3cb42ac195e7cf4ac1eaf2'),
        ('10.1.0.32', '10.2.0.1', 30032, 80, 2, 79, '02a5af58d63b71030ad51a5acf0255dd'),
        ('10.1.0.33', '10.2.0.1', 30033, 80, 3, 80, 'e1ebe4d01b355141bf80f5f8d5b3c304'),
        ('10.1.0.34', '10.2.0.1', 30034, 80, 4, 81, 'd6468ffece907da705cc1d091aecff44'),
        ('10.1.0.35', '10.2.0.1', 30035, 80, 5, 82, '54133ef3ede31ce59d303c5fe9d1a695'),
        ('10.1.0.36', '10.2.0.1', 30036, 80, 2, 83, '8ceb2baa96c70a5536ca4ab55dee862e'),
        ('10.1.0.37', '10.2.0.1', 30037, 80, 3, 84, '09b73064f05df76287d43f6bfb3427b5'),
        ('10.1.0.38', '10.2.0.1', 30038, 80, 4, 85, '12999202d7066a5c184df08ef16673b8'),
        ('10.1.0.39', '10.2.0.1', 30039, 80, 5, 86, 'eab29f276c86fb138efbcb9778e359aa'),
        ('10.1.0.4', '10.2.0.1', 30004, 80, 2, 50, '2a465aab8027bf6418032483ea1e40e3'),
        ('10.1.0.40', '10.2.0.1', 30040, 80, 2, 87, '44ebdbc74f21e4ab011ad868f07fbef4'),
        ('10.1.0.41', '10.2.0.1', 30041, 80, 3, 88, 'a0751475ff5399cd121774d38a766192'),
        ('10.1.0.42', '10.2.0.1', 30042, 80, 4, 89, '534b6dc03c7cc454e0a2167e4f0e8984'),
        ('10.1.0.43', '10.2.0.1', 30043, 80, 5, 90, '36a985160fe4de5bf45d6ef1d6ee1df4'),
        ('10.1.0.44', '10.2.0.1', 30044, 80, 2, 91, 'e54f1d7f7e8b8738b8939c22b56ddc60'),
        ('10.1.0.45', '10.2.0.1', 30045, 80, 3, 92, '3f8d3ad5863b117a118909f01750aadf'),
        ('10.1.0.46', '10.2.0.1', 30046, 80, 4, 93, '263d3510769221cff9efc9e5101969dd'),
        ('10.1.0.47', '10.2.0.1', 30047, 80, 5, 94, 'a0d6a360fa073379b725c0b18091ee48'),
        ('10.1.0.48', '10.2.0.1', 30048, 80, 2, 95, 'a4ffe5752660e7b60a4c5a3091334ea0'),
        ('10.1.0.49', '10.2.0.1', 30049, 80, 3, 96, '731063cb54150f8443f22b7c6492ea31'),
        ('10.1.0.5', '10.2.0.1', 30005, 80, 3, 51, '627f7093b665e81a42087f19418400f6'),
        ('10.1.0.50', '10.2.0.1', 30050, 80, 4, 97, '7589e4e2555c33333f85c1736f164c37'),
        ('10.1.0.51', '10.2.0.1', 30051, 80, 5, 98, '8192f9f1e7bdb3903a4c58459a913935'),
        ('10.1.0.52', '10.2.0.1', 30052, 80, 2, 99, '24d2c8fd1ca096ebe10588122fdaf0c8'),
        ('10.1.0.53', '10.2.0.1', 30053, 80, 3, 100, 'ada977df05b119b6144abf6a38ef0883'),
        ('10.1.0.54', '10.2.0.1', 30054, 80, 4, 101, 'dc8ac4028447b28cbbfb6a5b6a9ddb67'),
        ('10.1.0.55', '10.2.0.1', 30055, 80, 5, 102, 'b7a402c47c98f7f152625d693c961e20'),
        ('10.1.0.56', '10.2.0.1', 30056, 80, 2, 103, 'c8aeff13582a9c9052e79418bd2ab542'),
        ('10.1.0.57', '10.2.0.1', 30057, 80, 3, 104, '0fc0bbb6274ee4a890724a147f57f526'),
        ('10.1.0.58', '10.2.0.1', 30058, 80, 4, 105, '175adf56989f73e19c8f06b847c063db'),
        ('10.1.0.59', '10.2.0.1', 30059, 80, 5, 106, 'd0d02dcaefd5e8ad15c0fadf5c3cf885'),
        ('10.1.0.6', '10.2.0.1', 30006, 80, 4, 52, '10050e01f2eac2be7473e836f991bddc'),
        ('10.1.0.7', '10.2.0.1', 30007, 80, 5, 53, '0d7f8beadfcc0950d3e826060490045e'),
        ('10.1.0.8', '10.2.0.1', 30008, 80, 2, 54, 'dae29532403afbf49de58d966ce2c994'),
        ('10.1.0.9', '10.2.0.1', 30009, 80, 3, 55, '0c50dc36f0a93d5d2564d7f91ec0f88e')) AS v(src, dst, src_port, dst_port, n_seg, stream_len, stream_md5)""")),

    // ----- overlapping-retransmit reassembly (first-copy-wins trim) -------
    // Same plan shape as pcap_tcp_reassembly, over a capture whose every
    // flow carries a CORRUPTED partial-overlap retransmit (seq inside
    // already-reassembled bytes, extending past them) and a corrupted
    // fully-covered re-send. The aggregator must trim the covered prefix
    // and drop the covered re-send outright — each flow's md5 equals the
    // clean payload's ONLY if no corrupted overlap byte is accepted.
    // Oracle rows derive from the generator spec (md5(tcpFlowPayload f));
    // tools/pcap_oracle.py re-derives them from the capture bytes with an
    // independent Python sweep.
    Q("pcap_tcp_reassembly_overlap",
      (s, d) => {
        import s.implicits._
        s.read.format("pcap").load(tcpOverlapSynthPath)
          .filter($"protocol" === "TCP" && $"tcp_seq".isNotNull &&
            $"payload".isNotNull)
          .select($"src", $"dst", $"src_port", $"dst_port", $"tcp_seq",
            $"pkt_idx", $"payload")
          .groupBy($"src", $"dst", $"src_port", $"dst_port")
          .agg(count(lit(1)).as("n_seg"),
            graft.functions.Reassemble.stream().as("r"))
          .select($"src", $"dst", $"src_port", $"dst_port", $"n_seg",
            length($"r.stream").as("stream_len"),
            md5($"r.stream").as("stream_md5"),
            $"r.truncated".as("truncated"))
      },
      Some("""SELECT CAST(v.src AS VARCHAR) AS src, CAST(v.dst AS VARCHAR) AS dst, CAST(v.src_port AS INT) AS src_port, CAST(v.dst_port AS INT) AS dst_port, CAST(v.n_seg AS BIGINT) AS n_seg, CAST(v.stream_len AS INT) AS stream_len, CAST(v.stream_md5 AS VARCHAR) AS stream_md5, CAST(FALSE AS BOOLEAN) AS truncated
        FROM (VALUES ('10.7.0.0', '10.8.0.1', 31000, 80, 5, 46, '9e06a4d9e977ca08d9db4a6403630e73'),
        ('10.7.0.1', '10.8.0.1', 31001, 80, 5, 47, '85f3ac9c915e1aa245071334b51be58c'),
        ('10.7.0.10', '10.8.0.1', 31010, 80, 5, 57, '1dee965175a6fb84012d5a8736f77c4b'),
        ('10.7.0.11', '10.8.0.1', 31011, 80, 5, 58, 'a1b7fa7259fc9356edf119e9bd4bcf1e'),
        ('10.7.0.12', '10.8.0.1', 31012, 80, 5, 59, '7a3921e33380063083fa23924421ce9c'),
        ('10.7.0.13', '10.8.0.1', 31013, 80, 5, 60, '41045a7a2e5df9a1c5baa39350b80edc'),
        ('10.7.0.14', '10.8.0.1', 31014, 80, 5, 61, '741c33b17cd018d6b91d3d8d2b9a9089'),
        ('10.7.0.15', '10.8.0.1', 31015, 80, 5, 62, 'f512ee91eae870d4cc04ae28ed973a05'),
        ('10.7.0.16', '10.8.0.1', 31016, 80, 5, 63, '58bfd9744b172bb7ab273e2e4abe40e4'),
        ('10.7.0.17', '10.8.0.1', 31017, 80, 5, 64, 'd1eb0aa595634dbe0673fc873d59e807'),
        ('10.7.0.18', '10.8.0.1', 31018, 80, 5, 65, '4d42aa79ad50101b117b028882cf38d9'),
        ('10.7.0.19', '10.8.0.1', 31019, 80, 5, 66, '72b7eda9fd456b234dd23188dd7af5c1'),
        ('10.7.0.2', '10.8.0.1', 31002, 80, 5, 48, '97ecd08d9c24b92e2e643edadfdc6539'),
        ('10.7.0.20', '10.8.0.1', 31020, 80, 5, 67, 'a08871a88afd2f259351caa80540d1b5'),
        ('10.7.0.21', '10.8.0.1', 31021, 80, 5, 68, 'd34104ad7ea55f594565debff4c9e44c'),
        ('10.7.0.22', '10.8.0.1', 31022, 80, 5, 69, '9eec94d67e14587026f336e6e7590175'),
        ('10.7.0.23', '10.8.0.1', 31023, 80, 5, 70, 'b43c1c874f0e057d6933cbbcf5272d5b'),
        ('10.7.0.24', '10.8.0.1', 31024, 80, 5, 71, '7888c6799377fa6e4a7f3bc133c35e5b'),
        ('10.7.0.25', '10.8.0.1', 31025, 80, 5, 72, '9dd89b36a8338abc430499737af65b44'),
        ('10.7.0.26', '10.8.0.1', 31026, 80, 5, 73, 'b970bad60edf3c77d92b98d22aa3836c'),
        ('10.7.0.27', '10.8.0.1', 31027, 80, 5, 74, 'f3d7c670c7e6ec2e2b7395e2f043bb51'),
        ('10.7.0.28', '10.8.0.1', 31028, 80, 5, 75, '72e0b21c91392da432a1f0b77cd656cf'),
        ('10.7.0.29', '10.8.0.1', 31029, 80, 5, 76, '331c9bc953b6d6e6d941c3633072b029'),
        ('10.7.0.3', '10.8.0.1', 31003, 80, 5, 49, 'eb6e89b3c8933eaebef2ff5d1e90b7a9'),
        ('10.7.0.30', '10.8.0.1', 31030, 80, 5, 77, 'fe3a2d6e57cb99e0dd720ee2e8fd3d62'),
        ('10.7.0.31', '10.8.0.1', 31031, 80, 5, 78, 'fa91bec04d3cb42ac195e7cf4ac1eaf2'),
        ('10.7.0.32', '10.8.0.1', 31032, 80, 5, 79, '02a5af58d63b71030ad51a5acf0255dd'),
        ('10.7.0.33', '10.8.0.1', 31033, 80, 5, 80, 'e1ebe4d01b355141bf80f5f8d5b3c304'),
        ('10.7.0.34', '10.8.0.1', 31034, 80, 5, 81, 'd6468ffece907da705cc1d091aecff44'),
        ('10.7.0.35', '10.8.0.1', 31035, 80, 5, 82, '54133ef3ede31ce59d303c5fe9d1a695'),
        ('10.7.0.36', '10.8.0.1', 31036, 80, 5, 83, '8ceb2baa96c70a5536ca4ab55dee862e'),
        ('10.7.0.37', '10.8.0.1', 31037, 80, 5, 84, '09b73064f05df76287d43f6bfb3427b5'),
        ('10.7.0.38', '10.8.0.1', 31038, 80, 5, 85, '12999202d7066a5c184df08ef16673b8'),
        ('10.7.0.39', '10.8.0.1', 31039, 80, 5, 86, 'eab29f276c86fb138efbcb9778e359aa'),
        ('10.7.0.4', '10.8.0.1', 31004, 80, 5, 50, '2a465aab8027bf6418032483ea1e40e3'),
        ('10.7.0.5', '10.8.0.1', 31005, 80, 5, 51, '627f7093b665e81a42087f19418400f6'),
        ('10.7.0.6', '10.8.0.1', 31006, 80, 5, 52, '10050e01f2eac2be7473e836f991bddc'),
        ('10.7.0.7', '10.8.0.1', 31007, 80, 5, 53, '0d7f8beadfcc0950d3e826060490045e'),
        ('10.7.0.8', '10.8.0.1', 31008, 80, 5, 54, 'dae29532403afbf49de58d966ce2c994'),
        ('10.7.0.9', '10.8.0.1', 31009, 80, 5, 55, '0c50dc36f0a93d5d2564d7f91ec0f88e')) AS v(src, dst, src_port, dst_port, n_seg, stream_len, stream_md5)""")),

    // ----- HTTP request extraction over reassembled streams ---------------
    // The L7 payoff of tcp_seq reassembly: none of the fixture's segment
    // cuts contains a complete request line or header (they land mid-
    // line by construction), so per-packet parsing CANNOT produce these
    // rows — only the reassembled stream parses. Aggregates per
    // (method, host, agent): the typical telemetry rollup. Same
    // single-shuffle scale shape as pcap_tcp_reassembly, plus one tiny
    // aggregation over flow-level rows.
    Q("pcap_http_requests",
      (s, d) => {
        import s.implicits._
        s.read.format("pcap").load(httpSynthPath)
          .filter($"protocol" === "TCP" && $"tcp_seq".isNotNull &&
            $"payload".isNotNull)
          .groupBy($"src", $"dst", $"src_port", $"dst_port")
          .agg(graft.functions.Reassemble.stream().as("r"))
          .select($"r.stream".cast("string").as("txt"))
          .select(
            regexp_extract($"txt", "^(\\w+) ", 1).as("method"),
            regexp_extract($"txt", "^\\w+ (\\S+) HTTP/1\\.1", 1).as("path"),
            regexp_extract($"txt", graft.functions.HttpParse.headerRegex("Host"), 1).as("host"),
            regexp_extract($"txt", "\r\nUser-Agent: (\\S+)\r\n", 1).as("agent"))
          .groupBy($"method", $"host", $"agent")
          .agg(count(lit(1)).as("n"),
            countDistinct($"path").as("n_paths"))
      },
      Some("""SELECT CAST(v.method AS VARCHAR) AS method, CAST(v.host AS VARCHAR) AS host, CAST(v.agent AS VARCHAR) AS agent, CAST(v.n AS BIGINT) AS n, CAST(v.n_paths AS BIGINT) AS n_paths
        FROM (VALUES ('GET', 'host0.example.com', 'graft/0', 1, 1),
        ('GET', 'host0.example.com', 'graft/3', 1, 1),
        ('GET', 'host0.example.com', 'graft/4', 1, 1),
        ('GET', 'host1.example.com', 'graft/0', 1, 1),
        ('GET', 'host1.example.com', 'graft/1', 1, 1),
        ('GET', 'host1.example.com', 'graft/2', 1, 1),
        ('GET', 'host10.example.com', 'graft/0', 1, 1),
        ('GET', 'host10.example.com', 'graft/1', 1, 1),
        ('GET', 'host10.example.com', 'graft/4', 1, 1),
        ('GET', 'host11.example.com', 'graft/2', 1, 1),
        ('GET', 'host11.example.com', 'graft/4', 1, 1),
        ('GET', 'host12.example.com', 'graft/0', 1, 1),
        ('GET', 'host12.example.com', 'graft/2', 1, 1),
        ('GET', 'host2.example.com', 'graft/0', 1, 1),
        ('GET', 'host2.example.com', 'graft/3', 1, 1),
        ('GET', 'host3.example.com', 'graft/1', 1, 1),
        ('GET', 'host3.example.com', 'graft/2', 1, 1),
        ('GET', 'host3.example.com', 'graft/3', 1, 1),
        ('GET', 'host4.example.com', 'graft/0', 1, 1),
        ('GET', 'host4.example.com', 'graft/3', 1, 1),
        ('GET', 'host4.example.com', 'graft/4', 1, 1),
        ('GET', 'host5.example.com', 'graft/1', 1, 1),
        ('GET', 'host5.example.com', 'graft/3', 1, 1),
        ('GET', 'host6.example.com', 'graft/0', 1, 1),
        ('GET', 'host6.example.com', 'graft/1', 1, 1),
        ('GET', 'host6.example.com', 'graft/4', 1, 1),
        ('GET', 'host7.example.com', 'graft/1', 1, 1),
        ('GET', 'host7.example.com', 'graft/2', 1, 1),
        ('GET', 'host7.example.com', 'graft/3', 1, 1),
        ('GET', 'host8.example.com', 'graft/1', 1, 1),
        ('GET', 'host8.example.com', 'graft/4', 1, 1),
        ('GET', 'host9.example.com', 'graft/2', 1, 1),
        ('GET', 'host9.example.com', 'graft/3', 1, 1),
        ('GET', 'host9.example.com', 'graft/4', 1, 1),
        ('POST', 'host0.example.com', 'graft/1', 1, 1),
        ('POST', 'host1.example.com', 'graft/4', 1, 1),
        ('POST', 'host10.example.com', 'graft/3', 1, 1),
        ('POST', 'host11.example.com', 'graft/1', 1, 1),
        ('POST', 'host12.example.com', 'graft/3', 1, 1),
        ('POST', 'host2.example.com', 'graft/1', 1, 1),
        ('POST', 'host2.example.com', 'graft/2', 1, 1),
        ('POST', 'host3.example.com', 'graft/4', 1, 1),
        ('POST', 'host4.example.com', 'graft/2', 1, 1),
        ('POST', 'host5.example.com', 'graft/0', 1, 1),
        ('POST', 'host5.example.com', 'graft/4', 1, 1),
        ('POST', 'host6.example.com', 'graft/2', 1, 1),
        ('POST', 'host7.example.com', 'graft/0', 1, 1),
        ('POST', 'host8.example.com', 'graft/2', 1, 1),
        ('POST', 'host8.example.com', 'graft/3', 1, 1),
        ('POST', 'host9.example.com', 'graft/0', 1, 1)) AS v(method, host, agent, n, n_paths)""")),

    // ----- TCP handshake analytics over tcp_flags/tcp_ack -----------------
    // Superset columns the reference never decodes (it stops at ports).
    // SYN pairs with SYN|ACK under RFC 793 handshake arithmetic
    // (synack.ack = syn.seq + 1); RTT is the decoded capture timestamp
    // delta. Scale shape — deliberately NOT a self-join: a join of two
    // filtered views of a 100 TB capture reads the archive twice and
    // shuffles both sides. Instead, ONE scan with the flow key
    // normalized to client orientation by flag direction, then ONE
    // hash-aggregate taking each side's min timestamp conditionally —
    // the handshake check rides along as conditional min/max of
    // seq/ack. Half the I/O, one exchange, and partial aggregation
    // still combines map-side.
    Q("pcap_tcp_handshake_rtt",
      (s, d) => {
        import s.implicits._
        // flag-MEMBERSHIP matching (graft.pcap.TcpFlag), not exact string
        // equality — ECN handshakes render as "SYN|ECE|CWR"/"SYN|ACK|ECE"
        val isSyn = graft.pcap.TcpFlag.synNoAck($"tcp_flags")
        val isSynAck = graft.pcap.TcpFlag.synAck($"tcp_flags")
        s.read.format("pcap").load(handshakeSynthPath)
          .filter(graft.pcap.TcpFlag.hasSyn($"tcp_flags"))
          .select(
            when(isSyn, $"src").otherwise($"dst").as("client"),
            when(isSyn, $"dst").otherwise($"src").as("server"),
            when(isSyn, $"src_port").otherwise($"dst_port").as("client_port"),
            when(isSyn, $"dst_port").otherwise($"src_port").as("server_port"),
            isSyn.as("is_syn"), isSynAck.as("is_synack"),
            $"tcp_seq", $"tcp_ack", $"ts_micro")
          .groupBy($"client", $"server", $"client_port", $"server_port")
          .agg(
            min(when($"is_syn", $"ts_micro")).as("t_syn"),
            min(when($"is_synack", $"ts_micro")).as("t_synack"),
            max(when($"is_syn", $"tcp_seq")).as("syn_seq"),
            max(when($"is_synack", $"tcp_ack")).as("synack_ack"))
          .filter($"t_syn".isNotNull && $"t_synack".isNotNull &&
            $"synack_ack" === $"syn_seq" + 1)
          .select($"client", $"server", $"client_port",
            ($"t_synack" - $"t_syn").as("rtt_micro"))
      },
      Some(handshakeRttOracle(50))),

    // SYN-without-SYN|ACK: the classic port-scan detector. Same
    // single-scan conditional-aggregation shape as the RTT query (anti
    // semantics land in the HAVING: flows with a SYN but no matching
    // SYN|ACK), then a tiny per-scanner rollup.
    Q("pcap_syn_no_synack",
      (s, d) => {
        import s.implicits._
        // same flag-membership matching as the RTT query (ECN-safe)
        val isSyn = graft.pcap.TcpFlag.synNoAck($"tcp_flags")
        val isSynAck = graft.pcap.TcpFlag.synAck($"tcp_flags")
        s.read.format("pcap").load(handshakeSynthPath)
          .filter(graft.pcap.TcpFlag.hasSyn($"tcp_flags"))
          .select(
            when(isSyn, $"src").otherwise($"dst").as("client"),
            when(isSyn, $"dst").otherwise($"src").as("server"),
            when(isSyn, $"src_port").otherwise($"dst_port").as("client_port"),
            when(isSyn, $"dst_port").otherwise($"src_port").as("server_port"),
            isSyn.as("is_syn"), isSynAck.as("is_synack"),
            $"tcp_seq", $"tcp_ack")
          .groupBy($"client", $"server", $"client_port", $"server_port")
          .agg(
            sum(when($"is_syn", 1L)).as("n_syn_flow"),
            max(when($"is_syn", $"tcp_seq")).as("syn_seq"),
            max(when($"is_synack", $"tcp_ack")).as("synack_ack"))
          .filter($"n_syn_flow" > 0 &&
            ($"synack_ack".isNull || $"synack_ack" =!= $"syn_seq" + 1))
          .groupBy($"client")
          .agg(sum($"n_syn_flow").as("n_syn"),
            countDistinct($"server_port").as("n_ports"))
          .select($"client".as("scanner"), $"n_syn", $"n_ports")
      },
      Some(synScanOracle(50))),

    // Per-conversation feature vector (the pcap → training-data bridge):
    // canonical bidirectional flow key via least/greatest, then bounded
    // aggregates — packet count, bytes, duration. ONE shuffle on the
    // canonical key; every aggregate is partial-final.
    Q("pcap_flow_features",
      (s, d) => {
        import s.implicits._
        s.read.format("pcap").load(handshakeSynthPath)
          .select($"src", $"dst", $"src_port", $"dst_port", $"size",
            $"ts_micro")
          .groupBy(
            least($"src", $"dst").as("addr_lo"),
            greatest($"src", $"dst").as("addr_hi"),
            least($"src_port", $"dst_port").as("port_lo"),
            greatest($"src_port", $"dst_port").as("port_hi"))
          .agg(count(lit(1)).as("n_pkts"),
            sum($"size").as("total_bytes"),
            (max($"ts_micro") - min($"ts_micro")).as("duration_micro"))
      },
      Some(flowFeaturesOracle(50))),

    // ----- TLS ClientHello extraction (native expression) -----------------
    // tls_client_hello is a codegen'd Catalyst expression over the raw
    // payload (graft.functions.TlsClientHelloExpr); projection prunes the
    // scan to exactly the payload + flow columns it needs.
    Q("pcap_tls_sni",
      (s, d) => {
        import s.implicits._
        s.read.format("pcap").load(tlsSynthPath)
          .filter($"dst_port" === 443 &&
            graft.pcap.TcpFlag.hasPsh($"tcp_flags") &&
            graft.pcap.TcpFlag.hasAck($"tcp_flags"))
          .select($"src".as("client"),
            graft.functions.TlsClientHelloExpr
              .tls_client_hello($"payload").as("ch"))
          .select($"client", $"ch.sni".as("sni"),
            $"ch.version".as("version"),
            $"ch.cipher_count".as("cipher_count"),
            coalesce($"ch.alpn", lit("-")).as("alpn"))
      },
      Some(tlsSniOracle(40))),

    // The composition payoff: reassembly (tcp_seq) feeding the native
    // TLS expression. Every hello here is cut mid-record across
    // segments, so per-packet parsing extracts NOTHING — only the
    // seq-ordered concatenated stream parses. Same single-shuffle scale
    // shape as pcap_tcp_reassembly; the expression runs once per flow.
    Q("pcap_tls_sni_reassembled",
      (s, d) => {
        import s.implicits._
        s.read.format("pcap").load(tlsSegSynthPath)
          .filter($"protocol" === "TCP" && $"tcp_seq".isNotNull &&
            $"payload".isNotNull)
          .groupBy($"src", $"dst", $"src_port", $"dst_port")
          .agg(graft.functions.Reassemble.stream().as("r"))
          .select($"src".as("client"),
            graft.functions.TlsClientHelloExpr
              .tls_client_hello($"r.stream").as("ch"))
          .select($"client", $"ch.sni".as("sni"),
            $"ch.version".as("version"),
            $"ch.cipher_count".as("cipher_count"),
            coalesce($"ch.alpn", lit("-")).as("alpn"))
      },
      Some(tlsSniOracle(40, clientPrefix = "10.11.0"))),

    // Client-stack fingerprinting (the JA3-style SOC rollup): group
    // hellos by the md5 of the canonical version/cipher/extension
    // string the expression computes during the same parse. Stable
    // across hosts, distinct across stacks — the fixture's 40 clients
    // collapse to the (cipher-count x alpn x supported-versions)
    // combinations.
    Q("pcap_tls_fingerprint",
      (s, d) => {
        import s.implicits._
        s.read.format("pcap").load(tlsSynthPath)
          .filter($"dst_port" === 443 &&
            graft.pcap.TcpFlag.hasPsh($"tcp_flags") &&
            graft.pcap.TcpFlag.hasAck($"tcp_flags"))
          .select(graft.functions.TlsClientHelloExpr
            .tls_client_hello($"payload").as("ch"))
          .select($"ch.fp".as("fp"), $"ch.sni".as("sni"))
          .groupBy($"fp")
          .agg(count(lit(1)).as("n_clients"),
            countDistinct($"sni").as("n_sni"))
      },
      Some(tlsFingerprintOracle(40))),

    // ----- JA3S-style server fingerprint (round 11) -----------------------
    // The server-side twin of pcap_tls_fingerprint: which stack
    // ANSWERED, what it selected — JA3S groups responses by
    // md5(version, selected cipher, extension list). Same native-
    // expression discipline (TlsServerHelloExpr, codegen'd, NULL on
    // malformation — incl. the ServerHello-specific supported_versions
    // form: one 2-byte selected version, not a list). One scan, one
    // rollup on the tiny fingerprint key.
    Q("pcap_tls_ja3s",
      (s, d) => {
        import s.implicits._
        s.read.format("pcap").load(tlsSrvSynthPath)
          .filter($"src_port" === 443 &&
            graft.pcap.TcpFlag.hasPsh($"tcp_flags") &&
            graft.pcap.TcpFlag.hasAck($"tcp_flags"))
          .select(graft.functions.TlsServerHelloExpr
            .tls_server_hello($"payload").as("sh"))
          .filter($"sh".isNotNull)
          .select($"sh.fp".as("fp"), $"sh.cipher".as("cipher"),
            $"sh.version".as("version"))
          .groupBy($"fp")
          .agg(count(lit(1)).as("n_conns"),
            min($"cipher").as("cipher"),
            min($"version").as("version"))
      },
      Some(tlsJa3sOracle(40))),

    // Passive certificate inventory (the expiry/compliance audit SOCs
    // run from taps): reassemble each server's TLS 1.2 flight — the
    // Certificate message is cleartext and spans TCP segments, so only
    // the reassembled stream parses — extract the leaf X.509 via the
    // native DER expression, and roll up per (server, certificate).
    // Output is O(servers × certs); the reassembly groupBy is the one
    // high-cardinality shuffle, the rollup key is tiny. `expired`
    // compares notAfter to the capture clock (a batch-audit question,
    // so the clock is the capture's, not the wall's).
    Q("pcap_tls_certs",
      (s, d) => {
        import s.implicits._
        s.read.format("pcap").load(tlsCertSynthPath)
          .filter($"protocol" === "TCP" && $"src_port" === 443 &&
            $"tcp_seq".isNotNull && $"payload".isNotNull)
          .groupBy($"src", $"dst", $"src_port", $"dst_port")
          .agg(graft.functions.Reassemble.stream().as("r"))
          .select($"src".as("server"),
            graft.functions.TlsCertificateExpr
              .tls_certificate($"r.stream").as("c"))
          .filter($"c".isNotNull)
          .groupBy($"server", $"c.subject_cn".as("subject_cn"),
            $"c.issuer_cn".as("issuer_cn"), $"c.serial".as("serial"),
            $"c.not_before".as("not_before"),
            $"c.not_after".as("not_after"),
            $"c.san_count".as("san_count"),
            $"c.self_signed".as("self_signed"))
          .agg(count(lit(1)).as("n_sessions"))
          .withColumn("expired", $"not_after" < lit(1706100000L))
      },
      Some(tlsCertsOracle(60))),

    // QUIC rollout inventory (the "who speaks which QUIC" estate
    // audit): RFC 8999 defines a VERSION-INVARIANT long-header prefix —
    // form bit, 4-byte version, DCID/SCID lengths — exactly so passive
    // tools can do this without tracking the version zoo, and the
    // whole extraction is codegen'd built-ins over those fixed offsets
    // (hex(substring()) byte reads — no UTF-8 decode, no UDF).
    // Version 0 is the server's Version Negotiation packet (the
    // incompatibility signal worth alerting on); short-header (1-RTT)
    // packets carry no version by design and are excluded by the form
    // bit. ONE scan, ONE rollup on the tiny (server, version) key.
    Q("pcap_quic_inventory",
      (s, d) => {
        import s.implicits._
        s.read.format("pcap").load(quicSynthPath)
          .filter($"protocol" === "UDP" &&
            ($"dst_port" === 443 || $"src_port" === 443) &&
            $"payload".isNotNull && length($"payload") >= 7)
          .withColumn("flags",
            expr("CAST(conv(hex(substring(payload, 1, 1)), 16, 10) AS INT)"))
          .filter($"flags".bitwiseAND(128) =!= 0)
          .withColumn("version",
            expr("CAST(conv(hex(substring(payload, 2, 4)), 16, 10) AS BIGINT)"))
          .withColumn("server",
            when($"dst_port" === 443, $"dst").otherwise($"src"))
          .withColumn("client",
            when($"dst_port" === 443, $"src").otherwise($"dst"))
          .withColumn("dcid_len",
            expr("CAST(conv(hex(substring(payload, 6, 1)), 16, 10) AS INT)"))
          .withColumn("version_name",
            when($"version" === 1L, "v1")
              .when($"version" === 0x6B3343CFL, "v2")
              .when($"version" === 0xFF00001DL, "draft-29")
              .when($"version" === 0L, "negotiation")
              .otherwise("unknown"))
          .groupBy($"server", $"version_name")
          .agg(count(lit(1)).as("n_pkts"),
            countDistinct($"client").as("n_clients"),
            max($"dcid_len").as("max_dcid_len"))
          .withColumn("is_negotiation", $"version_name" === "negotiation")
      },
      Some(quicInventoryOracle(120))),

    // QUIC SNI recovery (the modern-traffic successor of pcap_tls_sni:
    // HTTP/3 flows never show a cleartext TCP ClientHello, but Initial
    // packets are protected only with keys derived from the PUBLIC
    // destination connection id — RFC 9001 §5.2 — so a passive tap can
    // decrypt them, reassemble the CRYPTO stream, and read SNI / ALPN /
    // client fingerprint). The whole pipeline — header-protection
    // removal, AES-GCM open, frame walk, ClientHello parse — is ONE
    // native expression per UDP/443 row (no shuffle until the tiny
    // rollup); bit-flipped, short-header, and version-negotiation decoys
    // in the fixture are rejected by the crypto itself, not by shape
    // heuristics. Output is O(server × SNI); both v1 and v2 populations.
    Q("pcap_quic_sni",
      (s, d) => {
        import s.implicits._
        s.read.format("pcap").load(quicSniSynthPath)
          .filter($"protocol" === "UDP" && $"dst_port" === 443 &&
            $"payload".isNotNull)
          .withColumn("q",
            graft.functions.QuicInitialExpr.quic_initial($"payload"))
          .filter($"q".isNotNull && $"q.sni".isNotNull)
          .groupBy($"dst".as("server"), $"q.version".as("quic_version"),
            $"q.sni".as("sni"), $"q.alpn".as("alpn"),
            $"q.tls_version".as("tls_version"))
          .agg(count(lit(1)).as("n_pkts"),
            countDistinct($"src").as("n_clients"),
            max($"q.cipher_count").as("cipher_count"),
            sum($"q.token_len").as("sum_token_len"),
            max($"q.pkt_num").as("max_pkt_num"),
            countDistinct($"q.fp").as("n_fps"))
      },
      Some(quicSniOracle(96))),

    // SMTP envelope / STARTTLS compliance audit (the mail-estate twin
    // of pcap_cleartext_creds): which sender domains still relay mail
    // without upgrading to TLS, and which sessions push credentials as
    // base64 AUTH LOGIN. Two-level shape: per-SESSION conditional
    // aggregation first (MAIL FROM / RCPT / STARTTLS / AUTH are
    // separate packets of one flow, so session facts need the flow
    // rollup — high-cardinality key, spreads), then the tiny
    // (server, sender_domain) rollup. Sessions with no envelope (EHLO
    // probes, binary junk) fall out between the two. All predicates
    // are codegen'd string built-ins over one cast of the payload.
    Q("pcap_smtp_audit",
      (s, d) => {
        import s.implicits._
        s.read.format("pcap").load(smtpSynthPath)
          .filter($"protocol" === "TCP" && $"dst_port" === 25 &&
            $"payload".isNotNull)
          .withColumn("line", $"payload".cast("string"))
          .groupBy($"src", $"dst", $"src_port")
          .agg(
            max(regexp_extract($"line", "^MAIL FROM:<([^>]*)>", 1))
              .as("sender"),
            sum(when($"line".startsWith("RCPT TO:"), 1L).otherwise(0L))
              .as("rcpts"),
            max(when($"line" === "STARTTLS\r\n", 1L).otherwise(0L))
              .as("starttls"),
            max(when($"line" === "AUTH LOGIN\r\n", 1L).otherwise(0L))
              .as("plain_auth"))
          .filter($"sender" =!= "")
          .withColumn("sender_domain", substring_index($"sender", "@", -1))
          .groupBy($"dst".as("server"), $"sender_domain")
          .agg(count(lit(1)).as("n_sessions"),
            sum($"rcpts").as("n_rcpts"),
            sum($"starttls").as("n_starttls"),
            sum($"plain_auth").as("n_plain_auth"))
          .withColumn("cleartext_exposed", $"n_starttls" < $"n_sessions")
      },
      Some(smtpAuditOracle(140))),

    // DGA-candidate detection (the botnet-C2 hunting staple, the
    // rendezvous-side complement of pcap_dns_fastflux's hosting side):
    // malware generates pseudo-random domains and walks them until one
    // resolves, so an infected CLIENT shows a high NXDOMAIN rate AND
    // name-shape anomaly (long digit-heavy first labels) — either
    // signal alone false-positives (typos are NX but well-shaped; CDNs
    // hash into long labels but resolve). ONE scan serves both
    // directions via conditional aggregation — queries keyed by src,
    // responses by dst, collapsing onto the same client key in ONE
    // shuffle; the shape stats are codegen'd string built-ins and
    // everything aggregates as exact integers (no float ratios).
    Q("pcap_dga_candidates",
      (s, d) => {
        import s.implicits._
        s.read.format("pcap").option("decoder", "dns")
          .load(dgaSynthPath)
          .filter($"protocol" === "UDP" && $"dns_qname".isNotNull &&
            ($"dst_port" === 53 || $"src_port" === 53))
          .withColumn("client",
            when($"dst_port" === 53, $"src").otherwise($"dst"))
          .withColumn("is_q", $"dst_port" === 53)
          .withColumn("sld", substring_index($"dns_qname", ".", 1))
          .withColumn("sld_len",
            when($"is_q", length($"sld").cast("long")).otherwise(0L))
          .withColumn("sld_digits",
            when($"is_q", (length($"sld") -
              length(regexp_replace($"sld", "[0-9]", ""))).cast("long"))
              .otherwise(0L))
          .groupBy($"client")
          .agg(
            sum(when($"is_q", 1L).otherwise(0L)).as("n_queries"),
            sum(when(!$"is_q", 1L).otherwise(0L)).as("n_responses"),
            sum(when(!$"is_q" && $"dns_rcode" === "NXDOMAIN", 1L)
              .otherwise(0L)).as("n_nxdomain"),
            sum($"sld_len").as("sum_sld_len"),
            sum($"sld_digits").as("sum_sld_digits"))
          .withColumn("dga_flag",
            $"n_queries" >= 10 &&
              $"n_nxdomain" * 10 >= $"n_responses" * 6 &&
              $"sum_sld_digits" * 100 >= $"sum_sld_len" * 15)
      },
      Some(dgaOracle(200))),

    // Batch twin of streaming.SynScanStream.scanAlerts (same windowed
    // distinct-port threshold semantics, exact batch countDistinct) —
    // the oracle row set the streaming spec also asserts against.
    Q("pcap_syn_portscan_twin",
      (s, d) => {
        import s.implicits._
        s.read.format("pcap").load(handshakeSynthPath)
          .filter(graft.pcap.TcpFlag.synNoAck($"tcp_flags"))
          .groupBy(window($"time", "10 seconds"), $"src")
          .agg(countDistinct($"dst_port").as("n_ports"))
          .filter($"n_ports" >= 3)
          .select(unix_timestamp($"window.start").as("window_start_s"),
            $"src".as("scanner"), $"n_ports")
      },
      Some(synPortscanTwinOracle(50))),

    // ----- ICMP decode (icmp_type/icmp_code superset columns) -------------
    // Message-type histogram: the first triage query over any capture
    // with ping/traceroute/unreachable traffic.
    Q("pcap_icmp_summary",
      (s, d) => {
        import s.implicits._
        s.read.format("pcap").load(icmpSynthPath)
          .filter($"protocol" === "ICMP")
          .groupBy($"icmp_type", $"icmp_code")
          .agg(count(lit(1)).as("n"),
            countDistinct($"dst").as("n_dst"))
      },
      Some("""SELECT CAST(v.icmp_type AS INT) AS icmp_type, CAST(v.icmp_code AS INT) AS icmp_code, CAST(v.n AS BIGINT) AS n, CAST(v.n_dst AS BIGINT) AS n_dst
        FROM (VALUES (0, 0, 50, 50), (3, 0, 3, 3), (3, 1, 3, 3),
        (3, 2, 2, 2), (3, 3, 2, 2),
        (8, 0, 50, 1)) AS v(icmp_type, icmp_code, n, n_dst)""")),

    // Echo request/reply pairing — ping RTT per client, the ICMP twin of
    // pcap_tcp_handshake_rtt: the same single-scan conditional
    // aggregation on the client-normalized pair key (no self-join, one
    // exchange).
    Q("pcap_icmp_echo_rtt",
      (s, d) => {
        import s.implicits._
        val isReq = $"icmp_type" === 8
        s.read.format("pcap").load(icmpSynthPath)
          .filter($"icmp_type".isin(8, 0))
          .select(
            when(isReq, $"src").otherwise($"dst").as("client"),
            when(isReq, $"dst").otherwise($"src").as("server"),
            $"icmp_type", $"ts_micro")
          .groupBy($"client", $"server")
          .agg(min(when($"icmp_type" === 8, $"ts_micro")).as("t_req"),
            min(when($"icmp_type" === 0, $"ts_micro")).as("t_rep"))
          .filter($"t_req".isNotNull && $"t_rep".isNotNull)
          .select($"client", ($"t_rep" - $"t_req").as("rtt_micro"))
      },
      Some(icmpEchoRttOracle(50))),

    // ----- ICMPv6 + NDP triage (round 11, v6 parity) ----------------------
    // The v6 twin of pcap_icmp_summary over an RFC 4443/4861 mix —
    // echo pairs plus the NDP chatter (neighbor/router discovery)
    // every real v6 segment carries; the decoder's protocol-58 branch
    // feeds the same icmp_type/icmp_code columns as v4, so the triage
    // plan is identical (one scan, one bounded-key rollup).
    // ----- DHCP server inventory / rogue detection (round 11) -------------
    // The LAN-monitoring staple: parse RFC 2131 BOOTP + RFC 2132
    // options from DHCP UDP payloads (bounds-safe option walk) and
    // roll up per advertised server identity (option 54) — a second
    // server OFFERing on the segment is the rogue-DHCP signal. One
    // scan with a port-pruned filter, per-row narrow parse, ONE
    // rollup on the tiny server-id key.
    Q("pcap_dhcp_servers",
      (s, d) => {
        import s.implicits._
        s.read.format("pcap").load(dhcpSynthPath)
          .filter($"protocol" === "UDP" && $"src_port" === 67 &&
            $"payload".isNotNull)
          .select($"payload").as[Array[Byte]]
          .mapPartitions(_.flatMap(graft.pcap.Decap.dhcp))
          .filter($"op" === 2 && $"serverId".isNotNull)
          .groupBy($"serverId")
          .agg(sum(when($"msgType" === 2, 1L).otherwise(0L))
              .as("n_offers"),
            sum(when($"msgType" === 5, 1L).otherwise(0L)).as("n_acks"),
            countDistinct($"chaddr").as("n_clients"))
          .withColumnRenamed("serverId", "server_id")
      },
      Some(dhcpServersOracle(90))),

    // Batch twin of streaming.DhcpGuardStream.rogueAlerts (same
    // windowed distinct-server threshold semantics, exact batch
    // countDistinct) — the oracle row set the streaming spec also
    // asserts against, the pcap_syn_portscan_twin pattern.
    Q("pcap_dhcp_rogue_twin",
      (s, d) => {
        import s.implicits._
        s.read.format("pcap").load(dhcpSynthPath)
          .filter($"protocol" === "UDP" && $"src_port" === 67 &&
            $"payload".isNotNull)
          .select($"time", $"payload")
          .as[(java.sql.Timestamp, Array[Byte])]
          .mapPartitions(_.flatMap { case (t, pl) =>
            graft.pcap.Decap.dhcp(pl).collect {
              case f if f.op == 2 && f.msgType == 2 &&
                  f.serverId.isDefined => (t, f.serverId.get)
            }
          })
          .toDF("time", "server_id")
          .groupBy(window($"time", "2 seconds"))
          .agg(countDistinct($"server_id").as("n_servers"),
            min($"server_id").as("srv_a"),
            max($"server_id").as("srv_b"))
          .filter($"n_servers" >= 2)
          .select(unix_timestamp($"window.start").as("window_start_s"),
            $"n_servers", $"srv_a", $"srv_b")
      },
      Some(dhcpRogueOracle(90))),

    // ----- C2 beaconing detection (round 11) ------------------------------
    // The periodicity analysis threat hunters run over flow records:
    // an implant checking in on a timer produces inter-arrival gaps
    // with an anomalously LOW coefficient of variation, while human
    // traffic scatters. Integer-exact end to end: gaps in whole
    // milliseconds via `div`, CV² in basis points as
    // (n·Σg² − (Σg)²)·10000 div (Σg)² — no floating point, so the
    // DuckDB oracle (an independent replay of the emission formulas)
    // matches bit-for-bit. Scale shape: scan pruned to 4 columns, ONE
    // shuffle on the high-cardinality flow key — the lag window and
    // the aggregation share the (src, dst, dst_port) partitioning, so
    // the rollup rides the window's exchange; flows with < 8 observed
    // gaps are gated out (minimum-observation rule), keeping the
    // output O(distinct long-lived flows).
    Q("pcap_beacon_candidates",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy($"src", $"dst", $"dst_port")
          .orderBy($"ts_micro")
        s.read.format("pcap").load(beaconSynthPath)
          .filter($"protocol" === "UDP")
          .select($"src", $"dst", $"dst_port", $"ts_micro")
          .withColumn("prev", lag($"ts_micro", 1).over(w))
          .withColumn("gap_ms", expr("(ts_micro - prev) div 1000"))
          .groupBy($"src", $"dst", $"dst_port")
          .agg(count(lit(1)).as("n_pkts"),
            count($"gap_ms").as("n_gaps"),
            sum($"gap_ms").as("s1"),
            sum($"gap_ms" * $"gap_ms").as("s2"))
          .filter($"n_gaps" >= 8)
          .withColumn("cv2_bp",
            expr("((n_gaps * s2 - s1 * s1) * 10000) div (s1 * s1)"))
          .select($"src", $"dst", $"dst_port", $"n_pkts",
            expr("s1 div n_gaps").as("period_ms"), $"cv2_bp",
            ($"cv2_bp" <= 100).as("is_beacon"))
      },
      Some(beaconOracle(24, 18))),

    // ----- passive DNS (round 11) -----------------------------------------
    // The investigator's staple database: every observed (owner name,
    // type, rdata) mapping with observation count and first/last-seen
    // timestamps — what teams pivot on for "which IPs has this name
    // ever resolved to" / "which names pointed at this IP". Consumes
    // the decoder's canonical RR strings (answer-section emission is
    // projection-driven, so ONLY this column family pays the section
    // parse), splits the presentation form with a bounded 5-way split
    // (rdata keeps embedded spaces), and rolls up on the
    // high-cardinality (rrname, rrtype, rdata) key: one scan, ONE
    // shuffle, output O(distinct mappings).
    Q("pcap_passive_dns",
      (s, d) => {
        import s.implicits._
        s.read.format("pcap").option("decoder", "dns")
          .load(passiveDnsSynthPath)
          .filter($"dns_qr" === true && $"dns_answer".isNotNull)
          .select($"ts", explode($"dns_answer").as("rr"))
          .withColumn("f", split($"rr", " ", 5))
          .filter(element_at($"f", 3) === "IN")
          .select(element_at($"f", 1).as("rrname"),
            element_at($"f", 4).as("rrtype"),
            element_at($"f", 5).as("rdata"), $"ts")
          .groupBy($"rrname", $"rrtype", $"rdata")
          .agg(count(lit(1)).as("n_obs"),
            min($"ts").as("first_seen"),
            max($"ts").as("last_seen"))
      },
      Some(passiveDnsOracle(400))),

    // Batch twin of streaming.NodStream.alerts — the newly-observed-
    // domain feed (the threat-intel staple: alert the FIRST time any
    // domain is ever seen on the wire). Batch semantics: global
    // min(ts) per observed name — one rollup on the high-cardinality
    // name key. The streaming form must agree for any admission order
    // the watermark admits (PcapStreamingSpec).
    Q("pcap_nod_twin",
      (s, d) => {
        import s.implicits._
        s.read.format("pcap").option("decoder", "dns")
          .load(passiveDnsSynthPath)
          .filter($"dns_qr" === true && $"dns_qname".isNotNull)
          .groupBy($"dns_qname".as("rrname"))
          .agg(min($"ts").as("first_seen"))
      },
      Some(nodOracle(400))),

    // ----- DNS response integrity (off-path spoof detection) --------------
    // The validation passive_dns skips: a DNS response is only
    // trustworthy if it matches an OBSERVED query on the full
    // (client, client port, resolver, txid) key. Off-path spoofing
    // guesses the txid blind (Kaminsky-style), so its responses orphan
    // — no matching query — while an on-path poisoning race matches
    // the key but produces a SECOND answer set for one query. Per
    // resolver: query/response volume, orphan responses (txid
    // guesses), and queries with conflicting answers (races).
    //
    // Scale: queries and responses both project to narrow columns at
    // the scan (answer arrays only on the response side), the
    // correlation join shuffles on the HIGH-cardinality flow+txid key,
    // and the per-resolver rollup is a tiny second shuffle. The left
    // join is safe from skew: a query key matches at most the
    // responses of one conversation.
    Q("pcap_dns_spoof_candidates",
      (s, d) => {
        import s.implicits._
        val pk = s.read.format("pcap").option("decoder", "dns")
          .load(dnsSpoofSynthPath)
          .filter($"protocol" === "UDP" && $"dns_queryid".isNotNull)
        val qy = pk.filter($"dns_qr" === false)
          .select($"src".as("client"), $"src_port".as("cport"),
            $"dst".as("resolver"), $"dns_queryid".as("txid"))
          .distinct()
          .withColumn("has_q", lit(true))
        val rs = pk.filter($"dns_qr" === true)
          .select($"dst".as("client"), $"dst_port".as("cport"),
            $"src".as("resolver"), $"dns_queryid".as("txid"),
            to_json($"dns_answer").as("ans"))
        val m = rs.join(qy, Seq("client", "cport", "resolver", "txid"),
          "left")
        val respStats = m.groupBy($"resolver")
          .agg(count(lit(1)).as("n_resp"),
            sum(when($"has_q".isNull, 1L).otherwise(0L)).as("n_orphan"))
        val raceStats = m.filter($"has_q".isNotNull)
          .groupBy($"resolver", $"client", $"cport", $"txid")
          .agg(countDistinct($"ans").as("nda"))
          .groupBy($"resolver")
          .agg(sum(when($"nda" > 1, 1L).otherwise(0L)).as("n_race"))
        qy.groupBy($"resolver").agg(count(lit(1)).as("n_query"))
          .join(respStats, "resolver").join(raceStats, "resolver")
          .select($"resolver", $"n_query", $"n_resp", $"n_orphan",
            $"n_race")
      },
      Some(dnsSpoofOracle(280))),

    // ----- passive OS fingerprinting (round 11) ---------------------------
    // p0f-style inference from SYN metadata alone: the observed TTL
    // rounds up to the OS's initial TTL (32/64/128/255 — TTL only
    // decrements in flight), and the (initial TTL, SYN window size)
    // pair is the classic signature key. Scan-level SYN filter, pure
    // per-row projection, ONE rollup on a tiny bounded key space;
    // max_hops = max(initial_ttl − ttl) bounds the observed path
    // depth per signature.
    Q("pcap_os_fingerprint",
      (s, d) => {
        import s.implicits._
        s.read.format("pcap").load(osSynthPath)
          .filter($"protocol" === "TCP" && $"tcp_flags" === "SYN")
          .withColumn("initial_ttl",
            when($"ttl" <= 32, 32).when($"ttl" <= 64, 64)
              .when($"ttl" <= 128, 128).otherwise(255))
          .withColumn("os_guess",
            when($"initial_ttl" === 64 && $"tcp_window" === 29200,
              "linux")
            .when($"initial_ttl" === 128 && $"tcp_window" === 64240,
              "windows")
            .when($"initial_ttl" === 64 && $"tcp_window" === 65535,
              "macos")
            .when($"initial_ttl" === 255 && $"tcp_window" === 8192,
              "embedded")
            .otherwise("unknown"))
          .groupBy($"os_guess", $"initial_ttl", $"tcp_window")
          .agg(count(lit(1)).as("n_syn"),
            countDistinct($"src").as("n_hosts"),
            max($"initial_ttl" - $"ttl").as("max_hops"))
      },
      Some(osFingerprintOracle(260))),

    // ----- TCP SYN option inventory (p0f-style fingerprint surface) -------
    // The round-11 decoder extension os_fingerprint was missing: the
    // TTL/window signature above is what the reference's column set
    // allowed, but real passive OS fingerprinting (p0f) keys on the SYN
    // OPTIONS — MSS, window scale, SACK-permitted, timestamps — which
    // the decoder now parses natively (FrameDecoder option walk,
    // bounded by the 60-byte max TCP header; columns NULL when the
    // option region was truncated or malformed, never a guessed
    // false). This query is the inventory consumers build signature
    // tables from: one row per distinct option fingerprint with SYN
    // and distinct-host counts.
    //
    // Scale: the option walk is O(option bytes ≤ 40) per packet inside
    // the scan (no second pass), the projection prunes to five narrow
    // columns, and the single shuffle groups on a low-volume composite
    // key (option fingerprints are a small population by nature — the
    // whole point of using them as signatures).
    Q("pcap_tcp_syn_options",
      (s, d) => {
        import s.implicits._
        s.read.format("pcap").load(synOptSynthPath)
          .filter($"protocol" === "TCP" && $"tcp_flags" === "SYN")
          .groupBy($"tcp_mss", $"tcp_wscale", $"tcp_sack_ok", $"tcp_ts_ok")
          .agg(count(lit(1)).as("n_syn"),
            countDistinct($"src").as("n_hosts"))
      },
      Some(synOptOracle(240))),

    // ----- TTL path-stability monitor (round 11) --------------------------
    // Passive route/spoof telemetry from the TTL field: each packet's
    // hop estimate is (initial-TTL class − observed TTL), where the
    // class is the nearest standard initial TTL above (32/64/128/255 —
    // the os_fingerprint classes). Per (src, dst) flow the monitor
    // rolls up hop spread and class mixing: a hop estimate that jumps
    // ≥ 3 WITHIN one class is a route flap (path_change); observing
    // MORE THAN ONE class claiming the same source is the
    // injected/spoofed-traffic tell (spoof_suspect) — a real host's
    // initial TTL does not change mid-capture. All-integer thresholds.
    // ONE scan, ONE shuffle on the high-cardinality flow key; the
    // per-packet class/hop math is codegen'd projection.
    Q("pcap_ttl_path",
      (s, d) => {
        import s.implicits._
        s.read.format("pcap").load(ttlPathSynthPath)
          .filter($"protocol" === "UDP")
          .withColumn("init_class",
            when($"ttl" <= 32, 32).when($"ttl" <= 64, 64)
              .when($"ttl" <= 128, 128).otherwise(255))
          .withColumn("hops", $"init_class" - $"ttl")
          .groupBy($"src", $"dst")
          .agg(count(lit(1)).as("n_pkts"),
            countDistinct($"ttl").as("n_ttls"),
            countDistinct($"init_class").as("n_classes"),
            min($"hops").as("min_hops"),
            max($"hops").as("max_hops"))
          .withColumn("path_change",
            $"n_classes" === 1 && $"max_hops" - $"min_hops" >= 3)
          .withColumn("spoof_suspect", $"n_classes" > 1)
      },
      Some(ttlPathOracle(210))),

    // ----- capture gap detection (sensor-health observability) ------------
    // The other half of capture observability: a tap that silently
    // dropped for 30 s produces no error — only a HOLE in the
    // timestamp stream. A gap is an inter-packet spacing that dwarfs
    // the cadence floor (> 1 s here, vs the 1 ms steady rate). The lag
    // window partitions by FILE — per-capture ordering is exactly the
    // per-file ordering, so at 100 TB every capture file's gap scan
    // runs in parallel with no global sort (same key the scan already
    // parallelizes by). Emits (previous-packet ts, gap µs) per hole.
    Q("pcap_capture_gaps",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy($"file").orderBy($"ts_micro")
        s.read.format("pcap").load(gapSynthPath)
          .select($"file", $"ts_micro")
          .withColumn("prev", lag($"ts_micro", 1).over(w))
          .filter($"prev".isNotNull &&
            $"ts_micro" - $"prev" > 1000000L)
          .select($"prev".as("gap_start_micro"),
            ($"ts_micro" - $"prev").as("gap_micro"))
      },
      Some(captureGapsOracle())),

    // ----- decode-depth census (capture-quality observability) ------------
    // "How much of my 100 TB is junk" — the operational rollup of how
    // deep each packet decoded: full L4, L3-with-unsupported-L4,
    // truncated-mid-L3 (snap length), or non-IP L2. The decoder's
    // partial-decode contract (absent fields, never garbage — the
    // fuzz-spec guarantee) is what makes this a pure column CASE over
    // the scan: no error channel, no exceptions, one tiny rollup.
    // Distinct sizes per class keep the byte accounting honest.
    Q("pcap_decode_depth_census",
      (s, d) => {
        import s.implicits._
        s.read.format("pcap").load(malformedSynthPath)
          .select(
            when($"src_port".isNotNull || $"icmp_type".isNotNull,
              "l4_decoded")
              .when($"src".isNotNull, "l3_unsupported_l4")
              .when($"ether_type".isin("IPv4", "IPv6"), "l3_truncated")
              .otherwise("l2_only").as("depth"),
            $"size")
          .groupBy($"depth")
          .agg(count(lit(1)).as("n"), sum($"size").as("n_bytes"))
      },
      Some(decodeDepthOracle(150))),

    // ----- passive traceroute reconstruction (round 11) -------------------
    // Rebuild per-destination router paths from the capture alone, the
    // way traceroute itself does: an ICMP Time-Exceeded (type 11)
    // QUOTES the expired probe's IP header + first 8 bytes (RFC 792),
    // and that quote is the ONLY place the probe's hop number
    // survives — hop = quoted UDP dst_port − 33434 (the classic
    // port-increment encoding). All quote fields come out of the
    // payload with fixed-offset codegen'd byte reads (quoted dst IP at
    // bytes 17-20, quoted dst_port at 23-24 — never a UTF-8 decode);
    // the probe packets themselves and ICMP echo noise are exclusion
    // traffic. Completion is the target's port-unreachable (type 3
    // code 3). Per (prober, target): hop count, ordered router path
    // (argsorted struct fold — partition-order independent), reached
    // flag. ONE shuffle on the trace key + a broadcast-size reached
    // join.
    Q("pcap_passive_traceroute",
      (s, d) => {
        import s.implicits._
        def qb(off: Int) =
          expr(s"cast(conv(hex(substring(payload, $off, 1)), 16, 10) as int)")
        val pkts = s.read.format("pcap").load(tracerouteSynthPath)
        val te = pkts
          .filter($"protocol" === "ICMP" && $"icmp_type" === 11)
          .select($"dst".as("prober"), $"src".as("router"),
            concat_ws(".", qb(17), qb(18), qb(19), qb(20)).as("target"),
            (expr("cast(conv(hex(substring(payload, 23, 2)), 16, 10)" +
              " as int)") - 33434).as("hop"))
        val reached = pkts
          .filter($"protocol" === "ICMP" && $"icmp_type" === 3 &&
            $"icmp_code" === 3)
          .select($"dst".as("prober"), $"src".as("target"))
          .distinct()
          .withColumn("reached", lit(true))
        te.groupBy($"prober", $"target")
          .agg(count(lit(1)).as("n_hops_seen"),
            max($"hop").as("last_hop"),
            array_join(expr(
              "transform(array_sort(collect_list(struct(hop, router)))," +
                " x -> x.router)"), ">").as("path"))
          .join(reached, Seq("prober", "target"), "left")
          .na.fill(false, Seq("reached"))
          .select($"prober", $"target", $"n_hops_seen", $"last_hop",
            $"reached", $"path")
      },
      Some(tracerouteOracle(120))),

    // ----- flow size distribution (mice vs elephants) ----------------------
    // The capacity-planning staple: per-flow byte totals folded into
    // log2 buckets — the histogram that says whether the network is
    // mice (chatty small flows) or elephants (few bulk flows), read
    // over TWO captures in ONE multi-path scan (the pcap source takes
    // any number of paths; whole-file partitions just concatenate).
    // The bucket is floor(log2(bytes)) computed EXACTLY as the binary
    // string length minus one (bin() in both engines) — no float log2
    // whose rounding at exact powers of two could differ. ONE shuffle
    // on the flow 5-tuple, then a tiny bucket rollup.
    Q("pcap_flow_size_histogram",
      (s, d) => {
        import s.implicits._
        s.read.format("pcap")
          .load(flowExportSynthPath, exfilSynthPath)
          .filter($"protocol" === "UDP")
          .groupBy($"src", $"dst", $"src_port", $"dst_port")
          .agg(sum($"size").as("bytes"), count(lit(1)).as("n_pkts"))
          .withColumn("bucket",
            expr("CAST(length(bin(bytes)) - 1 AS INT)"))
          .groupBy($"bucket")
          .agg(count(lit(1)).as("n_flows"),
            sum($"bytes").as("sum_bytes"),
            sum($"n_pkts").as("sum_pkts"))
      },
      Some(flowSizeHistogramOracle(60, 180))),

    // ----- data-exfiltration candidates (round 11) ------------------------
    // The SOC upload-asymmetry sweep: per (internal host, external
    // destination), payload bytes out vs in. Browsing is download-heavy
    // (requests are small, responses big); bulk exfiltration inverts
    // the ratio. The rule is all-integer (bytes_out ≥ 5 × bytes_in AND
    // bytes_out ≥ 10 000) — and precision comes from the SANCTIONED
    // destination allowlist (backup/CDN upload targets), which is
    // inherently tiny and therefore a BROADCAST left join: the
    // high-cardinality flow rollup never re-shuffles for it. Direction
    // is derived from the RFC 1918 side of each packet, so request and
    // response rows of one flow land on the same (host, ext) key with
    // ONE shuffle.
    Q("pcap_exfil_candidates",
      (s, d) => {
        import s.implicits._
        val allow = Seq("192.0.2.10", "192.0.2.11").toDF("ext")
          .withColumn("allowlisted", lit(true))
        s.read.format("pcap").load(exfilSynthPath)
          .filter($"protocol" === "UDP" && $"len" > 0)
          .withColumn("up", $"src".startsWith("10."))
          .select(
            when($"up", $"dst").otherwise($"src").as("ext"),
            when($"up", $"src").otherwise($"dst").as("host"),
            when($"up", $"len").otherwise(0).cast("long").as("b_out"),
            when(!$"up", $"len").otherwise(0).cast("long").as("b_in"))
          .groupBy($"ext", $"host")
          .agg(sum($"b_out").as("bytes_out"),
            sum($"b_in").as("bytes_in"),
            count(lit(1)).as("n_pkts"))
          .join(broadcast(allow), Seq("ext"), "left")
          .na.fill(false, Seq("allowlisted"))
          .withColumn("upload_heavy",
            $"bytes_out" >= $"bytes_in" * 5 && $"bytes_out" >= 10000L)
          .withColumn("exfil_candidate",
            $"upload_heavy" && !$"allowlisted")
      },
      Some(exfilOracle(180))),

    // ----- SSH server inventory (round 11) --------------------------------
    // Asset inventory from passive capture: the cleartext version
    // banner every SSH server sends first (RFC 4253 §4.2) names the
    // implementation and version — the patch-audit staple. Pure
    // built-in functions end to end (cast + regexp_extract, all
    // codegen'd): the banner prefix is ASCII by spec, so the UTF-8
    // cast is safe for matching rows and non-banner binary payloads
    // simply fail the anchor. src_port-22 keeps client banners out;
    // ONE rollup on the small (server, banner) key.
    Q("pcap_ssh_inventory",
      (s, d) => {
        import s.implicits._
        s.read.format("pcap").load(sshSynthPath)
          .filter($"protocol" === "TCP" && $"src_port" === 22 &&
            $"payload".isNotNull)
          .withColumn("banner",
            regexp_extract($"payload".cast("string"),
              "^(SSH-[0-9][^\\r\\n]*)", 1))
          .filter($"banner" =!= "")
          .groupBy($"src".as("server"), $"banner")
          .agg(count(lit(1)).as("n_banners"),
            countDistinct($"dst").as("n_clients"))
          .withColumn("is_legacy", !$"banner".startsWith("SSH-2.0"))
      },
      Some(sshInventoryOracle(200))),

    // ----- NTP amplification detection (round 11) -------------------------
    // The reflection-attack shape: tiny mode-7 (monlist) requests
    // with a spoofed victim source draw huge responses off a
    // reflector — the tell is the per-(server, client) byte
    // amplification ratio. Direction is port-derived (server side =
    // port 123), the NTP mode comes from the first payload byte via
    // hex(substring(...)) — bytes ≥ 0x80 never pass through a UTF-8
    // decode. Integer ratio in tenths. ONE scan with conditional
    // aggregation, ONE shuffle on the high-cardinality (server,
    // client) pair.
    Q("pcap_ntp_amplification",
      (s, d) => {
        import s.implicits._
        s.read.format("pcap").load(ntpSynthPath)
          .filter($"protocol" === "UDP" &&
            ($"src_port" === 123 || $"dst_port" === 123) &&
            $"payload".isNotNull)
          .withColumn("is_resp", $"src_port" === 123)
          .withColumn("mode",
            expr("cast(conv(hex(substring(payload, 1, 1)), 16, 10)" +
              " as int) % 8"))
          .groupBy(
            when($"is_resp", $"src").otherwise($"dst").as("server"),
            when($"is_resp", $"dst").otherwise($"src").as("client"))
          .agg(
            sum(when(!$"is_resp", 1L).otherwise(0L)).as("req_pkts"),
            sum(when($"is_resp", 1L).otherwise(0L)).as("resp_pkts"),
            sum(when(!$"is_resp", $"len".cast("long"))
              .otherwise(0L)).as("req_bytes"),
            sum(when($"is_resp", $"len".cast("long"))
              .otherwise(0L)).as("resp_bytes"),
            sum(when($"mode" === 7, 1L).otherwise(0L)).as("n_mode7"))
          .withColumn("amp_x10",
            expr("resp_bytes * 10 div greatest(req_bytes, 1)"))
          .withColumn("amplified", $"amp_x10" >= 100)
      },
      Some(ntpAmplificationOracle(140))),

    // ----- capinfos-style per-file inventory (round 11) -------------------
    // The capture-estate triage query (what `capinfos` prints per
    // file): packet count, time bounds, byte volume, duration, and
    // data rate for every file in a landing directory. Output is
    // O(files); the rollup keys on the file path, which the
    // whole-file-partition source makes perfectly aligned — every
    // group is map-side-complete, no row of one file ever meets
    // another's. At 100 TB this is the "which captures are worth
    // decoding" pass, and the count/ts columns could come from the
    // .tsidx sidecars alone — the byte totals are what forces the
    // scan here.
    Q("pcap_capinfos",
      (s, d) => {
        import s.implicits._
        s.read.format("pcap").load(capinfoSynthDir)
          .groupBy(regexp_extract($"file", "([^/]+)$", 1)
            .as("file_name"))
          .agg(count(lit(1)).as("n_pkts"),
            min($"ts_micro").as("first_ts"),
            max($"ts_micro").as("last_ts"),
            sum($"size").as("total_bytes"))
          .withColumn("duration_s",
            expr("(last_ts - first_ts) div 1000000"))
          .withColumn("rate_bps",
            expr("total_bytes * 1000000 div " +
              "greatest(last_ts - first_ts, 1)"))
      },
      Some(capinfosOracle(3))),

    // ----- DNS typosquat detection (round 11) -----------------------------
    // Lookalike-domain hunting: observed query names within edit
    // distance 2 of a broadcast allowlist of high-value domains (but
    // not equal) are phishing/typosquat candidates. The allowlist is
    // inherently small (the domains worth protecting), so the right
    // plan is a BROADCAST nested-loop join with the codegen'd
    // `levenshtein` predicate — zero shuffle for the match itself,
    // Θ(rows × |allowlist|) bounded compares; the only exchange is
    // the final per-(domain, popular) rollup. The per-domain
    // pre-aggregation BEFORE the join shrinks the nested-loop input
    // from packets to distinct names.
    Q("pcap_dns_typosquat",
      (s, d) => {
        import s.implicits._
        val popular = graft.pcap.PcapSynth.popularDomains
          .toDF("popular")
        val names = s.read.format("pcap").option("decoder", "dns")
          .load(typoDnsSynthPath)
          .filter($"dns_qr" === false && $"dns_qname".isNotNull)
          .select(regexp_replace(lower($"dns_qname"), "\\.$", "")
            .as("domain"), $"src")
          .groupBy($"domain")
          .agg(count(lit(1)).as("n_queries"),
            countDistinct($"src").as("n_clients"))
        names.join(broadcast(popular),
            levenshtein($"domain", $"popular") <= 2 &&
              $"domain" =!= $"popular")
          .select($"domain", $"popular",
            levenshtein($"domain", $"popular").as("edit_dist"),
            $"n_queries", $"n_clients")
      },
      Some(typosquatOracle(300))),

    // ----- TCP connection census (round 11) -------------------------------
    // The tshark `conv,tcp`-style estate view: every connection
    // classified from its flag history alone — attempt (SYN, no
    // answer), refused (RST before SYN|ACK), closed (orderly FIN),
    // reset (RST after establishment), open (established, never torn
    // down). ONE scan with conditional aggregation on the canonical
    // 4-tuple (the high-cardinality shuffle), then a bounded rollup on
    // (server, state). Flag tests are bit-membership (TcpFlag), so ECN
    // handshakes (SYN|ECE|CWR — half the fixture) classify correctly;
    // the server is recovered as the SYN's destination, not a port
    // heuristic.
    Q("pcap_tcp_conn_census",
      (s, d) => {
        import s.implicits._
        import graft.pcap.TcpFlag
        val f = $"tcp_flags"
        s.read.format("pcap").load(connCensusSynthPath)
          .filter($"protocol" === "TCP")
          .groupBy(
            least($"src", $"dst").as("a_lo"),
            greatest($"src", $"dst").as("a_hi"),
            least($"src_port", $"dst_port").as("p_lo"),
            greatest($"src_port", $"dst_port").as("p_hi"))
          .agg(
            max(when(TcpFlag.synNoAck(f), 1).otherwise(0)).as("syn"),
            max(when(TcpFlag.synAck(f), 1).otherwise(0)).as("synack"),
            max(when(TcpFlag.hasFin(f), 1).otherwise(0)).as("fin"),
            max(when(TcpFlag.hasRst(f), 1).otherwise(0)).as("rst"),
            min(when(TcpFlag.synNoAck(f), $"dst")).as("server"),
            count(lit(1)).as("pkts"),
            sum($"size").as("bytes"))
          .withColumn("state",
            when($"synack" === 0 && $"rst" === 1, "refused")
              .when($"synack" === 0, "attempt")
              .when($"fin" === 1, "closed")
              .when($"rst" === 1, "reset")
              .otherwise("open"))
          .groupBy($"server", $"state")
          .agg(count(lit(1)).as("n_conns"),
            sum($"pkts").as("n_pkts"),
            sum($"bytes").as("n_bytes"))
      },
      Some(connCensusOracle(200))),

    // ----- NetFlow-style flow export (round 11) ---------------------------
    // Idle-timeout sessionization: a directed 5-tuple's packet run
    // splits into flow records wherever the inter-packet gap exceeds
    // 60 s (the NetFlow inactive timeout). The gap→boundary→running-sum
    // window and the per-(tuple, flow_seq) aggregation share ONE
    // exchange: the window hash-partitions on the tuple, and the
    // grouping keys are a superset of the partitioning, so Catalyst
    // plans the aggregate without a second shuffle (SecAnalyticsSpec
    // pins this).
    Q("pcap_flow_export",
      (s, d) => exportedFlows(s),
      Some(flowExportOracle(60))),

    // ----- exact flow-size/duration percentiles (capacity planning) -------
    // The next question after flow export: what do typical and tail
    // flows look like per service endpoint — the numbers capacity
    // planning and SLO alerting are set from. EXACT order statistics
    // via the q39 positional-selection trick (no approx sketch):
    // per-(dst, metric) row_number + count windows, then median
    // (midpoint rule), p90, p99 picked by rank. Scale shape: the
    // window partitions by (endpoint, metric) — flows per endpoint
    // are bounded by the capture horizon, and the output collapses to
    // O(endpoints × 2) rows; nothing global ever sorts.
    Q("pcap_flow_percentiles",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        // ONE flow pass feeds both metrics: the self-union form would
        // decode the capture and run the sessionization windows twice
        val m = exportedFlows(s)
          .select($"dst", explode(array(
            struct(lit("bytes").as("metric"),
              $"n_bytes".cast("long").as("v")),
            struct(lit("dur_us").as("metric"),
              ($"last_ts" - $"first_ts").cast("long").as("v"))))
            .as("mv"))
          .select($"dst", $"mv.metric".as("metric"), $"mv.v".as("v"))
        val wo = Window.partitionBy($"dst", $"metric").orderBy($"v")
        val wn = Window.partitionBy($"dst", $"metric")
        m.withColumn("rn", row_number().over(wo))
          .withColumn("n", count(lit(1)).over(wn))
          .groupBy($"dst", $"metric")
          .agg(max($"n").as("n_flows"),
            (sum(when(($"rn" * 2 === $"n") ||
                ($"rn" * 2 === $"n" + lit(1) && $"n" % 2 === 1) ||
                ($"rn" * 2 === $"n" + lit(2)), $"v").otherwise(0L))
              .cast("double") /
              when(max($"n") % 2 === 0, 2.0).otherwise(1.0))
              .as("median"),
            max(when($"rn" === expr("(9 * n + 9) DIV 10"), $"v"))
              .as("p90"),
            max(when($"rn" === expr("(99 * n + 99) DIV 100"), $"v"))
              .as("p99"))
      },
      Some(flowPercentilesOracle(60))),

    // ----- DNS fast-flux detection (round 11) -----------------------------
    // The botnet-hosting tell: one name resolving to MANY addresses
    // across MANY /24s with SHORT TTLs. The subnet-diversity gate is
    // what separates flux from a CDN (low TTL, wide pool, but one or
    // two subnets). Consumes the decoder's canonical `name ttl CLASS
    // TYPE rdata` answer strings — A records only; ONE shuffle on the
    // name key, output O(names).
    Q("pcap_dns_fastflux",
      (s, d) => {
        import s.implicits._
        s.read.format("pcap").option("decoder", "dns")
          .load(fastfluxSynthPath)
          .filter($"dns_qr" === true && $"dns_answer".isNotNull)
          .select(explode($"dns_answer").as("rr"))
          .withColumn("f", split($"rr", " ", 5))
          .filter(element_at($"f", 4) === "A")
          .select(element_at($"f", 1).as("rrname"),
            element_at($"f", 2).cast("long").as("ttl"),
            element_at($"f", 5).as("ip"))
          .groupBy($"rrname")
          .agg(count(lit(1)).as("n_obs"),
            countDistinct($"ip").as("n_ips"),
            countDistinct(
              substring_index($"ip", ".", 3)).as("n_subnets"),
            min($"ttl").as("min_ttl"),
            max($"ttl").as("max_ttl"))
          .withColumn("fastflux",
            $"n_ips" >= 10 && $"n_subnets" >= 5 && $"max_ttl" <= 300)
      },
      Some(fastfluxOracle(240))),

    // ----- cleartext credential exposure (round 11) -----------------------
    // The compliance sweep: HTTP Basic authorization headers (RFC 7617
    // — base64, NOT encryption; unbase64 recovers the username) and
    // FTP USER/PASS commands, inventoried per (protocol, server). ONE
    // scan — both detectors are predicates over the same cast payload,
    // unioned as a CASE, so the capture is read once; the header match
    // is case-insensitive (RFC 9112 field names — half the fixture
    // sends `authorization:`). Server-sourced port-21 traffic (src,
    // not dst) stays out by construction.
    Q("pcap_cleartext_creds",
      (s, d) => {
        import s.implicits._
        val basicRe = "(?i)\r\nauthorization:[ \t]*Basic[ \t]+" +
          "([A-Za-z0-9+/=]+)[ \t]*\r\n"
        val txt = $"payload".cast("string")
        s.read.format("pcap").load(credsSynthPath)
          .filter($"protocol" === "TCP" && $"payload".isNotNull)
          .withColumn("basic_tok", regexp_extract(txt, basicRe, 1))
          .withColumn("is_http", $"dst_port" === 80 &&
            $"basic_tok" =!= "")
          .withColumn("is_ftp", $"dst_port" === 21 &&
            regexp_extract(txt, "^(USER|PASS) ", 1) =!= "")
          .filter($"is_http" || $"is_ftp")
          .select(
            when($"is_http", "http-basic").otherwise("ftp").as("proto"),
            $"dst".as("server"), $"src".as("client"),
            when($"is_http",
              substring_index(unbase64($"basic_tok").cast("string"),
                ":", 1))
              .otherwise(regexp_extract(txt, "^USER (\\S+)", 1))
              .as("user"))
          .withColumn("user",
            when($"user" === "", lit(null)).otherwise($"user"))
          .groupBy($"proto", $"server")
          .agg(count(lit(1)).as("n_creds"),
            countDistinct($"user").as("n_users"),
            countDistinct($"client").as("n_clients"))
      },
      Some(credsOracle(250))),

    // ----- ARP address-conflict inspection (round 11) ---------------------
    // ARP is the one ubiquitous NON-IP protocol in every Ethernet
    // capture, and the reference decodes nothing below the IP layer;
    // the classic inspection query is "which IPs are announced by
    // more than one MAC" (address conflict / spoofing). ARP has no L3
    // payload, so the parse consumes the raw `frame` column (the
    // projection-driven keepFrame path) through a fuzz-hardened RFC
    // 826 parser; scale shape: scan-level ether_type filter, per-row
    // narrow parse, ONE rollup on the claimed IP.
    Q("pcap_arp_conflicts",
      (s, d) => {
        import s.implicits._
        s.read.format("pcap").load(arpSynthPath)
          .filter($"ether_type" === "arp")
          .select($"frame").as[Array[Byte]]
          .mapPartitions(_.flatMap(graft.pcap.Decap.arp))
          .filter($"oper" === 2) // announcements only
          .groupBy($"spa")
          .agg(count(lit(1)).as("n_ann"),
            countDistinct($"sha").as("n_macs"),
            min($"sha").as("first_mac"))
          .select($"spa".as("claimed_ip"), $"n_ann", $"n_macs",
            $"first_mac", ($"n_macs" >= 2).as("conflict"))
      },
      Some(arpConflictsOracle(96))),

    Q("pcap_icmpv6_summary",
      (s, d) => {
        import s.implicits._
        s.read.format("pcap").load(icmpv6SynthPath)
          .filter($"protocol" === "ICMPv6")
          .groupBy($"icmp_type", $"icmp_code")
          .agg(count(lit(1)).as("n"),
            countDistinct($"src").as("n_src"))
      },
      Some(icmpv6SummaryOracle(96))),

    // Full HTTP conversation pairing: BOTH directions of each flow
    // reassemble independently (the flow key orients by direction),
    // then request streams join response streams on the client
    // endpoint — host from the request side, status code from the
    // response side. The segment cuts land mid-line in both directions,
    // so only reassembly makes either parse. Scale shape: one shuffle
    // for the per-direction reassembly, one equi-join keyed on the
    // client endpoint, one tiny rollup.
    Q("pcap_http_conversations",
      (s, d) => {
        import s.implicits._
        val streams = s.read.format("pcap").load(httpRrSynthPath)
          .filter($"protocol" === "TCP" && $"tcp_seq".isNotNull &&
            $"payload".isNotNull)
          .groupBy($"src", $"dst", $"src_port", $"dst_port")
          .agg(graft.functions.Reassemble.stream().as("r"))
          .select($"src", $"dst", $"src_port", $"dst_port",
            $"r.stream".cast("string").as("txt"))
        val req = streams.filter($"dst_port" === 80)
          .select($"src".as("client"), $"src_port".as("client_port"),
            regexp_extract($"txt", graft.functions.HttpParse.headerRegex("Host"), 1).as("host"))
        val rsp = streams.filter($"src_port" === 80)
          .select($"dst".as("r_client"), $"dst_port".as("r_client_port"),
            regexp_extract($"txt", "^HTTP/1\\.1 (\\d+) ", 1)
              .cast("int").as("status"))
        req.join(rsp, $"client" === $"r_client" &&
            $"client_port" === $"r_client_port")
          .groupBy($"host", $"status")
          .agg(count(lit(1)).as("n"))
      },
      Some(httpConvOracle(50))),

    // ----- pcap → LLM-corpus bridge ---------------------------------------
    // Captures in, training corpus out — the two halves of the engine in
    // ONE plan: reassembled HTTP response bodies become a documents
    // table (doc_id from the client port, host provenance from the
    // request direction), then the e2e-preprocess quality gate and
    // exact dedup run downstream in the same lineage. The segment cuts
    // land mid-body, so only reassembly yields the text; the junk flows
    // must be gated, the boilerplate group must collapse to one row
    // with its duplicate count. Scale shape: the packet relation is
    // read and shuffled ONCE — both directions key by the
    // direction-normalized conversation endpoint, sort, and each
    // conversation's segments go to one HttpConversationAgg reduce +
    // finish, which reassembles requests and responses side by side and
    // gates the conversation once — the streaming bridge's own
    // per-conversation path; then one window on the 16-byte body digest
    // for the dedup. Two shuffles in all. Bodies are really FRAMED
    // (Content-Length cut with a pipelined follow-up response to
    // swallow, chunked transfer coding, gzip content coding — one third
    // of the fixture each) and the gate de-frames them
    // (HttpParse.deframe) before the quality checks; see httpToCorpus.
    Q("pcap_http_to_corpus",
      (s, d) => httpToCorpus(s, httpCorpusSynthPath,
        serverPort = 80, docIdBase = 42000),
      Some(httpCorpusOracle(60))),

    // Batch twin of streaming.CorpusBridgeStream.documents (round-10):
    // the gated PRE-dedup document relation — one row per surviving
    // conversation, no digest window — which is exactly what the
    // streaming bridge emits as conversations quiesce (dedup is a
    // downstream consumer concern there: a stream has no "last
    // duplicate"). The streaming spec asserts the streamed rows equal
    // THIS query's row set, including across a checkpoint restart (the
    // pcap_syn_portscan_twin pattern).
    Q("pcap_corpus_stream_twin",
      (s, d) => {
        import s.implicits._
        httpCorpusGated(s, httpCorpusSynthPath,
          serverPort = 80, docIdBase = 42000)
          .select($"doc_id", $"host", $"n_tokens",
            md5($"text".cast("binary")).as("body_md5"))
      },
      Some(corpusStreamTwinOracle(60))),

    // ----- IPv4 fragment reassembly ---------------------------------------
    // Fragmented UDP is where naive packet analytics silently lies:
    // only the FIRST fragment carries an L4 header, so the reference's
    // decode reads mid-payload bytes as ports for every later fragment
    // (this engine leaves their port columns NULL — round-10 decoder
    // honesty — and exposes ip_id/frag_offset instead). Reassembly is
    // one groupBy on the (src, dst, ip_id) fragment key: sort_array
    // orders the struct list by offset, a binary fold concatenates the
    // datagram (the first fragment's payload column is already
    // UDP-header-stripped; later fragments carry raw IP-payload
    // chunks), and the clean-room DNS parser reads the reassembled
    // message — including the capture's out-of-order deliveries. Scale
    // shape: fragments of one datagram are a handful of rows keyed by
    // ip_id (u16) + endpoints — a bounded-group aggregation with
    // map-side combine, one shuffle, no window.
    Q("pcap_ipv4_frag_reassembly",
      (s, d) => fragReassembledDns(s, fragSynthPath),
      Some(fragReassemblyOracle(120))),

    // ----- IPv6 fragment reassembly ---------------------------------------
    // The v6 twin (round 11): fragmentation rides the Fragment
    // EXTENSION header (RFC 8200 §4.5) instead of IP-header bits, the
    // id is 32-bit, and — as of the round-11 decoder-honesty fix —
    // non-first v6 fragments expose the raw chunk in the payload
    // column with NULL ports (previously their mid-payload bytes
    // parsed as an L4 header, the exact misparse the v4 side fixed in
    // round 10; the reference never decodes v6 fragments at all,
    // `PcapReader.java:399-401`). Downstream, the offset-sorted
    // reassembly plan is IDENTICAL to v4 — same columns, same
    // completeness gate, same scale shape — which is the point of
    // normalizing both fragment schemes onto (ip_id, frag_offset).
    Q("pcap_ipv6_frag_reassembly",
      (s, d) => fragReassembledDns(s, fragV6SynthPath),
      Some(fragV6ReassemblyOracle(120))),

    // ----- TCP retransmission health (round 11) ---------------------------
    // The per-flow dup/retransmit rollup ops teams read next to the
    // zero-window report: classify each segment against the flow's
    // running highest-seen stream endpoint in CAPTURE order (the
    // Wireshark rule — "retransmission" when every byte is at/below
    // the frontier, "partial" when it straddles it), and count the
    // re-sent bytes. Runs over the overlap fixture whose retransmit
    // structure is engineered (one fully-covered copy + one partial
    // overlap + one later re-cover per flow), so every count is a
    // formula constant. Scale shape: one shuffle on the flow key; the
    // frontier is a running MAX window in pkt_idx order — per-flow
    // partial aggregation never materializes the payloads (only
    // lengths travel).
    Q("pcap_tcp_retransmits",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val w = Window
          .partitionBy($"src", $"dst", $"src_port", $"dst_port")
          .orderBy($"pkt_idx")
          .rowsBetween(Window.unboundedPreceding, -1)
        s.read.format("pcap").load(tcpOverlapSynthPath)
          .filter($"protocol" === "TCP" && $"tcp_seq".isNotNull &&
            $"payload".isNotNull)
          .select($"src", $"dst", $"src_port", $"dst_port", $"pkt_idx",
            $"tcp_seq", length($"payload").cast("long").as("len"))
          .withColumn("frontier", max($"tcp_seq" + $"len").over(w))
          .withColumn("cls",
            when($"frontier".isNull || $"tcp_seq" >= $"frontier",
              "in_order")
              .when($"tcp_seq" + $"len" <= $"frontier", "retransmission")
              .otherwise("partial"))
          .withColumn("dup_bytes",
            when($"frontier".isNull, 0L).otherwise(greatest(lit(0L),
              least($"tcp_seq" + $"len", $"frontier") - $"tcp_seq")))
          .groupBy($"src", $"dst", $"src_port", $"dst_port")
          .agg(count(lit(1)).as("n_seg"),
            sum(when($"cls" === "in_order", 1L).otherwise(0L))
              .as("n_inorder"),
            sum(when($"cls" === "partial", 1L).otherwise(0L))
              .as("n_partial"),
            sum(when($"cls" === "retransmission", 1L).otherwise(0L))
              .as("n_retrans"),
            sum($"dup_bytes").as("dup_bytes"),
            sum($"len").as("total_bytes"))
      },
      Some(tcpRetransOracle(40))),

    // ----- GRE decapsulation (round 11) -----------------------------------
    // GRE's wrinkles vs VXLAN: it is an IP PROTOCOL (47), not a UDP
    // port — so the decap consumes the round-11 decoder-honesty rule
    // that unhandled IP protocols expose their raw L3 payload — and
    // the inner packet is RAW IP (no Ethernet), decoded via the RAW-IP
    // link type the decoder already supports for linktype-101
    // captures. Per-key (RFC 2890 tunnel id) rollup.
    Q("pcap_gre_decap",
      (s, d) => {
        import s.implicits._
        s.read.format("pcap").load(greSynthPath)
          .filter($"protocol" === "GRE" && $"payload".isNotNull)
          .select($"payload").as[Array[Byte]]
          .mapPartitions(_.flatMap(graft.pcap.Decap.gre))
          .groupBy($"key")
          .agg(count(lit(1)).as("n_pkts"),
            sum(when($"dnsRcode" === "NXDOMAIN", 1L).otherwise(0L))
              .as("n_nx"),
            min($"dnsQname").as("first_qname"))
      },
      Some(greDecapOracle(120))),

    // ----- IP-in-IP / 6in4 decapsulation (round 11) -----------------------
    // The shim-less tunnel family members (RFC 2003 IPv4-in-IPv4,
    // RFC 4213 6in4 — the transition-mechanism encapsulation still all
    // over ISP captures): the outer payload IS the inner packet, so
    // decap is the raw-payload honesty rule + the RAW-IP decode path
    // with a version-nibble/protocol-number agreement gate. One scan,
    // per-row narrow decap, ONE aggregation shuffle on the 2-row
    // inner-version key — counts, distinct inner clients, NXDOMAIN
    // volume per encapsulation scheme.
    Q("pcap_ipip_decap",
      (s, d) => {
        import s.implicits._
        s.read.format("pcap").load(ipipSynthPath)
          .filter($"protocol".isin("4", "41") && $"payload".isNotNull)
          .select($"protocol", $"payload").as[(String, Array[Byte])]
          .mapPartitions(_.flatMap { case (p, pl) =>
            graft.pcap.Decap.ipip(p.toInt, pl) })
          .groupBy($"innerV")
          .agg(count(lit(1)).as("n_pkts"),
            countDistinct($"dst").as("n_clients"),
            sum(when($"dnsRcode" === "NXDOMAIN", 1L).otherwise(0L))
              .as("n_nx"),
            min($"dnsQname").as("first_qname"))
          .withColumnRenamed("innerV", "inner_v")
      },
      Some(ipipDecapOracle(120))),

    // ----- VXLAN decapsulation (round 11) ---------------------------------
    // Overlay-fabric captures carry the interesting flow INSIDE a
    // VXLAN envelope (RFC 7348); the reference stops at the outer UDP.
    // Decap reuses the one FrameDecoder on the inner Ethernet frame
    // (same bounds-hardened L2/L3/L4/DNS path as top-level frames —
    // graft.pcap.Decap), then a per-VNI rollup: the "which tenant
    // segment is doing what" query overlay operators run. Scale shape:
    // the outer filter prunes to port-4789 rows at the scan, decap is
    // per-row narrow work, ONE aggregation shuffle on vni.
    Q("pcap_vxlan_decap",
      (s, d) => {
        import s.implicits._
        s.read.format("pcap").load(vxlanSynthPath)
          .filter($"protocol" === "UDP" && $"dst_port" === 4789 &&
            $"payload".isNotNull)
          .select($"payload").as[Array[Byte]]
          .mapPartitions(_.flatMap(graft.pcap.Decap.vxlan))
          .groupBy($"vni")
          .agg(count(lit(1)).as("n_pkts"),
            sum(when($"dnsRcode" === "NXDOMAIN", 1L).otherwise(0L))
              .as("n_nx"),
            min($"dnsQname").as("first_qname"))
      },
      Some(vxlanDecapOracle(120))),

    // ----- GENEVE decap (round 12) -----------------------------------------
    // Completes the datacenter overlay family (VXLAN / GRE / IP-in-IP
    // / GENEVE — RFC 8926): same outer-UDP shape as VXLAN on port
    // 6081, but with a variable-length TLV option walk between the
    // base header and the inner frame (the fixture carries 0/1/2
    // options per packet so the walk's exact-tiling contract is
    // exercised, not just the empty case). The inner Ethernet frame
    // decodes through the one shared FrameDecoder; rollup is the same
    // per-VNI tenant census as VXLAN plus the option-count maximum.
    // Scale shape: outer port filter prunes at the scan, decap is
    // per-row narrow work, ONE aggregation shuffle on vni.
    Q("pcap_geneve_decap",
      (s, d) => {
        import s.implicits._
        s.read.format("pcap").load(geneveSynthPath)
          .filter($"protocol" === "UDP" && $"dst_port" === 6081 &&
            $"payload".isNotNull)
          .select($"payload").as[Array[Byte]]
          .mapPartitions(_.flatMap(graft.pcap.Decap.geneve))
          .groupBy($"vni")
          .agg(count(lit(1)).as("n_pkts"),
            sum(when($"dnsRcode" === "NXDOMAIN", 1L).otherwise(0L))
              .as("n_nx"),
            min($"dnsQname").as("first_qname"),
            max($"nOptions").as("max_opts"))
      },
      Some(geneveDecapOracle(120))),

    // ----- 802.1Q VLAN inventory (round 11) -------------------------------
    // Switched-fabric captures are tagged; "which VLAN segment carries
    // what" is the first question over them, and the reference's decode
    // silently SKIPS the tag (PcapReader.java:283-303 unwraps one
    // 802.1Q header to find IP but discards the TCI). The decoder now
    // surfaces the tag as `vlan_id`/`vlan_pcp` columns (NULL on
    // untagged frames — the fixture mixes both), and the inventory is
    // a single rollup: per-VLAN packet volume, distinct clients, the
    // highest priority level seen, first DNS name. Scale shape: the
    // TCI parse is two bytes inside the existing L2 branch (no extra
    // pass), the rollup is ONE aggregation shuffle on a small vid key
    // with map-side partials.
    Q("pcap_vlan_inventory",
      (s, d) => {
        import s.implicits._
        s.read.format("pcap").option("decoder", "dns").load(vlanSynthPath)
          .filter($"vlan_id".isNotNull)
          .groupBy($"vlan_id")
          .agg(count(lit(1)).as("n_pkts"),
            countDistinct($"src").as("n_clients"),
            max($"vlan_pcp").as("max_pcp"),
            min($"dns_qname").as("first_qname"))
      },
      Some(vlanInventoryOracle(120))),

    // ----- 802.1ad QinQ inventory (round 11) ------------------------------
    // Service-provider metro captures stack a customer 802.1Q tag
    // under an 0x88A8 service tag; "which customer rides which
    // service segment" needs BOTH vids. The decoder unwraps up to two
    // tags (same bound as ipStartIdx's IP hunt): vlan_id/vlan_pcp
    // carry the outermost (service) TCI, vlan_inner_id the customer
    // vid, NULL on single-tagged frames — the fixture mixes both.
    // ONE aggregation shuffle on the tiny (svid, cvid) key.
    Q("pcap_qinq_inventory",
      (s, d) => {
        import s.implicits._
        s.read.format("pcap").option("decoder", "dns").load(qinqSynthPath)
          .filter($"vlan_id".isNotNull)
          .groupBy($"vlan_id", $"vlan_inner_id")
          .agg(count(lit(1)).as("n_pkts"),
            countDistinct($"src").as("n_clients"),
            min($"dns_qname").as("first_qname"))
      },
      Some(qinqInventoryOracle(120))),

    // ----- MPLS label-stack inventory (round 16) ---------------------------
    // Carrier/backbone captures wrap IP in RFC 3032 label stacks
    // (ethertype 0x8847/0x8848); without the unwrap every such frame
    // decodes as non-IP and the capture is invisible to L3+ queries.
    // The decoder walks the 4-byte entries to the bottom-of-stack bit
    // (`mpls_labels`, outermost-first), then version-nibble-sniffs the
    // payload for the inner IP decode — so src/dst/ports/DNS all work
    // through the stack. The inventory rolls up per (outer label,
    // stack depth): ONE aggregation shuffle on a tiny key, the label
    // walk is a few bytes inside the existing L2 branch (no extra
    // pass over the frame).
    Q("pcap_mpls_inventory",
      (s, d) => {
        import s.implicits._
        s.read.format("pcap").option("decoder", "dns").load(mplsSynthPath)
          .filter($"mpls_labels".isNotNull)
          .groupBy(element_at($"mpls_labels", 1).as("outer_label"),
            size($"mpls_labels").as("depth"))
          .agg(count(lit(1)).as("n_pkts"),
            countDistinct($"src").as("n_clients"),
            min($"dns_qname").as("first_qname"))
      },
      Some(mplsInventoryOracle(120))),

    // ----- RTP stream quality (round 11) ----------------------------------
    // The VoIP/conferencing health rollup RTCP receiver reports carry
    // (RFC 3550 §6.4 / A.8): per SSRC, delivered vs expected packet
    // counts (loss from sequence-number coverage, no state machine
    // needed) and interarrival time deviation — (arrival delta) minus
    // (RTP-clock delta), the quantity the standard jitter estimator
    // smooths. Reported as exact integer SUM and MAX of |D| in µs
    // rather than the RFC's /16 EWMA, which is float-recursive and
    // order-fragile; sum/max are order-free and oracle-exact. Scale
    // shape: per-row 12-byte header parse, ONE shuffle for the
    // ssrc-partitioned lag window (per-stream row counts are bounded —
    // a 2 h call at 50 pps is 360 k narrow rows), then the per-ssrc
    // rollup rides the same partitioning.
    Q("pcap_rtp_quality",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val pk = s.read.format("pcap").load(rtpSynthPath)
          .filter($"protocol" === "UDP" && $"dst_port" === 40000 &&
            $"payload".isNotNull)
          .select($"payload", $"ts_micro").as[(Array[Byte], Long)]
          .mapPartitions(_.flatMap { case (pl, arr) =>
            graft.pcap.Decap.rtp(pl).map(r =>
              // 8 kHz payload types (PCMU/PCMA): 1 tick = 125 µs
              (r.ssrc, r.pt, r.seq, r.rtpTs * 125L, arr)) })
          .toDF("ssrc", "pt", "seq", "ts_us", "arr_us")
        val w = Window.partitionBy($"ssrc").orderBy($"seq")
        pk.withColumn("d_us",
            ($"arr_us" - lag($"arr_us", 1).over(w)) -
              ($"ts_us" - lag($"ts_us", 1).over(w)))
          .groupBy($"ssrc")
          .agg(max($"pt").as("pt"),
            count(lit(1)).as("n_received"),
            (max($"seq") - min($"seq") + 1 - count(lit(1)))
              .as("n_lost"),
            sum(abs($"d_us")).as("jitter_sum_us"),
            max(abs($"d_us")).as("jitter_max_us"))
      },
      Some(rtpQualityOracle(200))),

    // ----- RTP audio level (round 12) --------------------------------------
    // pcap_rtp_quality reads the TRANSPORT health of a call; this reads
    // the MEDIA itself — RFC 3551 payload types 0/8 are G.711 µ-law /
    // A-law codewords, and per-stream level stats (peak, Σ|sample|)
    // over the expanded PCM are the dead-air / hot-mic screen VoIP
    // monitoring runs. The payload bytes expand through the same G.711
    // tables as mm_decode_wav_g711 (graft.operators.Multimodal.WavCodec
    // — written once from the spec, shared by the WAV and RTP paths);
    // the oracle expands every sample in closed form from the codeword
    // formula, independent of both. Scale shape: per-row header parse
    // + table expansion (narrow), ONE aggregation shuffle on the small
    // ssrc key.
    Q("pcap_rtp_audio_level",
      (s, d) => {
        import s.implicits._
        s.read.format("pcap").load(rtpAudioSynthPath)
          .filter($"protocol" === "UDP" && $"dst_port" === 40002 &&
            $"payload".isNotNull)
          .select($"payload").as[Array[Byte]]
          .mapPartitions(_.flatMap(rtpAudioStats))
          .toDF("ssrc", "pt", "n", "pk", "sa")
          .groupBy($"ssrc", $"pt")
          .agg(count(lit(1)).as("n_pkts"),
            sum($"n").as("n_samples"),
            max($"pk").as("peak"),
            sum($"sa").as("sum_abs"))
      },
      Some("""WITH RECURSIVE cw AS (
          SELECT s, j, k, (s * 131 + j * 47 + k * 37) % 256 AS b,
            CASE WHEN s % 2 = 0 THEN 0 ELSE 8 END AS pt
          FROM (SELECT unnest(generate_series(0, 3)) AS s) ss,
            LATERAL (SELECT unnest(generate_series(0, 49)) AS j) js,
            LATERAL (SELECT unnest(generate_series(0, 39)) AS k) ks),
        pcm AS (
          SELECT s, j, pt,
            CASE WHEN pt = 0 THEN
              CASE WHEN (255 - b) >= 128
                THEN 132 - (((255 - b) % 16) * 8 + 132)
                           * (1 << (((255 - b) // 16) % 8))
                ELSE (((255 - b) % 16) * 8 + 132)
                     * (1 << ((255 - b) // 16)) - 132
              END
            ELSE
              (CASE WHEN xor(b, 85) >= 128 THEN 1 ELSE -1 END) *
              (CASE WHEN (xor(b, 85) // 16) % 8 = 0
                 THEN (xor(b, 85) % 16) * 16 + 8
                 WHEN (xor(b, 85) // 16) % 8 = 1
                 THEN (xor(b, 85) % 16) * 16 + 264
                 ELSE ((xor(b, 85) % 16) * 16 + 264)
                      * (1 << ((xor(b, 85) // 16) % 8 - 1))
               END)
            END AS v
          FROM cw),
        tb AS (
          SELECT [7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25,
            28, 31, 34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97,
            107, 118, 130, 143, 157, 173, 190, 209, 230, 253, 279, 307,
            337, 371, 408, 449, 494, 544, 598, 658, 724, 796, 876, 963,
            1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066, 2272, 2499,
            2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894, 6484,
            7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
            16818, 18500, 20350, 22385, 24623, 27086, 29794,
            32767] AS steps),
        dvirec AS (
          SELECT j, -1 AS t,
            CAST(((j * 311) % 65536) - 32768 AS INT) AS pred,
            CAST(j % 89 AS INT) AS idx
          FROM (SELECT unnest(generate_series(0, 49)) AS j) js
          UNION ALL
          SELECT j, t + 1,
            CAST(LEAST(32767, GREATEST(-32768,
              pred + (CASE WHEN c >= 8 THEN -1 ELSE 1 END) *
                (step // 8
                 + CASE WHEN c % 2 = 1 THEN step // 4 ELSE 0 END
                 + CASE WHEN (c // 2) % 2 = 1 THEN step // 2 ELSE 0 END
                 + CASE WHEN (c // 4) % 2 = 1 THEN step ELSE 0 END)))
              AS INT),
            CAST(LEAST(88, GREATEST(0, idx + CASE c % 8
              WHEN 4 THEN 2 WHEN 5 THEN 4 WHEN 6 THEN 6 WHEN 7 THEN 8
              ELSE -1 END)) AS INT)
          FROM (
            SELECT r.j, r.t, r.pred, r.idx,
              CASE WHEN (r.t + 1) % 2 = 0
                THEN ((r.j*53 + ((r.t + 1) // 2)*29) % 256) // 16
                ELSE ((r.j*53 + ((r.t + 1) // 2)*29) % 256) % 16
              END AS c,
              tb.steps[r.idx + 1] AS step
            FROM dvirec r CROSS JOIN tb
            WHERE r.t + 1 < 80)),
        g711 AS (
          SELECT CAST(3000000 + s AS BIGINT) AS ssrc,
            CAST(pt AS INT) AS pt,
            CAST(COUNT(DISTINCT j) AS BIGINT) AS n_pkts,
            CAST(COUNT(*) AS BIGINT) AS n_samples,
            CAST(MAX(ABS(v)) AS INT) AS peak,
            CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs
          FROM pcm GROUP BY 1, 2),
        dvi AS (
          SELECT CAST(3000004 AS BIGINT) AS ssrc, CAST(5 AS INT) AS pt,
            CAST(50 AS BIGINT) AS n_pkts,
            CAST(COUNT(*) AS BIGINT) AS n_samples,
            CAST(MAX(ABS(pred)) AS INT) AS peak,
            CAST(SUM(ABS(pred)) AS BIGINT) AS sum_abs
          FROM dvirec WHERE t >= 0)
        SELECT * FROM g711 UNION ALL SELECT * FROM dvi""")),

    // ----- SIP session analytics (round 12) --------------------------------
    // Completes the VoIP triad: SIGNALING (this), transport health
    // (pcap_rtp_quality), media level (pcap_rtp_audio_level). A
    // clean-room RFC 3261 subset parser (request/status line, header
    // walk with compact forms, CSeq correlation so a 200 answers the
    // right request) feeds a per-Call-ID rollup: caller/callee, final
    // INVITE status, post-dial delay (setup), and call duration from
    // the BYE — NULL for calls that never answered (the fixture's
    // 486 Busy population). Scale shape: per-row text parse, ONE
    // aggregation shuffle on call_id with conditional-min/max partials.
    Q("pcap_sip_sessions",
      (s, d) => {
        import s.implicits._
        s.read.format("pcap").load(sipSynthPath)
          .filter($"protocol" === "UDP" && $"dst_port" === 5060 &&
            $"payload".isNotNull)
          .select($"payload", $"ts_micro").as[(Array[Byte], Long)]
          .mapPartitions(_.flatMap { case (pl, ts) =>
            graft.pcap.Decap.sip(pl).map(m =>
              (m.callId, m.method, m.status, m.fromUri, m.toUri, ts))
          })
          .toDF("call_id", "method", "status", "from_uri", "to_uri",
            "ts_us")
          .groupBy($"call_id")
          .agg(
            min($"from_uri").as("caller"),
            min($"to_uri").as("callee"),
            count(lit(1)).as("n_msgs"),
            max(when($"method" === "INVITE" && $"status" > 0, $"status"))
              .as("status_code"),
            (max(when($"method" === "INVITE" && $"status" > 0, $"ts_us"))
              - min(when($"method" === "INVITE" && $"status" === 0,
                $"ts_us"))).as("setup_us"),
            (min(when($"method" === "BYE" && $"status" === 0, $"ts_us"))
              - min(when($"method" === "INVITE" && $"status" === 0,
                $"ts_us"))).as("duration_us"))
      },
      Some(sipSessionsOracle(80))),

    // Receive-window health: zero-window events are THE standard TCP
    // stall signal ops teams alert on. Per-flow bounded aggregates over
    // the new tcp_window column — one shuffle on the flow source.
    Q("pcap_tcp_zero_window",
      (s, d) => {
        import s.implicits._
        s.read.format("pcap").load(windowSynthPath)
          .filter($"protocol" === "TCP")
          .groupBy($"src")
          .agg(count(lit(1)).as("n_pkts"),
            sum(when($"tcp_window" === 0, 1L).otherwise(0L)).as("n_zero"),
            min($"tcp_window").as("min_window"),
            max($"tcp_window").as("max_window"))
          .select($"src".as("client"), $"n_pkts", $"n_zero",
            $"min_window", $"max_window")
      },
      Some(zeroWindowOracle(40))),

    // ----- CIDR subnet enrichment (GeoIP-style range join) ----------------
    // The classic packet-enrichment join: numeric ip BETWEEN block range
    // against a broadcast prefix dimension. At 100 TB the dim stays a
    // broadcast (prefix tables are small); the fact side never shuffles
    // for the join — only the final tiny aggregation exchanges.
    Q("pcap_subnet_enrich",
      (s, d) => {
        import s.implicits._
        def cidrLo(a: Int, b: Int) = (a.toLong << 24) | (b.toLong << 16)
        val dims = Seq(
          ("clients", cidrLo(10, 5), cidrLo(10, 5) | 0xFFFFL),
          ("scanners", cidrLo(10, 6), cidrLo(10, 6) | 0xFFFFL),
          ("servers", cidrLo(10, 9), cidrLo(10, 9) | 0xFFFFL))
        val dimDf = s.createDataFrame(dims).toDF("subnet", "lo", "hi")
        val pk = s.read.format("pcap").load(handshakeSynthPath)
          .select($"src")
          .withColumn("ip_num", expr(
            "cast(split(src, '\\\\.')[0] as bigint) * 16777216 + " +
            "cast(split(src, '\\\\.')[1] as bigint) * 65536 + " +
            "cast(split(src, '\\\\.')[2] as bigint) * 256 + " +
            "cast(split(src, '\\\\.')[3] as bigint)"))
        pk.join(broadcast(dimDf),
            $"ip_num" >= $"lo" && $"ip_num" <= $"hi")
          .groupBy($"subnet")
          .agg(count(lit(1)).as("n_pkts"),
            countDistinct($"src").as("n_src"))
      },
      Some("""SELECT CAST(v.subnet AS VARCHAR) AS subnet, CAST(v.n_pkts AS BIGINT) AS n_pkts, CAST(v.n_src AS BIGINT) AS n_src
        FROM (VALUES ('clients', 100, 50), ('scanners', 35, 7),
        ('servers', 50, 1)) AS v(subnet, n_pkts, n_src)""")),

    // ----- longest-prefix-match routing enrichment ------------------------
    // The harder sibling of pcap_subnet_enrich: the route table has
    // OVERLAPPING prefixes (/0 ⊃ /8 ⊃ /16 ⊃ /24 ⊃ /32) and each packet
    // must take the MOST SPECIFIC match only — real routing-table /
    // GeoIP semantics. The scalable formulation is NOT a range join:
    // each packet expands to one candidate (masklen, ip & mask) key per
    // prefix length present in the table (≤ 33, here 5), equi-joins the
    // broadcast route dim, and keeps argmax(masklen) per packet via a
    // struct max — so the fact side sees a narrow explode (5×) and one
    // broadcast hash join, no theta predicate, no per-packet range
    // scan. The match runs per DISTINCT source address (a partial-agg
    // packet rollup first), not per packet — at 100 TB the explode and
    // join touch |distinct IPs| rows, orders of magnitude below
    // |packets|, and the rollup's map-side combine does the heavy
    // lifting. Routes that are fully shadowed by longer prefixes
    // (scanners-16, servers-16, rfc1918-10, default here) must get
    // ZERO rows — a plain range join would double-count every packet
    // into them, so the constant oracle pins LPM precedence itself.
    Q("pcap_lpm_enrich",
      (s, d) => {
        import s.implicits._
        val routes = Seq(
          ("default", 0L, 0),
          ("rfc1918-10", ipNum(10, 0, 0, 0), 8),
          ("clients-16", ipNum(10, 5, 0, 0), 16),
          ("scanners-16", ipNum(10, 6, 0, 0), 16),
          ("scanner-24", ipNum(10, 6, 0, 0), 24),
          ("servers-16", ipNum(10, 9, 0, 0), 16),
          ("server-host", ipNum(10, 9, 0, 1), 32))
        val dimDf = s.createDataFrame(routes)
          .toDF("route", "prefix", "masklen")
        val masklens = routes.map(_._3).distinct.sorted
        val perSrc = s.read.format("pcap").load(handshakeSynthPath)
          .groupBy($"src")
          .agg(count(lit(1)).as("n_pkts_src"))
          .withColumn("ip_num", expr(
            "cast(split(src, '\\\\.')[0] as bigint) * 16777216 + " +
            "cast(split(src, '\\\\.')[1] as bigint) * 65536 + " +
            "cast(split(src, '\\\\.')[2] as bigint) * 256 + " +
            "cast(split(src, '\\\\.')[3] as bigint)"))
        val cands = perSrc.withColumn("cand",
            explode(array(masklens.map { l =>
              val block = 1L << (32 - l)
              struct(lit(l).as("masklen"),
                expr(s"(ip_num div ${block}L) * ${block}L").as("prefix"))
            }: _*)))
          .select($"src", $"n_pkts_src",
            $"cand.masklen".as("masklen"), $"cand.prefix".as("prefix"))
        cands.join(broadcast(dimDf), Seq("masklen", "prefix"))
          .groupBy($"src", $"n_pkts_src")
          .agg(max(struct($"masklen", $"route")).as("m"))
          .groupBy($"m.route".as("route"))
          .agg(sum($"n_pkts_src").as("n_pkts"),
            count(lit(1)).as("n_src"))
      },
      Some("""SELECT CAST(v.route AS VARCHAR) AS route,
        CAST(v.n_pkts AS BIGINT) AS n_pkts, CAST(v.n_src AS BIGINT) AS n_src
        FROM (VALUES ('clients-16', 100, 50), ('scanner-24', 35, 7),
        ('server-host', 50, 1)) AS v(route, n_pkts, n_src)""")),

    Q("pcap_flow_topn",
      (s, d) => {
        import s.implicits._
        s.read.format("pcap").load(synthPath)
          .filter($"protocol" === "UDP")
          .groupBy($"dst", $"dst_port")
          .agg(count(lit(1)).as("n_packets"),
            sum($"size").as("total_bytes"),
            min($"ts").as("first_ts"),
            max($"ts").as("last_ts"))
          .orderBy(desc("n_packets"), asc("dst"), asc("dst_port"))
          .limit(25)
      },
      Some("""SELECT CAST(v.dst AS VARCHAR) AS dst, CAST(v.dst_port AS INT) AS dst_port,
          CAST(v.n_packets AS BIGINT) AS n_packets,
          CAST(v.total_bytes AS BIGINT) AS total_bytes,
          CAST(v.first_ts AS BIGINT) AS first_ts,
          CAST(v.last_ts AS BIGINT) AS last_ts
        FROM (VALUES ('1.0.0.1', 53, 19215, 1588432, 1700000000, 1700000333),
        ('12.0.0.1', 53, 19215, 1588441, 1700000000, 1700000333),
        ('4.0.0.1', 53, 19215, 1588437, 1700000000, 1700000333),
        ('9.0.0.1', 53, 19215, 1588435, 1700000000, 1700000333),
        ('10.0.0.1', 53, 19214, 1588354, 1700000000, 1700000333),
        ('11.0.0.1', 53, 19214, 1588358, 1700000000, 1700000333),
        ('13.0.0.1', 53, 19214, 1588353, 1700000000, 1700000333),
        ('2.0.0.1', 53, 19214, 1588355, 1700000000, 1700000333),
        ('3.0.0.1', 53, 19214, 1588357, 1700000000, 1700000333),
        ('5.0.0.1', 53, 19214, 1588351, 1700000000, 1700000333),
        ('6.0.0.1', 53, 19214, 1588355, 1700000000, 1700000333),
        ('7.0.0.1', 53, 19214, 1588359, 1700000000, 1700000333),
        ('8.0.0.1', 53, 19214, 1588357, 1700000000, 1700000333),
        ('1.0.0.1', 4001, 189, 26568, 1700000000, 1700000332),
        ('1.0.0.1', 4003, 189, 26512, 1700000000, 1700000332),
        ('1.0.0.1', 4010, 189, 26408, 1700000000, 1700000332),
        ('1.0.0.1', 4012, 189, 26352, 1700000000, 1700000332),
        ('1.0.0.1', 4014, 189, 26424, 1700000000, 1700000332),
        ('1.0.0.1', 4016, 189, 26496, 1700000000, 1700000332),
        ('10.0.0.1', 4000, 189, 26496, 1700000000, 1700000333),
        ('10.0.0.1', 4005, 189, 26448, 1700000000, 1700000332),
        ('10.0.0.1', 4007, 189, 26520, 1700000000, 1700000332),
        ('10.0.0.1', 4009, 189, 26464, 1700000000, 1700000332),
        ('10.0.0.1', 4011, 189, 26408, 1700000000, 1700000332),
        ('10.0.0.1', 4013, 189, 26352, 1700000000, 1700000332))
        AS v(dst, dst_port, n_packets, total_bytes, first_ts, last_ts)""")),

    // duplicate-packet detection — the motivation for the reference's MD5
    // conf flag (PcapReader.java:183 comment). In the synth capture the
    // only byte-identical frames are the ARP fillers (pure function of
    // nothing — every i%8==7 frame is the same bytes).
    Q("pcap_dedup_md5",
      (s, d) => {
        import s.implicits._
        s.read.format("pcap").option("md5", "true").load(synthPath)
          .groupBy($"md5")
          .agg(count(lit(1)).as("copies"))
          .filter($"copies" > 1)
          .agg(count(lit(1)).as("n_dup_groups"),
            coalesce(sum($"copies"), lit(0L)).as("n_dup_packets"))
      },
      Some("""SELECT CAST(v.n_dup_groups AS BIGINT) AS n_dup_groups,
        CAST(v.n_dup_packets AS BIGINT) AS n_dup_packets
        FROM (VALUES (1, 41630)) AS v(n_dup_groups, n_dup_packets)""")),

    // the same workload over a pcapng container (extension: the
    // reference rejects pcapng; oracle derived independently by
    // tools/gen_pcap_oracles.py from the same pure frame function)
    Q("pcapng_dns_qtype_agg",
      (s, d) => {
        import s.implicits._
        s.read.format("pcap").option("decoder", "dns").load(ngSynthPath)
          .filter($"dns_qname".isNotNull)
          .groupBy($"dns_qtype_str")
          .agg(count(lit(1)).as("n"),
            countDistinct($"dns_qname").as("n_names"),
            min($"ts").as("min_ts"), max($"ts").as("max_ts"))
      },
      Some("""SELECT CAST(v.dns_qtype_str AS VARCHAR) AS dns_qtype_str,
        CAST(v.n AS BIGINT) AS n, CAST(v.n_names AS BIGINT) AS n_names,
        CAST(v.min_ts AS BIGINT) AS min_ts, CAST(v.max_ts AS BIGINT) AS max_ts
        FROM (VALUES ('A', 30000, 30000, 1700000000, 1700000049),
        ('AAAA', 7500, 7500, 1700000000, 1700000049))
        AS v(dns_qtype_str, n, n_names, min_ts, max_ts)""")),

    // DNS-tunneling / exfiltration signals — the DNS-research workload
    // the reference stack was built for: per registered domain, the
    // unique-subdomain rate (tunnels encode data in ever-changing
    // labels) and name-length statistics. All integer counts + single
    // divisions -> engine-exact; VALUES oracle derived independently by
    // tools/gen_pcap_oracles.py.
    Q("pcap_dns_tunnel_signals",
      (s, d) => {
        import s.implicits._
        s.read.format("pcap").option("decoder", "dns").load(synthPath)
          .filter($"dns_qname".isNotNull)
          .select(
            regexp_extract($"dns_qname", "([a-z0-9-]+\\.[a-z]+\\.)$", 1)
              .as("sld"),
            $"dns_qname")
          .groupBy($"sld")
          .agg(
            count(lit(1)).as("n_queries"),
            countDistinct($"dns_qname").as("n_unique"),
            sum(length($"dns_qname").cast("long")).as("total_len"),
            max(length($"dns_qname")).as("max_len"))
          .select($"sld", $"n_queries", $"n_unique", $"total_len", $"max_len",
            ($"n_unique".cast("double") / $"n_queries").as("uniq_rate"))
          .orderBy(desc("uniq_rate"), asc("sld"))
          .limit(20)
      },
      Some(TunnelSignalsOracle.sql)),

    // protocol mix over the synthetic capture (exercises non-IP path)
    Q("pcap_protocol_mix",
      (s, d) => {
        import s.implicits._
        s.read.format("pcap").load(synthPath)
          .groupBy($"ether_type", $"protocol")
          .agg(count(lit(1)).as("n"),
            sum($"size").as("bytes"))
      },
      Some("""SELECT CAST(v.ether_type AS VARCHAR) AS ether_type,
        CAST(v.protocol AS VARCHAR) AS protocol,
        CAST(v.n AS BIGINT) AS n, CAST(v.bytes AS BIGINT) AS bytes
        FROM (VALUES ('IPv4', 'UDP', 291417, 26477224),
        ('arp', NULL, 41630, 1748460)) AS v(ether_type, protocol, n, bytes)""")),

    // Linux cooked capture (SLL v1 + SLL2) decode — the `tcpdump -i
    // any` framings, one scan over a directory holding both link
    // types, so per-file link-type dispatch is exercised inside a
    // single query. The oracle is a constant table derived analytically
    // from the synthesis formulas (and re-derived by independent
    // struct-level Python decode in tools/gen_pcap_oracles.py).
    Q("pcap_sll_decode",
      (s, d) => {
        import s.implicits._
        s.read.format("pcap").load(sllSynthPath)
          .groupBy($"ether_type", $"dst_port")
          .agg(count(lit(1)).as("n"),
            sum($"size").as("bytes"),
            countDistinct($"src_port").as("n_src_ports"))
      },
      Some("""SELECT CAST(v.ether_type AS VARCHAR) AS ether_type,
        CAST(v.dst_port AS INT) AS dst_port, CAST(v.n AS BIGINT) AS n,
        CAST(v.bytes AS BIGINT) AS bytes,
        CAST(v.n_src_ports AS BIGINT) AS n_src_ports
        FROM (VALUES
        ('IPv4', 4000, 1658, 155819, 20),
        ('IPv4', 4001, 1657, 155657, 20),
        ('IPv4', 4002, 1657, 155618, 20),
        ('IPv4', 4003, 1657, 155643, 20),
        ('IPv4', 4004, 1657, 155668, 20),
        ('IPv4', 4005, 857, 92093, 9),
        ('IPv4', 4006, 857, 92118, 9))
        AS v(ether_type, dst_port, n, bytes, n_src_ports)""")),

    // ----- DNS query/response latency pairing -----------------------------
    // The resolver-side analytic the reference stack's DNS-research users
    // run on captures: pair each query with its response on
    // (queryid, qname, endpoints swapped) and aggregate latency per
    // rcode, keeping unanswered queries as their own bucket (left join,
    // NULL latency aggregates away). The pairing is ONE shuffle keyed on
    // (queryid, qname) — the scalable conversation-reassembly shape: no
    // per-flow state, no ordering assumption between capture files, so
    // captures can be split arbitrarily across executors. Latencies are
    // integer micros (ts_micro BIGINT on both sides) — exact min/max/sum.
    // VALUES oracle derived independently by tools/gen_pcap_oracles.py
    // from a struct-level Python re-decode of the same capture.
    Q("pcap_dns_latency",
      (s, d) => {
        import s.implicits._
        val df = s.read.format("pcap").option("decoder", "dns")
          .load(qrSynthPath)
        val q = df.filter(!$"dns_qr" && $"dst_port" === 53)
          .select($"dns_queryid".as("qid"), $"dns_qname".as("qname"),
            $"src".as("qsrc"), $"dst".as("qdst"), $"ts_micro".as("tq"))
        val r = df.filter($"dns_qr" && $"src_port" === 53)
          .select($"dns_queryid".as("qid"), $"dns_qname".as("qname"),
            $"src".as("rsrc"), $"dst".as("rdst"),
            $"dns_rcode".as("rc"), $"ts_micro".as("tr"))
        q.join(r,
            q("qid") === r("qid") && q("qname") === r("qname") &&
              q("qsrc") === r("rdst") && q("qdst") === r("rsrc"),
            "left")
          .select(coalesce($"rc", lit("UNANSWERED")).as("rcode"),
            ($"tr" - $"tq").as("lat"))
          .groupBy($"rcode")
          .agg(count(lit(1)).as("n"),
            min($"lat").as("min_us"), max($"lat").as("max_us"),
            sum($"lat").as("sum_us"))
          .orderBy($"rcode")
      },
      // placeholder until gen_pcap_oracles derives the constants
      Some(LatencyOracle.sql)),

    // ----- per-resolver DNS health ----------------------------------------
    // Operational rollup over the conversation capture: per resolver
    // (the query's destination), query volume, answer volume, NXDOMAIN
    // volume, answer rate. No pairing join needed — queries group by
    // dst, responses by src, and the two 13-row aggregates join on the
    // resolver address. At 100 TB both aggregations collapse map-side
    // (resolver cardinality is tiny) and only per-resolver partials
    // shuffle. answer_rate is a single division of exact integer counts.
    Q("pcap_resolver_health",
      (s, d) => {
        import s.implicits._
        val df = s.read.format("pcap").option("decoder", "dns")
          .load(qrSynthPath)
        val q = df.filter(!$"dns_qr" && $"dst_port" === 53)
          .groupBy($"dst".as("resolver"))
          .agg(count(lit(1)).as("n_queries"))
        val r = df.filter($"dns_qr" && $"src_port" === 53)
          .groupBy($"src".as("resolver"))
          .agg(count(lit(1)).as("n_answered"),
            sum(when($"dns_rcode" === "NXDOMAIN", 1L).otherwise(0L))
              .as("n_nx"))
        q.join(r, Seq("resolver"), "left")
          .select($"resolver", $"n_queries",
            coalesce($"n_answered", lit(0L)).as("n_answered"),
            coalesce($"n_nx", lit(0L)).as("n_nx"),
            (coalesce($"n_answered", lit(0L)).cast("double") / $"n_queries")
              .as("answer_rate"))
          .orderBy($"resolver")
      },
      Some("""SELECT CAST(v.resolver AS VARCHAR) AS resolver,
          CAST(v.n_queries AS BIGINT) AS n_queries,
          CAST(v.n_answered AS BIGINT) AS n_answered,
          CAST(v.n_nx AS BIGINT) AS n_nx,
          CAST(v.n_answered AS DOUBLE) / v.n_queries AS answer_rate
        FROM (VALUES
          ('1.0.0.1', 1539, 1458, 208), ('2.0.0.1', 1539, 1458, 209),
          ('3.0.0.1', 1539, 1458, 208), ('4.0.0.1', 1539, 1458, 208),
          ('5.0.0.1', 1539, 1458, 209), ('6.0.0.1', 1539, 1458, 208),
          ('7.0.0.1', 1538, 1457, 207), ('8.0.0.1', 1538, 1457, 209),
          ('9.0.0.1', 1538, 1457, 208), ('10.0.0.1', 1538, 1457, 208),
          ('11.0.0.1', 1538, 1457, 209), ('12.0.0.1', 1538, 1457, 209),
          ('13.0.0.1', 1538, 1457, 207))
        AS v(resolver, n_queries, n_answered, n_nx)
        ORDER BY resolver""")),

    // ----- qname-suffix needle-in-haystack scan ---------------------------
    // The archive-hunt query ("all lookups under one domain, ever"): a
    // dns_qname suffix predicate is PUSHED INTO THE DECODER
    // (PcapPacketFilter StringEndsWith), so the 32 MB scan decodes every
    // packet but materializes rows — and builds RR-section strings — only
    // for the ~1.5% matching. At 100 TB this is the difference between
    // streaming the archive at decode speed and paying row
    // materialization for every packet. ScaleTechniquesSpec asserts the
    // filter lands in pushedFilters and that results equal the unpushed
    // plan.
    Q("pcap_qname_filter",
      (s, d) => {
        import s.implicits._
        s.read.format("pcap").option("decoder", "dns").load(synthPath)
          .filter($"dns_qname".endsWith(".example7.com."))
          .agg(count(lit(1)).as("n"),
            countDistinct($"dns_qname").as("n_names"),
            min($"ts").as("min_ts"), max($"ts").as("max_ts"))
      },
      Some("""SELECT CAST(v.n AS BIGINT) AS n,
          CAST(v.n_names AS BIGINT) AS n_names,
          CAST(v.min_ts AS BIGINT) AS min_ts,
          CAST(v.max_ts AS BIGINT) AS max_ts
        FROM (VALUES (4995, 1500, 1700000000, 1700000332))
        AS v(n, n_names, min_ts, max_ts)""")),

    // ----- DNS-over-TCP aggregation ---------------------------------------
    // Exercises the dns+tcp extension decoder (strips the RFC 1035 2-byte
    // length prefix the reference chokes on) end-to-end through the
    // battery. Deterministic capture: 3000 TCP queries, qname a pure
    // function of index, AAAA when i % 5 == 0. Constants verified by the
    // same spec arithmetic as the generator (names collapse mod 500;
    // 10 divides 500, so the tcp{i%10} label adds no cardinality).
    Q("pcap_dns_tcp_agg",
      (s, d) => {
        import s.implicits._
        val p = java.nio.file.Paths.get("/tmp/graft_synth_tcp.pcap")
        if (!java.nio.file.Files.exists(p)) {
          val pkts = (0 until 3000).map { i =>
            val q = graft.pcap.PcapSynth.dnsQuery(i & 0xFFFF,
              s"host${i % 500}.tcp${i % 10}.org",
              qtype = if (i % 5 == 0) 28 else 1)
            val frame = graft.pcap.PcapSynth.ipv4TcpFrame(
              Array[Byte](10, (i >> 8).toByte, i.toByte, 9),
              Array[Byte](9, 0, 0, 1),
              30000 + (i % 20000), 53, ttl = 64,
              payload = graft.pcap.PcapSynth.be16(q.length) ++ q)
            (1700000000L + i / 1000L, (i % 1000) * 991L, frame)
          }
          graft.pcap.PcapSynth.writeAtomic(p, graft.pcap.PcapSynth.file(pkts))
        }
        s.read.format("pcap").option("decoder", "dns+tcp").load(p.toString)
          .filter($"dns_qname".isNotNull)
          .groupBy($"dns_qtype_str")
          .agg(count(lit(1)).as("n"),
            countDistinct($"dns_qname").as("n_names"))
          .orderBy($"dns_qtype_str")
      },
      Some("""SELECT CAST(v.dns_qtype_str AS VARCHAR) AS dns_qtype_str,
          CAST(v.n AS BIGINT) AS n, CAST(v.n_names AS BIGINT) AS n_names
        FROM (VALUES ('A', 2400, 400), ('AAAA', 600, 100))
        AS v(dns_qtype_str, n, n_names)
        ORDER BY dns_qtype_str""")),

    // ----- IPv6 extension-header mix --------------------------------------
    // Exercises the RFC 8200 ext-header walk (§2A op 9 — where the
    // reference has size bugs we fixed) through the oracle gate:
    // deterministic mixed capture, every third frame IPv6 (every sixth
    // fragmented). frag stays NULL for unfragmented traffic — reference
    // parity: the flag records "Fragment header seen", not "is v6".
    Q("pcap_ipv6_mix",
      (s, d) => {
        import s.implicits._
        val p = java.nio.file.Paths.get("/tmp/graft_synth_v6.pcap")
        if (!java.nio.file.Files.exists(p)) {
          val pkts = (0 until 4000).map { i =>
            val frame =
              if (i % 3 == 0)
                graft.pcap.PcapSynth.ipv6UdpFrame(
                  4000 + (i % 7), 53, hopLimit = 64,
                  payload = graft.pcap.PcapSynth.dnsQuery(
                    i & 0xFFFF, s"v6host${i % 200}.example.net"),
                  withFragmentHeader = i % 6 == 0)
              else
                graft.pcap.PcapSynth.ipv4UdpFrame(
                  Array[Byte](10, 0, (i >> 8).toByte, i.toByte),
                  Array[Byte](11, 0, 0, 1),
                  2000 + (i % 100), 4000, ttl = 64,
                  payload = new Array[Byte](24))
            (1700000000L + i / 1000L, (i % 1000) * 983L, frame)
          }
          graft.pcap.PcapSynth.writeAtomic(p, graft.pcap.PcapSynth.file(pkts))
        }
        s.read.format("pcap").load(p.toString)
          .groupBy($"ether_type", $"frag", $"ext_headers")
          .agg(count(lit(1)).as("n"))
          .orderBy($"ether_type", $"frag", $"ext_headers")
      },
      Some("""SELECT CAST(v.ether_type AS VARCHAR) AS ether_type,
          CAST(v.frag AS BOOLEAN) AS frag,
          CAST(v.ext_headers AS VARCHAR) AS ext_headers,
          CAST(v.n AS BIGINT) AS n
        FROM (VALUES
          ('IPv4', NULL, NULL, 2666),
          ('IPv6', NULL, '[UDP]', 667),
          ('IPv6', true, '[Fragment][UDP]', 667))
        AS v(ether_type, frag, ext_headers, n)
        ORDER BY ether_type, frag, ext_headers""")),

    // ----- cross-container dedup (classic pcap + pcapng, one scan) --------
    // The md5 column's real job at archive scale: find identical frames
    // captured twice across format generations. ONE multi-path load scans
    // a classic capture and a pcapng capture together (container sniffed
    // per file), and the frame digest dedups across them — the pcapng
    // synth replays the classic synth's first 50k frames byte-identically
    // by construction, so the shared-digest count is a spec constant.
    // Per-digest file-spread via one aggregation on the digest (the
    // md5 key shuffles, never the frames).
    Q("pcap_dedup_cross_container",
      (s, d) => {
        import s.implicits._
        val df = s.read.format("pcap").option("md5", "true")
          .load(synthPath, ngSynthPath)
          .select($"md5", $"file")
        df.groupBy($"md5")
          .agg(countDistinct($"file").as("nf"), count(lit(1)).as("np"))
          .agg(sum($"np").cast("long").as("n_pkts"),
            count(lit(1)).as("n_md5"),
            sum(when($"nf" > 1, 1L).otherwise(0L)).as("n_shared_md5"))
      },
      Some("""SELECT CAST(v.n_pkts AS BIGINT) AS n_pkts,
          CAST(v.n_md5 AS BIGINT) AS n_md5,
          CAST(v.n_shared_md5 AS BIGINT) AS n_shared_md5
        FROM (VALUES (383047, 291418, 43751))
        AS v(n_pkts, n_md5, n_shared_md5)"""))
  )
}
