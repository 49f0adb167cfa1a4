package graft.pcap

import java.io.ByteArrayOutputStream

/** Byte-level pcap/frame synthesis for tests and benchmarks (FIXTURES.md
  * §5: synthesized pcaps generated byte-by-byte). Deterministic — no RNG,
  * content derives from packet index only. */
object PcapSynth {

  /** Atomic fixture publish: write a temp sibling, then ATOMIC_MOVE into
    * place — a crashed or concurrent writer can never leave a truncated
    * fixture that a later session's existence-only check silently
    * reuses. Concurrent writers race benignly: content is
    * deterministic, so whichever rename wins publishes identical
    * bytes. */
  def writeAtomic(path: java.nio.file.Path, bytes: Array[Byte]): Unit =
    writeAtomicWithMtime(path, bytes, mtimeMs = -1L)

  /** Like [[writeAtomic]], but stamps `mtimeMs` on the TEMP file before
    * the atomic move, so a concurrent directory listing can never
    * observe the final name with a transient wall-clock mtime (which
    * would poison mtime-ordered consumers like the streaming source's
    * retention horizon). The temp name is dot-prefixed — the pcap
    * source's listing skips hidden files, so in-flight writes are
    * invisible to a live landing-directory stream. */
  def writeAtomicWithMtime(path: java.nio.file.Path, bytes: Array[Byte],
      mtimeMs: Long): Unit = {
    val tmp = path.resolveSibling(
      s".${path.getFileName}.tmp${ProcessHandle.current().pid()}")
    java.nio.file.Files.write(tmp, bytes)
    if (mtimeMs >= 0)
      java.nio.file.Files.setLastModifiedTime(tmp,
        java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
    java.nio.file.Files.move(tmp, path,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Write a deterministic DNS-heavy capture of ~`targetBytes` to `path`
    * (idempotent: kept if already present with the right size; published
    * atomically otherwise). Mix: 3/4 DNS queries over UDP, 1/8 plain
    * UDP, 1/8 ARP frames. */
  def ensureFile(path: java.nio.file.Path, targetBytes: Long): Long = {
    if (java.nio.file.Files.exists(path) &&
        java.nio.file.Files.size(path) >= targetBytes)
      return java.nio.file.Files.size(path)
    val tmp = path.resolveSibling(
      s"${path.getFileName}.tmp${ProcessHandle.current().pid()}")
    val out = new java.io.BufferedOutputStream(
      java.nio.file.Files.newOutputStream(tmp), 1 << 20)
    out.write(globalHeader())
    var written = 24L
    var i = 0
    while (written < targetBytes) {
      val frame = synthFrame(i)
      out.write(packetHeader(1700000000L + i / 1000, (i % 1000) * 997L,
        frame.length))
      out.write(frame)
      written += 16 + frame.length
      i += 1
    }
    out.close()
    java.nio.file.Files.move(tmp, path,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    java.nio.file.Files.size(path)
  }

  def synthFrame(i: Int): Array[Byte] = {
    val src = Array[Byte](10, (i >> 16).toByte, (i >> 8).toByte, i.toByte)
    val dst = Array[Byte](((i % 13) + 1).toByte, 0, 0, 1)
    (i % 8) match {
      case 7 => // non-IP (ARP) frame
        Array.fill[Byte](12)(0x02) ++ be16(0x0806) ++ new Array[Byte](28)
      case 6 => // plain UDP, varying ports
        ipv4UdpFrame(src, dst, 1024 + (i % 5000), 4000 + (i % 17),
          ttl = 64 - (i % 30), payload = new Array[Byte](32 + i % 128))
      case _ => // DNS query
        val qname = s"host${i % 100000}.example${i % 50}.com"
        ipv4UdpFrame(src, dst, 1024 + (i % 50000), 53,
          ttl = 64, payload = dnsQuery(i & 0xFFFF, qname,
            qtype = if (i % 5 == 0) 28 else 1))
    }
  }

  def le32(v: Long): Array[Byte] = Array(
    (v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
    ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)

  def be16(v: Int): Array[Byte] =
    Array(((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)

  def globalHeader(linkType: Int = 1): Array[Byte] =
    le32(0xA1B2C3D4L) ++ Array[Byte](2, 0, 4, 0) ++
      le32(0) ++ le32(0) ++ le32(65535) ++ le32(linkType)

  def packetHeader(tsSec: Long, tsUsec: Long, capLen: Int, origLen: Int = -1): Array[Byte] =
    le32(tsSec) ++ le32(tsUsec) ++ le32(capLen) ++
      le32(if (origLen < 0) capLen else origLen)

  def file(packets: Seq[(Long, Long, Array[Byte])], linkType: Int = 1): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write(globalHeader(linkType))
    packets.foreach { case (sec, usec, frame) =>
      out.write(packetHeader(sec, usec, frame.length))
      out.write(frame)
    }
    out.toByteArray
  }

  def be32(v: Long): Array[Byte] = Array(
    ((v >> 24) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
    ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)

  /** Big-endian-writer variant of [[file]] (magic reads as 0xD4C3B2A1
    * little-endian). `subRes` selects micro vs nanosecond sub-stamps. */
  def fileBe(packets: Seq[(Long, Long, Array[Byte])], linkType: Int = 1,
      nano: Boolean = false): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write(be32(if (nano) 0xA1B23C4DL else 0xA1B2C3D4L))
    out.write(Array[Byte](0, 2, 0, 4))
    out.write(be32(0)); out.write(be32(0))
    out.write(be32(65535)); out.write(be32(linkType))
    packets.foreach { case (sec, sub, frame) =>
      out.write(be32(sec)); out.write(be32(sub))
      out.write(be32(frame.length)); out.write(be32(frame.length))
      out.write(frame)
    }
    out.toByteArray
  }

  /** Nanosecond-resolution little-endian variant (tcpdump --nano). */
  def fileNano(packets: Seq[(Long, Long, Array[Byte])], linkType: Int = 1): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write(le32(0xA1B23C4DL))
    out.write(Array[Byte](2, 0, 4, 0))
    out.write(le32(0)); out.write(le32(0))
    out.write(le32(65535)); out.write(le32(linkType))
    packets.foreach { case (sec, nsec, frame) =>
      out.write(packetHeader(sec, nsec, frame.length))
      out.write(frame)
    }
    out.toByteArray
  }

  /** Minimal pcapng file: one SHB + one IDB per link type given, then one
    * EPB per packet (interfaceId, tsUnits at `unitsPerSec`, frame).
    * Little-endian section. `tsresolRaw` < 0 omits the option (default
    * micro); otherwise it is the raw if_tsresol byte. */
  def fileNg(linkTypes: Seq[Int],
      packets: Seq[(Int, Long, Array[Byte])],
      tsresolRaw: Int = -1): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    def block(blockType: Long, body: Array[Byte]): Unit = {
      val pad = (4 - body.length % 4) % 4
      val total = 12 + body.length + pad
      out.write(le32(blockType)); out.write(le32(total))
      out.write(body); out.write(new Array[Byte](pad))
      out.write(le32(total))
    }
    block(0x0A0D0D0AL, le32(0x1A2B3C4DL) ++
      Array[Byte](1, 0, 0, 0) ++ // version 1.0
      le32(0xFFFFFFFFL) ++ le32(0xFFFFFFFFL)) // section length unknown
    linkTypes.foreach { lt =>
      val opts =
        if (tsresolRaw < 0) Array.emptyByteArray
        else Array[Byte](9, 0, 1, 0, tsresolRaw.toByte, 0, 0, 0) ++
          Array[Byte](0, 0, 0, 0) // opt_endofopt
      block(1L, le32(lt) ++ le32(65535) ++ opts)
    }
    packets.foreach { case (ifId, tsUnits, frame) =>
      block(6L, le32(ifId) ++
        le32((tsUnits >>> 32) & 0xFFFFFFFFL) ++ le32(tsUnits & 0xFFFFFFFFL) ++
        le32(frame.length) ++ le32(frame.length) ++ frame)
    }
    out.toByteArray
  }

  /** Minimal pcapng file with Simple Packet Blocks: SHB + one IDB
    * (`linkType`, `snapLen`) + one SPB per (origLen, storedBytes) pair.
    * The body is 32-bit padded, exactly like real writers emit. */
  def fileNgSpb(linkType: Int, snapLen: Long,
      packets: Seq[(Long, Array[Byte])]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    def block(blockType: Long, body: Array[Byte]): Unit = {
      val pad = (4 - body.length % 4) % 4
      val total = 12 + body.length + pad
      out.write(le32(blockType)); out.write(le32(total))
      out.write(body); out.write(new Array[Byte](pad))
      out.write(le32(total))
    }
    block(0x0A0D0D0AL, le32(0x1A2B3C4DL) ++
      Array[Byte](1, 0, 0, 0) ++ le32(0xFFFFFFFFL) ++ le32(0xFFFFFFFFL))
    block(1L, le32(linkType) ++ le32(snapLen))
    packets.foreach { case (origLen, stored) =>
      block(3L, le32(origLen) ++ stored)
    }
    out.toByteArray
  }

  /** Internet (one's-complement) checksum over 16-bit big-endian words. */
  def inetChecksum(data: Array[Byte]): Int = {
    var sum = 0
    var i = 0
    while (i < data.length) {
      val hi = data(i) & 0xFF
      val lo = if (i + 1 < data.length) data(i + 1) & 0xFF else 0
      sum += (hi << 8) | lo
      i += 2
    }
    while ((sum >> 16) != 0) sum = (sum & 0xFFFF) + (sum >> 16)
    val ck = ~sum & 0xFFFF
    if (ck == 0) 0xFFFF else ck
  }

  def udpSegment(srcPort: Int, dstPort: Int, payload: Array[Byte],
      pseudoPrefix: Array[Byte], withChecksum: Boolean): Array[Byte] = {
    val udpLen = 8 + payload.length
    val zeroCk = be16(srcPort) ++ be16(dstPort) ++ be16(udpLen) ++
      be16(0) ++ payload
    val ck =
      if (!withChecksum) 0
      else inetChecksum(pseudoPrefix ++ be16(udpLen) ++ zeroCk)
    be16(srcPort) ++ be16(dstPort) ++ be16(udpLen) ++ be16(ck) ++ payload
  }

  /** Ethernet + IPv4 + UDP frame with correct header fields. */
  def ipv4UdpFrame(src: Array[Byte], dst: Array[Byte], srcPort: Int,
      dstPort: Int, ttl: Int, payload: Array[Byte],
      withChecksum: Boolean = true): Array[Byte] = {
    val pseudo = src ++ dst ++ Array[Byte](0, 17)
    val udp = udpSegment(srcPort, dstPort, payload, pseudo, withChecksum)
    val totalLen = 20 + udp.length
    val ip = Array[Byte](0x45, 0) ++ be16(totalLen) ++
      Array[Byte](0, 0, 0, 0) ++
      Array[Byte](ttl.toByte, 17, 0, 0) ++ src ++ dst
    val eth = Array.fill[Byte](12)(0x02) ++ be16(0x0800)
    eth ++ ip ++ udp
  }

  /** Linux cooked capture v1 (SLL, linktype 113) + IPv4/UDP: the
    * `tcpdump -i any` frame shape. 16-byte pseudo-header — packet type,
    * ARPHRD, lladdr length, 8 bytes of lladdr+pad, then the protocol
    * field where Ethernet keeps its EtherType. */
  def sllUdpFrame(src: Array[Byte], dst: Array[Byte], srcPort: Int,
      dstPort: Int, ttl: Int, payload: Array[Byte]): Array[Byte] = {
    val ipUdp = ipv4UdpFrame(src, dst, srcPort, dstPort, ttl, payload)
      .drop(14) // strip the Ethernet header, keep IP + UDP
    be16(0) ++ be16(1) ++ be16(6) ++ new Array[Byte](8) ++
      be16(0x0800) ++ ipUdp
  }

  /** SLL2 (linktype 276): 20-byte header with the protocol field FIRST,
    * then reserved, ifindex, ARPHRD, packet type, lladdr len + lladdr. */
  def sll2UdpFrame(src: Array[Byte], dst: Array[Byte], srcPort: Int,
      dstPort: Int, ttl: Int, payload: Array[Byte]): Array[Byte] = {
    val ipUdp = ipv4UdpFrame(src, dst, srcPort, dstPort, ttl, payload)
      .drop(14)
    be16(0x0800) ++ be16(0) ++ be32(1) ++ be16(1) ++
      Array[Byte](0, 6) ++ new Array[Byte](8) ++ ipUdp
  }
  def ipv4TcpFrame(src: Array[Byte], dst: Array[Byte], srcPort: Int,
      dstPort: Int, ttl: Int, payload: Array[Byte],
      tcpHeaderWords: Int = 5, seq: Long = 0L, ack: Long = 0L,
      flags: Int = 0, window: Int = 0,
      tcpOpts: Array[Byte] = Array.emptyByteArray): Array[Byte] = {
    // non-empty tcpOpts wins over tcpHeaderWords: words = 5 + padded
    // option length; the pad bytes are zero (EOL), a valid option tail
    val words =
      if (tcpOpts.isEmpty) tcpHeaderWords else 5 + (tcpOpts.length + 3) / 4
    val tcpHeader = new Array[Byte](words * 4)
    Array.copy(be16(srcPort), 0, tcpHeader, 0, 2)
    Array.copy(be16(dstPort), 0, tcpHeader, 2, 2)
    Array.copy(be32(seq), 0, tcpHeader, 4, 4)
    Array.copy(be32(ack), 0, tcpHeader, 8, 4)
    tcpHeader(12) = (((words << 4) & 0xF0) | ((flags >> 8) & 0x1)).toByte
    tcpHeader(13) = (flags & 0xFF).toByte
    Array.copy(be16(window), 0, tcpHeader, 14, 2)
    if (tcpOpts.nonEmpty) Array.copy(tcpOpts, 0, tcpHeader, 20, tcpOpts.length)
    val tcp = tcpHeader ++ payload
    val totalLen = 20 + tcp.length
    val ip = Array[Byte](0x45, 0) ++ be16(totalLen) ++
      Array[Byte](0, 0, 0, 0) ++
      Array[Byte](ttl.toByte, 6, 0, 0) ++ src ++ dst
    val eth = Array.fill[Byte](12)(0x02) ++ be16(0x0800)
    eth ++ ip ++ tcp
  }

  /** Ethernet + IPv6 (+ optional Fragment ext header) + UDP frame. */
  def ipv6UdpFrame(srcPort: Int, dstPort: Int, hopLimit: Int,
      payload: Array[Byte], withFragmentHeader: Boolean = false): Array[Byte] = {
    val src = Array.tabulate[Byte](16)(i => (i + 1).toByte)
    val dst = Array.tabulate[Byte](16)(i => (i + 101).toByte)
    val pseudo = src ++ dst ++ Array[Byte](0, 17)
    val udp = udpSegment(srcPort, dstPort, payload, pseudo, withChecksum = true)
    val fragHdr =
      if (withFragmentHeader) Array[Byte](17, 0, 0, 0, 0, 0, 0, 1)
      else Array.emptyByteArray
    val payloadLen = fragHdr.length + udp.length
    val nextHeader = if (withFragmentHeader) 44 else 17
    val ip6 = Array[Byte](0x60, 0, 0, 0) ++ be16(payloadLen) ++
      Array(nextHeader.toByte, hopLimit.toByte) ++ src ++ dst
    val eth = Array.fill[Byte](12)(0x02) ++ be16(0x86DD.toShort)
    eth ++ ip6 ++ fragHdr ++ udp
  }

  /** Minimal DNS query payload: one question, no RRs. */
  def dnsQuery(id: Int, qname: String, qtype: Int = 1): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write(be16(id)); out.write(be16(0x0100)) // rd
    out.write(be16(1)); out.write(be16(0)); out.write(be16(0)); out.write(be16(0))
    qname.split('.').filter(_.nonEmpty).foreach { label =>
      out.write(label.length)
      out.write(label.getBytes("US-ASCII"))
    }
    out.write(0)
    out.write(be16(qtype)); out.write(be16(1))
    out.toByteArray
  }

  /** Minimal DNS response: same question section, QR|RD|RA flags with the
    * given rcode, zero answer records (NXDOMAIN-style). */
  def dnsResponse(id: Int, qname: String, qtype: Int = 1,
      rcode: Int = 0): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write(be16(id)); out.write(be16(0x8180 | rcode)) // qr,rd,ra,rcode
    out.write(be16(1)); out.write(be16(0)); out.write(be16(0)); out.write(be16(0))
    qname.split('.').filter(_.nonEmpty).foreach { label =>
      out.write(label.length)
      out.write(label.getBytes("US-ASCII"))
    }
    out.write(0)
    out.write(be16(qtype)); out.write(be16(1))
    out.toByteArray
  }

  /** Deterministic DNS conversation capture: for each i < n a query
    * frame; unless i % 19 == 0 (unanswered) also the matching response —
    * swapped endpoints, same id/qname, rcode NXDOMAIN when i % 7 == 0 —
    * delayed by latency 200 + (37 i mod 150000) microseconds. Everything
    * is a pure function of i, so query results over this capture are
    * constants derivable by an independent decoder. */
  def qrConversations(n: Int): Seq[(Long, Long, Array[Byte])] =
    (0 until n).flatMap { i =>
      val qname = s"host${i % 4000}.example${i % 50}.com"
      val qtype = if (i % 5 == 0) 28 else 1
      val src = Array[Byte](10, (i >> 16).toByte, (i >> 8).toByte, i.toByte)
      val dst = Array[Byte](((i % 13) + 1).toByte, 0, 0, 1)
      val sec = 1700000000L + i / 100
      val us = (i % 100) * 9973L
      val q = (sec, us, ipv4UdpFrame(src, dst, 1024 + (i % 50000), 53,
        ttl = 64, payload = dnsQuery(i & 0xFFFF, qname, qtype)))
      if (i % 19 == 0) Seq(q)
      else {
        val lat = 200L + (i.toLong * 37L) % 150000L
        val rus = us + lat
        val rcode = if (i % 7 == 0) 3 else 0
        val resp = (sec + rus / 1000000L, rus % 1000000L,
          ipv4UdpFrame(dst, src, 53, 1024 + (i % 50000), ttl = 60,
            payload = dnsResponse(i & 0xFFFF, qname, qtype, rcode)))
        Seq(q, resp)
      }
    }

  def ensureQrFile(path: java.nio.file.Path, n: Int): Unit =
    if (!java.nio.file.Files.exists(path))
      writeAtomic(path, file(qrConversations(n)))

  /** Deterministic segmented TCP flows for the reassembly query: flow f
    * (f < n) carries payload "flow<f>|" + 40+(f mod 160) bytes of a
    * pure-function pattern, split into 2 + (f mod 4) segments with
    * correct cumulative sequence numbers. Segments of different flows
    * interleave round-robin in the capture (so per-flow order must come
    * from seq/pkt_idx, not adjacency); within a flow they are in order
    * — no retransmits or overlap (the documented contract). Everything
    * is a pure function of f, so reassembly results are constants
    * derivable by an independent decoder (tools/gen_pcap_oracles.py). */
  def tcpFlowPayload(f: Int): Array[Byte] = {
    val body = Array.tabulate[Byte](40 + f % 160)(j =>
      (33 + (f * 7 + j * 11) % 94).toByte) // printable, flow-dependent
    s"flow$f|".getBytes("US-ASCII") ++ body
  }

  def tcpFlowSegments(n: Int): Seq[(Long, Long, Array[Byte])] = {
    // per-flow segment list with (flowId, segIdx, seq, chunk)
    val perFlow = (0 until n).map { f =>
      val payload = tcpFlowPayload(f)
      val nSeg = 2 + f % 4
      val base = payload.length / nSeg
      val cuts = (0 until nSeg).map(k =>
        if (k == nSeg - 1) payload.length else base * (k + 1))
      val chunks = (0 until nSeg).map { k =>
        val from = if (k == 0) 0 else cuts(k - 1)
        java.util.Arrays.copyOfRange(payload, from, cuts(k))
      }
      (f, chunks)
    }
    // round-robin interleave: seg 0 of every flow, then seg 1, ...
    val maxSeg = perFlow.map(_._2.length).max
    var t = 0
    val out = Seq.newBuilder[(Long, Long, Array[Byte])]
    for (k <- 0 until maxSeg; (f, chunks) <- perFlow if k < chunks.length) {
      val seq = chunks.take(k).map(_.length.toLong).sum + 1000L * f
      val src = Array[Byte](10, 1, (f >> 8).toByte, f.toByte)
      val dst = Array[Byte](10, 2, 0, 1)
      out += ((1700100000L + t / 50, (t % 50) * 1201L,
        ipv4TcpFrame(src, dst, 30000 + f, 80, ttl = 63,
          payload = chunks(k), seq = seq)))
      t += 1
    }
    out.result()
  }

  def ensureTcpFlowFile(path: java.nio.file.Path, n: Int): Unit =
    if (!java.nio.file.Files.exists(path))
      writeAtomic(path, file(tcpFlowSegments(n)))

  /** Overlapping-retransmit TCP flows: flow f sends
    * [[tcpFlowPayload]](f) (length L) as three in-order segments
    * A=[0,a), B=[a,b), C=[b,L) with a=L/3, b=2L/3, PLUS two corrupted
    * retransmits interleaved after A:
    *  - R at seq a-5: a corrupted copy of bytes [a-5,a) followed by the
    *    TRUE bytes [a,a+7) — a partial overlap extending the stream, so
    *    correct reassembly discards its covered 5-byte prefix
    *    (first-copy-wins) and keeps only the 7-byte extension;
    *  - D at seq 2: a fully-covered corrupted copy of bytes [2,11) —
    *    must drop entirely.
    * Correct reassembly therefore yields EXACTLY tcpFlowPayload(f)
    * (md5-checkable): accepting any corrupted overlap byte changes the
    * digest. Corruption = XOR 0x5A per byte. Requires L >= 33
    * (tcpFlowPayload gives L >= 47). n_seg per flow = 5. */
  def tcpOverlapSegments(n: Int): Seq[(Long, Long, Array[Byte])] = {
    def corrupt(bs: Array[Byte]): Array[Byte] = bs.map(b => (b ^ 0x5A).toByte)
    val perFlow = (0 until n).map { f =>
      val p = tcpFlowPayload(f)
      val (a, b) = (p.length / 3, 2 * p.length / 3)
      def slice(from: Int, to: Int) = java.util.Arrays.copyOfRange(p, from, to)
      // (seq, bytes) in capture order: A, R, D, B, C
      Seq(
        (0L, slice(0, a)),
        ((a - 5).toLong, corrupt(slice(a - 5, a)) ++ slice(a, a + 7)),
        (2L, corrupt(slice(2, 11))),
        (a.toLong, slice(a, b)),
        (b.toLong, slice(b, p.length)))
    }
    val maxSeg = perFlow.map(_.length).max
    var t = 0
    val out = Seq.newBuilder[(Long, Long, Array[Byte])]
    for (k <- 0 until maxSeg; f <- 0 until n if k < perFlow(f).length) {
      val (seq, chunk) = perFlow(f)(k)
      val src = Array[Byte](10, 7, (f >> 8).toByte, f.toByte)
      val dst = Array[Byte](10, 8, 0, 1)
      out += ((1700150000L + t / 50, (t % 50) * 997L,
        ipv4TcpFrame(src, dst, 31000 + f, 80, ttl = 63,
          payload = chunk, seq = seq, flags = 0x18)))
      t += 1
    }
    out.result()
  }

  def ensureTcpOverlapFile(path: java.nio.file.Path, n: Int): Unit =
    if (!java.nio.file.Files.exists(path))
      writeAtomic(path, file(tcpOverlapSegments(n)))

  /** Deterministic HTTP/1.1 request per flow (pure function of f), split
    * across 1 + (f mod 3) TCP segments — the segment cuts deliberately
    * land mid-request-line/mid-header so only reassembled streams parse.
    * Every third flow is a POST with a body; others are GETs. */
  def httpRequestBytes(f: Int): Array[Byte] = {
    val host = s"host${f % 13}.example.com"
    // RFC 9112 §5.1: header field names are case-insensitive, and real
    // clients exercise that (curl sends `Host:`, some proxies `host:`).
    // The fixture cycles the name's case so a case-sensitive extractor
    // fails loudly on 3/4 of flows; every variant is 4 chars, so all
    // byte offsets / segment cuts / seq numbers are case-invariant.
    val hostName = Seq("Host", "host", "HOST", "hOSt")(f % 4)
    val s =
      if (f % 3 == 2) {
        val body = s"q=${f % 11}&flow=$f"
        s"POST /submit/${f % 37} HTTP/1.1\r\n$hostName: $host\r\n" +
          s"User-Agent: graft/${f % 5}\r\nContent-Length: ${body.length}\r\n" +
          s"\r\n$body"
      } else {
        s"GET /item/${f % 37}?q=${f % 11} HTTP/1.1\r\n$hostName: $host\r\n" +
          s"User-Agent: graft/${f % 5}\r\nAccept: */*\r\n\r\n"
      }
    s.getBytes("US-ASCII")
  }

  def httpFlowSegments(n: Int): Seq[(Long, Long, Array[Byte])] = {
    val perFlow = (0 until n).map { f =>
      val req = httpRequestBytes(f)
      val nSeg = 1 + f % 3
      val base = req.length / nSeg
      val chunks = (0 until nSeg).map { k =>
        val from = base * k
        val to = if (k == nSeg - 1) req.length else base * (k + 1)
        java.util.Arrays.copyOfRange(req, from, to)
      }
      (f, chunks)
    }
    val maxSeg = perFlow.map(_._2.length).max
    var t = 0
    val out = Seq.newBuilder[(Long, Long, Array[Byte])]
    for (k <- 0 until maxSeg; (f, chunks) <- perFlow if k < chunks.length) {
      val seq = chunks.take(k).map(_.length.toLong).sum
      val src = Array[Byte](10, 3, (f >> 8).toByte, f.toByte)
      val dst = Array[Byte](10, 4, 0, 1)
      out += ((1700200000L + t / 40, (t % 40) * 1667L,
        ipv4TcpFrame(src, dst, 40000 + f, 80, ttl = 62,
          payload = chunks(k), seq = seq)))
      t += 1
    }
    out.result()
  }

  def ensureHttpFlowFile(path: java.nio.file.Path, n: Int): Unit =
    if (!java.nio.file.Files.exists(path))
      writeAtomic(path, file(httpFlowSegments(n)))

  /** Deterministic TCP three-way-handshake capture: n flows of
    * SYN → SYN|ACK → ACK with a per-flow handshake RTT of 150 + 37*f µs,
    * plus, for every f ≡ 3 (mod 7), an unanswered 5-port SYN burst from a
    * second source — the port-scan signal pcap_syn_no_synack isolates.
    * Sequence numbers follow RFC 793 handshake arithmetic (SYN|ACK acks
    * syn.seq+1; the final ACK acks synack.seq+1). */
  def handshakePackets(n: Int): Seq[(Long, Long, Array[Byte])] = {
    val server = Array[Byte](10, 9, 0, 1)
    val out = Seq.newBuilder[(Long, Long, Array[Byte])]
    for (f <- 0 until n) {
      val client = Array[Byte](10, 5, (f >> 8).toByte, f.toByte)
      val sec = 1700300000L + f
      val rtt = 150L + 37L * f
      val seqC = 1000L + f
      val seqS = 500000L + f
      out += ((sec, 100L, ipv4TcpFrame(client, server, 40000 + f, 443,
        ttl = 63, payload = Array.emptyByteArray, seq = seqC, flags = 0x02)))
      out += ((sec, 100L + rtt, ipv4TcpFrame(server, client, 443, 40000 + f,
        ttl = 60, payload = Array.emptyByteArray, seq = seqS, ack = seqC + 1,
        flags = 0x12)))
      out += ((sec, 100L + 2 * rtt, ipv4TcpFrame(client, server, 40000 + f,
        443, ttl = 63, payload = Array.emptyByteArray, seq = seqC + 1,
        ack = seqS + 1, flags = 0x10)))
      if (f % 7 == 3) {
        val scanner = Array[Byte](10, 6, (f >> 8).toByte, f.toByte)
        for (k <- 0 until 5)
          out += ((sec, 5000L + k, ipv4TcpFrame(scanner, server, 55000 + f,
            1000 + 10 * f + k, ttl = 50, payload = Array.emptyByteArray,
            seq = 7777L + f, flags = 0x02)))
      }
    }
    out.result()
  }

  def ensureHandshakeFile(path: java.nio.file.Path, n: Int): Unit =
    if (!java.nio.file.Files.exists(path))
      writeAtomic(path, file(handshakePackets(n)))

  private val TlsTlds = Array("com", "org", "net")
  private val TlsAlpns = Array("h2", "http/1.1", null)

  /** Deterministic TLS ClientHello for flow f — record + handshake
    * framing per RFC 8446 §4.1.2 (clean-room; the reference has no TLS
    * support at all): SNI host%03d.example.{com,org,net}, 8 + f%5 cipher
    * suites, ALPN cycling h2 / http\/1.1 / absent, and a
    * supported_versions extension carrying 0x0304 for odd f (→ TLS1.3;
    * even f stays legacy-version TLS1.2). */
  def tlsClientHello(f: Int): Array[Byte] = {
    val host = f"host$f%03d.example.${TlsTlds(f % 3)}"
    val sni = host.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val nCiphers = 8 + f % 5
    val ext = scala.collection.mutable.ArrayBuffer[Byte]()
    def e(i: Int): Unit = ext += i.toByte
    def e16(v: Int): Unit = { e(v >> 8); e(v & 0xFF) }
    // server_name: ext header, then list_len(2) name_type(1=0) name_len(2)
    e16(0); e16(sni.length + 5); e16(sni.length + 3); e(0); e16(sni.length)
    ext ++= sni
    val alpn = TlsAlpns(f % 3)
    if (alpn != null) {
      val ab = alpn.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      e16(16); e16(ab.length + 3); e16(ab.length + 1); e(ab.length)
      ext ++= ab
    }
    if (f % 2 == 1) { e16(43); e16(3); e(2); e16(0x0304) }
    val body = scala.collection.mutable.ArrayBuffer[Byte]()
    def h(i: Int): Unit = body += i.toByte
    def h16(v: Int): Unit = { h(v >> 8); h(v & 0xFF) }
    h16(0x0303)                                        // legacy version
    (0 until 32).foreach(i => h((f * 31 + i) & 0xFF))  // client random
    h(0)                                               // empty session id
    h16(nCiphers * 2)
    (0 until nCiphers).foreach(i => h16(0x1301 + i))
    h(1); h(0)                                         // null compression
    h16(ext.length)
    body ++= ext
    val hs = Array[Byte](1, ((body.length >> 16) & 0xFF).toByte,
      ((body.length >> 8) & 0xFF).toByte, (body.length & 0xFF).toByte) ++ body
    Array[Byte](0x16, 3, 1,
      ((hs.length >> 8) & 0xFF).toByte, (hs.length & 0xFF).toByte) ++ hs
  }

  /** Deterministic TLS ServerHello for flow f (RFC 8446 §4.1.3):
    * selected cipher 0x1301 + f%5, renegotiation_info always, ALPN
    * echoing [[TlsAlpns]](f%3) when present, and the ServerHello FORM
    * of supported_versions (one 2-byte selected version, no list
    * length) carrying 0x0304 for odd f. */
  def tlsServerHello(f: Int): Array[Byte] = {
    val ext = scala.collection.mutable.ArrayBuffer[Byte]()
    def e(i: Int): Unit = ext += i.toByte
    def e16(v: Int): Unit = { e(v >> 8); e(v & 0xFF) }
    e16(65281); e16(1); e(0)         // renegotiation_info, empty body
    val alpn = TlsAlpns(f % 3)
    if (alpn != null) {
      val ab = alpn.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      e16(16); e16(ab.length + 3); e16(ab.length + 1); e(ab.length)
      ext ++= ab
    }
    if (f % 2 == 1) { e16(43); e16(2); e16(0x0304) }
    val body = scala.collection.mutable.ArrayBuffer[Byte]()
    def h(i: Int): Unit = body += i.toByte
    def h16(v: Int): Unit = { h(v >> 8); h(v & 0xFF) }
    h16(0x0303)
    (0 until 32).foreach(i => h((f * 37 + i) & 0xFF)) // server random
    h(0)                                              // empty session id
    h16(0x1301 + f % 5)                               // selected cipher
    h(0)                                              // null compression
    h16(ext.length)
    body ++= ext
    val hs = Array[Byte](2, ((body.length >> 16) & 0xFF).toByte,
      ((body.length >> 8) & 0xFF).toByte, (body.length & 0xFF).toByte) ++ body
    Array[Byte](0x16, 3, 3,
      ((hs.length >> 8) & 0xFF).toByte, (hs.length & 0xFF).toByte) ++ hs
  }

  /** One PSH|ACK packet per flow carrying a complete ServerHello
    * record (10.8.0.1:443 → client 10.13.x.y:52000+f). */
  def tlsServerPackets(n: Int): Seq[(Long, Long, Array[Byte])] =
    (0 until n).map { f =>
      val server = Array[Byte](10, 8, 0, 1)
      val client = Array[Byte](10, 13, (f >> 8).toByte, f.toByte)
      (1701600000L + f, 250L, ipv4TcpFrame(server, client, 443, 52000 + f,
        ttl = 60, payload = tlsServerHello(f), seq = 1L, ack = 1L,
        flags = 0x18))
    }

  def ensureTlsServerFile(path: java.nio.file.Path, n: Int): Unit =
    if (!java.nio.file.Files.exists(path))
      writeAtomic(path, file(tlsServerPackets(n)))

  /** One PSH|ACK packet per flow carrying a complete ClientHello record
    * (client 10.7.x.y:50000+f → 10.8.0.1:443). */
  def tlsFlowPackets(n: Int): Seq[(Long, Long, Array[Byte])] =
    (0 until n).map { f =>
      val client = Array[Byte](10, 7, (f >> 8).toByte, f.toByte)
      val dst = Array[Byte](10, 8, 0, 1)
      (1700400000L + f, 250L, ipv4TcpFrame(client, dst, 50000 + f, 443,
        ttl = 61, payload = tlsClientHello(f), seq = 1L, ack = 1L,
        flags = 0x18))
    }

  def ensureTlsFlowFile(path: java.nio.file.Path, n: Int): Unit =
    if (!java.nio.file.Files.exists(path))
      writeAtomic(path, file(tlsFlowPackets(n)))

  /** The same ClientHellos split across 1 + f%3 TCP segments with cuts
    * landing mid-record (so per-packet parsing cannot extract SNI — only
    * the reassembled stream parses), round-robin interleaved across
    * flows like [[httpFlowSegments]]. Client subnet 10.11.x.y keeps the
    * fixtures distinguishable. */
  def tlsFlowSegments(n: Int): Seq[(Long, Long, Array[Byte])] = {
    val perFlow = (0 until n).map { f =>
      val hello = tlsClientHello(f)
      val nSeg = 1 + f % 3
      val base = hello.length / nSeg
      val chunks = (0 until nSeg).map { k =>
        val from = base * k
        val to = if (k == nSeg - 1) hello.length else base * (k + 1)
        java.util.Arrays.copyOfRange(hello, from, to)
      }
      (f, chunks)
    }
    val maxSeg = perFlow.map(_._2.length).max
    var t = 0
    val out = Seq.newBuilder[(Long, Long, Array[Byte])]
    for (k <- 0 until maxSeg; (f, chunks) <- perFlow if k < chunks.length) {
      val seq = chunks.take(k).map(_.length.toLong).sum
      val src = Array[Byte](10, 11, (f >> 8).toByte, f.toByte)
      val dst = Array[Byte](10, 8, 0, 1)
      out += ((1700500000L + t / 40, (t % 40) * 1667L,
        ipv4TcpFrame(src, dst, 52000 + f, 443, ttl = 61,
          payload = chunks(k), seq = seq, flags = 0x18)))
      t += 1
    }
    out.result()
  }

  def ensureTlsSegFile(path: java.nio.file.Path, n: Int): Unit =
    if (!java.nio.file.Files.exists(path))
      writeAtomic(path, file(tlsFlowSegments(n)))

  // ----- X.509 certificate flights (RFC 5280 DER + RFC 5246 §7.4.2) ----

  /** Minimal DER writer: definite lengths only (what certificates use). */
  private def derLen(n: Int): Array[Byte] =
    if (n < 0x80) Array(n.toByte)
    else if (n < 0x100) Array(0x81.toByte, n.toByte)
    else Array(0x82.toByte, (n >> 8).toByte, (n & 0xFF).toByte)
  def derTlv(tag: Int, body: Array[Byte]): Array[Byte] =
    Array(tag.toByte) ++ derLen(body.length) ++ body
  private def derSeq(parts: Array[Byte]*): Array[Byte] =
    derTlv(0x30, parts.flatten.toArray)
  private def derUtf8(s: String): Array[Byte] =
    derTlv(0x0C, s.getBytes("US-ASCII"))
  private def derUtc(s: String): Array[Byte] =
    derTlv(0x17, s.getBytes("US-ASCII"))
  private def derInt(v: Long): Array[Byte] = {
    var bytes = List.empty[Byte]
    var x = v
    do { bytes = (x & 0xFF).toByte :: bytes; x >>= 8 }
    while (x != 0 && x != -1)
    if (v >= 0 && (bytes.head & 0x80) != 0) bytes = 0.toByte :: bytes
    derTlv(0x02, bytes.toArray)
  }
  private val OidCn = Array[Byte](0x06, 3, 0x55, 0x04, 0x03)
  private val OidSan = Array[Byte](0x06, 3, 0x55, 0x1D, 0x11)
  private val OidSha256Rsa = Array[Byte](0x06, 9, 0x2A, 0x86.toByte,
    0x48, 0x86.toByte, 0xF7.toByte, 0x0D, 0x01, 0x01, 0x0B)
  private val OidRsaEnc = Array[Byte](0x06, 9, 0x2A, 0x86.toByte,
    0x48, 0x86.toByte, 0xF7.toByte, 0x0D, 0x01, 0x01, 0x01)
  private val DerNull = Array[Byte](0x05, 0)
  private def derName(cn: String): Array[Byte] =
    derSeq(derTlv(0x31, derSeq(OidCn, derUtf8(cn))))

  /** Certificate-population formulas for server population k (0-4) —
    * the constant oracle and the Python re-derivation both replay
    * these:
    *  - subject CN `www.site{k}.example`
    *  - issuer CN: k = 4 self-signs; otherwise `Example CA {k % 2}`
    *  - serial 4096 + 17k
    *  - validity 2023-01-01 → (k = 3 ? 2024-01-01 EXPIRED vs the
    *    1706M capture clock : 2027-01-01)
    *  - k+1 SAN dNSNames `alt{j}.site{k}.example` */
  def certSubjectCn(k: Int): String = s"www.site$k.example"
  def certIssuerCn(k: Int): String =
    if (k == 4) certSubjectCn(k) else s"Example CA ${k % 2}"
  def certSerial(k: Int): Long = 4096L + 17 * k
  val CertNotBefore = 1672531200L            // 230101000000Z
  def certNotAfter(k: Int): Long =
    if (k == 3) 1704067200L else 1798761600L // 240101000000Z / 270101000000Z
  def certSanCount(k: Int): Int = k + 1

  /** One deterministic X.509 v3 leaf certificate for population k. */
  def certDer(k: Int): Array[Byte] = {
    val notAfterUtc = if (k == 3) "240101000000Z" else "270101000000Z"
    val san = derSeq(OidSan, derTlv(0x04, derSeq(
      (0 to k).map(j =>
        derTlv(0x82, s"alt$j.site$k.example".getBytes("US-ASCII"))): _*)))
    val tbs = derSeq(
      derTlv(0xA0, derInt(2)),               // [0] version v3
      derInt(certSerial(k)),
      derSeq(OidSha256Rsa, DerNull),
      derName(certIssuerCn(k)),
      derSeq(derUtc("230101000000Z"), derUtc(notAfterUtc)),
      derName(certSubjectCn(k)),
      derSeq(derSeq(OidRsaEnc, DerNull),     // SPKI (structural stub key)
        derTlv(0x03, Array[Byte](0) ++
          Array.tabulate[Byte](32)(i => ((k * 31 + i * 7) & 0xFF).toByte))),
      derTlv(0xA3, derSeq(san)))             // [3] extensions
    derSeq(tbs, derSeq(OidSha256Rsa, DerNull),
      derTlv(0x03, Array[Byte](0) ++
        Array.tabulate[Byte](16)(i => ((k * 13 + i) & 0xFF).toByte)))
  }

  /** The TLS 1.2 server flight for session i: ServerHello record +
    * Certificate record (leaf, plus the issuer's CA stub when not
    * self-signed — the parser must take the FIRST cert) +
    * ServerHelloDone record. */
  def tlsCertFlight(i: Int): Array[Byte] = {
    val k = i % 5
    val leaf = certDer(k)
    val chain =
      if (k == 4) be24(leaf.length) ++ leaf // self-signed: chain of one
      else {
        val ca = caCertDer(k % 2)
        be24(leaf.length) ++ leaf ++ be24(ca.length) ++ ca
      }
    val certBody = be24(chain.length) ++ chain
    val certMsg = Array[Byte](11) ++ be24(certBody.length) ++ certBody
    val doneMsg = Array[Byte](14, 0, 0, 0)
    record(tlsServerHello(i % 8).drop(5)) ++ record(certMsg) ++
      record(doneMsg)
  }

  /** A tiny CA certificate (subject = issuer = `Example CA {j}`) riding
    * second in the chain — never the parse target. */
  def caCertDer(j: Int): Array[Byte] = {
    val tbs = derSeq(
      derTlv(0xA0, derInt(2)),
      derInt(900 + j),
      derSeq(OidSha256Rsa, DerNull),
      derName(s"Example CA $j"),
      derSeq(derUtc("200101000000Z"), derUtc("300101000000Z")),
      derName(s"Example CA $j"),
      derSeq(derSeq(OidRsaEnc, DerNull),
        derTlv(0x03, Array[Byte](0) ++
          Array.tabulate[Byte](24)(i => ((j * 5 + i * 3) & 0xFF).toByte))))
    derSeq(tbs, derSeq(OidSha256Rsa, DerNull),
      derTlv(0x03, Array[Byte](0, 1, 2, 3)))
  }

  private def be24(v: Int): Array[Byte] =
    Array(((v >> 16) & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
      (v & 0xFF).toByte)
  private def record(handshake: Array[Byte]): Array[Byte] =
    Array[Byte](0x16, 3, 3) ++ be16(handshake.length) ++ handshake

  /** Certificate-flight capture: session i's server 203.0.113.(31+i%5)
    * sends [[tlsCertFlight]] split across 2 + i%2 TCP segments (the
    * split lands inside the Certificate record — only reassembly sees a
    * parseable flight); a stray client ACK rides along as decoy. */
  def tlsCertPackets(n: Int): Seq[(Long, Long, Array[Byte])] = {
    val out = Seq.newBuilder[(Long, Long, Array[Byte])]
    for (i <- 0 until n) {
      val server = Array[Byte](203.toByte, 0, 113.toByte, (31 + i % 5).toByte)
      val client = Array[Byte](10, 77, (i >> 8).toByte, i.toByte)
      val sp = 40000 + (i % 20000)
      val flight = tlsCertFlight(i)
      val nSeg = 2 + i % 2
      val base = flight.length / nSeg
      for (s <- 0 until nSeg) {
        val from = base * s
        val to = if (s == nSeg - 1) flight.length else base * (s + 1)
        out += ((1706100000L + i, (i % 50) * 831L + s,
          ipv4TcpFrame(server, client, 443, sp, ttl = 60,
            payload = java.util.Arrays.copyOfRange(flight, from, to),
            seq = 1L + from, ack = 1L, flags = 0x18, window = 29200)))
      }
      out += ((1706100000L + i, (i % 50) * 831L + 9,
        ipv4TcpFrame(client, server, sp, 443, ttl = 61,
          payload = Array.emptyByteArray, seq = 1L, ack = 1L + flight.length,
          flags = 0x10, window = 64240)))
    }
    out.result()
  }

  def ensureTlsCertFile(path: java.nio.file.Path, n: Int): Unit =
    if (!java.nio.file.Files.exists(path))
      writeAtomic(path, file(tlsCertPackets(n)))

  // ----- QUIC long headers (RFC 8999 version-invariant layout) ---------

  /** QUIC version wire values per population k = i % 4: v1 (RFC 9000),
    * v2 (RFC 9369), draft-29, and 0 = the server's Version Negotiation
    * packet. */
  def quicVersion(k: Int): Long = k match {
    case 0 => 0x00000001L
    case 1 => 0x6B3343CFL
    case 2 => 0xFF00001DL
    case _ => 0L
  }
  def quicDcidLen(i: Int): Int = 8 + i % 5

  /** One QUIC long-header packet: flags byte (form bit set), 4-byte
    * version, DCID len + DCID, SCID len + SCID, deterministic filler.
    * This is the RFC 8999 invariant prefix — parseable without knowing
    * the version, which is the whole point of the inventory. */
  def quicLongHeader(i: Int): Array[Byte] = {
    val k = i % 4
    val flags = if (k == 3) 0x80 | (i % 0x40) else 0xC0 | ((i % 4) << 4) | 3
    val dcid = Array.tabulate[Byte](quicDcidLen(i))(j => ((i * 7 + j) & 0xFF).toByte)
    val scid = Array.tabulate[Byte](5)(j => ((i * 11 + j) & 0xFF).toByte)
    Array(flags.toByte) ++ be32(quicVersion(k)) ++
      Array(dcid.length.toByte) ++ dcid ++
      Array(scid.length.toByte) ++ scid ++
      Array.tabulate[Byte](40 + i % 60)(j => ((i + j * 3) & 0xFF).toByte)
  }

  /** QUIC capture: client i sends a long-header packet to
    * 198.51.100.44:443 (populations v1/v2/draft-29 by i%4; i%4 == 3 is
    * the SERVER's Version Negotiation reply instead). Decoys that the
    * inventory must exclude: a short-header (1-RTT) packet every 3rd
    * session (form bit clear) and a plain DNS-ish UDP/53 packet every
    * 7th. */
  def quicPackets(n: Int): Seq[(Long, Long, Array[Byte])] = {
    val out = Seq.newBuilder[(Long, Long, Array[Byte])]
    val server = Array[Byte](198.toByte, 51, 100, 44)
    for (i <- 0 until n) {
      val client = Array[Byte](10, 66, (i >> 8).toByte, i.toByte)
      val sp = 50000 + (i % 9000)
      val pkt = quicLongHeader(i)
      if (i % 4 == 3)
        out += ((1706200000L + i, (i % 30) * 619L,
          ipv4UdpFrame(server, client, 443, sp, ttl = 60, payload = pkt)))
      else
        out += ((1706200000L + i, (i % 30) * 619L,
          ipv4UdpFrame(client, server, sp, 443, ttl = 61, payload = pkt)))
      if (i % 3 == 0)
        out += ((1706200000L + i, (i % 30) * 619L + 200,
          ipv4UdpFrame(client, server, sp, 443, ttl = 61,
            payload = Array[Byte](0x41, 1, 2, 3, 4, 5, 6, 7, 8))))
      if (i % 7 == 0)
        out += ((1706200000L + i, (i % 30) * 619L + 400,
          ipv4UdpFrame(client, server, sp, 53, ttl = 61,
            payload = Array.fill[Byte](20)((i % 90).toByte))))
    }
    out.result()
  }

  def ensureQuicFile(path: java.nio.file.Path, n: Int): Unit =
    if (!java.nio.file.Files.exists(path))
      writeAtomic(path, file(quicPackets(n)))

  // ----- QUIC client Initials (RFC 9001/9369 protected, decryptable) ---

  /** The ClientHello inside Initial i rides [[tlsClientHello]](i % 24)
    * — 24 SNI/ALPN/version groups of 4 packets each. */
  def quicInitialFlow(i: Int): Int = i % 24
  def quicInitialVersion(i: Int): Long =
    if (i % 3 == 2) graft.pcap.QuicInitial.V2 else graft.pcap.QuicInitial.V1
  def quicInitialDcid(i: Int): Array[Byte] =
    Array.tabulate[Byte](8 + i % 5)(j => ((i * 13 + j) & 0xFF).toByte)
  def quicInitialToken(i: Int): Array[Byte] =
    if (i % 5 == 0) Array.tabulate[Byte](8)(j => ((i * 17 + j) & 0xFF).toByte)
    else Array.emptyByteArray
  def quicInitialPn(i: Int): Long = (i % 7).toLong

  /** One REAL protected client Initial for session i: CRYPTO carrying
    * the ClientHello (split in two out-of-order frames every 4th
    * session), a PING for odd i, an ACK frame every 8th, PADDING to a
    * 1200-byte plaintext so the datagram honors RFC 9000 §14.1's
    * minimum — all sealed with the version's initial keys derived from
    * the DCID per RFC 9001 §5.2 / RFC 9369 §3.3.1. */
  def quicInitialDatagram(i: Int): Array[Byte] = {
    val ch = tlsClientHello(quicInitialFlow(i)).drop(5) // strip record hdr
    val frames = scala.collection.mutable.ArrayBuffer[Byte]()
    if (i % 2 == 1) frames += 0x01                      // PING
    if (i % 4 == 3) {
      val mid = ch.length / 2
      frames ++= graft.pcap.QuicInitial.cryptoFrame(mid.toLong, ch.drop(mid))
      frames ++= graft.pcap.QuicInitial.cryptoFrame(0L, ch.take(mid))
    } else frames ++= graft.pcap.QuicInitial.cryptoFrame(0L, ch)
    if (i % 8 == 5)                                     // ACK: largest=pn, 0 ranges
      frames ++= Array[Byte](0x02, (i % 7).toByte, 0, 0, 0)
    while (frames.length < 1200) frames += 0x00         // PADDING
    graft.pcap.QuicInitial.seal(quicInitialVersion(i), quicInitialDcid(i),
      Array.tabulate[Byte](4)(j => ((i * 29 + j) & 0xFF).toByte),
      quicInitialToken(i), quicInitialPn(i), 1 + i % 3, frames.toArray)
  }

  /** QUIC-Initial capture: client 10.77.x.y:40000+i sends one real
    * Initial to 198.51.100.77:443 per session. Decoys the SNI query
    * must reject THROUGH the crypto, not just header shape: every 6th
    * session also sends a bit-flipped copy (fails GCM auth), every 4th
    * a short-header 1-RTT packet, every 9th a version-negotiation
    * packet from the server. */
  def quicInitialPackets(n: Int): Seq[(Long, Long, Array[Byte])] = {
    val out = Seq.newBuilder[(Long, Long, Array[Byte])]
    val server = Array[Byte](198.toByte, 51, 100, 77)
    for (i <- 0 until n) {
      val client = Array[Byte](10, 77, (i >> 8).toByte, i.toByte)
      val sp = 40000 + (i % 9000)
      val pkt = quicInitialDatagram(i)
      out += ((1706300000L + i, (i % 40) * 331L,
        ipv4UdpFrame(client, server, sp, 443, ttl = 58, payload = pkt)))
      if (i % 6 == 0) {
        val bad = pkt.clone()
        bad(bad.length - 1) = (bad(bad.length - 1) ^ 0x5A).toByte
        out += ((1706300000L + i, (i % 40) * 331L + 90,
          ipv4UdpFrame(client, server, sp, 443, ttl = 58, payload = bad)))
      }
      if (i % 4 == 0)
        out += ((1706300000L + i, (i % 40) * 331L + 180,
          ipv4UdpFrame(client, server, sp, 443, ttl = 58,
            payload = Array[Byte](0x45, 9, 8, 7, 6, 5, 4, 3, 2, 1, 0,
              1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11))))
      if (i % 9 == 0)
        out += ((1706300000L + i, (i % 40) * 331L + 270,
          ipv4UdpFrame(server, client, 443, sp, ttl = 60,
            payload = Array[Byte](0x80.toByte, 0, 0, 0, 0, 8) ++
              quicInitialDcid(i).take(8) ++ Array[Byte](0) ++
              Array[Byte](0, 0, 0, 1, 0x6B, 0x33, 0x43, 0xCF.toByte))))
    }
    out.result()
  }

  def ensureQuicInitialFile(path: java.nio.file.Path, n: Int): Unit =
    if (!java.nio.file.Files.exists(path))
      writeAtomic(path, file(quicInitialPackets(n)))

  // ----- SMTP envelopes (RFC 5321 command stream) -----------------------

  /** SMTP session rotation for i % 5:
    *  0 = envelope + STARTTLS (compliant),
    *  1 = envelope, never upgrades (cleartext mail),
    *  2 = envelope + AUTH LOGIN with a base64 username (worst case),
    *  3 = EHLO only (no envelope — excluded from the audit),
    *  4 = binary junk on port 25 (decoy). */
  def smtpSender(i: Int): String = s"user$i@corp${i % 7}.example"
  def smtpRcpts(i: Int): Int = 1 + i % 3

  def smtpPackets(n: Int): Seq[(Long, Long, Array[Byte])] = {
    val out = Seq.newBuilder[(Long, Long, Array[Byte])]
    val server = Array[Byte](192.toByte, 0, 2, 55)
    for (i <- 0 until n) {
      val client = Array[Byte](10, 33, (i >> 8).toByte, i.toByte)
      val sp = 40000 + (i % 20000)
      var seq = 1L
      var t = 0
      def send(line: Array[Byte]): Unit = {
        out += ((1706300000L + i, (i % 45) * 733L + t,
          ipv4TcpFrame(client, server, sp, 25, ttl = 61,
            payload = line, seq = seq, ack = 1L, flags = 0x18,
            window = 64240)))
        seq += line.length
        t += 1
      }
      def cmd(s: String): Unit = send((s + "\r\n").getBytes("US-ASCII"))
      val rot = i % 5
      cmd(s"EHLO client$i.example")
      if (rot <= 2) {
        cmd(s"MAIL FROM:<${smtpSender(i)}>")
        for (r <- 0 until smtpRcpts(i))
          cmd(s"RCPT TO:<inbox$r@dest${(i + r) % 4}.example>")
      }
      if (rot == 0) cmd("STARTTLS")
      if (rot == 2) {
        cmd("AUTH LOGIN")
        cmd(java.util.Base64.getEncoder.encodeToString(
          s"user$i".getBytes("US-ASCII")))
      }
      if (rot == 4)
        send(Array.tabulate[Byte](30)(j => (0x80 | ((i + j) % 100)).toByte))
    }
    out.result()
  }

  def ensureSmtpFile(path: java.nio.file.Path, n: Int): Unit =
    if (!java.nio.file.Files.exists(path))
      writeAtomic(path, file(smtpPackets(n)))

  // ----- DGA lookups (algorithmically-generated domains) ----------------

  /** Deterministic "algorithmically generated" SLD for query i: a
    * 13-char base-36 string from a 32-bit LCG seeded by Knuth's
    * multiplicative hash of i. Pure integer arithmetic so the Scala
    * synth, the constant oracle, and the Python re-derivation replay
    * identical strings. */
  def dgaSld(i: Int): String = {
    var x = (i.toLong * 2654435761L) & 0xFFFFFFFFL
    val sb = new StringBuilder
    for (_ <- 0 until 13) {
      val dgt = (x % 36).toInt
      sb += (if (dgt < 10) '0' + dgt else 'a' + dgt - 10).toChar
      x = (x * 48271 + 11) & 0xFFFFFFFFL
    }
    sb.toString
  }

  /** DNS query/response capture with two client populations:
    *  - benign (i%4 in {0,1}): client 10.50.0.(i%20) asks
    *    www.corp(i%9).example; NXDOMAIN only at the i%11 == 0 typo rate
    *  - DGA (i%4 in {2,3}): client 10.51.0.(i%10) asks dgaSld(i).net;
    *    NXDOMAIN unless i%7 == 0 (the one registered C2 hit; 7 is
    *    coprime with the client modulus 10, so EVERY DGA client sees
    *    both hits and misses — no degenerate all-hit client)
    * Resolver 192.0.2.99; responses mirror the query id/qname. */
  def dgaPackets(n: Int): Seq[(Long, Long, Array[Byte])] = {
    val out = Seq.newBuilder[(Long, Long, Array[Byte])]
    val resolver = Array[Byte](192.toByte, 0, 2, 99)
    for (i <- 0 until n) {
      val benign = i % 4 <= 1
      val client =
        if (benign) Array[Byte](10, 50, 0, (i % 20).toByte)
        else Array[Byte](10, 51, 0, (i % 10).toByte)
      val qname =
        if (benign) s"www.corp${i % 9}.example" else s"${dgaSld(i)}.net"
      val nx =
        if (benign) i % 11 == 0 else i % 7 != 0
      val sp = 30000 + (i % 25000)
      out += ((1706400000L + i, (i % 40) * 577L,
        ipv4UdpFrame(client, resolver, sp, 53, ttl = 61,
          payload = dnsQuery(i & 0xFFFF, qname))))
      out += ((1706400000L + i, (i % 40) * 577L + 250,
        ipv4UdpFrame(resolver, client, 53, sp, ttl = 60,
          payload = dnsResponse(i & 0xFFFF, qname,
            rcode = if (nx) 3 else 0))))
    }
    out.result()
  }

  def ensureDgaFile(path: java.nio.file.Path, n: Int): Unit =
    if (!java.nio.file.Files.exists(path))
      writeAtomic(path, file(dgaPackets(n)))

  /** Ethernet + IPv4 + ICMP frame (8-byte header: type, code, checksum,
    * then the echo id/seq words). */
  def ipv4IcmpFrame(src: Array[Byte], dst: Array[Byte], ttl: Int,
      icmpType: Int, code: Int, echoId: Int = 0, echoSeq: Int = 0,
      payload: Array[Byte] = Array.emptyByteArray): Array[Byte] = {
    val icmp = Array[Byte](icmpType.toByte, code.toByte, 0, 0) ++
      be16(echoId) ++ be16(echoSeq) ++ payload
    val totalLen = 20 + icmp.length
    val ip = Array[Byte](0x45, 0) ++ be16(totalLen) ++
      Array[Byte](0, 0, 0, 0) ++
      Array[Byte](ttl.toByte, 1, 0, 0) ++ src ++ dst
    Array.fill[Byte](12)(0x02) ++ be16(0x0800) ++ ip ++ icmp
  }

  /** Deterministic ICMP capture: n echo request/reply pairs
    * (10.12.0.f ↔ 10.9.0.1, reply after 200 + 11*f µs) plus a
    * destination-unreachable (type 3, code (f/5)%4) back to every fifth
    * client. */
  def icmpPackets(n: Int): Seq[(Long, Long, Array[Byte])] = {
    val server = Array[Byte](10, 9, 0, 1)
    val out = Seq.newBuilder[(Long, Long, Array[Byte])]
    for (f <- 0 until n) {
      val client = Array[Byte](10, 12, (f >> 8).toByte, f.toByte)
      val sec = 1700600000L + f
      val rtt = 200L + 11L * f
      out += ((sec, 100L, ipv4IcmpFrame(client, server, ttl = 63,
        icmpType = 8, code = 0, echoId = f, echoSeq = 1)))
      out += ((sec, 100L + rtt, ipv4IcmpFrame(server, client, ttl = 60,
        icmpType = 0, code = 0, echoId = f, echoSeq = 1)))
      if (f % 5 == 0)
        out += ((sec, 9000L, ipv4IcmpFrame(server, client, ttl = 60,
          icmpType = 3, code = (f / 5) % 4)))
    }
    out.result()
  }

  def ensureIcmpFile(path: java.nio.file.Path, n: Int): Unit =
    if (!java.nio.file.Files.exists(path))
      writeAtomic(path, file(icmpPackets(n)))

  /** Ethernet + IPv6 + ICMPv6 frame (RFC 4443 layout: type, code,
    * checksum, then the 4-byte message body word — echo id/seq for
    * 128/129, reserved for the NDP types). NH = 58 directly (no
    * extension chain). */
  def ipv6IcmpFrame(src: Array[Byte], dst: Array[Byte], hopLimit: Int,
      icmpType: Int, code: Int, echoId: Int = 0, echoSeq: Int = 0)
      : Array[Byte] = {
    val icmp = Array[Byte](icmpType.toByte, code.toByte, 0, 0) ++
      be16(echoId) ++ be16(echoSeq)
    val ip6 = Array[Byte](0x60, 0, 0, 0) ++ be16(icmp.length) ++
      Array[Byte](58, hopLimit.toByte) ++ src ++ dst
    Array.fill[Byte](12)(0x02) ++ be16(0x86DD.toShort) ++ ip6 ++ icmp
  }

  /** Deterministic ICMPv6 capture (RFC 4443 + RFC 4861 NDP) — the v6
    * twin of [[icmpPackets]] plus the NDP chatter every real v6
    * segment carries: n echo request (128) / reply (129) pairs
    * (client 2001:db8:c::i ↔ server 2001:db8:9::1); every 4th client
    * a neighbor solicitation (135) / advertisement (136) pair; every
    * 7th a time-exceeded (3) and every 9th a destination-unreachable
    * (1, code (i/9) mod 5) from the router 2001:db8:ff::1. Pure
    * function of i. */
  def icmpv6Packets(n: Int): Seq[(Long, Long, Array[Byte])] = {
    def v6(prefix: Seq[Int], tail: Int): Array[Byte] =
      Array.tabulate[Byte](16)(k =>
        (prefix ++ Seq.fill(14 - prefix.size)(0) ++
          Seq(tail >> 8, tail & 255))(k).toByte)
    val server = v6(Seq(0x20, 0x01, 0x0d, 0xb8, 0, 9), 1)
    val router = v6(Seq(0x20, 0x01, 0x0d, 0xb8, 0, 0xff), 1)
    val out = Seq.newBuilder[(Long, Long, Array[Byte])]
    for (i <- 0 until n) {
      val client = v6(Seq(0x20, 0x01, 0x0d, 0xb8, 0, 0xc), i)
      val sec = 1701300000L + i
      val rtt = 150L + 13L * i
      out += ((sec, 100L, ipv6IcmpFrame(client, server, hopLimit = 63,
        icmpType = 128, code = 0, echoId = i, echoSeq = 1)))
      out += ((sec, 100L + rtt, ipv6IcmpFrame(server, client,
        hopLimit = 60, icmpType = 129, code = 0, echoId = i, echoSeq = 1)))
      if (i % 4 == 0) {
        out += ((sec, 5000L, ipv6IcmpFrame(client, server, hopLimit = 255,
          icmpType = 135, code = 0)))
        out += ((sec, 5200L, ipv6IcmpFrame(server, client, hopLimit = 255,
          icmpType = 136, code = 0)))
      }
      if (i % 7 == 0)
        out += ((sec, 8000L, ipv6IcmpFrame(router, client, hopLimit = 64,
          icmpType = 3, code = 0)))
      if (i % 9 == 0)
        out += ((sec, 9000L, ipv6IcmpFrame(router, client, hopLimit = 64,
          icmpType = 1, code = (i / 9) % 5)))
    }
    out.result()
  }

  def ensureIcmpV6File(path: java.nio.file.Path, n: Int): Unit =
    if (!java.nio.file.Files.exists(path))
      writeAtomic(path, file(icmpv6Packets(n)))

  /** Deterministic receive-window evolution capture: n flows of 6 ACK
    * packets whose window is 1000 + 100*f + 10*k, except packet k=3 of
    * every fourth flow advertises a ZERO window — the stall signal
    * pcap_tcp_zero_window isolates. */
  def windowPackets(n: Int): Seq[(Long, Long, Array[Byte])] = {
    val server = Array[Byte](10, 9, 0, 1)
    val out = Seq.newBuilder[(Long, Long, Array[Byte])]
    for (f <- 0 until n; k <- 0 until 6) {
      val client = Array[Byte](10, 13, (f >> 8).toByte, f.toByte)
      val w = if (k == 3 && f % 4 == 0) 0 else 1000 + 100 * f + 10 * k
      out += ((1700700000L + f, 100L * (k + 1),
        ipv4TcpFrame(client, server, 48000 + f, 443, ttl = 63,
          payload = Array.emptyByteArray, seq = 100L * k, ack = 1L,
          flags = 0x10, window = w)))
    }
    out.result()
  }

  def ensureWindowFile(path: java.nio.file.Path, n: Int): Unit =
    if (!java.nio.file.Files.exists(path))
      writeAtomic(path, file(windowPackets(n)))

  /** Deterministic HTTP response for flow f: 404 for every seventh flow
    * (f ≡ 6 mod 7), else 200 with a small body. */
  def httpResponseBytes(f: Int): Array[Byte] = {
    val s =
      if (f % 7 == 6)
        "HTTP/1.1 404 Not Found\r\nContent-Length: 9\r\n\r\nnot found"
      else {
        val body = s"ok-$f"
        s"HTTP/1.1 200 OK\r\nContent-Length: ${body.length}\r\n\r\n$body"
      }
    s.getBytes("US-ASCII")
  }

  /** Bidirectional HTTP conversation capture: per flow, the request
    * (client 10.14.x.y:42000+f → 10.4.0.1:80) split across 1 + f%2
    * segments and the response split across 1 + f%3 segments, all
    * interleaved round-robin across flows AND directions — so only
    * per-direction seq-ordered reassembly recovers either side. */
  def httpRrSegments(n: Int): Seq[(Long, Long, Array[Byte])] =
    rrSegments(n, httpResponseBytes)

  /** Shared request/response interleaver behind [[httpRrSegments]] and
    * [[httpCorpusSegments]] — only the response synthesis differs. */
  private def rrSegments(n: Int,
      respBytes: Int => Array[Byte]): Seq[(Long, Long, Array[Byte])] = {
    def chunksOf(bytes: Array[Byte], nSeg: Int): Seq[Array[Byte]] = {
      val base = bytes.length / nSeg
      (0 until nSeg).map { k =>
        val to = if (k == nSeg - 1) bytes.length else base * (k + 1)
        java.util.Arrays.copyOfRange(bytes, base * k, to)
      }
    }
    val server = Array[Byte](10, 4, 0, 1)
    val perFlow = (0 until n).map { f =>
      val client = Array[Byte](10, 14, (f >> 8).toByte, f.toByte)
      val req = chunksOf(httpRequestBytes(f), 1 + f % 2).map((true, _))
      val rsp = chunksOf(respBytes(f), 1 + f % 3).map((false, _))
      (f, client, req ++ rsp)
    }
    val maxSeg = perFlow.map(_._3.length).max
    var t = 0
    val out = Seq.newBuilder[(Long, Long, Array[Byte])]
    for (k <- 0 until maxSeg; (f, client, segs) <- perFlow
         if k < segs.length) {
      val (isReq, payload) = segs(k)
      val dirSegs = segs.take(k).filter(_._1 == isReq)
      val seq = dirSegs.map(_._2.length.toLong).sum
      val frame =
        if (isReq)
          ipv4TcpFrame(client, server, 42000 + f, 80, ttl = 62,
            payload = payload, seq = seq, flags = 0x18)
        else
          ipv4TcpFrame(server, client, 80, 42000 + f, ttl = 60,
            payload = payload, seq = seq, flags = 0x18)
      out += ((1700800000L + t / 40, (t % 40) * 1667L, frame))
      t += 1
    }
    out.result()
  }

  def ensureHttpRrFile(path: java.nio.file.Path, n: Int): Unit =
    if (!java.nio.file.Files.exists(path))
      writeAtomic(path, file(httpRrSegments(n)))

  /** Response body for the pcap→corpus bridge capture. Three regimes so
    * the downstream gate + dedup have real work: every seventh flow a
    * sub-gate junk body (3 tokens — fails the min-length gate), every
    * fifth (junk wins the overlap) a shared boilerplate paragraph —
    * the exact-duplicate group the dedup stage must collapse — and
    * otherwise unique deterministic text (24 distinct tokens). */
  def corpusBody(f: Int): String =
    if (f % 7 == 6) "service temporarily unavailable"
    else if (f % 5 == 4)
      "please read these standard terms of service and privacy policy " +
        "notes before continuing to use this free public website thank " +
        "you kindly for visiting today"
    else
      s"doc $f " + (0 until 22).map(k => s"w${(f * 31 + k * 7) % 97}")
        .mkString(" ")

  /** Response bytes for the corpus bridge, in the three framings real
    * HTTP traffic actually uses — the de-framing axis is independent of
    * the content axis ([[corpusBody]]), so every regime appears under
    * every framing:
    *   - f % 3 == 0: `Content-Length` framing, with a PIPELINED second
    *     response on the same keep-alive stream after the body — naive
    *     "everything after the blank line" extraction would swallow it;
    *   - f % 3 == 1: `Transfer-Encoding: chunked` (11-byte chunks +
    *     0-terminator) — chunk-size lines are framing, not payload;
    *   - f % 3 == 2: `Content-Encoding: gzip` with the gzip member's
    *     length as Content-Length — compressed bytes are not text.
    * Correct recovery of [[corpusBody]] therefore requires real RFC
    * 9112 §6 framing + gzip decode, which the bridge's gate
    * ([[graft.functions.HttpConversation.gate]], via
    * [[graft.functions.HttpParse.deframe]]) does once per conversation. */
  def httpCorpusResponseBytes(f: Int): Array[Byte] = {
    val body = corpusBody(f).getBytes("US-ASCII")
    (f % 3) match {
      case 0 =>
        val pipelined =
          "HTTP/1.1 204 No Content\r\nContent-Length: 0\r\n\r\n"
        (s"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n" +
          s"Content-Length: ${body.length}\r\n\r\n").getBytes("US-ASCII") ++
          body ++ pipelined.getBytes("US-ASCII")
      case 1 =>
        val out = new java.io.ByteArrayOutputStream()
        out.write(("HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n" +
          "Transfer-Encoding: chunked\r\n\r\n").getBytes("US-ASCII"))
        body.grouped(11).foreach { chunk =>
          out.write(f"${chunk.length}%x\r\n".getBytes("US-ASCII"))
          out.write(chunk)
          out.write("\r\n".getBytes("US-ASCII"))
        }
        out.write("0\r\n\r\n".getBytes("US-ASCII"))
        out.toByteArray
      case _ =>
        val gzOut = new java.io.ByteArrayOutputStream()
        val gz = new java.util.zip.GZIPOutputStream(gzOut)
        gz.write(body); gz.close()
        val gzBytes = gzOut.toByteArray
        (s"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n" +
          s"Content-Encoding: gzip\r\n" +
          s"Content-Length: ${gzBytes.length}\r\n\r\n").getBytes("US-ASCII") ++
          gzBytes
    }
  }

  /** The corpus-bridge capture: same interleaved request/response
    * framing as [[httpRrSegments]], but responses carry [[corpusBody]]
    * text documents (split mid-body across 1 + f%3 segments — only
    * reassembly recovers the text). */
  def httpCorpusSegments(n: Int): Seq[(Long, Long, Array[Byte])] =
    rrSegments(n, httpCorpusResponseBytes)

  /** Ethernet + IPv4 FRAGMENT frame: `chunk` is the slice of the
    * original IP payload starting at byte `fragOff` (8-aligned), MF set
    * on every fragment but the last (RFC 791 §3.2). */
  def ipv4FragFrame(src: Array[Byte], dst: Array[Byte], ttl: Int,
      ipId: Int, fragOff: Int, mf: Boolean,
      chunk: Array[Byte]): Array[Byte] = {
    require(fragOff % 8 == 0, "fragment offsets are 8-octet units")
    val totalLen = 20 + chunk.length
    val flagsFrag = (if (mf) 0x2000 else 0) | (fragOff / 8)
    val ip = Array[Byte](0x45, 0) ++ be16(totalLen) ++ be16(ipId) ++
      be16(flagsFrag) ++ Array[Byte](ttl.toByte, 17, 0, 0) ++ src ++ dst
    Array.fill[Byte](12)(0x02) ++ be16(0x0800) ++ ip ++ chunk
  }

  /** Fragmented-DNS capture: n UDP DNS responses, each split into 2-3
    * IPv4 fragments with 8-aligned cuts through the datagram (the
    * second cut lands mid-DNS-message, so only reassembly parses);
    * every fifth message's fragments arrive OUT OF ORDER. Everything is
    * a pure function of i — rcode NXDOMAIN when i % 7 == 0, ip_id
    * 0x3000 + i, client 10.21.(i>>8).(i&255). */
  def fragmentedDnsSegments(n: Int): Seq[(Long, Long, Array[Byte])] = {
    val server = Array[Byte](10, 9, 0, 1)
    val out = Seq.newBuilder[(Long, Long, Array[Byte])]
    var t = 0
    for (i <- 0 until n) {
      val client = Array[Byte](10, 21, (i >> 8).toByte, i.toByte)
      val dns = dnsResponse(0x5000 + i, s"frag$i.data.example.com",
        qtype = 1, rcode = if (i % 7 == 0) 3 else 0)
      val pseudo = server ++ client ++ Array[Byte](0, 17)
      val udp = udpSegment(53, 41000 + i, dns, pseudo, withChecksum = true)
      val nFrag = 2 + i % 2
      val cuts =
        if (nFrag == 2) Seq(0, 24, udp.length)
        else Seq(0, 24, 40, udp.length)
      require(udp.length > cuts(nFrag - 1), s"datagram too short: $i")
      val frames = (0 until nFrag).map { k =>
        val chunk = java.util.Arrays.copyOfRange(udp, cuts(k), cuts(k + 1))
        ipv4FragFrame(server, client, ttl = 60, ipId = 0x3000 + i,
          fragOff = cuts(k), mf = k < nFrag - 1, chunk)
      }
      val ordered = if (i % 5 == 0) frames.reverse else frames
      ordered.foreach { fr =>
        out += ((1700900000L + t / 40, (t % 40) * 1009L, fr))
        t += 1
      }
    }
    out.result()
  }

  def ensureFragFile(path: java.nio.file.Path, n: Int): Unit =
    if (!java.nio.file.Files.exists(path))
      writeAtomic(path, file(fragmentedDnsSegments(n)))

  /** Ethernet + IPv6 base header + Fragment extension header frame:
    * `chunk` is the slice of the fragmentable part starting at byte
    * `fragOff` (8-aligned), M set on every fragment but the last
    * (RFC 8200 §4.5: 13-bit offset in 8-octet units at bits 15..3,
    * M flag at bit 0, 32-bit identification). */
  def ipv6FragFrame(src: Array[Byte], dst: Array[Byte], hopLimit: Int,
      fragId: Int, fragOff: Int, m: Boolean,
      chunk: Array[Byte]): Array[Byte] = {
    require(fragOff % 8 == 0, "fragment offsets are 8-octet units")
    val offField = fragOff | (if (m) 1 else 0) // low 3 bits of off are 0
    val fragHdr = Array[Byte](17, 0) ++ be16(offField) ++ be32(fragId)
    val payloadLen = 8 + chunk.length
    val ip6 = Array[Byte](0x60, 0, 0, 0) ++ be16(payloadLen) ++
      Array[Byte](44, hopLimit.toByte) ++ src ++ dst
    Array.fill[Byte](12)(0x02) ++ be16(0x86DD.toShort) ++ ip6 ++
      fragHdr ++ chunk
  }

  /** Fragmented-DNS-over-IPv6 capture: the v6 twin of
    * [[fragmentedDnsSegments]] — n UDP DNS responses, each split into
    * 2-3 fragments via the Fragment extension header with 8-aligned
    * cuts through the datagram (the second cut lands mid-DNS-message,
    * so only reassembly parses); every fifth message's fragments
    * arrive OUT OF ORDER. Pure function of i — rcode NXDOMAIN when
    * i % 7 == 0, 32-bit frag id 0x70000 + i (exercising the id width
    * v4's 16-bit ip_id cannot), client 2001:db8:1::i. */
  def fragmentedDnsV6Segments(n: Int): Seq[(Long, Long, Array[Byte])] = {
    val server = Array.tabulate[Byte](16)(k =>
      (Seq(0x20, 0x01, 0x0d, 0xb8) ++ Seq.fill(11)(0) ++ Seq(0x53))(k)
        .toByte)
    val out = Seq.newBuilder[(Long, Long, Array[Byte])]
    var t = 0
    for (i <- 0 until n) {
      val client = Array.tabulate[Byte](16)(k =>
        (Seq(0x20, 0x01, 0x0d, 0xb8, 0, 1) ++ Seq.fill(8)(0) ++
          Seq(i >> 8, i & 255))(k).toByte)
      val dns = dnsResponse(0x6000 + i, s"frag6-$i.data.example.com",
        qtype = 28, rcode = if (i % 7 == 0) 3 else 0)
      // v6 pseudo-header (RFC 8200 §8.1): 128-bit addrs + 32-bit UDP
      // length + zeros + NH; udpSegment appends be16(udpLen) after the
      // prefix, and the one's-complement sum is order-free over
      // 16-bit-aligned words, so the prefix carries the NH word and
      // the length's high half
      val pseudo = server ++ client ++ Array[Byte](0, 17, 0, 0)
      val udp = udpSegment(53, 43000 + i, dns, pseudo, withChecksum = true)
      val nFrag = 2 + i % 2
      val cuts =
        if (nFrag == 2) Seq(0, 24, udp.length)
        else Seq(0, 24, 40, udp.length)
      require(udp.length > cuts(nFrag - 1), s"datagram too short: $i")
      val frames = (0 until nFrag).map { k =>
        val chunk = java.util.Arrays.copyOfRange(udp, cuts(k), cuts(k + 1))
        ipv6FragFrame(server, client, hopLimit = 60, fragId = 0x70000 + i,
          fragOff = cuts(k), m = k < nFrag - 1, chunk)
      }
      val ordered = if (i % 5 == 0) frames.reverse else frames
      ordered.foreach { fr =>
        out += ((1700950000L + t / 40, (t % 40) * 1009L, fr))
        t += 1
      }
    }
    out.result()
  }

  def ensureFragV6File(path: java.nio.file.Path, n: Int): Unit =
    if (!java.nio.file.Files.exists(path))
      writeAtomic(path, file(fragmentedDnsV6Segments(n)))

  /** VXLAN-encapsulated DNS capture (RFC 7348): n outer
    * 10.30.x.y:49152+i → 10.40.0.1:4789 UDP frames, each wrapping an
    * 8-byte VXLAN header (I flag set, vni = 100 + i mod 7) and an
    * inner Ethernet+IPv4+UDP DNS response 10.32.0.1:53 →
    * 10.31.x.y:52000+i (rcode NXDOMAIN when i mod 9 == 0). Pure
    * function of i — decap analytics over it are constants. */
  def vxlanPackets(n: Int): Seq[(Long, Long, Array[Byte])] =
    (0 until n).map { i =>
      val innerServer = Array[Byte](10, 32, 0, 1)
      val innerClient = Array[Byte](10, 31, (i >> 8).toByte, i.toByte)
      val dns = dnsResponse(0x4000 + i, s"vx$i.tunnel.example.com",
        qtype = 1, rcode = if (i % 9 == 0) 3 else 0)
      val inner = ipv4UdpFrame(innerServer, innerClient, 53, 52000 + i,
        ttl = 59, payload = dns)
      val vni = 100 + i % 7
      val vxlan = Array[Byte](0x08, 0, 0, 0,
        (vni >> 16).toByte, (vni >> 8).toByte, vni.toByte, 0) ++ inner
      val outerSrc = Array[Byte](10, 30, (i >> 8).toByte, i.toByte)
      val outerDst = Array[Byte](10, 40, 0, 1)
      (1701000000L + i / 40, (i % 40) * 997L,
        ipv4UdpFrame(outerSrc, outerDst, 49152 + (i % 1000), 4789,
          ttl = 64, payload = vxlan))
    }

  def ensureVxlanFile(path: java.nio.file.Path, n: Int): Unit =
    if (!java.nio.file.Files.exists(path))
      writeAtomic(path, file(vxlanPackets(n)))

  /** GENEVE overlay capture (RFC 8926): n outer UDP:6081 packets, each
    * wrapping an inner Ethernet DNS response from 10.34.0.1:53 to
    * 10.33.x.y (qname `gv$i.overlay.example.com`, NXDOMAIN when
    * i mod 8 == 0), vni = 200 + i mod 5. The option walk is exercised
    * in-fixture: i mod 3 == 0 carries no options, 1 carries one
    * 4-byte-body option, 2 carries two options (4- and 8-byte bodies,
    * the second critical, C flag set). Pure function of i. */
  def genevePackets(n: Int): Seq[(Long, Long, Array[Byte])] =
    (0 until n).map { i =>
      val innerServer = Array[Byte](10, 34, 0, 1)
      val innerClient = Array[Byte](10, 33, (i >> 8).toByte, i.toByte)
      val dns = dnsResponse(0x4800 + i, s"gv$i.overlay.example.com",
        qtype = 1, rcode = if (i % 8 == 0) 3 else 0)
      val inner = ipv4UdpFrame(innerServer, innerClient, 53, 51000 + i,
        ttl = 58, payload = dns)
      // option TLV: class(2) type(1) rsvd|len(1) + len*4 data bytes
      def opt(cls: Int, typ: Int, data: Array[Byte]): Array[Byte] =
        be16(cls) ++ Array[Byte](typ.toByte, (data.length / 4).toByte) ++ data
      val opts: Array[Byte] = (i % 3) match {
        case 0 => Array.emptyByteArray
        case 1 => opt(0x0103, 0x01, be32(0xC0FF0000L + i))
        case _ => opt(0x0103, 0x01, be32(0xC0FF0000L + i)) ++
          opt(0x0022, 0x80, be32(0xABCD0000L + i) ++ be32(i.toLong))
      }
      val critical = i % 3 == 2
      val vni = 200 + i % 5
      val geneve = Array[Byte](
        (opts.length / 4).toByte,                 // ver 0 | opt words
        (if (critical) 0x40 else 0x00).toByte) ++ // O=0, C
        be16(0x6558) ++                           // Trans Ether Bridging
        Array[Byte]((vni >> 16).toByte, (vni >> 8).toByte, vni.toByte, 0) ++
        opts ++ inner
      val outerSrc = Array[Byte](10, 35, (i >> 8).toByte, i.toByte)
      val outerDst = Array[Byte](10, 36, 0, 1)
      (1706000000L + i / 40, (i % 40) * 991L,
        ipv4UdpFrame(outerSrc, outerDst, 49152 + (i % 1000), 6081,
          ttl = 63, payload = geneve))
    }

  def ensureGeneveFile(path: java.nio.file.Path, n: Int): Unit =
    if (!java.nio.file.Files.exists(path))
      writeAtomic(path, file(genevePackets(n)))

  /** 802.1Q-tagged office capture: n frames, client 10.20.x.y:53000+i →
    * 10.21.0.1:53 DNS query `vlan$i.office.example.com`. Tagged frames
    * carry TCI (pcp = i mod 8, vid = 100 + i mod 6); every i mod 10 == 7
    * frame is UNTAGGED (plain Ethernet) so NULL handling is exercised in
    * the same capture. Pure function of i. */
  def vlanPackets(n: Int): Seq[(Long, Long, Array[Byte])] =
    (0 until n).map { i =>
      val client = Array[Byte](10, 20, (i >> 8).toByte, i.toByte)
      val server = Array[Byte](10, 21, 0, 1)
      val dns = dnsQuery(0x2000 + i, s"vlan$i.office.example.com")
      val plain = ipv4UdpFrame(client, server, 53000 + (i % 2000), 53,
        ttl = 64, payload = dns)
      val frame =
        if (i % 10 == 7) plain
        else {
          val tci = ((i % 8) << 13) | (100 + i % 6)
          plain.take(12) ++ be16(0x8100) ++ be16(tci) ++ plain.drop(12)
        }
      (1702000000L + i / 40, (i % 40) * 1009L, frame)
    }

  def ensureVlanFile(path: java.nio.file.Path, n: Int): Unit =
    if (!java.nio.file.Files.exists(path))
      writeAtomic(path, file(vlanPackets(n)))

  /** 802.1ad QinQ metro capture: n frames, client 10.22.x.y:54000+i →
    * 10.23.0.1:53 DNS query `qinq$i.metro.example.com`. Double-tagged
    * frames carry an 0x88A8 service tag (pcp = i mod 8,
    * vid = 200 + i mod 4) over an 0x8100 customer tag
    * (vid = 300 + i mod 9); every i mod 12 == 5 frame carries only a
    * single 0x8100 tag (vid = 200 + i mod 4) so the inner-tag column's
    * NULL path is exercised in the same capture. Pure function of i. */
  def qinqPackets(n: Int): Seq[(Long, Long, Array[Byte])] =
    (0 until n).map { i =>
      val client = Array[Byte](10, 22, (i >> 8).toByte, i.toByte)
      val server = Array[Byte](10, 23, 0, 1)
      val dns = dnsQuery(0x3800 + i, s"qinq$i.metro.example.com")
      val plain = ipv4UdpFrame(client, server, 54000 + (i % 2000), 53,
        ttl = 64, payload = dns)
      val sTci = ((i % 8) << 13) | (200 + i % 4)
      val frame =
        if (i % 12 == 5)
          plain.take(12) ++ be16(0x8100) ++ be16(sTci) ++ plain.drop(12)
        else {
          val cTci = 300 + i % 9
          plain.take(12) ++ be16(0x88A8) ++ be16(sTci) ++
            be16(0x8100) ++ be16(cTci) ++ plain.drop(12)
        }
      (1704000000L + i / 40, (i % 40) * 1013L, frame)
    }

  def ensureQinqFile(path: java.nio.file.Path, n: Int): Unit =
    if (!java.nio.file.Files.exists(path))
      writeAtomic(path, file(qinqPackets(n)))

  /** MPLS carrier capture (RFC 3032): n frames, client 10.24.x.y:
    * 55000+i → 10.25.0.1:53 DNS query `mpls$i.core.example.com`,
    * the IP packet wrapped in a label stack of depth 1 + i mod 3
    * (labels outermost-first 16000 + i mod 5, 17000 + i mod 4,
    * 18000 + i mod 3 as depth allows; TC = i mod 8 on the outermost
    * entry, TTL 64 - d, bottom-of-stack bit on the last). Every
    * i mod 10 == 3 frame is plain Ethernet (no stack — the column's
    * NULL path); every i mod 15 == 4 stacked frame uses ethertype
    * 0x8848 (multicast) instead of 0x8847. Pure function of i. */
  def mplsPackets(n: Int): Seq[(Long, Long, Array[Byte])] =
    (0 until n).map { i =>
      val client = Array[Byte](10, 24, (i >> 8).toByte, i.toByte)
      val server = Array[Byte](10, 25, 0, 1)
      val dns = dnsQuery(0x5200 + i, s"mpls$i.core.example.com")
      val plain = ipv4UdpFrame(client, server, 55000 + (i % 2000), 53,
        ttl = 64, payload = dns)
      val frame =
        if (i % 10 == 3) plain
        else {
          val depth = 1 + i % 3
          val labels = Seq(16000 + i % 5, 17000 + i % 4, 18000 + i % 3)
            .take(depth)
          val stack = labels.zipWithIndex.flatMap { case (lbl, d) =>
            val bos = if (d == depth - 1) 1 else 0
            val tc = if (d == 0) i % 8 else 0
            be32((lbl.toLong << 12) | (tc << 9) | (bos << 8) | (64 - d))
          }.toArray
          val et = if (i % 15 == 4) 0x8848 else 0x8847
          // the label stack REPLACES the ethertype (the IP packet
          // follows the stack directly, no inner 0x0800)
          plain.take(12) ++ be16(et) ++ stack ++ plain.drop(14)
        }
      (1708000000L + i / 40, (i % 40) * 1019L, frame)
    }

  def ensureMplsFile(path: java.nio.file.Path, n: Int): Unit =
    if (!java.nio.file.Files.exists(path))
      writeAtomic(path, file(mplsPackets(n)))

  /** RTP media capture (RFC 3550): four 8 kHz voice streams
    * (ssrc = 1000000 + s, pt 0/8 by stream parity) of nominally
    * `nPerStream` 20 ms packets each to 10.61.0.1:40000. Packet j of
    * stream s is LOST when (s*31 + j) mod 17 == 0; delivered packets
    * carry seq 7000 + j, rtp_ts 160*j, and arrive at
    * 20000*j + ((s*7 + j*j) mod 4000) µs — nominal pacing plus
    * deterministic delay noise, so per-stream loss and interarrival
    * jitter are pure functions of (s, j). */
  def rtpPackets(nPerStream: Int): Seq[(Long, Long, Array[Byte])] =
    for {
      s <- 0 until 4
      j <- 0 until nPerStream
      if (s * 31 + j) % 17 != 0
    } yield {
      val noise = (s * 7 + j * j) % 4000
      val t = 20000L * j + noise
      val rtp = Array[Byte](0x80.toByte,
        (if (s % 2 == 0) 0 else 8).toByte) ++
        be16(7000 + j) ++ be32(160L * j) ++ be32(1000000L + s) ++
        Array.fill[Byte](20)(0xEE.toByte)
      val frame = ipv4UdpFrame(Array[Byte](10, 60, 0, (10 + s).toByte),
        Array[Byte](10, 61, 0, 1), 50000 + s, 40000, ttl = 64,
        payload = rtp)
      (1703000000L + t / 1000000, t % 1000000, frame)
    }

  def ensureRtpFile(path: java.nio.file.Path, nPerStream: Int): Unit =
    if (!java.nio.file.Files.exists(path))
      writeAtomic(path, file(rtpPackets(nPerStream)))

  /** RTP voice capture with REAL compressed-audio payloads — the
    * RFC 3551 audio trio: streams 0-3 to 10.63.0.1:40002 carry G.711
    * (even = PCMU pt 0, odd = PCMA pt 8; packet j of stream s = 40
    * codeword bytes b(s,j,k) = (s*131 + j*47 + k*37) mod 256), and
    * stream 4 carries DVI4 (pt 5, IMA ADPCM): a 4-byte state header
    * per packet (int16 BE predictor ((j*311) mod 65536)-32768, index
    * j mod 89, reserved 0) + 40 nibble bytes (j*53 + k*29) mod 256,
    * HIGH nibble first per the RFC (the opposite of WAV IMA's
    * low-first packing). ssrc = 3000000 + s. Pure functions of
    * (s, j, k), so an oracle derives every sample in closed form —
    * the DVI4 branch by the same recursive state walk the ADPCM WAV
    * oracle runs. */
  def rtpAudioPackets(nPerStream: Int): Seq[(Long, Long, Array[Byte])] =
    for {
      s <- 0 until 5
      j <- 0 until nPerStream
    } yield {
      val (pt, body) =
        if (s < 4) {
          (if (s % 2 == 0) 0 else 8,
            Array.tabulate(40)(k =>
              ((s * 131 + j * 47 + k * 37) % 256).toByte))
        } else {
          val pred = ((j * 311) % 65536) - 32768
          (5, be16(pred & 0xFFFF) ++ Array[Byte]((j % 89).toByte, 0) ++
            Array.tabulate(40)(k => ((j * 53 + k * 29) % 256).toByte))
        }
      val rtp = Array[Byte](0x80.toByte, pt.toByte) ++
        be16(7000 + j) ++ be32(160L * j) ++ be32(3000000L + s) ++ body
      val frame = ipv4UdpFrame(Array[Byte](10, 62, 0, (10 + s).toByte),
        Array[Byte](10, 63, 0, 1), 50100 + s, 40002, ttl = 64,
        payload = rtp)
      val t = 20000L * j + s * 997
      (1707000000L + t / 1000000, t % 1000000, frame)
    }

  def ensureRtpAudioFile(path: java.nio.file.Path, nPerStream: Int): Unit =
    if (!java.nio.file.Files.exists(path))
      writeAtomic(path, file(rtpAudioPackets(nPerStream)))

  /** SIP signaling capture (RFC 3261 subset over UDP 5060): n calls,
    * call i = INVITE (caller user$i@a.example.com → peer${i%7}
    * @b.example.com, Call-ID call$i@example.com), 200 OK for it after
    * setup(i) = 100000 + (i*37 mod 200000) µs, BYE after
    * dur(i) = (1 + i mod 30) s, 200 OK for the BYE 20 ms later.
    * Every i mod 9 == 4 call is ABANDONED: the INVITE gets "486 Busy
    * Here" and no BYE ever follows. Pure function of i. */
  def sipPackets(n: Int): Seq[(Long, Long, Array[Byte])] = {
    def msg(lines: Seq[String]): Array[Byte] =
      (lines.mkString("\r\n") + "\r\n\r\n").getBytes("US-ASCII")
    (0 until n).flatMap { i =>
      val caller = Array[Byte](10, 70, (i >> 8).toByte, i.toByte)
      val server = Array[Byte](10, 71, 0, 1)
      val callId = s"call$i@example.com"
      val from = s"<sip:user$i@a.example.com>"
      val to = s"<sip:peer${i % 7}@b.example.com>"
      val t0 = 1708000000000000L + i * 2500000L // µs
      val setup = 100000L + (i * 37) % 200000L
      val durUs = (1L + i % 30) * 1000000L
      val busy = i % 9 == 4
      def udp(src: Array[Byte], dst: Array[Byte], sp: Int, dp: Int,
          body: Array[Byte], tUs: Long): (Long, Long, Array[Byte]) =
        (tUs / 1000000L, tUs % 1000000L,
          ipv4UdpFrame(src, dst, sp, dp, ttl = 64, payload = body))
      val invite = msg(Seq(
        s"INVITE sip:peer${i % 7}@b.example.com SIP/2.0",
        s"Call-ID: $callId", s"From: $from", s"To: $to",
        "CSeq: 1 INVITE", "Content-Length: 0"))
      val okInvite = msg(Seq(
        if (busy) "SIP/2.0 486 Busy Here" else "SIP/2.0 200 OK",
        s"Call-ID: $callId", s"From: $from", s"To: $to",
        "CSeq: 1 INVITE", "Content-Length: 0"))
      val bye = msg(Seq(
        s"BYE sip:peer${i % 7}@b.example.com SIP/2.0",
        s"Call-ID: $callId", s"From: $from", s"To: $to",
        "CSeq: 2 BYE", "Content-Length: 0"))
      val okBye = msg(Seq("SIP/2.0 200 OK",
        s"Call-ID: $callId", s"From: $from", s"To: $to",
        "CSeq: 2 BYE", "Content-Length: 0"))
      val base = Seq(
        udp(caller, server, 5060, 5060, invite, t0),
        udp(server, caller, 5060, 5060, okInvite, t0 + setup))
      val tail =
        if (busy) Seq.empty
        else Seq(
          udp(caller, server, 5060, 5060, bye, t0 + durUs),
          udp(server, caller, 5060, 5060, okBye, t0 + durUs + 20000L))
      base ++ tail
    }
  }

  def ensureSipFile(path: java.nio.file.Path, n: Int): Unit =
    if (!java.nio.file.Files.exists(path))
      writeAtomic(path, file(sipPackets(n)))

  /** GRE-encapsulated DNS capture (RFC 2784/2890): n outer 10.50.x.y →
    * 10.60.0.1 protocol-47 frames, each a 8-byte GRE header (K flag,
    * version 0, key = 200 + i mod 5, inner ethertype IPv4) wrapping a
    * RAW inner IPv4+UDP DNS response 10.52.0.1:53 → 10.51.x.y:51000+i
    * (rcode NXDOMAIN when i mod 11 == 0). Pure function of i. */
  def grePackets(n: Int): Seq[(Long, Long, Array[Byte])] =
    (0 until n).map { i =>
      val innerServer = Array[Byte](10, 52, 0, 1)
      val innerClient = Array[Byte](10, 51, (i >> 8).toByte, i.toByte)
      val dns = dnsResponse(0x2000 + i, s"gre$i.tunnel.example.com",
        qtype = 1, rcode = if (i % 11 == 0) 3 else 0)
      // inner packet is RAW IP: strip the Ethernet header the shared
      // frame builder prepends
      val innerIp = ipv4UdpFrame(innerServer, innerClient, 53, 51000 + i,
        ttl = 58, payload = dns).drop(14)
      val key = 200 + i % 5
      val greHdr = Array[Byte](0x20, 0, 0x08, 0, // K flag; et 0x0800
        (key >> 24).toByte, (key >> 16).toByte,
        (key >> 8).toByte, key.toByte)
      val ipPayload = greHdr ++ innerIp
      val outerSrc = Array[Byte](10, 50, (i >> 8).toByte, i.toByte)
      val outerDst = Array[Byte](10, 60, 0, 1)
      val totalLen = 20 + ipPayload.length
      val ip = Array[Byte](0x45, 0) ++ be16(totalLen) ++
        Array[Byte](0, 0, 0, 0) ++
        Array[Byte](63, 47, 0, 0) ++ outerSrc ++ outerDst
      (1701100000L + i / 40, (i % 40) * 997L,
        Array.fill[Byte](12)(0x02) ++ be16(0x0800) ++ ip ++ ipPayload)
    }

  def ensureGreFile(path: java.nio.file.Path, n: Int): Unit =
    if (!java.nio.file.Files.exists(path))
      writeAtomic(path, file(grePackets(n)))

  /** One DHCP message (RFC 2131 BOOTP + RFC 2132 options) as a UDP
    * payload: fixed 236-byte header, magic cookie, then option 53
    * (message type), option 54 (server id) when `serverId` is set,
    * END. `chaddr` is a 6-byte MAC in the 16-byte field. */
  def dhcpPayload(op: Int, xid: Long, yiaddr: Array[Byte],
      chaddr: Array[Byte], msgType: Int,
      serverId: Option[Array[Byte]]): Array[Byte] = {
    val b = new ByteArrayOutputStream()
    b.write(Array[Byte](op.toByte, 1, 6, 0))
    b.write(be32(xid))
    b.write(Array[Byte](0, 0, 0, 0)) // secs, flags
    b.write(Array.fill[Byte](4)(0)) // ciaddr
    b.write(yiaddr)
    b.write(Array.fill[Byte](8)(0)) // siaddr, giaddr
    b.write(chaddr); b.write(Array.fill[Byte](10)(0))
    b.write(Array.fill[Byte](192)(0)) // sname + file
    b.write(Array[Byte](0x63, 0x82.toByte, 0x53, 0x63)) // magic
    b.write(Array[Byte](53, 1, msgType.toByte))
    serverId.foreach { sid =>
      b.write(Array[Byte](54, 4)); b.write(sid)
    }
    b.write(Array[Byte](-1)) // END
    b.toByteArray
  }

  /** Deterministic DHCP capture (RFC 2131): n DORA exchanges — client
    * MAC 02:00:00:00:hi:lo broadcasts DISCOVER/REQUEST from
    * 0.0.0.0:68, the server 10.95.0.1 answers OFFER/ACK leasing
    * 10.95.hi.lo — and a ROGUE server 10.95.66.66 also OFFERs every
    * 9th client (the rogue-DHCP signal LAN monitoring alerts on).
    * Pure function of i. */
  def dhcpPackets(n: Int): Seq[(Long, Long, Array[Byte])] = {
    val srv = Array[Byte](10, 95, 0, 1)
    val rogue = Array[Byte](10, 95, 66, 66)
    val bcast = Array[Byte](255.toByte, 255.toByte, 255.toByte, 255.toByte)
    val zero4 = Array[Byte](0, 0, 0, 0)
    val out = Seq.newBuilder[(Long, Long, Array[Byte])]
    var t = 0
    def emit(src: Array[Byte], dst: Array[Byte], sp: Int, dp: Int,
        pl: Array[Byte]): Unit = {
      out += ((1701500000L + t / 40, (t % 40) * 997L,
        ipv4UdpFrame(src, dst, sp, dp, ttl = 64, payload = pl)))
      t += 1
    }
    for (i <- 0 until n) {
      val mac = Array[Byte](0x02, 0, 0, 0, (i >> 8).toByte, i.toByte)
      val lease = Array[Byte](10, 95, (i >> 8).toByte, i.toByte)
      val xid = 0xA000L + i
      emit(zero4, bcast, 68, 67,
        dhcpPayload(1, xid, zero4, mac, msgType = 1, None))
      emit(srv, bcast, 67, 68,
        dhcpPayload(2, xid, lease, mac, msgType = 2, Some(srv)))
      if (i % 9 == 0)
        emit(rogue, bcast, 67, 68,
          dhcpPayload(2, xid, lease, mac, msgType = 2, Some(rogue)))
      emit(zero4, bcast, 68, 67,
        dhcpPayload(1, xid, zero4, mac, msgType = 3, Some(srv)))
      emit(srv, bcast, 67, 68,
        dhcpPayload(2, xid, lease, mac, msgType = 5, Some(srv)))
    }
    out.result()
  }

  def ensureDhcpFile(path: java.nio.file.Path, n: Int): Unit =
    if (!java.nio.file.Files.exists(path))
      writeAtomic(path, file(dhcpPackets(n)))

  /** One ARP frame (RFC 826 over Ethernet): broadcast dst, htype 1 /
    * ptype 0x0800 / hlen 6 / plen 4, then oper + sha/spa/tha/tpa. */
  def arpFrame(sha: Array[Byte], spa: Array[Byte], tha: Array[Byte],
      tpa: Array[Byte], oper: Int): Array[Byte] =
    Array.fill[Byte](6)(0xFF.toByte) ++ sha ++ be16(0x0806) ++
      be16(1) ++ be16(0x0800) ++ Array[Byte](6, 4) ++ be16(oper) ++
      sha ++ spa ++ tha ++ tpa

  /** Deterministic ARP capture (RFC 826): n device→gateway
    * request/reply exchanges (device MAC 02:00:00:00:hi:lo, IP
    * 10.90.hi.lo; gateway 02:11:00:00:00:01 / 10.90.0.1); every 4th
    * device also sends a gratuitous reply announcing its own IP, and a
    * ROGUE MAC (02:66:00:00:hi:lo) claims every 6th device's IP — so
    * every i ≡ 0 (mod 12) IP is announced by TWO distinct MACs, the
    * address-conflict signal ARP inspection exists to catch. Pure
    * function of i. */
  def arpPackets(n: Int): Seq[(Long, Long, Array[Byte])] = {
    val gwMac = Array[Byte](0x02, 0x11, 0, 0, 0, 0x01)
    val gwIp = Array[Byte](10, 90, 0, 1)
    val zeroMac = Array.fill[Byte](6)(0)
    val out = Seq.newBuilder[(Long, Long, Array[Byte])]
    var t = 0
    def emit(fr: Array[Byte]): Unit = {
      out += ((1701400000L + t / 40, (t % 40) * 997L, fr)); t += 1
    }
    for (i <- 0 until n) {
      val devMac = Array[Byte](0x02, 0, 0, 0, (i >> 8).toByte, i.toByte)
      val devIp = Array[Byte](10, 90, (i >> 8).toByte, i.toByte)
      emit(arpFrame(devMac, devIp, zeroMac, gwIp, oper = 1))
      emit(arpFrame(gwMac, gwIp, devMac, devIp, oper = 2))
      if (i % 4 == 0)
        emit(arpFrame(devMac, devIp, zeroMac, devIp, oper = 2))
      if (i % 6 == 0) {
        val rogue = Array[Byte](0x02, 0x66, 0, 0, (i >> 8).toByte, i.toByte)
        emit(arpFrame(rogue, devIp, zeroMac, devIp, oper = 2))
      }
    }
    out.result()
  }

  def ensureArpFile(path: java.nio.file.Path, n: Int): Unit =
    if (!java.nio.file.Files.exists(path))
      writeAtomic(path, file(arpPackets(n)))

  /** Deterministic beacon/noise capture for periodicity detection.
    * Three flow populations, all pure functions of (flow, k):
    *
    *  - `nB` BEACON flows: client 10.80.hi.lo → 203.0.113.7:443,
    *    40 packets, inter-arrival = period ± small jitter where
    *    period_ms = (30 + (c%5)*10)*1000 and
    *    jitter_ms(c,k) = ((c*37 + k*101) % 401) - 200 — the low-CV
    *    check-in cadence C2 implants produce.
    *  - `nN` NOISE flows: client 10.81.hi.lo → 203.0.113.9, dst port
    *    443 (even b) or 8080 (odd b), 20 packets, inter-arrival
    *    1000 + ((b*2654435761 + k*40503) % 60000) ms — high-variance
    *    human-ish traffic. Every 5th noise flow is SHORT (5 packets)
    *    and must fall below any sane minimum-observation gate.
    *
    * Every timestamp lands on a whole millisecond so microsecond
    * deltas divide exactly by 1000 downstream. */
  def beaconPackets(nB: Int, nN: Int): Seq[(Long, Long, Array[Byte])] = {
    val out = Seq.newBuilder[(Long, Long, Array[Byte])]
    val base = 1702000000L
    def emit(ms: Long, src: Array[Byte], dst: Array[Byte], sp: Int,
        dp: Int, plLen: Int): Unit =
      out += ((base + ms / 1000, (ms % 1000) * 1000L,
        ipv4UdpFrame(src, dst, sp, dp, ttl = 64,
          payload = new Array[Byte](plLen))))
    val c2 = Array[Byte](203.toByte, 0, 113, 7)
    val web = Array[Byte](203.toByte, 0, 113, 9)
    for (c <- 0 until nB) {
      val src = Array[Byte](10, 80, (c >> 8).toByte, c.toByte)
      val periodMs = (30L + (c % 5) * 10L) * 1000L
      var ms = c * 137L
      for (k <- 0 until 40) {
        if (k > 0) ms += periodMs + ((c * 37 + k * 101) % 401) - 200
        emit(ms, src, c2, 40000 + (c % 1000), 443, 16 + k % 8)
      }
    }
    for (b <- 0 until nN) {
      val src = Array[Byte](10, 81, (b >> 8).toByte, b.toByte)
      val dp = if (b % 2 == 0) 443 else 8080
      val nPkts = if (b % 5 == 4) 5 else 20
      var ms = 500L + b * 211L
      for (k <- 0 until nPkts) {
        if (k > 0) ms += 1000L + (b * 2654435761L + k * 40503L) % 60000L
        emit(ms, src, web, 41000 + b, dp, 24 + k % 16)
      }
    }
    out.result()
  }

  def ensureBeaconFile(path: java.nio.file.Path, nB: Int, nN: Int): Unit =
    if (!java.nio.file.Files.exists(path))
      writeAtomic(path, file(beaconPackets(nB, nN)))

  /** Uncompressed RFC 1035 wire name (labels + root). */
  def encodeName(name: String): Array[Byte] = {
    val b = new ByteArrayOutputStream()
    name.split('.').filter(_.nonEmpty).foreach { label =>
      b.write(label.length)
      b.write(label.getBytes("US-ASCII"))
    }
    b.write(0)
    b.toByteArray
  }

  /** DNS response WITH an answer section: standard header, one
    * question, then one RR per `(rtype, rdata)` whose owner name is a
    * compression pointer to the question name (0xC00C) — so the
    * fixture exercises pointer-following in answer names, TTL 300,
    * class IN. */
  def dnsResponseAnswers(id: Int, qname: String,
      answers: Seq[(Int, Array[Byte])]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write(be16(id)); out.write(be16(0x8180))
    out.write(be16(1)); out.write(be16(answers.size))
    out.write(be16(0)); out.write(be16(0))
    out.write(encodeName(qname))
    out.write(be16(1)); out.write(be16(1))
    answers.foreach { case (t, rd) =>
      out.write(Array[Byte](0xC0.toByte, 0x0C))
      out.write(be16(t)); out.write(be16(1))
      out.write(be32(300L)); out.write(be16(rd.length)); out.write(rd)
    }
    out.toByteArray
  }

  /** Deterministic passive-DNS capture: n answered lookups of 40
    * rotating service names. Response i (server 1.0.0.1 → client
    * 10.7.hi.lo, one per second) answers `app{i%40}.svc.example.com`
    * with an A record 10.20.{i%40}.{1+i%3} (round-robin across 3
    * addresses per name) and — when i % 4 == 0 — a preceding CNAME to
    * `cdn{i%5}.edge.example.net`. Pure function of i, so the
    * qname→rdata observation table (count, first/last seen) is a
    * derivable constant. */
  def passiveDnsPackets(n: Int): Seq[(Long, Long, Array[Byte])] = {
    val server = Array[Byte](1, 0, 0, 1)
    (0 until n).map { i =>
      val client = Array[Byte](10, 7, (i >> 8).toByte, i.toByte)
      val qname = s"app${i % 40}.svc.example.com"
      val a = (1, Array[Byte](10, 20, (i % 40).toByte, (1 + i % 3).toByte))
      val answers =
        if (i % 4 == 0)
          Seq((5, encodeName(s"cdn${i % 5}.edge.example.net")), a)
        else Seq(a)
      (1703000000L + i, (i % 1000) * 997L,
        ipv4UdpFrame(server, client, 53, 50000 + (i % 10000), ttl = 58,
          payload = dnsResponseAnswers(0x3000 + (i & 0xFFF), qname,
            answers)))
    }
  }

  def ensurePassiveDnsFile(path: java.nio.file.Path, n: Int): Unit =
    if (!java.nio.file.Files.exists(path))
      writeAtomic(path, file(passiveDnsPackets(n)))

  /** DNS response-integrity capture (off-path spoofing telemetry): for
    * each i < n, client 10.63.hi.lo (unique per i, port 50000+i%9000)
    * queries resolver 192.0.2.(30 + i%2) for `svc{i%30}.example.org`
    * with txid 0x2000 + (i & 0xFFF), and the resolver answers with
    * A 10.21.{i%30}.{1+i%3}. Injected anomalies, pure functions of i:
    *  - i%7==0: an off-path spoof attempt — a response forging the
    *    resolver's address onto the client flow with the WRONG txid
    *    ((txid+1) & 0xFFFF): matches no query, the blind-guess tell.
    *  - i%11==0: a poisoning race — a SECOND response matching the
    *    query's (flow, txid) but answering 192.0.2.66: two distinct
    *    answer sets for one query.
    * Clients are unique per i so (client, port, resolver, txid) is a
    * unique query key; all populations are derivable constants. */
  def dnsSpoofPackets(n: Int): Seq[(Long, Long, Array[Byte])] = {
    val out = Seq.newBuilder[(Long, Long, Array[Byte])]
    for (i <- 0 until n) {
      val client = Array[Byte](10, 63, (i >> 8).toByte, i.toByte)
      val resolver = Array[Byte](192.toByte, 0, 2, (30 + i % 2).toByte)
      val cport = 50000 + (i % 9000)
      val txid = 0x2000 + (i & 0xFFF)
      val qname = s"svc${i % 30}.example.org"
      val t = 1706000000L + i
      out += ((t, (i % 900) * 991L,
        ipv4UdpFrame(client, resolver, cport, 53, ttl = 64,
          payload = dnsQuery(txid, qname))))
      if (i % 7 == 0)
        out += ((t, (i % 900) * 991L + 150L,
          ipv4UdpFrame(resolver, client, 53, cport, ttl = 57,
            payload = dnsResponseAnswers((txid + 1) & 0xFFFF, qname,
              Seq((1, Array[Byte](192.toByte, 0, 2, 66)))))))
      if (i % 11 == 0)
        out += ((t, (i % 900) * 991L + 180L,
          ipv4UdpFrame(resolver, client, 53, cport, ttl = 57,
            payload = dnsResponseAnswers(txid, qname,
              Seq((1, Array[Byte](192.toByte, 0, 2, 66)))))))
      out += ((t, (i % 900) * 991L + 211L,
        ipv4UdpFrame(resolver, client, 53, cport, ttl = 58,
          payload = dnsResponseAnswers(txid, qname,
            Seq((1, Array[Byte](10, 21, (i % 30).toByte,
              (1 + i % 3).toByte)))))))
    }
    out.result()
  }

  def ensureDnsSpoofFile(path: java.nio.file.Path, n: Int): Unit =
    if (!java.nio.file.Files.exists(path))
      writeAtomic(path, file(dnsSpoofPackets(n)))

  /** Deterministic SYN capture for passive OS fingerprinting: four
    * client populations with the (initial-TTL, SYN window) signatures
    * p0f keys on — (64, 29200) linux-ish, (128, 64240) windows-ish,
    * (64, 65535) macos-ish, (255, 8192) embedded-ish — each SYN
    * observed `hops` routers out (ttl = initial − hops, hops a small
    * pure function of i), plus the server's SYN|ACKs (which a SYN-only
    * filter must exclude) and, every 13th i, an oddball SYN (ttl
    * 200 + i%20, window 512) no signature matches. */
  def osSynPackets(n: Int): Seq[(Long, Long, Array[Byte])] = {
    val server = Array[Byte](192.toByte, 0, 2, 10)
    val out = Seq.newBuilder[(Long, Long, Array[Byte])]
    for (i <- 0 until n) {
      val (initTtl, win, hops) = (i % 4) match {
        case 0 => (64, 29200, 1 + i % 5)
        case 1 => (128, 64240, 2 + i % 7)
        case 2 => (64, 65535, 1 + i % 3)
        case _ => (255, 8192, 3 + i % 4)
      }
      val client = Array[Byte](10, 60, (i >> 8).toByte, i.toByte)
      out += ((1704000000L + i, (i % 40) * 997L,
        ipv4TcpFrame(client, server, 30000 + (i % 20000), 443,
          ttl = initTtl - hops, payload = Array.emptyByteArray,
          seq = 100L + i, flags = 0x02, window = win)))
      out += ((1704000000L + i, (i % 40) * 997L + 211L,
        ipv4TcpFrame(server, client, 443, 30000 + (i % 20000),
          ttl = 60, payload = Array.emptyByteArray, seq = 900L + i,
          ack = 101L + i, flags = 0x12, window = 65535)))
      if (i % 13 == 0) {
        val odd = Array[Byte](10, 61, (i >> 8).toByte, i.toByte)
        out += ((1704000000L + i, (i % 40) * 997L + 499L,
          ipv4TcpFrame(odd, server, 31000 + i, 443,
            ttl = 200 + i % 20, payload = Array.emptyByteArray,
            seq = 300L + i, flags = 0x02, window = 512)))
      }
    }
    out.result()
  }

  def ensureOsSynFile(path: java.nio.file.Path, n: Int): Unit =
    if (!java.nio.file.Files.exists(path))
      writeAtomic(path, file(osSynPackets(n)))

  /** SYN option-fingerprint capture: n handshakes whose opening SYN
    * cycles four option templates (pure function of i, so the option
    * inventory over the file is a constant table):
    *  - i%4==0 "linux-like":  MSS, SACK-perm, TS, NOP, WScale 7
    *  - i%4==1 "windows-like": MSS, NOP, WScale 8, NOP, NOP, SACK-perm
    *  - i%4==2 "macos-like":  MSS, NOP, WScale 6, NOP, NOP, TS,
    *                          SACK-perm, then EOL padding (exercises
    *                          the EOL-stops-the-walk rule)
    *  - i%4==3 bare SYN, data offset 5 (option columns: mss/wscale
    *    NULL, sack/ts false — "parsed, absent")
    * MSS additionally varies as 1400 + (i%5)*20. Every SYN gets a
    * SYN|ACK back carrying an MSS option of its own — the SYN-only
    * predicate downstream must exclude it. Clients are distinct per i. */
  def synOptPackets(n: Int): Seq[(Long, Long, Array[Byte])] = {
    val server = Array[Byte](192.toByte, 0, 2, 20)
    val out = Seq.newBuilder[(Long, Long, Array[Byte])]
    for (i <- 0 until n) {
      val client = Array[Byte](10, 62, (i >> 8).toByte, i.toByte)
      val mss = 1400 + (i % 5) * 20
      val mh = (mss >> 8).toByte
      val ml = mss.toByte
      val opts: Array[Byte] = (i % 4) match {
        case 0 => Array[Byte](2, 4, mh, ml, 4, 2,
          8, 10, 0, 0, 0, 1, 0, 0, 0, 0, 1, 3, 3, 7)
        case 1 => Array[Byte](2, 4, mh, ml, 1, 3, 3, 8, 1, 1, 4, 2)
        case 2 => Array[Byte](2, 4, mh, ml, 1, 3, 3, 6, 1, 1,
          8, 10, 0, 0, 0, 2, 0, 0, 0, 0, 4, 2, 0, 0)
        case _ => Array.emptyByteArray
      }
      out += ((1705000000L + i, (i % 50) * 883L,
        ipv4TcpFrame(client, server, 40000 + (i % 10000), 443,
          ttl = 60, payload = Array.emptyByteArray, seq = 10L + i,
          flags = 0x02, window = 64240, tcpOpts = opts)))
      out += ((1705000000L + i, (i % 50) * 883L + 300L,
        ipv4TcpFrame(server, client, 443, 40000 + (i % 10000),
          ttl = 60, payload = Array.emptyByteArray, seq = 77L,
          ack = 11L + i, flags = 0x12, window = 65535,
          tcpOpts = Array[Byte](2, 4, 5, 0xB4.toByte, 4, 2))))
    }
    out.result()
  }

  def ensureSynOptFile(path: java.nio.file.Path, n: Int): Unit =
    if (!java.nio.file.Files.exists(path))
      writeAtomic(path, file(synOptPackets(n)))

  /** IP-in-IP tunnel capture (RFC 2003 / RFC 4213): n outer
    * 10.70.x.y → 10.80.0.1 frames alternating outer protocol 4 (even
    * i — inner RAW IPv4 UDP DNS 10.72.0.1:53 → 10.71.x.y:50000+i,
    * qname `t4-$i.tunnel.example.com`) and protocol 41 "6in4" (odd i
    * — inner RAW IPv6 UDP DNS 2001:db8:72::1 → 2001:db8:71::i/i,
    * qtype AAAA, qname `t6-$i...`). No shim header either way: the
    * outer payload IS the inner packet. NXDOMAIN when i % 13 == 0.
    * Pure function of i, so decap analytics over it are constants. */
  def ipipPackets(n: Int): Seq[(Long, Long, Array[Byte])] =
    (0 until n).map { i =>
      val nx = if (i % 13 == 0) 3 else 0
      val innerIp: Array[Byte] =
        if (i % 2 == 0) {
          val innerServer = Array[Byte](10, 72, 0, 1)
          val innerClient = Array[Byte](10, 71, (i >> 8).toByte, i.toByte)
          val dns = dnsResponse(0x5000 + i, s"t4-$i.tunnel.example.com",
            qtype = 1, rcode = nx)
          // inner is RAW IP: strip the builder's Ethernet header
          ipv4UdpFrame(innerServer, innerClient, 53, 50000 + i,
            ttl = 57, payload = dns).drop(14)
        } else {
          val server = Array.tabulate[Byte](16)(k =>
            (Seq(0x20, 0x01, 0x0d, 0xb8, 0, 0x72) ++ Seq.fill(9)(0) ++
              Seq(1))(k).toByte)
          val client = Array.tabulate[Byte](16)(k =>
            (Seq(0x20, 0x01, 0x0d, 0xb8, 0, 0x71) ++ Seq.fill(8)(0) ++
              Seq(i >> 8, i & 255))(k).toByte)
          val dns = dnsResponse(0x5000 + i, s"t6-$i.tunnel.example.com",
            qtype = 28, rcode = nx)
          // v6 pseudo-header: same layout trick as the v6 frag fixture
          // (prefix carries the NH word + the 32-bit length's high
          // half; the UDP header's own be16 length is the low half)
          val pseudo = server ++ client ++ Array[Byte](0, 17, 0, 0)
          val udp = udpSegment(53, 50000 + i, dns, pseudo,
            withChecksum = true)
          Array[Byte](0x60, 0, 0, 0) ++ be16(udp.length) ++
            Array[Byte](17, 61) ++ server ++ client ++ udp
        }
      val proto = if (i % 2 == 0) 4 else 41
      val outerSrc = Array[Byte](10, 70, (i >> 8).toByte, i.toByte)
      val outerDst = Array[Byte](10, 80, 0, 1)
      val totalLen = 20 + innerIp.length
      val ip = Array[Byte](0x45, 0) ++ be16(totalLen) ++
        Array[Byte](0, 0, 0, 0) ++
        Array[Byte](62, proto.toByte, 0, 0) ++ outerSrc ++ outerDst
      (1701200000L + i / 40, (i % 40) * 997L,
        Array.fill[Byte](12)(0x02) ++ be16(0x0800) ++ ip ++ innerIp)
    }

  def ensureIpipFile(path: java.nio.file.Path, n: Int): Unit =
    if (!java.nio.file.Files.exists(path))
      writeAtomic(path, file(ipipPackets(n)))

  def ensureHttpCorpusFile(path: java.nio.file.Path, n: Int): Unit =
    if (!java.nio.file.Files.exists(path))
      writeAtomic(path, file(httpCorpusSegments(n)))

  /** Server banner string for SSH population `p` (p = i % 4).
    * Population 1 carries an embedded space (comment field, RFC 4253
    * §4.2 allows it) so banner extraction must NOT split on spaces;
    * population 3 is the legacy 1.99 compatibility form. */
  def sshBanner(p: Int): String = p match {
    case 0 => "SSH-2.0-OpenSSH_9.6"
    case 1 => "SSH-2.0-OpenSSH_8.9p1 Ubuntu-3ubuntu0.10"
    case 2 => "SSH-2.0-dropbear_2022.83"
    case _ => "SSH-1.99-OpenSSH_7.4"
  }

  /** Deterministic SSH capture: n sessions against 4 servers
    * (192.0.2.21-24, one banner population each). Session i emits
    *  - the CLIENT banner 10.90.hi.lo:30000+i → server:22
    *    ("SSH-2.0-libssh2_1.11.0") — a src_port-22 inventory must
    *    exclude it;
    *  - the SERVER banner server:22 → client (`sshBanner(i % 4)`);
    *  - every 3rd i, a binary KEX-ish data packet server:22 → client
    *    whose payload starts 0x00 — a banner-prefix filter must
    *    exclude it. */
  def sshPackets(n: Int): Seq[(Long, Long, Array[Byte])] = {
    val out = Seq.newBuilder[(Long, Long, Array[Byte])]
    for (i <- 0 until n) {
      val server = Array[Byte](192.toByte, 0, 2, (21 + i % 4).toByte)
      val client = Array[Byte](10, 90, (i >> 8).toByte, i.toByte)
      val sp = 30000 + (i % 20000)
      out += ((1705000000L + i, (i % 40) * 997L,
        ipv4TcpFrame(client, server, sp, 22, ttl = 60,
          payload = "SSH-2.0-libssh2_1.11.0\r\n".getBytes("US-ASCII"),
          seq = 1L + i, flags = 0x18, window = 64240)))
      out += ((1705000000L + i, (i % 40) * 997L + 300L,
        ipv4TcpFrame(server, client, 22, sp, ttl = 62,
          payload = (sshBanner(i % 4) + "\r\n").getBytes("US-ASCII"),
          seq = 500L + i, flags = 0x18, window = 29200)))
      if (i % 3 == 0)
        out += ((1705000000L + i, (i % 40) * 997L + 600L,
          ipv4TcpFrame(server, client, 22, sp, ttl = 62,
            payload = Array[Byte](0, 0, 1, 44, 10, 20) ++
              Array.fill[Byte](40)((i % 97).toByte),
            seq = 600L + i, flags = 0x18, window = 29200)))
    }
    out.result()
  }

  def ensureSshFile(path: java.nio.file.Path, n: Int): Unit =
    if (!java.nio.file.Files.exists(path))
      writeAtomic(path, file(sshPackets(n)))

  /** TTL path-stability capture: flow i = client
    * 10.70.(i>>8).(i&255):40000+(i%100) → server 198.51.100.(i%40):443
    * (UDP), 5 packets each, rotating on i % 3:
    *  - 0 STABLE: every packet ttl = 64 − (3 + i % 5) — one constant
    *    hop estimate;
    *  - 1 FLAPPING: packets alternate ttl 60 / 55 — same initial-TTL
    *    class, hop estimate jumps 4 ↔ 9 (a route flap);
    *  - 2 SPOOF-MIX: packets alternate ttl 60 / 120 — TWO initial-TTL
    *    classes (64 and 128) claiming the same source address, the
    *    injected-traffic tell.
    * Every 17th flow also emits one ICMP echo from the same client —
    * exclusion traffic the UDP filter must drop. */
  def ttlPathPackets(n: Int): Seq[(Long, Long, Array[Byte])] = {
    val out = Seq.newBuilder[(Long, Long, Array[Byte])]
    for (i <- 0 until n) {
      val cl = Array[Byte](10, 70, (i >> 8).toByte, i.toByte)
      val sv = Array[Byte](198.toByte, 51, 100, (i % 40).toByte)
      for (k <- 0 until 5) {
        val ttl = (i % 3) match {
          case 0 => 64 - (3 + i % 5)
          case 1 => if (k % 2 == 0) 60 else 55
          case _ => if (k % 2 == 0) 60 else 120
        }
        out += ((1720000000L + i * 3L + k, i * 17L + k,
          ipv4UdpFrame(cl, sv, 40000 + (i % 100), 443, ttl = ttl,
            payload = new Array[Byte](12))))
      }
      if (i % 17 == 0)
        out += ((1720000000L + i * 3L + 6, i * 17L + 9,
          ipv4IcmpFrame(cl, sv, ttl = 62, icmpType = 8, code = 0,
            echoId = i, echoSeq = 1)))
    }
    out.result()
  }

  def ensureTtlPathFile(path: java.nio.file.Path, n: Int): Unit =
    if (!java.nio.file.Files.exists(path))
      writeAtomic(path, file(ttlPathPackets(n)))

  /** Exfiltration-asymmetry capture: client i = 10.88.(i>>8).(i&255),
    * rotating on i % 3:
    *  - 0 BROWSING: 3 servers 203.0.113.((3i+k) % 60), per server
    *    2 requests × 100 B out then 5 responses × 1400 B in —
    *    download-heavy, the base rate;
    *  - 1 EXFIL: one server 198.51.100.(70 + i % 3), 20 × 1400 B out,
    *    2 × 60 B in — upload-heavy, NOT sanctioned;
    *  - 2 BACKUP: the sanctioned target 192.0.2.10, the SAME
    *    20 × 1400 B upload shape — the precision population: the byte
    *    ratio alone must not flag it, only the allowlist can clear it. */
  def exfilPackets(n: Int): Seq[(Long, Long, Array[Byte])] = {
    val out = Seq.newBuilder[(Long, Long, Array[Byte])]
    for (i <- 0 until n) {
      val cl = Array[Byte](10, 88, (i >> 8).toByte, i.toByte)
      val t0 = 1730000000L + i * 11L
      def pkt(k: Int, sv: Array[Byte], up: Boolean, sz: Int): Unit =
        out += ((t0 + k, i * 31L + k,
          if (up) ipv4UdpFrame(cl, sv, 40000 + (i % 200), 443, ttl = 60,
            payload = new Array[Byte](sz))
          else ipv4UdpFrame(sv, cl, 443, 40000 + (i % 200), ttl = 57,
            payload = new Array[Byte](sz))))
      (i % 3) match {
        case 0 =>
          for (k <- 0 until 3) {
            val sv = Array[Byte](203.toByte, 0, 113, ((3 * i + k) % 60).toByte)
            for (j <- 0 until 2) pkt(k * 9 + j, sv, up = true, 100)
            for (j <- 0 until 5) pkt(k * 9 + 2 + j, sv, up = false, 1400)
          }
        case 1 =>
          val sv = Array[Byte](198.toByte, 51, 100, (70 + i % 3).toByte)
          for (j <- 0 until 20) pkt(j, sv, up = true, 1400)
          for (j <- 0 until 2) pkt(20 + j, sv, up = false, 60)
        case _ =>
          val sv = Array[Byte](192.toByte, 0, 2, 10)
          for (j <- 0 until 20) pkt(j, sv, up = true, 1400)
          for (j <- 0 until 2) pkt(20 + j, sv, up = false, 60)
      }
    }
    out.result()
  }

  def ensureExfilFile(path: java.nio.file.Path, n: Int): Unit =
    if (!java.nio.file.Files.exists(path))
      writeAtomic(path, file(exfilPackets(n)))

  /** UDP-traceroute capture with REAL RFC 792 quoting: trace t =
    * prober 10.77.0.(t%50) → target 203.0.113.(t%30), hops k = 1..H
    * (H = 3 + t%4). Each hop emits the TTL-limited UDP probe
    * (dst_port 33434+k — the classic increment) AND the router's ICMP
    * Time-Exceeded (type 11) whose payload QUOTES the original probe's
    * IP header + first 8 bytes (the UDP header) — which is the ONLY
    * place the hop number survives, exactly as real traceroute
    * parsing works. Router at hop k = 198.18.k.(t%20) (shared infra
    * across traces). Traces with t % 5 != 0 complete: the target
    * answers the LAST probe with ICMP port-unreachable (type 3 code
    * 3, same quoting); t % 5 == 0 traces time out (final hop router
    * still answers, no type-3). Every 9th trace adds an ICMP echo
    * pair — exclusion traffic. */
  def traceroutePackets(n: Int): Seq[(Long, Long, Array[Byte])] = {
    val out = Seq.newBuilder[(Long, Long, Array[Byte])]
    for (t <- 0 until n) {
      val prober = Array[Byte](10, 77, 0, (t % 50).toByte)
      val target = Array[Byte](203.toByte, 0, 113, (t % 30).toByte)
      val hops = 3 + t % 4
      val t0 = 1740000000L + t * 7L
      for (k <- 1 to hops) {
        val dport = 33434 + k
        // the probe itself (TTL-limited UDP; exclusion traffic for
        // the reconstruction query, which reads only the quotes)
        out += ((t0, (k * 2).toLong,
          ipv4UdpFrame(prober, target, 40000 + t, dport, ttl = k,
            payload = new Array[Byte](8))))
        // quoted original: IP header (TTL already decremented to 0 on
        // expiry, as routers quote it) + the 8-byte UDP header
        val quoted = {
          val udpLen = 8 + 8
          val ip = Array[Byte](0x45, 0) ++ be16(20 + udpLen) ++
            Array[Byte](0, 0, 0, 0) ++
            Array[Byte](0, 17, 0, 0) ++ prober ++ target
          val udp = be16(40000 + t) ++ be16(dport) ++ be16(udpLen) ++
            be16(0)
          ip ++ udp
        }
        if (k < hops || t % 5 == 0) {
          val router = Array[Byte](198.toByte, 18, k.toByte, (t % 20).toByte)
          out += ((t0, (k * 2 + 1).toLong,
            ipv4IcmpFrame(router, prober, ttl = 64 - k, icmpType = 11,
              code = 0, payload = quoted)))
        } else {
          // completed trace: the target itself answers the last probe
          out += ((t0, (k * 2 + 1).toLong,
            ipv4IcmpFrame(target, prober, ttl = 50, icmpType = 3,
              code = 3, payload = quoted)))
        }
      }
      if (t % 9 == 0) {
        out += ((t0, 99L, ipv4IcmpFrame(prober, target, ttl = 64,
          icmpType = 8, code = 0, echoId = t, echoSeq = 1)))
        out += ((t0, 100L, ipv4IcmpFrame(target, prober, ttl = 60,
          icmpType = 0, code = 0, echoId = t, echoSeq = 1)))
      }
    }
    out.result()
  }

  def ensureTracerouteFile(path: java.nio.file.Path, n: Int): Unit =
    if (!java.nio.file.Files.exists(path))
      writeAtomic(path, file(traceroutePackets(n)))

  /** Decode-depth census capture — a deliberately mixed-quality
    * capture for the observability rollup, rotating on i % 5:
    *  - 0 valid UDP (full L4 decode),
    *  - 1 valid TCP SYN (full L4 decode),
    *  - 2 non-IP ethertype (ARP) — stops at L2,
    *  - 3 IPv4 TRUNCATED mid-header (8 of 20 bytes captured) — the
    *    snap-length case; L3 fields must be absent, not garbage,
    *  - 4 full IPv4 carrying protocol 132 (SCTP — no L4 decoder) —
    *    L3 decodes, ports stay null. */
  def malformedPackets(n: Int): Seq[(Long, Long, Array[Byte])] = {
    val out = Seq.newBuilder[(Long, Long, Array[Byte])]
    for (i <- 0 until n) {
      val cl = Array[Byte](10, 66, (i >> 8).toByte, i.toByte)
      val sv = Array[Byte](192.toByte, 0, 2, 77)
      val fr: Array[Byte] = (i % 5) match {
        case 0 => ipv4UdpFrame(cl, sv, 40000 + i, 443, ttl = 60,
          payload = new Array[Byte](16))
        case 1 => ipv4TcpFrame(cl, sv, 40000 + i, 443, ttl = 60,
          payload = Array.emptyByteArray, seq = i.toLong, flags = 0x02)
        case 2 =>
          Array.fill[Byte](12)(0x02) ++ be16(0x0806) ++
            new Array[Byte](20)
        case 3 =>
          val full = ipv4UdpFrame(cl, sv, 40000 + i, 443, ttl = 60,
            payload = new Array[Byte](16))
          java.util.Arrays.copyOfRange(full, 0, 14 + 8)
        case _ =>
          val udpLen = 12
          val ip = Array[Byte](0x45, 0) ++ be16(20 + udpLen) ++
            Array[Byte](0, 0, 0, 0) ++
            Array[Byte](60, 132.toByte, 0, 0) ++ cl ++ sv
          Array.fill[Byte](12)(0x02) ++ be16(0x0800) ++ ip ++
            new Array[Byte](udpLen)
      }
      out += ((1750000000L + i, i.toLong % 1000, fr))
    }
    out.result()
  }

  def ensureMalformedFile(path: java.nio.file.Path, n: Int): Unit =
    if (!java.nio.file.Files.exists(path))
      writeAtomic(path, file(malformedPackets(n)))

  /** Sensor-health capture: a steady 1 ms UDP cadence with THREE
    * deliberate capture gaps (sensor drops) of 2 s, 5 s and 30 s after
    * packets 100, 250 and 400 — plus jitter-free traffic everywhere
    * else, so the gap detector's threshold has a clean floor. */
  def gapPackets(n: Int): Seq[(Long, Long, Array[Byte])] = {
    val out = Seq.newBuilder[(Long, Long, Array[Byte])]
    var tMicro = 1760000000L * 1000000L
    for (i <- 0 until n) {
      tMicro += 1000L
      if (i == 101) tMicro += 2000000L
      if (i == 251) tMicro += 5000000L
      if (i == 401) tMicro += 30000000L
      out += ((tMicro / 1000000L, tMicro % 1000000L,
        ipv4UdpFrame(Array[Byte](10, 44, 0, (i % 10).toByte),
          Array[Byte](192.toByte, 0, 2, 44), 40000 + (i % 100), 514,
          ttl = 60, payload = new Array[Byte](8))))
    }
    out.result()
  }

  def ensureGapFile(path: java.nio.file.Path, n: Int): Unit =
    if (!java.nio.file.Files.exists(path))
      writeAtomic(path, file(gapPackets(n)))

  /** Deterministic NTP capture with a reflection-attack population.
    * For i in 0 until n:
    *  - benign poll: client 10.95.hi.lo:40000+i → 198.51.100.5:123,
    *    48-byte payload, first byte 0x23 (VN 4, mode 3), answered by
    *    one 48-byte mode-4 response (first byte 0x24);
    *  - every 7th i, a spoofed monlist exchange at the reflector
    *    198.51.100.9: an 8-byte mode-7 request (first byte 0x17,
    *    VN 2) "from" the victim 203.0.113.66:47000+(i%100), answered
    *    by FOUR 440-byte mode-7 responses (first byte 0xD7 — response
    *    bit set, and ≥ 0x80 so byte extraction must not go through a
    *    UTF-8 decode) — a ~220× byte amplification. */
  def ntpPackets(n: Int): Seq[(Long, Long, Array[Byte])] = {
    val out = Seq.newBuilder[(Long, Long, Array[Byte])]
    val pool = Array[Byte](198.toByte, 51, 100, 5)
    val refl = Array[Byte](198.toByte, 51, 100, 9)
    val victim = Array[Byte](203.toByte, 0, 113, 66)
    def ntpPayload(first: Int, len: Int, seed: Int): Array[Byte] = {
      val p = new Array[Byte](len)
      p(0) = first.toByte
      for (j <- 1 until len) p(j) = ((seed * 31 + j * 7) % 251).toByte
      p
    }
    for (i <- 0 until n) {
      val client = Array[Byte](10, 95, (i >> 8).toByte, i.toByte)
      out += ((1706000000L + i, (i % 40) * 997L,
        ipv4UdpFrame(client, pool, 40000 + (i % 20000), 123, ttl = 61,
          payload = ntpPayload(0x23, 48, i))))
      out += ((1706000000L + i, (i % 40) * 997L + 180L,
        ipv4UdpFrame(pool, client, 123, 40000 + (i % 20000), ttl = 57,
          payload = ntpPayload(0x24, 48, i + 1))))
      if (i % 7 == 0) {
        val vp = 47000 + (i % 100)
        out += ((1706000000L + i, (i % 40) * 997L + 350L,
          ipv4UdpFrame(victim, refl, vp, 123, ttl = 59,
            payload = ntpPayload(0x17, 8, i))))
        for (r <- 0 until 4)
          out += ((1706000000L + i, (i % 40) * 997L + 400L + r * 10L,
            ipv4UdpFrame(refl, victim, 123, vp, ttl = 57,
              payload = ntpPayload(0xD7, 440, i + r))))
      }
    }
    out.result()
  }

  def ensureNtpFile(path: java.nio.file.Path, n: Int): Unit =
    if (!java.nio.file.Files.exists(path))
      writeAtomic(path, file(ntpPackets(n)))

  /** capinfos-style multi-file fixture: `nFiles` capture files in one
    * directory, file f holding 40 + 10·f UDP packets one second apart
    * (start 1707000000 + 100·f) with a constant per-file payload
    * length 16 + 8·f — so per-file packet counts, time bounds, byte
    * totals, and rates are closed-form. */
  def capinfoPackets(f: Int): Seq[(Long, Long, Array[Byte])] =
    (0 until 40 + 10 * f).map { i =>
      (1707000000L + 100L * f + i, 0L,
        ipv4UdpFrame(Array[Byte](10, 99, f.toByte, i.toByte),
          Array[Byte](192.toByte, 0, 2, 77), 42000 + i, 9999, ttl = 64,
          payload = new Array[Byte](16 + 8 * f)))
    }

  /** The typosquat fixture's "popular domain" allowlist (what a
    * production deployment would broadcast from a reference table). */
  val popularDomains: Seq[String] = Seq("google.com", "facebook.com",
    "paypal.com", "microsoft.com", "netflix.com", "amazon.com",
    "apple.com", "github.com")

  /** Lookalike (1-2 edit) domains, each derived from a known popular
    * domain, plus which one it squats. */
  val typoDomains: Seq[(String, String)] = Seq(
    ("gooogle.com", "google.com"),     // insertion
    ("paypa1.com", "paypal.com"),      // digit substitution
    ("rnicrosoft.com", "microsoft.com"), // rn-for-m (2 edits)
    ("netfl1x.com", "netflix.com"),    // digit substitution
    ("arnazon.com", "amazon.com"),     // rn-for-m (2 edits)
    ("gituhb.com", "github.com"))      // transposition (2 edits)

  /** Deterministic DNS-query capture for typosquat detection: query i
    * (client 10.96.hi.lo → resolver 1.0.0.1) asks, rotating,
    *  - i % 3 == 0: a popular domain (`popularDomains(i % 8)`);
    *  - i % 3 == 1: a typo domain (`typoDomains((i / 3) % 6)` — the
    *    rotation divides by the stride first so ALL six lookalikes
    *    appear, not just the indices congruent to 1 mod gcd(3,6));
    *  - i % 3 == 2: an unrelated control (`svc{i%10}.example.org`,
    *    > 2 edits from every allowlist entry). */
  def typoDnsPackets(n: Int): Seq[(Long, Long, Array[Byte])] = {
    val resolver = Array[Byte](1, 0, 0, 1)
    (0 until n).map { i =>
      val qname = (i % 3) match {
        case 0 => popularDomains(i % popularDomains.size)
        case 1 => typoDomains((i / 3) % typoDomains.size)._1
        case _ => s"svc${i % 10}.example.org"
      }
      (1708000000L + i, (i % 1000) * 997L,
        ipv4UdpFrame(Array[Byte](10, 96, (i >> 8).toByte, i.toByte),
          resolver, 51000 + (i % 10000), 53, ttl = 63,
          payload = dnsQuery(0x4000 + (i & 0xFFF), qname)))
    }
  }

  def ensureTypoDnsFile(path: java.nio.file.Path, n: Int): Unit =
    if (!java.nio.file.Files.exists(path))
      writeAtomic(path, file(typoDnsPackets(n)))

  def ensureCapinfoDir(dir: java.nio.file.Path, nFiles: Int): Unit = {
    java.nio.file.Files.createDirectories(dir)
    for (f <- 0 until nFiles) {
      val p = dir.resolve(f"cap$f%02d.pcap")
      if (!java.nio.file.Files.exists(p))
        writeAtomic(p, file(capinfoPackets(f)))
    }
  }

  /** Deterministic TCP connection mix for the connection census:
    * connection i (client 10.97.hi.lo:40000+i → server
    * 192.0.2.(40 + i%4):443) plays, rotating on i % 5,
    *  - 0 "attempt": 3 client SYNs (retries), server never answers;
    *  - 1 "refused": SYN, then RST|ACK from the server;
    *  - 2 "closed": full handshake, 100 B up / 200 B down, orderly
    *    FIN/FIN/ACK teardown;
    *  - 3 "reset": handshake + 100 B of data, then a server RST;
    *  - 4 "open": handshake + 2×100 B up / 2×200 B down, no close.
    * Every SYN carries the ECE|CWR bits on every 2nd connection, so an
    * equality-matched flag test would misclassify half the fixture
    * (RFC 3168 §6.1.1 — the TcpFlag rationale). */
  def connCensusPackets(n: Int): Seq[(Long, Long, Array[Byte])] = {
    val out = Seq.newBuilder[(Long, Long, Array[Byte])]
    val SYN = 0x02; val ACK = 0x10; val FIN = 0x01
    val RST = 0x04; val PSH = 0x08; val ECN = 0xC0
    for (i <- 0 until n) {
      val cl = Array[Byte](10, 97, (i >> 8).toByte, i.toByte)
      val sv = Array[Byte](192.toByte, 0, 2, (40 + i % 4).toByte)
      val sp = 40000 + (i % 20000)
      val ts = 1709000000L + i
      var us = 0L
      def pkt(src: Array[Byte], dst: Array[Byte], s: Int, d: Int,
          fl: Int, pl: Int): Unit = {
        out += ((ts, us, ipv4TcpFrame(src, dst, s, d, ttl = 62,
          payload = new Array[Byte](pl), seq = 1L + us, flags = fl,
          window = 64240)))
        us += 1000L
      }
      val synFl = SYN | (if (i % 2 == 0) ECN else 0)
      (i % 5) match {
        case 0 => // attempt: SYN ×3, silence
          pkt(cl, sv, sp, 443, synFl, 0)
          pkt(cl, sv, sp, 443, synFl, 0)
          pkt(cl, sv, sp, 443, synFl, 0)
        case 1 => // refused
          pkt(cl, sv, sp, 443, synFl, 0)
          pkt(sv, cl, 443, sp, RST | ACK, 0)
        case 2 => // closed
          pkt(cl, sv, sp, 443, synFl, 0)
          pkt(sv, cl, 443, sp, SYN | ACK, 0)
          pkt(cl, sv, sp, 443, ACK, 0)
          pkt(cl, sv, sp, 443, PSH | ACK, 100)
          pkt(sv, cl, 443, sp, PSH | ACK, 200)
          pkt(cl, sv, sp, 443, FIN | ACK, 0)
          pkt(sv, cl, 443, sp, FIN | ACK, 0)
          pkt(cl, sv, sp, 443, ACK, 0)
        case 3 => // reset mid-stream
          pkt(cl, sv, sp, 443, synFl, 0)
          pkt(sv, cl, 443, sp, SYN | ACK, 0)
          pkt(cl, sv, sp, 443, ACK, 0)
          pkt(cl, sv, sp, 443, PSH | ACK, 100)
          pkt(sv, cl, 443, sp, RST, 0)
        case _ => // open, never torn down
          pkt(cl, sv, sp, 443, synFl, 0)
          pkt(sv, cl, 443, sp, SYN | ACK, 0)
          pkt(cl, sv, sp, 443, ACK, 0)
          pkt(cl, sv, sp, 443, PSH | ACK, 100)
          pkt(sv, cl, 443, sp, PSH | ACK, 200)
          pkt(cl, sv, sp, 443, PSH | ACK, 100)
          pkt(sv, cl, 443, sp, PSH | ACK, 200)
      }
    }
    out.result()
  }

  def ensureConnCensusFile(path: java.nio.file.Path, n: Int): Unit =
    if (!java.nio.file.Files.exists(path))
      writeAtomic(path, file(connCensusPackets(n)))

  /** Deterministic bursty UDP traffic for idle-timeout flow export:
    * directed 5-tuple i (client 10.99.hi.lo:50000+i → server
    * 192.0.2.(50 + i%3):514) sends 3 bursts 120 s apart (> the 60 s
    * idle timeout, so each burst is its own flow record); burst b has
    * `1 + (i + b) % 3` packets one second apart, each carrying
    * `20 + (i % 5) * 10` payload bytes. Within a burst the 1 s spacing
    * sits far below the timeout, so no burst ever splits. */
  def flowExportPackets(n: Int): Seq[(Long, Long, Array[Byte])] = {
    val out = Seq.newBuilder[(Long, Long, Array[Byte])]
    for (i <- 0 until n; b <- 0 until 3) {
      val cl = Array[Byte](10, 99, (i >> 8).toByte, i.toByte)
      val sv = Array[Byte](192.toByte, 0, 2, (50 + i % 3).toByte)
      val base = 1710000000L + i * 7L + b * 120L
      for (k <- 0 until (1 + (i + b) % 3))
        out += ((base + k, (i % 1000) * 41L,
          ipv4UdpFrame(cl, sv, 50000 + i, 514, ttl = 61,
            payload = new Array[Byte](20 + (i % 5) * 10))))
    }
    out.result()
  }

  def ensureFlowExportFile(path: java.nio.file.Path, n: Int): Unit =
    if (!java.nio.file.Files.exists(path))
      writeAtomic(path, file(flowExportPackets(n)))

  /** DNS response payload with per-answer (type, TTL, rdata) triples —
    * the TTL-carrying sibling of [[dnsResponseAnswers]] (which pins
    * every answer at 300 s), for detectors that read the TTL field. */
  def dnsResponseAnswersTtl(id: Int, qname: String,
      answers: Seq[(Int, Long, Array[Byte])]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write(be16(id)); out.write(be16(0x8180))
    out.write(be16(1)); out.write(be16(answers.size))
    out.write(be16(0)); out.write(be16(0))
    out.write(encodeName(qname))
    out.write(be16(1)); out.write(be16(1))
    answers.foreach { case (t, ttl, rd) =>
      out.write(Array[Byte](0xC0.toByte, 0x0C))
      out.write(be16(t)); out.write(be16(1))
      out.write(be32(ttl)); out.write(be16(rd.length)); out.write(rd)
    }
    out.toByteArray
  }

  /** The fast-flux fixture's per-population A-record pools. */
  def fastfluxIp(pop: Int, idx: Int): Array[Byte] = pop match {
    // flux pool: 30 addresses across 30 DISTINCT /24s
    case 0 => Array[Byte](203.toByte, idx.toByte, 113, 7)
    // CDN pool: 12 addresses inside ONE /24 (low TTL but no subnet
    // diversity — the population that separates flux from CDN)
    case 1 => Array[Byte](151.toByte, 101, 64, idx.toByte)
    // single stable host
    case 2 => Array[Byte](192.toByte, 0, 2, 80)
    // second flux pool: 20 addresses across 20 /24s
    case _ => Array[Byte](100, (64 + idx).toByte, 0, 9)
  }

  /** Deterministic resolver-response capture for fast-flux detection:
    * response i (resolver 1.0.0.1:53 → client 10.98.hi.lo) answers,
    * rotating on i % 4,
    *  - 0 "cdn-flux.bad": 3 A records `fastfluxIp(0, (i/4*3+k)%30)`,
    *    TTL 60 — wide pool, wide subnets, low TTL → flux;
    *  - 1 "static.bigcdn.com": 3 A records from the one-/24 CDN pool
    *    `(i/4*3+k)%12`, TTL 30 — low TTL but NO subnet spread;
    *  - 2 "www.corp.example": one A, TTL 3600 — stable;
    *  - 3 "login-update.bad": 2 A records `fastfluxIp(3, (i/4*2+k)%20)`,
    *    TTL 120 → flux. */
  def fastfluxPackets(n: Int): Seq[(Long, Long, Array[Byte])] = {
    val resolver = Array[Byte](1, 0, 0, 1)
    (0 until n).map { i =>
      val j = i / 4
      val (qname, answers) = (i % 4) match {
        case 0 => ("cdn-flux.bad",
          (0 until 3).map(k => (1, 60L, fastfluxIp(0, (j * 3 + k) % 30))))
        case 1 => ("static.bigcdn.com",
          (0 until 3).map(k => (1, 30L, fastfluxIp(1, (j * 3 + k) % 12))))
        case 2 => ("www.corp.example", Seq((1, 3600L, fastfluxIp(2, 0))))
        case _ => ("login-update.bad",
          (0 until 2).map(k => (1, 120L, fastfluxIp(3, (j * 2 + k) % 20))))
      }
      (1711000000L + i, (i % 1000) * 409L,
        ipv4UdpFrame(resolver, Array[Byte](10, 98, (i >> 8).toByte, i.toByte),
          53, 52000 + (i % 1000), ttl = 58,
          payload = dnsResponseAnswersTtl(0x5000 + (i & 0xFFF), qname,
            answers)))
    }
  }

  def ensureFastfluxFile(path: java.nio.file.Path, n: Int): Unit =
    if (!java.nio.file.Files.exists(path))
      writeAtomic(path, file(fastfluxPackets(n)))

  /** Base64 of `user{u}:pw{u}` — the fixture's HTTP Basic token. */
  def basicToken(u: Int): String =
    java.util.Base64.getEncoder.encodeToString(
      s"user$u:pw$u".getBytes("US-ASCII"))

  /** Deterministic cleartext-credential traffic: session i (client
    * 10.95.hi.lo) plays, rotating on i % 5,
    *  - 0: HTTP GET to 192.0.2.(60 + i%2):80 with
    *    `authorization: Basic basicToken(i % 8)` — lowercase header
    *    name on every 2nd session (RFC 9112 field names are
    *    case-insensitive, so a case-sensitive detector drops half);
    *  - 1: HTTP GET without credentials (control);
    *  - 2: FTP USER alice{i%4} then PASS s3cret, both → 192.0.2.70:21;
    *  - 3: FTP server banner FROM port 21 (control — src, not dst);
    *  - 4: binary traffic to 443 (control). */
  def credsPackets(n: Int): Seq[(Long, Long, Array[Byte])] = {
    val out = Seq.newBuilder[(Long, Long, Array[Byte])]
    for (i <- 0 until n) {
      val cl = Array[Byte](10, 95, (i >> 8).toByte, i.toByte)
      val sp = 45000 + (i % 20000)
      val ts = 1712000000L + i
      def tcp(dst: Array[Byte], dport: Int, pl: Array[Byte],
          us: Long): Unit =
        out += ((ts, us, ipv4TcpFrame(cl, dst, sp, dport, ttl = 60,
          payload = pl, seq = 1L, flags = 0x18, window = 64240)))
      (i % 5) match {
        case 0 =>
          val hdr = if (i % 2 == 0) "Authorization" else "authorization"
          tcp(Array[Byte](192.toByte, 0, 2, (60 + i % 2).toByte), 80,
            (s"GET /private HTTP/1.1\r\nHost: intranet\r\n" +
              s"$hdr: Basic ${basicToken(i % 8)}\r\n\r\n")
              .getBytes("US-ASCII"), 0L)
        case 1 =>
          tcp(Array[Byte](192.toByte, 0, 2, 60), 80,
            "GET /public HTTP/1.1\r\nHost: intranet\r\n\r\n"
              .getBytes("US-ASCII"), 0L)
        case 2 =>
          val ftp = Array[Byte](192.toByte, 0, 2, 70)
          tcp(ftp, 21, s"USER alice${i % 4}\r\n".getBytes("US-ASCII"), 0L)
          tcp(ftp, 21, "PASS s3cret\r\n".getBytes("US-ASCII"), 500L)
        case 3 =>
          out += ((ts, 0L, ipv4TcpFrame(Array[Byte](192.toByte, 0, 2, 70),
            cl, 21, sp, ttl = 60,
            payload = "230 Login successful\r\n".getBytes("US-ASCII"),
            seq = 1L, flags = 0x18, window = 64240)))
        case _ =>
          tcp(Array[Byte](192.toByte, 0, 2, 61), 443,
            Array[Byte](0x16, 0x03, 0x01, 0x00, 0x10), 0L)
      }
    }
    out.result()
  }

  def ensureCredsFile(path: java.nio.file.Path, n: Int): Unit =
    if (!java.nio.file.Files.exists(path))
      writeAtomic(path, file(credsPackets(n)))
}
