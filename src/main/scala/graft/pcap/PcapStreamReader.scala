package graft.pcap

import java.io.{IOException, InputStream}

/** Which optional work the decoder performs. Column pruning in the Spark
  * source maps requested columns onto these switches so unrequested work
  * (DNS parse, MD5 digest, payload retention) is skipped entirely — an
  * improvement over the reference, which always decodes every field and
  * lets the Hive SerDe drop them afterwards (SURVEY.md §4).
  */
final case class DecodeOptions(
    appDecoder: Option[PayloadDecoder] = None,
    md5: Boolean = false,
    keepPayload: Boolean = false,
    /** false when no dns_answer/dns_authority/dns_additional column is
      * requested: the decoder still walks (and validates) the RR
      * sections but skips building their presentation strings. */
    dnsSections: Boolean = true,
    /** false when `udpsum` is not requested: skips the one's-complement
      * checksum loop over the whole UDP segment — an O(payload) cost per
      * packet that dominates pruned telemetry projections. */
    udpsum: Boolean = true,
    /** false when neither `src` nor `dst` is requested: skips formatting
      * the two IP address strings per packet. */
    addrStrings: Boolean = true,
    /** false when `ext_headers` is not requested: the v6 extension chain
      * is still walked (the L4 offset depends on it) but the bracketed
      * chain string is not built. */
    extHeaderStrings: Boolean = true,
    /** true when the `frame` column is requested: retain a copy of the
      * raw captured frame (enables exact pcap re-export via the sink). */
    keepFrame: Boolean = false,
    /** false when none of tcp_mss/tcp_wscale/tcp_sack_ok/tcp_ts_ok is
      * requested: skips the TCP option-region walk (bounded ≤ 40 bytes
      * per packet, but zero is still cheaper). */
    tcpOptions: Boolean = true,
    /** false when `dns_qname` is not requested: the question name is
      * still walked and validated, but its string is not built. */
    dnsQname: Boolean = true)

object DecodeOptions {
  /** Convenience for the common case. */
  def dns: DecodeOptions = DecodeOptions(appDecoder = Some(DnsPayloadDecoder))
}

/** Streaming classic-libpcap decoder: validates the 24-byte global header,
  * then decodes one packet per [[advance]] into the reader's reused
  * [[PacketSlot]] (no per-packet allocation — this loop runs per packet
  * at 100 TB); as an iterator it yields one [[PacketRecord]] per packet.
  *
  * Semantics match the reference decoder
  * (hadoop-pcap-lib/.../PcapReader.java) — see the quirk register in
  * SURVEY.md §7.5. Notable parity points:
  *   - classic-libpcap container; beyond the reference (which accepts
  *     only LE-microsecond files, PcapReader.java:107) the big-endian
  *     and nanosecond magic variants are auto-detected and decoded
  *     (nanos truncate to micros); pcapng is handled by
  *     [[PcapNgStreamReader]] via the [[PacketReaders]] sniffer;
  *   - link types NULL(0)/EN10MB(1)/RAW(101)/LOOP(108) only
  *     (PcapReader.java:238-254), others throw at open;
  *   - empty stream yields zero packets without error
  *     (PcapReader.java:94-105);
  *   - truncated packet body yields a record carrying only `ts`
  *     (PcapReader.java:177-180);
  *   - one 802.1Q tag unwrapped; QinQ → no IP decode
  *     (PcapReader.java:288-295);
  *   - L4 decode only for TCP/UDP (PcapReader.java:199-217);
  *   - DNS decode only for UDP port 53 — DNS-over-TCP keeps its 2-byte
  *     length prefix and never parses in the reference (dnsjava), so we
  *     don't attempt it (DnsPcapReader.java:38,53-55).
  *
  * Deliberate fixes (flagged per SURVEY.md §7.5):
  *   - IPv6 UDP checksum uses a real IPv6 pseudo-header (the reference
  *     reuses IPv4 offsets on the v6 path — garbage results,
  *     PcapReader.java:140-141);
  *   - the IPv6 extension-header walk advances by the RFC 8200 sizes
  *     ((hdrExtLen+1)*8; AH (len+2)*4) — the reference advances by
  *     `1 + len` bytes (PcapReader.java:409-413), which misparses every
  *     real extension chain.
  */
final class PcapStreamReader(
    in: InputStream,
    options: DecodeOptions = DecodeOptions())
  extends PacketReader {

  import PcapStreamReader._

  private val is = new FastIn(in)
  private var eof = false
  private val hdrBuf = new Array[Byte](PacketHeaderSize)

  // Container variant, detected from the magic (extension beyond the
  // reference, which accepts little-endian microsecond files only,
  // PcapReader.java:107): big-endian writers and nanosecond-resolution
  // captures (tcpdump --nano) decode transparently. Nanosecond stamps
  // truncate to the microsecond column precision.
  private var bigEndian = false
  private var nanoRes = false

  private def cu32(b: Array[Byte], off: Int): Long =
    if (bigEndian) ((b(off) & 0xFFL) << 24) | ((b(off + 1) & 0xFFL) << 16) |
      ((b(off + 2) & 0xFFL) << 8) | (b(off + 3) & 0xFFL)
    else leU32(b, off)

  /** -1 only for an empty stream (parity: "skipping empty file"). */
  private val linkType: Int = {
    val hdr = new Array[Byte](GlobalHeaderSize)
    if (!readFully(hdr)) {
      if (!eof) throw new IOException("Couldn't read PCAP header")
      -1
    } else {
      leU32(hdr, 0) match {
        case Magic => ()
        case MagicNano => nanoRes = true
        case MagicBe => bigEndian = true
        case MagicBeNano => bigEndian = true; nanoRes = true
        case _ =>
          throw new IOException("Not a PCAP file (Couldn't find magic number)")
      }
      val lt = cu32(hdr, 20).toInt
      if (!SupportedLinkTypes.contains(lt))
        throw new IOException(s"Unsupported link type: $lt")
      lt
    }
  }

  private val frameDecoder = new FrameDecoder(options)

  private def readFully(buf: Array[Byte]): Boolean = {
    val ok = is.readFully(buf)
    if (!ok && is.eof) eof = true
    ok
  }

  override def advance(): Boolean = {
    if (linkType < 0 || !readFully(hdrBuf)) return false

    val tsSec = cu32(hdrBuf, 0)
    val tsSub = cu32(hdrBuf, 4)
    val tsUsec = if (nanoRes) tsSub / 1000 else tsSub
    val capLen = cu32(hdrBuf, 8)
    // corrupt-header guard: a fuzzed/truncated capture can carry a bogus
    // length (u32 up to 4 GiB) — fail cleanly instead of attempting the
    // allocation (snaplen-sized frames are < 64 KiB; jumbo captures stay
    // far under this bound)
    if (capLen > MaxCapturedLength)
      throw new IOException(s"corrupt pcap: captured length $capLen")

    val s = slot
    s.clear()
    s.ts = tsSec
    s.tsMicro = tsSec * 1000000L + tsUsec
    s.present = PacketSlot.Ts | PacketSlot.TsMicro
    s.recordBytes = PacketHeaderSize

    val len = capLen.toInt
    if (len > frameBuf.length)
      frameBuf = new Array[Byte](math.max(len, frameBuf.length * 2))
    if (!readFully(frameBuf, len))
      return true // truncated body -> ts-only record

    s.size = capLen
    s.present |= PacketSlot.Size
    s.recordBytes += capLen
    frameDecoder.decode(s, frameBuf, 0, len, linkType)
    true
  }

  // frames decode in place from this reusable buffer; the slot points
  // into it until the next advance()
  private var frameBuf = new Array[Byte](64 * 1024)

  private def readFully(buf: Array[Byte], len: Int): Boolean = {
    val ok = is.readFully(buf, len)
    if (!ok && is.eof) eof = true
    ok
  }
}

object PcapStreamReader {
  val Magic = 0xA1B2C3D4L
  /** nanosecond-resolution variant (tcpdump --nano), read little-endian */
  val MagicNano = 0xA1B23C4DL
  /** the same magics as seen when the writer was big-endian */
  val MagicBe = 0xD4C3B2A1L
  val MagicBeNano = 0x4D3CB2A1L
  val GlobalHeaderSize = 24
  val PacketHeaderSize = 16
  /** sanity bound for per-packet captured length (fuzz guard) */
  val MaxCapturedLength = 64L << 20
  /** Null/loopback, Ethernet, raw IP, OpenBSD loopback, Linux cooked
    * v1 (SLL, `tcpdump -i any`), SLL2. */
  val SupportedLinkTypes: Set[Int] = Set(0, 1, 101, 108, 113, 276)
  val NoNextHeader = 59
  val FragmentHeader = 44
  val AuthHeader = 51

  val ProtocolNames: Map[Int, String] = Map(
    1 -> "ICMP", 6 -> "TCP", 17 -> "UDP",
    46 -> "RSVP", 47 -> "GRE", 58 -> "ICMPv6")

  val ExtHeaderNames: Map[Int, String] = Map(
    0 -> "HopByHop", 43 -> "Routing", 44 -> "Fragment",
    50 -> "ESP", 51 -> "AuthHeader", 60 -> "DestOpts", 135 -> "Mobility")

  // protocol ids are one byte; a HashMap.getOrElse here boxes the Int and
  // shows up in decode profiles at ~30 M packets/s — precompute all 256
  // names (and their Some wrappers, saving the per-packet allocation)
  private val ProtocolNameArr: Array[String] =
    Array.tabulate(256)(i => ProtocolNames.getOrElse(i, i.toString))
  private[pcap] val ProtocolSomeArr: Array[Some[String]] =
    ProtocolNameArr.map(Some(_))

  def protocolName(id: Int): String =
    if (id >= 0 && id < 256) ProtocolNameArr(id) else id.toString

  def leU32(b: Array[Byte], off: Int): Long =
    ((b(off + 3) & 0xFFL) << 24) | ((b(off + 2) & 0xFFL) << 16) |
    ((b(off + 1) & 0xFFL) << 8) | (b(off) & 0xFFL)

  def beU16(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xFF) << 8) | (b(off + 1) & 0xFF)

  /** Ethertype display name; "" for non-Ethernet links
    * (PcapReader.java:257-281). */
  def etherTypeName(linkType: Int, frame: Array[Byte]): String =
    etherTypeName(linkType, frame, 0, frame.length)

  private[pcap] def etherTypeName(linkType: Int, data: Array[Byte],
      off: Int, end: Int): String = {
    // the offset of the EtherType-style protocol field, per link type:
    // Ethernet after the MACs; Linux cooked (SLL, `tcpdump -i any`)
    // carries it at +14 of its 16-byte pseudo-header; SLL2 at +0 of 20
    val protoOff = linkType match {
      case 1            => off + 12
      case 113          => off + 14
      case 276          => off
      case _            => -1
    }
    if (protoOff < 0 || end - protoOff < 2) ""
    else beU16(data, protoOff) match {
      case 0x0800 => "IPv4"
      case 0x0806 => "arp"
      case 0x8035 => "rarp"
      case 0x86DD => "IPv6"
      case 0x8100 => "vlan"
      case 0x88A8 => "qinq"
      case 0x8847 => "mpls"    // unicast label stack (RFC 3032)
      case 0x8848 => "mpls-mc" // multicast/upstream-assigned
      case other => f"0x$other%04x"
    }
  }

  /** Offset of the IP header in the frame, None when not IP
    * (PcapReader.java:283-303): one 802.1Q tag unwrapped on Ethernet. */
  def ipStart(linkType: Int, frame: Array[Byte]): Option[Int] = {
    val i = ipStartIdx(linkType, frame, 0, frame.length)
    if (i < 0) None else Some(i)
  }

  /** Allocation-free variant for the per-packet loop: -1 when not IP.
    * Returns an absolute index into `data` (frame at `[off, end)`). */
  private[pcap] def ipStartIdx(linkType: Int, data: Array[Byte],
      off: Int, end: Int): Int =
    linkType match {
      case 0 | 101 => off
      case 108 => off + 4
      case 1 =>
        if (end - off < 14) -1
        else {
          // unwrap up to TWO tags: one 802.1Q (the reference's case,
          // PcapReader.java:283-303) or an 802.1ad QinQ service tag
          // (0x88A8, or legacy double-0x8100) over a customer tag
          var start = off + 14
          var et = beU16(data, off + 12)
          var tags = 0
          while (tags < 2 && (et == 0x8100 || et == 0x88A8) &&
              end - start >= 4) {
            et = beU16(data, start + 2)
            start += 4
            tags += 1
          }
          ipAfterEtherType(data, et, start, end)
        }
      case 113 => // Linux cooked capture v1: 16-byte header, proto last
        if (end - off < 16) -1
        else ipAfterEtherType(data, beU16(data, off + 14), off + 16, end)
      case 276 => // SLL2: 20-byte header, proto FIRST (then ifindex etc.)
        if (end - off < 20) -1
        else ipAfterEtherType(data, beU16(data, off), off + 20, end)
      case _ => -1
    }

  /** IP header offset given the resolved ethertype and the payload
    * start: direct for 0x0800/0x86DD; for MPLS (0x8847/0x8848,
    * carrier/backbone captures wrapping IP in label stacks) walk the
    * 4-byte label entries to the bottom-of-stack bit, then sniff the
    * IP version nibble — RFC 3032 gives the payload no explicit type
    * field, and 4/6 are the only payloads this decoder parses (an
    * Ethernet pseudowire yields -1, honestly non-IP). */
  private[pcap] def ipAfterEtherType(data: Array[Byte], et: Int,
      start: Int, end: Int): Int =
    if (et == 0x0800 || et == 0x86DD) start
    else if (et == 0x8847 || et == 0x8848) {
      val p = mplsPayloadStart(data, start, end)
      if (p >= 0 && p < end) {
        val v = (data(p) >> 4) & 0xF
        if (v == 4 || v == 6) p else -1
      } else -1
    } else -1

  /** Offset just past the MPLS label stack (first entry at `start`),
    * or -1 when the captured bytes end before a bottom-of-stack bit —
    * a truncated stack must not be decoded as IP. */
  private[pcap] def mplsPayloadStart(data: Array[Byte], start: Int,
      end: Int): Int = {
    var p = start
    while (end - p >= 4) {
      val bos = (data(p + 2) & 0x1) != 0
      p += 4
      if (bos) return p
    }
    -1
  }

  /** Offset of the first MPLS label-stack entry (after any 802.1Q/ad
    * tags on Ethernet — VLAN-then-MPLS is the common carrier shape),
    * or -1 when the frame is not MPLS. */
  private[pcap] def mplsStackStart(linkType: Int, data: Array[Byte],
      off: Int, end: Int): Int = linkType match {
    case 1 =>
      if (end - off < 14) -1
      else {
        var start = off + 14
        var et = beU16(data, off + 12)
        var tags = 0
        while (tags < 2 && (et == 0x8100 || et == 0x88A8) &&
            end - start >= 4) {
          et = beU16(data, start + 2)
          start += 4
          tags += 1
        }
        if (et == 0x8847 || et == 0x8848) start else -1
      }
    case 113 =>
      if (end - off < 16) -1
      else {
        val et = beU16(data, off + 14)
        if (et == 0x8847 || et == 0x8848) off + 16 else -1
      }
    case 276 =>
      if (end - off < 20) -1
      else {
        val et = beU16(data, off)
        if (et == 0x8847 || et == 0x8848) off + 20 else -1
      }
    case _ => -1
  }

  def ipv4String(b: Array[Byte], off: Int): String = {
    val out = new Array[Byte](15)
    new String(out, 0, ipv4Text(b, off, out),
      java.nio.charset.StandardCharsets.ISO_8859_1)
  }

  /** RFC-form IPv6 text matching PcapReaderUtil.convertIPv6Address, i.e.
    * `InetAddress.getHostAddress` (java.net formatting, no `::`
    * compression; an IPv4-mapped address prints as dotted quad). */
  def ipv6String(b: Array[Byte], off: Int): String = {
    val out = new Array[Byte](39)
    new String(out, 0, ipv6Text(b, off, out),
      java.nio.charset.StandardCharsets.ISO_8859_1)
  }

  /** Dotted-quad text of `b[off, off+4)` into `out` from index 0;
    * returns its length (at most 15). */
  private[graft] def ipv4Text(b: Array[Byte], off: Int,
      out: Array[Byte]): Int = {
    var n = 0
    var i = 0
    while (i < 4) {
      if (i > 0) { out(n) = '.'; n += 1 }
      val t = OctetText(b(off + i) & 0xFF)
      System.arraycopy(t, 0, out, n, t.length)
      n += t.length
      i += 1
    }
    n
  }

  /** decimal text of 0..255 */
  private val OctetText: Array[Array[Byte]] = Array.tabulate(256)(
    _.toString.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))

  private val HexDigits = "0123456789abcdef".getBytes(
    java.nio.charset.StandardCharsets.ISO_8859_1)

  /** [[ipv6String]]'s text of `b[off, off+16)` into `out` from index 0;
    * returns its length (at most 39). */
  private[graft] def ipv6Text(b: Array[Byte], off: Int,
      out: Array[Byte]): Int = {
    // java.net turns an IPv4-mapped address (::ffff:a.b.c.d) into an
    // Inet4Address, which prints as a dotted quad
    var z = 0
    while (z < 10 && b(off + z) == 0) z += 1
    if (z == 10 && b(off + 10) == -1 && b(off + 11) == -1)
      return ipv4Text(b, off + 12, out)
    var n = 0
    var g = 0
    while (g < 8) {
      if (g > 0) { out(n) = ':'; n += 1 }
      val v = ((b(off + 2 * g) & 0xFF) << 8) | (b(off + 2 * g + 1) & 0xFF)
      var shift = 12
      while (shift > 0 && (v >>> shift) == 0) shift -= 4
      while (shift >= 0) {
        out(n) = HexDigits((v >>> shift) & 0xF)
        n += 1
        shift -= 4
      }
      g += 1
    }
    n
  }

  def upperHex(bytes: Array[Byte]): String = {
    val sb = new StringBuilder(bytes.length * 2)
    bytes.foreach(b => sb.append(f"${b & 0xFF}%02X"))
    sb.toString
  }
}
