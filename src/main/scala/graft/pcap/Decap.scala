package graft.pcap

/** Tunnel decapsulation — VXLAN (RFC 7348) to start. The reference has
  * no tunnel handling at all (an encapsulated capture decodes as
  * opaque outer UDP, `PcapReader.java` stops at L4); real capture
  * estates are full of VXLAN (every overlay datacenter fabric), where
  * the analytically-interesting flow is the INNER one.
  *
  * Decap reuses the one [[FrameDecoder]] for the inner Ethernet frame
  * — the inner packet gets the same L2/L3/L4/DNS treatment (and the
  * same fuzz-hardened bounds behavior) as a top-level frame, rather
  * than a second hand-rolled parser that would drift. Exposed as a
  * plain function over the `payload` column so the operator side stays
  * a normal DataFrame plan (filter on outer port 4789 → decap →
  * aggregate); a malformed or non-VXLAN payload yields None, never a
  * throw (untrusted capture bytes).
  */
object Decap extends Serializable {

  /** Inner-packet fields the VXLAN queries consume. Flattened (not the
    * full PacketRecord) so it has a clean implicit Encoder for
    * Dataset.mapPartitions. */
  final case class VxlanInner(
      vni: Int,
      src: String, dst: String,
      protocol: String,
      srcPort: Int, dstPort: Int,
      dnsQname: Option[String],
      dnsRcode: Option[String])

  /** IANA-assigned VXLAN outer UDP destination port. */
  val VxlanPort = 4789

  // one decoder and slot per thread: both are cheap but mutable, and
  // mapPartitions tasks share the object across rows
  private final class Inner {
    val decoder = new FrameDecoder(DecodeOptions(
      appDecoder = Some(DnsPayloadDecoder),
      udpsum = false, extHeaderStrings = false, dnsSections = false))
    val slot = new PacketSlot
  }
  private val inners =
    new ThreadLocal[Inner] {
      override def initialValue(): Inner = new Inner
    }

  /** Decap one outer-UDP payload. RFC 7348 §5: 8-byte header — flags
    * (bit 3 = "VNI valid", MUST be set), 24-bit VNI at bytes 4-6 —
    * then the inner Ethernet frame. */
  def vxlan(payload: Array[Byte]): Option[VxlanInner] = {
    if (payload == null || payload.length < 8 + 14) return None
    if ((payload(0) & 0x08) == 0) return None
    val vni = ((payload(4) & 0xFF) << 16) |
      ((payload(5) & 0xFF) << 8) | (payload(6) & 0xFF)
    innerOf(payload, 8, linkType = 1).map(f =>
      VxlanInner(vni, f.src, f.dst, f.protocol, f.srcPort,
        f.dstPort, f.dnsQname, f.dnsRcode))
  }

  /** GENEVE-decapped inner packet; `nOptions` counts the variable-
    * length TLV options the header carried (the walk validates that
    * they exactly tile the declared option length). */
  final case class GeneveInner(
      vni: Int,
      nOptions: Int,
      src: String, dst: String,
      protocol: String,
      srcPort: Int, dstPort: Int,
      dnsQname: Option[String],
      dnsRcode: Option[String])

  /** IANA-assigned GENEVE outer UDP destination port (RFC 8926 §3.3). */
  val GenevePort = 6081

  /** Decap one GENEVE payload (RFC 8926 §3) — the third datacenter
    * overlay standard after VXLAN and GRE: 8-byte base header — 2-bit
    * version (must be 0), 6-bit option length in 4-byte words, O flag
    * (control packet — not a data frame, skipped: its payload need not
    * be a packet at all), C flag, 16-bit protocol type, 24-bit VNI —
    * then the TLV options (4-byte header each: class, type, 5-bit data
    * length in 4-byte words), then the inner packet. Protocol 0x6558
    * (Transparent Ethernet Bridging) carries an inner Ethernet frame;
    * 0x0800/0x86DD carry raw inner IP — both decode through the same
    * shared [[FrameDecoder]] as every other tunnel. A malformed
    * header, an option walk that does not tile the declared length,
    * or an unknown protocol type yields None, never a throw. */
  def geneve(payload: Array[Byte]): Option[GeneveInner] = {
    if (payload == null || payload.length < 8) return None
    if (((payload(0) >> 6) & 0x3) != 0) return None  // version != 0
    if ((payload(1) & 0x80) != 0) return None        // O: control packet
    val optLen = (payload(0) & 0x3F) * 4
    val innerOff = 8 + optLen
    if (payload.length < innerOff) return None
    val ptype = ((payload(2) & 0xFF) << 8) | (payload(3) & 0xFF)
    val vni = ((payload(4) & 0xFF) << 16) |
      ((payload(5) & 0xFF) << 8) | (payload(6) & 0xFF)
    // options walk: headers + bodies must EXACTLY tile optLen — an
    // option body running past the declared length is malformed
    var o = 8
    var n = 0
    while (o < innerOff) {
      if (o + 4 > innerOff) return None
      o += 4 + (payload(o + 3) & 0x1F) * 4
      n += 1
    }
    if (o != innerOff) return None
    val lt = ptype match {
      case 0x6558 => 1            // inner Ethernet frame
      case 0x0800 | 0x86DD => 101 // raw inner IP
      case _ => return None
    }
    innerOf(payload, innerOff, linkType = lt).map(f =>
      GeneveInner(vni, n, f.src, f.dst, f.protocol, f.srcPort,
        f.dstPort, f.dnsQname, f.dnsRcode))
  }

  /** GRE-decapped inner packet; `key` is the RFC 2890 key word (the
    * tenant/tunnel id), 0 when the K flag is absent. */
  final case class GreInner(
      key: Long,
      src: String, dst: String,
      protocol: String,
      srcPort: Int, dstPort: Int,
      dnsQname: Option[String],
      dnsRcode: Option[String])

  /** Decap one GRE packet's IP payload (protocol 47; RFC 2784/2890):
    * 4-byte base header — C/K/S flags, version (must be 0), inner
    * ethertype — then optional checksum / key / sequence words, then
    * the inner IP packet DIRECTLY (no Ethernet; decoded via the RAW-IP
    * link type the decoder already supports). */
  def gre(payload: Array[Byte]): Option[GreInner] = {
    if (payload == null || payload.length < 4) return None
    val flags = ((payload(0) & 0xFF) << 8) | (payload(1) & 0xFF)
    if ((flags & 0x0007) != 0) return None // version != 0
    val et = ((payload(2) & 0xFF) << 8) | (payload(3) & 0xFF)
    if (et != 0x0800 && et != 0x86DD) return None
    var off = 4
    if ((flags & 0x8000) != 0) off += 4 // checksum + reserved
    val key =
      if ((flags & 0x2000) != 0) {
        if (payload.length < off + 4) return None
        val k = ((payload(off) & 0xFFL) << 24) |
          ((payload(off + 1) & 0xFFL) << 16) |
          ((payload(off + 2) & 0xFFL) << 8) | (payload(off + 3) & 0xFFL)
        off += 4
        k
      } else 0L
    if ((flags & 0x1000) != 0) off += 4 // sequence
    innerOf(payload, off, linkType = 101).map(f =>
      GreInner(key, f.src, f.dst, f.protocol, f.srcPort,
        f.dstPort, f.dnsQname, f.dnsRcode))
  }

  /** IP-in-IP-decapped inner packet; `innerV` is the inner IP version —
    * 4 (RFC 2003 IPv4-in-IPv4) or 6 (RFC 4213 "6in4"). */
  final case class IpipInner(
      innerV: Int,
      src: String, dst: String,
      protocol: String,
      srcPort: Int, dstPort: Int,
      dnsQname: Option[String],
      dnsRcode: Option[String])

  /** Decap one IP-in-IP payload (outer IP protocol 4 = IPv4-in-IPv4,
    * RFC 2003 §3; protocol 41 = IPv6-in-IPv4 "6in4", RFC 4213 §3):
    * unlike GRE/VXLAN there is NO shim header — the outer IP payload
    * IS the inner packet, decoded via the same RAW-IP link type as the
    * GRE path. The version nibble must agree with the outer protocol
    * number (4 → 4, 41 → 6); a mismatch is a malformed encapsulation,
    * refused rather than guessed at. */
  def ipip(outerProto: Int, payload: Array[Byte]): Option[IpipInner] = {
    if (payload == null || payload.length < 1) return None
    val v = (payload(0) >> 4) & 0xF
    val want =
      if (outerProto == 4) 4 else if (outerProto == 41) 6 else -1
    if (v != want) return None
    innerOf(payload, 0, linkType = 101).map(f =>
      IpipInner(v, f.src, f.dst, f.protocol, f.srcPort,
        f.dstPort, f.dnsQname, f.dnsRcode))
  }

  /** Parsed ARP message (RFC 826 over Ethernet/IPv4). */
  final case class ArpFields(oper: Int, sha: String, spa: String,
      tha: String, tpa: String)

  /** Parse one raw Ethernet frame as ARP (RFC 826): ethertype 0x0806,
    * htype 1 (Ethernet) / ptype 0x0800 (IPv4) / hlen 6 / plen 4 —
    * anything else (including truncation) yields None, never a throw.
    * Not an IP protocol, so this consumes the raw `frame` column
    * rather than the L3 payload the other decap functions use. */
  def arp(frame: Array[Byte]): Option[ArpFields] = {
    if (frame == null || frame.length < 14 + 28) return None
    if (((frame(12) & 0xFF) << 8 | (frame(13) & 0xFF)) != 0x0806)
      return None
    val o = 14
    if (((frame(o) & 0xFF) << 8 | (frame(o + 1) & 0xFF)) != 1) return None
    if (((frame(o + 2) & 0xFF) << 8 | (frame(o + 3) & 0xFF)) != 0x0800)
      return None
    if (frame(o + 4) != 6 || frame(o + 5) != 4) return None
    val oper = (frame(o + 6) & 0xFF) << 8 | (frame(o + 7) & 0xFF)
    def mac(at: Int): String =
      (0 until 6).map(k => f"${frame(at + k) & 0xFF}%02x").mkString(":")
    def ip(at: Int): String =
      (0 until 4).map(k => frame(at + k) & 0xFF).mkString(".")
    Some(ArpFields(oper, mac(o + 8), ip(o + 14), mac(o + 18), ip(o + 24)))
  }

  /** Parsed DHCP message (RFC 2131/2132). `serverId` is empty when
    * option 54 is absent; `msgType` from option 53 (required). */
  final case class DhcpFields(op: Int, xid: Long, yiaddr: String,
      chaddr: String, msgType: Int, serverId: Option[String])

  /** Parse one UDP payload as DHCP (RFC 2131 fixed header + magic
    * cookie + RFC 2132 options): walks the option TLVs bounds-safely
    * (truncated/looping options yield what was parsed before the
    * damage, a missing option 53 yields None — a BOOTP-only message
    * is not DHCP). Never throws on garbage. */
  def dhcp(payload: Array[Byte]): Option[DhcpFields] = {
    if (payload == null || payload.length < 240) return None
    if (payload(236) != 0x63 || (payload(237) & 0xFF) != 0x82 ||
        payload(238) != 0x53 || payload(239) != 0x63) return None
    val op = payload(0) & 0xFF
    if (op != 1 && op != 2) return None
    val xid = ((payload(4) & 0xFFL) << 24) | ((payload(5) & 0xFFL) << 16) |
      ((payload(6) & 0xFFL) << 8) | (payload(7) & 0xFFL)
    def ip(at: Int): String =
      (0 until 4).map(k => payload(at + k) & 0xFF).mkString(".")
    val hlen = math.min(payload(2) & 0xFF, 16)
    val chaddr = (0 until math.max(hlen, 1))
      .map(k => f"${payload(28 + k) & 0xFF}%02x").mkString(":")
    var msgType = -1
    var serverId: Option[String] = None
    var o = 240
    var done = false
    while (!done && o < payload.length) {
      val code = payload(o) & 0xFF
      if (code == 255) done = true
      else if (code == 0) o += 1 // PAD
      else {
        if (o + 1 >= payload.length) done = true
        else {
          val len = payload(o + 1) & 0xFF
          if (o + 2 + len > payload.length) done = true
          else {
            if (code == 53 && len >= 1) msgType = payload(o + 2) & 0xFF
            if (code == 54 && len == 4) serverId = Some(ip(o + 2))
            o += 2 + len
          }
        }
      }
    }
    if (msgType < 0) None
    else Some(DhcpFields(op, xid, ip(16), chaddr, msgType, serverId))
  }

  /** Parsed SIP message (RFC 3261 subset). For requests `method` is
    * INVITE/BYE/... and `status` is 0; for responses `method` is the
    * CSeq method (what the response answers) and `status` the code. */
  final case class SipFields(method: String, status: Int,
      callId: String, fromUri: String, toUri: String)

  /** Parse one UDP payload as SIP (RFC 3261): request-line
    * `METHOD uri SIP/2.0` or status-line `SIP/2.0 code reason`, then
    * CRLF headers up to the blank line — Call-ID (or compact `i:`),
    * From/To (URIs unwrapped from <>), CSeq for response correlation.
    * Case-insensitive header names per the RFC. None on anything that
    * is not SIP — never a throw on capture bytes. */
  def sip(payload: Array[Byte]): Option[SipFields] = {
    if (payload == null || payload.length < 12) return None
    // SIP is ASCII up to the body; parse the header block only
    val text = new String(payload, "ISO-8859-1")
    val headEnd = text.indexOf("\r\n\r\n")
    val head = if (headEnd < 0) text else text.substring(0, headEnd)
    val lines = head.split("\r\n")
    if (lines.isEmpty) return None
    val start = lines(0)
    val (reqMethod, status) =
      if (start.startsWith("SIP/2.0 ")) {
        val code = start.drop(8).takeWhile(_.isDigit)
        if (code.isEmpty) return None
        ("", code.toInt)
      } else {
        val sp = start.split(" ")
        if (sp.length != 3 || sp(2) != "SIP/2.0" ||
            sp.exists(_.isEmpty)) return None
        (sp(0), 0)
      }
    def header(name: String, compact: String): Option[String] =
      lines.drop(1).collectFirst {
        case l if l.toLowerCase.startsWith(name.toLowerCase + ":") =>
          l.drop(name.length + 1).trim
        case l if compact.nonEmpty &&
            l.toLowerCase.startsWith(compact + ":") =>
          l.drop(compact.length + 1).trim
      }
    def uri(v: String): String = {
      val lt = v.indexOf('<')
      val gt = v.indexOf('>')
      if (lt >= 0 && gt > lt) v.substring(lt + 1, gt) else v
    }
    for {
      callId <- header("Call-ID", "i")
      from <- header("From", "f")
      to <- header("To", "t")
      method <-
        if (status == 0) Some(reqMethod)
        else header("CSeq", "").map(_.split(" ")).collect {
          case a if a.length == 2 => a(1)
        }
    } yield SipFields(method, status, callId, uri(from), uri(to))
  }

  /** Fixed-header RTP fields (RFC 3550 §5.1). `seq` is the 16-bit
    * sequence number, `rtpTs` / `ssrc` the unsigned 32-bit words. */
  final case class RtpFields(version: Int, pt: Int, seq: Int,
      rtpTs: Long, ssrc: Long)

  /** Parse one UDP payload as RTP: version MUST be 2 and the 12-byte
    * fixed header fully present — anything else yields None, never a
    * throw. (RTP has no magic bytes, so callers gate by port; the
    * version check rejects most non-RTP traffic that slips through.) */
  def rtp(payload: Array[Byte]): Option[RtpFields] = {
    if (payload == null || payload.length < 12) return None
    val v = (payload(0) >> 6) & 0x3
    if (v != 2) return None
    val pt = payload(1) & 0x7F
    val seq = ((payload(2) & 0xFF) << 8) | (payload(3) & 0xFF)
    def be32(at: Int): Long =
      ((payload(at) & 0xFFL) << 24) | ((payload(at + 1) & 0xFFL) << 16) |
        ((payload(at + 2) & 0xFFL) << 8) | (payload(at + 3) & 0xFFL)
    Some(RtpFields(v, pt, seq, be32(4), be32(8)))
  }

  /** The inner flow's fields every decap result carries. */
  private final case class Flow(src: String, dst: String, protocol: String,
      srcPort: Int, dstPort: Int, dnsQname: Option[String],
      dnsRcode: Option[String])

  private val FlowBits = PacketSlot.Src | PacketSlot.Dst |
    PacketSlot.Protocol | PacketSlot.SrcPort | PacketSlot.DstPort

  /** Decode the inner packet at `off` through the shared decoder;
    * Some only when L3 endpoints + L4 ports all decoded. */
  private def innerOf(payload: Array[Byte], off: Int, linkType: Int)
      : Option[Flow] = {
    if (payload.length <= off) return None
    val inner = inners.get()
    val s = inner.slot
    s.clear()
    inner.decoder.decode(s, payload, off, payload.length - off, linkType)
    if ((s.present & FlowBits) != FlowBits) None
    else {
      val dns = if (s.has(PacketSlot.Dns)) s.dns else null
      Some(Flow(s.addrString(dst = false), s.addrString(dst = true),
        s.protocol, s.srcPort, s.dstPort,
        if (dns == null) None else dns.qname,
        if (dns == null) None else Some(dns.rcode)))
    }
  }
}
