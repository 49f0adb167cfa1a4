package graft.pcap

/** DNS-layer fields, populated by [[DnsParser]] when the packet is a UDP
  * port-53 message that parses cleanly (reference:
  * hadoop-pcap-lib/.../DnsPcapReader.java:35-57 — decode failures are
  * silently swallowed, leaving these absent).
  */
final case class DnsFields(
    queryId: Int,
    flags: String,
    qr: Boolean,
    opcode: String,
    rcode: String,
    qname: Option[String],   // lowercased, trailing dot; None when qd=0
                             // or when the decode pruned dns_qname
    qtype: Int,              // 0 when no question
    qtypeStr: Option[String],
    answer: Seq[String],
    authority: Seq[String],
    additional: Seq[String])

/** One decoded packet. Mirrors the union of fields the reference can emit
  * (reference: hadoop-pcap-lib/.../packet/Packet.java:9-24 +
  * packet/DnsPacket.java:6-16) as a flat optional record — the reference's
  * `HashMap<String,Object>` with a missing key is our `None`.
  *
  * Extensions beyond the reference (SURVEY.md §1.4): `tsMicro` keeps the
  * microseconds word the reference discards (PcapReader.java:174-175 reads
  * only the seconds word); `payload` exposes the L4 payload bytes as an
  * opaque binary column for downstream multimodal/text operators.
  */
final case class PacketRecord(
    ts: Option[Long] = None,          // epoch whole seconds
    tsMicro: Option[Long] = None,     // epoch microseconds (ts*1e6 + usec)
    size: Option[Long] = None,        // captured frame length
    md5: Option[String] = None,       // uppercase hex of captured frame
    etherType: Option[String] = None,
    ttl: Option[Int] = None,
    protocol: Option[String] = None,
    src: Option[String] = None,
    dst: Option[String] = None,
    srcPort: Option[Int] = None,
    dstPort: Option[Int] = None,
    udpsum: Option[Int] = None,       // 0 = valid; absent if cksum field 0
    tcpSeq: Option[Long] = None,      // TCP sequence number (u32)
    tcpFlags: Option[String] = None,  // "SYN|ACK" mnemonics, LSB-first
    tcpAck: Option[Long] = None,      // TCP acknowledgment number (u32)
    icmpType: Option[Int] = None,     // ICMPv4/v6 message type
    icmpCode: Option[Int] = None,     // ICMPv4/v6 message code
    tcpWindow: Option[Int] = None,    // TCP receive window (u16, unscaled)
    tcpMss: Option[Int] = None,       // MSS option value (kind 2; SYNs)
    tcpWscale: Option[Int] = None,    // window-scale shift (kind 3; SYNs)
    tcpSackOk: Option[Boolean] = None,// SACK-permitted seen (kind 4); Some
                                      // whenever the option region parsed
    tcpTsOk: Option[Boolean] = None,  // timestamps option seen (kind 8)
    vlanId: Option[Int] = None,       // 802.1Q VLAN id (TCI low 12 bits)
    vlanPcp: Option[Int] = None,      // 802.1Q priority code point (top 3)
    vlanInnerId: Option[Int] = None,  // QinQ customer tag vid (2nd tag)
    mplsLabels: Option[Seq[Int]] = None, // RFC 3032 label stack, outermost-first
    len: Option[Int] = None,          // L4 payload byte count
    frag: Option[Boolean] = None,     // v4 MF/offset set, or v6 Fragment ext header
    ipId: Option[Int] = None,         // fragment reassembly id (v4 u16 / v6 u32)
    fragOffset: Option[Int] = None,   // fragment data offset in bytes
    payloadLen: Option[Int] = None,   // IPv6 header payload-length field
    extCount: Option[Int] = None,
    extHeaders: Option[String] = None, // "[HopByHop]…[UDP]" incl. terminal
    dns: Option[DnsFields] = None,
    payload: Option[Array[Byte]] = None,
    /** the raw captured frame (column `frame`, on request): enables exact
      * pcap re-export through the write path — filter in SQL, write a
      * valid capture back out. */
    frame: Option[Array[Byte]] = None)
