package graft.pcap

import java.security.MessageDigest

/** Pre-built `Some` wrappers for the per-packet hot loop: ports, ttls,
  * lengths, and counts all land in [0, 65536), so boxing them through
  * this table removes two allocations (Integer + Some) per field per
  * packet. ~2 MB of static memory, shared by all reader threads. */
private[pcap] object Boxes {
  private val ints: Array[Some[Int]] = Array.tabulate(65536)(Some(_))
  val someTrue: Some[Boolean] = Some(true)
  val someFalse: Some[Boolean] = Some(false)
  def int(i: Int): Some[Int] =
    if (i >= 0 && i < 65536) ints(i) else Some(i)
}

/** Pre-rendered mnemonic strings for all 512 TCP flag combinations
  * (8 bits of byte 13 + the NS bit, data-offset byte bit 0). Flag names
  * join LSB-first with '|' — the order people write them ("SYN|ACK").
  * A superset field: the reference decodes no TCP flags at all. */
private[graft] object TcpFlagNames {
  private val flags =
    Array("FIN", "SYN", "RST", "PSH", "ACK", "URG", "ECE", "CWR", "NS")
  val names: Array[String] = Array.tabulate(512) { bits =>
    val sb = new StringBuilder
    var i = 0
    while (i < 9) {
      if ((bits & (1 << i)) != 0) {
        if (sb.nonEmpty) sb.append('|')
        sb.append(flags(i))
      }
      i += 1
    }
    sb.toString
  }
  val some: Array[Some[String]] = names.map(Some(_))
}

/** Per-frame L2→L4(+app) decode, container-independent: both the classic
  * libpcap reader and the pcapng reader feed captured frames through one
  * instance per stream, into the stream's [[PacketSlot]]. Semantics
  * documented on [[PcapStreamReader]]. */
private[pcap] final class FrameDecoder(options: DecodeOptions) {
  import PcapStreamReader._
  import PacketSlot._

  private val md: MessageDigest =
    if (options.md5) MessageDigest.getInstance("MD5") else null
  private val appDec: PayloadDecoder = options.appDecoder.orNull

  /** Decode the frame at `data[off, off+len)` into `s`, adding to the
    * fields already present. Offset-based so container readers decode in
    * place from a reused read buffer: the slot keeps offsets into `data`,
    * valid until the buffer is refilled. `ts`/`tsMicro`/`size` are the
    * container's concern; the caller clears the slot and sets them. */
  def decode(s: PacketSlot, data: Array[Byte], off: Int, len: Int,
      linkType: Int): Unit = {
    val end = off + len
    s.data = data
    s.frameOff = off
    s.frameLen = len
    if (options.keepFrame) s.present |= Frame
    if (md != null) {
      md.update(data, off, len)
      s.md5 = upperHex(md.digest())
      s.present |= Md5
    }
    s.etherType = etherTypeName(linkType, data, off, end)
    s.present |= EtherType
    // 802.1Q / 802.1ad tags (Ethernet only, mirroring ipStartIdx's
    // unwrap): vlan_id/vlan_pcp carry the OUTERMOST tag's TCI (the
    // service tag on QinQ frames), vlan_inner_id the customer tag
    // when double-tagged. A truncated tag (frame ends inside the
    // 4-byte header) leaves the columns NULL — same evidence rule as
    // the TCP options.
    if (linkType == 1 && end - off >= 18) {
      val et0 = beU16(data, off + 12)
      if (et0 == 0x8100 || et0 == 0x88A8) {
        val tci = beU16(data, off + 14)
        s.vlanId = tci & 0xFFF
        s.vlanPcp = tci >>> 13
        s.present |= VlanId | VlanPcp
        if (end - off >= 22) {
          val et1 = beU16(data, off + 16)
          if (et1 == 0x8100 || et1 == 0x88A8) {
            s.vlanInnerId = beU16(data, off + 18) & 0xFFF
            s.present |= VlanInnerId
          }
        }
      }
    }
    // MPLS label stack (RFC 3032, ethertype 0x8847/0x8848 —
    // carrier/backbone captures wrap IP in label stacks): record the
    // labels outermost-first; the inner IP (version-nibble sniffed,
    // the stack carries no payload type field) decodes through
    // ipStartIdx below. A stack whose bottom-of-stack bit lies past
    // the captured bytes leaves the column NULL — the same
    // evidence rule as the VLAN tags and TCP options.
    val mplsAt = mplsStackStart(linkType, data, off, end)
    if (mplsAt >= 0) {
      var p = mplsAt
      var n = 0
      var bottom = false
      while (!bottom && end - p >= 4) {
        bottom = (data(p + 2) & 0x1) != 0
        p += 4
        n += 1
      }
      if (bottom) {
        if (n > s.mpls.length) s.mpls = new Array[Int](n)
        var i = 0
        p = mplsAt
        while (i < n) {
          s.mpls(i) = ((data(p) & 0xFF) << 12) |
            ((data(p + 1) & 0xFF) << 4) | ((data(p + 2) & 0xFF) >>> 4)
          p += 4
          i += 1
        }
        s.mplsCount = n
        s.present |= Mpls
      }
    }
    val ip = ipStartIdx(linkType, data, off, end)
    if (ip >= 0 && ip < end) decodeIp(s, data, ip, end)
  }

  /** Whole-array convenience (tests, chunkers). */
  def decode(s: PacketSlot, data: Array[Byte], linkType: Int): Unit =
    decode(s, data, 0, data.length, linkType)

  /** The L4 payload is `data[ps, end)` (empty when `ps` is past `end`). */
  private def setPayload(s: PacketSlot, ps: Int, end: Int): Unit = {
    val pl = if (ps > end) 0 else end - ps
    s.len = pl
    s.payloadOff = end - pl
    s.present |= (if (options.keepPayload) Len | Payload else Len)
  }

  private def decodeIp(s: PacketSlot, data: Array[Byte], ip: Int,
      end: Int): Unit =
    (data(ip) >> 4) & 0xF match {
      // length guards: a frame shorter than the fixed L3 header yields a
      // record without L3 fields rather than an exception (fuzz-found;
      // the reference would AIOOBE here)
      case 4 if ip + 20 <= end =>
        s.ttl = data(ip + 8) & 0xFF
        val pid = data(ip + 9) & 0xFF
        s.protoId = pid
        s.present |= Ttl | Protocol
        s.ipVersion = 4
        s.srcOff = ip + 12
        s.dstOff = ip + 16
        if (options.addrStrings) s.present |= Src | Dst
        // IHL < 5 is invalid (header shorter than its fixed part) — an
        // unguarded offset would read L4 fields from inside the IP header
        val ihl = (data(ip) & 0xF) * 4
        // fragmentation (flags/offset field): a NON-FIRST fragment's
        // bytes after the IP header are mid-payload, NOT an L4 header —
        // decoding ports there is the classic misparse (the reference
        // does exactly that). First fragments (offset 0, MF set) carry
        // a real L4 header and decode normally; every fragment exposes
        // (ip_id, frag_offset) for downstream reassembly.
        val flagsFrag = beU16(data, ip + 6)
        val fragOff = (flagsFrag & 0x1FFF) * 8
        if (fragOff > 0 || (flagsFrag & 0x2000) != 0) {
          s.frag = true
          s.ipId = beU16(data, ip + 4)
          s.fragOffset = fragOff
          s.present |= Frag | IpId | FragOffset
        }
        if (ihl >= 20) {
          if (fragOff > 0) setPayload(s, ip + ihl, end)
          else if (pid == 6 || pid == 17) decodeL4(s, data, ip, ihl, end, v6 = false)
          else if (pid == 1) decodeIcmp(s, data, ip + ihl, end)
          else if (options.keepPayload && ip + ihl < end)
            // no L4 parser for this protocol (GRE, ESP, OSPF, ...):
            // expose the raw IP payload so downstream operators can
            // decap/parse it (graft.pcap.Decap) — ports stay NULL,
            // the same honesty rule as fragments
            setPayload(s, ip + ihl, end)
        }
      case 6 if ip + 40 <= end =>
        s.ttl = data(ip + 7) & 0xFF
        s.payloadLen = beU16(data, ip + 4)
        s.present |= Ttl | PayloadLen
        s.ipVersion = 6
        s.srcOff = ip + 8
        s.dstOff = ip + 24
        if (options.addrStrings) s.present |= Src | Dst
        val dataStart = walkV6ExtHeaders(s, data, ip, end)
        // NON-FIRST fragment (RFC 8200 §4.5): the bytes after the
        // Fragment header are mid-payload of the original datagram,
        // NOT an L4 header — the same decode-honesty rule as the v4
        // path above (parsing ports there is the classic misparse).
        // The raw chunk rides the payload column, (ip_id, frag_offset)
        // from the Fragment header feed downstream reassembly.
        if (dataStart > 0 && s.has(FragOffset) && s.fragOffset > 0)
          setPayload(s, ip + dataStart, end)
        else if (dataStart > 0 && (s.protoId == 6 || s.protoId == 17))
          decodeL4(s, data, ip, dataStart, end, v6 = true)
        else if (dataStart > 0 && s.protoId == 58)
          decodeIcmp(s, data, ip + dataStart, end)
        else if (dataStart > 0 && options.keepPayload &&
            ip + dataStart < end)
          // v6 twin of the unhandled-protocol raw-payload rule above
          setPayload(s, ip + dataStart, end)
      case _ => ()
    }

  /** Walk the v6 extension chain. Returns the L4 offset from ip —
    * -1 when No-Next-Header terminates the chain. */
  private def walkV6ExtHeaders(s: PacketSlot, data: Array[Byte], ip: Int,
      end: Int): Int = {
    var count = 0
    var offset = 40
    var next = data(ip + 6) & 0xFF
    val chain = if (options.extHeaderStrings) new StringBuilder else null
    var result = -1
    var done = false
    while (!done && ip + offset < end) {
      val isExt = ExtHeaderNames.contains(next)
      if (chain != null) chain.append('[').append(
        if (isExt) ExtHeaderNames(next) else protocolName(next)).append(']')
      if (next == NoNextHeader) {
        done = true                       // result stays -1
      } else if (!isExt) {
        s.protoId = next
        s.present |= Protocol
        result = offset
        done = true
      } else {
        count += 1
        if (next == FragmentHeader) {
          s.frag = true
          s.present |= Frag
          if (ip + offset + 8 <= end) {
            // RFC 8200 §4.5: offset (13 bits, 8-octet units) + id (u32,
            // stored as the signed int column value)
            s.fragOffset = (beU16(data, ip + offset + 2) >>> 3) * 8
            s.ipId =
              ((data(ip + offset + 4) & 0xFF) << 24) |
              ((data(ip + offset + 5) & 0xFF) << 16) |
              ((data(ip + offset + 6) & 0xFF) << 8) |
              (data(ip + offset + 7) & 0xFF)
            s.present |= FragOffset | IpId
          }
          next = data(ip + offset) & 0xFF
          offset += 8                     // fragment header is fixed 8 bytes
        } else if (ip + offset + 1 >= end) {
          done = true                     // ext header length byte truncated
        } else if (next == AuthHeader) {
          next = data(ip + offset) & 0xFF
          offset += ((data(ip + offset + 1) & 0xFF) + 2) * 4
        } else {
          next = data(ip + offset) & 0xFF
          offset += ((data(ip + offset + 1) & 0xFF) + 1) * 8
        }
      }
    }
    s.extCount = count
    s.present |= ExtCount
    if (chain != null && chain.nonEmpty) {
      s.extHeaders = chain.toString
      s.present |= ExtHeaders
    }
    result
  }

  /** Ports + (UDP) checksum + payload slice + optional DNS decode.
    * `l4Start` is relative to ip; `end` bounds the frame. */
  private def decodeL4(s: PacketSlot, data: Array[Byte], ip: Int,
      l4Start: Int, end: Int, v6: Boolean): Unit = {
    val l4 = ip + l4Start
    if (l4 + 4 > end) return
    val srcPort = beU16(data, l4)
    val dstPort = beU16(data, l4 + 2)
    s.srcPort = srcPort
    s.dstPort = dstPort
    s.present |= SrcPort | DstPort
    val headerSize =
      if (s.protoId == 17) {            // UDP
        if (options.udpsum) {
          val ck = udpChecksum(data, ip, l4Start, end, v6)
          if (ck >= 0) { s.udpsum = ck; s.present |= Udpsum }
        }
        8
      } else {                          // TCP (callers guard protoId 6/17)
        if (l4 + 13 > end) return
        s.tcpSeq =
          ((data(l4 + 4) & 0xFFL) << 24) | ((data(l4 + 5) & 0xFFL) << 16) |
          ((data(l4 + 6) & 0xFFL) << 8) | (data(l4 + 7) & 0xFFL)
        s.tcpAck =
          ((data(l4 + 8) & 0xFFL) << 24) | ((data(l4 + 9) & 0xFFL) << 16) |
          ((data(l4 + 10) & 0xFFL) << 8) | (data(l4 + 11) & 0xFFL)
        s.present |= TcpSeq | TcpAck
        // flags byte (13) sits one past the data-offset byte the guard
        // above covers; the NS bit is bit 0 of byte 12. All-zero flags
        // are invalid-in-practice — leave the column NULL rather than
        // emitting the schema's only empty-string mnemonic
        if (l4 + 14 <= end) {
          val flagBits =
            (data(l4 + 13) & 0xFF) | ((data(l4 + 12) & 0x1) << 8)
          if (flagBits != 0) {
            s.tcpFlagBits = flagBits
            s.present |= TcpFlags
          }
        }
        if (l4 + 16 <= end) {
          s.tcpWindow = beU16(data, l4 + 14)
          s.present |= TcpWindow
        }
        val dataOff = ((data(l4 + 12) >> 4) & 0xF) * 4
        // TCP options walk (p0f-style SYN fingerprint surface): MSS,
        // window scale, SACK-permitted, timestamps. Only when the whole
        // option region was captured — a truncated snap leaves all four
        // columns NULL rather than claiming "option absent". Malformed
        // lengths (len < 2 or running past the data offset) abort the
        // walk and leave the columns NULL the same way: absence of
        // evidence is NULL, never false. Bounded by dataOff <= 60.
        if (options.tcpOptions && dataOff >= 20 && l4 + dataOff <= end) {
          var o = l4 + 20
          val oEnd = l4 + dataOff
          var sack = false
          var tsOpt = false
          var ok = true
          var loop = true
          while (loop && o < oEnd) {
            val kind = data(o) & 0xFF
            if (kind == 0) loop = false          // EOL: padding follows
            else if (kind == 1) o += 1           // NOP
            else if (o + 1 >= oEnd) { ok = false; loop = false }
            else {
              val olen = data(o + 1) & 0xFF
              if (olen < 2 || o + olen > oEnd) { ok = false; loop = false }
              else {
                if (kind == 2 && olen == 4) {
                  s.tcpMss = beU16(data, o + 2)
                  s.present |= TcpMss
                } else if (kind == 3 && olen == 3) {
                  s.tcpWscale = data(o + 2) & 0xFF
                  s.present |= TcpWscale
                }
                else if (kind == 4 && olen == 2) sack = true
                else if (kind == 8 && olen == 10) tsOpt = true
                o += olen
              }
            }
          }
          if (ok) {
            s.tcpSackOk = sack
            s.tcpTsOk = tsOpt
            s.present |= TcpSackOk | TcpTsOk
          } else s.present &= ~(TcpMss | TcpWscale)
        }
        dataOff
      }
    setPayload(s, l4 + headerSize, end)
    // app-layer decode runs in place over the frame — no payload copy
    if (appDec != null) {
      s.dns = appDec.decodeFields(protocolName(s.protoId), srcPort, dstPort,
        data, s.payloadOff, end, options.dnsSections, options.dnsQname)
      if (s.dns != null) s.present |= Dns
    }
  }

  /** ICMPv4/ICMPv6 type + code (superset columns — the reference names
    * the protocol and stops). `len`/`payload` carry the bytes after the
    * fixed 8-byte header (echo id/seq + data), same slicing contract as
    * TCP/UDP. */
  private def decodeIcmp(s: PacketSlot, data: Array[Byte], l4: Int,
      end: Int): Unit = {
    if (l4 + 2 > end) return
    s.icmpType = data(l4) & 0xFF
    s.icmpCode = data(l4 + 1) & 0xFF
    s.present |= IcmpType | IcmpCode
    setPayload(s, l4 + 8, end)
  }

  /** One's-complement checksum residual over pseudo-header + captured UDP
    * segment: 0 = valid. -1 (NULL) when the checksum field is zero or
    * the packet is too short (parity with getUdpChecksum returning -1,
    * PcapReader.java:123-165). The v6 pseudo-header fix is documented on
    * [[PcapStreamReader]]. */
  private def udpChecksum(data: Array[Byte], ip: Int, l4Start: Int, end: Int,
      v6: Boolean): Int = {
    val l4 = ip + l4Start
    // explicit bound: with a reused read buffer, indexes past `end` no
    // longer fault — they'd silently read the previous frame's bytes
    if (l4 + 8 > end) return -1
    try {
      if (data(l4 + 6) == 0 && data(l4 + 7) == 0) return -1
      val addrLen = if (v6) 16 else 4
      val srcOff = if (v6) ip + 8 else ip + 12
      val dstOff = if (v6) ip + 24 else ip + 16
      val segLen = end - l4
      var sum = 0
      var i = 0
      // pseudo-header: src, dst, 0, proto(17), udp length — summed with
      // the reference's byte-position weighting (even → high byte)
      while (i < addrLen) {
        sum += (data(srcOff + i) & 0xFF) << (if (i % 2 == 0) 8 else 0)
        i += 1
      }
      i = 0
      while (i < addrLen) {
        sum += (data(dstOff + i) & 0xFF) << (if (i % 2 == 0) 8 else 0)
        i += 1
      }
      sum += 17 // [0, 17] at even/odd positions
      sum += (data(l4 + 4) & 0xFF) << 8
      sum += data(l4 + 5) & 0xFF
      i = 0
      while (i < segLen) {
        sum += (data(l4 + i) & 0xFF) << (if (i % 2 == 0) 8 else 0)
        i += 1
      }
      sum = (sum >> 16) + (sum & 0xFFFF)
      sum += sum >> 16
      ~sum & 0xFFFF
    } catch {
      case _: ArrayIndexOutOfBoundsException => -1
    }
  }
}
