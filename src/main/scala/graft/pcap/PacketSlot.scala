package graft.pcap

import java.nio.charset.StandardCharsets.ISO_8859_1

/** One decoded packet in primitive fields, reused for every packet a
  * reader decodes. Which fields the current packet carries is the
  * `present` bitmask (one bit per field, constants on the companion); a
  * field whose bit is clear holds a stale value and must not be read.
  *
  * Nothing is boxed and nothing is copied: the L4 payload, the raw frame
  * and the two IP addresses stay offsets into `data`, the reader's frame
  * buffer, so the slot is valid only until the reader decodes the next
  * packet. The columnar appenders, the row writers and the pushed-filter
  * predicates of the Spark source read it in place; [[build]] copies it
  * out into an immutable [[PacketRecord]] for iterator callers.
  */
final class PacketSlot {
  import PacketSlot._

  /** Bitmask of the fields this packet carries. */
  var present: Long = 0L
  @inline def has(bit: Long): Boolean = (present & bit) != 0

  var ts, tsMicro, size: Long = 0L
  var ttl, srcPort, dstPort, udpsum, len, payloadLen, extCount: Int = 0
  var tcpSeq, tcpAck: Long = 0L
  /** index into the 512 TCP flag mnemonics (8 flag bits + NS) */
  var tcpFlagBits: Int = 0
  var icmpType, icmpCode, tcpWindow, tcpMss, tcpWscale: Int = 0
  var tcpSackOk, tcpTsOk, frag: Boolean = false
  var vlanId, vlanPcp, vlanInnerId: Int = 0
  var ipId, fragOffset: Int = 0
  /** IP protocol id (-1 = none yet); set together with `Protocol`. */
  var protoId: Int = -1
  var etherType: String = _
  var md5: String = _
  var extHeaders: String = _
  var dns: DnsFields = _
  /** MPLS label stack, outermost first: `mpls[0, mplsCount)`. */
  var mpls: Array[Int] = new Array[Int](4)
  var mplsCount: Int = 0

  /** The buffer the frame was decoded from; valid until the next packet. */
  var data: Array[Byte] = _
  var frameOff, frameLen: Int = 0
  /** The L4 payload is `data[payloadOff, payloadOff + len)`. */
  var payloadOff: Int = 0
  /** 4 or 6; the addresses sit at `data(srcOff)` / `data(dstOff)`. */
  var ipVersion: Int = 0
  var srcOff, dstOff: Int = 0

  /** Container bytes this packet occupied: record header plus body for
    * classic pcap, the whole block for pcapng. */
  var recordBytes: Long = 0L

  /** Scratch for address text (the longest form is 39 bytes). */
  val text: Array[Byte] = new Array[Byte](48)

  /** Forget the previous packet; the container reader calls this before
    * it sets the container fields and hands the frame to the decoder. */
  def clear(): Unit = {
    present = 0L
    protoId = -1
    dns = null
  }

  def protocol: String = PcapStreamReader.protocolName(protoId)
  def tcpFlags: String = TcpFlagNames.names(tcpFlagBits)

  /** Writes the source (or, with `dst`, destination) address text into
    * [[text]]; returns its length. Call only when `Src`/`Dst` is set. */
  def addrText(dst: Boolean): Int = {
    val off = if (dst) dstOff else srcOff
    if (ipVersion == 4) PcapStreamReader.ipv4Text(data, off, text)
    else PcapStreamReader.ipv6Text(data, off, text)
  }

  def addrString(dst: Boolean): String =
    new String(text, 0, addrText(dst), ISO_8859_1)

  // whole-second timestamps, frame sizes and the ether type repeat across
  // long runs of adjacent packets: build() reuses the last Some of each
  private var lastTs = 0L
  private var lastTsSome: Some[Long] = null
  private var lastSize = 0L
  private var lastSizeSome: Some[Long] = null
  private var lastEtherSome: Some[String] = null

  private def int(bit: Long, v: Int): Option[Int] =
    if (has(bit)) Boxes.int(v) else None
  private def bool(bit: Long, v: Boolean): Option[Boolean] =
    if (!has(bit)) None else if (v) Boxes.someTrue else Boxes.someFalse
  private def bytes(bit: Long, off: Int, n: Int): Option[Array[Byte]] =
    if (has(bit)) Some(java.util.Arrays.copyOfRange(data, off, off + n))
    else None

  /** Copy the current packet out into an immutable record. */
  def build(): PacketRecord = {
    val tsOpt =
      if (!has(Ts)) None
      else {
        if (lastTsSome == null || ts != lastTs) {
          lastTs = ts; lastTsSome = Some(ts)
        }
        lastTsSome
      }
    val sizeOpt =
      if (!has(Size)) None
      else {
        if (lastSizeSome == null || size != lastSize) {
          lastSize = size; lastSizeSome = Some(size)
        }
        lastSizeSome
      }
    val etherOpt =
      if (!has(EtherType)) None
      else {
        if (lastEtherSome == null || (lastEtherSome.value ne etherType))
          lastEtherSome = Some(etherType)
        lastEtherSome
      }
    PacketRecord(
      ts = tsOpt,
      tsMicro = if (has(TsMicro)) Some(tsMicro) else None,
      size = sizeOpt,
      md5 = if (has(Md5)) Some(md5) else None,
      etherType = etherOpt,
      ttl = int(Ttl, ttl),
      protocol =
        if (has(Protocol)) PcapStreamReader.ProtocolSomeArr(protoId) else None,
      src = if (has(Src)) Some(addrString(dst = false)) else None,
      dst = if (has(Dst)) Some(addrString(dst = true)) else None,
      srcPort = int(SrcPort, srcPort),
      dstPort = int(DstPort, dstPort),
      udpsum = int(Udpsum, udpsum),
      tcpSeq = if (has(TcpSeq)) Some(tcpSeq) else None,
      tcpFlags = if (has(TcpFlags)) TcpFlagNames.some(tcpFlagBits) else None,
      tcpAck = if (has(TcpAck)) Some(tcpAck) else None,
      icmpType = int(IcmpType, icmpType),
      icmpCode = int(IcmpCode, icmpCode),
      tcpWindow = int(TcpWindow, tcpWindow),
      tcpMss = int(TcpMss, tcpMss),
      tcpWscale = int(TcpWscale, tcpWscale),
      tcpSackOk = bool(TcpSackOk, tcpSackOk),
      tcpTsOk = bool(TcpTsOk, tcpTsOk),
      vlanId = int(VlanId, vlanId),
      vlanPcp = int(VlanPcp, vlanPcp),
      vlanInnerId = int(VlanInnerId, vlanInnerId),
      mplsLabels =
        if (!has(Mpls)) None
        else Some(scala.collection.immutable.ArraySeq.unsafeWrapArray(
          java.util.Arrays.copyOf(mpls, mplsCount))),
      len = int(Len, len),
      frag = bool(Frag, frag),
      ipId = int(IpId, ipId),
      fragOffset = int(FragOffset, fragOffset),
      payloadLen = int(PayloadLen, payloadLen),
      extCount = int(ExtCount, extCount),
      extHeaders = if (has(ExtHeaders)) Some(extHeaders) else None,
      dns = if (has(Dns)) Some(dns) else None,
      payload = bytes(Payload, payloadOff, len),
      frame = bytes(Frame, frameOff, frameLen))
  }
}

object PacketSlot {
  final val Ts = 1L << 0
  final val TsMicro = 1L << 1
  final val Size = 1L << 2
  final val Md5 = 1L << 3
  final val EtherType = 1L << 4
  final val Ttl = 1L << 5
  final val Protocol = 1L << 6
  final val Src = 1L << 7
  final val Dst = 1L << 8
  final val SrcPort = 1L << 9
  final val DstPort = 1L << 10
  final val Udpsum = 1L << 11
  final val TcpSeq = 1L << 12
  final val TcpFlags = 1L << 13
  final val TcpAck = 1L << 14
  final val IcmpType = 1L << 15
  final val IcmpCode = 1L << 16
  final val TcpWindow = 1L << 17
  final val TcpMss = 1L << 18
  final val TcpWscale = 1L << 19
  final val TcpSackOk = 1L << 20
  final val TcpTsOk = 1L << 21
  final val VlanId = 1L << 22
  final val VlanPcp = 1L << 23
  final val VlanInnerId = 1L << 24
  final val Mpls = 1L << 25
  final val Len = 1L << 26
  final val Frag = 1L << 27
  final val IpId = 1L << 28
  final val FragOffset = 1L << 29
  final val PayloadLen = 1L << 30
  final val ExtCount = 1L << 31
  final val ExtHeaders = 1L << 32
  final val Dns = 1L << 33
  final val Payload = 1L << 34
  final val Frame = 1L << 35
}

/** A container reader: decodes one packet at a time into its reused
  * [[slot]] with [[advance]]. The `Iterator[PacketRecord]` view is the
  * same decode plus [[PacketSlot.build]] per packet, for library callers
  * that keep records; use one view or the other on a reader, not both. */
abstract class PacketReader extends Iterator[PacketRecord] {
  /** The current packet; valid until the next [[advance]]. */
  val slot: PacketSlot = new PacketSlot

  /** Decode the next packet into [[slot]]; false at the end of the
    * capture. */
  def advance(): Boolean

  // 0 = not yet advanced, 1 = slot holds the next record, 2 = ended
  private var state = 0

  final override def hasNext: Boolean = {
    if (state == 0) state = if (advance()) 1 else 2
    state == 1
  }

  final override def next(): PacketRecord = {
    if (!hasNext) throw new NoSuchElementException("end of capture")
    state = 0
    slot.build()
  }
}
