package graft.pcap

import java.io.{IOException, InputStream}

/** Streaming pcapng (pcap-Next-Generation, IETF draft-ietf-opsawg-pcapng)
  * decoder — an EXTENSION beyond the reference, which rejects pcapng
  * outright (PcapReader.java:107-108). Every modern `tcpdump`/`wireshark`
  * writes pcapng by default, so "a user of the reference could switch"
  * implies reading it.
  *
  * Supported blocks:
  *   - SHB (0x0A0D0D0A): per-section byte order from the 0x1A2B3C4D
  *     byte-order magic; multiple sections per file handled;
  *   - IDB (0x00000001): link type per interface; `if_tsresol` option
  *     (code 9: power-of-10 or power-of-2 sub-second resolution) honored,
  *     default 10^-6;
  *   - EPB (0x00000006): 64-bit timestamp in interface resolution
  *     (converted to whole seconds + microseconds), captured length,
  *     frame bytes → the same [[FrameDecoder]] as classic pcap;
  *   - SPB (0x00000003): no timestamp/interface (fields stay NULL; frame
  *     decodes against interface 0's link type per spec);
  *   - all other blocks (NRB, ISB, custom) are skipped by length.
  *
  * Unsupported-link-type interfaces throw at the IDB, matching the
  * classic reader's open-time behavior.
  */
final class PcapNgStreamReader(
    in: InputStream,
    options: DecodeOptions = DecodeOptions())
  extends PacketReader {

  import PcapNgStreamReader._

  private val is = new FastIn(in)
  private val frameDecoder = new FrameDecoder(options)
  private var eof = false

  private var bigEndian = false
  private var inSection = false
  /** per-interface decode parameters, this section */
  private var interfaces = Vector.empty[Iface]

  private def u32(b: Array[Byte], off: Int): Long =
    if (bigEndian)
      ((b(off) & 0xFFL) << 24) | ((b(off + 1) & 0xFFL) << 16) |
      ((b(off + 2) & 0xFFL) << 8) | (b(off + 3) & 0xFFL)
    else PcapStreamReader.leU32(b, off)

  private def u16(b: Array[Byte], off: Int): Int =
    if (bigEndian) ((b(off) & 0xFF) << 8) | (b(off + 1) & 0xFF)
    else ((b(off + 1) & 0xFF) << 8) | (b(off) & 0xFF)

  private def readFully(buf: Array[Byte]): Boolean = {
    val ok = is.readFully(buf)
    if (!ok) eof = true
    ok
  }

  override def advance(): Boolean = {
    while (!eof) if (readBlock()) return true
    false
  }

  private val head = new Array[Byte](8)

  /** Read one block; true when it was a packet block, now in `slot`. */
  private def readBlock(): Boolean = {
    if (!readFully(head)) return false
    // SHB needs special handling: its own byte-order magic defines how to
    // read its length (block type 0x0A0D0D0A is palindromic)
    val rawType = PcapStreamReader.leU32(head, 0)
    if (rawType == ShbType) { readShb(head); return false }
    if (!inSection)
      throw new IOException("pcapng: block before Section Header")
    val blockType = u32(head, 0)
    val totalLenRaw = u32(head, 4)
    // corrupt-length guard: bound the block-body allocation (largest
    // legitimate blocks are snaplen-sized EPBs, far below this)
    if (totalLenRaw < 12 || totalLenRaw % 4 != 0 ||
        totalLenRaw > PcapStreamReader.MaxCapturedLength)
      throw new IOException(s"pcapng: bad block length $totalLenRaw")
    val totalLen = totalLenRaw.toInt
    val bodyLen = totalLen - 12
    if (bodyLen > bodyBuf.length)
      bodyBuf = new Array[Byte](math.max(bodyLen, bodyBuf.length * 2))
    if (!readFully(bodyBuf, bodyLen)) return false
    skip(4) // trailing total length
    blockType match {
      case IdbType => readIdb(bodyBuf, bodyLen); false
      case EpbType => readEpb(bodyBuf, bodyLen); slot.recordBytes = totalLen; true
      case SpbType => readSpb(bodyBuf, bodyLen); slot.recordBytes = totalLen; true
      case _ => false // NRB/ISB/custom: skipped
    }
  }

  // blocks are parsed in place from this reusable buffer: Iface params
  // are copied out, the slot points into it until the next advance()
  private var bodyBuf = new Array[Byte](64 * 1024)

  private def readFully(buf: Array[Byte], len: Int): Boolean = {
    val ok = is.readFully(buf, len)
    if (!ok) eof = true
    ok
  }

  private def readShb(head: Array[Byte]): Unit = {
    val rest = new Array[Byte](16)
    if (!readFully(rest)) return
    val bom = PcapStreamReader.leU32(rest, 0)
    bigEndian = bom match {
      case ByteOrderMagic => false
      case ByteOrderMagicSwapped => true
      case _ => throw new IOException("pcapng: bad byte-order magic")
    }
    inSection = true
    interfaces = Vector.empty // a new section resets interface numbering
    val totalLen = u32(head, 4)
    // SHB is >= 28 bytes (header 8 + bom/version/seclen 16 + trailer 4);
    // a smaller or misaligned value would make the skip a silent no-op
    // and desynchronize the stream
    if (totalLen < 28 || totalLen % 4 != 0 ||
        totalLen > PcapStreamReader.MaxCapturedLength)
      throw new IOException(s"pcapng: bad SHB block length $totalLen")
    // consume the remainder of the SHB (options + trailing length)
    skip(totalLen.toInt - head.length - rest.length)
  }

  private def readIdb(body: Array[Byte], bodyLen: Int): Unit = {
    if (bodyLen < 8)
      throw new IOException("pcapng: truncated IDB")
    val linkType = u16(body, 0)
    if (!PcapStreamReader.SupportedLinkTypes.contains(linkType))
      throw new IOException(s"Unsupported link type: $linkType")
    val snapLen = u32(body, 4) // 0 = no limit
    var unitsPerSec = 1000000L
    // options: code u16, len u16, value padded to 4
    var off = 8
    var done = false
    while (!done && off + 4 <= bodyLen) {
      val code = u16(body, off)
      val len = u16(body, off + 2)
      if (code == 0) done = true
      else {
        if (code == TsResolOption && len >= 1) {
          val v = body(off + 4) & 0xFF
          val exp = v & 0x7F
          // bound the exponent: 10^19 / 2^63 overflow Long silently
          // (math.pow saturates, << wraps mod 64) -> nonsense timestamps
          if ((v & 0x80) == 0) {
            if (exp > 18)
              throw new IOException(s"pcapng: bad if_tsresol 10^-$exp")
            unitsPerSec = pow10(exp)
          } else {
            if (exp > 62)
              throw new IOException(s"pcapng: bad if_tsresol 2^-$exp")
            unitsPerSec = 1L << exp
          }
        }
        off += 4 + ((len + 3) / 4) * 4
      }
    }
    interfaces :+= Iface(linkType, unitsPerSec, snapLen)
  }

  private def pow10(exp: Int): Long = {
    var r = 1L
    var i = 0
    while (i < exp) { r *= 10L; i += 1 }
    r
  }

  private def readEpb(body: Array[Byte], bodyLen: Int): Unit = {
    if (bodyLen < 20)
      throw new IOException("pcapng: truncated EPB")
    val ifIdRaw = u32(body, 0)
    if (ifIdRaw >= interfaces.length)
      throw new IOException(s"pcapng: undeclared interface $ifIdRaw")
    val Iface(linkType, unitsPerSec, _) = interfaces(ifIdRaw.toInt)
    val tsUnits = (u32(body, 4) << 32) | u32(body, 8)
    val capLenRaw = u32(body, 12)
    // corrupt-length guard: a value >= 2^31 would wrap negative on toInt
    // and silently emit a record with a negative size
    if (capLenRaw > PcapStreamReader.MaxCapturedLength)
      throw new IOException(s"pcapng: bad EPB captured length $capLenRaw")
    val capLen = capLenRaw.toInt
    val s = slot
    s.clear()
    val tsSec = java.lang.Long.divideUnsigned(tsUnits, unitsPerSec)
    val sub = java.lang.Long.remainderUnsigned(tsUnits, unitsPerSec)
    s.ts = tsSec
    s.tsMicro = tsSec * 1000000L + sub * 1000000L / unitsPerSec
    s.size = capLen.toLong
    s.present = PacketSlot.Ts | PacketSlot.TsMicro | PacketSlot.Size
    if (capLen > 0 && 20 + capLen <= bodyLen)
      frameDecoder.decode(s, body, 20, capLen, linkType)
  }

  private def readSpb(body: Array[Byte], bodyLen: Int): Unit = {
    // Simple Packet Block: no interface id / timestamp; belongs to
    // interface 0 by spec. The SPB itself has no captured-length field:
    // capLen = min(origLen, interface snaplen), clamped to the block
    // body — the body is 32-bit padded, so body.length-4 alone would
    // count up to 3 pad bytes as packet data on snaplen truncation.
    if (interfaces.isEmpty)
      throw new IOException("pcapng: SPB before any IDB")
    if (bodyLen < 4)
      throw new IOException("pcapng: truncated SPB")
    val Iface(linkType, _, snapLen) = interfaces(0)
    val origLenRaw = u32(body, 0)
    if (origLenRaw > PcapStreamReader.MaxCapturedLength)
      throw new IOException(s"pcapng: bad SPB original length $origLenRaw")
    val origLen = origLenRaw.toInt
    val effSnap =
      if (snapLen == 0L) Int.MaxValue.toLong else snapLen
    val capLen =
      math.min(math.min(origLen.toLong, effSnap), (bodyLen - 4).toLong)
        .toInt
    val s = slot
    s.clear()
    s.size = capLen.toLong
    s.present = PacketSlot.Size
    if (capLen > 0)
      frameDecoder.decode(s, body, 4, capLen, linkType)
  }

  private def skip(n: Int): Unit =
    if (!eof && !is.skipFully(n.toLong)) eof = true
}

object PcapNgStreamReader {
  /** Per-interface decode parameters from the IDB. snapLen 0 = no limit. */
  final case class Iface(linkType: Int, unitsPerSec: Long, snapLen: Long)

  val ShbType = 0x0A0D0D0AL
  val IdbType = 0x00000001L
  val EpbType = 0x00000006L
  val SpbType = 0x00000003L
  val ByteOrderMagic = 0x1A2B3C4DL
  val ByteOrderMagicSwapped = 0x4D3C2B1AL
  val TsResolOption = 9
}

/** Container sniffer: classic pcap (any endian/resolution magic) vs
  * pcapng, selected from the first 4 bytes without consuming them. */
object PacketReaders {
  def open(in: InputStream, options: DecodeOptions): PacketReader = {
    val pb = new java.io.PushbackInputStream(in, 4)
    val head = new Array[Byte](4)
    var got = 0
    while (got < 4) {
      val k = pb.read(head, got, 4 - got)
      if (k < 0) { // shorter than any magic: classic reader handles EOF
        pb.unread(head, 0, got)
        return new PcapStreamReader(pb, options)
      }
      got += k
    }
    pb.unread(head, 0, 4)
    if (PcapStreamReader.leU32(head, 0) == PcapNgStreamReader.ShbType)
      new PcapNgStreamReader(pb, options)
    else
      new PcapStreamReader(pb, options)
  }
}
