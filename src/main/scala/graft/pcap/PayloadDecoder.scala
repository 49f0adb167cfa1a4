package graft.pcap

/** Application-layer decoder plug-in point — the Spark mapping of the
  * reference's reader-subclass hook (`createPacket` /
  * `processPacketPayload`, PcapReader.java:228-232, selected via conf key
  * `net.ripe.hadoop.pcap.io.reader.class`, PcapInputFormat.java:29,55-64;
  * usage doc hadoop-pcap-lib/README.md:6-15).
  *
  * A decoder inspects the L4 payload of a TCP/UDP packet and may
  * contribute app-layer fields (the `dns_*` column family). Selection is
  * by name via the source option `decoder`; third-party decoders register
  * through `java.util.ServiceLoader` (drop a provider-configuration file
  * for `graft.pcap.PayloadDecoder` on the classpath), mirroring how the
  * reference lets users point the conf key at their own subclass.
  */
trait PayloadDecoder extends Serializable {
  /** Option name this decoder answers to (e.g. "dns"). */
  def name: String

  /** App-layer decode; None when the packet isn't this protocol or fails
    * to parse (failures must be swallowed — reference contract,
    * DnsPcapReader.java:53-55). */
  def decode(protocol: String, srcPort: Int, dstPort: Int,
      payload: Array[Byte]): Option[DnsFields]

  /** In-place variant over the captured frame (hot path; default copies).
    * `start`/`end` delimit the L4 payload inside `frame`. The caller may
    * REUSE the frame array for subsequent packets — a decoder must copy
    * anything it keeps (the default implementation already does). */
  def decodeAt(protocol: String, srcPort: Int, dstPort: Int,
      frame: Array[Byte], start: Int, end: Int): Option[DnsFields] =
    decode(protocol, srcPort, dstPort,
      java.util.Arrays.copyOfRange(frame, start, end))

  /** Pruning hint: `emitSections = false` means the caller will not read
    * the answer/authority/additional columns, so a decoder MAY skip
    * building them (it must still fail on the same malformed input —
    * pruning must never change which packets decode). Default ignores
    * the hint, so third-party decoders are unaffected. */
  def decodeAt(protocol: String, srcPort: Int, dstPort: Int,
      frame: Array[Byte], start: Int, end: Int,
      emitSections: Boolean): Option[DnsFields] =
    decodeAt(protocol, srcPort, dstPort, frame, start, end)

  /** The scan's hook: the same decode with a second pruning hint, null
    * where the other overloads return None. `emitQname = false` means the
    * caller will not read `dns_qname`, so a decoder MAY leave `qname`
    * None (same failure rule as `emitSections`). Default falls back to
    * the `emitSections` overload, so third-party decoders are
    * unaffected. */
  def decodeFields(protocol: String, srcPort: Int, dstPort: Int,
      frame: Array[Byte], start: Int, end: Int, emitSections: Boolean,
      emitQname: Boolean): DnsFields =
    decodeAt(protocol, srcPort, dstPort, frame, start, end, emitSections)
      .orNull
}

/** The shipped instance: DNS over UDP port 53 (DnsPcapReader.java:23,38;
  * DNS-over-TCP never parses in the reference and is skipped here —
  * SURVEY.md §7.5). */
object DnsPayloadDecoder extends PayloadDecoder {
  override def name: String = "dns"
  override def decode(protocol: String, srcPort: Int, dstPort: Int,
      payload: Array[Byte]): Option[DnsFields] =
    if (protocol == "UDP" && (srcPort == 53 || dstPort == 53))
      DnsParser.parse(payload)
    else None

  override def decodeAt(protocol: String, srcPort: Int, dstPort: Int,
      frame: Array[Byte], start: Int, end: Int): Option[DnsFields] =
    decodeAt(protocol, srcPort, dstPort, frame, start, end,
      emitSections = true)

  override def decodeAt(protocol: String, srcPort: Int, dstPort: Int,
      frame: Array[Byte], start: Int, end: Int,
      emitSections: Boolean): Option[DnsFields] =
    Option(decodeFields(protocol, srcPort, dstPort, frame, start, end,
      emitSections, emitQname = true))

  override def decodeFields(protocol: String, srcPort: Int, dstPort: Int,
      frame: Array[Byte], start: Int, end: Int, emitSections: Boolean,
      emitQname: Boolean): DnsFields =
    if (protocol == "UDP" && (srcPort == 53 || dstPort == 53))
      DnsParser.parseOrNull(frame, start, end, emitSections, emitQname)
    else null
}

/** EXTENSION (SURVEY.md §7.5 "TCP-DNS as extension option"): additionally
  * parses DNS over TCP port 53 by skipping the RFC 1035 §4.2.2 two-byte
  * length prefix — the very bytes that make dnsjava (and therefore the
  * reference) fail on every DNS-over-TCP packet. UDP behavior is
  * identical to [[DnsPayloadDecoder]]. Select with `decoder=dns+tcp`.
  * Only a complete single-message segment parses (a length prefix larger
  * than the captured payload means the message continues in another
  * segment — no cross-packet reassembly, same packet-at-a-time contract
  * as everything else). */
object DnsTcpPayloadDecoder extends PayloadDecoder {
  override def name: String = "dns+tcp"
  override def decode(protocol: String, srcPort: Int, dstPort: Int,
      payload: Array[Byte]): Option[DnsFields] =
    decodeAt(protocol, srcPort, dstPort, payload, 0, payload.length)

  override def decodeAt(protocol: String, srcPort: Int, dstPort: Int,
      frame: Array[Byte], start: Int, end: Int): Option[DnsFields] =
    decodeAt(protocol, srcPort, dstPort, frame, start, end,
      emitSections = true)

  override def decodeAt(protocol: String, srcPort: Int, dstPort: Int,
      frame: Array[Byte], start: Int, end: Int,
      emitSections: Boolean): Option[DnsFields] =
    Option(decodeFields(protocol, srcPort, dstPort, frame, start, end,
      emitSections, emitQname = true))

  override def decodeFields(protocol: String, srcPort: Int, dstPort: Int,
      frame: Array[Byte], start: Int, end: Int, emitSections: Boolean,
      emitQname: Boolean): DnsFields =
    if (srcPort != 53 && dstPort != 53) null
    else protocol match {
      case "UDP" =>
        DnsParser.parseOrNull(frame, start, end, emitSections, emitQname)
      case "TCP" if end - start >= 2 =>
        val msgLen = ((frame(start) & 0xFF) << 8) | (frame(start + 1) & 0xFF)
        if (msgLen == 0 || start + 2 + msgLen > end) null
        else DnsParser.parseOrNull(frame, start + 2, start + 2 + msgLen,
          emitSections, emitQname)
      case _ => null
    }
}

object PayloadDecoders {
  private lazy val loaded: Map[String, PayloadDecoder] = {
    import scala.jdk.CollectionConverters._
    val sl = java.util.ServiceLoader.load(classOf[PayloadDecoder])
      .iterator().asScala.map(d => d.name -> d).toMap
    sl + (DnsPayloadDecoder.name -> DnsPayloadDecoder) +
      (DnsTcpPayloadDecoder.name -> DnsTcpPayloadDecoder)
  }

  /** Resolve an option value; "ip" (the base reader) means no app-layer
    * decode. Unknown names fail fast at planning time. */
  def forName(name: String): Option[PayloadDecoder] = name.toLowerCase match {
    case "ip" => None
    case n => Some(loaded.getOrElse(n,
      throw new IllegalArgumentException(
        s"unknown pcap decoder '$name'; available: ip, ${loaded.keys.mkString(", ")}")))
  }
}
