package graft.sources.pcap

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.pcap.{DnsFields, PacketSlot}

/** The fixed wide schema of the `pcap` format — the union of every field
  * the reference can emit (packet/Packet.java:9-24, packet/DnsPacket.java:
  * 6-16), every column nullable; a field the decoder didn't populate is
  * NULL, exactly reproducing the Hive SerDe's name-projection semantics
  * (PcapDeserializer.java:54-58). Parity-extension columns (SURVEY.md
  * §1.4): `ts_micro`, `time`, `pkt_idx`, `file`, `payload`.
  */
object PcapSchema {

  val full: StructType = StructType(Seq(
    StructField("ts", LongType),
    StructField("ts_micro", LongType),
    StructField("time", TimestampType),
    StructField("size", LongType),
    StructField("md5", StringType),
    StructField("ether_type", StringType),
    StructField("ttl", IntegerType),
    StructField("protocol", StringType),
    StructField("src", StringType),
    StructField("dst", StringType),
    StructField("src_port", IntegerType),
    StructField("dst_port", IntegerType),
    StructField("udpsum", IntegerType),
    StructField("tcp_seq", LongType),
    StructField("tcp_flags", StringType),
    StructField("tcp_ack", LongType),
    StructField("icmp_type", IntegerType),
    StructField("icmp_code", IntegerType),
    StructField("tcp_window", IntegerType),
    StructField("tcp_mss", IntegerType),
    StructField("tcp_wscale", IntegerType),
    StructField("tcp_sack_ok", BooleanType),
    StructField("tcp_ts_ok", BooleanType),
    StructField("vlan_id", IntegerType),
    StructField("vlan_pcp", IntegerType),
    StructField("vlan_inner_id", IntegerType),
    StructField("mpls_labels", ArrayType(IntegerType)),
    StructField("len", IntegerType),
    StructField("frag", BooleanType),
    StructField("ip_id", IntegerType),
    StructField("frag_offset", IntegerType),
    StructField("payload_len", IntegerType),
    StructField("ext_count", IntegerType),
    StructField("ext_headers", StringType),
    StructField("dns_queryid", IntegerType),
    StructField("dns_flags", StringType),
    StructField("dns_qr", BooleanType),
    StructField("dns_opcode", StringType),
    StructField("dns_rcode", StringType),
    StructField("dns_qname", StringType),
    StructField("dns_qtype", IntegerType),
    StructField("dns_qtype_str", StringType),
    StructField("dns_answer", ArrayType(StringType)),
    StructField("dns_authority", ArrayType(StringType)),
    StructField("dns_additional", ArrayType(StringType)),
    StructField("pkt_idx", LongType),
    StructField("file", StringType),
    StructField("payload", BinaryType),
    StructField("frame", BinaryType)))

  /** The decoder switches a scan asks for: work whose column is neither
    * requested nor read by a pushed filter is skipped (DNS parse,
    * RR-section and qname strings, MD5 digest, payload and frame copies,
    * checksum, address and extension-header strings, TCP option walk).
    * Spark prunes a column that only a pushed (non-residual) filter
    * reads from the required schema, so the filters' columns count here
    * too, or the predicate would test a field the decoder never filled
    * (PrunedDecodeParitySpec, PcapExactPushdownSpec). Batch and
    * streaming scans both derive their options here. */
  def decodeOptions(required: StructType,
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap,
      pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
      : graft.pcap.DecodeOptions = {
    val need = required.fieldNames.toSet ++ pushed.flatMap(_.references)
    // resolved even when unused: an unknown decoder name fails planning
    val appDecoder = graft.pcap.PayloadDecoders.forName(
      options.getOrDefault("decoder", "ip"))
    graft.pcap.DecodeOptions(
      appDecoder =
        if (need.exists(_.startsWith("dns_"))) appDecoder else None,
      md5 = options.getBoolean("md5", false) && need("md5"),
      keepPayload = need("payload"),
      dnsSections = need("dns_answer") || need("dns_authority") ||
        need("dns_additional"),
      udpsum = need("udpsum"),
      addrStrings = need("src") || need("dst"),
      extHeaderStrings = need("ext_headers"),
      keepFrame = need("frame"),
      tcpOptions = need("tcp_mss") || need("tcp_wscale") ||
        need("tcp_sack_ok") || need("tcp_ts_ok"),
      dnsQname = need("dns_qname"))
  }

  // ----- column readers ----------------------------------------------------
  // One reader per column over the decoder's reused PacketSlot. It either
  // appends the packet's value straight into a WritableColumnVector (the
  // columnar scan: no per-row object and nothing boxed; downstream
  // operators read the batch through codegen'd ColumnarToRow) or sets it
  // into the row reader's reused mutable row. A field whose presence bit
  // is clear is NULL. The DNS RR-section array columns append through the
  // vector's child (offsets row in the parent, elements in `arrayData()`),
  // so every projection takes the columnar path.

  import org.apache.spark.sql.execution.vectorized.WritableColumnVector
  import PacketSlot._

  // Serializable: a pushed IsNotNull predicate ships the column's reader
  // to the executors inside the reader factory
  private[pcap] abstract class Col extends Serializable {
    /** The column is non-NULL for this packet: `append`/`set` write NULL
      * exactly when this is false, and a pushed `IsNotNull` filter is this
      * test, so it keeps exactly the rows SQL's `IS NOT NULL` keeps. */
    def nonNull(s: PacketSlot): Boolean
    def append(v: WritableColumnVector, s: PacketSlot, f: PacketFeed): Unit
    def set(row: InternalRow, i: Int, s: PacketSlot, f: PacketFeed): Unit
  }

  // primitive-returning getters (a Function1 over an object would box)
  private trait LongOf extends Serializable { def apply(s: PacketSlot): Long }
  private trait IntOf extends Serializable { def apply(s: PacketSlot): Int }
  private trait BoolOf extends Serializable { def apply(s: PacketSlot): Boolean }

  private final class LongCol(bit: Long, get: LongOf) extends Col {
    def nonNull(s: PacketSlot): Boolean = s.has(bit)
    def append(v: WritableColumnVector, s: PacketSlot, f: PacketFeed): Unit =
      if (nonNull(s)) v.appendLong(get(s)) else v.appendNull()
    def set(row: InternalRow, i: Int, s: PacketSlot, f: PacketFeed): Unit =
      if (nonNull(s)) row.setLong(i, get(s)) else row.setNullAt(i)
  }

  private final class IntCol(bit: Long, get: IntOf) extends Col {
    def nonNull(s: PacketSlot): Boolean = s.has(bit)
    def append(v: WritableColumnVector, s: PacketSlot, f: PacketFeed): Unit =
      if (nonNull(s)) v.appendInt(get(s)) else v.appendNull()
    def set(row: InternalRow, i: Int, s: PacketSlot, f: PacketFeed): Unit =
      if (nonNull(s)) row.setInt(i, get(s)) else row.setNullAt(i)
  }

  private final class BoolCol(bit: Long, get: BoolOf) extends Col {
    def nonNull(s: PacketSlot): Boolean = s.has(bit)
    def append(v: WritableColumnVector, s: PacketSlot, f: PacketFeed): Unit =
      if (nonNull(s)) v.appendBoolean(get(s)) else v.appendNull()
    def set(row: InternalRow, i: Int, s: PacketSlot, f: PacketFeed): Unit =
      if (nonNull(s)) row.setBoolean(i, get(s)) else row.setNullAt(i)
  }

  /** A string field; null from `get` is NULL too. `interned` columns hold
    * low-cardinality values (protocol names, flag combos, mnemonics) whose
    * encoded forms are cached. */
  private final class StrCol(bit: Long, interned: Boolean,
      get: PacketSlot => String) extends Col {
    def nonNull(s: PacketSlot): Boolean = s.has(bit) && get(s) != null
    def append(v: WritableColumnVector, s: PacketSlot, f: PacketFeed): Unit = {
      val x = if (s.has(bit)) get(s) else null
      if (x == null) v.appendNull()
      else {
        val b = if (interned) bytesI(x) else x.getBytes(UTF_8)
        v.appendByteArray(b, 0, b.length)
      }
    }
    def set(row: InternalRow, i: Int, s: PacketSlot, f: PacketFeed): Unit = {
      val x = if (s.has(bit)) get(s) else null
      if (x == null) row.setNullAt(i)
      else row.update(i, if (interned) utf8i(x) else UTF8String.fromString(x))
    }
  }

  /** src / dst: the text is formatted from the frame bytes straight into
    * the vector, never through a String. */
  private final class AddrCol(dst: Boolean) extends Col {
    private val bit = if (dst) Dst else Src
    def nonNull(s: PacketSlot): Boolean = s.has(bit)
    def append(v: WritableColumnVector, s: PacketSlot, f: PacketFeed): Unit =
      if (nonNull(s)) v.appendByteArray(s.text, 0, s.addrText(dst))
      else v.appendNull()
    def set(row: InternalRow, i: Int, s: PacketSlot, f: PacketFeed): Unit =
      if (nonNull(s)) row.update(i, UTF8String.fromBytes(
        java.util.Arrays.copyOf(s.text, s.addrText(dst))))
      else row.setNullAt(i)
  }

  /** payload / frame: a slice of the frame buffer, copied into the vector
    * (or, for a row, out into its own array). */
  private final class BytesCol(bit: Long, off: IntOf, len: IntOf) extends Col {
    def nonNull(s: PacketSlot): Boolean = s.has(bit)
    def append(v: WritableColumnVector, s: PacketSlot, f: PacketFeed): Unit =
      if (nonNull(s)) v.appendByteArray(s.data, off(s), len(s))
      else v.appendNull()
    def set(row: InternalRow, i: Int, s: PacketSlot, f: PacketFeed): Unit =
      if (nonNull(s)) {
        val o = off(s)
        row.update(i, java.util.Arrays.copyOfRange(s.data, o, o + len(s)))
      } else row.setNullAt(i)
  }

  /** Array-of-string append: the offsets row goes into the parent FIRST
    * (appendArray records the child's CURRENT element count as the start
    * offset), then the elements into the child vector. */
  private final class StrArrayCol(get: DnsFields => Seq[String]) extends Col {
    def nonNull(s: PacketSlot): Boolean = s.has(Dns)
    def append(v: WritableColumnVector, s: PacketSlot, f: PacketFeed): Unit =
      if (!nonNull(s)) v.appendNull()
      else {
        val xs = get(s.dns)
        v.appendArray(xs.length)
        val child = v.arrayData()
        xs.foreach { x =>
          val b = x.getBytes(UTF_8)
          child.appendByteArray(b, 0, b.length)
        }
      }
    def set(row: InternalRow, i: Int, s: PacketSlot, f: PacketFeed): Unit =
      if (!nonNull(s)) row.setNullAt(i)
      else {
        val xs = get(s.dns)
        row.update(i,
          if (xs.isEmpty) emptyStrArray
          else ArrayData.toArrayData(xs.map(UTF8String.fromString).toArray))
      }
  }

  /** mpls_labels, same offsets-then-elements contract as [[StrArrayCol]]. */
  private object MplsCol extends Col {
    def nonNull(s: PacketSlot): Boolean = s.has(Mpls)
    def append(v: WritableColumnVector, s: PacketSlot, f: PacketFeed): Unit =
      if (!nonNull(s)) v.appendNull()
      else {
        v.appendArray(s.mplsCount)
        v.arrayData().appendInts(s.mplsCount, s.mpls, 0)
      }
    def set(row: InternalRow, i: Int, s: PacketSlot, f: PacketFeed): Unit =
      if (!nonNull(s)) row.setNullAt(i)
      else row.update(i, ArrayData.toArrayData(
        java.util.Arrays.copyOf(s.mpls, s.mplsCount)))
  }

  private object PktIdxCol extends Col {
    def nonNull(s: PacketSlot): Boolean = true
    def append(v: WritableColumnVector, s: PacketSlot, f: PacketFeed): Unit =
      v.appendLong(f.pktIdx)
    def set(row: InternalRow, i: Int, s: PacketSlot, f: PacketFeed): Unit =
      row.setLong(i, f.pktIdx)
  }

  private object FileCol extends Col {
    def nonNull(s: PacketSlot): Boolean = true
    def append(v: WritableColumnVector, s: PacketSlot, f: PacketFeed): Unit =
      v.appendByteArray(f.currentFileBytes, 0, f.currentFileBytes.length)
    def set(row: InternalRow, i: Int, s: PacketSlot, f: PacketFeed): Unit =
      row.update(i, f.currentFile)
  }

  private val UTF_8 = java.nio.charset.StandardCharsets.UTF_8

  /** Low-cardinality columns (protocol names, flag combos, type mnemonics)
    * repeat millions of times at scale; intern their UTF8String and UTF-8
    * byte forms. Bounded: only the first 4096 distinct values are cached. */
  private val interned =
    new java.util.concurrent.ConcurrentHashMap[String, UTF8String]()
  private def utf8i(s: String): UTF8String = {
    val cached = interned.get(s)
    if (cached != null) cached
    else {
      val v = UTF8String.fromString(s)
      if (interned.size < 4096) interned.putIfAbsent(s, v)
      v
    }
  }
  private val internedBytes =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Byte]]()
  private def bytesI(s: String): Array[Byte] = {
    val cached = internedBytes.get(s)
    if (cached != null) cached
    else {
      val b = s.getBytes(UTF_8)
      if (internedBytes.size < 4096) internedBytes.putIfAbsent(s, b)
      b
    }
  }

  private val emptyStrArray: ArrayData =
    ArrayData.toArrayData(Array.empty[AnyRef])

  private val cols: Map[String, Col] = Map(
    "ts" -> new LongCol(Ts, _.ts),
    "ts_micro" -> new LongCol(TsMicro, _.tsMicro),
    "time" -> new LongCol(TsMicro, _.tsMicro), // TimestampType micros
    "size" -> new LongCol(Size, _.size),
    "md5" -> new StrCol(Md5, interned = false, _.md5),
    "ether_type" -> new StrCol(EtherType, interned = true, _.etherType),
    "ttl" -> new IntCol(Ttl, _.ttl),
    "protocol" -> new StrCol(Protocol, interned = true, _.protocol),
    "src" -> new AddrCol(dst = false),
    "dst" -> new AddrCol(dst = true),
    "src_port" -> new IntCol(SrcPort, _.srcPort),
    "dst_port" -> new IntCol(DstPort, _.dstPort),
    "udpsum" -> new IntCol(Udpsum, _.udpsum),
    "tcp_seq" -> new LongCol(TcpSeq, _.tcpSeq),
    "tcp_flags" -> new StrCol(TcpFlags, interned = true, _.tcpFlags),
    "tcp_ack" -> new LongCol(TcpAck, _.tcpAck),
    "icmp_type" -> new IntCol(IcmpType, _.icmpType),
    "icmp_code" -> new IntCol(IcmpCode, _.icmpCode),
    "tcp_window" -> new IntCol(TcpWindow, _.tcpWindow),
    "tcp_mss" -> new IntCol(TcpMss, _.tcpMss),
    "tcp_wscale" -> new IntCol(TcpWscale, _.tcpWscale),
    "tcp_sack_ok" -> new BoolCol(TcpSackOk, _.tcpSackOk),
    "tcp_ts_ok" -> new BoolCol(TcpTsOk, _.tcpTsOk),
    "vlan_id" -> new IntCol(VlanId, _.vlanId),
    "vlan_pcp" -> new IntCol(VlanPcp, _.vlanPcp),
    "vlan_inner_id" -> new IntCol(VlanInnerId, _.vlanInnerId),
    "mpls_labels" -> MplsCol,
    "len" -> new IntCol(Len, _.len),
    "frag" -> new BoolCol(Frag, _.frag),
    "ip_id" -> new IntCol(IpId, _.ipId),
    "frag_offset" -> new IntCol(FragOffset, _.fragOffset),
    "payload_len" -> new IntCol(PayloadLen, _.payloadLen),
    "ext_count" -> new IntCol(ExtCount, _.extCount),
    "ext_headers" -> new StrCol(ExtHeaders, interned = false, _.extHeaders),
    "dns_queryid" -> new IntCol(Dns, _.dns.queryId),
    "dns_flags" -> new StrCol(Dns, interned = true, _.dns.flags),
    "dns_qr" -> new BoolCol(Dns, _.dns.qr),
    "dns_opcode" -> new StrCol(Dns, interned = true, _.dns.opcode),
    "dns_rcode" -> new StrCol(Dns, interned = true, _.dns.rcode),
    "dns_qname" -> new StrCol(Dns, interned = false, _.dns.qname.orNull),
    "dns_qtype" -> new IntCol(Dns, _.dns.qtype),
    "dns_qtype_str" ->
      new StrCol(Dns, interned = true, _.dns.qtypeStr.orNull),
    "dns_answer" -> new StrArrayCol(_.answer),
    "dns_authority" -> new StrArrayCol(_.authority),
    "dns_additional" -> new StrArrayCol(_.additional),
    "pkt_idx" -> PktIdxCol,
    "file" -> FileCol,
    "payload" -> new BytesCol(Payload, _.payloadOff, _.len),
    "frame" -> new BytesCol(Frame, _.frameOff, _.frameLen))

  /** The column readers of a pruned schema, in its order. */
  private[pcap] def columns(schema: StructType): Array[Col] =
    schema.fieldNames.map(cols)

  /** The NULL test of column `c`'s reader, as a packet predicate. */
  private[pcap] def nonNull(c: String): Option[PacketSlot => Boolean] =
    cols.get(c).map(col => col.nonNull(_))

  /** Every pcap column has a columnar reader since the RR-section arrays
    * gained child-vector appends (round-6 verdict #5); the row reader
    * remains as the golden-parity twin and the streaming path. */
  def columnarEligible(schema: StructType): Boolean = true
}
