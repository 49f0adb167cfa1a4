package graft.sources.pcap

import org.apache.spark.sql.sources._

import graft.pcap.PacketSlot
import graft.pcap.PacketSlot._

/** Compiles the subset of Spark `Filter`s the decoder can evaluate per
  * packet (port/protocol/ether_type/src/dst equality and IN; ts range;
  * dns_qname/dns_rcode equality, prefix, suffix, contains; dns_qr
  * equality) into one predicate over the decoder's [[PacketSlot]]. A
  * packet failing a pushed filter is skipped before row materialization
  * — Spark still applies the full filter post-scan, so pushdown is purely
  * a row-skipping optimization (a qname-suffix scan over a 100 TB archive
  * decodes every packet but materializes only the matching rows, and
  * RR-section string building is skipped for everything else).
  */
object PcapPacketFilter {
  type Predicate = PacketSlot => Boolean
  val acceptAll: Predicate = _ => true

  private val columns = Set("src_port", "dst_port", "protocol",
    "ether_type", "ts", "src", "dst", "tcp_flags",
    "dns_qname", "dns_rcode", "dns_qr")
  // tcp_flags is here for the TcpFlag membership predicates
  // (contains("SYN") etc.) — the SYN-scan/handshake queries' row-skip
  private val stringColumns = Set("dns_qname", "dns_rcode", "tcp_flags")

  def supported(f: Filter): Boolean = f match {
    case EqualTo(c, _) => columns(c)
    case In(c, _) => columns(c)
    case GreaterThan("ts", _) | GreaterThanOrEqual("ts", _) |
         LessThan("ts", _) | LessThanOrEqual("ts", _) => true
    case StringStartsWith(c, _) => stringColumns(c)
    case StringEndsWith(c, _) => stringColumns(c)
    case StringContains(c, _) => stringColumns(c)
    // Catalyst attaches IsNotNull beneath most comparison filters, and
    // "dns_qname IS NOT NULL" is the canonical DNS-telemetry predicate:
    // skipping row materialization for the non-matching packets (ARP,
    // non-DNS UDP) is a large fraction of a mixed capture
    case IsNotNull(c) => columns(c)
    case _ => false
  }

  private val UTF_8 = java.nio.charset.StandardCharsets.UTF_8

  private def asLong(v: Any): Long = v match {
    case i: Int => i.toLong
    case l: Long => l
    case s: Short => s.toLong
    case _ => Long.MinValue
  }

  private def presence(c: String): Long = c match {
    case "src_port" => SrcPort
    case "dst_port" => DstPort
    case "protocol" => Protocol
    case "ether_type" => EtherType
    case "ts" => Ts
    case "src" => Src
    case "dst" => Dst
    case "tcp_flags" => TcpFlags
    case _ => Dns // dns_qname, dns_rcode, dns_qr
  }

  /** The column's value as a string (null = NULL), for the string
    * columns other than the addresses. */
  private def strOf(c: String): PacketSlot => String = c match {
    case "protocol" => _.protocol
    case "ether_type" => _.etherType
    case "tcp_flags" => _.tcpFlags
    case "dns_qname" => _.dns.qname.orNull
    case "dns_rcode" => _.dns.rcode
    case _ => null
  }

  private def hasLong(want: Array[Long], x: Long): Boolean = {
    var i = 0
    while (i < want.length && want(i) != x) i += 1
    i < want.length
  }

  private def hasStr(want: Array[String], x: String): Boolean = {
    var i = 0
    while (i < want.length && !want(i).equals(x)) i += 1
    i < want.length
  }

  private def sameBytes(a: Array[Byte], b: Array[Byte], n: Int): Boolean = {
    if (a.length != n) return false
    var i = 0
    while (i < n && a(i) == b(i)) i += 1
    i == n
  }

  /** Equality against any of `vs`: numeric-tolerant (Spark may hand us
    * Int or Long literals); a value of the wrong type never matches. */
  private def oneOf(c: String, vs: Array[Any]): Predicate = {
    val longs = vs.map(asLong)
    val strs = vs.collect { case x: String => x }
    c match {
      case "src_port" => s => s.has(SrcPort) && hasLong(longs, s.srcPort)
      case "dst_port" => s => s.has(DstPort) && hasLong(longs, s.dstPort)
      case "ts" => s => s.has(Ts) && hasLong(longs, s.ts)
      case "src" | "dst" =>
        // compare the address text as formatted into the slot's scratch,
        // without building a String per packet
        val want = strs.map(_.getBytes(UTF_8))
        val dst = c == "dst"
        val bit = presence(c)
        s => s.has(bit) && {
          val n = s.addrText(dst)
          var i = 0
          while (i < want.length && !sameBytes(want(i), s.text, n)) i += 1
          i < want.length
        }
      case "dns_qr" =>
        val t = vs.contains(true)
        val f = vs.contains(false)
        s => s.has(Dns) && (if (s.dns.qr) t else f)
      case _ => str(c)(hasStr(strs, _))
    }
  }

  private def str(c: String)(test: String => Boolean): Predicate = {
    val bit = presence(c)
    val get = strOf(c)
    s => s.has(bit) && { val x = get(s); x != null && test(x) }
  }

  private def ts(test: Long => Boolean): Predicate =
    s => s.has(Ts) && test(s.ts)

  private def one(f: Filter): Predicate = f match {
    // a record missing the column is NULL → the filter can't match;
    // skipping is safe (Spark's residual filter would drop it anyway)
    case IsNotNull("dns_qname") =>
      s => s.has(Dns) && s.dns.qname.isDefined
    case IsNotNull(c) =>
      val bit = presence(c)
      s => s.has(bit)
    case EqualTo(c, v) => oneOf(c, Array(v))
    case In(c, vs) => oneOf(c, vs)
    case GreaterThan("ts", v) => val x = asLong(v); ts(_ > x)
    case GreaterThanOrEqual("ts", v) => val x = asLong(v); ts(_ >= x)
    case LessThan("ts", v) => val x = asLong(v); ts(_ < x)
    case LessThanOrEqual("ts", v) => val x = asLong(v); ts(_ <= x)
    case StringStartsWith(c, p) => str(c)(_.startsWith(p))
    case StringEndsWith(c, p) => str(c)(_.endsWith(p))
    case StringContains(c, p) => str(c)(_.contains(p))
    case _ => acceptAll
  }

  /** One closure per filter, each bound to its column when compiled. */
  def compile(filters: Array[Filter]): Predicate =
    filters.filter(supported).map(one) match {
      case Array() => acceptAll
      case Array(p) => p
      case ps =>
        s => {
          var i = 0
          while (i < ps.length && ps(i)(s)) i += 1
          i == ps.length
        }
    }
}
