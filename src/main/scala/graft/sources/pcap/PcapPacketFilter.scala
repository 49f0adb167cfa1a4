package graft.sources.pcap

import org.apache.spark.sql.sources._

import graft.pcap.PacketSlot
import graft.pcap.PacketSlot._

/** Compiles the Spark `Filter`s the decoder evaluates exactly into one
  * predicate over the decoder's [[PacketSlot]]. Pushdown is exact: a
  * packet passes a pushed filter iff the row the scan would build from it
  * passes that filter in SQL, so the scan returns no residual copy of it
  * and Spark plans no post-scan `Filter` for it. A packet failing a pushed
  * filter is skipped before row materialization (a qname-suffix scan over
  * a 100 TB archive decodes every packet but materializes only the
  * matching rows, and RR-section string building is skipped for
  * everything else).
  *
  * Accepted (anything else stays a post-scan filter):
  *   - `=` and `IN` with integral literals on `ts`, `src_port`,
  *     `dst_port`; with `String` literals on `protocol`, `ether_type`,
  *     `tcp_flags`, `src`, `dst`, `dns_qname`, `dns_rcode`; with
  *     `Boolean` literals on `dns_qr` (a NULL in an `IN` list declines
  *     the whole filter); their negations `<>` and `NOT IN` (non-empty)
  *     too, which keep the non-NULL rows that do not match (Catalyst
  *     rewrites `dns_qr = false` to `NOT dns_qr`);
  *   - `>`, `>=`, `<`, `<=` with integral literals on `ts`;
  *   - prefix, suffix and substring tests on `protocol`, `ether_type`,
  *     `tcp_flags`, `dns_qname`, `dns_rcode`;
  *   - `IS NOT NULL` on any column: the predicate is that column
  *     reader's own NULL test ([[PcapSchema.nonNull]]).
  *
  * A NULL column never matches a comparison, as in SQL. On well-formed
  * strings `String` equality, `startsWith`, `endsWith` and `contains`
  * agree with Spark's byte-wise UTF-8 tests (the built-in decoders
  * produce only ASCII for these columns). The columns a pushed filter
  * reads are decoded even when the query projects none of them
  * ([[PcapSchema.decodeOptions]]).
  */
object PcapPacketFilter {
  type Predicate = PacketSlot => Boolean
  val acceptAll: Predicate = _ => true

  private val integralColumns = Set("ts", "src_port", "dst_port")
  // tcp_flags is here for the TcpFlag membership predicates
  // (contains("SYN") etc.) — the SYN-scan/handshake queries' row-skip
  private val textColumns =
    Set("protocol", "ether_type", "tcp_flags", "dns_qname", "dns_rcode")

  private def integral(v: Any): Boolean = v match {
    case _: Int | _: Long | _: Short | _: Byte => true
    case _ => false
  }

  /** `v` is a literal the column's equality test compares exactly. */
  private def literalFor(c: String, v: Any): Boolean = v match {
    case _: String => textColumns(c) || c == "src" || c == "dst"
    case _: Boolean => c == "dns_qr"
    case _ => integral(v) && integralColumns(c)
  }

  def supported(f: Filter): Boolean = f match {
    case EqualTo(c, v) => literalFor(c, v)
    case In(c, vs) => vs.forall(literalFor(c, _))
    case Not(EqualTo(c, v)) => literalFor(c, v)
    // NOT IN () keeps NULL rows too: declined
    case Not(In(c, vs)) => vs.nonEmpty && vs.forall(literalFor(c, _))
    case GreaterThan("ts", v) => integral(v)
    case GreaterThanOrEqual("ts", v) => integral(v)
    case LessThan("ts", v) => integral(v)
    case LessThanOrEqual("ts", v) => integral(v)
    case StringStartsWith(c, _) => textColumns(c)
    case StringEndsWith(c, _) => textColumns(c)
    case StringContains(c, _) => textColumns(c)
    // Catalyst attaches IsNotNull beneath most comparison filters, and
    // "dns_qname IS NOT NULL" is the canonical DNS-telemetry predicate:
    // skipping row materialization for the non-matching packets (ARP,
    // non-DNS UDP) is a large fraction of a mixed capture
    case IsNotNull(c) => PcapSchema.nonNull(c).isDefined
    case _ => false
  }

  private val UTF_8 = java.nio.charset.StandardCharsets.UTF_8

  /** Only for literals [[integral]] accepted. */
  private def asLong(v: Any): Long = v match {
    case i: Int => i.toLong
    case l: Long => l
    case s: Short => s.toLong
    case b: Byte => b.toLong
  }

  private def presence(c: String): Long = c match {
    case "protocol" => Protocol
    case "ether_type" => EtherType
    case "tcp_flags" => TcpFlags
    case _ => Dns // dns_qname, dns_rcode
  }

  /** The column's value as a string (null = NULL), for [[textColumns]]:
    * the same getter as the column's reader in [[PcapSchema]]. */
  private def strOf(c: String): PacketSlot => String = c match {
    case "protocol" => _.protocol
    case "ether_type" => _.etherType
    case "tcp_flags" => _.tcpFlags
    case "dns_qname" => _.dns.qname.orNull
    case "dns_rcode" => _.dns.rcode
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

  /** Equality against any of `vs`, literals [[literalFor]] accepted. */
  private def oneOf(c: String, vs: Array[Any]): Predicate = c match {
    case "src_port" =>
      val want = vs.map(asLong)
      s => s.has(SrcPort) && hasLong(want, s.srcPort)
    case "dst_port" =>
      val want = vs.map(asLong)
      s => s.has(DstPort) && hasLong(want, s.dstPort)
    case "ts" =>
      val want = vs.map(asLong)
      s => s.has(Ts) && hasLong(want, s.ts)
    case "src" | "dst" =>
      // compare the address text as formatted into the slot's scratch,
      // without building a String per packet
      val want = vs.map(_.asInstanceOf[String].getBytes(UTF_8))
      val dst = c == "dst"
      val bit = if (dst) Dst else Src
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
    case _ =>
      val want = vs.map(_.asInstanceOf[String])
      str(c)(hasStr(want, _))
  }

  private def str(c: String)(test: String => Boolean): Predicate = {
    val bit = presence(c)
    val get = strOf(c)
    s => s.has(bit) && { val x = get(s); x != null && test(x) }
  }

  private def ts(test: Long => Boolean): Predicate =
    s => s.has(Ts) && test(s.ts)

  /** The predicate of one [[supported]] filter. */
  private def one(f: Filter): Predicate = f match {
    case IsNotNull(c) => PcapSchema.nonNull(c).get
    case EqualTo(c, v) => oneOf(c, Array(v))
    case In(c, vs) => oneOf(c, vs)
    case Not(eq) =>
      // a NULL column fails the negation too, so test presence first
      val nonNull = PcapSchema.nonNull(eq.references.head).get
      val hit = one(eq)
      s => nonNull(s) && !hit(s)
    case GreaterThan(_, v) => val x = asLong(v); ts(_ > x)
    case GreaterThanOrEqual(_, v) => val x = asLong(v); ts(_ >= x)
    case LessThan(_, v) => val x = asLong(v); ts(_ < x)
    case LessThanOrEqual(_, v) => val x = asLong(v); ts(_ <= x)
    case StringStartsWith(c, p) => str(c)(_.startsWith(p))
    case StringEndsWith(c, p) => str(c)(_.endsWith(p))
    case StringContains(c, p) => str(c)(_.contains(p))
    case other =>
      throw new IllegalArgumentException(s"not a pushable pcap filter: $other")
  }

  /** One closure per filter, each bound to its column when compiled;
    * unsupported filters are left out (they stay post-scan). */
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
