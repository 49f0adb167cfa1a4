package graft.pcap

import scala.collection.mutable.ArrayBuffer

/** From-scratch DNS wire-format parser (RFC 1035 + EDNS0), replacing the
  * reference's dnsjava dependency (DnsPcapReader.java:35-57; dnsjava is
  * LGPL and unavailable in this offline build — SURVEY.md §7.4).
  *
  * Output contract mirrors the reference's observable behavior:
  *   - any parse failure → None (the reference silently swallows decode
  *     errors, DnsPcapReader.java:53-55);
  *   - `flags` is the space-separated lowercase flag mnemonics in header
  *     bit order: qr aa tc rd ra ad cd (dnsjava Header.printFlags);
  *   - `qname` is lowercased with trailing dot (DnsPcapReader.java:68-74);
  *   - RR sections render one presentation string per record in a
  *     documented canonical format `name ttl CLASS TYPE rdata`, then get
  *     the reference's whitespace normalization (runs of whitespace → one
  *     space, DnsPcapReader.java:98-107). Exact dnsjava formatting parity
  *     is explicitly out of scope (SURVEY.md §7.4); the OPT
  *     pseudo-record follows dnsjava's shape since the reference test
  *     asserts it: `. <ttl> CLASS<size> OPT ; payload <n>, xrcode <n>,
  *     version <n>, flags <n>`.
  */
object DnsParser {

  private val Opcodes = Map(0 -> "QUERY", 1 -> "IQUERY", 2 -> "STATUS",
    4 -> "NOTIFY", 5 -> "UPDATE")
  private val Rcodes = Map(0 -> "NOERROR", 1 -> "FORMERR", 2 -> "SERVFAIL",
    3 -> "NXDOMAIN", 4 -> "NOTIMP", 5 -> "REFUSED", 6 -> "YXDOMAIN",
    7 -> "YXRRSET", 8 -> "NXRRSET", 9 -> "NOTAUTH", 10 -> "NOTZONE",
    16 -> "BADVERS")
  private val Types = Map(
    1 -> "A", 2 -> "NS", 3 -> "MD", 4 -> "MF", 5 -> "CNAME", 6 -> "SOA",
    7 -> "MB", 8 -> "MG", 9 -> "MR", 10 -> "NULL", 11 -> "WKS", 12 -> "PTR",
    13 -> "HINFO", 14 -> "MINFO", 15 -> "MX", 16 -> "TXT", 17 -> "RP",
    18 -> "AFSDB", 24 -> "SIG", 25 -> "KEY", 28 -> "AAAA", 29 -> "LOC",
    33 -> "SRV", 35 -> "NAPTR", 36 -> "KX", 37 -> "CERT", 39 -> "DNAME",
    41 -> "OPT", 43 -> "DS", 44 -> "SSHFP", 45 -> "IPSECKEY", 46 -> "RRSIG",
    47 -> "NSEC", 48 -> "DNSKEY", 49 -> "DHCID", 50 -> "NSEC3",
    51 -> "NSEC3PARAM", 52 -> "TLSA", 99 -> "SPF", 250 -> "TSIG",
    251 -> "IXFR", 252 -> "AXFR", 255 -> "ANY", 257 -> "CAA")
  private val Classes = Map(1 -> "IN", 3 -> "CH", 4 -> "HS",
    254 -> "NONE", 255 -> "ANY")

  // array-indexed lookups for the per-packet loop: a HashMap.getOrElse
  // boxes its Int key, which shows up in decode profiles
  private val TypeArr: Array[String] =
    Array.tabulate(512)(i => Types.getOrElse(i, s"TYPE$i"))
  private val TypeSomeArr: Array[Some[String]] = TypeArr.map(Some(_))
  private val ClassArr: Array[String] =
    Array.tabulate(512)(i => Classes.getOrElse(i, s"CLASS$i"))
  private val OpcodeArr: Array[String] =
    Array.tabulate(16)(i => Opcodes.getOrElse(i, i.toString))
  private val RcodeArr: Array[String] =
    Array.tabulate(16)(i => Rcodes.getOrElse(i, i.toString))

  def typeString(t: Int): String =
    if (t >= 0 && t < 512) TypeArr(t) else s"TYPE$t"
  def classString(c: Int): String =
    if (c >= 0 && c < 512) ClassArr(c) else s"CLASS$c"

  private val FlagBits = Array(
    0x8000 -> "qr", 0x0400 -> "aa", 0x0200 -> "tc", 0x0100 -> "rd",
    0x0080 -> "ra", 0x0020 -> "ad", 0x0010 -> "cd")
  // 2^7 printable flag combinations — precompute every string once,
  // indexed by the 7 flag bits compacted (array read, no boxed map key)
  private val flagCache: Array[String] =
    Array.tabulate(1 << FlagBits.length) { idx =>
      FlagBits.zipWithIndex.collect {
        case ((_, n), i) if (idx & (1 << (FlagBits.length - 1 - i))) != 0 => n
      }.mkString(" ")
    }
  private def flagString(flagsWord: Int): String = {
    var idx = 0
    var i = 0
    while (i < FlagBits.length) {
      idx <<= 1
      if ((flagsWord & FlagBits(i)._1) != 0) idx |= 1
      i += 1
    }
    flagCache(idx)
  }

  def parse(payload: Array[Byte]): Option[DnsFields] =
    parse(payload, 0, payload.length)

  /** In-place variant: parses `data[start, end)` without copying the
    * payload out of the captured frame (hot path: one call per port-53
    * packet at 100 TB). All message offsets (compression pointers) are
    * relative to `start`. */
  def parse(data: Array[Byte], start: Int, end: Int): Option[DnsFields] =
    parse(data, start, end, emitSections = true)

  /** `emitSections = false` skips building the answer/authority/
    * additional presentation strings (they come back empty) while
    * running the exact same wire walk — every read, bounds check, and
    * pointer chase still happens, so a message that fails to parse
    * fully fails identically in both modes. Column pruning maps
    * unrequested section columns onto this switch: the common telemetry
    * projection (qname/qtype aggregations) then skips all RR string
    * formatting, which is the bulk of the per-packet allocation. */
  def parse(data: Array[Byte], start: Int, end: Int,
      emitSections: Boolean): Option[DnsFields] =
    Option(parseOrNull(data, start, end, emitSections, emitQname = true))

  /** The scan's variant: null where [[parse]] gives None, and
    * `emitQname = false` leaves `qname` None while still walking and
    * validating the question name (the `dns_qname` column is pruned;
    * `qtypeStr` is unaffected). */
  def parseOrNull(data: Array[Byte], start: Int, end: Int,
      emitSections: Boolean, emitQname: Boolean): DnsFields =
    try parseStrict(new Cursor(data, start, end), emitSections, emitQname)
    catch { case _: Exception => null }

  /** Every wire-format violation the walk detects. One shared instance
    * without a stack trace: capture traffic carries malformed messages
    * at a steady rate, and filling in a stack per rejected message cost
    * more than parsing the valid ones. Immutable (no stack, suppression
    * disabled), so sharing it across threads is safe. */
  private object Malformed
    extends RuntimeException("malformed DNS message", null, false, false)

  private final class Cursor(val raw: Array[Byte], val base: Int, val limit: Int) {
    // `pos` is message-relative; raw access adds `base`
    var pos = 0
    def length: Int = limit - base
    def at(i: Int): Int = {
      val j = base + i
      if (i < 0 || j >= limit) throw Malformed
      raw(j) & 0xFF
    }
    def u8(): Int = { val v = at(pos); pos += 1; v }
    def u16(): Int = { val v = (at(pos) << 8) | at(pos + 1); pos += 2; v }
    def u32(): Long = { (u16().toLong << 16) | u16().toLong }
    def bytes(n: Int): Array[Byte] = {
      if (n < 0 || base + pos + n > limit) throw Malformed
      val r = java.util.Arrays.copyOfRange(raw, base + pos, base + pos + n)
      pos += n; r
    }
    /** Same bounds contract as `bytes`, no copy (skip mode). */
    def skipBytes(n: Int): Unit = {
      if (n < 0 || base + pos + n > limit) throw Malformed
      pos += n
    }
  }

  /** Decompress a domain name at the cursor (pointer-loop safe: total
    * jumps bounded by message size). Preserves wire case; escapes
    * non-printable/special bytes RFC-1035-style. */
  private def readName(c: Cursor): String = {
    val sb = new StringBuilder
    readNameInto(c, sb)
    if (sb.isEmpty) "." else sb.toString
  }

  /** `sb == null` walks (and validates) the name without building the
    * string — the identical pointer chase and bounds checks, zero
    * allocation. */
  private def readNameInto(c: Cursor, sb: StringBuilder): Unit = {
    var jumps = 0
    var p = c.pos
    var after = -1            // cursor position after the first pointer
    var done = false
    while (!done) {
      val len = c.at(p)
      if ((len & 0xC0) == 0xC0) {
        val ptr = ((len & 0x3F) << 8) | c.at(p + 1)
        if (after < 0) after = p + 2
        jumps += 1
        if (jumps > c.length) throw Malformed // pointer loop
        p = ptr
      } else if (len == 0) {
        p += 1
        done = true
      } else {
        if (p + 1 + len > c.length) throw Malformed
        // the label's bytes are in bounds now; a walk need not read them
        if (sb != null) {
          var i = p + 1
          while (i < p + 1 + len) {
            val b = c.at(i)
            if (b < 0x21 || b > 0x7E) sb.append(f"\\$b%03d")
            else if (b == '.' || b == ';' || b == '\\' || b == '(' || b == ')' ||
                     b == '"' || b == '@' || b == '$') sb.append('\\').append(b.toChar)
            else sb.append(b.toChar)
            i += 1
          }
          sb.append('.')
        }
        p += 1 + len
      }
    }
    c.pos = if (after >= 0) after else p
  }

  /** qname fast path: the same pointer chase, jump bound, and bounds
    * checks as [[readNameInto]], but building the lowercased presentation
    * form directly as bytes (every emitted char is ASCII — label bytes
    * outside 0x21-0x7E are escaped to `\ddd` — so byte-wise lowercase is
    * exactly `readName(c).toLowerCase`). One short byte[] and one compact
    * String per call, replacing the StringBuilder char-append chain that
    * dominated decode profiles. */
  private def readQNameLower(c: Cursor): String = {
    var buf = new Array[Byte](96)
    var n = 0
    def ensure(k: Int): Unit =
      if (n + k > buf.length)
        buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, n + k))
    var jumps = 0
    var p = c.pos
    var after = -1
    var done = false
    while (!done) {
      val len = c.at(p)
      if ((len & 0xC0) == 0xC0) {
        val ptr = ((len & 0x3F) << 8) | c.at(p + 1)
        if (after < 0) after = p + 2
        jumps += 1
        if (jumps > c.length) throw Malformed // pointer loop
        p = ptr
      } else if (len == 0) {
        p += 1
        done = true
      } else {
        if (p + 1 + len > c.length) throw Malformed
        var i = p + 1
        while (i < p + 1 + len) {
          val b = c.at(i)
          if (b < 0x21 || b > 0x7E) {
            ensure(4)
            buf(n) = '\\'; buf(n + 1) = ('0' + b / 100).toByte
            buf(n + 2) = ('0' + b / 10 % 10).toByte
            buf(n + 3) = ('0' + b % 10).toByte
            n += 4
          } else if (b == '.' || b == ';' || b == '\\' || b == '(' ||
                     b == ')' || b == '"' || b == '@' || b == '$') {
            ensure(2)
            buf(n) = '\\'; buf(n + 1) = b.toByte
            n += 2
          } else {
            ensure(1)
            buf(n) = (if (b >= 'A' && b <= 'Z') b + 32 else b).toByte
            n += 1
          }
          i += 1
        }
        ensure(1)
        buf(n) = '.'
        n += 1
        p += 1 + len
      }
    }
    c.pos = if (after >= 0) after else p
    if (n == 0) "."
    else new String(buf, 0, n, java.nio.charset.StandardCharsets.ISO_8859_1)
  }

  private def parseStrict(c: Cursor, emitSections: Boolean,
      emitQname: Boolean): DnsFields = {
    if (c.length < 12) throw Malformed // short DNS header
    val id = c.u16()
    val flagsWord = c.u16()
    val qd = c.u16(); val an = c.u16(); val ns = c.u16(); val ar = c.u16()

    val qr = (flagsWord & 0x8000) != 0
    val opcode = (flagsWord >> 11) & 0xF
    val rcode = flagsWord & 0xF
    val flagsStr = flagString(flagsWord)

    var qname: Option[String] = None
    var qtype = 0
    var i = 0
    while (i < qd) {
      if (i == 0) {
        if (emitQname) qname = Some(readQNameLower(c))
        else readNameInto(c, null) // the same walk and checks, no string
        qtype = c.u16(); c.u16() // qclass
      } else {
        readNameInto(c, null) // walk + validate only
        c.u16(); c.u16()
      }
      i += 1
    }

    def section(n: Int): Seq[String] =
      if (n == 0) Nil
      else if (!emitSections) {
        // identical wire walk and validation, no string building
        var k = 0
        while (k < n) { readRecord(c, emit = false); k += 1 }
        Nil
      } else {
        val out = new ArrayBuffer[String](n)
        var k = 0
        while (k < n) { out += normalize(readRecord(c, emit = true)); k += 1 }
        out.toSeq
      }

    val answer = section(an)
    val authority = section(ns)
    val additional = section(ar)

    DnsFields(
      queryId = id,
      flags = flagsStr,
      qr = qr,
      opcode = OpcodeArr(opcode),
      rcode = RcodeArr(rcode),
      qname = qname,
      qtype = qtype,
      qtypeStr =
        if (qd == 0) None
        else if (qtype >= 0 && qtype < 512) TypeSomeArr(qtype)
        else Some(typeString(qtype)),
      answer = answer,
      authority = authority,
      additional = additional)
  }

  /** One resource record → canonical presentation string (`emit = false`
    * performs the same reads and checks but returns null without
    * allocating). */
  private def readRecord(c: Cursor, emit: Boolean): String = {
    val name = if (emit) readName(c) else { readNameInto(c, null); null }
    val t = c.u16()
    val cls = c.u16()
    val ttl = c.u32()
    val rdlen = c.u16()
    val rdStart = c.pos
    val rdEnd = rdStart + rdlen
    if (c.base + rdEnd > c.limit) throw Malformed
    val rdata = formatRdata(c, t, cls, ttl, rdStart, rdlen, emit)
    c.pos = rdEnd
    if (!emit) null
    else if (t == 41) {
      // OPT pseudo-record (EDNS0): class = UDP payload size, ttl packs
      // xrcode/version/flags — dnsjava-shaped line, fixture-asserted.
      val xrcode = (ttl >> 24) & 0xFF
      val version = (ttl >> 16) & 0xFF
      val fl = ttl & 0xFFFF
      s"$name $ttl CLASS$cls OPT ; payload $cls, xrcode $xrcode, version $version, flags $fl"
    } else {
      s"$name $ttl ${classString(cls)} ${typeString(t)} $rdata"
    }
  }

  /** `emit = false` performs the same cursor reads and bounds checks (so
    * malformed rdata fails identically) but builds no strings. */
  private def formatRdata(c: Cursor, t: Int, cls: Int, ttl: Long,
      rdStart: Int, rdlen: Int, emit: Boolean): String = {
    c.pos = rdStart
    t match {
      case 1 if rdlen == 4 =>                       // A
        if (!emit) null
        else PcapStreamReader.ipv4String(c.raw, c.base + rdStart)
      case 28 if rdlen == 16 =>                     // AAAA
        if (!emit) null
        else PcapStreamReader.ipv6String(c.raw, c.base + rdStart)
      case 2 | 5 | 12 | 39 =>                       // NS / CNAME / PTR / DNAME
        if (!emit) { readNameInto(c, null); null } else readName(c)
      case 6 =>                                     // SOA
        if (!emit) {
          readNameInto(c, null); readNameInto(c, null)
          c.u32(); c.u32(); c.u32(); c.u32(); c.u32(); null
        } else {
          val mname = readName(c); val rname = readName(c)
          val serial = c.u32(); val refresh = c.u32(); val retry = c.u32()
          val expire = c.u32(); val minimum = c.u32()
          s"$mname $rname $serial $refresh $retry $expire $minimum"
        }
      case 15 =>                                    // MX
        if (!emit) { c.u16(); readNameInto(c, null); null }
        else {
          val pref = c.u16(); val target = readName(c)
          s"$pref $target"
        }
      case 16 =>                                    // TXT: quoted strings
        if (!emit) {
          while (c.pos < rdStart + rdlen) { val n = c.u8(); c.skipBytes(n) }
          null
        } else {
          val parts = new ArrayBuffer[String]
          while (c.pos < rdStart + rdlen) {
            val n = c.u8()
            val s = new String(c.bytes(n), java.nio.charset.StandardCharsets.ISO_8859_1)
            parts += "\"" + s.flatMap {
              case ch if ch == '"' || ch == '\\' => "\\" + ch
              case ch if ch < 0x20 || ch > 0x7E => f"\\${ch.toInt & 0xFF}%03d"
              case ch => ch.toString
            } + "\""
          }
          parts.mkString(" ")
        }
      case 33 =>                                    // SRV
        if (!emit) { c.u16(); c.u16(); c.u16(); readNameInto(c, null); null }
        else {
          val prio = c.u16(); val weight = c.u16(); val port = c.u16()
          val target = readName(c)
          s"$prio $weight $port $target"
        }
      case _ =>                                     // RFC 3597 unknown form
        if (!emit) { c.skipBytes(rdlen); null }
        else {
          val hex = c.bytes(rdlen).map(b => f"${b & 0xFF}%02X").mkString
          if (rdlen == 0) "\\# 0" else s"\\# $rdlen $hex"
        }
    }
  }

  // precompiled (replaceAll compiles its pattern on every call — that is
  // two regex compilations per record on the decode hot path)
  private val MultiWs = java.util.regex.Pattern.compile("\\s{2,}")
  private val Tabs = java.util.regex.Pattern.compile("\\t{1,}")

  /** The reference's record normalization (DnsPcapReader.java:98-107).
    * Fast path: canonical strings contain runs/tabs only when a name or
    * TXT rdata embedded whitespace — scan once and return unchanged
    * otherwise. */
  def normalize(s: String): String = {
    var i = 0
    var needs = false
    var prevWs = false
    while (i < s.length && !needs) {
      val ch = s.charAt(i)
      val ws = Character.isWhitespace(ch)
      if (ch == '\t' || (ws && prevWs)) needs = true
      prevWs = ws
      i += 1
    }
    if (!needs) s
    else Tabs.matcher(MultiWs.matcher(s).replaceAll(" ")).replaceAll(" ")
  }
}
