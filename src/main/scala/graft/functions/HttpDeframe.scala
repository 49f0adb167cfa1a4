package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

/** HTTP/1.1 response de-framing (RFC 9112 §6): turn a reassembled
  * response STREAM into the actual entity body. The reference engine has
  * no HTTP surface at all; this is the piece that makes the pcap→corpus
  * bridge honest on real captures, where bodies are framed — not just
  * "everything after the first blank line":
  *
  *   - `Content-Length: N` → exactly N bytes (excess stream bytes — a
  *     pipelined next response on a keep-alive connection — are NOT
  *     body and are dropped);
  *   - `Transfer-Encoding: chunked` → chunk-size lines are framing, not
  *     payload: walk hex-size/CRLF frames to the 0-size terminator and
  *     concatenate the chunk data (chunk extensions and trailers
  *     ignored, per RFC 9112 §7.1); takes precedence over any
  *     Content-Length (RFC 9112 §6.3 rule 3);
  *   - `Content-Encoding: gzip` → the de-framed bytes are a gzip
  *     member; inflate (bounded — see BodyCap) to recover the entity.
  *
  * [[deframe]] returns a (status INT, body BINARY) row, or null (never a
  * throw) for anything that is not a well-formed HTTP/1.x response
  * prefix or whose framing is corrupt — random bytes, truncated chunk
  * frames, bad gzip streams (HttpDeframeSpec fuzzes this). The corpus
  * bridge's gate ([[HttpConversation.gate]]) calls it once per
  * conversation.
  */
object HttpParse {
  /** Header-block cap (a response head beyond this is hostile/garbage)
    * and inflated-body cap (gzip-bomb guard: a 10^6:1 bomb otherwise
    * turns a 1 KB capture payload into a GB of executor heap). */
  private val HeadCap = 64 * 1024
  private val BodyCap = 16 * 1024 * 1024

  private val Ascii = java.nio.charset.StandardCharsets.US_ASCII

  /** Case-insensitive REQUEST-header extraction regex (group 1 = the
    * value). RFC 9112 §5.1: field names are case-insensitive — real
    * clients send `host:` and `HOST:` too. The response-side
    * `header()` below has always matched case-insensitively
    * (regionMatches(true, ...)); this is the request side's shared
    * single pattern — the HTTP request queries feed it to
    * `regexp_extract` (Spark compiles the same Java regex syntax) and
    * the corpus gate compiles it once, so the surfaces cannot drift
    * apart. Optional-whitespace padding around the value is RFC 9112's
    * OWS. */
  def headerRegex(name: String): String =
    "(?i)\r\n" + java.util.regex.Pattern.quote(name) +
      ":[ \t]*(\\S+)[ \t]*\r\n"

  /** Null, never throws — input is untrusted capture payload. */
  def deframe(bytes: Array[Byte]): InternalRow =
    try deframe0(bytes)
    catch { case _: Exception => null }

  private def indexOfCrlfCrlf(b: Array[Byte], limit: Int): Int = {
    var i = 0
    val n = math.min(b.length, limit) - 3
    while (i < n) {
      if (b(i) == '\r' && b(i + 1) == '\n' && b(i + 2) == '\r' &&
        b(i + 3) == '\n') return i
      i += 1
    }
    -1
  }

  private def deframe0(bytes: Array[Byte]): InternalRow = {
    val split = indexOfCrlfCrlf(bytes, HeadCap)
    if (split < 0) return null
    val head = new String(bytes, 0, split, Ascii)
    if (!head.startsWith("HTTP/1.")) return null
    val lines = head.split("\r\n")
    val statusParts = lines(0).split(" ", 3)
    if (statusParts.length < 2) return null
    val status = statusParts(1).toInt // NumberFormatException -> null
    // header field lookup, case-insensitive names, first wins
    def header(name: String): Option[String] = {
      val p = name + ":"
      lines.iterator.drop(1)
        .find(_.regionMatches(true, 0, p, 0, p.length))
        .map(_.substring(p.length).trim)
    }
    val raw = java.util.Arrays.copyOfRange(bytes, split + 4, bytes.length)
    val framed =
      if (header("Transfer-Encoding").exists(
          _.toLowerCase(java.util.Locale.ROOT).contains("chunked")))
        dechunk(raw)
      else header("Content-Length") match {
        case Some(cl) =>
          val n = cl.trim.toLong
          if (n < 0 || n > raw.length) return null // truncated/corrupt
          java.util.Arrays.copyOfRange(raw, 0, n.toInt)
        case None => raw // framed by connection close
      }
    if (framed == null) return null
    val body =
      if (header("Content-Encoding").exists(
          _.equalsIgnoreCase("gzip"))) gunzip(framed)
      else framed
    if (body == null) return null
    new GenericInternalRow(Array[Any](status, body))
  }

  /** RFC 9112 §7.1 chunk walk; null on any malformed frame. */
  private def dechunk(raw: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(raw.length)
    var p = 0
    while (true) {
      // hex size line (chunk extensions after ';' ignored)
      var e = p
      while (e + 1 < raw.length && !(raw(e) == '\r' && raw(e + 1) == '\n'))
        e += 1
      if (e + 1 >= raw.length) return null
      val line = new String(raw, p, e - p, Ascii)
      val hexEnd = { val i = line.indexOf(';'); if (i < 0) line.length else i }
      val size = java.lang.Long.parseLong(line.substring(0, hexEnd).trim, 16)
      if (size < 0 || size > BodyCap - out.size()) return null
      p = e + 2
      if (size == 0) return out.toByteArray // trailers/final CRLF ignored
      if (p + size + 2 > raw.length) return null
      out.write(raw, p, size.toInt)
      p += size.toInt
      if (!(raw(p) == '\r' && raw(p + 1) == '\n')) return null
      p += 2
    }
    null // unreachable
  }

  /** Bounded gzip member decode; null on corrupt stream or bomb. */
  private def gunzip(gz: Array[Byte]): Array[Byte] = {
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(gz))
    val out = new java.io.ByteArrayOutputStream(math.min(gz.length * 4, 1 << 16))
    val buf = new Array[Byte](8192)
    var n = in.read(buf)
    while (n >= 0) {
      if (out.size() + n > BodyCap) return null // bomb guard
      out.write(buf, 0, n)
      n = in.read(buf)
    }
    out.toByteArray
  }
}
