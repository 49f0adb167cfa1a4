package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions

/** One TCP segment of an HTTP conversation, tagged with its direction.
  * Field names are the bridge's column names so `udaf(...)($"is_req",
  * $"tcp_seq", $"pkt_idx", $"payload")` lines up positionally. */
final case class ConvSeg(is_req: Boolean, tcp_seq: Long, pkt_idx: Long,
    payload: Array[Byte])

/** The corpus gate's verdict on one conversation. A rejection is
  * `ok = false`, not a null struct: the output encoder asserts a
  * top-level Product is never null. `body` is the de-framed bytes as
  * sent, never re-encoded, so digests agree on non-UTF-8 bodies. */
final case class CorpusDoc(ok: Boolean, host: String, n_tokens: Long,
    body: Array[Byte])

/** Both directions of one conversation, and the streaming bridge's
  * per-conversation state. A null side was never seen; a seen side
  * stays non-null even if the cap empties it. */
final class ConvBuf extends Serializable {
  var req: ReassemblyBuf = _
  var rsp: ReassemblyBuf = _
}

/** The pcap→corpus bridge's conversation step as one typed aggregation:
  * both directions reassemble in [[ReassemblyBuf]]s through
  * [[Reassemble.addSeg]] / [[Reassemble.mergeBuf]] /
  * [[Reassemble.finishBuf]], so the per-direction cap, cover-trim and
  * merge-order independence are [[ReassembleAgg]]'s, and `finish` runs
  * [[HttpConversation.gate]] once per conversation.
  *
  * The gate lives in `finish`, not in Catalyst expressions over the
  * aggregated streams: a Project that aliases `deframe(rsp)` and
  * `split(text, ' ')` followed by a Filter on them is rewritten by
  * filter pushdown, which inlines each alias into every conjunct, so
  * the de-frame ran once per conjunct (seven times) and the split four
  * times for every conversation. Here each runs exactly once. */
class HttpConversationAgg(maxBytesPerDirection: Long)
  extends Aggregator[ConvSeg, ConvBuf, CorpusDoc] {

  require(maxBytesPerDirection > 0 && maxBytesPerDirection <= Int.MaxValue)
  private val maxSegments = 1 << 18 // ReassembleAgg's DoS guard

  override def zero: ConvBuf = new ConvBuf

  private def add(d: ReassemblyBuf, s: ConvSeg): ReassemblyBuf =
    Reassemble.addSeg(if (d == null) new ReassemblyBuf else d, s.tcp_seq,
      s.pkt_idx, s.payload, maxBytesPerDirection, maxSegments)

  override def reduce(b: ConvBuf, s: ConvSeg): ConvBuf = {
    if (s.is_req) b.req = add(b.req, s) else b.rsp = add(b.rsp, s)
    b
  }

  private def mergeSide(a: ReassemblyBuf, b: ReassemblyBuf): ReassemblyBuf =
    if (a == null) b
    else if (b == null) a
    else Reassemble.mergeBuf(a, b, maxBytesPerDirection, maxSegments)

  override def merge(a: ConvBuf, b: ConvBuf): ConvBuf = {
    a.req = mergeSide(a.req, b.req)
    a.rsp = mergeSide(a.rsp, b.rsp)
    a
  }

  /** Compacts both sides now; the streaming bridge calls this once per
    * micro-batch, which bounds its state at one cap per direction. */
  def compact(b: ConvBuf): Unit = Seq(b.req, b.rsp).foreach { d =>
    if (d != null) Reassemble.compactBuf(d, maxBytesPerDirection, maxSegments)
  }

  override def finish(b: ConvBuf): CorpusDoc =
    if (b.req == null || b.rsp == null) HttpConversation.Rejected
    else HttpConversation.gate(
      Reassemble.finishBuf(b.req, maxBytesPerDirection, maxSegments).stream,
      Reassemble.finishBuf(b.rsp, maxBytesPerDirection, maxSegments).stream)

  override def bufferEncoder: Encoder[ConvBuf] = Encoders.kryo[ConvBuf]
  override def outputEncoder: Encoder[CorpusDoc] =
    ExpressionEncoder[CorpusDoc]()
}

object HttpConversation {
  val Rejected: CorpusDoc = CorpusDoc(ok = false, null, 0L, null)

  private val HostHeader =
    java.util.regex.Pattern.compile(HttpParse.headerRegex("Host"))
  private val Utf8 = java.nio.charset.StandardCharsets.UTF_8

  /** The corpus gate, shared by the batch aggregator and the streaming
    * bridge ([[graft.streaming.CorpusBridgeStream]]): de-frame the
    * response stream (RFC 9112, [[HttpParse.deframe]]), keep 2xx only,
    * then at least 20 `split(" ", -1)` tokens with an integer distinct
    * ratio of at least 0.3 (the DuckDB oracle's exact arithmetic). The
    * tokens and the Host header are read from the UTF-8 decoding of the
    * bytes, as Spark's string functions read a binary-cast string; the
    * body itself is returned undecoded. */
  def gate(req: Array[Byte], rsp: Array[Byte]): CorpusDoc = {
    val r = HttpParse.deframe(rsp)
    if (r == null) return Rejected
    val status = r.getInt(0)
    if (status < 200 || status >= 300) return Rejected
    val body = r.getBinary(1)
    val w = new String(body, Utf8).split(" ", -1)
    if (w.length < 20 ||
        w.distinct.length.toLong * 1000000L / w.length < 300000L)
      return Rejected
    val m = HostHeader.matcher(new String(req, Utf8))
    CorpusDoc(ok = true, if (m.find()) m.group(1) else "", w.length.toLong,
      body)
  }

  /** `struct(ok, host, n_tokens, body)` aggregation column over
    * (`is_req`, `tcp_seq`, `pkt_idx`, `payload`). */
  def document(maxBytesPerDirection: Long): Column =
    functions.udaf(new HttpConversationAgg(maxBytesPerDirection),
        Encoders.product[ConvSeg])
      .apply(functions.col("is_req"), functions.col("tcp_seq"),
        functions.col("pkt_idx"), functions.col("payload"))
}
