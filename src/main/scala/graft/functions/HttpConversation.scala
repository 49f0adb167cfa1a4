package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions.{col, when, xxhash64}
import org.apache.spark.sql.types.LongType

/** One TCP segment of an HTTP conversation, tagged with its direction.
  * Field names are the bridge's column names, so the segment relation
  * decodes into it by name. */
final case class ConvSeg(is_req: Boolean, tcp_seq: Long, pkt_idx: Long,
    payload: Array[Byte])

/** The corpus gate's verdict on one conversation (a rejection is
  * `ok = false`). `body` is the de-framed bytes as sent, never
  * re-encoded, so digests agree on non-UTF-8 bodies. */
final case class CorpusDoc(ok: Boolean, host: String, n_tokens: Long,
    body: Array[Byte])

/** Both directions of one conversation. A null side was never seen; a
  * seen side stays non-null even if the cap empties it. */
final class ConvBuf extends Serializable {
  var req: ReassemblyBuf = _
  var rsp: ReassemblyBuf = _
}

/** The pcap→corpus bridge's per-conversation step, one path for the
  * batch bridge (one sorted group) and the streaming bridge (one
  * state): `reduce` adds a segment to its direction's [[ReassemblyBuf]]
  * ([[Reassemble.addSeg]], so cap, cover-trim and arrival-order
  * independence are [[ReassembleAgg]]'s); `finish` runs
  * [[HttpConversation.gate]] once per conversation.
  *
  * The gate lives in `finish`, not in Catalyst expressions over the
  * reassembled streams: a Project that aliases `deframe(rsp)` and
  * `split(text, ' ')` followed by a Filter on them is rewritten by
  * filter pushdown, which inlines each alias into every conjunct, so
  * the de-frame ran once per conjunct (seven times) and the split four
  * times for every conversation. Here each runs exactly once. */
class HttpConversationAgg(maxBytesPerDirection: Long) extends Serializable {

  require(maxBytesPerDirection > 0 && maxBytesPerDirection <= Int.MaxValue)
  private val maxSegments = 1 << 18 // ReassembleAgg's DoS guard

  def zero: ConvBuf = new ConvBuf

  private def add(d: ReassemblyBuf, s: ConvSeg): ReassemblyBuf =
    Reassemble.addSeg(if (d == null) new ReassemblyBuf else d, s.tcp_seq,
      s.pkt_idx, s.payload, maxBytesPerDirection, maxSegments)

  def reduce(b: ConvBuf, s: ConvSeg): ConvBuf = {
    if (s.is_req) b.req = add(b.req, s) else b.rsp = add(b.rsp, s)
    b
  }

  /** Compacts both sides now; the streaming bridge calls this once per
    * micro-batch, which bounds its state at one cap per direction. */
  def compact(b: ConvBuf): Unit = Seq(b.req, b.rsp).foreach { d =>
    if (d != null) Reassemble.compactBuf(d, maxBytesPerDirection, maxSegments)
  }

  def finish(b: ConvBuf): CorpusDoc =
    if (b.req == null || b.rsp == null) HttpConversation.Rejected
    else HttpConversation.gate(
      Reassemble.finishBuf(b.req, maxBytesPerDirection, maxSegments).stream,
      Reassemble.finishBuf(b.rsp, maxBytesPerDirection, maxSegments).stream)

  /** The streaming bridge's state encoder. */
  def stateEncoder: Encoder[ConvBuf] = Encoders.kryo[ConvBuf]
}

object HttpConversation {
  val Rejected: CorpusDoc = CorpusDoc(ok = false, null, 0L, null)

  /** The direction-normalized conversation key: (server, client,
    * client_port). */
  type ConvKey = (String, String, Int)

  // Both bridges' typed encoders, derived once: each derivation reflects
  // over the product type, which a per-query `implicits` lookup repeats
  // on every bridge construction
  val keyEncoder: Encoder[ConvKey] = ExpressionEncoder[ConvKey]()
  val segEncoder: Encoder[ConvSeg] = ExpressionEncoder[ConvSeg]()
  /** The batch bridge's document row: (client, client_port, host,
    * n_tokens, body). */
  val docRowEncoder: Encoder[(String, Int, String, Long, Array[Byte])] =
    ExpressionEncoder[(String, Int, String, Long, Array[Byte])]()

  private val HostHeader =
    java.util.regex.Pattern.compile(HttpParse.headerRegex("Host"))
  private val Utf8 = java.nio.charset.StandardCharsets.UTF_8

  /** The corpus gate, shared by the batch bridge and the streaming
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

  /** Both bridges' segment relation over pcap-schema `packets`: TCP
    * payload segments keyed by the direction-normalized conversation
    * (`server`, `client`, `client_port`), with the [[ConvSeg]] columns
    * and `extra`. */
  def segments(packets: DataFrame, serverPort: Int,
      extra: Column*): DataFrame = {
    val toServer = col("dst_port") === serverPort
    def pick(req: String, rsp: String) =
      when(toServer, col(req)).otherwise(col(rsp))
    packets.filter(col("protocol") === "TCP" && col("tcp_seq").isNotNull &&
        col("payload").isNotNull)
      .select(Seq(pick("dst", "src").as("server"),
        pick("src", "dst").as("client"),
        pick("src_port", "dst_port").as("client_port"),
        toServer.as("is_req"), col("tcp_seq"), col("pkt_idx"),
        col("payload")) ++ extra: _*)
  }

  /** Both bridges' doc_id: `client_port - docIdBase` when
    * `docIdBase >= 0`, else a 64-bit hash of the client endpoint. */
  def docId(docIdBase: Int): Column =
    if (docIdBase >= 0) (col("client_port") - docIdBase).cast(LongType)
    else xxhash64(col("client"), col("client_port"))
}
