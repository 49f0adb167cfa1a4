package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

import graft.functions.{ConvBuf, ConvSeg, HttpConversation,
  HttpConversationAgg}

/** One gated corpus document emitted by the streaming bridge, keyed by
  * the conversation's client endpoint (doc_id derivation happens
  * downstream in [[CorpusBridgeStream.documents]] with the SAME Spark
  * expression the batch bridge uses). */
final case class CorpusDocOut(client: String, client_port: Int,
    host: String, n_tokens: Long, body_md5: String)

/** Streaming pcap→LLM-corpus bridge — the continuous form of the batch
  * `pcap_http_to_corpus` query (round-9 verdict #5): captures LAND, and
  * gated documents stream out as their conversations quiesce, instead
  * of waiting for a closed capture to re-scan.
  *
  * Composition: the batch bridge's segment relation and conversation
  * key ([[graft.functions.HttpConversation.segments]]), with
  * per-direction reassembly and the document cut in ONE
  * `flatMapGroupsWithState` stage whose per-conversation state is a
  * [[graft.functions.ConvBuf]] (two [[graft.functions.ReassemblyBuf]]s):
  * each micro-batch's segments go through [[HttpConversationAgg]]'s
  * `reduce`, as the batch bridge's sorted group does, and the buffer is
  * compacted by the shared sweep at the end of the batch. That sweep is
  * proven monotone under ANY arrival order, so a segment arriving in a
  * LATER micro-batch with an EARLIER sequence number slots into its
  * sorted position instead of being dropped below a committed frontier
  * (the round-10 arrival-order bug), and the streamed bytes equal the
  * batch bridge's BY CONSTRUCTION, for any admission order the
  * watermark admits. (Events later than the watermark are dropped by
  * the engine — the standard streaming lateness contract; size the
  * watermark delay to the expected admission disorder.)
  *
  * The per-direction byte cap has the batch cap's EXACT semantics
  * (strict-prefix truncation, `truncated` flag), not conversation
  * poisoning: the batch bridge consumes capped prefixes — an oversized
  * request still yields its Host header; a capped response goes
  * through `HttpParse.deframe`, which fails closed unless the framed
  * document is complete within the prefix — and the stream now does
  * literally the same, so the two paths agree on every capped
  * conversation.
  *
  * A document EMITS when its conversation has been idle past
  * `idleSeconds` of event time (the watermark-driven
  * `EventTimeTimeout`): streams carry no in-band "response complete"
  * marker, so quiescence IS the close signal. At emission the buffer
  * goes through the same `finish`, and so through the batch bridge's
  * gate ([[graft.functions.HttpConversation.gate]]:
  * de-frame — all framing state lives in the conversation buffer, so a
  * chunk boundary landing exactly on a micro-batch boundary is
  * invisible — 2xx, the token gates, Host): the two bridges share one
  * gate by construction, with the lowercase-hex md5 of the body bytes
  * as the dedup key downstream consumers group on.
  *
  * Scale shape: one shuffle on the conversation key; state is O(active
  * conversations) × the direction cap (the compaction bound — segments
  * beyond the cap are dropped, covered retransmits deduped, every
  * batch), evicted on emission; output is append-mode document rows —
  * no unbounded operator anywhere. Exactly-once across restarts comes
  * from the checkpointed state store (spec-verified in the
  * StreamCompaction style).
  */
object CorpusBridgeStream {

  final case class SegIn(server: String, client: String,
      client_port: Int, is_req: Boolean, tcp_seq: Long, pkt_idx: Long,
      payload: Array[Byte], time: java.sql.Timestamp)

  // derived once, as the batch bridge's are (HttpConversation.keyEncoder)
  private val segInEncoder: Encoder[SegIn] = ExpressionEncoder[SegIn]()
  private val docOutEncoder: Encoder[CorpusDocOut] =
    ExpressionEncoder[CorpusDocOut]()

  /** `packets`: streaming DataFrame with the pcap source's schema
    * (`time`, `protocol`, `src`/`dst`, ports, `tcp_seq`, `pkt_idx`,
    * `payload`). Emits append-mode (doc_id, host, n_tokens, body_md5)
    * rows — the batch bridge's gated pre-dedup relation. `docIdBase`
    * has the batch bridge's semantics: ≥ 0 derives doc_id as
    * `client_port - docIdBase`, < 0 hashes the client endpoint. */
  def documents(packets: DataFrame, serverPort: Int = 80,
      docIdBase: Int = -1, watermark: String = "30 seconds",
      idleSeconds: Int = 60,
      maxBytesPerDirection: Long =
        graft.functions.Reassemble.DefaultMaxStreamBytes): DataFrame = {
    val s = packets.sparkSession
    import s.implicits._
    val segs = HttpConversation.segments(packets, serverPort, $"time")
      .withWatermark("time", watermark)
      .as[SegIn](segInEncoder)
    val agg = new HttpConversationAgg(maxBytesPerDirection)
    val docs = segs
      .groupByKey(x => (x.server, x.client, x.client_port))(
        HttpConversation.keyEncoder)
      .flatMapGroupsWithState[ConvBuf, CorpusDocOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case ((_, client, cport), _, state) if state.hasTimedOut =>
          val doc = agg.finish(state.get)
          state.remove()
          if (!doc.ok) Iterator.empty
          else Iterator.single(CorpusDocOut(client, cport, doc.host,
            doc.n_tokens, java.security.MessageDigest.getInstance("MD5")
              .digest(doc.body).map(b => f"${b & 0xFF}%02x").mkString))
        case (_, rows, state) =>
          val st = state.getOption.getOrElse(agg.zero)
          var maxEventMs = Long.MinValue
          // new segments join their direction's buffer and the shared
          // sweep re-runs — sort position, cover-trimming, and the
          // cap's stop key do the ordering work, so arrival order
          // (within or across micro-batches) is irrelevant
          rows.foreach { x =>
            maxEventMs = math.max(maxEventMs, x.time.getTime)
            agg.reduce(st, ConvSeg(x.is_req, x.tcp_seq, x.pkt_idx,
              x.payload))
          }
          agg.compact(st)
          state.update(st)
          // clamped to the watermark: a straggler batch whose events
          // are already below the watermark (e.g. files admitted out of
          // event-time order around a restart) must still set a LEGAL
          // timeout — its conversation then closes at the next horizon
          // instead of crashing the query
          if (maxEventMs > Long.MinValue)
            state.setTimeoutTimestamp(math.max(
              maxEventMs + idleSeconds * 1000L,
              state.getCurrentWatermarkMs() + 1000L))
          Iterator.empty
      }(agg.stateEncoder, docOutEncoder).toDF()
    docs.select(HttpConversation.docId(docIdBase).as("doc_id"), $"host",
      $"n_tokens", $"body_md5")
  }
}
