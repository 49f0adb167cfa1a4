package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions

import scala.collection.mutable.ArrayBuffer

/** One TCP segment entering a [[ReassembleAgg]] buffer. Field names are
  * the pcap schema's column names so `udaf(...)($"tcp_seq", $"pkt_idx",
  * $"payload")` lines up positionally. */
final case class TcpSeg(tcp_seq: Long, pkt_idx: Long, payload: Array[Byte])

/** A reassembled stream prefix: at most `maxStreamBytes` of seq-ordered
  * payload, plus whether anything past the cap was dropped. */
final case class Reassembled(stream: Array[Byte], truncated: Boolean)

/** Buffer-internal segment: `payload` is the bytes REMAINING after
  * `drop` prefix bytes were trimmed as covered by earlier segments, so
  * the segment's effective range is [seq + drop, seq + drop + len).
  * `seq` stays the ORIGINAL sequence number — sort order must never
  * change across partial compactions or the sweep would become
  * merge-order dependent. */
final case class BufSeg(seq: Long, pktIdx: Long, drop: Int,
    payload: Array[Byte])

/** Mutable per-flow accumulator. Kryo-encoded (it only crosses the wire
  * at the partial/final boundary; inside ObjectHashAggregate it lives as
  * this object). */
final class ReassemblyBuf extends Serializable {
  var segs: ArrayBuffer[BufSeg] = ArrayBuffer.empty
  var total: Long = 0L
  var truncated: Boolean = false
  /** Sort key (seq, pktIdx) of the earliest cap overflow ever observed
    * for this flow; Long.MaxValue sentinels mean "none". Once a
    * compaction hits the cap it DISCARDS the overflowing segment, so
    * without this record a later-arriving segment sorting past the stop
    * would be accepted into a "prefix with a hole". The sweep never
    * keeps a segment at-or-past this key — which is exact: any
    * CONTRIBUTING segment there would overflow in the full set too
    * (coverage only grows), and non-contributing ones add no bytes
    * either way. */
  var stopSeq: Long = Long.MaxValue
  var stopPkt: Long = Long.MaxValue
}

/** Bounded-memory TCP stream reassembly as a typed `Aggregator` — the
  * scale-safe replacement for the unbounded
  * `aggregate(array_sort(collect_list(...)))` SQL fold
  * ([[graft.operators.PcapQueries.reassembleExpr]], kept as the spec's
  * reference twin): that fold materializes a flow's ENTIRE segment list
  * and concatenated stream in one aggregation buffer, so a single
  * elephant flow (a multi-GB transfer inside a capture) OOMs its task.
  *
  * Semantics on the kept prefix are bit-identical to the fold
  * (ReassemblyCapSpec proves it query-for-query) wherever the fold is
  * defined (no partial overlaps): segments sort by (tcp_seq, pkt_idx)
  * and sweep in that order with a coverage frontier `covEnd` = one past
  * the highest stream byte any earlier segment provided. A segment
  * entirely at-or-below the frontier (exact retransmit, or a sub-range
  * re-send) is dropped whole; a segment straddling it has its covered
  * PREFIX trimmed and contributes only the new tail (first-copy-wins:
  * bytes already accepted are never overwritten — RFC 793 reassembly's
  * standard discipline for overlapping retransmits); a segment at-or-
  * above it is kept whole (gaps concatenate, as in the fold). The cap
  * keeps whole (post-trim) contributions while the running length stays
  * within `maxStreamBytes` and drops everything from the first
  * overflowing segment on — a strict prefix, never a gap — flagging
  * `truncated`.
  *
  * Memory bound, by construction: each partial buffer compacts
  * (sort + trim + dedup + cap) whenever its raw payload exceeds 2×cap
  * or its segment count exceeds 2×`maxSegments`, so no task ever holds
  * more than ~2× `maxStreamBytes` (+ entry overhead) per flow, map-side
  * partials included. Compaction is safe under any partitioning,
  * because every compaction decision is monotone in the segment set:
  * (a) coverage only grows as segments are added, so a prefix trimmed
  * against a subset's frontier is trimmed at least as far against the
  * final set's, and a fully-covered drop stays fully covered; (b) a
  * trimmed segment keeps its ORIGINAL seq for ordering (`BufSeg.drop`
  * records the trim), so later sweeps see it at the same sort position
  * the untrimmed segment would occupy; (c) the cap check uses post-trim
  * lengths, and the union length of covered stream bytes through any
  * sort position only grows, so a segment beyond the cap in a subset is
  * beyond the cap in every superset. Duplicate eviction keeps the
  * globally-smallest pkt_idx because every copy re-competes at merge.
  *
  * `truncated` is monotone (once set it survives merge) and only set
  * when a segment with NEW bytes is dropped. Two documented edges:
  * (1) a retransmit that changes the payload length at the exact cap
  * boundary can shift which segment overflows first; exact retransmits
  * (the fold's contract, PcapTcpReassemblySpec) are unaffected.
  * (2) the `maxSegments` cap is a DoS guard (entry-overhead bound for
  * floods of tiny segments), NOT a semantic boundary: unlike the byte
  * cap, accepted-segment COUNT through a position is not monotone in
  * the segment set (a later-merged buffer's cover-drops can lower it),
  * so a flow that actually hits maxSegments in a partial buffer can
  * truncate at a partition-dependent boundary. Hitting it takes
  * > 2^18 segments per flow per task buffer (avg < 32 B/segment at the
  * default byte cap) — adversarial traffic, which truncation is the
  * correct response to.
  * (3) `pkt_idx` restarts per capture FILE, so for a flow spanning
  * rotated captures the (tcp_seq, pkt_idx) tie-break is not globally
  * unique: two same-seq copies at the same per-file index with
  * DIFFERENT bytes (a changed-payload retransmit split across files)
  * tie arbitrarily. Exact retransmits — the contract, and what real
  * stacks send — carry identical bytes, so every tie resolution yields
  * the same stream (PcapChunkerSpec pins this across chunk files).
  */
class ReassembleAgg(maxStreamBytes: Long, maxSegments: Int = 1 << 18)
  extends Aggregator[TcpSeg, ReassemblyBuf, Reassembled] {

  // <= Int.MaxValue: finish() materializes the stream as one Array[Byte],
  // so a larger cap would overflow the allocation size instead of failing
  // here at construction. maxSegments <= Int.MaxValue/2: the compaction
  // trigger compares against maxSegments * 2, which must not wrap (a
  // wrapped-negative threshold would re-compact on EVERY reduce).
  require(maxStreamBytes > 0 && maxStreamBytes <= Int.MaxValue &&
    maxSegments > 0 && maxSegments <= Int.MaxValue / 2)

  override def zero: ReassemblyBuf = new ReassemblyBuf

  override def reduce(b: ReassemblyBuf, s: TcpSeg): ReassemblyBuf =
    Reassemble.addSeg(b, s.tcp_seq, s.pkt_idx, s.payload, maxStreamBytes,
      maxSegments)

  override def merge(a: ReassemblyBuf, b: ReassemblyBuf): ReassemblyBuf =
    Reassemble.mergeBuf(a, b, maxStreamBytes, maxSegments)

  override def finish(b: ReassemblyBuf): Reassembled =
    Reassemble.finishBuf(b, maxStreamBytes, maxSegments)

  override def bufferEncoder: Encoder[ReassemblyBuf] =
    Encoders.kryo[ReassemblyBuf]
  override def outputEncoder: Encoder[Reassembled] =
    ExpressionEncoder[Reassembled]()
}

object Reassemble {
  /** Default per-flow stream cap. Generous for L7 header extraction
    * (requests, TLS hellos, response status lines all live in the first
    * bytes) while bounding an elephant flow's buffer to single-digit
    * MBs. */
  val DefaultMaxStreamBytes: Long = 8L << 20

  /** The compaction sweep (sort + cover-trim + dedup + cap) — the
    * class doc's monotone-under-any-merge-order argument lives HERE.
    * Shared by the batch aggregator and the streaming bridge's
    * per-conversation state ([[graft.streaming.CorpusBridgeStream]]):
    * cross-micro-batch arrival reordering is the same situation as
    * map-side partial buffers merging in arbitrary order, so reusing
    * this one sweep makes the streamed stream BYTE-IDENTICAL to the
    * batch aggregation's by construction. */
  private[graft] def compactBuf(b: ReassemblyBuf, maxStreamBytes: Long,
      maxSegments: Int): Unit = {
    val sorted = b.segs.sortInPlaceWith { (a, c) =>
      a.seq < c.seq || (a.seq == c.seq && a.pktIdx < c.pktIdx)
    }
    val out = new ArrayBuffer[BufSeg](math.min(sorted.length, maxSegments))
    var covEnd = Long.MinValue          // one past the highest byte kept
    var bytes = 0L
    var dropped = false
    var i = 0
    while (i < sorted.length && !dropped) {
      var s = sorted(i)
      if (s.seq > b.stopSeq ||
          (s.seq == b.stopSeq && s.pktIdx >= b.stopPkt)) {
        dropped = true                  // at/past a recorded stop
      } else {
        val effStart = s.seq + s.drop
        val effEnd = effStart + s.payload.length
        if (effEnd <= covEnd) {
          // fully covered: exact retransmit or sub-range re-send — the
          // first copy already provided every byte
        } else {
          if (effStart < covEnd) {
            // overlapping retransmit: discard the covered prefix, keep
            // only the new tail (first-copy-wins)
            val trim = (covEnd - effStart).toInt
            s = BufSeg(s.seq, s.pktIdx, s.drop + trim,
              java.util.Arrays.copyOfRange(s.payload, trim, s.payload.length))
          }
          if (bytes + s.payload.length > maxStreamBytes ||
              out.length >= maxSegments) {
            dropped = true              // prefix ends HERE; rest is out
            // record the stop so segments arriving LATER that sort past
            // this point can never reopen the prefix (this key sorts
            // before any previously recorded stop, or we'd have stopped
            // above already)
            b.stopSeq = s.seq
            b.stopPkt = s.pktIdx
          } else {
            out += s
            bytes += s.payload.length
            covEnd = effEnd
          }
        }
      }
      i += 1
    }
    b.segs = out
    b.total = bytes
    b.truncated ||= dropped
  }

  /** Appends one segment to `b` and returns it, compacting once the raw
    * payload passes 2×cap or the segment count 2×`maxSegments` (the
    * class doc's memory bound). */
  private[graft] def addSeg(b: ReassemblyBuf, seq: Long, pktIdx: Long,
      payload: Array[Byte], maxStreamBytes: Long,
      maxSegments: Int): ReassemblyBuf = {
    b.segs += BufSeg(seq, pktIdx, 0, payload)
    b.total += payload.length
    bounded(b, maxStreamBytes, maxSegments)
  }

  private def bounded(b: ReassemblyBuf, maxStreamBytes: Long,
      maxSegments: Int): ReassemblyBuf = {
    if (b.total > maxStreamBytes * 2 || b.segs.length > maxSegments * 2)
      compactBuf(b, maxStreamBytes, maxSegments)
    b
  }

  /** Folds `b` into `a` and returns `a`, with the same compaction
    * trigger. */
  private[graft] def mergeBuf(a: ReassemblyBuf, b: ReassemblyBuf,
      maxStreamBytes: Long, maxSegments: Int): ReassemblyBuf = {
    a.segs ++= b.segs
    a.total += b.total
    a.truncated ||= b.truncated
    // earliest recorded stop wins (coverage only grows, so the true
    // stop can only move earlier)
    if (b.stopSeq < a.stopSeq ||
        (b.stopSeq == a.stopSeq && b.stopPkt < a.stopPkt)) {
      a.stopSeq = b.stopSeq
      a.stopPkt = b.stopPkt
    }
    bounded(a, maxStreamBytes, maxSegments)
  }

  /** Final compaction + concatenation of the kept prefix. */
  private[graft] def finishBuf(b: ReassemblyBuf, maxStreamBytes: Long,
      maxSegments: Int): Reassembled = {
    compactBuf(b, maxStreamBytes, maxSegments)
    val stream = new Array[Byte](b.total.toInt)
    var off = 0
    b.segs.foreach { s =>
      System.arraycopy(s.payload, 0, stream, off, s.payload.length)
      off += s.payload.length
    }
    Reassembled(stream, b.truncated)
  }

  /** `struct(stream BINARY, truncated BOOLEAN)` aggregation column over
    * (`tcp_seq`, `pkt_idx`, `payload`). */
  def stream(maxStreamBytes: Long = DefaultMaxStreamBytes): Column =
    functions.udaf(new ReassembleAgg(maxStreamBytes),
        Encoders.product[TcpSeg])
      .apply(functions.col("tcp_seq"), functions.col("pkt_idx"),
        functions.col("payload"))
}
