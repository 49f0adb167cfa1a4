package graft.sources.pcap

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.pcap.{DecodeOptions, PacketReader, PacketSlot}

/** Sequential decode of one [[PcapInputPartition]]'s files — the packet
  * feed both the row reader below and [[PcapColumnarPartitionReader]]
  * draw from (the Spark analogue of PcapRecordReader +
  * CombinePcapRecordReader under hadoop-pcap-lib/.../io/reader/).
  * Each packet is decoded into the file reader's reused [[PacketSlot]].
  * `pktIdx` restarts at 1 per file, matching the reference's per-split
  * LongWritable key (PcapRecordReader.java:43-54). */
private[pcap] class PacketFeed(
    files: Seq[String], conf: Configuration, decode: DecodeOptions) {

  private val fileIter = files.iterator
  private var stream: java.io.InputStream = _
  private var reader: PacketReader = _
  /** The current packet; valid until the next [[next]]. */
  var slot: PacketSlot = _
  var currentFile: UTF8String = _
  var currentFileBytes: Array[Byte] = _
  var pktIdx = 0L
  var nPackets = 0L
  var nBytes = 0L

  private def advanceFile(): Boolean = {
    if (stream != null) { stream.close(); stream = null }
    if (!fileIter.hasNext) return false
    val path = fileIter.next()
    currentFileBytes = path.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    currentFile = UTF8String.fromBytes(currentFileBytes)
    stream = graft.sources.FileSource.open(conf, path)
    reader = graft.pcap.PacketReaders.open(stream, decode)
    slot = reader.slot
    pktIdx = 0L
    true
  }

  /** Decode the next packet into [[slot]]; false when every file is
    * exhausted. */
  def next(): Boolean = {
    while (reader == null || !reader.advance()) {
      if (!advanceFile()) return false
    }
    pktIdx += 1
    nPackets += 1
    nBytes += slot.recordBytes
    true
  }

  def metrics(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
    val pkts = nPackets
    val bytes = nBytes
    Array(
      new org.apache.spark.sql.connector.metric.CustomTaskMetric {
        override def name(): String = "packetsDecoded"
        override def value(): Long = pkts
      },
      new org.apache.spark.sql.connector.metric.CustomTaskMetric {
        override def name(): String = "bytesDecoded"
        override def value(): Long = bytes
      })
  }

  def close(): Unit =
    if (stream != null) { stream.close(); stream = null }
}

/** Row-at-a-time reader: streams decoded packets as `InternalRow`s, one
  * reused mutable row (Spark projects it to an `UnsafeRow` right after
  * the scan). Used by streaming scans and when `columnar` is disabled;
  * batch scans go through [[PcapColumnarPartitionReader]] instead. */
class PcapPartitionReader(
    files: Seq[String],
    conf: Configuration,
    schema: StructType,
    decode: DecodeOptions,
    filter: PcapPacketFilter.Predicate = PcapPacketFilter.acceptAll)
  extends PartitionReader[InternalRow] {

  private val cols = PcapSchema.columns(schema)
  private val feed = new PacketFeed(files, conf, decode)
  private val row = new SpecificInternalRow(schema.fields.map(_.dataType).toSeq)

  override def next(): Boolean = {
    while (feed.next()) {
      val s = feed.slot
      // a pushed-filter miss skips row materialization entirely
      if (filter(s)) {
        var i = 0
        while (i < cols.length) { cols(i).set(row, i, s, feed); i += 1 }
        return true
      }
    }
    false
  }

  override def get(): InternalRow = row

  override def currentMetricsValues():
      Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    feed.metrics()

  override def close(): Unit = feed.close()
}
