package graft.sources.pcap

import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{BinaryType, LongType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.sources.HadoopConfBroadcast

/** Batch WRITE side of the `pcap` format — the export path the reference
  * lacks entirely: filter packets with SQL, write a valid classic-libpcap
  * capture back out (openable in tcpdump/wireshark). With
  * `option("container", "pcapng")` parts are written as pcapng instead
  * (SHB + one IDB with `if_tsresol` 10^-6 — the exact resolution
  * `ts_micro` carries — + one EPB per packet), so re-exports can join a
  * pcapng-standardized lake; reads sniff per file, so both containers
  * round-trip through the same scan.
  *
  * Contract: the written DataFrame must carry `ts_micro` (LONG, epoch
  * microseconds) and `frame` (BINARY, the raw captured frame — read it
  * via the scan's `frame` column). All other columns are ignored, so
  * `df.select("ts_micro", "frame")`-shaped plans and full-schema frames
  * both write. One part file per task
  * (`part-<partition>-<task>.pcap`), little-endian microsecond magic,
  * original length = captured length. Task output commits by atomic
  * rename from a hidden `.part-….inprogress` temp name that no listing
  * shows; aborted tasks delete it — no partial files become visible.
  *
  * Scale: writers stream row-by-row (no buffering of the partition), so
  * a repartitioned export of any size writes with constant memory per
  * task; file count = task count, controlled by the usual
  * `repartition(n)` before the write.
  *
  * Each committed part file also gets a `.tsidx` sidecar (exact min/max
  * packet timestamp, tracked for free while streaming rows), so a
  * re-exported lake keeps [[PcapTsIndex]] file-level pruning without a
  * separate stats pass. Disable with `option("writeTsIndex","false")`.
  */
class PcapWriteBuilder(options: CaseInsensitiveStringMap,
    info: LogicalWriteInfo) extends WriteBuilder {

  override def build(): Write = new Write {
    override def toBatch: BatchWrite = {
      val schema = info.schema()
      val tsIdx = schema.fieldNames.indexOf("ts_micro")
      val frameIdx = schema.fieldNames.indexOf("frame")
      if (tsIdx < 0 || schema.fields(tsIdx).dataType != LongType ||
          frameIdx < 0 || schema.fields(frameIdx).dataType != BinaryType)
        throw new IllegalArgumentException(
          "pcap write requires columns ts_micro (LONG) and frame " +
            s"(BINARY); got ${schema.simpleString}")
      val dir = PcapTable.paths(options) match {
        case Seq(one) => one
        case other => throw new IllegalArgumentException(
          s"pcap write requires exactly one output path; got $other")
      }
      val linkType = options.getInt("linkType", 1)
      val writeTsIndex = options.getBoolean("writeTsIndex", true)
      val container = options.getOrDefault("container", "pcap").toLowerCase
      require(container == "pcap" || container == "pcapng",
        s"container must be pcap or pcapng, got $container")
      new PcapBatchWrite(dir, linkType, schema, tsIdx, frameIdx, writeTsIndex,
        container == "pcapng")
    }
  }
}

class PcapBatchWrite(dir: String, linkType: Int, schema: StructType,
    tsIdx: Int, frameIdx: Int, writeTsIndex: Boolean,
    ng: Boolean = false) extends BatchWrite {

  private val conf =
    HadoopConfBroadcast(org.apache.spark.sql.SparkSession.active)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    // create the directory up front so zero-partition writes still leave
    // a valid (empty) target
    val p = new Path(dir)
    p.getFileSystem(conf.value.value).mkdirs(p)
    new PcapDataWriterFactory(dir, linkType, conf, tsIdx, frameIdx,
      writeTsIndex, ng)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

class PcapDataWriterFactory(dir: String, linkType: Int,
    conf: Broadcast[SerializableConfiguration], tsIdx: Int, frameIdx: Int,
    writeTsIndex: Boolean, ng: Boolean = false)
  extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new PcapDataWriter(dir, linkType, conf, tsIdx, frameIdx, writeTsIndex,
      partitionId, taskId, ng)
}

class PcapDataWriter(dir: String, linkType: Int,
    conf: Broadcast[SerializableConfiguration], tsIdx: Int, frameIdx: Int,
    writeTsIndex: Boolean, partitionId: Int, taskId: Long,
    ng: Boolean = false)
  extends DataWriter[InternalRow] {

  private val fs = new Path(dir).getFileSystem(conf.value.value)
  private val finalPath = new Path(dir,
    f"part-$partitionId%05d-$taskId." + (if (ng) "pcapng" else "pcap"))
  private val tmpPath = graft.sources.FileSource.staging(finalPath)
  private val out = new java.io.BufferedOutputStream(fs.create(tmpPath, true),
    1 << 20)
  private var wroteHeader = false
  // exact packet-ts bounds (epoch SECONDS, the sidecar/pruning unit),
  // tracked for free while streaming
  private var minTs = Long.MaxValue
  private var maxTs = Long.MinValue
  private var nPkts = 0L

  private def le32(v: Long): Array[Byte] = Array(
    (v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
    ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)

  private def writeHeader(): Unit = {
    if (ng) {
      // SHB: byte-order magic + version 1.0, section length unknown (-1)
      out.write(le32(0x0A0D0D0AL)); out.write(le32(28))
      out.write(le32(0x1A2B3C4DL))
      out.write(Array[Byte](1, 0, 0, 0))  // major 1, minor 0 (LE u16s)
      out.write(le32(0xFFFFFFFFL)); out.write(le32(0xFFFFFFFFL))
      out.write(le32(28))
      // IDB: linktype, snaplen 0 (no limit), if_tsresol=6 so EPB
      // timestamps are the same epoch MICROSECONDS ts_micro carries
      out.write(le32(1L)); out.write(le32(32))
      out.write(Array[Byte](linkType.toByte, (linkType >> 8).toByte, 0, 0))
      out.write(le32(0))                  // snaplen: no limit
      out.write(Array[Byte](9, 0, 1, 0, 6, 0, 0, 0)) // if_tsresol 10^-6
      out.write(Array[Byte](0, 0, 0, 0))  // opt_endofopt
      out.write(le32(32))
    } else {
      out.write(le32(0xA1B2C3D4L))        // LE microsecond magic
      out.write(Array[Byte](2, 0, 4, 0))  // version 2.4 (LE u16 pair)
      out.write(le32(0)); out.write(le32(0)) // thiszone, sigfigs
      out.write(le32(65535))              // snaplen
      out.write(le32(linkType.toLong))
    }
    wroteHeader = true
  }

  override def write(row: InternalRow): Unit = {
    if (!wroteHeader) writeHeader()
    if (row.isNullAt(tsIdx) || row.isNullAt(frameIdx))
      throw new IllegalArgumentException(
        "pcap write: ts_micro and frame must be non-null")
    val micro = row.getLong(tsIdx)
    val frame = row.getBinary(frameIdx)
    val sec = micro / 1000000L
    if (sec < minTs) minTs = sec
    if (sec > maxTs) maxTs = sec
    nPkts += 1
    if (ng) {
      // EPB: iface 0, 64-bit µs timestamp split high/low, data padded
      val pad = (4 - (frame.length & 3)) & 3
      val total = 32 + frame.length + pad
      out.write(le32(6L)); out.write(le32(total.toLong))
      out.write(le32(0))                   // interface id
      out.write(le32(micro >>> 32))        // timestamp high
      out.write(le32(micro & 0xFFFFFFFFL)) // timestamp low
      out.write(le32(frame.length.toLong)) // caplen
      out.write(le32(frame.length.toLong)) // origlen
      out.write(frame)
      var i = 0
      while (i < pad) { out.write(0); i += 1 }
      out.write(le32(total.toLong))
    } else {
      out.write(le32(micro / 1000000L))
      out.write(le32(micro % 1000000L))
      out.write(le32(frame.length.toLong)) // caplen
      out.write(le32(frame.length.toLong)) // origlen
      out.write(frame)
    }
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    if (!wroteHeader) {                   // empty partition -> no file
      fs.delete(tmpPath, false)
      PcapWriteCommitted("")
    } else {
      if (!fs.rename(tmpPath, finalPath))
        throw new java.io.IOException(
          s"pcap write: rename failed for $finalPath")
      // sidecar AFTER the capture is visible: a reader listing mid-write
      // sees at worst a capture without stats (never pruned), never a
      // sidecar for a missing file
      if (writeTsIndex)
        PcapTsIndex.writeSidecar(fs, finalPath, minTs, maxTs,
          Some(nPkts))
      PcapWriteCommitted(finalPath.toString)
    }
  }

  override def abort(): Unit = {
    try out.close() catch { case _: Exception => () }
    fs.delete(tmpPath, false)
  }

  override def close(): Unit = ()
}

case class PcapWriteCommitted(path: String) extends WriterCommitMessage
