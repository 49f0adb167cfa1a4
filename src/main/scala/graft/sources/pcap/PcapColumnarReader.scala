package graft.sources.pcap

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

import graft.pcap.DecodeOptions

/** Columnar batch reader for flat pcap projections (SURVEY.md §4's
  * "vectorized scan" roadmap item): decoded packets append straight into
  * reused `OnHeapColumnVector`s, `batchSize` rows per `ColumnarBatch`.
  *
  * Versus the row path this removes the per-packet `GenericInternalRow`
  * (one object + one boxed-field array per packet) and lets Spark read
  * the scan output through codegen'd `ColumnarToRow` — the decode-bound
  * telemetry projections (qname/qtype aggregations over multi-GB
  * captures) are where the allocation pressure showed up in profiles.
  * The column readers copy each field straight out of the feed's reused
  * packet slot; results are identical to the row path (PcapGoldenSpec
  * runs both).
  */
class PcapColumnarPartitionReader(
    files: Seq[String],
    conf: Configuration,
    schema: StructType,
    decode: DecodeOptions,
    filter: PcapPacketFilter.Predicate = PcapPacketFilter.acceptAll,
    batchSize: Int = 4096)
  extends PartitionReader[ColumnarBatch] {

  private val feed = new PacketFeed(files, conf, decode)
  private val vectors = OnHeapColumnVector.allocateColumns(batchSize, schema)
  private val batch = new ColumnarBatch(vectors.asInstanceOf[Array[ColumnVector]])
  private val cols = PcapSchema.columns(schema)
  private var exhausted = false

  override def next(): Boolean = {
    if (exhausted) return false
    var i = 0
    while (i < vectors.length) { vectors(i).reset(); i += 1 }
    var n = 0
    while (n < batchSize && !exhausted) {
      if (!feed.next()) exhausted = true
      else {
        val s = feed.slot
        if (filter(s)) {
          var c = 0
          while (c < cols.length) { cols(c).append(vectors(c), s, feed); c += 1 }
          n += 1
        }
      }
    }
    batch.setNumRows(n)
    n > 0
  }

  override def get(): ColumnarBatch = batch

  override def currentMetricsValues():
      Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    feed.metrics()

  override def close(): Unit = {
    feed.close()
    batch.close()
  }
}
