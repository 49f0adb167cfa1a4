package graft.pcap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.pcap.{PcapMicroBatchStream, PcapReaderFactory, PcapScanBuilder, PcapSchema}

/** Batch and streaming scans map a required schema onto the decoder's
  * switches through one function, so a pruning switch cannot be added to
  * one and forgotten in the other. */
class DecodeOptionsDerivationSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def schema(cols: String*): StructType =
    StructType(PcapSchema.full.filter(f => cols.contains(f.name)))

  private val schemas = Seq(
    PcapSchema.full,
    schema("ts", "dns_qtype"),
    schema("pkt_idx", "dns_qname", "dns_rcode"),
    schema("src", "udpsum", "dns_answer"),
    schema("ext_headers", "tcp_mss", "md5"),
    schema("payload", "frame", "ts_micro"),
    schema("ts"))

  test("batch and streaming factories derive equal decode options") {
    val dir = java.nio.file.Files.createTempDirectory("decodeopts")
    val opts = new CaseInsensitiveStringMap(java.util.Map.of(
      "path", dir.toString, "decoder", "dns", "md5", "true"))
    val conf = spark.sessionState.newHadoopConf()
    for (s <- schemas) {
      val b = new PcapScanBuilder(opts)
      b.pruneColumns(s)
      val batch = b.build().toBatch.createReaderFactory()
        .asInstanceOf[PcapReaderFactory].decode
      val stream = new PcapMicroBatchStream(opts, s, conf)
        .createReaderFactory().asInstanceOf[PcapReaderFactory].decode
      assert(batch == stream, s.fieldNames.mkString(","))
      assert(batch == PcapSchema.decodeOptions(s, opts))
    }
  }

  test("each switch follows its columns") {
    val opts = new CaseInsensitiveStringMap(java.util.Map.of("decoder", "dns"))
    def d(cols: String*) = PcapSchema.decodeOptions(schema(cols: _*), opts)
    val none = d("ts")
    assert(none == DecodeOptions(dnsSections = false, udpsum = false,
      addrStrings = false, extHeaderStrings = false, tcpOptions = false,
      dnsQname = false))
    assert(d("dns_qtype").appDecoder.contains(DnsPayloadDecoder))
    assert(d("dns_qname").dnsQname && !d("dns_qtype").dnsQname)
    assert(d("dns_authority").dnsSections && !d("dns_qname").dnsSections)
    assert(d("dst").addrStrings && d("udpsum").udpsum)
    assert(d("ext_headers").extHeaderStrings && d("tcp_ts_ok").tcpOptions)
    assert(d("payload").keepPayload && d("frame").keepFrame)
    // md5 needs both the column and the option
    assert(!d("md5").md5)
    assert(PcapSchema.decodeOptions(schema("md5"), new CaseInsensitiveStringMap(
      java.util.Map.of("md5", "true"))).md5)
    // an unknown decoder fails planning even when no dns_ column is read
    intercept[IllegalArgumentException](PcapSchema.decodeOptions(
      schema("ts"), new CaseInsensitiveStringMap(
        java.util.Map.of("decoder", "nope"))))
  }
}
