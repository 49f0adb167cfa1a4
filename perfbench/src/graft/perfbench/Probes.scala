package graft.perfbench

import java.io.ByteArrayInputStream
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.pcap.{DecodeOptions, DnsParser, DnsPayloadDecoder, PcapStreamReader}
import graft.sources.pcap.{PcapInputPartition, PcapScanBuilder, PcapSchema, PcapTable}

/** Direct layer probes for the traced run: each times calls into one
  * module's public functions on the workload's own inputs, outside the
  * closed loop, and records one span per probe. */
object Probes {
  type Metrics = ArrayBuffer[(String, Double, String)]

  /** Seconds per call of `f`: the median over five rounds, each round
    * repeating `f` for at least `roundMs`. */
  def perCall(roundMs: Long = 100)(f: => Unit): Double = {
    f // first call off the clock
    val rounds = Seq.fill(5) {
      var n = 0
      val t0 = System.nanoTime()
      var t = t0
      while (t - t0 < roundMs * 1000000L) { f; n += 1; t = System.nanoTime() }
      (t - t0) / 1e9 / n
    }
    Stats.median(rounds)
  }

  /** The narrow projection a qtype histogram asks for: DNS parsed, no
    * RR strings, no checksum, no address or extension strings. */
  val Narrow: DecodeOptions = DecodeOptions.dns.copy(dnsSections = false,
    udpsum = false, addrStrings = false, extHeaderStrings = false,
    tcpOptions = false)

  private def decode(bytes: Array[Byte], opts: DecodeOptions): Long = {
    val r = new PcapStreamReader(new ByteArrayInputStream(bytes), opts)
    var n = 0L
    while (r.hasNext) { r.next(); n += 1 }
    n
  }

  /** Runs every probe; a failed output check is passed to `fail` and the
    * probes go on, so the run still reports every metric. */
  def run(spark: SparkSession, wl: Workload, work: Path, m: Metrics,
      spans: ArrayBuffer[Span], fail: String => Unit): Unit = {
    val spec = wl.probe
    def expect[T](got: T, want: T, what: String): Unit =
      if (got != want) fail(s"$what: got $got, want $want")
    def span[T](name: String)(f: => T): T = {
      val s = Span.nowUs()
      try f finally spans += Span(Span.nextId(), -1, -1, "probe", name, s, Span.nowUs())
    }

    // graft.pcap: the byte decoders, single-threaded, in memory
    val bytes = Files.readAllBytes(spec.decodeFile)
    val pkts = decode(bytes, DecodeOptions.dns)
    val full = span("pcap.decode_full")(perCall()(decode(bytes, DecodeOptions.dns)))
    val narrow = span("pcap.decode_narrow")(perCall()(decode(bytes, Narrow)))
    m += (("pcap.decode_mb_s", bytes.length / 1e6 / full, "MB/s"))
    m += (("pcap.decode_pruned_mb_s", bytes.length / 1e6 / narrow, "MB/s"))
    m += (("pcap.decode_pkts_s", pkts / full, "1/s"))

    val payloads = {
      val r = new PcapStreamReader(new ByteArrayInputStream(bytes),
        DecodeOptions(keepPayload = true))
      r.filter(p => p.protocol.contains("UDP") &&
        (p.srcPort.contains(53) || p.dstPort.contains(53)))
        .flatMap(_.payload).toArray
    }
    val parsed = payloads.map(DnsParser.parse(_))
    val malformed = parsed.count(_.isEmpty).toLong
    expect(malformed, spec.malformed, "malformed DNS payloads")
    expect(parsed.flatten.map(_.answer.size.toLong).sum, spec.answers,
      "DNS answer records")
    Check(payloads.nonEmpty, "probe file carries no DNS payloads")
    val dns = span("pcap.dns_parse")(perCall()(payloads.foreach(DnsParser.parse(_))))
    m += (("pcap.dns_parse_ns", dns / payloads.length * 1e9, "ns"))
    m += (("pcap.dns_malformed", malformed.toDouble, "count"))
    // the payload-decoder hook the scan calls must agree with the parser
    expect(payloads.count(p => DnsPayloadDecoder.decode("UDP", 53, 53, p).isEmpty)
      .toLong, malformed, "DNS payload decoder rejections")

    // graft.sources.pcap: listing, sidecar pruning and partition planning
    val opts = new CaseInsensitiveStringMap(Map("path" -> spec.planDir.toString,
      "decoder" -> "dns").asJava)
    val cols = StructType(PcapSchema.full.filter(f => f.name == "ts" ||
      f.name == "dns_qtype"))
    def plan() = {
      val b = new PcapScanBuilder(opts)
      b.pruneColumns(cols)
      b.pushFilters(Array(GreaterThanOrEqual("ts", spec.planLo),
        LessThanOrEqual("ts", spec.planHi)))
      b.build().toBatch.planInputPartitions()
    }
    val parts = plan()
    val kept = parts.map(_.asInstanceOf[PcapInputPartition].files.size).sum
    expect(kept, spec.planKept, "files kept by ts pruning")
    val planS = span("scan.plan")(perCall(200)(plan()))
    m += (("scan.plan_ms", planS * 1e3, "ms"))
    m += (("scan.files_listed", PcapTable.listDataFiles(opts,
      spark.sessionState.newHadoopConf()).size.toDouble, "count"))
    m += (("scan.files_kept", kept.toDouble, "count"))
    m += (("scan.partitions", parts.length.toDouble, "count"))

    // graft.sources.pcap sink: a cached (ts_micro, frame) relation of the
    // probe file written as one classic capture, three times
    val df = spark.read.format("pcap").load(spec.decodeFile.toString)
      .select("ts_micro", "frame").coalesce(1).cache()
    expect(df.count(), pkts, "sink probe input packets")
    val writes = (1 to 3).map { k =>
      val dir = work.resolve(s"sink-probe-$k")
      Gen.deleteTree(dir)
      val t0 = System.nanoTime()
      span("sink.write")(df.write.format("pcap").mode("append").save(dir.toString))
      val s = (System.nanoTime() - t0) / 1e9
      val data = dir.toFile.listFiles().filter(_.getName.endsWith(".pcap"))
      val b = data.map(_.length).sum
      Gen.deleteTree(dir)
      expect(b, bytes.length.toLong, "sink probe bytes written")
      (s, b, data.length)
    }
    df.unpersist()
    m += (("sink.write_s", Stats.median(writes.map(_._1)), "s"))
    m += (("sink.bytes_written", writes.head._2.toDouble, "count"))
    m += (("sink.files_written", writes.head._3.toDouble, "count"))

    // graft.operators: documents into and out of digest dedup
    val (in, wantIn, out) = span("ops.docs")(wl.docs(spark))
    expect(in, wantIn, "gated documents")
    m += (("ops.docs_in", in.toDouble, "count"))
    m += (("ops.docs_out", out.toDouble, "count"))
  }
}

object Stats {
  /** Linear-interpolated quantile of `xs` at `p` in [0, 1]. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val h = (s.length - 1) * p
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
