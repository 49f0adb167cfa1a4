package graft.pcap

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.sources._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.pcap.{PcapScan, PcapScanBuilder, PcapSchema}

/** The pcap scan's pushed filters are exact: every filter the builder
  * accepts is evaluated in the decoder with SQL semantics and is not
  * handed back, so no post-scan `Filter` re-checks it. Each accepted
  * filter kind must then return exactly the rows of the
  * `pushdown=false` read, where Spark evaluates every filter itself —
  * also when the query projects none of the filter's columns. The
  * capture mixes ARP, IPv6, non-DNS UDP, malformed DNS, a DNS message
  * with no question and TCP with several flag sets, so every column is
  * NULL for some packets. */
class PcapExactPushdownSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val T0 = 1700000000L
  private val PerFile = 96

  private def v4(a: Int, b: Int, c: Int, d: Int): Array[Byte] =
    Array(a.toByte, b.toByte, c.toByte, d.toByte)

  /** Packet `i` of the capture; the kind cycles with `i % 12`. */
  private def frame(i: Int): Array[Byte] = {
    import PcapSynth._
    val cli = v4(10, 0, 0, i % 5)
    val srv = v4(10, 0, 1, 53)
    val name = s"q${i % 7}.zone${i % 3}.example.com"
    i % 12 match {
      case 0 => arpFrame(Array[Byte](2, 0, 0, 0, 0, 1), cli,
        new Array[Byte](6), srv, oper = 1)
      case 1 => ipv4UdpFrame(cli, srv, 40000 + i, 53, ttl = 64,
        payload = dnsQuery(i, name, qtype = if (i % 2 == 0) 28 else 1))
      case 2 => ipv4UdpFrame(srv, cli, 53, 40000 + i, ttl = 60,
        payload = dnsResponse(i, name, qtype = 15,
          rcode = if (i % 4 == 2) 3 else 0))
      case 3 => ipv6UdpFrame(4242, 53, hopLimit = 61,
        payload = dnsQuery(i, s"v6.$name", qtype = 28))
      case 4 => ipv6UdpFrame(4243, 9999, hopLimit = 7,
        payload = Array.fill[Byte](20)(i.toByte))
      case 5 => ipv4UdpFrame(cli, v4(10, 0, 9, 9), 5000, 9999, ttl = 64,
        payload = Array.fill[Byte](12)(7))
      case 6 => ipv4UdpFrame(cli, srv, 40000 + i, 53, ttl = 64,
        payload = Array[Byte](1, 2, 3, 4, 5)) // malformed DNS
      case 7 => ipv4UdpFrame(srv, cli, 53, 40000 + i, ttl = 60,
        payload = be16(i) ++ be16(0x8180) ++ new Array[Byte](8)) // no question
      case 8 => ipv4TcpFrame(cli, v4(10, 0, 2, 2), 50000 + i, 443, ttl = 64,
        payload = Array.emptyByteArray, flags = 0x02)
      case 9 => ipv4TcpFrame(v4(10, 0, 2, 2), cli, 443, 50000 + i, ttl = 64,
        payload = Array.emptyByteArray, flags = 0x12)
      case 10 => ipv4TcpFrame(cli, v4(10, 0, 2, 2), 50000 + i, 80, ttl = 64,
        payload = "GET / HTTP/1.1\r\n\r\n".getBytes, flags = 0x18)
      case _ =>
        if (i % 24 == 11)
          ipv4IcmpFrame(cli, srv, ttl = 3, icmpType = 8, code = 0)
        else ipv4TcpFrame(cli, v4(10, 0, 2, 2), 50000 + i, 443, ttl = 64,
          payload = Array.emptyByteArray, flags = 0xC2) // SYN|ECE|CWR
    }
  }

  /** Three indexed captures, one packet per second: file k spans
    * [T0 + k·PerFile, T0 + (k+1)·PerFile). */
  private lazy val dir: String = {
    val d = Files.createTempDirectory("pcap_exact")
    for (k <- 0 until 3) {
      val pkts = (0 until PerFile).map { j =>
        val i = k * PerFile + j
        (T0 + i, (i * 37L) % 1000000L, frame(i))
      }
      PcapSynth.writeAtomic(d.resolve(s"cap$k.pcap"), PcapSynth.file(pkts))
    }
    graft.tools.PcapStatsWriter.main(Array(d.toString))
    d.toString
  }

  private def read(pushdown: Boolean, columnar: Boolean = true): DataFrame =
    spark.read.format("pcap").option("decoder", "dns")
      .option("pushdown", pushdown.toString)
      .option("columnar", columnar.toString).load(dir)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.mkString("0x[", ",", "]")
      case x => String.valueOf(x)
    }.mkString("|")).sorted.toSeq

  private def postScanFilters(df: DataFrame): Seq[FilterExec] =
    df.queryExecution.sparkPlan.collect { case f: FilterExec => f }

  private def pushedOf(df: DataFrame): Seq[Filter] =
    df.queryExecution.sparkPlan.collect {
      case b: BatchScanExec => b.scan
    }.collect { case s: PcapScan => s.pushedFilters.toSeq }.flatten

  /** `where` must push in full: no post-scan Filter, and its rows equal
    * the pushdown-off rows, narrow (no filter column read) and wide, on
    * the columnar and the row path. */
  private def assertExact(where: String, wide: String): Unit = {
    val want =
      rows(read(pushdown = false).where(where).select("file", "pkt_idx"))
    for (columnar <- Seq(true, false)) {
      val narrow = read(pushdown = true, columnar).where(where)
        .select("file", "pkt_idx")
      assert(postScanFilters(narrow).isEmpty,
        s"$where left a post-scan Filter:\n${narrow.queryExecution.sparkPlan}")
      assert(rows(narrow) == want, s"$where columnar=$columnar (narrow)")
    }
    def wideRows(pushdown: Boolean) =
      rows(read(pushdown).where(where).select("pkt_idx", "file", wide))
    assert(wideRows(pushdown = true) == wideRows(pushdown = false),
      s"$where (wide)")
  }

  /** A literal of each column the data actually holds. */
  private lazy val sample: Map[String, Seq[String]] = {
    val all = read(pushdown = false)
    Seq("src", "dst", "dns_qname", "ether_type", "protocol", "tcp_flags",
      "dns_rcode").map { c =>
      c -> all.where(s"$c IS NOT NULL").select(c).distinct().collect()
        .map(_.getString(0)).sorted.toSeq
    }.toMap
  }

  test("the fixture covers every NULL pattern the filters must respect") {
    val all = read(pushdown = false)
    val n = all.count()
    assert(n == 3 * PerFile)
    assert(sample("ether_type").toSet == Set("arp", "IPv4", "IPv6"))
    assert(sample("tcp_flags").toSet == Set("SYN", "SYN|ACK", "PSH|ACK",
      "SYN|ECE|CWR"))
    assert(sample("dns_rcode").toSet == Set("NOERROR", "NXDOMAIN"))
    // malformed DNS and ARP/non-DNS: no DNS columns; the question-less
    // message: DNS columns but no qname
    val dnsRows = all.where("dns_qr IS NOT NULL").count()
    val qnameRows = all.where("dns_qname IS NOT NULL").count()
    assert(dnsRows > qnameRows && qnameRows > 0 && dnsRows < n)
    assert(all.where("dst_port = 53 AND dns_qr IS NULL").count() > 0)
  }

  test("every accepted filter kind and column returns the pushdown-off rows") {
    val lo = T0 + 50
    val hi = T0 + 170
    val src = sample("src")
    val dst = sample("dst")
    val v6src = sample("src").filter(_.contains(":")).head
    val qn = sample("dns_qname")
    val cases = Seq(
      s"ts >= $lo" -> "ts", s"ts > $lo" -> "ts", s"ts < $hi" -> "ts",
      s"ts <= $hi" -> "ts", s"ts = $lo" -> "ts",
      s"ts IN ($lo, $hi, ${T0 + 999})" -> "ts",
      s"ts >= $lo AND ts <= $hi" -> "ts",
      "src_port = 53" -> "src_port",
      "src_port IN (53, 443, 4243)" -> "src_port",
      "dst_port = 53" -> "dst_port", "dst_port IN (443, 9999)" -> "dst_port",
      "protocol = 'UDP'" -> "protocol",
      "protocol IN ('TCP', 'ICMP')" -> "protocol",
      "protocol LIKE 'IC%'" -> "protocol",
      "ether_type = 'arp'" -> "ether_type",
      "ether_type IN ('IPv6', 'arp')" -> "ether_type",
      "ether_type LIKE '%v6'" -> "ether_type",
      "tcp_flags = 'SYN'" -> "tcp_flags",
      "tcp_flags IN ('SYN', 'SYN|ACK')" -> "tcp_flags",
      "tcp_flags LIKE 'SYN%'" -> "tcp_flags",
      "tcp_flags LIKE '%ACK'" -> "tcp_flags",
      "tcp_flags LIKE '%ECE%'" -> "tcp_flags",
      s"src = '${src.head}'" -> "src", s"src = '$v6src'" -> "src",
      s"dst IN ('${dst.head}', '${dst.last}')" -> "dst",
      s"dns_qname = '${qn.head}'" -> "dns_qname",
      s"dns_qname IN ('${qn.head}', '${qn.last}', 'absent.')" -> "dns_qname",
      "dns_qname LIKE 'q3.%'" -> "dns_qname",
      "dns_qname LIKE '%.zone1.example.com.'" -> "dns_qname",
      "dns_qname LIKE '%zone2%'" -> "dns_qname",
      "dns_rcode = 'NXDOMAIN'" -> "dns_rcode",
      "dns_rcode IN ('NOERROR')" -> "dns_rcode",
      "dns_rcode LIKE 'NX%'" -> "dns_rcode",
      "dns_qr = true" -> "dns_qr", "dns_qr = false" -> "dns_qr",
      "dns_qr <> true" -> "dns_qr", "dst_port <> 53" -> "dst_port",
      "protocol NOT IN ('UDP', 'ICMP')" -> "protocol",
      s"src <> '${src.head}'" -> "src",
      "dns_qname <> 'absent.'" -> "dns_qname",
      s"ts >= $lo AND dst_port = 53 AND dns_qname LIKE '%example.com.'" ->
        "dns_qtype")
    for ((where, wide) <- cases) {
      val n = read(pushdown = false).where(where).count()
      assert(n > 0 && n < 3 * PerFile, s"$where selects $n rows")
      assertExact(where, wide)
    }
  }

  test("IS NOT NULL on every column is the column reader's NULL test") {
    for (c <- PcapSchema.full.fieldNames) assertExact(s"$c IS NOT NULL", c)
  }

  test("a mixed predicate set keeps only the unpushed conjuncts post-scan") {
    val where = s"ts >= ${T0 + 40} AND dns_qtype = 28 AND size > 60 AND " +
      "dst_port = 53"
    val df = read(pushdown = true).where(where).select("pkt_idx")
    val filters = postScanFilters(df)
    assert(filters.size == 1, df.queryExecution.sparkPlan.toString)
    assert(filters.head.condition.references.map(_.name).toSet ==
      Set("dns_qtype", "size"), filters.head.condition.sql)
    assert(pushedOf(df).toSet == Set(GreaterThanOrEqual("ts", T0 + 40),
      EqualTo("dst_port", 53), IsNotNull("ts"), IsNotNull("dns_qtype"),
      IsNotNull("size"), IsNotNull("dst_port")))
    val off = read(pushdown = false).where(where).select("pkt_idx")
    assert(rows(df) == rows(off) && rows(df).nonEmpty)
    assert(postScanFilters(off).size == 1)
  }

  test("the builder returns exactly the filters it cannot evaluate exactly") {
    val opts = new CaseInsensitiveStringMap(java.util.Map.of("path", dir))
    val exact = Array[Filter](GreaterThan("ts", 5L), LessThanOrEqual("ts", 9),
      EqualTo("src_port", 53), In("dst_port", Array(53, 443)),
      EqualTo("protocol", "UDP"), StringEndsWith("dns_qname", ".com."),
      EqualTo("dns_qr", true), In("src", Array("10.0.0.1")),
      Not(EqualTo("dns_qr", true)), Not(In("protocol", Array("UDP"))),
      IsNotNull("dns_qtype"), IsNotNull("payload"))
    val residual = Array[Filter](EqualTo("ts", "5"), EqualTo("src_port", 53.0),
      In("dst_port", Array(53, null)), EqualTo("dns_qr", 1),
      GreaterThan("src_port", 1024), EqualTo("size", 60L),
      StringStartsWith("src", "10."), EqualTo("protocol", 17),
      EqualTo("dns_qtype", 28), Not(EqualTo("ts", 5.0)),
      Not(In("ts", Array[Any]())), Not(GreaterThan("ts", 5L)),
      IsNotNull("nope"), Or(EqualTo("ts", 1L), EqualTo("ts", 2L)))
    val b = new PcapScanBuilder(opts)
    assert(b.pushFilters(exact ++ residual).toSeq == residual.toSeq)
    assert(b.pushedFilters().toSeq == exact.toSeq)
    val off = new PcapScanBuilder(new CaseInsensitiveStringMap(
      java.util.Map.of("path", dir, "pushdown", "false")))
    assert(off.pushFilters(exact).toSeq == exact.toSeq)
    assert(off.pushedFilters().isEmpty)
  }

  test("a ts-windowed count(*) never answers from sidecars") {
    val all = spark.read.format("pcap").load(dir).groupBy().count()
    assert(all.queryExecution.executedPlan.toString.contains("PcapStatsScan"))
    for ((lo, hi) <- Seq((T0 + 10, T0 + 20), (T0 + 90, T0 + 200),
        (T0, T0 + 3 * PerFile))) {
      val q = s"ts >= $lo AND ts <= $hi"
      val on = read(pushdown = true).where(q).groupBy().count()
      assert(!on.queryExecution.executedPlan.toString.contains("PcapStatsScan"),
        on.queryExecution.executedPlan.toString)
      val off = read(pushdown = false).where(q).groupBy().count()
      assert(on.collect().head.getLong(0) == off.collect().head.getLong(0))
      assert(on.collect().head.getLong(0) ==
        (math.min(hi, T0 + 3 * PerFile - 1) - lo + 1))
    }
  }

  test("a second ts window of the same query shape compiles no new code") {
    def window(lo: Long, hi: Long): Array[org.apache.spark.sql.Row] =
      read(pushdown = true).where(s"ts >= $lo AND ts <= $hi")
        .groupBy("dns_qtype").count().collect()
    window(T0 + 3, T0 + 150)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val second = window(T0 + 17, T0 + 201)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles,
      "the second window recompiled its stage code")
    assert(second.map(_.getLong(1)).sum == 201 - 17 + 1)
  }
}
