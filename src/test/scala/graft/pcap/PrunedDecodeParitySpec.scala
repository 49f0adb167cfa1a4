package graft.pcap

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Schema-driven decode pruning (udpsum / src,dst strings / ext_headers /
  * dns_qname) must be invisible in results: a pruned projection returns exactly the
  * columns an unpruned full-schema read returns, and filters on a column
  * that is NOT in the output projection still see its value (Spark keeps
  * a residual filter's columns in the required schema; the columns of a
  * filter pushed into the decoder count toward its decode options).
  */
class PrunedDecodeParitySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Mixed capture: v4 DNS + plain-UDP + ARP (synthFrame mix) plus two
    * hand-built v6 frames (one with a fragment ext header) so every
    * pruned field (udpsum, src/dst v4+v6, ext_headers) is exercised. */
  private lazy val capture: String = {
    val frames =
      (0 until 2000).map(i =>
        (1700000000L + i, i.toLong % 1000000L, PcapSynth.synthFrame(i))) ++
      Seq(
        (1700002000L, 0L, PcapSynth.ipv6UdpFrame(4242, 53, hopLimit = 61,
          payload = PcapSynth.dnsQuery(9, "v6.example.com", qtype = 28))),
        (1700002001L, 0L, PcapSynth.ipv6UdpFrame(4243, 9999, hopLimit = 7,
          payload = new Array[Byte](40), withFragmentHeader = true)))
    val tmp = java.nio.file.Files.createTempFile("pruneparity", ".pcap")
    PcapSynth.writeAtomic(tmp, PcapSynth.file(frames))
    tmp.toString
  }

  private val probeCols =
    Seq("pkt_idx", "udpsum", "src", "dst", "ext_headers", "ext_count",
      "dns_qname", "dns_qtype_str", "len", "frag")

  /** Ground truth: every column requested → nothing is pruned. */
  private lazy val fullRows: Map[Long, Seq[Any]] = {
    val all = graft.sources.pcap.PcapSchema.full.fieldNames
    spark.read.format("pcap").load(capture).select(all.head, all.tail: _*)
      .collect()
      .map { r =>
        r.getLong(all.indexOf("pkt_idx")) ->
          probeCols.map(c => r.get(all.indexOf(c)))
      }.toMap
  }

  test("each pruned-column projection matches the unpruned read") {
    // projections chosen so the decoder prunes a different combination
    // of (udpsum, addrStrings, extHeaderStrings) each time
    val projections = Seq(
      Seq("pkt_idx", "dns_qname", "dns_qtype_str"), // all three pruned
      Seq("pkt_idx", "udpsum", "len"),              // addrs+ext pruned
      Seq("pkt_idx", "src", "dst", "frag"),         // udpsum+ext pruned
      Seq("pkt_idx", "ext_headers", "ext_count"))   // udpsum+addrs pruned
    for (cols <- projections; columnar <- Seq(true, false)) {
      val got = spark.read.format("pcap")
        .option("columnar", columnar.toString).load(capture)
        .select(cols.head, cols.tail: _*).collect()
      assert(got.length == fullRows.size, s"$cols columnar=$columnar")
      got.foreach { r =>
        val idx = r.getLong(0)
        val want = cols.map(c => fullRows(idx)(probeCols.indexOf(c)))
        val have = cols.indices.map(r.get)
        assert(have == want,
          s"pkt $idx cols=$cols columnar=$columnar: $have != $want")
      }
    }
  }

  test("residual filter on a column outside the projection still works") {
    // src is pruned from the OUTPUT projection but referenced by the
    // filter, which is pushed into the decoder — so the decoder must
    // still format address strings
    val qnames = spark.read.format("pcap").load(capture)
      .filter("src = '10.0.0.16'").select("dns_qname").collect()
      .map(_.getString(0)).toSeq
    val expect = fullRows.values.toSeq
      .filter(v => v(probeCols.indexOf("src")) == "10.0.0.16")
      .map(v => v(probeCols.indexOf("dns_qname")))
    assert(qnames.nonEmpty && qnames.sorted == expect.map(
      _.asInstanceOf[String]).sorted)

    // same for udpsum: filter IS NOT NULL + equality while projecting
    // only ports
    val n = spark.read.format("pcap").load(capture)
      .filter("udpsum = 0").select("dst_port").count()
    val expectN = fullRows.values.count(v =>
      v(probeCols.indexOf("udpsum")) == 0)
    assert(n == expectN && n > 0)
  }

  /** DNS over UDP with the `dns` decoder: queries, responses with
    * answers, NXDOMAIN, a question-less message, and malformed payloads
    * (short header, pointer loop, label past the end, question cut
    * before its type) that must decode as NULL DNS columns. */
  private lazy val dnsCapture: (String, Set[Long]) = {
    val cli = Array[Byte](10, 3, 0, 9)
    val srv = Array[Byte](10, 3, 0, 53)
    val hdr = PcapSynth.be16(7) ++ PcapSynth.be16(0x0100) ++
      PcapSynth.be16(1) ++ new Array[Byte](6)
    val malformed = Seq(
      Array[Byte](1, 2, 3, 4, 5),
      hdr ++ Array[Byte](0xC0.toByte, 12, 0, 1, 0, 1),
      hdr ++ Array[Byte](50, 'a', 'b', 'c'),
      hdr ++ PcapSynth.encodeName("cut.example.com"))
    val valid = (0 until 60).map { i =>
      val name = s"q$i.zone${i % 4}.example"
      i % 4 match {
        case 0 => PcapSynth.dnsQuery(i, name, qtype = if (i % 8 == 0) 28 else 1)
        case 1 => PcapSynth.dnsResponseAnswers(i, name,
          Seq((1, Array[Byte](10, 0, 0, i.toByte))))
        case 2 => PcapSynth.dnsResponse(i, name, qtype = 15, rcode = 3)
        case _ => PcapSynth.be16(i) ++ PcapSynth.be16(0x8180) ++
          new Array[Byte](8) // no question at all
      }
    }
    val payloads = valid.take(30) ++ malformed ++ valid.drop(30)
    val frames = payloads.zipWithIndex.map { case (p, i) =>
      (1700100000L + i, 0L, PcapSynth.ipv4UdpFrame(cli, srv, 5000 + i, 53,
        ttl = 64, payload = p))
    }
    val tmp = java.nio.file.Files.createTempFile("qnameparity", ".pcap")
    PcapSynth.writeAtomic(tmp, PcapSynth.file(frames))
    // pkt_idx is 1-based
    (tmp.toString, (31L to 34L).toSet)
  }

  private val dnsCols =
    Seq("pkt_idx", "dns_qname", "dns_qtype", "dns_qtype_str", "dns_rcode")

  private lazy val fullDnsRows: Map[Long, Seq[Any]] = {
    val all = graft.sources.pcap.PcapSchema.full.fieldNames
    spark.read.format("pcap").option("decoder", "dns").load(dnsCapture._1)
      .select(all.head, all.tail: _*).collect()
      .map(r => r.getLong(all.indexOf("pkt_idx")) ->
        dnsCols.map(c => r.get(all.indexOf(c))))
      .toMap
  }

  test("a projection without dns_qname matches the unpruned read") {
    val cols = Seq("pkt_idx", "dns_qtype", "dns_qtype_str", "dns_rcode")
    val opts = graft.sources.pcap.PcapSchema.decodeOptions(
      org.apache.spark.sql.types.StructType(
        graft.sources.pcap.PcapSchema.full.filter(f => cols.contains(f.name))),
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("decoder", "dns")))
    assert(!opts.dnsQname && !opts.dnsSections && opts.appDecoder.isDefined)
    val (path, bad) = dnsCapture
    assert(fullDnsRows.size == 64)
    // the unpruned read itself: malformed payloads are NULL, the
    // question-less message has a NULL qname and qtype 0
    bad.foreach(i => assert(fullDnsRows(i).tail.forall(_ == null), s"pkt $i"))
    assert(fullDnsRows.values.count(v => v(1) == null && v(2) == 0) == 15)
    for (columnar <- Seq(true, false)) {
      val got = spark.read.format("pcap").option("decoder", "dns")
        .option("columnar", columnar.toString).load(path)
        .select(cols.head, cols.tail: _*).collect()
      assert(got.length == fullDnsRows.size, s"columnar=$columnar")
      got.foreach { r =>
        val idx = r.getLong(0)
        val want = cols.map(c => fullDnsRows(idx)(dnsCols.indexOf(c)))
        val have = cols.indices.map(r.get)
        assert(have == want, s"pkt $idx columnar=$columnar: $have != $want")
      }
    }
  }

  test("a dns_qname filter on a projection without dns_qname still works") {
    val (path, _) = dnsCapture
    val name = "q17.zone1.example."
    val want = fullDnsRows.collect { case (i, v) if v(1) == name => i }.toSeq
    assert(want == Seq(18L))
    for (columnar <- Seq(true, false)) {
      val df = spark.read.format("pcap").option("decoder", "dns")
        .option("columnar", columnar.toString).load(path)
        .filter(s"dns_qname = '$name'").select("pkt_idx", "dns_rcode")
      assert(df.collect().map(_.getLong(0)).toSeq == want,
        s"columnar=$columnar")
    }
  }
}
