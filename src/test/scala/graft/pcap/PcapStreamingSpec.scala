package graft.pcap

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** `readStream.format("pcap")` over a landing directory: newly-landed
  * capture files arrive as micro-batches. */
class PcapStreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  test("landing directory streams files incrementally") {
    val dir = Files.createTempDirectory("pcap_landing")
    val fixture = java.nio.file.Paths.get(
      getClass.getResource("/test.pcap").getPath)

    val stream = spark.readStream.format("pcap")
      .option("decoder", "dns")
      .load(dir.toString)
      .groupBy("dst_port").count()

    val query = stream.writeStream.format("memory")
      .queryName("pcap_stream_out").outputMode("complete").start()
    try {
      query.processAllAvailable()
      assert(spark.table("pcap_stream_out").count() == 0)

      Files.copy(fixture, dir.resolve("cap1.pcap"))
      query.processAllAvailable()
      val afterOne = spark.table("pcap_stream_out").collect()
        .map(r => r.getAs[Int]("dst_port") -> r.getAs[Long]("count")).toMap
      assert(afterOne == Map(53 -> 1L, 52938 -> 1L))

      Files.copy(fixture, dir.resolve("cap2.pcap"))
      query.processAllAvailable()
      val afterTwo = spark.table("pcap_stream_out").collect()
        .map(r => r.getAs[Int]("dst_port") -> r.getAs[Long]("count")).toMap
      assert(afterTwo == Map(53 -> 2L, 52938 -> 2L))
    } finally query.stop()
  }

  test("mixed classic + pcapng files stream from one landing directory") {
    val dir = Files.createTempDirectory("pcap_landing_mixed")
    val frame = graft.pcap.PcapSynth.ipv4UdpFrame(
      Array[Byte](10, 0, 0, 1), Array[Byte](10, 0, 0, 2),
      4000, 5000, ttl = 64, payload = new Array[Byte](8))
    val stream = spark.readStream.format("pcap").load(dir.toString)
      .groupBy("dst_port").count()
    val query = stream.writeStream.format("memory")
      .queryName("pcap_mixed_out").outputMode("complete").start()
    try {
      Files.write(dir.resolve("a.pcap"),
        graft.pcap.PcapSynth.file(Seq((1L, 0L, frame))))
      Files.write(dir.resolve("b.pcapng"),
        graft.pcap.PcapSynth.fileNg(Seq(1), Seq((0, 1000000L, frame))))
      query.processAllAvailable()
      val got = spark.table("pcap_mixed_out").collect()
        .map(r => r.getAs[Int]("dst_port") -> r.getAs[Long]("count")).toMap
      assert(got == Map(5000 -> 2L))
    } finally query.stop()
  }

  test("streaming filter re-exports landed packets through the pcap sink") {
    // landing dir -> filter -> foreachBatch pcap write: the streaming
    // form of the capture-curation ETL (keep only DNS, re-export as
    // valid captures). The batch sink is idempotent per micro-batch via
    // per-task unique file names + atomic rename.
    val dir = Files.createTempDirectory("pcap_landing_sink")
    val out = Files.createTempDirectory("pcap_sink_out")
    val dns = graft.pcap.PcapSynth.ipv4UdpFrame(
      Array[Byte](10, 0, 0, 1), Array[Byte](10, 0, 0, 2),
      4000, 53, ttl = 64,
      payload = graft.pcap.PcapSynth.dnsQuery(5, "keep.example.com"))
    val other = graft.pcap.PcapSynth.ipv4UdpFrame(
      Array[Byte](10, 0, 0, 3), Array[Byte](10, 0, 0, 4),
      4001, 9999, ttl = 64, payload = new Array[Byte](12))
    val query = spark.readStream.format("pcap").option("decoder", "dns")
      .load(dir.toString)
      .filter("dns_qname is not null")
      .select("ts_micro", "frame")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.write.format("pcap").mode("append").save(out.toString)
      }
      .option("checkpointLocation",
        Files.createTempDirectory("pcap_sink_ckpt").toString)
      .start()
    try {
      Files.write(dir.resolve("a.pcap"),
        graft.pcap.PcapSynth.file(Seq((1L, 0L, dns), (2L, 0L, other))))
      query.processAllAvailable()
      Files.write(dir.resolve("b.pcap"),
        graft.pcap.PcapSynth.file(Seq((3L, 0L, other), (4L, 500L, dns))))
      query.processAllAvailable()
    } finally query.stop()
    val reread = spark.read.format("pcap").option("decoder", "dns")
      .load(out.toString)
      .select("ts_micro", "dns_qname").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(reread == Seq(
      (1000000L, "keep.example.com."), (4000500L, "keep.example.com.")))
  }

  test("streamed dns columns decode like batch") {
    val dir = Files.createTempDirectory("pcap_landing2")
    val fixture = java.nio.file.Paths.get(
      getClass.getResource("/test.pcap").getPath)
    Files.copy(fixture, dir.resolve("cap.pcap"))

    val query = spark.readStream.format("pcap")
      .option("decoder", "dns")
      .load(dir.toString)
      .select("dns_qname", "dns_qr")
      .writeStream.format("memory")
      .queryName("pcap_stream_dns").outputMode("append").start()
    try {
      query.processAllAvailable()
      val rows = spark.table("pcap_stream_dns").collect()
      assert(rows.length == 2)
      assert(rows.forall(_.getString(0) == "ripe.net."))
      assert(rows.map(_.getBoolean(1)).sorted.toSeq == Seq(false, true))
    } finally query.stop()
  }

  test("a streamed ts + dst_port filter returns only the matching rows") {
    // the batch scan evaluates these filters in the decoder and leaves
    // Spark no post-scan copy; the streamed rows must still match them
    val dir = Files.createTempDirectory("pcap_landing_filter")
    def frame(i: Int) = graft.pcap.PcapSynth.ipv4UdpFrame(
      Array[Byte](10, 0, 0, 1), Array[Byte](10, 0, 0, 2), 4000 + i,
      if (i % 3 == 0) 53 else 9999, ttl = 64,
      payload = graft.pcap.PcapSynth.dnsQuery(i, s"n$i.example.com"))
    val where = "ts >= 1005 AND ts <= 1040 AND dst_port = 53"
    val query = spark.readStream.format("pcap").option("decoder", "dns")
      .load(dir.toString).where(where)
      .select("ts", "dst_port", "dns_qname")
      .writeStream.format("memory")
      .queryName("pcap_stream_filtered").outputMode("append").start()
    try {
      for (f <- 0 until 3) {
        Files.write(dir.resolve(s"f$f.pcap"), graft.pcap.PcapSynth.file(
          (0 until 20).map(j => f * 20 + j).map(i => (1000L + i, 0L, frame(i)))))
        query.processAllAvailable()
      }
      val got = spark.table("pcap_stream_filtered").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted.toSeq
      val want = (5 to 40).filter(_ % 3 == 0)
        .map(i => (1000L + i, 53, s"n$i.example.com."))
      assert(got == want)
      assert(got == spark.read.format("pcap").option("decoder", "dns")
        .option("pushdown", "false").load(dir.toString).where(where)
        .select("ts", "dst_port", "dns_qname").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted.toSeq)
    } finally query.stop()
  }

  test("checkpointed restart is exactly-once: no dupes or loss across a " +
       "simulated failure") {
    val dir = Files.createTempDirectory("pcap_landing_eo")
    val ckpt = Files.createTempDirectory("pcap_eo_ckpt")
    val out = Files.createTempDirectory("pcap_eo_out")
    val fixture = java.nio.file.Paths.get(
      getClass.getResource("/test.pcap").getPath)

    def start() = spark.readStream.format("pcap").option("decoder", "dns")
      .load(dir.toString)
      .select("ts", "dst_port", "dns_qname", "pkt_idx", "file")
      .writeStream.format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .start()

    // run 1 processes the first capture, then "crashes"
    Files.copy(fixture, dir.resolve("cap1.pcap"))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()

    // simulated failure window: the sink committed the batch but the
    // checkpoint lost its latest commit marker (crash between the sink
    // write and the commit-log write) — restart MUST replay that batch
    // and the file sink MUST dedupe it
    val commits = ckpt.resolve("commits")
    val latest = java.nio.file.Files.list(commits).toArray.map(_.toString)
      .map(p => new java.io.File(p)).filter(_.getName.forall(_.isDigit))
      .maxBy(_.getName.toLong)
    assert(latest.delete(), "expected a commit marker to delete")
    // drop the local-FS checksum sidecar too, or the replayed commit
    // write trips over the stale CRC
    Files.deleteIfExists(commits.resolve(s".${latest.getName}.crc"))
    // a second capture lands while the pipeline is down
    Files.copy(fixture, dir.resolve("cap2.pcap"))

    val q2 = start()
    try {
      q2.processAllAvailable()
      val rows = spark.read.parquet(out.toString)
      // 2 packets per capture, each exactly once — replayed batch 0 must
      // not double cap1, the downtime must not lose cap2
      assert(rows.count() == 4)
      val ids = rows.select("file", "pkt_idx").collect()
        .map(r => (r.getString(0), r.getLong(1)))
      assert(ids.length == ids.distinct.length, "duplicate packets after replay")
      assert(ids.map(_._1).distinct.length == 2, "a capture was lost")
      // a third capture lands against the restarted query
      Files.copy(fixture, dir.resolve("cap3.pcap"))
      q2.processAllAvailable()
      assert(spark.read.parquet(out.toString).count() == 6)
    } finally q2.stop()
  }

  test("streaming query/response pairing: stream-stream join on the " +
       "landing stream") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = Files.createTempDirectory("pcap_landing_qr")
    Files.write(dir.resolve("qr.pcap"),
      graft.pcap.PcapSynth.file(graft.pcap.PcapSynth.qrConversations(200)))
    // the batch pcap_dns_latency pairing, live: two filtered views of the
    // landing stream, watermarked, joined with an event-time band so
    // join state is bounded regardless of capture volume
    def side = spark.readStream.format("pcap")
      .option("decoder", "dns").load(dir.toString)
    val q = side.filter(!col("dns_qr") && col("dst_port") === 53)
      .select(col("dns_queryid").as("qid"), col("dns_qname").as("qname"),
        col("src").as("qsrc"), col("dst").as("qdst"), col("time").as("qt"))
      .withWatermark("qt", "10 seconds")
    val r = side.filter(col("dns_qr") && col("src_port") === 53)
      .select(col("dns_queryid").as("rqid"), col("dns_qname").as("rqname"),
        col("src").as("rsrc"), col("dst").as("rdst"),
        col("dns_rcode").as("rcode"), col("time").as("rt"))
      .withWatermark("rt", "10 seconds")
    val joined = q.join(r, expr(
      """qid = rqid AND qname = rqname AND qsrc = rdst AND qdst = rsrc
         AND rt BETWEEN qt AND qt + interval 1 second"""))
    val query = joined.writeStream.format("memory")
      .queryName("qr_pairs").outputMode("append").start()
    try {
      query.processAllAvailable()
      val got = spark.table("qr_pairs").groupBy("rcode").count()
        .as[(String, Long)].collect().toMap
      var (ne, nx) = (0L, 0L)
      for (i <- 0 until 200 if i % 19 != 0)
        if (i % 7 == 0) nx += 1 else ne += 1
      assert(got == Map("NOERROR" -> ne, "NXDOMAIN" -> nx),
        s"got $got, want NOERROR=$ne NXDOMAIN=$nx")
    } finally query.stop()
  }

  test("streaming SYN-scan alerts match the batch twin's row set") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("pcap_landing_scan")
    Files.write(dir.resolve("hs.pcap"),
      graft.pcap.PcapSynth.file(graft.pcap.PcapSynth.handshakePackets(50)))

    val alerts = graft.streaming.SynScanStream.scanAlerts(
      spark.readStream.format("pcap").load(dir.toString),
      watermark = "5 seconds", window = "10 seconds", minPorts = 3)
    val query = alerts.writeStream.format("memory")
      .queryName("scan_alerts").outputMode("append").start()
    try {
      query.processAllAvailable()
      // append mode holds windows open until the watermark passes; land
      // a later SYN (outside every scanner window) to flush them all
      Files.write(dir.resolve("flush.pcap"),
        graft.pcap.PcapSynth.file(Seq((1700300400L, 0L,
          graft.pcap.PcapSynth.ipv4TcpFrame(
            Array[Byte](10, 99, 0, 1), Array[Byte](10, 9, 0, 1),
            srcPort = 1, dstPort = 2, ttl = 64,
            payload = Array.emptyByteArray, flags = 0x02)))))
      query.processAllAvailable()

      val got = spark.table("scan_alerts").collect()
        .map(r => (r.getAs[Long]("window_start_s"),
          r.getAs[String]("scanner"), r.getAs[Long]("n_ports"))).toSet
      // the batch twin's oracle rows: every scanner (f ≡ 3 mod 7) with
      // its 5 probed ports in its 10 s window; clients (1 port) below
      // the threshold never alert
      val want = (0 until 50).filter(_ % 7 == 3).map { f =>
        val sec = 1700300000L + f
        (sec - sec % 10, s"10.6.0.$f", 5L)
      }.toSet
      assert(got == want, s"got $got")
    } finally query.stop()
  }

  test("streaming rogue-DHCP alerts match the batch twin's row set") {
    val dir = Files.createTempDirectory("pcap_landing_dhcp")
    Files.write(dir.resolve("dhcp.pcap"),
      graft.pcap.PcapSynth.file(graft.pcap.PcapSynth.dhcpPackets(90)))

    val alerts = graft.streaming.DhcpGuardStream.rogueAlerts(
      spark.readStream.format("pcap").load(dir.toString),
      watermark = "5 seconds", window = "2 seconds", minServers = 2)
    val query = alerts.writeStream.format("memory")
      .queryName("dhcp_alerts").outputMode("append").start()
    try {
      query.processAllAvailable()
      // flush: a lone later OFFER survives the filter/parse, advances
      // the watermark past every fixture window, and cannot itself
      // alert (one server in its own window)
      Files.write(dir.resolve("flush.pcap"),
        graft.pcap.PcapSynth.file(Seq((1701500400L, 0L,
          graft.pcap.PcapSynth.ipv4UdpFrame(
            Array[Byte](10, 95, 0, 1),
            Array[Byte](255.toByte, 255.toByte, 255.toByte, 255.toByte),
            67, 68, ttl = 64,
            payload = graft.pcap.PcapSynth.dhcpPayload(2, 0xBEEFL,
              Array[Byte](10, 95, 0, 99),
              Array[Byte](0x02, 0, 0, 0, 0, 99), msgType = 2,
              Some(Array[Byte](10, 95, 0, 1))))))))
      query.processAllAvailable()

      val got = spark.table("dhcp_alerts").collect()
        .map(r => (r.getAs[Long]("window_start_s"),
          r.getAs[Long]("n_servers"), r.getAs[String]("srv_a"),
          r.getAs[String]("srv_b"))).toSet
      // ground truth: the DuckDB-oracled batch twin over the same capture
      val want = graft.SparkEntry.queries("pcap_dhcp_rogue_twin")(
        spark, "unused").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getString(3))).toSet
      assert(want.nonEmpty && got == want, s"got $got want $want")
    } finally query.stop()
  }

  test("maxFilesPerTrigger bounds each micro-batch over a backlog") {
    val dir = Files.createTempDirectory("pcap_landing_backlog")
    val fixture = java.nio.file.Paths.get(
      getClass.getResource("/test.pcap").getPath)
    // a 5-file backlog exists BEFORE the query starts — without
    // admission control this all lands in batch 0
    for (i <- 1 to 5) Files.copy(fixture, dir.resolve(f"cap$i%02d.pcap"))

    val query = spark.readStream.format("pcap")
      .option("maxFilesPerTrigger", "2")
      .load(dir.toString)
      .writeStream.format("memory")
      .queryName("pcap_backlog_out").outputMode("append").start()
    try {
      query.processAllAvailable()
      assert(spark.table("pcap_backlog_out").count() == 10) // 5 files x 2
      // 2 + 2 + 1 files -> exactly 3 non-empty micro-batches, none above
      // the cap (2 files x 2 packets = 4 rows)
      val batches = query.recentProgress.map(_.numInputRows).filter(_ > 0)
      assert(batches.toSeq == Seq(4L, 4L, 2L),
        s"per-batch rows: ${batches.mkString(",")}")
    } finally query.stop()
  }

  test("Trigger.AvailableNow drains the backlog in bounded batches, then stops") {
    val dir = Files.createTempDirectory("pcap_landing_availnow")
    val fixture = java.nio.file.Paths.get(
      getClass.getResource("/test.pcap").getPath)
    for (i <- 1 to 5) Files.copy(fixture, dir.resolve(f"cap$i%02d.pcap"))

    val query = spark.readStream.format("pcap")
      .option("maxFilesPerTrigger", "2")
      .load(dir.toString)
      .writeStream.format("memory")
      .queryName("pcap_availnow_out").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      // the query must TERMINATE on its own once the start-time snapshot
      // is drained — that's the scheduled-catchup contract
      assert(query.awaitTermination(60000), "AvailableNow query never stopped")
      assert(spark.table("pcap_availnow_out").count() == 10)
      val batches = query.recentProgress.map(_.numInputRows).filter(_ > 0)
      assert(batches.toSeq == Seq(4L, 4L, 2L),
        s"per-batch rows: ${batches.mkString(",")}")
    } finally query.stop()
  }

  private def beaconRows(
      df: org.apache.spark.sql.DataFrame): Set[(String, String, Int,
      Long, Long, Long, Boolean)] =
    df.collect().map(r => (r.getString(0), r.getString(1), r.getInt(2),
      r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6))).toSet

  private def runBeaconStream(name: String, watermark: String,
      land: (java.nio.file.Path, () => Unit) => Unit)
      : Set[(String, String, Int, Long, Long, Long, Boolean)] = {
    val dir = Files.createTempDirectory(s"pcap_landing_$name")
    val alerts = graft.streaming.BeaconStream.candidates(
      spark.readStream.format("pcap").load(dir.toString),
      watermark = watermark, idleSeconds = 60, minGaps = 8)
    val query = alerts.writeStream.format("memory")
      .queryName(name).outputMode("append").start()
    try {
      query.processAllAvailable()
      land(dir, () => query.processAllAvailable())
      query.processAllAvailable()
      // flush: one lone UDP packet far past every fixture flow's idle
      // horizon — its own 1-packet flow can never reach minGaps
      Files.write(dir.resolve("zz_flush.pcap"),
        graft.pcap.PcapSynth.file(Seq((1702010000L, 0L,
          graft.pcap.PcapSynth.ipv4UdpFrame(
            Array[Byte](10, 99, 0, 1),
            Array[Byte](203.toByte, 0, 113, 7),
            40999, 443, ttl = 64, payload = new Array[Byte](8))))))
      query.processAllAvailable()
      beaconRows(spark.table(name))
    } finally query.stop()
  }

  private def runNodStream(name: String, watermark: String,
      land: (java.nio.file.Path, () => Unit) => Unit)
      : Set[(String, Long)] = {
    val dir = Files.createTempDirectory(s"pcap_landing_$name")
    val alerts = graft.streaming.NodStream.alerts(
      spark.readStream.format("pcap").option("decoder", "dns")
        .load(dir.toString),
      watermark = watermark, idleSeconds = 60)
    val query = alerts.writeStream.format("memory")
      .queryName(name).outputMode("append").start()
    try {
      query.processAllAvailable()
      land(dir, () => query.processAllAvailable())
      query.processAllAvailable()
      def obs(file: String, ts: Long, qname: String): Unit = {
        Files.write(dir.resolve(file),
          graft.pcap.PcapSynth.file(Seq((ts, 0L,
            graft.pcap.PcapSynth.ipv4UdpFrame(
              Array[Byte](1, 0, 0, 1), Array[Byte](10, 7, 9, 9),
              53, 55555, ttl = 58,
              payload = graft.pcap.PcapSynth.dnsResponseAnswers(0x7777,
                qname, Seq((1, Array[Byte](10, 20, 0, 1)))))))))
        query.processAllAvailable()
      }
      // flush 1: a RE-observation of app0 far past the idle horizon —
      // advances the watermark (closing every other name) and
      // legitimately keeps app0 ACTIVE (quiescence moves out with it)
      obs("y_flush1.pcap", 1703002000L, "app0.svc.example.com")
      // flush 2: a brand-new name even later — its watermark advance
      // closes app0, which must alert ONCE with the original event-time
      // min (the re-observation neither re-alerts nor shifts first_seen);
      // the new name itself stays pending (nothing later closes it)
      obs("z_flush2.pcap", 1703003000L, "zz.new.example.com")
      spark.table(name).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
    } finally query.stop()
  }

  test("streaming NOD feed matches the oracled batch twin and a " +
      "re-observation does not re-alert") {
    val got = runNodStream("nod_alerts", "5 seconds", { (dir, _) =>
      Files.write(dir.resolve("pdns.pcap"), graft.pcap.PcapSynth.file(
        graft.pcap.PcapSynth.passiveDnsPackets(400)))
    })
    val want = graft.SparkEntry.queries("pcap_nod_twin")(spark, "unused")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(want.size == 40 && got == want,
      s"missing=${want -- got} extra=${got -- want}")
  }

  test("NOD first_seen is the event-time min even when the late half " +
      "of the capture is admitted first") {
    val pkts = graft.pcap.PcapSynth.passiveDnsPackets(400)
    val (early, late) = pkts.partition(_._1 < 1703000200L)
    assert(early.nonEmpty && late.nonEmpty)
    val got = runNodStream("nod_alerts_ooo", "600 seconds",
      { (dir, drain) =>
        Files.write(dir.resolve("a_late.pcap"),
          graft.pcap.PcapSynth.file(late))
        drain() // the late half commits in its own micro-batch first
        Files.write(dir.resolve("b_early.pcap"),
          graft.pcap.PcapSynth.file(early))
      })
    val want = graft.SparkEntry.queries("pcap_nod_twin")(spark, "unused")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(want.nonEmpty && got == want,
      s"missing=${want -- got} extra=${got -- want}")
  }

  test("streaming beacon detector matches the oracled batch twin") {
    val got = runBeaconStream("beacon_alerts", "5 seconds",
      { (dir, _) =>
        Files.write(dir.resolve("beacon.pcap"), graft.pcap.PcapSynth
          .file(graft.pcap.PcapSynth.beaconPackets(24, 18)))
      })
    val want = beaconRows(graft.SparkEntry.queries(
      "pcap_beacon_candidates")(spark, "unused"))
    assert(want.nonEmpty && got == want,
      s"missing=${want -- got} extra=${got -- want}")
  }

  test("beacon twin equality survives out-of-event-time-order file " +
      "admission (late half landed first)") {
    val pkts = graft.pcap.PcapSynth.beaconPackets(24, 18)
    val cut = 1702000000L + 1300L // mid-capture event-time split
    val (early, late) = pkts.partition(_._1 < cut)
    assert(early.nonEmpty && late.nonEmpty)
    // watermark must cover the admission disorder (full reversal of a
    // ~2,740 s capture) — the documented lateness contract
    val got = runBeaconStream("beacon_alerts_ooo", "3000 seconds",
      { (dir, drain) =>
        Files.write(dir.resolve("a_late.pcap"),
          graft.pcap.PcapSynth.file(late))
        drain() // separate micro-batches: the late half commits first
        Files.write(dir.resolve("b_early.pcap"),
          graft.pcap.PcapSynth.file(early))
      })
    val want = beaconRows(graft.SparkEntry.queries(
      "pcap_beacon_candidates")(spark, "unused"))
    assert(want.nonEmpty && got == want,
      s"missing=${want -- got} extra=${got -- want}")
  }

  // ----- streaming DGA detector ------------------------------------------

  private def dgaWant: Set[(String, Long, Long, Long, Long, Long)] =
    graft.SparkEntry.queries("pcap_dga_candidates")(spark, "unused")
      .filter("dga_flag").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet

  private def runDgaStream(name: String, watermark: String,
      land: (java.nio.file.Path, () => Unit) => Unit)
      : (java.nio.file.Path, org.apache.spark.sql.streaming.StreamingQuery,
         () => Set[(String, Long, Long, Long, Long, Long)]) = {
    val dir = Files.createTempDirectory(s"pcap_landing_$name")
    val alerts = graft.streaming.DgaStream.alerts(
      spark.readStream.format("pcap").option("decoder", "dns")
        .load(dir.toString),
      watermark = watermark, idleSeconds = 60)
    val query = alerts.writeStream.format("memory")
      .queryName(name).outputMode("append").start()
    query.processAllAvailable()
    land(dir, () => query.processAllAvailable())
    query.processAllAvailable()
    // flush: one lone DNS query from a brand-new client far past the
    // fixture horizon — advances the watermark (closing every fixture
    // client) while its own 1-query state can never reach minQueries
    Files.write(dir.resolve("zz_flush.pcap"),
      graft.pcap.PcapSynth.file(Seq((1706500000L, 0L,
        graft.pcap.PcapSynth.ipv4UdpFrame(
          Array[Byte](10, 99, 9, 9), Array[Byte](192.toByte, 0, 2, 99),
          41999, 53, ttl = 64,
          payload = graft.pcap.PcapSynth.dnsQuery(0x4242,
            "flush.example"))))))
    query.processAllAvailable()
    (dir, query, () => spark.table(name).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet)
  }

  test("streaming DGA alerts match the batch twin's flagged rows; a " +
      "post-alert burst does not re-alert") {
    val (dir, query, got) = runDgaStream("dga_alerts", "5 seconds",
      { (d, _) =>
        Files.write(d.resolve("dga.pcap"), graft.pcap.PcapSynth.file(
          graft.pcap.PcapSynth.dgaPackets(200)))
      })
    try {
      val want = dgaWant
      assert(want.size == 10 && got() == want,
        s"missing=${want -- got()} extra=${got() -- want}")
      // re-observation: one flagged client walks 20 more names, then an
      // even-later flush closes it again — tombstoned, so no new row
      // and the original row unchanged
      val extra = (0 until 20).map { j =>
        (1706600000L + j, 0L, graft.pcap.PcapSynth.ipv4UdpFrame(
          Array[Byte](10, 51, 0, 1), Array[Byte](192.toByte, 0, 2, 99),
          42000 + j, 53, ttl = 61,
          payload = graft.pcap.PcapSynth.dnsQuery(j,
            s"${graft.pcap.PcapSynth.dgaSld(1000 + j)}.net")))
      }
      Files.write(dir.resolve("zz_reburst.pcap"),
        graft.pcap.PcapSynth.file(extra))
      query.processAllAvailable()
      Files.write(dir.resolve("zzz_flush2.pcap"),
        graft.pcap.PcapSynth.file(Seq((1706700000L, 0L,
          graft.pcap.PcapSynth.ipv4UdpFrame(
            Array[Byte](10, 99, 9, 8), Array[Byte](192.toByte, 0, 2, 99),
            41998, 53, ttl = 64,
            payload = graft.pcap.PcapSynth.dnsQuery(0x4243,
              "flush2.example"))))))
      query.processAllAvailable()
      assert(got() == want, "re-observation must not re-alert")
    } finally query.stop()
  }

  test("DGA twin equality survives out-of-event-time-order admission " +
      "(late half landed first)") {
    val pkts = graft.pcap.PcapSynth.dgaPackets(200)
    val cut = 1706400100L
    val (early, late) = pkts.partition(_._1 < cut)
    assert(early.nonEmpty && late.nonEmpty)
    val (_, query, got) = runDgaStream("dga_alerts_ooo", "600 seconds",
      { (d, drain) =>
        Files.write(d.resolve("a_late.pcap"),
          graft.pcap.PcapSynth.file(late))
        drain() // the late half commits in its own micro-batch first
        Files.write(d.resolve("b_early.pcap"),
          graft.pcap.PcapSynth.file(early))
      })
    try {
      val want = dgaWant
      assert(want.nonEmpty && got() == want,
        s"missing=${want -- got()} extra=${got() -- want}")
    } finally query.stop()
  }

  // ------------------------------------------------------------------
  // streaming exfiltration detector
  // ------------------------------------------------------------------

  test("streaming exfil alerts match the batch twin's candidates in " +
      "reverse admission order; allowlisted flows allocate no alert") {
    val dir = Files.createTempDirectory("pcap_landing_exfil")
    // the capture spans ~1 980 s of event time and the late half lands
    // first, so allowed lateness must cover the full span or the
    // early half is (correctly) dropped as beyond-lateness
    val alerts = graft.streaming.ExfilStream.alerts(
      spark.readStream.format("pcap").load(dir.toString),
      watermark = "3600 seconds", idleSeconds = 60)
    val query = alerts.writeStream.format("memory")
      .queryName("exfil_alerts").outputMode("append").start()
    try {
      query.processAllAvailable()
      // reverse admission: the SECOND half of the capture lands (and
      // commits) before the first — counters are commutative sums, so
      // the verdicts must be identical
      val pkts = graft.pcap.PcapSynth.exfilPackets(180)
      val cut = 1730000000L + 90 * 11L
      val (early, late) = pkts.partition(_._1 < cut)
      assert(early.nonEmpty && late.nonEmpty)
      Files.write(dir.resolve("a_late.pcap"),
        graft.pcap.PcapSynth.file(late))
      query.processAllAvailable()
      Files.write(dir.resolve("b_early.pcap"),
        graft.pcap.PcapSynth.file(early))
      query.processAllAvailable()
      // flush: one tiny upload from a fresh host far past the horizon —
      // advances the watermark, cannot itself alert (12 B << minBytes)
      Files.write(dir.resolve("zz_flush.pcap"),
        graft.pcap.PcapSynth.file(Seq((1730100000L, 0L,
          graft.pcap.PcapSynth.ipv4UdpFrame(
            Array[Byte](10, 88, 99, 99), Array[Byte](203.toByte, 0, 113, 1),
            40000, 443, ttl = 60, payload = new Array[Byte](12))))))
      query.processAllAvailable()
      val got = spark.table("exfil_alerts").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      val want = graft.SparkEntry.queries("pcap_exfil_candidates")(
          spark, "unused")
        .filter("exfil_candidate")
        .selectExpr("ext", "host", "bytes_out", "bytes_in", "n_pkts")
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      assert(want.size == 60 && got == want,
        s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
      // the allowlisted backup population (same byte shape) never alerts
      assert(!got.exists(_._1.startsWith("192.0.2.")))
    } finally query.stop()
  }

  // ------------------------------------------------------------------
  // streaming RTP quality monitor
  // ------------------------------------------------------------------

  test("streaming rtp quality equals the batch twin under gap-split " +
      "admission (every third packet arrives a batch late)") {
    val dir = Files.createTempDirectory("pcap_landing_rtp")
    val reports = graft.streaming.RtpStream.reports(
      spark.readStream.format("pcap").load(dir.toString),
      watermark = "3600 seconds", idleSeconds = 60)
    val query = reports.writeStream.format("memory")
      .queryName("rtp_reports").outputMode("append").start()
    try {
      // wave 1 omits every j % 3 == 1 packet, so each stream's run
      // list is FULL of single-seq gaps; wave 2 fills them in a later
      // micro-batch — the late packet must split/merge committed runs,
      // not append a wrong-order D-term (the state-shape this op
      // exists to get right)
      val all = graft.pcap.PcapSynth.rtpPackets(200)
      def seqOf(fr: Array[Byte]): Int =
        ((fr(42 + 2) & 0xFF) << 8) | (fr(42 + 3) & 0xFF)
      val (wave2, wave1) = all.partition(p => (seqOf(p._3) - 7000) % 3 == 1)
      assert(wave1.nonEmpty && wave2.nonEmpty)
      Files.write(dir.resolve("a_most.pcap"),
        graft.pcap.PcapSynth.file(wave1))
      query.processAllAvailable()
      Files.write(dir.resolve("b_gapfill.pcap"),
        graft.pcap.PcapSynth.file(wave2))
      query.processAllAvailable()
      // flush: a non-RTP (version-0) payload to the RTP port far past
      // the horizon — advances the watermark, allocates no state
      Files.write(dir.resolve("zz_flush.pcap"),
        graft.pcap.PcapSynth.file(Seq((1703003720L, 0L,
          graft.pcap.PcapSynth.ipv4UdpFrame(
            Array[Byte](10, 60, 0, 99), Array[Byte](10, 61, 0, 1),
            50009, 40000, ttl = 64, payload = new Array[Byte](12))))))
      query.processAllAvailable()
      val got = spark.table("rtp_reports").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSet
      val want = graft.SparkEntry.queries("pcap_rtp_quality")(
          spark, "unused")
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSet
      assert(want.size == 4 && got == want,
        s"missing=${want -- got} extra=${got -- want}")
    } finally query.stop()
  }

  test("streaming rtp AUDIO LEVEL equals the batch twin with packets " +
      "split across micro-batches (order-free accumulators)") {
    val dir = Files.createTempDirectory("pcap_landing_rtpaudio")
    val levels = graft.streaming.RtpStream.audioLevels(
      spark.readStream.format("pcap").load(dir.toString),
      watermark = "3600 seconds", idleSeconds = 60)
    val query = levels.writeStream.format("memory")
      .queryName("rtp_levels").outputMode("append").start()
    try {
      // interleave: odd-j packets land a micro-batch after even-j —
      // level accumulators are commutative, so the split must be
      // invisible in the emitted rows
      val all = graft.pcap.PcapSynth.rtpAudioPackets(50)
      def seqOf(fr: Array[Byte]): Int =
        ((fr(42 + 2) & 0xFF) << 8) | (fr(42 + 3) & 0xFF)
      val (wave2, wave1) = all.partition(p => (seqOf(p._3) - 7000) % 2 == 1)
      assert(wave1.nonEmpty && wave2.nonEmpty)
      Files.write(dir.resolve("a_even.pcap"),
        graft.pcap.PcapSynth.file(wave1))
      query.processAllAvailable()
      Files.write(dir.resolve("b_odd.pcap"),
        graft.pcap.PcapSynth.file(wave2))
      query.processAllAvailable()
      // flush: a version-0 payload to the port far past the horizon
      Files.write(dir.resolve("zz_flush.pcap"),
        graft.pcap.PcapSynth.file(Seq((1707003720L, 0L,
          graft.pcap.PcapSynth.ipv4UdpFrame(
            Array[Byte](10, 62, 0, 99), Array[Byte](10, 63, 0, 1),
            50109, 40002, ttl = 64, payload = new Array[Byte](12))))))
      query.processAllAvailable()
      val got = spark.table("rtp_levels").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getLong(3), r.getInt(4), r.getLong(5))).toSet
      val want = graft.SparkEntry.queries("pcap_rtp_audio_level")(
          spark, "unused")
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getLong(3), r.getInt(4), r.getLong(5))).toSet
      // 5 streams: 4 G.711 + the DVI4 (pt 5) ADPCM stream
      assert(want.size == 5 && got == want,
        s"missing=${want -- got} extra=${got -- want}")
    } finally query.stop()
  }

  test("streaming sip monitor equals the batch twin with BYEs landing " +
      "a micro-batch BEFORE their INVITEs (order-free conditional folds)") {
    val dir = Files.createTempDirectory("pcap_landing_sip")
    val reports = graft.streaming.SipStream.reports(
      spark.readStream.format("pcap").load(dir.toString),
      watermark = "36000 seconds", idleSeconds = 60)
    val query = reports.writeStream.format("memory")
      .queryName("sip_reports").outputMode("append").start()
    try {
      // wave 1 = every call's teardown half (BYE + its 200), wave 2 =
      // the setup half — the stream sees teardown FIRST, and must fold
      // to the identical per-call state the in-order batch computes
      val all = graft.pcap.PcapSynth.sipPackets(80)
      def isSetup(fr: Array[Byte]): Boolean = {
        val s = new String(fr, 42, math.min(fr.length - 42, 200),
          "ISO-8859-1")
        s.startsWith("INVITE ") || s.contains("CSeq: 1 INVITE")
      }
      val (setup, teardown) = all.partition(p => isSetup(p._3))
      assert(setup.nonEmpty && teardown.nonEmpty)
      Files.write(dir.resolve("a_teardown.pcap"),
        graft.pcap.PcapSynth.file(teardown))
      query.processAllAvailable()
      Files.write(dir.resolve("b_setup.pcap"),
        graft.pcap.PcapSynth.file(setup))
      query.processAllAvailable()
      // flush: a non-SIP payload to the port far past the horizon
      Files.write(dir.resolve("zz_flush.pcap"),
        graft.pcap.PcapSynth.file(Seq((1709000000L, 0L,
          graft.pcap.PcapSynth.ipv4UdpFrame(
            Array[Byte](10, 70, 0, 99), Array[Byte](10, 71, 0, 1),
            5060, 5060, ttl = 64, payload = new Array[Byte](12))))))
      query.processAllAvailable()
      def opt(r: org.apache.spark.sql.Row, i: Int): Option[Long] =
        if (r.isNullAt(i)) None else Some(r.getLong(i))
      val got = spark.table("sip_reports").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2),
          r.getLong(3), r.getInt(4), r.getLong(5), opt(r, 6))).toSet
      val want = graft.SparkEntry.queries("pcap_sip_sessions")(
          spark, "unused")
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2),
          r.getLong(3), r.getInt(4), r.getLong(5), opt(r, 6))).toSet
      assert(want.size == 80 && got == want,
        s"missing=${(want -- got).take(2)} extra=${(got -- want).take(2)}")
    } finally query.stop()
  }

  test("rtp run insertion: duplicates drop, only adjacent merges, " +
      "gap fold equals the seq-ordered pairwise sum") {
    import graft.streaming.RtpStream
    // delivered seqs with a permanent loss gap and arrival noise
    val pkts = Seq(5 -> 100L, 6 -> 340L, 9 -> 90L, 10 -> 410L)
      .map { case (q, noise) => (q, q * 20000L, q * 20000L + noise) }
    // worst-case arrival order: interleaved across the gap
    val order = Seq(2, 0, 3, 1)
    var runs = List.empty[RtpStream.Run]
    order.foreach { i =>
      val (q, ts, arr) = pkts(i)
      runs = RtpStream.insert(runs, q, ts, arr)
    }
    // adjacent pairs merged, the 6->9 loss gap still open
    assert(runs.map(r => (r.lo, r.hi)) == List((5, 6), (9, 10)))
    // duplicate delivery is a no-op
    val withDup = RtpStream.insert(runs, 6, 6 * 20000L, 999999L)
    assert(withDup == runs)
    // the closed fold equals the direct seq-ordered pairwise |D| sum
    val direct = pkts.sliding(2).map { case Seq(a, b) =>
      math.abs((b._3 - a._3) - (b._2 - a._2)) }.toSeq
    val folded = runs.reduceLeft { (a, b) =>
      val d = math.abs((b.firstArr - a.lastArr) - (b.firstTs - a.lastTs))
      RtpStream.Run(a.lo, b.hi, a.firstTs, a.firstArr, b.lastTs,
        b.lastArr, a.sumAbsD + b.sumAbsD + d,
        math.max(math.max(a.maxAbsD, b.maxAbsD), d), a.n + b.n)
    }
    assert(folded.sumAbsD == direct.sum && folded.maxAbsD == direct.max)
    assert(folded.n == 4 && (folded.hi - folded.lo + 1) - folded.n == 2)
  }

  test("rtp monitor survives a checkpoint restart mid-capture " +
      "(exactly-once, run state recovered)") {
    val dir = Files.createTempDirectory("pcap_landing_rtp_restart")
    val ckpt = Files.createTempDirectory("rtp_restart_ckpt")
    val out = Files.createTempDirectory("rtp_restart_out")
    def start() = graft.streaming.RtpStream.reports(
        spark.readStream.format("pcap").load(dir.toString),
        watermark = "3600 seconds", idleSeconds = 60)
      .writeStream.format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()
    // first instance commits the gap-riddled wave, then dies — every
    // stream's run list (with open gaps) lives only in the state store
    val all = graft.pcap.PcapSynth.rtpPackets(200)
    def seqOf(fr: Array[Byte]): Int =
      ((fr(42 + 2) & 0xFF) << 8) | (fr(42 + 3) & 0xFF)
    val (wave2, wave1) = all.partition(p => (seqOf(p._3) - 7000) % 3 == 1)
    Files.write(dir.resolve("a_most.pcap"),
      graft.pcap.PcapSynth.file(wave1))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // the gap-filling wave and the flush land while down
    Files.write(dir.resolve("b_gapfill.pcap"),
      graft.pcap.PcapSynth.file(wave2))
    Files.write(dir.resolve("zz_flush.pcap"),
      graft.pcap.PcapSynth.file(Seq((1703003720L, 0L,
        graft.pcap.PcapSynth.ipv4UdpFrame(
          Array[Byte](10, 60, 0, 99), Array[Byte](10, 61, 0, 1),
          50009, 40000, ttl = 64, payload = new Array[Byte](12))))))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val rows = spark.read.parquet(out.toString)
    val got = rows.collect()
      .map(r => (r.getAs[Long]("ssrc"), r.getAs[Int]("pt"),
        r.getAs[Long]("n_received"), r.getAs[Long]("n_lost"),
        r.getAs[Long]("jitter_sum_us"), r.getAs[Long]("jitter_max_us")))
      .toSet
    assert(rows.count() == got.size, "duplicate reports after restart")
    val want = graft.SparkEntry.queries("pcap_rtp_quality")(
        spark, "unused").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(got == want,
      s"restart lost/invented: missing=${want -- got} extra=${got -- want}")
  }
}
