package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.pcap.PcapSynth

/** The streaming pcap→corpus bridge must produce EXACTLY the batch
  * twin's row set (`pcap_corpus_stream_twin` — itself DuckDB-oracled),
  * with conversations spanning micro-batch boundaries, and must hold
  * exactly-once across a checkpoint restart (the
  * `pcap_syn_portscan_twin` + StreamCompaction patterns combined). */
class CorpusBridgeStreamSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val NFlows = 60

  /** The corpus fixture's segments split into `waves` capture files by
    * arrival order — every conversation's request/response segments
    * spread across the waves, so reassembly state MUST survive
    * micro-batch boundaries for any document to come out whole. */
  private def landWaves(dir: java.nio.file.Path, waves: Int,
      which: Range): Unit = {
    val segs = PcapSynth.httpCorpusSegments(NFlows)
    val per = (segs.length + waves - 1) / waves
    which.foreach { w =>
      val slice = segs.slice(w * per, math.min((w + 1) * per, segs.length))
      if (slice.nonEmpty)
        PcapSynth.writeAtomic(dir.resolve(f"wave$w%02d.pcap"),
          PcapSynth.file(slice))
    }
  }

  /** A later lone packet that survives the bridge's TCP filter and
    * advances the watermark past every conversation's idle timeout. */
  private def landFlush(dir: java.nio.file.Path, name: String,
      sec: Long): Unit =
    PcapSynth.writeAtomic(dir.resolve(name),
      PcapSynth.file(Seq((sec, 0L, PcapSynth.ipv4TcpFrame(
        Array[Byte](10, 99, 0, 1), Array[Byte](10, 99, 0, 2),
        srcPort = 1, dstPort = 2, ttl = 64,
        payload = Array[Byte](0), seq = 0L, flags = 0x18)))))

  private def twinRows(): Set[(Long, String, Long, String)] =
    graft.SparkEntry.queries("pcap_corpus_stream_twin")(
      spark, "unused").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getString(3))).toSet

  private def docStream(dir: java.nio.file.Path) =
    CorpusBridgeStream.documents(
      spark.readStream.format("pcap")
        .option("maxFilesPerTrigger", "1").load(dir.toString),
      serverPort = 80, docIdBase = 42000,
      watermark = "5 seconds", idleSeconds = 10)

  test("streamed documents match the oracled batch twin's row set " +
      "across micro-batch boundaries") {
    val dir = Files.createTempDirectory("corpus_bridge_landing")
    landWaves(dir, waves = 3, which = 0 until 3)
    val query = docStream(dir).writeStream.format("memory")
      .queryName("corpus_docs").outputMode("append").start()
    try {
      query.processAllAvailable()
      // nothing may emit before quiescence: the watermark has not
      // passed any conversation's idle horizon yet
      assert(spark.table("corpus_docs").isEmpty,
        "documents emitted before their conversations quiesced")
      // two flush packets: the first advances the watermark past every
      // idle timeout when ITS batch closes; the second triggers a
      // further batch in which the timeouts fire deterministically
      landFlush(dir, "flush1.pcap", 1700800600L)
      query.processAllAvailable()
      landFlush(dir, "flush2.pcap", 1700800700L)
      query.processAllAvailable()
      val got = spark.table("corpus_docs").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getString(3))).toSet
      val want = twinRows()
      assert(want.nonEmpty)
      assert(got == want,
        s"streamed ${got.size} docs vs twin ${want.size}: " +
          s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    } finally query.stop()
  }

  test("the direction cap has the batch cap's semantics: a capped " +
      "response fails closed through deframe, never emits corrupt text") {
    val dir = Files.createTempDirectory("corpus_bridge_poison")
    landWaves(dir, waves = 1, which = 0 until 1)
    // a cap below every response size: every response prefix is
    // truncated, so de-framing fails closed on all of them — exactly
    // what the batch bridge produces at the same cap
    val tiny = CorpusBridgeStream.documents(
      spark.readStream.format("pcap")
        .option("maxFilesPerTrigger", "1").load(dir.toString),
      serverPort = 80, docIdBase = 42000,
      watermark = "5 seconds", idleSeconds = 10,
      maxBytesPerDirection = 16)
    val query = tiny.writeStream.format("memory")
      .queryName("corpus_docs_poisoned").outputMode("append").start()
    try {
      query.processAllAvailable()
      landFlush(dir, "flush1.pcap", 1700800600L)
      query.processAllAvailable()
      landFlush(dir, "flush2.pcap", 1700800700L)
      query.processAllAvailable()
      assert(spark.table("corpus_docs_poisoned").isEmpty,
        "capped conversations must emit nothing, not truncated text")
    } finally query.stop()
  }

  test("out-of-order file admission (later waves first) still matches " +
      "the batch twin exactly") {
    // The round-10 state machine committed a coverage frontier in
    // ARRIVAL order, so a segment landing in a later micro-batch below
    // the committed frontier was dropped and gap segments concatenated
    // at wrong positions. The compacted-segment-buffer state slots
    // late-arriving earlier-seq segments into sorted position, so ANY
    // admission order the watermark admits yields the batch row set.
    // The watermark here is sized past the fixture's event-time spread;
    // beyond-watermark lateness is the standard streaming loss contract.
    val dir = Files.createTempDirectory("corpus_bridge_ooo")
    landWaves(dir, waves = 3, which = 0 until 3)
    // admit waves in REVERSE file order: rename so lexicographic
    // listing (the file source's order) runs wave2, wave1, wave0
    (0 until 3).foreach { w =>
      Files.move(dir.resolve(f"wave$w%02d.pcap"),
        dir.resolve(f"zz${2 - w}%02d.pcap"))
    }
    val stream = CorpusBridgeStream.documents(
      spark.readStream.format("pcap")
        .option("maxFilesPerTrigger", "1").load(dir.toString),
      serverPort = 80, docIdBase = 42000,
      watermark = "600 seconds", idleSeconds = 10)
    val query = stream.writeStream.format("memory")
      .queryName("corpus_docs_ooo").outputMode("append").start()
    try {
      query.processAllAvailable()
      landFlush(dir, "zzflush1.pcap", 1700801300L)
      query.processAllAvailable()
      landFlush(dir, "zzflush2.pcap", 1700801400L)
      query.processAllAvailable()
      val got = spark.table("corpus_docs_ooo").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getString(3))).toSet
      val want = twinRows()
      assert(got == want,
        s"reversed admission: missing=${(want -- got).take(3)} " +
          s"extra=${(got -- want).take(3)}")
    } finally query.stop()
  }

  test("a chunked response's frame boundary on a micro-batch boundary: " +
      "framing state lives in the conversation buffer, not the batch") {
    // flow 1 of the corpus fixture is chunked (f%3==1). Cut its
    // response into two TCP segments EXACTLY after the first chunk
    // frame's trailing CRLF and land them in separate capture files
    // (maxFilesPerTrigger=1 -> separate micro-batches): if any framing
    // state lived per-batch, the dechunk would see a bare chunk-size
    // line at a stream start and fail — the document must still emit
    // byte-exact.
    val f = 1
    val req = PcapSynth.httpRequestBytes(f)
    val rsp = PcapSynth.httpCorpusResponseBytes(f)
    val headEnd = {
      val s = new String(rsp, "ISO-8859-1")
      s.indexOf("\r\n\r\n") + 4
    }
    // first chunk frame: "b\r\n" + 11 payload bytes + "\r\n"
    val cut = headEnd + 3 + 11 + 2
    assert(new String(rsp, "ISO-8859-1").substring(cut - 2, cut) == "\r\n",
      "fixture self-check: the cut must land after a chunk CRLF")
    val client = Array[Byte](10, 14, 0, f.toByte)
    val server = Array[Byte](10, 4, 0, 1)
    def reqFrame(payload: Array[Byte], seq: Long) =
      PcapSynth.ipv4TcpFrame(client, server, 42000 + f, 80, ttl = 62,
        payload = payload, seq = seq, flags = 0x18)
    def rspFrame(payload: Array[Byte], seq: Long) =
      PcapSynth.ipv4TcpFrame(server, client, 80, 42000 + f, ttl = 60,
        payload = payload, seq = seq, flags = 0x18)
    val dir = Files.createTempDirectory("corpus_bridge_chunkcut")
    PcapSynth.writeAtomic(dir.resolve("a.pcap"), PcapSynth.file(Seq(
      (1700800000L, 0L, reqFrame(req, 0L)),
      (1700800001L, 0L,
        rspFrame(java.util.Arrays.copyOfRange(rsp, 0, cut), 0L)))))
    PcapSynth.writeAtomic(dir.resolve("b.pcap"), PcapSynth.file(Seq(
      (1700800002L, 0L, rspFrame(
        java.util.Arrays.copyOfRange(rsp, cut, rsp.length), cut.toLong)))))
    val query = docStream(dir).writeStream.format("memory")
      .queryName("corpus_docs_chunkcut").outputMode("append").start()
    try {
      query.processAllAvailable()
      landFlush(dir, "flush1.pcap", 1700800600L)
      query.processAllAvailable()
      landFlush(dir, "flush2.pcap", 1700800700L)
      query.processAllAvailable()
      val got = spark.table("corpus_docs_chunkcut").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getString(3))).toSet
      val body = PcapSynth.corpusBody(f)
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(body.getBytes("UTF-8"))
        .map(b => f"${b & 0xFF}%02x").mkString
      assert(got == Set((f.toLong, s"host$f.example.com",
        body.split(" ", -1).length.toLong, md5)),
        s"chunk-boundary cut produced $got")
    } finally query.stop()
  }

  test("an over-cap request with a complete small response still " +
      "emits — request truncation keeps the Host prefix (batch parity)") {
    // batch semantics: the cap truncates to a strict prefix and the
    // bridge consumes it — an oversized request still yields its Host
    // header (round 10 poisoned the whole conversation and emitted
    // nothing, diverging from the batch twin)
    val f = 0 // f%3==0: Content-Length framing, complete small response
    val headers = ("GET /big HTTP/1.1\r\nHost: bigreq.example.com\r\n" +
      "Content-Length: 2000\r\n\r\n").getBytes("US-ASCII")
    val bigBody = Array.fill[Byte](2000)('x'.toByte)
    val rsp = PcapSynth.httpCorpusResponseBytes(f)
    val client = Array[Byte](10, 14, 0, 77)
    val server = Array[Byte](10, 4, 0, 1)
    val dir = Files.createTempDirectory("corpus_bridge_bigreq")
    PcapSynth.writeAtomic(dir.resolve("a.pcap"), PcapSynth.file(Seq(
      (1700800000L, 0L, PcapSynth.ipv4TcpFrame(client, server,
        42000 + f, 80, ttl = 62, payload = headers, seq = 0L,
        flags = 0x18)),
      (1700800001L, 0L, PcapSynth.ipv4TcpFrame(client, server,
        42000 + f, 80, ttl = 62, payload = bigBody,
        seq = headers.length.toLong, flags = 0x18)),
      (1700800002L, 0L, PcapSynth.ipv4TcpFrame(server, client,
        80, 42000 + f, ttl = 60, payload = rsp, seq = 0L,
        flags = 0x18)))))
    val stream = CorpusBridgeStream.documents(
      spark.readStream.format("pcap")
        .option("maxFilesPerTrigger", "1").load(dir.toString),
      serverPort = 80, docIdBase = 42000,
      watermark = "5 seconds", idleSeconds = 10,
      maxBytesPerDirection = 1024)
    val query = stream.writeStream.format("memory")
      .queryName("corpus_docs_bigreq").outputMode("append").start()
    try {
      query.processAllAvailable()
      landFlush(dir, "flush1.pcap", 1700800600L)
      query.processAllAvailable()
      landFlush(dir, "flush2.pcap", 1700800700L)
      query.processAllAvailable()
      val got = spark.table("corpus_docs_bigreq").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getString(3))).toSet
      val body = PcapSynth.corpusBody(f)
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(body.getBytes("UTF-8"))
        .map(b => f"${b & 0xFF}%02x").mkString
      assert(got == Set((f.toLong, "bigreq.example.com",
        body.split(" ", -1).length.toLong, md5)),
        s"over-cap request conversation produced $got")
      // explicit stream/batch parity on THIS fixture at the SAME cap
      // (the round-11 advice divergence case, pinned): the batch
      // bridge over the landed capture dir — flush files included —
      // must produce the identical gated row set
      import org.apache.spark.sql.functions.{col, md5 => md5col}
      val batch = graft.operators.PcapQueries.httpCorpusGated(spark,
          dir.toString, serverPort = 80, docIdBase = 42000,
          maxBytesPerDirection = 1024)
        .select(col("doc_id"), col("host"), col("n_tokens"),
          md5col(col("text").cast("binary")).as("body_md5"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getString(3))).toSet
      assert(batch == got,
        s"over-cap fixture diverges: stream $got vs batch $batch")
    } finally query.stop()
  }

  /** Runs a document stream over everything landed in `dir`, then two
    * flushes past every idle horizon, and returns the emitted rows. */
  private def streamToQuiescence(stream: org.apache.spark.sql.DataFrame,
      dir: java.nio.file.Path,
      name: String): Set[(Long, String, Long, String)] = {
    val query = stream.writeStream.format("memory")
      .queryName(name).outputMode("append").start()
    try {
      query.processAllAvailable()
      landFlush(dir, "flush1.pcap", 1700800600L)
      query.processAllAvailable()
      landFlush(dir, "flush2.pcap", 1700800700L)
      query.processAllAvailable()
      spark.table(name).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getString(3))).toSet
    } finally query.stop()
  }

  /** The batch bridge's gated rows over `dir`, digested like the twin. */
  private def batchRows(dir: java.nio.file.Path,
      cap: Long): Set[(Long, String, Long, String)] = {
    import org.apache.spark.sql.functions.{col, md5}
    graft.operators.PcapQueries.httpCorpusGated(spark, dir.toString,
        serverPort = 80, docIdBase = 42000, maxBytesPerDirection = cap)
      .select(col("doc_id"), col("host"), col("n_tokens"),
        md5(col("text").cast("binary")).as("body_md5"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getString(3))).toSet
  }

  private def hexMd5(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(b)
      .map(x => f"${x & 0xFF}%02x").mkString

  test("a body that is not valid UTF-8 digests the same bytes in stream " +
      "and batch, and a lower-case host: header is the Host") {
    val body = "caf".getBytes("US-ASCII") ++ Array(0xE9.toByte) ++
      (0 until 24).map(k => s" t$k").mkString.getBytes("US-ASCII")
    val rsp = (s"HTTP/1.1 200 OK\r\nContent-Length: ${body.length}" +
      "\r\n\r\n").getBytes("US-ASCII") ++ body
    val req = "GET /latin1 HTTP/1.1\r\nhost: lower.example.com\r\n\r\n"
      .getBytes("US-ASCII")
    val client = Array[Byte](10, 14, 0, 5)
    val server = Array[Byte](10, 4, 0, 1)
    val dir = Files.createTempDirectory("corpus_bridge_latin1")
    PcapSynth.writeAtomic(dir.resolve("a.pcap"), PcapSynth.file(Seq(
      (1700800000L, 0L, PcapSynth.ipv4TcpFrame(client, server, 42005, 80,
        ttl = 62, payload = req, seq = 0L, flags = 0x18)),
      (1700800001L, 0L, PcapSynth.ipv4TcpFrame(server, client, 80, 42005,
        ttl = 60, payload = rsp, seq = 0L, flags = 0x18)))))
    val got = streamToQuiescence(docStream(dir), dir, "corpus_docs_latin1")
    assert(got == Set((5L, "lower.example.com", 25L, hexMd5(body))),
      s"streamed $got")
    val batch =
      batchRows(dir, graft.functions.Reassemble.DefaultMaxStreamBytes)
    assert(batch == got, s"stream $got vs batch $batch")
  }

  test("at a cap that truncates some responses, the streamed rows equal " +
      "the batch bridge's at the same cap") {
    val sizes = (0 until NFlows)
      .map(f => PcapSynth.httpCorpusResponseBytes(f).length).sorted
    val cap = sizes(NFlows / 2).toLong
    val dir = Files.createTempDirectory("corpus_bridge_capped")
    landWaves(dir, waves = 3, which = 0 until 3)
    val stream = CorpusBridgeStream.documents(
      spark.readStream.format("pcap")
        .option("maxFilesPerTrigger", "1").load(dir.toString),
      serverPort = 80, docIdBase = 42000,
      watermark = "5 seconds", idleSeconds = 10,
      maxBytesPerDirection = cap)
    val got = streamToQuiescence(stream, dir, "corpus_docs_capped")
    val batch = batchRows(dir, cap)
    val uncapped = twinRows()
    assert(batch.nonEmpty && batch.size < uncapped.size,
      s"cap $cap must drop some documents and keep others: " +
        s"${batch.size} of ${uncapped.size}")
    assert(got == batch, s"capped: missing=${(batch -- got).take(3)} " +
      s"extra=${(got -- batch).take(3)}")
  }

  test("checkpoint restart mid-capture neither loses nor duplicates " +
      "documents (exactly-once)") {
    val dir = Files.createTempDirectory("corpus_bridge_restart")
    val ckpt = Files.createTempDirectory("corpus_bridge_ckpt")
    val out = Files.createTempDirectory("corpus_bridge_out")
    def start() = docStream(dir).writeStream.format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()
    // first instance sees only wave 0 — every conversation is cut
    // mid-stream when it dies
    landWaves(dir, waves = 3, which = 0 until 1)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // the rest of the capture lands while down; the flushes arrive
    // after the restarted instance has drained the backlog (landing
    // them earlier would race file-admission order against event time —
    // the bridge clamps its timeouts to survive that, but the assertion
    // here wants the deterministic quiescence path)
    landWaves(dir, waves = 3, which = 1 until 3)
    val q2 = start()
    try {
      q2.processAllAvailable()
      landFlush(dir, "flush1.pcap", 1700800600L)
      q2.processAllAvailable()
      landFlush(dir, "flush2.pcap", 1700800700L)
      q2.processAllAvailable()
      val rows = spark.read.parquet(out.toString)
      val got = rows.collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("host"),
          r.getAs[Long]("n_tokens"), r.getAs[String]("body_md5"))).toSet
      assert(rows.count() == got.size,
        "duplicate document rows after restart")
      val want = twinRows()
      assert(got == want,
        s"restart lost/invented docs: missing=${(want -- got).take(3)} " +
          s"extra=${(got -- want).take(3)}")
    } finally q2.stop()
  }
}
