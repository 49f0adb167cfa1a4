package graft.pcap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.funsuite.AnyFunSuite

/** The pcap WRITE path: SQL-filtered packets re-export as a valid
  * classic-libpcap capture (a capability the reference lacks — its
  * pipeline is strictly read-only). Round-trip contract: read -> filter
  * -> write -> read decodes the exact surviving packets. */
class PcapSinkSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def mixedCapture(): String = {
    val frames = (0 until 400).map(i =>
      (1700000000L + i, (i * 7L) % 1000000L, PcapSynth.synthFrame(i)))
    val tmp = java.nio.file.Files.createTempFile("sink_src", ".pcap")
    PcapSynth.writeAtomic(tmp, PcapSynth.file(frames))
    tmp.toString
  }

  test("filter -> write -> re-read round-trips the surviving packets") {
    val src = mixedCapture()
    val outDir = java.nio.file.Files.createTempDirectory("sink_out").toString

    val filtered = spark.read.format("pcap").option("decoder", "dns")
      .load(src)
      .filter("dst_port = 53 and dns_qname is not null")
      .select("ts_micro", "frame")
    filtered.write.format("pcap").mode("append").save(outDir)

    val expect = spark.read.format("pcap").option("decoder", "dns")
      .option("md5", "true").load(src)
      .filter("dst_port = 53 and dns_qname is not null")
      .select("ts_micro", "dns_qname", "src_port", "udpsum", "md5")
    val got = spark.read.format("pcap").option("decoder", "dns")
      .option("md5", "true").load(outDir)
      .select("ts_micro", "dns_qname", "src_port", "udpsum", "md5")

    val e = expect.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    val g = got.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    assert(e.length == 300 && g.length == e.length) // 6 of 8 synth slots are DNS
    assert(e.zip(g).forall { case (a, b) => a == b },
      "re-read packets differ from the filtered originals")
  }

  test("SLL capture re-exports losslessly when linkType is carried") {
    // cooked frames carry their own pseudo-header in `frame`, so the
    // writer must stamp the matching link type or a re-read would parse
    // them as Ethernet — the option pins that contract
    val src = Array[Byte](10, 1, 2, 3)
    val dst = Array[Byte](10, 9, 0, 1)
    val pkts = (0 until 20).map { i =>
      (100L + i, i.toLong, graft.pcap.PcapSynth.sllUdpFrame(
        src, dst, 5000 + i, 4000 + (i % 3), ttl = 30,
        payload = new Array[Byte](10 + i)))
    }
    val tmp = java.nio.file.Files.createTempDirectory("sink_sll")
    val f = tmp.resolve("sll.pcap")
    java.nio.file.Files.write(f,
      graft.pcap.PcapSynth.file(pkts, linkType = 113))
    val outDir = tmp.resolve("out").toString
    spark.read.format("pcap").load(f.toString)
      .select("ts_micro", "frame")
      .write.format("pcap").option("linkType", "113")
      .mode("append").save(outDir)
    val e = spark.read.format("pcap").option("md5", "true")
      .load(f.toString)
      .select("ts_micro", "src", "src_port", "dst_port", "md5")
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    val g = spark.read.format("pcap").option("md5", "true")
      .load(outDir)
      .select("ts_micro", "src", "src_port", "dst_port", "md5")
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    assert(e.length == 20 && g.length == 20)
    assert(e.zip(g).forall { case (a, b) => a == b })
    assert(e.head(1) == "10.1.2.3") // the cooked header really unwrapped
  }

  test("pcapng container: write -> re-read round-trips with golden equality") {
    val src = mixedCapture()
    val outDir = java.nio.file.Files.createTempDirectory("sink_ng").toString
    spark.read.format("pcap").load(src)
      .select("ts_micro", "frame")
      .write.format("pcap").option("container", "pcapng")
      .mode("append").save(outDir)
    // the part files really are pcapng (SHB magic), not renamed classic
    val parts = new java.io.File(outDir).listFiles()
      .filter(_.getName.endsWith(".pcapng"))
    assert(parts.nonEmpty, "no .pcapng parts written")
    parts.foreach { f =>
      val head = java.nio.file.Files.readAllBytes(f.toPath).take(12)
      assert((head(0) & 0xFF) == 0x0A && (head(3) & 0xFF) == 0x0A &&
        (head(8) & 0xFF) == 0x4D, s"${f.getName} lacks SHB+byte-order magic")
    }
    // golden round-trip THROUGH PcapNgStreamReader (the read path sniffs
    // the container per file): every decoded column equals the source,
    // microsecond timestamps included (if_tsresol 10^-6). Binary columns
    // canonicalize to hex (Array equality is by reference).
    def all(path: String) = spark.read.format("pcap").option("decoder", "dns")
      .option("md5", "true").load(path)
      .drop("file") // differs by construction
      .collect()
      .map(_.toSeq.map {
        case b: Array[Byte] => b.map(x => f"${x & 0xFF}%02x").mkString
        case v => v
      })
      .sortBy(_.toString)
    val e = all(src)
    val g = all(outDir)
    assert(e.length == 400 && g.length == 400)
    assert(e.zip(g).forall { case (a, b) => a == b },
      "pcapng re-read differs from the classic source")
  }

  test("multi-partition export writes one valid file per non-empty task") {
    val src = mixedCapture()
    val outDir = java.nio.file.Files.createTempDirectory("sink_par").toString
    spark.read.format("pcap").load(src)
      .select("ts_micro", "frame")
      .repartition(3)
      .write.format("pcap").mode("append").save(outDir)
    val parts = new java.io.File(outDir).listFiles()
      .filter(_.getName.endsWith(".pcap"))
    assert(parts.length == 3)
    assert(parts.forall(_.length() > 24))
    assert(!new java.io.File(outDir).listFiles()
      .exists(_.getName.endsWith(".inprogress")))
    val n = spark.read.format("pcap").load(outDir).count()
    assert(n == 400)
  }

  test("the sink emits exact .tsidx sidecars and the re-read prunes on them") {
    // two time bands across two write partitions -> each part file gets
    // a sidecar whose bounds come from ITS rows
    val frames = (0 until 200).map { i =>
      val sec = if (i % 2 == 0) 1700000000L + i else 1800000000L + i
      (sec, (i * 7L) % 1000000L, PcapSynth.synthFrame(i))
    }
    val src = java.nio.file.Files.createTempFile("sink_ts_src", ".pcap")
    PcapSynth.writeAtomic(src, PcapSynth.file(frames))
    val outDir = java.nio.file.Files.createTempDirectory("sink_ts").toString
    spark.read.format("pcap").load(src.toString)
      .select("ts", "ts_micro", "frame")
      .repartitionByRange(2, org.apache.spark.sql.functions.col("ts"))
      .select("ts_micro", "frame")
      .write.format("pcap").mode("append").save(outDir)

    // every part file has a sidecar, and its bounds match a full decode
    // of that very file
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sessionState.newHadoopConf())
    val parts = new java.io.File(outDir).listFiles()
      .filter(_.getName.endsWith(".pcap")).sortBy(_.getName)
    assert(parts.length == 2)
    parts.foreach { f =>
      val sc = graft.sources.pcap.PcapTsIndex.readSidecarStats(fs,
        new org.apache.hadoop.fs.Path(f.toString))
      assert(sc.isDefined, s"missing sidecar for $f")
      val tss = spark.read.format("pcap").load(f.toString)
        .select("ts").collect().map(_.getLong(0))
      assert(sc.get == ((tss.min, tss.max, Some(tss.length.toLong))))
    }

    // a ts-bounded query over the re-exported lake skips the other band
    val windowed = spark.read.format("pcap").load(outDir)
      .filter("ts < 1750000000").groupBy().count()
    assert(windowed.collect().head.getLong(0) == 100)
    val pruned = collect(windowed.queryExecution.executedPlan) {
      case b: BatchScanExec => b.metrics("filesPrunedByTs").value
    }
    assert(pruned == Seq(1L),
      "the out-of-range part file must be pruned via its sidecar")
    // opting out leaves no sidecars behind
    val outDir2 = java.nio.file.Files.createTempDirectory("sink_nots").toString
    spark.read.format("pcap").load(src.toString)
      .select("ts_micro", "frame")
      .write.format("pcap").option("writeTsIndex", "false")
      .mode("append").save(outDir2)
    assert(!new java.io.File(outDir2).listFiles()
      .exists(_.getName.endsWith(".tsidx")))
  }

  test("classic parts carry the exact libpcap 2.4 global header") {
    val src = mixedCapture()
    val outDir = java.nio.file.Files.createTempDirectory("sink_hdr").toString
    spark.read.format("pcap").load(src)
      .select("ts_micro", "frame").coalesce(1)
      .write.format("pcap").option("linkType", "113")
      .mode("append").save(outDir)
    val parts = new java.io.File(outDir).listFiles()
      .filter(_.getName.endsWith(".pcap"))
    assert(parts.length == 1)
    val head = java.nio.file.Files.readAllBytes(parts.head.toPath).take(24)
    // LE microsecond magic, version major 2 minor 4 (u16 each),
    // thiszone 0, sigfigs 0, snaplen 65535, linktype 113
    val want = Array(0xD4, 0xC3, 0xB2, 0xA1, 0x02, 0x00, 0x04, 0x00,
      0, 0, 0, 0, 0, 0, 0, 0, 0xFF, 0xFF, 0x00, 0x00, 113, 0, 0, 0)
      .map(_.toByte)
    assert(head.sameElements(want),
      head.map(b => f"${b & 0xFF}%02x").mkString(" "))
    assert(head.sameElements(PcapSynth.globalHeader(113)))
  }

  test("missing required columns fail fast at planning") {
    val src = mixedCapture()
    val outDir = java.nio.file.Files.createTempDirectory("sink_bad").toString
    val e = intercept[Exception] {
      spark.read.format("pcap").load(src)
        .select("ts_micro", "payload")
        .write.format("pcap").mode("append").save(outDir)
    }
    assert(e.getMessage.contains("frame"))
  }
}
