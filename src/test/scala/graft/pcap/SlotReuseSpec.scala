package graft.pcap

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.pcap.PcapSchema

/** The readers decode every packet into one reused [[PacketSlot]]; a
  * field set by packet n must never leak into packet n+1. The capture
  * alternates rich packets (tagged TCP with options, DNS answers, v6
  * fragments) with sparse ones (ARP) and ends on a record whose body is
  * cut short. Every row of the columnar and row scans and every iterator
  * record must equal the decode of that packet alone in a fresh reader,
  * for the classic and the pcapng container.
  */
class SlotReuseSpec extends AnyFunSuite {
  import PcapSynth._

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val cli = Array[Byte](10, 1, 2, 3)
  private val srv = Array[Byte](192.toByte, 0, 2, 53)
  private val v6a = Array.tabulate[Byte](16)(i => (0x20 + i).toByte)
  private val v6b = Array.tabulate[Byte](16)(i => (0x70 - i).toByte)
  private val arp = arpFrame(Array[Byte](2, 0, 0, 0, 0, 1), cli,
    new Array[Byte](6), srv, oper = 1)

  private def vlanTagged(frame: Array[Byte], tci: Int): Array[Byte] =
    frame.take(12) ++ be16(0x8100) ++ be16(tci) ++ frame.drop(12)

  private def mplsWrapped(frame: Array[Byte], labels: Seq[Int]): Array[Byte] =
    frame.take(12) ++ be16(0x8847) ++ labels.zipWithIndex.flatMap {
      case (l, d) =>
        be32((l.toLong << 12) | ((if (d == labels.size - 1) 1 else 0) << 8) | 60)
    } ++ frame.drop(14)

  private val synOpts = Array[Byte](2, 4, 5, 0xB4.toByte, 1, 3, 3, 7,
    4, 2, 8, 10, 0, 0, 0, 1, 0, 0, 0, 0)

  /** rich, sparse, rich, sparse, ... */
  private val frameBytes: Seq[Array[Byte]] = Seq(
    vlanTagged(ipv4TcpFrame(cli, srv, 40001, 443, ttl = 61,
      payload = "hello".getBytes, seq = 4000000000L, ack = 7L,
      flags = 0x02, window = 64240, tcpOpts = synOpts), (5 << 13) | 42),
    arp,
    ipv4UdpFrame(srv, cli, 53, 40002, ttl = 55,
      payload = dnsResponseAnswers(0x1234, "www.example.com",
        Seq((1, Array[Byte](93, 84, 116, 34)), (1, Array[Byte](1, 2, 3, 4))))),
    arp,
    ipv6FragFrame(v6a, v6b, hopLimit = 9, fragId = 0x12345, fragOff = 16,
      m = false, chunk = Array.fill[Byte](24)(7)),
    arp,
    mplsWrapped(ipv4TcpFrame(srv, cli, 443, 40001, ttl = 64,
      payload = Array.fill[Byte](40)(1), seq = 9L, ack = 4000000006L,
      flags = 0x18, window = 501), Seq(16001, 17002)),
    arp,
    ipv6UdpFrame(4242, 53, hopLimit = 33,
      payload = dnsQuery(77, "v6.example.org", qtype = 28),
      withFragmentHeader = true),
    arp,
    ipv4IcmpFrame(cli, srv, ttl = 3, icmpType = 8, code = 0, echoId = 9,
      echoSeq = 1, payload = Array.fill[Byte](16)(5)),
    vlanTagged(ipv4TcpFrame(cli, srv, 40003, 80, ttl = 62,
      payload = "GET / HTTP/1.1\r\n\r\n".getBytes, seq = 1L, flags = 0x18,
      window = 1024, tcpOpts = synOpts), 7))

  /** (seconds, microseconds, frame) */
  private val frames: Seq[(Long, Long, Array[Byte])] =
    frameBytes.zipWithIndex.map { case (f, i) =>
      (1710000000L + i, i * 1111L, f)
    }

  /** Classic pcap; `cut` bytes short of the last record's body. */
  private def classic(fs: Seq[(Long, Long, Array[Byte])], cut: Int)
      : Array[Byte] =
    file(fs).dropRight(cut)

  /** pcapng; with `cut`, the last EPB claims more captured bytes than
    * its block carries (the pcapng form of a body cut short). */
  private def ng(fs: Seq[(Long, Long, Array[Byte])], cut: Int)
      : Array[Byte] = {
    val bytes = fileNg(Seq(1), fs.map { case (s, us, f) =>
      (0, s * 1000000L + us, f)
    })
    if (cut > 0) {
      // the last block's captured-length field, 8 bytes before the frame
      val last = fs.last._3
      val pad = (4 - (20 + last.length) % 4) % 4
      val capAt = bytes.length - 4 - pad - last.length - 8
      val patched = le32(last.length + cut)
      Array.copy(patched, 0, bytes, capAt, 4)
    }
    bytes
  }

  private val formats
      : Seq[(String, (Seq[(Long, Long, Array[Byte])], Int) => Array[Byte])] =
    Seq("pcap" -> classic, "pcapng" -> ng)

  private val full = DecodeOptions(appDecoder = Some(DnsPayloadDecoder),
    md5 = true, keepPayload = true, keepFrame = true)

  private def norm(r: PacketRecord): List[Any] =
    r.productIterator.map {
      case Some(a: Array[Byte]) => Some(a.toSeq)
      case x => x
    }.toList

  private def records(bytes: Array[Byte]): List[List[Any]] =
    PacketReaders.open(new java.io.ByteArrayInputStream(bytes), full)
      .map(norm).toList

  private def write(dir: Path, name: String, bytes: Array[Byte]): String = {
    val p = dir.resolve(name)
    Files.write(p, bytes)
    p.toString
  }

  /** Every column but `file`, `pkt_idx` first, in packet order. */
  private def rows(path: String, columnar: Boolean): Seq[Seq[Any]] = {
    val cols = "pkt_idx" +: PcapSchema.full.fieldNames.toSeq
      .filterNot(c => c == "pkt_idx" || c == "file")
    spark.read.format("pcap").option("decoder", "dns")
      .option("md5", "true").option("columnar", columnar.toString)
      .load(path).select(cols.head, cols.tail: _*)
      .collect().toSeq.map(norm).sortBy(_.head.asInstanceOf[Long])
  }

  private def norm(r: Row): Seq[Any] =
    r.toSeq.map {
      case a: Array[Byte] => a.toSeq
      case x => x
    }

  for ((fmt, build) <- formats) {
    // the truncated last record is part of each whole capture; the
    // fresh decode of packet i is a capture holding only packet i
    def alone(i: Int): Array[Byte] = {
      val cut = if (i == frames.size - 1) 6 else 0
      build(Seq(frames(i)), cut)
    }
    val whole = build(frames, 6)

    test(s"$fmt: iterator records equal single-packet fresh decodes") {
      val got = records(whole)
      assert(got.size == frames.size)
      frames.indices.foreach { i =>
        val want = records(alone(i))
        assert(want.size == 1, s"packet $i alone")
        assert(got(i) == want.head, s"$fmt packet $i")
      }
      // the cut-short record decodes as container fields only
      val last = PacketReaders.open(
        new java.io.ByteArrayInputStream(whole), full).toList.last
      assert(last.ts.isDefined && last.protocol.isEmpty &&
        last.etherType.isEmpty && last.frame.isEmpty)
    }

    test(s"$fmt: columnar and row scans equal single-packet fresh scans") {
      val dir = Files.createTempDirectory(s"slotreuse-$fmt")
      val wholePath = write(dir, s"whole.$fmt", whole)
      val fresh = frames.indices.map { i =>
        val r = rows(write(dir, s"alone$i.$fmt", alone(i)), columnar = true)
        assert(r.size == 1, s"packet $i alone")
        r.head.tail // drop pkt_idx
      }
      for (columnar <- Seq(true, false)) {
        val got = rows(wholePath, columnar)
        assert(got.size == frames.size)
        got.zipWithIndex.foreach { case (r, i) =>
          assert(r.head == i + 1L)
          assert(r.tail == fresh(i), s"$fmt columnar=$columnar packet $i")
        }
      }
    }
  }
}
