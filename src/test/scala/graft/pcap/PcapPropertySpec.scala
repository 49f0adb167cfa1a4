package graft.pcap

import java.io.ByteArrayInputStream

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

/** Property-style tests for the robustness contract (SURVEY.md §1.3/§5):
  * the decoder must never throw on arbitrary packet bytes after a valid
  * global header — truncated, garbage, or adversarial frames produce
  * partial records, not exceptions. Deterministic seeded generation (the
  * scalatest/scalacheck bridge isn't in the offline artifact cache). */
class PcapPropertySpec extends AnyFunSuite {

  private val rnd = new Random(42)
  private val linkTypes = Seq(0, 1, 101, 108, 113, 276)

  private def randomFrame(): Array[Byte] = {
    val n = rnd.nextInt(257)
    val b = new Array[Byte](n)
    rnd.nextBytes(b)
    b
  }

  test("decode never throws on arbitrary frames (any link type)") {
    (1 to 200).foreach { _ =>
      val lt = linkTypes(rnd.nextInt(linkTypes.length))
      val frames = List.fill(1 + rnd.nextInt(8))(randomFrame())
      val bytes = PcapSynth.file(
        frames.zipWithIndex.map { case (f, i) => (i.toLong, i.toLong, f) },
        linkType = lt)
      val reader = new PcapStreamReader(new ByteArrayInputStream(bytes),
        DecodeOptions.dns.copy(md5 = true, keepPayload = true))
      val records = reader.toList
      assert(records.length == frames.length)
      assert(records.forall(_.ts.isDefined))
    }
  }

  test("reused read buffers never bleed bytes between frames") {
    // the readers decode in place from a shared buffer; a frame shorter
    // than its predecessor leaves the predecessor's tail bytes beyond
    // `end` — every field must still equal a fresh-array decode of the
    // frame alone. Shrinking sizes maximize exposure.
    def fields(r: PacketRecord) =
      (r.ts, r.tsMicro, r.size, r.md5, r.etherType, r.ttl, r.protocol,
        r.src, r.dst, r.srcPort, r.dstPort, r.udpsum, r.len, r.frag,
        r.payloadLen, r.extCount, r.extHeaders, r.dns,
        r.payload.map(_.toSeq))
    val opts = DecodeOptions.dns.copy(md5 = true, keepPayload = true)
    (1 to 30).foreach { round =>
      // big payload first, then strictly smaller frames (+ random mix)
      val frames =
        (0 until 12).map { i =>
          PcapSynth.ipv4UdpFrame(
            Array[Byte](10, 0, 0, i.toByte), Array[Byte](9, 9, 9, 9),
            2000 + i, 53, 64,
            PcapSynth.dnsQuery(i, s"pad${"x" * ((12 - i) * 37 + round)}.example.com"))
        } ++ List.fill(6)(randomFrame())
      val pkts = frames.zipWithIndex.map { case (f, i) =>
        (i.toLong, i.toLong, f)
      }
      for (bytes <- Seq(PcapSynth.file(pkts), PcapSynth.fileNg(Seq(1), pkts.map {
             case (s, u, f) => (0, s * 1000000L + u, f) }))) {
        val streamed = PacketReaders
          .open(new ByteArrayInputStream(bytes), opts).toList
        assert(streamed.length == frames.length)
        streamed.zip(frames).zipWithIndex.foreach { case ((got, f), i) =>
          val alone = PacketReaders.open(new ByteArrayInputStream(
            PcapSynth.file(Seq((i.toLong, i.toLong, f)))), opts).toList.head
          // container-level fields (ts encoding) differ between pcap and
          // pcapng; compare everything decoded from the frame itself
          assert(fields(got).copy(_1 = None, _2 = None) ==
            fields(alone).copy(_1 = None, _2 = None),
            s"frame $i diverged under buffer reuse")
        }
      }
    }
  }

  test("decode never throws on random stream truncation") {
    val full = PcapSynth.file(Seq(
      (1L, 2L, PcapSynth.ipv4UdpFrame(
        Array[Byte](1, 2, 3, 4), Array[Byte](5, 6, 7, 8), 1000, 53, 60,
        PcapSynth.dnsQuery(7, "a.example.com"))),
      (2L, 3L, PcapSynth.synthFrame(3))))
    (0 to full.length).foreach { cut =>
      val cutBytes = full.take(cut)
      if (cutBytes.length < 24) {
        // header incomplete: empty-stream contract or IOException, no crash
        try new PcapStreamReader(new ByteArrayInputStream(cutBytes)).toList
        catch { case _: java.io.IOException => () }
      } else {
        val r = new PcapStreamReader(new ByteArrayInputStream(cutBytes),
          DecodeOptions.dns)
        r.toList.foreach(rec => assert(rec.ts.isDefined))
      }
    }
  }

  test("DNS parser never throws on arbitrary payloads") {
    (1 to 500).foreach { _ =>
      DnsParser.parse(randomFrame()) // must return, never throw
    }
  }

  test("DNS parser never throws on bit-flipped valid messages") {
    val base = PcapSynth.dnsQuery(0xBEEF, "www.example.com", 1)
    (1 to 300).foreach { _ =>
      val mutated = base.clone()
      (0 until 1 + rnd.nextInt(4)).foreach { _ =>
        mutated(rnd.nextInt(mutated.length)) = rnd.nextInt(256).toByte
      }
      DnsParser.parse(mutated)
    }
  }

  test("valid synthetic DNS queries always parse") {
    (1 to 100).foreach { _ =>
      val id = rnd.nextInt(0x10000)
      val n = rnd.nextInt(100000)
      val d = DnsParser.parse(PcapSynth.dnsQuery(id, s"h$n.example.com"))
      assert(d.exists(f => f.queryId == id &&
        f.qname.contains(s"h$n.example.com.")))
    }
  }

  test("address text matches java.net formatting") {
    def viaJava(b: Array[Byte]): String =
      java.net.InetAddress.getByAddress(b).getHostAddress
    val v6 = Seq.fill(300) {
      val b = new Array[Byte](16)
      rnd.nextBytes(b)
      // zero runs, so groups print without leading zeros
      (0 until 16).foreach(i => if (rnd.nextInt(3) == 0) b(i) = 0)
      b
    } ++ Seq(
      new Array[Byte](16),
      Array.fill[Byte](16)(-1),
      // IPv4-mapped: java.net prints the embedded IPv4 address
      Array.fill[Byte](10)(0) ++ Array[Byte](-1, -1, 192.toByte, 0, 2, 1),
      // IPv4-compatible (not mapped): stays IPv6 text
      Array.fill[Byte](12)(0) ++ Array[Byte](10, 0, 0, 1))
    v6.foreach { b =>
      assert(PcapStreamReader.ipv6String(b, 0) == viaJava(b))
    }
    val v4 = Seq.fill(300) {
      val b = new Array[Byte](4); rnd.nextBytes(b); b
    } ++ Seq(Array[Byte](0, 0, 0, 0), Array.fill[Byte](4)(-1),
      Array[Byte](10, 9, 99, 100))
    v4.foreach { b =>
      assert(PcapStreamReader.ipv4String(b, 0) == viaJava(b))
    }
  }
}
