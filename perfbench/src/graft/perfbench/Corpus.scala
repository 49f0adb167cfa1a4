package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import graft.pcap.PcapSynth

/** One document the pcap→corpus bridge must emit. */
final case class Doc(docId: Long, host: String, nTokens: Long, nDups: Long,
    md5: String)

/** Generated HTTP conversation captures plus the bridge's expected
  * output. `gated` counts documents that pass the quality gate before
  * digest dedup; `dupShare` is the share of flows whose body is one of
  * the shared boilerplate texts. */
final class Corpus(val dir: Path, val files: IndexedSeq[Path],
    val docs: Seq[Doc], val gated: Long, val dupShare: Double, val tsRanges: IndexedSeq[(Long, Long)],
    val malformed: IndexedSeq[Long], val answers: IndexedSeq[Long]) {
  val bytes: Long = files.map(Files.size(_)).sum
}

/** Seeded segmented HTTP conversations for `PcapQueries.httpToCorpus`:
  * one third each Content-Length bodies followed by a pipelined second
  * response, chunked bodies, and gzip bodies; about 30 % of bodies are
  * shared boilerplate, about 10 % fail the quality gate, 5 % are
  * non-2xx. Segments of 32 concurrent flows are interleaved, and about
  * a quarter of flows are preceded by a DNS lookup from the lake mix. */
object CorpusGen {
  val ServerPort = 80
  /** client port = DocIdBase + flow id, so doc_id = flow id. */
  val DocIdBase = 1024
  val FileSpan = 600L

  private def ascii(s: String): Array[Byte] = s.getBytes("US-ASCII")

  private def response(status: Int, body: String, framing: Int,
      rng: SplittableRandom): Array[Byte] = {
    val b = ascii(body)
    if (status != 200)
      return ascii(s"HTTP/1.1 $status Not Found\r\nContent-Length: " +
        s"${b.length}\r\n\r\n") ++ b
    framing match {
      case 0 =>
        ascii(s"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n" +
          s"Content-Length: ${b.length}\r\n\r\n") ++ b ++
          ascii("HTTP/1.1 204 No Content\r\nContent-Length: 0\r\n\r\n")
      case 1 =>
        val out = new java.io.ByteArrayOutputStream()
        out.write(ascii("HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n" +
          "Transfer-Encoding: chunked\r\n\r\n"))
        var off = 0
        while (off < b.length) {
          val n = math.min(b.length - off, 5 + rng.nextInt(36))
          out.write(ascii(f"$n%x\r\n"))
          out.write(b, off, n)
          out.write(ascii("\r\n"))
          off += n
        }
        out.write(ascii("0\r\n\r\n"))
        out.toByteArray
      case _ =>
        val gzOut = new java.io.ByteArrayOutputStream()
        val gz = new java.util.zip.GZIPOutputStream(gzOut)
        gz.write(b); gz.close()
        val z = gzOut.toByteArray
        ascii(s"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n" +
          s"Content-Encoding: gzip\r\nContent-Length: ${z.length}\r\n\r\n") ++ z
    }
  }

  private def cut(bytes: Array[Byte], parts: Int,
      rng: SplittableRandom): Seq[(Int, Array[Byte])] = {
    val cuts = (Seq.fill(parts - 1)(1 + rng.nextInt(math.max(1, bytes.length - 1)))
      .distinct.sorted :+ bytes.length)
    (0 +: cuts).sliding(2).collect {
      case Seq(a, b) if b > a => (a, java.util.Arrays.copyOfRange(bytes, a, b))
    }.toSeq
  }

  /** The bridge's gate and dedup, restated over the generated bodies. */
  private def expected(flows: Seq[(Int, String, Int, String)]): (Seq[Doc], Long) = {
    val gated = flows.collect {
      case (f, host, status, text) if status >= 200 && status < 300 &&
          { val w = text.split(" ", -1)
            w.length >= 20 && w.distinct.length * 1000000L / w.length >= 300000L } =>
        (f, host, text.split(" ", -1).length.toLong, Util.md5Hex(text))
    }
    val docs = gated.groupBy(_._4).values.map { g =>
      val (f, host, n, md5) = g.minBy(_._1)
      Doc(f.toLong, host, n, g.size.toLong, md5)
    }.toSeq.sortBy(_.docId)
    (docs, gated.size.toLong)
  }

  def generate(dir: Path, seed: Long, flows: Int, nFiles: Int): Corpus = {
    require(flows + DocIdBase < 65536, "client ports must stay unique")
    Files.createDirectories(dir)
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ 0x636f72L)
    val pool = Gen.dnsPool(rng, 1024)
    val vocab = new Gen.Zipf(3000, 0.9)
    def words(n: Int): String =
      Seq.fill(n)(s"w${vocab.sample(rng)}").mkString(" ")
    val boiler = Array.fill(40)(words(30 + rng.nextInt(30)))
    val hosts = new Gen.Zipf(50, 1.0)
    var dups = 0
    val meta = (0 until flows).map { f =>
      val host = s"site${hosts.sample(rng)}.example.org"
      val status = if (rng.nextInt(100) < 5) 404 else 200
      val u = rng.nextInt(100)
      val body =
        if (u < 30) { dups += 1; boiler(rng.nextInt(boiler.length)) }
        else if (u < 36) words(3 + rng.nextInt(13))
        else if (u < 40) Seq.fill(20 + rng.nextInt(20))("buy now").mkString(" ")
        else words(20 + rng.nextInt(130))
      (f, host, status, body)
    }
    val (docs, gated) = expected(meta)

    val perFile = Array.fill(nFiles)(Array.newBuilder[Array[Byte]])
    val malformed = new Array[Long](nFiles)
    val answers = new Array[Long](nFiles)
    meta.grouped(32).foreach { group =>
      val queues = group.map { case (f, host, status, body) =>
        val cli = Array[Byte](10, (20 + (f >> 16)).toByte, (f >> 8).toByte, f.toByte)
        val srv = Array[Byte](10, 200.toByte, 0, (1 + host.hashCode.abs % 8).toByte)
        val port = DocIdBase + f
        val req = ascii(s"GET /p/${rng.nextInt(1000)} HTTP/1.1\r\nHost: $host\r\n" +
          "User-Agent: perfbench\r\nAccept: */*\r\n\r\n")
        val rsp = response(status, body, rng.nextInt(3), rng)
        val isnC = rng.nextInt(1 << 30).toLong
        val isnS = rng.nextInt(1 << 30).toLong
        val dns =
          if (rng.nextInt(4) == 0) Seq(pool(rng.nextInt(pool.length))) else Nil
        val segs =
          dns.map(t => (t.frame, Some(t))) ++
          cut(req, 1 + rng.nextInt(2), rng).map { case (off, p) =>
            (PcapSynth.ipv4TcpFrame(cli, srv, port, ServerPort, 62, p,
              seq = isnC + off, flags = 0x18), None)
          } ++ cut(rsp, 1 + rng.nextInt(4), rng).map { case (off, p) =>
            (PcapSynth.ipv4TcpFrame(srv, cli, ServerPort, port, 60, p,
              seq = isnS + off, flags = 0x18), None)
          }
        (f * nFiles / flows, scala.collection.mutable.Queue(segs: _*))
      }
      var live = queues.filter(_._2.nonEmpty)
      while (live.nonEmpty) {
        val (file, q) = live(rng.nextInt(live.length))
        val (frame, dns) = q.dequeue()
        perFile(file) += frame
        dns.foreach { t =>
          if (t.malformed) malformed(file) += 1
          answers(file) += t.answers.size
        }
        live = live.filter(_._2.nonEmpty)
      }
    }
    val written = (0 until nFiles).map { k =>
      val frames = perFile(k).result()
      val t0 = Gen.CorpusT0 + k * FileSpan
      val step = FileSpan * 1000000L / math.max(1, frames.length)
      val ts = Array.tabulate(frames.length)(j => t0 * 1000000L + j * step)
      val p = dir.resolve(f"http-$k%02d.pcap")
      Gen.writePcap(p, frames, ts)
      (p, (ts.head / 1000000L, ts.last / 1000000L))
    }
    new Corpus(dir, written.map(_._1), docs, gated, dups.toDouble / flows,
      written.map(_._2), malformed.toIndexedSeq, answers.toIndexedSeq)
  }
}

object Util {
  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xFF}%02x").mkString
}
