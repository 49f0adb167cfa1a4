package graft.perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import graft.pcap.PcapSynth

/** One frame the generator can emit, with the fields a correct decoder
  * must report for it. `qtype` is 0 and `qname` null unless the frame
  * carries a DNS message that parses; `src` is null for non-IP frames;
  * `answers` holds the presentation strings of a response's answer
  * records. */
final case class Tmpl(frame: Array[Byte], src: String, dst: String,
    proto: String, dstPort: Int, qtype: Int, qname: String,
    dns53: Boolean, malformed: Boolean, answers: Seq[String] = Nil)

/** A generated capture set: the files, every packet's template index
  * and timestamp per file, and the ground truth derived from those. */
final class Capture(val dir: Path, val files: IndexedSeq[Path],
    val pool: Array[Tmpl], val idx: Array[Array[Int]],
    val tsMicro: Array[Array[Long]]) {
  val bytes: Long = files.map(Files.size(_)).sum
  def packets: Long = idx.map(_.length.toLong).sum

  /** Packets per template index over every file. */
  lazy val poolCounts: Array[Long] = {
    val c = new Array[Long](pool.length)
    idx.foreach(_.foreach(i => c(i) += 1))
    c
  }

  /** Σ over matching packets as (count, captured bytes). */
  def countWhere(f: Tmpl => Boolean): (Long, Long) = sumWhere(poolCounts, f)

  /** (count, bytes) of packets whose whole-second ts lies in [lo, hi]
    * and whose template passes `f`. */
  def countWindow(lo: Long, hi: Long, f: Tmpl => Boolean): (Long, Long) =
    sumWhere(windowCounts(lo, hi), f)

  private def sumWhere(counts: Array[Long], f: Tmpl => Boolean): (Long, Long) = {
    var n = 0L; var b = 0L
    var i = 0
    while (i < pool.length) {
      if (counts(i) > 0 && f(pool(i))) {
        n += counts(i); b += counts(i) * pool(i).frame.length
      }
      i += 1
    }
    (n, b)
  }

  /** Packets per template index among those whose whole-second ts lies
    * in [lo, hi]. */
  def windowCounts(lo: Long, hi: Long): Array[Long] = {
    val c = new Array[Long](pool.length)
    for (k <- idx.indices) {
      val ts = tsMicro(k); val ix = idx(k)
      if (ts.nonEmpty && ts.head / 1000000L <= hi && ts.last / 1000000L >= lo) {
        var j = 0
        while (j < ts.length) {
          val s = ts(j) / 1000000L
          if (s >= lo && s <= hi) c(ix(j)) += 1
          j += 1
        }
      }
    }
    c
  }

  def qtypeHist: Map[Int, Long] =
    pool.indices.filter(i => pool(i).qtype != 0 && poolCounts(i) > 0)
      .groupBy(i => pool(i).qtype)
      .map { case (q, is) => q -> is.map(poolCounts(_)).sum }

  /** Top talkers by captured bytes, ties broken by (src, dst, proto). */
  def topTalkers(n: Int): Seq[(String, String, String, Long)] =
    pool.indices.filter(i => pool(i).src != null && poolCounts(i) > 0)
      .groupBy(i => (pool(i).src, pool(i).dst, pool(i).proto))
      .map { case ((s, d, p), is) =>
        (s, d, p, is.map(i => poolCounts(i) * pool(i).frame.length).sum)
      }.toSeq
      .sortBy { case (s, d, p, b) => (-b, s, d, p) }
      .take(n)

  /** Whole-second ts bounds of file k. */
  def tsRange(k: Int): (Long, Long) =
    (tsMicro(k).head / 1000000L, tsMicro(k).last / 1000000L)

  def malformedIn(k: Int): Long = idx(k).count(i => pool(i).malformed).toLong
  def answersIn(k: Int): Long = idx(k).map(i => pool(i).answers.size.toLong).sum
}

/** Seeded input generator. Frames come from the public [[PcapSynth]]
  * builders; the seed decides which frames, in what order, with what
  * timestamps. The same seed always yields byte-identical files. */
object Gen {
  val LakeT0 = 1750000000L
  val ZoneT0 = 1760000000L
  val CorpusT0 = 1770000000L
  /** Rotation span of one lake file, seconds. */
  val LakeSpan = 600L

  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
    }
    def sample(rng: SplittableRandom): Int = {
      val u = rng.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  private def ip4(a: Int, b: Int, c: Int, d: Int): Array[Byte] =
    Array(a.toByte, b.toByte, c.toByte, d.toByte)
  private def str4(b: Array[Byte]): String = b.map(_ & 0xFF).mkString(".")
  private def str6(b: Array[Byte]): String =
    java.net.InetAddress.getByAddress(b).getHostAddress

  def qnameOf(r: Int): String = s"n$r.zone${r % 37}.example"

  private val Qtypes = Array(1, 28, 15, 16, 12, 33)
  private val QtypeCdf = Array(55, 80, 85, 90, 95, 100)
  private def qtypeOf(rng: SplittableRandom): Int = {
    val u = rng.nextInt(100)
    Qtypes(QtypeCdf.indexWhere(u < _))
  }

  /** The answer records name `r` resolves to for `qtype`, as (type,
    * rdata, presentation string): an A or AAAA record derived from the
    * name, behind a CNAME for every fourth name; no records for other
    * types. Every owner name is a compression pointer to the question. */
  def answersOf(r: Int, qtype: Int): Seq[(Int, Array[Byte], String)] = {
    val owner = qnameOf(r) + "."
    def rr(t: String, v: String) = s"$owner 300 IN $t $v"
    val cname =
      if (r % 4 != 0) Nil
      else {
        val target = s"edge${r % 16}.cdn.example"
        Seq((5, PcapSynth.encodeName(target), rr("CNAME", target + ".")))
      }
    qtype match {
      case 1 => cname :+ ((1, ip4(198, 18, r >> 8, r & 0xFF),
        rr("A", s"198.18.${r >> 8}.${r & 0xFF}")))
      case 28 =>
        val v6 = Array[Byte](0x20, 0x01, 0x0d, 0xb8.toByte) ++
          new Array[Byte](10) ++ Array((r >> 8).toByte, r.toByte)
        cname :+ ((28, v6, rr("AAAA", f"2001:db8:0:0:0:0:0:$r%x")))
      case _ => Nil
    }
  }

  /** A response to (`qname`, `qtype`) carrying `answers` as (type,
    * rdata) records, TTL 300, class IN, each owner name a compression
    * pointer to the question (0xC00C); NXDOMAIN when there are none. */
  def dnsResponse(id: Int, qname: String, qtype: Int,
      answers: Seq[(Int, Array[Byte])]): Array[Byte] = {
    val msg = PcapSynth.dnsResponse(id, qname, qtype,
      rcode = if (answers.isEmpty) 3 else 0)
    msg(6) = (answers.size >> 8).toByte
    msg(7) = answers.size.toByte
    msg ++ answers.flatMap { case (t, rd) =>
      Array(0xC0.toByte, 0x0C.toByte) ++ PcapSynth.be16(t) ++
        PcapSynth.be16(1) ++ PcapSynth.be32(300L) ++
        PcapSynth.be16(rd.length) ++ rd
    }
  }

  /** A DNS header announcing one question whose first label runs past
    * the end of the message: every parser must reject it. */
  private def malformedDns(id: Int): Array[Byte] =
    PcapSynth.be16(id) ++ PcapSynth.be16(0x0100) ++ PcapSynth.be16(1) ++
      new Array[Byte](6) ++ Array[Byte](63, 'a', 'b')

  /** The DNS-heavy traffic mix: queries and responses in equal shares
    * over UDP with Zipf-skewed qnames and clients, plus TCP, plain UDP,
    * IPv6 DNS, ARP and 1 % malformed DNS payloads. Apart from the
    * malformed share, the shares and exponents are fixed choices with no
    * measured source behind them (see README.md). */
  def dnsPool(rng: SplittableRandom, n: Int): Array[Tmpl] = {
    val names = new Zipf(2000, 1.1)
    val clients = new Zipf(256, 1.2)
    val v6src = Array.tabulate[Byte](16)(i => (i + 1).toByte)
    val v6dst = Array.tabulate[Byte](16)(i => (i + 101).toByte)
    Array.fill(n) {
      val c = clients.sample(rng)
      val cli = ip4(10, 1, c >> 4, c & 15)
      val res = ip4(192, 168, 0, 1 + rng.nextInt(4))
      val sport = 1024 + rng.nextInt(60000)
      val id = rng.nextInt(65536)
      val r = names.sample(rng)
      val name = qnameOf(r)
      val qt = qtypeOf(rng)
      val u = rng.nextInt(100)
      if (u < 36) Tmpl(PcapSynth.ipv4UdpFrame(cli, res, sport, 53, 64,
          PcapSynth.dnsQuery(id, name, qt)), str4(cli), str4(res), "UDP",
        53, qt, name + ".", dns53 = true, malformed = false)
      else if (u < 72) {
        // one response in ten is NXDOMAIN, with no records
        val an = if (rng.nextInt(10) == 0) Nil else answersOf(r, qt)
        Tmpl(PcapSynth.ipv4UdpFrame(res, cli, 53, sport, 60,
            dnsResponse(id, name, qt, an.map(a => (a._1, a._2)))),
          str4(res), str4(cli), "UDP", sport, qt, name + ".",
          dns53 = true, malformed = false, answers = an.map(_._3))
      } else if (u < 85) {
        val srv = ip4(172, 16, rng.nextInt(8), 1)
        val dport = Array(443, 80, 22)(rng.nextInt(3))
        val payload = new Array[Byte](rng.nextInt(800))
        rng.nextBytes(payload)
        Tmpl(PcapSynth.ipv4TcpFrame(cli, srv, sport, dport, 64, payload,
            seq = rng.nextInt(1 << 30).toLong, flags = 0x18),
          str4(cli), str4(srv), "TCP", dport, 0, null, false, false)
      } else if (u < 93) {
        val dst = ip4(172, 17, rng.nextInt(16), 9)
        val dport = 4000 + rng.nextInt(1000)
        val payload = new Array[Byte](32 + rng.nextInt(270))
        rng.nextBytes(payload)
        Tmpl(PcapSynth.ipv4UdpFrame(cli, dst, sport, dport, 64, payload),
          str4(cli), str4(dst), "UDP", dport, 0, null, false, false)
      } else if (u < 96) Tmpl(PcapSynth.ipv6UdpFrame(sport, 53, 64,
          PcapSynth.dnsQuery(id, name, qt)), str6(v6src), str6(v6dst),
        "UDP", 53, qt, name + ".", dns53 = true, malformed = false)
      else if (u < 99) {
        val mac = Array[Byte](2, 0, 0, 0, (c >> 8).toByte, c.toByte)
        Tmpl(PcapSynth.arpFrame(mac, cli, new Array[Byte](6),
            ip4(10, 1, 0, 1), 1), null, null, null, 0, 0, null, false, false)
      } else Tmpl(PcapSynth.ipv4UdpFrame(cli, res, sport, 53, 64,
          malformedDns(id)), str4(cli), str4(res), "UDP", 53, 0, null,
        dns53 = true, malformed = true)
    }
  }

  /** Write one classic pcap of about `target` bytes drawn uniformly from
    * `pool`, timestamps spread evenly over [t0, t0 + span) seconds, plus
    * its `.tsidx` sidecar. Returns (template indices, ts in µs). */
  def writeCapture(path: Path, pool: Array[Tmpl], rng: SplittableRandom,
      target: Long, t0: Long, span: Long): (Array[Int], Array[Long]) = {
    val picks = Array.newBuilder[Int]
    var size = 24L
    while (size < target) {
      val i = rng.nextInt(pool.length)
      picks += i
      size += 16 + pool(i).frame.length
    }
    val ix = picks.result()
    val step = span * 1000000L / ix.length
    val ts = Array.tabulate(ix.length)(k => t0 * 1000000L + k * step)
    writePcap(path, ix.map(pool(_).frame), ts)
    (ix, ts)
  }

  /** Serialize frames as a little-endian microsecond pcap and publish
    * the sidecar (min ts, max ts, count) the scan prunes with. */
  def writePcap(path: Path, frames: Array[Array[Byte]], ts: Array[Long]): Unit = {
    val hdr = PcapSynth.globalHeader()
    val bb = ByteBuffer.allocate(hdr.length + frames.map(16 + _.length).sum)
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.put(hdr)
    var k = 0
    while (k < frames.length) {
      val f = frames(k)
      bb.putInt((ts(k) / 1000000L).toInt).putInt((ts(k) % 1000000L).toInt)
        .putInt(f.length).putInt(f.length).put(f)
      k += 1
    }
    Files.write(path, bb.array())
    graft.sources.pcap.PcapTsIndex.writeSidecar(localFs,
      new org.apache.hadoop.fs.Path(path.toUri), ts.head / 1000000L,
      ts.last / 1000000L, Some(ts.length.toLong))
  }

  private lazy val localFs = org.apache.hadoop.fs.FileSystem.getLocal(
    new org.apache.hadoop.conf.Configuration()).getRawFileSystem

  private def rngFor(seed: Long, stream: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ stream.hashCode.toLong)

  /** Captures drawn from one seeded pool of the DNS-heavy mix, one per
    * (file name, about how many bytes, first second, span in seconds). */
  private def captures(dir: Path, seed: Long, stream: String,
      files: Seq[(String, Long, Long, Long)]): Capture = {
    Files.createDirectories(dir)
    val rng = rngFor(seed, stream)
    val pool = dnsPool(rng, 4096)
    val parts = files.map { case (name, bytes, t0, span) =>
      val p = dir.resolve(name)
      val (ix, ts) = writeCapture(p, pool, rng, bytes, t0, span)
      (p, ix, ts)
    }.toIndexedSeq
    new Capture(dir, parts.map(_._1), pool, parts.map(_._2).toArray,
      parts.map(_._3).toArray)
  }

  /** The rotated lake: `rotated` equal files covering consecutive
    * [[LakeSpan]] windows, plus one file `bigFactor` times larger that
    * spans all of them, as when one sensor never rotated. */
  def lake(dir: Path, seed: Long, unitBytes: Long, rotated: Int,
      bigFactor: Int): Capture =
    captures(dir, seed, "lake", (0 until rotated).map { k =>
      (f"cap-$k%02d.pcap", unitBytes, LakeT0 + k * LakeSpan, LakeSpan)
    } :+ ((f"cap-$rotated%02d.pcap", unitBytes * bigFactor, LakeT0,
      LakeSpan * rotated)))

  /** The landing zone: `files` captures of about `fileBytes` each, file
    * k covering the disjoint window [ZoneT0 + 60k, ZoneT0 + 60k + 60). */
  def zone(dir: Path, seed: Long, files: Int, fileBytes: Long): Capture =
    captures(dir, seed, "zone", (0 until files).map { k =>
      (f"land-$k%05d.pcap", fileBytes, ZoneT0 + 60L * k, 60L)
    })

  /** SHA-256 over every regular file under `dir`, in name order. */
  def digest(dir: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val files = {
      val s = Files.walk(dir)
      try s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
      finally s.close()
    }.sortBy(_.toString)
    files.foreach { f =>
      md.update(dir.relativize(f).toString.getBytes("UTF-8"))
      md.update(Files.readAllBytes(f))
    }
    md.digest().map(b => f"${b & 0xFF}%02x").mkString
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally s.close()
    }
}
