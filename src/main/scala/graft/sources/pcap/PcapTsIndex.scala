package graft.sources.pcap

import java.io.{DataInputStream, EOFException, InputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.hadoop.io.compress.CompressionCodecFactory

import graft.pcap.PcapStreamReader._

/** Per-file packet-timestamp statistics for file-level pruning
  * (SURVEY.md §4: a `ts`-bounded query over a 100 TB landing directory
  * should not open every capture).
  *
  * Two stat sources, in preference order:
  *
  *   1. A `.tsidx` sidecar next to the capture — one line, `minTs maxTs`
  *      epoch seconds over ALL packets — written by the ETL path
  *      ([[graft.tools.PcapStatsWriter]]) and therefore exact: pruning
  *      on it is always safe, whatever the packet order inside the file.
  *   2. With `option("assumeMonotonicTs","true")` only: a cheap probe
  *      reading the first record header plus a bounded tail scan
  *      ([[firstLastTs]]). First/last timestamps bound min/max ONLY for
  *      time-ordered captures (the common case for live taps, not a
  *      format guarantee), hence the explicit opt-in.
  *
  * Files with no stats are never pruned, and the scan's pushed ts
  * predicate still checks every packet of a kept file — pruning can only
  * skip work, not change results.
  */
object PcapTsIndex {

  /** Files dropped by ts pruning in this JVM (diagnostic/test hook; the
    * scan also logs per-query counts). */
  val prunedFiles = new java.util.concurrent.atomic.LongAdder

  val SidecarSuffix = ".tsidx"

  def sidecar(file: Path): Path = file.suffix(SidecarSuffix)

  def isSidecar(name: String): Boolean = name.endsWith(SidecarSuffix)

  /** Full sidecar stats: (minTs, maxTs, packet count). The count is the
    * third, OPTIONAL field — sidecars written before round 9 carry only
    * the ts pair and still prune; count-dependent callers (the
    * metadata-only count(*) pushdown) treat its absence as "fall back
    * to the scan". */
  def readSidecarStats(fs: FileSystem, file: Path)
      : Option[(Long, Long, Option[Long])] =
    try {
      val sp = sidecar(file)
      if (!fs.exists(sp)) None
      else {
        val in = fs.open(sp)
        val txt =
          try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
          finally in.close()
        txt.trim.split("\\s+") match {
          case Array(mn, mx) => Some((mn.toLong, mx.toLong, None))
          case Array(mn, mx, n) => Some((mn.toLong, mx.toLong,
            Some(n.toLong)))
          case _ => None
        }
      }
    } catch { case _: Exception => None }

  /** Exact (minTs, maxTs) from the sidecar, if present and well-formed. */
  def readSidecar(fs: FileSystem, file: Path): Option[(Long, Long)] =
    readSidecarStats(fs, file).map { case (mn, mx, _) => (mn, mx) }

  /** Atomic sidecar write (temp file + rename — a crashed writer never
    * leaves a truncated sidecar behind; ADVICE r4's fixture lesson). */
  def writeSidecar(fs: FileSystem, file: Path, min: Long, max: Long,
      count: Option[Long] = None): Unit = {
    val sp = sidecar(file)
    val tmp = sp.suffix(".tmp")
    val out = fs.create(tmp, true)
    val line = count match {
      case Some(n) => s"$min $max $n\n"
      case None => s"$min $max\n"
    }
    try out.write(line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fs.delete(sp, false)
    fs.rename(tmp, sp)
  }

  private def u32(bigEndian: Boolean, b: Array[Byte], off: Int): Long =
    if (bigEndian)
      ((b(off) & 0xFFL) << 24) | ((b(off + 1) & 0xFFL) << 16) |
        ((b(off + 2) & 0xFFL) << 8) | (b(off + 3) & 0xFFL)
    else leU32(b, off)

  private def magicEndian(magic: Long): Option[Boolean] = magic match {
    case Magic | MagicNano => Some(false)
    case MagicBe | MagicBeNano => Some(true)
    case _ => None // pcapng or not a capture: no classic record chain
  }

  /** Full sequential min/max/count scan of a (possibly compressed)
    * classic pcap stream — record headers only, bodies skipped. The
    * ETL-side stat computation behind [[writeSidecar]]. */
  def scanMinMax(in: InputStream): Option[(Long, Long, Long)] = {
    val is = new DataInputStream(in)
    val gh = new Array[Byte](GlobalHeaderSize)
    try is.readFully(gh) catch { case _: EOFException => return None }
    val bigEndian = magicEndian(leU32(gh, 0)).getOrElse(return None)
    val hdr = new Array[Byte](PacketHeaderSize)
    var mn = Long.MaxValue
    var mx = Long.MinValue
    var n = 0L
    var done = false
    while (!done) {
      try is.readFully(hdr) catch { case _: EOFException => done = true }
      if (!done) {
        val ts = u32(bigEndian, hdr, 0)
        val incl = u32(bigEndian, hdr, 8)
        if (incl > MaxCapturedLength) return None // corrupt: no stats
        is.skipNBytes(incl)
        if (ts < mn) mn = ts
        if (ts > mx) mx = ts
        n += 1
      }
    }
    if (n > 0) Some((mn, mx, n)) else None
  }

  /** Cheap first/last-timestamp probe for UNCOMPRESSED classic pcap:
    * reads the global header + first record header, then a bounded tail
    * window in which it finds the unique record-header alignment whose
    * length chain lands exactly on EOF (each link validated against the
    * captured-length bound). Returns (first, last) — a min/max bound
    * only under capture-time monotonicity, so callers gate it behind
    * `assumeMonotonicTs`. */
  def firstLastTs(conf: Configuration, st: FileStatus): Option[(Long, Long)] =
    try {
      val path = st.getPath
      if (new CompressionCodecFactory(conf).getCodec(path) != null) return None
      val len = st.getLen
      if (len < GlobalHeaderSize + PacketHeaderSize) return None
      val fs = path.getFileSystem(conf)
      val in = fs.open(path)
      try {
        val head = new Array[Byte](GlobalHeaderSize + PacketHeaderSize)
        in.readFully(0, head)
        val bigEndian = magicEndian(leU32(head, 0)).getOrElse(return None)
        val snaplen = u32(bigEndian, head, 16)
        val cap = math.min(math.max(snaplen, 1L << 16), MaxCapturedLength)
        val firstTs = u32(bigEndian, head, GlobalHeaderSize)
        val w = math.min(len - GlobalHeaderSize, 1L << 16).toInt
        val tail = new Array[Byte](w)
        in.readFully(len - w, tail)
        var off = 0
        var lastTs = -1L
        while (off <= w - PacketHeaderSize && lastTs < 0) {
          var pos = off
          var ok = true
          var lt = -1L
          while (ok && pos + PacketHeaderSize <= w) {
            val incl = u32(bigEndian, tail, pos + 8)
            if (incl > cap) ok = false
            else {
              lt = u32(bigEndian, tail, pos)
              pos += PacketHeaderSize + incl.toInt
            }
          }
          if (ok && pos == w && lt >= 0) lastTs = lt
          off += 1
        }
        if (lastTs >= 0)
          Some((math.min(firstTs, lastTs), math.max(firstTs, lastTs)))
        else None
      } finally in.close()
    } catch { case _: Exception => None }

  /** (lower, upper) ts bound implied by the pushed filters, if any. */
  def tsBounds(filters: Array[org.apache.spark.sql.sources.Filter])
      : Option[(Long, Long)] = {
    import org.apache.spark.sql.sources._
    def lit(v: Any): Option[Long] = v match {
      case i: Int => Some(i.toLong)
      case l: Long => Some(l)
      case s: Short => Some(s.toLong)
      case _ => None
    }
    var lo = Long.MinValue
    var hi = Long.MaxValue
    var any = false
    filters.foreach {
      case GreaterThan("ts", v) =>
        lit(v).foreach { x => lo = math.max(lo, x + 1); any = true }
      case GreaterThanOrEqual("ts", v) =>
        lit(v).foreach { x => lo = math.max(lo, x); any = true }
      case LessThan("ts", v) =>
        lit(v).foreach { x => hi = math.min(hi, x - 1); any = true }
      case LessThanOrEqual("ts", v) =>
        lit(v).foreach { x => hi = math.min(hi, x); any = true }
      case EqualTo("ts", v) =>
        lit(v).foreach { x =>
          lo = math.max(lo, x); hi = math.min(hi, x); any = true }
      case In("ts", vs) if vs.nonEmpty =>
        val xs = vs.flatMap(lit)
        if (xs.length == vs.length) {
          lo = math.max(lo, xs.min); hi = math.min(hi, xs.max); any = true
        }
      case _ => ()
    }
    if (any) Some((lo, hi)) else None
  }
}
