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
  *
  * Sidecars of a listed directory are read through the `graft.Memo`
  * registry ([[listedStats]]): one entry per directory, family `pcap`,
  * guarded by a fingerprint of the (name, length, mtime) of the sidecars
  * that the scan's own listing returned, so a query over an unchanged
  * directory opens none, and a changed directory reads its sidecars
  * again. The racy rule (git's racy-clean check): a sidecar whose mtime
  * is within [[RacyMarginMs]] of the listing could be rewritten in place
  * at the same length within the same mtime tick, so a listing that
  * shows one neither uses nor fills the memo; its sidecars are read
  * again on each query until the sidecar is older. A capture matched
  * directly (a single-file path, a glob) keeps the uncached
  * [[readSidecarStats]].
  */
object PcapTsIndex {

  val SidecarSuffix = ".tsidx"

  def sidecar(file: Path): Path = file.suffix(SidecarSuffix)

  def isSidecar(name: String): Boolean = name.endsWith(SidecarSuffix)

  /** Full sidecar stats: (minTs, maxTs, packet count). The count is the
    * third, OPTIONAL field — sidecars written before round 9 carry only
    * the ts pair and still prune; count-dependent callers (the
    * metadata-only count(*) pushdown) treat its absence as "fall back
    * to the scan". The uncached read, for a capture whose listing could
    * not show its sidecar (a single-file path, a glob); a directory
    * listing goes through [[listedStats]]. */
  def readSidecarStats(fs: FileSystem, file: Path)
      : Option[(Long, Long, Option[Long])] =
    try {
      val sp = sidecar(file)
      if (!fs.exists(sp)) None else parse(fs, sp)
    } catch { case _: Exception => None }

  /** Reads and parses the sidecar at `sp`; None if it is malformed. */
  private def parse(fs: FileSystem, sp: Path)
      : Option[(Long, Long, Option[Long])] = {
    val in = fs.open(sp)
    val txt =
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    txt.trim.split("\\s+") match {
      case Array(mn, mx) => Some((mn.toLong, mx.toLong, None))
      case Array(mn, mx, n) => Some((mn.toLong, mx.toLong, Some(n.toLong)))
      case _ => None
    }
  }

  /** How old a sidecar's mtime must be, at the start of the listing that
    * shows it, before its stats may be served from the memo. Some
    * stores keep whole-second mtimes (S3's Last-Modified, HTTP-backed
    * file systems), so an in-place rewrite of the same length within
    * the second of an earlier read keeps (length, mtime); the second
    * second covers the skew between the store's clock, which stamps
    * mtimes, and the driver's, which reads the listing time. */
  val RacyMarginMs = 2000L

  /** One listed directory's sidecars: the statuses of the captures'
    * sidecars that its `listStatus` call returned, sorted by name, and
    * the wall-clock time just before that call. */
  final class ListedSidecars(val dir: String, val fs: FileSystem,
      val statuses: Array[FileStatus], val listedAt: Long)

  /** Sidecar reads of one listing: opened and parsed, or served from the
    * memo. */
  final class SidecarReads {
    val read = new java.util.concurrent.atomic.LongAdder
    val served = new java.util.concurrent.atomic.LongAdder
  }

  /** Stats of one directory's sidecars as of one listing, in primitive
    * arrays sorted by sidecar name. `counts` holds the packet count,
    * [[NoCount]] for a two-field sidecar, [[NoStats]] for one that did
    * not parse. */
  final class SidecarTable private[PcapTsIndex] (
      private[PcapTsIndex] val names: Array[String],
      private[PcapTsIndex] val mins: Array[Long],
      private[PcapTsIndex] val maxs: Array[Long],
      private[PcapTsIndex] val counts: Array[Long]) {

    def size: Int = names.length

    /** The stats of the sidecar named `name`, if this listing showed it
      * and it parsed. */
    def stats(name: String): Option[(Long, Long, Option[Long])] = {
      val i = java.util.Arrays.binarySearch(
        names.asInstanceOf[Array[AnyRef]], name: AnyRef)
      if (i < 0 || counts(i) == NoStats) None
      else Some((mins(i), maxs(i),
        if (counts(i) == NoCount) None else Some(counts(i))))
    }
  }

  private val NoCount = -1L
  private val NoStats = -2L

  private def mix(h: Long, x: Long): Long = {
    val z = (h ^ x) * 0x9E3779B97F4A7C15L
    z ^ (z >>> 31)
  }

  /** One directory's sidecar stats, served from one `graft.Memo` entry
    * per listed directory (family `pcap`), guarded by a fingerprint
    * folded from the listed sidecars' (name, length, mtime): a listing
    * of an unchanged directory opens no sidecar, and a miss reads every
    * listed sidecar again and replaces the entry. A listing that shows
    * a racy sidecar (mtime within [[RacyMarginMs]] of the listing, or
    * unknown, 0) bypasses the memo: its sidecars are read and nothing is
    * installed, on every query until the sidecar is old enough. */
  def listedStats(ls: ListedSidecars, reads: SidecarReads): SidecarTable = {
    if (ls.statuses.isEmpty ||
        ls.statuses.exists(st => st.getModificationTime <= 0 ||
          ls.listedAt - st.getModificationTime < RacyMarginMs))
      return read(ls, reads)
    var guard = ls.statuses.length.toLong
    // a name-hash collision cannot serve wrong stats: the table keeps
    // the names it was read under, and a lookup misses on any other
    ls.statuses.foreach { st =>
      guard = mix(mix(mix(guard, st.getPath.getName.hashCode), st.getLen),
        st.getModificationTime)
    }
    var built = false
    val table = graft.Memo.value(org.apache.spark.sql.SparkSession.active,
        "pcap", MemoKind, ls.dir, guard) {
      built = true
      read(ls, reads)
    }
    if (!built) reads.served.add(table.size.toLong)
    table
  }

  private val MemoKind = "pcap.tsidx"

  private def read(ls: ListedSidecars, reads: SidecarReads): SidecarTable = {
    val n = ls.statuses.length
    val t = new SidecarTable(ls.statuses.map(_.getPath.getName),
      new Array[Long](n), new Array[Long](n), new Array[Long](n))
    var i = 0
    while (i < n) {
      (try parse(ls.fs, ls.statuses(i).getPath)
       catch { case _: Exception => None }) match {
        case Some((mn, mx, c)) =>
          t.mins(i) = mn; t.maxs(i) = mx; t.counts(i) = c.getOrElse(NoCount)
        case None => t.counts(i) = NoStats
      }
      i += 1
    }
    reads.read.add(n.toLong)
    t
  }

  /** Atomic sidecar write (hidden temp file + rename — a crashed writer
    * never leaves a truncated sidecar behind, and no listing shows the
    * temp it leaves). */
  def writeSidecar(fs: FileSystem, file: Path, min: Long, max: Long,
      count: Option[Long] = None): Unit = {
    val sp = sidecar(file)
    val tmp = graft.sources.FileSource.staging(sp)
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
