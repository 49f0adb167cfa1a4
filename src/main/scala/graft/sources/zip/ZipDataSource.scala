package graft.sources.zip

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, StringStartsWith}
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.sources.{BinPack, FileSource, PathOptions, ScanBuild}

/** ZIP archive source (`format("zip")`) — the container public datasets
  * actually ship in (Kaggle exports, ImageNet-style image bundles,
  * scanned-document drops). One row per entry: (archive, entry, size,
  * csize, method, crc32, data). Read-only; the tar-based `wds` sink is
  * the write path for sample lakes.
  *
  * The scale shape is what justifies a DSv2 source instead of a
  * mapPartitions helper:
  *
  *   - **Central-directory planning.** ZIP's end-of-central-directory
  *     record (APPNOTE 4.3.16) is found by tail scan, and the central
  *     directory lists every entry's local-header offset + sizes — so
  *     the DRIVER plans per-entry slices without touching entry bytes,
  *     and a 50 GB archive fans out across executors (unlike tar,
  *     which has no index and stays a sequential walk). Entries are
  *     bin-packed by compressed size to the partition target
  *     (`maxBytesPerPartition`, as in every source).
  *   - **Projection pushdown.** A name/size census (`data` pruned)
  *     answers from the central directory alone — zero entry bytes
  *     read (ZipSourceSpec pins the counter).
  *   - **Predicate-pruned planning.** Pushed `entry` equality/prefix
  *     filters drop non-matching entries at PLANNING time (the
  *     "one file out of a 100k-entry archive" path); filters stay
  *     residual above the scan, so semantics never depend on the prune.
  *   - **CD sizes are authoritative.** Streaming writers (including
  *     the JDK's ZipOutputStream) emit local headers with zero sizes +
  *     data descriptors (flag bit 3); readers that trust local headers
  *     mis-walk those archives. This reader takes offsets/sizes/CRCs
  *     from the central directory only, as production unzippers do.
  *   - **Zip64.** The EOCD64 locator/record and the 0x0001 extended
  *     field are parsed (the >4 GiB / >65535-entry dataset case, and
  *     writers that emit zip64 unconditionally); encrypted and
  *     multi-disk archives reject with explicit messages.
  *
  * Each entry decompresses (stored/deflate only — APPNOTE's other
  * methods are legacy) with its CRC-32 and size verified against the
  * central directory; a mismatch fails the task rather than returning
  * silently corrupt training bytes.
  */
class ZipDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "zip"
  override def supportsExternalMetadata(): Boolean = false

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ZipTable.ReadSchema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new ZipTable(new CaseInsensitiveStringMap(properties))
}

object ZipTable {
  val ReadSchema: StructType = new StructType()
    .add("archive", StringType, nullable = false)
    .add("entry", StringType, nullable = false)
    .add("size", LongType, nullable = false)
    .add("csize", LongType, nullable = false)
    .add("method", StringType, nullable = false)
    .add("crc32", LongType, nullable = false)
    .add("data", BinaryType, nullable = true)

  /** zip's part of the shared data-file rule: a zero-length file is no
    * archive. */
  val Rule: FileSource.Rule = FileSource.Rule("zip", keep = (_, len) => len > 0)
}

/** Test/ops seam: entry payload bytes actually read (census paths must
  * keep this at zero). */
object ZipReadStats {
  val entryBytesRead = new java.util.concurrent.atomic.LongAdder
}

class ZipTable(options: CaseInsensitiveStringMap) extends Table
    with SupportsRead {
  override def name(): String =
    s"zip(${PathOptions.paths(options, "zip").mkString(",")})"
  override def schema(): StructType = ZipTable.ReadSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(scanOptions: CaseInsensitiveStringMap)
      : ScanBuilder =
    new ZipScanBuilder(FileSource.merged(options, scanOptions))
}

class ZipScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = ZipTable.ReadSchema
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter {
      case EqualTo("entry", _: String) => true
      case StringStartsWith("entry", _) => true
      case EqualTo("archive", _: String) => true
      case StringStartsWith("archive", _) => true
      case _ => false
    }
    filters // all stay residual — planning prune is an optimization
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new ZipScan(required, options, pushed, new ScanBuild(options, ZipTable.Rule))
}

/** The entry-reading scan over one conf and one listing. */
class ZipScan(requiredSchema: StructType,
    options: CaseInsensitiveStringMap, pushed: Array[Filter], build: ScanBuild)
    extends Scan with Batch {
  override def readSchema(): StructType = requiredSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"zip pushed=[${pushed.mkString(", ")}]"

  private def entryKeep(name: String, archive: String): Boolean =
    pushed.forall {
      case EqualTo("entry", v: String) => name == v
      case StringStartsWith("entry", p) => name.startsWith(p)
      case EqualTo("archive", v: String) => archive == v
      case StringStartsWith("archive", p) => archive.startsWith(p)
      case _ => true
    }

  override def planInputPartitions(): Array[InputPartition] = {
    val wantData = requiredSchema.fieldNames.contains("data")
    val units = build.files.flatMap { st =>
      val fs = st.getPath.getFileSystem(build.conf)
      val cd = ZipCentralDirectory.read(fs, st)
      val archive = st.getPath.getName
      cd.filter(e => entryKeep(e.name, archive)).map { e =>
        // weight: compressed bytes we will actually read; census-only
        // scans still cost one (tiny) local-header-free row
        val w = if (wantData) e.csize + 64 else 64L
        ZipEntrySlice(st.getPath.toString, e.name, e.localOffset,
          e.csize, e.usize, e.method, e.crc) -> w
      }
    }
    BinPack.adaptiveTarget(options, build.files.map(_.getLen).sum).pack(units)
      .map(b => ZipInputPartition(b): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ZipReaderFactory(build.broadcast, requiredSchema)
}

/** One entry, with everything the reader needs taken from the CENTRAL
  * directory (local headers of streaming writers lie — zero sizes +
  * data descriptors). */
case class ZipEntrySlice(path: String, name: String, localOffset: Long,
    csize: Long, usize: Long, method: Int, crc: Long)

case class ZipInputPartition(entries: Seq[ZipEntrySlice])
  extends InputPartition

class ZipReaderFactory(conf: Broadcast[SerializableConfiguration],
    schema: StructType)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] =
    new ZipPartitionReader(
      partition.asInstanceOf[ZipInputPartition].entries, conf.value.value,
      schema)
}

class ZipPartitionReader(entries: Seq[ZipEntrySlice],
    conf: Configuration, schema: StructType)
    extends PartitionReader[InternalRow] {

  private val wantData = schema.fieldNames.contains("data")
  // (path, offset) order: one sequential sweep per archive even when
  // the bin-packer interleaved archives in this partition
  private val it = entries.sortBy(e => (e.path, e.localOffset)).iterator
  private var row: InternalRow = _
  private var in: org.apache.hadoop.fs.FSDataInputStream = _
  private var inPath: String = _

  override def next(): Boolean = {
    if (!it.hasNext) return false
    val e = it.next()
    val data: Array[Byte] = if (!wantData) null else {
      if (inPath != e.path) {
        if (in != null) in.close()
        val p = new Path(e.path)
        in = p.getFileSystem(conf).open(p)
        inPath = e.path
      }
      ZipCentralDirectory.readEntry(in, e)
    }
    val archive = new Path(e.path).getName
    val values = schema.fieldNames.map {
      case "archive" => UTF8String.fromString(archive)
      case "entry" => UTF8String.fromString(e.name)
      case "size" => e.usize
      case "csize" => e.csize
      case "method" =>
        UTF8String.fromString(if (e.method == 0) "store" else "deflate")
      case "crc32" => e.crc
      case "data" => data
      case other => throw new IllegalArgumentException(other)
    }
    row = InternalRow.fromSeq(values.toIndexedSeq)
    true
  }

  override def get(): InternalRow = row
  override def close(): Unit = if (in != null) in.close()
}

/** Clean-room central-directory walk (PKWARE APPNOTE 4.3: EOCD tail
  * scan, CD entry parse, zip64 locator/record + 0x0001 extended
  * fields, local-header skip at read time). */
object ZipCentralDirectory {

  final case class Entry(name: String, localOffset: Long, csize: Long,
      usize: Long, method: Int, crc: Long)

  private final val Eocd = 0x06054b50
  private final val Eocd64Locator = 0x07064b50
  private final val Eocd64 = 0x06064b50
  private final val CenSig = 0x02014b50
  private final val LocSig = 0x04034b50

  @inline private def u16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8)
  @inline private def u32(b: Array[Byte], i: Int): Long =
    (b(i) & 0xFFL) | ((b(i + 1) & 0xFFL) << 8) |
      ((b(i + 2) & 0xFFL) << 16) | ((b(i + 3) & 0xFFL) << 24)
  @inline private def u64(b: Array[Byte], i: Int): Long = {
    var v = 0L
    var k = 7
    while (k >= 0) { v = (v << 8) | (b(i + k) & 0xFFL); k -= 1 }
    v
  }

  /** Read the central directory of one archive (driver-side; the CD of
    * even a 100k-entry archive is a few MB). */
  def read(fs: org.apache.hadoop.fs.FileSystem, st: FileStatus)
      : Seq[Entry] = {
    val len = st.getLen
    require(len >= 22, s"${st.getPath}: too short to be a zip")
    val in = fs.open(st.getPath)
    try {
      // EOCD: last 22..22+65535+... bytes; scan backwards for the sig
      val tailLen = math.min(len, 22L + 65535L + 20L).toInt
      val tail = new Array[Byte](tailLen)
      in.readFully(len - tailLen, tail)
      var e = tailLen - 22
      while (e >= 0 && u32(tail, e) != Eocd) e -= 1
      require(e >= 0, s"${st.getPath}: no end-of-central-directory " +
        "record — not a zip, or truncated")
      // EOCD disk fields: 0 for plain single-disk zips; zip64 writers
      // may put the 0xFFFF sentinels here (APPNOTE 4.4.19) with the
      // real values in the EOCD64 — accept those and enforce
      // single-disk from the EOCD64's own disk fields below
      val eocdDisk = u16(tail, e + 4)
      val eocdCdDisk = u16(tail, e + 6)
      require((eocdDisk == 0 && eocdCdDisk == 0) ||
          (eocdDisk == 0xFFFF && eocdCdDisk == 0xFFFF),
        s"${st.getPath}: multi-disk archives are not supported")
      var nEntries = u16(tail, e + 10).toLong
      var cdSize = u32(tail, e + 12)
      var cdOffset = u32(tail, e + 16)
      // zip64: locator sits immediately before the EOCD
      val locPos = e - 20
      val hasLocator = locPos >= 0 && u32(tail, locPos) == Eocd64Locator
      require(eocdDisk != 0xFFFF || hasLocator,
        s"${st.getPath}: EOCD carries zip64 disk sentinels but no " +
          "EOCD64 locator precedes it")
      if (hasLocator) {
        val eocd64Off = u64(tail, locPos + 8)
        require(eocd64Off >= 0 && eocd64Off + 56 <= len,
          s"${st.getPath}: zip64 locator offset $eocd64Off out of range")
        val rec = new Array[Byte](56)
        in.readFully(eocd64Off, rec)
        require(u32(rec, 0) == Eocd64,
          s"${st.getPath}: zip64 locator points at a non-EOCD64 record")
        require(u32(rec, 16) == 0 && u32(rec, 20) == 0,
          s"${st.getPath}: multi-disk archives are not supported " +
            "(EOCD64 disk fields nonzero)")
        nEntries = u64(rec, 32)
        cdSize = u64(rec, 40)
        cdOffset = u64(rec, 48)
      }
      // hostile-length guards BEFORE any allocation: the declared CD
      // must lie inside the file, entries must fit in the CD, and a
      // bogus zip64 record must not drive a negative/huge array
      require(cdSize >= 0 && cdSize <= (1L << 30),
        s"${st.getPath}: central directory $cdSize B exceeds the 1 GiB cap")
      require(cdOffset >= 0 && cdOffset + cdSize <= len,
        s"${st.getPath}: central directory [$cdOffset, +$cdSize) " +
          s"overruns the $len-byte file")
      require(nEntries >= 0 && nEntries * 46 <= cdSize,
        s"${st.getPath}: $nEntries entries cannot fit in a " +
          s"$cdSize-byte central directory")
      val cd = new Array[Byte](cdSize.toInt)
      in.readFully(cdOffset, cd)
      val out = Seq.newBuilder[Entry]
      var p = 0
      var i = 0L
      while (i < nEntries) {
        require(p + 46 <= cd.length && u32(cd, p) == CenSig,
          s"${st.getPath}: central directory entry $i misframed")
        val flags = u16(cd, p + 8)
        require((flags & 0x1) == 0,
          s"${st.getPath}: encrypted entries are not supported")
        val method = u16(cd, p + 10)
        require(method == 0 || method == 8,
          s"${st.getPath}: compression method $method not supported " +
            "(store/deflate only)")
        val crc = u32(cd, p + 16)
        var csize = u32(cd, p + 20)
        var usize = u32(cd, p + 24)
        val nameLen = u16(cd, p + 28)
        val extraLen = u16(cd, p + 30)
        val commentLen = u16(cd, p + 32)
        var localOffset = u32(cd, p + 42)
        require(p + 46 + nameLen + extraLen + commentLen <= cd.length,
          s"${st.getPath}: central entry $i name/extra overrun")
        val name = new String(cd, p + 46, nameLen,
          java.nio.charset.StandardCharsets.UTF_8)
        // zip64 extended field (id 0x0001): values appear IN ORDER,
        // only for the 0xFFFFFFFF-sentineled fields
        if (usize == 0xFFFFFFFFL || csize == 0xFFFFFFFFL ||
            localOffset == 0xFFFFFFFFL) {
          var q = p + 46 + nameLen
          val qEnd = q + extraLen
          var found = false
          while (q + 4 <= qEnd && !found) {
            val id = u16(cd, q)
            val sz = u16(cd, q + 2)
            if (id == 0x0001) {
              var r = q + 4
              val needed = Seq(usize, csize, localOffset)
                .count(_ == 0xFFFFFFFFL) * 8
              // bound by the FIELD's declared size, not the whole
              // extra area: a short field must fail here, not read
              // the next extra header's bytes as zip64 values
              require(needed <= sz && r + needed <= qEnd &&
                  qEnd <= cd.length,
                s"${st.getPath}: entry $name zip64 field truncated " +
                  s"(declares $sz B, needs $needed)")
              if (usize == 0xFFFFFFFFL) { usize = u64(cd, r); r += 8 }
              if (csize == 0xFFFFFFFFL) { csize = u64(cd, r); r += 8 }
              if (localOffset == 0xFFFFFFFFL) { localOffset = u64(cd, r); r += 8 }
              found = true
            } else q += 4 + sz
          }
          require(found,
            s"${st.getPath}: entry $name sentinels without a zip64 field")
        }
        require(csize >= 0 && usize >= 0 && localOffset >= 0 &&
          localOffset + 30 + csize <= len,
          s"${st.getPath}: entry $name [$localOffset, +$csize) " +
            s"overruns the $len-byte file")
        if (!name.endsWith("/"))              // directories carry no bytes
          out += Entry(name, localOffset, csize, usize, method, crc)
        p += 46 + nameLen + extraLen + commentLen
        i += 1
      }
      out.result()
    } finally in.close()
  }

  /** Read + decompress + verify one entry. Sizes/CRC come from the
    * central directory; the local header is parsed only to skip its
    * (possibly different) name/extra lengths. */
  def readEntry(in: org.apache.hadoop.fs.FSDataInputStream,
      e: ZipEntrySlice): Array[Byte] = {
    val hdr = new Array[Byte](30)
    in.readFully(e.localOffset, hdr)
    require(u32(hdr, 0) == LocSig,
      s"${e.path}: entry ${e.name} local header misframed")
    val nameLen = u16(hdr, 26)
    val extraLen = u16(hdr, 28)
    require(e.csize <= Int.MaxValue - 8 && e.usize <= Int.MaxValue - 8,
      s"${e.path}: entry ${e.name} exceeds the 2 GiB single-entry cap")
    val comp = new Array[Byte](e.csize.toInt)
    in.readFully(e.localOffset + 30 + nameLen + extraLen, comp)
    ZipReadStats.entryBytesRead.add(comp.length.toLong)
    val out = if (e.method == 0) {
      require(e.csize == e.usize,
        s"${e.path}: stored entry ${e.name} size mismatch")
      comp
    } else {
      val inf = new java.util.zip.Inflater(true)
      try {
        inf.setInput(comp)
        val buf = new Array[Byte](e.usize.toInt)
        var o = 0
        while (o < buf.length && !inf.finished()) {
          val n = inf.inflate(buf, o, buf.length - o)
          require(n > 0 || !inf.needsInput,
            s"${e.path}: entry ${e.name} deflate stream truncated")
          o += n
        }
        require(o == buf.length && inf.finished(),
          s"${e.path}: entry ${e.name} decoded $o of ${e.usize} bytes")
        buf
      } catch {
        case ex: java.util.zip.DataFormatException =>
          throw new java.io.IOException(
            s"${e.path}: entry ${e.name} corrupt deflate data", ex)
      } finally inf.end()
    }
    val crc = new java.util.zip.CRC32
    crc.update(out)
    require(crc.getValue == e.crc,
      s"${e.path}: entry ${e.name} CRC mismatch — corrupt entry")
    out
  }
}
