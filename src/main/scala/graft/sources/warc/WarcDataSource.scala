package graft.sources.warc

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.metric.{CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.sources.{BinPack, FileSource, ScanBuild, StatsScan}

/** Web ARChive (WARC 1.0/1.1, ISO 28500) DSv2 source
  * (`format("warc")`) — the container the canonical LLM text pipeline
  * starts from: Common Crawl ships crawl data as `.warc.gz` files
  * where EVERY record is its own gzip member, concatenated.
  *
  * One row per WARC record:
  * (file, rec_type, record_id, url, warc_date, content_type,
  * content_length, http_status, http_content_type,
  * http_content_encoding, http_headers, payload) — for records whose
  * block is
  * `application/http` (request/response), the HTTP status line +
  * headers are parsed off and `payload` is the HTTP BODY (the page
  * bytes a corpus wants); for every other record type `payload` is
  * the whole block. `http_status` / `http_content_type` /
  * `http_content_encoding` are null on non-HTTP records.
  *
  * Real crawls store HTTP bodies AS CAPTURED, and captured bodies
  * frequently keep BOTH their transfer framing (chunked) and their
  * content coding (`Content-Encoding: gzip`/`deflate`): a corpus
  * pipeline that tokenized the raw block would be hashing deflate
  * bytes. The walk therefore de-chunks and then content-decodes by
  * default (`decodeContentEncoding`, default true — warcio's
  * `content_stream()` behavior); `http_content_encoding` always
  * reports the header as captured. Unknown codings (e.g. `br`) pass
  * through raw — the column lets a pipeline route them.
  *
  * Scale shape — the wds/pcap discipline applied to WARC:
  *   - input is what the shared data-file rule
  *     ([[graft.sources.FileSource]]) keeps: a declared directory is
  *     listed one level deep, and a file named `_…` or `.…`, a `.wcdx` or
  *     `.cdxj` index or an empty file is never read as a crawl, whether
  *     listed or matched by a glob;
  *   - whole-file partitions (member-gzip has no index; mid-file entry
  *     is impossible without decompressing from the start), bin-packed
  *     to the partition target by [[graft.sources.BinPack]];
  *   - the record walk STREAMS: headers are read line-at-a-time with a
  *     hard line-length cap, the block is materialized ONLY when the
  *     projection needs `payload` — a (url, status) survey of a crawl
  *     never allocates page bytes (`payloadBytesSkipped` metric proves
  *     it); constant memory per task whatever the file size;
  *   - `java.util.zip.GZIPInputStream` reads concatenated members
  *     natively, so member-per-record `.warc.gz` and plain `.warc`
  *     walk identically;
  *   - malformed records REJECT (bad version line, non-numeric or
  *     missing Content-Length, truncated block) — a mis-framed record
  *     would silently corrupt every record after it.
  *
  * Reference: WARC/1.1 (ISO 28500:2017) record grammar — version line,
  * named fields, CRLF CRLF, Content-Length octets of block, CRLF CRLF.
  */
class WarcDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "warc"
  override def supportsExternalMetadata(): Boolean = false

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WarcTable.ReadSchema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new WarcTable(new CaseInsensitiveStringMap(properties))
}

object WarcTable {
  val ReadSchema: StructType = new StructType()
    .add("file", StringType, nullable = false)
    .add("rec_type", StringType, nullable = false)
    .add("record_id", StringType, nullable = true)
    .add("refers_to", StringType, nullable = true) // revisit -> original
    // request -> the response captured in the same fetch (WARC 1.1
    // §5.7 WARC-Concurrent-To) — the request/response pairing key
    .add("concurrent_to", StringType, nullable = true)
    .add("url", StringType, nullable = true)
    .add("warc_date", StringType, nullable = true)
    .add("content_type", StringType, nullable = true)
    .add("content_length", LongType, nullable = false)
    .add("http_status", IntegerType, nullable = true)
    .add("http_content_type", StringType, nullable = true)
    .add("http_content_encoding", StringType, nullable = true)
    // ALL captured HTTP header fields, names lowercased, repeats
    // joined with '\n' (Set-Cookie et al.) — the column real
    // pipelines filter on when the promoted ones aren't enough
    .add("http_headers",
      org.apache.spark.sql.types.MapType(StringType, StringType),
      nullable = true)
    .add("payload", BinaryType, nullable = true)

  def paths(options: CaseInsensitiveStringMap): Seq[String] =
    graft.sources.PathOptions.paths(options, "warc")

  /** warc's part of the shared data-file rule: its `.wcdx` sidecars and
    * `.cdxj` indexes are index files, and a zero-length file carries no
    * records (and, when `.gz`, is not even a valid gzip stream). */
  val Rule: FileSource.Rule = FileSource.Rule("warc",
    isIndex = n => WarcCdx.isSidecar(n) || n.endsWith(".cdxj"),
    keep = (_, len) => len > 0)

  def listDataFiles(options: CaseInsensitiveStringMap,
      conf: Configuration): Seq[org.apache.hadoop.fs.FileStatus] =
    FileSource.list(options, conf, Rule).files
}

class WarcTable(options: CaseInsensitiveStringMap) extends Table
  with SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsWrite {

  override def name(): String =
    s"warc(${WarcTable.paths(options).mkString(",")})"
  override def schema(): StructType = WarcTable.ReadSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA)

  override def newScanBuilder(scanOptions: CaseInsensitiveStringMap)
      : ScanBuilder =
    new WarcScanBuilder(FileSource.merged(options, scanOptions))

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new WarcWriteBuilder(FileSource.merged(options, info.options()), info)
}

/** Record-level predicate pushdown, split at the two skip points the
  * record grammar offers:
  *
  *   - rec_type and url are known from the WARC header BEFORE the
  *     block is read — predicates on them skip non-matching records'
  *     blocks entirely (a responses-only crawl pipeline never
  *     decompresses a request or warcinfo block into memory);
  *   - http_status and http_content_type are known after the HTTP
  *     header LINES but before the body read — predicates on them
  *     skip the discarded bodies (the 404s and images a text
  *     pipeline filters out) without materializing them.
  *
  * Filters stay residual (Spark re-checks them): a byte-skipping
  * optimization, never a semantic contract — the wds/pcap pushdown
  * discipline. */
object WarcRecordFilter {
  import org.apache.spark.sql.sources._

  /** `header(recType, url, warcDate)` gates the whole block;
    * `http(status, contentType)` gates the HTTP body (status -1 /
    * null contentType = not an HTTP record, so equality predicates
    * reject — exactly what the residual filter does with the null
    * columns). */
  final case class Compiled(
      header: (String, String, String) => Boolean,
      http: (Int, String) => Boolean, hasHttp: Boolean)

  val acceptAll: Compiled = Compiled((_, _, _) => true, (_, _) => true,
    hasHttp = false)

  private def headerAttr(a: String) = a == "rec_type" || a == "url"

  def supported(f: Filter): Boolean = f match {
    case EqualTo(a, _: String) => headerAttr(a) ||
      a == "http_content_type" || a == "warc_date"
    case EqualTo("http_status", _: Int) => true
    case In(a, vs) if headerAttr(a) => vs.forall(_.isInstanceOf[String])
    case In("http_status", vs) => vs.forall(_.isInstanceOf[Int])
    case StringStartsWith(a, _) =>
      headerAttr(a) || a == "http_content_type" || a == "warc_date"
    // ISO 8601 dates compare lexicographically = chronologically, so
    // string range predicates on warc_date are crawl time windows
    case GreaterThan("warc_date", _: String) => true
    case GreaterThanOrEqual("warc_date", _: String) => true
    case LessThan("warc_date", _: String) => true
    case LessThanOrEqual("warc_date", _: String) => true
    case _ => false
  }

  def compile(filters: Array[Filter]): Compiled = {
    if (filters.isEmpty) return acceptAll
    type HeaderPred = (String, String, String) => Boolean
    type HttpPred = (Int, String) => Boolean
    val header = scala.collection.mutable.ArrayBuffer.empty[HeaderPred]
    val http = scala.collection.mutable.ArrayBuffer.empty[HttpPred]
    filters.foreach {
      case EqualTo("rec_type", v: String) =>
        header += ((t, _, _) => t == v)
      case EqualTo("url", v: String) => header += ((_, u, _) => u == v)
      case EqualTo("warc_date", v: String) =>
        header += ((_, _, d) => d == v)
      case EqualTo("http_content_type", v: String) =>
        http += ((_, c) => c == v)
      case EqualTo("http_status", v: Int) => http += ((s, _) => s == v)
      case In("rec_type", vs) =>
        val set = vs.map(_.asInstanceOf[String]).toSet
        header += ((t, _, _) => set(t))
      case In("url", vs) =>
        val set = vs.map(_.asInstanceOf[String]).toSet
        header += ((_, u, _) => set(u))
      case In("http_status", vs) =>
        val set = vs.map(_.asInstanceOf[Int]).toSet
        http += ((s, _) => set(s))
      case StringStartsWith("rec_type", p) =>
        header += ((t, _, _) => t.startsWith(p))
      case StringStartsWith("url", p) =>
        header += ((_, u, _) => u != null && u.startsWith(p))
      case StringStartsWith("warc_date", p) =>
        header += ((_, _, d) => d != null && d.startsWith(p))
      case StringStartsWith("http_content_type", p) =>
        http += ((_, c) => c != null && c.startsWith(p))
      // null dates reject (the residual filter drops them too)
      case GreaterThan("warc_date", v: String) =>
        header += ((_, _, d) => d != null && d > v)
      case GreaterThanOrEqual("warc_date", v: String) =>
        header += ((_, _, d) => d != null && d >= v)
      case LessThan("warc_date", v: String) =>
        header += ((_, _, d) => d != null && d < v)
      case LessThanOrEqual("warc_date", v: String) =>
        header += ((_, _, d) => d != null && d <= v)
      case other => throw new IllegalArgumentException(
        s"unsupported pushed filter $other")
    }
    val hs = header.toArray
    val ps = http.toArray
    Compiled(
      // url may legitimately be null (warcinfo records): a pushed url
      // predicate rejects those — matching the residual filter
      (t, u, d) => hs.forall(p => p(t, if (u == null) "" else u, d)),
      (s, c) => ps.forall(p => p(s, c)),
      hasHttp = ps.nonEmpty)
  }
}

class WarcScanBuilder(options: CaseInsensitiveStringMap)
  extends ScanBuilder with SupportsPushDownRequiredColumns
  with org.apache.spark.sql.connector.read.SupportsPushDownFilters
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var required: StructType = WarcTable.ReadSchema
  private var pushedCount: Option[Long] = None
  private var pushed: Array[org.apache.spark.sql.sources.Filter] =
    Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(
      filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    if (options.getBoolean("pushdown", true))
      pushed = filters.filter(WarcRecordFilter.supported)
    filters // everything stays post-scan too (residual re-check)
  }

  override def pushedFilters()
      : Array[org.apache.spark.sql.sources.Filter] = pushed

  // ----- metadata-only COUNT(*) (the .tsidx/.widx discipline) ------------
  // "How many records landed?" answers from the .wcdx header lines
  // alone — O(files), not O(bytes) — when EVERY file has a fresh
  // sidecar and no record filter is pushed. Any file without one
  // declines and the record walk counts for real.
  // one Hadoop conf, one listing and one sidecar-count fold per scan
  // build, shared with the scan this builder produces
  private val scanBuild = new ScanBuild(options, WarcTable.Rule)

  private lazy val sidecarCount: Option[Long] =
    FileSource.sumCounts(scanBuild.files)(st =>
      WarcCdx.readCount(st.getPath.getFileSystem(scanBuild.conf), st))

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = pushAggregation(agg)

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    import org.apache.spark.sql.connector.expressions.aggregate.CountStar
    if (!options.getBoolean("countPushdown", true)) return false
    if (pushed.nonEmpty) return false // sidecar totals would over-count
    if (agg.groupByExpressions.nonEmpty ||
        agg.aggregateExpressions.toSeq.length != 1 ||
        !agg.aggregateExpressions.head.isInstanceOf[CountStar]) return false
    pushedCount = sidecarCount
    pushedCount.isDefined
  }

  override def build(): Scan = pushedCount match {
    case Some(n) =>
      new StatsScan(Seq(n), s"WarcStatsScan(count=$n, fromSidecars=true)")
    case None =>
      new WarcScan(required, options, pushed, scanBuild, () => sidecarCount)
  }
}

/** Executor-visible read counters — the seam proving a payload-pruned
  * crawl survey really skips page bytes (the WdsReadStats pattern). */
object WarcReadStats {
  val recordsRead = new java.util.concurrent.atomic.LongAdder
  val payloadBytesSkipped = new java.util.concurrent.atomic.LongAdder
}

class WarcRecordsMetric extends CustomSumMetric {
  override def name(): String = "recordsRead"
  override def description(): String = "WARC records read"
}

class WarcSkippedBytesMetric extends CustomSumMetric {
  override def name(): String = "payloadBytesSkipped"
  override def description(): String =
    "record block bytes skipped (payload column pruned)"
}

/** The record-walking scan over its builder's one conf and listing;
  * `sidecarCount` is the builder's fold of the files' `.wcdx` counts. */
class WarcScan(requiredSchema: StructType,
    options: CaseInsensitiveStringMap,
    pushedFilters: Array[org.apache.spark.sql.sources.Filter],
    build: ScanBuild, sidecarCount: () => Option[Long])
  extends Scan with Batch
  with SupportsReportStatistics {

  override def readSchema(): StructType = requiredSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"WarcScan(columns=[${requiredSchema.fieldNames.mkString(",")}], " +
      s"pushedFilters=[${pushedFilters.mkString(",")}])"

  /** Catalyst-visible size: the summed file bytes. Without this a
    * DSv2 scan reports defaultSizeInBytes (effectively infinite), so
    * a small crawl joined against a big relation could never plan a
    * static broadcast — AQE would have to rescue it at runtime. */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      private val bytes = build.files.map(_.getLen).sum
      // exact row count when EVERY file carries a fresh .wcdx and no
      // pushed filter drops records mid-scan
      private val rows =
        if (pushedFilters.nonEmpty) None else sidecarCount()
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        rows.map(java.util.OptionalLong.of)
          .getOrElse(java.util.OptionalLong.empty())
    }

  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new WarcRecordsMetric, new WarcSkippedBytesMetric)

  override def planInputPartitions(): Array[InputPartition] = {
    val target = BinPack.adaptiveTarget(options, build.files.map(_.getLen).sum)
    val maxBytes = target.maxBytes
    val conf = build.conf
    val useWcdx = options.getBoolean("useWcdx", true)
    // index-aware planning, in preference order per file:
    //   1. pushed predicates + fresh .wcdx sidecar -> slices over ONLY
    //      the matching records (a url point-lookup reads one member
    //      of a 100 GB crawl — the wayback access pattern);
    //   2. pushed predicates + a FOREIGN CDX(J) index (explicit
    //      option("cdx", …) — Common Crawl's cdx-*.gz, pywb's .cdxj)
    //      -> the same matching-record slices over a crawl the engine
    //      never indexed itself;
    //   3. big indexed file -> record-range slices at member offsets
    //      (the one-task-per-100 GB straggler fix);
    //   4. whole-file slice.
    // Sidecars/indexes are read only when 1-3 applies.
    val compiled = if (pushedFilters.nonEmpty)
      Some(WarcRecordFilter.compile(pushedFilters)) else None
    // pushed url equalities, if any — they route a cluster.idx-backed
    // foreign index to the point-lookup path (bounded block reads
    // whatever the index size, the Common Crawl layout)
    lazy val urlTargets: Seq[String] = pushedFilters.toSeq.flatMap {
      case org.apache.spark.sql.sources.EqualTo("url", v: String) =>
        Seq(v)
      case org.apache.spark.sql.sources.In("url", vs) =>
        vs.toSeq.collect { case s: String => s }
      case _ => Seq.empty
    }
    // pushed url prefixes expressible as SURT-key ranges ("all of site
    // X" — the other Common Crawl access pattern). Host-incomplete
    // prefixes are NOT collected (rangeablePrefix documents why); the
    // cluster path engages only when at least one pushed url conjunct
    // is representable, so coverage is a superset of the AND of all
    // pushed filters and the residual evaluation stays exact.
    lazy val urlPrefixTargets: Seq[String] = pushedFilters.toSeq.flatMap {
      case org.apache.spark.sql.sources.StringStartsWith("url", p)
          if WarcForeignCdx.rangeablePrefix(p) => Seq(p)
      case _ => Seq.empty
    }
    // cluster-path loads return entries ONLY for the target urls, so
    // the index is AUTHORITATIVE for every data file: a file with no
    // matching entries plans zero slices (the opt-in coverage
    // assertion option("cdx") makes), instead of falling back to a
    // whole-file scan that defeats the lookup
    lazy val (foreignIdx, foreignAuthoritative)
        : (Map[String, Array[WarcCdx.Entry]], Boolean) =
      Option(options.get("cdx")).map { spec =>
        if ((urlTargets.nonEmpty || urlPrefixTargets.nonEmpty) &&
            WarcForeignCdx.hasClusterIdx(conf, spec))
          (WarcForeignCdx.loadViaCluster(conf, new Path(spec),
            urlTargets, urlPrefixTargets), true)
        else (WarcForeignCdx.load(conf, spec,
          options.getLong("cdxMaxLoadBytes", 1L << 28)), false)
      }.getOrElse((Map.empty, false))
    val mergeGap = options.getLong("cdxMergeGap", 1L << 16)
    val slices = build.files.flatMap { st =>
      val whole = Seq(WarcFileSlice(st.getPath.toString, 0L, st.getLen))
      if (!useWcdx) whole
      else {
        val fs = st.getPath.getFileSystem(conf)
        compiled.flatMap { p =>
          WarcCdx.planMatchingSlices(fs, st, maxBytes, p, mergeGap)
            .orElse(foreignIdx.get(st.getPath.getName)
              .orElse(if (foreignAuthoritative)
                Some(Array.empty[WarcCdx.Entry]) else None)
              .map(es =>
                WarcCdx.slicesFromEntries(st.getPath.toString, es, p,
                  maxBytes, mergeGap)))
        }.getOrElse {
          if (st.getLen > maxBytes)
            WarcCdx.planRanges(fs, st, maxBytes).getOrElse {
              // no sidecar at all: an unindexed big `.warc.gz` /
              // `.warc.zst` still splits — raw ranges with reader-side
              // unit resync (WarcResync; option("resyncSplit","false")
              // opts out). The unitPerRecord probe keeps
              // whole-file-compressed archives (one jumbo unit) on the
              // streaming whole-file plan, where they belong.
              val nm = st.getPath.getName.toLowerCase(java.util.Locale.ROOT)
              if ((nm.endsWith(".warc.gz") || nm.endsWith(".warc.zst") ||
                  nm.endsWith(".warc.zstd")) &&
                  options.getBoolean("resyncSplit", true) &&
                  WarcResync.unitPerRecord(conf, st.getPath))
                WarcResync.planRanges(st.getPath.toString, st.getLen,
                  maxBytes)
              else whole
            }
          else whole
        }
      }
    }
    target.pack(slices.map(s => s -> s.length))
      .map(b => WarcInputPartition(b): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new WarcReaderFactory(build.broadcast,
      requiredSchema, options.getLong("maxRecordBytes", 1L << 30),
      pushedFilters,
      options.getBoolean("decodeContentEncoding", true))
}

/** One read unit: `[start, start+length)` of a container file, where
  * `start` is 0 (whole file) or a record/member offset from the
  * file's `.wcdx` — slices always cover whole records. `resync`
  * marks an UNALIGNED raw byte range of an unindexed `.warc.gz`: the
  * reader scans it for the next gzip member boundary and owns the
  * members STARTING inside it ([[WarcResync]]). */
case class WarcFileSlice(path: String, start: Long, length: Long,
    resync: Boolean = false)

case class WarcInputPartition(slices: Seq[WarcFileSlice])
  extends InputPartition

class WarcReaderFactory(conf: Broadcast[SerializableConfiguration],
    schema: StructType, maxRecordBytes: Long,
    pushedFilters: Array[org.apache.spark.sql.sources.Filter] =
      Array.empty,
    decodeContentEncoding: Boolean = true)
  extends PartitionReaderFactory {

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] =
    new WarcPartitionReader(
      partition.asInstanceOf[WarcInputPartition].slices, conf.value.value,
      schema, maxRecordBytes, WarcRecordFilter.compile(pushedFilters),
      decodeContentEncoding)
}

/** Open a (possibly compressed) WARC as one stream:
  * `GZIPInputStream` reads concatenated members natively — the Common
  * Crawl record-per-member layout and a whole-file gzip look the same
  * to the walk — and `.warc.zst` decodes through zstd-jni's streaming
  * decoder with `setContinuous` so record-per-frame zstd archives
  * (the archive.org/warcio layout) concatenate the same way. Buffered
  * (the walk reads header lines byte-wise). */
object WarcFileOpener {
  def open(conf: Configuration, pathStr: String): java.io.InputStream =
    openSlice(conf, WarcFileSlice(pathStr, 0L, -1L))

  /** EOF after `limit` bytes of `in` — a record-range slice ends at a
    * record/member boundary, so the walk sees a clean end-of-stream
    * exactly where the next slice begins. */
  private final class BoundedInputStream(in: java.io.InputStream,
      limit: Long) extends java.io.InputStream {
    private var left = limit
    override def read(): Int =
      if (left <= 0) -1
      else { val b = in.read(); if (b >= 0) left -= 1; b }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (left <= 0) return -1
      val n = in.read(b, off, math.min(len.toLong, left).toInt)
      if (n > 0) left -= n
      n
    }
    override def skip(n: Long): Long = {
      val s = in.skip(math.min(n, left))
      left -= s
      s
    }
    override def close(): Unit = in.close()
  }

  /** Open a slice: seek to its start, bound to its length, then
    * decode — member-gzip is enterable at any member offset,
    * frame-zstd at any frame offset (both units are self-contained
    * compressed streams), plain at any byte. length < 0 = to EOF. */
  def openSlice(conf: Configuration, slice: WarcFileSlice)
      : java.io.InputStream = {
    if (slice.resync)
      return new java.io.BufferedInputStream(
        WarcResync.openSlice(conf, slice), 1 << 20)
    val path = new Path(slice.path)
    val fs = path.getFileSystem(conf)
    val raw = fs.open(path)
    if (slice.start > 0) raw.seek(slice.start)
    val bounded: java.io.InputStream =
      if (slice.length < 0) raw
      else new BoundedInputStream(raw, slice.length)
    val lower = path.getName.toLowerCase(java.util.Locale.ROOT)
    val decoded =
      if (lower.endsWith(".gz"))
        new java.util.zip.GZIPInputStream(bounded, 1 << 16)
          : java.io.InputStream
      else if (lower.endsWith(".zst") || lower.endsWith(".zstd")) {
        // record-per-frame archives are enterable at any frame offset
        // the .wcdx recorded — each frame is self-contained
        val z = new com.github.luben.zstd.ZstdInputStream(bounded)
        z.setContinuous(true) // multi-frame: keep reading at frame ends
        z: java.io.InputStream
      } else bounded
    new java.io.BufferedInputStream(decoded, 1 << 20)
  }
}

/** One WARC record, parsed. `httpStatus` < 0 and `httpContentType` /
  * `httpContentEncoding` null when the record is not
  * application/http. */
final class WarcRecordWalk(in: java.io.InputStream, fileName: String,
    needPayload: Boolean, needHttp: Boolean, maxRecordBytes: Long,
    pred: WarcRecordFilter.Compiled = WarcRecordFilter.acceptAll,
    decodeContentEncoding: Boolean = true,
    needHttpHeaders: Boolean = false) {

  var recType: String = _
  var recordId: String = _
  var refersTo: String = _
  var concurrentTo: String = _
  var url: String = _
  var warcDate: String = _
  var contentType: String = _
  var contentLength: Long = _
  var httpStatus: Int = -1
  var httpContentType: String = _
  var httpContentEncoding: String = _
  /** All HTTP header fields (names lowercased, repeats '\n'-joined)
    * — populated only when `needHttpHeaders`. */
  var httpHeaders: scala.collection.mutable.LinkedHashMap[String, String] = _
  var payload: Array[Byte] = _
  var recordsRead = 0L
  var payloadBytesSkipped = 0L

  /** Stream position (bytes consumed from `in`) — UNCOMPRESSED
    * offsets on a decoded stream; raw offsets on a plain file. */
  var pos = 0L

  /** Offset of the current record's version line (the enterable
    * point a CDX-style index records). */
  var recordStart = 0L

  // http_status/http_content_type predicates force the HTTP header
  // parse even when no http column is projected
  private val parseHttp = needHttp || pred.hasHttp || needHttpHeaders

  private val MaxLine = 64 * 1024
  private val lineBuf = new java.io.ByteArrayOutputStream(256)
  private var trash: Array[Byte] = _

  /** One CRLF (or bare-LF, tolerated) line as ISO-8859-1; null at
    * clean EOF BEFORE any byte of the line. Capped: an unbounded
    * "line" is a framing bug, not a header. */
  private def readLine(): String = {
    lineBuf.reset()
    var c = in.read()
    if (c < 0) return null
    pos += 1
    while (c >= 0 && c != '\n') {
      lineBuf.write(c)
      require(lineBuf.size() <= MaxLine,
        s"WARC header line exceeds $MaxLine B in $fileName")
      c = in.read()
      if (c >= 0) pos += 1
    }
    val n = lineBuf.size()
    val b = lineBuf.toByteArray
    val len = if (n > 0 && b(n - 1) == '\r') n - 1 else n
    new String(b, 0, len, "ISO-8859-1")
  }

  private def readFully(buf: Array[Byte], off: Int, len: Int): Unit = {
    var o = off
    while (o < off + len) {
      val r = in.read(buf, o, off + len - o)
      require(r > 0, s"truncated WARC block in $fileName")
      pos += r
      o += r
    }
  }

  private def skipFully(n: Long): Unit = {
    var rem = n
    while (rem > 0) {
      val s = in.skip(rem)
      if (s > 0) { pos += s; rem -= s }
      else {
        if (trash == null) trash = new Array[Byte](1 << 16)
        val r = in.read(trash, 0, math.min(rem, trash.length.toLong).toInt)
        require(r > 0, s"truncated WARC block in $fileName")
        pos += r
        rem -= r
      }
    }
  }

  /** RFC 9112 §7.1 chunked transfer decoding: hex-size[;ext] CRLF
    * chunk CRLF ... 0 CRLF [trailers] CRLF. Strict — a malformed
    * chunk frame rejects rather than returning a half-decoded body. */
  private def dechunk(raw: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(raw.length)
    var p = 0
    def line(): String = {
      val s = p
      while (p < raw.length && raw(p) != '\n') p += 1
      require(p < raw.length, s"truncated chunked body in $fileName")
      p += 1
      val e = if (p - 2 >= s && raw(p - 2) == '\r') p - 2 else p - 1
      new String(raw, s, e - s, "ISO-8859-1")
    }
    var done = false
    while (!done) {
      val sizeStr = line().takeWhile(_ != ';').trim
      require(sizeStr.nonEmpty &&
        sizeStr.forall(c => Character.digit(c, 16) >= 0),
        s"malformed chunk size '$sizeStr' in $fileName")
      val n = java.lang.Long.parseLong(sizeStr, 16)
      require(n >= 0 && n <= raw.length - p,
        s"chunk overruns the captured body in $fileName")
      if (n == 0) {
        // consume optional trailers up to the final blank line (or the
        // body's end — some captures truncate right after 0 CRLF)
        var t = if (p < raw.length) line() else ""
        while (t.nonEmpty && p < raw.length) t = line()
        done = true
      } else {
        out.write(raw, p, n.toInt)
        p += n.toInt
        val sep = line()
        require(sep.isEmpty, s"missing CRLF after chunk in $fileName")
      }
    }
    out.toByteArray
  }

  /** A block/body length that must be materialized: bounded by
    * maxRecordBytes upstream, but a user-raised cap must not let a
    * >2 GiB record wrap `toInt` into a negative allocation. */
  private def intLen(n: Long): Int = {
    require(n <= Int.MaxValue - 8,
      s"WARC record body of $n B exceeds the JVM array limit in " +
        s"$fileName (filter it out or lower maxRecordBytes)")
    n.toInt
  }

  /** Strict gunzip of a captured body: truncated or corrupt member
    * streams reject (EOFException/ZipException surface with the file
    * name) — a half-inflated page must not enter a corpus. */
  private def gunzipBody(raw: Array[Byte]): Array[Byte] =
    try {
      val z = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(raw), 8192)
      val out = new java.io.ByteArrayOutputStream(
        math.min(raw.length.toLong * 4, 1L << 20).toInt max 64)
      val buf = new Array[Byte](8192)
      var r = z.read(buf)
      while (r > 0) { out.write(buf, 0, r); r = z.read(buf) }
      out.toByteArray
    } catch {
      case e: java.io.IOException => throw new IllegalArgumentException(
        s"bad gzip Content-Encoding body in $fileName: ${e.getMessage}")
    }

  /** HTTP `deflate` is zlib (RFC 1950), but plenty of servers send
    * raw DEFLATE — sniff the 2-byte zlib header (CM=8, checksum
    * divisible by 31) and inflate accordingly; truncation rejects. */
  private def inflateBody(raw: Array[Byte]): Array[Byte] = {
    val zlib = raw.length >= 2 && (raw(0) & 0x0F) == 8 &&
      ((((raw(0) & 0xFF) << 8) | (raw(1) & 0xFF)) % 31 == 0)
    val inf = new java.util.zip.Inflater(!zlib)
    try {
      inf.setInput(raw)
      val out = new java.io.ByteArrayOutputStream(
        math.min(raw.length.toLong * 4, 1L << 20).toInt max 64)
      val buf = new Array[Byte](8192)
      var done = inf.finished()
      while (!done) {
        val n = inf.inflate(buf)
        if (n > 0) out.write(buf, 0, n)
        done = inf.finished()
        require(n > 0 || done,
          s"truncated deflate Content-Encoding body in $fileName")
      }
      out.toByteArray
    } catch {
      case e: java.util.zip.DataFormatException =>
        throw new IllegalArgumentException(
          s"bad deflate Content-Encoding body in $fileName: " +
            e.getMessage)
    } finally inf.end()
  }

  /** Decode a recognized content coding; unknown codings pass
    * through — `httpContentEncoding` lets the pipeline route them.
    * `br` decodes through the clean-room full-RFC 7932 decoder
    * ([[graft.operators.BrotliCodec]], static dictionary and all four
    * context modes included). VALID-but-out-of-subset brotli (the
    * non-RFC large-window extension, bodies past the bomb cap) throws
    * [[graft.operators.BrotliCodec.Unsupported]] and degrades like an
    * unknown coding — the body stays raw and `http_content_encoding`
    * stays "br" so downstream filters can route it; one such page
    * must not fail a 100 TB scan task (round-16 verdict #1). Genuinely
    * CORRUPT streams still reject with the file name rather than
    * emitting corrupt text. Multi-coding chains (rare, e.g.
    * "gzip, gzip") are left raw rather than half-decoded. */
  private def decodeCoding(enc: String, body: Array[Byte])
      : Array[Byte] = {
    val token = enc.trim.toLowerCase(java.util.Locale.ROOT)
    token match {
      case "gzip" | "x-gzip" => gunzipBody(body)
      case "deflate" => inflateBody(body)
      case "br" =>
        try graft.operators.BrotliCodec.decode(body)
        catch {
          case _: graft.operators.BrotliCodec.Unsupported => body
          case e: Exception => throw new IllegalArgumentException(
            s"bad brotli Content-Encoding body in $fileName: " +
              e.getMessage)
        }
      case _ => body
    }
  }

  /** Advance to the next MATCHING record; false at clean EOF. */
  def next(): Boolean = {
    while (true) {
      step() match {
        case 0 => return false // clean EOF
        case 1 => return true  // record emitted
        case _ => ()           // pushed-filter skip: walk on
      }
    }
    false
  }

  private def step(): Int = {
    // records are separated by CRLF CRLF (consumed here, leading)
    var pre = pos
    var line = readLine()
    while (line != null && line.isEmpty) { pre = pos; line = readLine() }
    if (line == null) return 0
    recordStart = pre
    require(line.startsWith("WARC/"),
      s"not a WARC version line in $fileName: '${line.take(40)}'")
    // named fields until the blank line; case-insensitive names,
    // folded continuations appended AND re-assigned to the stored
    // field (WARC 1.1 §4 — a folded WARC-Target-URI must not silently
    // drop its continuation text)
    recType = null; recordId = null; refersTo = null
    concurrentTo = null
    url = null; warcDate = null
    contentType = null; contentLength = -1L
    httpStatus = -1; httpContentType = null; httpContentEncoding = null
    httpHeaders = null
    payload = null
    var lastName: String = null
    var lastVal: String = null
    def setField(name: String, value: String): Unit = name match {
      case "warc-type" => recType = value
      case "warc-record-id" => recordId = value
      case "warc-refers-to" => refersTo = value
      case "warc-concurrent-to" => concurrentTo = value
      case "warc-target-uri" => url = value
      case "warc-date" => warcDate = value
      case "content-type" => contentType = value
      case "content-length" =>
        require(value.nonEmpty && value.forall(_.isDigit),
          s"non-numeric WARC Content-Length '$value' in $fileName")
        contentLength = value.toLong
      case _ => ()
    }
    line = readLine()
    while (line != null && line.nonEmpty) {
      if ((line(0) == ' ' || line(0) == '\t') && lastVal != null) {
        lastVal = lastVal + " " + line.trim
        setField(lastName, lastVal)
      } else {
        val c = line.indexOf(':')
        require(c > 0, s"malformed WARC field in $fileName: " +
          s"'${line.take(40)}'")
        val name = line.substring(0, c).trim
          .toLowerCase(java.util.Locale.ROOT)
        val value = line.substring(c + 1).trim
        setField(name, value)
        lastName = name
        lastVal = value
      }
      line = readLine()
    }
    require(line != null, s"WARC header truncated in $fileName")
    require(recType != null, s"WARC record missing WARC-Type in $fileName")
    require(contentLength >= 0,
      s"WARC record missing Content-Length in $fileName")
    require(contentLength <= maxRecordBytes,
      s"WARC record is $contentLength B > maxRecordBytes " +
        s"$maxRecordBytes in $fileName (raise the option)")
    // pushed rec_type/url predicates are decidable HERE, before a
    // single block byte is read: a responses-only pipeline skips every
    // request/warcinfo block in place (filters stay residual upstream)
    if (!pred.header(recType, url, warcDate)) {
      skipFully(contentLength)
      payloadBytesSkipped += contentLength
      return 2
    }
    val isHttp = contentType != null &&
      contentType.toLowerCase(java.util.Locale.ROOT)
        .startsWith("application/http")
    // pushed http_status/http_content_type predicates on a non-HTTP
    // record see (null, null) and reject, like the residual filter —
    // skip the whole block in place
    if (!isHttp && pred.hasHttp && !pred.http(-1, null)) {
      skipFully(contentLength)
      payloadBytesSkipped += contentLength
      return 2
    }
    if (isHttp && (parseHttp || needPayload)) {
      // HTTP-in-WARC: status line + headers, then the body. The
      // header section is read line-wise COUNTING consumed octets so
      // the body length is exact.
      var consumed = 0L
      def httpLine(): String = {
        lineBuf.reset()
        var c = in.read()
        require(c >= 0, s"truncated HTTP block in $fileName")
        pos += 1
        while (c >= 0 && c != '\n') {
          lineBuf.write(c)
          require(lineBuf.size() <= MaxLine,
            s"HTTP header line exceeds $MaxLine B in $fileName")
          c = in.read()
          if (c >= 0) pos += 1
        }
        consumed += lineBuf.size() + 1 // the '\n'
        val n = lineBuf.size()
        val b = lineBuf.toByteArray
        val len = if (n > 0 && b(n - 1) == '\r') n - 1 else n
        new String(b, 0, len, "ISO-8859-1")
      }
      val start = httpLine()
      // response: "HTTP/1.1 200 OK"; request: "GET /x HTTP/1.1"
      if (start.startsWith("HTTP/")) {
        val parts = start.split(" ", 3)
        if (parts.length >= 2 && parts(1).forall(_.isDigit) &&
            parts(1).nonEmpty)
          httpStatus = parts(1).toInt
      }
      var chunked = false
      if (needHttpHeaders)
        httpHeaders = scala.collection.mutable.LinkedHashMap.empty
      var h = httpLine()
      while (h.nonEmpty) {
        val c = h.indexOf(':')
        if (c > 0) {
          val hn = h.substring(0, c).trim
          val hv = h.substring(c + 1).trim
          if (hn.equalsIgnoreCase("content-type"))
            httpContentType = hv
          else if (hn.equalsIgnoreCase("content-encoding"))
            httpContentEncoding = hv
          else if (hn.equalsIgnoreCase("transfer-encoding") &&
              hv.toLowerCase(java.util.Locale.ROOT).contains("chunked"))
            chunked = true
          if (httpHeaders != null) {
            val key = hn.toLowerCase(java.util.Locale.ROOT)
            // repeats (Set-Cookie et al.) join losslessly with '\n'
            httpHeaders.get(key) match {
              case Some(prev) => httpHeaders(key) = prev + "\n" + hv
              case None => httpHeaders(key) = hv
            }
          }
        }
        h = httpLine()
      }
      require(consumed <= contentLength,
        s"HTTP headers overrun the WARC block in $fileName")
      val bodyLen = contentLength - consumed
      // second skip point: status + content-type are decided — a
      // pushed `http_status = 200` / content-type prefix skips the
      // 404/image bodies the query would discard, body unread
      if (pred.hasHttp && !pred.http(httpStatus, httpContentType)) {
        skipFully(bodyLen)
        payloadBytesSkipped += bodyLen
        return 2
      }
      if (needPayload) {
        val bl = intLen(bodyLen)
        payload = new Array[Byte](bl)
        readFully(payload, 0, bl)
        // crawls store HTTP bodies AS CAPTURED: a chunked response
        // keeps its transfer framing in the WARC block, and every
        // real reader de-chunks it (warcio's content_stream). The raw
        // body is already bounded by contentLength, so de-chunking is
        // an in-memory reframe — strict, like everything else here.
        // Content coding is decoded AFTER the transfer framing comes
        // off (RFC 9110 layering: transfer wraps content).
        if (chunked) payload = dechunk(payload)
        if (decodeContentEncoding && httpContentEncoding != null)
          payload = decodeCoding(httpContentEncoding, payload)
      } else {
        skipFully(bodyLen)
        payloadBytesSkipped += bodyLen
      }
    } else if (needPayload && !isHttp) {
      val cl = intLen(contentLength)
      payload = new Array[Byte](cl)
      readFully(payload, 0, cl)
    } else {
      skipFully(contentLength)
      payloadBytesSkipped += contentLength
    }
    recordsRead += 1
    1
  }
}

class WarcPartitionReader(slices: Seq[WarcFileSlice],
    conf: Configuration,
    schema: StructType, maxRecordBytes: Long,
    pred: WarcRecordFilter.Compiled = WarcRecordFilter.acceptAll,
    decodeContentEncoding: Boolean = true)
  extends PartitionReader[InternalRow] {

  private val needPayload = schema.fieldNames.contains("payload")
  private val needHttpHeaders =
    schema.fieldNames.contains("http_headers")
  private val needHttp = needPayload || needHttpHeaders ||
    schema.fieldNames.contains("http_status") ||
    schema.fieldNames.contains("http_content_type") ||
    schema.fieldNames.contains("http_content_encoding")
  private var fileIdx = 0
  private var in: java.io.InputStream = _
  private var walk: WarcRecordWalk = _
  private var fileName: String = _
  private var fileUtf8: UTF8String = _
  private var recordsLocal = 0L
  private var skippedLocal = 0L

  override def next(): Boolean = {
    while (true) {
      if (in == null) {
        if (fileIdx >= slices.length) return false
        fileName = new Path(slices(fileIdx).path).getName
        fileUtf8 = UTF8String.fromString(fileName)
        in = WarcFileOpener.openSlice(conf, slices(fileIdx))
        walk = new WarcRecordWalk(in, fileName, needPayload, needHttp,
          maxRecordBytes, pred, decodeContentEncoding, needHttpHeaders)
      }
      if (walk.next()) return true
      recordsLocal += walk.recordsRead
      skippedLocal += walk.payloadBytesSkipped
      in.close()
      in = null
      walk = null
      fileIdx += 1
    }
    false
  }

  private def utf8(s: String): UTF8String =
    if (s == null) null else UTF8String.fromString(s)

  // field ordinals resolved ONCE from the pruned schema — the row
  // builder is a tableswitch per column, not a per-row Seq of string
  // pattern-matches (the pcap ordinal-writer discipline)
  private val fieldIds: Array[Int] = schema.fieldNames.map {
    case "file" => 0
    case "rec_type" => 1
    case "record_id" => 2
    case "refers_to" => 3
    case "url" => 4
    case "warc_date" => 5
    case "content_type" => 6
    case "content_length" => 7
    case "http_status" => 8
    case "http_content_type" => 9
    case "http_content_encoding" => 10
    case "http_headers" => 11
    case "payload" => 12
    case "concurrent_to" => 13
    case other => throw new IllegalArgumentException(
      s"unknown warc column $other")
  }

  override def get(): InternalRow = {
    val vals = new Array[Any](fieldIds.length)
    var k = 0
    while (k < fieldIds.length) {
      vals(k) = (fieldIds(k): @annotation.switch) match {
        case 0 => fileUtf8
        case 1 => utf8(walk.recType)
        case 2 => utf8(walk.recordId)
        case 3 => utf8(walk.refersTo)
        case 13 => utf8(walk.concurrentTo)
        case 4 => utf8(walk.url)
        case 5 => utf8(walk.warcDate)
        case 6 => utf8(walk.contentType)
        case 7 => walk.contentLength
        case 8 => if (walk.httpStatus < 0) null else walk.httpStatus
        case 9 => utf8(walk.httpContentType)
        case 10 => utf8(walk.httpContentEncoding)
        case 11 =>
          if (walk.httpHeaders == null) null
          else {
            val n = walk.httpHeaders.size
            val ks = new Array[Any](n)
            val vs = new Array[Any](n)
            var j = 0
            walk.httpHeaders.foreach { case (hk, hv) =>
              ks(j) = UTF8String.fromString(hk)
              vs(j) = UTF8String.fromString(hv)
              j += 1
            }
            new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
              new org.apache.spark.sql.catalyst.util.GenericArrayData(ks),
              new org.apache.spark.sql.catalyst.util.GenericArrayData(vs))
          }
        case 12 => walk.payload
      }
      k += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      vals)
  }

  private def totalRecords: Long =
    recordsLocal + (if (walk != null) walk.recordsRead else 0L)
  private def totalSkipped: Long =
    skippedLocal + (if (walk != null) walk.payloadBytesSkipped else 0L)

  override def currentMetricsValues(): Array[CustomTaskMetric] = Array(
    new CustomTaskMetric {
      override def name(): String = "recordsRead"
      override def value(): Long = totalRecords
    },
    new CustomTaskMetric {
      override def name(): String = "payloadBytesSkipped"
      override def value(): Long = totalSkipped
    })

  override def close(): Unit = {
    WarcReadStats.recordsRead.add(totalRecords)
    WarcReadStats.payloadBytesSkipped.add(totalSkipped)
    if (in != null) { in.close(); in = null }
    walk = null
    recordsLocal = 0
    skippedLocal = 0
  }
}
