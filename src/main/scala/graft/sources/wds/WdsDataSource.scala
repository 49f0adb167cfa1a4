package graft.sources.wds

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.metric.{CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{BinaryType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.operators.Multimodal.TarCodec
import graft.sources.{BinPack, FileSource, HadoopConfBroadcast, ScanBuild, StatsScan}

/** WebDataset-style tar-shard source + sink (`format("wds")`) — the
  * layout multimodal training actually reads: samples packed as
  * consecutive tar entries sharing a key stem ("<key>.jpg" +
  * "<key>.txt" + ...), one `.tar` per shard, sequential-read friendly.
  *
  * WRITE: the DataFrame must carry a `key` STRING column; EVERY other
  * column must be BINARY, and each non-null binary cell becomes the
  * entry `<key>.<columnName>`. Keys must not contain '.' or '/' (the
  * WebDataset first-dot convention reserves them — a dotted key would
  * not round-trip). One shard per task by default — shard size
  * controlled by the usual repartition before the write — or rolled
  * at `maxCount` samples / `maxSize` tar bytes per shard (WebDataset
  * ShardWriter's own knobs: sequence-suffixed names, a sample never
  * splits across shards, and ALL of a task's shards stay
  * `.inprogress` until task commit). Rows stream through
  * [[TarCodec.writeEntry]] with constant memory per task.
  * Shard names carry the write job's
  * query id (`shard-<job>-<partition>-<task>.tar`), so appends from
  * DIFFERENT sessions can never silently collide with prior shards —
  * a rename onto an existing name throws instead of replacing. Task
  * output commits by atomic rename from an `.inprogress` name; aborts
  * delete it — no partial shard becomes visible. The sink also writes
  * STREAMING (`writeStream.format("wds")`): each epoch's shards are
  * named by (job, epoch, partition) — no task id — so a replayed
  * micro-batch after a checkpoint restart rewrites the SAME shard
  * names idempotently (exactly-once output for deterministic input,
  * the epoch-keyed idempotent-sink contract).
  *
  * READ: one row per tar entry — (shard STRING, key STRING, ext
  * STRING, data BINARY) — with sample regrouping left to the query
  * (`groupBy(key)` or a pivot), because WebDataset extension sets vary
  * per lake and a fixed wide schema would lie. key/ext split at the
  * FIRST dot of the basename (the WebDataset convention — extensions
  * may be compound: "sample.seg.png" -> ("sample", "seg.png")).
  * Shards are whole-file partitions (a tar has no splittable framing),
  * bin-packed to `spark.sql.files.maxPartitionBytes` exactly like the
  * pcap source (greedy first-fit decreasing — a lake of a million
  * 10 MB shards plans into balanced tasks, not a million of them);
  * `.tar.gz`/`.tgz` shards decompress through the Hadoop codec
  * factory and `.tar.zst` through zstd-jni's streaming decoder. The
  * tar walk STREAMS: each 512-byte header is read, checksum-verified,
  * and the entry payload is either streamed into the row or — when
  * the pruned schema excludes `data` — skipped without materializing
  * (a key/ext listing reads headers only; on a plain `.tar` the skip
  * is a positional seek past the payload). Simple key/ext predicates
  * push into the walk too, skipping non-matching payloads (filters
  * stay residual — a byte-skipping optimization, never a semantic
  * contract), and a bare COUNT(*) over a sink-written lake answers
  * from `_<shard>.widx` sidecars without opening a shard. Constant
  * memory per task, no shard-size ceiling. Per-scan custom metrics
  * (`entriesRead`, `payloadBytesSkipped`) surface on the scan node.
  */
class WdsDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "wds"
  override def supportsExternalMetadata(): Boolean = false

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WdsTable.ReadSchema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new WdsTable(new CaseInsensitiveStringMap(properties))
}

object WdsTable {
  val ReadSchema: StructType = new StructType()
    .add("shard", StringType, nullable = false)
    .add("key", StringType, nullable = false)
    .add("ext", StringType, nullable = false)
    .add("data", BinaryType, nullable = false)

  def paths(options: CaseInsensitiveStringMap): Seq[String] =
    graft.sources.PathOptions.paths(options, "wds")

  /** wds's part of the shared data-file rule: none; its `_<shard>.widx`
    * sidecars are hidden names. */
  val Rule: FileSource.Rule = FileSource.Rule("wds")

  def listDataFiles(options: CaseInsensitiveStringMap,
      conf: Configuration): Seq[FileStatus] =
    FileSource.list(options, conf, Rule).files

  /** key/ext split at the FIRST dot of the basename (the WebDataset
    * convention — extensions are compound: "a/sample.seg.png" ->
    * ("a/sample", "seg.png")); a dot-free or dot-leading basename is
    * all key. */
  def splitKeyExt(name: String): (String, String) = {
    val base = name.lastIndexOf('/') + 1
    val dot = name.indexOf('.', base)
    if (dot < 0 || dot == base) (name, "")
    else (name.substring(0, dot), name.substring(dot + 1))
  }
}

class WdsTable(options: CaseInsensitiveStringMap) extends Table
  with SupportsRead with SupportsWrite {

  override def name(): String =
    s"wds(${WdsTable.paths(options).mkString(",")})"
  override def schema(): StructType = WdsTable.ReadSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE,
      TableCapability.ACCEPT_ANY_SCHEMA)

  override def newScanBuilder(scanOptions: CaseInsensitiveStringMap)
      : ScanBuilder =
    new WdsScanBuilder(FileSource.merged(options, scanOptions))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WdsWriteBuilder(FileSource.merged(options, info.options()), info)
}

// --------------------------------------------------------------- read side

/** Executor-visible read counters — the spec seam proving the pruned
  * walk really skips payload bytes; the DSv2 custom metrics surface the
  * same numbers on the scan node. */
object WdsReadStats {
  val entriesRead = new java.util.concurrent.atomic.LongAdder
  val payloadBytesSkipped = new java.util.concurrent.atomic.LongAdder
}

class WdsEntriesMetric extends CustomSumMetric {
  override def name(): String = "entriesRead"
  override def description(): String = "tar entries read"
}

class WdsSkippedBytesMetric extends CustomSumMetric {
  override def name(): String = "payloadBytesSkipped"
  override def description(): String =
    "entry payload bytes skipped (data column pruned)"
}

/** Entry-level predicate pushdown: simple key/ext comparisons are
  * evaluated DURING the tar walk, so a non-matching entry's payload
  * is skipped instead of materialized — reading only the captions of
  * an image+caption lake never allocates a single image byte. All
  * filters stay residual (Spark re-checks them): the pushdown is a
  * byte-skipping optimization, never a semantic contract — the pcap
  * packet-filter discipline. */
object WdsEntryFilter {
  import org.apache.spark.sql.sources._

  type Predicate = (String, String) => Boolean
  val acceptAll: Predicate = (_, _) => true

  def supported(f: Filter): Boolean = f match {
    case EqualTo(a, _: String) => a == "key" || a == "ext"
    case In(a, vs) => (a == "key" || a == "ext") &&
      vs.forall(_.isInstanceOf[String])
    case StringStartsWith(a, _) => a == "key" || a == "ext"
    case _ => false
  }

  def compile(filters: Array[Filter]): Predicate = {
    if (filters.isEmpty) return acceptAll
    val preds: Seq[Predicate] = filters.toSeq.map {
      case EqualTo(a, v: String) =>
        if (a == "key") (k: String, _: String) => k == v
        else (_: String, e: String) => e == v
      case In(a, vs) =>
        val set = vs.map(_.asInstanceOf[String]).toSet
        if (a == "key") (k: String, _: String) => set(k)
        else (_: String, e: String) => set(e)
      case StringStartsWith(a, p) =>
        if (a == "key") (k: String, _: String) => k.startsWith(p)
        else (_: String, e: String) => e.startsWith(p)
      case other => throw new IllegalArgumentException(
        s"unsupported pushed filter $other")
    }
    (k, e) => preds.forall(_(k, e))
  }
}

class WdsScanBuilder(options: CaseInsensitiveStringMap)
  extends ScanBuilder with SupportsPushDownRequiredColumns
  with org.apache.spark.sql.connector.read.SupportsPushDownFilters
  with SupportsPushDownAggregates {

  private var required: StructType = WdsTable.ReadSchema
  private var pushedCount: Option[Long] = None
  private var pushed: Array[org.apache.spark.sql.sources.Filter] =
    Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(
      filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    if (options.getBoolean("pushdown", true))
      pushed = filters.filter(WdsEntryFilter.supported)
    filters // everything stays post-scan too (residual re-check)
  }

  override def pushedFilters()
      : Array[org.apache.spark.sql.sources.Filter] = pushed

  // ----- metadata-only COUNT(*) (the pcap sidecar discipline) ------------
  // "How many entries landed?" is the triage query every lake owner
  // runs; with `_<shard>.widx` sidecars (written by the sink at task
  // commit) it answers from the listing alone — O(shards), not
  // O(bytes). Any shard missing a sidecar (foreign tars, hand-built
  // fixtures) declines and the streaming walk counts for real.
  // `option("countPushdown","false")` disables.
  // one Hadoop conf, one listing and one sidecar-count fold per scan
  // build, shared with the scan this builder produces
  private val scanBuild = new ScanBuild(options, WdsTable.Rule)

  private lazy val sidecarCount: Option[Long] =
    FileSource.sumCounts(scanBuild.files)(st =>
      WdsIndex.readEntries(st.getPath.getFileSystem(scanBuild.conf), st.getPath))

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = pushAggregation(agg)

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    import org.apache.spark.sql.connector.expressions.aggregate.CountStar
    if (!options.getBoolean("countPushdown", true)) return false
    // a pushed entry filter means the sidecar totals over-count;
    // Catalyst normally never offers the aggregate across a Filter
    // (ours are residual), but guard anyway
    if (pushed.nonEmpty) return false
    if (agg.groupByExpressions.nonEmpty ||
        agg.aggregateExpressions.toSeq.length != 1 ||
        !agg.aggregateExpressions.head.isInstanceOf[CountStar]) return false
    pushedCount = sidecarCount
    pushedCount.isDefined
  }

  override def build(): Scan = pushedCount match {
    case Some(n) =>
      new StatsScan(Seq(n), s"WdsStatsScan(count=$n, fromSidecars=true)")
    case None =>
      new WdsScan(required, options, pushed, scanBuild, () => sidecarCount)
  }
}

/** The tar-walking scan over its builder's one conf and listing;
  * `sidecarCount` is the builder's fold of the shards' `.widx` counts. */
class WdsScan(requiredSchema: StructType,
    options: CaseInsensitiveStringMap,
    pushedFilters: Array[org.apache.spark.sql.sources.Filter],
    build: ScanBuild, sidecarCount: () => Option[Long]) extends Scan with Batch
  with SupportsReportStatistics {

  override def readSchema(): StructType = requiredSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"WdsScan(columns=[${requiredSchema.fieldNames.mkString(",")}], " +
      s"pushedFilters=[${pushedFilters.mkString(",")}])"

  /** Catalyst-visible size (summed shard bytes) and — when EVERY
    * shard has a `.widx` sidecar and no entry filter is pushed — the
    * exact row count from the sidecars, so a small lake joined
    * against a big relation plans a static broadcast instead of
    * waiting for AQE to rescue it. */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      private val bytes = build.files.map(_.getLen).sum
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
    Array(new WdsEntriesMetric, new WdsSkippedBytesMetric)

  /** Whole-shard units (tar has no splittable framing: no central
    * directory, sizes only in per-entry headers), bin-packed to
    * the partition target by best-fit decreasing
    * ([[graft.sources.BinPack]], O(n log n) — million-shard-lake
    * safe) — the pcap discipline: a lake of many small shards plans
    * into balanced tasks; a shard larger than the target gets its own
    * task. */
  override def planInputPartitions(): Array[InputPartition] = {
    val target = BinPack.adaptiveTarget(options, build.files.map(_.getLen).sum)
    val maxBytes = target.maxBytes
    // OPT-IN byte-range splitting of big PLAIN .tar shards with
    // reader-side 512-block header resync (WdsResync). Opt-in, not
    // default: tar's framing cannot distinguish an embedded tar
    // payload (a sample whose data IS a tar) from the outer stream
    // with certainty — a shard lake that stores tar blobs as samples
    // must stay on whole-file planning. Compressed shards cannot
    // split regardless (single-stream codecs).
    val resync = options.getBoolean("resyncSplit", false)
    val (big, packable) = build.files.partition { f =>
      resync && f.getLen > maxBytes &&
        f.getPath.getName.toLowerCase(java.util.Locale.ROOT)
          .endsWith(".tar")
    }
    val ranged = big.flatMap { f =>
      val n = ((f.getLen + maxBytes - 1) / maxBytes).toInt
      (0 until n).map { k =>
        val start = k * maxBytes
        WdsInputPartition(Seq(WdsSlice(f.getPath.toString, start,
          math.min(maxBytes, f.getLen - start)))): InputPartition
      }
    }
    val files = packable.map(f => f.getPath.toString -> f.getLen)
    (target.pack(files)
      .map(b => WdsInputPartition(b.map(p => WdsSlice(p, 0L, -1L)))
        : InputPartition) ++ ranged).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new WdsReaderFactory(build.broadcast,
      requiredSchema,
      options.getLong("maxEntryBytes", 1L << 30),
      pushedFilters)
}

/** One read unit of a shard: whole file (start 0, length -1) or a
  * raw byte range of a plain .tar that the reader resyncs
  * ([[WdsResync]]). */
case class WdsSlice(path: String, start: Long, length: Long)

/** Shards of one task. Serialized to executors; paths + ranges only. */
case class WdsInputPartition(slices: Seq[WdsSlice]) extends InputPartition

class WdsReaderFactory(conf: Broadcast[SerializableConfiguration],
    schema: StructType,
    maxEntryBytes: Long,
    pushedFilters: Array[org.apache.spark.sql.sources.Filter] =
      Array.empty) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] =
    new WdsPartitionReader(
      partition.asInstanceOf[WdsInputPartition].slices, conf.value.value,
      schema, maxEntryBytes, WdsEntryFilter.compile(pushedFilters))
}

/** Streaming ustar walk over one open shard stream: headers are read
  * and checksum-verified one at a time; entry payloads materialize
  * ONLY when `needData`, otherwise they are skipped in place —
  * constant memory regardless of shard size. Shared by the batch
  * [[WdsPartitionReader]] and the continuous-ingestion
  * [[graft.streaming.WdsStream]] (one walk, one set of guards).
  * Header validation (ustar magic + checksum) matches
  * [[TarCodec.decode]] so corrupt shards reject identically. */
final class WdsTarWalk(in: java.io.InputStream, shardName: String,
    needData: Boolean, maxEntryBytes: Long,
    pred: WdsEntryFilter.Predicate = WdsEntryFilter.acceptAll) {

  private val hdr = new Array[Byte](512)
  private var trash: Array[Byte] = _
  var key: String = _
  var ext: String = _
  var data: Array[Byte] = _
  var entriesRead = 0L
  var payloadBytesSkipped = 0L

  private def readFully(buf: Array[Byte], len: Int): Unit = {
    var off = 0
    while (off < len) {
      val r = in.read(buf, off, len - off)
      require(r > 0, s"truncated tar stream in $shardName")
      off += r
    }
  }

  /** Skip without materializing: on a plain .tar the buffered FS
    * stream's skip is a positional seek past the payload; codec
    * streams decompress-and-discard (the format cannot do better). */
  private def skipFully(n: Long): Unit = {
    var rem = n
    while (rem > 0) {
      val s = in.skip(rem)
      if (s > 0) rem -= s
      else {
        if (trash == null) trash = new Array[Byte](1 << 16)
        val r = in.read(trash, 0, math.min(rem, trash.length.toLong).toInt)
        require(r > 0, s"truncated tar entry in $shardName")
        rem -= r
      }
    }
  }

  /** Advance to the next MATCHING entry; false at the shard's end
    * marker. Entries rejected by the pushed predicate have their
    * payloads skipped in place (never materialized), whatever the
    * schema asked for. */
  def next(): Boolean = {
    while (true) {
      readFully(hdr, 512)
      if (hdr(0) == 0) {
        // end marker: two zero blocks
        readFully(hdr, 512)
        var i = 0
        while (i < 512) {
          require(hdr(i) == 0, s"malformed tar end marker in $shardName")
          i += 1
        }
        return false
      }
      require(new String(hdr, 257, 5, "US-ASCII") == "ustar",
        s"not a ustar header in $shardName")
      var sum = 0L
      var i = 0
      while (i < 512) {
        sum += (if (i >= 148 && i < 156) ' '.toByte else hdr(i)) & 0xFF
        i += 1
      }
      val stored = java.lang.Long.parseLong(
        new String(hdr, 148, 6, "US-ASCII").trim, 8)
      require(stored == sum, s"tar checksum mismatch in $shardName")
      val nameEnd = (0 until 100).find(hdr(_) == 0).getOrElse(100)
      var name = new String(hdr, 0, nameEnd, "US-ASCII")
      // POSIX ustar (version "00") stores the directory part of
      // >100-char paths in the prefix field at 345; GNU tar (version
      // " \0") reuses those bytes for atime/ctime, so gate on version
      // or a foreign GNU shard's long paths would grow garbage prefixes
      if (hdr(263) == '0' && hdr(264) == '0' && hdr(345) != 0) {
        val pEnd = (345 until 500).find(hdr(_) == 0).getOrElse(500)
        name = new String(hdr, 345, pEnd - 345, "US-ASCII") + "/" + name
      }
      val sizeStr = new String(hdr, 124, 12, "US-ASCII")
        .takeWhile(c => c >= '0' && c <= '7')
      val size = java.lang.Long.parseLong(sizeStr, 8)
      require(size >= 0 && size <= maxEntryBytes && size <= Int.MaxValue,
        s"tar entry $name is $size B > maxEntryBytes $maxEntryBytes " +
          "(raise the option for jumbo entries)")
      val padded = ((size + 511) / 512) * 512
      // only regular files become sample entries: foreign shards carry
      // directory entries ('5'), PAX extended headers ('x'/'g'), GNU
      // longname/longlink blocks ('L'/'K'), symlinks ('2') — none of
      // those is sample data, and parsing one as (key, ext, data)
      // would silently corrupt keys. Skip the entry AND its payload.
      val typeflag = hdr(156)
      if (typeflag != '0' && typeflag != 0) {
        skipFully(padded)
        payloadBytesSkipped += size
      } else {
      val (k, e) = WdsTable.splitKeyExt(name)
      if (!pred(k, e)) {
        skipFully(padded)
        payloadBytesSkipped += size
      } else {
        if (needData) {
          data = new Array[Byte](size.toInt)
          readFully(data, size.toInt)
          skipFully(padded - size)
        } else {
          skipFully(padded)
          payloadBytesSkipped += size
        }
        key = k
        ext = e
        entriesRead += 1
        return true
      }
      }
    }
    false
  }
}

/** Per-task reader: the streaming walk over each bin-packed shard —
  * constant memory per task regardless of shard size (the whole-shard
  * buffering this replaced peaked at ~2× shard size). */
class WdsPartitionReader(slices: Seq[WdsSlice], conf: Configuration,
    schema: StructType, maxEntryBytes: Long,
    pred: WdsEntryFilter.Predicate = WdsEntryFilter.acceptAll)
  extends PartitionReader[InternalRow] {

  private val needData = schema.fieldNames.contains("data")
  private var fileIdx = 0
  private var in: java.io.InputStream = _
  private var walk: WdsTarWalk = _
  private var shardName: String = _
  private var entriesLocal = 0L
  private var skippedLocal = 0L

  override def next(): Boolean = {
    while (true) {
      if (in == null) {
        if (fileIdx >= slices.length) return false
        val slice = slices(fileIdx)
        shardName = new Path(slice.path).getName
        in =
          if (slice.length < 0) graft.sources.FileSource.open(conf, slice.path)
          else WdsResync.openSlice(conf, slice)
        walk = new WdsTarWalk(in, shardName, needData, maxEntryBytes, pred)
      }
      if (walk.next()) return true
      entriesLocal += walk.entriesRead
      skippedLocal += walk.payloadBytesSkipped
      in.close()
      in = null
      walk = null
      fileIdx += 1
    }
    false
  }

  override def get(): InternalRow =
    InternalRow.fromSeq(schema.fieldNames.toSeq.map {
      case "shard" => UTF8String.fromString(shardName)
      case "key" => UTF8String.fromString(walk.key)
      case "ext" => UTF8String.fromString(walk.ext)
      case "data" => walk.data
    })

  private def totalEntries: Long =
    entriesLocal + (if (walk != null) walk.entriesRead else 0L)
  private def totalSkipped: Long =
    skippedLocal + (if (walk != null) walk.payloadBytesSkipped else 0L)

  override def currentMetricsValues(): Array[CustomTaskMetric] = Array(
    new CustomTaskMetric {
      override def name(): String = "entriesRead"
      override def value(): Long = totalEntries
    },
    new CustomTaskMetric {
      override def name(): String = "payloadBytesSkipped"
      override def value(): Long = totalSkipped
    })

  override def close(): Unit = {
    WdsReadStats.entriesRead.add(totalEntries)
    WdsReadStats.payloadBytesSkipped.add(totalSkipped)
    if (in != null) { in.close(); in = null }
    walk = null
    entriesLocal = 0
    skippedLocal = 0
  }
}

// -------------------------------------------------------------- write side

class WdsWriteBuilder(options: CaseInsensitiveStringMap,
    info: LogicalWriteInfo) extends WriteBuilder
  with SupportsTruncate {

  private var truncateFirst = false

  // mode("overwrite") arrives as truncate(): pre-existing data shards
  // that are NOT part of this write are deleted at BATCH COMMIT time
  // (after every task committed its own shard). '_'-prefixed marker
  // files (which the reader also ignores) survive the sweep. An
  // aborted job leaves the old data intact; a concurrent reader
  // listing between the first task commit and the batch commit can
  // observe a mix of old and new shards — the visibility window of
  // any rename-based truncate-then-append.
  override def truncate(): WriteBuilder = { truncateFirst = true; this }

  override def build(): Write = new Write {
    // WebDataset ShardWriter's rolling knobs: samples per shard and
    // (approximate, pre-compression) tar bytes per shard; unset = one
    // shard per task, size controlled by the upstream repartition
    private def rollCaps: (Long, Long) = (
      options.getLong("maxCount", Long.MaxValue),
      options.getLong("maxSize", Long.MaxValue))

    private def validated: (String, Int, Seq[(String, Int)], String) = {
      val schema = info.schema()
      val keyIdx = schema.fieldNames.indexOf("key")
      if (keyIdx < 0 || schema.fields(keyIdx).dataType != StringType)
        throw new IllegalArgumentException(
          "wds write requires a key STRING column; got " +
            schema.simpleString)
      val binCols = schema.fields.zipWithIndex.filter(_._2 != keyIdx)
      binCols.foreach { case (f, _) =>
        if (f.dataType != BinaryType)
          throw new IllegalArgumentException(
            s"wds write: column ${f.name} must be BINARY (it becomes " +
              s"the <key>.${f.name} entry); got ${f.dataType.simpleString}")
      }
      val dir = WdsTable.paths(options) match {
        case Seq(one) => one
        case other => throw new IllegalArgumentException(
          s"wds write requires exactly one output path; got $other")
      }
      // shard names carry the write job's identity so appends from a
      // FRESH session can never collide with an earlier session's
      // shards (task ids restart per application)
      val jobTag = Option(info.queryId()).filter(_.nonEmpty)
        .getOrElse(java.util.UUID.randomUUID().toString)
        .replaceAll("[^0-9a-fA-F]", "").take(8)
      (dir, keyIdx, binCols.map { case (f, i) => (f.name, i) }.toSeq, jobTag)
    }

    override def toBatch: BatchWrite = {
      val (dir, keyIdx, binCols, jobTag) = validated
      val (maxCount, maxSize) = rollCaps
      new WdsBatchWrite(dir, keyIdx, binCols, truncateFirst, jobTag,
        maxCount, maxSize)
    }

    override def toStreaming: StreamingWrite = {
      if (truncateFirst) throw new IllegalArgumentException(
        "wds streaming sink is append-only (complete/truncate modes " +
          "would rewrite every prior epoch's shards)")
      val (dir, keyIdx, binCols, jobTag) = validated
      val (maxCount, maxSize) = rollCaps
      new WdsStreamingWrite(dir, keyIdx, binCols, jobTag, maxCount, maxSize)
    }
  }
}

class WdsBatchWrite(dir: String, keyIdx: Int,
    binCols: Seq[(String, Int)], truncateFirst: Boolean, jobTag: String,
    maxCount: Long, maxSize: Long)
  extends BatchWrite {

  private val conf = HadoopConfBroadcast(SparkSession.active)

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory =
    new WdsDataWriterFactory(dir, keyIdx, binCols, conf, jobTag,
      maxCount, maxSize)

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    if (truncateFirst) {
      // overwrite semantics: once every task's shards are committed,
      // drop the data-shard survivors of previous writes (files not in
      // THIS write's commit messages); '_'-prefixed markers — which
      // the reader skips too — are preserved
      val mine = messages.collect {
        case WdsWriteCommitted(ps, _) => ps.map(new Path(_).getName)
      }.flatten.toSet
      val dp = new Path(dir)
      val fs = dp.getFileSystem(conf.value.value)
      if (fs.exists(dp))
        fs.listStatus(dp).foreach { st =>
          val n = st.getPath.getName
          val staleData = !n.startsWith(".") && !n.startsWith("_") &&
            !mine.contains(n)
          // a replaced shard's .widx sidecar goes with it; other
          // '_'-prefixed markers (_SUCCESS etc.) survive the sweep
          val staleIdx = WdsIndex.shardOfSidecar(n)
            .exists(shard => !mine.contains(shard))
          if (st.isFile && (staleData || staleIdx))
            fs.delete(st.getPath, false)
        }
    }

  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

class WdsDataWriterFactory(dir: String, keyIdx: Int,
    binCols: Seq[(String, Int)], conf: Broadcast[SerializableConfiguration],
    jobTag: String, maxCount: Long, maxSize: Long)
  extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] =
    new WdsShardWriter(dir,
      f"shard-$jobTag-$partitionId%05d-$taskId",
      keyIdx, binCols, conf.value.value, replaceOnCommit = false,
      maxCount, maxSize)
}

// ---------------------------------------------------------- streaming sink

/** Epoch-keyed idempotent shard export: each micro-batch's shards are
  * named by (job, epoch, partition) — NO task id — so a replayed
  * epoch after a checkpoint restart rewrites the same names with the
  * same deterministic content instead of duplicating. Every shard
  * still commits by atomic rename, so a reader never observes a
  * partial tar; a crashed epoch's already-committed shards are
  * replaced in place when the epoch re-runs. */
class WdsStreamingWrite(dir: String, keyIdx: Int,
    binCols: Seq[(String, Int)], jobTag: String,
    maxCount: Long, maxSize: Long) extends StreamingWrite {

  private val conf = HadoopConfBroadcast(SparkSession.active)

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory =
    new WdsStreamingWriterFactory(dir, keyIdx, binCols, conf, jobTag,
      maxCount, maxSize)

  // shard visibility is per-task atomic rename; the streaming engine's
  // offset log plus the idempotent epoch-keyed names provide
  // end-to-end exactly-once, so epoch commit needs no extra action
  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = ()
}

class WdsStreamingWriterFactory(dir: String, keyIdx: Int,
    binCols: Seq[(String, Int)], conf: Broadcast[SerializableConfiguration],
    jobTag: String, maxCount: Long, maxSize: Long)
  extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : DataWriter[InternalRow] =
    // FINAL names are (job, epoch, partition) — no task id — for
    // idempotent epoch replay; the TMP path carries the task id so a
    // speculative or zombie attempt of the same partition can never
    // interleave bytes into the attempt the commit coordinator picks
    // (the batch path gets this for free by keeping taskId in names)
    new WdsShardWriter(dir,
      f"shard-$jobTag-e$epochId%06d-p$partitionId%05d",
      keyIdx, binCols, conf.value.value, replaceOnCommit = true,
      maxCount, maxSize, tmpTag = s".t$taskId")
}

/** Per-shard `_<shard>.widx` sidecars (entry + sample counts), the
  * `.tsidx` discipline applied to WebDataset: written by the sink
  * AFTER the shard's rename (a reader listing mid-write sees at worst
  * a shard without stats, never stats for a missing shard), skipped
  * by the entry listing ('_' prefix), and folded by the scan builder
  * to answer COUNT(*) from the listing alone — O(shards), not
  * O(bytes). Any shard without a sidecar declines the pushdown. */
object WdsIndex {
  def sidecarPath(shard: Path): Path =
    new Path(shard.getParent, s"_${shard.getName}.widx")

  def shardOfSidecar(name: String): Option[String] =
    if (name.startsWith("_") && name.endsWith(".widx"))
      Some(name.substring(1, name.length - 5))
    else None

  def write(fs: org.apache.hadoop.fs.FileSystem, shard: Path,
      entries: Long, samples: Long): Unit = {
    val out = fs.create(sidecarPath(shard), true)
    out.write(s"""{"entries":$entries,"samples":$samples}"""
      .getBytes("US-ASCII"))
    out.close()
  }

  private val EntriesRe = """"entries"\s*:\s*(\d+)""".r

  def readEntries(fs: org.apache.hadoop.fs.FileSystem, shard: Path)
      : Option[Long] =
    try {
      val p = sidecarPath(shard)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val buf = new Array[Byte](256)
        val n = math.max(in.read(buf), 0)
        in.close()
        EntriesRe.findFirstMatchIn(new String(buf, 0, n, "US-ASCII"))
          .map(_.group(1).toLong)
      }
    } catch { case _: Exception => None }
}

/** The tar shard(s) of one task, streamed row-by-row (constant
  * memory). By default one shard per task; with `maxCount` (samples
  * per shard) or `maxSize` (tar bytes per shard) set, the writer
  * ROLLS to a new sequence-suffixed shard when a cap would be
  * exceeded — WebDataset's own ShardWriter knobs, so shard size is
  * controlled at the sink instead of by the upstream repartition. A
  * sample's entries never split across shards (rolling decides at row
  * granularity — the WebDataset grouping contract). All rolled shards
  * stay `.inprogress` until TASK COMMIT, then rename in sequence —
  * an aborted task leaves nothing visible. `replaceOnCommit`
  * distinguishes the batch contract (same-named shard = a DIFFERENT
  * job's data -> throw, never silently replace) from the streaming
  * one (same-named shard = this query's own epoch replay -> replace
  * idempotently). */
class WdsShardWriter(dir: String, baseName: String, keyIdx: Int,
    binCols: Seq[(String, Int)], conf: Configuration,
    replaceOnCommit: Boolean,
    maxCount: Long = Long.MaxValue,
    maxSize: Long = Long.MaxValue,
    tmpTag: String = "") extends DataWriter[InternalRow] {

  private val fs = new Path(dir).getFileSystem(conf)
  // seq 0 keeps the plain name (the common no-roll case reads exactly
  // as before); rolled shards append -s00001, -s00002, ...
  private def nameFor(seq: Int): String =
    if (seq == 0) s"$baseName.tar" else f"$baseName-s$seq%05d.tar"
  private var seq = 0
  private var out: java.io.OutputStream = _
  private var curName: String = _
  private var samplesInShard = 0L
  private var entriesInShard = 0L
  private var bytesInShard = 0L
  // (name, entries, samples) awaiting rename at task commit
  private val closed = Seq.newBuilder[(String, Long, Long)]
  // shards already renamed by a commit() in progress: a mid-commit
  // failure aborts the task, and abort() must remove these too or a
  // retried task (new task id -> new names) would duplicate their
  // samples in the lake — the multi-shard analogue of the one-rename
  // atomicity the no-roll writer gets for free
  private val renamed = scala.collection.mutable.ArrayBuffer.empty[Path]
  private var rows = 0L

  private def tmpOf(name: String) = new Path(dir, s".$name$tmpTag.inprogress")
  private def finalOf(name: String) = new Path(dir, name)

  private def openNext(): Unit = {
    curName = nameFor(seq)
    seq += 1
    out = fs.create(tmpOf(curName), true)
    samplesInShard = 0
    entriesInShard = 0
    bytesInShard = 0
  }

  private def ensureOpen(): Unit = if (out == null) openNext()

  private def closeCurrent(): Unit = {
    TarCodec.endArchive(out)
    out.close()
    out = null
    closed += ((curName, entriesInShard, samplesInShard))
  }

  override def write(row: InternalRow): Unit = {
    if (row.isNullAt(keyIdx))
      throw new IllegalArgumentException("wds key must not be null")
    val key = row.getUTF8String(keyIdx).toString
    if (key.isEmpty || key.indexOf('.') >= 0 || key.indexOf('/') >= 0)
      throw new IllegalArgumentException(
        "wds key must be non-empty and contain no '.' or '/' (the " +
          s"WebDataset first-dot convention cannot round-trip them): " +
          s"'$key'")
    // tar footprint of this sample: 512-byte header + padded payload
    // per non-null entry (known before writing — the roll decision is
    // made BEFORE the sample starts, so samples never split)
    var sz = 0L
    binCols.foreach { case (_, i) =>
      if (!row.isNullAt(i))
        sz += 512L + ((row.getBinary(i).length + 511L) / 512L) * 512L
    }
    ensureOpen()
    if (samplesInShard > 0 &&
        (samplesInShard + 1 > maxCount ||
         bytesInShard + sz + 1024 > maxSize)) {
      closeCurrent()
      openNext()
    }
    binCols.foreach { case (name, i) =>
      if (!row.isNullAt(i)) {
        TarCodec.writeEntry(out, s"$key.$name", row.getBinary(i))
        entriesInShard += 1
      }
    }
    samplesInShard += 1
    bytesInShard += sz
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    // an empty task still commits a valid (entry-less) shard so the
    // file count equals the task count deterministically
    ensureOpen()
    closeCurrent()
    val paths = closed.result().map { case (name, entries, samples) =>
      val fin = finalOf(name)
      if (fs.exists(fin)) {
        if (replaceOnCommit) fs.delete(fin, false)
        else throw new java.io.IOException(
          s"wds shard already exists: $fin — shard names are unique " +
            "per write job, so this is another job's data; refusing to " +
            "replace it")
      }
      if (!fs.rename(tmpOf(name), fin))
        throw new java.io.IOException(
          s"rename failed: ${tmpOf(name)} -> $fin")
      renamed += fin
      // sidecar AFTER the shard is visible (the .tsidx discipline):
      // a reader listing mid-write sees at worst a shard without
      // stats (count pushdown declines), never stats for a missing
      // shard
      WdsIndex.write(fs, fin, entries, samples)
      fin.toString
    }
    // epoch-replay idempotence is only exact if the replay rolls into
    // the SAME number of shards; with maxSize rolling, row order can
    // differ across a replay, so a replay producing FEWER shards than
    // a crashed-but-task-committed earlier run would leave the earlier
    // run's higher -sNNNNN shards in place, duplicating samples —
    // sweep any same-base shard with a sequence beyond this commit
    if (replaceOnCommit) {
      val SeqRe = (java.util.regex.Pattern.quote(baseName) +
        "-s(\\d{5})\\.tar").r
      Option(fs.globStatus(new Path(dir, s"$baseName-s*.tar")))
        .getOrElse(Array.empty).foreach { st =>
          st.getPath.getName match {
            case SeqRe(s) if s.toInt >= seq =>
              fs.delete(WdsIndex.sidecarPath(st.getPath), false)
              fs.delete(st.getPath, false)
            case _ => ()
          }
        }
    }
    WdsWriteCommitted(paths, rows)
  }

  override def abort(): Unit = {
    if (out != null) { out.close(); out = null }
    (0 until seq).foreach(k => fs.delete(tmpOf(nameFor(k)), false))
    // a failure INSIDE commit() (rename k of n threw) aborts the task
    // after some shards already renamed — remove them (and their
    // sidecars) so the retried task, which writes DIFFERENT names,
    // cannot leave duplicated samples behind
    renamed.foreach { fin =>
      fs.delete(WdsIndex.sidecarPath(fin), false)
      fs.delete(fin, false)
    }
    renamed.clear()
  }

  override def close(): Unit = ()
}

case class WdsWriteCommitted(paths: Seq[String], rows: Long)
  extends WriterCommitMessage
