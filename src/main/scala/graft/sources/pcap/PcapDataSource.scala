package graft.sources.pcap

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.pcap.DecodeOptions
import graft.sources.{BinPack, FileSource, ScanBuild, StatsScan}

/** `spark.read.format("pcap")` — DataSource V2 batch source for classic
  * libpcap capture files.
  *
  * Architecture (SURVEY.md §1.4/§2A): the reference exposes packets to SQL
  * through a Hadoop `InputFormat` + Hive SerDe pair
  * (hadoop-pcap-lib/.../io/PcapInputFormat.java,
  * hadoop-pcap-serde/.../PcapDeserializer.java); the Spark-native shape is
  * a DSv2 `TableProvider` whose `PartitionReader` runs the decoder core and
  * writes `InternalRow`s directly — no boxing boundary, with column
  * pruning pushed *into* the decoder (skip DNS parse / MD5 / payload
  * retention when unrequested), which the reference cannot do, and
  * filters pushed there exactly ([[PcapPacketFilter]]): a pushed filter
  * is evaluated once, per packet, and never again post-scan.
  *
  * Scale design:
  *   - input is what the shared data-file rule ([[graft.sources.FileSource]])
  *     keeps: a declared directory is listed one level deep, and a file
  *     named `_…` or `.…` (writer temps, markers) or a `.tsidx` sidecar is
  *     never read as a capture, whether listed or matched by a glob;
  *   - pcap has no sync markers → never byte-range split
  *     (`isSplitable=false` in the reference, PcapInputFormat.java:66-75);
  *     parallelism unit is the whole file;
  *   - small files are bin-packed into partitions up to
  *     `spark.sql.files.maxPartitionBytes` (the reference's
  *     CombinePcapInputFormat + 100 MB split guidance,
  *     hadoop-pcap-serde/README.md:16-19), so a 100 TB landing directory
  *     of many captures still yields bounded, balanced tasks;
  *   - `.gz` (any Hadoop codec) transparently decompressed, matching
  *     PcapInputFormat.java:46-49;
  *   - the Hadoop conf reaches executors as one per-session broadcast
  *     ([[graft.sources.HadoopConfBroadcast]]), never inside a task;
  *   - every query lists its directories once, so new files show, but
  *     opens no `.tsidx` sidecar the session has already read: the
  *     sidecar stats come from one `graft.Memo` entry per listed
  *     directory, guarded by the (name, length, mtime) of the sidecars
  *     in that same listing; a changed directory's sidecars are all
  *     read again, and a listing that shows a sidecar within
  *     [[PcapTsIndex.RacyMarginMs]] of it bypasses the memo until the
  *     sidecar is older ([[PcapTsIndex.listedStats]]). A ts-windowed
  *     scan reports the files listed and pruned and the sidecars read
  *     and served from the memo as driver metrics
  *     ([[PcapScanMetrics]]).
  *
  * Options: `decoder` = `ip` (default) | `dns`; `md5` = `true` to compute
  * the frame digest (reference conf flag
  * net.ripe.hadoop.pcap.PcapReader.calculateMD5, PcapReader.java:19).
  */
class PcapDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "pcap"
  override def supportsExternalMetadata(): Boolean = false

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PcapSchema.full

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new PcapTable(new CaseInsensitiveStringMap(properties))
}

class PcapTable(options: CaseInsensitiveStringMap) extends Table
  with SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"pcap(${PcapTable.paths(options).mkString(",")})"
  override def schema(): StructType = PcapSchema.full
  // ACCEPT_ANY_SCHEMA: writes carry only (ts_micro, frame) plus whatever
  // else the user selected — the write builder validates the two required
  // columns instead of forcing the full 34-column table schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.ACCEPT_ANY_SCHEMA)

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo):
      org.apache.spark.sql.connector.write.WriteBuilder =
    new PcapWriteBuilder(FileSource.merged(options, info.options()), info)

  override def newScanBuilder(scanOptions: CaseInsensitiveStringMap): ScanBuilder =
    new PcapScanBuilder(FileSource.merged(options, scanOptions))
}

object PcapTable {
  def paths(options: CaseInsensitiveStringMap): Seq[String] =
    graft.sources.PathOptions.paths(options, "pcap")

  /** pcap's part of the shared data-file rule: its `.tsidx` sidecars are
    * its index files. */
  val Rule: FileSource.Rule =
    FileSource.Rule("pcap", isIndex = PcapTsIndex.isSidecar)

  /** The captures a pcap read of `options` lists: `PcapIO` and
    * `PcapStatsWriter` list here, by the same [[Rule]] as the scan and
    * the stream. */
  def listDataFiles(options: CaseInsensitiveStringMap,
      conf: Configuration): Seq[FileStatus] =
    FileSource.list(options, conf, Rule).files
}

/** One scan build's listing, and per file the stats of its `.tsidx`
  * sidecar, read once per listing and only when a query needs them (a ts
  * window or a metadata aggregate). A capture listed in a directory has a
  * sidecar only if that directory's `listStatus` call returned it, so no
  * `exists` call is made; a capture matched directly (a single-file path,
  * a glob) is looked up on its own. */
final class PcapListing(val build: ScanBuild) {

  def files: IndexedSeq[FileStatus] = build.files

  val reads = new PcapTsIndex.SidecarReads

  /** Per file, its sidecar's (min ts, max ts, count), if it has one. */
  lazy val stats: IndexedSeq[Option[(Long, Long, Option[Long])]] = {
    val tables =
      scala.collection.mutable.HashMap[FileSource.Dir, PcapTsIndex.SidecarTable]()
    val dirs = build.listing.dirs
    files.indices.map { i =>
      val f = files(i).getPath
      dirs(i) match {
        case null =>
          val st = PcapTsIndex.readSidecarStats(f.getFileSystem(build.conf), f)
          if (st.isDefined) reads.read.increment()
          st
        case d =>
          tables.getOrElseUpdate(d, PcapTsIndex.listedStats(sidecars(d), reads))
            .stats(f.getName + PcapTsIndex.SidecarSuffix)
      }
    }
  }

  /** The listed sidecars of `d`'s captures, sorted by name. */
  private def sidecars(d: FileSource.Dir): PcapTsIndex.ListedSidecars = {
    val names = d.files.map(_.getPath.getName + PcapTsIndex.SidecarSuffix).toSet
    new PcapTsIndex.ListedSidecars(d.path.toString, d.fs,
      d.index.filter(s => names(s.getPath.getName)).sortBy(_.getPath.getName),
      d.listedAt)
  }
}

class PcapScanBuilder(options: CaseInsensitiveStringMap)
  extends ScanBuilder with SupportsPushDownRequiredColumns
  with org.apache.spark.sql.connector.read.SupportsPushDownFilters
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var required: StructType = PcapSchema.full
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  /** Pushed stat columns in aggregate order: 'c' = COUNT(*),
    * 'n' = MIN(ts), 'x' = MAX(ts). */
  private var statCols: Seq[Char] = Nil
  private var statValues: Option[(Long, Long, Option[Long])] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Exact pushdown: the filters [[PcapPacketFilter.supported]] accepts
    * run in the decoder with SQL semantics and are not returned, so Spark
    * plans no post-scan `Filter` for them; only the rest come back as
    * residual. A windowed query then carries no window literal in its
    * generated code, so its stage compiles once per query shape, not once
    * per window. `option("pushdown","false")` pushes nothing and keeps
    * every filter post-scan: the parity reference. */
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter]):
      Array[org.apache.spark.sql.sources.Filter] = {
    val (exact, residual) =
      if (options.getBoolean("pushdown", true))
        filters.partition(PcapPacketFilter.supported)
      else (Array.empty[org.apache.spark.sql.sources.Filter], filters)
    pushed = exact
    residual
  }

  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed

  // ----- metadata-only COUNT(*) / MIN(ts) / MAX(ts) (rounds 9, 11) -------
  // The capture-triage trio — how many packets landed, and what time
  // range do they span — never opens a file when every capture has a
  // `.tsidx` sidecar: COUNT(*) sums the sidecar counts, MIN/MAX(ts)
  // fold the sidecar second-bounds (the sidecar records whole-second
  // ts, exactly the `ts` column's unit), all answered from the listing
  // alone — O(files), not O(bytes). Catalyst offers the aggregate
  // only when no post-scan filter is left, which an exactly pushed
  // filter leaves none of; the sidecars count whole files, so
  // pushAggregation declines whenever any filter was pushed (a
  // filtered count/range still decodes). Any file lacking the needed
  // sidecar field also declines the pushdown and falls back to the
  // full scan. `option("countPushdown","false")` disables.

  /** Classify a pushable stats aggregation into per-column tags
    * ('c' COUNT(*), 'n' MIN(ts), 'x' MAX(ts)); None if anything else
    * appears or there is a GROUP BY. */
  private def statsSpec(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[Seq[Char]] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    import org.apache.spark.sql.connector.expressions.NamedReference
    def tsRef(e: org.apache.spark.sql.connector.expressions.Expression)
        : Boolean = e match {
      case nr: NamedReference => nr.fieldNames.toSeq == Seq("ts")
      case _ => false
    }
    if (agg.groupByExpressions.nonEmpty || agg.aggregateExpressions.isEmpty)
      return None
    val tags = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => 'c'
      case m: Min if tsRef(m.column) => 'n'
      case m: Max if tsRef(m.column) => 'x'
      case _ => return None
    }
    Some(tags)
  }

  // one Hadoop conf and one listing per scan build, shared with the scan
  // this builder produces
  private val listing = new PcapListing(new ScanBuild(options, PcapTable.Rule))

  /** Fold (min ts, max ts, Σ count) over the exact file set the scan
    * would read; None if the set is empty (MIN/MAX would be NULL —
    * let the scan path answer that) or ANY file lacks a sidecar; the
    * count is None if any sidecar is count-less (pre-round-9 format). */
  private def sidecarStats(): Option[(Long, Long, Option[Long])] = {
    if (listing.files.isEmpty) return None
    var mn = Long.MaxValue
    var mx = Long.MinValue
    var total: Option[Long] = Some(0L)
    listing.stats.foreach {
      case Some((lo, hi, n)) =>
        mn = math.min(mn, lo)
        mx = math.max(mx, hi)
        total = for (t <- total; c <- n) yield t + c
      case None => return None
    }
    Some((mn, mx, total))
  }

  // Memoized: the planner probes supportCompletePushDown AND
  // pushAggregation; fold the listing's sidecar stats once per builder.
  private lazy val sidecarStatsMemo: Option[(Long, Long, Option[Long])] =
    sidecarStats()

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = pushAggregation(agg)

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    if (!options.getBoolean("countPushdown", true)) return false
    if (pushed.nonEmpty) return false
    statsSpec(agg) match {
      case Some(tags) =>
        statValues = sidecarStatsMemo
        // a COUNT(*) column needs counted sidecars; min/max only bounds
        if (tags.contains('c') && statValues.exists(_._3.isEmpty))
          statValues = None
        statCols = tags
        statValues.isDefined
      case None => false
    }
  }

  override def build(): Scan = statValues match {
    case Some((mn, mx, total)) if statCols.nonEmpty =>
      val values = statCols.map {
        case 'c' => total.get
        case 'n' => mn
        case 'x' => mx
      }
      new StatsScan(values,
        s"PcapStatsScan(values=[${values.mkString(",")}], fromSidecars=true)",
        PcapScanMetrics.driver, PcapScanMetrics.report(listing, pruned = 0))
    case _ => new PcapScan(required, options, pushed, listing)
  }
}

/** The decoding scan over its builder's one listing. */
class PcapScan(requiredSchema: StructType, options: CaseInsensitiveStringMap,
    val pushedFilters: Array[org.apache.spark.sql.sources.Filter],
    listing: PcapListing)
  extends Scan with Batch
  with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  override def readSchema(): StructType = requiredSchema
  override def toBatch: Batch = this

  /** Catalyst-visible size: summed capture bytes AFTER ts pruning, so
    * a ts-bounded scan of a small window plans like the small relation
    * it is (static broadcast eligibility instead of
    * defaultSizeInBytes). */
  // ONE listing + ts-prune per scan: estimateStatistics and
  // planInputPartitions both need the file set, and a repeated
  // listing is O(files) RPCs per query on an object store
  private lazy val prunedFilesMemo: Seq[FileStatus] = pruneByTs()

  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      private val bytes = prunedFilesMemo.map(_.getLen).sum
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
    }

  // task-level decode metrics in the Spark UI / listener bus — the DSv2
  // mapping of the reference's getPos/getProgress reporting
  // (PcapRecordReader.java:66-76, SURVEY.md §2A op 6)
  // The planning counts only on a ts-windowed scan, the one that reads
  // sidecar stats; an unwindowed scan ships no extra metrics to its
  // tasks.
  private def windowed = PcapTsIndex.tsBounds(pushedFilters).isDefined

  override def supportedCustomMetrics():
      Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array[org.apache.spark.sql.connector.metric.CustomMetric](
      new PcapPacketsMetric, new PcapBytesMetric) ++
      (if (windowed) PcapScanMetrics.driver else Array.empty)

  override def reportDriverMetrics():
      Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    if (!windowed) Array.empty
    else PcapScanMetrics.report(listing,
      pruned = listing.files.length - prunedFilesMemo.length)

  // Spark builds a micro-batch scan without filter pushdown (a streaming
  // query's filters stay post-scan), so no pushed filter is lost here
  override def toMicroBatchStream(checkpointLocation: String):
      org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new PcapMicroBatchStream(options, requiredSchema, listing.build.conf)
  override def description(): String =
    s"PcapScan(columns=[${requiredSchema.fieldNames.mkString(",")}], " +
      s"pushedFilters=[${pushedFilters.mkString(",")}])"

  /** Drop files whose per-file ts stats cannot intersect the pushed ts
    * bounds (SURVEY.md §4 file-level skipping). Stats come from exact
    * `.tsidx` sidecars, or — only under `assumeMonotonicTs` — a cheap
    * first/last-record probe; files without stats always survive, and
    * the decoder still applies the pushed bounds to every packet of a
    * kept file. */
  private def pruneByTs(): Seq[FileStatus] = {
    val files = listing.files
    PcapTsIndex.tsBounds(pushedFilters) match {
      case Some((lo, hi)) if options.getBoolean("tsPruning", true) =>
        val assumeMono = options.getBoolean("assumeMonotonicTs", false)
        val kept = files.indices.filter { i =>
          val stats = listing.stats(i).map { case (mn, mx, _) => (mn, mx) }
            .orElse(if (assumeMono) PcapTsIndex.firstLastTs(listing.build.conf,
              files(i)) else None)
          stats.forall { case (mn, mx) => mx >= lo && mn <= hi }
        }.map(files)
        val dropped = files.length - kept.length
        if (dropped > 0)
          org.slf4j.LoggerFactory.getLogger(classOf[PcapScan]).info(
            s"pcap ts pruning: skipped $dropped of ${files.length} " +
              s"files for ts in [$lo, $hi]")
        kept
      case _ => files
    }
  }

  /** Whole-file partitions, bin-packed to the partition target
    * (best-fit decreasing via [[graft.sources.BinPack]] — O(n log n)
    * planning, million-file-lake safe). A file larger than the target
    * gets its own partition — pcap is not byte-range splittable. */
  override def planInputPartitions(): Array[InputPartition] = {
    val files = prunedFilesMemo.map(f => f.getPath.toString -> f.getLen)
    BinPack.adaptiveTarget(options, files.map(_._2).sum).pack(files)
      .map(b => PcapInputPartition(b): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PcapReaderFactory(listing.build.broadcast,
      requiredSchema,
      PcapSchema.decodeOptions(requiredSchema, options, pushedFilters),
      PcapPacketFilter.compile(pushedFilters),
      // batch (not streaming) reads emit ColumnarBatches for flat
      // projections; option("columnar","false") forces the row path
      // for A/B measurement
      columnar = options.getBoolean("columnar", true),
      batchSize = options.getInt("columnarBatchSize", 4096))
}

/** Files of one task. Serialized to executors; paths only. */
case class PcapInputPartition(files: Seq[String]) extends InputPartition

class PcapReaderFactory(conf: Broadcast[SerializableConfiguration],
    schema: StructType,
    val decode: DecodeOptions,
    filter: PcapPacketFilter.Predicate = PcapPacketFilter.acceptAll,
    columnar: Boolean = false,
    batchSize: Int = 4096)
  extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean =
    columnar && PcapSchema.columnarEligible(schema)

  override def createReader(partition: InputPartition): PartitionReader[
    org.apache.spark.sql.catalyst.InternalRow] =
    new PcapPartitionReader(
      partition.asInstanceOf[PcapInputPartition].files, conf.value.value,
      schema, decode, filter)

  override def createColumnarReader(partition: InputPartition):
      PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new PcapColumnarPartitionReader(
      partition.asInstanceOf[PcapInputPartition].files, conf.value.value,
      schema, decode, filter, batchSize)
}

class PcapPacketsMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "packetsDecoded"
  override def description(): String = "number of packets decoded"
}

class PcapBytesMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "bytesDecoded"
  override def description(): String = "pcap bytes decoded"
}

/** A planning-time count the scan reports to its `BatchScanExec`
  * through `Scan.reportDriverMetrics`. */
sealed abstract class PcapDriverMetric(n: String, d: String)
  extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = n
  override def description(): String = d
}
class PcapFilesListedMetric extends PcapDriverMetric("filesListed",
  "pcap files listed")
class PcapFilesPrunedMetric extends PcapDriverMetric("filesPrunedByTs",
  "pcap files pruned by ts")
class PcapSidecarsReadMetric extends PcapDriverMetric("sidecarsRead",
  "pcap .tsidx sidecars read")
class PcapSidecarsMemoMetric extends PcapDriverMetric("sidecarsFromMemo",
  "pcap .tsidx sidecars served from the memo")

object PcapScanMetrics {
  def driver: Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new PcapFilesListedMetric, new PcapFilesPrunedMetric,
      new PcapSidecarsReadMetric, new PcapSidecarsMemoMetric)

  def report(listing: PcapListing, pruned: Int)
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(listing.files.length.toLong, pruned.toLong,
      listing.reads.read.sum(), listing.reads.served.sum())
      .zip(driver).map { case (v, m) =>
        new org.apache.spark.sql.connector.metric.CustomTaskMetric {
          override def name(): String = m.name()
          override def value(): Long = v
        }
      }
}
