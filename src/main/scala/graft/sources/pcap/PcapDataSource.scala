package graft.sources.pcap

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.pcap.DecodeOptions
import graft.sources.HadoopConfBroadcast

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
      org.apache.spark.sql.connector.write.WriteBuilder = {
    val merged = new util.HashMap[String, String]()
    merged.putAll(options)
    merged.putAll(info.options())
    new PcapWriteBuilder(new CaseInsensitiveStringMap(merged), info)
  }

  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder = {
    // `options` (table properties) carries the path; scan options carry
    // per-read settings. Merge, scan options winning.
    val merged = new util.HashMap[String, String]()
    merged.putAll(options)
    merged.putAll(caseInsensitiveOptions)
    new PcapScanBuilder(new CaseInsensitiveStringMap(merged))
  }
}

object PcapTable {
  def paths(options: CaseInsensitiveStringMap): Seq[String] =
    graft.sources.PathOptions.paths(options, "pcap")

  /** ONE definition of which directory entries are capture data — the
    * batch and streaming listings must agree or a file class admitted
    * by only one of them crashes the other's reader ("_"/"." prefixes
    * are the Hadoop/Spark hidden-file conventions; `.tsidx` sidecars
    * are this source's own stats files). */
  def isDataFile(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".") &&
      !PcapTsIndex.isSidecar(name)

  /** ONE file-listing implementation shared by the scan and the
    * aggregate-pushdown probe in the builder (they must agree on the
    * file set or a pushed count could cover different files than a
    * scan would read). */
  def listDataFiles(options: CaseInsensitiveStringMap,
      conf: Configuration): Seq[FileStatus] = list(options, conf).files

  /** [[listDataFiles]] with, for each directory it lists, the statuses
    * of the captures' sidecars that the same `listStatus` call returned:
    * a capture whose sidecar is not among them has none, and needs no
    * `exists` call. A capture matched directly (a single-file path, a
    * glob) carries no listed sidecars. */
  def list(options: CaseInsensitiveStringMap,
      conf: Configuration): PcapListing = {
    graft.sources.ListingStats.listings.increment()
    val declared = paths(options)
    if (declared.isEmpty)
      throw new IllegalArgumentException("pcap source requires a path")
    val files = IndexedSeq.newBuilder[FileStatus]
    val dirs = IndexedSeq.newBuilder[PcapTsIndex.ListedSidecars]
    declared.foreach { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      val matches = Option(fs.globStatus(path)).map(_.toSeq).getOrElse {
        if (fs.exists(path)) Seq(fs.getFileStatus(path)) else Seq.empty
      }
      if (matches.isEmpty)
        throw new java.io.FileNotFoundException(s"pcap path does not exist: $p")
      matches.foreach { st =>
        if (st.isDirectory) {
          val listedAt = System.currentTimeMillis()
          val (sidecars, data) = fs.listStatus(st.getPath).filter(_.isFile)
            .partition(s => PcapTsIndex.isSidecar(s.getPath.getName))
          val kept = data.filter(s => isDataFile(s.getPath.getName))
          val names = kept.map(_.getPath.getName + PcapTsIndex.SidecarSuffix)
            .toSet
          val listed = new PcapTsIndex.ListedSidecars(st.getPath.toString,
            fs, sidecars.filter(s => names(s.getPath.getName))
              .sortBy(_.getPath.getName), listedAt)
          kept.foreach { f => files += f; dirs += listed }
        } else if (!PcapTsIndex.isSidecar(st.getPath.getName)) {
          files += st; dirs += null
        }
      }
    }
    new PcapListing(files.result(), dirs.result(), conf)
  }
}

/** One scan build's listing: its data files and, per file, the listed
  * sidecars of its directory (null for a file matched directly). The
  * sidecar stats are read once per listing, and only when a query needs
  * them (a ts window or a metadata aggregate). */
final class PcapListing(val files: IndexedSeq[FileStatus],
    dirs: IndexedSeq[PcapTsIndex.ListedSidecars], conf: Configuration) {

  val reads = new PcapTsIndex.SidecarReads

  /** Per file, its sidecar's (min ts, max ts, count), if it has one. */
  lazy val stats: IndexedSeq[Option[(Long, Long, Option[Long])]] = {
    val tables =
      scala.collection.mutable.HashMap[PcapTsIndex.ListedSidecars,
        PcapTsIndex.SidecarTable]()
    files.indices.map { i =>
      val f = files(i).getPath
      dirs(i) match {
        case null =>
          val st = PcapTsIndex.readSidecarStats(f.getFileSystem(conf), f)
          if (st.isDefined) reads.read.increment()
          st
        case d =>
          tables.getOrElseUpdate(d, PcapTsIndex.listedStats(d, reads))
            .stats(f.getName + PcapTsIndex.SidecarSuffix)
      }
    }
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

  /** Fold (min ts, max ts, Σ count) over the exact file set the scan
    * would read; None if the set is empty (MIN/MAX would be NULL —
    * let the scan path answer that) or ANY file lacks a sidecar; the
    * count is None if any sidecar is count-less (pre-round-9 format). */
  // ONE Hadoop conf and ONE listing per scan BUILD, shared with the
  // scan this builder produces: the aggregate probe, the ts pruning, the
  // scan's stats/planning and the executors' broadcast all use them (a
  // session conf copy is ~1,100 entries; the listing is O(files) RPCs)
  private lazy val hadoopConf: Configuration =
    SparkSession.active.sessionState.newHadoopConf()

  private lazy val listing: PcapListing =
    PcapTable.list(options, hadoopConf)

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
      new PcapStatsScan(statCols.map {
        case 'c' => total.get
        case 'n' => mn
        case 'x' => mx
      }, listing)
    case _ => new PcapScan(required, options, pushed, hadoopConf,
      () => listing)
  }
}

/** The metadata-only stats scan: one partition, one row, the pushed
  * COUNT(*)/MIN(ts)/MAX(ts) values in aggregate order — no capture
  * file is ever opened. `listing` is the one its values were folded
  * from. */
class PcapStatsScan(values: Seq[Long], listing: PcapListing)
  extends Scan with Batch {
  override def readSchema(): StructType = {
    var st = new StructType()
    values.indices.foreach(i => st = st.add(s"stat_$i",
      org.apache.spark.sql.types.LongType, false))
    st
  }
  override def toBatch: Batch = this
  override def description(): String =
    s"PcapStatsScan(values=[${values.mkString(",")}], fromSidecars=true)"
  override def planInputPartitions(): Array[InputPartition] =
    Array(PcapStatsPartition(values))
  override def createReaderFactory(): PartitionReaderFactory =
    new PcapStatsReaderFactory
  override def supportedCustomMetrics():
      Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    PcapScanMetrics.driver
  override def reportDriverMetrics():
      Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    PcapScanMetrics.report(listing, pruned = 0)
}

case class PcapStatsPartition(values: Seq[Long]) extends InputPartition

class PcapStatsReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition):
      org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.catalyst.InternalRow] = {
    val p = partition.asInstanceOf[PcapStatsPartition]
    new org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.catalyst.InternalRow] {
      private var emitted = false
      override def next(): Boolean =
        if (emitted) false else { emitted = true; true }
      override def get(): org.apache.spark.sql.catalyst.InternalRow =
        org.apache.spark.sql.catalyst.InternalRow.fromSeq(p.values)
      override def close(): Unit = ()
    }
  }
}

/** The decoding scan. `hadoopConf` and `listed` are the builder's one
  * conf and one listing. */
class PcapScan(requiredSchema: StructType, options: CaseInsensitiveStringMap,
    val pushedFilters: Array[org.apache.spark.sql.sources.Filter],
    hadoopConf: Configuration,
    listed: () => PcapListing)
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
  private lazy val prunedFilesMemo: Seq[FileStatus] =
    pruneByTs(listed())

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
    else PcapScanMetrics.report(listed(),
      pruned = listed().files.length - prunedFilesMemo.length)

  // Spark builds a micro-batch scan without filter pushdown (a streaming
  // query's filters stay post-scan), so no pushed filter is lost here
  override def toMicroBatchStream(checkpointLocation: String):
      org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new PcapMicroBatchStream(options, requiredSchema, hadoopConf)
  override def description(): String =
    s"PcapScan(columns=[${requiredSchema.fieldNames.mkString(",")}], " +
      s"pushedFilters=[${pushedFilters.mkString(",")}])"

  private def sparkSession = SparkSession.active

  /** Drop files whose per-file ts stats cannot intersect the pushed ts
    * bounds (SURVEY.md §4 file-level skipping). Stats come from exact
    * `.tsidx` sidecars, or — only under `assumeMonotonicTs` — a cheap
    * first/last-record probe; files without stats always survive, and
    * the decoder still applies the pushed bounds to every packet of a
    * kept file. */
  private def pruneByTs(listing: PcapListing): Seq[FileStatus] = {
    val files = listing.files
    PcapTsIndex.tsBounds(pushedFilters) match {
      case Some((lo, hi)) if options.getBoolean("tsPruning", true) =>
        val assumeMono = options.getBoolean("assumeMonotonicTs", false)
        val kept = files.indices.filter { i =>
          val stats = listing.stats(i).map { case (mn, mx, _) => (mn, mx) }
            .orElse(if (assumeMono) PcapTsIndex.firstLastTs(hadoopConf,
              files(i)) else None)
          stats.forall { case (mn, mx) => mx >= lo && mn <= hi }
        }.map(files)
        val dropped = files.length - kept.length
        if (dropped > 0) {
          PcapTsIndex.prunedFiles.add(dropped.toLong)
          org.slf4j.LoggerFactory.getLogger(classOf[PcapScan]).info(
            s"pcap ts pruning: skipped $dropped of ${files.length} " +
              s"files for ts in [$lo, $hi]")
        }
        kept
      case _ => files
    }
  }

  /** Whole-file partitions, bin-packed to maxPartitionBytes
    * (best-fit decreasing via [[graft.sources.BinPack]] — O(n log n)
    * planning, million-file-lake safe). A file larger than the target
    * gets its own partition — pcap is not byte-range splittable. */
  override def planInputPartitions(): Array[InputPartition] = {
    // source option override, e.g. .option("maxBytesPerPartition", "16m"),
    // for decode-bound workloads where smaller tasks beat fewer tasks
    val openCost = sparkSession.sessionState.conf.filesOpenCostInBytes
    val files = prunedFilesMemo.map(f => f.getPath.toString -> f.getLen)
    val maxBytes = Option(options.get("maxBytesPerPartition"))
      .map(v => org.apache.spark.network.util.JavaUtils.byteStringAsBytes(v))
      .getOrElse(graft.sources.BinPack.adaptiveTarget(
        sparkSession.sessionState.conf.filesMaxPartitionBytes, openCost,
        files.map(_._2).sum,
        sparkSession.sparkContext.defaultParallelism))
    graft.sources.BinPack.pack(files, maxBytes, openCost)
      .map(b => PcapInputPartition(b): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PcapReaderFactory(HadoopConfBroadcast(sparkSession, hadoopConf),
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

/** Helper to open a (possibly codec-compressed) pcap file as a stream. */
object PcapFileOpener {
  def open(conf: Configuration, pathStr: String): java.io.InputStream = {
    val path = new Path(pathStr)
    val fs = path.getFileSystem(conf)
    val raw = fs.open(path)
    val name = path.getName.toLowerCase(java.util.Locale.ROOT)
    val decoded =
      // .zst/.zstd captures (the compression modern rotating-capture
      // setups apply) go through zstd-jni's streaming decoder, which is
      // already on Spark's classpath; Hadoop's own ZStandardCodec needs
      // the native libhadoop build most clusters don't ship
      if (name.endsWith(".zst") || name.endsWith(".zstd"))
        new com.github.luben.zstd.ZstdInputStream(raw): java.io.InputStream
      else Option(new CompressionCodecFactory(conf).getCodec(path))
        .map(_.createInputStream(raw).asInstanceOf[java.io.InputStream])
        .getOrElse(raw: java.io.InputStream)
    // the decoder issues many small reads (16-byte packet headers);
    // unbuffered they each hit the (checksummed) Hadoop stream
    new java.io.BufferedInputStream(decoded, 1 << 20)
  }
}
