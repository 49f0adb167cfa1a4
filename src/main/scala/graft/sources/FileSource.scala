package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** What the file-backed DSv2 sources (pcap, warc, wds, zip) share: which
  * files are input, how a scan build lists them, the sidecar-count fold,
  * the option merge and the stream opener. Each source brings only its
  * own [[FileSource.Rule]].
  *
  * The data-file rule, the same for directory children and glob
  * matches: a file whose name starts with `_` or `.` is hidden (the
  * Hadoop/Spark convention, and what writers stage under), a file the
  * source's `isIndex` claims is one of its own index files, and any
  * other file is data if the source's `keep` accepts its (name, length).
  * A directory the declared path names or a glob matches is listed one
  * level deep, with one `listStatus` call. */
object FileSource {

  /** A source's part of the data-file rule. `source` names it in errors. */
  final case class Rule(source: String,
      isIndex: String => Boolean = _ => false,
      keep: (String, Long) => Boolean = (_, _) => true) {

    def isData(st: FileStatus): Boolean = {
      val n = st.getPath.getName
      st.isFile && !hidden(n) && !isIndex(n) && keep(n, st.getLen)
    }
  }

  private def hidden(name: String): Boolean =
    name.startsWith("_") || name.startsWith(".")

  /** The hidden name a writer stages `p` under until it renames it into
    * place: no listing shows it, whatever a killed task leaves behind. */
  def staging(p: Path): Path = new Path(p.getParent, s".${p.getName}.inprogress")

  /** One listed directory: its data files and its index files, from the
    * one `listStatus` call, and the wall-clock time just before it. */
  final class Dir(val path: Path, val fs: FileSystem, val listedAt: Long,
      val files: Array[FileStatus], val index: Array[FileStatus])

  /** One listing's data files, in listing order, and per file the
    * [[Dir]] it was listed in (null for a file a path or glob matched). */
  final class Listing(val files: IndexedSeq[FileStatus],
      val dirs: IndexedSeq[Dir])

  /** Lists the data files of the paths declared in `options`. A path that
    * matches nothing throws `FileNotFoundException` naming the source,
    * or, with `missingIsEmpty` (a stream whose landing directory may not
    * exist yet), lists nothing. */
  def list(options: CaseInsensitiveStringMap, conf: Configuration,
      rule: Rule, missingIsEmpty: Boolean = false): Listing = {
    ListingStats.listings.increment()
    val declared = PathOptions.paths(options, rule.source)
    if (declared.isEmpty)
      throw new IllegalArgumentException(s"${rule.source} source requires a path")
    val files = IndexedSeq.newBuilder[FileStatus]
    val dirs = IndexedSeq.newBuilder[Dir]
    declared.foreach { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      val matches = Option(fs.globStatus(path)).map(_.toSeq).getOrElse {
        if (fs.exists(path)) Seq(fs.getFileStatus(path)) else Seq.empty
      }
      if (matches.isEmpty && !missingIsEmpty)
        throw new java.io.FileNotFoundException(
          s"${rule.source} path does not exist: $p")
      matches.foreach { st =>
        if (st.isDirectory) {
          val listedAt = System.currentTimeMillis()
          val children = fs.listStatus(st.getPath)
          val d = new Dir(st.getPath, fs, listedAt,
            children.filter(rule.isData),
            children.filter(c => c.isFile && !hidden(c.getPath.getName) &&
              rule.isIndex(c.getPath.getName)))
          d.files.foreach { f => files += f; dirs += d }
        } else if (rule.isData(st)) {
          files += st; dirs += null
        }
      }
    }
    new Listing(files.result(), dirs.result())
  }

  /** Σ `count(file)` over `files`; None if there are none or any file has
    * no count (its sidecar is missing or stale). */
  def sumCounts(files: Seq[FileStatus])(count: FileStatus => Option[Long])
      : Option[Long] = {
    if (files.isEmpty) return None
    var total = 0L
    val it = files.iterator
    while (it.hasNext) count(it.next()) match {
      case Some(n) => total += n
      case None => return None
    }
    Some(total)
  }

  /** `table`'s options overlaid with a scan's or a write's, which win. */
  def merged(table: CaseInsensitiveStringMap,
      overlay: java.util.Map[String, String]): CaseInsensitiveStringMap = {
    val m = new java.util.HashMap[String, String](table)
    m.putAll(overlay)
    new CaseInsensitiveStringMap(m)
  }

  /** Opens a file as one buffered stream, decompressed by its extension:
    * `.zst`/`.zstd`/`.tzst` through zstd-jni's streaming decoder (already
    * on Spark's classpath; Hadoop's ZStandardCodec needs the native
    * libhadoop build most clusters don't ship), any other Hadoop codec
    * through the codec factory (`.gz`, `.bz2`), anything else raw. The
    * 1 MiB buffer absorbs the decoders' many small reads (16-byte packet
    * headers, 512-byte tar headers), which unbuffered would each hit the
    * checksummed Hadoop stream. */
  def open(conf: Configuration, pathStr: String): java.io.InputStream = {
    val path = new Path(pathStr)
    val raw = path.getFileSystem(conf).open(path)
    val name = path.getName.toLowerCase(java.util.Locale.ROOT)
    val decoded =
      if (name.endsWith(".zst") || name.endsWith(".zstd") ||
          name.endsWith(".tzst"))
        new com.github.luben.zstd.ZstdInputStream(raw): java.io.InputStream
      else Option(new CompressionCodecFactory(conf).getCodec(path))
        .map(_.createInputStream(raw): java.io.InputStream)
        .getOrElse(raw: java.io.InputStream)
    new java.io.BufferedInputStream(decoded, 1 << 20)
  }
}

/** One scan build's Hadoop conf and data-file listing, each made once, on
  * first use, and shared by the builder's aggregate probe and the scan it
  * builds: its statistics, its planning and the executors' broadcast. A
  * session conf copy is ~1,100 entries; a listing is O(files) RPCs on an
  * object store. */
final class ScanBuild(options: CaseInsensitiveStringMap, rule: FileSource.Rule) {
  lazy val conf: Configuration =
    SparkSession.active.sessionState.newHadoopConf()

  lazy val listing: FileSource.Listing = FileSource.list(options, conf, rule)

  def files: IndexedSeq[FileStatus] = listing.files

  def broadcast: Broadcast[SerializableConfiguration] =
    HadoopConfBroadcast(SparkSession.active, conf)
}

/** The metadata-only scan: one partition, one row of `values` in
  * aggregate order, answered from sidecars without opening a data file.
  * `desc` names the source's scan in plans; `reported` are its driver
  * metrics' values, in the order of `metrics`. */
final class StatsScan(values: Seq[Long], desc: String,
    metrics: Array[CustomMetric] = Array.empty,
    reported: Array[CustomTaskMetric] = Array.empty)
  extends Scan with Batch {
  override def readSchema(): StructType =
    StructType(values.indices.map(i =>
      org.apache.spark.sql.types.StructField(s"stat_$i", LongType, nullable = false)))
  override def toBatch: Batch = this
  override def description(): String = desc
  override def planInputPartitions(): Array[InputPartition] =
    Array(StatsPartition(values))
  override def createReaderFactory(): PartitionReaderFactory =
    new StatsReaderFactory
  override def supportedCustomMetrics(): Array[CustomMetric] = metrics
  override def reportDriverMetrics(): Array[CustomTaskMetric] = reported
}

case class StatsPartition(values: Seq[Long]) extends InputPartition

class StatsReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[StatsPartition]
    new PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean =
        if (emitted) false else { emitted = true; true }
      override def get(): InternalRow = InternalRow.fromSeq(p.values)
      override def close(): Unit = ()
    }
  }
}
