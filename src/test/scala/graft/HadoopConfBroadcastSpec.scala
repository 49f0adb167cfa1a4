package graft

import java.nio.file.Files

import scala.collection.mutable

import org.apache.hadoop.fs.{FSDataInputStream, Path, RawLocalFileSystem}
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.types.{BinaryType, LongType, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.pcap.PcapSynth
import graft.sources.HadoopConfBroadcast

/** Records which class opened a file inside a task: the executor side of
  * a scan. Registered under its own scheme, so switching
  * `fs.confprobe.impl` between [[ConfProbeFsA]] and [[ConfProbeFsB]]
  * shows which Hadoop conf the executors saw. */
class ConfProbeFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("confprobe:///")
  override def getScheme: String = "confprobe"
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (TaskContext.get() != null) ConfProbeFs.opens.synchronized {
      ConfProbeFs.opens += getClass.getSimpleName
    }
    super.open(f, bufferSize)
  }
}
class ConfProbeFsA extends ConfProbeFs
class ConfProbeFsB extends ConfProbeFs
object ConfProbeFs {
  val opens = mutable.ArrayBuffer.empty[String]
  def take(): Set[String] =
    opens.synchronized { val s = opens.toSet; opens.clear(); s }
}

/** The session Hadoop conf ships as one broadcast, not inside each reader
  * or writer factory: factories stay small and conf-free, a changed
  * session setting reaches the next read's executors, and a recreated
  * session never reuses a stopped context's broadcast. */
class HadoopConfBroadcastSpec extends AnyFunSuite {

  private def session(): SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val spark: SparkSession = session()

  private def pcapFile(): String = {
    val frames = (0 until 50).map(i =>
      (1700000000L + i, i.toLong, PcapSynth.synthFrame(i)))
    val f = Files.createTempFile("confbc", ".pcap")
    PcapSynth.writeAtomic(f, PcapSynth.file(frames))
    f.toString
  }

  private def javaSerialized(o: AnyRef): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(o)
    oos.close()
    bos.toByteArray
  }

  private def readerFactory(df: org.apache.spark.sql.DataFrame): AnyRef =
    df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b.readerFactory
    }.getOrElse(fail(s"no batch scan in ${df.queryExecution.executedPlan}"))

  test("reader and writer factories are small and carry no Hadoop conf") {
    val s = spark
    import s.implicits._
    val tmp = Files.createTempDirectory("confbc_factories")
    val warcDir = tmp.resolve("warc").toString
    Seq(("http://a.example/", "hello".getBytes("UTF-8")))
      .toDF("url", "payload").write.format("warc").mode("append")
      .save(warcDir)
    val wdsDir = tmp.resolve("wds").toString
    Seq(("k1", "hello".getBytes("UTF-8")))
      .toDF("key", "txt").write.format("wds").mode("append").save(wdsDir)
    val zipPath = tmp.resolve("a.zip")
    val zos = new java.util.zip.ZipOutputStream(Files.newOutputStream(zipPath))
    zos.putNextEntry(new java.util.zip.ZipEntry("a.txt"))
    zos.write("hello".getBytes("UTF-8"))
    zos.closeEntry()
    zos.close()

    val out = tmp.resolve("out").toString
    val pcapSchema = new StructType()
      .add("ts_micro", LongType).add("frame", BinaryType)
    val warcCols = graft.sources.warc.WarcWriteCols(
      url = 0, payload = 1, recType = -1, recordId = -1, warcDate = -1,
      httpStatus = -1, httpContentType = -1)
    val factories: Seq[(String, AnyRef)] = Seq(
      "pcap reader" -> readerFactory(
        s.read.format("pcap").load(pcapFile())),
      "warc reader" -> readerFactory(s.read.format("warc").load(warcDir)),
      "wds reader" -> readerFactory(s.read.format("wds").load(wdsDir)),
      "zip reader" -> readerFactory(
        s.read.format("zip").load(zipPath.toString)),
      "pcap writer" -> new graft.sources.pcap.PcapBatchWrite(
        out + "/pcap", 1, pcapSchema, 0, 1, writeTsIndex = true)
        .createBatchWriterFactory(null),
      "warc writer" -> new graft.sources.warc.WarcBatchWrite(
        out + "/warc", warcCols, truncateFirst = false, gz = true,
        writeIndex = true, "2024-01-01T00:00:00Z", "text/html", "job")
        .createBatchWriterFactory(null),
      "warc stream writer" -> new graft.sources.warc.WarcStreamingWrite(
        out + "/warcs", warcCols, gz = true, writeIndex = true,
        "2024-01-01T00:00:00Z", "text/html", "job")
        .createStreamingWriterFactory(null),
      "wds writer" -> new graft.sources.wds.WdsBatchWrite(
        out + "/wds", 0, Seq("txt" -> 1), truncateFirst = false, "job",
        Long.MaxValue, Long.MaxValue).createBatchWriterFactory(null),
      "wds stream writer" -> new graft.sources.wds.WdsStreamingWrite(
        out + "/wdss", 0, Seq("txt" -> 1), "job",
        Long.MaxValue, Long.MaxValue).createStreamingWriterFactory(null))
    factories.foreach { case (what, f) =>
      val bytes = javaSerialized(f)
      assert(bytes.length < 8 * 1024,
        s"$what factory serializes to ${bytes.length} bytes")
      assert(!new String(bytes, "ISO-8859-1")
        .contains("org.apache.hadoop.conf.Configuration"),
        s"$what factory embeds a Hadoop Configuration")
    }
  }

  test("one broadcast per conf content: reused while unchanged, rebuilt " +
      "when a session Hadoop setting changes") {
    val b1 = HadoopConfBroadcast(spark)
    assert(HadoopConfBroadcast(spark) eq b1)
    spark.conf.set("graft.spec.probe", "1")
    try {
      val b2 = HadoopConfBroadcast(spark)
      assert(b2 ne b1)
      assert(b2.value.value.get("graft.spec.probe") == "1")
      assert(HadoopConfBroadcast(spark) eq b2)
    } finally spark.conf.unset("graft.spec.probe")
  }

  test("a Hadoop setting changed between two reads reaches the second " +
      "read's executor-side open") {
    val path = "confprobe://" + pcapFile()
    def read(): Int = spark.read.format("pcap").load(path)
      .select("ts_micro").collect().length
    spark.conf.set("fs.confprobe.impl.disable.cache", "true")
    try {
      ConfProbeFs.take()
      spark.conf.set("fs.confprobe.impl", classOf[ConfProbeFsA].getName)
      assert(read() == 50)
      assert(ConfProbeFs.take() == Set("ConfProbeFsA"))
      spark.conf.set("fs.confprobe.impl", classOf[ConfProbeFsB].getName)
      assert(read() == 50)
      assert(ConfProbeFs.take() == Set("ConfProbeFsB"))
    } finally {
      spark.conf.unset("fs.confprobe.impl")
      spark.conf.unset("fs.confprobe.impl.disable.cache")
    }
  }

  test("a stopped and recreated session never reuses the old broadcast") {
    val path = pcapFile()
    def read(s: SparkSession): Long =
      s.read.format("pcap").load(path).select("ts_micro").collect().length
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s1 = session()
    val b1 = HadoopConfBroadcast(s1)
    assert(read(s1) == 50)
    s1.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = session()
    try {
      assert(s2.sparkContext ne s1.sparkContext)
      // broadcast ids restart with each context, so identity is the check
      val b2 = HadoopConfBroadcast(s2)
      assert(b2 ne b1)
      assert(read(s2) == 50)
      assert(HadoopConfBroadcast(s2) eq b2)
    } finally {
      s2.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }
}
