package graft.pcap

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.FileSource
import graft.sources.pcap.PcapTsIndex

/** Which files the pcap entry points read: the shared data-file rule
  * ([[FileSource]]) keeps a capture's `.tsidx` sidecar and the writers'
  * hidden temps out of every listing, whether a directory is listed or a
  * glob matches. */
class PcapListingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val Base = 1600000000L

  /** Capture `name` of `n` packets one second apart from `first`, and
    * its exact sidecar. */
  private def capture(dir: Path, name: String, first: Long, n: Int): Path = {
    val p = dir.resolve(name)
    PcapSynth.writeAtomic(p, PcapSynth.file((0 until n).map(k =>
      (first + k, k.toLong, PcapSynth.synthFrame(k)))))
    PcapTsIndex.writeSidecar(localFs, new org.apache.hadoop.fs.Path(p.toUri),
      first, first + n - 1, Some(n.toLong))
    p
  }

  private lazy val localFs = org.apache.hadoop.fs.FileSystem.getLocal(
    spark.sessionState.newHadoopConf())

  private def rows(df: DataFrame): Seq[(Long, Long)] =
    df.select("ts_micro", "size").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  test("batch, glob, stream and PcapIO read the same rows from a " +
      "directory with sidecars") {
    val dir = Files.createTempDirectory("pcap_agree")
    capture(dir, "a.pcap", Base, 20)
    capture(dir, "b.pcap", Base + 100, 7)
    val batch = rows(spark.read.format("pcap").load(dir.toString))
    assert(batch.size == 27)
    assert(rows(spark.read.format("pcap").load(s"$dir/*")) == batch)

    val q = spark.readStream.format("pcap").load(s"$dir/*")
      .select("ts_micro", "size")
      .writeStream.format("memory").queryName("pcap_agree_stream")
      .trigger(Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(60000), "AvailableNow query never stopped")
    finally q.stop()
    assert(rows(spark.table("pcap_agree_stream")) == batch)

    val typed = PcapIO.packets(spark, dir.toString).collect()
      .map(p => (p.tsMicro.get, p.size.get)).toSeq.sorted
    assert(typed == batch)
  }

  test("stray writer temps, as a killed task leaves them, do not change " +
      "the rows") {
    val dir = Files.createTempDirectory("pcap_stray")
    val a = capture(dir, "a.pcap", Base, 20)
    val before = rows(spark.read.format("pcap").load(dir.toString))
    assert(before.size == 20)
    // a sink task killed mid-write: its part file, truncated, still
    // under the name the writer stages it under; and a sidecar whose
    // rename never ran
    val part = new org.apache.hadoop.fs.Path(dir.resolve(
      "part-00000-7.pcap").toUri)
    val bytes = Files.readAllBytes(a)
    Files.write(java.nio.file.Paths.get(FileSource.staging(part).toUri),
      bytes.take(bytes.length - 5))
    val sidecar = PcapTsIndex.sidecar(new org.apache.hadoop.fs.Path(a.toUri))
    Files.write(java.nio.file.Paths.get(FileSource.staging(sidecar).toUri),
      "0 1 2\n".getBytes("UTF-8"))
    assert(Files.list(dir).count() >= 4)
    assert(rows(spark.read.format("pcap").load(dir.toString)) == before)
    assert(rows(spark.read.format("pcap").load(s"$dir/*")) == before)
    // the sink's own output directory reads its committed part alone
    val out = Files.createTempDirectory("pcap_stray_sink").toString
    spark.read.format("pcap").load(a.toString).select("ts_micro", "frame")
      .coalesce(1).write.format("pcap").mode("append").save(out)
    val committed = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".pcap"))
    assert(committed.length == 1)
    val staged = FileSource.staging(
      new org.apache.hadoop.fs.Path(committed.head.toURI))
    Files.write(java.nio.file.Paths.get(staged.toUri),
      bytes.take(bytes.length - 5))
    assert(rows(spark.read.format("pcap").load(out)) == before)
    assert(spark.read.format("pcap").load(out).count() == 20)
  }
}
