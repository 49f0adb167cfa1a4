package graft.pcap

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Metadata-only COUNT(*) over an indexed capture directory (round-9):
  * when every file has a count-bearing `.tsidx` sidecar the plan is a
  * PcapStatsScan that never opens a capture; any missing/old sidecar,
  * a filter, or `countPushdown=false` falls back to the real scan with
  * identical results. */
class PcapCountPushdownSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** A directory of three small captures with distinct packet counts. */
  private def mkDir(): (String, Long) = {
    val dir = Files.createTempDirectory("pcap_cnt")
    var total = 0L
    for ((n, i) <- Seq(7, 11, 13).zipWithIndex) {
      val pkts = PcapSynth.icmpPackets(n)
      PcapSynth.writeAtomic(dir.resolve(s"cap$i.pcap"),
        PcapSynth.file(pkts))
      total += pkts.length
    }
    (dir.toString, total)
  }

  private def indexDir(d: String): Unit =
    graft.tools.PcapStatsWriter.main(Array(d))

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("indexed dir answers count(*) from sidecars without opening files") {
    val (d, total) = mkDir()
    indexDir(d)
    val df = spark.read.format("pcap").load(d).groupBy().count()
    assert(planOf(df).contains("PcapStatsScan"),
      s"expected metadata count scan in:\n${planOf(df)}")
    assert(df.collect().head.getLong(0) == total)
    // parity: pushdown disabled must produce the same number the slow way
    val slow = spark.read.format("pcap").option("countPushdown", "false")
      .load(d).groupBy().count()
    assert(!planOf(slow).contains("PcapStatsScan"))
    assert(slow.collect().head.getLong(0) == total)
  }

  test("missing or count-less sidecar falls back to the scan") {
    val (d, total) = mkDir()
    indexDir(d)
    // one sidecar loses its count field (pre-round-9 format)
    val p = java.nio.file.Paths.get(d, "cap1.pcap.tsidx")
    val twoField = new String(Files.readAllBytes(p), "UTF-8")
      .trim.split("\\s+").take(2).mkString(" ") + "\n"
    Files.write(p, twoField.getBytes("UTF-8"))
    // drop the Hadoop LocalFS checksum so the reader parses the
    // rewritten 2-field sidecar instead of tripping on a stale .crc
    Files.deleteIfExists(java.nio.file.Paths.get(d, ".cap1.pcap.tsidx.crc"))
    val df = spark.read.format("pcap").load(d).groupBy().count()
    assert(!planOf(df).contains("PcapStatsScan"),
      "a count-less sidecar must decline the pushdown")
    assert(df.collect().head.getLong(0) == total)
    // sidecar missing entirely
    Files.delete(p)
    val df2 = spark.read.format("pcap").load(d).groupBy().count()
    assert(!planOf(df2).contains("PcapStatsScan"))
    assert(df2.collect().head.getLong(0) == total)
  }

  test("filtered count never uses the metadata path") {
    val (d, _) = mkDir()
    indexDir(d)
    val df = spark.read.format("pcap").load(d)
      .filter("protocol = 'ICMP'").groupBy().count()
    assert(!planOf(df).contains("PcapStatsScan"),
      "a filter must force the decoding scan (a pushed filter declines " +
        "the sidecar count)")
    assert(df.collect().head.getLong(0) > 0)
  }

  test("min/max(ts) answer from sidecar bounds; mixed with count in " +
      "one aggregate; parity with the decoding scan") {
    val (d, _) = mkDir()
    indexDir(d)
    val df = spark.read.format("pcap").load(d)
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.min("ts").as("mn"),
        org.apache.spark.sql.functions.max("ts").as("mx"))
    assert(planOf(df).contains("PcapStatsScan"),
      s"expected metadata stats scan in:\n${planOf(df)}")
    val got = df.collect().head
    val slow = spark.read.format("pcap").option("countPushdown", "false")
      .load(d)
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)),
        org.apache.spark.sql.functions.min("ts"),
        org.apache.spark.sql.functions.max("ts"))
      .collect().head
    assert(!planOf(spark.read.format("pcap")
      .option("countPushdown", "false").load(d).groupBy().count())
      .contains("PcapStatsScan"))
    assert((got.getLong(0), got.getLong(1), got.getLong(2)) ==
      (slow.getLong(0), slow.getLong(1), slow.getLong(2)),
      s"$got vs $slow")
  }

  test("min/max(ts) still push on count-less (pre-round-9) sidecars; " +
      "adding count(*) then declines") {
    val (d, _) = mkDir()
    indexDir(d)
    // strip every sidecar to the old 2-field form
    for (i <- 0 until 3) {
      val p = java.nio.file.Paths.get(d, s"cap$i.pcap.tsidx")
      val twoField = new String(Files.readAllBytes(p), "UTF-8")
        .trim.split("\\s+").take(2).mkString(" ") + "\n"
      Files.write(p, twoField.getBytes("UTF-8"))
      Files.deleteIfExists(
        java.nio.file.Paths.get(d, s".cap$i.pcap.tsidx.crc"))
    }
    val mm = spark.read.format("pcap").load(d)
      .agg(org.apache.spark.sql.functions.min("ts"),
        org.apache.spark.sql.functions.max("ts"))
    assert(planOf(mm).contains("PcapStatsScan"),
      s"bounds-only pushdown must survive count-less sidecars:\n${planOf(mm)}")
    val slow = spark.read.format("pcap").option("countPushdown", "false")
      .load(d)
      .agg(org.apache.spark.sql.functions.min("ts"),
        org.apache.spark.sql.functions.max("ts")).collect().head
    assert(mm.collect().head == slow)
    val withCount = spark.read.format("pcap").load(d)
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)),
        org.apache.spark.sql.functions.min("ts"))
    assert(!planOf(withCount).contains("PcapStatsScan"),
      "count over count-less sidecars must fall back entirely")
  }

  test("min of a non-ts column never uses the metadata path") {
    val (d, _) = mkDir()
    indexDir(d)
    val df = spark.read.format("pcap").load(d)
      .agg(org.apache.spark.sql.functions.min("ts_micro"))
    assert(!planOf(df).contains("PcapStatsScan"),
      "sidecars only bound whole-second ts, not ts_micro")
  }

  test("sink-written sidecars carry counts the pushdown can use") {
    val (d, total) = mkDir()
    val out = Files.createTempDirectory("pcap_cnt_out").toString + "/re"
    spark.read.format("pcap").load(d)
      .selectExpr("ts_micro", "frame")
      .repartition(2)
      .write.format("pcap").option("writeTsIndex", "true")
      .mode("append").save(out)
    val df = spark.read.format("pcap").load(out).groupBy().count()
    assert(planOf(df).contains("PcapStatsScan"),
      s"sink sidecars must enable the pushdown:\n${planOf(df)}")
    assert(df.collect().head.getLong(0) == total)
  }
}
