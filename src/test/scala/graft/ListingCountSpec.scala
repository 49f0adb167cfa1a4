package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ListingStats
import graft.sources.warc.{WarcCdx, WarcSynth}
import graft.sources.zip.ZipSynth

/** Pins "at most ONE data-file directory listing per scan build" for
  * all four file sources — a listing is O(files) RPCs on an object
  * store, and before memoization a single query paid it 3-4 times
  * (stats estimate, aggregate probe, partition planning). */
class ListingCountSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def listingsDuring(body: => Unit): Long = {
    ListingStats.listings.reset()
    body
    ListingStats.listings.sum()
  }

  /** A source, a directory of its files, a column to read, and the scan
    * a bare COUNT(*) plans when the source answers it from sidecars. */
  private case class Source(format: String, fixture: () => String,
      column: String, statsScan: Option[String])

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private val sources = Seq(
    Source("pcap", () => {
      val dir = tmp("pcap_lst")
      graft.pcap.PcapSynth.writeAtomic(java.nio.file.Paths.get(dir, "a.pcap"),
        graft.pcap.PcapSynth.file(graft.pcap.PcapSynth.icmpPackets(9)))
      graft.tools.PcapStatsWriter.main(Array(dir))
      dir
    }, "protocol", Some("PcapStatsScan")),
    Source("warc", () => {
      val dir = WarcSynth.ensureFixture(tmp("warc_lst"), 30)
      WarcCdx.ensureIndexed(spark.sessionState.newHadoopConf(), dir)
      dir
    }, "url", Some("WarcStatsScan")),
    Source("wds", () => {
      import spark.implicits._
      val dir = tmp("wds_lst")
      spark.range(20).select(
          concat(lit("k"), $"id").as("key"),
          encode(concat(lit("body "), $"id"), "UTF-8").as("txt"))
        .coalesce(1)
        .write.format("wds").mode("append").save(dir)
      dir
    }, "key", Some("WdsStatsScan")),
    Source("zip", () => ZipSynth.ensureFixture(tmp("zip_lst"), 3), "entry",
      None))

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  sources.foreach { s =>
    test(s"${s.format}: one listing per scan build") {
      val dir = s.fixture()
      val full = listingsDuring {
        spark.read.format(s.format).load(dir).select(s.column).collect()
      }
      assert(full <= 1, s"full scan listed the directory $full times")
      // COUNT(*) involves TWO scan builds — the aggregate-pushdown probe
      // and Spark's computeStats path — each allowed one listing
      var counted: DataFrame = null
      val n = listingsDuring {
        counted = spark.read.format(s.format).load(dir).groupBy().count()
        counted.collect()
      }
      assert(n <= 2, s"COUNT(*) listed the directory $n times")
      s.statsScan.foreach(scan => assert(planOf(counted).contains(scan),
        s"COUNT(*) did not plan the metadata scan:\n${planOf(counted)}"))
    }
  }
}
