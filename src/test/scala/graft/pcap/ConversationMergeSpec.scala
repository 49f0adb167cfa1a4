package graft.pcap

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The corpus bridge's conversation buffer is merge-order invariant:
  * with the corpus fixture re-chunked so that every conversation's
  * request and response segments sit in different capture files — and
  * each file is its own scan task — the two directions only meet in
  * partial-buffer merges, and the bridged rows must equal the
  * single-file read at any shuffle width and in both doc_id modes. */
class ConversationMergeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("conversations whose directions land in different files and " +
      "map tasks bridge to the unchunked rows") {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("conv_merge")
    val whole = tmp.resolve("corpus.pcap")
    PcapSynth.writeAtomic(whole,
      PcapSynth.file(PcapSynth.httpCorpusSegments(60)))
    val chunkDir = tmp.resolve("chunks").toString
    val chunks = PcapChunker.chunk(new Configuration(), whole.toString,
      chunkDir, chunkBytes = 2048)
    // no chunk holds both directions of any conversation
    chunks.foreach { c =>
      val mixed = spark.read.format("pcap").load(c)
        .filter($"protocol" === "TCP" && $"payload".isNotNull)
        .select(when($"dst_port" === 80, $"src_port")
          .otherwise($"dst_port").as("client_port"),
          ($"dst_port" === 80).as("is_req"))
        .groupBy("client_port").agg(countDistinct("is_req").as("dirs"))
        .filter($"dirs" > 1).count()
      assert(mixed == 0, s"$c holds both directions of $mixed conversations")
    }
    def rows(path: String, docIdBase: Int): Seq[String] =
      graft.operators.PcapQueries.httpToCorpus(spark, path,
        serverPort = 80, docIdBase = docIdBase)
        .collect().map(_.toString).sorted.toSeq
    val conf = spark.conf
    try {
      // one scan task per chunk file
      conf.set("spark.sql.files.maxPartitionBytes", "1")
      assert(spark.read.format("pcap").load(chunkDir).rdd.getNumPartitions ==
        chunks.length)
      for (base <- Seq(42000, -1)) {
        val want = rows(whole.toString, base)
        assert(want.nonEmpty)
        for (parts <- Seq(1, 7)) {
          conf.set("spark.sql.shuffle.partitions", parts.toString)
          val got = rows(chunkDir, base)
          assert(got == want, s"docIdBase $base, $parts partitions: " +
            s"${got.diff(want).take(2)} vs ${want.diff(got).take(2)}")
        }
      }
    } finally {
      conf.unset("spark.sql.files.maxPartitionBytes")
      conf.set("spark.sql.shuffle.partitions", "4")
    }
  }
}
