package graft.pcap

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The Hive SerDe's documented workflow re-expressed as Spark SQL DDL
  * (hadoop-pcap-serde/README.md:21-60: external table + SQL queries over
  * packet data). */
class PcapSqlDdlSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val fixture = getClass.getResource("/test.pcap").getPath

  test("CREATE TABLE ... USING pcap + SQL query (SerDe README workload)") {
    spark.sql("DROP TABLE IF EXISTS pcaps")
    spark.sql(s"""CREATE TABLE pcaps USING pcap
      OPTIONS (path '$fixture', decoder 'dns')""")
    try {
      val rows = spark.sql("""
        SELECT ts, protocol, src, dst, src_port, dst_port,
               dns_qname, dns_qtype_str
        FROM pcaps WHERE dst_port = 53""").collect()
      assert(rows.length == 1)
      val r = rows.head
      assert(r.getAs[Long]("ts") == 1317993942L)
      assert(r.getAs[String]("protocol") == "UDP")
      assert(r.getAs[String]("dns_qname") == "ripe.net.")
      assert(r.getAs[String]("dns_qtype_str") == "A")

      // aggregation through SQL (the count-by-port MR example)
      val counts = spark.sql(
        "SELECT src_port, COUNT(*) AS n FROM pcaps GROUP BY src_port")
        .collect().map(r => r.getAs[Int]("src_port") -> r.getAs[Long]("n"))
        .toMap
      assert(counts == Map(52938 -> 1L, 53 -> 1L))
    } finally spark.sql("DROP TABLE IF EXISTS pcaps")
  }

  test("multi-path load unions files") {
    val tmp = java.nio.file.Files.createTempDirectory("pcap_multi")
    val a = tmp.resolve("a.pcap"); val b = tmp.resolve("b.pcap")
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(fixture))
    java.nio.file.Files.write(a, bytes)
    java.nio.file.Files.write(b, bytes)
    val df = spark.read.format("pcap").load(a.toString, b.toString)
    assert(df.count() == 4)
    // duplicate paths are de-duplicated, not double-read
    assert(spark.read.format("pcap")
      .load(a.toString, a.toString).count() == 2)
  }

  test("decode metrics surface on the scan node") {
    val df = spark.read.format("pcap").load(fixture)
    df.collect()
    val scan = df.queryExecution.executedPlan.collectLeaves().head
    val m = scan.metrics
    assert(m.contains("packetsDecoded") && m.contains("bytesDecoded"))
    assert(m("packetsDecoded").value == 2L)
    assert(m("bytesDecoded").value == 677L - 24L) // file minus global header

    // pcapng counts whole blocks: the file minus its section and
    // interface header blocks (28 + 20 bytes)
    val recs = new PcapStreamReader(new java.io.FileInputStream(fixture),
      DecodeOptions(keepFrame = true)).toList
    val ng = PcapSynth.fileNg(Seq(1),
      recs.map(r => (0, r.tsMicro.get, r.frame.get)))
    val ngPath = java.nio.file.Files.createTempFile("ddl", ".pcapng")
    java.nio.file.Files.write(ngPath, ng)
    val ngDf = spark.read.format("pcap").load(ngPath.toString)
    ngDf.collect()
    val ngM = ngDf.queryExecution.executedPlan.collectLeaves().head.metrics
    assert(ngM("packetsDecoded").value == 2L)
    assert(ngM("bytesDecoded").value == ng.length - 28L - 20L)
  }

  test("pcap -> parquet ETL round trip (the archive workflow)") {
    val tmp = java.nio.file.Files.createTempDirectory("pcap_etl")
    val decoded = spark.read.format("pcap")
      .option("decoder", "dns").load(fixture)
      .drop("payload") // binary payloads excluded from the archive
    decoded.write.mode("overwrite").parquet(tmp.resolve("pq").toString)
    val back = spark.read.parquet(tmp.resolve("pq").toString)
    assert(back.count() == 2)
    // full column equality both directions
    assert(decoded.exceptAll(back).isEmpty)
    assert(back.exceptAll(decoded).isEmpty)
    // and the archive is queryable like any parquet table
    val n = back.where("dns_qname = 'ripe.net.'").count()
    assert(n == 2)
  }
}
