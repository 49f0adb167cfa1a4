package graft.pcap

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.{FileSource, HadoopConfBroadcast}
import graft.sources.pcap.PcapTable

/** Typed entry point: `Dataset[PacketRecord]` (SURVEY.md §1.4 — the
  * decoder core is a plain `Iterator[PacketRecord]`; this lifts it into a
  * typed Dataset for users who want case-class field access and compile-
  * time checks instead of the untyped `pcap` format columns).
  *
  * Stays inside the Dataset API (typed `flatMap` with the product
  * encoder) — one partition per file slice, decode runs on executors.
  * `path` lists as `spark.read.format("pcap").load(path)` does.
  */
object PcapIO {

  def packets(spark: SparkSession, path: String,
      options: DecodeOptions = DecodeOptions()): Dataset[PacketRecord] = {
    import spark.implicits._
    val conf = spark.sessionState.newHadoopConf()
    val files = PcapTable.listDataFiles(
      new CaseInsensitiveStringMap(java.util.Map.of("path", path)), conf)
      .map(_.getPath.toString)
    val bc = HadoopConfBroadcast(spark, conf)
    val parallelism = math.min(files.length,
      spark.sparkContext.defaultParallelism).max(1)
    spark.createDataset(files)
      .repartition(parallelism)
      .flatMap(file =>
        PacketReaders.open(FileSource.open(bc.value.value, file), options))
  }
}
