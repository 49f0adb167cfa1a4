package graft.pcap

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.scalatest.funsuite.AnyFunSuite

/** The corpus bridge's conversation step is arrival-order invariant:
  * with the corpus fixture re-chunked so that every conversation's
  * request and response segments sit in different capture files — and
  * each file is its own scan task — the two directions meet only in
  * the conversation's one sorted group, and the bridged rows must equal
  * the single-file read at any shuffle width and in both doc_id modes.
  * The conversation exchange's two widths (core-wide for a capture the
  * size estimate calls small, the planner's otherwise) bridge to the
  * same rows. */
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

  /** The final adaptive plan's conversation exchange (the one keyed on
    * `client_port`) and whether an AQE shuffle read sits above it. */
  private def conversationExchange(p: SparkPlan, read: Boolean = false)
      : Seq[(ShuffleExchangeExec, Boolean)] = p match {
    case a: AdaptiveSparkPlanExec => conversationExchange(a.executedPlan)
    case r: AQEShuffleReadExec => conversationExchange(r.child, read = true)
    case q: QueryStageExec => conversationExchange(q.plan, read)
    case e: ShuffleExchangeExec => e.outputPartitioning match {
      case h: HashPartitioning if h.references.exists(_.name == "client_port") =>
        (e, read) +: conversationExchange(e.child)
      case _ => conversationExchange(e.child)
    }
    case n => n.children.flatMap(conversationExchange(_))
  }

  test("a capture with more than 128 conversations in one scan task " +
      "bridges to the same rows through the core-wide exchange and the " +
      "planner's") {
    val n = 300
    val tmp = java.nio.file.Files.createTempDirectory("conv_wide")
    val path = tmp.resolve("corpus.pcap")
    PcapSynth.writeAtomic(path,
      PcapSynth.file(PcapSynth.httpCorpusSegments(n)))
    val par = spark.sparkContext.defaultParallelism
    // the corpus gate over the synthesized bodies, by conversation
    val gated = (0 until n).filter { f =>
      val w = PcapSynth.corpusBody(f).split(" ", -1)
      w.length >= 20 &&
        w.distinct.length.toLong * 1000000L / w.length >= 300000L
    }.map(_.toLong)
    def scanTasks() =
      spark.read.format("pcap").load(path.toString).rdd.getNumPartitions
    // per doc_id mode: the bridged rows and the conversation exchange
    def bridge() = Seq(42000, -1).map { base =>
      val df = graft.operators.PcapQueries.httpToCorpus(spark,
        path.toString, serverPort = 80, docIdBase = base)
      val rows = df.collect().map(_.toString).sorted.toSeq
      (rows, conversationExchange(df.queryExecution.executedPlan))
    }
    def gatedIds(): Seq[Long] =
      graft.operators.PcapQueries.httpCorpusGated(spark, path.toString,
        serverPort = 80, docIdBase = 42000).collect().map(_.getLong(0))
        .sorted.toSeq
    assert(scanTasks() == 1)
    val narrow = bridge()
    assert(gatedIds() == gated)
    val conf = spark.conf
    // a size estimate at or above maxPartitionBytes x cores keeps the
    // planner's exchange; one file is still one scan task
    conf.set("spark.sql.files.maxPartitionBytes", "1")
    val wide = try {
      assert(scanTasks() == 1)
      assert(gatedIds() == gated)
      bridge()
    } finally conf.unset("spark.sql.files.maxPartitionBytes")
    // core-wide and never coalesced; the planner's otherwise
    narrow.foreach { case (_, ex) =>
      assert(ex.map { case (e, read) => (e.shuffleOrigin, e.numPartitions,
        read) } == Seq((REPARTITION_BY_NUM, par, false)), ex)
    }
    wide.foreach { case (_, ex) =>
      assert(ex.map(_._1.shuffleOrigin) == Seq(ENSURE_REQUIREMENTS), ex)
    }
    narrow.zip(wide).foreach { case ((a, _), (b, _)) =>
      assert(a.nonEmpty && b == a,
        s"${b.diff(a).take(2)} vs ${a.diff(b).take(2)}")
    }
  }
}
