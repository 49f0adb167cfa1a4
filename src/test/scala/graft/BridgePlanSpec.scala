package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.scalatest.funsuite.AnyFunSuite

/** The corpus bridge's plan claims, asserted structurally: exactly one
  * pcap scan node in the physical plan (the two-direction + join
  * formulation planned two), and a final adaptive plan that groups each
  * conversation once — two hash exchanges, the conversation one
  * core-wide with no AQE shuffle read over it, no aggregate operator,
  * and no de-frame or split expression in any node, because the gate
  * runs once per conversation inside the group function. */
class BridgePlanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("pcap_http_to_corpus plans exactly one capture scan") {
    val df = SparkEntry.queries("pcap_http_to_corpus")(
      spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    val scans = "PcapScan".r.findAllIn(plan).length
    assert(scans == 1, s"expected 1 pcap scan, found $scans:\n$plan")
    assert(df.count() > 0)
  }

  /** Every node of the final (post-execution) adaptive plan, query
    * stages included. */
  private def finalNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => finalNodes(a.executedPlan)
    case q: QueryStageExec => q +: finalNodes(q.plan)
    case n => n +: n.children.flatMap(finalNodes)
  }

  test("pcap_http_to_corpus groups each conversation once: a " +
      "core-wide uncoalesced conversation exchange, no aggregate, no " +
      "per-row deframe or split") {
    val df = SparkEntry.queries("pcap_http_to_corpus")(
      spark, "/root/testdata/sf0.001")
    assert(df.collect().nonEmpty)
    val root = df.queryExecution.executedPlan
    assert(root.toString.contains("isFinalPlan=true"))
    val nodes = finalNodes(root)
    val shown = root.toString
    assert(nodes.count(_.simpleString(1000).contains("PcapScan(")) == 1,
      shown)
    val exchanges = nodes.collect { case e: ShuffleExchangeExec => e }
    val keys = exchanges.map(e => e.outputPartitioning match {
      case h: HashPartitioning =>
        h.expressions.flatMap(_.references.map(_.name)).toSet
      case other => fail(s"non-hash exchange $other:\n$shown")
    })
    assert(keys.toSet == Set(Set("server", "client", "client_port"),
      Set("body_md5")) && keys.length == 2, s"exchanges $keys:\n$shown")
    val conv = exchanges(keys.indexOf(Set("server", "client",
      "client_port")))
    assert(conv.shuffleOrigin == REPARTITION_BY_NUM &&
      conv.numPartitions == spark.sparkContext.defaultParallelism, shown)
    val reads = nodes.collect { case r: AQEShuffleReadExec =>
      finalNodes(r.child).collectFirst { case e: ShuffleExchangeExec => e }
    }.flatten
    assert(!reads.contains(conv), shown)
    assert(!nodes.exists(n => Set("ObjectHashAggregate", "SortAggregate",
      "HashAggregate").contains(n.nodeName)), shown)
    assert(nodes.exists(_.nodeName == "MapGroups"), shown)
    val perRow = nodes.flatMap(_.expressions).flatMap(_.collect {
      case e if e.prettyName == "http_deframe" || e.prettyName == "split" =>
        e.prettyName
    })
    assert(perRow.isEmpty, s"per-row $perRow:\n$shown")
  }

  test("the endpoint-hash doc_id mode (a real capture's mapping) " +
      "produces the same corpus under different ids") {
    // the fixture binds doc_id = client_port - 42000; a REAL capture
    // has no port→document semantics, so the bridge's docIdBase < 0
    // mode hashes the client endpoint instead (round-9 advisory:
    // fixture-coupled constants must not be the only working path).
    // Same capture, both modes: identical corpus content — row count,
    // (host, n_tokens, n_dups, body_md5) multiset — under distinct,
    // collision-free hash ids.
    import spark.implicits._
    val fixture = SparkEntry.queries("pcap_http_to_corpus")(
      spark, "/root/testdata/sf0.001")
    val p = java.nio.file.Paths.get("/tmp/graft_synth_httpcorpus3.pcap")
    graft.pcap.PcapSynth.ensureHttpCorpusFile(p, 60)
    val hashed = graft.operators.PcapQueries.httpToCorpus(
      spark, p.toString, serverPort = 80, docIdBase = -1)
    val fx = fixture.collect()
    val hs = hashed.collect()
    assert(hs.length == fx.length && fx.nonEmpty)
    def content(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getString(1), r.getLong(2), r.getLong(3),
        r.getString(4))).sorted.toSeq
    // the dedup keeps a different canonical member per duplicate group
    // (min hash id vs min port id) but the group CONTENT — host of the
    // kept doc may differ within a boilerplate group, so compare the
    // dedup-invariant columns (n_tokens, n_dups, body_md5) and the
    // full multiset of kept hosts for singleton groups
    def invariant(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(2), r.getLong(3), r.getString(4)))
        .sorted.toSeq
    assert(invariant(hs) == invariant(fx))
    assert(content(hs.filter(_.getLong(3) == 1L)) ==
      content(fx.filter(_.getLong(3) == 1L)))
    // hash ids are collision-free and not the port mapping
    assert(hs.map(_.getLong(0)).distinct.length == hs.length)
    assert(hs.forall(r => r.getLong(0) < 0 || r.getLong(0) >= 60))
  }
}
