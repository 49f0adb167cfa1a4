package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The persisted co-purchase graph artifact (round-9): pagerank and
  * LPA share ONE edge build — within a session via the cached memo,
  * across sessions via the parquet + sidecar artifact — and a stale
  * artifact (source table changed underneath it) must rebuild, never
  * serve a silently-stale graph. Same architecture as AnnIndexSpec:
  * cleared memos + a live artifact IS the fresh-session cold start. */
class GraphArtifactSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def copyDataset(): String = {
    val dir = Files.createTempDirectory("graph_art_ds")
    val src = Paths.get("/root/testdata/sf0.001/lineitem.parquet")
    val dst = dir.resolve("lineitem.parquet")
    spark.read.parquet(src.toString).write.parquet(dst.toString)
    dir.toString
  }

  private def runPr(d: String): Seq[(Long, Double)] =
    SparkEntry.queries("pipeline_pagerank")(spark, d).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq

  private def runLpa(d: String): Seq[(Long, Long)] =
    SparkEntry.queries("pipeline_lpa_communities")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

  private def runKcore(d: String): Set[(Long, Long)] =
    SparkEntry.queries("pipeline_graph_kcore")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("pagerank + LPA share one edge build; cold session loads the " +
      "artifact; stale artifact rebuilds") {
    val d = copyDataset()
    val base = Files.createTempDirectory("graph_art").toString
    val prev = spark.conf.getOption("spark.graft.graph.dir")
    spark.conf.set("spark.graft.graph.dir", base)
    try {
      val g = graft.operators.Graph
      val pr = runPr(d)
      assert(pr.nonEmpty)
      assert(g.chain.buildsFor(d) == 1, "first run builds + persists")
      val lpa = runLpa(d)
      assert(lpa.nonEmpty)
      assert(g.chain.buildsFor(d) == 1,
        "LPA must reuse the edge build pagerank already paid for")
      val kc = runKcore(d)
      assert(kc.nonEmpty)
      assert(g.chain.buildsFor(d) == 1,
        "kcore must ride the shared artifact, not rebuild the self-join")
      val dir = g.chain.dir(spark, d)
      assert(Files.exists(dir.resolve("meta.json")),
        "sidecar commit marker must be persisted")
      assert(Files.exists(dir.resolve("edges")),
        "edge relation must be persisted as parquet")

      // fresh-session cold start: empty memos, artifact on disk
      Memo.clear("graph")
      assert(runPr(d) == pr, "cold pagerank must be identical")
      assert(runLpa(d) == lpa, "cold LPA must be identical")
      assert(runKcore(d) == kc, "cold kcore must be identical")
      assert(g.chain.buildsFor(d) == 1,
        "cold session must load the artifact, not re-join")

      // stale guard: the source table grows underneath the artifact —
      // append a full-schema row by duplicating an existing one
      val one = spark.read.parquet(d + "/lineitem.parquet").limit(1)
      one.write.mode("append").parquet(d + "/lineitem.parquet")
      Memo.clear("graph")
      runPr(d)
      assert(g.chain.buildsFor(d) == 2,
        "a stale artifact (row-count mismatch) must rebuild")

      // regeneration at the SAME cardinality: row counts agree, only
      // the size+mtime fingerprint can see it (simulated by touching a
      // data file — any rewrite changes mtimes the same way)
      val dataFile = Files.list(Paths.get(d + "/lineitem.parquet"))
        .filter(p => p.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.setLastModifiedTime(dataFile,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() + 10000))
      Memo.clear("graph")
      runPr(d)
      assert(g.chain.buildsFor(d) == 3,
        "a same-cardinality regeneration must rebuild (fingerprint)")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.graft.graph.dir", v)
        case None => spark.conf.unset("spark.graft.graph.dir")
      }
      Memo.clear("graph")
    }
  }

  test("the delta chain compacts back to one payload dir past the " +
      "bound, still without rebuilding, still exact") {
    import org.apache.spark.sql.functions.{col, max}
    val d = copyDataset()
    val base = Files.createTempDirectory("graph_art_cp").toString
    val prev = spark.conf.getOption("spark.graft.graph.dir")
    spark.conf.set("spark.graft.graph.dir", base)
    try {
      val g = graft.operators.Graph
      def edgesSet(): Set[(Long, Long, Long)] =
        g.coPurchaseEdges(spark, d).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      edgesSet()
      assert(g.chain.buildsFor(d) == 1)
      // 7 successive monotone deliveries: appends 1..5 accumulate delta
      // dirs, append 6 crosses MaxPayloadDirs and compacts to ONE dir,
      // append 7 starts a fresh chain on top of the compacted dir
      (1 to 7).foreach { k =>
        val li = spark.read.parquet(d + "/lineitem.parquet")
        val maxOk = li.agg(max(col("l_orderkey"))).first().getLong(0)
        li.orderBy(col("l_orderkey")).limit(40)
          .withColumn("l_orderkey", col("l_orderkey") + maxOk + 1)
          .write.mode("append").parquet(d + "/lineitem.parquet")
        Memo.clear("graph")
        edgesSet()
        assert(g.chain.buildsFor(d) == 1, s"delivery $k triggered a rebuild")
        assert(g.chain.appendsFor(spark, d) == k)
        val dirs = g.chain.payloadDirsFor(spark, d)
        if (k <= 5) assert(dirs.size == k + 1, s"delivery $k: $dirs")
        else if (k == 6) assert(dirs == Seq("edges-c6"),
          s"delivery 6 must compact: $dirs")
        else assert(dirs == Seq("edges-c6", "delta-7"),
          s"delivery 7 must append onto the compacted dir: $dirs")
      }
      val appended = edgesSet()
      // ground truth: full rebuild of the 7-times-grown dataset
      spark.conf.set("spark.graft.graph.dir",
        Files.createTempDirectory("graph_art_cp_fb").toString)
      Memo.clear("graph")
      assert(edgesSet() == appended,
        "compacted+appended edges must equal the full rebuild's")
      assert(g.chain.buildsFor(d) == 2)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.graft.graph.dir", v)
        case None => spark.conf.unset("spark.graft.graph.dir")
      }
      Memo.clear("graph")
    }
  }

  test("a strictly-grown lineitem appends a delta dir instead of " +
      "rebuilding, and matches a full rebuild exactly") {
    import org.apache.spark.sql.functions.{col, max}
    val d = copyDataset()
    val base = Files.createTempDirectory("graph_art_ap").toString
    val prev = spark.conf.getOption("spark.graft.graph.dir")
    spark.conf.set("spark.graft.graph.dir", base)
    try {
      val g = graft.operators.Graph
      runPr(d)
      assert(g.chain.buildsFor(d) == 1)
      assert(g.chain.appendsFor(spark, d) == 0)
      // the delivery: 100 lineitem rows remapped to order keys ABOVE
      // the build-time max (the monotone append contract) — their
      // parts repeat existing parts, so delta pairs MERGE with base
      // edge weights across payload dirs
      val li = spark.read.parquet(d + "/lineitem.parquet")
      val maxOk = li.agg(max(col("l_orderkey"))).first().getLong(0)
      li.orderBy(col("l_orderkey")).limit(100)
        .withColumn("l_orderkey", col("l_orderkey") + maxOk + 1)
        .write.mode("append").parquet(d + "/lineitem.parquet")
      Memo.clear("graph")
      val prGrown = runPr(d)
      val lpaGrown = runLpa(d)
      assert(g.chain.buildsFor(d) == 1,
        "an append-only delivery must NOT re-run the full self-join")
      assert(g.chain.appendsFor(spark, d) == 1,
        "the sidecar must record the append")
      assert(Files.exists(g.chain.dir(spark, d).resolve("delta-1")),
        "the delta payload dir must be persisted")
      // a later cold session loads the appended artifact (sidecar key
      // now matches the GROWN dataset) without building or appending
      Memo.clear("graph")
      assert(runPr(d) == prGrown, "cold load of appended artifact")
      assert(g.chain.buildsFor(d) == 1 && g.chain.appendsFor(spark, d) == 1)
      // ground truth: a fresh artifact dir forces the full self-join
      // over the same grown dataset — results must be identical (the
      // merge-on-load fold reconstructs exactly the full-build edges)
      spark.conf.set("spark.graft.graph.dir",
        Files.createTempDirectory("graph_art_fb").toString)
      Memo.clear("graph")
      assert(runPr(d) == prGrown,
        "appended pagerank must equal the full rebuild's")
      assert(runLpa(d) == lpaGrown,
        "appended LPA must equal the full rebuild's (merged weights)")
      assert(g.chain.buildsFor(d) == 2, "the fresh dir really rebuilt")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.graft.graph.dir", v)
        case None => spark.conf.unset("spark.graft.graph.dir")
      }
      Memo.clear("graph")
    }
  }
}
