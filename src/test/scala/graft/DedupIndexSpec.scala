package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The persisted LSH bucket index behind dedup_lsh_incremental
  * (round 11): the continuous-ingestion dedup screen must cold-load
  * without re-shingling the base corpus, grow by delta append when the
  * documents table grows by new files, compact its chain past the
  * payload-dir bound, and at every point return results IDENTICAL to a
  * full rebuild — the same contract GraphArtifactSpec pins for the
  * co-purchase chain, now through the shared [[graft.DeltaChain]]. */
class DedupIndexSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def copyDataset(): String = {
    val dir = Files.createTempDirectory("dedup_idx_ds")
    val src = Paths.get("/root/testdata/sf0.001/documents.parquet")
    val dst = dir.resolve("documents.parquet")
    spark.read.parquet(src.toString).write.parquet(dst.toString)
    dir.toString
  }

  /** One delivery: `n` existing docs re-keyed strictly above the current
    * max doc_id (the monotone append contract), text retained so the
    * delivery contains real near-dups of indexed docs. */
  private def deliver(d: String, n: Int): Unit = {
    import org.apache.spark.sql.functions.{col, max}
    val docs = spark.read.parquet(d + "/documents.parquet")
    val maxId = docs.agg(max(col("doc_id"))).first().getLong(0)
    docs.orderBy(col("doc_id")).limit(n)
      .withColumn("doc_id", col("doc_id") + maxId + 1)
      .write.mode("append").parquet(d + "/documents.parquet")
  }

  private def run(d: String): Set[(Long, Long, Option[Long])] =
    SparkEntry.queries("dedup_lsh_incremental")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet

  private val dd = graft.operators.Dedup

  test("cold session loads the persisted index without re-shingling; " +
      "a stale (regenerated) source rebuilds") {
    val d = copyDataset()
    val base = Files.createTempDirectory("dedup_idx_art").toString
    val prev = spark.conf.getOption("spark.graft.dedupidx.dir")
    spark.conf.set("spark.graft.dedupidx.dir", base)
    try {
      val first = run(d)
      assert(first.nonEmpty)
      assert(first.exists(_._2 > 0L),
        "the fixture must contain deliveries that hit the index")
      assert(first.exists(_._2 == 0L),
        "the fixture must contain clean deliveries (0 hit bands)")
      assert(dd.idxChain.buildsFor(d) == 1, "first run builds + persists")
      assert(Files.exists(dd.idxChain.dir(spark, d).resolve("meta.json")))
      assert(Files.exists(dd.idxChain.dir(spark, d).resolve("buckets")))
      // warm memo: second run, no new build
      assert(run(d) == first)
      assert(dd.idxChain.buildsFor(d) == 1)
      // cold start: cleared memo, artifact on disk
      Memo.clear("dedup_idx")
      assert(run(d) == first, "cold load must be identical")
      assert(dd.idxChain.buildsFor(d) == 1,
        "cold session must load the artifact, not re-shingle the base")
      // regeneration at the same cardinality: only the fingerprint sees
      // it (same-row-count file touched)
      val dataFile = Files.list(Paths.get(d + "/documents.parquet"))
        .filter(p => p.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.setLastModifiedTime(dataFile,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() + 10000))
      Memo.clear("dedup_idx")
      run(d)
      assert(dd.idxChain.buildsFor(d) == 2,
        "a same-cardinality regeneration must rebuild (fingerprint)")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.graft.dedupidx.dir", v)
        case None => spark.conf.unset("spark.graft.dedupidx.dir")
      }
      Memo.clear("dedup_idx")
    }
  }

  test("a strictly-grown documents table appends a delta dir instead " +
      "of rebuilding, and matches a full rebuild exactly") {
    val d = copyDataset()
    val base = Files.createTempDirectory("dedup_idx_ap").toString
    val prev = spark.conf.getOption("spark.graft.dedupidx.dir")
    spark.conf.set("spark.graft.dedupidx.dir", base)
    try {
      run(d)
      assert(dd.idxChain.buildsFor(d) == 1)
      assert(dd.idxChain.appendsFor(spark, d) == 0)
      deliver(d, 60)
      Memo.clear("dedup_idx")
      val grown = run(d)
      assert(dd.idxChain.buildsFor(d) == 1,
        "an append-only delivery must NOT re-shingle the base corpus")
      assert(dd.idxChain.appendsFor(spark, d) == 1)
      assert(Files.exists(dd.idxChain.dir(spark, d).resolve("delta-1")))
      // delivered probe docs (doc_id % 7 == 0 among the new ids) must
      // appear in the grown result
      assert(grown.size > 0)
      // a later cold session loads the appended artifact as-is
      Memo.clear("dedup_idx")
      assert(run(d) == grown)
      assert(dd.idxChain.buildsFor(d) == 1 && dd.idxChain.appendsFor(spark, d) == 1)
      // ground truth: a fresh artifact dir forces the full rebuild over
      // the same grown dataset — results must be identical (the
      // merge-on-load fold reconstructs exactly the full-build summary)
      spark.conf.set("spark.graft.dedupidx.dir",
        Files.createTempDirectory("dedup_idx_fb").toString)
      Memo.clear("dedup_idx")
      assert(run(d) == grown,
        "appended screen must equal the full rebuild's")
      assert(dd.idxChain.buildsFor(d) == 2, "the fresh dir really rebuilt")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.graft.dedupidx.dir", v)
        case None => spark.conf.unset("spark.graft.dedupidx.dir")
      }
      Memo.clear("dedup_idx")
    }
  }

  test("shingle/signature relations are memoized across dedup " +
      "consumers (no stacked plan-identical caches)") {
    val d = "/root/testdata/sf0.001"
    Memo.clear("dedup")
    // build counters are cumulative across the suite run (another
    // suite may already have built for this dataset) — assert DELTAS
    val sh0 = Memo.builds("shingles", d)
    val sig0 = Memo.builds("signatures", d)
    try {
      SparkEntry.queries("dedup_ngram_jaccard")(spark, d).count()
      SparkEntry.queries("dedup_ppjoin")(spark, d).count()
      SparkEntry.queries("dedup_minhash_lsh")(spark, d).count()
      SparkEntry.queries("dedup_minhash_lsh")(spark, d).count()
      assert(Memo.builds("shingles", d) == sh0 + 1,
        "all shingle consumers must share ONE cached relation")
      assert(Memo.builds("signatures", d) == sig0 + 1,
        "repeated minhash runs must ride the signature memo")
    } finally Memo.clear("dedup")
  }

  test("rowBands (per-row HOF signatures, zero shuffle) equals the " +
      "groupBy band frame exactly") {
    val docs = spark.read.parquet(sfTest + "/documents.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1),
        r.getLong(2), r.getLong(3))).toSet
    val a = rows(dd.rowBands(docs))
    val b = rows(dd.groupByBands(docs))
    assert(a.nonEmpty && a == b,
      "the per-row array_min formulation must produce the identical " +
        "band frame (same min over the same shingle-hash set)")
  }

  private val sfTest = "/root/testdata/sf0.001"

  private def runExact(d: String): Set[(Long, Option[Long], Long)] =
    SparkEntry.queries("dedup_exact_incremental")(spark, d).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        r.getLong(2))).toSet

  test("the exact-digest chain (dedup_exact_incremental): cold load " +
      "without re-digesting, delta append, full-rebuild identity") {
    val d = copyDataset()
    val base = Files.createTempDirectory("digest_idx").toString
    val prev = spark.conf.getOption("spark.graft.digestidx.dir")
    spark.conf.set("spark.graft.digestidx.dir", base)
    try {
      val first = runExact(d)
      assert(first.nonEmpty)
      assert(first.exists(_._3 > 0L),
        "the fixture must contain byte-identical delivery docs")
      assert(first.exists(_._3 == 0L),
        "the fixture must contain clean delivery docs")
      // every hit's match_doc must be a base-split id (not a probe id)
      assert(first.forall(r => r._2.forall(_ % 7 != 0)))
      assert(dd.digestChain.buildsFor(d) == 1)
      assert(Files.exists(dd.digestChain.dir(spark, d).resolve("meta.json")))
      // cold session: artifact load, no rebuild
      Memo.clear("dedup_digest")
      assert(runExact(d) == first)
      assert(dd.digestChain.buildsFor(d) == 1,
        "cold session must load the artifact, not re-digest the base")
      // strict growth: delta append, then full-rebuild ground truth
      deliver(d, 60)
      Memo.clear("dedup_digest")
      val grown = runExact(d)
      assert(dd.digestChain.buildsFor(d) == 1,
        "an append-only delivery must not re-digest the base corpus")
      assert(dd.digestChain.appendsFor(spark, d) == 1)
      assert(Files.exists(dd.digestChain.dir(spark, d).resolve("delta-1")))
      // the delivery re-keys EXISTING docs, so every delivered probe
      // doc must now hit the index (its text is already indexed unless
      // its original lives on the probe split)
      spark.conf.set("spark.graft.digestidx.dir",
        Files.createTempDirectory("digest_idx_fb").toString)
      Memo.clear("dedup_digest")
      assert(runExact(d) == grown,
        "appended screen must equal the full rebuild's")
      assert(dd.digestChain.buildsFor(d) == 2, "the fresh dir really rebuilt")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.graft.digestidx.dir", v)
        case None => spark.conf.unset("spark.graft.digestidx.dir")
      }
      Memo.clear("dedup_digest")
    }
  }

  test("a vanished payload dir under an intact sidecar degrades to a " +
      "rebuild, never a permanent throw") {
    val d = copyDataset()
    val base = Files.createTempDirectory("digest_idx_gone").toString
    val prev = spark.conf.getOption("spark.graft.digestidx.dir")
    spark.conf.set("spark.graft.digestidx.dir", base)
    try {
      val first = runExact(d)
      assert(dd.digestChain.buildsFor(d) == 1)
      // a tmp cleaner removes the payload dir but the (recently
      // rewritten) sidecar survives — the cold load must fall through
      // to a full rebuild instead of throwing on every query forever
      val payload = dd.digestChain.dir(spark, d).resolve("digests")
      import scala.jdk.CollectionConverters._
      Files.walk(payload).iterator().asScala.toSeq.reverse
        .foreach(Files.delete)
      Memo.clear("dedup_digest")
      assert(runExact(d) == first, "rebuild must restore the screen")
      assert(dd.digestChain.buildsFor(d) == 2, "the vanished payload rebuilt")
      // and the rebuilt artifact cold-loads again
      Memo.clear("dedup_digest")
      assert(runExact(d) == first)
      assert(dd.digestChain.buildsFor(d) == 2)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.graft.digestidx.dir", v)
        case None => spark.conf.unset("spark.graft.digestidx.dir")
      }
      Memo.clear("dedup_digest")
    }
  }

  test("the delta chain compacts back to one payload dir past the " +
      "bound, still without rebuilding, still exact") {
    val d = copyDataset()
    val base = Files.createTempDirectory("dedup_idx_cp").toString
    val prev = spark.conf.getOption("spark.graft.dedupidx.dir")
    spark.conf.set("spark.graft.dedupidx.dir", base)
    try {
      run(d)
      assert(dd.idxChain.buildsFor(d) == 1)
      (1 to 7).foreach { k =>
        deliver(d, 20)
        Memo.clear("dedup_idx")
        run(d)
        assert(dd.idxChain.buildsFor(d) == 1, s"delivery $k triggered a rebuild")
        assert(dd.idxChain.appendsFor(spark, d) == k)
        val dirs = dd.idxChain.payloadDirsFor(spark, d)
        if (k <= 5) assert(dirs.size == k + 1, s"delivery $k: $dirs")
        else if (k == 6) assert(dirs == Seq("buckets-c6"),
          s"delivery 6 must compact: $dirs")
        else assert(dirs == Seq("buckets-c6", "delta-7"),
          s"delivery 7 must append onto the compacted dir: $dirs")
      }
      val appended = run(d)
      spark.conf.set("spark.graft.dedupidx.dir",
        Files.createTempDirectory("dedup_idx_cp_fb").toString)
      Memo.clear("dedup_idx")
      assert(run(d) == appended,
        "compacted+appended screen must equal the full rebuild's")
      assert(dd.idxChain.buildsFor(d) == 2)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.graft.dedupidx.dir", v)
        case None => spark.conf.unset("spark.graft.dedupidx.dir")
      }
      Memo.clear("dedup_idx")
    }
  }
}
