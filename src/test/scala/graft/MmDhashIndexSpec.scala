package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The persisted dHash band index behind mm_dhash_incremental
  * (round 12): the continuous image-ingestion screen must cold-load
  * without re-decoding the base corpus, grow by delta append when the
  * documents table grows by new files, and at every point return
  * results IDENTICAL to a full rebuild — the DedupIndexSpec contract,
  * now for the image side of the dedup family. */
class MmDhashIndexSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def copyDataset(): String = {
    val dir = Files.createTempDirectory("mm_idx_ds")
    val src = Paths.get("/root/testdata/sf0.001/documents.parquet")
    val dst = dir.resolve("documents.parquet")
    spark.read.parquet(src.toString).write.parquet(dst.toString)
    dir.toString
  }

  /** One delivery: `n` existing docs re-keyed strictly above the
    * current max doc_id (the monotone append contract). Image content
    * derives from doc_id, so the delivered rows are NEW images whose
    * ids still cluster into whiteout groups of four. */
  private def deliver(d: String, n: Int): Unit = {
    import org.apache.spark.sql.functions.{col, max}
    val docs = spark.read.parquet(d + "/documents.parquet")
    val maxId = docs.agg(max(col("doc_id"))).first().getLong(0)
    docs.orderBy(col("doc_id")).limit(n)
      .withColumn("doc_id", col("doc_id") + maxId + 1)
      .write.mode("append").parquet(d + "/documents.parquet")
  }

  private def run(d: String): Set[(Long, Long, Option[Long])] =
    SparkEntry.queries("mm_dhash_incremental")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet

  private val md = graft.operators.MediaDedup

  test("cold session loads the persisted band index without re-decoding " +
      "the base corpus; a stale (regenerated) source rebuilds") {
    val d = copyDataset()
    val base = Files.createTempDirectory("mm_idx_art").toString
    val prev = spark.conf.getOption("spark.graft.mmdhashidx.dir")
    spark.conf.set("spark.graft.mmdhashidx.dir", base)
    try {
      val first = run(d)
      assert(first.nonEmpty)
      assert(first.exists(_._2 > 0L),
        "the grouped fixture must contain probes that hit the index " +
          "(every non-base group member is within hamming 4 of one)")
      assert(md.mmIdxChain.buildsFor(d) == 1, "first run builds + persists")
      assert(Files.exists(md.mmIdxChain.dir(spark, d).resolve("meta.json")))
      assert(Files.exists(md.mmIdxChain.dir(spark, d).resolve("bands")))
      // warm memo: second run, no new build
      assert(run(d) == first)
      assert(md.mmIdxChain.buildsFor(d) == 1)
      // cold start: cleared memo, artifact on disk
      Memo.clear("media_idx")
      assert(run(d) == first, "cold load must be identical")
      assert(md.mmIdxChain.buildsFor(d) == 1,
        "cold session must load the artifact, not re-decode the base")
      // regeneration at the same cardinality: only the fingerprint
      // sees it (same-row-count file touched)
      val dataFile = Files.list(Paths.get(d + "/documents.parquet"))
        .filter(p => p.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.setLastModifiedTime(dataFile,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() + 10000))
      Memo.clear("media_idx")
      run(d)
      assert(md.mmIdxChain.buildsFor(d) == 2,
        "a same-cardinality regeneration must rebuild (fingerprint)")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.graft.mmdhashidx.dir", v)
        case None => spark.conf.unset("spark.graft.mmdhashidx.dir")
      }
      Memo.clear("media_idx")
    }
  }

  test("a strictly-grown documents table appends a delta dir instead " +
      "of re-decoding the base, and matches a full rebuild exactly") {
    val d = copyDataset()
    val base = Files.createTempDirectory("mm_idx_ap").toString
    val prev = spark.conf.getOption("spark.graft.mmdhashidx.dir")
    spark.conf.set("spark.graft.mmdhashidx.dir", base)
    try {
      run(d)
      assert(md.mmIdxChain.buildsFor(d) == 1)
      assert(md.mmIdxChain.appendsFor(spark, d) == 0)
      deliver(d, 60)
      Memo.clear("media_idx")
      val grown = run(d)
      assert(md.mmIdxChain.buildsFor(d) == 1,
        "an append-only delivery must NOT re-decode the base corpus")
      assert(md.mmIdxChain.appendsFor(spark, d) == 1)
      assert(Files.exists(md.mmIdxChain.dir(spark, d).resolve("delta-1")))
      assert(grown.nonEmpty)
      // a later cold session loads the appended artifact as-is
      Memo.clear("media_idx")
      assert(run(d) == grown)
      assert(md.mmIdxChain.buildsFor(d) == 1 && md.mmIdxChain.appendsFor(spark, d) == 1)
      // ground truth: a fresh artifact dir forces the full rebuild over
      // the same grown dataset — results must be identical (the
      // min/sum merge fold reconstructs exactly the full-build summary)
      spark.conf.set("spark.graft.mmdhashidx.dir",
        Files.createTempDirectory("mm_idx_fb").toString)
      Memo.clear("media_idx")
      assert(run(d) == grown,
        "appended screen must equal the full rebuild's")
      assert(md.mmIdxChain.buildsFor(d) == 2, "the fresh dir really rebuilt")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.graft.mmdhashidx.dir", v)
        case None => spark.conf.unset("spark.graft.mmdhashidx.dir")
      }
      Memo.clear("media_idx")
    }
  }
}
