package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, max, min}
import org.scalatest.funsuite.AnyFunSuite

/** Operator memos are guarded by the content of the table they derive
  * from, not by the dataset path: a dataset whose `documents.parquet`
  * and `embeddings.parquet` are rewritten in place mid-session (same
  * paths, same row counts) must be served the rows a fresh session
  * computes, never the memoized relations or models of the old files.
  * The fresh session is modelled by a second, never-seen copy of the
  * rewritten files, which no memo and no cached plan can know. */
class MemoContentGuardSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val src = Paths.get("/root/testdata/sf0.001")
  private val tables = Seq("documents", "embeddings")

  /** Each query reads one memoized artifact: the MinHash signature and
    * band-stats relations, the span relation, the k-means centroids. */
  private val queries =
    Seq("dedup_minhash_lsh", "text_repeat_spans", "sim_kmeans_cluster")

  private def copy(from: Path, to: Path): Unit = tables.foreach { t =>
    Files.copy(from.resolve(s"$t.parquet"), to.resolve(s"$t.parquet"))
    to.resolve(s"$t.parquet").toFile.setWritable(true)
  }

  private def rows(q: String, d: Path): Seq[String] =
    SparkEntry.queries(q)(spark, d.toString).collect().map(_.toString)
      .toSeq.sorted

  /** Rewrites table `t` in place with its ids mirrored (id ↦ min + max −
    * id): the same rows count, schema and file layout, new content. */
  private def mirrorIds(d: Path, t: String, id: String): Unit = {
    val path = d.resolve(s"$t.parquet")
    val df = spark.read.parquet(path.toString)
    val b = df.agg(min(col(id)), max(col(id))).first()
    val tmp = Files.createTempDirectory("memo_guard_rw")
    df.withColumn(id, lit(b.getLong(0) + b.getLong(1)) - col(id))
      .coalesce(1).write.mode("overwrite").parquet(tmp.resolve("o").toString)
    val part = Files.list(tmp.resolve("o")).filter(
      _.getFileName.toString.endsWith(".parquet")).findFirst().get()
    Files.move(part, path, StandardCopyOption.REPLACE_EXISTING)
  }

  test("a dataset rewritten in place mid-session is served fresh rows, " +
      "not its memoized artifacts") {
    val d = Files.createTempDirectory("memo_guard_ds")
    copy(src, d)
    val before = queries.map(q => q -> rows(q, d)).toMap
    assert(before.values.forall(_.nonEmpty))

    mirrorIds(d, "documents", "doc_id")
    mirrorIds(d, "embeddings", "vec_id")
    assert(spark.read.parquet(d.resolve("documents.parquet").toString)
      .count() == spark.read.parquet(src.resolve("documents.parquet")
        .toString).count(), "the rewrite keeps the row count")

    val fresh = Files.createTempDirectory("memo_guard_fresh")
    copy(d, fresh)
    val want = queries.map(q => q -> rows(q, fresh)).toMap
    val unchanged = queries.filter(q => want(q) == before(q))
    assert(unchanged.isEmpty,
      s"the rewrite must change every answer, or this check is empty: $unchanged")
    val stale = queries.filter(q => rows(q, d) != want(q))
    assert(stale.isEmpty,
      s"served the memo of the files they replaced: ${stale.mkString(", ")}")
  }
}
