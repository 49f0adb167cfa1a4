package graft.streaming

import java.nio.file.Files
import graft.Memo
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The streaming ingestion-dedup screen must produce EXACTLY the batch
  * twin's row set (`dedup_screen_stream_twin` — itself DuckDB-oracled)
  * with the delivery spread across micro-batches, must hold
  * exactly-once across a checkpoint restart, and must ride the
  * persisted digest artifact without ever re-digesting the base
  * corpus (the stream-static join's whole point). */
class CorpusScreenStreamSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val dd = graft.operators.Dedup
  private val sf = "/root/testdata/sf0.001"

  /** Land the twin's delivery into `dir` as `waves` single-file
    * parquet slices by doc_id range (maxFilesPerTrigger=1 then admits
    * one slice per micro-batch). */
  private def landWaves(dir: java.nio.file.Path, waves: Int,
      which: Range): Unit = {
    import org.apache.spark.sql.functions._
    val rows = CorpusScreenStream.delivery(spark, sf)
      .orderBy(col("doc_id")).collect()
    val per = (rows.length + waves - 1) / waves
    which.foreach { w =>
      val slice = rows.slice(w * per, math.min((w + 1) * per, rows.length))
      if (slice.nonEmpty) {
        import spark.implicits._
        slice.map(r => (r.getLong(0), r.getString(1))).toSeq
          .toDF("doc_id", "text").coalesce(1)
          .write.mode("overwrite")
          .parquet(dir.resolve(f"wave$w%02d").toString)
      }
    }
  }

  private def twinRows(): Set[(Long, Option[Long], Long)] =
    graft.SparkEntry.queries("dedup_screen_stream_twin")(spark, sf)
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        r.getLong(2))).toSet

  private def sinkRows(table: String): Set[(Long, Option[Long], Long)] =
    spark.sql(s"SELECT * FROM $table").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        r.getLong(2))).toSet

  test("streamed screen rows equal the batch twin across micro-batch " +
      "boundaries, riding the persisted artifact") {
    val land = Files.createTempDirectory("screen_land")
    val art = Files.createTempDirectory("screen_art").toString
    val prev = spark.conf.getOption("spark.graft.digestidx.dir")
    spark.conf.set("spark.graft.digestidx.dir", art)
    try {
      Memo.clear("dedup_digest")
      val twin = twinRows() // also builds + persists the index (once)
      assert(twin.nonEmpty && twin.exists(_._3 > 0L) &&
        twin.exists(_._3 == 0L),
        "twin must contain both hits and clean rows")
      val builds = dd.digestChain.buildsFor(sf)
      landWaves(land, waves = 3, which = 0 until 3)
      // wave dirs hold one parquet file each; stream admits one FILE
      // per trigger, so the delivery spans >= 3 micro-batches
      val query = CorpusScreenStream.screened(spark, sf,
          land.toString + "/wave*")
        .writeStream.format("memory").queryName("screen1")
        .option("checkpointLocation",
          Files.createTempDirectory("screen_ckpt").toString)
        .option("maxFilesPerTrigger", "1")
        .start()
      try query.processAllAvailable()
      finally query.stop()
      assert(sinkRows("screen1") == twin,
        "streamed rows must equal the batch twin exactly")
      assert(dd.digestChain.buildsFor(sf) == builds,
        "the stream must ride the persisted index, not rebuild it")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.graft.digestidx.dir", v)
        case None => spark.conf.unset("spark.graft.digestidx.dir")
      }
      Memo.clear("dedup_digest")
    }
  }

  private def lshTwinRows(): Set[(Long, Int, Long)] =
    graft.SparkEntry.queries("dedup_lsh_screen_stream_twin")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

  test("streamed FUZZY screen (per-row bands, stream-static vs the " +
      "LSH bucket artifact) equals its batch twin across micro-batches") {
    val land = Files.createTempDirectory("lsh_screen_land")
    val art = Files.createTempDirectory("lsh_screen_art").toString
    val prev = spark.conf.getOption("spark.graft.dedupidx.dir")
    spark.conf.set("spark.graft.dedupidx.dir", art)
    try {
      Memo.clear("dedup_idx")
      val twin = lshTwinRows() // builds + persists the bucket index
      assert(twin.nonEmpty,
        "re-keyed near-identical deliveries must hit index buckets")
      val builds = dd.idxChain.buildsFor(sf)
      landWaves(land, waves = 3, which = 0 until 3)
      val query = CorpusScreenStream.lshScreened(spark, sf,
          land.toString + "/wave*")
        .writeStream.format("memory").queryName("lsh_screen1")
        .option("checkpointLocation",
          Files.createTempDirectory("lsh_screen_ckpt").toString)
        .option("maxFilesPerTrigger", "1")
        .start()
      try query.processAllAvailable()
      finally query.stop()
      val got = spark.sql("SELECT * FROM lsh_screen1").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(got == twin,
        "streamed (doc, band, bmin) rows must equal the batch twin")
      assert(dd.idxChain.buildsFor(sf) == builds,
        "the stream must ride the persisted bucket index")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.graft.dedupidx.dir", v)
        case None => spark.conf.unset("spark.graft.dedupidx.dir")
      }
      Memo.clear("dedup_idx")
    }
  }

  private def dhashTwinRows(): Set[(Long, Int, Int, Long)] =
    graft.SparkEntry.queries("mm_dhash_screen_stream_twin")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      .toSet

  test("streamed IMAGE screen (per-row decode + hash + band, " +
      "stream-static vs the dHash band artifact) equals its batch twin") {
    val md = graft.operators.MediaDedup
    val land = Files.createTempDirectory("mm_screen_land")
    val art = Files.createTempDirectory("mm_screen_art").toString
    val prev = spark.conf.getOption("spark.graft.mmdhashidx.dir")
    spark.conf.set("spark.graft.mmdhashidx.dir", art)
    try {
      Memo.clear("media_idx")
      val twin = dhashTwinRows() // builds + persists the band index
      assert(twin.nonEmpty,
        "re-keyed re-fetched images must hit index band keys")
      val builds = md.mmIdxChain.buildsFor(sf)
      // land the image delivery in 3 single-file waves
      val rows = md.dhashDelivery(spark, sf)
        .orderBy(org.apache.spark.sql.functions.col("doc_id")).collect()
      val per = (rows.length + 2) / 3
      (0 until 3).foreach { w =>
        val slice = rows.slice(w * per, math.min((w + 1) * per, rows.length))
        if (slice.nonEmpty) {
          import spark.implicits._
          slice.map(r => (r.getLong(0), r.getLong(1))).toSeq
            .toDF("doc_id", "img_id").coalesce(1)
            .write.mode("overwrite")
            .parquet(land.resolve(f"wave$w%02d").toString)
        }
      }
      val query = CorpusScreenStream.dhashScreened(spark, sf,
          land.toString + "/wave*")
        .writeStream.format("memory").queryName("mm_screen1")
        .option("checkpointLocation",
          Files.createTempDirectory("mm_screen_ckpt").toString)
        .option("maxFilesPerTrigger", "1")
        .start()
      try query.processAllAvailable()
      finally query.stop()
      val got = spark.sql("SELECT * FROM mm_screen1").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
        .toSet
      assert(got == twin,
        "streamed (doc, j1, j2, bmin) rows must equal the batch twin")
      assert(md.mmIdxChain.buildsFor(sf) == builds,
        "the stream must ride the persisted band index, not re-decode " +
          "the base corpus")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.graft.mmdhashidx.dir", v)
        case None => spark.conf.unset("spark.graft.mmdhashidx.dir")
      }
      Memo.clear("media_idx")
    }
  }

  test("checkpoint restart: late-landing waves emit exactly once, " +
      "union equals the twin") {
    val land = Files.createTempDirectory("screen_land2")
    val art = Files.createTempDirectory("screen_art2").toString
    val ckpt = Files.createTempDirectory("screen_ckpt2").toString
    val prev = spark.conf.getOption("spark.graft.digestidx.dir")
    spark.conf.set("spark.graft.digestidx.dir", art)
    try {
      Memo.clear("dedup_digest")
      val twin = twinRows()
      landWaves(land, waves = 3, which = 0 until 2)
      val out = Files.createTempDirectory("screen_out")
      // the memory sink cannot recover from a checkpoint; the restart
      // contract needs a real resumable sink (the bridge spec's
      // parquet-sink idiom)
      def start() =
        CorpusScreenStream.screened(spark, sf, land.toString + "/wave*")
          .writeStream.format("parquet")
          .option("path", out.toString)
          .option("checkpointLocation", ckpt)
          .option("maxFilesPerTrigger", "1")
          .outputMode("append")
          .start()
      def outRows(): Seq[(Long, Option[Long], Long)] =
        spark.read.schema("doc_id LONG, match_doc LONG, n_copies LONG")
          .parquet(out.toString).collect()
          .map(r => (r.getLong(0),
            if (r.isNullAt(1)) None else Some(r.getLong(1)),
            r.getLong(2))).toSeq
      val q1 = start()
      try q1.processAllAvailable()
      finally q1.stop()
      val firstRun = outRows()
      assert(firstRun.nonEmpty && firstRun.toSet != twin,
        "the first run must be a strict subset (wave 2 not landed)")
      // the third wave lands while down; a new query resumes from the
      // checkpoint
      landWaves(land, waves = 3, which = 2 until 3)
      val q2 = start()
      try q2.processAllAvailable()
      finally q2.stop()
      val all = outRows()
      assert(all.size == twin.size,
        "restart must not re-emit admitted files (exactly-once)")
      assert(all.toSet == twin,
        "the two runs together must equal the twin exactly")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.graft.digestidx.dir", v)
        case None => spark.conf.unset("spark.graft.digestidx.dir")
      }
      Memo.clear("dedup_digest")
    }
  }
}
