package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided synthetic tables (TESTDATA.md).
  *
  * Every query entry receives `(spark, sfDir)`; these helpers centralize the
  * path convention `sfDir/<table>.parquet`. Parquet scans get predicate
  * pushdown + column pruning from Catalyst for free — callers should
  * select/filter as early as possible so the scan only reads what it needs.
  */
object Tables {

  /** Schema memo (round-18 optimization, guide §6 metadata costs):
    * `spark.read.parquet` re-infers the schema on EVERY call — a
    * driver-coordinated footer-reading job per table reference, which
    * the bench pays per query per rep (profiled: 3-5 "parquet at
    * Tables.scala" setup jobs inside every relational rep). A
    * production deployment reads these tables through a catalog whose
    * schema is known; this memo gives the same effect for path tables.
    * Guarded by the path's content fingerprint ([[Memo]]), so a
    * REGENERATED or APPENDED dataset (the DeltaChain incremental tests
    * deliver new files into the table dir) re-infers immediately — only
    * the schema is reused, never file lists or data: every scan still
    * plans and reads from the parquet inputs of THIS invocation. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = Memo.value(spark, "schema", "schema", path, path)(
      spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** Cheap content fingerprint of a local table path (file sizes +
    * mtimes, order-independent of listing): the staleness key the
    * persisted artifacts (ANN index, co-purchase graph) store alongside
    * the row count. Rows alone cannot see a REGENERATED dataset of the
    * same cardinality; size+mtime can, and costs a directory listing. */
  def fingerprint(path: String): Long = {
    // Resolved through Hadoop FileSystem (not java.io.File) so datasets
    // on hdfs://, s3a://, etc. fingerprint correctly; a java.io listing
    // silently returns empty off the local FS and the staleness guard
    // would degrade to row-count-only.
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return 17L
    val st = fs.getFileStatus(p)
    val files =
      if (st.isDirectory)
        fs.listStatus(p).filter(_.isFile).sortBy(_.getPath.getName)
      else Array(st)
    files.foldLeft(17L) { (acc, x) =>
      (acc * 1000003L + x.getLen) * 1000003L + x.getModificationTime
    }
  }

  def region(s: SparkSession, d: String): DataFrame   = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = t(s, d, "lineitem")

  /** `events.ts` has appeared as two physical types across driver testdata
    * generations: parquet TIMESTAMP(NANOS) — which Spark's vectorized
    * reader rejects outright, so it is read as a raw nano count (legacy
    * conf) and truncated to microseconds, the same truncation DuckDB
    * applies casting TIMESTAMP_NS to TIMESTAMP — and plain
    * TIMESTAMP(MICROS), which Spark infers as TIMESTAMP_NTZ. Both are
    * normalized to the SAME microsecond TimestampType column: sessions
    * here run with session.timeZone=UTC, so the NTZ→LTZ cast relabels the
    * identical micros value and every downstream consumer and oracle sees
    * one schema regardless of which generation is on disk. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = t(s, d, "events")
    df.schema("ts").dataType match {
      case LongType => // TIMESTAMP(NANOS) read as raw nanos under the conf
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => df
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        // TIMESTAMP_NTZ (micros): relabel, values unchanged in UTC
        df.withColumn("ts", col("ts").cast(TimestampType))
      case other =>
        // fail LOUDLY on a new generation's physical type — a silent
        // cast (e.g. string→timestamp nulling bad rows) would produce
        // wrong-but-plausible aggregates, the drift this layer exists
        // to catch
        sys.error(s"unexpected events.ts physical type: $other")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** Register all tables as temp views so `spark.sql` queries match the
    * oracle SQL's table names 1:1. Idempotent. */
  def registerViews(s: SparkSession, d: String): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings")
      .foreach(n => t(s, d, n).createOrReplaceTempView(n))
    events(s, d).createOrReplaceTempView("events")
  }
}
