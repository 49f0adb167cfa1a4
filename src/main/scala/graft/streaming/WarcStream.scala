package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Continuous WARC ingestion: crawl files LAND in a directory (the
  * fetcher's output) and records stream out as the same rows the batch
  * `warc` scan returns — the crawl companion to [[WdsStream]].
  *
  * Same composition, same reasons: WARC files are immutable whole
  * files once the fetcher closes them, so Spark's binaryFile file
  * source provides the admission log, backpressure, and exactly-once
  * across checkpoint restarts; the admission scan projects ONLY
  * `path` (file bytes never ride the file source), and each admitted
  * file is walked by the same streaming [[graft.sources.warc
  * .WarcRecordWalk]] the batch scan uses — one record grammar, one
  * set of framing guards, constant memory per task.
  *
  * Scale shape: one task per landed file per micro-batch, no state
  * beyond the file-source log; downstream dedup screens join
  * stream-static exactly like the text/image delivery screens.
  */
object WarcStream {

  /** Everything the batch listing reads: plain, member-gzip, zstd. */
  val DefaultFileGlob = "{*.warc,*.warc.gz,*.warc.zst,*.warc.zstd}"

  def records(s: SparkSession, landingDir: String,
      fileGlob: String = DefaultFileGlob,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import s.implicits._
    val schema = new org.apache.spark.sql.types.StructType()
      .add("path", org.apache.spark.sql.types.StringType)
      .add("modificationTime", org.apache.spark.sql.types.TimestampType)
      .add("length", org.apache.spark.sql.types.LongType)
      .add("content", org.apache.spark.sql.types.BinaryType)
    val conf = graft.sources.HadoopConfBroadcast(s)
    val reader = s.readStream.format("binaryFile")
      .option("pathGlobFilter", fileGlob)
      .schema(schema)
    maxFilesPerTrigger.foreach(n =>
      reader.option("maxFilesPerTrigger", n.toString))
    reader.load(landingDir)
      .select($"path").as[String]
      .flatMap { path =>
        val fname = path.substring(path.lastIndexOf('/') + 1)
        val in = graft.sources.warc.WarcFileOpener.open(conf.value.value, path)
        val tc = org.apache.spark.TaskContext.get()
        if (tc != null)
          tc.addTaskCompletionListener[Unit](_ =>
            try in.close() catch { case _: Exception => () })
        val walk = new graft.sources.warc.WarcRecordWalk(in, fname,
          needPayload = true, needHttp = true, maxRecordBytes = 1L << 30)
        new Iterator[(String, String, String, String, String, String,
            String, Long, Option[Int], String, String, Array[Byte])] {
          private var has = walk.next()
          if (!has) in.close()
          override def hasNext: Boolean = has
          override def next(): (String, String, String, String, String,
              String, String, Long, Option[Int], String, String,
              Array[Byte]) = {
            val row = (fname, walk.recType, walk.recordId, walk.refersTo,
              walk.url, walk.warcDate, walk.contentType,
              walk.contentLength,
              if (walk.httpStatus < 0) None else Some(walk.httpStatus),
              walk.httpContentType, walk.httpContentEncoding,
              walk.payload)
            has = walk.next()
            if (!has) in.close()
            row
          }
        }
      }
      .toDF("file", "rec_type", "record_id", "refers_to", "url",
        "warc_date", "content_type", "content_length", "http_status",
        "http_content_type", "http_content_encoding", "payload")
  }
}
