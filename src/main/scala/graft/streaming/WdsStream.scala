package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Continuous WebDataset ingestion: tar shards LAND in a directory and
  * samples stream out as (shard, key, ext, data) entry rows — the
  * multimodal companion to the parquet-landing screens.
  *
  * Deliberately NOT a custom MicroBatchStream: shards are immutable
  * whole files (the `wds` sink's atomic renames guarantee a landed
  * shard is complete), so Spark's built-in binaryFile file source
  * already provides the admission log, backpressure, and exactly-once
  * across checkpoint restarts. Compose the built-in source; don't
  * re-implement it. The admission scan projects ONLY `path` — shard
  * bytes never ride through the file source — and each admitted shard
  * is then walked by the same streaming
  * [[graft.sources.wds.WdsTarWalk]] the batch scan uses (round 13:
  * previously the stream inherited binaryFile's whole-file `content`,
  * the one place left that buffered a shard on the heap; now both
  * paths are the one constant-memory walk with the one set of
  * checksum guards).
  *
  * Scale shape: one task per landed shard per micro-batch, constant
  * state (none beyond the file-source log), per-task memory = one
  * entry, downstream screens join stream-static exactly like the
  * image/text delivery screens.
  */
object WdsStream {

  /** Default admission glob: everything the batch listing would read —
    * plain tars plus every codec wrapping [[graft.sources.FileSource.open]]
    * decodes.
    * The r13 default (`*.tar` only) silently ignored compressed shards
    * the same lake's batch scan would read — a batch/stream asymmetry. */
  val DefaultShardGlob =
    "{*.tar,*.tar.gz,*.tgz,*.tar.bz2,*.tar.zst,*.tar.zstd,*.tzst}"

  def entries(s: SparkSession, landingDir: String,
      shardGlob: String = DefaultShardGlob): DataFrame = {
    import s.implicits._
    // the binaryFile format's fixed schema (file streams require it
    // declared up front); only `path` is selected, so the source's
    // column pruning never materializes file contents
    val schema = new org.apache.spark.sql.types.StructType()
      .add("path", org.apache.spark.sql.types.StringType)
      .add("modificationTime", org.apache.spark.sql.types.TimestampType)
      .add("length", org.apache.spark.sql.types.LongType)
      .add("content", org.apache.spark.sql.types.BinaryType)
    val conf = graft.sources.HadoopConfBroadcast(s)
    s.readStream.format("binaryFile")
      .option("pathGlobFilter", shardGlob)
      .schema(schema)
      .load(landingDir)
      .select($"path").as[String]
      .flatMap { path =>
        val shard = path.substring(path.lastIndexOf('/') + 1)
        val in = graft.sources.FileSource.open(conf.value.value, path)
        // a flatMap iterator has no close() hook, so a corrupt shard
        // (walk throws) or an unconsumed iterator (a limit upstream)
        // would leak the open FS stream — the task-completion listener
        // is the close the batch reader gets from PartitionReader
        val tc = org.apache.spark.TaskContext.get()
        if (tc != null)
          tc.addTaskCompletionListener[Unit](_ =>
            try in.close() catch { case _: Exception => () })
        val walk = new graft.sources.wds.WdsTarWalk(in, shard,
          needData = true, maxEntryBytes = 1L << 30)
        new Iterator[(String, String, String, Array[Byte])] {
          private var has = walk.next()
          if (!has) in.close()
          override def hasNext: Boolean = has
          override def next(): (String, String, String, Array[Byte]) = {
            val row = (shard, walk.key, walk.ext, walk.data)
            has = walk.next()
            if (!has) in.close()
            row
          }
        }
      }
      .toDF("shard", "key", "ext", "data")
  }
}
