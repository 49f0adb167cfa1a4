package graft.sources.warc

import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{BinaryType, IntegerType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.sources.HadoopConfBroadcast

/** Batch WRITE side of the `warc` format — corpus → crawl-archive
  * export in the Common Crawl framing (one gzip member per record),
  * with the `.wcdx` record-offset sidecar written AT COMMIT for free:
  * the writer knows every member offset as it streams, so an exported
  * lake is born range-splittable, point-look-up-able, and
  * COUNT(*)-from-metadata — no after-the-fact indexing pass.
  *
  * Contract: `url` (STRING) and `payload` (BINARY) are required.
  * Optional columns, all by name: `rec_type` (default `response`),
  * `record_id` (default a deterministic `<urn:uuid:...>` from the
  * row's url + position), `warc_date` (default the `warcDate`
  * option), `http_status` (INT — when present and non-null the
  * payload is wrapped as an `application/http` response block with
  * status line + Content-Type/Content-Length headers, the shape the
  * scan splits back apart), `http_content_type` (STRING, default
  * `text/plain`). Non-HTTP records (`http_status` absent/null) write
  * the payload as the raw block with `content_type` =
  * `contentType` option (default `application/octet-stream`).
  *
  * One part file per task (`part-<partition>-<task>.warc.gz`;
  * `option("container","warc")` writes plain). Task output commits by
  * atomic rename from an `.inprogress` temp; aborted tasks delete it.
  * The sidecar is written AFTER the warc is visible (a reader listing
  * mid-write sees at worst an unindexed file, never a sidecar for a
  * missing file). mode("overwrite") arrives as truncate(): stale data
  * files and their sidecars are swept at batch commit, after every
  * task committed.
  *
  * Scale: writers stream row-by-row — constant memory per task
  * (one record) whatever the partition size; file count = task count
  * via the usual repartition(n).
  *
  * `option("dedupDigest","true")` turns on storage dedup at export:
  * a payload whose md5 digest the TASK already wrote becomes a
  * REVISIT record (WARC 1.1 §6.7.2 identical-payload-digest profile —
  * headers only, WARC-Refers-To the canonical copy) instead of a
  * second full copy. Task-scoped: repartition by a digest column
  * upstream for global dedup.
  */
class WarcWriteBuilder(options: CaseInsensitiveStringMap,
    info: LogicalWriteInfo) extends WriteBuilder with SupportsTruncate {

  private var truncateFirst = false
  override def truncate(): WriteBuilder = { truncateFirst = true; this }

  override def build(): Write = new Write {
    private def validated: (String, WarcWriteCols, Boolean, Boolean,
        String, String, Boolean) = {
      val schema = info.schema()
      def idxOf(name: String, tpe: org.apache.spark.sql.types.DataType,
          required: Boolean): Int = {
        val i = schema.fieldNames.indexOf(name)
        if (i < 0) {
          if (required) throw new IllegalArgumentException(
            s"warc write requires a $name column; got " +
              schema.simpleString)
          -1
        } else {
          if (schema.fields(i).dataType != tpe)
            throw new IllegalArgumentException(
              s"warc write: column $name must be ${tpe.simpleString}; " +
                s"got ${schema.fields(i).dataType.simpleString}")
          i
        }
      }
      val cols = WarcWriteCols(
        url = idxOf("url", StringType, required = true),
        payload = idxOf("payload", BinaryType, required = true),
        recType = idxOf("rec_type", StringType, required = false),
        recordId = idxOf("record_id", StringType, required = false),
        warcDate = idxOf("warc_date", StringType, required = false),
        httpStatus = idxOf("http_status", IntegerType, required = false),
        httpContentType =
          idxOf("http_content_type", StringType, required = false))
      val dir = WarcTable.paths(options) match {
        case Seq(one) => one
        case other => throw new IllegalArgumentException(
          s"warc write requires exactly one output path; got $other")
      }
      val container = options.getOrDefault("container", "warc.gz")
        .toLowerCase(java.util.Locale.ROOT)
      require(container == "warc.gz" || container == "warc",
        s"container must be warc.gz or warc, got $container")
      (dir, cols, container == "warc.gz",
        options.getBoolean("writeWcdx", true),
        options.getOrDefault("warcDate", "1970-01-01T00:00:00Z"),
        options.getOrDefault("contentType", "application/octet-stream"),
        options.getBoolean("dedupDigest", false))
    }

    override def toBatch: BatchWrite = {
      val (dir, cols, gz, writeIndex, date, ct, dedup) = validated
      // part names carry the write job's identity so exports from a
      // FRESH session can never collide with an earlier session's
      // parts (task ids restart per application — the wds lesson)
      val jobTag = Option(info.queryId()).filter(_.nonEmpty)
        .getOrElse(java.util.UUID.randomUUID().toString)
        .replaceAll("[^0-9a-fA-F]", "").take(8)
      new WarcBatchWrite(dir, cols, truncateFirst, gz, writeIndex,
        date, ct, jobTag, dedup, options.getBoolean("cdxj", false))
    }

    override def toStreaming
        : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      if (truncateFirst) throw new IllegalArgumentException(
        "warc streaming sink is append-only (complete/truncate modes " +
          "would rewrite every prior epoch's archives)")
      val (dir, cols, gz, writeIndex, date, ct, dedup) = validated
      // epoch archives carry the write job's identity so appends from
      // a FRESH session can never collide with an earlier session's
      val jobTag = Option(info.queryId()).filter(_.nonEmpty)
        .getOrElse(java.util.UUID.randomUUID().toString)
        .replaceAll("[^0-9a-fA-F]", "").take(8)
      new WarcStreamingWrite(dir, cols, gz, writeIndex, date, ct,
        jobTag, dedup, options.getBoolean("cdxj", false))
    }
  }
}

/** STREAMING write side — the fetcher-side landing path: each epoch
  * commits its own atomically-renamed, epoch-keyed archives
  * (`crawl-<job>-e<epoch>-p<partition>.warc.gz`) with their `.wcdx`
  * sidecars. Final names carry (job, epoch, partition) — no task id —
  * so an epoch REPLAY after a checkpoint restart replaces its own
  * files idempotently; tmp paths carry the attempt-unique task id so
  * a speculative twin can never interleave bytes into the attempt the
  * commit coordinator picks (the wds streaming discipline). Empty
  * partitions commit NO file (a 0-byte `.warc.gz` is not a valid
  * gzip stream — readers would crash on it); replays recommit the
  * same empty outcome deterministically. */
class WarcStreamingWrite(dir: String, cols: WarcWriteCols, gz: Boolean,
    writeIndex: Boolean, defaultDate: String, defaultContentType: String,
    jobTag: String, dedupDigest: Boolean = false, cdxj: Boolean = false)
  extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  private val conf =
    HadoopConfBroadcast(org.apache.spark.sql.SparkSession.active)

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming
        .StreamingDataWriterFactory = {
    val p = new Path(dir)
    p.getFileSystem(conf.value.value).mkdirs(p)
    new WarcStreamingWriterFactory(dir, cols, conf, gz, writeIndex,
      defaultDate, defaultContentType, jobTag, dedupDigest, cdxj)
  }

  // file visibility is per-task atomic rename; the engine's offset log
  // plus idempotent epoch-keyed names give end-to-end exactly-once
  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = ()
}

case class WarcWriteCols(url: Int, payload: Int, recType: Int,
    recordId: Int, warcDate: Int, httpStatus: Int, httpContentType: Int)

class WarcBatchWrite(dir: String, cols: WarcWriteCols,
    truncateFirst: Boolean, gz: Boolean, writeIndex: Boolean,
    defaultDate: String, defaultContentType: String, jobTag: String,
    dedupDigest: Boolean = false, cdxj: Boolean = false)
  extends BatchWrite {

  private val conf =
    HadoopConfBroadcast(org.apache.spark.sql.SparkSession.active)

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory = {
    val p = new Path(dir)
    p.getFileSystem(conf.value.value).mkdirs(p)
    new WarcDataWriterFactory(dir, cols, conf, gz, writeIndex,
      defaultDate, defaultContentType, jobTag, dedupDigest, cdxj)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    if (truncateFirst) {
      // overwrite semantics, the wds sweep: once every task committed,
      // drop data files (and their sidecars) not written by THIS job;
      // '_'-prefixed markers survive
      val mine = messages.collect {
        case WarcWriteCommitted(p) if p.nonEmpty => new Path(p).getName
      }.toSet
      val dp = new Path(dir)
      val fs = dp.getFileSystem(conf.value.value)
      if (fs.exists(dp))
        fs.listStatus(dp).foreach { st =>
          val n = st.getPath.getName
          val keep = n.startsWith(".") || n.startsWith("_") ||
            mine.contains(n) ||
            (WarcCdx.isSidecar(n) &&
              mine.contains(n.stripSuffix(WarcCdx.SidecarSuffix))) ||
            (n.endsWith(".cdxj") && mine.contains(n.stripSuffix(".cdxj")))
          if (st.isFile && !keep) fs.delete(st.getPath, false)
        }
    }

  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

class WarcStreamingWriterFactory(dir: String, cols: WarcWriteCols,
    conf: Broadcast[SerializableConfiguration], gz: Boolean,
    writeIndex: Boolean,
    defaultDate: String, defaultContentType: String, jobTag: String,
    dedupDigest: Boolean = false, cdxj: Boolean = false)
  extends org.apache.spark.sql.connector.write.streaming
    .StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new WarcDataWriter(dir, cols, conf, gz, writeIndex,
      defaultDate, defaultContentType,
      baseName = f"crawl-$jobTag-e$epochId%06d-p$partitionId%05d",
      tmpTag = s".t$taskId", replaceOnCommit = true,
      dedupDigest = dedupDigest, cdxj = cdxj)
}

class WarcDataWriterFactory(dir: String, cols: WarcWriteCols,
    conf: Broadcast[SerializableConfiguration], gz: Boolean,
    writeIndex: Boolean,
    defaultDate: String, defaultContentType: String, jobTag: String,
    dedupDigest: Boolean = false, cdxj: Boolean = false)
  extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] =
    new WarcDataWriter(dir, cols, conf, gz, writeIndex, defaultDate,
      defaultContentType,
      baseName = f"part-$jobTag-$partitionId%05d-$taskId",
      tmpTag = "", replaceOnCommit = false, dedupDigest = dedupDigest,
      cdxj = cdxj)
}

class WarcDataWriter(dir: String, cols: WarcWriteCols,
    conf: Broadcast[SerializableConfiguration], gz: Boolean,
    writeIndex: Boolean,
    defaultDate: String, defaultContentType: String,
    baseName: String, tmpTag: String, replaceOnCommit: Boolean,
    dedupDigest: Boolean = false, cdxj: Boolean = false)
  extends DataWriter[InternalRow] {

  private val fs = new Path(dir).getFileSystem(conf.value.value)
  private val finalPath = new Path(dir,
    baseName + "." + (if (gz) "warc.gz" else "warc"))
  // dot-prefixed (so a concurrent listing never reads half a file as
  // data) and attempt-unique via tmpTag on the streaming path
  // (batch baseNames already carry the task id)
  private val tmpPath = new Path(dir,
    "." + finalPath.getName + tmpTag + ".inprogress")
  private val raw = fs.create(tmpPath, true)
  private var written = 0L // container offset = bytes flushed to raw
  private val counting = new java.io.OutputStream {
    private val buffered = new java.io.BufferedOutputStream(raw, 1 << 20)
    override def write(b: Int): Unit = { buffered.write(b); written += 1 }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      buffered.write(b, off, len); written += len
    }
    override def flush(): Unit = buffered.flush()
    override def close(): Unit = buffered.close()
  }
  private val entries =
    scala.collection.mutable.ArrayBuffer.empty[WarcCdx.Entry]
  private var rows = 0L
  // dedupDigest: payload digest -> (record_id, url) of the FIRST copy
  // this TASK wrote — repeats become revisit records (the crawl
  // storage-dedup convention the scan's refers_to column resolves).
  // Task-scoped by design: global dedup = repartition by a digest
  // column upstream so copies co-locate; memory is one small map
  // entry per DISTINCT payload in the task.
  private val digestSeen =
    if (dedupDigest)
      scala.collection.mutable.HashMap.empty[String, (String, String)]
    else null

  private def opt(row: InternalRow, idx: Int): String =
    if (idx < 0 || row.isNullAt(idx)) null
    else row.getUTF8String(idx).toString

  /** Header values are embedded verbatim into CRLF-framed WARC header
    * lines, so they MUST be validated BEFORE any byte is emitted: a
    * value containing CR/LF would inject/override header fields on
    * read-back (the walk's setField is last-wins), and non-ASCII
    * chars would be silently mangled to '?' by the US-ASCII encode.
    * A bad row fails the task here, before a corrupt record can ever
    * become visible. (WARC 1.1 §5: field values are ASCII; non-ASCII
    * URLs must arrive percent-encoded — RFC 3986.) */
  private def checkHeaderValue(what: String, v: String): String = {
    var i = 0
    while (i < v.length) {
      val c = v.charAt(i)
      require(c >= 0x20 && c <= 0x7e,
        s"warc write: $what contains a non-printable-ASCII char " +
          f"(0x${c.toInt}%02x at index $i) — header values must be " +
          "printable ASCII (percent-encode non-ASCII URLs); refusing " +
          "to write a corrupt record")
      i += 1
    }
    v
  }

  override def write(row: InternalRow): Unit = {
    require(!row.isNullAt(cols.url) && !row.isNullAt(cols.payload),
      "warc write: url and payload must be non-null")
    val url = checkHeaderValue("url", row.getUTF8String(cols.url).toString)
    val payload = row.getBinary(cols.payload)
    val recType = checkHeaderValue("rec_type",
      Option(opt(row, cols.recType)).getOrElse("response"))
    val date = checkHeaderValue("warc_date",
      Option(opt(row, cols.warcDate)).getOrElse(defaultDate))
    // default ids are (baseName, row) — deterministic under epoch
    // replay, unique across partitions and (for batch) attempts
    val recordId = checkHeaderValue("record_id",
      Option(opt(row, cols.recordId)).getOrElse(
        s"<urn:uuid:graft-$baseName-$rows>"))
    val status =
      if (cols.httpStatus < 0 || row.isNullAt(cols.httpStatus)) -1
      else row.getInt(cols.httpStatus)
    val httpCt = Option(opt(row, cols.httpContentType))
      .map(checkHeaderValue("http_content_type", _))
      .getOrElse(if (status >= 0) "text/plain" else null)
    val digest = WarcCdx.md5Hex(payload)
    val canonical =
      if (digestSeen == null) None else digestSeen.get(digest)
    val reason = if (status == 200) "OK" else "Status"
    val (outType, headers, contentType, block) = canonical match {
      case Some((canonId, canonUrl)) =>
        // repeated payload -> a REVISIT record (WARC 1.1 §6.7.2,
        // identical-payload-digest profile): headers only, no body —
        // the storage dedup real crawls ship with. The scan resolves
        // refers_to back to the canonical copy.
        val extra = Seq(
          "WARC-Refers-To" -> canonId,
          "WARC-Refers-To-Target-URI" -> canonUrl,
          "WARC-Profile" ->
            "http://netpreserve.org/warc/1.1/revisit/identical-payload-digest",
          "WARC-Payload-Digest" -> s"md5:$digest")
        if (status >= 0) {
          val head = (s"HTTP/1.1 $status $reason\r\n" +
            s"Content-Type: $httpCt\r\n" +
            "Content-Length: 0\r\n\r\n").getBytes("US-ASCII")
          ("revisit", extra, "application/http; msgtype=response", head)
        } else ("revisit", extra, defaultContentType,
          Array.emptyByteArray)
      case None =>
        if (digestSeen != null) digestSeen(digest) = (recordId, url)
        if (status >= 0) {
          // application/http response block — the shape the scan's
          // HTTP split parses back apart with exact octet accounting
          val head = (s"HTTP/1.1 $status $reason\r\n" +
            s"Content-Type: $httpCt\r\n" +
            s"Content-Length: ${payload.length}\r\n\r\n")
            .getBytes("US-ASCII")
          val b = new Array[Byte](head.length + payload.length)
          head.copyToArray(b)
          payload.copyToArray(b, head.length)
          (recType, Seq.empty[(String, String)],
            "application/http; msgtype=response", b)
        } else
          (recType, Seq.empty[(String, String)], defaultContentType,
            payload)
    }
    val rec = WarcSynth.record(Seq(
      "WARC-Type" -> outType,
      "WARC-Record-ID" -> recordId) ++ headers ++ Seq(
      "WARC-Date" -> date,
      "WARC-Target-URI" -> url,
      "Content-Type" -> contentType), block)
    val offset = written
    if (gz) WarcSynth.gzipMembers(Iterator(rec), counting)
    else counting.write(rec, 0, rec.length)
    // the sidecar digest stays the PAYLOAD digest on revisit rows too
    // (the CDX dedup-accounting convention: a revisit line carries the
    // digest of the content it stands for, not of its empty block)
    entries += WarcCdx.Entry(offset, 0L, outType, url, date, status,
      if (status >= 0) httpCt else null, digest)
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    counting.close()
    if (rows == 0) {
      // empty -> no file, batch AND streaming: a 0-byte .warc.gz is
      // not a valid gzip stream (GZIPInputStream's ctor throws EOF),
      // so committing placeholder archives would crash any unfiltered
      // read of the sink's output. An epoch replay recommits
      // deterministically without one; a prior attempt's file (if
      // any) is swept so the replayed epoch's file set stays exact.
      fs.delete(tmpPath, false)
      if (replaceOnCommit && fs.exists(finalPath)) {
        fs.delete(finalPath, false)
        fs.delete(WarcCdx.sidecar(finalPath), false)
        fs.delete(WarcCdx.cdxjPath(finalPath), false)
      }
      WarcWriteCommitted("")
    } else {
      if (fs.exists(finalPath)) {
        if (replaceOnCommit) fs.delete(finalPath, false) // epoch replay
        else throw new java.io.IOException(
          s"warc part already exists: $finalPath — part names are " +
            "unique per write job, so this is another job's data; " +
            "refusing to replace it")
      }
      if (!fs.rename(tmpPath, finalPath))
        throw new java.io.IOException(
          s"warc write: rename failed for $finalPath")
      // sidecar AFTER the warc is visible (the .tsidx discipline)
      if (writeIndex)
        WarcCdx.writeSidecar(fs, finalPath,
          if (gz) "member-gzip" else "plain", entries, written)
      if (cdxj)
        WarcCdx.writeCdxj(fs, finalPath, entries, written)
      WarcWriteCommitted(finalPath.toString)
    }
  }

  override def abort(): Unit = {
    try counting.close() catch { case _: Exception => () }
    fs.delete(tmpPath, false)
  }

  override def close(): Unit = ()
}

case class WarcWriteCommitted(path: String) extends WriterCommitMessage
