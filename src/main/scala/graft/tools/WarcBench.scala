package graft.tools

import org.apache.spark.sql.SparkSession

/** Measures what the warc read paths buy on a non-toy crawl: full
  * payload materialization vs the payload-pruned url/status survey vs
  * a pushed responses-only scan, on plain `.warc` AND member-gzip
  * `.warc.gz` halves of the same synthetic crawl (deterministic
  * bytes). Best of 3 per path, one JSON line. Usage:
  *   runMain graft.tools.WarcBench [nFiles] [pagesPerFile] [pageKB]
  */
object WarcBench {
  def main(args: Array[String]): Unit = {
    val nFiles = if (args.length > 0) args(0).toInt else 32
    val perFile = if (args.length > 1) args(1).toInt else 400
    val pageKb = if (args.length > 2) args(2).toInt else 64
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    import graft.sources.warc.WarcSynth

    val dir = "/tmp/graft_warc_bench"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
    // build the crawl ON EXECUTORS: each task writes one file of
    // request+response pairs with pageKb deterministic body bytes
    val conf = graft.sources.HadoopConfBroadcast(spark)
    spark.range(nFiles.toLong).repartition(nFiles).as[Long]
      .foreachPartition { (it: Iterator[Long]) =>
        it.foreach { f =>
          val gz = f % 2 == 1
          val name = if (gz) f"crawl-$f%04d.warc.gz" else f"crawl-$f%04d.warc"
          val p = new org.apache.hadoop.fs.Path(dir, name)
          val out = p.getFileSystem(conf.value.value).create(p, true)
          try {
            val recs = Iterator(WarcSynth.warcinfoRecord(f.toInt)) ++
              (0 until perFile).iterator.flatMap { k =>
                val i = f * perFile + k
                val body = new Array[Byte](pageKb * 1024)
                var x = i * 2654435761L + 7
                var j = 0
                while (j < body.length) {
                  x ^= x << 13; x ^= x >>> 7; x ^= x << 17
                  // printable-ish page bytes, CRLF-free
                  body(j) = (32 + ((x & 0x7FFFFFFF) % 90)).toByte
                  j += 1
                }
                val head = ("HTTP/1.1 200 OK\r\n" +
                  "Content-Type: text/html\r\n" +
                  s"Content-Length: ${body.length}\r\n\r\n")
                  .getBytes("US-ASCII")
                Iterator(WarcSynth.requestRecord(i),
                  WarcSynth.record(Seq(
                    "WARC-Type" -> "response",
                    "WARC-Record-ID" -> s"<urn:uuid:bench-$i>",
                    "WARC-Date" -> WarcSynth.Date,
                    "WARC-Target-URI" -> WarcSynth.urlOf(i),
                    "Content-Type" ->
                      "application/http; msgtype=response"),
                    head ++ body))
              }
            if (gz) WarcSynth.gzipMembers(recs, out)
            else recs.foreach(out.write)
          } finally out.close()
        }
      }
    val lakeBytes = fs.getContentSummary(
      new org.apache.hadoop.fs.Path(dir)).getLength

    def best3(f: => Long): (Double, Long) = {
      var bestT = Double.MaxValue
      var v = 0L
      for (_ <- 0 until 3) {
        val t0 = System.nanoTime()
        v = f
        bestT = math.min(bestT, (System.nanoTime() - t0) / 1e9)
      }
      (bestT, v)
    }

    val df = spark.read.format("warc").load(dir)
    // full materialization: every payload byte allocated + summed
    val (tFull, fullBytes) = best3(
      df.selectExpr("sum(length(payload))").collect()(0).getLong(0))
    // payload-pruned crawl survey: headers only, blocks seek-skipped
    val (tSurvey, nOk) = best3(
      df.select("url", "http_status")
        .filter($"http_status" === 200).count())
    // pushed responses-only scan WITH payloads: request/warcinfo
    // blocks skipped before a byte is read
    val (tResp, respBytes) = best3(
      df.filter($"rec_type" === "response")
        .selectExpr("sum(length(payload))").collect()(0).getLong(0))
    // record census, no payload columns at all
    val (tCensus, nRecs) = best3(df.groupBy("rec_type").count()
      .collect().map(_.getLong(1)).sum)
    // plain-half only: on raw .warc the pruned skip is a positional
    // SEEK past the block (gzip halves must decompress-and-discard —
    // the format cannot do better), so the plain split shows the
    // pruning headroom cold object storage would see
    val plain = spark.read.format("warc").load(s"$dir/*.warc")
    val (tPlainFull, _) = best3(
      plain.selectExpr("sum(length(payload))").collect()(0).getLong(0))
    val (tPlainSurvey, _) = best3(
      plain.select("url", "http_status")
        .filter($"http_status" === 200).count())

    // --- .wcdx record-range splits: the one-big-file straggler fix ---
    // ONE big member-gzip crawl. Without an index the format forces a
    // single task (mid-file entry impossible); with the sidecar the
    // scan plans ~lake/4 MB record-range slices across all cores.
    val bigDir = "/tmp/graft_warc_bench_big"
    fs.delete(new org.apache.hadoop.fs.Path(bigDir), true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(bigDir))
    val bigPages = nFiles * perFile / 2
    val bigPath = new org.apache.hadoop.fs.Path(bigDir, "big.warc.gz")
    locally {
      val out = fs.create(bigPath, true)
      try WarcSynth.gzipMembers(
        (0 until bigPages).iterator.map { i =>
          val body = new Array[Byte](pageKb * 1024)
          var x = i * 2654435761L + 11
          var j = 0
          while (j < body.length) {
            x ^= x << 13; x ^= x >>> 7; x ^= x << 17
            body(j) = (32 + ((x & 0x7FFFFFFF) % 90)).toByte
            j += 1
          }
          val head = ("HTTP/1.1 200 OK\r\n" +
            "Content-Type: text/html\r\n" +
            s"Content-Length: ${body.length}\r\n\r\n")
            .getBytes("US-ASCII")
          WarcSynth.record(Seq(
            "WARC-Type" -> "response",
            "WARC-Record-ID" -> s"<urn:uuid:big-$i>",
            "WARC-Date" -> WarcSynth.Date,
            "WARC-Target-URI" -> WarcSynth.urlOf(i.toLong),
            "Content-Type" -> "application/http; msgtype=response"),
            head ++ body)
        }, out)
      finally out.close()
    }
    val bigMb = fs.getFileStatus(bigPath).getLen / 1048576
    val tIdx0 = System.nanoTime()
    val nIndexed = graft.sources.warc.WarcCdx.writeIndex(
      conf.value.value, bigPath)
    val cdxIndexS = (System.nanoTime() - tIdx0) / 1e9
    val (tBigWhole, bw) = best3(
      spark.read.format("warc").option("useWcdx", "false")
        .load(bigPath.toString)
        .selectExpr("sum(length(payload))").collect()(0).getLong(0))
    val (tBigSplit, bs) = best3(
      spark.read.format("warc").option("maxBytesPerPartition", "4m")
        .load(bigPath.toString)
        .selectExpr("sum(length(payload))").collect()(0).getLong(0))
    require(bw == bs, s"split scan bytes differ: $bw vs $bs")
    // O(index) survey: the url/status census off the sidecar alone
    val (tCdxSurvey, nSurvey) = best3(
      graft.sources.warc.WarcCdx.survey(spark, bigDir)
        .filter($"http_status" === 200).count())

    // --- foreign cluster.idx point lookup (the 100 TB access shape) ---
    // index the big crawl in the SHARDED Common Crawl layout, drop
    // the .wcdx so the only route is the foreign index, then time a
    // url point lookup (disk-bsearched cluster.idx -> bounded cdx
    // block reads -> one record slice) against the indexless
    // whole-file scan of the same query.
    locally {
      val entries = graft.sources.warc.WarcCdx.readEntries(
        fs, fs.getFileStatus(bigPath)).get._2
      val lines = entries.map { e =>
        val key = graft.sources.warc.WarcForeignCdx.surtKey(e.url)
        s"""$key 20260201000000 {"url":"${e.url}","mime":"text/html",""" +
          s""""status":"200","digest":"${e.digest}","length":"${
            e.rlen}","offset":"${e.offset}","filename":"big.warc.gz"}"""
      }.sorted
      val idxDir = new org.apache.hadoop.fs.Path(bigDir, "indexes")
      fs.mkdirs(idxDir)
      val shards = 4
      val bufs = Array.fill(shards)(new java.io.ByteArrayOutputStream())
      val cluster = new StringBuilder
      lines.grouped(200).zipWithIndex.foreach { case (blk, bi) =>
        val sh = bi % shards
        val off = bufs(sh).size()
        val bo = new java.io.ByteArrayOutputStream()
        val gz = new java.util.zip.GZIPOutputStream(bo)
        gz.write((blk.mkString("\n") + "\n").getBytes("UTF-8"))
        gz.close()
        bufs(sh).write(bo.toByteArray)
        cluster.append(blk.head.split(" ", 3).take(2).mkString(" "))
          .append('\t').append(f"cdx-$sh%05d.gz").append('\t')
          .append(off).append('\t').append(bo.size()).append('\t')
          .append(bi).append('\n')
      }
      for (sh <- 0 until shards) {
        val out = fs.create(
          new org.apache.hadoop.fs.Path(idxDir, f"cdx-$sh%05d.gz"), true)
        try out.write(bufs(sh).toByteArray) finally out.close()
      }
      val out = fs.create(
        new org.apache.hadoop.fs.Path(idxDir, "cluster.idx"), true)
      try out.write(cluster.toString.getBytes("UTF-8"))
      finally out.close()
    }
    fs.delete(graft.sources.warc.WarcCdx.sidecar(bigPath), false)
    val lookupUrl = WarcSynth.urlOf((bigPages / 2).toLong)
    val (tLookup, lkBytes) = best3(
      spark.read.format("warc").option("cdx", s"$bigDir/indexes")
        .load(bigPath.toString)
        .filter($"url" === lookupUrl)
        .selectExpr("sum(length(payload))").collect()(0).getLong(0))
    val (tLookupWhole, lwBytes) = best3(
      spark.read.format("warc").load(bigPath.toString)
        .filter($"url" === lookupUrl)
        .selectExpr("sum(length(payload))").collect()(0).getLong(0))
    require(lkBytes == lwBytes,
      s"cluster lookup bytes differ: $lkBytes vs $lwBytes")

    println(s"""{"metric":"warc_read_paths","unit":"sec","lake_mb":${
      lakeBytes / 1048576},"files":$nFiles,"records":$nRecs,
      |"full_scan_s":$tFull,"survey_s":$tSurvey,
      |"responses_scan_s":$tResp,"census_s":$tCensus,
      |"plain_full_s":$tPlainFull,"plain_survey_s":$tPlainSurvey,
      |"payload_bytes":$fullBytes,"response_bytes":$respBytes,
      |"ok_responses":$nOk,
      |"big_mb":$bigMb,"big_records":$nIndexed,
      |"cdx_index_s":$cdxIndexS,"big_whole_s":$tBigWhole,
      |"big_split_s":$tBigSplit,"cdx_survey_s":$tCdxSurvey,
      |"cdx_survey_rows":$nSurvey,
      |"cluster_lookup_s":$tLookup,"lookup_whole_s":$tLookupWhole}"""
      .stripMargin.replace("\n", ""))
    spark.stop()
  }
}
