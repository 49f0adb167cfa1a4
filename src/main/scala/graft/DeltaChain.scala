package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared lifecycle for persisted relations that grow with their source
  * table by DELTA APPEND — the co-purchase graph's payload-dir chain
  * (round 11) generalized, so the next incremental artifact (the LSH
  * dedup bucket index) reuses the proven machinery instead of
  * hand-rolling a third copy whose guards drift (the round-9 advisory
  * that produced [[Artifact]], one level up).
  *
  * Shape: the artifact is a LIST of parquet payload dirs named by a
  * committed JSON sidecar ([[Artifact]] protocol — sidecar written last
  * via atomic move, staleness = fmt + source rows + source content
  * fingerprint). The logical relation is the union of the listed dirs
  * folded through a caller-supplied associative `merge`; because merge
  * is a fold over ROWS, an append only has to compute the DELIVERY's
  * rows and add one dir to the list — O(delivery), not O(source).
  *
  * Append admission (the graph's contract, now the shared one):
  *   - the source grew STRICTLY by new files — every sidecar-recorded
  *     file still present with identical size+mtime (a rewritten or
  *     vanished file means regeneration → full rebuild);
  *   - the caller's `delta` accepts the delivery under the FROZEN
  *     BOUNDARY recorded at build time (e.g. monotone order keys /
  *     doc ids) — a refusal (None) falls through to the full rebuild.
  *
  * Crash safety and idempotence: delta dirs have deterministic names
  * (`delta-<k>`) and mode-overwrite writes, so a retry after a crash
  * rewrites the orphan; an uncommitted dir is simply not listed by any
  * sidecar (unlisted = invisible). Compaction: past [[maxPayloadDirs]]
  * the whole chain folds through `merge` into ONE fresh dir
  * (`<base>-c<k>`) and the sidecar swaps to it — amortized one linear
  * rewrite every ~maxPayloadDirs deliveries, so the load-path union
  * stays O(1) dirs forever; superseded dirs stay on disk, harmless,
  * still readable by a concurrent holder of the OLD sidecar list.
  *
  * Exception discipline (round-10 advisory rule): ONLY the sidecar
  * parse/validation may swallow exceptions — a malformed or stale
  * sidecar legitimately means "rebuild"; a failure in the
  * compute/write/commit sections is a genuine defect and propagates.
  */
final class DeltaChain(
    confKey: String,
    defaultSubdir: String,
    fmt: Long,
    baseDirName: String,
    maxPayloadDirs: Int = 6) {

  private val sidecar = "meta.json"

  /** Full (non-append) builds observed for dataset `d` this session —
    * the artifact specs' proof that cold loads and appends never re-run
    * the expensive build. Counted in [[Memo]] under the chain's subdir. */
  def buildsFor(d: String): Long = Memo.builds(defaultSubdir, d)

  /** Content-addressed artifact dir (shared [[Artifact]] addressing). */
  def dir(s: SparkSession, d: String): java.nio.file.Path =
    Artifact.dir(s, confKey, defaultSubdir, d)

  /** Sidecar-recorded payload dirs for `d` (test hook; empty = none). */
  def payloadDirsFor(s: SparkSession, d: String): Seq[String] = {
    val marker = dir(s, d).resolve(sidecar)
    if (!java.nio.file.Files.exists(marker)) return Seq.empty
    try {
      import org.json4s._
      (jackson.JsonMethods.parse(new String(
        java.nio.file.Files.readAllBytes(marker), "UTF-8")) \ "dirs") match {
        case JArray(xs) => xs.collect { case JString(x) => x }
        case _ => Seq.empty
      }
    } catch { case _: Exception => Seq.empty }
  }

  /** Sidecar-recorded append count for `d` (test hook; -1 = none). */
  def appendsFor(s: SparkSession, d: String): Long = {
    val marker = dir(s, d).resolve(sidecar)
    if (!java.nio.file.Files.exists(marker)) return -1L
    try Artifact.asLong(org.json4s.jackson.JsonMethods.parse(
      new String(java.nio.file.Files.readAllBytes(marker), "UTF-8"))
      \ "appends")
    catch { case _: Exception => -1L }
  }

  /** Data files (name, size, mtime) of the source table — the sidecar
    * inventory the append path checks for strict growth. Committer
    * markers (_SUCCESS/.crc) are rewritten on every append and would
    * disqualify genuine strict growth, so they are excluded. */
  private def filesOf(s: SparkSession, tablePath: String)
      : Seq[(String, Long, Long)] = {
    val conf = s.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(tablePath)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return Seq.empty
    val st = fs.getFileStatus(p)
    val files =
      if (st.isDirectory) fs.listStatus(p).filter(_.isFile) else Array(st)
    files.map(f => (f.getPath.getName, f.getLen, f.getModificationTime))
      .filterNot(f => f._1.startsWith("_") || f._1.startsWith("."))
      .sortBy(_._1).toSeq
  }

  private def sidecarExtra(s: SparkSession, tablePath: String,
      dirs: Seq[String], boundary: Long, appends: Long)
      : org.json4s.JsonAST.JObject = {
    import org.json4s.JsonDSL._
    ("dirs" -> dirs) ~ ("boundary" -> boundary) ~ ("appends" -> appends) ~
      ("files" -> filesOf(s, tablePath).map { case (n, sz, mt) =>
        ("n" -> n) ~ ("sz" -> sz) ~ ("mt" -> mt) })
  }

  /** Delta-append attempt under the committed sidecar: validate (fmt,
    * strict row growth, strict file superset), hand the NEW FILES and
    * the frozen boundary to `delta`, persist its relation as the next
    * chain link, compact past the bound, re-commit under the grown
    * key. None = no committed artifact / stale / delta refused →
    * caller falls through to the full build. */
  private def tryAppend(s: SparkSession, d: String, tablePath: String,
      key: Artifact.Key,
      delta: (Seq[String], Long) => Option[(DataFrame, Long)],
      merge: DataFrame => DataFrame): Option[DataFrame] = {
    import org.json4s._
    val aDir = dir(s, d)
    val marker = aDir.resolve(sidecar)
    if (!java.nio.file.Files.exists(marker)) return None
    val validated = try {
      val o = jackson.JsonMethods.parse(new String(
        java.nio.file.Files.readAllBytes(marker), "UTF-8"))
      if (Artifact.asLong(o \ "fmt") != key.fmt) return None
      val baseRows = Artifact.asLong(o \ "rows")
      if (baseRows <= 0 || baseRows >= key.rows) return None // not growth
      val cur = filesOf(s, tablePath).map(f => f._1 -> (f._2, f._3)).toMap
      val old = (o \ "files") match {
        case JArray(xs) => xs.map { f =>
          ((f \ "n") match {
            case JString(n) => n
            case _ => return None
          }, Artifact.asLong(f \ "sz"), Artifact.asLong(f \ "mt"))
        }
        case _ => return None
      }
      if (old.isEmpty || cur.size <= old.size) return None
      if (!old.forall { case (n, sz, mt) =>
        cur.get(n).contains((sz, mt)) }) return None
      val boundary = Artifact.asLong(o \ "boundary")
      if (boundary < 0) return None
      val dirs = (o \ "dirs") match {
        case JArray(xs) => xs.collect { case JString(x) => x }
        case _ => return None
      }
      if (dirs.isEmpty) return None
      val appends = math.max(Artifact.asLong(o \ "appends"), 0L)
      val oldNames = old.map(_._1).toSet
      val newFiles = cur.keySet.diff(oldNames).toSeq.sorted
        .map(n => s"$tablePath/$n")
      Some((boundary, appends, dirs, newFiles))
    } catch { case scala.util.control.NonFatal(_) => None }
    val (boundary, appends, dirs, newFiles) =
      validated.getOrElse(return None)
    val (rel, newBoundary) = delta(newFiles, boundary).getOrElse(return None)
    val deltaDir = s"delta-${appends + 1}"
    rel.write.mode("overwrite").parquet(aDir.resolve(deltaDir).toString)
    val grown = dirs :+ deltaDir
    val newDirs =
      if (grown.size <= maxPayloadDirs) grown
      else {
        val cDir = s"$baseDirName-c${appends + 1}"
        merge(s.read.parquet(grown.map(x => aDir.resolve(x).toString): _*))
          .write.mode("overwrite").parquet(aDir.resolve(cDir).toString)
        Seq(cDir)
      }
    Artifact.commit(aDir, sidecar, key,
      sidecarExtra(s, tablePath, newDirs, newBoundary, appends + 1))
    Some(s.read.parquet(newDirs.map(x => aDir.resolve(x).toString): _*))
  }

  /** The raw (pre-merge) payload relation for dataset `d`: committed
    * artifact (cold load — no build) → delta append (grown source —
    * delivery-only compute) → full `build`, persisted for the next
    * session. Callers fold the result through their `merge` (the load
    * path may span several payload dirs) and own any caching/memo.
    *
    * @param rows source row count — the cheap staleness component the
    *   caller already knows how to count without the expensive build
    * @param build full relation + frozen boundary value (e.g. the max
    *   source key at build time)
    * @param delta (newFilePaths, frozenBoundary) → delivery relation +
    *   the new boundary, or None to refuse (forces full rebuild)
    * @param merge associative fold of duplicate keys across payload
    *   dirs — used by compaction; callers apply it on load too
    */
  def payload(s: SparkSession, d: String, tablePath: String, rows: Long,
      build: () => (DataFrame, Long),
      delta: (Seq[String], Long) => Option[(DataFrame, Long)],
      merge: DataFrame => DataFrame): DataFrame = {
    val key = Artifact.Key(fmt, rows, Tables.fingerprint(tablePath))
    val aDir = dir(s, d)
    Artifact.loadIfFresh(aDir, sidecar, key)
      .flatMap { o =>
        import org.json4s._
        (o \ "dirs") match {
          case JArray(xs) =>
            val ds = xs.collect { case JString(x) => x }
            if (ds.isEmpty) None
            // the payload read is part of artifact VALIDATION (the
            // sidecar-swallowing discipline): a listed dir a tmp
            // cleaner removed — while the freshly-rewritten sidecar
            // survived — must degrade to a rebuild, not throw out of
            // every consumer forever (read.parquet resolves the
            // schema eagerly, so a missing dir surfaces here)
            else try Some(s.read.parquet(
              ds.map(x => aDir.resolve(x).toString): _*))
            catch { case scala.util.control.NonFatal(_) => None }
          case _ => None
        }
      }
      .orElse(tryAppend(s, d, tablePath, key, delta, merge))
      .getOrElse {
        Memo.countBuild("artifact", defaultSubdir, d)
        val (rel, boundary) = build()
        java.nio.file.Files.createDirectories(aDir)
        rel.write.mode("overwrite")
          .parquet(aDir.resolve(baseDirName).toString)
        Artifact.commit(aDir, sidecar, key,
          sidecarExtra(s, tablePath, Seq(baseDirName), boundary, 0L))
        s.read.parquet(aDir.resolve(baseDirName).toString)
      }
  }
}
