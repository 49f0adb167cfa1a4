package graft.operators

import graft.{Q, Tables}
import graft.functions.AdcLutSum.adc_lut_sum
import graft.functions.VecSqDist.vec_sqdist
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (builder brief;
  * SURVEY.md §2C): brute-force cosine top-k as the exact baseline, and
  * random-hyperplane LSH bucketing as the approximate 100 TB path.
  *
  * Scale design:
  *   - brute force is a broadcast nested-loop of a *small query set*
  *     against the corpus — the corpus is never shuffled, queries are
  *     broadcast, and the per-partition top-k heap
  *     (`TakeOrderedAndProject` after `row_number <= k`) keeps the result
  *     exchange tiny. O(|Q| * N) compute is the honest cost of exact
  *     search; it parallelizes linearly with executors.
  *   - LSH replaces the cross product with an equi-join on bucket id:
  *     each vector is hashed once (16 hyperplane sign bits), candidates
  *     meet only within a bucket, then exact cosine reranks. That is the
  *     standard sub-linear ANN shape for cluster execution.
  *
  * Background: random-hyperplane LSH for cosine similarity (Charikar,
  * STOC 2002); bucket-join + exact rerank is the standard two-stage ANN
  * shape (e.g. IVF-style candidate generation, Jegou et al., PQ, TPAMI
  * 2011 — here with sign buckets instead of coarse quantizers).
  *
  * Float determinism vs the DuckDB oracle: dot products fold the arrays
  * sequentially (`aggregate(zip_with(...))` in Spark, `list_sum` of a list
  * comprehension in DuckDB) after exact float->double casts, so sums are
  * bit-identical; hyperplane weights derive from md5 prefixes (integer
  * arithmetic), so they are identical too.
  */
object Similarity {

  /** Per-dataset memos of the index-build artifacts (trained PQ
    * codebooks, the IVF-PQ model with its encoded corpus, the collected
    * query block, the corpus count) live in [[graft.Memo]] under family
    * "similarity", guarded by the embeddings table's content: repeat
    * invocations in one session reuse the trained model instead of
    * re-training (same pattern as [[Clustering]]'s centroid memo). */
  private def memoized[V](s: SparkSession, kind: String, d: String)(
      build: => V): V =
    graft.Memo.value(s, "similarity", kind, d, s"$d/embeddings.parquet")(
      build)

  // ----- persisted IVF-PQ index artifact (round-8 verdict #4) -------------
  // A real 100 TB pipeline builds the ANN index offline ONCE and persists
  // it; a new session must load it cold instead of re-training and
  // re-encoding the corpus. The artifact is the standard FAISS-style
  // split: the big part (per-vector codes) as parquet — distributed
  // write, readable by any engine — and the small part (coarse centroids
  // + residual codebooks) as a JSON sidecar. Doubles serialize as
  // Double.toString, which Java guarantees round-trips exactly, so a
  // cold-loaded model is bit-identical to the trained one and the DuckDB
  // oracle hash-match still holds. The sidecar is written LAST via an
  // atomic move, so its presence is the commit marker for the whole
  // artifact; `rows` recorded inside guards against a dataset
  // regenerated at the same path (mismatch -> rebuild).

  /** Artifact location: `spark.graft.ann.indexDir` (or java.io.tmpdir)
    * / md5(dataset dir) — content-addressed by dataset path because the
    * dataset dirs themselves are read-only inputs here; a deployment
    * owning its data would write `<dataset>/_ann_index` instead. */
  private[graft] def annIndexDir(s: SparkSession, d: String): java.nio.file.Path =
    graft.Artifact.dir(s, "spark.graft.ann.indexDir", "graft_ann_index", d)

  private def indexKey(s: SparkSession, d: String, rows: Long) =
    graft.Artifact.Key(IndexFmt, rows,
      graft.Tables.fingerprint(s"$d/embeddings.parquet"))

  /** Source-file inventory of the embeddings table (name, size, mtime
    * via Hadoop FileSystem, like [[Tables.fingerprint]]): recorded in
    * the sidecar so the append path can distinguish strict growth
    * (every build-time file untouched, new files added) from a
    * regeneration, which the aggregate fingerprint alone cannot. */
  private def embeddingsFiles(s: SparkSession, d: String)
      : Seq[(String, Long, Long)] = {
    val conf = s.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(s"$d/embeddings.parquet")
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return Seq.empty
    val st = fs.getFileStatus(p)
    val files =
      if (st.isDirectory) fs.listStatus(p).filter(_.isFile) else Array(st)
    // data files only: committers rewrite _SUCCESS/.crc markers on
    // every append, which would disqualify genuine strict growth
    files.map(f => (f.getPath.getName, f.getLen, f.getModificationTime))
      .filterNot(f => f._1.startsWith("_") || f._1.startsWith("."))
      .sortBy(_._1).toSeq
  }

  /** Seal the sidecar for the current dataset state. `mq` is the
    * BUILD-time mean primary coarse distance (the training
    * distribution's quantization quality) — appends keep it unchanged
    * so drift is always measured against the distribution the model was
    * trained on, not against a slowly-poisoned average. `codesDir` is
    * the current codes payload dir (compaction swaps it). */
  private def commitSidecar(s: SparkSession, d: String, rows: Long,
      cents: Seq[Seq[Double]], cb: Seq[Seq[Seq[Double]]],
      mq: Double, appends: Long, codesDir: String): Unit = {
    import org.json4s.JsonDSL._
    val dir = annIndexDir(s, d)
    graft.Artifact.commit(dir, "model.json", indexKey(s, d, rows),
      ("cents" -> cents.map(_.map(_.toString))) ~
      ("cb" -> cb.map(_.map(_.map(_.toString)))) ~
      ("mq" -> mq.toString) ~
      ("appends" -> appends) ~
      ("codesDir" -> codesDir) ~
      ("files" -> embeddingsFiles(s, d).map { case (n, sz, mt) =>
        ("n" -> n) ~ ("sz" -> sz) ~ ("mt" -> mt) }))
  }

  /** Sidecar-resolved codes payload dir ("codes" for artifacts sealed
    * before compaction existed — an optional field, not a format
    * change: both layouts read correctly). */
  private def codesDirOf(o: org.json4s.JValue): String =
    (o \ "codesDir") match {
      case org.json4s.JString(x) => x
      case _ => "codes"
    }

  /** Parquet data-file count past which an append folds the codes dir
    * (base + accumulated delta files) into a freshly-written compact
    * dir — the graph artifact's amortized-compaction rule applied to
    * the ANN payload. Conf-tunable for the spec. */
  private def codesFileBound(s: SparkSession): Int =
    s.conf.get("spark.graft.ann.codesFileBound", "24").toInt

  private def writeIndex(s: SparkSession, d: String, rows: Long,
      cents: Seq[Seq[Double]], cb: Seq[Seq[Seq[Double]]],
      codes: DataFrame, mq: Double): Unit = {
    val dir = annIndexDir(s, d)
    java.nio.file.Files.createDirectories(dir)
    codes.write.mode("overwrite").parquet(dir.resolve("codes").toString)
    // payload fully on disk; the shared Artifact.commit seals it (the
    // staleness key + the small model as extra sidecar fields)
    commitSidecar(s, d, rows, cents, cb, mq, appends = 0L,
      codesDir = "codes")
  }

  /** Parse the sidecar's model payload (exact-round-trip doubles). */
  private def parseModel(o: org.json4s.JValue)
      : Option[(Seq[Seq[Double]], Seq[Seq[Seq[Double]]])] = {
    import org.json4s._
    try {
      def d1(v: JValue): Seq[Double] = v match {
        case JArray(xs) => xs.map { case JString(x) => x.toDouble
          case other => throw new IllegalArgumentException(other.toString) }
        case other => throw new IllegalArgumentException(other.toString)
      }
      def arr(v: JValue): List[JValue] = v match {
        case JArray(xs) => xs
        case other => throw new IllegalArgumentException(other.toString)
      }
      Some((arr(o \ "cents").map(d1),
        arr(o \ "cb").map(m => arr(m).map(d1))))
    } catch { case _: Exception => None }
  }

  /** Cold-load the persisted index; None if absent or stale under the
    * shared [[graft.Artifact]] rule — format version (a sidecar written
    * before multi-assignment has one code row per vector, which the A=3
    * probe would silently under-recall on), source row count, and the
    * regeneration fingerprint. The codes cache materializes off the
    * probe path, mirroring the built branch. */
  private def loadIndex(s: SparkSession, d: String, rows: Long):
      Option[(Seq[Seq[Double]], Seq[Seq[Seq[Double]]], DataFrame)] = {
    val dir = annIndexDir(s, d)
    graft.Artifact.loadIfFresh(dir, "model.json", indexKey(s, d, rows))
      .flatMap(o => parseModel(o).map((_, codesDirOf(o))))
      .flatMap { case ((cents, cb), cdir) =>
        try {
          // Spread before caching (round 17): the codes parquet is one
          // small file at bench scale, so the ADC probe scan otherwise
          // serializes on a single-partition cache; no-op at scale
          val codes = Spread.byKey(
            s.read.parquet(dir.resolve(cdir).toString), "vec_id").cache()
          codes.count()
          Some((cents, cb, codes))
        } catch { case _: Exception => None }
      }
  }

  /** The shared squared-L2 and per-subspace-distance SQL templates used
    * by both the index build and the probe path. */
  private val ivfL2 =
    "aggregate(zip_with(%s, %s, (x, y) -> (x - y) * (x - y)), " +
      "CAST(0.0 AS DOUBLE), (a, z) -> a + z)"
  private val ivfSubDists =
    "transform(sequence(0, 15), m -> transform(element_at(cb, m + 1), " +
      "sub -> aggregate(zip_with(slice(%s, m * 4 + 1, 4), sub, " +
      "(x, y) -> (x - y) * (x - y)), CAST(0.0 AS DOUBLE), " +
      "(a, z) -> a + z)))"

  /** The trained IVF-PQ index for dataset `d`: (coarse centroids,
    * residual codebooks, encoded corpus). Resolution order: in-memory
    * memos (warm session) -> persisted on-disk artifact (cold session —
    * NO re-train, no re-encode) -> full offline build, which persists
    * the artifact for the next session. */
  private[graft] def ivfpqIndex(s: SparkSession, d: String, e: DataFrame)
      : IvfpqModel =
    graft.Memo.releasing(s, "similarity", "ivfpq", d,
        s"$d/embeddings.parquet", (m: IvfpqModel) => m._3.unpersist()) {
      val rows = e.count() // cold path only: one pruned-scan count
      loadIndex(s, d, rows)
        .orElse(tryAppend(s, d, e, rows))
        .getOrElse(buildIndex(s, d, e, rows))
    }

  /** (coarse centroids, residual codebooks, cached encoded corpus). */
  private type IvfpqModel =
    (Seq[Seq[Double]], Seq[Seq[Seq[Double]]], DataFrame)

  /** The full offline build: train, encode, persist. Counted as
    * `Memo.builds("ann_index", d)` — the specs' proof that a cold load
    * from the persisted artifact never re-trains. */
  private def buildIndex(s: SparkSession, d: String, e: DataFrame,
      rows: Long): IvfpqModel = {
    import s.implicits._
    graft.Memo.countBuild("artifact", "ann_index", d)
    val cents = Clustering.trainedCentroidArrays(s, d)
    val asgAll = assignAll(e, cents)
    // residual codebook: Lloyd-trained per subspace over the PRIMARY
    // residuals only (standard IVFADC training), seeded from the
    // first 32 residuals; secondary assignments reuse it
    val cb = trainCodebooks(subVectors(
      asgAll.filter($"arank" === 0).select($"vec_id", $"r"), "r"))
    // spread before caching — the encode chain rides the single-file
    // embeddings scan partition (Spread doc)
    val codes = Spread.byKey(encodeAssigned(asgAll, cb), "vec_id").cache()
    codes.count() // materialize the index once, off the probe path
    // build-time quantization quality: the append drift rule's
    // reference point (one extra small agg, paid at build only)
    val mq = asgAll.filter($"arank" === 0)
      .agg(avg($"cd")).first().getDouble(0)
    writeIndex(s, d, rows, cents, cb, codes, mq)
    (cents, cb, codes)
  }

  /** Redundant top-A coarse assignment of `e` under `cents`:
    * (vec_id, v, arank, cl, cd, r) rows, IvfA per vector.
    *
    * REDUNDANT multi-assignment (round-9): each vector is indexed
    * under its IvfA nearest lists, not just the primary — at
    * nprobe=4 of 8 lists, single assignment caps routing recall at
    * the fraction of true neighbors whose one list is probed
    * (measured 0.78 here); with A=3 a neighbor is missed only if
    * ALL THREE of its lists are unprobed (routing-bound 0.98,
    * end-to-end ≥0.95). Cost is 3x code storage — 48 B/vector vs
    * the 256 B raw vector — and the same zero-shuffle build: the
    * top-A selection is an in-row array_sort over the 8 centroid
    * distances (struct (cd, cl) sorts lexicographically = first-
    * argmin tie-break), never a corpus window. */
  private def assignAll(e: DataFrame, cents: Seq[Seq[Double]]): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val centCol = typedLit(cents).as("cents")
    val topsExpr =
      "slice(array_sort(transform(sequence(0, size(cents) - 1), " +
        s"i -> struct(${ivfL2.format("v", "element_at(cents, i + 1)")}" +
        s" AS cd, i AS cl))), 1, $IvfA)"
    e.select($"vec_id", $"v", centCol)
      .select($"vec_id", $"v", $"cents", posexplode(expr(topsExpr)))
      .select($"vec_id", $"v", $"pos".cast("int").as("arank"),
        $"col.cl".cast("int").as("cl"), $"col.cd".as("cd"),
        expr("zip_with(v, element_at(cents, col.cl + 1), " +
          "(x, y) -> x - y)").as("r"))
  }

  /** PQ-encode assignment rows under codebooks `cb`:
    * (vec_id, cl, codes) — shared by the offline build (whole corpus)
    * and the append path (delivery only). */
  private def encodeAssigned(asg: DataFrame, cb: Seq[Seq[Seq[Double]]])
      : DataFrame = {
    val s = asg.sparkSession
    import s.implicits._
    val cbCol = typedLit(cb).as("cb")
    asg.select($"vec_id", $"cl", $"r", cbCol)
      .select($"vec_id", $"cl", expr(ivfSubDists.format("r")).as("sds"))
      .select($"vec_id", $"cl", expr("transform(sds, s -> " +
        "CAST(array_position(s, array_min(s)) - 1 AS INT))").as("codes"))
  }

  /** Incremental index append (round-9 verdict #6): at 100 TB corpora
    * grow by delivery, and a full re-train + re-encode per delivery is
    * the expensive path. When the dataset grew STRICTLY by new files —
    * every file recorded in the sidecar still present with identical
    * size+mtime — the new vectors are encoded under the EXISTING
    * centroids/codebooks (FAISS `add()` semantics: no training, the
    * base codes untouched) and written as additional parquet files,
    * then the sidecar re-commits under the grown dataset's key.
    *
    * Drift rule: the delivery's mean primary coarse distance must stay
    * within [[AppendDriftFactor]]× the BUILD-time mean recorded in the
    * sidecar; a distribution shift past that bound means the frozen
    * coarse quantizer no longer routes the new data well (recall decays
    * silently), so the append is refused and the caller falls through
    * to a full retrain. Any partial failure is safe: the sidecar only
    * re-commits after the code append lands, and a re-entry finds the
    * already-appended vec_ids via the anti-join (empty delivery →
    * full rebuild overwrites). */
  private def tryAppend(s: SparkSession, d: String, e: DataFrame,
      rows: Long)
      : Option[(Seq[Seq[Double]], Seq[Seq[Seq[Double]]], DataFrame)] = {
    import org.json4s._
    import s.implicits._
    val dir = annIndexDir(s, d)
    val marker = dir.resolve("model.json")
    if (!java.nio.file.Files.exists(marker)) return None
    // Sidecar parse/validation: a malformed, stale, or partially-written
    // sidecar (or a hand-deleted codes dir) legitimately means "no
    // append path — rebuild", so ONLY this section may swallow
    // exceptions. A failure past it (encode/write/commit) is a genuine
    // defect and must propagate, not silently disable the append path
    // forever; that is also restart-safe — the sidecar re-commits only
    // after the code append lands, and a re-entry anti-joins away any
    // vec_ids the failed attempt already appended.
    val validated = try {
      val o = jackson.JsonMethods.parse(new String(
        java.nio.file.Files.readAllBytes(marker), "UTF-8"))
      if (graft.Artifact.asLong(o \ "fmt") != IndexFmt) return None
      val baseRows = graft.Artifact.asLong(o \ "rows")
      if (baseRows <= 0 || baseRows >= rows) return None // not growth
      // strict-growth check: every build-time file unchanged
      val cur = embeddingsFiles(s, d)
        .map(f => f._1 -> (f._2, f._3)).toMap
      val old = (o \ "files") match {
        case JArray(xs) => xs.map { f =>
          ((f \ "n") match {
            case JString(n) => n
            case _ => return None
          }, graft.Artifact.asLong(f \ "sz"),
            graft.Artifact.asLong(f \ "mt"))
        }
        case _ => return None
      }
      if (old.isEmpty || cur.size <= old.size) return None
      if (!old.forall { case (n, sz, mt) =>
        cur.get(n).contains((sz, mt)) }) return None
      val mq = (o \ "mq") match {
        case JString(x) => x.toDouble
        case _ => return None
      }
      val appends = math.max(graft.Artifact.asLong(o \ "appends"), 0L)
      val cdir = codesDirOf(o)
      val (cents, cb) = parseModel(o).getOrElse(return None)
      val baseCodes = // schema read validates the payload dir
        s.read.parquet(dir.resolve(cdir).toString)
      Some((mq, appends, cdir, cents, cb, baseCodes))
    } catch { case scala.util.control.NonFatal(_) => None }
    val (mq, appends, cdir, cents, cb, baseCodes) =
      validated.getOrElse(return None)
    val codesPath = dir.resolve(cdir).toString
    val fresh = e.join(baseCodes.select($"vec_id").distinct(),
      Seq("vec_id"), "left_anti")
    val asg = assignAll(fresh, cents).cache()
    try {
      val st = asg.filter($"arank" === 0)
        .agg(count(lit(1)), avg($"cd")).first()
      if (st.getLong(0) == 0L) return None
      if (!(st.getDouble(1) <= AppendDriftFactor * mq)) return None
      encodeAssigned(asg, cb).write.mode("append").parquet(codesPath)
    } finally asg.unpersist()
    // amortized small-file compaction (the graph delta-chain rule on
    // the codes payload): appends accumulate parquet part files; past
    // the bound the whole relation rewrites into a fresh dir and the
    // sidecar swaps to it — the superseded dir becomes unlisted and
    // harmless, a crash before the commit leaves an orphan the next
    // attempt overwrites (deterministic name)
    val dataFiles = {
      val p = java.nio.file.Paths.get(codesPath)
      if (!java.nio.file.Files.isDirectory(p)) 0
      else {
        val st = java.nio.file.Files.list(p)
        try st.filter(f => f.getFileName.toString.endsWith(".parquet"))
          .count().toInt
        finally st.close()
      }
    }
    val newCdir =
      if (dataFiles <= codesFileBound(s)) cdir
      else {
        val c = s"codes-c${appends + 1}"
        // the compacted dir must land WELL below the bound, or the
        // amortization breaks: rewriting into numShufflePartitions
        // files (32 here, 200 on vanilla Spark) exceeds the default
        // bound of 24, so the very next append would re-trigger a full
        // O(index) rewrite — compaction on EVERY delivery, plus one
        // orphaned full-size superseded dir each time. A quarter of
        // the bound leaves ~3/4 of the headroom for future appends.
        s.read.parquet(codesPath)
          .repartition(math.max(1, codesFileBound(s) / 4))
          .write.mode("overwrite").parquet(dir.resolve(c).toString)
        c
      }
    commitSidecar(s, d, rows, cents, cb, mq, appends + 1, newCdir)
    val codes = Spread.byKey(
      s.read.parquet(dir.resolve(newCdir).toString), "vec_id").cache()
    codes.count()
    Some((cents, cb, codes))
  }

  /** Sidecar-recorded codes payload dir for `d` (test hook). */
  private[graft] def codesDirFor(s: SparkSession, d: String): String = {
    val marker = annIndexDir(s, d).resolve("model.json")
    if (!java.nio.file.Files.exists(marker)) return ""
    try codesDirOf(org.json4s.jackson.JsonMethods.parse(new String(
      java.nio.file.Files.readAllBytes(marker), "UTF-8")))
    catch { case _: Exception => "" }
  }

  /** Sidecar-recorded append count for `d` (test hook). */
  private[graft] def appendsFor(s: SparkSession, d: String): Long = {
    val marker = annIndexDir(s, d).resolve("model.json")
    if (!java.nio.file.Files.exists(marker)) return -1L
    try graft.Artifact.asLong(org.json4s.jackson.JsonMethods.parse(
      new String(java.nio.file.Files.readAllBytes(marker), "UTF-8"))
      \ "appends")
    catch { case _: Exception => -1L }
  }

  // ----- PQ codebook training (per-subspace Lloyd) ------------------------
  // M subspaces of SubDim dims, K codes each, trained for PqIters Lloyd
  // iterations with the same integer-exact update contract as
  // Clustering.train: per-(subspace, code, dim) sums of
  // floor(x * 10^12) BIGINTs, so Spark's partial-aggregation order and the
  // DuckDB oracle's sequential order produce bit-identical centroids.
  // Init is the sub-slices of the first K vectors (the round-4 "seed"
  // codebook IS iteration 0); assignment ties break to the lowest code;
  // a code that loses all members keeps its previous centroid (the
  // oracle's LEFT JOIN + COALESCE).
  private val PqM = 16
  private val PqSubDim = 4
  private val PqK = 32
  private val PqIters = 3

  /** IVF redundant-assignment count: each corpus vector is indexed in
    * its IvfA nearest inverted lists (FAISS-style replica assignment).
    * Fixed by the recall target: at nprobe=4/8, A=1 routing-bounds
    * recall@5 at ~0.78 and A=3 at ~0.98 (measured, SimilaritySpec). */
  private val IvfA = 3

  /** Persisted-index format version; bumped when the artifact layout or
    * semantics change (2 = multi-assignment codes; 3 = sidecar carries
    * the source-file inventory + build-time quantization quality the
    * append path needs — a v2 artifact rebuilds once and upgrades). */
  private val IndexFmt = 3L

  /** Append drift bound: a delivery whose mean primary coarse distance
    * exceeds this multiple of the build-time mean is refused (the
    * frozen coarse quantizer would route it badly → silent recall
    * decay) and forces a retrain. In-distribution deliveries measure
    * ~1.0× here; the spec's shifted delivery measures ≫2×. */
  private val AppendDriftFactor = 2.0

  /** (vec_id, m, sub) rows: each vector split into its M sub-vectors. */
  private def subVectors(e: DataFrame, vecCol: String): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    e.select($"vec_id", posexplode(expr(
      s"transform(sequence(0, ${PqM - 1}), " +
        s"m -> slice($vecCol, m * $PqSubDim + 1, $PqSubDim))")))
      .select($"vec_id", $"pos".cast("int").as("m"), $"col".as("sub"))
  }

  /** Lloyd-train all M sub-codebooks in one distributed job per
    * iteration: assignment is a broadcast join on the subspace id (the
    * codebook is M*K tiny sub-vectors), the update one hash aggregation;
    * the corpus never shuffles. Returns cb[m][code][dim]. */
  private def trainCodebooks(sub: DataFrame): Seq[Seq[Seq[Double]]] = {
    val s = sub.sparkSession
    import s.implicits._
    val cached = sub.cache()
    try {
      var cb: Map[(Int, Int), Seq[Double]] =
        cached.filter($"vec_id" < PqK)
          .select($"m", $"vec_id".cast("int").as("code"), $"sub")
          .collect()
          .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toSeq)
          .toMap
      for (_ <- 1 to PqIters) {
        val cbDf = cb.toSeq.map { case ((m, c), v) => (m, c, v) }
          .toDF("m", "code", "c")
        val sums = cached.join(broadcast(cbDf), "m")
          .select($"vec_id", $"m", $"sub",
            struct(vec_sqdist($"sub", $"c").as("dist"),
              $"code").as("dc"))
          .groupBy($"vec_id", $"m")
          // all rows of a (vec_id, m) group carry the same sub — first()
          // is deterministic here
          .agg(min($"dc").as("best"), first($"sub").as("sv"))
          .select($"m", $"best.code".as("code"), posexplode($"sv"))
          .groupBy($"m", $"code", $"pos")
          .agg((sum(floor($"col" * lit(1.0e12))).cast("double") /
            lit(1.0e12) / count(lit(1))).as("cv"))
          .collect()
        val next = sums.groupBy(r => (r.getInt(0), r.getInt(1)))
          .map { case (k, rows) =>
            k -> rows.sortBy(_.getInt(2)).map(_.getDouble(3)).toSeq }
        cb = cb.map { case (k, prev) => k -> next.getOrElse(k, prev) }
      }
      (0 until PqM).map(m => (0 until PqK).map(c => cb((m, c))).toSeq)
    } finally cached.unpersist()
  }

  /** Unrolled DuckDB mirror of [[trainCodebooks]]: `src` must provide
    * (vec_id, m, sub); emits CTEs `<p>cb0` .. `<p>cb{PqIters}`, each
    * (m, code, c). */
  private def pqTrainCtes(src: String, p: String): String = {
    def iter(t: Int): String = {
      val prev = s"${p}cb${t - 1}"
      s"""${p}a$t AS (
        SELECT vec_id, m, sub, code FROM (
          SELECT s.vec_id, s.m, s.sub, cb.code,
            ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m ORDER BY
              list_sum([(sub[i]-c[i])*(sub[i]-c[i])
                        FOR i IN generate_series(1, $PqSubDim)]) ASC,
              cb.code ASC) AS rn
          FROM $src s JOIN $prev cb ON s.m = cb.m) WHERE rn = 1),
      ${p}s$t AS (
        SELECT m, code, j,
          CAST(CAST(SUM(CAST(floor(sub[j] * 1000000000000.0) AS BIGINT))
              AS BIGINT) AS DOUBLE)
            / 1000000000000.0 / COUNT(*) AS cv
        FROM ${p}a$t, generate_series(1, $PqSubDim) ${p}t$t(j)
        GROUP BY m, code, j),
      ${p}cb$t AS (
        SELECT prev.m, prev.code, COALESCE(n.c, prev.c) AS c
        FROM $prev prev LEFT JOIN (
          SELECT m, code, list(cv ORDER BY j) AS c FROM ${p}s$t
          GROUP BY m, code) n
          ON prev.m = n.m AND prev.code = n.code)"""
    }
    s"""${p}cb0 AS (
      SELECT m, CAST(vec_id AS INT) AS code, sub AS c
      FROM $src WHERE vec_id < $PqK),
    ${(1 to PqIters).map(iter).mkString(",\n")}"""
  }

  /** Sequential-fold dot product in double — the native codegen'd
    * [[graft.functions.VecDot]] expression (bit-identical to the
    * aggregate(zip_with(...)) formulation, ~10x faster: tight generated
    * loop instead of per-element interpreted lambdas). */
  private def dot(a: String, b: String): Column =
    graft.functions.VecDot.vec_dot(col(a), col(b))

  private def norm(a: String): Column = sqrt(dot(a, a))

  /** Deterministic hyperplane weight for (plane j, dim i0):
    * md5-prefix integer mapped into [-1, 1]. Mirrors the SQL
    * `(CAST('0x'||substr(md5(j||':'||i0),1,8) AS BIGINT) % 2000001 - 1000000) / 1000000.0`. */
  private[operators] def planeWeight(j: Int, i0: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$j:$i0".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 8)
    val h = java.lang.Long.parseLong(hex, 16)
    (h % 2000001L - 1000000L) / 1000000.0
  }

  private val nPlanes = 16
  private val dim = 64

  // ----- exact-kernel size guard (round-8 verdict #5) ---------------------
  // The exact kernels accept any input, but their O(|Q|·|N|·dim) flops are
  // the honest cost of exact search — past a threshold the trained ANN
  // family (sim_ann_ivfpq / sim_ann_ivf_kmeans / sim_ann_pq) is the only
  // sane plan. Mirroring the EvalBroadcastDocCap pattern: the guard fails
  // FAST with an actionable message instead of launching a week-long scan,
  // and is option-gated for callers who genuinely want the exact answer.
  // Default 1e13 flops ~ 45 min of one 8-core executor at 30 GFLOP/s —
  // sf0.1 here is 3 orders of magnitude below it; a 100 TB corpus with
  // the same 1-in-50 query rate is 10 orders above.

  private[graft] val ExactScanMaxFlops = 1e13

  // ----- exact-topk query-block cap (round-12 advisory) -------------------
  // |Q| must be a CONSTANT, not a corpus fraction: the blocked kernel
  // memoizes the collected query block on the driver, and N/50 made
  // that artifact grow linearly with the corpus (100× data = 100× the
  // driver memory). The deterministic rule
  // `vec_id % 50 == 0 AND vec_id < 50 * MaxQueryBlock` keeps |Q| ≤
  // MaxQueryBlock at ANY corpus size, coincides with the plain 1-in-50
  // sample at every test SF (max vec_id 1999 « 102400, so the existing
  // oracles' row sets are unchanged), and mirrors verbatim in SQL.
  private[graft] val MaxQueryBlock = 2048L
  private[graft] val QueryIdCap = 50L * MaxQueryBlock

  /** Corpus row count, memoized per dataset so repeated kernel
    * invocations pay the count once per session. */
  private def corpusCount(s: SparkSession, d: String): Long =
    memoized(s, "corpus_count", d)(Tables.embeddings(s, d).count())

  /** Fail fast when an exact Q×N scan crosses the flops threshold.
    * |Q| is the 1-in-50 sample capped at [[MaxQueryBlock]], so it
    * derives from |N| without a second count. Conf knobs (session-scoped):
    * `spark.graft.sim.exactScanMaxFlops` overrides the threshold,
    * `spark.graft.sim.allowLargeExactScan=true` opts out entirely. */
  private def guardExactScan(s: SparkSession, d: String): Unit = {
    val n = corpusCount(s, d)
    val q = math.min((n + 49) / 50, MaxQueryBlock)
    val flops = q.toDouble * n.toDouble * dim
    val cap = s.conf.get("spark.graft.sim.exactScanMaxFlops",
      ExactScanMaxFlops.toString).toDouble
    val allow = s.conf.get("spark.graft.sim.allowLargeExactScan",
      "false").toBoolean
    if (flops > cap && !allow)
      throw new IllegalStateException(
        f"exact cosine scan of |Q|=$q x |N|=$n ($flops%.2e flops) exceeds " +
          f"spark.graft.sim.exactScanMaxFlops=$cap%.2e — use the trained " +
          "ANN family (sim_ann_ivfpq / sim_ann_ivf_kmeans / sim_ann_pq) " +
          "at this scale, or set " +
          "spark.graft.sim.allowLargeExactScan=true to proceed anyway")
  }

  /** Flops guard for the FULL kNN-graph scan (every vector is a query:
    * Q = N, so the cost is the true quadratic N²·dim). Same cap and
    * escape hatch as [[guardExactScan]]; past the cap the graph must
    * come from ANN candidate generation, not brute force. */
  private def guardExactScanFull(s: SparkSession, d: String): Unit = {
    val n = corpusCount(s, d)
    val flops = n.toDouble * n.toDouble * dim
    val cap = s.conf.get("spark.graft.sim.exactScanMaxFlops",
      ExactScanMaxFlops.toString).toDouble
    val allow = s.conf.get("spark.graft.sim.allowLargeExactScan",
      "false").toBoolean
    if (flops > cap && !allow)
      throw new IllegalStateException(
        f"exact kNN-graph scan of |N|²=$n² ($flops%.2e flops) exceeds " +
          f"spark.graft.sim.exactScanMaxFlops=$cap%.2e — build the graph " +
          "from ANN candidates (sim_ann_ivfpq / sim_ann_lsh) at this " +
          "scale, or set spark.graft.sim.allowLargeExactScan=true")
  }

  // ----- exact-integer PCA (power iteration + Hotelling deflation) --------
  // The whitening companion to sim_covariance_exact: top-k principal
  // directions of the milli-unit scatter matrix, solved ON THE DRIVER
  // (the scatter is a d×d = 64×64 artifact, bounded like the trained
  // codebooks, whatever the corpus size) and projected DISTRIBUTED as a
  // broadcast-literal dot product. Everything both engines must agree
  // on is integer arithmetic with explicit truncation: the scatter is
  // exact BIGINT sums, the matrix is rescaled to ≤ 2^30 by its own max
  // entry, the power iterate is renormalized to ≤ 2^20 by its max
  // component each step (fixed 40 steps — no convergence test, so the
  // iterate is a deterministic function of the data on any engine),
  // and deflation subtracts the truncated Hotelling rank-1 term. The
  // DuckDB oracle replays the identical recursion as a recursive CTE
  // over HUGEINTs (the ADPCM idiom, lifted from scalar state to a
  // 64-vector), so a hash match proves the distributed scatter, the
  // driver eigensolve, and the projection all reproduce exactly.

  private val PcaIters = 40
  private val PcaScaleV = BigInt(1048576L)      // 2^20 iterate scale
  private val PcaScaleS = BigInt(1073741824L)   // 2^30 matrix scale

  /** (n, per-dim sums, d×d product sums) of the milli-unit matrix —
    * ONE narrow pass, d²-bounded output, memoized per dataset in its
    * own [[graft.Memo]] family ("sim_pca"), so a bench rep can drop it
    * alone, leaving the query block and the IVF-PQ codes cache warm.
    * Long accumulators are exact to ~2.5e13 rows (|m| ≤ ~600 here,
    * products ≤ 3.6e5); past that the partials would widen to BigInt. */
  private def pcaStats(s: SparkSession, d: String)
      : (Long, Array[Long], Array[Long]) =
    graft.Memo.value(s, "sim_pca", "pca_stats", d,
        s"$d/embeddings.parquet") {
      import s.implicits._
      Tables.embeddings(s, d).select($"embedding").as[Array[Float]]
        .mapPartitions { it =>
          val sums = new Array[Long](dim)
          val prods = new Array[Long](dim * dim)
          var n = 0L
          val m = new Array[Long](dim)
          it.foreach { e =>
            require(e.length == dim, s"embedding dim ${e.length} != $dim")
            var i = 0
            while (i < dim) {
              m(i) = math.floor(e(i).toDouble * 1000).toLong
              i += 1
            }
            n += 1
            i = 0
            while (i < dim) {
              sums(i) += m(i)
              var j = 0
              while (j < dim) { prods(i * dim + j) += m(i) * m(j); j += 1 }
              i += 1
            }
          }
          Iterator.single((n, sums, prods))
        }
        .reduce { (a, b) =>
          var i = 0
          while (i < dim) { a._2(i) += b._2(i); i += 1 }
          i = 0
          while (i < dim * dim) { a._3(i) += b._3(i); i += 1 }
          (a._1 + b._1, a._2, a._3)
        }
    }

  /** Top-k principal directions + the floored per-dim milli-unit mean.
    * Components are scaled-integer vectors (max |component| = 2^20);
    * the caller projects centered milli-units onto them. Every op is
    * BigInt with truncating division — bit-reproducible anywhere. */
  private[graft] def pcaComponents(s: SparkSession, d: String, k: Int)
      : (Array[Long], Seq[Array[Long]]) = {
    require(k >= 1 && k <= dim)
    val (n, sums, prods) = pcaStats(s, d)
    def matvec(a: Array[Array[BigInt]], v: Array[BigInt]): Array[BigInt] =
      Array.tabulate(dim) { i =>
        var acc = BigInt(0)
        var j = 0
        while (j < dim) { acc += a(i)(j) * v(j); j += 1 }
        acc
      }
    def dot(a: Array[BigInt], b: Array[BigInt]): BigInt =
      (0 until dim).foldLeft(BigInt(0))((acc, i) => acc + a(i) * b(i))
    val scat = Array.tabulate(dim, dim)((i, j) =>
      BigInt(n) * BigInt(prods(i * dim + j)) -
        BigInt(sums(i)) * BigInt(sums(j)))
    val mval = scat.map(_.map(_.abs).max).max.max(BigInt(1))
    // BigInt / truncates toward zero — DuckDB's integer `//` semantic
    var cur = scat.map(_.map(v => v * PcaScaleS / mval))
    val comps = Seq.newBuilder[Array[Long]]
    for (_ <- 0 until k) {
      var v = Array.fill(dim)(PcaScaleV)
      for (_ <- 0 until PcaIters) {
        val w = matvec(cur, v)
        val mw = w.max.max(-w.min).max(BigInt(1))
        v = w.map(x => x * PcaScaleV / mw)
      }
      comps += v.map(_.toLong)
      val w1 = matvec(cur, v)
      val num = dot(w1, v)
      val den = dot(v, v)
      cur = Array.tabulate(dim, dim)((i, j) =>
        cur(i)(j) - num * v(i) * v(j) / (den * den))
    }
    (sums.map(si => (BigInt(si) / BigInt(n)).toLong), comps.result())
  }

  /** The blocked exact cosine top-k kernel behind sim_cosine_topk_blocked,
    * parameterized by query-tile size. The memoized query block is split
    * into ceil(|Q|/tileSize) tiles; each tile broadcasts independently
    * and scores the corpus in its own mapPartitions pass, so per-task
    * memory is ONE tile's packed arrays + its Q_tile×k buffers however
    * large the full query set grows (the round-6 verdict's scale gap: a
    * query block outgrowing executor memory now tiles instead of
    * failing). Tiles partition the qid space, so the per-tile partials
    * union into the SAME TopKByScore merge untiled uses — every tile
    * scores exactly the pairs the single-block kernel scored, with the
    * identical sequential double fold, making the result bit-identical
    * for ANY tile size (TiledKernelSpec forces tileSize=3 and 1).
    * Cost model: T tiles = T passes over the corpus — the standard
    * out-of-core blocked-matmul trade (flops unchanged, reads ×T);
    * callers pick tileSize = what fits, Int.MaxValue = one pass. */
  private[graft] def blockedCosineTopK(s: SparkSession, d: String,
      k: Int = 5, tileSize: Int = Int.MaxValue): DataFrame = {
    import s.implicits._
    guardExactScan(s, d) // fail fast BEFORE collecting the query block
    // NOT spread (round-18 A/B, same result as sim_cosine_topk's):
    // the blocked kernel's single-task 0.18 s beat the spread 32-task
    // version once exchange + per-task overhead were paid. Reverted.
    val emb = Tables.embeddings(s, d)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])]
    def selfNorm(v: Array[Float]): Double = {
      var acc = 0.0
      var i = 0
      while (i < v.length) { val x = v(i).toDouble; acc += x * x; i += 1 }
      math.sqrt(acc)
    }
    // the collected query block is a bounded driver artifact — |Q| ≤
    // MaxQueryBlock (a CONSTANT, O(K) at any corpus size; the id-range
    // cap keeps it from growing with N) — memoized per dataset like
    // the trained codebooks
    val qRows = memoized(s, "query_block", d)(
      emb.filter(r => r._1 % 50 == 0 && r._1 < QueryIdCap)
        .collect().sortBy(_._1))
    if (qRows.isEmpty)
      // no query vectors -> empty result (grouped() yields no tiles, and
      // reduce over zero tiles would throw instead)
      return emb.sparkSession.emptyDataset[(Long, Long, Double)]
        .toDF("qid", "cid", "cos")
        .select($"qid", $"cid", $"cos", lit(1).as("rn"))
        .limit(0)
    // multi-tile runs materialize each tile's partials eagerly
    // (localCheckpoint truncates the lineage, keeping the union plan
    // flat in tile count) and DESTROY the tile's broadcast immediately —
    // otherwise a small tileSize over a large query block accumulates
    // T live broadcasts until the ContextCleaner eventually GCs them.
    // The partials are tiny (<= |tile|·k rows); single-tile runs (the
    // default) keep the lazy plan and let the one broadcast die with it.
    val multiTile = qRows.length > tileSize
    val tilePartials = qRows.grouped(tileSize).map { tile =>
      val bcQ = s.sparkContext.broadcast(
        (tile.map(_._1), tile.map(_._2), tile.map(r => selfNorm(r._2))))
      val part = emb.mapPartitions { rows =>
        val (ids, vecs, norms) = bcQ.value
        val nq = ids.length
        val bufId = Array.ofDim[Long](nq, k)
        val bufScore = Array.ofDim[Double](nq, k)
        val bufLen = new Array[Int](nq)
        // strict (score desc, id asc) — TopKByScore.better verbatim,
        // Double.compare giving Spark's SortOrder total order
        def better(s1: Double, i1: Long, s2: Double, i2: Long): Boolean = {
          val c = java.lang.Double.compare(s1, s2)
          c > 0 || (c == 0 && i1 < i2)
        }
        def insert(q: Int, cos: Double, cid: Long): Unit = {
          val len = bufLen(q)
          val sc = bufScore(q)
          val id = bufId(q)
          if (len < k) {
            var p = len
            while (p > 0 && better(cos, cid, sc(p - 1), id(p - 1))) {
              sc(p) = sc(p - 1); id(p) = id(p - 1); p -= 1
            }
            sc(p) = cos; id(p) = cid; bufLen(q) = len + 1
          } else if (better(cos, cid, sc(k - 1), id(k - 1))) {
            var p = k - 1
            while (p > 0 && better(cos, cid, sc(p - 1), id(p - 1))) {
              sc(p) = sc(p - 1); id(p) = id(p - 1); p -= 1
            }
            sc(p) = cos; id(p) = cid
          }
        }
        rows.foreach { case (cid, ce) =>
          val cn = selfNorm(ce)
          var q = 0
          while (q < nq) {
            if (ids(q) != cid) {
              val qe = vecs(q)
              var acc = 0.0
              var i = 0
              while (i < qe.length) {
                acc += qe(i).toDouble * ce(i).toDouble; i += 1
              }
              insert(q, acc / (norms(q) * cn), cid)
            }
            q += 1
          }
        }
        (0 until nq).iterator.flatMap { q =>
          (0 until bufLen(q)).iterator
            .map(p => (ids(q), bufId(q)(p), bufScore(q)(p)))
        }
      }.toDF("qid", "cid", "cos")
      if (multiTile) {
        val cp = part.localCheckpoint(true)
        bcQ.destroy()
        cp
      } else part
    }.reduce(_ union _)
    val topk = udaf(new graft.functions.TopKByScore(k))
    tilePartials.groupBy($"qid")
      .agg(topk($"cid", $"cos").as("tk"))
      .select($"qid", posexplode($"tk"))
      .select($"qid", $"col.id".as("cid"), $"col.score".as("cos"),
        ($"pos" + 1).cast("int").as("rn"))
  }

  /** The IVF-PQ oracle chain split into CTEs + final select so the ANN
    * query's oracle and the recall-eval oracle share one derivation
    * verbatim (they cannot drift on the index math). */
  private lazy val ivfpqOracleCtes: String = s"""${Clustering.kmeansCtes},
        cents AS (
          SELECT CAST(cid AS INT) AS pl, c FROM ${Clustering.finalCentsCte}),
        asg AS (
          SELECT vec_id, v, cl, r, arank FROM (
            SELECT f.vec_id, f.v, cents.pl AS cl,
              [f.v[i] - cents.c[i]
               FOR i IN generate_series(1, len(f.v))] AS r,
              ROW_NUMBER() OVER (PARTITION BY f.vec_id ORDER BY
                list_sum([(f.v[i] - cents.c[i]) * (f.v[i] - cents.c[i])
                          FOR i IN generate_series(1, len(f.v))]) ASC,
                cents.pl ASC) AS arank
            FROM fin f, cents) WHERE arank <= $IvfA),
        subr AS (
          SELECT vec_id, m, list_slice(r, m*4+1, m*4+4) AS sub
          FROM (SELECT vec_id, r FROM asg WHERE arank = 1) pri,
            (SELECT unnest(generate_series(0, ${PqM - 1})) AS m)),
        ${pqTrainCtes("subr", "rp")},
        cb AS (SELECT m, code, c AS sub FROM rpcb$PqIters),
        enc AS (
          SELECT vec_id, cl, m, code FROM (
            SELECT a.vec_id, a.cl, cb.m, cb.code,
              ROW_NUMBER() OVER (PARTITION BY a.vec_id, a.cl, cb.m ORDER BY
                list_sum([(r[cb.m*4+i] - sub[i]) * (r[cb.m*4+i] - sub[i])
                          FOR i IN generate_series(1, 4)]) ASC,
                cb.code ASC) AS rn
            FROM asg a, cb) WHERE rn = 1),
        codes AS (
          SELECT vec_id, cl, list(code ORDER BY m) AS codes FROM enc
          GROUP BY 1, 2),
        q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 50 = 0 AND vec_id < 102400),
        probes AS (
          SELECT qid, pl,
            [qv[i] - c[i] FOR i IN generate_series(1, len(qv))] AS qr
          FROM (
            SELECT q.qid, q.qv, cents.pl, cents.c,
              ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                list_sum([(qv[i] - c[i]) * (qv[i] - c[i])
                          FOR i IN generate_series(1, len(qv))]) ASC,
                cents.pl ASC) AS pr
            FROM q, cents) WHERE pr <= 4),
        lut AS (
          SELECT qid, pl, list(sd ORDER BY m, code) AS lut FROM (
            SELECT p.qid, p.pl, cb.m, cb.code,
              list_sum([(qr[cb.m*4+i] - sub[i]) * (qr[cb.m*4+i] - sub[i])
                        FOR i IN generate_series(1, 4)]) AS sd
            FROM probes p, cb) GROUP BY 1, 2),
        short AS (
          SELECT qid, cid FROM (
            SELECT qid, cid,
              ROW_NUMBER() OVER (PARTITION BY qid
                ORDER BY adist ASC, cid ASC) AS sr
            FROM (
              SELECT l.qid, c.vec_id AS cid,
                MIN(list_sum([lut[m * 32 + codes[m + 1] + 1]
                              FOR m IN generate_series(0, 15)])) AS adist
              FROM lut l JOIN codes c ON c.cl = l.pl
              WHERE c.vec_id <> l.qid GROUP BY 1, 2))
          WHERE sr <= 50)"""

  private lazy val ivfpqOracleFinal: String = """SELECT qid, cid, sqdist, rn FROM (
          SELECT qid, cid, sqdist,
            CAST(ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY sqdist ASC, cid ASC) AS INT) AS rn
          FROM (
            SELECT qid, cid,
              list_sum([(qv[i] - v[i]) * (qv[i] - v[i])
                        FOR i IN generate_series(1, len(qv))]) AS sqdist
            FROM short JOIN q USING (qid)
            JOIN e ON e.vec_id = short.cid))
        WHERE rn <= 5"""

  val defs: Seq[Q] = Seq(

    // ----- exact brute-force cosine top-k ---------------------------------
    // The Q×N pair set is scored in a narrow map over the corpus (queries
    // broadcast) and reduced by the TopKByScore aggregator with map-side
    // partial aggregation — at most k rows per query per task reach the
    // exchange, so the full pair set NEVER shuffles (the window-rank
    // formulation this replaced shuffled every scored pair into a
    // per-qid sort; PlanLintSpec pins the window's absence).
    Q("sim_cosine_topk",
      (s, d) => {
        import s.implicits._
        guardExactScan(s, d) // size-routed: past the flops cap this plan
                             // must not launch (use the trained ANN family)
        val emb = Tables.embeddings(s, d).select($"vec_id", $"embedding")
        // norms precomputed per side BELOW the join: norm(ce) in the
        // pair-level projection would recompute the corpus-vector norm
        // once per query (Q× redundant flops + sqrt); hoisting is
        // bit-identical (same ops, same order — norm then multiply)
        val queries = emb
          .filter($"vec_id" % 50 === 0 && $"vec_id" < QueryIdCap)
          .select($"vec_id".as("qid"), $"embedding".as("qe"))
          .withColumn("qn", norm("qe"))
        // NOT spread (round-18 A/B): wrapping the corpus side in
        // Spread.byKey made the kernel stage 32 tasks but SLOWER
        // (stage wall 0.18 s -> 0.25-0.29 s — per-task overhead and the
        // exchange exceed the 0.18 s single-task compute at sf0.1, and
        // at scale the scan is already wide). Measured and reverted.
        val corpus = emb.select($"vec_id".as("cid"), $"embedding".as("ce"))
          .withColumn("cn", norm("ce"))
        val topk = udaf(new graft.functions.TopKByScore(5))
        broadcast(queries).join(corpus, $"qid" =!= $"cid")
          .select($"qid", $"cid",
            (dot("qe", "ce") / ($"qn" * $"cn")).as("cos"))
          .groupBy($"qid")
          .agg(topk($"cid", $"cos").as("tk"))
          .select($"qid", posexplode($"tk"))
          .select($"qid", $"col.id".as("cid"), $"col.score".as("cos"),
            ($"pos" + 1).cast("int").as("rn"))
      },
      Some("""WITH e AS (
          SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS emb
          FROM embeddings),
        q AS (SELECT vec_id AS qid, emb AS qe FROM e
              WHERE vec_id % 50 = 0 AND vec_id < 102400),
        pairs AS (
          SELECT qid, e.vec_id AS cid,
            list_sum([qe[i] * emb[i] FOR i IN generate_series(1, len(qe))])
              / (sqrt(list_sum([x * x FOR x IN qe])) *
                 sqrt(list_sum([x * x FOR x IN emb]))) AS cos
          FROM q JOIN e ON e.vec_id <> qid)
        SELECT qid, cid, cos, rn FROM (
          SELECT qid, cid, cos,
            CAST(ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY cos DESC, cid ASC) AS INT) AS rn
          FROM pairs) WHERE rn <= 5"""),
      headline = true),

    // ----- exact cosine top-k, blocked partition-local kernel -------------
    // Same result as sim_cosine_topk, different physical strategy: the
    // bounded query set is collected and broadcast as packed primitive
    // arrays, and each corpus partition is scored by ONE tight
    // mapPartitions loop holding a per-query bounded top-k buffer
    // (score desc, id asc — TopKByScore's exact ordering). The Q×N pair
    // rows are never materialized: only Q×k rows leave each task, and
    // the TopKByScore merge is unchanged. The honest O(|Q|·N) flops of
    // exact search remain, but the query matrix stays hot in cache —
    // the blocked exact-scan shape an IVF probe uses within a list.
    // Scale contract: the query block must fit in executor memory as
    // ONE tile; a larger query set tiles the kernel over query chunks
    // (see [[blockedCosineTopK]] — bit-identical at any tile size).
    // Float determinism: the dot is the identical sequential left fold
    // in double that VecDot generates, norms hoisted per side exactly
    // as above — every score is bit-identical to sim_cosine_topk and
    // the two queries share one DuckDB oracle.
    Q("sim_cosine_topk_blocked",
      (s, d) => blockedCosineTopK(s, d),
      Some("""WITH e AS (
          SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS emb
          FROM embeddings),
        q AS (SELECT vec_id AS qid, emb AS qe FROM e
              WHERE vec_id % 50 = 0 AND vec_id < 102400),
        pairs AS (
          SELECT qid, e.vec_id AS cid,
            list_sum([qe[i] * emb[i] FOR i IN generate_series(1, len(qe))])
              / (sqrt(list_sum([x * x FOR x IN qe])) *
                 sqrt(list_sum([x * x FOR x IN emb]))) AS cos
          FROM q JOIN e ON e.vec_id <> qid)
        SELECT qid, cid, cos, rn FROM (
          SELECT qid, cid, cos,
            CAST(ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY cos DESC, cid ASC) AS INT) AS rn
          FROM pairs) WHERE rn <= 5""")),

    // ----- k-NN graph construction (mutual-neighbor edges) ----------------
    // The graph the embedding-side curation family sits on: every
    // vector's top-3 cosine neighbors as directed edges, each flagged
    // `mutual` when the neighbor reciprocates in ITS OWN top-3 — the
    // mutual-kNN graph is the standard substrate for density-aware
    // pruning and graph clustering over embeddings (SemDeDup-adjacent).
    // Same TopKByScore shape as sim_cosine_topk but with Q = N, so the
    // flops guard uses the true quadratic cost (guardExactScanFull);
    // past the cap the edges must come from ANN candidates instead.
    // The reciprocity pass is ONE self-join of the k·N edge list on the
    // reversed (src, dst) key — k-bounded rows, never the pair matrix.
    // Scores ride the same sequential-double-fold dot as the cosine
    // family, so the DuckDB oracle hash-matches bit-exact.
    Q("sim_knn_graph",
      (s, d) => {
        import s.implicits._
        guardExactScanFull(s, d)
        val emb = Tables.embeddings(s, d).select($"vec_id", $"embedding")
        val l = emb.select($"vec_id".as("src"), $"embedding".as("qe"))
          .withColumn("qn", norm("qe"))
        val r = emb.select($"vec_id".as("dst"), $"embedding".as("ce"))
          .withColumn("cn", norm("ce"))
        val topk = udaf(new graft.functions.TopKByScore(3))
        val edges = broadcast(l).join(r, $"src" =!= $"dst")
          .select($"src", $"dst",
            (dot("qe", "ce") / ($"qn" * $"cn")).as("cos"))
          .groupBy($"src")
          .agg(topk($"dst", $"cos").as("tk"))
          .select($"src", posexplode($"tk"))
          .select($"src", $"col.id".as("dst"), $"col.score".as("cos"),
            ($"pos" + 1).cast("int").as("rn"))
        val back = edges.select($"src".as("dst"), $"dst".as("src"))
          .withColumn("back_flag", lit(true))
        edges.join(back, Seq("src", "dst"), "left")
          .select($"src", $"dst", $"cos", $"rn",
            coalesce($"back_flag", lit(false)).as("mutual"))
      },
      Some("""WITH e AS (
          SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS emb
          FROM embeddings),
        pairs AS (
          SELECT l.vec_id AS src, r.vec_id AS dst,
            list_sum([le[i] * re[i] FOR i IN generate_series(1, len(le))])
              / (sqrt(list_sum([x * x FOR x IN le])) *
                 sqrt(list_sum([x * x FOR x IN re]))) AS cos
          FROM (SELECT vec_id, emb AS le FROM e) l
          JOIN (SELECT vec_id, emb AS re FROM e) r
            ON l.vec_id <> r.vec_id),
        edges AS (
          SELECT src, dst, cos,
            CAST(ROW_NUMBER() OVER (PARTITION BY src
              ORDER BY cos DESC, dst ASC) AS INT) AS rn
          FROM pairs QUALIFY rn <= 3)
        SELECT e1.src, e1.dst, e1.cos, e1.rn,
          COALESCE(e2.m, false) AS mutual
        FROM edges e1
        LEFT JOIN (SELECT src, dst, true AS m FROM edges) e2
          ON e2.src = e1.dst AND e2.dst = e1.src""")),

    // ----- embedding near-duplicate pairs (cosine threshold) --------------
    Q("sim_near_dup_pairs",
      (s, d) => {
        import s.implicits._
        val emb = Tables.embeddings(s, d)
          .filter($"vec_id" < 2000)
          .select($"vec_id", $"embedding")
        val a = emb.select($"vec_id".as("v1"), $"embedding".as("e1"))
          .withColumn("n1", norm("e1"))
        val b = emb.select($"vec_id".as("v2"), $"embedding".as("e2"))
          .withColumn("n2", norm("e2"))
        a.join(b, $"v1" < $"v2")
          .select($"v1", $"v2",
            (dot("e1", "e2") / ($"n1" * $"n2")).as("cos"))
          .filter($"cos" > 0.35)
      },
      Some("""WITH e AS (
          SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS emb
          FROM embeddings WHERE vec_id < 2000)
        SELECT a.vec_id AS v1, b.vec_id AS v2,
          list_sum([ae[i] * be[i] FOR i IN generate_series(1, len(ae))])
            / (sqrt(list_sum([x * x FOR x IN ae])) *
               sqrt(list_sum([x * x FOR x IN be]))) AS cos
        FROM (SELECT vec_id, emb AS ae FROM e) a
        JOIN (SELECT vec_id, emb AS be FROM e) b ON a.vec_id < b.vec_id
        WHERE list_sum([ae[i] * be[i] FOR i IN generate_series(1, len(ae))])
            / (sqrt(list_sum([x * x FOR x IN ae])) *
               sqrt(list_sum([x * x FOR x IN be]))) > 0.35""")),

    // ----- density screen (DBSCAN-style core/border/noise labeling) -------
    // The density-based quality screen a curation pipeline runs over an
    // embedding column (Ester et al. 1996's labeling, cosine metric):
    // a vector with >= minPts neighbors above the eps similarity is a
    // CORE point (dense region — keep), a non-core vector adjacent to a
    // core is BORDER (cluster fringe), everything else is NOISE (the
    // low-density outliers that are disproportionately mislabeled or
    // junk in web-scale training data — the complement of
    // sim_centroid_outliers' global-distance view). Exact neighbor
    // counts via the sequential-double-fold cosine both engines share.
    // Scale shape: pairwise density is a bounded-SAMPLE diagnostic by
    // construction (vec_id < 2000 here; 1-in-M sampling at corpus
    // scale), and the production path swaps the exact pair kernel for
    // the LSH/IVF candidate generation the near-dup family documents —
    // counts become lower bounds, the labeling rule is unchanged.
    Q("sim_density_screen",
      (s, d) => {
        import s.implicits._
        val eps = 0.30
        val minPts = 4
        val emb = Tables.embeddings(s, d).filter($"vec_id" < 2000)
          .select($"vec_id", $"embedding")
        val a = emb.select($"vec_id".as("v1"), $"embedding".as("e1"))
          .withColumn("n1", norm("e1"))
        val b = emb.select($"vec_id".as("v2"), $"embedding".as("e2"))
          .withColumn("n2", norm("e2"))
        // the pair kernel feeds BOTH the count and the border probe —
        // cache it so the quadratic work is paid once
        val nbr = a.join(b, $"v1" =!= $"v2")
          .filter(dot("e1", "e2") / ($"n1" * $"n2") > eps)
          .select($"v1", $"v2")
          .cache()
        try {
          val cnt = nbr.groupBy($"v1").agg(count(lit(1)).as("n_neighbors"))
          val core = cnt.filter($"n_neighbors" >= minPts)
            .select($"v1".as("cid"))
          val hasCoreNbr = nbr
            .join(core, nbr("v2") === core("cid"), "left_semi")
            .select($"v1").distinct()
            .withColumn("hcn", lit(1))
          emb.select($"vec_id")
            .join(cnt.withColumnRenamed("v1", "vec_id"), Seq("vec_id"),
              "left")
            .na.fill(0L, Seq("n_neighbors"))
            .join(hasCoreNbr.withColumnRenamed("v1", "vec_id"),
              Seq("vec_id"), "left")
            .select($"vec_id", $"n_neighbors",
              when($"n_neighbors" >= minPts, "core")
                .when($"hcn".isNotNull, "border")
                .otherwise("noise").as("label"))
            // materialize before the finally-unpersist pulls the rug
            .localCheckpoint()
        } finally nbr.unpersist()
      },
      Some("""WITH e AS (
          SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS emb
          FROM embeddings WHERE vec_id < 2000),
        nbr AS (
          SELECT a.vec_id AS v1, b.vec_id AS v2
          FROM (SELECT vec_id, emb AS ae FROM e) a
          JOIN (SELECT vec_id, emb AS be FROM e) b ON a.vec_id <> b.vec_id
          WHERE list_sum([ae[i] * be[i]
                FOR i IN generate_series(1, len(ae))])
              / (sqrt(list_sum([x * x FOR x IN ae])) *
                 sqrt(list_sum([x * x FOR x IN be]))) > 0.30),
        cnt AS (SELECT v1, COUNT(*) AS n FROM nbr GROUP BY 1),
        core AS (SELECT v1 FROM cnt WHERE n >= 4),
        hcn AS (SELECT DISTINCT nbr.v1 FROM nbr
                JOIN core ON core.v1 = nbr.v2)
        SELECT e.vec_id,
          CAST(COALESCE(cnt.n, 0) AS BIGINT) AS n_neighbors,
          CASE WHEN COALESCE(cnt.n, 0) >= 4 THEN 'core'
               WHEN hcn.v1 IS NOT NULL THEN 'border'
               ELSE 'noise' END AS label
        FROM e LEFT JOIN cnt ON cnt.v1 = e.vec_id
        LEFT JOIN hcn ON hcn.v1 = e.vec_id""")),

    // ----- pairwise-cosine histogram (embedding QA diagnostic) ------------
    // The corpus-geometry check run before trusting an embedding column:
    // a healthy embedding space has a broad similarity distribution; a
    // collapsed encoder (all vectors near-parallel) piles every pair
    // into the top buckets. Buckets are floor(cos * 20) — the same IEEE
    // divide-then-multiply on both engines, so bucket edges are exact.
    // Scale shape: pairwise stats are a bounded-SAMPLE diagnostic by
    // construction (vec_id < 1000 here; 1-in-M sampling at corpus
    // scale) — the pair join is a broadcast nested-loop of the small
    // sample against itself, never the full corpus.
    Q("sim_cosine_histogram",
      (s, d) => {
        import s.implicits._
        val emb = Tables.embeddings(s, d).filter($"vec_id" < 1000)
          .select($"vec_id", $"embedding")
        val a = emb.select($"vec_id".as("v1"), $"embedding".as("e1"))
          .withColumn("n1", norm("e1"))
        val b = emb.select($"vec_id".as("v2"), $"embedding".as("e2"))
          .withColumn("n2", norm("e2"))
        a.join(b, $"v1" < $"v2")
          .select(floor(dot("e1", "e2") / ($"n1" * $"n2") * 20)
            .cast("int").as("bucket"))
          .groupBy($"bucket").agg(count(lit(1)).as("n"))
      },
      Some("""WITH e AS (
          SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS emb
          FROM embeddings WHERE vec_id < 1000)
        SELECT CAST(floor(
            list_sum([ae[i] * be[i] FOR i IN generate_series(1, len(ae))])
              / (sqrt(list_sum([x * x FOR x IN ae])) *
                 sqrt(list_sum([x * x FOR x IN be]))) * 20) AS INT) AS bucket,
          COUNT(*) AS n
        FROM (SELECT vec_id, emb AS ae FROM e) a
        JOIN (SELECT vec_id, emb AS be FROM e) b ON a.vec_id < b.vec_id
        GROUP BY 1""")),

    // ----- int8 quantization (training-pipeline compression) -------------
    // Symmetric per-vector quantization: q = floor(x / max_abs * 127 + .5).
    // Output exploded to (vec_id, pos, q) rows so the oracle hash-compares
    // scalars, not arrays. All math is exact-deterministic: abs/max are
    // order-free, the divide+floor is a fixed double expression.
    Q("sim_quantize_int8",
      (s, d) => {
        import s.implicits._
        Tables.embeddings(s, d)
          .select($"vec_id", $"embedding",
            expr("aggregate(embedding, CAST(0.0 AS DOUBLE), (acc, x) -> greatest(acc, abs(CAST(x AS DOUBLE))))")
              .as("max_abs"))
          .select($"vec_id", $"max_abs",
            posexplode(expr(
              "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) / max_abs * 127.0 + 0.5) AS INT))")))
          .select($"vec_id", $"pos", $"col".as("q"),
            round($"max_abs", 6).as("scale_r"))
      },
      Some("""SELECT vec_id, CAST(i - 1 AS INT) AS pos,
          CAST(floor(CAST(embedding[i] AS DOUBLE) / m * 127.0 + 0.5) AS INT) AS q,
          round(m, 6) AS scale_r
        FROM (SELECT vec_id, embedding,
                list_max([abs(CAST(x AS DOUBLE)) FOR x IN embedding]) AS m
              FROM embeddings),
          LATERAL (SELECT UNNEST(generate_series(1, len(embedding))) AS i) t""")),

    // ----- LSH bucketing: 16 hyperplane sign bits per vector --------------
    Q("sim_lsh_buckets",
      (s, d) => {
        import s.implicits._
        val planes: Seq[(Int, Seq[Double])] =
          (0 until nPlanes).map(j => j -> (0 until dim).map(planeWeight(j, _)))
        val planeDf = planes.toDF("plane", "w")
        val emb = Tables.embeddings(s, d).select($"vec_id", $"embedding")
        emb.crossJoin(broadcast(planeDf))
          .select($"vec_id", $"plane", dot("embedding", "w").as("dp"))
          .groupBy($"vec_id")
          .agg(sum(when($"dp" > 0.0, expr("shiftleft(CAST(1 AS BIGINT), plane)"))
            .otherwise(0L)).as("bucket"))
      },
      Some("""WITH planes AS (
          SELECT j AS plane,
            [(CAST('0x' || substr(md5(j || ':' || (i-1)), 1, 8) AS BIGINT)
              % 2000001 - 1000000) / 1000000.0
             FOR i IN generate_series(1, 64)] AS w
          FROM generate_series(0, 15) t(j)),
        dots AS (
          SELECT vec_id, plane,
            list_sum([CAST(embedding[i] AS DOUBLE) * w[i]
                      FOR i IN generate_series(1, len(w))]) AS dp
          FROM embeddings, planes)
        SELECT vec_id,
          CAST(SUM(CASE WHEN dp > 0.0 THEN (CAST(1 AS BIGINT) << plane)
              ELSE 0 END) AS BIGINT) AS bucket
        FROM dots GROUP BY vec_id""")),

    // ----- ANN via LSH: bucket-join candidates + exact rerank -------------
    Q("sim_ann_lsh",
      (s, d) => {
        import s.implicits._
        val planes: Seq[(Int, Seq[Double])] =
          (0 until 8).map(j => j -> (0 until dim).map(planeWeight(j, _)))
        val planeDf = planes.toDF("plane", "w")
        val emb = Tables.embeddings(s, d).select($"vec_id", $"embedding")
        val buckets = emb.crossJoin(broadcast(planeDf))
          .select($"vec_id", $"plane", dot("embedding", "w").as("dp"))
          .groupBy($"vec_id")
          .agg(sum(when($"dp" > 0.0, expr("shiftleft(CAST(1 AS BIGINT), plane)"))
            .otherwise(0L)).as("bucket"))
          .cache() // consumed twice (query + candidate sides)
        val withB = emb.join(buckets, "vec_id")
        val q = withB.filter($"vec_id" % 50 === 0 && $"vec_id" < QueryIdCap)
          .select($"vec_id".as("qid"), $"embedding".as("qe"),
            $"bucket".as("qb"))
          .withColumn("qn", norm("qe"))
        val c = withB.select($"vec_id".as("cid"), $"embedding".as("ce"),
          $"bucket".as("cb"))
          .withColumn("cn", norm("ce"))
        // per-partition top-k aggregation (TopKByScore): candidate scores
        // reduce map-side; no per-qid window sort of the candidate set
        val topk = udaf(new graft.functions.TopKByScore(5))
        broadcast(q).join(c, $"qb" === $"cb" && $"qid" =!= $"cid")
          .select($"qid", $"cid",
            (dot("qe", "ce") / ($"qn" * $"cn")).as("cos"))
          .groupBy($"qid").agg(topk($"cid", $"cos").as("tk"))
          .select($"qid", posexplode($"tk"))
          .select($"qid", $"col.id".as("cid"), $"col.score".as("cos"),
            ($"pos" + 1).cast("int").as("rn"))
      },
      Some("""WITH planes AS (
          SELECT j AS plane,
            [(CAST('0x' || substr(md5(j || ':' || (i-1)), 1, 8) AS BIGINT)
              % 2000001 - 1000000) / 1000000.0
             FOR i IN generate_series(1, 64)] AS w
          FROM generate_series(0, 7) t(j)),
        e AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS emb
              FROM embeddings),
        dots AS (
          SELECT vec_id, plane,
            list_sum([emb[i] * w[i] FOR i IN generate_series(1, len(w))]) AS dp
          FROM e, planes),
        buckets AS (
          SELECT vec_id,
            SUM(CASE WHEN dp > 0.0 THEN (CAST(1 AS BIGINT) << plane)
                ELSE 0 END) AS bucket
          FROM dots GROUP BY vec_id),
        wb AS (SELECT e.vec_id, emb, bucket FROM e
               JOIN buckets ON e.vec_id = buckets.vec_id),
        cand AS (
          SELECT q.vec_id AS qid, c.vec_id AS cid,
            list_sum([qe[i] * ce[i] FOR i IN generate_series(1, len(qe))])
              / (sqrt(list_sum([x * x FOR x IN qe])) *
                 sqrt(list_sum([x * x FOR x IN ce]))) AS cos
          FROM (SELECT vec_id, emb AS qe, bucket FROM wb
                WHERE vec_id % 50 = 0 AND vec_id < 102400) q
          JOIN (SELECT vec_id, emb AS ce, bucket FROM wb) c
            ON q.bucket = c.bucket AND q.vec_id <> c.vec_id)
        SELECT qid, cid, cos, rn FROM (
          SELECT qid, cid, cos,
            CAST(ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY cos DESC, cid ASC) AS INT) AS rn
          FROM cand) WHERE rn <= 5""")),

    // ----- filtered ANN: metadata predicate inside the bucket probe ------
    // The production retrieval shape ("nearest neighbors WHERE
    // lang = X / source = Y / label ∈ S"): the predicate applies to the
    // CANDIDATE side only — queries stay unrestricted — and it applies
    // BEFORE the distance computation, not after the top-k (post-
    // filtering a k-list truncates recall whenever fewer than k
    // survivors remain; pre-filtering keeps the k guarantee among the
    // eligible set). Here the filter lands on the bucketed candidate
    // relation ahead of the join, so ineligible vectors never reach
    // the dot-product kernel OR the shuffle — at 100 TB that is the
    // difference between scoring 30 % of the corpus and scoring all of
    // it and throwing 70 % away. Known limit (documented, inherent to
    // single-index pre-filtering): a very selective predicate thins
    // buckets until candidate lists run dry — the remedies are more
    // probes (band OR-ing) or per-partition indexes keyed by the hot
    // filter column, the same trade every filtered-ANN system ships.
    Q("sim_ann_lsh_filtered",
      (s, d) => {
        import s.implicits._
        val planes: Seq[(Int, Seq[Double])] =
          (0 until 8).map(j => j -> (0 until dim).map(planeWeight(j, _)))
        val planeDf = planes.toDF("plane", "w")
        val emb = Tables.embeddings(s, d)
          .select($"vec_id", $"embedding", $"label")
        val buckets = emb.crossJoin(broadcast(planeDf))
          .select($"vec_id", $"plane", dot("embedding", "w").as("dp"))
          .groupBy($"vec_id")
          .agg(sum(when($"dp" > 0.0,
            expr("shiftleft(CAST(1 AS BIGINT), plane)"))
            .otherwise(0L)).as("bucket"))
        val withB = emb.join(buckets, "vec_id")
        val q = withB.filter($"vec_id" % 50 === 0 && $"vec_id" < QueryIdCap)
          .select($"vec_id".as("qid"), $"embedding".as("qe"),
            $"bucket".as("qb"))
          .withColumn("qn", norm("qe"))
        // the predicate: BEFORE bucket join and distance kernel
        val c = withB.filter($"label" % 3 === 1)
          .select($"vec_id".as("cid"), $"embedding".as("ce"),
            $"bucket".as("cb"))
          .withColumn("cn", norm("ce"))
        val topk = udaf(new graft.functions.TopKByScore(5))
        broadcast(q).join(c, $"qb" === $"cb" && $"qid" =!= $"cid")
          .select($"qid", $"cid",
            (dot("qe", "ce") / ($"qn" * $"cn")).as("cos"))
          .groupBy($"qid").agg(topk($"cid", $"cos").as("tk"))
          .select($"qid", posexplode($"tk"))
          .select($"qid", $"col.id".as("cid"), $"col.score".as("cos"),
            ($"pos" + 1).cast("int").as("rn"))
      },
      Some("""WITH planes AS (
          SELECT j AS plane,
            [(CAST('0x' || substr(md5(j || ':' || (i-1)), 1, 8) AS BIGINT)
              % 2000001 - 1000000) / 1000000.0
             FOR i IN generate_series(1, 64)] AS w
          FROM generate_series(0, 7) t(j)),
        e AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS emb,
                label
              FROM embeddings),
        dots AS (
          SELECT vec_id, plane,
            list_sum([emb[i] * w[i] FOR i IN generate_series(1, len(w))]) AS dp
          FROM e, planes),
        buckets AS (
          SELECT vec_id,
            SUM(CASE WHEN dp > 0.0 THEN (CAST(1 AS BIGINT) << plane)
                ELSE 0 END) AS bucket
          FROM dots GROUP BY vec_id),
        wb AS (SELECT e.vec_id, emb, label, bucket FROM e
               JOIN buckets ON e.vec_id = buckets.vec_id),
        cand AS (
          SELECT q.vec_id AS qid, c.vec_id AS cid,
            list_sum([qe[i] * ce[i] FOR i IN generate_series(1, len(qe))])
              / (sqrt(list_sum([x * x FOR x IN qe])) *
                 sqrt(list_sum([x * x FOR x IN ce]))) AS cos
          FROM (SELECT vec_id, emb AS qe, bucket FROM wb
                WHERE vec_id % 50 = 0 AND vec_id < 102400) q
          JOIN (SELECT vec_id, emb AS ce, bucket FROM wb
                WHERE label % 3 = 1) c
            ON q.bucket = c.bucket AND q.vec_id <> c.vec_id)
        SELECT qid, cid, cos, rn FROM (
          SELECT qid, cid, cos,
            CAST(ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY cos DESC, cid ASC) AS INT) AS rn
          FROM cand) WHERE rn <= 5""")),

    // ----- ANN via IVF-Flat: inverted lists + nprobe probing --------------
    // The other standard ANN scale path (Jegou et al., TPAMI 2011): a
    // coarse quantizer partitions the corpus into nlist inverted lists;
    // a query probes only its nprobe nearest lists and reranks exactly.
    //
    // *** SEED BASELINE — not the production IVF. *** Its coarse
    // quantizer is a raw corpus sample (no Lloyd training), kept
    // deliberately as the ablation twin that shows what training buys:
    // recall@5 ~0.40 here vs ~0.78 for the Lloyd-trained
    // `sim_ann_ivf_kmeans` (Clustering.scala) at the same nprobe budget
    // — SimilaritySpec pins both classes. Route production queries to
    // the trained variant (or sim_ann_ivfpq for the compressed form);
    // this entry exists to keep the untrained/trained gap measured.
    //
    // Scale: the centroid set is tiny and broadcast everywhere; list
    // assignment is one narrow pass + map-side-combined argmax per
    // vector; query-time work is |Q| * (N * nprobe / nlist) instead of
    // |Q| * N, an nlist/nprobe-fold cut of the candidate join.
    Q("sim_ann_ivf_seed_baseline",
      (s, d) => {
        import s.implicits._
        val emb = Tables.embeddings(s, d).select($"vec_id", $"embedding")
        // centroid seed set: id-capped like the query block (an IVF
        // index has a CONSTANT list count; 1/31 of the corpus would
        // scale the broadcast with N). No-op at every test SF.
        val cents = emb.filter($"vec_id" % 31 === 0 &&
            $"vec_id" < 31L * MaxQueryBlock)
          .select($"vec_id".as("list_id"), $"embedding".as("cvec"))
        // inverted lists: nearest centroid per vector (cosine, ties ->
        // lowest list id; -list_id in the struct makes max_by pick it)
        val assign = emb.withColumn("en", norm("embedding"))
          .crossJoin(broadcast(cents.withColumn("cvn", norm("cvec"))))
          .select($"vec_id", $"list_id",
            (dot("embedding", "cvec") / ($"en" * $"cvn")).as("csim"))
          .groupBy($"vec_id")
          .agg(expr("max_by(list_id, struct(csim, -list_id))").as("list_id"))
        val withList = emb.join(assign, "vec_id")
          .withColumn("en", norm("embedding"))
        val queries = emb.filter($"vec_id" % 50 === 0 && $"vec_id" < QueryIdCap)
          .select($"vec_id".as("qid"), $"embedding".as("qe"))
          .withColumn("qn", norm("qe"))
        val wp = Window.partitionBy($"qid").orderBy($"csim".desc, $"list_id".asc)
        val probes = broadcast(queries).crossJoin(broadcast(cents))
          .select($"qid", $"qe", $"qn", $"list_id",
            (dot("qe", "cvec") / (norm("qe") * norm("cvec"))).as("csim"))
          .withColumn("pr", row_number().over(wp))
          .filter($"pr" <= 4) // nprobe = 4
          .select($"qid", $"qe", $"qn", $"list_id")
        val topk = udaf(new graft.functions.TopKByScore(5))
        broadcast(probes).join(withList, Seq("list_id"))
          .filter($"qid" =!= $"vec_id")
          .select($"qid", $"vec_id".as("cid"),
            (dot("qe", "embedding") / ($"qn" * $"en")).as("cos"))
          .groupBy($"qid").agg(topk($"cid", $"cos").as("tk"))
          .select($"qid", posexplode($"tk"))
          .select($"qid", $"col.id".as("cid"), $"col.score".as("cos"),
            ($"pos" + 1).cast("int").as("rn"))
      },
      Some("""WITH e AS (
          SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS emb
          FROM embeddings),
        cents AS (SELECT vec_id AS list_id, emb AS cvec
                  FROM e WHERE vec_id % 31 = 0 AND vec_id < 63488),
        asg AS (
          SELECT vec_id, list_id FROM (
            SELECT e.vec_id, list_id,
              ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                list_sum([emb[i] * cvec[i]
                          FOR i IN generate_series(1, len(emb))])
                  / (sqrt(list_sum([x * x FOR x IN emb])) *
                     sqrt(list_sum([x * x FOR x IN cvec]))) DESC,
                list_id ASC) AS rn
            FROM e, cents) WHERE rn = 1),
        q AS (SELECT vec_id AS qid, emb AS qe FROM e WHERE vec_id % 50 = 0 AND vec_id < 102400),
        probes AS (
          SELECT qid, qe, list_id FROM (
            SELECT qid, qe, list_id,
              ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
                list_sum([qe[i] * cvec[i]
                          FOR i IN generate_series(1, len(qe))])
                  / (sqrt(list_sum([x * x FOR x IN qe])) *
                     sqrt(list_sum([x * x FOR x IN cvec]))) DESC,
                list_id ASC) AS rn
            FROM q, cents) WHERE rn <= 4),
        cand AS (
          SELECT qid, e.vec_id AS cid,
            list_sum([qe[i] * emb[i] FOR i IN generate_series(1, len(qe))])
              / (sqrt(list_sum([x * x FOR x IN qe])) *
                 sqrt(list_sum([x * x FOR x IN emb]))) AS cos
          FROM probes JOIN asg ON probes.list_id = asg.list_id
          JOIN e ON e.vec_id = asg.vec_id
          WHERE qid <> e.vec_id)
        SELECT qid, cid, cos, rn FROM (
          SELECT qid, cid, cos,
            CAST(ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY cos DESC, cid ASC) AS INT) AS rn
          FROM cand) WHERE rn <= 5""")),

    // ----- product quantization ANN (ADC scan + exact rerank) -------------
    // PQ (Jegou et al., "Product Quantization for Nearest Neighbor
    // Search", TPAMI 2011): the 64-dim vector splits into M=16 subspaces
    // of 4 dims; each sub-vector is replaced by the id of its nearest
    // sub-codebook centroid (k=32 here; 256 in production -> 1 byte per
    // subspace). The corpus then occupies 16 small ints per vector
    // instead of 64 floats — a ~16x memory compression — and query-time
    // distance is a table LOOKUP: per query, precompute the 16x32 LUT of
    // (query-subvector, centroid) squared-L2 distances; a candidate's
    // asymmetric distance (ADC) is the sum of 16 LUT entries. The ADC
    // scan keeps a top-100 shortlist per query, and only the shortlist
    // pays an exact squared-L2 rerank against the raw vectors — with the
    // Lloyd-trained codebooks, measured recall@5 vs exact is >= 0.95 on
    // this corpus (SimilaritySpec).
    //
    // Scale shape: codebook (M*k tiny sub-vectors) and per-query LUTs
    // broadcast; the exhaustive ADC pass reads ONLY the codes column
    // (~16x fewer bytes than raw), does 16 adds per candidate, and
    // reduces through a per-partition top-k heap; the rerank join
    // touches |Q|*50 raw vectors instead of |Q|*N. (The production
    // composition adds IVF for candidate pruning — that stage exists as
    // sim_ann_ivf_kmeans; PQ is the in-list compression.)
    //
    // Determinism: codebooks are Lloyd-trained per subspace from the
    // first-32 sub-slices as seeds (trainCodebooks above — integer-exact
    // update sums, so both engines derive bit-identical centroids);
    // sub-distances fold sequentially in array order; encode ties break
    // to the lowest code; the ADC sum folds over subspaces in fixed m
    // order; shortlist and final ranks break ties on cid — bit-identical
    // on both engines.
    Q("sim_ann_pq",
      (s, d) => {
        import s.implicits._
        val e = Tables.embeddings(s, d)
          .select($"vec_id",
            expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        // the codebook is M*k tiny sub-vectors (~16 KB) — collect it once
        // per dataset (memoized like Clustering's centroids) and embed it as
        // a literal, so BOTH encode and LUT construction are pure per-row
        // projections: the corpus is never shuffled to build the index,
        // which is the whole point of PQ at 100 TB
        val cbData: Seq[Seq[Seq[Double]]] =
          memoized(s, "pq_codebooks", d)(trainCodebooks(subVectors(e, "v")))
        val cbCol = typedLit(cbData).as("cb")
        val subDists =
          "transform(sequence(0, 15), m -> transform(element_at(cb, m + 1), " +
            "sub -> aggregate(zip_with(slice(%s, m * 4 + 1, 4), sub, " +
            "(x, y) -> (x - y) * (x - y)), CAST(0.0 AS DOUBLE), " +
            "(a, z) -> a + z)))"
        // encode: per subspace, the index of the minimal sub-distance
        // (array_position finds the FIRST match -> lowest code on ties,
        // mirroring the oracle's ORDER BY sd, code); a 16-int code word
        // per vector, computed map-side with zero shuffles
        val codes = e.select($"vec_id", $"v", cbCol)
          .select($"vec_id", expr(subDists.format("v")).as("sds"))
          .select($"vec_id", expr("transform(sds, s -> " +
            "CAST(array_position(s, array_min(s)) - 1 AS INT))").as("codes"))
        val qs = e.filter($"vec_id" % 50 === 0 && $"vec_id" < QueryIdCap)
          .select($"vec_id".as("qid"), $"v".as("qv"))
        // per-query LUT: 512 doubles in (m, code) order -> entry for
        // (m, code) sits at index m*32 + code + 1 (1-based)
        val lut = qs.select($"qid", $"qv", cbCol)
          .select($"qid", expr("flatten(" + subDists.format("qv") + ")")
            .as("lut"))
        // the exhaustive ADC scan reduces through TopKByScore (ascending:
        // smaller distance is better) — the full Q×N adist set never
        // shuffles, each task ships <= 100 buffered rows per query
        val topShort = udaf(new graft.functions.TopKByScore(100, ascending = true))
        val shortlist = broadcast(lut).crossJoin(codes)
          .filter($"vec_id" =!= $"qid")
          .select($"qid", $"vec_id".as("cid"),
            // native codegen'd ADC fold (round 18) — bit-identical to
            // the interpreted aggregate(sequence(...)) it replaces
            adc_lut_sum($"lut", $"codes", PqK).as("adist"))
          .groupBy($"qid").agg(topShort($"cid", $"adist").as("tk"))
          .select($"qid", explode($"tk").as("sc"))
          .select($"qid", $"sc.id".as("cid"))
        val topFinal = udaf(new graft.functions.TopKByScore(5, ascending = true))
        shortlist
          .join(broadcast(qs), "qid")
          .join(e.select($"vec_id".as("cid"), $"v"), "cid")
          .select($"qid", $"cid",
            vec_sqdist($"qv", $"v").as("sqdist"))
          .groupBy($"qid").agg(topFinal($"cid", $"sqdist").as("tk"))
          .select($"qid", posexplode($"tk"))
          .select($"qid", $"col.id".as("cid"), $"col.score".as("sqdist"),
            ($"pos" + 1).cast("int").as("rn"))
      },
      Some(s"""WITH e AS (
          SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v
          FROM embeddings),
        subv AS (
          SELECT vec_id, m, list_slice(v, m*4+1, m*4+4) AS sub
          FROM e, (SELECT unnest(generate_series(0, ${PqM - 1})) AS m)),
        ${pqTrainCtes("subv", "p")},
        cb AS (SELECT m, code, c AS sub FROM pcb$PqIters),
        enc AS (
          SELECT vec_id, m, code FROM (
            SELECT e.vec_id, cb.m, cb.code,
              ROW_NUMBER() OVER (PARTITION BY e.vec_id, cb.m ORDER BY
                list_sum([(v[cb.m*4+i] - sub[i]) * (v[cb.m*4+i] - sub[i])
                          FOR i IN generate_series(1, 4)]) ASC,
                cb.code ASC) AS rn
            FROM e, cb) WHERE rn = 1),
        codes AS (
          SELECT vec_id, list(code ORDER BY m) AS codes FROM enc
          GROUP BY 1),
        q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 50 = 0 AND vec_id < 102400),
        lut AS (
          SELECT qid, list(sd ORDER BY m, code) AS lut FROM (
            SELECT qid, m, code,
              list_sum([(qv[m*4+i] - sub[i]) * (qv[m*4+i] - sub[i])
                        FOR i IN generate_series(1, 4)]) AS sd
            FROM q, cb) GROUP BY 1),
        short AS (
          SELECT qid, cid FROM (
            SELECT qid, c.vec_id AS cid,
              ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
                list_sum([lut[m * 32 + codes[m + 1] + 1]
                          FOR m IN generate_series(0, 15)]) ASC,
                c.vec_id ASC) AS sr
            FROM lut, codes c WHERE c.vec_id <> qid) WHERE sr <= 100)
        SELECT qid, cid, sqdist, rn FROM (
          SELECT qid, cid, sqdist,
            CAST(ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY sqdist ASC, cid ASC) AS INT) AS rn
          FROM (
            SELECT qid, cid,
              list_sum([(qv[i] - v[i]) * (qv[i] - v[i])
                        FOR i IN generate_series(1, len(qv))]) AS sqdist
            FROM short JOIN q USING (qid)
            JOIN e ON e.vec_id = short.cid))
        WHERE rn <= 5""")),

    // ----- IVF-PQ: inverted lists + residual product codes ----------------
    // The composition production ANN systems actually ship (FAISS
    // IVFADC; Jegou et al., TPAMI 2011 §IV): a coarse quantizer routes
    // each vector to an inverted list, PQ encodes the RESIDUAL
    // (v - centroid) in 16x 4-dim subspaces, and a query probes only its
    // nprobe=4 nearest lists, scanning candidate codes with a per-list
    // lookup table before the exact rerank. Versus sim_ann_pq this
    // replaces the full-corpus code scan with an equi-join on the list
    // id; versus sim_ann_ivf the candidate scan reads 16-byte codes, not
    // raw vectors.
    //
    // Scale: both the coarse centroids (8x64 doubles) and the residual
    // codebook (16x32x4) are literals baked into the plan, so assignment
    // + encoding are zero-shuffle map work over the corpus — the index
    // build never shuffles the 100 TB side. Query-time cost is
    // |Q| * nprobe/nlist of the corpus, via a broadcast join keyed on the
    // list id. Determinism mirrors sim_ann_pq: first-argmin ties, fixed
    // fold orders, (dist, id) rank tiebreaks — bit-identical both engines.
    Q("sim_ann_ivfpq",
      (s, d) => {
        import s.implicits._
        val e = Tables.embeddings(s, d)
          .select($"vec_id",
            expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        // the offline index: coarse quantizer = the Lloyd-trained k-means
        // model (K=8, shared with sim_kmeans_cluster), residual PQ
        // codebooks, encoded corpus — memoized in-session and PERSISTED
        // on disk (parquet codes + JSON sidecar), so a fresh session
        // cold-loads instead of re-training (see [[ivfpqIndex]])
        val (centData, cbData, codes) = ivfpqIndex(s, d, e)
        val centCol = typedLit(centData).as("cents")
        val cbCol = typedLit(cbData).as("cb")
        val subDists = ivfSubDists
        val qs = e.filter($"vec_id" % 50 === 0 && $"vec_id" < QueryIdCap)
          .select($"vec_id".as("qid"), $"v".as("qv"))
        // probe the 2 nearest lists; LUT is over the per-list residual
        val wp = Window.partitionBy($"qid").orderBy($"cd".asc, $"pl".asc)
        val probes = qs.select($"qid", $"qv", centCol)
          .select($"qid", $"qv", posexplode($"cents"))
          .select($"qid", $"qv", $"pos".cast("int").as("pl"),
            // native codegen'd fold (round 18) — bit-identical to the
            // interpreted ivfL2 template it replaces
            vec_sqdist($"qv", $"col").as("cd"),
            expr("zip_with(qv, col, (x, y) -> x - y)").as("qr"))
          .withColumn("pr", row_number().over(wp))
          .filter($"pr" <= 4)
        val lut = probes.select($"qid", $"pl", $"qr", cbCol)
          .select($"qid", $"pl",
            expr("flatten(" + subDists.format("qr") + ")").as("lut"))
        // in-list ADC scan reduces through TopKByScore (ascending), same
        // as sim_ann_pq — no per-qid window sort of the candidate codes
        // multi-assignment means a candidate can enter via several of
        // its lists (one ADC row per probed replica, each with its own
        // residual quantization). A candidate's ADC estimate is the MIN
        // over its probed replicas — folded INSIDE the top-k aggregator
        // (dedupIds: rank ids by their best score) so replica
        // duplicates never crowd shortlist slots, with no extra
        // (qid, cid) exchange: the scan still reduces map-side straight
        // to one ≤50-entry buffer per query.
        val topShort = udaf(new graft.functions.TopKByScore(50,
          ascending = true, dedupIds = true))
        val shortlist = codes.join(broadcast(lut), $"cl" === $"pl")
          .filter($"vec_id" =!= $"qid")
          .select($"qid", $"vec_id".as("cid"),
            // the ADC fold runs once per (query, candidate) pair —
            // the battery's hottest scale-sensitive expression; native
            // codegen'd since round 18 (bit-identical fold order)
            adc_lut_sum($"lut", $"codes", PqK).as("adist"))
          .groupBy($"qid").agg(topShort($"cid", $"adist").as("tk"))
          .select($"qid", explode($"tk").as("sc"))
          .select($"qid", $"sc.id".as("cid"))
        val topFinal = udaf(new graft.functions.TopKByScore(5, ascending = true))
        shortlist
          .join(broadcast(qs), "qid")
          .join(e.select($"vec_id".as("cid"), $"v"), "cid")
          .select($"qid", $"cid",
            vec_sqdist($"qv", $"v").as("sqdist"))
          .groupBy($"qid").agg(topFinal($"cid", $"sqdist").as("tk"))
          .select($"qid", posexplode($"tk"))
          .select($"qid", $"col.id".as("cid"), $"col.score".as("sqdist"),
            ($"pos" + 1).cast("int").as("rn"))
      },
      Some(s"WITH $ivfpqOracleCtes $ivfpqOracleFinal")),

    // ----- ANN recall evaluation (the index-trust harness) ----------------
    // The number an ANN owner actually quotes: recall@5 of the
    // PRODUCTION IVF-PQ query against exact brute-force ground truth,
    // per query — the op that turns "the index seems fine" into a
    // measured contract (AnnIndexSpec runs this check as a test; this
    // makes it a first-class pipeline operator, e.g. for a nightly
    // index-health job). The ANN side IS the registered sim_ann_ivfpq
    // query (same fn, same persisted artifact), so the eval measures
    // the plan users run, not a reimplementation; the oracle embeds the
    // SAME shared CTE chain plus an exact-ground-truth CTE with the
    // identical (sqdist, cid) tie-break. The exact side is the honest
    // flops-guarded brute-force cost — past the guard the evaluation
    // would sample queries rather than scan (documented in SCALE.md's
    // exact-kernel policy). Ground truth broadcast-joins the query
    // block; recall is n_hits/5, one IEEE division per row.
    Q("sim_ann_recall_eval",
      (s, d) => {
        import s.implicits._
        guardExactScan(s, d)
        val ann = defs.find(_.name == "sim_ann_ivfpq").get.fn(s, d)
          .select($"qid", $"cid")
        val e = Tables.embeddings(s, d)
          .select($"vec_id",
            expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        val qs = e.filter($"vec_id" % 50 === 0 && $"vec_id" < QueryIdCap)
          .select($"vec_id".as("qid"), $"v".as("qv"))
        val topExact = udaf(new graft.functions.TopKByScore(5,
          ascending = true))
        val exact = broadcast(qs)
          .join(e.select($"vec_id".as("cid"), $"v"), $"qid" =!= $"cid")
          .select($"qid", $"cid", vec_sqdist($"qv", $"v").as("sqd"))
          .groupBy($"qid").agg(topExact($"cid", $"sqd").as("tk"))
          .select($"qid", explode($"tk").as("sc"))
          .select($"qid", $"sc.id".as("cid"), lit(1).as("hit"))
        ann.join(exact, Seq("qid", "cid"), "left")
          .groupBy($"qid")
          .agg(sum(coalesce($"hit", lit(0))).cast("long").as("n_hits"))
          .withColumn("recall", $"n_hits".cast("double") / 5.0)
      },
      Some(s"""WITH $ivfpqOracleCtes,
        ann AS ($ivfpqOracleFinal),
        exact AS (
          SELECT qid, cid FROM (
            SELECT q.qid, e.vec_id AS cid,
              ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                list_sum([(qv[i] - v[i]) * (qv[i] - v[i])
                          FOR i IN generate_series(1, len(qv))]) ASC,
                e.vec_id ASC) AS xr
            FROM q, e WHERE e.vec_id <> q.qid) WHERE xr <= 5)
        SELECT a.qid,
          CAST(SUM(CASE WHEN x.cid IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hits,
          CAST(SUM(CASE WHEN x.cid IS NOT NULL THEN 1 ELSE 0 END)
            AS DOUBLE) / 5.0 AS recall
        FROM ann a LEFT JOIN exact x ON x.qid = a.qid AND x.cid = a.cid
        GROUP BY 1""")),

    // ----- IVF list-balance report (index health) -------------------------
    // The index-ops question AFTER recall: are the inverted lists
    // balanced? A collapsed coarse quantizer (one mega-list) silently
    // turns the probe path into brute force over most of the corpus,
    // and a starved list wastes its probe budget — list-size skew is
    // the first-line index health metric. Reads the SAME
    // persisted/memoized codes relation the production probe path
    // uses (so the report describes the index that actually serves,
    // not a re-derivation): per list, the entry count (primaries +
    // replicas under the A = 3 multi-assignment) and its exact
    // parts-per-million share. O(K) output, one tiny aggregation over
    // the index artifact; the oracle re-derives the full index via
    // the shared CTE chain, so query and oracle cannot drift.
    // ----- PQ distortion report (index health #2) -------------------------
    // The quantization-quality companion to the list-balance report:
    // per PQ subspace m, how much the stored code misrepresents the
    // residual it encodes — ||r_sub − cb[m][code]||², the quantity the
    // IVFADC shortlist ranks by. A subspace whose distortion dwarfs
    // the others is where recall leaks, and a retrain (or finer
    // codebook) goes there first. Float discipline: the squared
    // distance is computed per ROW (deterministic element-order fold),
    // floored to integer MICRO-units, and only BIGINTs cross rows —
    // cross-row float summation order never matters (the
    // sim_covariance_exact rule). Reads the serving codes artifact;
    // one vec_id-keyed join to re-attach vectors, one explode to the
    // 16-row subspace key, map-side collapse, O(M) output.
    Q("sim_pq_distortion",
      (s, d) => {
        import s.implicits._
        val e = Tables.embeddings(s, d)
          .select($"vec_id",
            expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        val (centData, cbData, codes) = ivfpqIndex(s, d, e)
        val centCol = typedLit(centData).as("cents")
        val cbCol = typedLit(cbData).as("cb")
        codes.join(e, "vec_id")
          .select($"cl", $"codes", centCol, cbCol,
            expr("zip_with(v, element_at(cents, cl + 1), " +
              "(x, y) -> x - y)").as("r"))
          .select($"cl", explode(expr(
            s"""transform(sequence(0, ${PqM - 1}), m -> struct(m AS m,
                 CAST(floor(aggregate(
                   zip_with(slice(r, m * 4 + 1, 4),
                            element_at(element_at(cb, m + 1),
                                       element_at(codes, m + 1) + 1),
                            (x, y) -> (x - y) * (x - y)),
                   CAST(0.0 AS DOUBLE), (a, z) -> a + z) * 1000000)
                 AS BIGINT) AS dmicro))""")).as("sd"))
          .select($"sd.m".as("m"), $"sd.dmicro".as("dmicro"))
          .groupBy($"m")
          .agg(count(lit(1)).as("n_codes"),
            sum($"dmicro").as("dist_sum_micro"),
            max($"dmicro").as("dist_max_micro"))
      },
      Some(s"""WITH $ivfpqOracleCtes,
        dist AS (
          SELECT cb.m,
            CAST(floor(list_sum(
              [(a.r[cb.m*4+i] - sub[i]) * (a.r[cb.m*4+i] - sub[i])
               FOR i IN generate_series(1, 4)]) * 1000000) AS BIGINT)
              AS dmicro
          FROM enc JOIN asg a
            ON a.vec_id = enc.vec_id AND a.cl = enc.cl
          JOIN cb ON cb.m = enc.m AND cb.code = enc.code)
        SELECT CAST(m AS INT) AS m, COUNT(*) AS n_codes,
          CAST(SUM(dmicro) AS BIGINT) AS dist_sum_micro,
          CAST(MAX(dmicro) AS BIGINT) AS dist_max_micro
        FROM dist GROUP BY 1""")),

    Q("sim_ivf_balance",
      (s, d) => {
        import s.implicits._
        val e = Tables.embeddings(s, d)
          .select($"vec_id",
            expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        val (_, _, codes) = ivfpqIndex(s, d, e)
        val sizes = codes
          .groupBy($"cl".cast("int").as("list_id"))
          .agg(count(lit(1)).as("n_entries"))
        sizes.crossJoin(broadcast(
            sizes.agg(sum($"n_entries").as("tot"))))
          .select($"list_id", $"n_entries",
            expr("n_entries * 1000000 DIV tot").as("share_ppm"))
      },
      Some(s"""WITH $ivfpqOracleCtes,
        sz AS (SELECT cl AS list_id, COUNT(*) AS n_entries
               FROM asg GROUP BY 1)
        SELECT CAST(list_id AS INT) AS list_id,
          CAST(n_entries AS BIGINT) AS n_entries,
          CAST(n_entries * 1000000 // (SELECT SUM(n_entries) FROM sz)
            AS BIGINT) AS share_ppm
        FROM sz""")),

    // ----- label-noise detection (label vs cluster majority) --------------
    // The ML-data-ops screen for mislabeled examples: assign every
    // vector with the SHARED deterministic k-means model (the same
    // memoized Lloyd training sim_kmeans_cluster / dedup_semantic /
    // sim_ann_ivf_kmeans ride), take each cluster's majority label
    // (argmax via max(struct(count, -label, label)) — the LPA
    // tie-break idiom, no window sort), and count members whose
    // claimed label disagrees. High-disagreement clusters are where
    // labeling effort goes first. ONE extra shuffle past the shared
    // assignment (the (cluster, label) rollup); output O(clusters).
    Q("sim_label_noise",
      (s, d) => {
        import s.implicits._
        val labeled = Clustering.kmeans(s, d)
          .select($"vec_id", $"cluster")
          .join(Tables.embeddings(s, d).select($"vec_id", $"label"),
            "vec_id")
        val maj = labeled.groupBy($"cluster", $"label")
          .agg(count(lit(1)).as("c"))
          .groupBy($"cluster")
          .agg(max(struct($"c", (-$"label").as("nl"), $"label")).as("w"))
          .select($"cluster", $"w.label".as("majority_label"))
        labeled.join(maj, "cluster")
          .groupBy($"cluster", $"majority_label")
          .agg(count(lit(1)).as("n_members"),
            sum(when($"label" =!= $"majority_label", 1L).otherwise(0L))
              .as("n_disagree"))
      },
      Some(s"""WITH ${Clustering.kmeansCtes},
        lab AS (
          SELECT f.vec_id, f.cluster, emb.label
          FROM fin f JOIN embeddings emb ON emb.vec_id = f.vec_id),
        cnt AS (
          SELECT cluster, label, COUNT(*) AS c FROM lab GROUP BY 1, 2),
        maj AS (
          SELECT cluster, label AS majority_label FROM (
            SELECT cluster, label,
              ROW_NUMBER() OVER (PARTITION BY cluster
                ORDER BY c DESC, label ASC) AS rn
            FROM cnt) WHERE rn = 1)
        SELECT l.cluster, m.majority_label, COUNT(*) AS n_members,
          CAST(SUM(CASE WHEN l.label <> m.majority_label
            THEN 1 ELSE 0 END) AS BIGINT) AS n_disagree
        FROM lab l JOIN maj m ON m.cluster = l.cluster
        GROUP BY 1, 2""")),

    // ----- exact covariance / Gram accumulation (PCA prep) ----------------
    // The first stage of every PCA / whitening / correlation analysis
    // over an embedding corpus: the upper-triangle second-moment sums
    // per dimension pair. Floats are floored to MILLI-units per
    // component (products ≤ 10^6, so BIGINT sums stay exact past 10^12
    // rows — the 100 TB headroom the micro-unit choice would not have),
    // and the op emits RAW integer sums (n, Σmᵢ, Σmⱼ, Σmᵢmⱼ): the
    // consumer forms covariance (Σmᵢmⱼ − ΣmᵢΣmⱼ/n)/n in whatever
    // precision it wants, while everything the engines must agree on
    // is order-free integer arithmetic. ONE explode to the 2 080-pair
    // triangle per row (map-side partial sums collapse to 2 080 groups
    // immediately), ONE shuffle on the tiny (i, j) key.
    Q("sim_covariance_exact",
      (s, d) => {
        import s.implicits._
        Tables.embeddings(s, d)
          .select(expr(
            "transform(embedding, x -> " +
              "CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))").as("m"))
          .select(explode(expr(
            """flatten(transform(sequence(0, size(m) - 1), i ->
                 transform(sequence(i, size(m) - 1), j ->
                   struct(i AS i, j AS j,
                     element_at(m, i + 1) AS mi,
                     element_at(m, j + 1) AS mj))))""")).as("e"))
          .groupBy($"e.i".as("dim_i"), $"e.j".as("dim_j"))
          .agg(count(lit(1)).as("n"),
            sum($"e.mi").as("sum_i"),
            sum($"e.mj").as("sum_j"),
            sum($"e.mi" * $"e.mj").as("sum_prod"))
      },
      Some("""WITH m AS (
          SELECT [CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)
                  FOR x IN embedding] AS m
          FROM embeddings),
        pairs AS (
          SELECT i - 1 AS dim_i, j - 1 AS dim_j,
            m[i] AS mi, m[j] AS mj
          FROM m,
            LATERAL (SELECT unnest(generate_series(1, len(m))) AS i) ii,
            LATERAL (SELECT unnest(generate_series(1, len(m))) AS j) jj
          WHERE j >= i)
        SELECT CAST(dim_i AS INT) AS dim_i, CAST(dim_j AS INT) AS dim_j,
          COUNT(*) AS n,
          CAST(SUM(mi) AS BIGINT) AS sum_i,
          CAST(SUM(mj) AS BIGINT) AS sum_j,
          CAST(SUM(mi * mj) AS BIGINT) AS sum_prod
        FROM pairs GROUP BY 1, 2""")),

    // ----- PCA projection (top-2 principal components) ---------------------
    // The dimensionality-reduction step every embedding-QC pipeline
    // runs before clustering: project each centered vector onto the
    // top principal directions of the corpus scatter. The eigensolve
    // is exact-integer power iteration with Hotelling deflation on the
    // DRIVER (see [[pcaComponents]] — the scatter is a d×d artifact,
    // O(1) in corpus size, like the trained codebooks); the projection
    // is a narrow distributed map over broadcast literal arrays — ZERO
    // shuffles end to end (the stats pass is a mapPartitions + reduce
    // of 4 KB partials). The oracle replays the identical integer
    // recursion as recursive CTEs over HUGEINTs (two chained power
    // iterations, 40 steps each, truncating renormalization per step),
    // so the hash match pins scatter, eigensolve, deflation, AND
    // projection to the bit. Centering uses the floored milli-unit
    // mean (tdiv(Σm, n)) so projected values stay ≤ 2^41 at ANY corpus
    // size — BIGINT-safe without the n-scaled centering that would
    // overflow at 10^12 rows.
    Q("sim_pca_project",
      (s, d) => {
        import s.implicits._
        val (fm, comps) = pcaComponents(s, d, 2)
        def arr(a: Array[Long]): String =
          "array(" + a.map(v => s"${v}L").mkString(",") + ")"
        def proj(e: Array[Long]): String =
          s"""aggregate(sequence(0, ${dim - 1}), 0L, (acc, i) ->
               acc + (element_at(m, i + 1) - element_at(${arr(fm)}, i + 1))
                   * element_at(${arr(e)}, i + 1))"""
        Tables.embeddings(s, d)
          .select($"vec_id", expr(
            "transform(embedding, x -> " +
              "CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))").as("m"))
          .select($"vec_id",
            expr(proj(comps(0))).as("pc1"),
            expr(proj(comps(1))).as("pc2"))
      },
      Some("""WITH RECURSIVE m AS MATERIALIZED (
          SELECT vec_id,
            [CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)
             FOR x IN embedding] AS m
          FROM embeddings),
        stats AS MATERIALIZED (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM m),
        dims AS (SELECT unnest(generate_series(1, 64)) AS i),
        sums AS MATERIALIZED (
          SELECT i, CAST(SUM(m[i]) AS HUGEINT) AS s FROM m, dims GROUP BY i),
        prods AS MATERIALIZED (
          SELECT d1.i AS i, d2.i AS j,
            CAST(SUM(CAST(m[d1.i] AS HUGEINT) * m[d2.i]) AS HUGEINT) AS p
          FROM m, dims d1, dims d2 GROUP BY 1, 2),
        scat AS MATERIALIZED (
          SELECT p.i, p.j, stats.n * p.p - si.s * sj.s AS sv
          FROM prods p JOIN sums si ON si.i = p.i
            JOIN sums sj ON sj.i = p.j, stats),
        mx AS MATERIALIZED (SELECT GREATEST(MAX(ABS(sv)), 1) AS mval FROM scat),
        smat AS MATERIALIZED (SELECT list(r ORDER BY i) AS sm FROM (
            SELECT i, list((sv * 1073741824) // mval ORDER BY j) AS r
            FROM scat, mx GROUP BY i)),
        pit1 AS (
          SELECT 0 AS t,
            [CAST(1048576 AS HUGEINT) FOR i IN generate_series(1, 64)] AS v
          UNION ALL
          SELECT t + 1, [(w[i] * 1048576) // mw FOR i IN generate_series(1, 64)]
          FROM (
            SELECT t, [list_sum([sm[i][j] * v[j]
                                 FOR j IN generate_series(1, 64)])
                       FOR i IN generate_series(1, 64)] AS w
            FROM pit1, smat WHERE t < 40) ww,
            LATERAL (SELECT GREATEST(list_max(w), -list_min(w), 1) AS mw) g),
        e1 AS MATERIALIZED (SELECT v FROM pit1 WHERE t = 40),
        defl AS MATERIALIZED (
          SELECT list_sum([w[i] * v[i] FOR i IN generate_series(1, 64)]) AS num,
                 list_sum([v[i] * v[i] FOR i IN generate_series(1, 64)]) AS den
          FROM (SELECT [list_sum([sm[i][j] * v[j]
                                  FOR j IN generate_series(1, 64)])
                        FOR i IN generate_series(1, 64)] AS w, v
                FROM smat, e1)),
        s2 AS MATERIALIZED (
          SELECT [[sm[i][j] - (num * v[i] * v[j]) // (den * den)
                   FOR j IN generate_series(1, 64)]
                  FOR i IN generate_series(1, 64)] AS sm
          FROM smat, e1, defl),
        pit2 AS (
          SELECT 0 AS t,
            [CAST(1048576 AS HUGEINT) FOR i IN generate_series(1, 64)] AS v
          UNION ALL
          SELECT t + 1, [(w[i] * 1048576) // mw FOR i IN generate_series(1, 64)]
          FROM (
            SELECT t, [list_sum([sm[i][j] * v[j]
                                 FOR j IN generate_series(1, 64)])
                       FOR i IN generate_series(1, 64)] AS w
            FROM pit2, s2 WHERE t < 40) ww,
            LATERAL (SELECT GREATEST(list_max(w), -list_min(w), 1) AS mw) g),
        e2 AS MATERIALIZED (SELECT v FROM pit2 WHERE t = 40),
        fm AS MATERIALIZED (SELECT list(s // n ORDER BY i) AS fm FROM sums, stats)
        SELECT m.vec_id,
          CAST(list_sum([(m.m[i] - fm.fm[i]) * e1.v[i]
                         FOR i IN generate_series(1, 64)]) AS BIGINT) AS pc1,
          CAST(list_sum([(m.m[i] - fm.fm[i]) * e2.v[i]
                         FOR i IN generate_series(1, 64)]) AS BIGINT) AS pc2
        FROM m, fm, e1, e2""")),

    // ----- embedding ingest QC (the vector-side quality gate) -------------
    // What an index owner runs BEFORE build/append: per label, how many
    // delivered vectors are zero (a failed encoder returns zeros), have
    // the wrong dimensionality (schema drift in the embedding job), or
    // are un-normalized (a missing L2 step silently breaks every cosine
    // downstream). The fixture degrades a deterministic slice of the
    // delivery — and every degradation is ROUNDING-FREE so the two
    // engines agree bit-for-bit whatever precision they degrade in:
    // zeros are exact, truncation drops elements verbatim, and the
    // un-normalization scales by 4 (a power of two — exponent shift,
    // no mantissa rounding in float or double). Norms fold
    // sequentially in array order (VecDot / list_sum — the battery's
    // established float-determinism contract), and the thresholds
    // (0.81, 1.21) sit far from both populations (~1 vs ~16), so the
    // flags are deterministic. ONE narrow projection + ONE shuffle on
    // the tiny label key.
    // ----- inter-annotator agreement (Cohen's kappa) ------------------------
    // The label-quality gate before training on human (or model)
    // labels: how much two annotators agree beyond chance. Annotator A
    // is the stored label; annotator B is a deterministic perturbation
    // (vec_id % 7 == 0 rows shift one class, mod the label-space size
    // derived from the data) — a known ~14% disagreement population.
    // Observed agreement is exact integers; expected-by-chance
    // agreement needs Σ_c pA_c·pB_c, whose cross-products overflow
    // BIGINT at corpus scale, so it follows the basket-lift precedent:
    // per-class marginals collapse to O(classes) rows, are sorted into
    // a list, and the products fold SEQUENTIALLY in class order —
    // single exact-rounded IEEE ops in a fixed order, bit-identical
    // cross-engine. One (tiny) class-key aggregation + one scalar row.
    Q("sim_label_kappa",
      (s, d) => {
        import s.implicits._
        val lab = Tables.embeddings(s, d)
          .select($"vec_id", $"label".as("a"))
          .crossJoin(broadcast(Tables.embeddings(s, d)
            .agg((max($"label") + 1).as("k"))))
          .withColumn("b",
            ($"a" + when($"vec_id" % 7 === 0, 1).otherwise(0)) % $"k")
        val agree = lab.agg(count(lit(1)).as("n"),
          sum(when($"a" === $"b", 1L).otherwise(0L)).as("n_agree"))
        val perClass = lab
          .select(explode(array(
            struct(lit("a").as("side"), $"a".cast("int").as("c")),
            struct(lit("b").as("side"), $"b".cast("int").as("c"))))
            .as("sc"))
          .groupBy($"sc.c".as("c"))
          .agg(sum(when($"sc.side" === "a", 1L).otherwise(0L)).as("ca"),
            sum(when($"sc.side" === "b", 1L).otherwise(0L)).as("cb"))
        val pe = perClass
          .agg(sort_array(collect_list(struct($"c", $"ca", $"cb")))
            .as("m"))
          .crossJoin(broadcast(agree))
          .select($"n", $"n_agree",
            expr("""aggregate(m, CAST(0.0 AS DOUBLE), (acc, x) ->
              acc + (CAST(x.ca AS DOUBLE) / n) * (CAST(x.cb AS DOUBLE) / n))
              """).as("pe"))
        pe.select($"n", $"n_agree",
            (expr("CAST(n_agree AS DOUBLE) / n")).as("po"), $"pe")
          .withColumn("kappa", expr("(po - pe) / (1.0 - pe)"))
      },
      Some("""WITH kk AS (SELECT MAX(label) + 1 AS k FROM embeddings),
        lab AS (
          SELECT vec_id, label AS a,
            (label + CASE WHEN vec_id % 7 = 0 THEN 1 ELSE 0 END)
              % kk.k AS b
          FROM embeddings, kk),
        agree AS (
          SELECT COUNT(*) AS n,
            CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT)
              AS n_agree
          FROM lab),
        pc AS (
          SELECT c,
            CAST(SUM(CASE WHEN side = 'a' THEN 1 ELSE 0 END)
              AS BIGINT) AS ca,
            CAST(SUM(CASE WHEN side = 'b' THEN 1 ELSE 0 END)
              AS BIGINT) AS cb
          FROM (
            SELECT 'a' AS side, CAST(a AS INT) AS c FROM lab
            UNION ALL SELECT 'b', CAST(b AS INT) FROM lab)
          GROUP BY 1),
        pe AS (
          SELECT agree.n, agree.n_agree,
            list_sum([(CAST(x.ca AS DOUBLE) / agree.n)
                      * (CAST(x.cb AS DOUBLE) / agree.n)
                      FOR x IN m]) AS pe
          FROM (SELECT list_sort(list({'c': c, 'ca': ca, 'cb': cb}))
                  AS m FROM pc),
            agree)
        SELECT n, n_agree,
          CAST(n_agree AS DOUBLE) / n AS po, pe,
          (CAST(n_agree AS DOUBLE) / n - pe) / (1.0 - pe) AS kappa
        FROM pe""")),

    // ----- exact-duplicate vector detection (retry-dup QC) -----------------
    // The embedding-pipeline defect sim_embedding_qc does NOT catch:
    // rows duplicated by ingestion retries (same vector, different
    // vec_id) and degenerate all-zero vectors collapsing into one
    // point. Detection is an exact GROUP BY on the milli-unit
    // quantized vector (floor(x·1000) per component, the battery's
    // float-key discipline — CAST to DOUBLE first so both engines
    // promote identically); only clusters with ≥ 2 members emit.
    // Fixture defects from vec_id arithmetic: every vec_id % 31 == 11
    // row carries the RAW embedding of vec_id − 11 (a retry copy of
    // an earlier row), and vec_id % 17 == 3 rows are all-zero
    // (overriding — a copied zero joins the zero cluster). Scale
    // shape: ONE shuffle on the quantized-vector key (≈ vector bytes,
    // the unavoidable content key), output O(dup clusters).
    Q("sim_duplicate_vectors",
      (s, d) => {
        import s.implicits._
        val base = Tables.embeddings(s, d)
          .select($"vec_id", $"label", $"embedding")
        val donors = base
          .select($"vec_id".as("donor_id"), $"embedding".as("demb"))
        base
          .withColumn("donor",
            when($"vec_id" % 31 === 11, $"vec_id" - 11)
              .otherwise($"vec_id"))
          .join(donors, $"donor" === $"donor_id")
          // the zero override applies to the CARRIED embedding: a row
          // that is itself zero-ruled OR copies a zero-ruled donor
          // keys to the zero vector (so a copied zero joins the zero
          // cluster rather than keying on the donor's raw floats)
          .selectExpr("vec_id", "label", s"""
            CASE WHEN vec_id % 17 = 3 OR donor % 17 = 3
                   THEN transform(demb, x -> CAST(0 AS BIGINT))
                 ELSE transform(demb, x ->
                   CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))
            END AS key""")
          .groupBy($"key")
          .agg(min($"vec_id").as("cluster_id"),
            count(lit(1)).as("n_copies"),
            countDistinct($"label").as("n_labels"))
          .filter($"n_copies" >= 2)
          .select($"cluster_id", $"n_copies", $"n_labels")
      },
      Some("""WITH deg AS (
          SELECT b.vec_id, b.label,
            CASE WHEN b.vec_id % 17 = 3 OR d.vec_id % 17 = 3
                   THEN [CAST(0 AS BIGINT) FOR x IN d.embedding]
                 ELSE [CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)
                       FOR x IN d.embedding] END AS key
          FROM embeddings b JOIN embeddings d
            ON d.vec_id = CASE WHEN b.vec_id % 31 = 11
                               THEN b.vec_id - 11 ELSE b.vec_id END)
        SELECT MIN(vec_id) AS cluster_id,
          COUNT(*) AS n_copies,
          COUNT(DISTINCT label) AS n_labels
        FROM deg GROUP BY key HAVING COUNT(*) >= 2""")),

    Q("sim_embedding_qc",
      (s, d) => {
        import s.implicits._
        Tables.embeddings(s, d)
          .selectExpr("vec_id", "label", s"""
            CASE WHEN vec_id % 17 = 3
                   THEN transform(embedding, x -> CAST(0.0 AS FLOAT))
                 WHEN vec_id % 23 = 5 THEN slice(embedding, 1, ${dim - 3})
                 WHEN vec_id % 29 = 7
                   THEN transform(embedding, x -> x * CAST(4.0 AS FLOAT))
                 ELSE embedding END AS emb""")
          .select($"label", size($"emb").as("dimn"),
            graft.functions.VecDot.vec_dot($"emb", $"emb").as("n2"))
          .select($"label",
            ($"dimn" =!= dim).as("bad_dim"),
            ($"dimn" === dim && $"n2" === 0.0).as("zero"),
            ($"dimn" === dim && $"n2" > 0.0 &&
              ($"n2" < 0.81 || $"n2" > 1.21)).as("unnorm"))
          .groupBy($"label")
          .agg(count(lit(1)).as("n_vecs"),
            sum(when($"bad_dim", 1L).otherwise(0L)).as("n_bad_dim"),
            sum(when($"zero", 1L).otherwise(0L)).as("n_zero"),
            sum(when($"unnorm", 1L).otherwise(0L)).as("n_unnormalized"))
          .withColumn("n_healthy",
            $"n_vecs" - $"n_bad_dim" - $"n_zero" - $"n_unnormalized")
      },
      Some(s"""WITH deg AS (
          SELECT vec_id, label,
            CASE WHEN vec_id % 17 = 3
                   THEN [CAST(0.0 AS DOUBLE) FOR x IN embedding]
                 WHEN vec_id % 23 = 5
                   THEN [CAST(x AS DOUBLE) FOR x IN embedding[1:${dim - 3}]]
                 WHEN vec_id % 29 = 7
                   THEN [CAST(x AS DOUBLE) * 4.0 FOR x IN embedding]
                 ELSE [CAST(x AS DOUBLE) FOR x IN embedding] END AS emb
          FROM embeddings),
        m AS (
          SELECT label, CAST(len(emb) AS INT) AS dimn,
            list_sum([x * x FOR x IN emb]) AS n2
          FROM deg),
        f AS (
          SELECT label,
            dimn <> $dim AS bad_dim,
            dimn = $dim AND n2 = 0.0 AS zero,
            dimn = $dim AND n2 > 0.0 AND (n2 < 0.81 OR n2 > 1.21)
              AS unnorm
          FROM m)
        SELECT label, COUNT(*) AS n_vecs,
          CAST(SUM(CASE WHEN bad_dim THEN 1 ELSE 0 END) AS BIGINT)
            AS n_bad_dim,
          CAST(SUM(CASE WHEN zero THEN 1 ELSE 0 END) AS BIGINT)
            AS n_zero,
          CAST(SUM(CASE WHEN unnorm THEN 1 ELSE 0 END) AS BIGINT)
            AS n_unnormalized,
          CAST(COUNT(*) - SUM(CASE WHEN bad_dim THEN 1 ELSE 0 END)
            - SUM(CASE WHEN zero THEN 1 ELSE 0 END)
            - SUM(CASE WHEN unnorm THEN 1 ELSE 0 END) AS BIGINT)
            AS n_healthy
        FROM f GROUP BY 1"""))
  )
}
