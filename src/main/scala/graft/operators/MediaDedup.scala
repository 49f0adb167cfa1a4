package graft.operators

import graft.{Memo, Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Media near-dup retrieval — the consumers of the perceptual-fingerprint
  * trio ([[Multimodal]] `mm_dhash` / `mm_video_dhash` /
  * `mm_audio_fingerprint`): banded Hamming pair generation over image
  * dHashes, connected components over the pair graph, tolerant aligned
  * sequence overlap over per-frame video hashes, and landmark-pair
  * matching over audio energy contours. This is the pixel-side twin of
  * the text dedup family in [[Dedup]] — same candidate-generation
  * discipline (pigeonhole/landmark banding on HIGH-cardinality keys,
  * never all-pairs), same verification discipline (the DuckDB oracles
  * below are the NAIVE all-pairs joins, so a hash match proves the
  * banded generator loses no pair).
  *
  * Reference scope note: the reference engine has no media operators at
  * all (its whole surface is pcap decode + Hive SQL delegation,
  * `hadoop-pcap-serde/.../PcapDeserializer.java:49-60`); this family is
  * part of the training-data-pipeline extension surface.
  *
  * == Candidate generation: byte-pair banding ==
  *
  * The 64-bit dHash rides as two 32-bit words (`dhash_hi`, `dhash_lo`,
  * exactly the `mm_dhash` schema). Split the 64 bits into 8 bytes; a
  * pair within Hamming distance 6 has differing bits in at most 6
  * bytes, so AT LEAST TWO of the 8 bytes match exactly — joining on
  * (j1, j2, byte_j1, byte_j2) over all C(8,2) = 28 byte pairs is a
  * complete candidate generator for hamming <= 6, and bit_count(xor)
  * verifies exactly. Why pairs of bytes and not single bytes: the
  * single-byte key space is 8 x 256 = 2048 buckets, whose occupancy
  * grows linearly with the corpus (the dedup_simhash_pairs level-2
  * rationale, Dedup.scala); the byte-pair space is 28 x 65536 ~ 1.8M
  * keys — ~900x fewer random collisions per key — while staying a
  * strict pigeonhole argument rather than a probabilistic one.
  * [[bandedHammingPairs]] is the shared generator: the image op runs it
  * over whole-image hashes, the video op over per-frame hashes (the
  * round-10 "tolerant frame matching" substitution — a re-encoded
  * frame whose hash drifted a few bits still pairs with its original).
  *
  * Honest bound (same as dedup_simhash_pairs): a mega-cluster of
  * IDENTICAL images collides in every band and its hamming-0 pairs are
  * all in the output, which no candidate scheme can make sub-quadratic
  * — for that regime use the cluster surface (mm_dhash_components),
  * not a pair list. MediaDedupSpec pins the pigeonhole completeness
  * property and the fixture's band-occupancy bound.
  *
  * == Audio landmarks: why a 20-bit composite key ==
  *
  * Round 10 joined audio contours on a single 6-bit rise/fall word —
  * 64 distinct join values, so at corpus scale every position of every
  * clip lands in one of 64 buckets and the candidate volume is
  * Θ((Σ positions)²/64): effectively all-pairs with a constant
  * discount, the exact low-cardinality shape the byte-pair argument
  * above exists to avoid. The fix is the Shazam construction (Wang
  * 2003): a landmark PAIRS two anchor observations with their
  * positional delta, so the key carries enough entropy to shatter the
  * join. Here each landmark packs two 9-bit contour windows at
  * positions (p, p+δ), δ ∈ [9,12], plus the 2-bit δ offset:
  * key = word(p) | word(p+δ) << 9 | (δ-9) << 18 — a 2^20 = 1,048,576
  * key space (vs 64), and a shared recording still matches at every
  * aligned landmark because both clips derive identical windows from
  * the shared contour suffix. MediaDedupSpec pins per-key occupancy
  * the way it pins the dHash band bound.
  *
  * == Memoized relations ==
  *
  * Each op's hash relation feeds BOTH sides of a self-join (and the
  * pair relation feeds two consumers: pairs + components), so the
  * relations are cached — but a fresh `.cache()` per invocation stacks
  * plan-identical cached copies ("Asked to cache already cached data",
  * the round-9 span-relation leak in miniature). Same remedy as
  * the span memo: ONE cached relation per (kind, dataset) in
  * [[graft.Memo]] (family "media"), guarded by the documents table's
  * content.
  *
  * == Fixture ==
  *
  * The synthetic corpus has no organic near-duplicate images (formula
  * hashes are pseudo-random, P[hamming <= 6 over 64 bits] ~ 1e-11), so
  * the pair ops hash a GROUPED fixture: image id renders the group
  * base `gid = (id/4)*4`, and members id%4 = 1..3 get one sampled
  * grid pixel whited out (the 9x8 dHash grid samples distinct pixels
  * for w >= 9, h >= 8, so whiting the sample at grid (2*(id%4), 3)
  * perturbs exactly the two comparison bits it feeds). Within-group
  * Hamming is therefore <= 4 — real near-dups with KNOWN structure —
  * while cross-group hashes stay far apart. Video members get the same
  * per-member whiteout on EVERY frame (so aligned frames of different
  * members are near-identical, NOT identical — the tolerant path does
  * real work), audio members are window-aligned trims of one base
  * recording. The oracles re-derive every bit from the synthesis
  * formulas (the mm_dhash discipline) and then join naively.
  */
object MediaDedup {

  /** Hamming threshold for image near-dup pairs. 6 is the classic
    * "same image, minor re-encode" dHash band; it is also the largest
    * threshold the byte-pair pigeonhole covers (t <= 6 leaves >= 2 of
    * 8 bytes clean). */
  private val HammingT = 6

  private def memoized(s: SparkSession, kind: String, d: String)(
      build: => DataFrame): DataFrame =
    Memo.frame(s, "media", kind, d, s"$d/documents.parquet")(build)

  /** (media_id, dhash_hi, dhash_lo) for the grouped near-dup fixture:
    * decode the group-base BMP, white out one sampled grid pixel per
    * non-base member, hash through the SAME dhashOf as mm_dhash. */
  private[graft] def groupedDhashes(
      s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    groupedDhashesOf(Tables.documents(s, d).select($"doc_id").as[Long])
  }

  /** Spread a CPU-amplifying id list across the cluster, keeping
    * fixture groups co-located (round-17 optimization, guide §2.5
    * "input skew"): the documents table is a single small parquet file
    * at bench scale, so every decode-heavy mapPartitions below
    * otherwise runs as ONE task (measured: the whole MJPEG decode of
    * mm_video_overlap_mjpeg serialized on one core). When the upstream
    * scan has fewer partitions than defaultParallelism,
    * hash-repartition on the fixture group id (so members of a group
    * stay in one partition for the single-entry decode caches), then
    * sort each partition by id so group members are adjacent. At 100 TB
    * the scan already has >= parallelism partitions and the repartition
    * is skipped; the per-partition id sort keeps the caches effective
    * on the natural parquet row order. */
  private def spreadSorted(ids: org.apache.spark.sql.Dataset[Long],
      gidSql: String): org.apache.spark.sql.Dataset[Long] =
    Spread.sortedIds(ids, gidSql)

  /** The fixture hash of an arbitrary id slice — shared by the full
    * relation, the persisted band index's build and DELTA paths (a
    * delivery's hashes are computed from its own ids only), and the
    * delivery probe. */
  private def groupedDhashesOf(
      ids: org.apache.spark.sql.Dataset[Long],
      spread: Boolean = true): DataFrame = {
    val s = ids.sparkSession
    import s.implicits._
    // group-base decode cache: members of a group (gid = (id/4)*4)
    // arrive adjacent (spreadSorted), so the base image is decoded once
    // per group instead of once per member; non-base members hash a
    // cloned pixel buffer (whiteout mutates), the base hashes the
    // cached image directly (dhashOf only reads). O(1) state per task.
    // `spread = false` for the small per-delivery probe slice (round-18
    // verdict fix: the exchange cost more than the parallel decode
    // bought on the slice mm_dhash_incremental times per rep).
    (if (spread) spreadSorted(ids, "(id div 4) * 4") else ids)
      .mapPartitions { it =>
        var cachedGid = Long.MinValue
        var base: Multimodal.BmpCodec.Image = null
        it.map { id =>
          val gid = (id / 4) * 4
          if (gid != cachedGid) {
            base = Multimodal.BmpCodec.decode(Multimodal.BmpCodec.encode(gid))
            cachedGid = gid
          }
          val q = (id % 4).toInt
          val (hi, lo) =
            if (q == 0) Multimodal.dhashOf(base)
            else {
              val img = base.copy(px = base.px.clone)
              whiteoutGridSample(img, 2 * q)
              Multimodal.dhashOf(img)
            }
          (id, hi, lo)
        }
      }.toDF("media_id", "dhash_hi", "dhash_lo")
  }

  /** The (dhash_hi, dhash_lo) of fixture image `imgId` — decode the
    * group base, apply the member whiteout, hash; ONE definition shared
    * by the batch relation, the index build/delta, and the streaming
    * screen (whose delivery keys differ from content ids). */
  private[graft] def fixtureDhash(imgId: Long): (Long, Long) = {
    val gid = (imgId / 4) * 4
    val img = Multimodal.BmpCodec.decode(Multimodal.BmpCodec.encode(gid))
    val q = (imgId % 4).toInt
    if (q != 0) whiteoutGridSample(img, 2 * q)
    Multimodal.dhashOf(img)
  }

  /** The shared image fuzzy-screen tail — batch twin and stream run
    * EXACTLY this over a (doc_id, img_id) relation: decode + hash +
    * band each delivered image PER ROW (a pure projection — no
    * groupBy, no state), inner-join the persisted band index, emit one
    * row per hit band. Per-(doc, band-pair) granularity keeps the
    * streaming form stateless, the lshScreened discipline. */
  private[graft] def dhashScreenAgainstIndex(docs: DataFrame,
      idx: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val hashes = docs.select(col("doc_id"), col("img_id"))
      .as[(Long, Long)]
      .mapPartitions(_.map { case (docId, imgId) =>
        val (hi, lo) = fixtureDhash(imgId)
        (docId, hi, lo)
      }).toDF("media_id", "dhash_hi", "dhash_lo")
    bandKeysOf(hashes)
      .join(idx.select(col("j1"), col("j2"), col("b1"), col("b2"),
        col("bmin")), Seq("j1", "j2", "b1", "b2"))
      .select(col("media_id").as("doc_id"), col("j1"), col("j2"),
        col("bmin"))
  }

  /** The deterministic image delivery the battery twin and the
    * streaming spec share (the CorpusScreenStream.delivery convention):
    * re-keyed re-fetches of every doc_id % 5 == 0 image. Ones whose
    * content sits on the indexed base split (% 7 != 0) hit all 28 of
    * their band keys; % 35 == 0 ones were never indexed and hit only
    * through near-dup group siblings. */
  private[graft] def dhashDelivery(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).filter($"doc_id" % 5 === 0)
      .select(($"doc_id" + 3000000L).as("doc_id"), $"doc_id".as("img_id"))
  }

  /** White out the single pixel the 9x8 dHash grid samples at
    * (gx, gy=3): flips at most comparison bits (gx-1, 3) and (gx, 3). */
  private def whiteoutGridSample(img: Multimodal.BmpCodec.Image,
      gx: Int): Unit = {
    val sx = gx * img.w / 9
    val sy = 3 * img.h / 8
    val o = (sy * img.w + sx) * 3
    img.px(o) = -1; img.px(o + 1) = -1; img.px(o + 2) = -1
  }

  /** The shared byte-pair banded Hamming pair generator: `hashed` must
    * carry (`idCol`, extra passthrough columns..., dhash_hi, dhash_lo);
    * output is one row per DISTINCT candidate pair within [[HammingT]]
    * — (idCol_1 < idCol_2, passthroughs from both sides suffixed 1/2,
    * hamming). Explode the 28 byte-pair keys, equi-join, verify with
    * exact bit_count: ONE shuffle on the band key + the distinct;
    * never all-pairs. */
  /** The 28 byte-pair band keys of a 64-bit dHash, as a SQL array
    * expression over (dhash_hi, dhash_lo) — ONE definition shared by
    * the pair generator and the persisted delivery-screen index, so
    * the two cannot disagree on the banding. */
  private val BytePairBands =
    """flatten(transform(sequence(0, 6), j1 ->
         transform(sequence(j1 + 1, 7), j2 ->
           struct(j1 AS j1, j2 AS j2,
             (CASE WHEN j1 < 4 THEN shiftright(dhash_lo, j1 * 8)
                   ELSE shiftright(dhash_hi, (j1 - 4) * 8) END)
               & 255L AS b1,
             (CASE WHEN j2 < 4 THEN shiftright(dhash_lo, j2 * 8)
                   ELSE shiftright(dhash_hi, (j2 - 4) * 8) END)
               & 255L AS b2))))"""

  /** Explode a hash relation into its 28 (j1, j2, b1, b2) band keys. */
  private def bandKeysOf(hashes: DataFrame): DataFrame =
    hashes.select(col("media_id"), explode(expr(BytePairBands)).as("bd"))
      .select(col("media_id"), col("bd.j1").as("j1"), col("bd.j2").as("j2"),
        col("bd.b1").as("b1"), col("bd.b2").as("b2"))

  private def bandedHammingPairs(hashed: DataFrame, idCol: String,
      passthrough: Seq[String]): DataFrame = {
    val s = hashed.sparkSession
    import s.implicits._
    val bands = hashed.select(
      (Seq(col(idCol)) ++ passthrough.map(col) ++ Seq(
        col("dhash_hi"), col("dhash_lo"),
        explode(expr(BytePairBands)).as("bd"))): _*)
    def side(n: Int): DataFrame = bands.select(
      (Seq(col(idCol).as(s"${idCol}_$n")) ++
        passthrough.map(c => col(c).as(s"${c}_$n")) ++ Seq(
        col("dhash_hi").as(s"hi$n"), col("dhash_lo").as(s"lo$n"),
        col("bd.j1").as("j1"), col("bd.j2").as("j2"),
        col("bd.b1").as("b1"), col("bd.b2").as("b2"))): _*)
    side(1).join(side(2), Seq("j1", "j2", "b1", "b2"))
      .filter(col(s"${idCol}_1") < col(s"${idCol}_2"))
      .select(
        (Seq(col(s"${idCol}_1")) ++ passthrough.map(c => col(s"${c}_1")) ++
          Seq(col(s"${idCol}_2")) ++ passthrough.map(c => col(s"${c}_2")) ++
          Seq((bit_count($"hi1".bitwiseXOR($"hi2"))
            + bit_count($"lo1".bitwiseXOR($"lo2"))).as("hamming"))): _*)
      // verify BEFORE the distinct: hamming is a function of the pair,
      // so filter-then-distinct is row-identical to distinct-then-filter
      // but the distinct's exchange now carries only verified pairs,
      // not every chance band collision (guide §2.3: shuffle fewer
      // bytes — drop rows before the exchange)
      .filter($"hamming" <= HammingT)
      .distinct()
  }

  /** The banded-Hamming image pair relation (m1, m2, hamming); the hash
    * relation rides the per-dataset memo so pairs + components + both
    * join sides decode each image exactly once per session. */
  private def imgHashes(s: SparkSession, d: String): DataFrame =
    memoized(s, "img_dhash", d)(groupedDhashes(s, d))

  private[operators] def dhashPairs(s: SparkSession, d: String): DataFrame = {
    bandedHammingPairs(imgHashes(s, d), "media_id", Nil)
      .withColumnRenamed("media_id_1", "m1")
      .withColumnRenamed("media_id_2", "m2")
  }

  // ----- persisted dHash band index (incremental image dedup) -------------
  // Continuous image ingestion's screen, completing the text-side trio
  // (dedup_exact_incremental / dedup_lsh_incremental): through round
  // 11 the image dHash side recomputed the full band self-join per
  // run, while a delivery only ever needs its OWN images decoded and
  // one equi-join against the base corpus's persisted per-band-key
  // summary (key → bmin = min member media_id, bcnt = members). The
  // summary persists under the shared [[graft.DeltaChain]] lifecycle:
  // memo (warm) → artifact load (cold, no decode of the base corpus)
  // → delta append (grown documents table — NEW FILES ONLY are
  // decoded) → full build; min/sum merge fold is associative, so chain
  // order is irrelevant and compaction is exact. Base/probe split is
  // the text screens' convention: indexed corpus doc_id % 7 != 0,
  // screened delivery doc_id % 7 == 0.

  /** Band-index format version (1 = (j1,j2,b1,b2,bmin,bcnt) rows). */
  private val MmIdxFmt = 1L

  private[graft] val mmIdxChain = new graft.DeltaChain(
    "spark.graft.mmdhashidx.dir", "graft_mm_dhash_idx", MmIdxFmt, "bands")

  /** Per-band-key summary of the base split of an id slice — build and
    * delta share it, so they cannot disagree on the indexed population
    * or the banding. */
  private def baseBandSummary(
      ids: org.apache.spark.sql.Dataset[Long]): DataFrame =
    bandKeysOf(groupedDhashesOf(ids.filter(id => id % 7 != 0)))
      .groupBy(col("j1"), col("j2"), col("b1"), col("b2"))
      .agg(min(col("media_id")).as("bmin"), count(lit(1)).as("bcnt"))

  /** The persisted dHash band index for dataset `d` (see object notes
    * above): returned cached, merged across payload dirs. Append
    * boundary: delivered doc_ids strictly above the build-time max. */
  private[graft] def mmDhashIndex(s: SparkSession, d: String): DataFrame = {
    val tablePath = s"$d/documents.parquet"
    Memo.frame(s, "media_idx", "mm_dhash_index", d, tablePath)(
      mmDhashIndexOf(s, d, tablePath))
  }

  private def mmDhashIndexOf(s: SparkSession, d: String,
      tablePath: String): DataFrame = {
    import s.implicits._
    def mergeBands(df: DataFrame): DataFrame =
      df.groupBy($"j1", $"j2", $"b1", $"b2")
        .agg(min($"bmin").as("bmin"), sum($"bcnt").as("bcnt"))
    val raw = mmIdxChain.payload(s, d, tablePath,
      rows = Tables.documents(s, d).count(),
      build = () => {
        val docs = Tables.documents(s, d)
        val maxId = docs.agg(max($"doc_id")).first().getLong(0)
        (baseBandSummary(docs.select($"doc_id").as[Long]), maxId)
      },
      delta = (newFiles, boundary) => {
        val delivery = s.read.parquet(newFiles: _*)
        val bounds = delivery.agg(min($"doc_id"), max($"doc_id")).first()
        if (bounds.isNullAt(0) || bounds.getLong(0) <= boundary) None
        else Some((baseBandSummary(delivery.select($"doc_id").as[Long]),
          bounds.getLong(1)))
      },
      merge = mergeBands)
    mergeBands(raw)
  }

  /** The incremental image-dedup screen: decode + hash + band the
    * delivery split ONLY, probe the persisted index with one equi-join
    * on (j1, j2, b1, b2) — per delivery image, how many of its 28 band
    * keys already exist in the indexed corpus (n_hit_bands; >= 1 for
    * every image within Hamming 6 of an indexed one, the pigeonhole
    * guarantee) and the smallest indexed image sharing one (match_doc,
    * NULL when clean). The base corpus is never re-decoded. */
  private[graft] def dhashIncremental(s: SparkSession, d: String)
      : DataFrame = {
    import s.implicits._
    val idx = mmDhashIndex(s, d)
    val probeIds = Tables.documents(s, d).filter($"doc_id" % 7 === 0)
      .select($"doc_id").as[Long]
    bandKeysOf(groupedDhashesOf(probeIds, spread = false))
      .join(idx.select($"j1", $"j2", $"b1", $"b2", $"bmin"),
        Seq("j1", "j2", "b1", "b2"), "left")
      .groupBy($"media_id")
      .agg(count($"bmin").as("n_hit_bands"), min($"bmin").as("match_doc"))
  }

  /** Per-frame video hashes for the grouped-cut fixture: member m of a
    * group drops the first m frames of the base clip AND whites out
    * grid sample (2m, 3) on every kept frame — aligned frames across
    * members are near-identical (hamming <= 4), not byte-identical, so
    * only a TOLERANT matcher recovers the shared-clip structure. */
  private[graft] def videoFrameHashes(s: SparkSession, d: String)
      : DataFrame = memoized(s, "video_fh", d) {
    import s.implicits._
    val vids = Tables.documents(s, d).filter($"doc_id" % 3 === 2)
      .select($"doc_id").as[Long]
    // members of a group share one base clip (gid): decode it once per
    // group (spreadSorted co-locates + orders members), clone only the
    // frames a non-base member mutates via whiteout
    spreadSorted(vids, "2 + 9 * (((id - 2) div 3) div 3)")
      .mapPartitions { it =>
      var cachedGid = Long.MinValue
      var base: Multimodal.AviCodec.Video = null
      it.flatMap { id =>
        val t = (id - 2) / 3
        val gid = 2 + 9 * (t / 3)
        val m = (t % 3).toInt
        if (gid != cachedGid) {
          base = Multimodal.AviCodec.decode(Multimodal.AviCodec.encode(gid))
          cachedGid = gid
        }
        base.frames.zipWithIndex.drop(m).map { case (img0, j) =>
          val img = if (m != 0) {
            val c = img0.copy(px = img0.px.clone)
            whiteoutGridSample(c, 2 * m)
            c
          } else img0
          val (hi, lo) = Multimodal.dhashOf(img)
          (id, j - m, hi, lo)
        }
      }
    }.toDF("media_id", "frame_idx", "dhash_hi", "dhash_lo")
  }

  /** Per-frame hashes for the MJPEG-container grouped-cut fixture:
    * same structure as [[videoFrameHashes]] (member m of a group of
    * three drops the first m frames and whites out grid sample (2m, 3)
    * on every kept frame) but the base clip is MJPEG-in-AVI — every
    * frame traverses the real JPEG wire format through the shared
    * JpegCodec inside the AviCodec '00dc' walk. Content is the
    * coefficient-space JPEG fixture (id + 154*j per frame), so the
    * lossy decode is pixel-exactly predictable and the oracle derives
    * each frame hash from the closed-form JFIF formula. */
  private[graft] def videoFrameHashesMjpeg(s: SparkSession, d: String)
      : DataFrame = memoized(s, "video_fh_mjpeg", d) {
    import s.implicits._
    val vids = Tables.documents(s, d).filter($"doc_id" % 3 === 0)
      .select($"doc_id").as[Long]
    // the JPEG entropy encode+decode of the shared base clip is by far
    // the dominant cost of this relation (measured round 17: ~2 s
    // single-task at sf0.1): decode once per group, not once per member
    spreadSorted(vids, "9 * ((id div 3) div 3)")
      .mapPartitions { it =>
      var cachedGid = Long.MinValue
      var base: Multimodal.AviCodec.Video = null
      it.flatMap { id =>
        val t = id / 3
        val gid = 9 * (t / 3)
        val m = (t % 3).toInt
        if (gid != cachedGid) {
          base = Multimodal.AviCodec.decode(
            Multimodal.AviCodec.encodeMjpeg(gid))
          cachedGid = gid
        }
        base.frames.zipWithIndex.drop(m).map { case (img0, j) =>
          val img = if (m != 0) {
            val c = img0.copy(px = img0.px.clone)
            whiteoutGridSample(c, 2 * m)
            c
          } else img0
          val (hi, lo) = Multimodal.dhashOf(img)
          (id, j - m, hi, lo)
        }
      }
    }.toDF("media_id", "frame_idx", "dhash_hi", "dhash_lo")
  }

  /** Audio landmark relation (media_id, p, key): 5-sample window
    * energies -> rise/fall contour bits -> 9-bit words -> 20-bit
    * landmark keys pairing words at (p, p+δ), δ ∈ [9,12] (object doc).
    * Fixture: audio docs come in groups of three trims of one base WAV
    * (member m drops its first m windows — window-aligned, so the
    * contour suffix is a pure shift). */
  private[graft] def audioLandmarks(s: SparkSession, d: String)
      : DataFrame = memoized(s, "audio_lm", d) {
    import s.implicits._
    val ids = Tables.documents(s, d).filter($"doc_id" % 3 === 1)
      .select($"doc_id").as[Long]
    // members of a group are window-aligned trims of ONE base WAV: the
    // decode + window-energy pass depends only on gid, so compute it
    // once per group (spreadSorted co-locates + orders members); the
    // per-member work below is integer contour/word math over `en`
    spreadSorted(ids, "1 + 9 * (((id - 1) div 3) div 3)")
      .mapPartitions { it =>
      var cachedGid = Long.MinValue
      var cachedEn: Array[Long] = null
      it.flatMap { id =>
        val t = (id - 1) / 3
        val gid = 1 + 9 * (t / 3)
        val m = (t % 3).toInt
        if (gid != cachedGid) {
          val a = Multimodal.WavCodec.decode(Multimodal.WavCodec.encode(gid))
          val W = 5
          val nw = a.samples.length / W
          cachedEn = Array.tabulate(nw) { w =>
            var acc = 0L
            var i = 0
            while (i < W) {
              acc += math.abs(a.samples(w * W + i).toInt); i += 1
            }
            acc
          }
          cachedGid = gid
        }
        val en = cachedEn
        val nw = en.length
        // member m's contour = the base contour from boundary m on
        val bits = Array.tabulate(math.max(nw - 1 - m, 0))(k =>
          if (en(m + k + 1) > en(m + k)) 1 else 0)
        val B = 9
        val nWords = math.max(bits.length - B + 1, 0)
        val words = Array.tabulate(nWords) { p =>
          var w = 0
          var j = 0
          while (j < B) { w |= bits(p + j) << j; j += 1 }
          w
        }
        for {
          p <- 0 until nWords
          delta <- 9 to 12
          if p + delta < nWords
        } yield (id, p,
          words(p) | words(p + delta) << 9 | (delta - 9) << 18)
      }
    }.toDF("media_id", "p", "key")
  }

  /** Shared oracle CTE chain deriving the grouped-fixture hash relation
    * `ph(media_id, dhash_hi, dhash_lo)` from the synthesis formulas —
    * group base `gid`, whiteout grid column `pc` (-1 = none), the same
    * integer luma/grid math as the mm_dhash oracle. */
  private val dhashCtes: String = """ids AS (
      SELECT doc_id, (doc_id // 4) * 4 AS gid,
        CASE WHEN doc_id % 4 = 0 THEN -1
             ELSE 2 * (doc_id % 4) END AS pc
      FROM documents),
    pg AS (
      SELECT doc_id, gid, pc,
        CAST(16 + gid % 13 AS INT) AS w,
        CAST(12 + gid % 7 AS INT) AS h, x, y
      FROM ids,
        LATERAL (SELECT unnest(generate_series(0, 7)) AS x) xs,
        LATERAL (SELECT unnest(generate_series(0, 7)) AS y) ys),
    pb AS (
      SELECT doc_id, x, y,
        CASE WHEN
          (CASE WHEN x + 1 = pc AND y = 3 THEN 255000 ELSE
            299 * ((gid*7 + (((x+1)*w)//9)*3 + ((y*h)//8)*5) % 256)
            + 587 * ((gid + (((x+1)*w)//9)*11 + ((y*h)//8)*2) % 256)
            + 114 * ((gid*13 + (((x+1)*w)//9) * ((y*h)//8)) % 256) END)
          >
          (CASE WHEN x = pc AND y = 3 THEN 255000 ELSE
            299 * ((gid*7 + ((x*w)//9)*3 + ((y*h)//8)*5) % 256)
            + 587 * ((gid + ((x*w)//9)*11 + ((y*h)//8)*2) % 256)
            + 114 * ((gid*13 + ((x*w)//9) * ((y*h)//8)) % 256) END)
        THEN 1 ELSE 0 END AS bit
      FROM pg),
    ph AS (
      SELECT doc_id AS media_id,
        CAST(SUM(CASE WHEN y >= 4
          THEN bit * (CAST(1 AS BIGINT) << ((y - 4) * 8 + x))
          ELSE 0 END) AS BIGINT) AS dhash_hi,
        CAST(SUM(CASE WHEN y < 4
          THEN bit * (CAST(1 AS BIGINT) << (y * 8 + x))
          ELSE 0 END) AS BIGINT) AS dhash_lo
      FROM pb GROUP BY 1)"""

  /** Shot-structured per-frame hashes (media_id, frame_idx, dhash_hi,
    * dhash_lo) — shared by mm_shot_boundaries and mm_keyframes, one
    * decode per session via the memo. Fixture doc on
    * mm_shot_boundaries. */
  private def shotFrameHashes(s: SparkSession, d: String): DataFrame =
    memoized(s, "shot_fh", d) {
      import s.implicits._
      val ids = Tables.documents(s, d).filter($"doc_id" % 3 === 2)
        .select($"doc_id").as[Long]
      // no cross-id sharing here (every frame renders its own fid), so
      // this is spread-only: the decode fans out instead of serializing
      // on the single-file scan partition
      spreadSorted(ids, "id").mapPartitions { it =>
        it.flatMap { id =>
          val nf = Multimodal.AviCodec.nFrames(id)
          (0 until nf).map { j =>
            val fid = id + 131L * (j / 2)
            val img = Multimodal.BmpCodec.decode(
              Multimodal.BmpCodec.encode(fid))
            if (j % 2 == 1) whiteoutGridSample(img, 2)
            val (hi, lo) = Multimodal.dhashOf(img)
            (id, j, hi, lo)
          }
        }
      }.toDF("media_id", "frame_idx", "dhash_hi", "dhash_lo")
    }

  /** Shot-fixture frame-hash oracle CTE chain (vids..fh) — shared by
    * mm_shot_boundaries and mm_keyframes so the pixel math has one
    * source. */
  private lazy val shotFhCtes: String = """vids AS (
          SELECT doc_id FROM documents WHERE doc_id % 3 = 2),
        fr AS (
          SELECT doc_id, j, doc_id + 131 * (j // 2) AS fid,
            CASE WHEN j % 2 = 1 THEN 2 ELSE -1 END AS pc
          FROM vids,
            LATERAL (SELECT unnest(generate_series(0,
              CAST(3 + doc_id % 4 AS INT) - 1)) AS j) js),
        fg AS (
          SELECT doc_id, j, fid, pc,
            CAST(16 + fid % 13 AS INT) AS w,
            CAST(12 + fid % 7 AS INT) AS h, x, y
          FROM fr,
            LATERAL (SELECT unnest(generate_series(0, 7)) AS x) xs,
            LATERAL (SELECT unnest(generate_series(0, 7)) AS y) ys),
        fb AS (
          SELECT doc_id, j, x, y,
            CASE WHEN
              (CASE WHEN x + 1 = pc AND y = 3 THEN 255000 ELSE
                299 * ((fid*7 + (((x+1)*w)//9)*3 + ((y*h)//8)*5) % 256)
                + 587 * ((fid + (((x+1)*w)//9)*11 + ((y*h)//8)*2) % 256)
                + 114 * ((fid*13 + (((x+1)*w)//9) * ((y*h)//8)) % 256) END)
              >
              (CASE WHEN x = pc AND y = 3 THEN 255000 ELSE
                299 * ((fid*7 + ((x*w)//9)*3 + ((y*h)//8)*5) % 256)
                + 587 * ((fid + ((x*w)//9)*11 + ((y*h)//8)*2) % 256)
                + 114 * ((fid*13 + ((x*w)//9) * ((y*h)//8)) % 256) END)
            THEN 1 ELSE 0 END AS bit
          FROM fg),
        fh AS (
          SELECT doc_id AS media_id, CAST(j AS INT) AS frame_idx,
            CAST(SUM(CASE WHEN y >= 4
              THEN bit * (CAST(1 AS BIGINT) << ((y - 4) * 8 + x))
              ELSE 0 END) AS BIGINT) AS hi,
            CAST(SUM(CASE WHEN y < 4
              THEN bit * (CAST(1 AS BIGINT) << (y * 8 + x))
              ELSE 0 END) AS BIGINT) AS lo
          FROM fb GROUP BY 1, 2)"""

  val defs: Seq[Q] = Seq(

    // ----- image near-dup pairs (banded Hamming join) --------------------
    // The retrieval the dHash column exists for: all image pairs within
    // Hamming distance 6, generated by the 28-key byte-pair pigeonhole
    // banding (see object doc) and verified exactly. The oracle is the
    // NAIVE all-pairs Hamming join — the hash match proves candidate
    // completeness, the dedup_ppjoin verification pattern.
    Q("mm_dhash_pairs",
      (s, d) => dhashPairs(s, d),
      Some(s"""WITH $dhashCtes
        SELECT l.media_id AS m1, r.media_id AS m2,
          CAST(bit_count(xor(l.dhash_hi, r.dhash_hi))
             + bit_count(xor(l.dhash_lo, r.dhash_lo)) AS INT) AS hamming
        FROM ph l JOIN ph r ON l.media_id < r.media_id
        WHERE bit_count(xor(l.dhash_hi, r.dhash_hi))
            + bit_count(xor(l.dhash_lo, r.dhash_lo)) <= $HammingT""")),

    // ----- image near-dup clusters ----------------------------------------
    // The mega-cluster-safe surface: connected components over the
    // banded pair graph (the shared iterative min-label fixpoint from
    // Dedup.connectedComponents, localCheckpoint per round), labeling
    // every image with its cluster minimum. The oracle runs the
    // recursive-CTE transitive closure over the NAIVE all-pairs edge
    // set, so the hash match proves the banded graph has identical
    // components.
    Q("mm_dhash_components",
      (s, d) => {
        import s.implicits._
        val pairs = dhashPairs(s, d).cache()
        val edges = pairs.select($"m1".as("src"), $"m2".as("dst"))
          .union(pairs.select($"m2".as("src"), $"m1".as("dst")))
          .cache()
        val labels =
          try Dedup.connectedComponents(edges)
          finally { edges.unpersist(); pairs.unpersist() }
        labels.select($"doc_id".as("media_id"), $"component")
      },
      Some(s"""WITH RECURSIVE $dhashCtes,
        cand AS (
          SELECT l.media_id AS m1, r.media_id AS m2
          FROM ph l JOIN ph r ON l.media_id < r.media_id
          WHERE bit_count(xor(l.dhash_hi, r.dhash_hi))
              + bit_count(xor(l.dhash_lo, r.dhash_lo)) <= $HammingT),
        edges AS (SELECT m1 AS a, m2 AS b FROM cand
                  UNION SELECT m2, m1 FROM cand),
        nodes AS (SELECT DISTINCT a AS doc FROM edges),
        reach(doc, r) AS (
          SELECT doc, doc FROM nodes
          UNION
          SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.doc)
        SELECT doc AS media_id, MIN(r) AS component
        FROM reach GROUP BY doc""")),

    // ----- incremental image dedup against the persisted band index -------
    // The continuous-ingestion screen for images (object notes above
    // mmDhashIndex): the delivery split is decoded + hashed + banded,
    // then probes the base corpus's persisted per-band-key summary —
    // one equi-join, index side ≤ 1 row per key, the base corpus never
    // re-decoded. The oracle re-derives the WHOLE chain (pixel formulas
    // → dHash bits → 28 byte-pair keys → base-split summary → probe
    // join) from the synthesis formulas, so a hash match proves the
    // persisted artifact and its delta-append fold lose nothing vs
    // recomputation.
    Q("mm_dhash_incremental",
      (s, d) => dhashIncremental(s, d),
      Some(s"""WITH $dhashCtes,
        bp AS (
          SELECT media_id, j1, j2,
            CASE WHEN j1 < 4 THEN (dhash_lo >> (j1 * 8)) & 255
                 ELSE (dhash_hi >> ((j1 - 4) * 8)) & 255 END AS b1,
            CASE WHEN j2 < 4 THEN (dhash_lo >> (j2 * 8)) & 255
                 ELSE (dhash_hi >> ((j2 - 4) * 8)) & 255 END AS b2
          FROM ph,
            LATERAL (SELECT unnest(generate_series(0, 6)) AS j1) a,
            LATERAL (SELECT unnest(generate_series(j1 + 1, 7)) AS j2) b),
        bidx AS (
          SELECT j1, j2, b1, b2, MIN(media_id) AS bmin
          FROM bp WHERE media_id % 7 <> 0 GROUP BY 1, 2, 3, 4),
        probe AS (SELECT * FROM bp WHERE media_id % 7 = 0)
        SELECT probe.media_id, COUNT(bidx.bmin) AS n_hit_bands,
          MIN(bidx.bmin) AS match_doc
        FROM probe LEFT JOIN bidx USING (j1, j2, b1, b2)
        GROUP BY 1""")),

    // ----- streaming image screen's batch twin ------------------------------
    // The continuous form of mm_dhash_incremental: deliveries of new
    // images land as parquet files and are screened against the
    // persisted band index AS THEY ARRIVE (CorpusScreenStream
    // .dhashScreened — a stateless stream-static join, the lshScreened
    // discipline). This battery entry is the batch twin over the shared
    // deterministic delivery, running the IDENTICAL screen tail, so the
    // stream and its DuckDB-oracled anchor cannot drift; the streaming
    // spec matches the stream's rows to this query's row-for-row.
    Q("mm_dhash_screen_stream_twin",
      (s, d) => dhashScreenAgainstIndex(dhashDelivery(s, d),
        mmDhashIndex(s, d)),
      Some(s"""WITH $dhashCtes,
        bp AS (
          SELECT media_id, j1, j2,
            CASE WHEN j1 < 4 THEN (dhash_lo >> (j1 * 8)) & 255
                 ELSE (dhash_hi >> ((j1 - 4) * 8)) & 255 END AS b1,
            CASE WHEN j2 < 4 THEN (dhash_lo >> (j2 * 8)) & 255
                 ELSE (dhash_hi >> ((j2 - 4) * 8)) & 255 END AS b2
          FROM ph,
            LATERAL (SELECT unnest(generate_series(0, 6)) AS j1) a,
            LATERAL (SELECT unnest(generate_series(j1 + 1, 7)) AS j2) b),
        bidx AS (
          SELECT j1, j2, b1, b2, MIN(media_id) AS bmin
          FROM bp WHERE media_id % 7 <> 0 GROUP BY 1, 2, 3, 4),
        probe AS (
          SELECT media_id + 3000000 AS doc_id, j1, j2, b1, b2
          FROM bp WHERE media_id % 5 = 0)
        SELECT p.doc_id, p.j1, p.j2, bidx.bmin
        FROM probe p JOIN bidx USING (j1, j2, b1, b2)""")),

    // ----- video sequence overlap (shared-clip detection) -----------------
    // The mm_video_dhash payoff: find video pairs that share an aligned
    // run of NEAR-IDENTICAL frames — the "same clip, different
    // in-point, re-encoded" detection video dedup pipelines run. Frame
    // hashes go through the shared byte-pair banded generator (so a
    // frame whose hash drifted <= 6 bits in re-encode still pairs —
    // round 10 equi-joined on the exact 64-bit hash and missed every
    // re-encoded copy), then grouping by (v1, v2, frame_shift) counts
    // the aligned overlap per relative offset; a constant-shift run is
    // a shared clip. Fixture: videos come in groups of three cuts of
    // one base AVI (member m drops the first m frames, renumbers, and
    // whites out one sampled grid pixel per frame, so aligned frames
    // are near-identical but NOT byte-identical); the oracle re-derives
    // every frame hash from the synthesis formulas and runs the naive
    // all-pairs Hamming-thresholded join.
    Q("mm_video_overlap",
      (s, d) => {
        import s.implicits._
        val fh = videoFrameHashes(s, d)
        bandedHammingPairs(fh, "media_id", Seq("frame_idx"))
          .groupBy($"media_id_1".as("v1"), $"media_id_2".as("v2"),
            ($"frame_idx_1" - $"frame_idx_2").as("frame_shift"))
          .agg(count(lit(1)).as("n_aligned"))
      },
      Some("""WITH vids AS (
          SELECT doc_id, (doc_id - 2) // 3 AS t
          FROM documents WHERE doc_id % 3 = 2),
        mem AS (
          SELECT doc_id, 2 + 9 * (t // 3) AS gid, t % 3 AS m FROM vids),
        vg AS (
          SELECT doc_id, gid, m, j, gid + 131 * j AS fid,
            CASE WHEN m = 0 THEN -1 ELSE 2 * m END AS pc,
            CAST(16 + gid % 13 AS INT) AS w,
            CAST(12 + gid % 7 AS INT) AS h, x, y
          FROM mem,
            LATERAL (SELECT unnest(generate_series(0,
              CAST(3 + gid % 4 AS INT) - 1)) AS j) js,
            LATERAL (SELECT unnest(generate_series(0, 7)) AS x) xs,
            LATERAL (SELECT unnest(generate_series(0, 7)) AS y) ys
          WHERE j >= m),
        vb AS (
          SELECT doc_id, m, j, x, y,
            CASE WHEN
              (CASE WHEN x + 1 = pc AND y = 3 THEN 255000 ELSE
                299 * ((fid*7 + (((x+1)*w)//9)*3 + ((y*h)//8)*5) % 256)
                + 587 * ((fid + (((x+1)*w)//9)*11 + ((y*h)//8)*2) % 256)
                + 114 * ((fid*13 + (((x+1)*w)//9) * ((y*h)//8)) % 256) END)
              >
              (CASE WHEN x = pc AND y = 3 THEN 255000 ELSE
                299 * ((fid*7 + ((x*w)//9)*3 + ((y*h)//8)*5) % 256)
                + 587 * ((fid + ((x*w)//9)*11 + ((y*h)//8)*2) % 256)
                + 114 * ((fid*13 + ((x*w)//9) * ((y*h)//8)) % 256) END)
            THEN 1 ELSE 0 END AS bit
          FROM vg),
        vh AS (
          SELECT doc_id AS media_id, CAST(j - m AS INT) AS frame_idx,
            CAST(SUM(CASE WHEN y >= 4
              THEN bit * (CAST(1 AS BIGINT) << ((y - 4) * 8 + x))
              ELSE 0 END) AS BIGINT) AS dhash_hi,
            CAST(SUM(CASE WHEN y < 4
              THEN bit * (CAST(1 AS BIGINT) << (y * 8 + x))
              ELSE 0 END) AS BIGINT) AS dhash_lo
          FROM vb GROUP BY 1, 2)
        SELECT l.media_id AS v1, r.media_id AS v2,
          CAST(l.frame_idx - r.frame_idx AS INT) AS frame_shift,
          COUNT(*) AS n_aligned
        FROM vh l JOIN vh r
          ON l.media_id < r.media_id
          AND bit_count(xor(l.dhash_hi, r.dhash_hi))
            + bit_count(xor(l.dhash_lo, r.dhash_lo)) <= 6
        GROUP BY 1, 2, 3""")),

    // ----- video sequence overlap, MJPEG container -------------------------
    // The compressed-container leg of mm_video_overlap: the grouped-cut
    // fixture is delivered as MJPEG-in-AVI, so every frame hash is
    // computed from pixels that traversed the real JPEG wire format
    // (Huffman entropy decode, dequant, IDCT, 4:2:0 upsample) inside
    // the AviCodec '00dc' walk — the "re-encoded copies of one clip"
    // case a video dedup pipeline actually sees. Same banded tolerant
    // matcher; the oracle re-derives each frame's dHash from the
    // closed-form JFIF pixel formula (the mm_decode_jpeg discipline)
    // plus the member whiteout, then joins naively.
    Q("mm_video_overlap_mjpeg",
      (s, d) => {
        import s.implicits._
        val fh = videoFrameHashesMjpeg(s, d)
        bandedHammingPairs(fh, "media_id", Seq("frame_idx"))
          .groupBy($"media_id_1".as("v1"), $"media_id_2".as("v2"),
            ($"frame_idx_1" - $"frame_idx_2").as("frame_shift"))
          .agg(count(lit(1)).as("n_aligned"))
      },
      Some("""WITH vids AS (
          SELECT doc_id, doc_id // 3 AS t
          FROM documents WHERE doc_id % 3 = 0),
        mem AS (
          SELECT doc_id, 9 * (t // 3) AS gid, t % 3 AS m FROM vids),
        frames AS (
          SELECT doc_id, m, j, gid + 154 * j AS fid,
            CASE WHEN m = 0 THEN -1 ELSE 2 * m END AS pc,
            CAST(21 + gid % 14 AS INT) AS w,
            CAST(13 + gid % 11 AS INT) AS h
          FROM mem,
            LATERAL (SELECT unnest(generate_series(0,
              CAST(3 + gid % 4 AS INT) - 1)) AS j) js
          WHERE j >= m),
        grid AS (
          SELECT doc_id, m, j, pc, gx, gy,
            (gx * w) // 9 AS sx, (gy * h) // 8 AS sy, fid
          FROM frames,
            LATERAL (SELECT unnest(generate_series(0, 8)) AS gx) xs,
            LATERAL (SELECT unnest(generate_series(0, 7)) AS gy) ys),
        ycc AS (
          SELECT doc_id, m, j, pc, gx, gy,
            64 + (fid*7 + (sx//8)*31 + (sy//8)*17) % 128
              + ((fid + (sx//8)*5 + (sy//8)*3) % 8)
                * (CASE WHEN (sx%8) IN (0,3,4,7) THEN 1 ELSE -1 END)
              + ((fid*3 + (sx//8) + (sy//8)*7) % 8)
                * (CASE WHEN (sy%8) IN (0,3,4,7) THEN 1 ELSE -1 END)
              + ((fid*5 + (sx//8)*7 + (sy//8)) % 4)
                * (CASE WHEN (sx%8) IN (0,3,4,7) THEN 1 ELSE -1 END)
                * (CASE WHEN (sy%8) IN (0,3,4,7) THEN 1 ELSE -1 END) AS yv,
            (fid*11 + (sx//16)*13 + (sy//16)*19) % 256 AS cb,
            (fid*3 + (sx//16)*7 + (sy//16)*29) % 256 AS cr
          FROM grid),
        gl AS (
          SELECT doc_id, m, j, gx, gy,
            CASE WHEN gx = pc AND gy = 3 THEN 255000 ELSE
              299 * LEAST(255, GREATEST(0, CAST(floor(
                  yv + 1.402E0 * (cr - 128) + 0.5E0) AS BIGINT)))
            + 587 * LEAST(255, GREATEST(0, CAST(floor(
                  yv - 0.344136E0 * (cb - 128) - 0.714136E0 * (cr - 128)
                    + 0.5E0) AS BIGINT)))
            + 114 * LEAST(255, GREATEST(0, CAST(floor(
                  yv + 1.772E0 * (cb - 128) + 0.5E0) AS BIGINT)))
            END AS lum
          FROM ycc),
        vb AS (
          SELECT l.doc_id, l.m, l.j, l.gx AS x, l.gy AS y,
            CASE WHEN r.lum > l.lum THEN 1 ELSE 0 END AS bit
          FROM gl l JOIN gl r
            ON r.doc_id = l.doc_id AND r.j = l.j AND r.gy = l.gy
            AND r.gx = l.gx + 1
          WHERE l.gx < 8),
        vh AS (
          SELECT doc_id AS media_id, CAST(j - m AS INT) AS frame_idx,
            CAST(SUM(CASE WHEN y >= 4
              THEN bit * (CAST(1 AS BIGINT) << ((y - 4) * 8 + x))
              ELSE 0 END) AS BIGINT) AS dhash_hi,
            CAST(SUM(CASE WHEN y < 4
              THEN bit * (CAST(1 AS BIGINT) << (y * 8 + x))
              ELSE 0 END) AS BIGINT) AS dhash_lo
          FROM vb GROUP BY 1, 2)
        SELECT l.media_id AS v1, r.media_id AS v2,
          CAST(l.frame_idx - r.frame_idx AS INT) AS frame_shift,
          COUNT(*) AS n_aligned
        FROM vh l JOIN vh r
          ON l.media_id < r.media_id
          AND bit_count(xor(l.dhash_hi, r.dhash_hi))
            + bit_count(xor(l.dhash_lo, r.dhash_lo)) <= 6
        GROUP BY 1, 2, 3""")),

    // ----- audio sequence overlap (shared-recording detection) ------------
    // The mm_audio_fingerprint payoff, completing the trio's consumers:
    // Shazam-style landmark matching over the energy contour — each
    // clip emits a 20-bit landmark key at every anchor position
    // (two 9-bit contour windows + their positional delta, object doc),
    // keys equi-join on content (ONE shuffle over a ~10^6 key space),
    // and (a1, a2, shift) counts aligned matches; a shared recording
    // shows up as a run at one constant offset, chance 20-bit
    // collisions scatter across shifts. The oracle re-derives every
    // window energy from the PCM synthesis formula and joins naively —
    // integer-exact end to end.
    Q("mm_audio_overlap",
      (s, d) => {
        import s.implicits._
        val lm = audioLandmarks(s, d)
        val l = lm.select($"media_id".as("a1"), $"p".as("p1"), $"key")
        val r = lm.select($"media_id".as("a2"), $"p".as("p2"), $"key")
        l.join(r, Seq("key"))
          .filter($"a1" < $"a2")
          .groupBy($"a1", $"a2", ($"p1" - $"p2").as("shift"))
          .agg(count(lit(1)).as("n_aligned"))
      },
      Some("""WITH aud AS (
          SELECT doc_id, (doc_id - 1) // 3 AS t
          FROM documents WHERE doc_id % 3 = 1),
        mem AS (
          SELECT doc_id, 1 + 9 * (t // 3) AS gid, t % 3 AS m FROM aud),
        sz AS (
          SELECT doc_id, gid, m, CAST(200 + gid % 57 AS INT) AS n
          FROM mem),
        e AS (
          SELECT doc_id, m, w,
            list_sum([abs(((gid*31 + i*i*7) % 65536) - 32768)
                      FOR i IN generate_series(w*5, w*5 + 4)]) AS en
          FROM sz,
            LATERAL (SELECT unnest(generate_series(0, n//5 - 1)) AS w)),
        b AS (
          SELECT doc_id, w - m - 1 AS k,
            CASE WHEN en > lag(en) OVER
              (PARTITION BY doc_id ORDER BY w) THEN 1 ELSE 0 END AS bit
          FROM e QUALIFY w >= m + 1),
        wrd AS (
          SELECT b1.doc_id, b1.k AS p,
            CAST(SUM(b2.bit * (1 << (b2.k - b1.k))) AS INT) AS word
          FROM b b1 JOIN b b2 ON b2.doc_id = b1.doc_id
            AND b2.k BETWEEN b1.k AND b1.k + 8
          GROUP BY 1, 2 HAVING COUNT(*) = 9),
        lm AS (
          SELECT a.doc_id, a.p,
            a.word + t.word * 512 + (t.p - a.p - 9) * 262144 AS key
          FROM wrd a JOIN wrd t ON t.doc_id = a.doc_id
            AND t.p - a.p BETWEEN 9 AND 12)
        SELECT l.doc_id AS a1, r.doc_id AS a2,
          CAST(l.p - r.p AS INT) AS shift, COUNT(*) AS n_aligned
        FROM lm l JOIN lm r
          ON l.key = r.key AND l.doc_id < r.doc_id
        GROUP BY 1, 2, 3""")),

    // ----- end-to-end media curation (dedup -> canonical -> split) --------
    // The composed pipeline an image-corpus curation run executes:
    // decode + fingerprint (the memoized hash relation), near-dup
    // clustering (banded pairs -> connected components), canonical
    // selection (cluster-minimum id; singletons keep themselves),
    // then a content-hash train/val/test split of the SURVIVING
    // images, reported as a per-split census carrying both the kept
    // count and the population each kept image REPRESENTS
    // (cluster_size sum — so the census proves dedup conserved the
    // corpus: Σ n_represented = image population). Every stage is the
    // SAME machinery the standalone ops run (imgHashes memo,
    // bandedHammingPairs, Dedup.connectedComponents, the md5-bucket
    // split rule), so this is the integration surface, not new math;
    // the oracle composes the closure + canonical + bucket rules over
    // the naive all-pairs edge set.
    Q("pipeline_e2e_media",
      (s, d) => {
        import s.implicits._
        val pairs = dhashPairs(s, d).cache()
        val edges = pairs.select($"m1".as("src"), $"m2".as("dst"))
          .union(pairs.select($"m2".as("src"), $"m1".as("dst")))
          .cache()
        val comps =
          try Dedup.connectedComponents(edges)
          finally { edges.unpersist(); pairs.unpersist() }
        val lab = imgHashes(s, d).select($"media_id")
          .join(comps.withColumnRenamed("doc_id", "media_id"),
            Seq("media_id"), "left")
          .withColumn("component",
            coalesce($"component", $"media_id"))
        val sz = lab.groupBy($"component")
          .agg(count(lit(1)).as("cluster_size"))
        lab.filter($"media_id" === $"component")
          .join(sz, "component")
          .withColumn("bucket",
            graft.functions.Md5Prefix.md5_prefix(
              concat(lit("msplit:"), $"media_id".cast("string")), 4) % 100)
          .withColumn("split",
            when($"bucket" < 90, "train")
              .when($"bucket" < 95, "val").otherwise("test"))
          .groupBy($"split")
          .agg(count(lit(1)).as("n_images"),
            sum($"cluster_size").as("n_represented"),
            sum($"media_id").as("id_checksum"))
      },
      Some(s"""WITH RECURSIVE $dhashCtes,
        cand AS (
          SELECT l.media_id AS m1, r.media_id AS m2
          FROM ph l JOIN ph r ON l.media_id < r.media_id
          WHERE bit_count(xor(l.dhash_hi, r.dhash_hi))
              + bit_count(xor(l.dhash_lo, r.dhash_lo)) <= $HammingT),
        edges AS (SELECT m1 AS a, m2 AS b FROM cand
                  UNION SELECT m2, m1 FROM cand),
        nodes AS (SELECT DISTINCT a AS doc FROM edges),
        reach(doc, r) AS (
          SELECT doc, doc FROM nodes
          UNION
          SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.doc),
        comp AS (SELECT doc AS media_id, MIN(r) AS component
                 FROM reach GROUP BY doc),
        lab AS (
          SELECT ph.media_id,
            COALESCE(c.component, ph.media_id) AS component
          FROM ph LEFT JOIN comp c ON c.media_id = ph.media_id),
        sz AS (SELECT component, COUNT(*) AS csz FROM lab GROUP BY 1),
        keep AS (
          SELECT l.media_id, s.csz,
            CAST('0x' || substr(md5('msplit:'
              || CAST(l.media_id AS VARCHAR)), 1, 4) AS BIGINT) % 100 AS b
          FROM lab l JOIN sz s USING (component)
          WHERE l.media_id = l.component)
        SELECT CASE WHEN b < 90 THEN 'train'
                    WHEN b < 95 THEN 'val' ELSE 'test' END AS split,
          COUNT(*) AS n_images,
          CAST(SUM(csz) AS BIGINT) AS n_represented,
          CAST(SUM(media_id) AS BIGINT) AS id_checksum
        FROM keep GROUP BY 1""")),

    // ----- shot boundary detection (temporal video segmentation) ----------
    // The third consumer of per-frame perceptual hashes: WITHIN one
    // video, a cut is a frame whose dHash jumps > 6 bits from its
    // predecessor (camera cuts re-randomize the 64-bit hash; frames
    // inside a shot drift a few bits at most). This is how video
    // curation pipelines pick one keyframe per shot instead of paying
    // feature extraction on every frame. Emits every shot start:
    // frame 0 (hamming NULL) plus each frame whose predecessor distance
    // exceeds the threshold.
    //
    // Scale: frame hashes are a narrow per-row decode; the ONLY shuffle
    // is the lag window's partition on media_id — per-video frame
    // counts are bounded (a 2-hour 24 fps video is 1.7e5 rows of 28
    // bytes), so no skew guard is needed. Same Hamming-6 band as the
    // pair ops.
    //
    // Fixture: shot-structured clips — frame j renders the base image
    // of fid = id + 131 * (j div 2) (a NEW pseudo-random image every
    // 2 frames = a cut), and the second frame of each shot carries the
    // grid-sample whiteout (within-shot hamming <= 4, nonzero, so the
    // threshold does real work). The oracle re-derives every frame
    // hash from the pixel formulas and runs the same lag window.
    Q("mm_shot_boundaries",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val fh = shotFrameHashes(s, d)
        val w = Window.partitionBy($"media_id").orderBy($"frame_idx")
        fh.select($"media_id", $"frame_idx",
            (bit_count($"dhash_hi".bitwiseXOR(lag($"dhash_hi", 1).over(w)))
              + bit_count($"dhash_lo".bitwiseXOR(lag($"dhash_lo", 1).over(w))))
              .as("hamming"))
          .filter($"hamming".isNull || $"hamming" > 6)
      },
      Some(s"""WITH $shotFhCtes,
        lagd AS (
          SELECT media_id, frame_idx,
            CAST(bit_count(xor(hi, lag(hi) OVER w))
               + bit_count(xor(lo, lag(lo) OVER w)) AS INT) AS hamming
          FROM fh
          WINDOW w AS (PARTITION BY media_id ORDER BY frame_idx))
        SELECT media_id, frame_idx, hamming FROM lagd
        WHERE hamming IS NULL OR hamming > 6""")),

    // ----- keyframe extraction (one frame per shot) ------------------------
    // The payoff of shot detection: pick ONE representative frame per
    // shot (its first frame) with its perceptual hash — what a video
    // curation pipeline feeds to feature extraction instead of paying
    // for every frame. Rides the SAME memoized frame-hash relation and
    // the SAME oracle CTE chain as mm_shot_boundaries (one pixel-math
    // source); per-video shot numbering is a row_number over the
    // bounded per-video start set — the only shuffle is the media_id
    // window partition both ops already pay.
    Q("mm_keyframes",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val fh = shotFrameHashes(s, d)
        val w = Window.partitionBy($"media_id").orderBy($"frame_idx")
        fh.withColumn("hamming",
            bit_count($"dhash_hi".bitwiseXOR(lag($"dhash_hi", 1).over(w)))
              + bit_count($"dhash_lo".bitwiseXOR(lag($"dhash_lo", 1).over(w))))
          .filter($"hamming".isNull || $"hamming" > 6)
          .withColumn("shot_idx", row_number().over(w).cast("int"))
          .select($"media_id", $"shot_idx",
            $"frame_idx".as("keyframe_idx"), $"dhash_hi", $"dhash_lo")
      },
      Some(s"""WITH $shotFhCtes,
        lagd AS (
          SELECT media_id, frame_idx, hi, lo,
            CAST(bit_count(xor(hi, lag(hi) OVER w))
               + bit_count(xor(lo, lag(lo) OVER w)) AS INT) AS hamming
          FROM fh
          WINDOW w AS (PARTITION BY media_id ORDER BY frame_idx)),
        st AS (
          SELECT media_id, frame_idx, hi, lo FROM lagd
          WHERE hamming IS NULL OR hamming > 6)
        SELECT media_id,
          CAST(ROW_NUMBER() OVER (PARTITION BY media_id
            ORDER BY frame_idx) AS INT) AS shot_idx,
          frame_idx AS keyframe_idx,
          hi AS dhash_hi, lo AS dhash_lo
        FROM st"""))
  )
}
