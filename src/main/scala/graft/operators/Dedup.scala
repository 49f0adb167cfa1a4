package graft.operators

import graft.{Memo, Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication family over the `documents` table — the LLM-data-pipeline
  * operators (builder brief; SURVEY.md §2C).
  *
  * Scale design (100 TB):
  *   - exact dedup is a single hash-aggregate on a content digest — one
  *     shuffle on the digest, map-side partial aggregation, no full-text
  *     shuffle (only the 16-byte digest + keys move);
  *   - n-gram Jaccard avoids the O(n^2) pair space by joining on shingles
  *     (inverted-index style): only documents sharing a shingle meet. At
  *     100 TB you first bucket by MinHash-LSH (below) and only score
  *     candidate pairs — both steps are shuffle-on-key joins that AQE can
  *     re-plan for skew (a stop-shingle appearing in every doc would be a
  *     hot key; production would drop top-frequency shingles first);
  *   - MinHash-LSH: signatures are a single groupBy over (doc, shingle-hash)
  *     with k min-aggregates; banding turns near-dup search into an
  *     equi-join on (band, band-signature) — the classic sub-quadratic
  *     path. The band join is hot-bucket-guarded (BucketCap): oversized
  *     buckets — which at crawl scale ARE the duplicate mega-clusters —
  *     emit O(n) star pairs instead of O(n²) cliques, and the clustering
  *     consumers run on pure star edges (same components, proven);
  *   - SimHash: one explode + one groupBy with 32 conditional sums; the
  *     64->32-bit variant keeps every aggregate in whole-stage codegen.
  *
  * Background: MinHash resemblance sketching (Broder, "On the resemblance
  * and containment of documents", SEQUENCES 1997) with LSH banding
  * (Leskovec/Rajaraman/Ullman, Mining of Massive Datasets ch. 3);
  * SimHash (Charikar, "Similarity estimation techniques from rounding
  * algorithms", STOC 2002) as deployed for web-scale near-dup detection
  * (Manku/Jain/Sarma, WWW 2007).
  *
  * All hashes are engine-portable by construction: md5 hex prefixes
  * reinterpreted as integers, so the DuckDB oracles compute bit-identical
  * values (verified: conv(substr(md5('abc'),1,8),16,10) = 2416005272 on
  * both engines).
  */
object Dedup {

  // ----- per-(kind, dataset) memoized cached relations --------------------
  // The shingle and signature relations each feed several consumers
  // (within one query AND across the battery's dedup queries), so they
  // are cached — but a fresh `.cache()` per invocation stacks
  // plan-identical registrations ("Asked to cache already cached
  // data", the round-10 advisory's leak class). Same remedy as
  // MediaDedup: ONE cached relation per (kind, dataset) in [[graft.Memo]]
  // (family "dedup"), guarded by the documents table's content. Bench
  // clears the family per rep so the band keeps measuring the cold
  // sweep.
  private def memoizedRel(s: SparkSession, kind: String, d: String)(
      build: => DataFrame): DataFrame =
    Memo.frame(s, "dedup", kind, d, s"$d/documents.parquet")(build)

  /** Distinct word 3-gram shingles per document (lowercased, ws-split).
    * Deduplication happens per-document with `array_distinct` BEFORE the
    * explode — (doc_id, shingle) pairs are then globally distinct by
    * construction, avoiding the full shuffle a `.distinct()` would cost
    * (at 100 TB that shuffle would be the largest stage of the job).
    * Cached via the per-dataset memo: the battery's five shingle
    * consumers share one relation. */
  private def shingles(s: SparkSession, d: String): DataFrame =
    memoizedRel(s, "shingles", d)(shinglesOf(Tables.documents(s, d)))

  /** The same shingling over an arbitrary (doc_id, text) relation — the
    * incremental index paths shingle a base SPLIT or a delivery's files
    * rather than the whole table. */
  private def shinglesOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // spread before the shingle explode + per-shingle md5 (Spread doc):
    // the downstream signature pass hashes ~|words| shingles per doc,
    // which otherwise serializes on the single-file scan partition
    Spread.byKey(docs, "doc_id")
      .select($"doc_id", split(lower($"text"), "\\s+").as("ws"))
      .filter(size($"ws") >= 3)
      .select($"doc_id", explode(array_distinct(expr(
        "transform(sequence(0, size(ws)-3), i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))")))
        .as("shingle"))
  }

  /** The shingle CTE over an arbitrary (doc_id, text) source —
    * the battery oracles consume it over `documents`, the streaming
    * LSH screen's twin over a re-keyed delivery CTE. */
  private def shinglesSqlOver(src: String, cte: String): String =
    s"""$cte AS (
      SELECT DISTINCT doc_id,
        UNNEST([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                FOR i IN generate_series(1, len(ws)-2)]) AS shingle
      FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws
            FROM $src)
      WHERE len(ws) >= 3)"""

  private val shinglesSql = shinglesSqlOver("documents", "sh")

  /** PPJoin prefix tokens of any (doc_id, shingle) relation at
    * threshold t = 3/5: shingles ordered per document by ascending
    * GLOBAL frequency (ties by shingle), keep the first
    * sz − ceil(t·sz) + 1. Factored out so DedupSkewSpec can pin the
    * candidate/verify bound directly on the stage the query runs. */
  private[graft] def ppjoinPrefix(sh: DataFrame): DataFrame = {
    val s = sh.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val dfreq = sh.groupBy($"shingle").agg(count(lit(1)).as("df"))
    val wd = Window.partitionBy($"doc_id")
    sh.join(dfreq, "shingle")
      .withColumn("rn",
        row_number().over(wd.orderBy($"df", $"shingle")))
      .withColumn("sz", count(lit(1)).over(wd))
      // prefix length sz - ceil(3·sz/5) + 1, all-integer ceiling
      .filter($"rn" <= $"sz" - expr("(3*sz + 4) div 5") + 1)
      .select($"doc_id", $"shingle")
  }

  /** PPJoin candidate pairs: prefix-token equi-join, doc1 < doc2,
    * distinct. The verify stage's cost is |candidates| × doc size, so
    * THIS relation's cardinality is the whole skew story: prefixes
    * hold only each doc's rarest ~(1−t) fraction of tokens, so as long
    * as boilerplate makes up less than t of a document, every
    * corpus-wide hot shingle sorts PAST the prefix boundary and
    * contributes zero candidate pairs (DedupSkewSpec constructs the
    * adversarial corpus and pins this at exactly-one candidate). If
    * boilerplate exceeds t, hot tokens reach prefixes and candidates
    * grow — the documented PPJoin regime where one raises t or applies
    * the DfCap mitigation of dedup_ngram_jaccard_capped. */
  private[graft] def ppjoinCandidates(sh: DataFrame): DataFrame = {
    val prefix = ppjoinPrefix(sh)
    prefix.as("a").join(prefix.as("b"),
        col("a.shingle") === col("b.shingle") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
      .distinct()
  }

  /** Per-document MinHash signature (m0..m7), cached via the memo —
    * shingling + hashing + the min-aggregation run once however many
    * band frames consume it (at 100 TB: persist to disk or checkpoint
    * — signatures are tiny vs the corpus). */
  private def signatures(s: SparkSession, d: String): DataFrame =
    memoizedRel(s, "signatures", d)(signaturesOf(shingles(s, d)))

  /** MinHash signature (m0..m7) of any (doc_id, shingle) relation —
    * uncached; the full-corpus consumer above caches, the incremental
    * index paths consume once. */
  private def signaturesOf(sh: DataFrame): DataFrame = {
    val s = sh.sparkSession
    import s.implicits._
    val h = sh.select($"doc_id",
      // fused md5-prefix (round 18): bit-identical to the conv chain,
      // evaluated once per (doc, shingle) — the signature pass hot path
      graft.functions.Md5Prefix.md5_prefix($"shingle", 8).as("h"))
    val minCols = perms.zipWithIndex.map { case ((a, b), i) =>
      min(($"h" * a + b) % P).as(s"m$i")
    }
    h.groupBy($"doc_id").agg(minCols.head, minCols.tail: _*)
  }

  /** (band, doc_id, x, y) LSH band frame over a signature table. */
  private def bandsOf(sig: DataFrame): DataFrame =
    (0 until nBands).map { bi =>
      sig.select(lit(bi).as("band"), col("doc_id"),
        col(s"m${2 * bi}").as("x"), col(s"m${2 * bi + 1}").as("y"))
    }.reduce(_ union _)

  /** Per-bucket size + minimum doc_id appended to every band row via
    * ONE window over the same (band, x, y) key the downstream joins
    * shuffle on. A window beats the groupBy-stat + join-back shape
    * 3× here (measured at sf0.1: 0.95 s vs 2.6 s) because the stat
    * subplan and its join re-execute once per consumer branch, while
    * the window is one shuffle + sort whose output is already
    * hash-partitioned on the join key. Hot buckets stay bounded:
    * WindowExec buffers each bucket's frame in a spillable row array
    * (O(n) disk, bounded memory — never O(n²) pairs). */
  private def bandStats(bands: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("x"), col("y"))
    bands.withColumn("bsz", count(lit(1)).over(w))
      .withColumn("bmin", min(col("doc_id")).over(w))
  }

  /** LSH candidate pairs (doc1 < doc2), hot-bucket-guarded.
    *
    * The naive band self-join emits O(bucket²) pairs per join key; on
    * the workload LSH exists for — boilerplate-heavy crawl with
    * duplicate clusters of 10⁴-10⁶ documents — every copy lands in the
    * SAME bucket in all bands, so one key would produce 10⁸-10¹² pairs
    * in a single task (round-7 verdict: the one scale-killer left).
    * Guard, mirroring the DfCap pattern: buckets with ≤ `bucketCap`
    * members emit all pairs (the informative regime — small candidate
    * groups the pairwise scores downstream want); oversized buckets
    * emit STAR pairs (bucket minimum → every other member, O(n) per
    * key). Every emitted pair still shares a band signature, so it is a
    * genuine LSH candidate; connectivity is exactly preserved (any two
    * members of a hot bucket stay linked through its minimum), so
    * cluster-level consumers lose nothing — a mega-bucket IS one dedup
    * cluster, and its star is the cluster's spanning representation.
    * Per join key the output is now bounded by max(bucketCap², n). */
  /** Memoized cached band-stats relation: the (band, x, y) window
    * output feeds BOTH sides of the small self-join AND the star
    * branch (and the star-edge consumers), so without a cache the
    * union + window subtree executes once per consumer branch
    * (round-17 profiling: three executions per minhashPairs call).
    * bucketCap does not enter the stats, so one relation serves any
    * cap. */
  private def bandStatsRel(s: SparkSession, d: String): DataFrame =
    memoizedRel(s, "bandstats", d)(bandStats(bandsOf(signatures(s, d))))

  private[graft] def minhashPairs(s: SparkSession, d: String,
      bucketCap: Int = BucketCap): DataFrame = {
    val bb = bandStatsRel(s, d)
    val small = bb.filter(col("bsz") <= bucketCap)
    val smallPairs = small.as("l")
      .join(small.as("r"),
        col("l.band") === col("r.band") &&
        col("l.x") === col("r.x") && col("l.y") === col("r.y") &&
        col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc1"), col("r.doc_id").as("doc2"))
    val starPairs = bb
      .filter(col("bsz") > bucketCap && col("doc_id") =!= col("bmin"))
      .select(col("bmin").as("doc1"), col("doc_id").as("doc2"))
    smallPairs.union(starPairs).distinct()
  }

  /** Pure star edge list (doc1 = bucket min < doc2) for the clustering
    * consumers (dedup_components / dedup_cluster_canonical): every
    * bucket — hot or not — contributes member → bucket-minimum edges
    * only, O(n) per bucket with no self-join at all.
    *
    * Components equivalence (why this is safe): within one bucket the
    * full pair graph is a clique and the star is its spanning tree
    * rooted at the minimum — identical transitive closure; the union
    * across buckets of edge sets with identical per-bucket closures has
    * identical global closure. DedupSkewSpec proves it empirically on a
    * duplicate-heavy corpus against the full pair graph, and the
    * oracles below stay the UNCAPPED full-pair recursive CTE — the
    * hash match is the independent proof of the equivalence. */
  private[graft] def minhashStarEdges(s: SparkSession, d: String): DataFrame = {
    bandStatsRel(s, d)
      .filter(col("doc_id") =!= col("bmin"))
      .select(col("bmin").as("doc1"), col("doc_id").as("doc2"))
      .distinct()
  }

  /** MinHash estimator calibration over the LSH candidate set: for every
    * candidate pair, the 8-permutation signature match count (the
    * estimator pipelines threshold on) against the EXACT shingle-set
    * Jaccard, rolled up as a (n_match, jacc_decile) confusion histogram.
    * This is the tuning harness for the band/row parameters — it answers
    * "how many pairs the estimator would pass at threshold t are really
    * below t" without anyone eyeballing per-pair floats. Arithmetic is
    * all-integer (the decile is (10·common) div (union), never a float
    * ratio), so the oracle hash-matches exactly.
    *
    * Scale shape: candidates come from the guarded generator (bounded
    * per join key); the exact-Jaccard stage joins SHINGLES only against
    * candidate membership — pair × doc1-shingles, then an equi-join on
    * (doc2, shingle) — the PPJoin verify-stage cost, Θ(|candidates| ×
    * doc size), never corpus-quadratic. Signatures and shingles ride
    * the per-dataset memo (built once for the whole dedup family). */
  private[graft] def lshErrorProfile(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pairs = minhashPairs(s, d)
    val sig = signatures(s, d)
    val est = pairs
      .join(sig.as("s1"), col("doc1") === col("s1.doc_id"))
      .join(sig.as("s2"), col("doc2") === col("s2.doc_id"))
      .select($"doc1", $"doc2",
        perms.indices.map(i =>
          when(col(s"s1.m$i") === col(s"s2.m$i"), 1).otherwise(0))
          .reduce(_ + _).as("n_match"))
    val sh = shingles(s, d)
    val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
    val common = pairs
      .join(sh.select($"doc_id".as("doc1"), $"shingle"), "doc1")
      .join(sh.select($"doc_id".as("doc2"), $"shingle"),
        Seq("doc2", "shingle"))
      .groupBy($"doc1", $"doc2").agg(count(lit(1)).as("common"))
    est
      .join(common, Seq("doc1", "doc2"), "left")
      .na.fill(0L, Seq("common"))
      .join(sizes.select($"doc_id".as("doc1"), $"n_sh".as("n1")), "doc1")
      .join(sizes.select($"doc_id".as("doc2"), $"n_sh".as("n2")), "doc2")
      .selectExpr("n_match",
        "CAST((10 * common) DIV (n1 + n2 - common) AS INT) AS jacc_decile")
      .groupBy($"n_match", $"jacc_decile")
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Threshold-sensitivity sweep over the guarded LSH candidate set:
    * for each Jaccard cutoff t/10, how many candidate pairs survive
    * and how many documents get flagged as having a near-dup — the
    * table a pipeline owner reads before committing to a dedup
    * threshold (too low deletes content, too high keeps dupes).
    * Comparisons are integer cross-multiplications
    * (common·10 ≥ t·union), never float ratios; the sweep rides the
    * SAME candidate relation as dedup_minhash_lsh (never all-pairs),
    * exploded ×5 thresholds with immediate filtering, then two
    * tiny-key aggregations. */
  private[graft] def thresholdSweep(s: SparkSession, d: String)
      : DataFrame = {
    import s.implicits._
    val pairs = minhashPairs(s, d)
    val sh = shingles(s, d)
    val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
    val common = pairs
      .join(sh.select($"doc_id".as("doc1"), $"shingle"), "doc1")
      .join(sh.select($"doc_id".as("doc2"), $"shingle"),
        Seq("doc2", "shingle"))
      .groupBy($"doc1", $"doc2").agg(count(lit(1)).as("common"))
    val jac = pairs
      .join(common, Seq("doc1", "doc2"), "left")
      .na.fill(0L, Seq("common"))
      .join(sizes.select($"doc_id".as("doc1"), $"n_sh".as("n1")), "doc1")
      .join(sizes.select($"doc_id".as("doc2"), $"n_sh".as("n2")), "doc2")
      .selectExpr("doc1", "doc2", "common",
        "n1 + n2 - common AS uni")
    val kept = jac
      .select($"doc1", $"doc2", $"common", $"uni",
        explode(expr("array(5, 6, 7, 8, 9)")).as("t10"))
      .filter($"common" * 10 >= $"t10" * $"uni")
      .cache()
    val pAgg = kept.groupBy($"t10").agg(count(lit(1)).as("n_pairs"))
    val fAgg = kept
      .select($"t10", explode(array($"doc1", $"doc2")).as("doc"))
      .distinct()
      .groupBy($"t10").agg(count(lit(1)).as("n_docs_flagged"))
    // a cutoff no pair survives must still report (t, 0, 0) — the
    // sweep exists to show where the table goes empty, so the row
    // set is anchored on the threshold dimension, not the survivors
    val ts = s.range(5, 10).select($"id".cast("int").as("t10"))
    ts.join(pAgg, Seq("t10"), "left")
      .join(fAgg, Seq("t10"), "left")
      .select($"t10",
        coalesce($"n_pairs", lit(0L)).as("n_pairs"),
        coalesce($"n_docs_flagged", lit(0L)).as("n_docs_flagged"))
  }

  // ----- persisted LSH bucket index (incremental corpus dedup) ------------
  // The continuous-ingestion form of MinHash-LSH dedup: at 100 TB the
  // corpus grows by delivery, and re-shingling the WHOLE corpus to
  // screen each delivery is the job the index exists to avoid. The
  // index is the per-bucket SUMMARY of the base corpus's band frame —
  // (band, x, y) → (bmin = min member doc_id, bcnt = members) — not
  // the band rows themselves: probing is then an equi-join where the
  // index side has EXACTLY ONE row per key, so no bucket, however hot,
  // can blow the probe up (the hot-bucket problem is solved by the
  // representation instead of a guard), and the probe output is
  // exactly nBands rows per delivery doc. A doc's bands depend only on
  // its own text, and the summary fold (min, sum) is associative — so
  // the index grows by DELTA APPEND under the shared
  // [[graft.DeltaChain]] lifecycle (the co-purchase graph's chain):
  // a delivery's buckets are computed from the NEW FILES ONLY and
  // merge-on-load with the base, bit-identical to a full rebuild
  // (DedupIndexSpec proves it).
  //
  // Base/probe split: the indexed corpus is doc_id % 7 != 0; the
  // delivery screened by the query is doc_id % 7 == 0 (probing docs
  // against an index containing themselves would trivially self-match,
  // as with pipeline_contamination's %-20 eval split). Within-delivery
  // duplicates are the batch op's job (dedup_minhash_lsh over the
  // delivery); this op is the against-corpus screen.

  /** Index format version (1 = (band,x,y,bmin,bcnt) summary rows under
    * the DeltaChain sidecar layout). */
  private val IdxFmt = 1L

  private[graft] val idxChain = new graft.DeltaChain(
    "spark.graft.dedupidx.dir", "graft_dedup_idx", IdxFmt, "buckets")

  /** Per-bucket summary of a band frame. */
  private def bucketSummary(bands: DataFrame): DataFrame =
    bands.groupBy(col("band"), col("x"), col("y"))
      .agg(min(col("doc_id")).as("bmin"), count(lit(1)).as("bcnt"))

  /** Bucket summary of the base split (doc_id % 7 != 0) of a documents
    * relation — the build and delta computations share it, so the two
    * cannot disagree on the indexed population. */
  private def baseBuckets(docs: DataFrame): DataFrame =
    bucketSummary(bandsOf(signaturesOf(shinglesOf(
      docs.filter(col("doc_id") % 7 =!= 0)))))

  /** The LSH bucket index for dataset `d`: memo (warm session) →
    * persisted artifact (cold load) → delta append (grown documents
    * table — delivery files only) → full build, via the shared
    * [[graft.DeltaChain]]. Returned cached, merged across payload dirs
    * (min/sum fold — associative, so chain order is irrelevant).
    * Append boundary: delivered doc_ids must be strictly above the
    * build-time max (a re-delivered doc_id would double-count bcnt). */
  private[graft] def lshBucketIndex(s: SparkSession, d: String): DataFrame = {
    val tablePath = s"$d/documents.parquet"
    Memo.frame(s, "dedup_idx", "lsh_index", d, tablePath)(
      lshBucketIndexOf(s, d, tablePath))
  }

  private def lshBucketIndexOf(s: SparkSession, d: String,
      tablePath: String): DataFrame = {
    import s.implicits._
    def mergeBuckets(df: DataFrame): DataFrame =
      df.groupBy($"band", $"x", $"y")
        .agg(min($"bmin").as("bmin"), sum($"bcnt").as("bcnt"))
    val raw = idxChain.payload(s, d, tablePath,
      rows = Tables.documents(s, d).count(),
      build = () => {
        val docs = Tables.documents(s, d)
        val maxId = docs.agg(max($"doc_id")).first().getLong(0)
        (baseBuckets(docs), maxId)
      },
      delta = (newFiles, boundary) => {
        val delivery = s.read.parquet(newFiles: _*)
        val bounds = delivery.agg(min($"doc_id"), max($"doc_id")).first()
        if (bounds.isNullAt(0) || bounds.getLong(0) <= boundary) None
        else Some((baseBuckets(delivery), bounds.getLong(1)))
      },
      merge = mergeBuckets)
    mergeBuckets(raw)
  }

  /** The incremental-dedup screen: band the delivery split's documents
    * and probe the persisted index — per delivery doc, how many of its
    * nBands buckets already exist in the indexed corpus (n_hit_bands)
    * and the smallest indexed doc sharing one (match_doc, NULL when
    * clean). n_hit_bands/nBands estimates signature agreement exactly
    * the way LSH banding does; a downstream gate keeps docs with 0 hits
    * and routes the rest to pairwise verification. Scale shape: the
    * delivery is shingled once (never the base corpus), the probe is
    * ONE equi-join on (band, x, y) against a ≤-1-row-per-key summary,
    * and the output is bounded at nBands rows per delivery doc before
    * the final groupBy. */
  private[graft] def lshIncremental(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val idx = lshBucketIndex(s, d)
    val probes = bandsOf(signaturesOf(shinglesOf(
      Tables.documents(s, d).filter($"doc_id" % 7 === 0))))
    probes
      .join(idx.select($"band", $"x", $"y", $"bmin"),
        Seq("band", "x", "y"), "left")
      .groupBy($"doc_id")
      .agg(count($"bmin").as("n_hit_bands"), min($"bmin").as("match_doc"))
  }

  // ----- persisted exact-digest index (incremental exact dedup) -----------
  // The FIRST screen every ingestion pipeline runs — exact duplicates
  // by content digest — in its continuous form: the base corpus's
  // per-digest summary (digest → dmin = min member doc_id, dcnt =
  // copies) persists under a second [[graft.DeltaChain]]; a delivery
  // is screened by hashing ITS OWN text only and probing one equi-join
  // against the ≤-1-row-per-key summary. Where lshBucketIndex answers
  // "is this delivery doc NEAR a base doc", this answers "is it
  // byte-identical to one" — far cheaper (one digest per doc vs
  // shingles + signatures + bands), and it is the gate pipelines apply
  // BEFORE any fuzzy screen runs. Same base/probe split, same monotone
  // append boundary, same min/sum merge fold (associative, so the
  // chain order is irrelevant and compaction is exact).

  /** Digest-index format version (1 = (h, dmin, dcnt) summary rows). */
  private val DigestIdxFmt = 1L

  private[graft] val digestChain = new graft.DeltaChain(
    "spark.graft.digestidx.dir", "graft_digest_idx", DigestIdxFmt,
    "digests")

  /** Per-digest summary of the base split — shared by the build and
    * delta computations so they cannot disagree on the indexed
    * population or the digest definition. */
  private def baseDigestSummary(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("dmin"), count(lit(1)).as("dcnt"))

  /** The exact-digest index for dataset `d`: memo → cold artifact load
    * → delta append (delivery files only) → full build, via the shared
    * [[graft.DeltaChain]]; merged across payload dirs on load. */
  private[graft] def digestIndex(s: SparkSession, d: String): DataFrame = {
    val tablePath = s"$d/documents.parquet"
    Memo.frame(s, "dedup_digest", "digest_index", d, tablePath)(
      digestIndexOf(s, d, tablePath))
  }

  private def digestIndexOf(s: SparkSession, d: String,
      tablePath: String): DataFrame = {
    import s.implicits._
    def mergeDigests(df: DataFrame): DataFrame =
      df.groupBy($"h")
        .agg(min($"dmin").as("dmin"), sum($"dcnt").as("dcnt"))
    val raw = digestChain.payload(s, d, tablePath,
      rows = Tables.documents(s, d).count(),
      build = () => {
        val docs = Tables.documents(s, d)
        val maxId = docs.agg(max($"doc_id")).first().getLong(0)
        (baseDigestSummary(docs), maxId)
      },
      delta = (newFiles, boundary) => {
        val delivery = s.read.parquet(newFiles: _*)
        val bounds = delivery.agg(min($"doc_id"), max($"doc_id")).first()
        if (bounds.isNullAt(0) || bounds.getLong(0) <= boundary) None
        else Some((baseDigestSummary(delivery), bounds.getLong(1)))
      },
      merge = mergeDigests)
    mergeDigests(raw)
  }

  /** The incremental exact-dedup screen: digest the delivery and probe
    * the persisted index — per delivery doc, the smallest
    * byte-identical indexed doc (match_doc, NULL when clean) and how
    * many indexed copies exist (n_copies, 0 when clean). The delivery
    * models both real ingestion cases: the probe split's fresh docs
    * (doc_id % 7 == 0 — the synthetic corpus has no byte-identical
    * pairs, so these screen clean) plus RE-INGESTED copies of indexed
    * docs (every % 11 == 0 base doc re-keyed above 10^6 — the crawl
    * re-fetch / re-delivered-shard case the screen exists to catch;
    * each must hit its original). ONE digest per delivery doc, ONE
    * equi-join against a ≤-1-row-per-key summary; the base corpus
    * text is never re-read at probe time. */
  private[graft] def exactIncremental(s: SparkSession, d: String)
      : DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val probe = docs.filter($"doc_id" % 7 === 0)
      .select($"doc_id", $"text")
      .unionAll(docs
        .filter($"doc_id" % 11 === 0 && $"doc_id" % 7 =!= 0)
        .select(($"doc_id" + 1000000L).as("doc_id"), $"text"))
    val idx = digestIndex(s, d)
    probe
      .select($"doc_id", md5($"text".cast("binary")).as("h"))
      .join(idx, Seq("h"), "left")
      .select($"doc_id", $"dmin".as("match_doc"),
        coalesce($"dcnt", lit(0L)).as("n_copies"))
  }

  /** Shared CTE prefix: shingles -> hashes -> signatures -> band frame. */
  private[graft] lazy val sigCtesSql: String = {
    val minExprs = perms.zipWithIndex.map { case ((a, b), i) =>
      s"MIN((h * $a + $b) % $P) AS m$i"
    }.mkString(", ")
    val bandSelects = (0 until nBands).map { bi =>
      s"SELECT $bi AS band, doc_id, m${2 * bi} AS x, m${2 * bi + 1} AS y FROM sig"
    }.mkString(" UNION ALL ")
    s"""$shinglesSql,
    hv AS (SELECT doc_id,
      CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT) AS h FROM sh),
    sig AS (SELECT doc_id, $minExprs FROM hv GROUP BY doc_id),
    bands AS ($bandSelects)"""
  }

  /** The guarded candidate-pair chain as reusable CTEs (`cand`), shared
    * by the pair query's oracle and the error-profile oracle so the two
    * cannot disagree on the candidate rule. */
  private[graft] lazy val candCtesSql: String =
    s"""bstat AS (SELECT band, x, y, COUNT(*) AS bsz, MIN(doc_id) AS bmin
              FROM bands GROUP BY 1, 2, 3),
    bb AS (SELECT b.*, s.bsz, s.bmin
           FROM bands b JOIN bstat s USING (band, x, y)),
    cand AS (SELECT DISTINCT doc1, doc2 FROM (
      SELECT l.doc_id AS doc1, r.doc_id AS doc2
      FROM bb l JOIN bb r
        ON l.band = r.band AND l.x = r.x AND l.y = r.y
        AND l.doc_id < r.doc_id
      WHERE l.bsz <= $BucketCap
      UNION ALL
      SELECT bmin AS doc1, doc_id AS doc2 FROM bb
      WHERE bsz > $BucketCap AND doc_id <> bmin))"""

  /** Hybrid (guarded) pair oracle: all pairs from small buckets, star
    * pairs from oversized ones — the dedup_minhash_lsh contract. */
  private lazy val minhashPairsSql: String =
    s"""WITH $sigCtesSql,
    $candCtesSql
    SELECT doc1, doc2 FROM cand"""

  /** UNCAPPED full-pair SQL — deliberately kept for the components
    * oracles: the Spark side clusters over star edges, the oracle over
    * the complete pair graph, and the hash match proves the two have
    * identical connected components. */
  private lazy val fullPairsSql: String =
    s"""WITH $sigCtesSql
    SELECT DISTINCT l.doc_id AS doc1, r.doc_id AS doc2
    FROM bands l JOIN bands r
      ON l.band = r.band AND l.x = r.x AND l.y = r.y
      AND l.doc_id < r.doc_id"""

  /** Recursive connected-components CTE body over the LSH candidate
    * graph (WITH RECURSIVE must be supplied by the caller) — shared by
    * the dedup_components and dedup_cluster_canonical oracles. */
  private lazy val componentsCtes: String =
    s"""cand AS ($fullPairsSql),
    edges AS (SELECT doc1 AS a, doc2 AS b FROM cand
              UNION SELECT doc2, doc1 FROM cand),
    nodes AS (SELECT DISTINCT a AS doc FROM edges),
    reach(doc, r) AS (
      SELECT doc, doc FROM nodes
      UNION
      SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.doc)"""

  /** Document-frequency cap for dedup_ngram_jaccard_capped: a shingle in
    * more docs than this is treated as boilerplate and dropped before
    * the inverted-index join (bounds any join key at DfCap^2 pairs).
    * 5 is deliberately low so the cap demonstrably bites on the test
    * corpus (max df there is 9); production would set it ~1000s. */
  private val DfCap = 5

  /** LSH bucket-size cap for the dedup_minhash_lsh pair surface: a band
    * bucket with more members than this emits star pairs (bucket min →
    * member) instead of all pairs, bounding every join key at
    * max(BucketCap², n) output rows. 2 is deliberately low so the star
    * branch demonstrably bites on the test corpus (max bucket there is
    * 3-4) and the DuckDB oracle exercises BOTH branches; production
    * would set it ~1000s (the largest candidate group worth pairwise
    * scoring) — beyond that a bucket is a dedup cluster, not a pair
    * list. */
  private[graft] val BucketCap = 2

  // MinHash parameters: 8 permutations = 4 bands x 2 rows.
  // (a*h + b) mod p with h < 2^32 and a < 2^21 stays within int64.
  private val P = 2147483647L
  private val perms: Seq[(Long, Long)] = Seq(
    (1299721L, 104729L), (1299827L, 224737L), (1301081L, 350377L),
    (1302151L, 479909L), (1303241L, 611953L), (1304281L, 746773L),
    (1305407L, 882377L), (1306601L, 1020379L))
  private val nBands = 4

  /** The (band, doc_id, x, y) band frame computed PER ROW — no
    * explode, no groupBy: each m_i is `array_min` over the doc's own
    * shingle array of exactly the permuted hash the signature
    * aggregation MINs over, so the value set is identical and
    * rowBands ≡ bandsOf(signaturesOf(shinglesOf(docs))) (DedupIndexSpec
    * proves the equality). This is the shuffle-free form a STREAMING
    * probe needs: the batch paths amortize one cached signature
    * relation across many consumers; a stream computes each delivered
    * doc's bands inline as a stateless projection. */
  private[graft] def rowBands(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val ms = perms.zipWithIndex.map { case ((a, b), i) =>
      array_min(transform($"sh", g =>
        (graft.functions.Md5Prefix.md5_prefix(g, 8) * lit(a) + lit(b))
          % lit(P))).as(s"m$i")
    }
    val sig = docs
      .select($"doc_id", split(lower($"text"), "\\s+").as("ws"))
      .filter(size($"ws") >= 3)
      .select($"doc_id", expr(
        """array_distinct(transform(sequence(0, size(ws)-3),
             i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2])))""").as("sh"))
      .select(($"doc_id" +: ms): _*)
    (0 until nBands).map { bi =>
      sig.select(lit(bi).as("band"), $"doc_id",
        col(s"m${2 * bi}").as("x"), col(s"m${2 * bi + 1}").as("y"))
    }.reduce(_ unionAll _)
  }

  /** The groupBy band frame over arbitrary docs (test hook for the
    * rowBands equivalence proof). */
  private[graft] def groupByBands(docs: DataFrame): DataFrame =
    bandsOf(signaturesOf(shinglesOf(docs)))

  /** Oracle for the streaming LSH screen's batch twin
    * (dedup_lsh_screen_stream_twin): base-split bucket minima probed
    * by the re-keyed %-5 delivery's band frame — the whole chain
    * re-derived from raw text. */
  private[graft] lazy val lshScreenTwinSql: String = {
    val minExprs = perms.zipWithIndex.map { case ((a, b), i) =>
      s"MIN((h * $a + $b) % $P) AS m$i"
    }.mkString(", ")
    val bandSelects = (0 until nBands).map { bi =>
      s"SELECT $bi AS band, doc_id, m${2 * bi} AS x, m${2 * bi + 1} AS y FROM psig"
    }.mkString(" UNION ALL ")
    s"""WITH $sigCtesSql,
    bidx AS (SELECT band, x, y, MIN(doc_id) AS bmin
             FROM bands WHERE doc_id % 7 <> 0 GROUP BY 1, 2, 3),
    pdocs AS (SELECT doc_id + 2000000 AS doc_id, text FROM documents
              WHERE doc_id % 5 = 0),
    ${shinglesSqlOver("pdocs", "psh")},
    phv AS (SELECT doc_id,
      CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT) AS h FROM psh),
    psig AS (SELECT doc_id, $minExprs FROM phv GROUP BY doc_id),
    pbands AS ($bandSelects)
    SELECT p.doc_id, p.band, bidx.bmin
    FROM pbands p JOIN bidx USING (band, x, y)"""
  }

  /** Eval splits small enough to force-broadcast in the fuzzy
    * contamination joins. Each eval document contributes `nBands` band
    * rows (4 ints) and one 8-column signature row, so 5M docs is
    * low-hundreds of MB on the wire — comfortably a broadcast; above
    * it the hint would push an executor-OOM-sized table to every task. */
  private[graft] val EvalBroadcastDocCap = 5000000L

  /** The pipeline_contamination_fuzzy body, with the round-6 verdict's
    * size guard: the forced `broadcast()` hints on the eval side assume
    * the eval split fits in executor memory (the real-world contract —
    * eval sets are bounded while train grows). That assumption is now
    * CHECKED: one cheap count of eval documents (a single-column scan of
    * 1/20 of the corpus, far below the signature groupBy the query runs
    * anyway) gates the hints; past `broadcastDocCap` they are dropped
    * and AQE picks the join strategy from observed runtime sizes.
    * Results are hint-independent (BroadcastGuardSpec runs both
    * branches). */
  private[graft] def contaminationFuzzy(s: SparkSession, d: String,
      broadcastDocCap: Long = EvalBroadcastDocCap): DataFrame = {
    import s.implicits._
    val evalDocs = Tables.documents(s, d)
      .filter($"doc_id" % 20 === 0).count()
    def maybeBroadcast(df: DataFrame): DataFrame =
      if (evalDocs <= broadcastDocCap) broadcast(df) else df
    val sig = signatures(s, d)
    val bands = bandsOf(sig)
    val train = bands.filter($"doc_id" % 20 =!= 0)
      .select($"band", $"x", $"y", $"doc_id".as("train_doc_id"))
    val eval = bands.filter($"doc_id" % 20 === 0)
      .select($"band", $"x", $"y", $"doc_id".as("eval_doc_id"))
    val cand = train.join(maybeBroadcast(eval), Seq("band", "x", "y"))
      .select($"train_doc_id", $"eval_doc_id").distinct()
    val matches = perms.indices.map(i =>
      when(col(s"ts.m$i") === col(s"es.m$i"), 1).otherwise(0))
      .reduce(_ + _)
    // only eval-side signatures can match the eval join key — filter
    // before broadcasting so the broadcast is 1/20 of the signature
    // table, not all of it
    val evalSig = sig.filter($"doc_id" % 20 === 0)
    cand.join(sig.as("ts"), $"train_doc_id" === $"ts.doc_id")
      .join(maybeBroadcast(evalSig.as("es")), $"eval_doc_id" === $"es.doc_id")
      .select($"train_doc_id", $"eval_doc_id",
        (matches.cast("double") / perms.length).as("est_jaccard"))
  }

  /** Min-label propagation to a fixpoint over an undirected edge list
    * (`src`/`dst` columns; callers pass both directions). Returns
    * (doc_id, component) where component = min reachable doc_id.
    *
    * Iteration discipline (the pagerank pattern, Graph.scala): every
    * iteration's labels are EAGERLY `localCheckpoint`ed — the join
    * output materializes once and the lineage truncates, so iteration N
    * reads a flat scan instead of re-deriving N nested joins — and the
    * superseded iteration's checkpoint storage is unpersisted as soon
    * as the new one exists, so the loop holds at most TWO label sets
    * (current + the one being built) however many rounds it runs. The
    * `changed` convergence flag rides the update join (the old label is
    * already in scope there; a separate comparison join would double
    * the per-iteration join count). `onIteration` fires after each
    * round (spec probe; default no-op). */
  private[graft] def connectedComponents(edges: DataFrame, maxIters: Int = 20,
      onIteration: Int => Unit = _ => ()): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val sc = s.sparkContext
    // localCheckpoint storage is RDD-level (not CacheManager), so the
    // handle for freeing a superseded iteration is the checkpointed RDD
    // behind the returned plan's LogicalRDD leaf — attributed from the
    // plan itself, NOT by diffing getPersistentRDDs, which would race
    // with any other query caching concurrently on the same session
    def ckpt(df: DataFrame): (DataFrame, Set[Int]) = {
      val out = df.localCheckpoint() // eager: materialize + cut lineage
      val ids = out.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
      }.toSet
      (out, ids)
    }
    var (labels, labelIds) = ckpt(
      edges.select($"src".as("doc_id")).distinct()
        .withColumn("component", $"doc_id"))
    var converged = false
    var iters = 0
    while (!converged && iters < maxIters) {
      val viaNeighbors = edges
        .join(labels, $"dst" === $"doc_id")
        .groupBy($"src")
        .agg(min($"component").as("ncomp"))
      val (next, nextIds) = ckpt(labels
        .join(viaNeighbors, $"doc_id" === $"src", "left")
        .select($"doc_id",
          least($"component", coalesce($"ncomp", $"component"))
            .as("component"),
          (coalesce($"ncomp", $"component") < $"component").as("changed")))
      val changed = next.filter($"changed").count()
      // `next` is materialized; the previous labels checkpoint is now
      // unreachable — free it deterministically rather than waiting on
      // the ContextCleaner's GC cycle
      labelIds.foreach(id =>
        sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
      labels = next.select($"doc_id", $"component")
      labelIds = nextIds
      converged = changed == 0
      iters += 1
      onIteration(iters)
    }
    labels
  }

  val defs: Seq[Q] = Seq(

    // ----- exact dedup: content-hash groupBy ------------------------------
    Q("dedup_exact",
      (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .groupBy(md5($"text".cast("binary")).as("content_hash"))
          .agg(min($"doc_id").as("keep_doc_id"),
            count(lit(1)).as("n_copies"))
      },
      Some("""SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_doc_id,
        COUNT(*) AS n_copies FROM documents GROUP BY 1""")),

    // ----- per-document n-gram novelty (curation diversity score) ---------
    // How much of each document's shingle set appears for the FIRST time
    // in it, attributing every shingle to its lowest doc_id — the
    // deterministic stand-in for arrival order. Curation uses this to
    // downweight documents that only repeat earlier material (the
    // batch-mode cousin of the Bloom-filter novelty gate in
    // dedup_bloom_prefilter). Scale shape: two shingle-keyed hash
    // aggregations and one join against a 1-row-per-shingle side — all
    // map-side-combinable; a stop-shingle's hot join key streams n rows
    // past its single stat row, never n² (the DfCap discussion).
    Q("text_ngram_novelty",
      (s, d) => {
        import s.implicits._
        val sh = shingles(s, d) // memo-cached
        val firstSeen = sh.groupBy($"shingle")
          .agg(min($"doc_id").as("first_seen"))
        sh.join(firstSeen, "shingle")
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_shingles"),
            sum(when($"first_seen" === $"doc_id", 1L).otherwise(0L))
              .as("n_novel"))
          .select($"doc_id", $"n_shingles", $"n_novel",
            round($"n_novel".cast("double") /
              $"n_shingles".cast("double"), 6).as("novelty_r"))
      },
      Some(s"""WITH $shinglesSql,
        fs AS (SELECT shingle, MIN(doc_id) AS first_seen FROM sh GROUP BY 1)
        SELECT doc_id, COUNT(*) AS n_shingles,
          CAST(SUM(CASE WHEN first_seen = doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
          round(CAST(SUM(CASE WHEN first_seen = doc_id THEN 1 ELSE 0 END)
              AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS novelty_r
        FROM sh JOIN fs USING (shingle) GROUP BY 1""")),

    // ----- n-gram Jaccard near-dup via shingle inverted index -------------
    Q("dedup_ngram_jaccard",
      (s, d) => {
        import s.implicits._
        val sh = shingles(s, d) // memo-cached
        val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
        val common = sh.as("a")
          .join(sh.as("b"),
            col("a.shingle") === col("b.shingle") &&
            col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
          .agg(count(lit(1)).as("common"))
        common
          .join(sizes.select($"doc_id".as("doc1"), $"n_sh".as("n1")), "doc1")
          .join(sizes.select($"doc_id".as("doc2"), $"n_sh".as("n2")), "doc2")
          .select($"doc1", $"doc2",
            ($"common".cast("double") / ($"n1" + $"n2" - $"common"))
              .as("jaccard"))
          .filter($"jaccard" >= 0.5)
      },
      Some(s"""WITH $shinglesSql,
        sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        common AS (
          SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS common
          FROM sh a JOIN sh b
            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT doc1, doc2,
          CAST(common AS DOUBLE) / (s1.n_sh + s2.n_sh - common) AS jaccard
        FROM common
        JOIN sizes s1 ON s1.doc_id = doc1
        JOIN sizes s2 ON s2.doc_id = doc2
        WHERE CAST(common AS DOUBLE) / (s1.n_sh + s2.n_sh - common) >= 0.5""")),

    // ----- PPJoin: prefix-filtered EXACT Jaccard threshold join -----------
    // The classic exact set-similarity join (Xiao/Wang/Lin/Yu, WWW'08):
    // order every document's shingles by ascending global frequency
    // (ties by shingle), index only the first sz - ceil(t·sz) + 1 of
    // them, and join on those prefixes — any pair with J ≥ t MUST share
    // a prefix token, so verifying exact Jaccard on the candidates
    // alone is provably complete. Two properties make this THE scale
    // shape for exact near-dup joins:
    //   1. the join index holds ~(1-t) of the corpus tokens, and
    //   2. corpus-wide boilerplate shingles (the hot keys that forced
    //      DfCap on the raw inverted index) sort LAST in the frequency
    //      order and never enter a prefix — the algorithm is inherently
    //      hot-key-resistant, no cap or salt needed.
    // Thresholding is integer-exact (5·inter ≥ 3·union for t = 3/5);
    // the reported jaccard is one double division, identical cross-
    // engine. THE ORACLE RUNS THE NAIVE ALL-PAIRS JOIN instead — hash
    // equality therefore independently proves the prefix filter dropped
    // no qualifying pair, not merely that both engines agree on the
    // same shortcut.
    Q("dedup_ppjoin",
      (s, d) => {
        import s.implicits._
        val sh = shingles(s, d) // memo-cached
        val cand = ppjoinCandidates(sh)
        val common = cand
          .join(sh.select($"doc_id".as("doc1"), $"shingle"), "doc1")
          .join(sh.select($"doc_id".as("doc2"), $"shingle"),
            Seq("doc2", "shingle"))
          .groupBy($"doc1", $"doc2").agg(count(lit(1)).as("common"))
        val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
        common
          .join(sizes.select($"doc_id".as("doc1"), $"n_sh".as("n1")),
            "doc1")
          .join(sizes.select($"doc_id".as("doc2"), $"n_sh".as("n2")),
            "doc2")
          .filter($"common" * 5 >= ($"n1" + $"n2" - $"common") * 3)
          .select($"doc1", $"doc2",
            ($"common".cast("double") / ($"n1" + $"n2" - $"common"))
              .as("jaccard"))
      },
      Some(s"""WITH $shinglesSql,
        sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        common AS (
          SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS common
          FROM sh a JOIN sh b
            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT doc1, doc2,
          CAST(common AS DOUBLE) / (s1.n_sh + s2.n_sh - common) AS jaccard
        FROM common
        JOIN sizes s1 ON s1.doc_id = doc1
        JOIN sizes s2 ON s2.doc_id = doc2
        WHERE common * 5 >= (s1.n_sh + s2.n_sh - common) * 3""")),

    // ----- asymmetric containment (doc-in-doc detection) ------------------
    // Containment C(a in b) = |S(a) ∩ S(b)| / |S(a)| finds documents
    // mostly embedded in larger ones (quote-inflated pages, concatenated
    // dumps) that symmetric Jaccard misses: a 50-shingle doc fully inside
    // a 5000-shingle doc has J ≈ 0.01 but C = 1.0 (Broder, "On the
    // resemblance and containment of documents", SEQUENCES 1997). Same
    // inverted-index shape as dedup_ngram_jaccard — one shuffle on
    // shingle, then integer-only arithmetic (10*inter >= 9*|S(a)| avoids
    // float thresholds entirely), so the plan and the scale caveats are
    // identical to the jaccard variant (hot-shingle cap available the
    // same way).
    Q("dedup_containment",
      (s, d) => {
        import s.implicits._
        val sh = shingles(s, d) // memo-cached
        val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
        val inter = sh.as("a")
          .join(sh.as("b"),
            col("a.shingle") === col("b.shingle") &&
            col("a.doc_id") =!= col("b.doc_id"))
          .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .agg(count(lit(1)).as("inter_n"))
        inter
          .join(sizes.select($"doc_id".as("doc_a"), $"n_sh".as("a_sh")), "doc_a")
          .join(sizes.select($"doc_id".as("doc_b"), $"n_sh".as("b_sh")), "doc_b")
          .filter($"inter_n" * 10 >= $"a_sh" * 9 && $"a_sh" <= $"b_sh")
          .select($"doc_a", $"doc_b", $"inter_n", $"a_sh", $"b_sh")
      },
      Some(s"""WITH $shinglesSql,
        sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter_n
          FROM sh a JOIN sh b
            ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
          GROUP BY 1, 2)
        SELECT doc_a, doc_b, inter_n, sa.n_sh AS a_sh, sb.n_sh AS b_sh
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE inter_n * 10 >= sa.n_sh * 9 AND sa.n_sh <= sb.n_sh""")),

    // ----- DF-capped n-gram Jaccard (hot-shingle skew safety) -------------
    // The uncapped inverted-index join above is sub-quadratic only while
    // no shingle is hot: one boilerplate shingle shared by F documents
    // contributes F^2 candidate pairs into a single join key — the skew
    // that stalls a 100 TB run. The standard fix (stopword-shingle
    // dropping): compute document frequency per shingle — one aggregation
    // on the SAME key the join shuffles on, so the partitioning is
    // reused — and drop shingles with df > DfCap before the join. Each
    // surviving key now contributes <= DfCap^2 pairs, bounding every
    // join partition; jaccard is over the retained shingle sets (the
    // accepted approximation: pairs similar only through boilerplate are
    // exactly the ones a dedup pipeline wants to ignore).
    // DedupSkewSpec proves the cap bites on this corpus and bounds the
    // retained df.
    Q("dedup_ngram_jaccard_capped",
      (s, d) => {
        import s.implicits._
        val sh = shingles(s, d)
        val kept = sh.groupBy($"shingle").agg(count(lit(1)).as("df"))
          .filter($"df" <= DfCap)
          .select($"shingle")
        // consumed three times (sizes + both join sides); at 100 TB
        // persist to disk instead — still tiny next to the corpus text
        val capped = sh.join(kept, "shingle").cache()
        val sizes = capped.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
        val common = capped.as("a")
          .join(capped.as("b"),
            col("a.shingle") === col("b.shingle") &&
            col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
          .agg(count(lit(1)).as("common"))
        common
          .join(sizes.select($"doc_id".as("doc1"), $"n_sh".as("n1")), "doc1")
          .join(sizes.select($"doc_id".as("doc2"), $"n_sh".as("n2")), "doc2")
          .select($"doc1", $"doc2",
            ($"common".cast("double") / ($"n1" + $"n2" - $"common"))
              .as("jaccard"))
          .filter($"jaccard" >= 0.5)
      },
      Some(s"""WITH $shinglesSql,
        kept AS (
          SELECT shingle FROM sh GROUP BY shingle
          HAVING COUNT(*) <= $DfCap),
        capped AS (SELECT sh.* FROM sh JOIN kept USING (shingle)),
        sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM capped
                  GROUP BY doc_id),
        common AS (
          SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS common
          FROM capped a JOIN capped b
            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT doc1, doc2,
          CAST(common AS DOUBLE) / (s1.n_sh + s2.n_sh - common) AS jaccard
        FROM common
        JOIN sizes s1 ON s1.doc_id = doc1
        JOIN sizes s2 ON s2.doc_id = doc2
        WHERE CAST(common AS DOUBLE) / (s1.n_sh + s2.n_sh - common) >= 0.5""")),

    // ----- MinHash + LSH banding: candidate near-dup pairs ----------------
    Q("dedup_minhash_lsh",
      (s, d) => minhashPairs(s, d),
      Some(minhashPairsSql),
      headline = true),

    // ----- MinHash estimator calibration (error profile) ------------------
    // The tuning harness for the LSH parameters (lshErrorProfile doc):
    // (signature match count × exact-Jaccard decile) confusion histogram
    // over the candidate set. The oracle re-derives candidates, both
    // estimators, and the exact shingle intersection from raw text via
    // the SHARED cand/sig CTEs, so a hash match proves the Spark chain
    // (guarded candidates → signature compare → candidate-restricted
    // shingle join) computes the same calibration surface end to end.
    Q("dedup_lsh_error_profile",
      (s, d) => lshErrorProfile(s, d),
      Some {
        val matchSql = perms.indices
          .map(i => s"CASE WHEN ts.m$i = es.m$i THEN 1 ELSE 0 END")
          .mkString(" + ")
        s"""WITH $sigCtesSql,
        $candCtesSql,
        sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
        common AS (
          SELECT c.doc1, c.doc2, COUNT(*) AS common
          FROM cand c
          JOIN sh a ON a.doc_id = c.doc1
          JOIN sh b ON b.doc_id = c.doc2 AND b.shingle = a.shingle
          GROUP BY 1, 2),
        est AS (
          SELECT c.doc1, c.doc2, CAST($matchSql AS INT) AS n_match
          FROM cand c
          JOIN sig ts ON ts.doc_id = c.doc1
          JOIN sig es ON es.doc_id = c.doc2)
        SELECT e.n_match,
          CAST((10 * COALESCE(cm.common, 0))
            // (s1.n_sh + s2.n_sh - COALESCE(cm.common, 0)) AS INT)
            AS jacc_decile,
          COUNT(*) AS n_pairs
        FROM est e
        LEFT JOIN common cm ON cm.doc1 = e.doc1 AND cm.doc2 = e.doc2
        JOIN sizes s1 ON s1.doc_id = e.doc1
        JOIN sizes s2 ON s2.doc_id = e.doc2
        GROUP BY 1, 2"""
      }),

    // ----- dedup threshold-sensitivity sweep ------------------------------
    // Before committing a corpus to one Jaccard cutoff, the sweep
    // (object doc on [[thresholdSweep]]): surviving candidate pairs +
    // flagged-document counts at t = 0.5..0.9, integer cross-mult
    // comparisons, riding the SAME guarded candidate set as
    // dedup_minhash_lsh.
    Q("dedup_threshold_sweep",
      (s, d) => thresholdSweep(s, d),
      Some(s"""WITH $sigCtesSql,
        $candCtesSql,
        sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
        common AS (
          SELECT c.doc1, c.doc2, COUNT(*) AS common
          FROM cand c
          JOIN sh a ON a.doc_id = c.doc1
          JOIN sh b ON b.doc_id = c.doc2 AND b.shingle = a.shingle
          GROUP BY 1, 2),
        jac AS (
          SELECT c.doc1, c.doc2, COALESCE(cm.common, 0) AS common,
            s1.n_sh + s2.n_sh - COALESCE(cm.common, 0) AS uni
          FROM cand c
          LEFT JOIN common cm ON cm.doc1 = c.doc1 AND cm.doc2 = c.doc2
          JOIN sizes s1 ON s1.doc_id = c.doc1
          JOIN sizes s2 ON s2.doc_id = c.doc2),
        sw AS (
          SELECT t10, doc1, doc2 FROM jac,
            (SELECT unnest([5, 6, 7, 8, 9]) AS t10) ts
          WHERE common * 10 >= t10 * uni),
        p AS (SELECT t10, COUNT(*) AS n_pairs FROM sw GROUP BY 1),
        f AS (SELECT t10, COUNT(DISTINCT doc) AS n_docs_flagged FROM (
            SELECT t10, doc1 AS doc FROM sw
            UNION ALL SELECT t10, doc2 FROM sw) GROUP BY 1),
        ths AS (SELECT unnest([5, 6, 7, 8, 9]) AS t10)
        SELECT CAST(ths.t10 AS INT) AS t10,
          CAST(COALESCE(p.n_pairs, 0) AS BIGINT) AS n_pairs,
          CAST(COALESCE(f.n_docs_flagged, 0) AS BIGINT) AS n_docs_flagged
        FROM ths
        LEFT JOIN p ON p.t10 = ths.t10
        LEFT JOIN f ON f.t10 = ths.t10""")),

    // ----- incremental dedup against the persisted LSH bucket index -------
    // The continuous-ingestion screen (object notes above lshBucketIndex):
    // the delivery split probes the base corpus's persisted per-bucket
    // summary — one equi-join, index side ≤ 1 row per key, the base
    // corpus text never re-read. The oracle re-derives the whole chain
    // (shingles → signatures → bands → base-split summary → probe join)
    // from the raw text, so a hash match proves the persisted artifact
    // and its delta-append fold lose nothing vs recomputation.
    Q("dedup_lsh_incremental",
      (s, d) => lshIncremental(s, d),
      Some(s"""WITH $sigCtesSql,
        bidx AS (
          SELECT band, x, y, MIN(doc_id) AS bmin
          FROM bands WHERE doc_id % 7 <> 0 GROUP BY 1, 2, 3),
        probe AS (
          SELECT band, x, y, doc_id FROM bands WHERE doc_id % 7 = 0)
        SELECT probe.doc_id, COUNT(bidx.bmin) AS n_hit_bands,
          MIN(bidx.bmin) AS match_doc
        FROM probe LEFT JOIN bidx USING (band, x, y)
        GROUP BY 1""")),

    // ----- incremental EXACT dedup against the persisted digest index -----
    // The screen pipelines run before any fuzzy pass (object notes
    // above digestIndex): one digest per delivery doc, one equi-join
    // against the base corpus's persisted (digest → min doc, copies)
    // summary. The oracle re-derives base summary and probe from raw
    // text, so a hash match proves the artifact + its delta-append
    // fold equal full recomputation.
    Q("dedup_exact_incremental",
      (s, d) => exactIncremental(s, d),
      Some("""WITH bidx AS (
          SELECT md5(text) AS h, MIN(doc_id) AS dmin, COUNT(*) AS dcnt
          FROM documents WHERE doc_id % 7 <> 0 GROUP BY 1),
        probe AS (
          SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0
          UNION ALL
          SELECT doc_id + 1000000, text FROM documents
          WHERE doc_id % 11 = 0 AND doc_id % 7 <> 0)
        SELECT p.doc_id, bidx.dmin AS match_doc,
          CAST(COALESCE(bidx.dcnt, 0) AS BIGINT) AS n_copies
        FROM probe p LEFT JOIN bidx ON md5(p.text) = bidx.h""")),

    // ----- fuzzy train/eval contamination via MinHash ---------------------
    // pipeline_contamination (Pipeline.scala) catches exact shared
    // 4-grams; paraphrased or lightly-edited eval leakage slips past an
    // exact-gram join. This is the fuzzy detector a real pretraining
    // pipeline runs next to it: LSH banding proposes (train, eval)
    // candidates, then the full 8-permutation signature match rate
    // estimates Jaccard — no text re-scan at pair time. Scale shape:
    // signatures are a single groupBy over the corpus; the band join is
    // an equi-join whose eval side (doc_id % 20 == 0, 1/20 of docs) is
    // broadcast; the signature re-joins key on doc_id. Nothing pairwise
    // ever touches document text.
    Q("pipeline_contamination_fuzzy",
      (s, d) => contaminationFuzzy(s, d),
      Some {
        val matchSql = perms.indices
          .map(i => s"CASE WHEN ts.m$i = es.m$i THEN 1 ELSE 0 END")
          .mkString(" + ")
        s"""WITH $sigCtesSql,
        cand AS (
          SELECT DISTINCT t.doc_id AS train_doc_id, e.doc_id AS eval_doc_id
          FROM bands t JOIN bands e
            ON t.band = e.band AND t.x = e.x AND t.y = e.y
          WHERE t.doc_id % 20 <> 0 AND e.doc_id % 20 = 0)
        SELECT train_doc_id, eval_doc_id,
          CAST($matchSql AS DOUBLE) / ${perms.length} AS est_jaccard
        FROM cand
        JOIN sig ts ON ts.doc_id = train_doc_id
        JOIN sig es ON es.doc_id = eval_doc_id"""
      }),

    // ----- connected components over candidate pairs (dedup clusters) ----
    // Pregel-style min-label propagation over the LSH candidate graph:
    // each doc's component id converges to the minimum doc_id reachable.
    // Iterative (a driver loop of joins) — the standard Spark shape for
    // small-diameter graphs; near-dup clusters converge in a few rounds.
    // Round-8: the input is the per-bucket STAR edge list, not the pair
    // self-join — O(n) per bucket however hot, provably the same
    // components (see minhashStarEdges), and the star's hub topology
    // converges FASTER (a hot bucket collapses to its minimum in one
    // round instead of flooding a clique). The oracle computes the same
    // fixpoint with a recursive CTE over the UNCAPPED full pair graph —
    // the hash match is the equivalence proof.
    Q("dedup_components",
      (s, d) => {
        import s.implicits._
        val pairs = minhashStarEdges(s, d).cache()
        val edges = pairs.select($"doc1".as("src"), $"doc2".as("dst"))
          .union(pairs.select($"doc2".as("src"), $"doc1".as("dst")))
          .cache()
        try connectedComponents(edges)
        finally { edges.unpersist(); pairs.unpersist() }
      },
      Some(s"""WITH RECURSIVE $componentsCtes
        SELECT doc AS doc_id, MIN(r) AS component
        FROM reach GROUP BY doc""")),

    // ----- canonical-doc selection per near-dup cluster -------------------
    // The dedup DECISION step that consumes the clusters: per connected
    // component, keep the longest document (ties to the smallest
    // doc_id) and report what was collapsed — the "keep one per
    // near-dup cluster" judgment pretraining dedup actually ships
    // (exact-fp twin: text_canonical_pick). Composes the iterative
    // connectedComponents fixpoint with a per-component argmax. Scale
    // shape: components as dedup_components (banded equi-join + bounded
    // checkpointed loop), then one broadcast-sized join to the doc
    // lengths and one window over components — partitioned by the
    // cluster id, whose groups are near-dup cluster sizes (small by
    // construction), so the window never sees a mega-partition.
    Q("dedup_cluster_canonical",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val pairs = minhashStarEdges(s, d).cache()
        val edges = pairs.select($"doc1".as("src"), $"doc2".as("dst"))
          .union(pairs.select($"doc2".as("src"), $"doc1".as("dst")))
          .cache()
        val labels =
          try connectedComponents(edges)
          finally { edges.unpersist(); pairs.unpersist() }
        val len = Tables.documents(s, d).select($"doc_id", $"n_chars")
        val w = Window.partitionBy($"component")
          .orderBy($"n_chars".desc, $"doc_id".asc)
        labels.join(len, "doc_id")
          .withColumn("rn", row_number().over(w))
          .withColumn("cluster_size",
            count(lit(1)).over(Window.partitionBy($"component")))
          .filter($"rn" === 1)
          .select($"component", $"doc_id".as("keep_doc_id"),
            $"n_chars".as("keep_n_chars"), $"cluster_size")
      },
      Some(s"""WITH RECURSIVE $componentsCtes,
        comp AS (
          SELECT doc AS doc_id, MIN(r) AS component
          FROM reach GROUP BY doc)
        SELECT component, doc_id AS keep_doc_id,
          n_chars AS keep_n_chars, cluster_size
        FROM (
          SELECT comp.component, comp.doc_id, d.n_chars,
            ROW_NUMBER() OVER (PARTITION BY comp.component
              ORDER BY d.n_chars DESC, comp.doc_id ASC) AS rn,
            COUNT(*) OVER (PARTITION BY comp.component) AS cluster_size
          FROM comp JOIN documents d ON d.doc_id = comp.doc_id)
        WHERE rn = 1""")),

    // ----- leakage-safe train/val split -----------------------------------
    // The split the dedup family exists to make safe: a plain random
    // split leaks — a near-duplicate pair straddling train/val inflates
    // eval (the validation doc is effectively IN the training set). The
    // fix is to split by near-dup CLUSTER, not by document: connected
    // components over the banded LSH pair graph, singletons keeping
    // their own id, then one deterministic rule (component % 10 → 80/20)
    // assigns the WHOLE cluster to one side. By construction no edge can
    // straddle the split (both endpoints share a component — LeakageSpec
    // pins it mechanically); the assignment is reproducible run to run
    // because the component label is the cluster's min doc_id, not
    // anything order-dependent. Scale shape: identical to
    // dedup_components (banded equi-join + checkpointed fixpoint) plus
    // ONE broadcast-sized left join against the doc list and a per-row
    // projection — no new shuffle class.
    Q("pipeline_leakage_split",
      (s, d) => {
        import s.implicits._
        val pairs = minhashStarEdges(s, d).cache()
        val edges = pairs.select($"doc1".as("src"), $"doc2".as("dst"))
          .union(pairs.select($"doc2".as("src"), $"doc1".as("dst")))
          .cache()
        val comps = try connectedComponents(edges)
          finally { edges.unpersist(); pairs.unpersist() }
        Tables.documents(s, d).select($"doc_id")
          .join(comps, Seq("doc_id"), "left")
          .withColumn("component", coalesce($"component", $"doc_id"))
          .withColumn("split",
            when($"component" % 10 < 8, "train").otherwise("val"))
      },
      Some(s"""WITH RECURSIVE $componentsCtes,
        comp AS (
          SELECT doc AS doc_id, MIN(r) AS component
          FROM reach GROUP BY doc)
        SELECT d.doc_id,
          COALESCE(c.component, d.doc_id) AS component,
          CASE WHEN COALESCE(c.component, d.doc_id) % 10 < 8
               THEN 'train' ELSE 'val' END AS split
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id""")),

    // ----- dedup-aware sampling weights (soft dedup) ----------------------
    // The alternative to hard removal: instead of keeping one canonical
    // doc per near-dup cluster (dedup_cluster_canonical), keep EVERY
    // doc but downweight it by its cluster size — sampling weight
    // 1/|cluster| — so the cluster as a whole contributes one
    // document's worth of probability mass to the training mix. This
    // is the inverse-propensity "soft dedup" reweighting used when the
    // duplicates carry signal (popularity, canonical-version drift)
    // that hard dedup would erase; downstream samplers consume the
    // weight column directly. Weights are emitted in integer parts
    // per million (1000000 div |cluster|) so the oracle hash-matches
    // exactly — no float division anywhere.
    //
    // Scale shape: identical to dedup_components (star edges +
    // checkpointed fixpoint) plus ONE count aggregate on the component
    // key and ONE left join back to the doc list; singletons never
    // enter the edge graph at all — they ride the left join with
    // coalesce(component, doc_id) and weight 1000000. No new shuffle
    // class, and the per-component count is bounded by near-dup
    // cluster sizes.
    Q("pipeline_cluster_weights",
      (s, d) => {
        import s.implicits._
        val pairs = minhashStarEdges(s, d).cache()
        val edges = pairs.select($"doc1".as("src"), $"doc2".as("dst"))
          .union(pairs.select($"doc2".as("src"), $"doc1".as("dst")))
          .cache()
        val comps = try connectedComponents(edges)
          finally { edges.unpersist(); pairs.unpersist() }
        val labeled = Tables.documents(s, d).select($"doc_id")
          .join(comps, Seq("doc_id"), "left")
          .withColumn("component", coalesce($"component", $"doc_id"))
        val sizes = labeled.groupBy($"component")
          .agg(count(lit(1)).as("cluster_size"))
        labeled.join(sizes, "component")
          .select($"doc_id", $"component", $"cluster_size",
            expr("1000000L div cluster_size").as("weight_ppm"))
      },
      Some(s"""WITH RECURSIVE $componentsCtes,
        comp AS (
          SELECT doc AS doc_id, MIN(r) AS component
          FROM reach GROUP BY doc),
        labeled AS (
          SELECT d.doc_id,
            COALESCE(c.component, d.doc_id) AS component
          FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
        sizes AS (
          SELECT component, COUNT(*) AS cluster_size
          FROM labeled GROUP BY 1)
        SELECT l.doc_id, l.component, s.cluster_size,
          1000000 // s.cluster_size AS weight_ppm
        FROM labeled l JOIN sizes s ON l.component = s.component""")),

    // ----- cross-source duplication matrix --------------------------------
    // WHERE the near-duplication lives, at the corpus-composition
    // level: for every unordered source pair, how many LSH candidate
    // pairs straddle (or stay inside) it. This is the table curation
    // reads before choosing what to crawl less of — two "different"
    // sources sharing a fat off-diagonal cell are mirroring each
    // other, and the diagonal cells rank sources by internal
    // redundancy. Pair surface = the SAME guarded minhashPairs as
    // dedup_minhash_lsh (and the oracle embeds the same guarded cand
    // CTEs), so the matrix cannot disagree with the pair tool it
    // summarizes. Scale shape: two narrow joins from the k-bounded
    // candidate list to the (doc_id, source) projection — shuffles on
    // the high-cardinality doc key, then ONE rollup on the tiny
    // (source, source) key; the pair matrix itself never re-forms.
    Q("dedup_source_overlap",
      (s, d) => {
        import s.implicits._
        val pairs = minhashPairs(s, d)
        val src = Tables.documents(s, d).select($"doc_id", $"source")
        pairs
          .join(src.select($"doc_id".as("doc1"), $"source".as("s1")), "doc1")
          .join(src.select($"doc_id".as("doc2"), $"source".as("s2")), "doc2")
          .select(least($"s1", $"s2").as("source_a"),
            greatest($"s1", $"s2").as("source_b"))
          .groupBy($"source_a", $"source_b")
          .agg(count(lit(1)).as("n_pairs"))
      },
      Some(s"""WITH $sigCtesSql,
        $candCtesSql,
        sp AS (
          SELECT d1.source AS s1, d2.source AS s2
          FROM cand c
          JOIN documents d1 ON d1.doc_id = c.doc1
          JOIN documents d2 ON d2.doc_id = c.doc2)
        SELECT LEAST(s1, s2) AS source_a, GREATEST(s1, s2) AS source_b,
          COUNT(*) AS n_pairs
        FROM sp GROUP BY 1, 2""")),

    // ----- SimHash (32-bit) fingerprints ----------------------------------
    Q("dedup_simhash",
      (s, d) => {
        import s.implicits._
        val words = Tables.documents(s, d)
          .select($"doc_id",
            explode(split(lower($"text"), "\\s+")).as("word"))
          .select($"doc_id",
            graft.functions.Md5Prefix.md5_prefix($"word", 8).as("h"))
        val sumCols = (0 until 32).map { b =>
          sum(when(shiftright($"h", b).bitwiseAND(1L) === 1L, 1L)
            .otherwise(-1L)).as(s"b$b")
        }
        val bitSums = words.groupBy($"doc_id")
          .agg(sumCols.head, sumCols.tail: _*)
        bitSums.select($"doc_id",
          (0 until 32).map { b =>
            when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L))
          }.reduce(_ + _).as("simhash"))
      },
      Some {
        val sums = (0 until 32).map { b =>
          s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS b$b"
        }.mkString(", ")
        val bits = (0 until 32).map { b =>
          s"CASE WHEN b$b > 0 THEN ${1L << b} ELSE 0 END"
        }.mkString(" + ")
        s"""WITH words AS (
          SELECT doc_id, CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) AS h
          FROM (SELECT doc_id,
                  UNNEST(string_split_regex(lower(text), '\\s+')) AS w
                FROM documents)),
        bitsums AS (SELECT doc_id, $sums FROM words GROUP BY doc_id)
        SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM bitsums"""
      }),

    // ----- SimHash via native TypedImperativeAggregate --------------------
    // Same semantics and oracle as dedup_simhash, but one single-pass
    // custom aggregate (graft.functions.SimHashAgg) instead of 32 SUM
    // columns — the preferred shape at scale (one buffer, map-side
    // combine, no wide intermediate row).
    Q("dedup_simhash_native",
      (s, d) => {
        import s.implicits._
        import graft.functions.SimHashAgg.simhash_agg
        Tables.documents(s, d)
          .select($"doc_id",
            explode(split(lower($"text"), "\\s+")).as("word"))
          .select($"doc_id",
            graft.functions.Md5Prefix.md5_prefix($"word", 8).as("h"))
          .groupBy($"doc_id")
          .agg(simhash_agg($"h").as("simhash"))
      },
      Some {
        val sums = (0 until 32).map { b =>
          s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS b$b"
        }.mkString(", ")
        val bits = (0 until 32).map { b =>
          s"CASE WHEN b$b > 0 THEN ${1L << b} ELSE 0 END"
        }.mkString(" + ")
        s"""WITH words AS (
          SELECT doc_id, CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) AS h
          FROM (SELECT doc_id,
                  UNNEST(string_split_regex(lower(text), '\\s+')) AS w
                FROM documents)),
        bitsums AS (SELECT doc_id, $sums FROM words GROUP BY doc_id)
        SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM bitsums"""
      }),

    // ----- SimHash near-dup retrieval (hamming <= 3) ----------------------
    // The lookup the fingerprints exist for. Pigeonhole level 1: split
    // each 32-bit signature into 4 byte-bands; any pair within hamming
    // distance 3 agrees exactly on >= 1 band. Level 2 (round-8, the
    // Manku/Jain/Sarma WWW'07 multi-table refinement): GIVEN a matching
    // band j, all <= 3 differing bits lie in the remaining 24 bits, so
    // splitting those into 4 six-bit sub-blocks, >= 1 sub-block must
    // ALSO match exactly — joining on (j, byte, k, sub-block) is still a
    // complete candidate generator, and bit_count(xor) verifies exactly.
    // Why the second level matters at scale: the level-1 key space is
    // only 4 x 256 = 1024 buckets, so bucket occupancy grows LINEARLY
    // with the corpus (10^9 docs -> ~10^6 docs per bucket -> 10^12
    // candidates per key); level 2 widens the space to 4 x 256 x 4 x 64
    // = 2^20, squashing random collisions by ~64x per key while leaving
    // the verified output bit-identical (the oracle deliberately stays
    // single-level — the hash match proves candidate-set completeness).
    // Honest bound: a mega-cluster of IDENTICAL documents collides in
    // every refined bucket and its hamming-0 pairs are all in the
    // OUTPUT, which no candidate scheme can make sub-quadratic — for
    // that regime use the star-guarded cluster surface
    // (dedup_components / dedup_cluster_canonical), not a pair list
    // (see BucketCap; DedupSkewSpec measures both shapes).
    Q("dedup_simhash_pairs",
      (s, d) => {
        import s.implicits._
        import graft.functions.SimHashAgg.simhash_agg
        val sigs = Tables.documents(s, d)
          .select($"doc_id",
            explode(split(lower($"text"), "\\s+")).as("word"))
          .select($"doc_id",
            graft.functions.Md5Prefix.md5_prefix($"word", 8).as("h"))
          .groupBy($"doc_id")
          .agg(simhash_agg($"h").as("sig"))
        // rem = the 24 bits outside band j, packed low-to-high; sb =
        // its k-th 6-bit sub-block. 16 rows per doc (4 j x 4 k).
        val bands = sigs.select($"doc_id", $"sig", explode(expr(
          """flatten(transform(sequence(0, 3), j ->
               transform(sequence(0, 3), k ->
                 struct(j AS j,
                        shiftright(sig, j * 8) & 255L AS b,
                        k AS k,
                        shiftright(
                          CASE j
                            WHEN 0 THEN shiftright(sig, 8) & 16777215L
                            WHEN 1 THEN (sig & 255L)
                              | shiftleft(shiftright(sig, 16) & 65535L, 8)
                            WHEN 2 THEN (sig & 65535L)
                              | shiftleft(shiftright(sig, 24) & 255L, 16)
                            ELSE sig & 16777215L
                          END, k * 6) & 63L AS sb))))"""))
          .as("band"))
          .select($"doc_id", $"sig",
            $"band.j", $"band.b", $"band.k", $"band.sb")
        val l = bands.select($"doc_id".as("d1"), $"sig".as("s1"),
          $"j", $"b", $"k", $"sb")
        val r = bands.select($"doc_id".as("d2"), $"sig".as("s2"),
          $"j", $"b", $"k", $"sb")
        l.join(r, Seq("j", "b", "k", "sb"))
          .filter($"d1" < $"d2")
          .select($"d1", $"d2",
            bit_count($"s1".bitwiseXOR($"s2")).as("hamming"))
          .distinct()
          .filter($"hamming" <= 3)
      },
      Some {
        val sums = (0 until 32).map { b =>
          s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS b$b"
        }.mkString(", ")
        val bits = (0 until 32).map { b =>
          s"CASE WHEN b$b > 0 THEN ${1L << b} ELSE 0 END"
        }.mkString(" + ")
        s"""WITH words AS (
          SELECT doc_id, CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) AS h
          FROM (SELECT doc_id,
                  UNNEST(string_split_regex(lower(text), '\\s+')) AS w
                FROM documents)),
        bitsums AS (SELECT doc_id, $sums FROM words GROUP BY doc_id),
        sigs AS (SELECT doc_id, CAST($bits AS BIGINT) AS sig FROM bitsums),
        bands AS (
          SELECT doc_id, sig, j, (sig >> (j * 8)) & 255 AS b
          FROM sigs, (SELECT unnest(generate_series(0, 3)) AS j)),
        cand AS (
          SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2,
            l.sig AS s1, r.sig AS s2
          FROM bands l JOIN bands r ON l.j = r.j AND l.b = r.b
          WHERE l.doc_id < r.doc_id)
        SELECT d1, d2, CAST(bit_count(xor(s1, s2)) AS INT) AS hamming
        FROM cand WHERE bit_count(xor(s1, s2)) <= 3"""
      }),

    // ----- duplicated-chunk detection (exact substring dedup) -------------
    // MassiveText/CCNet-style: cut every document into non-overlapping
    // 10-token chunks, hash each, and measure per document what fraction
    // of its chunks occur anywhere else in the corpus (including other
    // copies of itself). Catches partial/templated duplication that
    // whole-document hashing misses, without the quadratic pair space of
    // similarity joins — the corpus-wide chunk frequency is ONE hash
    // aggregation on the chunk digest.
    //
    // Scale: explode is pipelined (no shuffle); the frequency count is a
    // window over the chunk hash = a single shuffle on a high-cardinality
    // well-distributed key (md5), then the per-doc rollup shuffles on
    // doc_id. At 100 TB, the chunk→count map never materializes on the
    // driver and duplicate-heavy hashes skew nothing (counts are
    // pre-combined map-side by AQE/partial aggregation in the window's
    // sort-based fallback; the hot hash IS the signal).
    Q("dedup_chunk",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val chunks = Tables.documents(s, d)
          .select($"doc_id", split($"text", " ").as("w"))
          .select($"doc_id", explode(expr(
            """transform(sequence(0, (size(w) - 1) div 10),
                 i -> array_join(slice(w, i * 10 + 1, 10), ' '))"""))
            .as("chunk"))
          .select($"doc_id", md5($"chunk".cast("binary")).as("h"))
        chunks
          .withColumn("cnt", count(lit(1)).over(Window.partitionBy($"h")))
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_chunks"),
               sum(when($"cnt" > 1, 1L).otherwise(0L)).as("n_dup"))
          .withColumn("dup_frac",
            $"n_dup".cast("double") / $"n_chunks")
      },
      Some("""WITH c AS (
          SELECT doc_id,
            unnest([md5(array_to_string(w[i * 10 + 1 : i * 10 + 10], ' '))
                    FOR i IN generate_series(0, (len(w) - 1) // 10)]) AS h
          FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
        f AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY h) AS cnt FROM c)
        SELECT doc_id, COUNT(*) AS n_chunks,
          CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
          CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS DOUBLE)
            / COUNT(*) AS dup_frac
        FROM f GROUP BY 1""")),

    // ----- content-defined chunk dedup (CDC breakpoints) ------------------
    // The edit-robust refinement of dedup_chunk: FIXED 10-token chunks
    // shift wholesale when one token is inserted (every downstream
    // chunk re-cuts, so a near-copy with one extra word shares ~zero
    // chunks with its original); CONTENT-DEFINED cuts (the FastCDC /
    // rsync breakpoint idea, here at token granularity) place a
    // boundary after every token whose hash ≡ 0 (mod 8) — a property
    // of the CONTENT, so an insertion re-cuts only the single run it
    // lands in and every other chunk survives verbatim. Expected chunk
    // ~8 tokens (geometric), hard max 16 via in-run subsplit (bounds
    // per-chunk memory at 100 TB the way FastCDC's max bound does).
    //
    // Scale: the whole chunker is per-row higher-order functions —
    // boundary scan, run construction, subsplit — so it PIPELINES
    // (zero window functions, zero shuffles before the digest agg);
    // then the same two exchanges as dedup_chunk (corpus-wide count on
    // the well-distributed md5 digest, per-doc rollup). CdcChunkSpec
    // pins the edit-robustness property that justifies the op: one
    // front-inserted token changes O(1) CDC chunks but ~all fixed
    // chunks.
    Q("dedup_cdc_chunk",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        cdcChunks(Tables.documents(s, d))
          .select($"doc_id", md5($"chunk".cast("binary")).as("h"))
          .withColumn("cnt", count(lit(1)).over(Window.partitionBy($"h")))
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_chunks"),
               sum(when($"cnt" > 1, 1L).otherwise(0L)).as("n_dup"))
          .withColumn("dup_frac",
            $"n_dup".cast("double") / $"n_chunks")
      },
      Some("""WITH t AS (
          SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        b AS (SELECT doc_id, w,
            [i FOR i IN generate_series(1, len(w))
               IF CAST('0x' || substr(md5(w[i]), 1, 8) AS BIGINT) % 8 = 0]
              AS bps
          FROM t),
        r AS (SELECT doc_id, w, list_prepend(0, bps) AS starts,
            list_append(bps, len(w)) AS ends FROM b),
        runs AS (SELECT doc_id, w,
            [{'s': starts[j], 'l': ends[j] - starts[j]}
             FOR j IN generate_series(1, len(starts))
             IF ends[j] - starts[j] > 0] AS rs
          FROM r),
        c AS (SELECT doc_id,
            unnest(flatten([[array_to_string(w[rr.s + 1 + k * 16 :
                rr.s + k * 16 + least(16, rr.l - k * 16)], ' ')
              FOR k IN generate_series(0, (rr.l - 1) // 16)]
              FOR rr IN rs])) AS chunk
          FROM runs),
        f AS (SELECT doc_id,
            COUNT(*) OVER (PARTITION BY md5(chunk)) AS cnt FROM c)
        SELECT doc_id, COUNT(*) AS n_chunks,
          CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_dup,
          CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS DOUBLE)
            / COUNT(*) AS dup_frac
        FROM f GROUP BY 1"""))
  )

  /** Content-defined chunker (doc_id, chunk): boundary after token t
    * iff the low 32 bits of md5(t) ≡ 0 (mod 8); runs between
    * boundaries subsplit at 16 tokens. Pure per-row HOFs end to end —
    * exposed for [[graft.CdcChunkSpec]]'s edit-robustness property. */
  private[graft] def cdcChunks(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select($"doc_id", split($"text", " ").as("w"))
      // 1-based boundary positions: token index i (0-based) cuts AFTER
      // itself when its hash bucket is 0 of 8
      .withColumn("bps", expr(
        """filter(transform(w, (t, i) ->
             IF(cast(conv(substring(md5(cast(t AS binary)), 1, 8), 16, 10)
                  AS bigint) % 8 = 0, i + 1, -1)),
           x -> x >= 0)"""))
      // runs between cut points, empty runs dropped (adjacent
      // boundaries / trailing boundary)
      .withColumn("rs", expr(
        """filter(
             zip_with(concat(array(0), bps), concat(bps, array(size(w))),
               (a, b) -> struct(a AS s, b - a AS l)),
             r -> r.l > 0)"""))
      .select($"doc_id", explode(expr(
        """flatten(transform(rs, r ->
             transform(sequence(0, (r.l - 1) div 16), k ->
               array_join(slice(w, r.s + 1 + k * 16,
                 least(16, r.l - k * 16)), ' '))))""")).as("chunk"))
  }
}
