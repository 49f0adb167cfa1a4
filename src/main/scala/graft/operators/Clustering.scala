package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding clustering (builder brief; SURVEY.md §2C): deterministic
  * k-means (Lloyd's algorithm) over the `embeddings` table — the standard
  * corpus-curation primitive behind semantic dedup, topic balancing, and
  * IVF index training — plus SemDeDup-style semantic deduplication that
  * uses the clusters as blocking.
  *
  * Scale design (100 TB): this is the canonical Spark k-means shape (the
  * same one MLlib uses):
  *   - centroids are k x dim doubles — collected to the driver once per
  *     iteration and broadcast back; the corpus itself never shuffles,
  *   - assignment is a narrow map over a broadcast of k centroids,
  *   - the update step is one hash aggregation per iteration: per-cluster
  *     per-dimension sums with map-side partial aggregation — only
  *     k * dim partial sums per task cross the wire.
  * Semantic dedup then self-joins WITHIN clusters only: the quadratic
  * pair space shrinks by ~k (with balanced clusters) and the join is a
  * shuffle on the cluster id — the cross-cluster pairs k-means separates
  * are exactly the ones SemDeDup's approximation discards.
  *
  * Cross-engine determinism (hash-matched against an unrolled DuckDB
  * oracle, see Registry.scala notes):
  *   - per-dimension cluster sums are exact scaled integers
  *     (floor(x * 10^12) as BIGINT), so Spark's partial-aggregation
  *     order and DuckDB's sequential order cannot diverge — the
  *     centroid update is order-independent and EXACT, which also makes
  *     the whole clustering independent of partitioning (rerun-stable
  *     at any cluster size, a property float-sum k-means
  *     implementations do not have);
  *   - distances fold sequentially in array order (zip_with + aggregate
  *     vs DuckDB list comprehension) — bit-identical doubles;
  *   - init is the first k vectors by vec_id; assignment ties break to
  *     the lowest centroid id on both engines.
  *
  * Background: Lloyd, "Least squares quantization in PCM" (IEEE Trans.
  * Inf. Theory 1982); same broadcast-assign/aggregate-update shape as
  * Spark MLlib KMeans; semantic dedup as in SemDeDup (Abbas et al.,
  * 2023): cluster first, then near-dup search within clusters only.
  */
object Clustering {

  private val K = 8
  private val Iters = 3
  private val Dim = 64
  private val SemThreshold = 0.3

  /** Squared-L2 outlier threshold for sim_centroid_outliers — sits in
    * the p95-p99 band of the assignment-distance distribution on this
    * corpus (measured at sf0.01: p50 0.93, p95 0.99, max 1.04), so the
    * count demonstrably bites without flagging the bulk. */
  private val OutlierSqDist = 1.0

  /** Squared-L2 distance, sequential fold (bit-identical to the oracle's
    * `list_sum([(v[i]-c[i])^2 ...])`). */
  private val distExpr =
    "aggregate(zip_with(v, c, (x, y) -> (x - y) * (x - y)), " +
      "CAST(0.0 AS DOUBLE), (acc, z) -> acc + z)"

  private def embDouble(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, d)
      .select($"vec_id",
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
  }

  /** One Lloyd assignment pass: nearest centroid per vector (ties -> the
    * lowest centroid id; min over struct(dist, cid) mirrors the oracle's
    * ORDER BY dist, cid). */
  private def assign(e: DataFrame, cents: DataFrame): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    e.crossJoin(broadcast(cents))
      .select($"vec_id", expr(distExpr).as("dist"), $"cid")
      .groupBy($"vec_id")
      .agg(min(struct($"dist", $"cid")).as("m"))
      .select($"vec_id", $"m.cid".as("cluster"), $"m.dist".as("dist"))
  }

  /** Full deterministic k-means run -> (vec_id, cluster, dist). */
  private[graft] def kmeans(s: SparkSession, d: String): DataFrame =
    kmeansCore(s, d)._2

  /** Trained centroids per dataset dir: k x dim plain doubles, ~4 KB.
    * Three battery queries (sim_kmeans_cluster, dedup_semantic,
    * sim_ann_ivf_kmeans) depend on the same model; memoizing the trained
    * model in [[graft.Memo]] (family "kmeans", guarded by the embeddings
    * table's content) means the 3-iteration Lloyd job runs once per
    * dataset, and the training-time embedding cache can be unpersisted
    * as soon as training finishes instead of living for the session. */
  private def trained(s: SparkSession, d: String): Seq[(Long, Seq[Double])] =
    graft.Memo.value(s, "kmeans", "centroids", d,
      s"$d/embeddings.parquet")(train(s, d))

  /** Trained centroid vectors in cid order — the offline-index artifact
    * the IVF-PQ coarse quantizer embeds as a plan literal. Bit-identical
    * to the oracle's `c3` CTE (integer-exact updates, see class doc). */
  private[operators] def trainedCentroidArrays(
      s: SparkSession, d: String): Seq[Seq[Double]] =
    trained(s, d).map(_._2)

  /** The trained model + assignment: (centroids (cid, c), assignment
    * (vec_id, cluster, dist)) after [[Iters]] Lloyd iterations. */
  private[graft] def kmeansCore(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    import s.implicits._
    val cents = trained(s, d).toDF("cid", "c")
    // final assignment is one narrow pass over the (uncached) embeddings
    (cents, assign(embDouble(s, d), cents))
  }

  /** Run the Lloyd iterations; the embeddings are cached only for the
    * duration of training (assign + update scan them each iteration) and
    * unpersisted before returning. */
  private def train(s: SparkSession, d: String): Seq[(Long, Seq[Double])] = {
    import s.implicits._
    val e = embDouble(s, d).cache()
    var cents = e.filter($"vec_id" < K)
      .select($"vec_id".as("cid"), $"v".as("c"))
    try {
      for (_ <- 1 to Iters) {
      // update: exact per-dimension means, then the k x dim centroid
      // table returns to the driver (tiny) and is broadcast into the
      // next assignment — the corpus never shuffles. Each element is
      // floor-scaled to a BIGINT (floor(x * 10^12) — one
      // correctly-rounded IEEE multiply and a floor, identical on both
      // engines; decimal casts are NOT portable: Spark rounds the
      // shortest string repr, DuckDB a scaled double). The per-cluster
      // sum stays integer (order-free); sum and 10^12 are both < 2^53
      // so the casts to double are exact and the two divisions are
      // identical IEEE ops on both engines. At production row counts
      // the scaled sum would outgrow int64; there you'd sum
      // DECIMAL(38,12) and accept last-ulp wobble.
      val centRows = assign(e, cents)
        .join(e, "vec_id")
        .select($"cluster", posexplode($"v"))
        .groupBy($"cluster", $"pos")
        .agg((sum(floor($"col" * lit(1.0e12))).cast("double") /
          lit(1.0e12) / count(lit(1))).as("cv"))
        .groupBy($"cluster")
        .agg(array_sort(collect_list(struct($"pos", $"cv"))).as("ps"))
        .select($"cluster", expr("transform(ps, p -> p.cv)").as("c"))
        .collect()
      val next = centRows.map(r =>
        (r.getLong(0), r.getSeq[Double](1))).toSeq.sortBy(_._1)
      cents = next.toDF("cid", "c")
      }
      cents.collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq.sortBy(_._1)
    } finally e.unpersist()
  }

  /** Name of the final-centroid CTE inside [[kmeansCtes]]. */
  private[operators] def finalCentsCte: String = s"c$Iters"

  /** Shared oracle prefix: CTEs through the final assignment `fin`
    * (vec_id, v, cluster, dist). Also reused by sim_ann_ivfpq's oracle,
    * whose coarse quantizer is this trained model. */
  private[operators] lazy val kmeansCtes: String = {
    def iter(it: Int): String = {
      val prev = s"c${it - 1}"
      s"""a$it AS (
        SELECT vec_id, v, cluster, dist FROM (
          SELECT e.vec_id, e.v, $prev.cid AS cluster,
            list_sum([(v[i]-c[i])*(v[i]-c[i])
                      FOR i IN generate_series(1, len(v))]) AS dist,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              list_sum([(v[i]-c[i])*(v[i]-c[i])
                        FOR i IN generate_series(1, len(v))]) ASC,
              $prev.cid ASC) AS rn
          FROM e, $prev) WHERE rn = 1),
      s$it AS (
        SELECT cluster, j,
          CAST(CAST(SUM(CAST(floor(v[j] * 1000000000000.0) AS BIGINT))
              AS BIGINT) AS DOUBLE)
            / 1000000000000.0 / COUNT(*) AS cv
        FROM a$it, generate_series(1, $Dim) t(j) GROUP BY cluster, j),
      c$it AS (
        SELECT cluster AS cid, list(cv ORDER BY j) AS c
        FROM s$it GROUP BY cluster)"""
    }
    s"""e AS (
      -- the update step hardcodes generate_series(1, $Dim); assert the
      -- real dim here so a mismatch errors loudly instead of silently
      -- producing NULL v[j] terms and a drifting oracle
      SELECT vec_id,
        CASE WHEN len(embedding) = $Dim
          THEN [CAST(x AS DOUBLE) FOR x IN embedding]
          ELSE error('embedding dim <> $Dim') END AS v
      FROM embeddings),
    c0 AS (SELECT vec_id AS cid, v AS c FROM e WHERE vec_id < $K),
    ${(1 to Iters).map(iter).mkString(",\n")},
    fin AS (
      SELECT vec_id, v, cluster, dist FROM (
        SELECT e.vec_id, e.v, c$Iters.cid AS cluster,
          list_sum([(v[i]-c[i])*(v[i]-c[i])
                    FOR i IN generate_series(1, len(v))]) AS dist,
          ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
            list_sum([(v[i]-c[i])*(v[i]-c[i])
                      FOR i IN generate_series(1, len(v))]) ASC,
            c$Iters.cid ASC) AS rn
        FROM e, c$Iters) WHERE rn = 1)"""
  }

  val defs: Seq[Q] = Seq(

    Q("sim_kmeans_cluster",
      (s, d) => kmeans(s, d),
      Some(s"WITH $kmeansCtes SELECT vec_id, cluster, dist FROM fin")),

    // ----- semantic dedup: within-cluster cosine near-dup pairs -----------
    // SemDeDup shape: the k-means clusters block the pair space, the
    // cosine threshold decides near-duplicates. The self-join shuffles
    // on the cluster id only; pairs split across clusters are the
    // accepted approximation (they are exactly the pairs the clustering
    // judged dissimilar).
    Q("dedup_semantic",
      (s, d) => {
        import s.implicits._
        val withV = kmeans(s, d).select($"vec_id", $"cluster")
          .join(embDouble(s, d), "vec_id")
        val l = withV.select($"cluster".as("cl"), $"vec_id".as("v1"),
          $"v".as("av"))
        val r = withV.select($"cluster".as("cr"), $"vec_id".as("v2"),
          $"v".as("bv"))
        l.join(r, $"cl" === $"cr" && $"v1" < $"v2")
          .select($"cl".as("cluster"), $"v1", $"v2",
            (graft.functions.VecDot.vec_dot($"av", $"bv") /
              (sqrt(graft.functions.VecDot.vec_dot($"av", $"av")) *
               sqrt(graft.functions.VecDot.vec_dot($"bv", $"bv"))))
              .as("cos"))
          .filter($"cos" > SemThreshold)
      },
      Some(s"""WITH $kmeansCtes
        SELECT a.cluster, a.vec_id AS v1, b.vec_id AS v2,
          list_sum([av[i] * bv[i] FOR i IN generate_series(1, len(av))])
            / (sqrt(list_sum([x * x FOR x IN av])) *
               sqrt(list_sum([x * x FOR x IN bv]))) AS cos
        FROM (SELECT cluster, vec_id, v AS av FROM fin) a
        JOIN (SELECT cluster, vec_id, v AS bv FROM fin) b
          ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        WHERE list_sum([av[i] * bv[i] FOR i IN generate_series(1, len(av))])
            / (sqrt(list_sum([x * x FOR x IN av])) *
               sqrt(list_sum([x * x FOR x IN bv]))) > $SemThreshold""")),

    // ----- IVF ANN over TRAINED centroids (the PRODUCTION IVF path) -------
    // sim_ann_ivf_seed_baseline seeds its coarse quantizer with a raw
    // corpus sample and exists only as the untrained ablation twin. This
    // is the production build: the inverted lists are the k-means
    // clusters, probing ranks the trained centroids by the same squared-L2
    // metric the clustering minimized (nprobe = 4), and candidates get
    // the exact cosine rerank. Same query-time plan and cost model as
    // the seed baseline; only the (offline) training differs.
    // SimilaritySpec pins recall@5 >= 0.7 here and a positive
    // trained-vs-seed gap.
    Q("sim_ann_ivf_kmeans",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val (cents, asg) = kmeansCore(s, d)
        val e = embDouble(s, d)
        val lists = asg.select($"vec_id", $"cluster").join(e, "vec_id")
        // constant query-block cap (round-12 advisory, Similarity.scala):
        // |Q| stays bounded at ANY corpus size; a no-op at every test SF
        val queries = e.filter($"vec_id" % 50 === 0 &&
            $"vec_id" < Similarity.QueryIdCap)
          .select($"vec_id".as("qid"), $"v".as("qe"))
        // probe: nearest 2 trained centroids by the training metric
        val wp = Window.partitionBy($"qid").orderBy($"qdist".asc, $"cid".asc)
        val probes = broadcast(queries).crossJoin(broadcast(cents))
          .select($"qid", $"qe", $"cid",
            expr("aggregate(zip_with(qe, c, (x, y) -> (x - y) * (x - y)), " +
              "CAST(0.0 AS DOUBLE), (acc, z) -> acc + z)").as("qdist"))
          .withColumn("pr", row_number().over(wp))
          .filter($"pr" <= 4)
          .select($"qid", $"qe", $"cid".as("cluster"))
        val dot = graft.functions.VecDot.vec_dot _
        val topk = udaf(new graft.functions.TopKByScore(5))
        broadcast(probes).join(lists, Seq("cluster"))
          .filter($"qid" =!= $"vec_id")
          .select($"qid", $"vec_id".as("cid"),
            (dot($"qe", $"v") / (sqrt(dot($"qe", $"qe")) *
              sqrt(dot($"v", $"v")))).as("cos"))
          .groupBy($"qid").agg(topk($"cid", $"cos").as("tk"))
          .select($"qid", posexplode($"tk"))
          .select($"qid", $"col.id".as("cid"), $"col.score".as("cos"),
            ($"pos" + 1).cast("int").as("rn"))
      },
      Some(s"""WITH $kmeansCtes,
        q AS (SELECT vec_id AS qid, v AS qe FROM e WHERE vec_id % 50 = 0 AND vec_id < 102400),
        probes AS (
          SELECT qid, qe, cluster FROM (
            SELECT qid, qe, c$Iters.cid AS cluster,
              ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
                list_sum([(qe[i]-c[i])*(qe[i]-c[i])
                          FOR i IN generate_series(1, len(qe))]) ASC,
                c$Iters.cid ASC) AS pr
            FROM q, c$Iters) WHERE pr <= 4),
        cand AS (
          SELECT qid, fin.vec_id AS cid,
            list_sum([qe[i] * v[i] FOR i IN generate_series(1, len(qe))])
              / (sqrt(list_sum([x * x FOR x IN qe])) *
                 sqrt(list_sum([x * x FOR x IN v]))) AS cos
          FROM probes JOIN fin ON probes.cluster = fin.cluster
          WHERE qid <> fin.vec_id)
        SELECT qid, cid, cos, rn FROM (
          SELECT qid, cid, cos,
            CAST(ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY cos DESC, cid ASC) AS INT) AS rn
          FROM cand) WHERE rn <= 5""")),

    // ----- embedding-space outlier report (data-cleaning diagnostic) ------
    // The pruning step a curation pipeline runs after clustering: vectors
    // far from their assigned centroid are candidate junk (mis-embedded,
    // off-distribution, or adversarial rows — cf. the distance-based
    // filters in SemDeDup-style pipelines). Per cluster: member count,
    // count beyond a fixed squared-L2 threshold (1.0 ~ the p95-p99 band
    // on this corpus), and the single FARTHEST member. Scale shape: one
    // hash aggregation over the assignment output with map-side partial
    // agg — the argmax rides the same aggregate as a struct max
    // ((dist, -vec_id): ties break to the LOWEST vec_id), so no
    // corpus-sized window sort into K partitions. Distances are the
    // bit-identical doubles sim_kmeans_cluster already hash-matches.
    Q("sim_centroid_outliers",
      (s, d) => {
        import s.implicits._
        kmeans(s, d)
          .groupBy($"cluster")
          .agg(
            count(lit(1)).as("n"),
            sum(when($"dist" > OutlierSqDist, 1L).otherwise(0L)).as("n_out"),
            max(struct($"dist", (-$"vec_id").as("nv"))).as("far"))
          .select($"cluster", $"n", $"n_out",
            (-$"far.nv").as("far_vec"), $"far.dist".as("far_dist"))
      },
      Some(s"""WITH $kmeansCtes,
        ranked AS (
          SELECT cluster, vec_id, dist,
            ROW_NUMBER() OVER (PARTITION BY cluster
              ORDER BY dist DESC, vec_id ASC) AS rn
          FROM fin),
        agg AS (
          SELECT cluster, COUNT(*) AS n,
            CAST(SUM(CASE WHEN dist > $OutlierSqDist THEN 1 ELSE 0 END)
              AS BIGINT) AS n_out
          FROM fin GROUP BY 1)
        SELECT a.cluster, a.n, a.n_out, r.vec_id AS far_vec,
          r.dist AS far_dist
        FROM agg a JOIN ranked r ON a.cluster = r.cluster AND r.rn = 1"""))
  )
}
