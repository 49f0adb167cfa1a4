package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph analytics over a derived co-purchase graph.
  *
  * PageRank is the canonical "iterative joins at scale" workload: each
  * power-iteration step is (ranks ⋈ edges) → aggregate-by-destination.
  * The dedup-cluster connected-components op (`dedup_components`) already
  * exercises iterative min-label propagation; PageRank adds weighted mass
  * exchange with a damping factor — the shape of influence/centrality
  * scoring over web-crawl link graphs in a training-data pipeline
  * (e.g. harmonic/PageRank centrality as a quality prior in Common
  * Crawl-derived corpora).
  *
  * Graph: directed edges between parts that co-occur in an order
  * (both directions, distinct) — so every node has out-degree >= 1 and
  * in-degree >= 1 (the graph is symmetric), which sidesteps dangling-node
  * mass redistribution and keeps the recurrence exactly:
  *
  *   r0(v)   = 1/N
  *   r_k+1(v) = 0.15/N + 0.85 * (sum over u->v of floor(r_k(u)*1e12) div outdeg(u)) / 1e12
  *
  * Cross-engine determinism: the per-edge contribution is floored to a
  * scaled BIGINT before summation, so the aggregation is associative
  * integer addition — Spark's partial/final aggregation order vs DuckDB's
  * sequential order cannot diverge. The remaining double ops
  * (*0.85, +0.15/N, /1e12) are identical single IEEE operations on
  * identical inputs on both sides.
  *
  * Scale (100 TB): edges/out-degrees are computed once, cached, and
  * reused across iterations; each iteration is one shuffle on dst (the
  * rank side is keyed by node = src, so the edge join co-partitions with
  * the previous iteration's output under AQE). Ranks never touch the
  * driver; only the top-20 result does (TakeOrderedAndProject). On a real
  * cluster the edge table would be bucketed by src so every iteration's
  * join is shuffle-free on the edge side.
  */
object Graph {

  private val Scale  = "1000000000000.0" // 1e12, exact in double

  // ----- persisted co-purchase graph artifact (round-8 verdict #3) --------
  // pipeline_pagerank and pipeline_lpa_communities used to rebuild the
  // identical edge list (2.6-5.4 s of their runtime each at sf0.1). Same
  // lifecycle as the IVF-PQ index artifact (Similarity.scala): the
  // WEIGHTED edge relation (src, dst, w = distinct co-occurring orders)
  // is built once, persisted as parquet, and cold-loaded by any later
  // session; a JSON sidecar written LAST via atomic move is the commit
  // marker and records the source row count as the staleness guard
  // (mismatch -> rebuild, never a silently-stale graph). PageRank
  // consumes all edges (w >= 1 is by construction distinct pairs); LPA
  // filters w >= LpaMinW — both as narrow projections of the one cached,
  // src-partitioned relation, so the 25 iteration joins across the two
  // queries reuse a single edge build AND a single partitioning.

  /** Persisted-graph format version (1 = distinct-pair weighted edges;
    * 2 = payload-dir list + file inventory + frozen append boundary;
    * 3 = the shared [[graft.DeltaChain]] sidecar layout — the boundary
    * field is now chain-generic); checked by the shared
    * [[graft.Artifact]] staleness rule, so a layout change rebuilds
    * instead of silently mis-loading (a v1/v2 artifact rebuilds once
    * and upgrades). */
  private val GraphFmt = 3L

  /** The persisted edge artifact's delta-chain lifecycle (round 11:
    * the hand-rolled payload-dir machinery moved to the shared
    * [[graft.DeltaChain]], which the LSH dedup bucket index now also
    * rides — one copy of the guards, per the Artifact rationale).
    * Append contract: strict file growth + every delivered l_orderkey
    * ABOVE the build-time max (an order spanning the old/new file
    * split would have pairs partially counted in the base artifact, so
    * the delta self-join would UNDERCOUNT its weight — monotone order
    * keys are the contract, violations force a full rebuild). */
  private[graft] val chain = new graft.DeltaChain(
    "spark.graft.graph.dir", "graft_graph", GraphFmt, "edges")

  /** The graph memos ([[graft.Memo]] family "graph") all derive from
    * lineitem. */
  private def lineitemPath(d: String): String = s"$d/lineitem.parquet"

  /** The weighted co-purchase edge relation of a lineitem slice:
    * distinct (order, part) self-join, both directions, counted. Used
    * for the full build (whole table) and the delta (delivery files
    * only — O(delivery), the point of the chain). */
  private def edgeJoin(li: DataFrame): DataFrame = {
    val dl = li.distinct()
    dl.as("a").join(dl.as("b"), "l_orderkey")
      .filter(col("a.l_partkey") =!= col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
      .agg(count(lit(1)).as("w"))
  }

  /** The co-purchase edge relation (src, dst, w): memo (warm session) →
    * persisted artifact (cold session — no self-join) → delta append
    * (grown dataset — delivery-only self-join) → full build, all via
    * the shared [[graft.DeltaChain]]. Always returned cached and
    * hash-partitioned on src. The load path merges (src,dst)
    * duplicates across the base + delta payload dirs into one weighted
    * edge: HashPartitioning(src) satisfies the (src,dst) aggregation's
    * distribution, so the merge rides the same single exchange the
    * src-repartition always cost — no extra shuffle, and downstream
    * consumers keep the distinct-pair invariant (pagerank counts each
    * edge once; LPA's w-threshold sees merged weights). */
  private[graft] def coPurchaseEdges(s: SparkSession, d: String): DataFrame =
    graft.Memo.frame(s, "graph", "edges", d, lineitemPath(d))(
      coPurchaseEdgesOf(s, d))

  private def coPurchaseEdgesOf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tablePath = lineitemPath(d)
    // staleness key rows: raw lineitem count (a parquet-metadata count,
    // no shuffle — the distinct-pair count would itself cost the join
    // the artifact exists to avoid)
    val edges = chain.payload(s, d, tablePath,
      rows = Tables.lineitem(s, d).count(),
      build = () => {
        val e = edgeJoin(Tables.lineitem(s, d)
          .select($"l_orderkey", $"l_partkey"))
        val maxOk = Tables.lineitem(s, d).agg(max($"l_orderkey"))
          .first().getLong(0)
        (e, maxOk)
      },
      delta = (newFiles, boundary) => {
        val delivery = s.read.parquet(newFiles: _*)
          .select($"l_orderkey", $"l_partkey")
        val bounds = delivery.agg(min($"l_orderkey"), max($"l_orderkey"))
          .first()
        if (bounds.isNullAt(0) || bounds.getLong(0) <= boundary) None
        else Some((edgeJoin(delivery), bounds.getLong(1)))
      },
      merge = df => df.groupBy($"src", $"dst").agg(sum($"w").as("w")))
    // sortWithinPartitions(src) before caching: every iterative consumer
    // (pagerank's 20 joins, LPA's 5, the basket/triangle joins) is a
    // sort-merge join on src against this relation. An unsorted cache
    // makes EVERY iteration re-sort the full |E|-row cache inside the
    // join stage (measured round 17: ~0.3-0.8 s of pure sort CPU per
    // iteration stage at sf0.1, the dominant pagerank cost); a cache
    // whose outputOrdering is already src satisfies the SMJ's
    // requiredOrdering, so iterations sort only the |V|-row rank/label
    // side. This is the local-mode twin of "bucket + sort the edge
    // table by src on a real cluster" (guide §2.4/§3).
    edges.repartition($"src")
      .groupBy($"src", $"dst").agg(sum($"w").as("w"))
      .sortWithinPartitions($"src")
  }

  /** Chunked adjacency-list form (src, od, dsts) of a distinct
    * (src, dst) edge relation — the round-17 optimization for the
    * iterative consumers. Rationale (guide §2.3/§2.4, measured): each
    * pagerank/LPA iteration used to re-scan and join the full |E|-row
    * edge cache; the adjacency form groups the cache to ~|V| rows once,
    * so every iteration joins the rank/label table against a |V|-row
    * relation and regenerates the |E| contributions with one codegen
    * explode — measured 6.0 s → 4.2 s for the warm 20-round loop at
    * sf0.1. Scale guard: a hub's neighbor list is NOT one giant row —
    * dsts are split into ceil(od/4096)-way chunks by dst hash
    * (deterministic), so no row exceeds ~a few thousand neighbors at
    * any corpus size; `od` carries the FULL out-degree for the
    * contribution divisor regardless of chunking. Input must be
    * src-partitioned (the artifact cache), so neither the degree
    * aggregation nor the chunk groupBy needs an exchange. */
  private def chunkedAdjacency(e: DataFrame): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val deg = e.groupBy($"src").agg(count(lit(1)).as("od"))
    e.join(deg, "src")
      .groupBy($"src", $"od",
        pmod(xxhash64($"dst"), expr("greatest((od + 4095) div 4096, 1)"))
          .as("chunk"))
      .agg(collect_list($"dst").as("dsts"))
      .select($"src", $"od", $"dsts")
  }

  /** Memoized co-purchase adjacency at weight threshold `minW`
    * (1 = the full graph for pagerank, [[LpaMinW]] for LPA) — rides the
    * same memo family as the edge artifact. Round 18: no longer
    * `.cache()`d — since the iterative consumers moved to the RDD
    * substrate, this DataFrame is scanned exactly once (by
    * [[adjacencyRdd]]'s build), and paying a columnar cache write for a
    * single read only slowed the cold path (the persisted RDD is the
    * reusable artifact now). */
  private[graft] def coPurchaseAdjacency(s: SparkSession, d: String,
      minW: Long): DataFrame =
    graft.Memo.value(s, "graph", s"adj$minW", d, lineitemPath(d)) {
      import s.implicits._
      val e0 = coPurchaseEdges(s, d)
      chunkedAdjacency((if (minW > 1) e0.filter($"w" >= minW) else e0)
        .select($"src", $"dst"))
    }

  // ----- round-18: RDD substrate for the iterative loops ------------------
  // Measured (OptProfile, sf0.1): every pagerank iteration spent ~6.5 s of
  // executor task time (~0.2 s wall x 32 tasks) re-reading the 19.8 MB
  // columnar adjacency cache, converting array<bigint> batches to rows,
  // exploding, and hash-aggregating through UnsafeRow machinery — ~2.7 us
  // per edge for what is fundamentally "look up rank, integer-divide,
  // add into a per-dst accumulator". The SQL surface also re-plans and
  // AQE-materializes two query stages per iteration, and needs a
  // localCheckpoint every 4 rounds just to curb plan depth. The guide's
  // §1.2 order says fix the substrate before the config: the loop below
  // keeps the EXACT arithmetic (floor(r*1e12) integer contributions,
  // identical IEEE op order) but runs it over a hash-partitioned
  // RDD[(src, (od, dsts))] adjacency: each iteration is one narrow
  // zipPartitions join (both sides co-partitioned, no exchange) plus one
  // reduceByKey shuffle with map-side combine (ExternalAppendOnlyMap —
  // spills, scale-safe). The whole 20-round loop is ONE job: no
  // per-iteration planning, no AQE replans, no checkpoints. Oracle
  // equivalence is re-proven by GraphRddLoopSpec (RDD loop == SQL loop
  // bit-for-bit) and the full DuckDB battery.

  private[graft] type AdjRdd =
    (org.apache.spark.rdd.RDD[(Long, (Long, Array[Long]))],
     org.apache.spark.HashPartitioner,
     org.apache.spark.rdd.RDD[(Long, Long)], Long)

  /** Memoized (adjacency RDD, partitioner, (node,node) seed RDD, |V|)
    * of the chunked co-purchase adjacency at weight threshold `minW` —
    * same memo family as the DataFrame memos; a release unpersists both
    * RDDs. The seed rides the partitioner so loop state never needs an
    * alignment shuffle. */
  private[graft] def adjacencyRdd(s: SparkSession, d: String, minW: Long)
      : AdjRdd =
    graft.Memo.releasing(s, "graph", s"rdd$minW", d, lineitemPath(d),
      (v: AdjRdd) => { v._1.unpersist(); v._3.unpersist() }) {
      import s.implicits._
      rddFormOf(coPurchaseAdjacency(s, d, minW)
        .select($"src", $"od", $"dsts").as[(Long, Long, Array[Long])]
        .rdd.map { case (src, od, dsts) => (src, (od, dsts)) },
        s.sparkContext.defaultParallelism)
    }

  /** Hash-partition + persist an adjacency RDD and derive its
    * (node, node) seed (distinct srcs, computed per-partition — the
    * partitioner co-locates all chunks of a src) and |V|. Factored so
    * specs can drive the loops on constructed graphs. */
  private[graft] def rddFormOf(
      raw: org.apache.spark.rdd.RDD[(Long, (Long, Array[Long]))],
      parallelism: Int): AdjRdd = {
    val part = new org.apache.spark.HashPartitioner(
      math.max(parallelism, raw.getNumPartitions))
    val adj = raw.partitionBy(part)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = adj.mapPartitions({ it =>
      val seen = new java.util.HashSet[java.lang.Long]()
      it.flatMap { case (src, _) =>
        if (seen.add(src)) Iterator.single((src, src)) else Iterator.empty
      }
    }, preservesPartitioning = true)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = nodes.count()
    (adj, part, nodes, n)
  }

  /** The 20-round pagerank power iteration over the RDD adjacency —
    * identical arithmetic to the SQL loop it replaces (see the
    * substrate note above): contrib = floor(r*1e12) as long, truncating
    * integer division by od, exact long sums per dst, then
    * r' = 0.15/n + 0.85 * (sum/1e12) in the same IEEE op order. A src
    * absent from the rank table contributes nothing (the SQL inner join
    * dropped it the same way). */
  private[graft] def pagerankRanksRdd(
      adj: org.apache.spark.rdd.RDD[(Long, (Long, Array[Long]))],
      part: org.apache.spark.HashPartitioner,
      nodes: org.apache.spark.rdd.RDD[(Long, Long)],
      n: Long, iters: Int): org.apache.spark.rdd.RDD[(Long, Double)] = {
    val nD = n.toDouble
    var r = nodes.mapValues(_ => 1.0 / nD)
    for (_ <- 1 to iters) {
      val contribs = adj.zipPartitions(r, preservesPartitioning = false) {
        (ait, rit) =>
          val rmap = new java.util.HashMap[java.lang.Long, java.lang.Double]()
          rit.foreach { case (node, rv) => rmap.put(node, rv) }
          ait.flatMap { case (src, (od, dsts)) =>
            val rv = rmap.get(src)
            if (rv == null) Iterator.empty
            else {
              val c = math.floor(rv.doubleValue() * 1.0e12).toLong / od
              dsts.iterator.map(dst => (dst, c))
            }
          }
      }
      r = contribs.reduceByKey(part, _ + _)
        .mapValues(m => 0.15 / nD + 0.85 * (m.toDouble / 1.0e12))
    }
    r
  }

  /** The synchronous LPA loop over the RDD adjacency — identical
    * semantics to [[labelPropagateAdj]]: each round counts in-neighbor
    * labels per dst (exact long counts) and takes argmax(count, min
    * label). The (dst,label) counts reduce with map-side combine under
    * a dst-hash partitioner, so the per-dst argmax runs partition-local
    * with no further exchange. */
  private[graft] def lpaLabelsRdd(
      adj: org.apache.spark.rdd.RDD[(Long, (Long, Array[Long]))],
      part: org.apache.spark.HashPartitioner,
      nodes: org.apache.spark.rdd.RDD[(Long, Long)],
      iters: Int): org.apache.spark.rdd.RDD[(Long, Long)] = {
    val dstPart = new FirstLongPartitioner(part.numPartitions)
    var lab = nodes
    for (_ <- 1 to iters) {
      val counts = adj.zipPartitions(lab, preservesPartitioning = false) {
        (ait, lit) =>
          val lmap = new java.util.HashMap[java.lang.Long, java.lang.Long]()
          lit.foreach { case (node, l) => lmap.put(node, l) }
          ait.flatMap { case (src, (_, dsts)) =>
            val l = lmap.get(src)
            if (l == null) Iterator.empty
            else {
              val lv = l.longValue()
              dsts.iterator.map(dst => ((dst, lv), 1L))
            }
          }
      }
      // argmax(count, then min label) per dst: all (dst, *) rows are in
      // one partition (dstPart hashes on dst alone). Rows stay placed
      // by hash(dst) — exactly the adjacency partitioner's placement —
      // so the next round's zipPartitions aligns by partition index.
      lab = counts.reduceByKey(dstPart, _ + _)
        .mapPartitions { it =>
          val best = new java.util.HashMap[java.lang.Long, Array[Long]]()
          it.foreach { case ((dst, label), c) =>
            val cur = best.get(dst)
            if (cur == null) best.put(dst, Array(c, label))
            else if (c > cur(0) || (c == cur(0) && label < cur(1))) {
              cur(0) = c; cur(1) = label
            }
          }
          import scala.jdk.CollectionConverters._
          best.entrySet().iterator().asScala
            .map(e => (e.getKey.longValue(), e.getValue()(1)))
        }
    }
    lab
  }

  /** Partitions a ((dst, label), count) pair RDD by dst alone, with the
    * same placement as HashPartitioner(dst) — so the downstream per-dst
    * argmax is partition-local and the result stays aligned with the
    * adjacency partitioner for the next round's zipPartitions. */
  private final class FirstLongPartitioner(val partitions: Int)
      extends org.apache.spark.Partitioner {
    private val h = new org.apache.spark.HashPartitioner(partitions)
    override def numPartitions: Int = partitions
    override def getPartition(key: Any): Int =
      h.getPartition(key.asInstanceOf[(Long, Long)]._1)
    override def equals(other: Any): Boolean = other match {
      case p: FirstLongPartitioner => p.numPartitions == partitions
      case _ => false
    }
    override def hashCode: Int = partitions
  }

  /** K-core peel over the RDD adjacency — the kill-propagation form
    * (round 18). The DataFrame loop reads the surviving edge set three
    * times per round (degree agg + two semi-joins, each an exchange of
    * the surviving |E|) and pays a planning pass + count job per round.
    * Here the static reverse-edge relation is partitioned once; each
    * round kills the nodes whose CURRENT out-degree dropped below `k`
    * (a partition-local filter of the co-partitioned degree table) and
    * ships one decrement per dying in-edge — the per-round SHUFFLE is
    * proportional to the edges REMOVED, not the edges that survive,
    * and the sum over all rounds is bounded by |E| (an edge dies at
    * most once). Each round's kill set is identical to the DataFrame
    * loop's (both remove {v : out-degree < k} synchronously, where
    * "never a src" reads as out-degree 0), so the surviving edge set —
    * and the final per-src degree this returns — is the same fixpoint;
    * GraphRddLoopSpec pins the equality on the real graph and on
    * constructed sink/hub/chain graphs. The returned persisted RDD and
    * the per-round state follow the loop-state discipline of the
    * DataFrame version (blocks reclaimed by the ContextCleaner once
    * unreferenced). */
  private[graft] def kcorePeelRdd(
      adj: org.apache.spark.rdd.RDD[(Long, (Long, Array[Long]))],
      part: org.apache.spark.HashPartitioner,
      k: Long,
      symmetric: Boolean = false): org.apache.spark.rdd.RDD[(Long, Long)] = {
    import scala.jdk.CollectionConverters._
    val sl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // static reverse edges (dst, src), hash-placed by dst so a round's
    // kill set (placed by node hash) reads them partition-locally.
    // `symmetric` asserts the input equals its own transpose — true of
    // the co-purchase artifact, whose self-join emits BOTH directions
    // of every pair with equal weight (edgeJoin), so any w-threshold
    // keeps or drops both together. Then in-neighbors(x) ARE the
    // adjacency row's dsts and the whole reverse build (the only |E|
    // shuffle this peel pays) is skipped; sink-only nodes cannot exist.
    // GraphRddLoopSpec pins symmetric == general == the DataFrame peel.
    val rev =
      if (symmetric) null
      else adj
        .mapPartitions(_.flatMap { case (s0, (_, dsts)) =>
          dsts.iterator.map(x => (x, s0)) })
        .partitionBy(part)
        .persist(sl)
    // deg0: every src's full out-degree (od rides every chunk row) plus
    // sink-only nodes at 0 — the DataFrame loop's `keep` excludes both
    // od<k srcs and never-a-src sinks, so both must enter round 1
    var deg = (if (symmetric)
      adj.mapPartitions({ it =>
        val m = new java.util.HashMap[java.lang.Long, java.lang.Long]()
        it.foreach { case (s0, (od, _)) => m.put(s0, od) }
        m.entrySet().iterator().asScala
          .map(e => (e.getKey.longValue(), e.getValue.longValue()))
      }, preservesPartitioning = true)
    else adj.zipPartitions(rev, preservesPartitioning = true) {
      (ait, rit) =>
        val m = new java.util.HashMap[java.lang.Long, java.lang.Long]()
        ait.foreach { case (s0, (od, _)) => m.put(s0, od) }
        rit.foreach { case (x, _) => m.putIfAbsent(x, 0L) }
        m.entrySet().iterator().asScala
          .map(e => (e.getKey.longValue(), e.getValue.longValue()))
    }).persist(sl)
    var prev: org.apache.spark.rdd.RDD[(Long, Long)] = null
    var done = false
    while (!done) {
      val kills = deg.filter(_._2 < k)
      val nKilled = kills.count() // materializes deg; prev now safe to drop
      if (prev != null) { prev.unpersist(blocking = false); prev = null }
      if (nKilled == 0L) done = true
      else {
        // one decrement per (in-neighbor, dying node) edge, shuffled by
        // the in-neighbor with map-side combine; decrements addressed
        // to nodes dying the same round fall out in the merge below
        val raw =
          if (symmetric)
            kills.zipPartitions(adj, preservesPartitioning = false) {
              (kit, ait) =>
                val ks = new java.util.HashSet[java.lang.Long]()
                kit.foreach { case (x, _) => ks.add(x) }
                if (ks.isEmpty) Iterator.empty
                else ait.flatMap { case (x, (_, dsts)) =>
                  if (ks.contains(x)) dsts.iterator.map(s0 => (s0, 1L))
                  else Iterator.empty
                }
            }
          else
            kills.zipPartitions(rev, preservesPartitioning = false) {
              (kit, rit) =>
                val ks = new java.util.HashSet[java.lang.Long]()
                kit.foreach { case (x, _) => ks.add(x) }
                if (ks.isEmpty) Iterator.empty
                else rit.collect { case (x, s0) if ks.contains(x) => (s0, 1L) }
            }
        val decs = raw.reduceByKey(part, _ + _)
        val alive = deg.filter(_._2 >= k)
        val next = alive.zipPartitions(decs, preservesPartitioning = true) {
          (ait, dit) =>
            val m = new java.util.HashMap[java.lang.Long, java.lang.Long]()
            ait.foreach { case (n0, d0) => m.put(n0, d0) }
            dit.foreach { case (n0, c) =>
              val cur = m.get(n0)
              if (cur != null) m.put(n0, cur - c)
            }
            m.entrySet().iterator().asScala
              .map(e => (e.getKey.longValue(), e.getValue.longValue()))
        }.persist(sl)
        prev = deg
        deg = next
      }
    }
    if (rev != null) rev.unpersist(blocking = false)
    deg
  }

  /** The pre-round-18 DataFrame peel loop, kept verbatim as the
    * spec-path reference for [[kcorePeelRdd]] (the labelPropagateAdj
    * pattern): degree filter -> endpoint semi-filter per round,
    * localCheckpoint-materialized frontier, loop to the true fixpoint.
    * Returns the final (node, core_degree) relation. */
  private[graft] def kcorePeelDf(edges: DataFrame, k: Int): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    var e = edges.select($"src", $"dst").localCheckpoint()
    var n = e.count()
    var done = false
    while (!done) {
      val keep = e.groupBy($"src").agg(count(lit(1)).as("dg"))
        .filter($"dg" >= k).select($"src".as("node"))
      val pruned = e
        .join(keep.select($"node".as("src")), Seq("src"), "left_semi")
        .join(keep.select($"node".as("dst")), Seq("dst"), "left_semi")
        .select($"src", $"dst")
        .localCheckpoint()
      val n2 = pruned.count()
      if (n2 == n) done = true
      else { e = pruned; n = n2 }
    }
    e.groupBy($"src").agg(count(lit(1)).as("core_degree"))
      .select($"src".as("node"), $"core_degree")
  }

  /** Power-iteration depth. 20 is a realistic production depth (the
    * classic 10-50 round regime for ~1e-4 residuals at d=0.85); the
    * DuckDB oracle unrolls the same number of CTE rounds, so code and
    * oracle can never disagree on depth. Round-8 note: this was 3 for
    * rounds 4-7 while the surrounding docs said 20 — the measured cost
    * profile of the honest 20-round loop (edge construction vs
    * iteration jobs) is recorded in BASELINE.md. */
  private val Iters  = 20

  /** LPA rounds: synchronous LPA converges in a handful of sweeps on
    * sparsified co-occurrence graphs (Raghavan et al. report ~5); the
    * oracle unrolls the same depth. */
  private val LpaIters = 5

  /** Minimum co-occurrence weight (distinct orders) for an edge to
    * survive sparsification. */
  private val LpaMinW = 2

  /** Shared oracle CTE prefix: edges, degrees, N, and r0..r3. */
  private lazy val pagerankCtes: String = {
    def iter(k: Int): String = {
      val prev = s"r${k - 1}"
      s"""r$k AS (
        SELECT e.dst AS node,
          CAST(0.15 AS DOUBLE) / n.n
            + CAST(0.85 AS DOUBLE) *
              (CAST(CAST(SUM(CAST(floor(r * $Scale) AS BIGINT) // od)
                    AS BIGINT) AS DOUBLE) / $Scale) AS r
        FROM e
        JOIN $prev p ON p.node = e.src
        JOIN deg ON deg.src = e.src
        CROSS JOIN n
        GROUP BY e.dst, n.n)"""
    }
    s"""li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey <> b.l_partkey),
    deg AS (SELECT src, COUNT(*) AS od FROM e GROUP BY 1),
    n AS (SELECT COUNT(*) AS n FROM deg),
    r0 AS (SELECT src AS node, CAST(1 AS DOUBLE) / n.n AS r
           FROM deg CROSS JOIN n),
    ${(1 to Iters).map(iter).mkString(",\n")}"""
  }

  /** The synchronous LPA label loop over a symmetric (src, dst) edge
    * relation: label0(v) = v; each round every node takes the most
    * frequent in-neighbor label, ties to the smallest. Returns the
    * final (node, label) relation. Factored out so specs can drive it
    * on constructed graphs (Round8OpsSpec's two-clique separation). */
  private[graft] def labelPropagate(
      e: DataFrame, iters: Int): DataFrame = {
    // per-call adjacency (spec path; the battery query rides the
    // memoized coPurchaseAdjacency instead): safe to unpersist after
    // the loop because the final round is localCheckpoint-materialized
    val adj = chunkedAdjacency(e).cache()
    try labelPropagateAdj(adj, iters)
    finally adj.unpersist()
  }

  /** The LPA loop over a chunked adjacency relation (src, od, dsts):
    * each round joins the |V|-row label table to the |V|-row adjacency
    * and regenerates (dst, label) pairs with one explode — the edge
    * relation is never re-joined (round-17 optimization; see
    * [[chunkedAdjacency]]). */
  private[graft] def labelPropagateAdj(
      adj: DataFrame, iters: Int): DataFrame = {
    import adj.sparkSession.implicits._
    var lab = adj.select($"src".as("node")).distinct()
      .select($"node", $"node".as("label"))
    for (i <- 1 to iters) {
      lab = adj.join(lab, adj("src") === lab("node"))
        .select(explode($"dsts").as("dst"), $"label")
        .groupBy($"dst", $"label")
        .agg(count(lit(1)).as("c"))
        // argmax(count, min label) as a single aggregate: struct
        // comparison is lexicographic, so max((c, -label)) picks
        // the largest count and, among ties, the smallest label
        .groupBy($"dst")
        .agg(max(struct($"c", (-$"label").as("nl"))).as("m"))
        .select($"dst".as("node"), (-$"m.nl").as("label"))
      if (i % 4 == 0 || i == iters) lab = lab.localCheckpoint()
    }
    lab
  }

  val defs: Seq[Q] = Seq(

    Q("pipeline_pagerank",
      (s, d) => {
        import s.implicits._
        // round-18 shape: the 20 iterations run over the memoized
        // RDD adjacency (see the substrate note at [[adjacencyRdd]]) —
        // each round is one narrow co-partitioned zipPartitions join
        // plus one reduceByKey shuffle with map-side combine; the whole
        // loop executes as ONE job with no per-iteration planning, AQE
        // replans, or checkpoints. Contributions are the identical
        // floor(r·1e12) div od integers summed per dst (exact long
        // adds, order-free), so the oracle is unaffected —
        // GraphRddLoopSpec re-proves RDD == SQL loop bit-for-bit.
        val (adj, part, nodes, n) = adjacencyRdd(s, d, minW = 1L)
        val ranks = pagerankRanksRdd(adj, part, nodes, n, Iters)
        s.createDataset(ranks).toDF("node", "r")
          .orderBy(desc("r"), asc("node"))
          .limit(20)
          .select($"node".as("p_partkey"), $"r".as("rank"))
      },
      Some(s"""WITH $pagerankCtes
        SELECT node AS p_partkey, r AS rank
        FROM r$Iters
        ORDER BY r DESC, node LIMIT 20""")),

    // ----- label-propagation communities (synchronous, deterministic) -----
    // Community detection over the co-purchase graph — the second classic
    // iterative-graph workload after PageRank, and the one a crawl
    // pipeline uses to group near-identical site templates / mirror
    // clusters before per-community sampling. Raghavan et al.'s LPA is
    // usually run asynchronously with random tie-breaks; that is
    // non-reproducible run-to-run, which is unacceptable for a corpus
    // pipeline (and untestable against an oracle). This is the
    // deterministic synchronous variant:
    //
    //   label0(v)  = v
    //   label_k+1(v) = argmax over labels L of |{u -> v : label_k(u)=L}|,
    //                  ties broken by SMALLEST label
    //
    // All-integer counts — zero float divergence risk across engines.
    // The dense co-purchase graph collapses to one community under LPA
    // (every popular part neighbors every other), so edges keep only
    // pairs co-occurring in >= LpaMinW distinct orders — the standard
    // "weight-threshold sparsification" that makes LPA meaningful on
    // co-occurrence graphs, and the same move a web-graph pipeline makes
    // when it drops single-link edges.
    //
    // Scale (100 TB): the edge list is computed once, weight-filtered,
    // cached hash-partitioned on src (exactly the pagerank layout), so
    // each of the 5 iterations joins the small label table against a
    // co-partitioned cache with no edge shuffle. The per-iteration state
    // is |V| rows; the (dst,label) count and argmax are two partial-agg
    // shuffles of that small table — max(struct(count, -label)) instead
    // of a rank window, so the argmax is ONE aggregate, not a sort.
    // Checkpoint cadence matches pagerank (every 4th round + last).
    Q("pipeline_lpa_communities",
      (s, d) => {
        import s.implicits._
        // weight-threshold sparsification as a narrow filter over the
        // shared cached src-partitioned artifact, grouped once into the
        // memoized chunked adjacency and lifted to the RDD substrate
        // (round 18; see [[adjacencyRdd]]) — the 5 label rounds run as
        // one job of narrow joins + combined (dst,label) count shuffles
        val (adj, part, nodes, _) = adjacencyRdd(s, d, LpaMinW)
        s.createDataset(lpaLabelsRdd(adj, part, nodes, LpaIters))
          .toDF("node", "label")
          .groupBy($"label".as("community"))
          .agg(count(lit(1)).as("csize"))
          .orderBy(desc("csize"), asc("community"))
          .limit(25)
      },
      Some {
        def it(k: Int): String = s"""l$k AS (
          SELECT dst AS node, label FROM (
            SELECT e.dst, p.label,
              row_number() OVER (PARTITION BY e.dst
                ORDER BY count(*) DESC, p.label ASC) AS rn
            FROM e JOIN l${k - 1} p ON p.node = e.src
            GROUP BY e.dst, p.label) x
          WHERE rn = 1)"""
        s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey
               FROM lineitem),
          pair AS (
            SELECT a.l_partkey AS src, b.l_partkey AS dst,
                   count(*) AS w
            FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
            WHERE a.l_partkey <> b.l_partkey
            GROUP BY 1, 2),
          e AS (SELECT src, dst FROM pair WHERE w >= $LpaMinW),
          l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
          ${(1 to LpaIters).map(it).mkString(",\n")}
          SELECT label AS community, count(*) AS csize
          FROM l$LpaIters GROUP BY 1
          ORDER BY csize DESC, community LIMIT 25"""
      }),

    // ----- triangle census + global clustering coefficient ----------------
    // The third classic graph workload after PageRank/LPA: how
    // clustered is the co-purchase graph (triangles, wedges, global
    // transitivity 3T/W). The naive wedge join explodes by the SQUARE
    // of hub degree — the textbook scale-killer on power-law graphs —
    // so edges are oriented by DEGREE ORDER (Schank-Wagner node
    // iterator: each undirected edge points from its lower-(deg,id)
    // endpoint to the higher), which bounds every node's out-degree
    // by ~sqrt(2m) and the wedge volume by Σ O(m·α): a hub's
    // million-edge star contributes ZERO wedges from the hub itself
    // (all its edges point IN). Each triangle is counted exactly once,
    // at its minimum-order vertex. Reuses the persisted co-purchase
    // artifact — cached, src-partitioned, build already paid by
    // pagerank/LPA. All-integer counts; the one division is the final
    // scalar. The oracle replays the identical orientation in DuckDB.
    // ----- association-rule lift (market-basket mining) -------------------
    // The classic basket question over the SAME persisted co-purchase
    // artifact pagerank/LPA/k-core ride: which item pairs co-occur
    // MORE than their popularities predict. lift = N·c12 / (c1·c2),
    // reported as an exact scaled integer (ppm, floor division) so
    // both engines agree bit-for-bit — no float ratio — alongside the
    // raw counts a consumer needs for support/confidence. Scale shape:
    // the expensive self-join is the artifact (built once, delta-
    // appended); item counts are one aggregation on the natural key;
    // the pair-side joins shuffle on item ids; positively-associated
    // rules ranked by TakeOrderedAndProject (top-k, never a global
    // sort).
    // Lift arithmetic: at 100 TB, N and the c1·c2 product both blow
    // past BIGINT (N ~ 10^12 baskets → c1·c2 up to 10^24), so integer
    // ppm scaling — the battery's usual discipline — cannot represent
    // the ratio at the scale this op targets. Instead lift is computed
    // as DOUBLE in ONE FIXED operation order, (w·N)/c1/c2: each step
    // is a single exact-rounded IEEE op (no cross-row accumulation),
    // so both engines produce bit-identical doubles at any magnitude.
    // The raw counts ride along exact.
    Q("pipeline_basket_lift",
      (s, d) => {
        import s.implicits._
        val e = coPurchaseEdges(s, d)
          .filter($"src" < $"dst") // one row per unordered pair
        val li = Tables.lineitem(s, d)
          .select($"l_orderkey", $"l_partkey").distinct()
        val nRel = li.agg(countDistinct($"l_orderkey").as("n"))
        val cnt = li.groupBy($"l_partkey").agg(count(lit(1)).as("c"))
        e.join(cnt.select($"l_partkey".as("src"), $"c".as("c1")), "src")
          .join(cnt.select($"l_partkey".as("dst"), $"c".as("c2")), "dst")
          .crossJoin(broadcast(nRel))
          .select($"src", $"dst", $"w", $"c1", $"c2",
            expr("CAST(w AS DOUBLE) * n / c1 / c2").as("lift"))
          .filter($"lift" > 1.0) // positively associated only
          .orderBy($"lift".desc, $"src".asc, $"dst".asc)
          .limit(20)
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey
               FROM lineitem),
        nn AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM li),
        cnt AS (SELECT l_partkey, COUNT(*) AS c FROM li GROUP BY 1),
        pair AS (
          SELECT a.l_partkey AS src, b.l_partkey AS dst,
                 COUNT(*) AS w
          FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
          WHERE a.l_partkey < b.l_partkey
          GROUP BY 1, 2),
        r AS (
          SELECT src, dst, CAST(w AS BIGINT) AS w,
            CAST(c1.c AS BIGINT) AS c1, CAST(c2.c AS BIGINT) AS c2,
            CAST(w AS DOUBLE) * nn.n / c1.c / c2.c AS lift
          FROM pair
          JOIN cnt c1 ON c1.l_partkey = src
          JOIN cnt c2 ON c2.l_partkey = dst, nn)
        SELECT src, dst, w, c1, c2, lift
        FROM r WHERE lift > 1.0
        ORDER BY lift DESC, src, dst LIMIT 20""")),

    Q("pipeline_graph_triangles",
      (s, d) => {
        import s.implicits._
        val e = coPurchaseEdges(s, d).select($"src", $"dst")
        // undirected degree (e is symmetric, so src-degree = degree);
        // order key packs (degree, id) into one BIGINT
        val ord = e.groupBy($"src").agg(count(lit(1)).as("dg"))
          .select($"src".as("node"),
            ($"dg" * 4294967296L + $"src").as("ok"))
        val eo = e.filter($"src" < $"dst")
          .join(ord.select($"node".as("src"), $"ok".as("oks")), "src")
          .join(ord.select($"node".as("dst"), $"ok".as("okd")), "dst")
          .select(
            when($"oks" < $"okd", $"src").otherwise($"dst").as("u"),
            when($"oks" < $"okd", $"okd").otherwise($"oks").as("okv"),
            when($"oks" < $"okd", $"dst").otherwise($"src").as("v"))
        val tri = eo.as("e1")
          .join(eo.as("e2"),
            col("e1.u") === col("e2.u") && col("e1.okv") < col("e2.okv"))
          .select(col("e1.v").as("u"), col("e2.v").as("v"))
          .join(eo.select($"u", $"v"), Seq("u", "v"))
          .agg(count(lit(1)).as("n_triangles"))
        val wedges = e.groupBy($"src").agg(count(lit(1)).as("dg"))
          .agg(sum(expr("(dg * (dg - 1)) div 2")).as("n_wedges"))
        tri.crossJoin(wedges)
          .select($"n_triangles", $"n_wedges",
            ($"n_triangles" * lit(3.0) / $"n_wedges").as("global_cc"))
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey
               FROM lineitem),
        e AS (
          SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
          FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
          WHERE a.l_partkey <> b.l_partkey),
        ord AS (SELECT src AS node,
            COUNT(*) * 4294967296 + src AS ok FROM e GROUP BY src),
        eo AS (
          SELECT CASE WHEN os.ok < od.ok THEN e.src ELSE e.dst END AS u,
            CASE WHEN os.ok < od.ok THEN od.ok ELSE os.ok END AS okv,
            CASE WHEN os.ok < od.ok THEN e.dst ELSE e.src END AS v
          FROM e
          JOIN ord os ON os.node = e.src
          JOIN ord od ON od.node = e.dst
          WHERE e.src < e.dst),
        tri AS (
          SELECT COUNT(*) AS n_triangles
          FROM eo e1
          JOIN eo e2 ON e1.u = e2.u AND e1.okv < e2.okv
          JOIN eo e3 ON e3.u = e1.v AND e3.v = e2.v),
        wg AS (SELECT CAST(SUM(dg * (dg - 1) // 2) AS BIGINT) AS n_wedges
               FROM (SELECT COUNT(*) AS dg FROM e GROUP BY src))
        SELECT n_triangles, n_wedges,
          CAST(n_triangles AS DOUBLE) * 3.0 / n_wedges AS global_cc
        FROM tri CROSS JOIN wg""")),

    // ----- k-core decomposition (iterative peeling) -----------------------
    // The dense-subgraph extractor: the 3-core of the THRESHOLDED
    // co-purchase graph (edges kept only where the pair co-occurs in
    // >= 2 orders — the noise floor; the unthresholded graph is so
    // dense its 3-core is the whole graph) is the maximal subgraph
    // where every node keeps degree >= 3 — the standard "strip the
    // fringe, keep the community backbone" preprocessing for graph ML
    // and spam/bot-ring detection. Spark side peels to a TRUE fixpoint
    // (driver loop: degree filter -> endpoint semi-filter, each round
    // ONE shuffle on the edge key, localCheckpoint every 4th round —
    // the connectedComponents discipline; peeling strictly shrinks the
    // edge set so the loop terminates). The oracle UNROLLS the peel as
    // R=16 MATERIALIZED CTE rounds (the pqTrainCtes idiom for
    // iteration in SQL) — the hash match therefore also PROVES the
    // fixpoint is reached within 16 rounds on the battery graph (the
    // sf0.01 peel takes 10), since an unconverged 16th round would
    // differ from Spark's fixpoint.
    Q("pipeline_graph_kcore",
      (s, d) => {
        import s.implicits._
        val K = 3
        // Seed = the shared persisted, delta-appended, src-partitioned
        // co-purchase artifact at the same w >= 2 threshold as LPA, so
        // the memoized RDD adjacency (see [[adjacencyRdd]]) is shared
        // across both queries. The peel itself is the round-18
        // kill-propagation form ([[kcorePeelRdd]]): per-round shuffle
        // proportional to the edges REMOVED (bounded by |E| summed over
        // ALL rounds) instead of the DataFrame loop's three exchanges
        // of the SURVIVING edge set per round — the 100 TB cost model
        // flips from O(rounds x |E|) shuffled bytes to O(|E|).
        // GraphRddLoopSpec pins the fixpoint equal to the retained
        // DataFrame reference ([[kcorePeelDf]]); the oracle unrolls
        // the same peel as materialized CTE rounds as before.
        // symmetric = true: the artifact's self-join emits both
        // directions of every pair with equal weight, so the peel
        // reads in-neighbors straight off the adjacency and pays NO
        // reverse-edge shuffle (see [[kcorePeelRdd]]); the oracle's
        // unrolled peel over the actual edges re-proves the fixpoint
        val (adj, part, _, _) = adjacencyRdd(s, d, minW = 2L)
        s.createDataset(kcorePeelRdd(adj, part, K.toLong, symmetric = true))
          .toDF("node", "core_degree")
      },
      Some {
        val K = 3
        // AS MATERIALIZED: each round references the previous edge set
        // THREE times; inlined CTEs would expand 3^16 subtrees
        val rounds = (1 to 16).map { r =>
          s"""n$r AS MATERIALIZED (SELECT src FROM e${r - 1} GROUP BY src
               HAVING COUNT(*) >= $K),
          e$r AS MATERIALIZED (SELECT e.src, e.dst FROM e${r - 1} e
            JOIN n$r a ON a.src = e.src
            JOIN n$r b ON b.src = e.dst)"""
        }.mkString(",\n        ")
        s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey
               FROM lineitem),
        e0 AS MATERIALIZED (
          SELECT src, dst FROM (
            SELECT a.l_partkey AS src, b.l_partkey AS dst,
              COUNT(*) AS w
            FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
            WHERE a.l_partkey <> b.l_partkey
            GROUP BY 1, 2)
          WHERE w >= 2),
        $rounds
        SELECT src AS node, COUNT(*) AS core_degree
        FROM e16 GROUP BY src"""
      })
  )
}
