package graft.sources

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Whole-file bin-packing shared by the non-splittable sources (pcap,
  * wds, warc): files sorted descending by size, each placed into an
  * open bin by a residual-capacity index — best-fit decreasing via a
  * `TreeMap` ceiling lookup, O(n log n) planning. The greedy
  * `indexWhere` first-fit this replaces was O(n²) when bins rarely
  * close (shards just over half the target): at a million-shard lake
  * that is ~5×10¹¹ driver-side comparisons before the first task
  * launches. Any whole-file assignment is plan-valid (results are
  * partition-invariant), so swapping first-fit for best-fit only
  * changes which task reads which file, never what a query returns.
  */
object BinPack {

  /** A scan's packing parameters: the per-partition byte target and the
    * cost charged per opened file. */
  final case class Target(maxBytes: Long, openCost: Long) {
    def pack[T](items: Seq[(T, Long)]): Seq[Seq[T]] =
      BinPack.pack(items, maxBytes, openCost)
  }

  /** The one partition target of every source: the
    * `maxBytesPerPartition` option when set, else a scale-adaptive
    * target mirroring Spark core's own `FilePartition.maxSplitBytes`
    * formula for file sources:
    * `min(confMax, max(floor, totalBytes / parallelism))`. With the
    * previous fixed default (filesMaxPartitionBytes = 128 MB) a small
    * lake — the bench fixtures, a dev checkout — bin-packed into ONE
    * partition and every decode serialized on one core (round-17
    * measurement: warc_crawl_pipeline spent 1.8 s of its 1.9 s in a
    * single scan task); at 100 TB `totalBytes / parallelism` is far
    * above 128 MB so the target stays the configured maximum and
    * nothing changes. */
  def adaptiveTarget(options: CaseInsensitiveStringMap,
      totalBytes: Long): Target = {
    val spark = SparkSession.active
    val conf = spark.sessionState.conf
    val openCost = conf.filesOpenCostInBytes
    val maxBytes = Option(options.get("maxBytesPerPartition"))
      .map(JavaUtils.byteStringAsBytes).getOrElse {
        // Round 18: the floor is the sub-file SPLIT cost, not the
        // whole-file open cost. Spark core floors maxSplitBytes at
        // openCostInBytes (4 MB) — but here the floor only ever binds on
        // a small lake (totalBytes < cores x 4 MB), where it caps scan
        // parallelism at totalBytes/4MB tasks (measured: the 24 MB warc
        // fixture planned 8 record-range slices, so warc_crawl_pipeline's
        // one heavy stage ran 8 tasks on 32 cores at ~0.3 s CPU each). A
        // record-range / resync slice costs an open + seek + at most one
        // compression-unit scan (tens of KB), not a 4 MB-equivalent file
        // open, so a 1 MB floor keeps splits far above unit granularity
        // while letting small lakes reach cluster parallelism. At 100 TB
        // totalBytes/parallelism >> any floor — behavior unchanged.
        // Whole-file packing is unaffected either way: a file whose len +
        // openCost exceeds the target always got its own bin.
        val floor = math.min(openCost, 1L << 20)
        math.min(conf.filesMaxPartitionBytes, math.max(floor,
          totalBytes / math.max(spark.sparkContext.defaultParallelism, 1)))
      }
    Target(maxBytes, openCost)
  }

  /** Pack `items` (payload, sizeBytes) into bins of at most `maxBytes`
    * counting `openCost` per file; an item larger than the target gets
    * its own bin. Returns the bins' payload lists. */
  def pack[T](items: Seq[(T, Long)], maxBytes: Long,
      openCost: Long): Seq[Seq[T]] = {
    val sorted = items.sortBy(-_._2)
    val bins = scala.collection.mutable.ArrayBuffer
      .empty[scala.collection.mutable.ArrayBuffer[T]]
    // residual capacity -> stack of bin indices with exactly that
    // residual (sizes repeat heavily in real lakes, so buckets, not
    // a multimap of distinct keys)
    val byResidual = new java.util.TreeMap[Long, java.util.ArrayDeque[Integer]]
    def push(residual: Long, idx: Int): Unit =
      if (residual > 0) {
        var q = byResidual.get(residual)
        if (q == null) {
          q = new java.util.ArrayDeque[Integer]
          byResidual.put(residual, q)
        }
        q.push(idx)
      }
    sorted.foreach { case (payload, len) =>
      val cost = len + openCost
      val e = byResidual.ceilingEntry(cost)
      if (e == null) {
        bins += scala.collection.mutable.ArrayBuffer(payload)
        push(maxBytes - cost, bins.length - 1)
      } else {
        val q = e.getValue
        val idx = q.pop().intValue()
        if (q.isEmpty) byResidual.remove(e.getKey)
        bins(idx) += payload
        push(e.getKey - cost, idx)
      }
    }
    bins.map(_.toSeq).toSeq
  }
}
