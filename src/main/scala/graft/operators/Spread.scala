package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions.{col, expr}

/** Round-17 optimization helper (consolidated round 18): spread a
  * CPU-amplifying relation across the cluster before its expensive
  * per-row stage.
  *
  * Motivation (guide §2.5 "input skew" / §1 measurement): the corpus
  * tables at bench scale are single small parquet files, so a scan
  * feeding a 100-1000x CPU amplifier (per-position md5 grams, shingle
  * hashing, media decode) plans as ONE input partition and the whole
  * amplifier serializes on one core (measured: text_repeat_spans spent
  * ~2.8 s of its 4.2 s in a single-task gram stage; the MJPEG decode of
  * mm_video_overlap_mjpeg ran entirely on one task).
  *
  * The fix is operator-level and scale-adaptive, not a config hack:
  * when (and only when) the upstream scan yields fewer partitions than
  * defaultParallelism, hash-repartition on the row key. The exchange
  * moves the raw input bytes once — negligible next to the amplified
  * downstream work — and at production scale the scan already has more
  * partitions than cores, so this is a no-op there.
  *
  * Round 18 (verdict item): the partition-count probe (`df.rdd`)
  * compiles a physical plan per invocation, which a 100 TB deployment
  * would pay on every call just to learn "the input is huge". A
  * logical-stats pre-gate now short-circuits it: when the optimizer's
  * size estimate says the input cannot plan below cluster parallelism
  * (est >= cores x maxPartitionBytes, or is unknown), both the probe
  * and the exchange are skipped outright. The three former copies of
  * this idea (Spread.byKey / Multimodal.spreadIds /
  * MediaDedup.spreadSorted) now share this one implementation.
  *
  * [[forGrouping]] serves the pcap→corpus bridge's conversation
  * grouping (`PcapQueries.httpCorpusGated`). AQE coalesces an exchange
  * by shuffled BYTES (1 MB minimum), which would put a small capture's
  * CPU-dense segments in ONE task; a fixed-count exchange is never
  * coalesced.
  */
object Spread {

  /** True when the optimizer's size estimate leaves room for the scan
    * to plan fewer partitions than defaultParallelism — only then is
    * the exact (physical-plan) partition probe worth paying. Unknown
    * estimates (Long.MaxValue default) read as "big": at production
    * scale the spread must cost nothing, and a false negative merely
    * returns to pre-spread behavior on an exotic plan shape. */
  private def mightBeNarrow(df: DataFrame): Boolean = {
    val s = df.sparkSession
    val par = s.sparkContext.defaultParallelism
    val maxPB = s.sessionState.conf.filesMaxPartitionBytes
    df.queryExecution.optimizedPlan.stats.sizeInBytes <
      BigInt(maxPB) * par
  }

  /** `df` hash-repartitioned on `key` to defaultParallelism iff the
    * stats gate says it could be narrow AND its physical plan has
    * fewer partitions than that; identity otherwise. */
  def byExpr(df: DataFrame, key: Column): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (!mightBeNarrow(df) || df.rdd.getNumPartitions >= par) df
    else df.repartition(par, key)
  }

  def byKey(df: DataFrame, key: String): DataFrame = byExpr(df, col(key))

  /** [[byExpr]] without the probe, for a grouping on `keys` that
    * shuffles anyway and so reuses this exchange; identity leaves the
    * planner's AQE-sized one. */
  def forGrouping(df: DataFrame, keys: Column*): DataFrame =
    if (!mightBeNarrow(df)) df
    else df.repartition(df.sparkSession.sparkContext.defaultParallelism,
      keys: _*)

  /** An id list spread on the id itself — the per-id codec sweeps. */
  def ids(ds: Dataset[Long]): Dataset[Long] = {
    val s = ds.sparkSession
    import s.implicits._
    byKey(ds.toDF("id"), "id").as[Long]
  }

  /** An id list spread on a fixture-group expression (members of a
    * group stay co-located for the single-entry decode caches), each
    * partition then sorted by id so group members are adjacent. The
    * sort is paid ONLY when the exchange actually happened: an
    * unspread (production-scale) scan already delivers ids in natural
    * parquet order, and a per-partition sort of a huge scan partition
    * would buffer it for nothing. */
  def sortedIds(ds: Dataset[Long], gidSql: String): Dataset[Long] = {
    val s = ds.sparkSession
    import s.implicits._
    val df = ds.toDF("id")
    val par = s.sparkContext.defaultParallelism
    if (!mightBeNarrow(df) || df.rdd.getNumPartitions >= par) ds
    else df.repartition(par, expr(gidSql))
      .sortWithinPartitions(col("id")).as[Long]
  }
}
