package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one memo registry: every per-dataset artifact that several
  * queries of a session reuse — cached shingle, signature, span and
  * media relations, trained centroids and codebooks, co-purchase edges,
  * table schemas — lives here, under one build discipline, one release
  * path and one build counter.
  *
  * An entry is keyed on (kind, d): `kind` names the artifact, `d` the
  * dataset (or table path) it was built for. It belongs to a family,
  * the unit [[clear]] drops. It records the [[Tables.fingerprint]] of
  * the table it derives from (or a guard its caller folded from a
  * listing it already holds) and the SparkContext it was built in; a
  * hit whose fingerprint differs (the table was rewritten or grew in
  * place) or whose context has stopped is released and rebuilt.
  *
  * Build discipline:
  *   - builds run outside any lock: builders memoize recursively
  *     (signatures → shingles), and a nested update inside
  *     ConcurrentHashMap.compute fails with "Recursive update" once two
  *     keys share a bin;
  *   - a stale entry is released before its rebuild: a rewritten table
  *     keeps its path, so the rebuilt relation canonicalizes to the
  *     stale one's plan, and `.cache()` would otherwise adopt the stale
  *     CacheManager entry;
  *   - on a concurrent double build the installed entry wins and the
  *     loser is dropped unreleased: two cached DataFrames of one plan
  *     share one CacheManager entry, so unpersisting the loser would
  *     evict the winner (a loser's persisted RDD is unpersisted by the
  *     ContextCleaner once unreachable).
  */
object Memo {

  private final class Entry(val value: Any, fp: Long, sc: SparkContext,
      release: () => Unit) {
    def live(fpNow: Long): Boolean = fp == fpNow && !sc.isStopped
    def drop(): Unit = if (!sc.isStopped) release()
  }

  /** One (kind, d) key: its family, its build counter and its current
    * entry (null before the first build and after a release). */
  private final class Slot(val family: String) {
    val builds = new java.util.concurrent.atomic.AtomicLong()
    private var entry: Entry = _

    def current: Entry = synchronized(entry)

    /** Installs `next` unless a live entry is already there; returns
      * the entry to serve and the one that `next` displaced. */
    def install(next: Entry, fp: Long): (Entry, Entry) = synchronized {
      val cur = entry
      if (cur != null && cur.live(fp)) (cur, null)
      else { entry = next; (next, cur) }
    }

    /** Takes the entry out, whatever it is. */
    def take(): Entry = synchronized { val cur = entry; entry = null; cur }

    /** Takes `expected` out if it is still the entry. */
    def evict(expected: Entry): Boolean = synchronized {
      val hit = entry eq expected
      if (hit) entry = null
      hit
    }
  }

  private val slots =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Slot]()

  private def slot(family: String, kind: String, d: String): Slot =
    slots.computeIfAbsent((kind, d), _ => new Slot(family))

  /** The driver-side value of (kind, d), built by `build` on a miss and
    * guarded by the content of the table at `source`. */
  def value[V](s: SparkSession, family: String, kind: String, d: String,
      source: String)(build: => V): V =
    releasing[V](s, family, kind, d, source, _ => ())(build)

  /** [[value]] for a value that pins executor or cache memory:
    * `release` frees it (cached relations, persisted RDDs) when the
    * entry is cleared or replaced. */
  def releasing[V](s: SparkSession, family: String, kind: String,
      d: String, source: String, release: V => Unit)(build: => V): V =
    guarded[V](s, family, kind, d, Tables.fingerprint(source), release)(
      build)

  /** [[value]] guarded by a fingerprint the caller already holds, for a
    * source that [[Tables.fingerprint]] would have to list again (the
    * pcap scan folds its sidecars' statuses from the listing it made
    * anyway). */
  def value[V](s: SparkSession, family: String, kind: String, d: String,
      guard: Long)(build: => V): V =
    guarded[V](s, family, kind, d, guard, _ => ())(build)

  private def guarded[V](s: SparkSession, family: String, kind: String,
      d: String, fp: Long, release: V => Unit)(build: => V): V = {
    val sl = slot(family, kind, d)
    val cur = sl.current
    if (cur != null) {
      if (cur.live(fp)) return cur.value.asInstanceOf[V]
      if (sl.evict(cur)) cur.drop()
    }
    sl.builds.incrementAndGet()
    val v = build
    val (served, displaced) =
      sl.install(new Entry(v, fp, s.sparkContext, () => release(v)), fp)
    if (displaced != null) displaced.drop()
    served.value.asInstanceOf[V]
  }

  /** A cached relation, memoized like [[value]] and unpersisted on
    * release. */
  def frame(s: SparkSession, family: String, kind: String, d: String,
      source: String)(build: => DataFrame): DataFrame =
    releasing[DataFrame](s, family, kind, d, source, _.unpersist())(
      build.cache())

  /** The current value of (kind, d) without building or guarding it. */
  def peek[V](kind: String, d: String): Option[V] =
    Option(slots.get((kind, d))).flatMap(sl => Option(sl.current))
      .map(_.value.asInstanceOf[V])

  /** Counts a build of an artifact the registry does not hold (a
    * persisted index's full build) under the same counter. */
  def countBuild(family: String, kind: String, d: String): Unit =
    slot(family, kind, d).builds.incrementAndGet()

  /** Builds of (kind, d) since its family was last cleared. */
  def builds(kind: String, d: String): Long = {
    val sl = slots.get((kind, d))
    if (sl == null) 0L else sl.builds.get()
  }

  /** Releases every entry of `family` and resets its build counters. */
  def clear(family: String): Unit =
    slots.forEach { (k, sl) =>
      if (sl.family == family && slots.remove(k, sl)) {
        val cur = sl.take()
        if (cur != null) cur.drop()
      }
    }
}
