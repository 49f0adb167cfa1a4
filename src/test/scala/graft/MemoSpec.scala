package graft

import java.nio.file.Files
import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The [[Memo]] registry's discipline, pinned on hand-built entries:
  * recursive builds, a concurrent double build, the content guard, the
  * release path, the build counter and a stopped context. Each test
  * uses its own family and its own source table, so it cannot see
  * another suite's entries. */
class MemoSpec extends AnyFunSuite {

  private def session(): SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  lazy val spark: SparkSession = session()

  /** A one-column parquet table of `n` rows at a fresh path. */
  private def table(n: Int): String = {
    val p = Files.createTempDirectory("memo_spec").resolve("t.parquet")
    spark.range(n).toDF("x").write.parquet(p.toString)
    p.toString
  }

  private def cacheEntry(df: DataFrame) =
    df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])

  private def cached(df: DataFrame): Boolean = cacheEntry(df).isDefined

  test("a builder that memoizes other keys while building, across " +
      "enough keys to share hash bins, builds each key once") {
    val src = table(1)
    val keys = (0 until 300).map(_.toString)
    def inner(k: String): Int =
      Memo.value(spark, "spec_rec", "inner", k, src)(k.toInt)
    val got = keys.map(k =>
      Memo.value(spark, "spec_rec", "outer", k, src)(inner(k) + 1))
    assert(got == keys.map(_.toInt + 1))
    assert(keys.map(k => inner(k) + 1) == got, "inner keys are hits")
    assert(keys.forall(k => Memo.builds("outer", k) == 1 &&
      Memo.builds("inner", k) == 1))
    Memo.clear("spec_rec")
  }

  test("a concurrent double build keeps one CacheManager entry and " +
      "leaves the winner cached") {
    val src = table(50)
    val barrier = new CyclicBarrier(2)
    val pool = Executors.newFixedThreadPool(2)
    val built = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
    try {
      val calls = (1 to 2).map(_ => pool.submit(() =>
        Memo.frame(spark, "spec_race", "race_rel", "d", src) {
          barrier.await(30, TimeUnit.SECONDS)
          val df = spark.read.parquet(src).selectExpr("x * 2 AS y")
          built.add(df)
          df
        }))
      val served = calls.map(_.get(60, TimeUnit.SECONDS))
      assert(Memo.builds("race_rel", "d") == 2, "both callers built")
      assert(served(0) eq served(1), "both callers are served the winner")
      val entries = built.toArray(Array.empty[DataFrame]).map(cacheEntry)
      assert(entries.length == 2 && entries.forall(_.isDefined))
      assert(entries(0).get eq entries(1).get, "one CacheManager entry")
      assert(served(0).count() == 50)
      assert(cached(served(0)), "the loser's drop did not evict the winner")
    } finally {
      pool.shutdown()
      Memo.clear("spec_race")
    }
  }

  test("a rewritten source releases the stale entry before it rebuilds") {
    val src = table(10)
    def sum(): Long = Memo.frame(spark, "spec_guard", "guard_rel", "d", src)(
      spark.read.parquet(src).selectExpr("sum(x) AS s")).first().getLong(0)
    assert(sum() == 45L)
    assert(sum() == 45L && Memo.builds("guard_rel", "d") == 1, "a hit")
    spark.range(10, 20).toDF("x").write.mode("overwrite").parquet(src)
    // same path, same plan: adopting the stale cache would answer 45
    assert(sum() == 145L)
    assert(Memo.builds("guard_rel", "d") == 2)
    Memo.clear("spec_guard")
  }

  test("clear unpersists the family's entries and resets its counters, " +
      "and leaves other families alone") {
    val src = table(20)
    val a = Memo.frame(spark, "spec_clear", "clear_rel", "d", src)(
      spark.read.parquet(src).selectExpr("x + 1 AS y"))
    val b = Memo.frame(spark, "spec_keep", "rel_kept", "d", src)(
      spark.read.parquet(src).selectExpr("x + 2 AS y"))
    assert(a.count() == 20 && b.count() == 20)
    assert(cached(a) && cached(b))
    Memo.clear("spec_clear")
    assert(!cached(a), "clear unpersists")
    assert(Memo.builds("clear_rel", "d") == 0, "clear resets the counter")
    assert(Memo.peek[DataFrame]("clear_rel", "d").isEmpty)
    assert(cached(b) && Memo.builds("rel_kept", "d") == 1)
    Memo.clear("spec_keep")
    assert(!cached(b))
  }

  test("the build counter counts builds, not hits, and counts artifact " +
      "builds held outside the registry") {
    val src = table(1)
    (1 to 3).foreach(_ =>
      Memo.value(spark, "spec_count", "v", "d", src)("built"))
    assert(Memo.builds("v", "d") == 1)
    Memo.countBuild("spec_count", "artifact_v", "d")
    Memo.countBuild("spec_count", "artifact_v", "d")
    assert(Memo.builds("artifact_v", "d") == 2)
    assert(Memo.builds("never_built", "d") == 0)
    Memo.clear("spec_count")
    assert(Memo.builds("v", "d") == 0 && Memo.builds("artifact_v", "d") == 0)
  }

  // stops the suite's session, so it runs last; later suites get a new
  // one from getOrCreate
  test("an entry built in a since-stopped context is rebuilt") {
    val src = table(5)
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s1 = session()
    val v1 = Memo.frame(s1, "spec_ctx", "ctx_rel", "d", src)(s1.read.parquet(src))
    assert(v1.count() == 5)
    s1.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = session()
    try {
      val v2 = Memo.frame(s2, "spec_ctx", "ctx_rel", "d", src)(s2.read.parquet(src))
      assert(v2 ne v1)
      assert(v2.sparkSession eq s2)
      assert(v2.count() == 5)
      assert(Memo.builds("ctx_rel", "d") == 2)
    } finally {
      Memo.clear("spec_ctx")
      s2.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }
}
