package graft.pcap

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.funsuite.AnyFunSuite

import graft.Memo
import graft.sources.pcap.PcapTsIndex

/** The pcap scan's `.tsidx` stats memo: one `graft.Memo` entry per
  * listed directory, guarded by the listed sidecars' (name, length,
  * mtime), so a query over an unchanged directory opens no sidecar,
  * while a rewritten, added or deleted sidecar changes pruning and the
  * pushed count within the session. Read through the scan's driver
  * metrics on the executed `BatchScanExec`. */
class PcapSidecarMemoSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private def session(): SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private var current: SparkSession = _
  private def spark: SparkSession = {
    if (current == null) current = session()
    current
  }

  private val Base = 1000000000L
  /** An hour before the suite ran, whole seconds: past the racy margin. */
  private val Old = (System.currentTimeMillis() / 1000 - 3600) * 1000

  private def window(i: Int): (Long, Long) = (Base + i * 100, Base + i * 100 + 40)

  private def writeSidecar(dir: Path, i: Int, mn: Long, mx: Long, n: Long,
      mtime: Long): Unit = {
    val p = dir.resolve(s"cap$i.pcap.tsidx")
    Files.write(p, s"$mn $mx $n\n".getBytes("UTF-8"))
    assert(p.toFile.setLastModified(mtime))
  }

  /** Capture `i`: five packets 10 s apart in its own 100 s window, and
    * its exact sidecar, dated `mtime`. */
  private def addCapture(dir: Path, i: Int, mtime: Long = Old): Unit = {
    val (lo, hi) = window(i)
    PcapSynth.writeAtomic(dir.resolve(s"cap$i.pcap"), PcapSynth.file(
      (0 until 5).map(k => (lo + k * 10, 0L, PcapSynth.synthFrame(i * 5 + k)))))
    writeSidecar(dir, i, lo, hi, 5, mtime)
  }

  private def zone(n: Int = 4): Path = {
    val dir = Files.createTempDirectory("pcap_memo")
    (0 until n).foreach(addCapture(dir, _))
    dir
  }

  /** The directory as its listing names it: the memo entry's key. */
  private def memoKey(dir: Path): String = s"file:$dir"

  private def inWindow(dir: Path, i: Int): DataFrame = {
    val (lo, hi) = window(i)
    spark.read.format("pcap").load(dir.toString)
      .filter(s"ts >= $lo AND ts <= $hi").select("ts", "pkt_idx")
  }

  private def counted(dir: Path): DataFrame =
    spark.read.format("pcap").load(dir.toString).groupBy().count()

  private val Keys =
    Seq("filesListed", "filesPrunedByTs", "sidecarsRead", "sidecarsFromMemo")

  /** The rows of `df` and its one pcap scan's driver metrics, in [[Keys]]
    * order (none for a scan with no ts window). */
  private def run(df: DataFrame): (Seq[Row], Seq[Long], String) = {
    val rows = df.collect().toSeq.sortBy(_.toString)
    val scans = collect(df.queryExecution.executedPlan) {
      case b: BatchScanExec => b
    }
    assert(scans.size == 1, df.queryExecution.executedPlan.toString)
    (rows, Keys.flatMap(scans.head.metrics.get(_).map(_.value)),
      scans.head.scan.description())
  }

  test("a repeated windowed query and a metadata count(*) over an " +
      "unchanged directory read no sidecar") {
    val dir = zone()
    val (rows1, m1, _) = run(inWindow(dir, 1))
    assert(rows1.size == 5)
    assert(m1 == Seq(4, 3, 4, 0))
    val (rows2, m2, _) = run(inWindow(dir, 1))
    assert(rows2 == rows1)
    assert(m2 == Seq(4, 3, 0, 4))
    val (cnt, m3, desc) = run(counted(dir))
    assert(desc.startsWith("PcapStatsScan"), desc)
    assert(cnt == Seq(Row(20L)))
    assert(m3 == Seq(4, 0, 0, 4))
    assert(Memo.builds("pcap.tsidx", memoKey(dir)) == 1)
  }

  test("a sidecar rewritten in place changes pruning and the pushed " +
      "count, also at the same length and mtime inside the racy window") {
    val dir = zone()
    run(inWindow(dir, 1))
    // a wider (still exact as a bound) range at a new mtime: capture 0
    // now meets capture 1's window and is kept; the directory's
    // sidecars are read again
    writeSidecar(dir, 0, Base, Base + 140, 5, Old + 1000)
    val (rows, m, _) = run(inWindow(dir, 1))
    assert(rows.size == 5)
    assert(m == Seq(4, 2, 4, 0))
    assert(Memo.builds("pcap.tsidx", memoKey(dir)) == 2)

    // racy: an mtime a minute ahead of the driver's clock (a store whose
    // clock runs ahead) stays within the margin however slow the host
    val racy = System.currentTimeMillis() + 60000
    writeSidecar(dir, 2, Base + 200, Base + 240, 5, racy)
    val (rows2, m2, _) = run(inWindow(dir, 2))
    assert(rows2.size == 5)
    assert(m2 == Seq(4, 3, 4, 0))
    // rewritten to the same length and the same mtime: a guard on
    // (name, length, mtime) alone would serve the old range and count
    writeSidecar(dir, 2, Base + 900, Base + 940, 6, racy)
    val (rows3, m3, _) = run(inWindow(dir, 2))
    assert(rows3.isEmpty, "capture 2's sidecar now excludes its window")
    assert(m3 == Seq(4, 4, 4, 0))
    assert(run(counted(dir))._1 == Seq(Row(21L)))
    // a listing that shows a racy sidecar installs no entry
    assert(Memo.builds("pcap.tsidx", memoKey(dir)) == 2)
  }

  test("an added capture is planned; a deleted sidecar leaves its " +
      "capture unpruned and declines the count pushdown") {
    val dir = zone()
    assert(run(counted(dir))._1 == Seq(Row(20L)))
    assert(run(inWindow(dir, 4))._1.isEmpty)
    addCapture(dir, 4)
    val (rows, m, _) = run(inWindow(dir, 4))
    assert(rows.size == 5)
    assert(m == Seq(5, 4, 5, 0))
    assert(run(counted(dir))._1 == Seq(Row(25L)))

    Files.delete(dir.resolve("cap2.pcap.tsidx"))
    val (rows2, m2, _) = run(inWindow(dir, 0))
    assert(rows2.size == 5)
    assert(m2 == Seq(5, 3, 4, 0), "capture 2 is kept, unpruned")
    val (cnt, m3, desc) = run(counted(dir))
    assert(desc.startsWith("PcapScan"), desc)
    assert(cnt == Seq(Row(25L)))
    assert(m3.isEmpty, "a scan with no ts window reports no planning counts")
  }

  // stops the suite's session, so it runs last; later suites get a new
  // one from getOrCreate
  test("Memo.clear drops the entry; a recreated session rebuilds it") {
    val dir = zone()
    val d = memoKey(dir)
    val (rows, _, _) = run(inWindow(dir, 3))
    assert(run(inWindow(dir, 3))._2(2) == 0)
    Memo.clear("pcap")
    assert(Memo.peek[PcapTsIndex.SidecarTable]("pcap.tsidx", d).isEmpty)
    assert(run(inWindow(dir, 3))._2 == Seq(4, 3, 4, 0))
    assert(Memo.builds("pcap.tsidx", d) == 1)

    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    current = session()
    // the entry of the stopped context is rebuilt, its sidecars read
    val (rows2, m2, _) = run(inWindow(dir, 3))
    assert(rows2 == rows)
    assert(m2 == Seq(4, 3, 4, 0))
    assert(run(inWindow(dir, 3))._2 == Seq(4, 3, 0, 4))
    assert(Memo.builds("pcap.tsidx", d) == 2)
  }
}
