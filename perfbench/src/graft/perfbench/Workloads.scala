package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}

/** An output check failed: the program returned a wrong answer. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def apply(ok: Boolean, what: => String): Unit =
    if (!ok) throw new CheckFailed(what)
  def equal[T](got: T, want: T, what: String): Unit =
    apply(got == want, s"$what: got $got, want $want")
}

/** Where the direct layer probes look, on a workload's own inputs. */
final case class ProbeSpec(decodeFile: Path, malformed: Long, answers: Long,
    planDir: Path, planLo: Long, planHi: Long, planKept: Int)

/** One workload: inputs generated from the seed, a closed-loop
  * operation, and the probes' view of the inputs. */
trait Workload {
  /** Capture bytes one operation reads as its source. */
  def sourceBytesPerOp: Long
  /** Untimed operations run at the end of every set-up. */
  def warmupOps: Int
  /** Fewest operations a run measures, and the length of the operation
    * mix's cycle: a run measures whole cycles. */
  def minOps: Int = 20
  def cycle: Int = 1
  def probe: ProbeSpec
  /** Register views in a fresh session. */
  def open(spark: SparkSession): Unit
  /** Run operation `i` through `act`, which wraps every Spark action;
    * return the check of its output, run outside the timed interval. */
  def op(i: Int, spark: SparkSession, act: Act): () => Unit
  /** Documents into digest dedup (measured, expected) and out of it per
    * operation; zero where the workload has no dedup. */
  def docs(spark: SparkSession): (Long, Long, Long) = (0L, 0L, 0L)
}

trait Act { def apply[T](name: String)(f: => T): T }

object Workloads {
  val Names = Seq("lake_scan", "landing_triage", "export_roundtrip",
    "corpus_bridge")

  // Sizes: every input fits the page cache and one run, set-up included,
  // stays within about half a minute on four cores.
  val LakeUnit = 4L << 20
  val LakeRotated = 12
  val LakeBig = 4
  val ZoneFiles = 128
  val ZoneFileBytes = 64L << 10
  val CorpusFlows = 3000
  val CorpusFiles = 4

  def generate(name: String, seed: Long, dir: Path): Workload = name match {
    case "lake_scan" => new LakeScan(Gen.lake(dir.resolve("lake"), seed,
      LakeUnit, LakeRotated, LakeBig))
    case "landing_triage" => new Triage(Gen.zone(dir.resolve("zone"), seed,
      ZoneFiles, ZoneFileBytes), seed)
    case "export_roundtrip" => new Export(Gen.lake(dir.resolve("lake"), seed,
      LakeUnit, LakeRotated, LakeBig), dir.resolve("export"), seed)
    case "corpus_bridge" => new CorpusBridge(CorpusGen.generate(
      dir.resolve("corpus"), seed, CorpusFlows, CorpusFiles))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def opRng(seed: Long, name: String): SplittableRandom =
    new SplittableRandom(seed ^ (name.hashCode.toLong << 32))

  def captureProbe(c: Capture, planFile: Int): ProbeSpec = {
    val (lo0, hi0) = c.tsRange(planFile)
    val (lo, hi) = (lo0 + 10, hi0 - 10)
    val kept = c.files.indices.count { k =>
      val (a, b) = c.tsRange(k); b >= lo && a <= hi
    }
    ProbeSpec(c.files.head, c.malformedIn(0), c.answersIn(0), c.dir, lo, hi,
      kept)
  }

  def pcap(spark: SparkSession, dir: Path) =
    spark.read.format("pcap").option("decoder", "dns").load(dir.toString)
}

/** A fixed batch over the rotated lake: a DNS qtype histogram (narrow,
  * columnar), top talkers by bytes (address strings and a shuffle), and
  * a selective pushed predicate. Decoding does almost all the work; the
  * one file that never rotated makes whole-file scan skew visible. */
final class LakeScan(lake: Capture) extends Workload {
  def sourceBytesPerOp: Long = 3 * lake.bytes
  def warmupOps = 1
  val probe: ProbeSpec = Workloads.captureProbe(lake, 3)
  private val hist = lake.qtypeHist
  private val talkers = lake.topTalkers(10)
  private val aaaa = lake.countWhere(t => t.dstPort == 53 && t.qtype == 28)

  def open(spark: SparkSession): Unit =
    Workloads.pcap(spark, lake.dir).createOrReplaceTempView("lake")

  def op(i: Int, spark: SparkSession, act: Act): () => Unit = {
    val h = act("qtype_histogram")(spark.sql("SELECT dns_qtype, count(*) " +
      "FROM lake WHERE dns_qtype IS NOT NULL GROUP BY dns_qtype").collect())
    val t = act("top_talkers")(spark.sql("SELECT src, dst, protocol, " +
      "sum(size) AS b FROM lake WHERE src IS NOT NULL GROUP BY src, dst, " +
      "protocol ORDER BY b DESC, src, dst, protocol LIMIT 10").collect())
    val p = act("aaaa_predicate")(spark.sql("SELECT count(*), sum(size) " +
      "FROM lake WHERE dst_port = 53 AND dns_qtype = 28").collect())
    () => {
      Check.equal(h.map(r => r.getInt(0) -> r.getLong(1)).toMap, hist,
        "qtype histogram")
      Check.equal(t.map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq, talkers, "top talkers")
      Check.equal((p(0).getLong(0), p(0).getLong(1)), aaaa, "AAAA predicate")
    }
  }
}

/** Short queries over a landing zone of small files, each a disjoint
  * 60 s window with its `.tsidx` sidecar: listing, sidecar reads, ts
  * pruning and planning dominate, and only a few files get decoded. */
final class Triage(zone: Capture, seed: Long) extends Workload {
  def sourceBytesPerOp: Long = zone.bytes
  def warmupOps = 4
  // p90 then has at least ten samples beyond it
  override def minOps = 100
  override def cycle: Int = Kinds.length
  val probe: ProbeSpec = Workloads.captureProbe(zone, zone.files.length / 2)
  private val rng = Workloads.opRng(seed, "landing_triage")
  /** Lookup names drawn by traffic share, so most lookups find packets. */
  private val names = zone.pool.map(_.qname).filter(_ != null)

  def open(spark: SparkSession): Unit =
    Workloads.pcap(spark, zone.dir).createOrReplaceTempView("zone")

  /** Query kinds in fixed shares, 6:6:3:5 in every run of 20, and window
    * widths cycling through 1 to 4 files, so runs with different seeds
    * differ in window positions and names, not in mix. */
  private val Kinds = Array(0, 1, 3, 0, 1, 2, 3, 0, 1, 3, 0, 1, 2, 3, 0, 1,
    3, 0, 1, 2)

  def op(i: Int, spark: SparkSession, act: Act): () => Unit = {
    val kind = Kinds(i % Kinds.length)
    val w = 1 + i * 3 % 4
    val f0 = rng.nextInt(zone.files.length - w + 1)
    val lo = Gen.ZoneT0 + 60L * f0 + rng.nextInt(30)
    val hi = Gen.ZoneT0 + 60L * (f0 + w) - 1 - rng.nextInt(30)
    val win = s"ts >= $lo AND ts <= $hi"
    if (kind == 0) {
      val r = act("window_count")(
        spark.sql(s"SELECT count(*) FROM zone WHERE $win").collect())
      () => Check.equal(r(0).getLong(0), zone.countWindow(lo, hi, _ => true)._1,
        s"count in [$lo, $hi]")
    } else if (kind == 1) {
      val r = act("window_qtype_top")(spark.sql("SELECT dns_qtype, count(*) AS c " +
        s"FROM zone WHERE $win AND dns_qtype IS NOT NULL GROUP BY dns_qtype " +
        "ORDER BY c DESC, dns_qtype LIMIT 3").collect())
      () => {
        val want = zone.pool.map(_.qtype).distinct.filter(_ != 0)
          .map(q => q -> zone.countWindow(lo, hi, _.qtype == q)._1)
          .filter(_._2 > 0).sortBy { case (q, c) => (-c, q) }.take(3).toSeq
        Check.equal(r.map(x => x.getInt(0) -> x.getLong(1)).toSeq, want,
          s"qtype top-3 in [$lo, $hi]")
      }
    } else if (kind == 2) {
      val n = act("meta_count")(spark.table("zone").count())
      () => Check.equal(n, zone.packets, "metadata count(*)")
    } else {
      // the answer records, parsed and formatted, of every match
      val name = names(rng.nextInt(names.length))
      val r = act("qname_lookup")(spark.sql("SELECT count(*), " +
        "coalesce(sum(size(dns_answer)), 0), " +
        "array_sort(array_distinct(flatten(collect_list(dns_answer)))) " +
        s"FROM zone WHERE $win AND dns_qname = '$name'").collect())
      () => {
        val c = zone.windowCounts(lo, hi)
        val hits = zone.pool.indices.filter(i => c(i) > 0 &&
          zone.pool(i).qname == name)
        Check.equal((r(0).getLong(0), r(0).getLong(1),
          r(0).getSeq[String](2)), (hits.map(c(_)).sum,
          hits.map(i => c(i) * zone.pool(i).answers.size).sum,
          hits.flatMap(zone.pool(_).answers).distinct.sorted),
          s"$name (count, answers, distinct answers) in [$lo, $hi]")
      }
    }
  }
}

/** Carve seeded time-window and qtype subsets out of the lake, write
  * them through the pcap sink (classic and pcapng), read them back and
  * check them: the write path beside the reads. */
final class Export(lake: Capture, out: Path, seed: Long) extends Workload {
  def sourceBytesPerOp: Long = lake.bytes
  def warmupOps = 2
  override def cycle = 4
  val probe: ProbeSpec = Workloads.captureProbe(lake, 3)
  private val rng = Workloads.opRng(seed, "export_roundtrip")

  def open(spark: SparkSession): Unit = Gen.deleteTree(out)

  def op(i: Int, spark: SparkSession, act: Act): () => Unit = {
    import org.apache.spark.sql.functions.{count, lit, sum}
    // window and qtype subsets, each in both containers, in turn; the
    // seed moves the windows, the shapes repeat in every run. The ground
    // truth is computed in the check, off the clock.
    val (pred, want) =
      if (i % 2 == 0) {
        val spans = 1 + i / 2 % 3
        val lo = Gen.LakeT0 + Gen.LakeSpan *
          rng.nextInt(Workloads.LakeRotated - spans) + rng.nextInt(60)
        val hi = lo + Gen.LakeSpan * spans - 60
        (s"ts >= $lo AND ts <= $hi", () => lake.countWindow(lo, hi, _ => true))
      } else {
        val q = Array(28, 15, 16, 33)(i / 2 % 4)
        (s"dns_qtype = $q", () => lake.countWhere(_.qtype == q))
      }
    val container = if (i % 4 < 2) "pcap" else "pcapng"
    val dir = out.resolve(s"op-$i")
    act("sink_write")(Workloads.pcap(spark, lake.dir).filter(pred)
      .select("ts_micro", "frame").write.format("pcap")
      .option("container", container).mode("append").save(dir.toString))
    val meta = act("readback_meta_count")(
      spark.read.format("pcap").load(dir.toString).count())
    val dec = act("readback_decode")(spark.read.format("pcap")
      .load(dir.toString).filter("size > 0")
      .agg(count(lit(1)), sum("size")).collect())
    () => try {
      // dot files are the local file system's checksums
      val names = dir.toFile.list().filterNot(_.startsWith("."))
      val data = names.filter(_.endsWith("." + container))
      Check.equal(names.count(_.endsWith(".tsidx")), data.length,
        s"sidecars for $pred")
      Check.equal(names.length, 2 * data.length, s"stray files for $pred")
      val (n, bytes) = want()
      Check.equal(meta, n, s"sidecar count for $pred")
      Check.equal((dec(0).getLong(0), dec(0).getLong(1)), (n, bytes),
        s"decoded (count, bytes) for $pred")
    } finally Gen.deleteTree(dir)
  }
}

/** Seeded segmented HTTP conversations through the pcap→corpus bridge:
  * reassembly, `http_deframe`, gating and digest dedup, so operators,
  * shuffles and native expressions do the work. */
final class CorpusBridge(c: Corpus) extends Workload {
  def sourceBytesPerOp: Long = c.bytes
  def warmupOps = 1
  val probe: ProbeSpec = {
    val (lo0, hi0) = c.tsRanges(1)
    val (lo, hi) = (lo0 + 10, hi0 - 10)
    ProbeSpec(c.files.head, c.malformed.head, c.answers.head, c.dir, lo, hi,
      c.tsRanges.count { case (a, b) => b >= lo && a <= hi })
  }
  def dupShare: Double = c.dupShare

  def open(spark: SparkSession): Unit = ()

  private def bridge(spark: SparkSession) =
    graft.operators.PcapQueries.httpToCorpus(spark, c.dir.toString,
      CorpusGen.ServerPort, CorpusGen.DocIdBase)

  def op(i: Int, spark: SparkSession, act: Act): () => Unit = {
    val rows = act("http_to_corpus")(bridge(spark).collect())
    () => {
      val got = rows.map((r: Row) => Doc(r.getLong(0), r.getString(1),
        r.getLong(2), r.getLong(3), r.getString(4))).sortBy(_.docId).toSeq
      Check.equal(got.length, c.docs.length, "corpus document count")
      got.zip(c.docs).find { case (a, b) => a != b }.foreach { case (a, b) =>
        throw new CheckFailed(s"corpus document: got $a, want $b")
      }
    }
  }

  override def docs(spark: SparkSession): (Long, Long, Long) =
    (graft.operators.PcapQueries.httpCorpusGated(spark, c.dir.toString,
      CorpusGen.ServerPort, CorpusGen.DocIdBase).count(), c.gated,
      c.docs.length.toLong)
}
