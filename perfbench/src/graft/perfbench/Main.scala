package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** One closed-loop operation as measured. */
final case class OpRecord(latencyNs: Long, gcMs: Long, stats: OpStats,
    ok: Boolean, spans: Seq[Span])

/** Runs a workload's operations one at a time (a single client) and
  * meters each: wall latency around the operation, listener numbers
  * after draining its executions, then the output check. */
final class Runner(spark: SparkSession, meter: Meter, wl: Workload,
    errors: ArrayBuffer[String]) {
  private var expected = meter.settle()
  var tracing = false

  /** Resynchronize after Spark work outside [[run]]. */
  def resync(): Unit = { expected = meter.settle(); meter.take() }

  def run(i: Int): OpRecord = {
    meter.tracing = tracing
    val opSpan = Span.nextId()
    val actions = ArrayBuffer[Span]()
    val act = new Act {
      def apply[T](name: String)(f: => T): T = {
        val s = Span.nowUs()
        val r = f
        expected += 1
        if (tracing) actions += Span(Span.nextId(), opSpan, i, "action", name,
          s, Span.nowUs())
        r
      }
    }
    val s0 = Span.nowUs()
    val gc0 = Host.gcMs()
    val t0 = System.nanoTime()
    val outcome = Try(wl.op(i, spark, act))
    val lat = System.nanoTime() - t0
    val gc = Host.gcMs() - gc0
    val s1 = Span.nowUs()
    val checked = outcome.flatMap { check =>
      meter.drain(expected)
      Try(check())
    }
    if (outcome.isFailure) expected = meter.settle()
    val st = meter.take()
    checked match {
      case Failure(e) =>
        val msg = s"${e.getClass.getName}: ${e.getMessage}".replace('\n', ' ')
        errors += s"op $i: $msg"
        System.err.println(s"[perfbench] FAILED op $i: $msg")
      case Success(_) => ()
    }
    val spans =
      if (!tracing) Nil
      else {
        val op = Span(opSpan, -1, i, "op", "op", s0, s1)
        // phases and jobs belong to the action whose interval holds their
        // start (Spark stamps them in whole milliseconds)
        val linked = st.spans.map { sp =>
          val parent =
            if (sp.parent >= 0) sp.parent
            else actions.find(a => sp.startUs >= a.startUs - 1000 &&
              sp.startUs <= a.endUs).map(_.id).getOrElse(opSpan)
          sp.copy(parent = parent, op = i.toLong)
        }
        (op +: actions.toSeq) ++ linked
      }
    OpRecord(lat, gc, st, checked.isSuccess, spans)
  }
}

object Main {
  val SetupCycles = 3

  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(k)
    if (i < 0 || i + 1 >= args.length)
      throw new IllegalArgumentException(s"missing $k")
    args(i + 1)
  }

  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder().master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val name = arg(args, "--workload")
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toDouble
    val trace = arg(args, "--trace") == "1"
    val work = Paths.get(arg(args, "--work")).toAbsolutePath
    val traceDir = Paths.get(arg(args, "--trace-dir")).toAbsolutePath
    require(Workloads.Names.contains(name), s"unknown workload $name")
    val inputs = work.resolve("inputs")
    val errors = ArrayBuffer[String]()
    var attempted = 0
    var failed = 0
    def count(r: OpRecord): OpRecord = {
      attempted += 1; if (!r.ok) failed += 1; r
    }

    // set-up, the same way every time: fresh inputs from the seed, a
    // fresh session, then the workload's untimed warm-up operations
    var spark: SparkSession = null
    var meter: Meter = null
    var runner: Runner = null
    var wl: Workload = null
    val setupS = ArrayBuffer[Double]()
    val digests = ArrayBuffer[String]()
    for (_ <- 1 to SetupCycles) {
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      Gen.deleteTree(inputs)
      wl = Workloads.generate(name, seed, inputs)
      val tg = System.nanoTime()
      spark = session(work)
      val ts = System.nanoTime()
      meter = new Meter
      spark.sparkContext.addSparkListener(meter)
      wl.open(spark)
      runner = new Runner(spark, meter, wl, errors)
      (0 until wl.warmupOps).foreach(i => count(runner.run(i)))
      setupS += (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] setup s: generate ${(tg - t0) / 1e9}%.2f, " +
        f"session ${(ts - tg) / 1e9}%.2f, warm-up ${(System.nanoTime() - ts) / 1e9}%.2f")
      digests += Gen.digest(wl.probe.planDir)
    }
    // generator self-check: same seed, same bytes; another seed, other bytes
    def sample(s: Long): String = {
      val d = work.resolve(s"selfcheck-$s")
      Gen.deleteTree(d)
      Gen.lake(d, s, 256L << 10, 2, 1)
      try Gen.digest(d) finally Gen.deleteTree(d)
    }
    val selfCheck = Seq(
      digests.distinct.size == 1 -> "same seed gave different inputs",
      (sample(seed) != sample(seed + 1)) -> "two seeds gave identical inputs")
    selfCheck.collect { case (false, msg) => msg }.foreach { msg =>
      errors += s"generator: $msg"
      System.err.println(s"[perfbench] FAILED generator self-check: $msg")
    }

    // set-up garbage must not count toward the loop's live heap
    System.gc()
    val (user0, steal0) = Host.ticks()
    val heap = new LiveHeap
    // the closed loop, for at least `seconds` and at least the
    // workload's minimum, in whole cycles of its operation mix; a traced
    // run alternates untraced and traced cycles, so both halves see the
    // same warm-up and the same mix (alternating single operations would
    // trace only every other kind of a mix of even length)
    val block = if (trace) 2 * wl.cycle else wl.cycle
    val ops = ArrayBuffer[(Boolean, OpRecord)]()
    val loop0 = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - loop0) / 1e9 < seconds || i < wl.minOps ||
        i % block != 0) {
      runner.tracing = trace && i / wl.cycle % 2 == 1
      ops += (runner.tracing -> count(runner.run(wl.warmupOps + i)))
      i += 1
    }
    val plain = ops.collect { case (false, r) => r }.toSeq
    val traced = ops.collect { case (true, r) => r }.toSeq
    val liveHeap = heap.stop()
    System.err.println(f"[perfbench] live heap MB: max after full GC " +
      f"$liveHeap%.1f; ${heap.collections} collections in the loop")
    val (user1, steal1) = Host.ticks()

    val cores = Runtime.getRuntime.availableProcessors
    val m = ArrayBuffer[(String, Double, String)]()
    def lat(rs: Seq[OpRecord]) = rs.map(_.latencyNs / 1e6)
    val busyS = plain.map(_.latencyNs).sum / 1e9
    val p50 = Stats.median(lat(plain))
    if (!trace) {
      m += (("setup_s", Stats.median(setupS.toSeq), "s"))
      m += (("p50_ms", p50, "ms"))
      m += (("p90_ms", Stats.quantile(lat(plain), 0.9), "ms"))
      m += (("ops_s", plain.length / busyS, "1/s"))
      m += (("exec_cpu_ms", plain.map(_.stats.cpuNs).sum / 1e6 / plain.length, "ms"))
      m += (("peak_heap_mb", liveHeap, "MB"))
    } else {
      val spans = ArrayBuffer[Span](traced.flatMap(_.spans): _*)
      // per-operation means: Spark reports whole milliseconds, and a
      // median of those would repeat to the digit from run to run
      def avg(f: OpRecord => Double) = traced.map(f).sum / traced.length
      def self(r: OpRecord, kind: String) = {
        val kids = r.spans.groupBy(_.parent)
        r.spans.filter(_.kind == kind)
          .map(s => Span.selfUs(s, kids.getOrElse(s.id, Nil))).sum / 1e3
      }
      def dur(r: OpRecord, p: Span => Boolean) =
        r.spans.filter(p).map(s => s.endUs - s.startUs).sum / 1e3
      def taskShare(r: OpRecord, scan: Boolean) = {
        val t = r.stats.scanTaskMs + r.stats.opsTaskMs
        if (t == 0) 0.0 else (if (scan) r.stats.scanTaskMs else r.stats.opsTaskMs).toDouble / t
      }
      m += (("scan.packets_decoded", avg(_.stats.packets.toDouble), "count"))
      m += (("scan.bytes_decoded", avg(_.stats.decodedBytes.toDouble), "count"))
      m += (("scan.rows_per_packet", avg(r =>
        if (r.stats.packets == 0) 0.0 else r.stats.scanRows.toDouble / r.stats.packets), "ratio"))
      m += (("scan.task_ms", avg(_.stats.scanTaskMs.toDouble), "ms"))
      m += (("driver.analysis_ms", avg(_.stats.analysisMs.toDouble), "ms"))
      m += (("driver.optimization_ms", avg(_.stats.optimizationMs.toDouble), "ms"))
      m += (("driver.planning_ms", avg(_.stats.planningMs.toDouble), "ms"))
      m += (("driver.jobs", avg(_.stats.jobs.toDouble), "count"))
      m += (("driver.stages", avg(_.stats.stages.toDouble), "count"))
      m += (("ops.task_ms", avg(_.stats.opsTaskMs.toDouble), "ms"))
      m += (("ops.shuffle_write_mb", avg(_.stats.shuffleWrite / 1e6), "MB"))
      m += (("ops.shuffle_read_mb", avg(_.stats.shuffleRead / 1e6), "MB"))
      m += (("exec.run_s", avg(_.stats.runMs / 1e3), "s"))
      m += (("exec.gc_s", avg(_.gcMs / 1e3), "s"))
      m += (("exec.cpu_util", avg(r => r.stats.cpuNs.toDouble / (r.latencyNs.toDouble * cores)), "ratio"))
      m += (("host.user_ticks", (user1 - user0).toDouble, "count"))
      m += (("host.steal_ticks", (steal1 - steal0).toDouble, "count"))
      m += (("share.decode", avg(taskShare(_, scan = true)), "ratio"))
      m += (("share.ops", avg(taskShare(_, scan = false)), "ratio"))
      m += (("share.planning", avg(r => (r.stats.analysisMs + r.stats.optimizationMs +
        r.stats.planningMs) / (r.latencyNs / 1e6)), "ratio"))
      m += (("share.sink", avg(r => dur(r, s => s.kind == "action" &&
        s.name == "sink_write") / (r.latencyNs / 1e6)), "ratio"))
      m += (("self.op_ms", avg(self(_, "op")), "ms"))
      m += (("self.action_ms", avg(self(_, "action")), "ms"))
      m += (("self.phase_ms", avg(self(_, "phase")), "ms"))
      m += (("self.job_ms", avg(self(_, "job")), "ms"))
      m += (("self.stage_ms", avg(self(_, "stage")), "ms"))
      m += (("trace.overhead_pct", (Stats.median(lat(traced)) / p50 - 1) * 100, "%"))
      runner.resync()
      meter.tracing = false
      var probeOk = true
      Probes.run(spark, wl, work, m, spans, { msg =>
        probeOk = false
        errors += s"probe: $msg"
        System.err.println(s"[perfbench] FAILED probe: $msg")
      })
      attempted += 1
      if (!probeOk) failed += 1
      Files.createDirectories(traceDir)
      val lines = spans.map(s => s"""{"id":${s.id},"parent":${s.parent},""" +
        s""""op":${s.op},"kind":"${s.kind}","name":"${s.name}",""" +
        s""""start_us":${s.startUs},"end_us":${s.endUs}}""")
      Files.write(traceDir.resolve(s"$name-seed$seed.jsonl"),
        lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    spark.stop()

    val extra = wl match {
      case c: CorpusBridge => f", dup_share=${c.dupShare}%.3f"
      case _ => ""
    }
    System.err.println(f"[perfbench] $name seed=$seed ops=${plain.length} " +
      f"traced_ops=${traced.length} latency_ms q1/q2/q3=" +
      Seq(0.25, 0.5, 0.75).map(q => f"${Stats.quantile(lat(plain), q)}%.1f").mkString("/") + " " +
      f"source_mb_per_op=${wl.sourceBytesPerOp / 1e6}%.2f " +
      f"user_ticks=${user1 - user0} steal_ticks=${steal1 - steal0}$extra")
    errors.foreach(e => System.err.println(s"[perfbench] error: $e"))
    val metrics = m.map { case (k, v, u) =>
      require(!v.isNaN && !v.isInfinite, s"metric $k is $v")
      s""""$k":{"value":$v,"unit":"$u"}"""
    }.mkString("{", ",", "}")
    println(s"""{"correct":${errors.isEmpty},"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":$metrics}""")
  }
}
