package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.QeAccess

/** A traced interval. Times are epoch microseconds; `parent` is -1 until
  * the operation that caused the span is known. */
final case class Span(id: Long, parent: Long, op: Long, kind: String,
    name: String, startUs: Long, endUs: Long)

object Span {
  private val ids = new java.util.concurrent.atomic.AtomicLong
  def nextId(): Long = ids.incrementAndGet()
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  /** Epoch microseconds on the monotonic clock, comparable with the
    * millisecond event times Spark's listener bus carries. */
  def nowUs(): Long = epochUs0 + (System.nanoTime() - nano0) / 1000L

  /** Duration minus the part of the interval the children cover. */
  def selfUs(s: Span, children: Seq[Span]): Long = {
    val iv = children.map(c => (math.max(c.startUs, s.startUs),
      math.min(c.endUs, s.endUs))).filter(t => t._2 > t._1).sortBy(_._1)
    var covered = 0L; var end = s.startUs
    iv.foreach { case (a, b) =>
      if (b > end) { covered += b - math.max(a, end); end = b }
    }
    (s.endUs - s.startUs) - covered
  }
}

/** What one operation cost the layers below the benchmark. */
final class OpStats {
  var cpuNs, runMs, scanTaskMs, opsTaskMs = 0L
  var shuffleRead, shuffleWrite = 0L
  var jobs, stages = 0
  var analysisMs, optimizationMs, planningMs = 0L
  var packets, decodedBytes, scanRows = 0L
  val spans = mutable.ArrayBuffer[Span]()
}

/** Listener-bus meter: executor CPU, run time and shuffle from
  * completed stages, job and stage spans, and — from each finished root
  * SQL execution's QueryExecution — driver phase timings and the pcap
  * source's SQL metrics. Events are folded into the current operation;
  * [[take]] after [[drain]] hands them over. */
final class Meter extends SparkListener {
  @volatile var tracing = false
  private var cur = new OpStats
  private var rootsEnded = 0L
  private val openRoots = mutable.Set[Long]()
  private val jobStart = mutable.Map[Int, (Long, Long)]() // job -> (span id, start)
  private val stageJob = mutable.Map[Int, Long]()         // stage -> job span id

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    cur.jobs += 1
    if (tracing) {
      val id = Span.nextId()
      jobStart(e.jobId) = (id, e.time * 1000L)
      e.stageIds.foreach(stageJob(_) = id)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (id, t0) =>
      cur.spans += Span(id, -1, -1, "job", s"job ${e.jobId}", t0, e.time * 1000L)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    cur.stages += 1
    val m = si.taskMetrics
    if (m != null) {
      cur.cpuNs += m.executorCpuTime
      cur.runMs += m.executorRunTime
      val sr = m.shuffleReadMetrics.totalBytesRead
      cur.shuffleRead += sr
      cur.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      // a stage that reads no shuffle starts from the source: its tasks
      // are decode work; every later stage is operator work
      if (sr == 0 && m.shuffleReadMetrics.recordsRead == 0)
        cur.scanTaskMs += m.executorRunTime
      else cur.opsTaskMs += m.executorRunTime
    }
    if (tracing)
      for (a <- si.submissionTime; b <- si.completionTime)
        cur.spans += Span(Span.nextId(), stageJob.getOrElse(si.stageId, -1L),
          -1, "stage", s"stage ${si.stageId}.${si.attemptNumber()}",
          a * 1000L, b * 1000L)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart
        if s.rootExecutionId.forall(_ == s.executionId) =>
      synchronized(openRoots += s.executionId)
    case end: SparkListenerSQLExecutionEnd => synchronized {
      if (openRoots.remove(end.executionId)) {
        if (tracing) QeAccess.of(end).foreach(absorb)
        rootsEnded += 1
        notifyAll()
      }
    }
    case _ => ()
  }

  private def absorb(qe: org.apache.spark.sql.execution.QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def phase(name: String): Long = ph.get(name).map { p =>
      cur.spans += Span(Span.nextId(), -1, -1, "phase", name,
        p.startTimeMs * 1000L, p.endTimeMs * 1000L)
      p.durationMs
    }.getOrElse(0L)
    cur.analysisMs += phase("analysis")
    cur.optimizationMs += phase("optimization")
    cur.planningMs += phase("planning")
    Meter.nodes(qe.executedPlan).foreach {
      case b: BatchScanExec =>
        def v(k: String) = b.metrics.get(k).map(_.value).getOrElse(0L)
        cur.packets += v("packetsDecoded")
        cur.decodedBytes += v("bytesDecoded")
        cur.scanRows += v("numOutputRows")
      case _ => ()
    }
  }

  /** Block until `expected` root SQL executions have ended since the
    * meter was registered. An execution's end event is posted after
    * all of its jobs end, and the bus delivers in order, so every job
    * and stage event of those executions has been folded in by then. */
  def drain(expected: Long, timeoutMs: Long = 120000L): Unit = synchronized {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (rootsEnded < expected) {
      val left = deadline - System.currentTimeMillis()
      if (left <= 0) throw new IllegalStateException(
        s"listener drain timed out: $rootsEnded of $expected executions ended")
      wait(left)
    }
  }

  /** After a failed operation the number of executions it started is
    * unknown: wait (bounded) until none is open, then resynchronize. */
  def settle(timeoutMs: Long = 10000L): Long = synchronized {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (openRoots.nonEmpty && System.currentTimeMillis() < deadline)
      wait(math.max(1L, deadline - System.currentTimeMillis()))
    rootsEnded
  }

  def take(): OpStats = synchronized { val s = cur; cur = new OpStats; s }
}

object Meter {
  /** Every node of an executed plan, through adaptive stages and
    * subqueries; a reused exchange is skipped, its metrics belong to the
    * original. */
  def nodes(p: SparkPlan): Iterator[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case _: ReusedExchangeExec => Iterator.empty
    case other =>
      Iterator(other) ++ (other.children ++ other.subqueries).iterator.flatMap(nodes)
  }
}

/** Host and JVM readings taken beside every run. */
object Host {
  /** (user + nice, steal) jiffies from /proc/stat. */
  def ticks(): (Long, Long) = {
    val (u, s) = graft.HostProbe.cpuTicks()
    if (u < 0) throw new IllegalStateException("/proc/stat is unreadable")
    (u, s)
  }

  /** Collection time of every collector in this JVM, which in local mode
    * is the executor's too. */
  def gcMs(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.toArray(
      Array.empty[java.lang.management.GarbageCollectorMXBean])
    .map(_.getCollectionTime).sum
}

/** The largest heap in use right after a full garbage collection, from
  * the JVM's collection notifications, between construction and
  * [[stop]]: what the program keeps live, without the young
  * generation's fixed size or the garbage that minor collections
  * promote. [[stop]] ends with a full collection, so there is at least
  * one reading. */
final class LiveHeap extends javax.management.NotificationListener {
  import java.lang.management.{ManagementFactory, MemoryType}
  import scala.jdk.CollectionConverters._
  import com.sun.management.GarbageCollectionNotificationInfo

  private val collectors = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private def count(): Long = collectors.map(_.getCollectionCount).sum
  private val count0 = count()
  private var seen = 0L
  private var maxBytes = 0L
  collectors.foreach(_.asInstanceOf[javax.management.NotificationEmitter]
    .addNotificationListener(this, null, null))

  def handleNotification(n: javax.management.Notification, hb: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
      val used =
        if (!info.getGcAction.contains("major")) 0L
        else info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { seen += 1; maxBytes = math.max(maxBytes, used); notifyAll() }
    }

  def collections: Long = synchronized(seen)

  /** Collect, wait until every collection since construction has been
    * reported, stop listening; MB. */
  def stop(timeoutMs: Long = 10000L): Double = {
    System.gc()
    val want = count() - count0
    val deadline = System.currentTimeMillis() + timeoutMs
    val mb = synchronized {
      while (seen < want && System.currentTimeMillis() < deadline)
        wait(math.max(1L, deadline - System.currentTimeMillis()))
      if (seen < want) throw new IllegalStateException(
        s"$seen of $want garbage collections reported")
      maxBytes / 1e6
    }
    collectors.foreach(_.asInstanceOf[javax.management.NotificationEmitter]
      .removeNotificationListener(this))
    mb
  }
}
