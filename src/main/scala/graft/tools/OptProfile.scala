package graft.tools

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Round-17 optimization profiler: runs named queries under the Bench
  * methodology (memos cleared per rep, count() action, local[$CPUS])
  * and attributes wall/task time to stages so the expensive operator
  * inside a multi-stage query is identified by measurement, not guess
  * (optimization guide §1).
  *
  * Usage: runMain graft.tools.OptProfile [sfDir] q1 q2 ...
  * Output per query: per-rep wall seconds, then the top stages by
  * cumulative executor task time with shuffle read/write bytes.
  */
object OptProfile {

  final class StageAgg {
    var name = ""
    var durMs = 0L        // wall (submission -> completion)
    var taskMs = 0L       // sum of task executor run time
    var gcMs = 0L         // sum of task JVM GC time
    var cpuMs = 0L        // sum of task executor CPU time
    var shufReadB = 0L
    var shufWriteB = 0L
    var inputB = 0L
    var nTasks = 0
  }

  def main(args: Array[String]): Unit = {
    val sfDir =
      if (args.nonEmpty && args(0).startsWith("/")) args(0)
      else "/root/testdata/sf0.1"
    val names = (if (args.nonEmpty && args(0).startsWith("/")) args.drop(1)
                 else args).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val stages = mutable.Map[Int, StageAgg]()
    var collecting = false
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (collecting) {
          val si = e.stageInfo
          val a = stages.getOrElseUpdate(si.stageId, new StageAgg)
          a.name = si.name
          a.durMs += (for {
            s <- si.submissionTime; c <- si.completionTime
          } yield c - s).getOrElse(0L)
          val m = si.taskMetrics
          if (m != null) {
            a.taskMs += m.executorRunTime
            a.gcMs += m.jvmGCTime
            a.cpuMs += m.executorCpuTime / 1000000L
            a.shufReadB += m.shuffleReadMetrics.totalBytesRead
            a.shufWriteB += m.shuffleWriteMetrics.bytesWritten
            a.inputB += m.inputMetrics.bytesRead
          }
          a.nTasks += si.numTasks
        }
    }
    spark.sparkContext.addSparkListener(listener)

    names.foreach { n =>
      // warm-up (JIT, codegen, parquet footers) — not collected
      graft.Bench.clearCold(n)
      try graft.SparkEntry.queries(n)(spark, sfDir).count()
      catch { case e: Throwable =>
        println(s"$n WARMUP FAILED: ${e.getMessage}") }

      stages.clear()
      collecting = true
      val walls = (1 to 3).map { _ =>
        graft.Bench.clearCold(n)
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(n)(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      collecting = false
      Thread.sleep(1500) // let queued listener events drain

      println(s"\n########## $n  walls=${walls.map(w => f"$w%.3f").mkString(",")} min=${f"${walls.min}%.3f"}")
      val top = stages.values.toSeq.sortBy(-_.taskMs).take(18)
      top.foreach { a =>
        println(f"  task=${a.taskMs / 1000.0}%8.2fs cpu=${a.cpuMs / 1000.0}%7.2fs gc=${a.gcMs / 1000.0}%6.2fs wall=${a.durMs / 1000.0}%7.2fs tasks=${a.nTasks}%4d in=${a.inputB / 1e6}%8.1fMB sr=${a.shufReadB / 1e6}%8.1fMB sw=${a.shufWriteB / 1e6}%8.1fMB  ${a.name.take(90)}")
      }
      val totTask = stages.values.map(_.taskMs).sum / 1000.0
      println(f"  TOTAL task=${totTask}%.2fs over ${stages.size} stages (3 reps)")
    }
    spark.stop()
  }
}
