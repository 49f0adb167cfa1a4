package graft.tools

import org.apache.spark.sql.SparkSession

/** Writes `.explain("formatted")` of named queries to files —
  * `runMain graft.tools.PlanDump <outDir> <suffix> <sfDir> q1 q2 ...`
  * producing `<outDir>/<query>_<suffix>.txt`. Each query runs first,
  * so the dump is its final adaptive plan (most plans/r17 and r18
  * dumps predate this and show initial plans).
  *
  * Iterative queries (pagerank/LPA/kcore) run their driver loops eagerly
  * inside the query constructor and return only the post-checkpoint
  * tail, so their dump shows that tail's plan, not a loop iteration's. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val sfDir = args(2)
    val names = args.drop(3).toSeq
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def capture(df: org.apache.spark.sql.DataFrame): String = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
        df.explain("formatted")
      }
      out.toString("UTF-8")
    }
    names.foreach { n =>
      try {
        val df = graft.SparkEntry.queries(n)(spark, sfDir)
        df.collect()
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"), capture(df))
        println(s"dumped $n")
      } catch { case e: Throwable =>
        println(s"FAILED $n: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
