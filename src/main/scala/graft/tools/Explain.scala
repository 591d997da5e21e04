package graft.tools

import org.apache.spark.sql.SparkSession

/** Plan-audit aid: print `.explain("formatted")` (and with RUN=1, the
  * per-stage task metrics) of one SparkEntry query —
  * `sbt "runMain graft.tools.Explain <query> <sfDir>"`. */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val cpus = graft.Bench.boxCpus(Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo
        val wall = for { s <- i.submissionTime; c <- i.completionTime } yield c - s
        System.err.println(f"[stage] id=${i.stageId} tasks=${i.numTasks} " +
          f"wall=${wall.getOrElse(-1L)}ms cpuSum=${i.taskMetrics.executorCpuTime / 1000000}ms " +
          f"runSum=${i.taskMetrics.executorRunTime}ms " +
          f"shufW=${i.taskMetrics.shuffleWriteMetrics.bytesWritten / 1048576}MB " +
          f"shufR=${i.taskMetrics.shuffleReadMetrics.totalBytesRead / 1048576}MB " +
          f"details=${i.details.linesIterator.take(1).mkString.take(100)}")
      }
    })
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    df.explain("formatted")
    if (sys.env.contains("RUN")) {
      val t0 = System.nanoTime()
      val n = df.queryExecution.toRdd.count()
      System.err.println(f"[explain-run] rows=$n wall=${(System.nanoTime() - t0) / 1e9}%.1fs")
    }
    spark.stop()
  }
}
