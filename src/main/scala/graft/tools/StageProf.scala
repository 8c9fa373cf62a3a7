package graft.tools

/** Per-stage profiler: run named queries once warm, then timed, with a
  * StageCompleted listener printing each stage's tasks, wall, run and
  * cpu seconds, shuffle read/write and memory/disk spill — the numbers
  * the Spark UI's stage and SQL tabs show, without a UI — so the hot
  * stage is identified instead of guessed. Usage:
  *   runMain graft.tools.StageProf <dir> <q1,q2,...>
  */
object StageProf {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args(1).split(",").toSeq else Seq("q_spearman")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    @volatile var record = false
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def mb(b: Long): Double = b / 1048576.0
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        if (record) {
          val si = sc.stageInfo
          val m = si.taskMetrics
          val wall = (for {s <- si.submissionTime; c <- si.completionTime} yield (c - s) / 1000.0).getOrElse(-1.0)
          val cpu = m.executorCpuTime / 1e9
          val run = m.executorRunTime / 1e3
          stages.add(f"stage ${si.stageId}%4d tasks=${si.numTasks}%4d wall=$wall%7.2f run=$run%7.2f cpu=$cpu%7.2f " +
            f"shufR=${mb(m.shuffleReadMetrics.totalBytesRead)}%8.1fMB shufW=${mb(m.shuffleWriteMetrics.bytesWritten)}%8.1fMB " +
            f"spillMem=${mb(m.memoryBytesSpilled)}%7.1fMB spillDisk=${mb(m.diskBytesSpilled)}%7.1fMB  ${si.name.take(90)}")
        }
      }
    })
    def clearCaches(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    for (name <- names) {
      val fn = graft.SparkEntry.queries(name)
      def go(): Unit = fn(spark, dir).write.mode("overwrite").format("noop").save()
      try go() catch { case e: Throwable => println(s"$name warmup ERROR: ${e.getMessage}") }
      clearCaches()
      record = true
      val t0 = System.nanoTime()
      go()
      val w = (System.nanoTime() - t0) / 1e9
      org.apache.spark.graftbridge.ListenerBusDrain.drain(spark.sparkContext)
      record = false
      println(f"\n===== $name total=$w%.2f s =====")
      stages.forEach(s => println(s))
      stages.clear()
      clearCaches()
    }
    spark.stop()
  }
}
