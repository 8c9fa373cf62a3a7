package graft.tools

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Per-stage profiler: run named queries once warm, then timed, with a
  * StageCompleted listener printing each stage's tasks, wall, run and
  * cpu seconds, shuffle read/write and memory/disk spill — the numbers
  * the Spark UI's stage and SQL tabs show, without a UI — so the hot
  * stage is identified instead of guessed.
  *
  * After the stages comes a census: the timed run's stages grouped by
  * phase (`build`, while the query function builds its DataFrame, or
  * `exec`, while the frame is written) and by the graft call site whose
  * SQL execution launched them, the innermost graft frame outside the
  * round checkpoint helper. Usage (on [[graft.GraftSession.local]]):
  *   runMain graft.tools.StageProf <dir> <q1,q2,...>
  */
object StageProf {
  private val PhaseKey = "graft.stageprof.phase"

  /** The innermost graft frame of a SQL execution's call stack, past
    * the round checkpoint helper that every iterative operator calls.
    */
  private def graftSite(details: String): String =
    details.split("\n").map(_.trim)
      .find(f => f.startsWith("graft.") && !f.startsWith("graft.operators.Rounds") &&
        !f.startsWith("graft.tools.StageProf"))
      .getOrElse("(outside graft)")

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args(1).split(",").toSeq else Seq("q_spearman")
    val spark = graft.GraftSession.local()
    val sc = spark.sparkContext
    @volatile var record = false
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val siteOfExecution = new ConcurrentHashMap[String, String]()
    val siteOfStage = new ConcurrentHashMap[Int, (String, String)]()
    val census = new ConcurrentHashMap[(String, String), (Int, Double)]()
    def mb(b: Long): Double = b / 1048576.0
    sc.addSparkListener(new SparkListener {
      override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
        case e: SparkListenerSQLExecutionStart =>
          siteOfExecution.put(e.executionId.toString, graftSite(e.details))
        case _ => ()
      }
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val prop = (k: String) => Option(js.properties).flatMap(p => Option(p.getProperty(k)))
        val site = prop("spark.sql.execution.id").flatMap(id => Option(siteOfExecution.get(id)))
          .getOrElse("(no SQL execution)")
        js.stageIds.foreach(siteOfStage.put(_, (prop(PhaseKey).getOrElse("-"), site)))
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        if (record) {
          val si = sc.stageInfo
          val m = si.taskMetrics
          val wall = (for {s <- si.submissionTime; c <- si.completionTime} yield (c - s) / 1000.0).getOrElse(-1.0)
          val cpu = m.executorCpuTime / 1e9
          val run = m.executorRunTime / 1e3
          stages.add(f"stage ${si.stageId}%4d tasks=${si.numTasks}%4d wall=$wall%7.2f run=$run%7.2f cpu=$cpu%7.2f " +
            f"shufR=${mb(m.shuffleReadMetrics.totalBytesRead)}%8.1fMB shufW=${mb(m.shuffleWriteMetrics.bytesWritten)}%8.1fMB " +
            f"spillMem=${mb(m.memoryBytesSpilled)}%7.1fMB spillDisk=${mb(m.diskBytesSpilled)}%7.1fMB  ${si.name.take(90)}")
          val key = Option(siteOfStage.get(si.stageId)).getOrElse(("-", "(unknown job)"))
          census.merge(key, (1, wall), (a, b) => (a._1 + b._1, a._2 + b._2))
        }
      }
    })
    def clearCaches(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    for (name <- names) {
      val fn = graft.SparkEntry.queries(name)
      def go(): Unit = {
        sc.setLocalProperty(PhaseKey, "build")
        val df = fn(spark, dir)
        sc.setLocalProperty(PhaseKey, "exec")
        df.write.mode("overwrite").format("noop").save()
        sc.setLocalProperty(PhaseKey, null)
      }
      try go() catch { case e: Throwable => println(s"$name warmup ERROR: ${e.getMessage}") }
      clearCaches()
      record = true
      val t0 = System.nanoTime()
      go()
      val w = (System.nanoTime() - t0) / 1e9
      org.apache.spark.graftbridge.ListenerBusDrain.drain(sc)
      record = false
      println(f"\n===== $name total=$w%.2f s =====")
      stages.forEach(s => println(s))
      stages.clear()
      println(f"----- $name census: stages and stage wall by phase and graft call site -----")
      census.asScala.toSeq.sortBy(_._1)
        .foreach { case ((phase, site), (n, wall)) => println(f"$phase%-5s $n%4d stages $wall%7.2f s  $site") }
      census.clear()
      clearCaches()
    }
    spark.stop()
  }
}
