package pipebench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Job, stage and task accounting keyed by the tag the benchmark sets as
  * a local property (`pass|query|phase`) on the thread that submits the
  * jobs. This is the only SparkListener the benchmark installs.
  *
  * A job submitted during the `build` phase whose call site runs through
  * `graft.sources.Tables` is the parquet schema read of a table open, so
  * it is re-tagged `open`: that is how opens are split from the rest of
  * the build without touching library code.
  */
final class Meter extends SparkListener {
  import Meter._

  private val byTag = mutable.HashMap.empty[String, Counters]
  private val stageTag = mutable.HashMap.empty[Int, String]
  private val jobTag = mutable.HashMap.empty[Int, (String, Long)]

  private def at(tag: String): Counters = byTag.getOrElseUpdate(tag, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val raw = Option(e.properties).flatMap(p => Option(p.getProperty(TagKey))).getOrElse(Untagged)
    val tag =
      if (raw.endsWith("|build") && e.stageInfos.exists(_.details.contains(OpenCallSite)))
        raw.stripSuffix("build") + "open"
      else raw
    jobTag(e.jobId) = (tag, e.time)
    e.stageIds.foreach(id => if (!stageTag.contains(id)) stageTag(id) = tag)
    at(tag).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobTag.remove(e.jobId).foreach { case (tag, start) =>
      val c = at(tag)
      c.jobMs += e.time - start
      c.lastJobEndMs = math.max(c.lastJobEndMs, e.time)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    at(stageTag.getOrElse(e.stageInfo.stageId, Untagged)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = at(stageTag.getOrElse(e.stageId, Untagged))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.waitMs += math.max(0L, e.taskInfo.duration - m.executorRunTime)
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Counters of one tag; zero when nothing ran under it. */
  def get(tag: String): Counters = synchronized(new Counters + byTag.getOrElse(tag, new Counters))
}

object Meter {
  val TagKey = "pipebench.tag"
  val Untagged = "untagged"
  val OpenCallSite = "graft.sources.Tables"

  final class Counters {
    var jobs, stages, tasks = 0L
    var cpuNs, gcMs, waitMs, jobMs, lastJobEndMs = 0L
    var shuffleWriteBytes, shuffleReadBytes, spillBytes, outputBytes = 0L

    def +(o: Counters): Counters = {
      val r = new Counters
      r.jobs = jobs + o.jobs; r.stages = stages + o.stages; r.tasks = tasks + o.tasks
      r.cpuNs = cpuNs + o.cpuNs; r.gcMs = gcMs + o.gcMs
      r.waitMs = waitMs + o.waitMs; r.jobMs = jobMs + o.jobMs
      r.lastJobEndMs = math.max(lastJobEndMs, o.lastJobEndMs)
      r.shuffleWriteBytes = shuffleWriteBytes + o.shuffleWriteBytes
      r.shuffleReadBytes = shuffleReadBytes + o.shuffleReadBytes
      r.spillBytes = spillBytes + o.spillBytes; r.outputBytes = outputBytes + o.outputBytes
      r
    }
  }
}
