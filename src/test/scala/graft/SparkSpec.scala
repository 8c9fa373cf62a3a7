package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per suite, stopped after). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession =
    GraftSession.builder("local[4]", 4).getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  /** `body`'s result and the number of Spark jobs started while it ran.
    * Counted with a listener instead of polling statusTracker with a
    * sleep: the bus is FIFO, so once the marker job (tagged via job
    * group) is delivered, every job `body` started has been counted.
    */
  def jobsDuring[T](body: => T): (T, Int) = {
    val marker = "spark-spec-job-count-marker"
    val jobs = new AtomicInteger(0)
    @volatile var markerSeen = false
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val group = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
        if (group == marker) markerSeen = true
        else if (!markerSeen) jobs.incrementAndGet()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val result = body
      spark.sparkContext.setJobGroup(marker, "drain barrier")
      try spark.range(1).count() finally spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(20)
      assert(markerSeen, "listener bus never delivered the marker job")
      (result, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** `body`'s result and the number of classes Spark compiled while it
    * ran. Every compile is a miss in the JVM-wide codegen cache, so a
    * repeat of already-compiled work counts 0. Suites run one at a time
    * in the test JVM, so no other suite's compiles land in the delta.
    */
  def compilesDuring[T](body: => T): (T, Long) = {
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    val result = body
    (result, compiles.getCount - before)
  }

  override def afterAll(): Unit = {
    // keep the session for other suites in the same JVM (getOrCreate reuses)
    super.afterAll()
  }
}
