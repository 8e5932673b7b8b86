package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites (Spark reuses the active
  * session via getOrCreate, so suites don't each pay startup). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkFunSuite extends AnyFunSuite {
  def spark: SparkSession = SparkTestBase.spark
  def sf: String = SparkTestBase.sf

  /** What `body` launched on this thread: its jobs, and the rows their
    * tasks read from files. A thread-local property of this probe's own
    * tags them (a dialect `SET query_id` replaces the job group, so the
    * group cannot), and a sentinel job run last proves the listener has
    * seen every earlier event. */
  final case class Launched(jobs: Int, recordsRead: Long)

  def launchedBy(session: SparkSession)(body: => Unit): Launched = {
    import org.apache.spark.scheduler._
    val sc = session.sparkContext
    val key = "graft.spec.probe"
    val tag = s"spec-${System.nanoTime}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val records = new java.util.concurrent.atomic.AtomicLong
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = e.properties
        if (p != null && p.getProperty(key) == tag) {
          jobs.incrementAndGet()
          e.stageIds.foreach(stages.add)
        } else if (p != null && p.getProperty(key) == tag + "-sentinel")
          done.countDown()
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          records.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      body
      sc.setLocalProperty(key, tag + "-sentinel")
      sc.parallelize(Seq(1), 1).count()
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS))
      Launched(jobs.get, records.get)
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }

  def jobsDuring(session: SparkSession)(body: => Unit): Int =
    launchedBy(session)(body).jobs
}
