package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  val SF = "/root/testdata/sf0.001"

  /** Run `body` with AQE disabled. Plan-shape assertions need this: an
    * AQE-wrapped plan is an AdaptiveSparkPlanExec LEAF, so collect() over
    * executedPlan silently sees no exchanges/windows at all. */
  def withAqeOff[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  /** The Spark jobs `body` runs under the job group `group`: how many, and
    * the result bytes their result tasks send to the driver. Threads
    * `body` starts (the fold runner's) inherit the group, so jobs of other
    * suites are not counted. */
  def jobsOf(group: String)(body: => Any): (Int, Long) = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val tracked = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val bytes = new java.util.concurrent.atomic.AtomicLong()
    val drained = new java.util.concurrent.Semaphore(0)
    @volatile var drainJob = -1
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => jobs.incrementAndGet(); e.stageIds.foreach(tracked.add)
          case g if g == s"$group-drain" => drainJob = e.jobId
          case _ =>
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == drainJob) drained.release()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (tracked.contains(e.stageId) && e.taskType == "ResultTask" && e.taskMetrics != null)
          bytes.addAndGet(e.taskMetrics.resultSize)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      // the listener bus is FIFO: once a later job's end arrives, every
      // job and task event of `body` has been delivered
      sc.setJobGroup(s"$group-drain", "drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.tryAcquire(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus did not drain")
      (jobs.get, bytes.get)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
