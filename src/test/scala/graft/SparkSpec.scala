package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** One shared local session for the whole test run (suites may run in
  * parallel inside the forked test JVM; SparkSession is thread-safe for
  * concurrent query execution). Mirrors the Verify/Bench session config.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.core.Tables.nanosAsLongConf._1, graft.core.Tables.nanosAsLongConf._2)
      .config("spark.sql.warehouse.dir", "target/test-warehouse")
      // explain strings truncate scan metadata (PushedFilters/DataFilters
      // lists) at 100 chars by default — long enough filter lists then
      // pass or fail PlanSpec's substring asserts depending on the
      // run-to-run width of expression IDs. Plan-shape tests need the
      // full lists.
      .config("spark.sql.maxMetadataStringLength", "2000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.sparkContext.addSparkListener(LateWork)
    s
  }
}

/** Logs Spark work that outlives what started it: a job that ends after
  * its test returned, and a stage with a task that ends after its job
  * ended (a cancelled or failed job leaves its running tasks behind) or
  * after its test returned. Such a task reports to a query whose
  * accumulators may already be collected (the driver then logs "Failed
  * to update accumulator"), and it competes with the next test for the
  * executors. Work is attributed through the `graft.test` local
  * property, which [[SparkSpec]] sets around each test and Spark hands
  * to the threads a query starts. */
object LateWork extends org.apache.spark.scheduler.SparkListener {
  import java.util.concurrent.ConcurrentHashMap
  import org.apache.spark.scheduler._

  val TestKey = "graft.test"
  private val testEnd = new ConcurrentHashMap[String, java.lang.Long]()
  /** job id → (test, stage names); stage id → job id; job id → end time. */
  private val jobs = new ConcurrentHashMap[Int, (String, String)]()
  private val stageJob = new ConcurrentHashMap[Int, Integer]()
  private val jobEnd = new ConcurrentHashMap[Int, (Long, JobResult)]()
  private val reported = ConcurrentHashMap.newKeySet[Int]()

  def ended(test: String): Unit = testEnd.put(test, System.currentTimeMillis())

  private def after(test: String, at: Long): Option[Long] =
    Option(testEnd.get(test)).map(at - _).filter(_ > 0)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val test = Option(e.properties).flatMap(p => Option(p.getProperty(TestKey))).getOrElse("")
    jobs.put(e.jobId, (test, e.stageInfos.map(_.name).distinct.mkString("; ")))
    e.stageIds.foreach(stageJob.put(_, Integer.valueOf(e.jobId)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobEnd.put(e.jobId, (e.time, e.jobResult))
    Option(jobs.get(e.jobId)).foreach { case (test, site) =>
      after(test, e.time).foreach { ms =>
        println(s"[late-work] job ${e.jobId} of '$test' ended $ms ms after the test " +
          s"(${e.jobResult}); stages: $site")
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).map(_.intValue).foreach { job =>
      val (test, site) = Option(jobs.get(job)).getOrElse(("", ""))
      val at = e.taskInfo.finishTime
      val pastJob = Option(jobEnd.get(job)).filter(_._1 < at)
      val pastTest = after(test, at)
      if ((pastJob.isDefined || pastTest.isDefined) && reported.add(e.stageId))
        println(s"[late-work] stage ${e.stageId} of job $job ('$test'): a task " +
          s"(${e.reason}) ended " +
          pastJob.map { case (t, r) => s"${at - t} ms after its job ($r)" }
            .getOrElse(s"${pastTest.get} ms after the test") + s"; stages: $site")
    }
}

trait SparkSpec extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = TestSpark.spark

  override def withFixture(test: NoArgTest): org.scalatest.Outcome = {
    val name = s"$suiteName: ${test.name}"
    val sc = spark.sparkContext
    sc.setLocalProperty(LateWork.TestKey, name)
    try super.withFixture(test)
    finally {
      LateWork.ended(name)
      sc.setLocalProperty(LateWork.TestKey, null)
    }
  }

  /** Spark jobs started by `body` on this thread. */
  def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"job-count-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count")
    try body
    finally {
      sc.clearJobGroup()
      org.apache.spark.ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  /** Collect to a sorted Seq of Rows for order-insensitive comparison. */
  def rowsOf(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  /** Events fixture: (secondsFromEpoch, type) tuples → DataFrame with the
    * engine's (ts timestamp, event_type string) shape. */
  def eventsDf(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    rows.toDF("secs", "event_type")
      .withColumn("ts", timestamp_seconds(col("secs")))
      .drop("secs")
  }
}
