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
    s
  }
}

trait SparkSpec extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = TestSpark.spark

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
