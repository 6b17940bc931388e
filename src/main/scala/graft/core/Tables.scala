package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Every loader is a plain parquet scan so Catalyst keeps full pushdown
  * (filters + column pruning reach the parquet reader). Do NOT cache here:
  * callers decide lifetimes.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Session conf required to read `events.parquet` (TIMESTAMP(NANOS), which
    * Spark has no native type for). Our own entry points (Verify, Bench,
    * the test fixture) set it at session build; [[events]] also sets it
    * defensively because the driver may call `SparkEntry.entry`/`queries`
    * with a session it built itself.
    *
    * GLOBAL EFFECT: while set, any other nanos-timestamp parquet read in
    * the same session yields raw longs instead of timestamps. The driver testdata has exactly one nanos
    * column (`events.ts`), so this is safe here; idempotent thereafter.
    */
  val nanosAsLongConf: (String, String) = "spark.sql.legacy.parquet.nanosAsLong" -> "true"

  /** Normalize `events.ts` to the engine's microsecond TimestampType,
    * dispatching on the dtype the parquet scan actually produced — the
    * fixture exists in two generations, with `ts` as TIMESTAMP(NANOS) or
    * as TIMESTAMP(MICROS)/NTZ, and an unconditional nanos decode breaks
    * every events query on the second:
    *  - LongType (nanos read as legacy long): truncate with integer
    *    division (double division would lose precision above 2^53 ns);
    *    matches DuckDB's TIMESTAMP_NS → µs truncation exactly.
    *  - TimestampNTZType (µs, no zone): reinterpret the wall-clock value
    *    in the session zone (our entry points pin it to UTC), which is
    *    exactly how DuckDB reads the same column.
    *  - TimestampType (µs, zoned): already the engine type.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    if (spark.conf.getOption(nanosAsLongConf._1).forall(_ != "true"))
      spark.conf.set(nanosAsLongConf._1, nanosAsLongConf._2)
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case org.apache.spark.sql.types.TimestampType => raw
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported parquet dtype $other; expected nanos-as-long, TIMESTAMP_NTZ, or TIMESTAMP")
    }
  }
  def lineitem(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Register every table as a temp view so queries can be authored in
    * pure SQL (`spark.sql`). Idempotent per session+dir. */
  private val viewsFor =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, String]()

  /** Idempotent per (session, dir): re-registering costs ~0.5 s of
    * driver-side parquet footer reads per call, which dominated the
    * repeated `sql_flagship` bench reps. Switching dirs re-registers. */
  def registerViews(spark: SparkSession, dir: String): Unit =
    if (viewsFor.put(spark, dir) != dir) {
      events(spark, dir).createOrReplaceTempView("events")
      Seq("lineitem", "orders", "customer", "supplier", "part", "nation",
        "region", "documents", "embeddings")
        .foreach(t => load(spark, dir, t).createOrReplaceTempView(t))
    }
}
