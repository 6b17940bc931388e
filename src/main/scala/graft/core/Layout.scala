package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical data layout for scale (the brief's "repartition/bucketing for
  * co-located joins" and partition pruning):
  *
  *  - BUCKETING pre-shuffles a fact table by its join key at write time;
  *    two tables bucketed the same way join with NO exchange at read time
  *    — the shuffle is paid once per dataset lifetime instead of per
  *    query. The win at 100 TB: repeated orderkey joins become
  *    scan+sort-merge with zero network.
  *  - PARTITIONED layout turns selective filters on the partition column
  *    into directory pruning — the scan never opens non-matching files.
  */
object Layout {

  /** Write `df` as a bucketed, sorted managed table (parquet, native
    * catalog). `buckets` should match downstream parallelism, and both
    * sides of a co-located join must use the same key and bucket count. */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int, overwrite: Boolean = true): Unit = {
    val w = df.write
      .format("parquet")
      .bucketBy(buckets, key)
      .sortBy(key)
    (if (overwrite) w.mode("overwrite") else w).saveAsTable(table)
  }

  /** Bucket-aware read: just the catalog table (bucket metadata rides
    * along and the planner drops the exchanges when keys line up). */
  def readTable(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** Write `df` hive-partitioned by `partitionCol` for directory pruning. */
  def writePartitioned(df: DataFrame, path: String, partitionCol: String): Unit =
    df.write.mode("overwrite").partitionBy(partitionCol).parquet(path)

  /** Write `df` RANGE-SORTED on `sortCol`: `repartitionByRange` gives
    * each output file a disjoint key range, and the within-partition sort
    * makes every parquet row group's min/max stats tight. A selective
    * range predicate then touches one file's worth of row groups and the
    * parquet reader (predicate pushdown) skips the rest — the
    * sort-based complement of [[writePartitioned]]'s directory pruning,
    * and the right layout for time-range scans where hive-partitioning
    * by a high-cardinality timestamp would explode the directory count.
    *
    * At 100 TB this is the difference between "a 10-minute window scans
    * ~1/Nth of the corpus" and "every query scans everything": unsorted
    * parquet has every file's min/max spanning the full key range, so
    * stats prune nothing. Cost: one range shuffle (with a sampling pass
    * to pick balanced bounds) paid once at write time. LayoutSpec proves
    * the per-file ranges are disjoint. */
  def writeRangeSorted(df: DataFrame, path: String, sortCol: String,
                       numFiles: Int): Unit =
    df.repartitionByRange(numFiles, df.col(sortCol))
      .sortWithinPartitions(sortCol)
      .write.mode("overwrite").parquet(path)

  /** Compact a parquet directory's small files to ~`targetFileBytes`
    * each, returning (filesBefore, filesAfter, bytes). The small-files
    * problem is the classic 100 TB operational hazard: a pipeline that
    * writes one file per task per micro-batch ends up with millions of
    * KB-sized files whose open/footer overhead dominates every later
    * scan (and whose listing alone stalls planning).
    *
    * `shuffle=false` (default) compacts with `coalesce` — no shuffle,
    * the common case where the data is small relative to the cluster and
    * the read parallelism collapse is irrelevant. `shuffle=true` uses
    * `repartition` — pays a full shuffle of every byte but keeps the
    * rewrite parallel, the right mode when compacting terabytes. Output
    * file count = ceil(inputBytes / targetFileBytes), computed from the
    * actual listing, never a guess. */
  def compactFiles(spark: SparkSession, inPath: String, outPath: String,
                   targetFileBytes: Long, shuffle: Boolean = false): (Int, Int, Long) = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(inPath), spark.sparkContext.hadoopConfiguration)
    val dataFiles = fs.listStatus(new org.apache.hadoop.fs.Path(inPath))
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
    val bytes = dataFiles.map(_.getLen).sum
    val n = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val df = spark.read.parquet(inPath)
    val sized = if (shuffle) df.repartition(n) else df.coalesce(n)
    sized.write.mode("overwrite").parquet(outPath)
    val after = fs.listStatus(new org.apache.hadoop.fs.Path(outPath))
      .count(s => s.isFile && !s.getPath.getName.startsWith("_"))
    (dataFiles.length, after, bytes)
  }

  /** Morton (Z-order) interleave of two non-negative dimension values,
    * each already scaled into `[0, 2^bits)`: bit i of `a` lands at
    * position 2i+1, bit i of `b` at 2i. Pure codegen'd bitwise Column
    * arithmetic — `bits` OR-terms of shift/AND/OR, no UDF. */
  def mortonKey(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, s"mortonKey: bits must be in [1,31], got $bits")
    (0 until bits).map { i =>
      shiftleft(shiftrightunsigned(a.cast("long"), i).bitwiseAND(lit(1L)), 2 * i + 1)
        .bitwiseOR(
          shiftleft(shiftrightunsigned(b.cast("long"), i).bitwiseAND(lit(1L)), 2 * i))
    }.reduce(_.bitwiseOR(_))
  }

  /** Write `df` Z-ORDERED on two integer dimensions: each value is scaled
    * into 16-bit rank space against its global [min,max] (one tiny 4-cell
    * aggregate, a bounded driver read), the two are Morton-interleaved,
    * and the frame is range-shuffled + sorted on the interleaved key.
    *
    * Why this beats [[writeRangeSorted]] when queries filter on EITHER or
    * BOTH dimensions: a single-column sort gives tight per-file stats on
    * that column only — every file still spans the full range of the
    * second column, so a predicate on it prunes nothing. The Z-curve
    * assigns each file a bounded RECTANGLE in (a,b) space, so per-file
    * min/max stats stay tight on both columns at once and a two-sided box
    * predicate skips most files (LayoutSpec proves this on the actual
    * written footer stats). At 100 TB this is the standard multi-dim
    * clustering layout (Delta/Iceberg OPTIMIZE ZORDER shape): one range
    * shuffle paid at write time, every later two-dimensional probe scans
    * a near-minimal file subset. Returns the (minA, maxA, minB, maxB)
    * used for scaling so readers can recompute the curve if needed. */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
                    numFiles: Int, bits: Int = 16): (Long, Long, Long, Long) = {
    val r = df.agg(
      min(col(colA).cast("long")), max(col(colA).cast("long")),
      min(col(colB).cast("long")), max(col(colB).cast("long"))).head
    val (loA, hiA, loB, hiB) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val maxRank = (1L << bits) - 1
    // rank in DOUBLE space: the integer form
    // (col - lo) * maxRank overflows for key ranges wider than
    // Long.MaxValue/65535 (~1.4e14, e.g. epoch-micros-derived ids),
    // silently garbling the Morton keys — rows survive but the
    // clustering (and its pruning guarantee) is lost. A double ratio
    // loses only sub-rank precision (rank space is 16 bits, doubles
    // carry 53), and the clamp pins fp edge rounding inside [0, maxRank].
    def scaled(c: String, lo: Long, hi: Long): Column =
      if (hi == lo) lit(0L)
      else least(lit(maxRank), greatest(lit(0L),
        ((col(c).cast("double") - lit(lo.toDouble))
          / (hi.toDouble - lo.toDouble) * lit(maxRank.toDouble)).cast("long")))
    val keyed = df.withColumn("__z",
      mortonKey(scaled(colA, loA, hiA), scaled(colB, loB, hiB), bits))
    keyed.repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
    (loA, hiA, loB, hiB)
  }
}
