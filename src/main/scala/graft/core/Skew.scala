package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Manual skew mitigation (the 100 TB toolbox; complements AQE's runtime
  * skew-join splitting, which only covers sort-merge joins it can
  * re-plan — salting is the tool when one join key dominates a
  * broadcast-ineligible join or a stateful grouping).
  *
  * Salting trades a bounded dim-side replication (×saltFactor rows) for
  * an even spread of a hot key across saltFactor reducer partitions. The
  * join result is exactly the plain join: every fact row matches exactly
  * the one dim replica carrying its salt.
  */
object Skew {

  /** Equi-join `fact ⋈ dim` on `key`, with the fact side salted uniformly
    * and the dim side replicated once per salt value. Fact salt comes from
    * a hash of a per-row id — arbitrary by design; any uniform assignment
    * yields the identical join result. */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
                 saltFactor: Int = 16): DataFrame = {
    require(saltFactor > 0)
    val saltedFact = fact.withColumn("__salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(saltFactor.toLong)).cast("int"))
    val saltedDim = dim.withColumn("__salt",
      explode(array((0 until saltFactor).map(lit): _*)))
    saltedFact.join(saltedDim, Seq(key, "__salt")).drop("__salt")
  }

  /** The DECISION half of the advisor story (`skew_advisor` measures,
    * this turns the measurement into a plan choice): the salt factor that would level the table's HOTTEST key
    * across `parts` reducers — ceil(maxKeyCount · parts / total), the
    * same integer arithmetic the advisor reports per key. 1 means no
    * key exceeds its fair 1/parts share and the plain plan is already
    * level; > 1 is the factor to hand [[saltedDistinctCount]] /
    * [[saltedJoin]]. Cost: one partial-aggregated count shuffle (keys,
    * not rows, cross the wire) collapsed to a 1-row max/total — the
    * bounded 1-row-collect class; at 100 TB you run this once per
    * (table, key) and cache the factor alongside the table stats. */
  def adviseSaltFactor(df: DataFrame, key: String, parts: Int = 32): Int = {
    val row = df.groupBy(col(key)).agg(count(lit(1)).as("__cnt"))
      .agg(max(col("__cnt")).as("__max"), sum(col("__cnt")).as("__total"))
      .collect()(0)
    if (row.isNullAt(0)) 1 // empty table: nothing to level
    else {
      val maxCnt = row.getLong(0)
      val total = row.getLong(1)
      ((maxCnt * parts + total - 1) / total).toInt
    }
  }

  /** Two-phase salted aggregation for per-key counts/sums whose single
    * reducer would otherwise take the whole hot key: phase 1 aggregates
    * (key, salt), phase 2 re-aggregates the ≤ saltFactor partials per key.
    * (Plain hash aggregates already map-side combine; this is for the
    * cases that don't — e.g. exact distinct via two-level grouping.) */
  def saltedDistinctCount(df: DataFrame, key: String, distinctCol: String,
                          saltFactor: Int = 16): DataFrame =
    df.select(col(key), col(distinctCol))
      .withColumn("__salt", pmod(xxhash64(col(distinctCol)), lit(saltFactor.toLong)))
      .groupBy(col(key), col("__salt"))
      .agg(countDistinct(col(distinctCol)).as("__partial"))
      .groupBy(col(key))
      .agg(sum(col("__partial")).as(s"n_distinct_$distinctCol"))
}
