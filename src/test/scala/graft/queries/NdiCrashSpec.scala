package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ext.Dedup

/** Crash-recovery property for the persisted near-dup band tier AT THE
  * QUERY LEVEL (round-13 verdict #4): the IVF and graph tiers have
  * vectors-before-edges / marker-discipline tests; this is the band
  * tier's kill-mid-generation twin, driven through the REAL
  * `dedup_index_query` path rather than synthetic key frames — a
  * process killed between a generation's band write and its completion
  * marker must leave a tier that REOPENS serving exactly the last
  * completed state, decision for decision. */
class NdiCrashSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def decisions(): Seq[(Long, Long, Long)] =
    DedupQueries.ndiQueryQ(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toIndexedSeq

  test("kill mid-generation: a marker-less delta leaves dedup_index_query byte-identical after reopen") {
    val path = DedupQueries.ndiRoot("graft_ndi_index", dir)
    // first run builds (or reuses) the tier and fixes the baseline
    val baseline = decisions()
    baseline should not be empty
    val gensBefore = Dedup.nearDupTier(spark, path).gens

    // simulate the kill: a generation's band files land, the process
    // dies BEFORE the completion marker — exactly the on-disk state
    // upsertNearDupIndex leaves if the JVM dies between its two steps.
    // The planted rows would poison every probe (doc 0 shares a key
    // with everything only if banded; here one universal key row per
    // probe window would rewrite most canonical_ids) — so serving them
    // is loudly visible, not a subtle drift.
    import spark.implicits._
    val crashedGen = (Dedup.nearDupTier(spark, path).gens ++ Seq(0)).max + 1
    (0L until DedupQueries.NdiCap).map(i => (0L, s"poison_$i")).toDF("doc_id", "key")
      .write.mode("overwrite")
      .parquet(s"$path/ndi_delta/gen=$crashedGen/bands")

    // reopen = a fresh read of the tier through the query path (tier
    // discovery re-lists generations from disk on every call — there is
    // no in-memory state to mask the crash). The marker-less generation
    // must be invisible: same rows, same values, same order.
    decisions() shouldBe baseline
    Dedup.nearDupTier(spark, path).gens shouldBe gensBefore

    // and the crashed slot is RECLAIMED, not resurrected: the next
    // upsert overwrites it under a completion marker of its own
    Dedup.upsertNearDupIndex(spark, path,
      Seq((9999999L, "isolated_key")).toDF("doc_id", "key"),
      DedupQueries.NdiFingerprint)
    Dedup.nearDupTier(spark, path).gens should contain(crashedGen)
    // the reclaimed generation holds the upsert's rows, not the poison
    spark.read.parquet(s"$path/ndi_delta/gen=$crashedGen/bands")
      .as[(Long, String)].collect().toSeq shouldBe
      Seq((9999999L, "isolated_key"))
    // an isolated-key upsert cannot change any probe decision
    decisions() shouldBe baseline
    // leave the tier as found for other suites: drop the extra gen
    Dedup.nearDupTier(spark, path).dropGens()
    decisions() shouldBe baseline
  }

  test("kill mid-build: a marker-less base refuses to serve and the query path rebuilds to the same answers") {
    val path = DedupQueries.ndiRoot("graft_ndi_index", dir)
    val baseline = decisions()
    // crash window inside buildNearDupIndex: marker deleted, bands
    // half-rewritten, process dies before the fingerprint lands
    Dedup.nearDupTier(spark, path).retract()
    import spark.implicits._
    Seq((0L, "garbage")).toDF("doc_id", "key")
      .write.mode("overwrite").parquet(s"$path/bands")
    Dedup.nearDupTier(spark, path).serves(DedupQueries.NdiFingerprint) shouldBe false
    // the query path treats no-marker as no-tier and rebuilds from the
    // corpus — answers identical to the pre-crash tier's
    decisions() shouldBe baseline
    Dedup.nearDupTier(spark, path).serves(DedupQueries.NdiFingerprint) shouldBe true
  }
}
