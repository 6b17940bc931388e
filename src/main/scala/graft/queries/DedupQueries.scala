package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ext.{Dedup, Text}

/** Dedup queries over `documents` — every entry fully hash-checked
  * against a DuckDB oracle (engine-specific murmur3/xxhash64 signatures
  * are either shipped as their engine-neutral md5-prefix equivalents
  * where the measured cost gap is zero, or twinned by portable md5
  * variants whose CTE chains DuckDB replays end to end); semantics are
  * additionally gated by DedupSpec's planted near-duplicates. */
object DedupQueries {

  private val duckToks = s"regexp_extract_all(lower(text), '${Text.tokenPattern}')"

  /** Engine-neutral LSH constants (shared verbatim with the DuckDB
    * oracle): prime modulus and 64 fixed-seed permutation pairs. */
  private object PortableLsh {
    val P: Long = 2147483647L // 2^31 - 1: products stay < 2^62, no overflow
    val (hashA, hashB): (Seq[Long], Seq[Long]) = {
      val rng = new scala.util.Random(7)
      def v(): Long = ((rng.nextLong() & Long.MaxValue) % (P - 1)) + 1
      (Seq.fill(64)(v()), Seq.fill(64)(v()))
    }
  }

  /** Exact dedup groups (md5 of normalized token stream, min doc_id kept). */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(Tables.documents(spark, dir))
      .orderBy("fp")

  private val IncrementalSplit = 400L

  /** INCREMENTAL dedup — the production ingestion pattern: a new batch
    * (doc_id ≥ split) deduped against the already-ingested corpus
    * (doc_id < split) AND within itself. Per incoming doc:
    * `dup_of_corpus` (fingerprint already ingested), `dup_in_batch`
    * (an earlier batch doc claimed it), or `new`. Shape at 100 TB: the
    * corpus side reduces to DISTINCT fixed-width fingerprints (a
    * fingerprint index a real deployment keeps materialized), the
    * decision is one fp equi-join + one fp window over the increment —
    * the increment, not the corpus, bounds the heavy side. */
  def incremental(spark: SparkSession, dir: String): DataFrame = {
    val f = Tables.documents(spark, dir)
      .select(col("doc_id"), Text.fingerprint(Text.tokens(col("text"))).as("fp"))
    val corpusFps = f.filter(col("doc_id") < IncrementalSplit)
      .select(col("fp"), lit(1).as("__seen")).distinct()
    val inc = f.filter(col("doc_id") >= IncrementalSplit)
      .withColumn("first_id", min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("fp")))
    inc.join(corpusFps, Seq("fp"), "left")
      .select(col("doc_id"),
        when(col("__seen").isNotNull, "dup_of_corpus")
          .when(col("doc_id") =!= col("first_id"), "dup_in_batch")
          .otherwise("new").as("decision"))
      .orderBy("doc_id")
  }

  /** Deterministic absolute-size cap for the demonstration/proof queries
    * below. doc_id is dense from 0, so `doc_id < cap` is a FIXED number of
    * documents at every sf — a fixed *fraction* shrinks nothing:
    * in-bucket pair counts grow quadratically with bucket size, so a
    * 1-in-10 sample at 100× data is still ~100× the pairs. These
    * queries prove logic against the oracle; the production paths
    * (`Dedup.nearDupPairs`, `Dedup.nearDupGroups`) score LSH candidates
    * only and run on the full corpus. */
  private val SampleCap = 500
  private val PortableCap = 1000

  /** Same-source n-gram Jaccard: top-20 most similar in-bucket pairs over
    * a fixed 500-document prefix (O(1) pairs in sf — see [[SampleCap]]).
    * Bucketing by `source` stands in for the LSH bucket at oracle scale —
    * the pair join is equi-keyed, never a cross product. */
  def jaccardPairs(spark: SparkSession, dir: String): DataFrame = {
    // shingle sets and their sizes computed once per doc; the pair join
    // then pays one intersect pass (integer union arithmetic — same
    // values as Dedup.jaccard, which would re-distinct per pair)
    val d = Tables.documents(spark, dir)
      .filter(col("doc_id") < SampleCap)
      .select(col("doc_id"), col("source"),
        array_distinct(Text.ngrams(Text.tokens(col("text")), 3)).as("sh"))
      .withColumn("ns", size(col("sh")))
    d.as("x").join(d.as("y"),
        col("x.source") === col("y.source") && col("x.doc_id") < col("y.doc_id"))
      .select(
        col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"),
        size(array_intersect(col("x.sh"), col("y.sh"))).as("__i"),
        (col("x.ns") + col("y.ns")).as("__s"))
      .select(col("a_id"), col("b_id"),
        when(col("__s") - col("__i") === 0, lit(0.0))
          .otherwise(col("__i").cast("double") / (col("__s") - col("__i")))
          .as("jaccard"))
      .filter(col("jaccard").isNotNull)
      .orderBy(col("jaccard").desc, col("a_id"), col("b_id"))
      .limit(20)
  }

  /** Per-doc MinHash-LSH candidate degree (how many other docs share ≥1
    * band bucket), over the FULL corpus with the production xxhash64
    * pipeline. Every doc gets a row, zero-filled; hash-checked against
    * the engine-neutral md5-LSH full-corpus oracle (see the GQuery
    * note on the empirical cross-hash recall equality). */
  def nearCandidates(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = Dedup.candidatePairs(docs)
    // one traversal of the pair subtree: explode both endpoints rather
    // than unioning two projections of the (expensive) LSH plan
    val degree = pairs
      .select(explode(array(col("a_id"), col("b_id"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_candidates"))
    docs.select("doc_id").join(degree, Seq("doc_id"), "left")
      .na.fill(0, Seq("n_candidates"))
      .orderBy("doc_id")
  }

  /** Portable candidate pairs (a < b): the SAME banded-LSH pipeline as
    * [[Dedup.candidatePairs]], but with engine-neutral hashing (md5-prefix
    * base hash + (a·h + b) mod p permutations, all literal constants), so
    * every decision — shingle hashes, 64 signature mins, 16 band keys, the
    * bucket self-join — is hash-checkable against DuckDB. The production
    * path keeps xxhash64 (faster at scale); this proves the LSH logic. */
  /** Engine-neutral (band, bucket) key rows — the portable-LSH banding
    * stage on its own, shared by the self-join candidate pipeline below
    * and the persisted band tier ([[Dedup.buildNearDupIndex]] et al.),
    * so every tier decision replays in DuckDB from the hoisted
    * `graft_lsh_pairs_all` temp table. */
  private def portableKeyRows(docs: DataFrame): DataFrame = {
    val sh = array_distinct(Text.ngrams(Text.tokens(col("text")), 3))
    val hm = transform(sh, s =>
      pmod(conv(substring(md5(s), 1, 15), 16, 10).cast("long"), lit(PortableLsh.P)))
    val aArr = array(PortableLsh.hashA.map(lit): _*)
    val bArr = array(PortableLsh.hashB.map(lit): _*)
    val sig = aggregate(hm, array_repeat(lit(PortableLsh.P), 64),
      (acc, h) => zip_with(acc, sequence(lit(1), lit(64)), (best, i) =>
        least(best, pmod(element_at(aArr, i) * h + element_at(bArr, i), lit(PortableLsh.P)))))
    val keys = transform(sequence(lit(0), lit(15)), b =>
      concat_ws(":",
        b.cast("string") +:
          (1 to 4).map(r => element_at(col("__sig"), (b * 4 + lit(r)).cast("int")).cast("string")): _*))
    // same exchange barrier as Dedup.bandTable: materialize the signature
    // before the Generate so it isn't recomputed per band
    Dedup.rebalance(docs.select(col("doc_id"), col("text")), "doc_id")
      .select(col("doc_id"), sig.as("__sig"))
      .transform(Dedup.rebalance(_, "doc_id"))
      .select(col("doc_id"), explode(keys).as("key"))
  }

  private def portablePairs(docs: DataFrame): DataFrame = {
    val keyRows = portableKeyRows(docs)
    keyRows.as("x").join(keyRows.as("y"),
        col("x.key") === col("y.key") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
  }

  // ------------------------------------------------------------------ //
  //  Persisted near-dup band tier — the dedup family's                  //
  //  IVF-style lifecycle: build → probe → upsert gens → auto-compact    //
  // ------------------------------------------------------------------ //

  /** Indexed window [0, NdiBase) and arrival window [NdiBase, NdiCap):
    * FIXED id windows (not fractions of the corpus) so the streaming
    * replays stay driver-bounded at every scale factor, the
    * `PortableCap` convention. */
  private val NdiBase = 400L
  private[queries] val NdiCap = 500L

  /** Banding fingerprint stored INSIDE the tier marker
    * ([[Dedup.nearDupTier]]) — hash family, modulus, shingle k, signature
    * width, band count. Any re-cut of these invalidates every persisted
    * tier instead of silently serving keys cut the old way. */
  private[queries] val NdiFingerprint = s"ndi:md5lsh:p${PortableLsh.P}:k3:h64:b16"

  /** Tier roots keyed by the corpus file identity ([[TierRoots]]) for
    * the documents table. */
  private[queries] def ndiRoot(kind: String, dir: String): String =
    TierRoots.of(kind, dir, "documents")

  /** Shared result shape: each probe's keep-first dedup decision off
    * the tier — canonical_id = smallest indexed doc sharing ≥ 1 band
    * key (itself when none), n_cand = how many smaller indexed docs
    * matched. */
  private def ndiDecision(spark: SparkSession, path: String,
                          probeDocs: DataFrame): DataFrame =
    probeDocs.select("doc_id")
      .join(Dedup.queryNearDupIndex(spark, path, portableKeyRows(probeDocs)),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("dup_of"), col("doc_id")).as("canonical_id"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"))
      .orderBy("doc_id")

  /** Probe a PERSISTED band tier (built once per corpus generation,
    * marker + fingerprint gated): arrivals [NdiBase, NdiCap) are banded
    * in-query (tiny) and equi-joined against the indexed base — the
    * incremental-dedup serving shape: at 100 TB the corpus is banded
    * ONCE and every new crawl snapshot probes the persisted band table
    * (bucketed by key at deployment) instead of re-banding the world.
    * Fully hash-checked: DuckDB replays the identical banding of BOTH
    * sides from `graft_lsh_pairs_all`, filtered to base×probe windows. */
  def ndiQueryQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val path = ndiRoot("graft_ndi_index", dir)
    if (!Dedup.nearDupTier(spark, path).serves(NdiFingerprint))
      Dedup.buildNearDupIndex(spark, path,
        portableKeyRows(docs.filter(col("doc_id") < NdiBase)), NdiFingerprint)
    ndiDecision(spark, path,
      docs.filter(col("doc_id") >= NdiBase && col("doc_id") < NdiCap))
  }

  /** The tier's FULL batch lifecycle in one run (the `ann_graph_compact`
    * convention — this query IS the lifecycle, rebuilt per run): base
    * build over [0, NdiBase), arrivals upserted as a delta generation,
    * then the arrivals themselves probed. The keep-first rule makes
    * arrival↔arrival matches count exactly when the match has the
    * smaller id, so the oracle is the same `pairs_all` window WITHOUT
    * the base-side filter — delta↔delta candidate lookup is what this
    * gate proves beyond `dedup_index_query`. */
  def ndiUpsertQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val path = ndiRoot("graft_ndi_upsert", dir)
    Dedup.buildNearDupIndex(spark, path,
      portableKeyRows(docs.filter(col("doc_id") < NdiBase)), NdiFingerprint)
    val arrivals = docs.filter(col("doc_id") >= NdiBase && col("doc_id") < NdiCap)
    Dedup.upsertNearDupIndex(spark, path, portableKeyRows(arrivals),
      NdiFingerprint)
    ndiDecision(spark, path, arrivals)
  }

  /** STREAMING arrivals through the persisted band tier: the
    * [0, NdiBase) base is built once (marker-gated), live deltas are
    * dropped for replay idempotence, then the arrival window lands as
    * TWO real micro-batches whose `foreachBatch` bands the batch and
    * appends it as a numbered completion-marked generation
    * ([[Dedup.upsertNearDupIndex]]). Banding is per-document, so the
    * merged tier — and therefore every probe decision — must be
    * IDENTICAL to the single-batch [[ndiUpsertQ]], which the SHARED
    * oracle hash-proves. */
  def streamNdiReplay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val path = ndiRoot("graft_ndi_stream", dir)
    val tier = Dedup.nearDupTier(spark, path)
    if (!tier.serves(NdiFingerprint))
      Dedup.buildNearDupIndex(spark, path,
        portableKeyRows(docs.filter(col("doc_id") < NdiBase)), NdiFingerprint)
    tier.dropGens()
    val arrivals = docs
      .filter(col("doc_id") >= NdiBase && col("doc_id") < NdiCap)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .collect()
      .sortBy(_._1)
    SimilarityQueries.requireBoundedReplay(arrivals.length,
      4 * (NdiCap - NdiBase).toInt, "streamNdiReplay arrivals")
    require(arrivals.nonEmpty,
      "streamNdiReplay: empty arrival window — the fixture's id space " +
        "changed shape; re-derive the replay window")
    StreamReplayQueries.replayChunks(spark,
      StreamReplayQueries.midSplit(arrivals.toSeq)(_._1),
      Seq("doc_id", "text")) { batch =>
      // empty-batch guard on the RAW micro-batch (cheap take(1)),
      // never on the banded frame — see upsertNearDupIndex's contract
      if (!batch.isEmpty)
        Dedup.upsertNearDupIndex(spark, path, portableKeyRows(batch),
          NdiFingerprint)
    }
    ndiDecision(spark, path,
      docs.filter(col("doc_id") >= NdiBase && col("doc_id") < NdiCap))
  }

  /** Streaming maintenance WITH the auto-compaction policy in the loop
    * — the `stream_ann_autocompact_replay` twin for the band tier:
    * gens-bar at 2, so after batch 1 the policy holds off and after
    * batch 2 it fires exactly once, folding both generations into the
    * base ([[Dedup.compactNearDupIndex]] — a rewrite, not a rebuild:
    * band rows are immutable facts). Post-fold the tier must serve the
    * identical decisions, so the output shares [[ndiUpsertQ]]'s oracle
    * plus the hash-pinned `n_compactions = 1`. */
  def streamNdiAutocompactReplay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val path = ndiRoot("graft_ndi_autocompact", dir)
    Dedup.buildNearDupIndex(spark, path,
      portableKeyRows(docs.filter(col("doc_id") < NdiBase)), NdiFingerprint)
    val arrivals = docs
      .filter(col("doc_id") >= NdiBase && col("doc_id") < NdiCap)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .collect()
      .sortBy(_._1)
    SimilarityQueries.requireBoundedReplay(arrivals.length,
      4 * (NdiCap - NdiBase).toInt, "streamNdiAutocompactReplay arrivals")
    require(arrivals.nonEmpty,
      "streamNdiAutocompactReplay: empty arrival window — the fixture's " +
        "id space changed shape; re-derive the replay window")
    val fired = new java.util.concurrent.atomic.AtomicInteger(0)
    StreamReplayQueries.replayChunks(spark,
      StreamReplayQueries.midSplit(arrivals.toSeq)(_._1),
      Seq("doc_id", "text")) { batch =>
      if (!batch.isEmpty)
        Dedup.upsertNearDupIndex(spark, path, portableKeyRows(batch),
          NdiFingerprint)
      // gens-bar only (ratio bar off): 2 micro-batches → deterministic
      // exactly-once firing, hash-pinned by n_compactions
      if (Dedup.maybeCompactNearDupIndex(spark, path, NdiFingerprint,
          maxGens = 2, maxRatio = Double.PositiveInfinity)) {
        fired.incrementAndGet(); ()
      }
    }
    ndiDecision(spark, path,
      docs.filter(col("doc_id") >= NdiBase && col("doc_id") < NdiCap))
      .withColumn("n_compactions", lit(fired.get.toLong))
  }

  /** Per-doc portable-LSH candidate degree over the fixed sample — the
    * oracle proof of the candidate-generation stage. */
  def nearCandidatesPortable(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < PortableCap)
    val degree = portablePairs(docs)
      .select(explode(array(col("a_id"), col("b_id"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_candidates"))
    docs.select("doc_id").join(degree, Seq("doc_id"), "left")
      .na.fill(0, Seq("n_candidates"))
      .orderBy("doc_id")
  }

  /** Near-dup GROUP RESOLUTION, oracle-proved: portable candidate pairs →
    * connected components ([[Dedup.connectedComponents]]: the bounded
    * driver-side union-find on small edge sets, star contraction above
    * the bound) → every sampled doc mapped to its canonical
    * (component-min) id. DuckDB recomputes the same components with a
    * recursive CTE, so the transitive closure itself is hash-checked —
    * A~B and B~C must land B AND C on A's canonical in both engines. */
  def groupsPortable(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < PortableCap)
    val cc = Dedup.connectedComponents(portablePairs(docs))
    docs.select("doc_id")
      .join(cc.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("canonical_id"))
      .orderBy("doc_id")
  }

  /** PRODUCTION near-dup survivor map over the FULL corpus: xxhash LSH
    * candidates → Jaccard-verified pairs → connected components →
    * (doc_id, canonical_id). Hash-checked against the uncapped md5-LSH
    * recursive-closure oracle: the canonical map depends only on the
    * verified pair set, and both hash families resolve it identically on
    * the fixture (see the GQuery note); [[nearGroupsPortable]] stays
    * beside it as the deterministic engine-neutral pin. */
  def nearGroups(spark: SparkSession, dir: String): DataFrame =
    Dedup.nearDupGroups(Tables.documents(spark, dir), threshold = 0.7)
      .orderBy("doc_id")

  /** The portable twin of [[nearGroups]] — the COMPLETE near-dup
    * pipeline with engine-neutral hashing, hash-checked end to end:
    * portable-LSH candidates → exact shingle Jaccard ≥ 0.7 verification
    * (string shingles, no hashing, so both engines compute identical
    * rationals) → connected components →
    * canonical map. DuckDB recomputes every stage including the
    * recursive-CTE closure over the VERIFIED edge set. */
  def nearGroupsPortable(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < PortableCap)
    val sh = docs.select(col("doc_id"),
        array_distinct(Text.ngrams(Text.tokens(col("text")), 3)).as("sh"))
      .withColumn("ns", size(col("sh")))
    val verified = portablePairs(docs)
      .join(sh.select(col("doc_id").as("a_id"), col("sh").as("a_sh"), col("ns").as("a_n")), "a_id")
      .join(sh.select(col("doc_id").as("b_id"), col("sh").as("b_sh"), col("ns").as("b_n")), "b_id")
      .withColumn("__i", size(array_intersect(col("a_sh"), col("b_sh"))))
      .withColumn("__j",
        when(col("a_n") + col("b_n") - col("__i") === 0, lit(0.0))
          .otherwise(col("__i").cast("double") / (col("a_n") + col("b_n") - col("__i"))))
      .filter(col("__j") >= 0.7)
      .select(col("a_id"), col("b_id"))
    val cc = Dedup.connectedComponents(verified)
    docs.select("doc_id")
      .join(cc.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("canonical_id"))
      .orderBy("doc_id")
  }

  private val SplitBuckets = 10

  /** Leakage-free train/val/test split: documents are assigned to
    * splits by the seeded hash of their near-dup GROUP canonical — not
    * their own id — so every near-duplicate family lands in exactly one
    * split and train can never leak a test document's twin (the failure
    * mode of naive per-doc hash splits that dedup exists to prevent).
    * Composition of [[nearGroupsPortable]]'s verified pipeline
    * (candidates → Jaccard ≥ 0.7 → connected components) with the
    * portable md5 bucket hash: 8/1/1 train/val/test. Fully
    * hash-checked — the oracle recomputes the whole chain including the
    * recursive closure. At 100 TB the canonical map is the dedup
    * pipeline's existing output; the split itself is a narrow map over
    * it (no extra shuffle beyond the group resolution already paid). */
  def splitLeakfreeQ(spark: SparkSession, dir: String): DataFrame = {
    val b = pmod(
      conv(substring(
        md5(concat(col("canonical_id").cast("string"), lit(":split42"))), 1, 15), 16, 10)
        .cast("long"),
      lit(SplitBuckets))
    nearGroupsPortable(spark, dir)
      .select(col("doc_id"), col("canonical_id"),
        b.cast("int").as("bucket"),
        when(b <= 7, "train").when(b === 8, "val").otherwise("test").as("split"))
      .orderBy("doc_id")
  }

  /** Per-doc 64-bit SimHash fingerprint over the FULL corpus, computed
    * with the engine-neutral md5-prefix token hash — fully hash-green.
    *
    * Why md5-prefix is the shipped batch default and not a "portable
    * compromise": after the single-reference simhashTable rewrite the
    * measured cost gap between md5-prefix and xxhash64 token hashes is
    * zero at sf0.1 (3.5 s vs 3.5 s on the streaming replays — see
    * [[Dedup.simhash64]]'s scaladoc), and group-stat canonicalization of
    * the xxhash form is NOT engine-neutral: at sf0.01 the near-dup
    * collision sets differ entirely by hash family (xxhash64 collides
    * {58,293},{61,185},{285,301},{393,420}; md5 collides {458,462}) —
    * simhash near-collisions on 1-token-diff planted twins are decided
    * by which way the changed token's hash bits vote, so ANY derived
    * group statistic of the xxhash fingerprints would hash-red against
    * an md5 recomputation. The xxhash64 form remains the streaming
    * default ([[graft.stream.Pipeline]], gated by
    * `stream_near_dup_replay` + its portable twin) where per-event
    * latency favors the codegen'd native hash over two md5 rounds.
    * Rebalanced by id first for the same reason as [[Dedup.bandTable]]:
    * the hash stage is CPU-bound and must not inherit the scan's split
    * skew. */
  def simhashQ(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashTable(
      Dedup.rebalance(Tables.documents(spark, dir).select(col("doc_id"), col("text")), "doc_id"),
      hashFn = portableTokenHashes)
      .orderBy("doc_id")

  /** Engine-neutral per-token hash: first 60 bits of md5 (the top 4 bits
    * of the 64 vote −n per doc and land 0 in both engines) — DuckDB
    * recomputes it exactly as `('0x' || substr(md5(t),1,15))::BIGINT`. */
  private def portableTokenHashes(toks: Column): Column =
    transform(toks, t => conv(substring(md5(t), 1, 15), 16, 10).cast("long"))

  /** Deterministic stratified sampling: keep a doc iff an engine-neutral
    * hash of its id (md5-prefix mod 100 — the same portable-hash recipe
    * as the LSH twin) lands under the rate. Per-source stats plus the
    * exact sum of kept ids, so the oracle hash proves BOTH engines keep
    * the SAME rows, not just the same counts. At 100 TB this is the
    * reproducible alternative to rand()-sampling: re-runs and engines
    * agree row-for-row, and the filter is a codegen'd scan predicate. */
  def sampleHash(spark: SparkSession, dir: String): DataFrame = {
    val h = pmod(
      conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10).cast("long"),
      lit(100))
    val kept = col("__h") < SampleRate
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), h.as("__h"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_total"),
        count(when(kept, 1)).as("n_kept"),
        coalesce(sum(when(kept, col("doc_id"))), lit(0L)).cast("long").as("kept_id_sum"))
      .orderBy("source")
  }

  private val SampleRate = 25

  /** Train/test DECONTAMINATION: find evaluation documents whose
    * normalized fingerprint appears in the training corpus. The test
    * split is planted (docs 0-49 re-cased + punctuated under shifted
    * ids), so the check must see through normalization — exactly what
    * fingerprint-based decontamination is for. The join is an equi-join
    * on the 32-hex fingerprint: at 100 TB both sides shuffle once on a
    * fixed-width key, never text. */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val train = docs.select(col("doc_id").as("train_id"),
      Text.fingerprint(Text.tokens(col("text"))).as("fp"))
    val test = docs.filter(col("doc_id") < 50)
      .select((col("doc_id") + 900000L).as("test_id"),
        Text.fingerprint(Text.tokens(concat(upper(col("text")), lit("!!!")))).as("fp"))
    test.join(train, "fp")
      .groupBy("test_id")
      .agg(min(col("train_id")).as("contaminated_by"))
      .orderBy("test_id")
  }

  /** Bloom-sketch decontamination — the SCALE twin of [[decontaminate]]
    * (same planted split, same normalized fingerprints): the train
    * corpus collapses to ONE Bloom blob (an aggregate — its rows never
    * join or shuffle against the eval side) and the eval side is a
    * NARROW filter probe, no join at all
    * ([[graft.functions.BloomMembership]]; the no-join/no-shuffle plan
    * is spec-gated). Eval set = the 50 planted contaminated docs (true
    * members — the sketch's no-false-negative guarantee makes their
    * flags deterministic under ANY hash family) + 50 clean docs
    * (fingerprints perturbed out of the train set), whose flags are
    * mathematically FP-free at fixture load (see the GQuery note) — so
    * the flagged set is exactly the member set and the driver hash gate
    * closes; the approximate-regime FPP bound is gated by
    * BloomMembershipSpec and the exact equi-join twin stays hash-green
    * beside it. The blob collect is one bounded sketch (≤ numBits/8
    * bytes), the same driver-side shape as the HLL estimate — not a
    * data collect. */
  def deconBloom(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.BloomMembership
    val docs = Tables.documents(spark, dir)
    val blob = docs
      .select(xxhash64(Text.fingerprint(Text.tokens(col("text")))).as("h"))
      .agg(BloomMembership.bloomAgg(col("h"), 100000L, 1000000L))
      .head.getAs[Array[Byte]](0)
    val members = docs.filter(col("doc_id") < 50)
      .select((col("doc_id") + 900000L).as("test_id"),
        Text.fingerprint(Text.tokens(concat(upper(col("text")), lit("!!!")))).as("fp"))
    val clean = docs.filter(col("doc_id") >= 50 && col("doc_id") < 100)
      .select((col("doc_id") + 950000L).as("test_id"),
        Text.fingerprint(Text.tokens(concat(col("text"), lit(" graftcleanmarker")))).as("fp"))
    members.unionByName(clean)
      .filter(BloomMembership.mightContain(lit(blob), xxhash64(col("fp"))))
      .select("test_id").orderBy("test_id")
  }

  /** CDC-STYLE LATEST-PER-KEY COMPACTION: keep only the newest record
    * per key — the dedup that turns an append-only event/change log into
    * a current-state snapshot (the other dedup axis from content
    * near-dup: recency, not similarity). Spelled as `max(struct(ts,
    * event_id, ...))`, NOT `row_number() = 1`: the struct-max is
    * partial-aggregable (planned as SortAggregate — struct buffers
    * aren't hash-aggregable — but that sort is task-local), so each map
    * task pre-collapses its rows and only one candidate per (task, key)
    * crosses the shuffle — at 100 TB that is the difference between
    * shuffling every log record into a post-exchange per-key window
    * sort and shuffling ~one row per key per task. `event_id` inside
    * the ordering struct breaks ts ties deterministically; the oracle
    * spells the same semantics with the window form, so the driver hash
    * gate proves the two formulations coincide. */
  def latestPerKey(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(max(struct(col("ts"), col("event_id"), col("event_type"),
        col("value"))).as("last"))
      .select(col("user_id"),
        unix_micros(col("last.ts")).as("last_ts_us"),
        col("last.event_id").as("last_event_id"),
        col("last.event_type").as("last_type"),
        col("last.value").as("last_value"))
      .orderBy("user_id")

  /** EXACT SUBSTRING-SPAN dedup over the full corpus
    * ([[Dedup.substringSpans]]): every maximal cross-document duplicated
    * span of ≥ [[SpanMin]] tokens, found as sorted k-gram runs — the
    * Lee-et-al-2022 dedup axis (variable-length spans) that whole-doc /
    * fixed-segment / n-gram-decon queries don't cover. Fully
    * hash-checked: both engines run the identical md5-gram → df-cap →
    * diagonal gaps-and-islands chain. At sf0.01 this finds the 24
    * planted shared-prefix spans (23–93 tokens). */
  def substringSpansQ(spark: SparkSession, dir: String): DataFrame =
    Dedup.substringSpans(
      Tables.documents(spark, dir)
        .select(col("doc_id"), Text.tokens(col("text")).as("toks")),
      k = SpanK, minSpan = SpanMin, dfCap = SpanDfCap)
      .orderBy("a_id", "b_id", "a_start", "b_start")

  /** Per-doc duplicated-token coverage ([[Dedup.substringCoverage]]):
    * the fraction of each document inside ≥ 1 cross-doc duplicated span
    * (overlaps interval-merged, never double-counted) — the number a
    * span-removal pass would actually cut. */
  def substringCoverageQ(spark: SparkSession, dir: String): DataFrame =
    Dedup.substringCoverage(
      Tables.documents(spark, dir)
        .select(col("doc_id"), Text.tokens(col("text")).as("toks")),
      k = SpanK, minSpan = SpanMin, dfCap = SpanDfCap)
      .orderBy("doc_id")

  /** Span-REMOVAL accounting ([[Dedup.substringTrim]]): the Lee et al.
    * pass itself — one copy of every duplicated span survives (in the
    * smaller-id doc), the other is cut; per-doc kept/cut token counts,
    * overlaps interval-merged so nothing is double-cut. */
  def substringTrimQ(spark: SparkSession, dir: String): DataFrame =
    Dedup.substringTrim(
      Tables.documents(spark, dir)
        .select(col("doc_id"), Text.tokens(col("text")).as("toks")),
      k = SpanK, minSpan = SpanMin, dfCap = SpanDfCap)
      .orderBy("doc_id")

  /** The corpus REWRITE itself ([[Dedup.substringRewrite]]): splice each
    * doc's kept segments around the cut spans and pin the REWRITTEN
    * token stream byte-for-byte via md5 — the oracle hash proves the
    * splice, not just its accounting. */
  def substringRewriteQ(spark: SparkSession, dir: String): DataFrame =
    Dedup.substringRewrite(
      Tables.documents(spark, dir)
        .select(col("doc_id"), Text.tokens(col("text")).as("toks")),
      k = SpanK, minSpan = SpanMin, dfCap = SpanDfCap)
      .orderBy("doc_id")

  /** WITHIN-doc repeated spans ([[Dedup.substringSelfSpans]]): the
    * self-similarity member of the family, at finer granularity
    * (k = [[SelfSpanK]], minSpan = [[SelfSpanMin]]) because the corpus
    * plants cross-doc duplication, not periodic text — only 2 genuine
    * self-repeats exist at sf0.01 and the oracle must find exactly
    * those; the operator's semantics are additionally gated by
    * DedupSpec's planted periodic document. */
  def substringSelfQ(spark: SparkSession, dir: String): DataFrame =
    Dedup.substringSelfSpans(
      Tables.documents(spark, dir)
        .select(col("doc_id"), Text.tokens(col("text")).as("toks")),
      k = SelfSpanK, minSpan = SelfSpanMin, dfCap = SpanDfCap)
      .orderBy("doc_id", "a_start", "b_start")

  private val SelfSpanK = 3
  private val SelfSpanMin = 4

  private val SpanK = 8
  private val SpanMin = 16
  private val SpanDfCap = 16

  /** Shared oracle CTE chain for the substring-span queries: the same
    * gram → cap → diagonal-islands pipeline in DuckDB SQL. */
  private def spanCtes: String = s"""
      t AS (SELECT doc_id, $duckToks AS tk FROM documents),
      g0 AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
                    md5(array_to_string(list_slice(tk, i + 1, i + $SpanK), ' ')) AS key
             FROM t, UNNEST(range(CAST(greatest(len(tk) - ${SpanK - 1}, 0) AS INT))) AS u(i)),
      g AS (SELECT * FROM (SELECT g0.*, count(*) OVER (PARTITION BY key) AS n FROM g0)
            WHERE n <= $SpanDfCap),
      p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.pos AS a_pos, b.pos AS b_pos
            FROM g a JOIN g b ON a.key = b.key AND a.doc_id < b.doc_id),
      r AS (SELECT *, a_pos - b_pos AS diag,
                   a_pos - row_number() OVER (PARTITION BY a_id, b_id, a_pos - b_pos
                                              ORDER BY a_pos) AS isl
            FROM p),
      spans AS (SELECT a_id, b_id, CAST(min(a_pos) AS BIGINT) AS a_start,
                       CAST(min(b_pos) AS BIGINT) AS b_start,
                       CAST(count(*) + ${SpanK - 1} AS BIGINT) AS span_tokens
                FROM r GROUP BY a_id, b_id, diag, isl
                HAVING count(*) + ${SpanK - 1} >= $SpanMin)"""

  val queries: Seq[GQuery] = Seq(
    GQuery("dedup_substring_spans", substringSpansQ, Some(s"""
      WITH $spanCtes
      SELECT * FROM spans ORDER BY a_id, b_id, a_start, b_start""")),
    GQuery("dedup_substring_coverage", substringCoverageQ, Some(s"""
      WITH $spanCtes,
      -- DISTINCT is load-bearing: identical (doc, s, e) intervals from
      -- two partner docs tie under ORDER BY (s, e), and the two window
      -- passes below may order ties differently — the same interval can
      -- then seed two islands and double-count (observed run-to-run).
      iv AS (SELECT DISTINCT doc_id, s, e FROM (
               SELECT a_id AS doc_id, a_start AS s, a_start + span_tokens AS e FROM spans
               UNION ALL
               SELECT b_id, b_start, b_start + span_tokens FROM spans)),
      m AS (SELECT doc_id, s, e,
                   max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxe
            FROM iv),
      isl AS (SELECT doc_id, s, e,
                     sum(CASE WHEN maxe IS NULL OR s > maxe THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY s, e
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
              FROM m),
      cov AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS dup_tokens FROM
                (SELECT doc_id, g, max(e) - min(s) AS c FROM isl GROUP BY doc_id, g)
              GROUP BY doc_id)
      SELECT t.doc_id, CAST(len(t.tk) AS BIGINT) AS n_tokens,
             coalesce(cov.dup_tokens, 0) AS dup_tokens,
             round(coalesce(cov.dup_tokens, 0) / greatest(len(t.tk), 1), 6) AS dup_ratio
      FROM t LEFT JOIN cov USING (doc_id)
      ORDER BY t.doc_id""")),
    GQuery("dedup_substring_self", substringSelfQ, Some(s"""
      WITH t AS (SELECT doc_id, $duckToks AS tk FROM documents),
      g0 AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
                    md5(array_to_string(list_slice(tk, i + 1, i + $SelfSpanK), ' ')) AS key
             FROM t, UNNEST(range(CAST(greatest(len(tk) - ${SelfSpanK - 1}, 0) AS INT))) AS u(i)),
      g AS (SELECT * FROM (SELECT g0.*, count(*) OVER (PARTITION BY key) AS n FROM g0)
            WHERE n <= $SpanDfCap),
      p AS (SELECT a.doc_id, a.pos AS a_pos, b.pos AS b_pos
            FROM g a JOIN g b ON a.key = b.key AND a.doc_id = b.doc_id AND a.pos < b.pos),
      r AS (SELECT *, b_pos - a_pos AS diag,
                   a_pos - row_number() OVER (PARTITION BY doc_id, b_pos - a_pos
                                              ORDER BY a_pos) AS isl
            FROM p)
      SELECT doc_id, CAST(min(a_pos) AS BIGINT) AS a_start,
             CAST(min(b_pos) AS BIGINT) AS b_start,
             CAST(diag AS BIGINT) AS period,
             CAST(count(*) + ${SelfSpanK - 1} AS BIGINT) AS span_tokens
      FROM r GROUP BY doc_id, diag, isl
      HAVING count(*) + ${SelfSpanK - 1} >= $SelfSpanMin
      ORDER BY doc_id, a_start, b_start""")),
    GQuery("dedup_substring_trim", substringTrimQ, Some(s"""
      WITH $spanCtes,
      iv AS (SELECT DISTINCT b_id AS doc_id, b_start AS s,
                    b_start + span_tokens AS e FROM spans),
      m AS (SELECT doc_id, s, e,
                   max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxe
            FROM iv),
      isl AS (SELECT doc_id, s, e,
                     sum(CASE WHEN maxe IS NULL OR s > maxe THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY s, e
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
              FROM m),
      cut AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS cut_tokens FROM
                (SELECT doc_id, g, max(e) - min(s) AS c FROM isl GROUP BY doc_id, g)
              GROUP BY doc_id)
      SELECT t.doc_id, CAST(len(t.tk) AS BIGINT) AS n_tokens,
             coalesce(cut.cut_tokens, 0) AS cut_tokens,
             CAST(len(t.tk) - coalesce(cut.cut_tokens, 0) AS BIGINT) AS kept_tokens
      FROM t LEFT JOIN cut USING (doc_id)
      ORDER BY t.doc_id""")),
    GQuery("dedup_substring_rewrite", substringRewriteQ, Some(s"""
      WITH $spanCtes,
      iv AS (SELECT DISTINCT b_id AS doc_id, b_start AS s,
                    b_start + span_tokens AS e FROM spans),
      m AS (SELECT doc_id, s, e,
                   max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxe
            FROM iv),
      isl AS (SELECT doc_id, s, e,
                     sum(CASE WHEN maxe IS NULL OR s > maxe THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY s, e
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
              FROM m),
      cut AS (SELECT doc_id, g, min(s) AS cs, max(e) AS ce FROM isl GROUP BY doc_id, g),
      lastc AS (SELECT doc_id, max(ce) AS mce FROM cut GROUP BY 1),
      seg AS (
        SELECT doc_id, coalesce(lag(ce) OVER (PARTITION BY doc_id ORDER BY cs), 0) AS ks,
               cs AS ke
        FROM cut
        UNION ALL
        SELECT t.doc_id, coalesce(l.mce, 0) AS ks, len(t.tk) AS ke
        FROM t LEFT JOIN lastc l USING (doc_id)),
      kept AS (SELECT s.doc_id,
                      flatten(list(t.tk[s.ks + 1:s.ke] ORDER BY s.ks)) AS kt
               FROM seg s JOIN t USING (doc_id) GROUP BY 1)
      SELECT t.doc_id, CAST(len(t.tk) AS BIGINT) AS n_tokens,
             CAST(len(k.kt) AS BIGINT) AS kept_n,
             -- coalesce: DuckDB's array_to_string of an EMPTY list is
             -- NULL, not '' — a fully-cut doc must still pin md5('')
             md5(coalesce(array_to_string(k.kt, ' '), '')) AS kept_md5
      FROM t JOIN kept k USING (doc_id)
      ORDER BY t.doc_id""")),
    GQuery("dedup_latest", latestPerKey, Some("""
      WITH r AS (
        SELECT user_id, ts, event_id, event_type, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events)
      SELECT user_id,
             epoch_us(ts::TIMESTAMP) AS last_ts_us,
             event_id AS last_event_id,
             event_type AS last_type,
             value AS last_value
      FROM r WHERE rn = 1 ORDER BY user_id""")),
    GQuery("sample_hash", sampleHash, Some("""
      WITH h AS (
        SELECT source, doc_id,
               ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100 AS hh
        FROM documents)
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_total,
             CAST(count(CASE WHEN hh < 25 THEN 1 END) AS BIGINT) AS n_kept,
             CAST(coalesce(sum(CASE WHEN hh < 25 THEN doc_id END), 0) AS BIGINT)
               AS kept_id_sum
      FROM h GROUP BY 1 ORDER BY 1""")),
    GQuery("dedup_decontaminate", decontaminate, Some(s"""
      WITH tr AS (
        SELECT doc_id AS train_id,
               md5(array_to_string($duckToks, ' ')) AS fp
        FROM documents),
      te AS (
        SELECT doc_id + 900000 AS test_id,
               md5(array_to_string(
                 regexp_extract_all(lower(upper(text) || '!!!'),
                                    '${Text.tokenPattern}'), ' ')) AS fp
        FROM documents WHERE doc_id < 50)
      SELECT te.test_id, CAST(min(tr.train_id) AS BIGINT) AS contaminated_by
      FROM te JOIN tr ON te.fp = tr.fp
      GROUP BY 1 ORDER BY 1""")),
    // Oracle = exactly the 50 planted members:
    // member flags are GUARANTEED by the sketch's no-false-negative
    // property under any hash family, and the clean probes are
    // mathematically FP-free at fixture load — 500–5000 fingerprints in
    // a 10^6-bit filter with 7 hash functions gives per-probe FPP
    // ≈ (n·k/m)^k ≤ 6e-11, so the flagged set IS the member set and the
    // hash gate closes. (The approximate regime — FPP at the sized 10^5
    // items — stays gated by BloomMembershipSpec.)
    GQuery("decon_bloom", deconBloom, Some("""
      SELECT CAST(doc_id + 900000 AS BIGINT) AS test_id
      FROM documents WHERE doc_id < 50 ORDER BY 1""")),
    GQuery("dedup_exact", exact, Some(s"""
      SELECT md5(array_to_string($duckToks, ' ')) AS fp,
             CAST(min(doc_id) AS BIGINT) AS keep_id,
             CAST(count(*) AS BIGINT) AS n_dups
      FROM documents GROUP BY 1 ORDER BY 1""")),
    GQuery("dedup_incremental", incremental, Some(s"""
      WITH f AS (SELECT doc_id, md5(array_to_string($duckToks, ' ')) AS fp
                 FROM documents),
      corpus AS (SELECT DISTINCT fp FROM f WHERE doc_id < $IncrementalSplit),
      inc AS (
        SELECT doc_id, fp,
               min(doc_id) OVER (PARTITION BY fp) AS first_id
        FROM f WHERE doc_id >= $IncrementalSplit)
      SELECT i.doc_id,
             CASE WHEN c.fp IS NOT NULL THEN 'dup_of_corpus'
                  WHEN i.doc_id <> i.first_id THEN 'dup_in_batch'
                  ELSE 'new' END AS decision
      FROM inc i LEFT JOIN corpus c USING (fp)
      ORDER BY i.doc_id""")),
    GQuery("dedup_jaccard_pairs", jaccardPairs, Some(s"""
      WITH d AS (
        SELECT doc_id, source,
               list_distinct(list_transform(range(1, len(toks) - 1),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        FROM (SELECT doc_id, source, $duckToks AS toks FROM documents
              WHERE doc_id < $SampleCap))
      SELECT x.doc_id AS a_id, y.doc_id AS b_id,
             CASE WHEN len(list_distinct(list_concat(x.sh, y.sh))) = 0 THEN 0.0
                  ELSE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
                       / len(list_distinct(list_concat(x.sh, y.sh))) END AS jaccard
      FROM d x JOIN d y ON x.source = y.source AND x.doc_id < y.doc_id
      ORDER BY jaccard DESC, a_id, b_id LIMIT 20""")),
    // FULL-CORPUS oracle for the production xxhash LSH: DuckDB replays
    // the engine-neutral md5 LSH over the whole documents table, so the
    // hash gate asserts that the production hash family finds the SAME
    // candidate set. That equality is empirical, not guaranteed — a
    // pair at Jaccard j survives a 16-band/4-row LSH with prob
    // 1-(1-j^4)^16 per hash family — but the fixture's planted
    // similarity structure sits far enough from the decision boundary
    // that both families resolve identically (verified at sf0.001 and
    // sf0.01, exceptAll = 0 both directions); a future borderline pair
    // would surface as a hash-red row to re-adjudicate, which is
    // strictly more signal than the old no-oracle err.
    GQuery("dedup_near_candidates", nearCandidates, Some(s"""
      ${lshTemps("pairs_all")}
      WITH deg AS (
        SELECT doc_id, count(*) AS n FROM (
          SELECT a_id AS doc_id FROM graft_lsh_pairs_all
          UNION ALL
          SELECT b_id AS doc_id FROM graft_lsh_pairs_all)
        GROUP BY 1)
      SELECT d.doc_id, CAST(coalesce(deg.n, 0) AS BIGINT) AS n_candidates
      FROM documents d LEFT JOIN deg USING (doc_id)
      ORDER BY d.doc_id""")),
    GQuery("dedup_near_portable", nearCandidatesPortable, Some(s"""
      ${lshTemps("pairs_cap")}
      WITH deg AS (
        SELECT doc_id, count(*) AS n FROM (
          SELECT a_id AS doc_id FROM graft_lsh_pairs_cap
          UNION ALL
          SELECT b_id AS doc_id FROM graft_lsh_pairs_cap)
        GROUP BY 1)
      SELECT d.doc_id, CAST(coalesce(deg.n, 0) AS BIGINT) AS n_candidates
      FROM documents d LEFT JOIN deg USING (doc_id)
      WHERE d.doc_id < $PortableCap ORDER BY d.doc_id""")),
    // persisted band-tier lifecycle: all four gates replay
    // the identical md5-LSH banding from the hoisted pairs_all temp
    // table, windowed to the tier's base/arrival id ranges — the
    // keep-first decision is min over a probe's smaller-id band mates
    GQuery("dedup_index_query", ndiQueryQ, Some(s"""
      ${lshTemps("pairs_all")}
      WITH m AS (
        SELECT b_id AS doc_id, min(a_id) AS dup, count(DISTINCT a_id) AS n
        FROM graft_lsh_pairs_all
        WHERE a_id < $NdiBase AND b_id >= $NdiBase AND b_id < $NdiCap
        GROUP BY 1)
      SELECT d.doc_id,
             CAST(coalesce(m.dup, d.doc_id) AS BIGINT) AS canonical_id,
             CAST(coalesce(m.n, 0) AS BIGINT) AS n_cand
      FROM documents d LEFT JOIN m USING (doc_id)
      WHERE d.doc_id >= $NdiBase AND d.doc_id < $NdiCap
      ORDER BY d.doc_id""")),
    // the upsert lifecycle (single-batch), the streaming two-batch
    // replay, and the autocompact replay must serve IDENTICAL decisions
    // — the first two share this oracle verbatim; the arrival window's
    // matches now include smaller-id ARRIVALS (no a_id filter), which
    // is exactly the delta↔delta lookup the plain query never exercises
    GQuery("dedup_index_upsert", ndiUpsertQ, Some(s"""
      ${lshTemps("pairs_all")}
      WITH m AS (
        SELECT b_id AS doc_id, min(a_id) AS dup, count(DISTINCT a_id) AS n
        FROM graft_lsh_pairs_all
        WHERE b_id >= $NdiBase AND b_id < $NdiCap
        GROUP BY 1)
      SELECT d.doc_id,
             CAST(coalesce(m.dup, d.doc_id) AS BIGINT) AS canonical_id,
             CAST(coalesce(m.n, 0) AS BIGINT) AS n_cand
      FROM documents d LEFT JOIN m USING (doc_id)
      WHERE d.doc_id >= $NdiBase AND d.doc_id < $NdiCap
      ORDER BY d.doc_id""")),
    GQuery("stream_dedup_index_replay", streamNdiReplay, Some(s"""
      ${lshTemps("pairs_all")}
      WITH m AS (
        SELECT b_id AS doc_id, min(a_id) AS dup, count(DISTINCT a_id) AS n
        FROM graft_lsh_pairs_all
        WHERE b_id >= $NdiBase AND b_id < $NdiCap
        GROUP BY 1)
      SELECT d.doc_id,
             CAST(coalesce(m.dup, d.doc_id) AS BIGINT) AS canonical_id,
             CAST(coalesce(m.n, 0) AS BIGINT) AS n_cand
      FROM documents d LEFT JOIN m USING (doc_id)
      WHERE d.doc_id >= $NdiBase AND d.doc_id < $NdiCap
      ORDER BY d.doc_id""")),
    GQuery("stream_dedup_index_autocompact_replay", streamNdiAutocompactReplay,
      Some(s"""
      ${lshTemps("pairs_all")}
      WITH m AS (
        SELECT b_id AS doc_id, min(a_id) AS dup, count(DISTINCT a_id) AS n
        FROM graft_lsh_pairs_all
        WHERE b_id >= $NdiBase AND b_id < $NdiCap
        GROUP BY 1)
      SELECT d.doc_id,
             CAST(coalesce(m.dup, d.doc_id) AS BIGINT) AS canonical_id,
             CAST(coalesce(m.n, 0) AS BIGINT) AS n_cand,
             CAST(1 AS BIGINT) AS n_compactions
      FROM documents d LEFT JOIN m USING (doc_id)
      WHERE d.doc_id >= $NdiBase AND d.doc_id < $NdiCap
      ORDER BY d.doc_id""")),
    // the full transitive closure, hoisted into the `comp_cap` temp table
    GQuery("dedup_groups", groupsPortable, Some(s"""
      ${lshTemps("comp_cap")}
      SELECT d.doc_id, CAST(coalesce(comp.c, d.doc_id) AS BIGINT) AS canonical_id
      FROM documents d LEFT JOIN graft_lsh_comp_cap comp ON comp.id = d.doc_id
      WHERE d.doc_id < $PortableCap ORDER BY d.doc_id""")),
    // FULL hash gate: the shipped fingerprint hash is the engine-neutral
    // md5 prefix (see simhashQ's scaladoc for why the xxhash form's
    // group stats could never be canonicalized instead), so DuckDB
    // rebuilds every full-corpus fingerprint bit-for-bit.
    GQuery("dedup_simhash", simhashQ, Some(s"""
      WITH h AS (
        SELECT doc_id,
               list_transform($duckToks, t ->
                 ('0x' || substr(md5(t), 1, 15))::BIGINT) AS hm
        FROM documents)
      SELECT doc_id,
             CAST(list_sum(list_transform(range(0, 64), i ->
               CASE WHEN coalesce(list_sum(list_transform(hm,
                      x -> CASE WHEN ((x >> i) & 1) = 1 THEN 1 ELSE -1 END)), 0) > 0
                    THEN (1::BIGINT << i) ELSE 0::BIGINT END)) AS BIGINT) AS simhash
      FROM h ORDER BY doc_id""")),
    // FULL-CORPUS oracle: the same md5-LSH → string-shingle-Jaccard →
    // recursive-closure chain as the portable twin, uncapped — hash-green
    // under the same empirically-verified xxhash≡md5 candidate-recall
    // equality as dedup_near_candidates above (the canonical map depends
    // only on the VERIFIED pair set, which both hash families resolve
    // identically on this fixture).
    GQuery("dedup_near_groups", nearGroups, Some(s"""
      ${lshTemps("canon_all")}
      SELECT doc_id, canonical_id FROM graft_lsh_canon_all ORDER BY doc_id""")),
    // the full near-dup pipeline (candidates → Jaccard verify → CC)
    // hash-proved with engine-neutral hashing — see nearGroupsPortable
    GQuery("dedup_near_groups_portable", nearGroupsPortable, Some(s"""
      ${lshTemps("canon_cap")}
      SELECT doc_id, canonical_id FROM graft_lsh_canon_cap ORDER BY doc_id""")),
    GQuery("corpus_split_leakfree", splitLeakfreeQ, Some(s"""
      ${lshTemps("canon_cap")}
      SELECT doc_id, canonical_id,
             CAST(('0x' || substr(md5(canonical_id::VARCHAR || ':split42'), 1, 15))::BIGINT
                  % $SplitBuckets AS INT) AS bucket,
             CASE WHEN ('0x' || substr(md5(canonical_id::VARCHAR || ':split42'), 1, 15))::BIGINT
                       % $SplitBuckets <= 7 THEN 'train'
                  WHEN ('0x' || substr(md5(canonical_id::VARCHAR || ':split42'), 1, 15))::BIGINT
                       % $SplitBuckets = 8 THEN 'val'
                  ELSE 'test' END AS split
      FROM graft_lsh_canon_cap ORDER BY doc_id"""))
  )

  /** Oracle gate cost (the `graphTempPrefix` device from
    * SimilarityQueries applied to the dedup family): the portable-LSH
    * replay — shingle sets, 64-slot minhash signatures, banded candidate
    * pairs, Jaccard-verified pairs, and the recursive closures — is
    * hoisted into session-scoped DuckDB temp tables created once
    * (`IF NOT EXISTS`) by whichever LSH-family oracle the compare runs
    * first and reused by the others on the same connection; a pure-CTE
    * form re-runs the full chain per oracle (~48 s each at sf0.01). Falls back to build-per-oracle on fresh connections.
    * Statement text per table name comes from this ONE emitter so the
    * `IF NOT EXISTS` cache can never serve a divergent definition.
    *
    * The capped tables DERIVE from the uncapped ones: a document's band
    * keys depend only on its own tokens, so the capped candidate set is
    * exactly the uncapped pairs with both endpoints under
    * [[PortableCap]] (b_id suffices — pairs carry a_id < b_id), and the
    * Jaccard verify can always read shingles from `sh_all`. The
    * signature chain — the dominant cost — is priced once per compare
    * session. */
  private lazy val lshTempStmts: Seq[(String, String)] = {
    val aLst = PortableLsh.hashA.mkString("[", ", ", "]")
    val bLst = PortableLsh.hashB.mkString("[", ", ", "]")
    val p = PortableLsh.P
    def vp(key: String) = s"""
      CREATE TEMP TABLE IF NOT EXISTS graft_lsh_vp_$key AS
        SELECT p.a_id, p.b_id
        FROM graft_lsh_pairs_$key p
        JOIN graft_lsh_sh_all sa ON sa.doc_id = p.a_id
        JOIN graft_lsh_sh_all sb ON sb.doc_id = p.b_id
        WHERE CASE WHEN len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)) = 0
                   THEN 0.0
                   ELSE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                        / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))
              END >= 0.7;"""
    def canon(key: String, canonCapClause: String) = s"""
      CREATE TEMP TABLE IF NOT EXISTS graft_lsh_canon_$key AS
        WITH RECURSIVE
        e2(src, dst) AS (
          SELECT a_id, b_id FROM graft_lsh_vp_$key
          UNION
          SELECT b_id, a_id FROM graft_lsh_vp_$key),
        cc2(id, label) AS (
          SELECT src, src FROM e2
          UNION
          SELECT e.dst, cc2.label FROM cc2 JOIN e2 e ON e.src = cc2.id),
        comp2 AS (SELECT id, min(label) AS c FROM cc2 GROUP BY 1)
        SELECT d.doc_id, CAST(coalesce(comp2.c, d.doc_id) AS BIGINT) AS canonical_id
        FROM documents d LEFT JOIN comp2 ON comp2.id = d.doc_id
        $canonCapClause;"""
    Seq(
      "sh_all" -> s"""
      CREATE TEMP TABLE IF NOT EXISTS graft_lsh_sh_all AS
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(toks) - 1),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
        FROM (SELECT doc_id, $duckToks AS toks FROM documents);""",
      "pairs_all" -> s"""
      CREATE TEMP TABLE IF NOT EXISTS graft_lsh_pairs_all AS
        WITH hm AS (
          SELECT doc_id,
                 list_transform(s, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT % $p) AS h
          FROM graft_lsh_sh_all),
        sig AS (
          SELECT doc_id,
                 list_transform(range(0, 64), i ->
                   coalesce(list_min(list_transform(h,
                     v -> (($aLst)[i+1] * v + ($bLst)[i+1]) % $p)), $p)) AS sg
          FROM hm),
        keys AS (
          SELECT doc_id,
                 unnest(list_transform(range(0, 16), b ->
                   b::VARCHAR || ':' || sg[4*b+1]::VARCHAR || ':' || sg[4*b+2]::VARCHAR
                     || ':' || sg[4*b+3]::VARCHAR || ':' || sg[4*b+4]::VARCHAR)) AS key
          FROM sig)
        SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
        FROM keys x JOIN keys y ON x.key = y.key AND x.doc_id < y.doc_id;""",
      "pairs_cap" -> s"""
      CREATE TEMP TABLE IF NOT EXISTS graft_lsh_pairs_cap AS
        SELECT a_id, b_id FROM graft_lsh_pairs_all WHERE b_id < $PortableCap;""",
      "comp_cap" -> s"""
      CREATE TEMP TABLE IF NOT EXISTS graft_lsh_comp_cap AS
        WITH RECURSIVE
        edges AS (
          SELECT a_id AS src, b_id AS dst FROM graft_lsh_pairs_cap
          UNION
          SELECT b_id AS src, a_id AS dst FROM graft_lsh_pairs_cap),
        cc(id, label) AS (
          SELECT src AS id, src AS label FROM edges
          UNION
          SELECT e.dst AS id, cc.label FROM cc JOIN edges e ON e.src = cc.id)
        SELECT id, min(label) AS c FROM cc GROUP BY 1;""",
      "vp_all" -> vp("all"),
      "canon_all" -> canon("all", ""),
      "vp_cap" -> vp("cap"),
      "canon_cap" -> canon("cap", s"WHERE d.doc_id < $PortableCap"))
  }

  private lazy val lshTempDeps: Map[String, Seq[String]] = Map(
    "sh_all" -> Nil,
    "pairs_all" -> Seq("sh_all"),
    "pairs_cap" -> Seq("pairs_all"),
    "comp_cap" -> Seq("pairs_cap"),
    "vp_all" -> Seq("pairs_all", "sh_all"),
    "canon_all" -> Seq("vp_all"),
    "vp_cap" -> Seq("pairs_cap", "sh_all"),
    "canon_cap" -> Seq("vp_cap"))

  /** CREATE statements for `needed` plus transitive dependencies, in
    * the fixed [[lshTempStmts]] order (a valid topological order). */
  private def lshTemps(needed: String*): String = {
    val want = scala.collection.mutable.Set.empty[String]
    def add(n: String): Unit =
      if (!want(n)) { lshTempDeps(n).foreach(add); want += n }
    needed.foreach(add)
    lshTempStmts.collect { case (n, s) if want(n) => s }.mkString
  }
}
