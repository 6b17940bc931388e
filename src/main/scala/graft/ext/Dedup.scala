package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` (north star; SURVEY.md §7.4).
  *
  * Scale design (the 100 TB contract):
  *  - NOTHING here is all-pairs. Near-dup discovery goes through banded
  *    LSH keys — the only join is an equi-join on (band, bucket-hash), so
  *    comparisons are bounded by bucket co-membership, not n².
  *  - pathological buckets (boilerplate shingles shared by millions of
  *    docs) are capped by `maxBucketSize` before the pair join — the
  *    standard LSH skew guard; dropped buckets are the known trade-off.
  *  - signatures/fingerprints are fixed-size per doc (64 ints / 1 long),
  *    so shuffle width is constant regardless of document length.
  *
  * All hashing uses Spark's built-in murmur3 (`hash`) / `xxhash64`
  * expressions — codegen'd, no UDFs.
  */
object Dedup {

  /** Exact dedup groups, deterministically: group by normalized-text
    * fingerprint, keep the smallest doc_id as canonical (dropDuplicates
    * would keep an arbitrary row — not reproducible). */
  def exactGroups(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    docs
      .withColumn("fp", Text.fingerprint(Text.tokens(col("text"))))
      .groupBy("fp")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Distinct k-shingle (token k-gram) hashes of a token array — the set
    * MinHash sketches. 64-bit so collisions are negligible at corpus scale. */
  def shingleHashes(toks: Column, k: Int = 3): Column =
    array_distinct(transform(Text.ngrams(toks, k), s => xxhash64(s)))

  /** MinHash signature: `numHashes` independent permutations simulated by
    * seeding murmur3 with the permutation index; each signature slot is the
    * min over the doc's shingle hashes. Empty docs sign as Int.MaxValue.
    *
    * Computed as ONE fold over the shingle array (accumulator = the
    * signature vector). The naive form — numHashes separate
    * `array_min(transform(...))` expressions — lets `CollapseProject`
    * inline the upstream shingle construction into every one of them,
    * re-tokenizing each document 64 times; measured 25× slower at sf0.1. */
  def minhashSignature(shingles: Column, numHashes: Int = 64): Column =
    aggregate(
      shingles,
      array_repeat(lit(Int.MaxValue), numHashes),
      (acc, s) => zip_with(
        acc,
        sequence(lit(0), lit(numHashes - 1)),
        (best, i) => least(best, hash(i, s))))

  /** Banded LSH keys: split the signature into `bands` equal slices and
    * hash each slice. Docs sharing ANY (band, hash) key are candidates.
    * With 64 hashes / 16 bands (4 rows per band), the match-probability
    * curve s^4 per band puts the 50% threshold near jaccard ≈ 0.55. */
  def lshBandKeys(sig: Column, bands: Int = 16, numHashes: Int = 64): Column = {
    val rows = numHashes / bands
    array((0 until bands).map { b =>
      struct(
        lit(b).as("band"),
        hash((0 until rows).map(r => element_at(sig, b * rows + r + 1)): _*).as("bucket"))
    }: _*)
  }

  /** (id, band, bucket) exploded LSH keys for a document frame.
    *
    * Two deliberate exchanges:
    *  1. a REBALANCE of (id, text) before the signature stage. The
    *     tokenize→shingle→64-hash signature is CPU-bound (~10⁴ hash ops
    *     per doc ≫ the ~µs it takes to shuffle a KB of text), documents
    *     vary ~100× in length, and scan splits follow file/row-group
    *     layout, not compute cost — so the hash stage inherits whatever
    *     skew (or, on small fixtures, single-split serialism) the scan
    *     has. Rebalancing by id first costs one text-width shuffle and
    *     makes the expensive stage uniformly parallel.
    *  2. a barrier repartition of the materialized signature BEFORE the
    *     band explode: `Generate` re-evaluates its input per output row,
    *     and `CollapseProject` would otherwise inline the whole signature
    *     expression into it — measured 8× slower at sf0.1. This shuffle
    *     carries only (id, 64 ints) per doc, and `ReuseExchange` shares
    *     it between the two sides of the candidate self-join. */
  def bandTable(docs: DataFrame, idCol: String = "doc_id", k: Int = 3,
                numHashes: Int = 64, bands: Int = 16): DataFrame =
    docs
      .select(col(idCol), col("text"))
      .transform(rebalance(_, idCol))
      .select(col(idCol),
        minhashSignature(shingleHashes(Text.tokens(col("text")), k), numHashes).as("__sig"))
      .transform(rebalance(_, idCol))
      .select(col(idCol), explode(lshBandKeys(col("__sig"), bands, numHashes)).as("__key"))
      .select(col(idCol), col("__key.band").as("band"), col("__key.bucket").as("bucket"))

  /** Spread a CPU-bound stage over the cluster's full parallelism. The
    * partition count is EXPLICIT, which exempts the exchange from AQE
    * partition coalescing — AQE merges by *bytes*, and a few hundred KB
    * of short documents can carry minutes of hashing work, so byte-based
    * coalescing would serialize exactly the stage this exchange exists
    * to parallelize. */
  def rebalance(df: DataFrame, idCol: String): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, col(idCol))

  /** Candidate near-dup pairs (a < b) via the band-bucket equi-join, with
    * the bucket-size skew cap. */
  def candidatePairs(docs: DataFrame, idCol: String = "doc_id", k: Int = 3,
                     numHashes: Int = 64, bands: Int = 16,
                     maxBucketSize: Int = 1000): DataFrame = {
    val bt = bandTable(docs, idCol, k, numHashes, bands)
    // bucket-size cap via groupBy + BROADCAST anti-join, not a count()
    // window (the knnGraph bucket-cap rule): the window
    // shuffled every band row into per-bucket partitions to count them —
    // the hot buckets the cap exists to remove are exactly the ones that
    // collapse into single straggler tasks at corpus scale. The counts
    // shuffle is partial-aggregated (skew-free), only the OVER-cap
    // buckets travel (≤ rows/maxBucketSize by construction), and the cap
    // lands BEFORE the self-join's by-bucket exchange, so no hot-bucket
    // row ever rides a bucket-keyed shuffle. bandTable's id-keyed
    // barrier exchange is shared by all three consumers via
    // ReuseExchange, so the signature stage still computes once.
    // Identical rows survive the cap either way.
    val hot = bt.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxBucketSize)
      .select(col("band"), col("bucket"))
    val capped = bt.join(broadcast(hot), Seq("band", "bucket"), "left_anti")
    capped.as("x").join(capped.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("a_id"), col(s"y.$idCol").as("b_id"))
      .distinct()
  }

  /** Set Jaccard of two arrays (duplicates allowed — the inputs are
    * treated as sets). The union size is derived as
    * |distinct A| + |distinct B| − |A∩B| rather than materializing
    * `array_union` — linear hash-set passes, no union array allocation.
    * `array_intersect` already returns distinct elements, so the identity
    * holds for arbitrary input (deriving it from raw `size(a)+size(b)`
    * double-counts duplicates and broke self-similarity = 1). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    val union = size(array_distinct(a)) + size(array_distinct(b)) - inter
    when(union === 0, lit(0.0)).otherwise(inter.cast("double") / union)
  }

  /** Verified near-dup pairs: LSH candidates re-checked with true shingle
    * Jaccard ≥ `threshold`. The expensive exact check runs only on
    * candidate pairs, never the cross product. Set sizes are precomputed
    * ONCE per document (the norm-precompute pattern): `shingleHashes` is
    * already distinct, so per pair only the intersect pass remains and
    * union size is pure integer arithmetic — identical values to
    * [[jaccard]], a fraction of its per-pair work. */
  def nearDupPairs(docs: DataFrame, threshold: Double = 0.7,
                   idCol: String = "doc_id", k: Int = 3): DataFrame = {
    val sh = docs.select(col(idCol), shingleHashes(Text.tokens(col("text")), k).as("sh"))
      .withColumn("ns", size(col("sh")))
    candidatePairs(docs, idCol, k)
      .join(sh.select(col(idCol).as("a_id"), col("sh").as("a_sh"), col("ns").as("a_n")), "a_id")
      .join(sh.select(col(idCol).as("b_id"), col("sh").as("b_sh"), col("ns").as("b_n")), "b_id")
      .withColumn("__i", size(array_intersect(col("a_sh"), col("b_sh"))))
      .withColumn("jaccard",
        when(col("a_n") + col("b_n") - col("__i") === 0, lit(0.0))
          .otherwise(col("__i").cast("double") / (col("a_n") + col("b_n") - col("__i"))))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** Default edge-count bound below which [[connectedComponents]] skips
    * the distributed rounds and finishes with a driver-side union-find:
    * 500k oriented distinct edges ≈ 8 MB collected, label map ≤ 1M
    * entries broadcast back — both well inside driver budgets, while the
    * distributed tail rounds those edges would otherwise cost are 4-6
    * shuffle stages EACH over a nearly-contracted graph. At 100 TB this
    * is the standard endgame: contraction shrinks the edge set
    * geometrically, so the last O(log n) rounds operate on data that no
    * longer needs a cluster. Set 0 to disable (pure distributed). */
  val DriverFinishEdges: Long = 500000L

  /** Connected components over an undirected pair list.
    *
    * The pair list is oriented (larger endpoint first) and deduplicated
    * once, then
    *  - if the edge-set row count — self-pairs INCLUDED, because the
    *    driver finish collects all of them — is ≤ `driverFinishEdges`, a
    *    driver-side union-find labels the graph in ONE collect + one
    *    broadcast-joined local relation — no iterative rounds at all.
    *    Test-scale graphs land here; the bound is explicit and the
    *    collect is provably ≤ 16·bound bytes (the gate counts exactly the
    *    rows collected).
    *  - otherwise alternating large-star/small-star contraction (Kiveris
    *    et al., "Connected Components in MapReduce and Beyond") runs:
    *    O(log n) rounds on ANY topology, whatever the component diameter.
    *    The same bound is its mid-loop endgame: once contraction shrinks
    *    the edge set under it, the driver union-find finishes the rest.
    *
    * The driver finish holds ids as longs, so it (and the endgame
    * cutover) engages only when BOTH id columns are integral; any other
    * orderable id type (e.g. string fingerprints) runs the distributed
    * path end-to-end, which never narrows the type.
    *
    * Scale notes for the distributed path:
    *  - per-round cost is equi-joins + partial aggregates — never
    *    all-pairs;
    *  - every round's edges are marked for a LAZY `localCheckpoint` whose
    *    materializing action is the convergence probe, so a round is ONE
    *    Spark job and the plan stays constant-size (lineage truncation
    *    beats the classic iterative-Spark plan blowup);
    *  - each round UNPERSISTS the previous round's checkpoint once the
    *    new one is materialized (via the RDD-level handle —
    *    `Dataset.unpersist` cannot reach a checkpoint's cache), so no
    *    intermediate edge set stays cached for the JVM's lifetime;
    *  - `maxIters` counts contraction rounds; IllegalStateException on
    *    non-convergence beats silently wrong groups.
    *
    * Returns (id, component) for every endpoint appearing in `pairs`;
    * `component` is the smallest id in the node's component.
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "a_id",
                          bCol: String = "b_id", maxIters: Int = 25,
                          driverFinishEdges: Long = DriverFinishEdges): DataFrame = {
    // orient + dedup ONCE, shared by both paths; the checkpoint truncates
    // the (potentially huge) pair-pipeline lineage so the edge-count
    // probe and the rounds both read the materialized edge set. Keeps
    // self-pairs so isolated endpoints still get a label.
    val base = pairs
      .select(greatest(col(aCol), col(bCol)).as("u"), least(col(aCol), col(bCol)).as("v"))
      .distinct()
      .localCheckpoint(false)
    // driver finish requires integral ids (collected as longs); anything
    // else — string fingerprints, decimals — stays distributed, where the
    // contraction only compares and min-reduces.
    val integralIds = {
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
      Seq(aCol, bCol).forall { c =>
        pairs.schema(c).dataType match {
          case ByteType | ShortType | IntegerType | LongType => true
          case _ => false
        }
      }
    }
    // gate on base.count() — self-pairs INCLUDED — because that is the
    // exact row set ccDriverFinish collects, so the "collect ≤ 16·bound
    // bytes" claim holds for inputs with many isolated (self-paired)
    // endpoints too.
    val small = integralIds && driverFinishEdges > 0 &&
      base.count() <= driverFinishEdges
    if (small) ccDriverFinish(base)
    else ccStarFrom(base, maxIters,
      cutoverEdges = if (integralIds) driverFinishEdges else 0L)._1
  }

  private def unpersistCkpt(df: DataFrame): Unit =
    org.apache.spark.sql.GraftColumnBridge.unpersistLocalCheckpoint(df)

  /** Driver-side union-find finish for edge sets under the explicit
    * bound: one collect (≤ 16 bytes × bound), union-by-min-root with path
    * halving (component = min id falls straight out of the root), labels
    * returned as a local relation every downstream join broadcasts.
    * `base` includes self-pairs, so every endpoint gets a label row. */
  private def ccDriverFinish(base: DataFrame): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val labels = collectUnionFind(base)
    // the returned frame is a pure local relation with no reference back
    // to `base`, so the edge-set checkpoint (materialized by the gate's
    // count, collected just above) is dead — free it here, or every
    // connectedComponents call on this default path leaks one cached RDD
    // for the JVM's lifetime.
    unpersistCkpt(base)
    spark.createDataset(labels.toIndexedSeq).toDF("id", "component")
  }

  /** Mid-loop endgame finish: union-find over the CONTRACTED edge set,
    * labels joined back to the FULL original node list (isolated or
    * self-paired nodes label as themselves). Components over any
    * intermediate star edge set equal components over the original
    * non-isolated nodes — see [[ccStarFrom]]. */
  private def ccDriverFinishOver(base: DataFrame, edges: DataFrame): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val mapDf = spark.createDataset(collectUnionFind(edges).toIndexedSeq)
      .toDF("id", "component")
    base.select(explode(array(col("u"), col("v"))).as("id")).distinct()
      .join(broadcast(mapDf), Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  private def collectUnionFind(edgeDf: DataFrame): Array[(Long, Long)] = {
    val es = edgeDf.select(col("u").cast("long"), col("v").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = new java.util.HashMap[Long, Long](es.length * 2)
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.get(x)
      while (p != x) {
        val gp = parent.get(p)
        parent.put(x, gp) // path halving
        x = gp
        p = parent.get(x)
      }
      x
    }
    es.foreach { case (u, v) =>
      if (!parent.containsKey(u)) parent.put(u, u)
      if (!parent.containsKey(v)) parent.put(v, v)
      val ru = find(u)
      val rv = find(v)
      if (ru != rv) {
        if (ru < rv) parent.put(rv, ru) else parent.put(ru, rv)
      } // union by min root ⇒ every root IS its component's minimum
    }
    val labels = new Array[(Long, Long)](parent.size())
    val it = parent.keySet().iterator()
    var i = 0
    while (it.hasNext) {
      val id = it.next()
      labels(i) = (id, find(id))
      i += 1
    }
    labels
  }

  /** One large-star round: every node attaches its strictly-LARGER
    * neighbours to the minimum of its closed neighbourhood. Edges stay
    * oriented (larger endpoint first). */
  private def largeStar(e: DataFrame): DataFrame = {
    val nbrs = e.select(col("u"), col("v"))
      .union(e.select(col("v").as("u"), col("u").as("v")))
    val mins = nbrs.groupBy("u").agg(min(col("v")).as("mv"))
      .select(col("u"), least(col("u"), col("mv")).as("m"))
    nbrs.join(mins, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v")) // v > u ≥ m, so u > v holds
      .distinct()
  }

  /** One small-star round: every node attaches its smaller neighbours
    * (and itself) to the minimum of that set. Input/output edges are
    * oriented larger-first, so grouping by `u` sees exactly the smaller
    * neighbourhood. */
  private def smallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy("u").agg(min(col("v")).as("m"))
    val relinked = e.join(mins, "u")
      .select(col("v").as("u"), col("m").as("v")) // v ≥ m; drop the m row below
      .filter(col("u") =!= col("v"))
    relinked.union(mins.select(col("u"), col("m").as("v"))).distinct()
  }

  /** Connected components via alternating large-star/small-star
    * contraction, distributed all the way (no driver finish). Returns
    * (labels, roundsUsed) — the round count is asserted O(log n) on a
    * planted chain in DedupSpec. */
  private[ext] def ccStar(pairs: DataFrame, aCol: String = "a_id",
                          bCol: String = "b_id",
                          maxIters: Int = 20): (DataFrame, Int) =
    ccStarFrom(pairs
      .select(greatest(col(aCol), col(bCol)).as("u"), least(col(aCol), col(bCol)).as("v"))
      .distinct()
      .localCheckpoint(false), maxIters)

  /** The contraction loop over a pre-oriented, deduplicated, checkpointed
    * edge base (self-pairs included — they keep isolated endpoints
    * labelled). `base` stays cached: the returned labels read their node
    * list from it.
    *
    * Each iteration runs one large-star then one small-star round and
    * probes convergence: the (distinct, oriented) edge set is unchanged
    * by the round. At the fixpoint the edge set is a union of stars
    * centred on component minima, so labels fall out of a single
    * group-by.
    *
    * `cutoverEdges` > 0 enables the mid-loop ENDGAME: after each probe
    * the contracted edge set is counted, and once it shrinks under the
    * bound the remaining rounds are replaced by the driver union-find.
    * Sound because neither star round ever drops a node from the edge set
    * (a node's smaller neighbours re-emit it from largeStar, its own
    * min-row keeps it in smallStar), so components over any intermediate
    * edge set equal components over the original restricted to
    * non-isolated nodes — the same invariant the fixpoint label
    * extraction relies on. */
  private def ccStarFrom(base: DataFrame, maxIters: Int,
                         cutoverEdges: Long = 0L): (DataFrame, Int) = {
    var edges = base.filter(col("u") =!= col("v"))
    var prevCkpt: DataFrame = null
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      // EVERY round gets its own lazy localCheckpoint: a star round
      // references its input FOUR times (largeStar's union-of-directions
      // twice, smallStar's join-with-mins twice), so composing rounds
      // without truncation re-executes the previous round's shuffles
      // ~4× per level (measured 15-41 s/query). The lazy checkpoint
      // truncates the logical plan immediately while deferring execution
      // to the probe job below.
      val next = smallStar(largeStar(edges)).localCheckpoint(false)
      // distinct sets: equal iff the full-outer join has no one-sided row.
      // ONE probe job per round, which also materializes the lazy
      // checkpoint. The limit(1) matters: an unchanged round is the RARE
      // case, so the probe short-circuits after the first mismatching row
      // instead of iterating the full join output (a counting aggregate
      // measured 50 s vs 20 s on a 24.75M-edge set).
      val prev = edges.select(col("u").as("pu"), col("v").as("pv"))
      converged = next.join(prev,
          col("u") === col("pu") && col("v") === col("pv"), "full_outer")
        .filter(col("u").isNull || col("pu").isNull)
        .limit(1).count() == 0L
      if (prevCkpt != null) unpersistCkpt(prevCkpt)
      prevCkpt = edges
      edges = next
      iter += 1
      if (!converged && cutoverEdges > 0 &&
          edges.count() <= cutoverEdges) {
        // endgame: the contracted edge set no longer needs a cluster.
        // The count is a near-free second job — `edges` is the checkpoint
        // the probe just materialized, so it sums cached block counts.
        // The union-find collect inside ccDriverFinishOver is eager, so
        // both the contracted set and the loop's previous checkpoint are
        // dead on return; the early return skips the loop-exit unpersist,
        // so both are freed here.
        val labels = ccDriverFinishOver(base, edges)
        unpersistCkpt(edges)
        if (prevCkpt != null) unpersistCkpt(prevCkpt)
        return (labels, iter)
      }
    }
    if (prevCkpt != null) unpersistCkpt(prevCkpt)
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters rounds")
    val nodes = base.select(explode(array(col("u"), col("v"))).as("id")).distinct()
    val parents = edges.groupBy(col("u").as("id")).agg(min(col("v")).as("__p"))
    val labels = nodes.join(parents, Seq("id"), "left")
      .select(col("id"), coalesce(col("__p"), col("id")).as("component"))
    (labels, iter)
  }

  /** Near-dup survivor map: every document → its canonical (kept) doc id.
    * Pipeline: LSH candidates → Jaccard-verified pairs → connected
    * components → component-min canonical; docs in no verified pair are
    * their own canonical. This is the transitive analogue of
    * [[exactGroups]] — without it, A~B and B~C would dedup B and C against
    * different canonicals. */
  def nearDupGroups(docs: DataFrame, threshold: Double = 0.7,
                    idCol: String = "doc_id", k: Int = 3): DataFrame = {
    val cc = connectedComponents(nearDupPairs(docs, threshold, idCol, k))
    docs.select(col(idCol))
      .join(cc.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("component"), col(idCol)).as("canonical_id"))
  }

  /** Per-token 64-bit hashes (materialize once; simhash folds over these). */
  def tokenHashes(toks: Column): Column = transform(toks, t => xxhash64(t))

  /** 64-bit SimHash: bit i of the result is set iff the majority of token
    * hashes have bit i set (+1/-1 vote per token). Near-identical docs
    * land within a few bits of Hamming distance.
    *
    * SINGLE-REFERENCE form: one `aggregate` carries all 64 bit votes
    * as an array accumulator, so the `tokenHashes` expression appears
    * exactly ONCE in the plan. The previous shape —
    * 64 independent per-bit folds — embedded 64 copies of the input
    * expression, and codegen's subexpression elimination does not reach
    * across higher-order-aggregate inputs: when callers pass a computed
    * array (tokenize + per-token hash, as the streaming pipeline does),
    * the whole chain re-evaluated 64× per row. Measured on the live
    * streaming replays at sf0.1: 7.0 → 3.5 s portable (md5-prefix
    * hashes, the priciest caller), 4.8 → 3.5 s xxhash — the tokenizer
    * re-runs dominated both. Same math, bit for bit: identical votes,
    * identical bit assembly, empty/null arrays fingerprint unchanged. */
  def simhash64(tokenHashes: Column): Column = {
    val masks = array((0 until 64).map(i => lit(1L << i)): _*)
    val votes = aggregate(
      tokenHashes,
      array(Seq.fill(64)(lit(0L)): _*),
      (acc, h) => zip_with(acc, masks, (a, m) =>
        a + when(h.bitwiseAND(m) =!= 0L, 1L).otherwise(-1L)))
    aggregate(
      zip_with(votes, masks, (v, m) => when(v > 0, m).otherwise(lit(0L))),
      lit(0L), (acc, b) => acc + b)
  }

  /** DataFrame-level SimHash over a document frame: explode the prehashed
    * tokens and take 64 `SUM(±1)` aggregates, then assemble the bits.
    *
    * This is the scale form of [[simhash64]]: the whole plan is
    * scan → generate → codegen hash-aggregation, with no per-row array
    * allocation (the 64-HOF-fold form churns ~tokens×64 boxed longs per
    * document — GC noise dominated its measured runtime). The explode
    * multiplies rows ×tokens but PARTIAL aggregation consumes them
    * map-side in the same stage: the shuffle carries 64 longs per doc.
    * `explode_outer` keeps empty documents (null hash votes −1 on every
    * bit, so they fingerprint to 0L exactly like the fold form). */
  def simhashTable(docs: DataFrame, idCol: String = "doc_id",
                   hashFn: Column => Column = tokenHashes): DataFrame = {
    val sums = (0 until 64).map { i =>
      sum(when(col("__h").bitwiseAND(lit(1L << i)) =!= 0L, 1L).otherwise(-1L)).as(s"__b$i")
    }
    val bits = (0 until 64)
      .map(i => when(col(s"__b$i") > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)
    docs
      .select(col(idCol), explode_outer(hashFn(Text.tokens(col("text")))).as("__h"))
      .groupBy(col(idCol))
      .agg(sums.head, sums.tail: _*)
      .select(col(idCol), bits.as("simhash"))
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SEGMENT-LEVEL cross-document dedup (the CCNet/C4 "line dedup" shape,
    * re-expressed for a corpus whose documents carry no line structure):
    * each document is cut into consecutive fixed-width token segments, a
    * corpus-wide document frequency is computed per segment CONTENT, and
    * segments appearing in ≥ `dfCap` distinct documents (boilerplate
    * headers, navigation chrome, license blocks) are dropped. Returns
    * per-document stats: total segments, dropped segments, tokens kept.
    *
    * Scale shape: one linear scan producing the segment table (the
    * Generate's input carries the materialized token array — the
    * tokenizer runs once per document, not once per segment), then two
    * shuffles on the fixed-width md5 segment key: the distinct-doc count
    * (partial_count after a local distinct) and the join back. Shuffle
    * width is id + 32-char key per segment — document text never
    * shuffles. The df threshold is the same boilerplate guard as
    * `maxBucketSize` on the LSH path.
    *
    * `docs` must carry (`idCol`, `toksCol`: array<string>). */
  def segmentDedupStats(docs: DataFrame, idCol: String = "doc_id",
                        toksCol: String = "toks", segLen: Int = 10,
                        dfCap: Long = 3L): DataFrame = {
    val nonEmpty = docs
      .select(col(idCol), col(toksCol).as("__toks"))
      .filter(size(col("__toks")) > 0)
    val segs = nonEmpty
      .select(col(idCol), col("__toks"),
        explode(sequence(lit(0),
          floor((size(col("__toks")) + (segLen - 1)) / segLen).cast("int") - 1))
          .as("__i"))
      .select(col(idCol),
        slice(col("__toks"), col("__i") * segLen + 1, lit(segLen)).as("__seg"))
      .select(col(idCol),
        md5(concat_ws(" ", col("__seg")).cast("binary")).as("__key"),
        size(col("__seg")).cast("long").as("__seg_len"))
    val dfs = segs.groupBy("__key")
      .agg(countDistinct(col(idCol)).as("__df"))
    val perDoc = segs.join(dfs, "__key")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_segs"),
        sum(when(col("__df") >= dfCap, 1L).otherwise(0L)).as("n_dropped"),
        sum(when(col("__df") < dfCap, col("__seg_len")).otherwise(0L))
          .as("tokens_kept"))
    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .na.fill(0L, Seq("n_segs", "n_dropped", "tokens_kept"))
  }

  /** N-GRAM DECONTAMINATION (the GPT-3 appendix-C shape): count, for
    * every evaluation/test document, how many of its distinct `n`-token
    * shingles also occur anywhere in the training corpus. A single
    * overlapping shingle marks the doc contaminated; the count grades
    * severity.
    *
    * Scale shape: both sides explode to (doc, shingle) and join on the
    * FIXED-WIDTH md5 of the shingle — the raw n-gram strings never
    * shuffle. The train side reduces to DISTINCT shingle keys first
    * (semi-join build side); the test side de-duplicates per document so
    * a shingle repeated within one doc counts once. At 100 TB the train
    * key set is itself huge, so this stays a shuffle equi-join on the
    * key — the standard industrial decontamination join — rather than a
    * broadcast.
    *
    * Both frames must carry (`idCol`, `toksCol`: array<string>).
    * Returns one row per test doc: (idCol, n_ngrams, n_overlap,
    * contaminated). Docs shorter than `n` tokens have zero shingles and
    * are reported clean. */
  def ngramContamination(train: DataFrame, test: DataFrame,
                         idCol: String = "doc_id", toksCol: String = "toks",
                         n: Int = 8): DataFrame = {
    // rebalance + materialize the token array BEFORE the n-gram zip_with:
    // (a) the shingle stage is CPU-bound and must not inherit the scan's
    // single-split serialism (same reason as [[bandTable]]); (b) behind
    // the exchange the array is a materialized attribute, so the n
    // shifted slices read it n times instead of re-running the upstream
    // tokenizer expression n times per row.
    def shingleKeys(d: DataFrame): DataFrame =
      rebalance(d.select(col(idCol), col(toksCol)), idCol)
        .select(col(idCol),
          explode(Text.ngrams(col(toksCol), n)).as("__g"))
        .select(col(idCol), md5(col("__g").cast("binary")).as("__key"))
    // train side: only the global distinct key set matters — ONE wide
    // distinct, never a per-(doc, key) pre-distinct (that shuffle is as
    // large as this one and feeds straight into it)
    val trainKeys = shingleKeys(train).select(col("__key")).distinct()
    // test side: per-doc distinct so an in-doc repeated shingle counts
    // once; referenced twice below (overlap + denominator counts) —
    // lazy-checkpoint so the shingle explode + distinct run once
    val testKeys = shingleKeys(test).distinct().localCheckpoint(false)
    val overlap = testKeys.join(trainKeys, "__key")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_overlap"))
    val counts = testKeys.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_ngrams"))
      .join(overlap, Seq(idCol), "left")
    test.select(col(idCol)) // re-attach docs with zero shingles
      .join(counts, Seq(idCol), "left")
      .na.fill(0L, Seq("n_ngrams", "n_overlap"))
      .withColumn("contaminated", col("n_overlap") > 0)
  }

  /** EXACT SUBSTRING-SPAN DEDUP (the Lee et al. 2022 "Deduplicating
    * Training Data" family member: variable-length duplicated *spans*,
    * not whole-doc or fixed-segment dups). True suffix arrays are
    * intractable distributed; the standard scalable re-expression is
    * sorted k-gram runs — a duplicated span of S ≥ k tokens between two
    * documents is exactly a maximal run of S−k+1 consecutive positions
    * whose k-grams match on a common diagonal, so span detection becomes:
    *
    *  1. gram table (id, pos, md5-key) — the [[ngramContamination]]
    *     discipline: rebalance before the CPU-bound shingle stage, raw
    *     n-gram text reduced to a fixed-width key before any shuffle;
    *  2. occurrence cap: grams appearing > `dfCap` times corpus-wide are
    *     dropped by a partial-aggregated count + broadcast anti-join on
    *     the over-cap keys (the gram table itself never shuffles by
    *     key) — the boilerplate guard that bounds the
    *     self-join at ≤ dfCap² pairs per key (the [[candidatePairs]]
    *     `maxBucketSize` rule; runs through a dropped hyper-frequent
    *     gram split in two, the documented trade-off);
    *  3. pair join on the key (a_id < b_id — cross-document only;
    *     within-doc repetition is [[Text]]'s `text_repetition` axis).
    *     Both join inputs are the same capped-gram subtree partitioned
    *     identically on the key, so the exchange is planned once and
    *     reused;
    *  4. gaps-and-islands per (a_id, b_id, diagonal = a_pos − b_pos):
    *     island id = a_pos − row_number() — consecutive matched
    *     positions share it; each island IS a maximal duplicated span
    *     (extending either end by one token would extend the run).
    *
    * Shuffle ledger: key-hash exchange (window cap + reused by the
    * join), then one exchange on (a_id, b_id, diag) for the island
    * window — fixed-width keys throughout; document text never
    * shuffles. Returns one row per maximal cross-doc duplicated span of
    * ≥ `minSpan` tokens: (a_id, b_id, a_start, b_start, span_tokens),
    * positions 0-based token offsets.
    *
    * `docs` must carry (`idCol`, `toksCol`: array<string>). */
  def substringSpans(docs: DataFrame, idCol: String = "doc_id",
                     toksCol: String = "toks", k: Int = 8,
                     minSpan: Int = 16, dfCap: Long = 16L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = substringGramPairs(docs, idCol, toksCol, k, dfCap)
    val w = Window.partitionBy("a_id", "b_id", "__diag").orderBy("a_pos")
    pairs
      .withColumn("__isl", col("a_pos") - row_number().over(w))
      .groupBy(col("a_id"), col("b_id"), col("__diag"), col("__isl"))
      .agg(
        min(col("a_pos")).as("a_start"),
        min(col("b_pos")).as("b_start"),
        (count(lit(1)) + (k - 1)).as("span_tokens"))
      .filter(col("span_tokens") >= minSpan)
      .select(col("a_id"), col("b_id"), col("a_start"), col("b_start"),
        col("span_tokens"))
  }

  /** Stages 1–3 of [[substringSpans]] (gram table → occurrence cap →
    * key equi-join): one row per cross-doc shared-gram pair, the unit
    * of work the islands window processes. Returns (__key, a_id,
    * a_pos, b_id, b_pos, __diag). */
  private def substringGramPairs(docs: DataFrame, idCol: String,
                                 toksCol: String, k: Int,
                                 dfCap: Long): DataFrame = {
    val capped = cappedGramTable(docs, idCol, toksCol, k, dfCap)
    val a = capped.select(col("__key"), col(idCol).as("a_id"), col("__pos").as("a_pos"))
    val b = capped.select(col("__key"), col(idCol).as("b_id"), col("__pos").as("b_pos"))
    a.join(b, "__key")
      .filter(col("a_id") < col("b_id"))
      .withColumn("__diag", col("a_pos") - col("b_pos"))
  }

  /** TEST-FACING plan capture (PlanSpec — the [[graft.ext.Similarity]]
    * `captureWalkPlans` pattern): the checkpoint below makes the raw
    * gram table an opaque RDD leaf in every downstream plan, so the
    * gates that audit its scan pruning and exchange keys read the plans
    * recorded here at construction (the pre-checkpoint gram pipeline
    * plus the occurrence-cap anti-join above the leaf). Off by default;
    * no production caller flips it. */
  @volatile private[graft] var captureGramPlan: Boolean = false
  @volatile private[graft] var lastGramPlan: String = ""

  /** (id, __pos, __key) gram table with the corpus-wide occurrence cap
    * applied — stages 1–2 of the substring-span machinery, shared by
    * the cross-doc and within-doc pair builders. */
  private def cappedGramTable(docs: DataFrame, idCol: String,
                              toksCol: String, k: Int, dfCap: Long): DataFrame = {
    val grams0 = rebalance(docs.select(col(idCol), col(toksCol)), idCol)
      .select(col(idCol),
        posexplode(Text.ngrams(col(toksCol), k)).as(Seq("__pos", "__g")))
      .select(col(idCol), col("__pos").cast("long").as("__pos"),
        md5(col("__g").cast("binary")).as("__key"))
    val gramPlan =
      if (captureGramPlan) grams0.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      else ""
    // the tokenize→md5 stage is the expensive pass and feeds BOTH the
    // occurrence counts and the capped table — one lazy checkpoint runs
    // it exactly once (ngramContamination's discipline, one stage down;
    // fixed-width (id, pos, md5) rows)
    val grams = grams0.localCheckpoint(false)
    // occurrence cap via groupBy + BROADCAST anti-join, not a count()
    // window (the knnGraph bucket-cap rule): the window
    // shuffled and sorted EVERY gram row by __key — and the hot grams
    // the cap exists to remove are exactly the keys that collapse into
    // single straggler partitions at corpus scale. The counts shuffle is
    // partial-aggregated (≤ distinct keys per partition, skew-free), and
    // only the OVER-cap keys travel: ≤ n/dfCap 16-byte keys by
    // construction — the df-capped boilerplate head, tiny for any real
    // corpus. Identical rows survive the cap either way.
    val hot = grams.groupBy(col("__key")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > dfCap).select(col("__key"))
    val capped = grams.join(broadcast(hot), Seq("__key"), "left_anti")
    if (captureGramPlan)
      lastGramPlan = gramPlan + "\n" + capped.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    // consumers self-join this frame twice; above the checkpointed gram
    // leaf only the broadcast anti probe re-runs per reference — no
    // second materialization needed
    capped
  }

  /** WITHIN-DOC repeated spans — the self-similarity member of the
    * substring family (Lee et al. dedup self-repeats too; [[Text]]'s
    * `text_repetition` counts repeated tokens/bigrams, this finds the
    * maximal repeated SPANS and their period). Same machinery as
    * [[substringSpans]] with the pair predicate flipped to same-doc,
    * later-position: a maximal run of consecutive positions p whose
    * k-gram equals the k-gram at p+d is exactly a repeated span of
    * period d. Returns (idCol, a_start, b_start, period, span_tokens)
    * with a_start < b_start = a_start + period; overlapping
    * occurrences of periodic text (period < span length) are one span
    * per period by construction. */
  def substringSelfSpans(docs: DataFrame, idCol: String = "doc_id",
                         toksCol: String = "toks", k: Int = 8,
                         minSpan: Int = 16, dfCap: Long = 16L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val capped = cappedGramTable(docs, idCol, toksCol, k, dfCap)
    val a = capped.select(col("__key"), col(idCol), col("__pos").as("a_pos"))
    val b = capped.select(col("__key"), col(idCol).as("__bid"), col("__pos").as("b_pos"))
    val pairs = a.join(b, "__key")
      .filter(col(idCol) === col("__bid") && col("a_pos") < col("b_pos"))
      .withColumn("__diag", col("b_pos") - col("a_pos"))
    val w = Window.partitionBy(col(idCol), col("__diag")).orderBy("a_pos")
    pairs
      .withColumn("__isl", col("a_pos") - row_number().over(w))
      .groupBy(col(idCol), col("__diag"), col("__isl"))
      .agg(
        min(col("a_pos")).as("a_start"),
        min(col("b_pos")).as("b_start"),
        (count(lit(1)) + (k - 1)).as("span_tokens"))
      .filter(col("span_tokens") >= minSpan)
      .select(col(idCol), col("a_start"), col("b_start"),
        col("__diag").as("period"), col("span_tokens"))
  }

  /** Per-document duplicated-token coverage from [[substringSpans]]'s
    * output: the fraction of each doc's tokens lying inside at least one
    * cross-doc duplicated span — the number a span-dedup pass actually
    * removes (Lee et al. cut ~3% of C4 this way). Overlapping spans on a
    * doc must not double-count, so the span intervals are merged
    * per doc with a second gaps-and-islands pass (an interval starts a
    * new island iff it begins past the running max end). Both window
    * passes partition by doc id — one narrow exchange over interval
    * triples, never text. Returns every doc: (idCol, n_tokens,
    * dup_tokens, dup_ratio). */
  def substringCoverage(docs: DataFrame, idCol: String = "doc_id",
                        toksCol: String = "toks", k: Int = 8,
                        minSpan: Int = 16, dfCap: Long = 16L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // referenced twice below (a-side + b-side intervals) —
    // lazy-checkpoint so the whole span machinery runs once
    val spans = substringSpans(docs, idCol, toksCol, k, minSpan, dfCap)
      .localCheckpoint(false)
    // DISTINCT is load-bearing, not an optimization: a doc duplicated in
    // two partners yields the IDENTICAL interval twice, and with tied
    // (s, e) rows the two window passes below (running max, then the
    // cumulative island id) may order the ties differently — the same
    // interval can then seed two islands and double-count (observed in
    // DuckDB run-to-run). Deduping makes (s, e) a total order per doc,
    // so both passes see one deterministic sequence.
    val ivs = spans.select(col("a_id").as(idCol), col("a_start").as("__s"),
        (col("a_start") + col("span_tokens")).as("__e")) // [s, e)
      .unionAll(spans.select(col("b_id").as(idCol), col("b_start").as("__s"),
        (col("b_start") + col("span_tokens")).as("__e")))
      .distinct()
    val w = Window.partitionBy(idCol).orderBy(col("__s"), col("__e"))
    val merged = ivs
      .withColumn("__maxe", max(col("__e")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__new", when(
        col("__maxe").isNull || col("__s") > col("__maxe"), 1L).otherwise(0L))
      .withColumn("__isl", sum(col("__new")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("__isl"))
      .agg((max(col("__e")) - min(col("__s"))).as("__cov"))
      .groupBy(col(idCol))
      .agg(sum(col("__cov")).as("dup_tokens"))
    docs.select(col(idCol), size(col(toksCol)).cast("long").as("n_tokens"))
      .join(merged, Seq(idCol), "left")
      .na.fill(0L, Seq("dup_tokens"))
      .withColumn("dup_ratio",
        round(col("dup_tokens") / greatest(col("n_tokens"), lit(1L)), 6))
  }

  /** The REMOVAL pass over [[substringSpans]]'s output — what Lee et
    * al. 2022 actually do to the corpus (cut one copy of every
    * duplicated span, keep the other): the span stays in the
    * smaller-id document of each pair and is cut from the larger-id
    * one, so exactly one copy of every duplicated sequence survives
    * corpus-wide and the canonical-keeps-smallest rule matches
    * [[exactGroups]]/[[nearDupGroups]]. Cut intervals are the b-side
    * spans only, interval-merged per doc (the [[substringCoverage]]
    * discipline — overlaps never double-cut). Returns every doc:
    * (idCol, n_tokens, cut_tokens, kept_tokens). A full text rewrite
    * is this plus one `slice`-splice map over the kept intervals; the
    * counts are the verifiable core (and what a curation budget
    * consumes). */
  def substringTrim(docs: DataFrame, idCol: String = "doc_id",
                    toksCol: String = "toks", k: Int = 8,
                    minSpan: Int = 16, dfCap: Long = 16L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spans = substringSpans(docs, idCol, toksCol, k, minSpan, dfCap)
    val ivs = spans.select(col("b_id").as(idCol), col("b_start").as("__s"),
        (col("b_start") + col("span_tokens")).as("__e"))
      .distinct() // tied (s, e) rows would split islands — see substringCoverage
    val w = Window.partitionBy(idCol).orderBy(col("__s"), col("__e"))
    val cut = ivs
      .withColumn("__maxe", max(col("__e")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__new", when(
        col("__maxe").isNull || col("__s") > col("__maxe"), 1L).otherwise(0L))
      .withColumn("__isl", sum(col("__new")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("__isl"))
      .agg((max(col("__e")) - min(col("__s"))).as("__cut"))
      .groupBy(col(idCol))
      .agg(sum(col("__cut")).as("cut_tokens"))
    docs.select(col(idCol), size(col(toksCol)).cast("long").as("n_tokens"))
      .join(cut, Seq(idCol), "left")
      .na.fill(0L, Seq("cut_tokens"))
      .withColumn("kept_tokens", col("n_tokens") - col("cut_tokens"))
  }

  /** The full corpus REWRITE over [[substringTrim]]'s cut plan: splice
    * every document's kept token segments back together, dropping the
    * cut spans — the transform that actually produces the deduplicated
    * training corpus. The cut intervals (b-side spans, merged per doc)
    * are collected into one sorted per-doc array (bounded: ≤ tokens/2
    * disjoint intervals per doc, fixed-width triples), joined back to
    * the documents, and the splice is ONE codegen'd `aggregate` fold
    * over the interval array — acc carries (cursor, kept-so-far), each
    * interval appends the gap segment before it, the finisher appends
    * the tail. No shuffle beyond the span machinery: the splice itself
    * is a narrow map over (doc, intervals).
    *
    * Returns (idCol, n_tokens, kept_n, kept_md5) — the md5 of the
    * space-joined kept stream pins the REWRITTEN CONTENT byte-for-byte,
    * so the oracle hash proves the splice, not just its accounting. */
  def substringRewrite(docs: DataFrame, idCol: String = "doc_id",
                       toksCol: String = "toks", k: Int = 8,
                       minSpan: Int = 16, dfCap: Long = 16L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spans = substringSpans(docs, idCol, toksCol, k, minSpan, dfCap)
    val ivs = spans.select(col("b_id").as(idCol), col("b_start").as("__s"),
        (col("b_start") + col("span_tokens")).as("__e"))
      .distinct() // tied (s, e) rows would split islands — see substringCoverage
    val w = Window.partitionBy(idCol).orderBy(col("__s"), col("__e"))
    val cuts = ivs
      .withColumn("__maxe", max(col("__e")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__new", when(
        col("__maxe").isNull || col("__s") > col("__maxe"), 1L).otherwise(0L))
      .withColumn("__isl", sum(col("__new")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("__isl"))
      .agg(min(col("__s")).as("__cs"), max(col("__e")).as("__ce"))
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("__cs"), col("__ce")))).as("__cuts"))
    val spliced = docs.select(col(idCol), col(toksCol))
      .join(cuts, Seq(idCol), "left")
      .withColumn("__cuts", coalesce(col("__cuts"),
        array().cast("array<struct<__cs:bigint,__ce:bigint>>")))
      .withColumn("__kept", {
        val toks = col(toksCol)
        val fold = aggregate(
          col("__cuts"),
          struct(lit(0L).as("pos"), array().cast("array<string>").as("acc")),
          (st, c) => struct(
            c.getField("__ce").as("pos"),
            concat(st.getField("acc"),
              slice(toks, (st.getField("pos") + 1).cast("int"),
                (c.getField("__cs") - st.getField("pos")).cast("int"))).as("acc")),
          st => concat(st.getField("acc"),
            slice(toks, (st.getField("pos") + 1).cast("int"),
              (size(toks) - st.getField("pos")).cast("int"))))
        fold
      })
      .select(col(idCol), size(col(toksCol)).cast("long").as("n_tokens"),
        size(col("__kept")).cast("long").as("kept_n"),
        md5(concat_ws(" ", col("__kept")).cast("binary")).as("kept_md5"))
    spliced
  }

  /** SimHash LSH keys: 4 × 16-bit bands — two fingerprints within Hamming
    * distance 3 share at least one band (pigeonhole), so near-dup lookup
    * is again an equi-join on (band, key), never all-pairs. */
  def simhashBands(sim: Column, bands: Int = 4): Column = {
    val width = 64 / bands
    val mask = (1L << width) - 1
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(sim, b * width).bitwiseAND(lit(mask)).as("bucket"))
    }: _*)
  }

  // ------------------------------------------------------------------ //
  //  Persisted near-dup band-bucket tier (the dedup family's LSM        //
  //  lifecycle)                                                         //
  // ------------------------------------------------------------------ //
  //
  // The batch near-dup queries re-band the WHOLE corpus per run; at
  // 100 TB the corpus is banded ONCE and every new crawl snapshot is
  // deduped against the PERSISTED band table — candidate lookup is an
  // equi-join of the arrivals' bands (tiny) against an indexed,
  // key-partitionable table, exactly the IVF/graph tier shape: build →
  // marker-gated serve → numbered delta generations per arrival batch →
  // auto-compaction folding deltas into the base. A band row is
  // (doc_id, key) — fixed-width, no text, no signatures — so the tier
  // is ~16 short rows per document regardless of document size.
  //
  // The tier is GENERIC over the banding function (callers pass the
  // (id, key) frame), so the production xxhash64 pipeline and the
  // engine-neutral md5 pipeline (which the DuckDB oracle replays)
  // share the lifecycle code.

  /** The band tier at `path`. Its marker carries the banding
    * fingerprint: an existence-only marker would let a tier banded with
    * different parameters (or a different hash family) serve forever,
    * because the root is keyed by corpus identity, not by how the keys
    * were cut. Arrival batches land as `ndi_delta/gen=N` generations,
    * and the compaction ratio counts band rows. */
  def nearDupTier(spark: org.apache.spark.sql.SparkSession, path: String): Tier =
    new Tier(spark, path, "_GRAFT_NDI_COMPLETE", Some(Tier.Gens(
      "ndi_delta", "_GRAFT_NDI_DELTA_COMPLETE", "bands", "bands")))

  /** Persist the base band table: `keyRows` must be (`idCol`, key)
    * rows from the caller's banding pipeline. A fresh build drops any
    * live delta generations (they banded against a base this write
    * replaces), and the fingerprint marker is written strictly last. */
  def buildNearDupIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                        keyRows: DataFrame, fingerprint: String,
                        idCol: String = "doc_id"): Unit = {
    val t = nearDupTier(spark, path)
    t.rewrite(fingerprint) {
      t.dropGens()
      // BASE segment gets the heavy layout (the Lex `base = true`
      // convention): range-sorted by band key, so every
      // parquet row group's key min/max is tight and a probe's bounded
      // `In(key, …)` pushdown skips the (corpus − probed-buckets) rest.
      // Without it the probe join scans the WHOLE band table — measured
      // as the 1000× ladder knee (8.97 s at 5M docs vs 1.3 s at 500k;
      // SCALEBENCH_r18). Delta generations stay plain writes: they are
      // arrival-batch-sized, and compaction folds them into the laid-out
      // base. Same rows either way — serves are hash-identical.
      graft.core.Layout.writeRangeSorted(
        keyRows.select(col(idCol), col("key")), s"$path/bands", "key",
        math.min(32, math.max(1, spark.sparkContext.defaultParallelism)))
    }
  }

  /** Append one arrival batch's band rows as a NEW numbered generation
    * — banding is per-document, so the merged tier is IDENTICAL however
    * arrivals are micro-batched (the property the streaming replay's
    * shared oracle hash-proves). Empty-batch skipping is the CALLER's
    * job, on the raw batch BEFORE banding: an `isEmpty` probe on
    * `keyRows` here would execute the whole banding pipeline once for
    * the probe and again for the write (the streaming replays guard
    * with `batch.isEmpty`, which is a take(1) on the already-
    * materialized micro-batch). An empty `keyRows` writes an empty —
    * harmless but useless — generation. */
  def upsertNearDupIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                         keyRows: DataFrame, fingerprint: String,
                         idCol: String = "doc_id"): Unit = {
    val t = nearDupTier(spark, path)
    t.require("upsertNearDupIndex", fingerprint)
    t.append(gen => keyRows.select(col(idCol), col("key"))
      .write.mode("overwrite").parquet(s"$gen/bands"))
  }

  /** The full indexed band table: base plus every completed generation.
    * Unlike the vector tiers there is no per-id supersede rule — a
    * document's band set is immutable once banded (re-upserting the
    * same id is the caller's bug, not a tier state). */
  def nearDupTierBands(spark: org.apache.spark.sql.SparkSession, path: String,
                       idCol: String = "doc_id"): DataFrame = {
    val t = nearDupTier(spark, path)
    t.folded(t.gens, "bands")
  }

  /** Probe the tier: which indexed documents share ≥ 1 band key with
    * each probe? Emits the KEEP-FIRST dedup decision for every probe
    * WITH at least one match — `dup_of` = smallest matching indexed id,
    * `n_cand` = how many smaller indexed docs matched; probes with NO
    * match are ABSENT from the result (the inner band join never sees
    * them), so callers wanting one row per probe left-join their probe
    * list and coalesce (`ndiDecision` in DedupQueries is the pattern).
    * Only ids SMALLER than the probe count as matches: that is the
    * min-arrival/min-id survivor rule every dedup query in this engine
    * uses, and it makes the answer independent of whether the probe
    * itself (or its batch peers) has been upserted yet. The probe side
    * is an arrival batch — broadcast-small against the indexed table,
    * which at deployment scale is bucketed by `key` so the lookup is a
    * co-located join. countDistinct collapses multi-band matches
    * without a pre-join distinct. */
  def queryNearDupIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                        probeKeys: DataFrame,
                        idCol: String = "doc_id"): DataFrame = {
    // bounded probe-key collect for the scan pushdown (the Lex
    // `tokenScanFilter` discipline): an arrival batch bands
    // to |batch|·nBands distinct keys — limit-capped at
    // [[KeyInFilterCap]] + 1, so the driver never materializes more
    // than the cap regardless of batch size; past the cap the filter
    // is skipped and the broadcast join alone restricts the same rows
    // (hash-identical either way). With the range-sorted base layout
    // the `In(key, …)` filter is what lets the reader skip every row
    // group outside the probed buckets — the difference between a
    // probe-bounded serve and a corpus-sized scan at 5M+ docs.
    val probeKeySet = probeKeys.select(col("key")).distinct()
      .limit(KeyInFilterCap + 1).collect().map(_.getString(0)).toSeq
    val tier0 = nearDupTierBands(spark, path, idCol)
    val tier = (if (probeKeySet.length <= KeyInFilterCap)
        tier0.filter(col("key").isin(probeKeySet: _*))
      else tier0)
      .select(col(idCol).as("__cand"), col("key"))
    broadcast(probeKeys.select(col(idCol), col("key")))
      .join(tier, "key")
      .filter(col("__cand") < col(idCol))
      .groupBy(col(idCol))
      .agg(min(col("__cand")).as("dup_of"),
        countDistinct(col("__cand")).as("n_cand"))
  }

  /** Past this many distinct probe band keys the `In(key, …)` scan
    * pushdown is skipped — the [[graft.ext.Lex.InFilterCap]] rationale
    * verbatim: a huge In literal costs driver-side canonicalization
    * while the broadcast probe join already restricts the same rows,
    * and the row-group-skipping win evaporates once the probed buckets
    * approach the whole tier. */
  val KeyInFilterCap = 4096

  /** COMPACT: fold every completed generation into the base band table
    * and drop the generations. Band rows are immutable facts, so unlike
    * the vector tiers compaction is a rewrite, not a rebuild — and it
    * is IDEMPOTENT: a crash after the base rewrite but before the
    * generation drop leaves duplicate band rows, which
    * [[queryNearDupIndex]]'s countDistinct/min make invisible, and the
    * next compaction clears. The marker is removed during the rewrite
    * (no marker = no tier) and re-written with the same fingerprint
    * strictly last. */
  def compactNearDupIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                          fingerprint: String,
                          idCol: String = "doc_id"): Unit = {
    val t = nearDupTier(spark, path)
    t.require("compactNearDupIndex", fingerprint)
    if (t.gens.isEmpty) return
    // materialize the union BEFORE the overwrite — Spark refuses to
    // overwrite a path an active plan still reads (the
    // compactGraphIndex discipline)
    val all = nearDupTierBands(spark, path, idCol).localCheckpoint(true)
    t.rewrite(fingerprint) {
      // the compacted base IS the new base segment, so it gets the same
      // range-sorted-by-key layout [[buildNearDupIndex]] writes (a plain
      // write here would degrade every later probe back to the
      // corpus-sized scan the layout exists to avoid). One range shuffle
      // per compaction, same rows.
      graft.core.Layout.writeRangeSorted(all, s"$path/bands", "key",
        math.min(32, math.max(1, spark.sparkContext.defaultParallelism)))
      t.dropGens()
      org.apache.spark.sql.GraftColumnBridge.unpersistLocalCheckpoint(all)
    }
  }

  /** Auto-compaction ([[Tier.compactionDue]] over band rows): fire when
    * completed generations reach `maxGens` or the delta/base ratio
    * reaches `maxRatio`. Returns whether it fired — the streaming
    * replay pins exactly-once firing. */
  def maybeCompactNearDupIndex(spark: org.apache.spark.sql.SparkSession,
                               path: String, fingerprint: String,
                               maxGens: Int = 4, maxRatio: Double = 0.25,
                               idCol: String = "doc_id"): Boolean = {
    val fire = nearDupTier(spark, path).compactionDue(maxGens, maxRatio)
    if (fire) compactNearDupIndex(spark, path, fingerprint, idCol)
    fire
  }
}
