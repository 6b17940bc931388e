package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.BoundedTopK

/** Similarity search over `embeddings.embedding: array<float>` (north
  * star; SURVEY.md §7.4).
  *
  * Scale design:
  *  - probes are BROADCAST (a probe set is small by definition); the
  *    corpus is never shuffled for brute-force scoring — the cross join is
  *    map-side, scoring stays in whole-stage codegen.
  *  - top-k per probe goes through [[BoundedTopK]] (k-entry heap through
  *    partial/final agg) rather than a per-probe window sort.
  *  - the ANN path prunes candidates with SRP-LSH (sign-random-projection)
  *    bucket equi-joins — bucket keys are computed per row with literal
  *    hyperplanes, no shuffle beyond the join itself.
  *
  * All arithmetic is double-precision from the first multiply (floats are
  * widened first), matching the DuckDB oracle's `::DOUBLE[]` casts.
  */
object Similarity {

  /** Elementwise-double dot product of two numeric arrays — the native
    * codegen'd [[graft.functions.DotProduct]] expression (a tight
    * primitive loop; the HOF `aggregate(zip_with(...))` form it replaced
    * materialized an intermediate array and boxed every element). Same
    * float semantics: widen-to-double before multiply, left-to-right sum
    * from 0.0 — every oracle-checked cosine keeps identical bits. */
  def dot(a: Column, b: Column): Column = graft.functions.DotProduct.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Integer dot of two int8-quantized arrays — the native codegen'd
    * [[graft.functions.DotProductInt]] expression (one primitive loop,
    * exact long sum) replacing the HOF `aggregate(zip_with(...))` form
    * that materialized a product array per scored pair in the quantized
    * scan's hot loop. Bit-equality with the HOF is pinned by
    * DotProductIntSpec against [[dotInt8Composed]]; integer sums are
    * order-independent, so the swap is hash-safe by arithmetic alone. */
  def dotInt8(a: Column, b: Column): Column =
    graft.functions.DotProductInt.dotInt(a, b)

  /** The pre-fusion HOF composition, kept ONLY as DotProductIntSpec's
    * reference implementation (the [[cosineComposed]] discipline). */
  private[graft] def dotInt8Composed(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y),
      lit(0L), (acc, x) => acc + x.cast("long"))

  /** Cosine similarity, null-safe for zero vectors — the native FUSED
    * expression ([[graft.functions.CosineSim]]): one walk of
    * both arrays carrying the three running sums instead of the three
    * [[DotProduct]] loops (six array traversals) the
    * `dot/norm·norm/CASE` composition paid per scored pair.
    * Bit-identical to that composition by construction — each sum
    * keeps its own left-to-right accumulation order, sqrt and the
    * division are single IEEE ops, zero-norm and NULL cases mirror
    * the CASE WHEN (CosineSimSpec pins it on a randomized grid; the
    * full oracle gate re-proves it corpus-wide). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSim.cosine(a, b)

  /** The pre-fusion composition, kept ONLY as CosineSimSpec's
    * reference implementation — the live twin the fused expression is
    * pinned against (deleting it would leave the spec comparing the
    * expression to itself). */
  private[graft] def cosineComposed(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val n = norm(a) * norm(b)
    when(n === 0.0, lit(0.0)).otherwise(d / n)
  }

  /** Brute-force exact k-NN: every (probe, corpus) pair scored, window
    * rank per probe. Correct baseline; the window sorts each probe's
    * full candidate list — use [[knnTopKAgg]] for the scale path. */
  def knnExact(corpus: DataFrame, probes: DataFrame, k: Int,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val scored = scoreAll(corpus, probes, idCol, vecCol)
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy("probe_id").orderBy(col("cos_sim").desc, col("neighbor_id"))))
      .filter(col("rk") <= k)
      .drop("rk")
  }

  /** Same pairs, same scores — but the per-probe top-k comes from the
    * bounded-heap aggregate: shuffle carries ≤ k rows per probe. */
  def knnTopKAgg(corpus: DataFrame, probes: DataFrame, k: Int,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    scoreAll(corpus, probes, idCol, vecCol)
      .groupBy("probe_id")
      .agg(BoundedTopK.topk(col("cos_sim"), col("neighbor_id"), k).as("nn"))
      .select(col("probe_id"), explode(col("nn")).as("n"))
      .select(col("probe_id"), col("n.id").as("neighbor_id"), col("n.score").as("cos_sim"))

  /** All (probe, corpus) cosine scores, probes broadcast, self-pairs out. */
  def scoreAll(corpus: DataFrame, probes: DataFrame,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("probe_vec"))
    corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("vec"))
      .crossJoin(broadcast(p))
      .filter(col("neighbor_id") =!= col("probe_id"))
      .select(col("probe_id"), col("neighbor_id"),
        cosine(col("vec"), col("probe_vec")).as("cos_sim"))
  }

  /** Deterministic SRP hyperplanes: `nPlanes` × `dim` from a fixed-seed
    * RNG. Literal columns — identical on every executor, no broadcast
    * needed. */
  def srpPlanes(nPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Seq.fill(dim)(rng.nextGaussian()))
  }

  /** SRP-LSH bucket: bit r = sign(vec · plane_r), packed into an int.
    * Vectors with high cosine land in the same bucket with probability
    * (1 - θ/π)^nPlanes. */
  def srpBucket(vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (plane, r) =>
      when(dot(vec, array(plane.map(lit): _*)) >= 0.0, lit(1 << r)).otherwise(lit(0))
    }.reduce(_ + _)

  /** ANN k-NN: candidates = corpus rows sharing the probe's SRP bucket;
    * exact cosine + heap top-k only within the bucket. Trades recall for
    * a candidate set ~ |corpus| / 2^nPlanes per probe. */
  def knnLsh(corpus: DataFrame, probes: DataFrame, k: Int, nPlanes: Int = 4,
             idCol: String = "vec_id", vecCol: String = "embedding",
             dim: Int = 64, seed: Long = 42L): DataFrame = {
    val planes = srpPlanes(nPlanes, dim, seed)
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("vec"),
      srpBucket(col(vecCol), planes).as("bucket"))
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("probe_vec"),
      srpBucket(col(vecCol), planes).as("bucket"))
    c.join(broadcast(p), "bucket")
      .filter(col("neighbor_id") =!= col("probe_id"))
      .select(col("probe_id"), col("neighbor_id"),
        cosine(col("vec"), col("probe_vec")).as("cos_sim"))
      .groupBy("probe_id")
      .agg(BoundedTopK.topk(col("cos_sim"), col("neighbor_id"), k).as("nn"))
      .select(col("probe_id"), explode(col("nn")).as("n"))
      .select(col("probe_id"), col("n.id").as("neighbor_id"), col("n.score").as("cos_sim"))
  }

  /** MULTI-PROBE SRP-LSH: each probe also queries every
    * bucket at Hamming distance 1 from its own — the standard
    * recall/cost lever for sign-random-projection search (Lv et al.,
    * VLDB'07 shape): a true neighbor lost to a near-miss on ONE
    * hyperplane sign sits in exactly such an adjacent bucket, and
    * probing it recovers that recall without maintaining extra hash
    * tables or re-hashing the corpus.
    *
    * Scale shape: the CORPUS side is untouched (one bucket per row, the
    * same single shuffle-free projection as [[knnLsh]]); only the
    * broadcast probe side explodes, to probes × (nPlanes+1) rows, so
    * the candidate set grows to ~(nPlanes+1)/2^nPlanes of the corpus
    * per probe while the join stays a broadcast equi-join. A corpus row
    * matches at most ONE of a probe's expanded buckets (they are
    * distinct by construction), so no candidate dedup is needed and
    * ≤ k rows per probe still cross the aggregation shuffle. */
  def knnLshMultiProbe(corpus: DataFrame, probes: DataFrame, k: Int,
      nPlanes: Int = 4, idCol: String = "vec_id",
      vecCol: String = "embedding", dim: Int = 64,
      seed: Long = 42L): DataFrame = {
    val planes = srpPlanes(nPlanes, dim, seed)
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("vec"),
      srpBucket(col(vecCol), planes).as("bucket"))
    val flips = lit(0) +: (0 until nPlanes).map(r => lit(1 << r))
    val p = probes.select(col(idCol).as("probe_id"),
        col(vecCol).as("probe_vec"), srpBucket(col(vecCol), planes).as("b0"))
      .select(col("probe_id"), col("probe_vec"), col("b0"),
        explode(array(flips: _*)).as("flip"))
      .select(col("probe_id"), col("probe_vec"),
        col("b0").bitwiseXOR(col("flip")).as("bucket"))
    c.join(broadcast(p), "bucket")
      .filter(col("neighbor_id") =!= col("probe_id"))
      .select(col("probe_id"), col("neighbor_id"),
        cosine(col("vec"), col("probe_vec")).as("cos_sim"))
      .groupBy("probe_id")
      .agg(BoundedTopK.topk(col("cos_sim"), col("neighbor_id"), k).as("nn"))
      .select(col("probe_id"), explode(col("nn")).as("n"))
      .select(col("probe_id"), col("n.id").as("neighbor_id"),
        col("n.score").as("cos_sim"))
  }

  /** IVF-style ANN search: coarse-quantize the corpus into inverted
    * lists, probe only the `nprobe` nearest lists per query, exact-rank
    * within them.
    *
    * The coarse quantizer here is the per-`label` exact-mean centroid —
    * deterministic (DECIMAL-summed means, so aggregation order cannot
    * perturb a single bit) and therefore fully oracle-checkable, standing
    * in for k-means training (whose iterations are engine-specific and
    * cannot be hash-compared). The index/search SHAPE is the real IVF
    * pipeline: a tiny centroid table broadcast to score probe→centroid,
    * top-`nprobe` lists selected per probe, and the expensive exact
    * cosine confined to those lists — at 100 TB the corpus scan prunes to
    * |corpus|·nprobe/nlists instead of all-pairs, and the centroid table
    * stays broadcast-size by construction.
    */
  def knnIvf(corpus: DataFrame, probes: DataFrame, k: Int, nprobe: Int = 2,
             idCol: String = "vec_id", vecCol: String = "embedding",
             listCol: String = "label"): DataFrame =
    ivfSearch(coarseCentroids(corpus, listCol, vecCol),
      corpus.select(col(idCol), col(vecCol), col(listCol)),
      probes, k, nprobe, idCol, vecCol, listCol)

  /** Centroid per inverted list: exact-decimal per-dimension mean —
    * deterministic (aggregation order cannot perturb a bit), therefore
    * fully oracle-checkable. Shared by the in-query [[knnIvf]] build and
    * the persisted [[buildIvfIndex]]. */
  def coarseCentroids(corpus: DataFrame, listCol: String = "label",
                      vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    corpus
      .select(col(listCol), posexplode(col(vecCol)).as(Seq("__p", "__v")))
      .groupBy(col(listCol), col("__p"))
      .agg((sum(col("__v").cast(DecimalType(28, 9))).cast("double")
        / count(lit(1))).as("__c"))
      .groupBy(col(listCol))
      .agg(array_sort(collect_list(struct(col("__p"), col("__c")))).as("__pc"))
      .select(col(listCol), transform(col("__pc"), x => x.getField("__c")).as("__centroid"))
  }

  /** Completion marker of the IVF index, written strictly AFTER both
    * index artifacts: readiness checks gate on this (not on
    * `centroids/_SUCCESS`, which exists as soon as the FIRST write lands
    * — a crash between the two writes would otherwise leave a half-built
    * index that looks complete forever). */
  val IndexCompleteMarker = "_GRAFT_INDEX_COMPLETE"

  /** The IVF index at `indexPath` (empty fingerprint). Arrival batches
    * land as `lists_delta/gen=N` generations, each one hive-partitioned
    * list table; the compaction ratio counts list rows. */
  def ivfTier(spark: org.apache.spark.sql.SparkSession, indexPath: String): Tier =
    new Tier(spark, indexPath, IndexCompleteMarker, Some(Tier.Gens(
      "lists_delta", DeltaCompleteMarker, "lists", "")))

  /** Persist the IVF index (the index BUILD story):
    * the centroid table as plain parquet and the corpus
    * HIVE-PARTITIONED BY the inverted-list id. Build cost is paid once
    * per corpus lifetime; [[knnIvfIndexed]] probes then (a) skip the
    * centroid aggregation entirely and (b) read ONLY the selected list
    * directories — the partition layout turns "scan |corpus|·nprobe/
    * nlists rows" from a filter into directory pruning the scan never
    * opens. Returns the centroid table as re-read from the index (so
    * callers verify exactly what was persisted). */
  def buildIvfIndex(corpus: DataFrame, indexPath: String,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    listCol: String = "label"): DataFrame = {
    // the rewrite retracts the PREVIOUS build's marker before touching
    // either artifact: a rebuild that crashes between the two writes
    // must read as incomplete, not serve new centroids against old lists.
    // The two artifacts are independent writes to disjoint paths, so
    // they overlap; the marker still lands strictly after BOTH (Par.run
    // joins every task)
    ivfTier(corpus.sparkSession, indexPath).rewrite() {
      graft.core.Par.run(
        () => coarseCentroids(corpus, listCol, vecCol)
          .write.mode("overwrite").parquet(s"$indexPath/centroids"),
        () => corpus.select(col(idCol), col(vecCol), col(listCol))
          .write.mode("overwrite").partitionBy(listCol).parquet(s"$indexPath/lists"))
    }
    ivfTier(corpus.sparkSession, indexPath).read("centroids")
  }

  /** DISTRIBUTED kNN-GRAPH CONSTRUCTION (NN-Descent — Dong, Moses &
    * Li 2011, "Efficient K-Nearest Neighbor Graph Construction for
    * Generic Similarity Measures"): the all-corpus primitive the probe
    * searches above do NOT cover — SemDedup, embedding clustering, and
    * graph-ANN serving all start from "every vector's k nearest", and
    * the brute-force graph is n² at corpus scale. NN-Descent converges
    * by the neighbor-of-a-neighbor observation: candidates for my top-k
    * are overwhelmingly my current neighbors' neighbors, so each round
    * is a self-join of the bounded edge list, never a corpus cross
    * product — per round ≤ (2k)² candidates per node.
    *
    * Kept bit-deterministic for the oracle (the published algorithm
    * samples; this variant replaces every random choice):
    *  - init = SRP-bucket top-k (the [[knnLsh]] geometry, corpus side
    *    vs corpus side) ∪ each node's 2 id-successors (the ring
    *    guarantees isolated-bucket nodes still enter the graph);
    *  - each round symmetrizes the graph (u = g ∪ reverse(g)), adds
    *    all two-hop pairs over u, distincts, drops self-loops, scores
    *    with exact double cosine, and keeps top-k per node through
    *    [[BoundedTopK]] (ties → smaller id) — no sampling, fixed
    *    `rounds`, so both engines walk the identical trajectory.
    *
    * The paper's own INCREMENTAL-SEARCH optimization applies (its §2.3
    * "new/old" split, made exact): from the second round on, only
    * two-hop pairs with at least one CHANGED hop are generated — a
    * pair whose both hops survived from the previous round was already
    * a candidate then, and either made the graph (so it rides along in
    * u) or lost to k entries that are all still present, so it loses
    * again; omitting it is BIT-IDENTICAL by that argument, not a
    * heuristic (the oracle replays the unpruned rounds and the hashes
    * must agree). Cosine is symmetric, so the graph carries its edge
    * SCORES across rounds — surviving edges and their reverses never
    * touch the vector tables again; only fresh two-hop pairs pay the
    * two vector joins + cosine, and the final projection emits the
    * carried scores instead of re-scoring the whole edge list. A round
    * that produces ZERO changed edges is a fixed point (every later
    * candidate set is all-old), so remaining rounds are skipped — early
    * termination restricted to the provably-identical case.
    *
    * The paper's δ-TERMINATION (its Algorithm 2 stop rule) is
    * `deltaPct`: before running a round, if
    * the candidate graph's NEW-edge count is under δ·n·k the round is
    * skipped and the previous round's graph is final. The comparison
    * is EXACT INTEGER arithmetic (`newCount·100 < deltaPct·n·k`) and
    * the count itself is a deterministic set difference, so the oracle
    * replays the identical truncated trajectory — unlike the zero-new
    * fixed point this is an APPROXIMATION knob (a skipped round could
    * have refined edges), which is why it defaults OFF (0) and the
    * registry's standing graph queries keep the full trajectory.
    * Honest fixture note: at GraphRounds = 2 on the sf fixtures the
    * rule cannot fire at any published δ (the paper uses 0.001) —
    * measured at sf0.1, 13 806 of n·k = 28 000 candidate edges (49%)
    * are still NEW entering a would-be third round, i.e. the fixture graph
    * is far from converged when the fixed round budget ends. δ is the
    * DEPLOYMENT lever for rounds ≳ 4 at real corpus sizes, where
    * NN-Descent's update rate collapses geometrically; the
    * `ann_graph_delta_term` query pins the truncated-branch semantics
    * cross-engine with a deliberately-past-max δ.
    *
    * Scale shape per round: edge lists are (id, id, score) rows — n·k,
    * fixed width; the two-hop self-join shuffles on the join id with
    * the changed-hop filter fused into its output (pruned rows never
    * reach the next exchange); the scoring join shuffles only fresh
    * candidates to vectors twice (src, dst). Nothing grows with
    * document/vector width except that one scoring stage, and
    * candidate volume is bounded by the graph's own CHANGE rate, not
    * even its degree, as rounds converge. Returns (idCol, neighbor_id,
    * cos_sim) — the directed kNN graph after `rounds` refinement
    * rounds. */
  def knnGraph(corpus: DataFrame, k: Int = 10, rounds: Int = 2,
               nPlanes: Int = 4, maxBucketSize: Int = 1000, dim: Int = 64,
               idCol: String = "vec_id", vecCol: String = "embedding",
               deltaPct: Int = 0): DataFrame =
    knnGraphWithStats(corpus, k, rounds, nPlanes, maxBucketSize, dim,
      idCol, vecCol, deltaPct)._1

  /** [[knnGraph]] plus its δ-rule observables: (graph, new-edge count
    * at the LAST evaluated round, whether δ fired). The count is what
    * the integer δ comparison ran on — surfacing it lets the
    * `ann_graph_delta_term` oracle hash-gate the counting itself, not
    * only the branch taken. (-1, false) when rounds = 1: no second
    * round is ever evaluated, so there is no count to report. */
  def knnGraphWithStats(corpus: DataFrame, k: Int = 10, rounds: Int = 2,
               nPlanes: Int = 4, maxBucketSize: Int = 1000, dim: Int = 64,
               idCol: String = "vec_id", vecCol: String = "embedding",
               deltaPct: Int = 0): (DataFrame, Long, Boolean) = {
    // the incremental form fuses the first round with init scoring, so a
    // 0-round build (score the raw init graph) no longer exists — be
    // loud rather than silently running one refinement round
    require(rounds >= 1, s"knnGraph: rounds must be >= 1, got $rounds")
    val planes = srpPlanes(nPlanes, dim)
    val v = corpus.select(col(idCol).as("__id"),
      transform(col(vecCol), x => x.cast("double")).as("__v"))
    // bucket-size cap BEFORE the init self-join — the candidatePairs
    // rule: nPlanes buckets are few (2^nPlanes), so an uncapped bucket
    // self-join is n²/2^nPlanes at corpus scale. Nodes in over-cap
    // buckets lose only their INIT geometry edges — the ring still
    // seeds them and the NN-Descent rounds recover their neighborhoods
    // through two-hop propagation (that recovery is the algorithm's
    // whole premise).
    // bucket sizes via groupBy + BROADCAST join, not a count() window:
    // the window shuffles every corpus row into per-bucket
    // partitions — with 2^nPlanes buckets that is ≤ 16 tasks holding
    // the WHOLE corpus at deployment scale, a parallelism collapse the
    // cap itself exists to avoid. The per-bucket counts are ≤ 2^nPlanes
    // rows (an ordinary partial-aggregated groupBy), broadcast back to
    // the map side; identical rows survive the cap either way.
    val vb = v.withColumn("__b", srpBucket(col("__v"), planes))
    val bktSizes = vb.groupBy("__b").agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxBucketSize).select("__b")
    val bkt = vb.join(broadcast(bktSizes), "__b")
    val bucketInit = bkt.select(col("__id").as("src"), col("__v").as("__sv"), col("__b"))
      .join(bkt.select(col("__id").as("dst"), col("__v").as("__dv"), col("__b")), "__b")
      .filter(col("src") =!= col("dst"))
      .groupBy("src")
      .agg(BoundedTopK.topk(cosine(col("__sv"), col("__dv")), col("dst"), k).as("__nn"))
      .select(col("src"), explode(col("__nn").getField("id")).as("dst"))
    // arithmetic successors semi-joined against the live id set, NOT a
    // lead() over a global ORDER BY — an unpartitioned window is a
    // single-task bottleneck at corpus scale, and the ring only needs
    // SOME deterministic extra edges (sparse id spaces just yield fewer)
    val ids = v.select(col("__id"))
    val ring = ids
      .select(col("__id").as("src"),
        explode(array(col("__id") + 1, col("__id") + 2)).as("dst"))
      .join(ids.select(col("__id").as("dst")), Seq("dst"), "left_semi")
      .select("src", "dst")
    // score fresh (src, dst) pairs with exact double cosine and keep
    // top-k per src ALONGSIDE already-scored rows — the one scoring
    // stage every round funnels through
    def topkScored(freshPairs: DataFrame, scored: Option[DataFrame]): DataFrame = {
      // dst-vector join FIRST, src-vector join LAST: the
      // second join leaves the frame hash-partitioned on src, which is
      // exactly what the groupBy below requires — EnsureRequirements
      // then skips the aggregation exchange (src-first ordering paid a
      // third full shuffle of the scored pairs). Same rows either way.
      val freshScored = freshPairs
        .join(v.select(col("__id").as("dst"), col("__v").as("__dv")), "dst")
        .join(v.select(col("__id").as("src"), col("__v").as("__sv")), "src")
        .select(col("src"), col("dst"), cosine(col("__sv"), col("__dv")).as("__s"))
      scored.map(_.unionByName(freshScored)).getOrElse(freshScored)
        .groupBy("src")
        .agg(BoundedTopK.topk(col("__s"), col("dst"), k).as("__nn"))
        .select(col("src"), explode(col("__nn")).as("__e"))
        .select(col("src"), col("__e.id").as("dst"), col("__e.score").as("__s"))
    }
    // the first round: everything is "new" vs the unscored init graph,
    // so every candidate pays the scoring join once.
    // NO distinct on g0: bucketInit and ring are each
    // duplicate-free by construction (exploded top-k per src; two
    // arithmetic successors), so the only duplicates are bucket∩ring
    // overlaps — which u1's own distinct removes identically one
    // exchange later. Bit-identical, one fewer shuffle per build.
    val g0 = bucketInit.unionByName(ring)
    val u1 = g0.unionByName(g0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      // lineage truncation per round: u is referenced twice below and g
      // references the prior round — the CC discipline (analysis cost
      // grows multiplicatively otherwise); edge lists are n·2k rows.
      // LAZY: materialization folds into the first consuming
      // job instead of paying a dedicated synchronization job per round
      .localCheckpoint(false)
    val twoHop1 = u1.select(col("src"), col("dst").as("__mid"))
      .join(u1.select(col("src").as("__mid"), col("dst")), "__mid")
      .select(col("src"), col("dst"))
    // the distinct() here is a MEASURED keep, not just heap hygiene:
    // two-hop paths converge (a (src,dst) pair repeats once per
    // common neighbor, multiplicity up to 2k), and distinct's
    // map-side partial dedup shrinks the multiset BEFORE the vector
    // joins + cosine pay per row. An id-deduplicating heap variant
    // that skipped this exchange benched 26% SLOWER on the graph
    // family (79.8 s → 100.5 s, sf0.1) because every duplicate then
    // reached the scoring join.
    var g = topkScored(
      u1.unionByName(twoHop1).filter(col("src") =!= col("dst")).distinct(),
      scored = None)
    var prevU = u1 // (src, dst) of the last symmetrized candidate graph
    var converged = false
    var lastNewCount = -1L
    var deltaFired = false
    // the δ bar's n — counted ONCE and only when the knob is on (an
    // extra corpus-count job is not free at 100 TB and the default
    // path must not pay it)
    lazy val nVec: Long = v.count()
    for (_ <- 2 to rounds if !converged) {
      // symmetrize-dedup via groupBy(src, dst), NOT distinct() (round
      // 18): duplicate rows differ only in __s, and both copies carry
      // the SAME bits — cosine's product/sum chain is elementwise
      // commutative, so cos(a,b) ≡ cos(b,a) — making max() an exact
      // dedup. distinct() hashed on (src, dst, __s), so the very next
      // join on (src, dst) re-shuffled everything; the groupBy leaves
      // the frame partitioned on exactly the join keys and the flag
      // join (and the prevU side, whose checkpoint preserved the same
      // partitioning) runs exchange-free.
      val u = g.unionByName(g.select(col("dst").as("src"), col("src").as("dst"),
          col("__s")))
        .groupBy("src", "dst").agg(max(col("__s")).as("__s"))
        // flag CHANGED edges vs the previous round's symmetrized graph;
        // checkpoint carries edges + scores + flags, n·2k fixed-width
        .join(prevU.select(col("src"), col("dst"), lit(true).as("__old")),
          Seq("src", "dst"), "left")
        .withColumn("__new", col("__old").isNull).drop("__old")
        // LAZY, like u1: the materialization folds into the δ probe / count that
        // immediately consumes u, instead of paying a dedicated
        // synchronization job per round
        .localCheckpoint(false)
      val newEdges = u.filter(col("__new"))
      // δ = 0: the zero-new fixed point only (isEmpty is a limit-1
      // probe, cheaper than a count). δ > 0: exact integer comparison
      // newCount·100 < deltaPct·n·k — both engines branch identically.
      if (deltaPct <= 0) {
        if (newEdges.isEmpty) converged = true
      } else {
        lastNewCount = newEdges.count()
        if (lastNewCount * 100L < deltaPct.toLong * nVec * k) {
          converged = true
          deltaFired = true
        }
      }
      if (!converged) {
        // two-hop pairs through AT LEAST ONE changed hop — the filter
        // fuses into the join output, so all-old pairs never reach the
        // distinct exchange or the scoring join
        val twoHop = u.select(col("src"), col("dst").as("__mid"),
            col("__new").as("__n1"))
          .join(u.select(col("src").as("__mid"), col("dst"),
            col("__new").as("__n2")), "__mid")
          .filter(col("__n1") || col("__n2"))
          .select(col("src"), col("dst"))
        val fresh = twoHop
          .filter(col("src") =!= col("dst"))
          .distinct()
          // pairs already in u ride along with their carried scores
          .join(u.select("src", "dst"), Seq("src", "dst"), "left_anti")
        g = topkScored(fresh, scored = Some(u.select("src", "dst", "__s")))
        prevU = u.select("src", "dst")
      }
    }
    (g.select(col("src").as(idCol), col("dst").as("neighbor_id"),
      col("__s").as("cos_sim")), lastNewCount, deltaFired)
  }

  /** GRAPH-BASED SemDedup — [[semDedup]]'s scale-path twin built on
    * [[knnGraph]]: a vector is dropped iff a kNN-graph NEIGHBOR with a
    * smaller id sits at rounded cosine ≥ `threshold`. The cell-based
    * form pays within-cluster ALL-PAIRS (quadratic in the hottest
    * cell — its own COVERAGE caveat); here the candidate set is the
    * graph's bounded out-degree, k per node regardless of how the
    * corpus clusters, and a true near-duplicate is its victim's top
    * neighbor by construction, exactly the edge NN-Descent converges
    * to first. Returns (idCol, dropped, n_close, max_sim). */
  def semDedupGraph(corpus: DataFrame, k: Int = 10, rounds: Int = 2,
                    threshold: Double = 0.95,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame =
    semDedupGraphOn(
      knnGraph(corpus, k, rounds, idCol = idCol, vecCol = vecCol),
      corpus, threshold, idCol)

  /** [[semDedupGraph]] over an ALREADY-BUILT (possibly persisted) kNN
    * graph — the serving split the search side already has
    * ([[graphSearchOn]]): the NN-Descent build is paid once per corpus
    * generation, and the dedup decision is then one bounded-out-degree
    * filter + aggregate over the edge list. `graph` must carry
    * (idCol, neighbor_id, cos_sim) — the [[knnGraph]] output shape,
    * which [[buildGraphIndex]] persists verbatim (cos_sim is an exact
    * double, parquet round-trips it bit-for-bit, so the persisted and
    * in-query forms are hash-identical by construction). */
  def semDedupGraphOn(graph: DataFrame, corpus: DataFrame,
                      threshold: Double = 0.95,
                      idCol: String = "vec_id"): DataFrame = {
    val close = graph
      .filter(col("neighbor_id") < col(idCol))
      .withColumn("__cs", round(col("cos_sim"), 6))
      .filter(col("__cs") >= threshold)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_close"), max(col("__cs")).as("max_sim"))
    corpus.select(col(idCol))
      .join(close, Seq(idCol), "left")
      .select(col(idCol),
        when(col("n_close").isNull, 0).otherwise(1).as("dropped"),
        coalesce(col("n_close"), lit(0L)).as("n_close"),
        coalesce(col("max_sim"), lit(0.0)).as("max_sim"))
  }

  /** GRAPH-ANN SEARCH over a [[knnGraph]] edge list — the serving-side
    * complement of the NN-Descent build (the HNSW/NSG query pattern:
    * greedy best-first expansion with a bounded beam). Per hop:
    *
    *   F_h = top-`beam`( F_{h-1} ∪ neighbors(F_{h-1}) )
    *
    * where neighbors is SYMMETRIZED (out-edges ∪ in-edges — the top-k
    * edge list is directed, and a node's in-neighbors are exactly as
    * navigable; NN-Descent symmetrizes every round for the same
    * reason), scored by exact double cosine against the probe, ties
    * toward the smaller id ([[BoundedTopK]]). Scores never change
    * across hops, so the recurrence needs NO visited set. The RESULT
    * re-ranks the best-seen list (each stage's top-max(k, beam),
    * accumulated — HNSW's result list): for beam ≥ k this provably
    * equals the top-k of the final frontier (a node that falls out of
    * the beam is worse than `beam` kept nodes and can never re-enter
    * any top-k ≤ beam); for beam < k it fills the k result slots from
    * candidates the walk already paid to score instead of truncating
    * at `beam`. That is the 100 TB shape: each hop joins a
    * broadcast-small frontier (|probes|·beam rows) against the n·k
    * edge list on its endpoint keys (deployment stores the edge list
    * bucketed by both endpoints, or pre-symmetrized), fetches ≤
    * |probes|·beam·2k candidate vectors by id, and nothing grows with
    * corpus size except the pre-built graph itself.
    *
    * Entry set = HIERARCHICAL: a coarse sampled
    * top layer — every `entryStride`-th id — is scored against the
    * probe first, and its per-probe top-`beam` nodes seed the base
    * walk. The previous design (one global min-id node per SRP bucket)
    * seeded every probe with the SAME ≤ 2^nPlanes nodes, so a narrow
    * beam spent its whole width re-ranking far-away globals (beam-4
    * recall@10 measured 0.40); probe-local coarse entries start the
    * walk inside the probe's own region, exactly HNSW's upper-layer
    * role. The coarse scan is |probes|·n/stride cheap exact cosines —
    * at deployment scale the top layer is itself an index tier
    * (searched recursively, or via its own IVF routing); one sampled
    * layer is the 2-level form of that story and keeps the whole
    * trajectory SQL-replayable.
    *
    * Deterministic end-to-end (deterministic layer, exact cosine, id
    * tie-breaks at every rank) so the DuckDB oracle replays the same
    * trajectory hop for hop. Returns (probe_id, neighbor_id, cos_sim).
    */
  def graphSearch(corpus: DataFrame, probes: DataFrame, k: Int = 10,
                  beam: Int = 20, hops: Int = 2,
                  graphK: Int = 10, graphRounds: Int = 2,
                  nPlanes: Int = 4, dim: Int = 64,
                  entryStride: Int = GraphEntryStride,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    graphSearchOn(
      knnGraph(corpus, graphK, graphRounds, nPlanes = nPlanes,
        dim = dim, idCol = idCol, vecCol = vecCol),
      corpus, probes, k, beam, hops, entryStride, idCol, vecCol)

  /** Sampling stride of the coarse entry layer: ids ≡ 0 (mod stride)
    * form the top layer every [[graphSearchOn]] walk enters through.
    * Shared with the oracle SQL so both engines sample identically. */
  val GraphEntryStride: Int = 4

  /** Entry-layer non-emptiness checks — keyed (corpus plan, stride)
    * for stride layers and (layer plan, corpus plan) for custom entry
    * layers, since the effective entry set depends on both — see the
    * guard in [[graphSearchOn]]. The key is the plan
    * itself (structural equality), NOT its 32-bit hashCode: a hash
    * collision on an Int key would silently skip the very fail-fast
    * this exists to enforce. Path-keying does not work either: two
    * plans over the SAME files with different filters have different
    * entry layers, so a file-identity key would wrongly share
    * results. Instead the memo is a SIZE-BOUNDED LRU (64 plans): a
    * long-lived JVM searching many distinct corpora no longer pins
    * every canonicalized plan — and, for LocalRelation-backed corpora,
    * their row data — forever; eviction merely costs one re-probe.
    * Residual caveat, documented not defended: rewriting the files
    * behind a still-cached path within one JVM reuses the stale
    * result — the guard is per-plan, not per-data. */
  private val checkedEntryLayers = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[
        (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Any),
        java.lang.Boolean](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[
            (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Any),
            java.lang.Boolean]): Boolean = size() > 64
    })

  /** BOUNDED cluster-head entry layer — [[graphSearchOn]]'s scale twin
    * of the stride-sampled coarse layer. The stride layer is n/stride
    * rows, so every walk's ENTRY stage scores a corpus-LINEAR candidate
    * set per probe (the graph family's analogue of the exact lexical
    * serve's full-postings scan). This layer is
    * the top [[topPerList]] members of each inverted list by cosine to
    * the list's [[coarseCentroids]] centroid — nlists·topPerList rows
    * BY CONSTRUCTION, independent of corpus size (with k-means lists,
    * nlists ~ √n makes entry cost O(√n), the standard IVF scaling; the
    * fixture's `label` column stands in for the assignment exactly as
    * the IVF family's does). Deterministic end-to-end: exact-decimal
    * centroids, IEEE cosine on identical inputs, [[BoundedTopK]] ties
    * toward smaller ids — fully oracle-checkable. Entry QUALITY now
    * rides on cluster quality instead of id-space sampling; the recall
    * twin (`ann_graph_clustered_recall`) grades that trade honestly.
    * This computes a full-corpus centroid aggregation + top-k cut —
    * a BUILD-time cost: persist the output once per corpus generation
    * beside the graph tier (the registry's `ensureEntryTier`) and serve
    * from the persisted rows, never recompute per probe batch. */
  def clusterEntryLayer(corpus: DataFrame, topPerList: Int = 4,
                        idCol: String = "vec_id", vecCol: String = "embedding",
                        listCol: String = "label"): DataFrame = {
    val cent = coarseCentroids(corpus, listCol, vecCol)
    corpus
      .select(col(idCol),
        transform(col(vecCol), x => x.cast("double")).as("__v"), col(listCol))
      .join(broadcast(cent), listCol)
      .groupBy(col(listCol))
      .agg(BoundedTopK.topk(
        cosine(col("__v"), col("__centroid")), col(idCol), topPerList).as("__nn"))
      .select(explode(col("__nn").getField("id")).as("node"))
  }

  /** [[graphSearch]] over an ALREADY-BUILT (possibly persisted) kNN
    * graph — the serving split: the NN-Descent build is paid once per
    * corpus generation, queries pay only the hops. `graph` must carry
    * (idCol, neighbor_id) out-edges, the [[knnGraph]] output shape.
    * The corpus must contain at least one id ≡ 0 (mod `entryStride`)
    * or no walk can enter (the fixtures' dense id spaces always do).
    * `entryLayer` (one column of corpus node ids, e.g.
    * [[clusterEntryLayer]]) replaces the stride-sampled coarse layer —
    * the walk is otherwise identical, so stride-entry callers keep
    * their exact trajectories. `allowedIds` (one column of corpus node
    * ids) makes the search PREDICATE-FILTERED by post-filter
    * over-retrieval — the HNSW filtered-search discipline: the walk
    * navigates the UNFILTERED graph (excluded nodes still route; a
    * per-query predicate cannot rebuild the index), and the final
    * re-rank keeps top-k among best-seen ∩ allowed. Selectivity s
    * needs a wider walk to fill k slots — size beam ≈ k/s (the
    * over-fetch factor), and grade recall against the exact filtered
    * search rather than assuming it. */
  def graphSearchOn(graph: DataFrame, corpus: DataFrame, probes: DataFrame,
                    k: Int = 10, beam: Int = 20, hops: Int = 2,
                    entryStride: Int = GraphEntryStride,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    entryLayer: Option[DataFrame] = None,
                    allowedIds: Option[DataFrame] = None): DataFrame = {
    val g = graph.select(col(idCol).as("__src"), col("neighbor_id").as("__dst"))
    val v = corpus.select(col(idCol).as("__id"),
      transform(col(vecCol), x => x.cast("double")).as("__v"))
    val p = probes.select(col(idCol).as("probe_id"),
      transform(col(vecCol), x => x.cast("double")).as("__pv"))
    // per-stage ranking width: the beam bounds the WALK, but the
    // RESULT re-ranks everything ever scored (the HNSW "best seen"
    // list), so each stage keeps top-max(k, beam) — for beam ≥ k this
    // changes nothing (a node that falls out of the beam is worse than
    // `beam` kept nodes and can never re-enter any top-k ≤ beam); for
    // beam < k it fills the k result slots from candidates the narrow
    // frontier already paid to score instead of truncating at `beam`
    val kk = math.max(k, beam)
    // Each ranked stage explodes (pos, node, SCORE): the
    // best-seen set carries the hop-time scores, and every aggregation
    // is the id-DEDUPLICATING heap ([[BoundedTopK.topkDedup]] — sound
    // here because the score is a pure function of (probe, node):
    // cosine of two fixed vectors), so no stage needs a distinct()
    // exchange and the final re-rank needs no vector/probe joins or
    // cosine recompute at all. See the materialization note below for
    // the measured effect.
    def topOf(cands: DataFrame, n: Int): DataFrame = cands
      .join(v.select(col("__id").as("node"), col("__v")), "node")
      .join(broadcast(p), "probe_id")
      .filter(col("node") =!= col("probe_id"))
      .groupBy("probe_id")
      .agg(BoundedTopK.topkDedup(
        cosine(col("__pv"), col("__v")), col("node"), n).as("__nn"))
      .select(col("probe_id"), posexplode(col("__nn")).as(Seq("__pos", "__e")))
      .select(col("probe_id"), col("__pos"),
        col("__e.id").as("node"), col("__e.score").as("__s"))
    // hierarchical entry: per-probe top-of-the-coarse-sampled-layer —
    // frontier state stays (probe_id, node) fixed-width; the best-seen
    // union carries the score alongside (one double per row, paid so
    // the final re-rank never rejoins the vector tables)
    val layer = entryLayer match {
      case Some(el) => el.select(col(el.columns.head).as("node"))
      case None => v.filter(pmod(col("__id"), lit(entryStride)) === 0)
        .select(col("__id").as("node"))
    }
    // fail-fast, not a scaladoc note: with no id ≡ 0 (mod stride) — a
    // filtered or re-keyed id space — every walk would silently return
    // ZERO neighbors and downstream dedup/serving would read "no
    // neighbors" as truth. The probe is one limit-1 job, but it is an
    // invariant of the (corpus, stride) pair, not of the call — repeat
    // searches over the same corpus (upsertGraphIndex runs one per
    // micro-batch) memoize the result instead of re-proving it with a
    // fresh Spark job each time (canonicalized-plan keying: two reads
    // of the same files share one probe).
    // custom entry layers key on (layer plan, corpus plan) — the
    // EFFECTIVE entry set below depends on both, so a tier rewrite or
    // corpus swap under the same layer re-probes instead of reusing a
    // stale result; stride layers derive from the
    // corpus, so (corpus plan, stride) still identifies them
    val layerKey: (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Any) =
      entryLayer match {
        case Some(el) => (el.queryExecution.logical.canonicalized,
          corpus.queryExecution.logical.canonicalized)
        case None => (corpus.queryExecution.logical.canonicalized, entryStride)
      }
    // the EFFECTIVE entry set, not the raw layer frame:
    // topOf inner-joins the layer to the corpus vectors, so a persisted
    // layer whose node ids are absent from the current corpus (stale
    // generation, re-keyed ids) is non-empty yet enters NOWHERE — the
    // exact silent-zero failure this guard exists to catch. Stride
    // layers are a corpus filter (already effective by construction).
    val effectiveEntry = entryLayer match {
      case Some(_) => layer.join(
        v.select(col("__id").as("node")), Seq("node"), "left_semi")
      case None => layer
    }
    // get(), not containsKey(): only get() counts as an ACCESS in an
    // access-order LinkedHashMap — containsKey would leave eviction
    // pure-FIFO and evict the most-re-checked plan first
    if (checkedEntryLayers.get(layerKey) == null) {
      require(!effectiveEntry.isEmpty,
        if (entryLayer.isDefined)
          "graphSearchOn: the supplied entry layer shares no ids with the " +
            "corpus (stale generation or re-keyed id space) — every walk " +
            "would silently return zero neighbors; rebuild the entry tier " +
            "for this corpus generation"
        else
          s"graphSearchOn: coarse entry layer is empty — no corpus id is " +
            s"divisible by entryStride=$entryStride; re-key the id space or " +
            "pass a stride that samples it")
      checkedEntryLayers.put(layerKey, java.lang.Boolean.TRUE)
    }
    // hop expansion is SYMMETRIZED (out-edges ∪ in-edges): the top-k
    // edge list is directed, and on weakly-clustered data a node's
    // in-neighbors are as navigable as its out-neighbors (NN-Descent
    // itself symmetrizes every round for the same reason). At
    // deployment scale the edge list is stored bucketed by BOTH
    // endpoints (or pre-symmetrized), so each direction is still a
    // co-located equi-join.
    val gSym = g.unionByName(
      g.select(col("__dst").as("__src"), col("__src").as("__dst")))
    // NO distinct() on the expanded candidate multiset (measured for
    // the WALK, unlike the knnGraph round body, which keeps it): walk
    // candidates repeat with multiplicity bounded by the frontier's
    // common-neighbor overlap (≤ 2k̄, typically ~2),
    // each duplicate pays one fused single-pass cosine MAP-SIDE, and
    // the dedup happens inside the partial aggregation's per-probe
    // heap ([[BoundedTopK.topkDedup]]) — so the distinct's whole
    // exchange disappears while the shuffle still carries ≤ kk
    // rows/probe/partition. The BUILD keeps its distinct: two-hop
    // multiplicity there reaches 2k per pair and every duplicate would
    // pay the TWO-SIDED vector join, the measured 26% regression.
    def expandVia(frontier: DataFrame): DataFrame =
      frontier.unionByName(
          frontier.join(gSym, frontier("node") === gSym("__src"))
            .select(col("probe_id"), col("__dst").as("node")))
    // ENTRY SEED WIDTH = max(k, beam), not beam: a walk seeded
    // with only `beam` < k entry nodes structurally caps recall@k — the
    // k result slots are filled from a trajectory that never had k
    // independent starting regions (measured at sf0.01: beam-4
    // recall@10 0.64 → 0.88, beam-8 0.78 → 0.88; beam ≥ k is
    // bit-identical since max(k, beam) = beam). The beam still prunes
    // every GRAPH hop — the entry stage is a scan, not an expansion, so
    // seeding it at the result width costs one (kk − beam)·2k̄ extra
    // candidate fan-in on the first hop and nothing after. The
    // two-layer stride² entry was prototyped for this and measured
    // WORSE (0.58 at beam 4): at narrow beams entry QUALITY dominates,
    // and an exact top-of-the-stride-layer cut beats a coarser scan
    // plus constrained refinement.
    //
    // Each ranked stage MATERIALIZES (eager localCheckpoint — the
    // knnGraph/CC per-round discipline applied to the serve): the walk
    // is an iterative loop whose stage outputs are tiny
    // (≤ |probes|·kk fixed-width rows) but whose composed lazy plan
    // re-analyzes and re-plans every prior stage per hop under AQE.
    // A/B on a quiet box (1600 probes, 2k corpus, warm JVM; PERF_NOTES):
    // shipped lazy walk 7.8 s median → carried-score +
    // dedup-heap + per-stage materialization 4.5 s, output-identical
    // (set-equality checked in the same run). At deployment scale the
    // checkpoint is |probes|·kk rows — arrival-batch-sized state, the
    // same footprint the frontier already is.
    // every materialized stage is remembered so the FINAL checkpoint
    // can free them (a frame rooted at every stage's pinned blocks
    // accumulates across streaming/replay micro-batches until GC +
    // ContextCleaner catch up)
    val stages = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def materialize(df: DataFrame): DataFrame = {
      if (captureWalkPlans)
        lastWalkStagePlans = lastWalkStagePlans :+
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val m = df.localCheckpoint(true)
      stages += m
      m
    }
    if (captureWalkPlans) lastWalkStagePlans = Nil
    var ranked = materialize(
      topOf(p.select(col("probe_id")).crossJoin(layer), kk))
    var best = ranked.select("probe_id", "node", "__s")
    var frontier = ranked.select("probe_id", "node")
    for (_ <- 1 to hops) {
      ranked = materialize(topOf(expandVia(frontier), kk))
      best = best.unionByName(ranked.select("probe_id", "node", "__s"))
      frontier = ranked.filter(col("__pos") < beam).select("probe_id", "node")
    }
    // final re-rank = ONE dedup-heap aggregation over the carried
    // scores: no distinct exchange (the heap skips seen ids — same set,
    // score is pure in (probe, node)), no vector/probe joins, no cosine
    // recompute; the shuffle carries ≤ k rows/probe. Identical output
    // to distinct + re-score + plain heap — the comparator (score desc,
    // id asc) ranks the same candidate set by the same scores.
    val candidates = allowedIds match {
      // filter BEFORE the rank: filtered top-k ranks among survivors
      // (rank-then-filter would under-fill k whenever an excluded node
      // out-scored a survivor). left_semi — the allowed set can be
      // corpus-sized, never widen the row
      case Some(ok) => best.join(
        ok.select(col(ok.columns.head).as("node")), Seq("node"), "left_semi")
      case None => best
    }
    // the RESULT is materialized too, and every intermediate stage is
    // then unpersisted: the returned frame
    // roots at ONE checkpoint of ≤ |probes|·k fixed-width rows instead
    // of pinning every stage for its lifetime. Callers that drop the
    // result after consuming it can free that last checkpoint with
    // GraftColumnBridge.unpersistLocalCheckpoint. CAVEAT (priced for
    // deployment): localCheckpoint state does not survive executor
    // loss — on a real cluster a lost executor fails the query and the
    // caller re-runs the serve; acceptable for a bounded per-batch
    // walk, which is why the persisted TIERS (parquet) hold all
    // durable state and the checkpoints hold only this walk's
    // arrival-batch-sized frontier/result.
    val result = materialize(candidates
      .groupBy("probe_id")
      .agg(BoundedTopK.topkDedup(col("__s"), col("node"), k).as("__nn"))
      .select(col("probe_id"), explode(col("__nn")).as("__e"))
      .select(col("probe_id"), col("__e.id").as("neighbor_id"),
        col("__e.score").as("cos_sim")))
    stages.dropRight(1).foreach(
      org.apache.spark.sql.GraftColumnBridge.unpersistLocalCheckpoint)
    result
  }

  /** TEST-FACING plan capture (PlanSpec): the per-stage
    * materialization above makes the serve's end-to-end plan opaque —
    * the returned frame is rooted at checkpointed RDDs — so the gates
    * that audit join/heap shapes read the STAGE plans recorded here.
    * Off by default (zero cost); no production caller flips it. */
  @volatile private[graft] var captureWalkPlans: Boolean = false
  @volatile private[graft] var lastWalkStagePlans: Seq[String] = Nil

  /** Completion marker for the persisted kNN-graph tier — the
    * [[IndexCompleteMarker]] discipline: a crash between the edge and
    * vector writes must read as "no graph", never as edges serving
    * against missing vectors. */
  val GraphCompleteMarker = "_GRAFT_GRAPH_COMPLETE"

  /** The kNN-graph tier at `indexPath` (empty fingerprint: its
    * parameters are baked into the root path). Arrival batches land as
    * `graph_delta/gen=N/{vectors,edges}` generations; the compaction
    * ratio counts vector rows. */
  def graphTier(spark: org.apache.spark.sql.SparkSession, indexPath: String): Tier =
    new Tier(spark, indexPath, GraphCompleteMarker, Some(Tier.Gens(
      "graph_delta", DeltaCompleteMarker, "vectors", "vectors")))

  /** Persist the [[knnGraph]] as a SELF-CONTAINED serving tier (edge
    * list + the scoring vectors): the NN-Descent build is the
    * once-per-corpus-generation cost, and [[graphSearchIndexed]] then
    * pays only the beam hops — the [[buildIvfIndex]] lifecycle applied
    * to the graph family. Edges are n·k fixed-width rows; at deployment
    * scale both artifacts would be bucketed by id so the hop joins
    * co-locate, which parquet round-trips preserve the shape of. */
  def buildGraphIndex(corpus: DataFrame, indexPath: String,
                      graphK: Int = 10, graphRounds: Int = 2,
                      nPlanes: Int = 4, dim: Int = 64,
                      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // the vector-tier copy is independent of the NN-Descent build, so
    // they overlap: the cheap corpus copy rides inside the build's
    // scheduling gaps instead of queueing behind ~30 jobs of it; the
    // marker still lands strictly after both
    graphTier(corpus.sparkSession, indexPath).rewrite() {
      graft.core.Par.run(
        () => knnGraph(corpus, graphK, graphRounds, nPlanes = nPlanes, dim = dim,
            idCol = idCol, vecCol = vecCol)
          .write.mode("overwrite").parquet(s"$indexPath/graph_edges"),
        () => corpus.select(col(idCol), col(vecCol))
          .write.mode("overwrite").parquet(s"$indexPath/vectors"))
    }
    graphTier(corpus.sparkSession, indexPath).read("graph_edges")
  }

  /** [[graphSearch]] served from a persisted [[buildGraphIndex]] tier —
    * identical semantics (and oracle) to the in-query form, but query
    * time pays no NN-Descent rounds: two parquet reads and the hops. */
  def graphSearchIndexed(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                         probes: DataFrame, k: Int = 10, beam: Int = 20,
                         hops: Int = 2, entryStride: Int = GraphEntryStride,
                         idCol: String = "vec_id", vecCol: String = "embedding",
                         entryLayer: Option[DataFrame] = None): DataFrame = {
    val tier = graphTier(spark, indexPath)
    tier.require("graphSearchIndexed")
    graphSearchOn(tier.read("graph_edges"), tier.read("vectors"),
      probes, k, beam, hops, entryStride, idCol, vecCol, entryLayer)
  }

  /** Append one batch of arrivals to a persisted [[buildGraphIndex]]
    * tier — the graph family's streaming-arrival path, the same
    * generation contract as [[upsertIvfIndex]]: each arrival's out-edges
    * come from ONE bounded beam walk against the BASE tier
    * ([[graphSearchOn]]); the batch lands as a NEW numbered generation
    * `graph_delta/gen=N/{vectors,edges}` whose completion marker is
    * written strictly LAST, so a crash anywhere mid-write leaves an
    * invisible generation rather than half-committed files that
    * [[graphDeltaEdges]] would serve or [[compactGraphIndex]] would
    * fold. Base edges and the vector tier stay untouched (delta↔delta
    * neighborhoods resolve at the next rebuild, exactly like IVF
    * compaction). Per-probe beam searches are independent, so the
    * merged result is IDENTICAL however arrivals are micro-batched —
    * the property the streaming replay's shared oracle hash-proves.
    * An empty batch is a no-op, mirroring [[upsertIvfIndex]].
    *
    * BOUNDED-BATCH CONTRACT: the walk's hierarchical entry scores each
    * probe against the coarse sampled layer (n/stride corpus rows), so
    * upserting a corpus-sized batch in one call costs ~|batch|·n/stride
    * entry cosines — fine for streaming micro-batches (the intended
    * caller), quadratic if abused as a bulk re-index. Bulk re-indexing
    * is [[compactGraphIndex]]'s job (one NN-Descent rebuild), not a
    * giant upsert. At deployment scale pass `entryLayer` — the
    * PERSISTED once-per-generation cluster-head layer (built
    * by [[clusterEntryLayer]] at tier-build time, like the graph
    * itself — recomputing it per arrival would re-pay the full-corpus
    * centroid pass it exists to avoid): entry cost per arrival drops
    * from n/stride to nlists·topPerList — the corpus-linear arm of the
    * per-arrival walk removed. */
  def upsertGraphIndex(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                       batch: DataFrame, k: Int = 10, beam: Int = 20,
                       hops: Int = 2, entryStride: Int = GraphEntryStride,
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       entryLayer: Option[DataFrame] = None): Unit = {
    val tier = graphTier(spark, indexPath)
    tier.require("upsertGraphIndex")
    if (batch.select(col(idCol)).isEmpty) return
    // the generation's vector copy and the beam-walk edge derivation
    // are independent (the walk reads the BASE tier, never
    // gen/vectors), so they overlap; the completion marker still lands
    // strictly after both
    tier.append(gen => graft.core.Par.run(
      () => batch.select(col(idCol), col(vecCol))
        .write.mode("overwrite").parquet(s"$gen/vectors"),
      () => graphSearchOn(tier.read("graph_edges"), tier.read("vectors"),
          batch, k, beam, hops, entryStride, idCol, vecCol, entryLayer)
        .select(col("probe_id").as(idCol), col("neighbor_id"), col("cos_sim"))
        .write.mode("overwrite").parquet(s"$gen/edges")))
  }

  /** The LIVE delta edge list — all completed generations unioned, the
    * LATEST generation winning per upserted id (a re-upserted id
    * replaces its whole out-edge set, the edge-list analogue of
    * [[deltaSegment]]'s `max_by`) — or None when no completed generation
    * exists. The dedup join touches DELTA rows only, never the base. */
  def graphDeltaEdges(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                      idCol: String = "vec_id"): Option[DataFrame] = {
    val tier = graphTier(spark, indexPath)
    val gens = tier.gens
    if (gens.isEmpty) None
    else {
      val tagged = tier.genRows(gens, "edges")
      if (gens.sizeIs == 1) Some(tagged.drop("gen"))
      else {
        val latest = tagged.groupBy(col(idCol)).agg(max(col("gen")).as("gen"))
        Some(tagged.join(latest, Seq(idCol, "gen")).drop("gen"))
      }
    }
  }

  /** The LIVE delta vectors (latest generation wins per id) — what
    * [[compactGraphIndex]] folds; None when no completed generation. */
  private def graphDeltaVectors(spark: org.apache.spark.sql.SparkSession,
                                indexPath: String, idCol: String,
                                vecCol: String): Option[DataFrame] = {
    val tier = graphTier(spark, indexPath)
    val gens = tier.gens
    if (gens.isEmpty) None
    else {
      val tagged = tier.genRows(gens, "vectors")
      Some(if (gens.sizeIs == 1) tagged.select(col(idCol), col(vecCol))
        else tagged.groupBy(col(idCol)).agg(max_by(col(vecCol), col("gen")).as(vecCol)))
    }
  }

  /** COMPACT the graph tier: full NN-Descent rebuild over base ∪ delta
    * vectors (delta wins on id, so a re-upserted vector replaces its
    * base copy; delta↔delta neighborhoods finally materialize and every
    * stale base edge refreshes), then the delta generations are dropped
    * — [[compactIvfIndex]]'s twin. With NO live delta the rebuild is
    * skipped entirely (nothing to fold — the no-op the empty-delta
    * tier's serving answers already prove). After compaction the tier
    * serves the graph [[knnGraph]] would build over the union corpus,
    * which is exactly what the oracle replays. */
  def compactGraphIndex(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                        graphK: Int = 10, graphRounds: Int = 2,
                        nPlanes: Int = 4, dim: Int = 64,
                        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val tier = graphTier(spark, indexPath)
    tier.require("compactGraphIndex")
    graphDeltaVectors(spark, indexPath, idCol, vecCol) match {
      case None =>
        tier.read("graph_edges")
      case Some(dv) =>
        // materialize the union BEFORE rebuilding: buildGraphIndex
        // overwrites `vectors`, and Spark (rightly) refuses to overwrite
        // a path an active plan still reads from
        val all = tier.read("vectors")
          .join(dv.select(col(idCol)), Seq(idCol), "left_anti")
          .unionByName(dv)
          .localCheckpoint(true)
        val rebuilt = buildGraphIndex(all, indexPath, graphK, graphRounds,
          nPlanes, dim, idCol, vecCol)
        tier.dropGens()
        org.apache.spark.sql.GraftColumnBridge.unpersistLocalCheckpoint(all)
        rebuilt
    }
  }

  /** AUTO-COMPACTION POLICY for the graph tier ([[Tier.compactionDue]]):
    * fold the delta into the base when completed generations reach
    * `maxGens` OR raw live delta rows reach `maxRatio` of the base
    * vector count. Generation counts are RAW (pre-dedup) row counts,
    * because the policy prices storage/serving amplification, which
    * stale superseded copies contribute to until compaction reclaims
    * them. Returns true iff compaction fired, so a caller (or a
    * replay's hash gate) can prove exactly-once firing. */
  def maybeCompactGraphIndex(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                             maxGens: Int = 4, maxRatio: Double = 0.25,
                             graphK: Int = 10, graphRounds: Int = 2,
                             nPlanes: Int = 4, dim: Int = 64,
                             idCol: String = "vec_id", vecCol: String = "embedding"): Boolean = {
    val fire = graphTier(spark, indexPath).compactionDue(maxGens, maxRatio)
    if (fire)
      compactGraphIndex(spark, indexPath, graphK, graphRounds, nPlanes,
        dim, idCol, vecCol)
    fire
  }

  /** IVF search over an UPSERTED index — base lists ∪ live delta
    * generations, original (never retrained) centroids. This is the read
    * side of the LSM maintenance story: a probe sees vectors added by
    * [[upsertIvfIndex]] without any rebuild, because delta rows carry
    * their ASSIGNED list id and therefore land in exactly the
    * directories the centroid routing probes. Same probe-side broadcast
    * assumption as [[knnIvfIndexed]].
    *
    * UPSERT (not insert-only) read rule: a delta row REPLACES any base
    * row with the same id — base is anti-joined against the live delta's
    * id set, so a re-upserted vector is served exactly once, from its
    * latest assignment (which may be a different list than its stale
    * base copy; removing the stale copy therefore cannot be done
    * per-list). The anti-join build side is the delta's ids only,
    * broadcast: the delta is bounded by the re-cluster bar (25% of its
    * base list trips compaction), so its id set stays far below the
    * broadcast cap in any maintained index — if deltas are allowed to
    * grow past broadcastable, the index is overdue for
    * [[compactIvfIndex]], not a bigger join. */
  def knnIvfUpserted(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                     probes: DataFrame, k: Int, nprobe: Int = 2,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     listCol: String = "label"): DataFrame = {
    val tier = ivfTier(spark, indexPath)
    tier.require("knnIvfUpserted")
    val base = tier.read("lists").select(col(idCol), col(vecCol), col(listCol))
    val lists = deltaSegment(spark, indexPath, idCol, vecCol, listCol) match {
      case Some(d) =>
        base.join(broadcast(d.select(col(idCol))), Seq(idCol), "left_anti")
          .unionByName(d)
      case None => base
    }
    ivfSearch(tier.read("centroids"),
      lists, probes, k, nprobe, idCol, vecCol, listCol, broadcastProbes = true)
  }

  /** Assignment stage of [[upsertIvfIndex]], exposed for plan audits:
    * each new vector → its nearest EXISTING centroid (score-desc /
    * list-asc ties, the same [[BoundedTopK]] order as every rank in this
    * file). The centroid table is a 2-file parquet READ broadcast to a
    * narrow map — an upsert must never pay (or re-trigger) the centroid
    * aggregation, which is what PlanSpec asserts on this frame. */
  def assignToIndex(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                    newVecs: DataFrame, idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    listCol: String = "label"): DataFrame = {
    val cent = ivfTier(spark, indexPath).read("centroids")
    newVecs.select(col(idCol), col(vecCol))
      .crossJoin(broadcast(cent))
      .groupBy(col(idCol))
      .agg(
        first(col(vecCol)).as(vecCol),
        BoundedTopK.topk(
          cosine(col(vecCol), col("__centroid")), col(listCol), 1).as("__top"))
      .select(col(idCol), col(vecCol),
        col("__top").getItem(0).getField("id").as(listCol))
  }

  /** Per-generation completion marker of the IVF and graph tiers,
    * written strictly AFTER the generation's parquet commit: a crash mid
    * delta write leaves an INVISIBLE generation (no marker → never
    * read), not a half-committed directory that probes serve as valid. */
  val DeltaCompleteMarker = "_GRAFT_DELTA_COMPLETE"

  /** Incremental index maintenance (the other half of the build-once
    * story): assign a batch of NEW vectors to the
    * EXISTING centroids and persist them as a new delta GENERATION
    * (`lists_delta/gen=N/`, hive-partitioned by list id like the base
    * lists, completion-marked after the commit). The base segment is
    * never rewritten and the centroids are never retrained — this is the
    * LSM shape of index maintenance: generations ACCUMULATE (a second
    * distinct batch lands beside the first, not over it), probes read
    * base ∪ all live generations with the same partition pruning, and
    * [[compactIvfIndex]] folds them back into a retrained base when
    * drift crosses the re-cluster bar.
    *
    * Semantics per call:
    *  - an EMPTY batch is a no-op: nothing to add, prior generations
    *    stay live (retracting them would be the silent data drop this
    *    design exists to kill);
    *  - a batch re-upserting an id supersedes every earlier copy — base
    *    or older generation — at read time (latest generation wins; see
    *    [[deltaSegment]] / [[knnIvfUpserted]]). Re-running the SAME
    *    batch therefore re-lands as a new generation but serves and
    *    reports identically (dedup collapses the copies): idempotent in
    *    content, reclaimed in storage at the next compaction.
    *
    * Returns the maintenance report read back from the PERSISTED
    * segments — (list, n_base, n_added, n_total, recluster) — so a hash
    * gate on the report proves the cumulative delta landed where it
    * should: `n_added` counts LIVE delta vectors across all generations,
    * and `recluster` trips when they reach 25% of their base list, the
    * point where assigning to stale centroids starts costing recall. */
  def upsertIvfIndex(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                     newVecs: DataFrame, idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     listCol: String = "label"): DataFrame = {
    val tier = ivfTier(spark, indexPath)
    tier.require("upsertIvfIndex")
    // probe the INPUT for emptiness (one scan-limit-1 job), not the
    // assignment frame — the latter would execute the broadcast argmax
    // once for the check and again for the write
    if (!newVecs.select(col(idCol)).isEmpty)
      tier.append(gen => assignToIndex(spark, indexPath, newVecs, idCol, vecCol, listCol)
        .write.mode("overwrite").partitionBy(listCol).parquet(gen))
    val base = tier.read("lists")
      .groupBy(col(listCol).cast("int").as(listCol))
      .agg(count(lit(1)).as("n_base"))
    base.join(deltaSegment(spark, indexPath, idCol, vecCol, listCol)
        .map(_.groupBy(col(listCol).cast("int").as(listCol))
          .agg(count(lit(1)).as("n_added")))
        .getOrElse(base.select(col(listCol), lit(0L).as("n_added"))),
        Seq(listCol), "left")
      .na.fill(0L, Seq("n_added"))
      .select(col(listCol), col("n_base"), col("n_added"),
        (col("n_base") + col("n_added")).as("n_total"),
        (col("n_added") * 4 >= col("n_base")).as("recluster"))
      .orderBy(listCol)
  }

  /** The LIVE delta — all completed generations unioned, deduplicated by
    * id with the LATEST generation winning — or None when no completed
    * generation exists. Within a generation ids are unique by
    * construction ([[assignToIndex]] groups by id), so the single-
    * generation fast path skips the dedup shuffle entirely; across
    * generations the `max_by` agg is deterministic because generation
    * numbers are distinct. The dedup shuffles DELTA rows only — bounded
    * by the re-cluster bar, never corpus-scale. */
  private def deltaSegment(spark: org.apache.spark.sql.SparkSession,
                           indexPath: String, idCol: String, vecCol: String,
                           listCol: String): Option[DataFrame] = {
    val tier = ivfTier(spark, indexPath)
    val gens = tier.gens
    if (gens.isEmpty) None
    else {
      val tagged = tier.genRows(gens, "")
      Some(if (gens.sizeIs == 1) tagged.select(col(idCol), col(vecCol), col(listCol))
        else tagged.groupBy(col(idCol))
          .agg(max_by(struct(col(vecCol), col(listCol)), col("gen")).as("__r"))
          .select(col(idCol), col(s"__r.$vecCol").as(vecCol),
            col(s"__r.$listCol").as(listCol)))
    }
  }

  /** COMPACTION — the LSM fold that answers a tripped `recluster` flag:
    * merge base ∪ live delta (delta wins on id,
    * exactly the frame [[knnIvfUpserted]] serves), rebuild the index
    * over the merged corpus with [[buildIvfIndex]] (per-list centroids
    * RETRAIN — the means now include the delta vectors, each under its
    * assigned list), then retire every delta generation. Returns the
    * compacted centroid table, re-read from the index like the build.
    *
    * The merged corpus is STAGED to a scratch dir first: the rebuild
    * overwrites `lists/`, which the merge frame reads — Spark (rightly)
    * refuses to overwrite a path it is reading, and the staging write is
    * one linear pass it would need anyway.
    *
    * Crash windows, in order: before the staging commit — nothing
    * touched, index + deltas intact. During the rebuild —
    * [[IndexCompleteMarker]] was retracted first, so the index reads as
    * incomplete and marker-gated callers rebuild. After the rebuild's
    * marker but before the delta delete — probes see the new base ∪ the
    * now-stale delta, and the delta-wins anti-join makes that BENIGN:
    * the stale generations hold exactly the rows the new base absorbed,
    * so they mask their own copies and serve identical content until
    * the next compaction reclaims them. */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      listCol: String = "label"): DataFrame = {
    val tier = ivfTier(spark, indexPath)
    tier.require("compactIvfIndex")
    deltaSegment(spark, indexPath, idCol, vecCol, listCol) match {
      case None => // nothing outstanding: compaction is a no-op read
        tier.read("centroids")
      case Some(d) =>
        // EAGER checkpoint instead of a staging parquet round-trip
        // (the [[compactGraphIndex]] discipline): the merged
        // frame reads from `lists`, which [[buildIvfIndex]] overwrites,
        // so it must be materialized first — but in memory, not as a
        // full disk write + re-read of the corpus (the old
        // compact-staging dir cost one extra corpus write AND read per
        // compaction). Eager, not lazy: a lazy checkpoint would
        // materialize mid-overwrite.
        val all = tier.read("lists")
          .select(col(idCol), col(vecCol), col(listCol))
          .join(broadcast(d.select(col(idCol))), Seq(idCol), "left_anti")
          .unionByName(d)
          .localCheckpoint(true)
        val cent = buildIvfIndex(all, indexPath, idCol, vecCol, listCol)
        tier.dropGens()
        org.apache.spark.sql.GraftColumnBridge.unpersistLocalCheckpoint(all)
        cent
    }
  }

  /** IVF search against a [[buildIvfIndex]] index: identical semantics
    * (and oracle) to [[knnIvf]], but the centroid build is a 2-file read
    * and the inverted lists resolve by partition pruning.
    *
    * SCALE ASSUMPTION — probe side is BROADCAST on this path: dynamic
    * partition pruning of the list directories requires the probe→list
    * frame on the build side of a broadcast join, so the probe set must
    * fit the broadcast limit (spark.sql.maxBroadcastTableSize, 8 GB
    * hard cap). That is the right trade for an index lookup — probes are
    * queries, not a second corpus — but for probe sets of corpus scale,
    * batch the probes or use [[knnIvf]], whose join strategy is
    * planner-chosen. */
  def knnIvfIndexed(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                    probes: DataFrame, k: Int, nprobe: Int = 2,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    listCol: String = "label"): DataFrame = {
    val tier = ivfTier(spark, indexPath)
    tier.require("knnIvfIndexed")
    ivfSearch(tier.read("centroids"),
      tier.read("lists").select(col(idCol), col(vecCol), col(listCol)),
      probes, k, nprobe, idCol, vecCol, listCol, broadcastProbes = true)
  }

  /** AUTO-COMPACTION POLICY for the IVF index — the
    * [[maybeCompactGraphIndex]] twin, same two bars: fold when
    * completed generations reach `maxGens` OR raw live delta rows reach
    * `maxRatio` of the base list row count (raw = pre-dedup, pricing
    * the storage/probe amplification superseded copies cause until
    * reclaimed; counts come from parquet footers, no scan). The ratio
    * bar is the policy-level mirror of the per-list `recluster` flag
    * [[upsertIvfIndex]] reports — that flag trips per hot list, this
    * bar prices the whole tier. Returns true iff compaction fired. */
  def maybeCompactIvfIndex(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                           maxGens: Int = 4, maxRatio: Double = 0.25,
                           idCol: String = "vec_id", vecCol: String = "embedding",
                           listCol: String = "label"): Boolean = {
    val fire = ivfTier(spark, indexPath).compactionDue(maxGens, maxRatio)
    if (fire) compactIvfIndex(spark, indexPath, idCol, vecCol, listCol)
    fire
  }

  /** The IVF probe stage over a (centroids, inverted-lists) pair:
    * probe → nprobe nearest centroids via the bounded heap (the centroid
    * table is broadcast-size; same score-desc/id-asc order the old
    * row_number window used, so results are bit-identical), then the
    * expensive exact cosine confined to the selected lists; per-probe
    * top-k through the same heap aggregate — ≤ k rows per probe cross
    * the final shuffle instead of a full per-probe candidate sort. */
  private def ivfSearch(cent: DataFrame, lists: DataFrame, probes: DataFrame,
                        k: Int, nprobe: Int, idCol: String, vecCol: String,
                        listCol: String, broadcastProbes: Boolean = false): DataFrame = {
    val probed = probes.select(col(idCol).as("probe_id"), col(vecCol).as("__pv"))
      .crossJoin(broadcast(cent))
      .groupBy("probe_id")
      .agg(
        first(col("__pv")).as("__pv"),
        BoundedTopK.topk(
          cosine(col("__pv"), col("__centroid")), col(listCol), nprobe).as("__top"))
      .select(col("probe_id"), col("__pv"), explode(col("__top")).as("__t"))
      .select(col("probe_id"), col("__pv"), col("__t.id").as(listCol))
    // indexed path: FORCE the probe→list frame broadcast — the list scan
    // must sit on the streaming side of a broadcast join for dynamic
    // partition pruning to skip unselected list directories. In-query
    // path: leave the strategy to the planner — a forced broadcast of a
    // caller-supplied probe frame (each row an embedding) would hit the
    // 8 GB broadcast cap / driver memory on corpus-scale probe sets,
    // where a shuffle join is the correct plan.
    lists.join(if (broadcastProbes) broadcast(probed) else probed, listCol)
      .filter(col(idCol) =!= col("probe_id"))
      .select(col("probe_id"),
        cosine(col(vecCol), col("__pv")).as("cos_sim"), col(idCol))
      .groupBy("probe_id")
      .agg(BoundedTopK.topk(col("cos_sim"), col(idCol), k).as("__nn"))
      .select(col("probe_id"), explode(col("__nn")).as("n"))
      .select(col("probe_id"), col("n.id").as("neighbor_id"), col("n.score").as("cos_sim"))
  }

  /** Lloyd k-means over an embedding column, DETERMINISTIC and therefore
    * fully oracle-checkable — the claim that k-means "cannot be
    * hash-compared" only holds for randomized init and run-to-
    * convergence; with (a) closed-form init (the k smallest vec_ids),
    * (b) a FIXED iteration count, and (c) DECIMAL-exact per-dimension
    * centroid means (aggregation order cannot perturb a bit), every
    * engine computes bit-identical centroids, hence identical argmax
    * assignments (ties → smaller cluster id).
    *
    * Scale shape per round: the k×dim centroid table is BROADCAST to a
    * narrow assignment map (corpus never reshuffles for assignment; the
    * per-vector argmax runs through [[BoundedTopK]] with k=1 so one row
    * per vector crosses the agg shuffle), then the mean update is a
    * posexplode → (cluster, dim) partial aggregate — k·dim cells
    * regardless of corpus size. Rounds are Spark jobs chained on a
    * broadcast-size intermediate, the same iterate-on-small-state
    * pattern as [[Dedup.connectedComponents]] but with O(k·dim) state.
    *
    * Returns (idCol, cluster) for every input vector after `iters`
    * assignment rounds. */
  def kmeans(corpus: DataFrame, k: Int, iters: Int = 2,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k > 0, s"kmeans: k must be positive, got $k")
    require(iters >= 1, s"kmeans: at least one assignment round required, got $iters")
    import org.apache.spark.sql.types.DecimalType
    val vecs = corpus.select(col(idCol), col(vecCol))
    def assign(centroids: DataFrame): DataFrame = vecs
      .crossJoin(broadcast(centroids))
      .groupBy(col(idCol))
      .agg(BoundedTopK.topk(
        cosine(col(vecCol), col("__centroid")), col("__cid"), 1).as("__top"))
      .select(col(idCol), col("__top").getItem(0).getField("id").as("cluster"))
    def update(assigned: DataFrame): DataFrame = vecs
      .join(assigned, idCol)
      .select(col("cluster").as("__cid"), posexplode(col(vecCol)).as(Seq("__p", "__v")))
      .groupBy(col("__cid"), col("__p"))
      .agg((sum(col("__v").cast(DecimalType(28, 9))).cast("double")
        / count(lit(1))).as("__c"))
      .groupBy(col("__cid"))
      .agg(array_sort(collect_list(struct(col("__p"), col("__c")))).as("__pc"))
      .select(col("__cid"), transform(col("__pc"), x => x.getField("__c")).as("__centroid"))
    // the k smallest ids, not `id < k`: with sparse/offset id spaces the
    // filter form silently under-seeds (fewer than k clusters); a sorted
    // limit is exact for any id space and the k-row result broadcasts
    val init = vecs.orderBy(col(idCol)).limit(k)
      .select(col(idCol).cast("long").as("__cid"),
        transform(col(vecCol), v => v.cast("double")).as("__centroid"))
    var assigned = assign(init)
    for (_ <- 1 until iters) assigned = assign(update(assigned))
    assigned
  }

  /** Per-vector symmetric int8 quantization scale: 127 / max|x| (null for
    * an all-zero vector, so downstream math stays null instead of Inf).
    * With [[int8Quantize]]/[[int8Dequantize]] this is the 4× memory cut
    * that fits a 100 TB float corpus into a cluster's RAM tier; the
    * reconstruction error is bounded by 0.5/scale per element. All
    * per-row double IEEE math — deterministic and oracle-checkable. */
  def int8Scale(vec: Column): Column = {
    val mx = array_max(transform(vec, x => abs(x.cast("double"))))
    when(mx > 0, lit(127.0) / mx)
  }

  /** q_i = round(x_i · scale) as int; |q_i| ≤ 127 by the scale's
    * construction, so no clamp is needed. */
  def int8Quantize(vec: Column, scale: Column): Column =
    transform(vec, x => round(x.cast("double") * scale).cast("int"))

  /** Reconstruction: x̂_i = q_i / scale. */
  def int8Dequantize(q: Column, scale: Column): Column =
    transform(q, x => x / scale)

  /** Embedding-level near-dup pairs: SRP bucket equi-join (never
    * all-pairs), verified with exact cosine ≥ `threshold`. The
    * embedding-space twin of MinHash near-dup dedup. The threshold is
    * applied to the 6-dp-ROUNDED cosine: similarity has no meaningful
    * resolution below that, and it makes the boundary decision
    * deterministic across engines (a raw-double compare can flip on the
    * last ulp between implementations). */
  def embNearDupPairs(corpus: DataFrame, threshold: Double = 0.95, nPlanes: Int = 8,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      dim: Int = 64, seed: Long = 42L): DataFrame = {
    val planes = srpPlanes(nPlanes, dim, seed)
    // norm precomputed ONCE per vector (same expression `cosine` would
    // evaluate, so the float path — and the oracle — are unchanged); the
    // per-pair work inside a bucket is then a single dot fold instead of
    // three. No explicit repartition barriers: vectors are fixed-width
    // (no doc-length skew to rebalance, unlike bandTable) and there is
    // no Generate to re-inline into — the join's own exchange (or
    // broadcast) materializes the projected bucket/norm attributes, and
    // CollapseProject cannot substitute expressions across a join.
    val b = corpus
      .select(col(idCol), col(vecCol),
        srpBucket(col(vecCol), planes).as("bucket"),
        norm(col(vecCol)).as("__n"))
    val denom = col("x.__n") * col("y.__n")
    b.as("x").join(b.as("y"),
        col("x.bucket") === col("y.bucket") && col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("a_id"), col(s"y.$idCol").as("b_id"),
        round(
          when(denom === 0.0, lit(0.0))
            .otherwise(dot(col(s"x.$vecCol"), col(s"y.$vecCol")) / denom),
          6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** SemDedup-shaped semantic dedup (the cluster-then-dedup pipeline of
    * Abbas et al. 2023, arXiv:2303.09540): k-means-cluster the corpus
    * ([[kmeans]] — deterministic init, fixed rounds), then resolve
    * near-duplicates WITHIN each cluster only. The clustering is the
    * blocking structure: pair work is bounded by the largest cluster,
    * never the corpus — at 100 TB, k scales with n so per-cluster
    * all-pairs stays a constant-sized local problem, and the pair join
    * shuffles on the cluster key alone (the embedding-space analogue of
    * LSH banding, trading the SRP buckets of [[embNearDupPairs]] for
    * data-adaptive cells).
    *
    * Keeper rule: a vector is dropped when ANY smaller-id cluster-mate
    * sits within `threshold` cosine (min-id canonical, matching the
    * exact-dedup family; the paper's keep-closest-to-centroid variant
    * differs only in the rank key). The threshold compares the 6-dp
    * ROUNDED cosine, same determinism rationale as [[embNearDupPairs]].
    *
    * Returns one row per vector: (id, cluster, dropped, n_close,
    * max_sim) — the per-vector dedup decision plus its evidence. */
  def semDedup(corpus: DataFrame, k: Int, iters: Int = 2,
               threshold: Double = 0.95,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val assigned = kmeans(corpus, k, iters, idCol, vecCol)
    // referenced THREE times (both self-join sides + the final spine):
    // without truncation each reference re-runs the whole iterative
    // kmeans assignment — lazy-checkpoint
    val v = corpus.select(col(idCol), col(vecCol), norm(col(vecCol)).as("__n"))
      .join(assigned, idCol)
      .localCheckpoint(false)
    val denom = col("x.__n") * col("y.__n")
    val close = v.as("x").join(v.as("y"),
        col("x.cluster") === col("y.cluster") && col(s"x.$idCol") > col(s"y.$idCol"))
      .select(col(s"x.$idCol").as(idCol),
        round(
          when(denom === 0.0, lit(0.0))
            .otherwise(dot(col(s"x.$vecCol"), col(s"y.$vecCol")) / denom),
          6).as("__cs"))
      .filter(col("__cs") >= threshold)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_close"), max(col("__cs")).as("max_sim"))
    v.select(col(idCol), col("cluster"))
      .join(close, Seq(idCol), "left")
      .select(col(idCol), col("cluster"),
        when(col("n_close").isNull, 0).otherwise(1).as("dropped"),
        coalesce(col("n_close"), lit(0L)).as("n_close"),
        coalesce(col("max_sim"), lit(0.0)).as("max_sim"))
  }
}
