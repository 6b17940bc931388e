package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.BoundedTopK

/** Similarity operators + the BoundedTopK aggregate. The LSH recall gate
  * uses planted clusters (the sf corpus is uniform noise, where ANN recall
  * is meaningless by construction). */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def vecDf(rows: Seq[(Long, Seq[Float])]) =
    rows.toDF("vec_id", "embedding")

  test("cosine: orthogonal → 0, identical → 1, opposite → -1") {
    val df = Seq(
      (Seq(1f, 0f), Seq(0f, 1f), 0.0),
      (Seq(1f, 1f), Seq(1f, 1f), 1.0),
      (Seq(1f, 0f), Seq(-1f, 0f), -1.0)
    ).toDF("a", "b", "expect")
    df.select(Similarity.cosine(col("a"), col("b")).as("c"), col("expect"))
      .as[(Double, Double)].collect()
      .foreach { case (c, e) => c shouldBe e +- 1e-12 }
  }

  test("cosine: zero vector is null-safe (0.0, not NaN)") {
    Seq((Seq(0f, 0f), Seq(1f, 2f))).toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b"))).as[Double].collect()(0) shouldBe 0.0
  }

  test("knnTopKAgg returns exactly the window-ranked exact answer") {
    val rng = new scala.util.Random(7)
    val corpus = vecDf((0L until 120L).map(i => i -> Seq.fill(16)(rng.nextFloat() - 0.5f)))
    val probes = corpus.filter(col("vec_id") < 3)
    val exact = Similarity.knnExact(corpus, probes, 10)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val heap = Similarity.knnTopKAgg(corpus, probes, 10)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    heap shouldBe exact
    heap.size shouldBe 30
  }

  test("BoundedTopK: deterministic tie-break toward smaller ids, capped at k") {
    val df = (1L to 20L).map(i => (1.0, i)).toDF("score", "id")
    val got = df.agg(BoundedTopK.topk(col("score"), col("id"), 5).as("nn"))
      .select(explode(col("nn.id"))).as[Long].collect().toSeq
    got shouldBe Seq(1L, 2L, 3L, 4L, 5L)
  }

  test("BoundedTopK: orders best-first with mixed scores") {
    val df = Seq((0.2, 10L), (0.9, 20L), (0.5, 30L), (0.9, 5L)).toDF("score", "id")
    val got = df.agg(BoundedTopK.topk(col("score"), col("id"), 3).as("nn"))
      .select(explode(col("nn"))).select("col.score", "col.id")
      .as[(Double, Long)].collect().toSeq
    got shouldBe Seq((0.9, 5L), (0.9, 20L), (0.5, 30L))
  }

  /** Planted clusters: 8 unit-ish base vectors, 6 noisy copies each
    * (cos ≈ 0.99+). Probing with a clean base must recover mostly its own
    * cluster through the SRP buckets. */
  test("knnLsh: high recall on genuinely clustered vectors") {
    val rng = new scala.util.Random(11)
    val dim = 64
    val bases = Seq.fill(8)(Array.fill(dim)(rng.nextGaussian().toFloat))
    val corpus = for {
      (b, ci) <- bases.zipWithIndex
      j <- 0 until 6
    } yield {
      val noisy = b.map(x => x + 0.05f * rng.nextGaussian().toFloat)
      (ci * 100L + j + 1, noisy.toSeq)
    }
    val probes = bases.zipWithIndex.map { case (b, ci) => (ci * 100L, b.toSeq) }
    val corpusDf = vecDf(corpus ++ probes) // probes in corpus too (excluded as self)
    val probesDf = vecDf(probes)
    val got = Similarity.knnLsh(corpusDf, probesDf, k = 6, nPlanes = 4, dim = dim)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect()
    val hits = got.count { case (p, n) => n / 100L == p / 100L }
    val recall = hits.toDouble / (8 * 6)
    withClue(s"recall=$recall") { recall should be >= 0.6 }

    // multi-probe: the Hamming-1 expansion is a candidate SUPERSET, so
    // per-probe cluster recall can only improve (monotonicity is exact:
    // any candidate displacing a true neighbor from the top-k must rank
    // above it in the exact order too, hence be a true neighbor itself)
    val mp = Similarity.knnLshMultiProbe(corpusDf, probesDf, k = 6,
        nPlanes = 4, dim = dim)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect()
    val mpByProbe = mp.groupBy(_._1).view
      .mapValues(_.count { case (p, n) => n / 100L == p / 100L }).toMap
    val byProbe = got.groupBy(_._1).view
      .mapValues(_.count { case (p, n) => n / 100L == p / 100L }).toMap
    probes.map(_._1).foreach { p =>
      mpByProbe.getOrElse(p, 0) should be >= byProbe.getOrElse(p, 0)
    }
    val mpRecall = mp.count { case (p, n) => n / 100L == p / 100L }.toDouble / (8 * 6)
    withClue(s"mpRecall=$mpRecall vs $recall") { mpRecall should be >= recall }
  }

  test("knnLshMultiProbe: candidates come only from Hamming<=1 buckets, each pair once") {
    val rng = new scala.util.Random(23)
    val dim = 16
    val corpus = vecDf((0L until 200L).map(i =>
      i -> Seq.fill(dim)(rng.nextGaussian().toFloat)))
    val probes = corpus.filter(col("vec_id") < 3)
    val planes = Similarity.srpPlanes(nPlanes = 4, dim = dim)
    val buckets = corpus
      .select(col("vec_id"), Similarity.srpBucket(col("embedding"), planes).as("b"))
      .as[(Long, Int)].collect().toMap
    val got = Similarity.knnLshMultiProbe(corpus, probes, k = 200,
        nPlanes = 4, dim = dim)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSeq
    // no duplicate (probe, neighbor) pairs despite 5 expanded buckets
    got.distinct.size shouldBe got.size
    // every candidate within Hamming 1; every Hamming<=1 corpus row found
    // (k = corpus size, so the heap never truncates)
    // buckets.toSeq: mapping a Map-valued generator to (p, n) pairs
    // would re-collect into a Map keyed by the constant p and keep one
    // pair per probe
    val expected = for {
      p <- 0L until 3L; (n, bn) <- buckets.toSeq
      if n != p && Integer.bitCount(buckets(p) ^ bn) <= 1
    } yield (p, n)
    got.toSet shouldBe expected.toSet
  }

  test("knnIvf: probing ALL lists equals brute force; nprobe=2 stays in-cluster") {
    val rng = new scala.util.Random(17)
    val dim = 32
    val bases = Seq.fill(5)(Array.fill(dim)(rng.nextGaussian().toFloat))
    val corpus = for {
      (b, ci) <- bases.zipWithIndex
      j <- 0 until 8
    } yield (ci * 100L + j, ci, b.map(x => x + 0.05f * rng.nextGaussian().toFloat).toSeq)
    val corpusDf = corpus.toDF("vec_id", "label", "embedding")
    val probesDf = corpus.filter(_._1 % 100 == 0)
      .map(t => (t._1, t._3)).toDF("vec_id", "embedding")
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select(col("probe_id"), col("neighbor_id"), round(col("cos_sim"), 9))
      .as[(Long, Long, Double)].collect().toSet
    // nprobe = nlists scans every inverted list ⇒ must be EXACTLY brute force
    key(Similarity.knnIvf(corpusDf, probesDf, k = 5, nprobe = 5)) shouldBe
      key(Similarity.knnExact(corpusDf, probesDf, k = 5))
    // pruned probing: k rows per probe, all from the probe's own cluster
    val pruned = Similarity.knnIvf(corpusDf, probesDf, k = 5, nprobe = 2)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect()
    pruned.groupBy(_._1).view.mapValues(_.length).toMap.values.toSet shouldBe Set(5)
    val inCluster = pruned.count { case (p, n) => n / 100L == p / 100L }
    inCluster.toDouble / pruned.length should be >= 0.9
  }

  test("knnIvf at nprobe < nlists: exactly the brute-force top-k over the members of the probed lists") {
    // lists independent of the vectors (the sf fixture's `label` shape),
    // so pruning loses true neighbors and the case is not the trivial
    // nprobe = nlists one. Any search that ranks a subset of the probed
    // lists' members can therefore recall no more than knnIvf does.
    val rng = new scala.util.Random(29)
    val dim = 16
    val nLists = 6
    val corpus = (0L until 60L).map(i =>
      (i, (i % nLists).toInt, Seq.fill(dim)(rng.nextFloat() - 0.5f)))
    val corpusDf = corpus.toDF("vec_id", "label", "embedding")
    val probeIds = 0L until 4L
    val probesDf = corpusDf.filter(col("vec_id") < probeIds.size)
      .select("vec_id", "embedding")
    val (k, nprobe) = (5, 2)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select(col("probe_id"), col("neighbor_id"), round(col("cos_sim"), 9))
      .as[(Long, Long, Double)].collect().toSet
    def cos(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum /
        math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    // the routing, recomputed on the driver: the nprobe lists whose
    // centroids are nearest each probe, ties toward the smaller label
    val cent = Similarity.coarseCentroids(corpusDf)
      .as[(Int, Seq[Double])].collect().toSeq
    cent.size shouldBe nLists
    val expected = probeIds.flatMap { p =>
      val pv = corpus(p.toInt)._3.map(_.toDouble)
      val probed = cent.sortBy { case (l, c) => (-cos(pv, c), l) }
        .take(nprobe).map(_._1)
      key(Similarity.knnExact(corpusDf.filter(col("label").isin(probed: _*)),
        probesDf.filter(col("vec_id") === p), k))
    }.toSet
    val ivf = key(Similarity.knnIvf(corpusDf, probesDf, k, nprobe))
    ivf shouldBe expected
    ivf should not be key(Similarity.knnExact(corpusDf, probesDf, k))
  }

  test("knnIvfIndexed: persisted index answers exactly like the in-query build; probe plan pays no centroid aggregation") {
    val rng = new scala.util.Random(17)
    val dim = 32
    val bases = Seq.fill(5)(Array.fill(dim)(rng.nextGaussian().toFloat))
    val corpus = for {
      (b, ci) <- bases.zipWithIndex
      j <- 0 until 8
    } yield (ci * 100L + j, ci, b.map(x => x + 0.05f * rng.nextGaussian().toFloat).toSeq)
    val corpusDf = corpus.toDF("vec_id", "label", "embedding")
    val probesDf = corpus.filter(_._1 % 100 == 0)
      .map(t => (t._1, t._3)).toDF("vec_id", "embedding")
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select(col("probe_id"), col("neighbor_id"), round(col("cos_sim"), 9))
      .as[(Long, Long, Double)].collect().toSet
    val path = s"target/test_ivf_index_${System.nanoTime()}"
    val persisted = Similarity.buildIvfIndex(corpusDf, path)
    persisted.count() shouldBe 5 // one centroid per inverted list
    val indexed = Similarity.knnIvfIndexed(spark, path, probesDf, k = 5, nprobe = 2)
    key(indexed) shouldBe key(Similarity.knnIvf(corpusDf, probesDf, k = 5, nprobe = 2))
    // probe-side plan: the centroid build (posexplode + decimal means)
    // must NOT appear — the index read replaces it
    val again = Similarity.knnIvfIndexed(spark, path, probesDf, k = 5, nprobe = 2)
    again.collect()
    val plan = again.queryExecution.executedPlan.toString
    plan.toLowerCase should not include "posexplode"
  }

  test("maybeCompact policy: holds off under both bars, fires on gens bar, fires on ratio bar") {
    val rng = new scala.util.Random(59)
    val dim = 32
    val bases = Seq.fill(3)(Array.fill(dim)(rng.nextGaussian().toFloat))
    def mk(ids: Seq[Long]) = ids.map(i =>
      (i, (i % 3).toInt, bases((i % 3).toInt)
        .map(x => x + 0.05f * rng.nextGaussian().toFloat).toSeq))
    val corpusDf = mk(0L until 24L).toDF("vec_id", "label", "embedding")
    val path = s"target/test_ivf_policy_${System.nanoTime()}"
    Similarity.buildIvfIndex(corpusDf, path)
    // no delta at all → never fires, even at maxGens = 1
    Similarity.maybeCompactIvfIndex(spark, path, maxGens = 1,
      maxRatio = 0.0) shouldBe false
    // one small generation: under gens bar (2) and under ratio bar
    // (3/24 = 0.125 < 0.25) → holds off
    Similarity.upsertIvfIndex(spark, path,
      mk(100L until 103L).map(t => (t._1, t._3)).toDF("vec_id", "embedding"))
    Similarity.maybeCompactIvfIndex(spark, path, maxGens = 2,
      maxRatio = 0.25) shouldBe false
    // second generation trips the gens bar; the fold retires both
    Similarity.upsertIvfIndex(spark, path,
      mk(103L until 106L).map(t => (t._1, t._3)).toDF("vec_id", "embedding"))
    Similarity.maybeCompactIvfIndex(spark, path, maxGens = 2,
      maxRatio = 0.25) shouldBe true
    spark.read.parquet(s"$path/lists").count() shouldBe 30 // 24 + 6 folded
    // a fresh generation of 9 rows over base 30 trips the RATIO bar
    // (9/30 = 0.3 ≥ 0.25) though far under the gens bar
    Similarity.upsertIvfIndex(spark, path,
      mk(200L until 209L).map(t => (t._1, t._3)).toDF("vec_id", "embedding"))
    Similarity.maybeCompactIvfIndex(spark, path, maxGens = 99,
      maxRatio = 0.25) shouldBe true
    spark.read.parquet(s"$path/lists").count() shouldBe 39
    // graph twin: same two bars, same exactly-once accounting
    val gPath = s"target/test_graph_policy_${System.nanoTime()}"
    val gCorpus = mk(0L until 24L).map(t => (t._1, t._3))
      .toDF("vec_id", "embedding")
    Similarity.buildGraphIndex(gCorpus, gPath, graphK = 5, graphRounds = 2,
      dim = dim)
    Similarity.maybeCompactGraphIndex(spark, gPath, maxGens = 1,
      maxRatio = 0.0, graphK = 5, graphRounds = 2, dim = dim) shouldBe false
    Similarity.upsertGraphIndex(spark, gPath,
      mk(100L until 103L).map(t => (t._1, t._3)).toDF("vec_id", "embedding"),
      k = 5, beam = 10, hops = 2)
    Similarity.maybeCompactGraphIndex(spark, gPath, maxGens = 2,
      maxRatio = 0.25, graphK = 5, graphRounds = 2, dim = dim) shouldBe false
    Similarity.upsertGraphIndex(spark, gPath,
      mk(103L until 106L).map(t => (t._1, t._3)).toDF("vec_id", "embedding"),
      k = 5, beam = 10, hops = 2)
    Similarity.maybeCompactGraphIndex(spark, gPath, maxGens = 2,
      maxRatio = 0.25, graphK = 5, graphRounds = 2, dim = dim) shouldBe true
    Similarity.graphDeltaEdges(spark, gPath) shouldBe None
    spark.read.parquet(s"$gPath/vectors").count() shouldBe 30
  }

  test("knnGraph: NN-Descent recovers the exact kNN graph on planted clusters; deterministic; rounds improve recall") {
    val rng = new scala.util.Random(23)
    val dim = 32
    val bases = Seq.fill(4)(Array.fill(dim)(rng.nextGaussian().toFloat * 2f))
    val corpus = for {
      (b, ci) <- bases.zipWithIndex
      j <- 0 until 10
    } yield (ci * 100L + j, b.map(x => x + 0.05f * rng.nextGaussian().toFloat).toSeq)
    val df = corpus.toDF("vec_id", "embedding")
    def edges(g: org.apache.spark.sql.DataFrame) =
      g.select("vec_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // exact graph: per-node top-5 by cosine (window-ranked)
    val exact = edges(Similarity.knnExact(df, df, 5)
      .select(col("probe_id").as("vec_id"), col("neighbor_id")))
    val g2 = edges(Similarity.knnGraph(df, k = 5, rounds = 2))
    // in-cluster geometry: two refinement rounds must essentially
    // recover the exact graph (every true neighbor is reachable within
    // two neighbor-of-neighbor hops of the bucket/ring init)
    (exact & g2).size.toDouble / exact.size should be >= 0.9
    // more rounds never hurt: round-2 recall dominates round-1's
    val g1 = edges(Similarity.knnGraph(df, k = 5, rounds = 1))
    (exact & g2).size should be >= (exact & g1).size
    // bit-deterministic re-run
    edges(Similarity.knnGraph(df, k = 5, rounds = 2)) shouldBe g2

    // δ-termination (round 16): a past-max δ (new edges ≤ 2·n·k, so
    // δPct = 250 always clears) must halt BEFORE round 2's refinement
    // — the result is exactly the round-1 graph, the fired flag is
    // true, and the reported count equals the true set difference
    // |sym(g1) \ sym(g0)| the oracle recomputes
    val (gd, nNew, fired) = Similarity.knnGraphWithStats(
      df, k = 5, rounds = 2, deltaPct = 250)
    fired shouldBe true
    edges(gd) shouldBe g1
    nNew should be >= 0L
    // δ = 0 reports no count (round 2 runs to completion, the zero-new
    // probe never counts) and returns the full trajectory
    val (g0d, n0, f0) = Similarity.knnGraphWithStats(df, k = 5, rounds = 2)
    f0 shouldBe false
    n0 shouldBe -1L
    edges(g0d) shouldBe g2
    // the paper's ACTUAL use: on genuinely CONVERGING data a small δ
    // fires as soon as the update rate collapses — this planted-cluster
    // corpus converges after round 1 (the bucket init already finds the
    // in-cluster neighborhoods), so δ = 1% halts round 2 honestly
    val (gSmall, nSmall, fSmall) = Similarity.knnGraphWithStats(
      df, k = 5, rounds = 2, deltaPct = 1)
    fSmall shouldBe true
    (nSmall * 100) should be < (1L * corpus.size * 5)
    edges(gSmall) shouldBe g1
    // ...and on a corpus the init CANNOT cover in one round (init
    // two-hop reach ≈ degree² ≈ 144 ≪ n = 400, so round 2 still
    // changes hundreds of edges — tiny corpora all converge in one
    // round because two-hop reaches everything) the same δ = 1% must
    // NOT fire: the trajectory runs to the full budget
    val flat = (0 until 400).map { i =>
      val r = new scala.util.Random(31L * i + 7)
      (i.toLong, Array.fill(16)(r.nextGaussian().toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val (gFlat, nFlat, fFlat) = Similarity.knnGraphWithStats(
      flat, k = 4, rounds = 2, deltaPct = 1, dim = 16)
    fFlat shouldBe false
    (nFlat * 100) should be >= (1L * 400 * 4)
    edges(gFlat) shouldBe
      edges(Similarity.knnGraph(flat, k = 4, rounds = 2, dim = 16))
  }

  test("graphSearch: beam search over the kNN graph recovers exact top-k on planted clusters; deterministic; self excluded") {
    val rng = new scala.util.Random(29)
    val dim = 32
    val bases = Seq.fill(4)(Array.fill(dim)(rng.nextGaussian().toFloat * 2f))
    val corpus = for {
      (b, ci) <- bases.zipWithIndex
      j <- 0 until 10
    } yield (ci * 100L + j, b.map(x => x + 0.05f * rng.nextGaussian().toFloat).toSeq)
    val df = corpus.toDF("vec_id", "embedding")
    // one probe per planted cluster — the k-bounded graph keeps no
    // cross-cluster edges, so per-bucket entry coverage (not hop depth)
    // is what lets each probe reach its own cluster's component
    val probesDf = df.filter(col("vec_id") % 100 === 0)
    def key(g: org.apache.spark.sql.DataFrame) =
      g.select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = key(Similarity.knnExact(df, probesDf, 5))
    val got = Similarity.graphSearch(df, probesDf, k = 5, beam = 10,
      hops = 2, graphK = 5, graphRounds = 2, dim = dim)
    val gk = key(got)
    // every probe reports exactly k rows, never itself
    got.groupBy("probe_id").count().select("count")
      .as[Long].collect().toSet shouldBe Set(5L)
    gk.exists { case (p, n) => p == n } shouldBe false
    // tight clusters: the beam walk must essentially recover exact top-k
    (exact & gk).size.toDouble / exact.size should be >= 0.9
    // bit-deterministic re-run
    key(Similarity.graphSearch(df, probesDf, k = 5, beam = 10,
      hops = 2, graphK = 5, graphRounds = 2, dim = dim)) shouldBe gk
  }

  test("clusterEntryLayer: nlists·topPerList nodes, exact top members per list, deterministic; clustered entry serves planted clusters; empty layer fails fast") {
    val rng = new scala.util.Random(41)
    val dim = 32
    val bases = Seq.fill(4)(Array.fill(dim)(rng.nextGaussian().toFloat * 2f))
    val corpus = for {
      (b, ci) <- bases.zipWithIndex
      j <- 0 until 10
    } yield (ci * 100L + j, b.map(x => x + 0.05f * rng.nextGaussian().toFloat).toSeq, ci)
    val df = corpus.toDF("vec_id", "embedding", "label")
    val layer = Similarity.clusterEntryLayer(df, topPerList = 3)
    val nodes = layer.as[Long].collect().sorted
    // bounded BY CONSTRUCTION: 4 lists × 3 heads, unique nodes
    nodes.length shouldBe 12
    nodes.distinct.length shouldBe 12
    // every head belongs to the list it represents (ids encode labels)
    nodes.groupBy(_ / 100).view.mapValues(_.length).toMap.values.toSet shouldBe Set(3)
    // exact membership: top-3 per label by cosine to the label's mean,
    // recomputed independently in driver code
    val vecs = df.as[(Long, Seq[Float], Int)].collect()
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = vecs.groupBy(_._3).toSeq.flatMap { case (_, members) =>
      val cent = Array.tabulate(dim)(p =>
        members.map(_._2(p).toDouble).sum / members.size)
      members.map { case (id, v, _) => (id, cos(v.map(_.toDouble).toArray, cent)) }
        .sortBy { case (id, s) => (-s, id) }.take(3).map(_._1).toSeq
    }.toSet
    // centroid arithmetic differs (exact-decimal vs this re-derivation)
    // only below cosine-ordering resolution on this fixture
    nodes.toSet shouldBe expected
    // deterministic re-run
    Similarity.clusterEntryLayer(df, topPerList = 3)
      .as[Long].collect().sorted shouldBe nodes
    // the bounded entry serves: same recall bar as the stride walk
    val probesDf = df.filter(col("vec_id") % 100 === 0)
    val g = Similarity.knnGraph(df, k = 5, rounds = 2, dim = dim)
    def key(r: org.apache.spark.sql.DataFrame) =
      r.select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = key(Similarity.knnExact(df, probesDf, 5))
    val got = key(Similarity.graphSearchOn(g, df, probesDf, k = 5, beam = 10,
      hops = 2, entryLayer = Some(layer)))
    (exact & got).size.toDouble / exact.size should be >= 0.9
    // an empty custom layer is loud, not a silent zero-neighbor serve
    val boom = intercept[IllegalArgumentException] {
      Similarity.graphSearchOn(g, df, probesDf, k = 5, beam = 10, hops = 2,
        entryLayer = Some(df.filter(col("vec_id") < 0).select("vec_id")))
    }
    boom.getMessage should include("shares no ids with the corpus")
  }

  test("stale entry layer contract: arrivals absent from the layer stay hop-reachable; a layer disjoint from the corpus fails fast") {
    // The r16 verdict #5 contract, pinned: the persisted cluster-head
    // entry layer is keyed to the BASE corpus generation — a graph
    // upsert does NOT refresh it, so arrivals are reachable only via
    // graph hops from base entry heads (the lex tier's small-segment
    // convention). This proves the reachability half; the recall twin
    // grades entry quality under staleness every round.
    val rng = new scala.util.Random(53)
    val dim = 32
    val bases = Seq.fill(2)(Array.fill(dim)(rng.nextGaussian().toFloat * 2f))
    val baseRows = for {
      (b, ci) <- bases.zipWithIndex
      j <- 0 until 10
    } yield (ci * 100L + j, b.map(x => x + 0.05f * rng.nextGaussian().toFloat).toSeq, ci)
    val base = baseRows.toDF("vec_id", "embedding", "label")
    // arrivals join cluster 0 TIGHTLY (σ half the base's): the probe's
    // true nearest neighbors are dominated by arrivals, so a serve that
    // could not hop into them would visibly miss
    val batch = (0 until 6).map(j =>
      (1000L + j, bases(0).map(x => x + 0.025f * rng.nextGaussian().toFloat).toSeq))
      .toDF("vec_id", "embedding")
    val root = java.nio.file.Files.createTempDirectory("graft-stale-entry").toString
    Similarity.buildGraphIndex(base.drop("label"), root, graphK = 5,
      graphRounds = 2, dim = dim)
    val staleLayer = Similarity.clusterEntryLayer(base, topPerList = 3)
      .localCheckpoint(true) // freeze: the layer predates the upsert
    Similarity.upsertGraphIndex(spark, root, batch, k = 5, beam = 10,
      hops = 2, entryLayer = Some(staleLayer))
    val merged = spark.read.parquet(s"$root/graph_edges")
      .select("vec_id", "neighbor_id")
      .unionByName(Similarity.graphDeltaEdges(spark, root)
        .getOrElse(fail("no completed delta generation after upsert"))
        .select("vec_id", "neighbor_id"))
    val corpus = base.drop("label").unionByName(batch)
    val probe = base.filter(col("vec_id") === 0L).drop("label")
    val got = Similarity.graphSearchOn(merged, corpus, probe, k = 5,
      beam = 10, hops = 2, entryLayer = Some(staleLayer))
      .select("neighbor_id").as[Long].collect().toSet
    // the stale layer holds only base ids, yet arrivals are served:
    // they enter via the symmetrized hop expansion (arrival→base delta
    // edges walk backwards), never via the entry stage
    staleLayer.as[Long].collect().forall(_ < 1000L) shouldBe true
    got.count(_ >= 1000L) should be >= 1
    // and a layer sharing NO ids with the corpus (a fully stale
    // generation / re-keyed id space) fails fast instead of silently
    // returning zero neighbors — the effective-entry probe, not a raw
    // non-emptiness check (r16 ADVICE #2)
    val boom = intercept[IllegalArgumentException] {
      Similarity.graphSearchOn(merged, corpus, probe, k = 5, beam = 10,
        hops = 2, entryLayer = Some(
          staleLayer.select((col(staleLayer.columns.head) + 100000L).as("node"))))
    }
    boom.getMessage should include("shares no ids with the corpus")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("filtered graph search: results within the allowed set, near-exact on allowed-cluster probes, deterministic") {
    val rng = new scala.util.Random(43)
    val dim = 32
    val bases = Seq.fill(4)(Array.fill(dim)(rng.nextGaussian().toFloat * 2f))
    val corpus = for {
      (b, ci) <- bases.zipWithIndex
      j <- 0 until 10
    } yield (ci * 100L + j, b.map(x => x + 0.05f * rng.nextGaussian().toFloat).toSeq)
    val df = corpus.toDF("vec_id", "embedding")
    val g = Similarity.knnGraph(df, k = 5, rounds = 2, dim = dim)
    // allow clusters 0–2 (ids < 300); probe from ALLOWED clusters — a
    // probe whose entire neighborhood is excluded measures the fixture's
    // cross-cluster geometry, not the operator
    val allowed = df.filter(col("vec_id") < 300).select("vec_id")
    val probesDf = df.filter(col("vec_id") % 100 === 0 && col("vec_id") < 300)
    def key(r: org.apache.spark.sql.DataFrame) =
      r.select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val got = Similarity.graphSearchOn(g, df, probesDf, k = 5, beam = 10,
      hops = 2, allowedIds = Some(allowed))
    val gk = key(got)
    // hard invariant: every result is in the allowed set, never self
    gk.foreach { case (p, n) => n should be < 300L; n should not be p }
    got.groupBy("probe_id").count().select("count")
      .as[Long].collect().foreach(_ should be <= 5L)
    // exact filtered ground truth = brute force over the filtered corpus
    val exact = key(Similarity.knnExact(
      df.filter(col("vec_id") < 300), probesDf, 5))
    (exact & gk).size.toDouble / exact.size should be >= 0.9
    // deterministic re-run
    key(Similarity.graphSearchOn(g, df, probesDf, k = 5, beam = 10,
      hops = 2, allowedIds = Some(allowed))) shouldBe gk
  }

  test("upsertGraphIndex with a bounded entry layer: generation completes, full out-degree into base") {
    val rng = new scala.util.Random(47)
    val dim = 32
    val all = (0L until 60L).map(i =>
      (i, Seq.fill(dim)(rng.nextFloat() - 0.5f), (i % 5).toInt))
      .toDF("vec_id", "embedding", "label")
    val base = all.filter(col("vec_id") < 50)
    val batch = all.filter(col("vec_id") >= 50).drop("label")
    val root = java.nio.file.Files.createTempDirectory("graft-entry-upsert").toString
    Similarity.buildGraphIndex(base.drop("label"), root, graphK = 5, graphRounds = 2,
      dim = dim)
    // the deployment shape: the layer is built once per generation over
    // the tier's vectors (here from the labeled base) and passed to
    // every arrival batch's walk
    val layer = Similarity.clusterEntryLayer(base, topPerList = 3)
    Similarity.upsertGraphIndex(spark, root, batch, k = 5, beam = 10,
      hops = 2, entryLayer = Some(layer))
    val delta = spark.read.parquet(s"$root/graph_delta/gen=1/edges")
    val rows = delta.select("vec_id", "neighbor_id").as[(Long, Long)].collect()
    // every arrival got exactly k out-edges, all into the base set
    rows.map(_._1).toSet shouldBe (50L until 60L).toSet
    rows.groupBy(_._1).view.mapValues(_.length).toMap.values.toSet shouldBe Set(5)
    rows.foreach { case (_, n) => n should be < 50L }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("graph upsert shape: base edges unchanged, delta nodes link into base only with full out-degree") {
    val rng = new scala.util.Random(37)
    val dim = 32
    val all = (0L until 50L).map(i =>
      (i, Seq.fill(dim)(rng.nextFloat() - 0.5f))).toDF("vec_id", "embedding")
    val base = all.filter(col("vec_id") < 40)
    val delta = all.filter(col("vec_id") >= 40)
    val g = Similarity.knnGraph(base, k = 5, rounds = 2, dim = dim)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("vec_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val newEdges = Similarity.graphSearchOn(g, base, delta, k = 5,
      beam = 10, hops = 2)
      .select(col("probe_id").as("vec_id"), col("neighbor_id"))
    val ne = key(newEdges)
    // every delta node gets exactly k out-edges, all into the base set
    ne.groupBy(_._1).view.mapValues(_.size).toMap.values.toSet shouldBe Set(5)
    ne.map(_._1).toSet shouldBe (40L until 50L).toSet
    ne.foreach { case (_, n) => n should be < 40L }
    // the base graph is untouched by construction (append-only): the
    // merged edge list is the disjoint union
    (key(g) & ne) shouldBe empty
  }

  test("graphSearchIndexed: persisted tier serves exactly like the in-query build; marker gates") {
    val rng = new scala.util.Random(31)
    val dim = 32
    val corpus = (0L until 40L).map(i =>
      (i, Seq.fill(dim)(rng.nextFloat() - 0.5f))).toDF("vec_id", "embedding")
    val probesDf = corpus.filter(col("vec_id") < 3)
    val path = s"target/test_graph_index_${System.nanoTime()}"
    // serving before the tier exists must refuse, not misread
    an[IllegalArgumentException] should be thrownBy
      Similarity.graphSearchIndexed(spark, path, probesDf, k = 5,
        beam = 10, hops = 2)
    Similarity.buildGraphIndex(corpus, path, graphK = 5, graphRounds = 2,
      dim = dim)
    def key(g: org.apache.spark.sql.DataFrame) = g
      .select(col("probe_id"), col("neighbor_id"), round(col("cos_sim"), 9))
      .as[(Long, Long, Double)].collect().toSet
    key(Similarity.graphSearchIndexed(spark, path, probesDf, k = 5,
      beam = 10, hops = 2)) shouldBe
      key(Similarity.graphSearch(corpus, probesDf, k = 5, beam = 10,
        hops = 2, graphK = 5, graphRounds = 2, dim = dim))
  }

  test("graph delta lifecycle: marker-gated generations, crash slots reclaimed, latest-wins, compact folds and retires") {
    val rng = new scala.util.Random(53)
    val dim = 32
    def vec() = Seq.fill(dim)(rng.nextFloat() - 0.5f)
    val base = (0L until 30L).map(i => (i, vec())).toDF("vec_id", "embedding")
    val b1 = Seq((30L, vec()), (31L, vec())).toDF("vec_id", "embedding")
    val b2 = Seq((32L, vec()), (33L, vec())).toDF("vec_id", "embedding")
    val path = s"target/test_graph_delta_${System.nanoTime()}"
    Similarity.buildGraphIndex(base, path, graphK = 5, graphRounds = 2, dim = dim)

    // no completed generation yet → no delta; compaction is a no-op
    Similarity.graphDeltaEdges(spark, path) shouldBe None
    def edgeKey(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), col("neighbor_id")).as[(Long, Long)].collect().toSet
    val baseEdges = edgeKey(spark.read.parquet(s"$path/graph_edges"))
    edgeKey(Similarity.compactGraphIndex(spark, path, graphK = 5,
      graphRounds = 2, dim = dim)) shouldBe baseEdges

    // empty batch is a no-op (no generation lands)
    Similarity.upsertGraphIndex(spark, path,
      base.filter(col("vec_id") < 0), k = 5, beam = 10, hops = 2)
    Similarity.graphDeltaEdges(spark, path) shouldBe None

    // two real batches land as two generations; merged delta = disjoint union
    Similarity.upsertGraphIndex(spark, path, b1, k = 5, beam = 10, hops = 2)
    Similarity.upsertGraphIndex(spark, path, b2, k = 5, beam = 10, hops = 2)
    val delta = Similarity.graphDeltaEdges(spark, path).get
    delta.select("vec_id").distinct().as[Long].collect().toSet shouldBe
      Set(30L, 31L, 32L, 33L)
    delta.groupBy("vec_id").count().select("count").distinct()
      .as[Long].collect() shouldBe Array(5L)

    // crash simulation: a marker-less generation dir is invisible and its
    // slot is reclaimed by the next upsert's overwrite
    Seq((99L, 0L, 0.0)).toDF("vec_id", "neighbor_id", "cos_sim")
      .write.parquet(s"$path/graph_delta/gen=3/edges")
    Similarity.graphDeltaEdges(spark, path).get
      .filter(col("vec_id") === 99L).count() shouldBe 0

    // re-upsert of id 33 with a CHANGED vector supersedes generation 2's
    // copy (latest generation wins for the whole out-edge set)
    val v33b = vec()
    Similarity.upsertGraphIndex(spark, path,
      Seq((33L, v33b)).toDF("vec_id", "embedding"), k = 5, beam = 10,
      hops = 2)
    val expected33 = Similarity.graphSearchOn(
        spark.read.parquet(s"$path/graph_edges"),
        spark.read.parquet(s"$path/vectors"),
        Seq((33L, v33b)).toDF("vec_id", "embedding"),
        k = 5, beam = 10, hops = 2)
      .select(col("probe_id").as("vec_id"), col("neighbor_id"))
    val served = Similarity.graphDeltaEdges(spark, path).get
    edgeKey(served.filter(col("vec_id") === 33L)) shouldBe edgeKey(expected33)
    served.filter(col("vec_id") === 33L).count() shouldBe 5

    // compact: rebuild over base ∪ latest-delta (33 uses the NEW vector),
    // then every generation is retired — vectors AND edges
    val compacted = Similarity.compactGraphIndex(spark, path, graphK = 5,
      graphRounds = 2, dim = dim)
    val union = base
      .unionByName(b1).unionByName(b2.filter(col("vec_id") =!= 33L))
      .unionByName(Seq((33L, v33b)).toDF("vec_id", "embedding"))
    edgeKey(compacted) shouldBe
      edgeKey(Similarity.knnGraph(union, k = 5, rounds = 2, dim = dim))
    Similarity.graphDeltaEdges(spark, path) shouldBe None
    new java.io.File(s"$path/graph_delta").exists() shouldBe false
    // replay idempotence: a re-run tier (drop + same upserts) serves the
    // same delta content as the first run did
    Similarity.graphTier(spark, path).dropGens()
    Similarity.graphDeltaEdges(spark, path) shouldBe None
  }

  /** Shared fixture for the upsert-lifecycle tests: 3 planted clusters,
    * 6 base vectors each (ids ci*100+j), plus generators for arrivals
    * near a given cluster. */
  private final class UpsertFixture(seed: Int) {
    val rng = new scala.util.Random(seed)
    val dim = 32
    val bases = Seq.fill(3)(Array.fill(dim)(rng.nextGaussian().toFloat))
    def vecNear(ci: Int): Seq[Float] =
      bases(ci).map(x => x + 0.05f * rng.nextGaussian().toFloat).toSeq
    def vecsNear(ci: Int, ids: Range) =
      ids.map(j => (ci * 100L + j, ci, vecNear(ci)))
    val baseDf = (0 until 3).flatMap(ci => vecsNear(ci, 0 until 6))
      .toDF("vec_id", "label", "embedding")
    def probeNear(ci: Int) =
      Seq((999L, bases(ci).toSeq)).toDF("vec_id", "embedding")
    def neighborsNear(path: String, ci: Int): Set[Long] =
      Similarity.knnIvfUpserted(spark, path, probeNear(ci), k = 10, nprobe = 1)
        .select("neighbor_id").as[Long].collect().toSet
  }

  test("upsertIvfIndex: delta served by probes; empty batch is a no-op; generations accumulate") {
    val f = new UpsertFixture(23)
    import f._
    val path = s"target/test_ivf_upsert_${System.nanoTime()}"
    Similarity.buildIvfIndex(baseDf, path)

    // batch 1, near cluster 1: must assign to list 1...
    val batch1 = vecsNear(1, 50 until 54).map(t => (t._1, t._3))
      .toDF("vec_id", "embedding")
    val report = Similarity.upsertIvfIndex(spark, path, batch1)
      .as[(Int, Long, Long, Long, Boolean)].collect().toList
    report.map(r => (r._1, r._2, r._3)) shouldBe
      List((0, 6L, 0L), (1, 6L, 4L), (2, 6L, 0L))
    report.find(_._1 == 1).get._5 shouldBe true // 4*4 >= 6: drift tripped

    // ...and be FINDABLE: probing near cluster 1 returns the new ids
    (150L until 154L).toSet.subsetOf(neighborsNear(path, 1)) shouldBe true

    // empty batch is a NO-OP (round-7 verdict #1: it must not retract
    // the live delta): report and probes unchanged
    val emptyBatch = spark.emptyDataset[(Long, Seq[Float])]
      .toDF("vec_id", "embedding")
    val report2 = Similarity.upsertIvfIndex(spark, path, emptyBatch)
      .as[(Int, Long, Long, Long, Boolean)].collect().toList
    report2.map(r => (r._1, r._2, r._3)) shouldBe
      List((0, 6L, 0L), (1, 6L, 4L), (2, 6L, 0L))
    (150L until 154L).toSet.subsetOf(neighborsNear(path, 1)) shouldBe true

    // batch 2, DISTINCT, near cluster 2: lands BESIDE batch 1 — n_added
    // sums across generations and probes serve vectors from BOTH batches
    // (the round-7 single-slot overwrite lost batch 1 here)
    val batch2 = vecsNear(2, 50 until 53).map(t => (t._1, t._3))
      .toDF("vec_id", "embedding")
    val report3 = Similarity.upsertIvfIndex(spark, path, batch2)
      .as[(Int, Long, Long, Long, Boolean)].collect().toList
    report3.map(r => (r._1, r._2, r._3)) shouldBe
      List((0, 6L, 0L), (1, 6L, 4L), (2, 6L, 3L))
    (150L until 154L).toSet.subsetOf(neighborsNear(path, 1)) shouldBe true
    (250L until 253L).toSet.subsetOf(neighborsNear(path, 2)) shouldBe true

    // re-running the SAME batch re-lands as a new generation but the
    // latest-generation dedup serves and reports it exactly once
    val report4 = Similarity.upsertIvfIndex(spark, path, batch2)
      .as[(Int, Long, Long, Long, Boolean)].collect().toList
    report4.map(r => (r._1, r._2, r._3)) shouldBe
      List((0, 6L, 0L), (1, 6L, 4L), (2, 6L, 3L))

    // dropGens: all generations retracted, probe falls back to base
    Similarity.ivfTier(spark, path).dropGens()
    val report5 = Similarity.upsertIvfIndex(spark, path, emptyBatch)
      .as[(Int, Long, Long, Long, Boolean)].collect().toList
    report5.map(r => (r._1, r._2, r._3)) shouldBe
      List((0, 6L, 0L), (1, 6L, 0L), (2, 6L, 0L))
    (150L until 154L).toSet.intersect(neighborsNear(path, 1)) shouldBe Set.empty
  }

  test("upsertIvfIndex: re-upserted id supersedes base and older generations; marker-less dirs invisible") {
    val f = new UpsertFixture(29)
    import f._
    val path = s"target/test_ivf_reupsert_${System.nanoTime()}"
    Similarity.buildIvfIndex(baseDf, path)

    // re-upsert BASE id 2 (cluster 0's vector) with a vector near
    // cluster 2: the stale base copy must stop being served — an
    // insert-only union would return it from list 0 (round-7 advisor)
    val moveBase = Seq((2L, vecNear(2))).toDF("vec_id", "embedding")
    Similarity.upsertIvfIndex(spark, path, moveBase)
    neighborsNear(path, 2) should contain(2L)
    neighborsNear(path, 0) should not contain 2L

    // then re-upsert the SAME id again, now near cluster 1: the LATEST
    // generation must win over the older generation too
    val moveAgain = Seq((2L, vecNear(1))).toDF("vec_id", "embedding")
    val rep = Similarity.upsertIvfIndex(spark, path, moveAgain)
      .as[(Int, Long, Long, Long, Boolean)].collect().toList
    rep.map(r => (r._1, r._3)) shouldBe List((0, 0L), (1, 1L), (2, 0L))
    neighborsNear(path, 1) should contain(2L)
    neighborsNear(path, 2) should not contain 2L
    // n_base still counts raw base rows (6 per list): the masked copy is
    // physically present until compaction reconciles it
    rep.map(r => (r._1, r._2)) shouldBe List((0, 6L), (1, 6L), (2, 6L))

    // a marker-less generation directory (crashed write) is invisible:
    // plant one with junk and verify probes/report are unchanged
    val junkDir = new java.io.File(s"$path/lists_delta/gen=99")
    junkDir.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$path/lists_delta/gen=99/part-junk"),
      "not parquet".getBytes)
    val rep2 = Similarity.upsertIvfIndex(spark, path,
        spark.emptyDataset[(Long, Seq[Float])].toDF("vec_id", "embedding"))
      .as[(Int, Long, Long, Long, Boolean)].collect().toList
    rep2.map(r => (r._1, r._3)) shouldBe List((0, 0L), (1, 1L), (2, 0L))
  }

  test("compactIvfIndex: folds deltas into a retrained base, retires them, preserves served content") {
    val f = new UpsertFixture(31)
    import f._
    val path = s"target/test_ivf_compact_${System.nanoTime()}"
    Similarity.buildIvfIndex(baseDf, path)
    val batch1 = vecsNear(1, 50 until 54).map(t => (t._1, t._3))
      .toDF("vec_id", "embedding")
    val batch2 = (vecsNear(2, 50 until 53).map(t => (t._1, t._3)) :+
        (2L, vecNear(2))) // also replaces base id 2
      .toDF("vec_id", "embedding")
    val rep = Similarity.upsertIvfIndex(spark, path, batch1)
    Similarity.upsertIvfIndex(spark, path, batch2)
    // the drift flag is the prescribed compaction trigger
    rep.filter(col("recluster")).count() should be >= 1L

    def fullProbe() = // nprobe = nlists ⇒ routing-independent, exhaustive
      Similarity.knnIvfUpserted(spark, path, probeNear(1), k = 20, nprobe = 3)
        .select(col("neighbor_id"), round(col("cos_sim"), 9))
        .as[(Long, Double)].collect().toSet
    val before = fullProbe()

    Similarity.compactIvfIndex(spark, path)

    // deltas retired, index complete, served content IDENTICAL (at full
    // nprobe the answer cannot depend on centroid routing)
    new java.io.File(s"$path/lists_delta").exists() shouldBe false
    new java.io.File(s"$path/${Similarity.IndexCompleteMarker}").exists() shouldBe true
    fullProbe() shouldBe before
    // the indexed (delta-unaware) probe now serves the same content too
    Similarity.knnIvfIndexed(spark, path, probeNear(1), k = 20, nprobe = 3)
      .select(col("neighbor_id"), round(col("cos_sim"), 9))
      .as[(Long, Double)].collect().toSet shouldBe before
    // post-compaction report: everything is base now (6+4, 6+4 incl. the
    // replaced id 2 moved from list 0, ...), nothing outstanding
    val after = Similarity.upsertIvfIndex(spark, path,
        spark.emptyDataset[(Long, Seq[Float])].toDF("vec_id", "embedding"))
      .as[(Int, Long, Long, Long, Boolean)].collect().toList
    after.map(r => (r._1, r._3)) shouldBe List((0, 0L), (1, 0L), (2, 0L))
    after.map(_._2).sum shouldBe 25L // 18 base - 1 replaced + 7 upserted + 1 replacement
    // compacting again with nothing outstanding is a no-op read
    Similarity.compactIvfIndex(spark, path).count() shouldBe 3
  }

  /** The compaction crash window the Scaladoc calls benign, exercised
    * for real: a crash AFTER the rebuild's completion marker but BEFORE
    * the delta delete leaves the new base coexisting with stale
    * generations. Those generations hold exactly the rows the base
    * absorbed, so the delta-wins read must serve identical content. */
  test("compactIvfIndex crash window: stale generations left behind mask their own copies") {
    val f = new UpsertFixture(37)
    import f._
    val path = s"target/test_ivf_crash_${System.nanoTime()}"
    Similarity.buildIvfIndex(baseDf, path)
    val batch = (vecsNear(1, 50 until 54).map(t => (t._1, t._3)) :+
        (2L, vecNear(1))) // includes a base-id replacement
      .toDF("vec_id", "embedding")
    Similarity.upsertIvfIndex(spark, path, batch)

    // snapshot the delta dir, compact, then RESTORE the snapshot —
    // exactly the on-disk state of a crash before the delta delete
    val delta = java.nio.file.Paths.get(s"$path/lists_delta")
    val saved = java.nio.file.Paths.get(s"$path/../saved_delta_${System.nanoTime()}")
    def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(from).iterator().asScala.foreach { p =>
        val t = to.resolve(from.relativize(p).toString)
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(p, t,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
    copyTree(delta, saved)
    Similarity.compactIvfIndex(spark, path)
    def probeAll() = Similarity.knnIvfUpserted(spark, path, probeNear(1), k = 20, nprobe = 3)
      .select(col("neighbor_id"), round(col("cos_sim"), 9))
      .as[(Long, Double)].collect().toSet
    val clean = probeAll()
    copyTree(saved, java.nio.file.Files.createDirectories(delta))
    // stale generations present again: served content must not change
    probeAll() shouldBe clean
    // and the NEXT compaction reclaims them for good
    Similarity.compactIvfIndex(spark, path)
    new java.io.File(delta.toString).exists() shouldBe false
    probeAll() shouldBe clean
  }

  /** Three well-separated planted clusters, one seed vector from each as
    * the closed-form init (ids 0,1,2 < k): two Lloyd rounds must land
    * every member with its own seed, and assignments must be invariant
    * across runs (determinism is the operator's contract). */
  test("kmeans: recovers planted clusters and is deterministic") {
    val rng = new scala.util.Random(7)
    val dim = 32
    val bases = Seq.fill(3)(Array.fill(dim)(rng.nextGaussian().toFloat * 3f))
    val members = for {
      (b, ci) <- bases.zipWithIndex
      j <- 0 until 5
    } yield {
      val noisy = b.map(x => x + 0.05f * rng.nextGaussian().toFloat)
      // ids 0,1,2 are one member of each cluster -> they seed the init
      (ci + 3L * j, noisy.toSeq)
    }
    val df = vecDf(members)
    val run = () => Similarity.kmeans(df, k = 3, iters = 2)
      .as[(Long, Long)].collect().toMap
    val got = run()
    for ((id, cluster) <- got) cluster shouldBe (id % 3)
    run() shouldBe got
  }

  test("int8 quantization: values bounded, reconstruction within 0.5/scale, zero vector null") {
    val rng = new scala.util.Random(21)
    val rows = (0L until 50L).map(i => i -> Seq.fill(64)((rng.nextGaussian() * (i + 1)).toFloat))
    val df = vecDf(rows :+ (99L -> Seq.fill(64)(0f)))
    val scale = Similarity.int8Scale(col("embedding"))
    val q = Similarity.int8Quantize(col("embedding"), scale)
    val checked = df.select(
      col("vec_id"),
      scale.as("s"),
      array_max(transform(q, x => abs(x))).as("q_max"),
      array_max(zip_with(
        transform(col("embedding"), _.cast("double")),
        Similarity.int8Dequantize(q, scale),
        (x, xr) => abs(x - xr))).as("err"))
    val rowsOut = checked.filter(col("vec_id") =!= 99L)
      .as[(Long, Double, Int, Double)].collect()
    rowsOut should have size 50
    rowsOut.foreach { case (_, s, qMax, err) =>
      qMax should be <= 127
      qMax shouldBe 127 // the max-|x| element always quantizes to exactly ±127
      err should be <= 0.5 / s + 1e-12
    }
    // all-zero vector: scale is null, quantization stays null (no Inf/NaN)
    checked.filter(col("vec_id") === 99L).select(col("s").isNull).as[Boolean].collect()(0) shouldBe true
  }

  test("int8 coarse scoring preserves exact-kNN ranking on random vectors") {
    // int8 dot ranks ≈ float cosine ranks for same-normed vectors; with a
    // 3x candidate pool the exact re-rank should recover the true top-k
    // almost always — the property knn_quantized's design relies on
    val rng = new scala.util.Random(41)
    val corpus = vecDf((0L until 150L).map(i => i -> Seq.fill(64)(rng.nextGaussian().toFloat)))
    val probes = corpus.filter(col("vec_id") < 3)
    val exact = Similarity.knnExact(corpus, probes, 10)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val sc = Similarity.int8Scale(col("embedding"))
    val qt = corpus.select(col("vec_id"), col("embedding"), sc.as("s"))
      .select(col("vec_id"), col("embedding"),
        Similarity.int8Quantize(col("embedding"), col("s")).as("qv"))
    val pq = qt.filter(col("vec_id") < 3)
      .select(col("vec_id").as("probe_id"), col("qv").as("pq"))
    val coarseTop = qt.select(col("vec_id").as("neighbor_id"), col("qv"))
      .crossJoin(pq)
      .filter(col("neighbor_id") =!= col("probe_id"))
      .select(col("probe_id"), col("neighbor_id"),
        aggregate(zip_with(col("qv"), col("pq"), (a, b) => a * b),
          lit(0L), (acc, x) => acc + x.cast("long")).as("cs"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("probe_id")
          .orderBy(col("cs").desc, col("neighbor_id"))))
      .filter(col("rk") <= 30)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // every true top-10 neighbor must be inside the 3x coarse pool
    val recall = exact.count(coarseTop.contains).toDouble / exact.size
    withClue(s"coarse recall=$recall") { recall should be >= 0.9 }
  }

  test("embNearDupPairs: planted duplicate found, unrelated pair not") {
    val rng = new scala.util.Random(13)
    val base = Array.fill(64)(rng.nextGaussian().toFloat)
    val nearDup = base.map(x => x * 1.001f + 0.001f * rng.nextGaussian().toFloat)
    val others = (3L to 30L).map(i => (i, Seq.fill(64)(rng.nextGaussian().toFloat)))
    val corpus = vecDf(Seq((1L, base.toSeq), (2L, nearDup.toSeq)) ++ others)
    val pairs = Similarity.embNearDupPairs(corpus, threshold = 0.95)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    pairs should contain((1L, 2L))
    pairs.size shouldBe 1
  }

  test("semDedup: within-cluster duplicate dropped (min-id kept), cross-cluster untouched") {
    // two planted clusters along the axes; 3 ≈ dup of 0, 4 = dup of 1.
    // kmeans seed = the two smallest ids (0 → [1,0], 1 → [0,1]), so the
    // final cells split the corpus by axis and each dup lands with its
    // original; 2 sits in cluster 1 but below the threshold
    val corpus = vecDf(Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)), (2L, Seq(0.6f, 0.8f)),
      (3L, Seq(1f, 0.001f)), (4L, Seq(0f, 1f))))
    val out = Similarity.semDedup(corpus, k = 2, iters = 2, threshold = 0.99)
      .select("vec_id", "cluster", "dropped", "n_close", "max_sim")
      .as[(Long, Long, Int, Long, Double)].collect().sortBy(_._1)
    out.map(_._1).toSeq shouldBe Seq(0L, 1L, 2L, 3L, 4L)
    out.map(r => r._1 -> r._3).toMap shouldBe
      Map(0L -> 0, 1L -> 0, 2L -> 0, 3L -> 1, 4L -> 1)
    // dups report exactly one close smaller-id mate at cosine ≈ 1
    out.filter(_._3 == 1).foreach { r =>
      r._4 shouldBe 1L
      r._5 shouldBe 1.0 +- 1e-6
    }
    // the two cells are the seed ids, and dups share their original's cell
    out.find(_._1 == 3L).get._2 shouldBe out.find(_._1 == 0L).get._2
    out.find(_._1 == 4L).get._2 shouldBe out.find(_._1 == 1L).get._2
    out.find(_._1 == 2L).get._2 shouldBe out.find(_._1 == 1L).get._2
  }

  test("ann_recall: per-(probe,method) rows; ivf n_hit equals the independently computed intersection") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.queries.SimilarityQueries.annRecall(spark, dir)
      .select("probe_id", "method", "n_hit", "recall_at_k")
      .as[(Long, String, Long, Double)].collect().toSeq
    // one row per (probe, method), every probe covered even at zero hits
    rows.map(r => (r._1, r._2)).distinct.size shouldBe rows.size
    rows.groupBy(_._2).view.mapValues(_.map(_._1).sorted.toList).toMap shouldBe
      Map("ivf" -> List(0L, 1L, 2L, 3L, 4L), "lsh" -> List(0L, 1L, 2L, 3L, 4L),
        "lsh_mp" -> List(0L, 1L, 2L, 3L, 4L))
    // multi-probe searches a candidate superset of single-probe, so its
    // per-probe hit count dominates (see the monotonicity argument in
    // the planted-cluster test)
    val byPm = rows.map(r => (r._1, r._2) -> r._3).toMap
    (0L until 5L).foreach { p =>
      byPm((p, "lsh_mp")) should be >= byPm((p, "lsh"))
    }
    rows.foreach { r =>
      r._3 should (be >= 0L and be <= 10L)
      r._4 shouldBe r._3.toDouble / 10
    }
    // the ivf rows must equal the intersection computed straight from the
    // two searches — gates the join/agg plumbing, not the searches
    val e = graft.core.Tables.embeddings(spark, dir)
    val probes = e.filter(col("vec_id") < 5)
    def ids(df: org.apache.spark.sql.DataFrame) = df
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = ids(Similarity.knnTopKAgg(e, probes, 10))
    val ivf = ids(Similarity.knnIvf(e, probes, 10, nprobe = 2))
    rows.filter(_._2 == "ivf").foreach { r =>
      r._3 shouldBe (exact(r._1) & ivf.getOrElse(r._1, Set.empty)).size.toLong
    }
  }

  test("ann_nprobe_sweep: recall and scan cost monotone in nprobe; nprobe=2 agrees with ann_recall's ivf") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.queries.SimilarityQueries.annNprobeSweep(spark, dir)
      .select("nprobe", "probe_id", "n_hit", "recall_at_k", "n_scanned", "scan_frac")
      .as[(Int, Long, Long, Double, Long, Double)].collect().toSeq
    val sweep = graft.queries.SimilarityQueries.NprobeSweep
    rows.map(r => (r._1, r._2)).sorted shouldBe
      (for (np <- sweep; p <- 0L until 5L) yield (np, p)).sorted
    rows.foreach { r =>
      r._4 shouldBe r._3.toDouble / 10
      r._5 should be > 0L
      r._6 should (be > 0.0 and be <= 1.0)
    }
    // deeper probing only adds candidate lists: per probe, both the hit
    // count and the scanned row count are nondecreasing in nprobe
    rows.groupBy(_._2).values.foreach { g =>
      val byNp = g.sortBy(_._1)
      byNp.sliding(2).foreach {
        case Seq(a, b) =>
          b._3 should be >= a._3
          b._5 should be > a._5
        case _ =>
      }
    }
    // the sweep's nprobe=2 point must agree with ann_recall's ivf row —
    // two independent implementations of the same search
    val recallIvf = graft.queries.SimilarityQueries.annRecall(spark, dir)
      .filter(col("method") === "ivf")
      .select("probe_id", "n_hit").as[(Long, Long)].collect().toMap
    rows.filter(_._1 == 2).foreach { r => r._3 shouldBe recallIvf(r._2) }
  }

  test("decon_semantic: agrees with the near-dup pair set restricted to eval×train") {
    val dir = "/root/testdata/sf0.001"
    val out = graft.queries.SimilarityQueries.deconSemantic(spark, dir)
      .select("vec_id", "n_train_hits", "max_sim", "contaminated")
      .as[(Long, Long, Double, Int)].collect().toSeq
    out.length shouldBe 50
    out.foreach { r =>
      (r._2 > 0) shouldBe (r._4 == 1)
      if (r._4 == 1) r._3 should be >= 0.35 else r._3 shouldBe 0.0
    }
    // the decon hits are exactly the symmetric near-dup pairs with one
    // side in each split (same planes, threshold, and rounding; eval
    // ids sort below train ids so a_id is always the eval side)
    val pairs = Similarity.embNearDupPairs(
        graft.core.Tables.embeddings(spark, dir), threshold = 0.35, nPlanes = 4)
      .select("a_id", "b_id").as[(Long, Long)].collect()
    val expected = pairs.collect { case (a, b) if a < 50 && b >= 50 => a }
      .groupBy(identity).view.mapValues(_.length).toMap
    out.foreach { r => r._2 shouldBe expected.getOrElse(r._1, 0).toLong }
  }
}
