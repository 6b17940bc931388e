package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Dedup operators on a planted corpus: A ≈ B (one token changed),
  * D == A up to case/punctuation, C unrelated. These are the correctness
  * gates for the hash-based ops that have no DuckDB oracle. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val baseText =
    "spark table scan filter join group window agg sort merge shuffle " +
      "partition broadcast hash value column row batch stream state"
  private val nearText = baseText.replace("shuffle", "exchange") // 1 token differs
  private val unrelated =
    "quick brown fox jumps over lazy dog again and again with zeal " +
      "purple monkey dishwasher banana umbrella xylophone quartz vivid"

  private val docs = Seq(
    (1L, baseText),
    (2L, nearText),
    (3L, unrelated),
    (4L, baseText.toUpperCase + "!!!") // exact dup of 1 after normalization
  ).toDF("doc_id", "text")

  test("exactGroups: normalized exact duplicates collapse to the min doc_id") {
    val groups = Dedup.exactGroups(docs).collect()
    groups should have length 3
    val g = groups.find(_.getAs[Long]("n_dups") == 2L).get
    g.getAs[Long]("keep_id") shouldBe 1L
  }

  test("MinHash LSH: near-dup pair is a candidate; unrelated docs are not") {
    val pairs = Dedup.candidatePairs(docs)
      .as[(Long, Long)].collect().toSet
    pairs should contain((1L, 2L))
    pairs should not contain ((1L, 3L))
    pairs should not contain ((2L, 3L))
  }

  test("nearDupPairs: jaccard-verified pairs at 0.5 include (1,2) and the exact dup") {
    val verified = Dedup.nearDupPairs(docs, threshold = 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    verified should contain((1L, 2L))
    verified should contain((1L, 4L)) // exact dup: jaccard 1.0
    verified should not contain ((1L, 3L))
  }

  test("jaccard: exact set math on small arrays") {
    val j = Seq((Seq("a", "b", "c"), Seq("b", "c", "d")))
      .toDF("x", "y")
      .select(Dedup.jaccard(col("x"), col("y"))).as[Double].collect()(0)
    j shouldBe 0.5 // |{b,c}| / |{a,b,c,d}|
  }

  test("jaccard: duplicate-containing arrays are treated as sets (r2 regression)") {
    val rows = Seq(
      (Seq("a", "a"), Seq("a", "a"), 1.0), // self-sim must be 1 despite dups
      (Seq("a", "a", "b"), Seq("b", "b", "c"), 1.0 / 3.0), // {a,b}∩{b,c}={b}, ∪={a,b,c}
      (Seq.empty[String], Seq.empty[String], 0.0)
    ).toDF("x", "y", "expect")
    val got = rows.select(Dedup.jaccard(col("x"), col("y")).as("j"), col("expect"))
      .as[(Double, Double)].collect()
    got.foreach { case (j, e) => j shouldBe e }
  }

  test("SimHash: near-dups within a few bits, unrelated docs far apart") {
    val th = docs.withColumn("th", Dedup.tokenHashes(Text.tokens(col("text"))))
      .select(col("doc_id"), Dedup.simhash64(col("th")).as("sim"))
      .as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    ham(th(1L), th(4L)) shouldBe 0 // normalized-identical
    ham(th(1L), th(2L)) should be < 12
    ham(th(1L), th(3L)) should be > 16
  }

  test("simhashTable: explode+aggregate plan matches the fold form doc-for-doc") {
    val withEmpty = docs.union(Seq((5L, ""), (6L, "   ")).toDF("doc_id", "text"))
    val fold = withEmpty
      .withColumn("th", Dedup.tokenHashes(Text.tokens(col("text"))))
      .select(col("doc_id"), Dedup.simhash64(col("th")).as("simhash"))
      .as[(Long, Long)].collect().toMap
    val table = Dedup.simhashTable(withEmpty)
      .as[(Long, Long)].collect().toMap
    table shouldBe fold
    table(5L) shouldBe 0L // empty docs survive explode_outer, fingerprint 0
  }

  test("simhashBands: identical fingerprints share all bands; near-dups share ≥1") {
    val sims = docs.withColumn("th", Dedup.tokenHashes(Text.tokens(col("text"))))
      .withColumn("sim", Dedup.simhash64(col("th")))
      .select(col("doc_id"), explode(Dedup.simhashBands(col("sim"))).as("k"))
      .select(col("doc_id"), col("k.band"), col("k.bucket"))
      .as[(Long, Int, Long)].collect()
    val byDoc = sims.groupBy(_._1).view.mapValues(_.map(x => (x._2, x._3)).toSet).toMap
    (byDoc(1L) intersect byDoc(4L)).size shouldBe 4
    (byDoc(1L) intersect byDoc(2L)).size should be >= 1
  }

  test("connectedComponents: chains collapse to the min label; disjoint components stay apart") {
    // default path: the edge set is under DriverFinishEdges, so this
    // exercises the driver-side union-find finish
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a_id", "b_id")
    val cc = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    cc shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L)
  }

  test("connectedComponents: cycle converges and maxIters guard throws when too tight") {
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("a_id", "b_id")
    Dedup.connectedComponents(cycle, driverFinishEdges = 0L)
      .as[(Long, Long)].collect().toMap shouldBe
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L)
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a_id", "b_id")
    an[IllegalStateException] should be thrownBy
      Dedup.connectedComponents(chain, maxIters = 1, driverFinishEdges = 0L)
  }

  test("star contraction: O(log n) rounds on a 64-node chain where min-label is O(n)") {
    val chain = (1L until 64L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val (labels, rounds) = Dedup.ccStar(chain)
    // doubling contraction: ~log2(64)=6 rounds + detection; far under the
    // chain's 63-round min-label diameter
    rounds should be <= 12
    labels.as[(Long, Long)].collect().toMap shouldBe
      (1L to 64L).map(_ -> 1L).toMap
  }

  test("star mid-loop endgame: cutover below the bound labels a chain exactly") {
    // 200-node chain = 199 oriented edges: above a bound of 150, so the
    // pre-check takes the distributed path; after one star round the
    // contracted set is under the bound and the endgame union-find must
    // finish it — labels identical to the pure distributed run
    val chain = (1L until 200L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val expect = (1L to 200L).map(_ -> 1L).toMap
    Dedup.connectedComponents(chain, driverFinishEdges = 150L)
      .as[(Long, Long)].collect().toMap shouldBe expect
    Dedup.connectedComponents(chain, driverFinishEdges = 0L)
      .as[(Long, Long)].collect().toMap shouldBe expect
  }

  test("connectedComponents: non-integral ids route around the driver finish and still label correctly") {
    // string fingerprints as node ids: the driver union-find holds longs,
    // so the default call must fall through to the distributed path (no
    // runtime cast failure) and produce min-id components under STRING
    // ordering ("b10" < "b2" lexicographically — asserted on purpose)
    val pairs = Seq(("b2", "a1"), ("b2", "b10"), ("c7", "c8"))
      .toDF("a_id", "b_id")
    Dedup.connectedComponents(pairs).as[(String, String)].collect().toMap shouldBe
      Map("a1" -> "a1", "b2" -> "a1", "b10" -> "a1", "c7" -> "c7", "c8" -> "c7")
  }

  test("star contraction and driver-finish: same components, incl. cycle and self-pair") {
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (22L, 20L), (30L, 30L)).toDF("a_id", "b_id")
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L, 30L -> 30L)
    Dedup.connectedComponents(pairs, driverFinishEdges = 0L)
      .as[(Long, Long)].collect().toMap shouldBe expect
    // the hybrid's small-edge path must agree exactly
    Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap shouldBe expect
  }

  test("nearDupGroups: planted A~B~C chain collapses to one canonical; singletons self-map") {
    // 26 tokens; B differs from A at one position, C from B at another far
    // away. Pairwise shingle jaccard: A~B = B~C = 21/27 ≈ 0.78 (≥ 0.7),
    // A~C = 18/30 = 0.6 (< 0.7) — so ONLY the transitive chain links A to
    // C, which is exactly what group resolution must handle.
    val ws = ('a' to 'z').map(ch => s"tok$ch").toVector
    val a = ws.mkString(" ")
    val b = ws.updated(12, "metamorphosis").mkString(" ")
    val c = ws.updated(12, "metamorphosis").updated(19, "calibration").mkString(" ")
    val docs = Seq((1L, a), (2L, b), (3L, c), (4L, unrelated)).toDF("doc_id", "text")
    val groups = Dedup.nearDupGroups(docs, threshold = 0.7)
      .as[(Long, Long)].collect().toMap
    groups shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L)
  }

  private def tokDf(rows: Seq[(Long, Seq[String])]) =
    rows.map { case (id, ts) => (id, ts.mkString(" ")) }
      .toDF("doc_id", "text")
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))

  test("substringSpans: planted duplicated paragraph found exactly once, maximal, positions exact") {
    val p = (1 to 20).map(i => s"shared$i")
    val docs = tokDf(Seq(
      1L -> ((1 to 10).map(i => s"apre$i") ++ p ++ (1 to 5).map(i => s"asuf$i")),
      2L -> ((1 to 7).map(i => s"bpre$i") ++ p ++ (1 to 8).map(i => s"bsuf$i")),
      3L -> (1 to 30).map(i => s"cuniq$i")))
    val spans = Dedup.substringSpans(docs).collect()
    spans should have length 1
    val s = spans.head
    s.getAs[Long]("a_id") shouldBe 1L
    s.getAs[Long]("b_id") shouldBe 2L
    // maximality: the run is exactly the paragraph — flanking tokens
    // differ, so the span must be 20 tokens starting at each doc's
    // paragraph offset, not one token more or less
    s.getAs[Long]("a_start") shouldBe 10L
    s.getAs[Long]("b_start") shouldBe 7L
    s.getAs[Long]("span_tokens") shouldBe 20L
  }

  test("substringSpans: minSpan boundary — 16 shared tokens report, 15 do not") {
    val p16 = (1 to 16).map(i => s"sh$i")
    val docs16 = tokDf(Seq(
      1L -> (Seq("ax1", "ax2") ++ p16 ++ Seq("ay1")),
      2L -> (Seq("bx1") ++ p16 ++ Seq("by1", "by2"))))
    val got = Dedup.substringSpans(docs16).collect()
    got should have length 1
    got.head.getAs[Long]("span_tokens") shouldBe 16L
    val docs15 = tokDf(Seq(
      1L -> (Seq("ax1", "ax2") ++ p16.take(15) ++ Seq("ay1")),
      2L -> (Seq("bx1") ++ p16.take(15) ++ Seq("by1", "by2"))))
    Dedup.substringSpans(docs15).count() shouldBe 0L
  }

  test("substringSpans: dfCap drops hyper-frequent grams (boilerplate guard)") {
    // 20 identical docs: every gram occurs 20 × > dfCap 16 → no pairs
    // survive; raising the cap to 20 admits all C(20,2) clone pairs
    val clones = tokDf((1L to 20L).map(i => i -> (1 to 30).map(j => s"t$j")))
    Dedup.substringSpans(clones).count() shouldBe 0L
    Dedup.substringSpans(clones, dfCap = 20L).count() shouldBe 190L
  }

  test("substringCoverage: overlapping spans interval-merge, never double-count") {
    // A = t1..t30; B shares A's [0,20), C shares A's [10,30) — A's
    // covered union is the whole doc (30 tokens), NOT 40; B∩C is only
    // 10 contiguous tokens (< minSpan) so no B-C span interferes
    val at = (1 to 30).map(i => s"t$i")
    val docs = tokDf(Seq(
      1L -> at,
      2L -> (at.take(20) ++ (1 to 6).map(i => s"btail$i")),
      3L -> (at.drop(10) ++ (1 to 6).map(i => s"ctail$i"))))
    val rows = Dedup.substringCoverage(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("dup_tokens"),
          r.getAs[Double]("dup_ratio")))).toMap
    rows(1L) shouldBe ((30L, 30L, 1.0))
    rows(2L) shouldBe ((26L, 20L, 0.769231))
    rows(3L) shouldBe ((26L, 20L, 0.769231))
  }

  test("substringCoverage: identical interval from two partners counts once (tie-order regression)") {
    // A's paragraph is duplicated in BOTH B and C at the same offsets →
    // A receives the IDENTICAL interval twice; tied (s, e) rows must not
    // seed two islands (the DuckDB run-to-run double-count this guards)
    val p = (1 to 20).map(i => s"t$i")
    val docs = tokDf(Seq(
      1L -> (p ++ (1 to 5).map(i => s"atail$i")),
      2L -> (p ++ (1 to 6).map(i => s"btail$i")),
      3L -> (p ++ (1 to 7).map(i => s"ctail$i"))))
    val rows = Dedup.substringCoverage(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("dup_tokens")).toMap
    rows(1L) shouldBe 20L // twice-duplicated, counted once
    rows(2L) shouldBe 20L
    rows(3L) shouldBe 20L
  }

  test("substringTrim: exactly one copy of a 3-way duplicated paragraph survives, in the smallest id") {
    val p = (1 to 20).map(i => s"t$i")
    val docs = tokDf(Seq(
      1L -> (p ++ (1 to 5).map(i => s"atail$i")),
      2L -> (p ++ (1 to 6).map(i => s"btail$i")),
      3L -> (p ++ (1 to 7).map(i => s"ctail$i"))))
    val rows = Dedup.substringTrim(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("cut_tokens"),
          r.getAs[Long]("kept_tokens")))).toMap
    rows(1L) shouldBe ((25L, 0L, 25L))  // canonical copy survives
    rows(2L) shouldBe ((26L, 20L, 6L))  // cut once despite two partners
    rows(3L) shouldBe ((27L, 20L, 7L))
  }

  test("substringRewrite: spliced token stream is exactly the doc minus its cut spans") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val p = (1 to 16).map(i => s"sh$i")
    val aToks = (1 to 3).map(i => s"apre$i") ++ p ++ (1 to 2).map(i => s"asuf$i")
    val bToks = p ++ (1 to 4).map(i => s"btail$i")
    val rows = Dedup.substringRewrite(tokDf(Seq(1L -> aToks, 2L -> bToks)))
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("kept_n"), r.getAs[String]("kept_md5")))).toMap
    // smaller id keeps everything, larger id keeps only its tail — and
    // the md5 pins the spliced CONTENT, not just the count
    rows(1L) shouldBe ((21L, md5hex(aToks.mkString(" "))))
    rows(2L) shouldBe ((4L, md5hex((1 to 4).map(i => s"btail$i").mkString(" "))))
    // fully-cut doc: empty stream, md5("")
    val full = Dedup.substringRewrite(tokDf(Seq(1L -> p, 2L -> p))).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("kept_n"), r.getAs[String]("kept_md5")))).toMap
    full(2L) shouldBe ((0L, md5hex("")))
  }

  test("substringSelfSpans: planted periodic text found with its period; clean text yields nothing") {
    // doc 1: "p1..p6" repeated twice with distinct filler around it —
    // one self-repeat of period 8 (6 shared + 2 filler) is NOT planted;
    // keep it simple: P then X then P again → period = |P| + |X|
    val p = (1 to 6).map(i => s"p$i")
    val doc1 = (1 to 2).map(i => s"pre$i") ++ p ++ Seq("mid1", "mid2") ++ p ++ Seq("end1")
    val doc2 = (1 to 20).map(i => s"u$i") // all-unique: no self-repeats
    val spans = Dedup.substringSelfSpans(
      tokDf(Seq(1L -> doc1, 2L -> doc2)), k = 3, minSpan = 4)
      .collect()
    spans should have length 1
    val s = spans.head
    s.getAs[Long]("doc_id") shouldBe 1L
    s.getAs[Long]("a_start") shouldBe 2L          // first P occurrence
    s.getAs[Long]("b_start") shouldBe 10L         // second P occurrence
    s.getAs[Long]("period") shouldBe 8L           // |P| + |mid|
    s.getAs[Long]("span_tokens") shouldBe 6L      // the repeated paragraph
  }

  test("LSH bucket cap drops pathological buckets") {
    // 5 identical docs → every bucket has 5 members; cap 4 → no pairs survive
    val clones = (1L to 5L).map(i => (i, baseText)).toDF("doc_id", "text")
    Dedup.candidatePairs(clones, maxBucketSize = 4).count() shouldBe 0L
    Dedup.candidatePairs(clones, maxBucketSize = 5).count() shouldBe 10L // C(5,2)
  }

  test("near-dup band tier: lifecycle with fingerprint gate, crash-safe gens, idempotent compaction") {
    val path = s"target/test_ndi_${System.nanoTime()}"
    val fp = "ndi:test:v1"
    def keys(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "key")
    def decide(p: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long)] =
      Dedup.queryNearDupIndex(spark, path, p)
        .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    // no tier: serves=false, upsert refuses
    Dedup.nearDupTier(spark, path).serves(fp) shouldBe false
    an[IllegalArgumentException] should be thrownBy
      Dedup.upsertNearDupIndex(spark, path, keys(9L -> "x"), fp)
    // base: 1,2 share "x"; 3 on "y"; 4 on "z"
    Dedup.buildNearDupIndex(spark, path, keys(
      1L -> "x", 2L -> "x", 3L -> "y", 4L -> "z"), fp)
    Dedup.nearDupTier(spark, path).serves(fp) shouldBe true
    // the marker's fingerprint gates banding identity, not existence
    Dedup.nearDupTier(spark, path).serves("ndi:test:v2") shouldBe false
    // probe: 10 matches {1,2} → keep-first dup_of 1; 11 matches nothing;
    // 0 matches nothing because only SMALLER indexed ids count
    decide(keys(10L -> "x", 11L -> "q", 0L -> "x")) shouldBe
      Map(10L -> (1L, 2L))
    // upsert gen 1: doc 10 joins the "x" bucket
    Dedup.upsertNearDupIndex(spark, path, keys(10L -> "x"), fp)
    Dedup.nearDupTier(spark, path).gens shouldBe Seq(1)
    decide(keys(12L -> "x")) shouldBe Map(12L -> (1L, 3L))
    // a CRASHED generation (files, no completion marker) is invisible...
    keys(99L -> "x").write.mode("overwrite")
      .parquet(s"$path/ndi_delta/gen=2/bands")
    Dedup.nearDupTier(spark, path).gens shouldBe Seq(1)
    decide(keys(12L -> "x")) shouldBe Map(12L -> (1L, 3L))
    // ...and its slot is reclaimed by the next upsert's overwrite
    Dedup.upsertNearDupIndex(spark, path, keys(20L -> "y"), fp)
    Dedup.nearDupTier(spark, path).gens shouldBe Seq(1, 2)
    decide(keys(21L -> "y")) shouldBe Map(21L -> (3L, 2L))
    // compaction folds gens into the base and serves identically
    Dedup.compactNearDupIndex(spark, path, fp)
    Dedup.nearDupTier(spark, path).gens shouldBe Seq.empty
    Dedup.nearDupTier(spark, path).serves(fp) shouldBe true
    decide(keys(12L -> "x", 21L -> "y")) shouldBe
      Map(12L -> (1L, 3L), 21L -> (3L, 2L))
    // compacting an empty-delta tier is a no-op, not a crash
    Dedup.compactNearDupIndex(spark, path, fp)
    decide(keys(12L -> "x")) shouldBe Map(12L -> (1L, 3L))
  }

  test("near-dup band tier: maybeCompact holds off under both bars, fires on gens bar") {
    val path = s"target/test_ndi_policy_${System.nanoTime()}"
    val fp = "ndi:test:v1"
    def keys(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "key")
    Dedup.buildNearDupIndex(spark, path,
      keys((1L to 8L).map(i => i -> s"k$i"): _*), fp)
    // no gens: never fires
    Dedup.maybeCompactNearDupIndex(spark, path, fp, maxGens = 1) shouldBe false
    // one small gen, gens bar 2, ratio off: holds
    Dedup.upsertNearDupIndex(spark, path, keys(10L -> "k1"), fp)
    Dedup.maybeCompactNearDupIndex(spark, path, fp, maxGens = 2,
      maxRatio = Double.PositiveInfinity) shouldBe false
    Dedup.nearDupTier(spark, path).gens shouldBe Seq(1)
    // second gen reaches the gens bar: fires and folds
    Dedup.upsertNearDupIndex(spark, path, keys(11L -> "k2"), fp)
    Dedup.maybeCompactNearDupIndex(spark, path, fp, maxGens = 2,
      maxRatio = Double.PositiveInfinity) shouldBe true
    Dedup.nearDupTier(spark, path).gens shouldBe Seq.empty
    // ratio bar: 1 delta row / 8 base rows ≥ 0.1 fires
    Dedup.upsertNearDupIndex(spark, path, keys(12L -> "k3"), fp)
    Dedup.maybeCompactNearDupIndex(spark, path, fp, maxGens = 99,
      maxRatio = 0.1) shouldBe true
    Dedup.nearDupTier(spark, path).gens shouldBe Seq.empty
  }
}
