package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Persisted lexical (BM25) tier: lifecycle discipline (marker +
  * fingerprint, crash-safe generations, compaction) and scoring
  * sanity. The value-level BM25 contract is carried by the oracle
  * gates (`search_bm25_*`); here we pin the tier mechanics the oracle
  * can't see. */
class LexSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "alpha beta gamma delta common common"),
    (2L, "alpha beta epsilon zeta common common"),
    (3L, "eta theta iota kappa common common"),
    (4L, "alpha beta gamma delta common common")).toDF("doc_id", "text")

  private val fp = "lex:test:v1"

  test("lifecycle: fingerprint gate, crash-safe generations, fold-and-retire compaction") {
    val path = s"target/test_lex_${System.nanoTime()}"
    // no tier: serves=false, upsert refuses
    Lex.tier(spark, path).serves(fp) shouldBe false
    an[IllegalArgumentException] should be thrownBy
      Lex.upsertLexIndex(spark, path, docs.limit(1), fp)
    Lex.buildLexIndex(spark, path, docs.filter(col("doc_id") <= 2L), fp)
    Lex.tier(spark, path).serves(fp) shouldBe true
    // fingerprint gates tokenizer identity, not existence
    Lex.tier(spark, path).serves("lex:test:v2") shouldBe false

    // probe doc 10 shares alpha/beta with docs 1,2 — both candidates,
    // scored; max_df = 100% admits every token
    def hits(maxDfPct: Int): Map[Long, Set[Long]] =
      Lex.queryLexIndex(spark, path,
          Seq((10L, "alpha beta common")).toDF("doc_id", "text"), maxDfPct)
        .select("probe_id", "cand_id")
        .as[(Long, Long)].collect().groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
    hits(100) shouldBe Map(10L -> Set(1L, 2L))
    // max_df 49% (df*100 <= 49*n) drops every df-2 token on the 2-doc
    // base — the probe carries no singleton tokens, so no candidates
    hits(49) shouldBe Map.empty

    // upsert gen 1: doc 3 joins the index — it shares "common" (df 3
    // of n 3, inside max_df 100%) with the probe, so it becomes a
    // candidate
    Lex.upsertLexIndex(spark, path, docs.filter(col("doc_id") === 3L), fp)
    Lex.tier(spark, path).gens shouldBe Seq(1)
    hits(100) shouldBe Map(10L -> Set(1L, 2L, 3L))

    // a CRASHED generation (files, no marker) is invisible...
    val (p4, d4) = Lex.factTables(docs.filter(col("doc_id") === 4L))
    p4.write.mode("overwrite").parquet(s"$path/lex_delta/gen=2/postings")
    d4.write.mode("overwrite").parquet(s"$path/lex_delta/gen=2/dlen")
    Lex.tier(spark, path).gens shouldBe Seq(1)
    hits(100) shouldBe Map(10L -> Set(1L, 2L, 3L))
    // ...and reclaimed by the next upsert
    Lex.upsertLexIndex(spark, path, docs.filter(col("doc_id") === 4L), fp)
    Lex.tier(spark, path).gens shouldBe Seq(1, 2)
    hits(100) shouldBe Map(10L -> Set(1L, 2L, 3L, 4L))

    // compaction folds and retires; decisions identical
    Lex.compactLexIndex(spark, path, fp)
    Lex.tier(spark, path).gens shouldBe Seq.empty
    Lex.tier(spark, path).serves(fp) shouldBe true
    hits(100) shouldBe Map(10L -> Set(1L, 2L, 3L, 4L))
    // no-op compaction doesn't crash
    Lex.compactLexIndex(spark, path, fp)
    hits(100) shouldBe Map(10L -> Set(1L, 2L, 3L, 4L))
  }

  test("upsert changes GLOBAL stats, not just postings: served scores equal a fresh full build") {
    val base = docs.filter(col("doc_id") <= 2L)
    val delta = docs.filter(col("doc_id") === 3L)
    val probe = Seq((10L, "alpha beta eta")).toDF("doc_id", "text")
    def served(build: org.apache.spark.sql.DataFrame,
               up: Option[org.apache.spark.sql.DataFrame]): Seq[(Long, Long, Double)] = {
      val path = s"target/test_lex_stats_${System.nanoTime()}"
      Lex.buildLexIndex(spark, path, build, fp)
      up.foreach(Lex.upsertLexIndex(spark, path, _, fp))
      Lex.queryLexIndex(spark, path, probe, 100)
        .select("probe_id", "cand_id", "__score")
        .as[(Long, Long, Double)].collect().sortBy(_._2).toSeq
    }
    val upserted = served(base, Some(delta))
    val rebuilt = served(docs.filter(col("doc_id") <= 3L), None)
    // bit-identical scores: N, df, avgdl all recomputed from the
    // merged tier — the serve-equals-rebuild contract
    upserted shouldBe rebuilt
    upserted.map(_._2) shouldBe Seq(1L, 2L, 3L)
  }

  test("persisted per-gen statistics fold to exactly a fresh full build's aggregates") {
    val path = s"target/test_lex_fold_${System.nanoTime()}"
    Lex.buildLexIndex(spark, path, docs.filter(col("doc_id") <= 2L), fp)
    Lex.upsertLexIndex(spark, path, docs.filter(col("doc_id") === 3L), fp)
    Lex.upsertLexIndex(spark, path, docs.filter(col("doc_id") === 4L), fp)
    val (dfF, statsF) = Lex.lexTierStats(spark, path)
    val (p, d) = Lex.factTables(docs)
    val (dfR, statsR) = Lex.statTables(p, d)
    dfF.select("t", "df").orderBy("t").as[(String, Long)].collect().toSeq shouldBe
      dfR.orderBy("t").as[(String, Long)].collect().toSeq
    statsF.as[(Long, Long)].collect().toSeq shouldBe
      statsR.as[(Long, Long)].collect().toSeq
    // the WAND-bound stats fold too: per-token max tf / min dl across
    // generations must equal a fresh full build's aggregates (max of
    // maxes / min of mins over disjoint doc sets)
    val boundsR = p.join(d, "doc_id").groupBy("t")
      .agg(max("tf").as("max_tf"), min("dl").as("min_dl"))
      .orderBy("t").as[(String, Long, Long)].collect().toSeq
    dfF.select("t", "max_tf", "min_dl").orderBy("t")
      .as[(String, Long, Long)].collect().toSeq shouldBe boundsR
    // and the fold survives compaction (the base then carries the
    // reaggregated tables)
    Lex.compactLexIndex(spark, path, fp)
    val (dfC, statsC) = Lex.lexTierStats(spark, path)
    dfC.select("t", "df").orderBy("t").as[(String, Long)].collect().toSeq shouldBe
      dfR.orderBy("t").as[(String, Long)].collect().toSeq
    statsC.as[(Long, Long)].collect().toSeq shouldBe
      statsR.as[(Long, Long)].collect().toSeq
    dfC.select("t", "max_tf", "min_dl").orderBy("t")
      .as[(String, Long, Long)].collect().toSeq shouldBe boundsR
  }

  test("WAND serve equals the exact serve exactly, across generations and compaction") {
    val path = s"target/test_lex_wand_${System.nanoTime()}"
    Lex.buildLexIndex(spark, path, docs.filter(col("doc_id") <= 2L), fp)
    Lex.upsertLexIndex(spark, path, docs.filter(col("doc_id") === 3L), fp)
    Lex.upsertLexIndex(spark, path, docs.filter(col("doc_id") === 4L), fp)
    val probe = Seq((10L, "alpha beta eta common")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Double] =
      df.select("probe_id", "cand_id", "__score")
        .as[(Long, Long, Double)].collect()
        .map { case (p, c, s) => (p, c) -> s }.toMap
    val exact = rows(Lex.queryLexIndex(spark, path, probe, 100))
    // topK = 1: the TIGHTEST threshold — pairs may be legitimately
    // pruned below the per-probe best, but every kept pair's score
    // must be bit-equal and the top-1 must survive; topK ≥ |cands|
    // must reproduce the exact serve verbatim
    val wandWide = rows(Lex.queryLexIndexWand(spark, path, probe, 100, topK = 20))
    wandWide shouldBe exact
    val wand1 = Lex.queryLexIndexWand(spark, path, probe, 100, topK = 1)
      .select("probe_id", "cand_id", "__score")
      .as[(Long, Long, Double)].collect()
      .map { case (p, c, s) => (p, c) -> s }.toMap
    wand1.foreach { case (k, s) => s shouldBe exact(k) }
    val best = exact.maxBy { case ((_, c), s) => (s, -c) }
    wand1.keySet should contain(best._1)
    // survives compaction
    Lex.compactLexIndex(spark, path, fp)
    rows(Lex.queryLexIndexWand(spark, path, probe, 100, topK = 20)) shouldBe exact
  }

  test("WAND degenerate-shape dispatch: flat vocabulary routes exact, discriminating bounds route wand, served top-k identical either way") {
    // the dispatch is a PERF heuristic — output is hash-identical by
    // construction whichever way it lands (pruning is lossless and both
    // routes score through the shared bm25Scores form); this test pins
    // (a) the ROUTING on the two canonical shapes and (b) the top-k
    // equivalence the losslessness argument promises
    def topk(df: org.apache.spark.sql.DataFrame, k: Int): Map[Long, Seq[(Long, Double)]] =
      df.select("probe_id", "cand_id", "__score")
        .as[(Long, Long, Double)].collect()
        .groupBy(_._1).map { case (p, rs) =>
          p -> rs.sortBy(r => (-r._3, r._2)).take(k).map(r => (r._2, r._3)).toSeq
        }

    // FLAT: every doc carries the whole probed vocabulary — no bound
    // can fall below θ, survivors would be all pairs, the serve must
    // fall through to the exact path
    val flatPath = s"target/test_lex_disp_flat_${System.nanoTime()}"
    val vocab = (0 until 12).map(j => s"w$j").mkString(" ")
    Lex.buildLexIndex(spark, flatPath,
      (0L until 50L).map(i => (i, vocab)).toDF("doc_id", "text"), fp)
    val probeF = Seq((1000L, vocab)).toDF("doc_id", "text")
    val dispF = topk(Lex.queryLexIndexWand(spark, flatPath, probeF, 100, topK = 3), 3)
    Lex.lastWandRoute shouldBe "exact"
    val forcF = topk(Lex.queryLexIndexWand(spark, flatPath, probeF, 100,
      topK = 3, dispatch = false), 3)
    Lex.lastWandRoute shouldBe "wand:forced"
    dispF shouldBe forcF

    // SKEWED: two docs share the probe's rare high-idf tokens while the
    // rest share only the stopword-ish tail — θ seeds above the tail
    // bound and nearly the whole corpus is provably prunable
    val skewPath = s"target/test_lex_disp_skew_${System.nanoTime()}"
    Lex.buildLexIndex(spark, skewPath,
      ((0L until 198L).map(i => (i, s"u${i}x common")) ++
        Seq((198L, "r1 r2 common"), (199L, "r1 r2 common")))
        .toDF("doc_id", "text"), fp)
    val probeS = Seq((1000L, "r1 r2 common")).toDF("doc_id", "text")
    val dispS = topk(Lex.queryLexIndexWand(spark, skewPath, probeS, 100, topK = 2), 2)
    Lex.lastWandRoute shouldBe "wand"
    val forcS = topk(Lex.queryLexIndexWand(spark, skewPath, probeS, 100,
      topK = 2, dispatch = false), 2)
    dispS shouldBe forcS
  }

  test("WAND serve job budget: bounded frames are collected once and the route is decided on the driver") {
    // Spark jobs per serve through its collect, on a 2-generation tier
    // and after compaction, on both routes: at most 14 / 14 (wand) and
    // 11 / 11 (exact). AQE plans the wand route's survivor join by the
    // order its input stages finish, so a run may take one job fewer.
    // With each bounded frame a lazy checkpoint, the route decision its
    // own action and one schema-inferring read per table and segment,
    // the same serves ran 55 / 45 (wand) and 51 / 41 (exact).
    val flat = (0 until 12).map(j => s"w$j").mkString(" ")
    val shapes = Seq(
      ("wand", ((0L until 198L).map(i => (i, s"u${i}x common")) ++
        Seq((198L, "r1 r2 common"), (199L, "r1 r2 common"))).toDF("doc_id", "text"),
        Seq((1000L, "r1 r2 common")).toDF("doc_id", "text"), 2, 14, 14),
      ("exact", (0L until 50L).map(i => (i, flat)).toDF("doc_id", "text"),
        Seq((1000L, flat)).toDF("doc_id", "text"), 3, 11, 11))
    for ((route, corpus, probe, k, twoGens, compacted) <- shapes) withClue(s"$route: ") {
      val path = s"target/test_lex_wand_jobs_${route}_${System.nanoTime()}"
      Lex.buildLexIndex(spark, path, corpus.filter(col("doc_id") % 4 =!= 0), fp)
      Lex.upsertLexIndex(spark, path, corpus.filter(col("doc_id") % 8 === 0), fp)
      Lex.upsertLexIndex(spark, path, corpus.filter(col("doc_id") % 8 === 4), fp)
      Lex.tier(spark, path).gens shouldBe Seq(1, 2)
      jobsOf(Lex.queryLexIndexWand(spark, path, probe, 100, topK = k).collect()) should be <= twoGens
      Lex.lastWandRoute shouldBe route
      Lex.compactLexIndex(spark, path, fp)
      jobsOf(Lex.queryLexIndexWand(spark, path, probe, 100, topK = k).collect()) should be <= compacted
      Lex.lastWandRoute shouldBe route
    }
  }

  test("empty-vocabulary probe batches serve empty results through every path (the isin-empty edge)") {
    val path = s"target/test_lex_empty_${System.nanoTime()}"
    Lex.buildLexIndex(spark, path, docs, fp)
    val blank = Seq((10L, "")).toDF("doc_id", "text")
    Lex.queryLexIndex(spark, path, blank, 100).count() shouldBe 0L
    Lex.queryLexIndexPruned(spark, path, blank, 100).count() shouldBe 0L
    Lex.queryLexIndexWand(spark, path, blank, 100, topK = 5).count() shouldBe 0L
  }

  test("generation writes produce both layouts: token-sorted postings and doc-sorted forward, same rows") {
    val path = s"target/test_lex_layout_${System.nanoTime()}"
    Lex.buildLexIndex(spark, path, docs, fp)
    val post = spark.read.parquet(s"$path/postings")
    val fwd = spark.read.parquet(s"$path/forward")
    post.columns.toSet shouldBe fwd.columns.toSet
    val norm = (df: org.apache.spark.sql.DataFrame) =>
      df.select("doc_id", "t", "tf", "dl")
        .as[(Long, String, Long, Long)].collect().sorted.toSeq
    norm(post) shouldBe norm(fwd)
  }

  test("pruned serve across generations: per-segment prefixes union, scores equal the exact serve") {
    val path = s"target/test_lex_pruned_${System.nanoTime()}"
    Lex.buildLexIndex(spark, path, docs.filter(col("doc_id") <= 2L), fp)
    Lex.upsertLexIndex(spark, path, docs.filter(col("doc_id") === 3L), fp)
    Lex.upsertLexIndex(spark, path, docs.filter(col("doc_id") === 4L), fp)
    val probe = Seq((10L, "alpha beta eta common")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Double] =
      df.select("probe_id", "cand_id", "__score")
        .as[(Long, Long, Double)].collect()
        .map { case (p, c, s) => (p, c) -> s }.toMap
    val exact = rows(Lex.queryLexIndex(spark, path, probe, 100))
    val pruned = rows(Lex.queryLexIndexPruned(spark, path, probe, 100))
    // M = 32 >> these posting lists, so every doc in every generation
    // is prefix-reachable: candidate sets coincide — and the two-phase
    // contract makes every shared pair's score BIT-EQUAL
    pruned.keySet shouldBe exact.keySet
    pruned.keySet.map(_._2) shouldBe Set(1L, 2L, 3L, 4L)
    pruned.foreach { case (k, s) => s shouldBe exact(k) }
    // compaction folds the prefixes too: decisions identical after
    Lex.compactLexIndex(spark, path, fp)
    rows(Lex.queryLexIndexPruned(spark, path, probe, 100)) shouldBe pruned
  }

  test("maybeCompact: holds under both bars, fires on the gens bar") {
    val path = s"target/test_lex_policy_${System.nanoTime()}"
    Lex.buildLexIndex(spark, path, docs.filter(col("doc_id") <= 2L), fp)
    Lex.maybeCompactLexIndex(spark, path, fp, maxGens = 1) shouldBe false
    Lex.upsertLexIndex(spark, path, docs.filter(col("doc_id") === 3L), fp)
    Lex.maybeCompactLexIndex(spark, path, fp, maxGens = 2,
      maxRatio = Double.PositiveInfinity) shouldBe false
    Lex.upsertLexIndex(spark, path, docs.filter(col("doc_id") === 4L), fp)
    Lex.maybeCompactLexIndex(spark, path, fp, maxGens = 2,
      maxRatio = Double.PositiveInfinity) shouldBe true
    Lex.tier(spark, path).gens shouldBe Seq.empty
  }

  test("crash mid-compact reads as no tier, never doubled postings") {
    val path = s"target/test_lex_crash_${System.nanoTime()}"
    Lex.buildLexIndex(spark, path, docs.filter(col("doc_id") <= 2L), fp)
    Lex.upsertLexIndex(spark, path, docs.filter(col("doc_id") === 3L), fp)
    // simulate the compact crash window: marker deleted, base rewritten
    // with the fold, process dies BEFORE the generation drop + marker
    val (postings, dlen) = Lex.lexTierTables(spark, path)
    val allP = postings.localCheckpoint(true)
    val allD = dlen.localCheckpoint(true)
    Lex.tier(spark, path).retract()
    allP.write.mode("overwrite").parquet(s"$path/postings")
    allD.write.mode("overwrite").parquet(s"$path/dlen")
    // no marker: the tier refuses to serve (a marker-less merged read
    // WOULD double-count doc 3's postings — base now holds them AND
    // gen 1 is still live)
    Lex.tier(spark, path).serves(fp) shouldBe false
    an[IllegalArgumentException] should be thrownBy
      Lex.upsertLexIndex(spark, path, docs.limit(1), fp)
    // recovery = rebuild, which drops the stale generations first
    Lex.buildLexIndex(spark, path, docs.filter(col("doc_id") <= 3L), fp)
    Lex.tier(spark, path).gens shouldBe Seq.empty
    Lex.tier(spark, path).serves(fp) shouldBe true
  }
}
