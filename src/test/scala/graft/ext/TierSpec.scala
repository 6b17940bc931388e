package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The persisted-tier lifecycle ([[Tier]]) on every tier that takes
  * arrival generations: BM25 postings, IVF lists, the kNN graph and
  * near-dup bands. A writer killed between a generation's files and its
  * marker must leave a tier that serves the last completed state and
  * whose next append reclaims the slot; a base whose marker is gone must
  * refuse to grow or compact. */
class TierSpec extends SparkSpec {
  import TierSpec.Case
  import spark.implicits._

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toSeq.mkString("|")).toSet

  private val Inf = Double.PositiveInfinity

  private val lexFp = "lex:tier-spec:v1"
  private val lexDocs = Seq((1L, "alpha beta gamma"), (2L, "alpha delta"),
    (3L, "beta epsilon"), (4L, "gamma zeta")).toDF("doc_id", "text")
  private val lexProbe = Seq((10L, "alpha beta gamma zeta")).toDF("doc_id", "text")

  private val dim = 8
  private val rng = new scala.util.Random(29)
  private def vec(): Seq[Float] = Seq.fill(dim)(rng.nextFloat() - 0.5f)
  private val centers = Seq.fill(3)(vec())
  private def near(c: Int): Seq[Float] =
    centers(c).map(x => x + 0.05f * (rng.nextFloat() - 0.5f))
  private val ivfBase = (for (c <- 0 until 3; j <- 0 until 6)
    yield (c * 100L + j, c, near(c))).toDF("vec_id", "label", "embedding")
  private val ivfBatches = Map(
    1 -> (50L until 53L).map(i => (i, near(1))).toDF("vec_id", "embedding"),
    2 -> (60L until 63L).map(i => (i, near(2))).toDF("vec_id", "embedding"))
  private val ivfProbe = Seq((999L, centers(1))).toDF("vec_id", "embedding")

  private val graphBase = (0L until 30L).map(i => (i, vec())).toDF("vec_id", "embedding")
  private val graphBatches = Map(
    1 -> Seq((30L, vec()), (31L, vec())).toDF("vec_id", "embedding"),
    2 -> Seq((32L, vec()), (33L, vec())).toDF("vec_id", "embedding"))

  private val ndiFp = "ndi:tier-spec:v1"
  private val ndiKeys = Seq((1L, "k1"), (2L, "k2"), (3L, "k5"), (4L, "k1"))
    .toDF("doc_id", "key")
  private val ndiProbe = Seq((100L, "k1"), (100L, "k5")).toDF("doc_id", "key")

  private val cases = Seq(
    Case("lex",
      tier = Lex.tier(spark, _),
      build = p => Lex.buildLexIndex(spark, p, lexDocs.filter(col("doc_id") <= 2L), lexFp),
      upsert = (p, i) =>
        Lex.upsertLexIndex(spark, p, lexDocs.filter(col("doc_id") === 2L + i), lexFp),
      compact = Lex.compactLexIndex(spark, _, lexFp),
      maybeCompact = Lex.maybeCompactLexIndex(spark, _, lexFp, maxGens = 2, maxRatio = Inf),
      serve = p => rows(Lex.queryLexIndex(spark, p, lexProbe, 100)
        .select("probe_id", "cand_id")),
      plant = { dir =>
        val (postings, dlen) = Lex.factTables(Seq((99L, "alpha beta gamma zeta"))
          .toDF("doc_id", "text"))
        postings.write.parquet(s"$dir/postings")
        dlen.write.parquet(s"$dir/dlen")
      },
      tables = Seq("postings", "postings_pruned", "dlen", "df", "stats")
        .map(t => Some(t) -> Some(t)) :+ (Some("forward") -> Some("postings"))),
    Case("ivf",
      tier = Similarity.ivfTier(spark, _),
      build = p => { Similarity.buildIvfIndex(ivfBase, p); () },
      upsert = (p, i) => { Similarity.upsertIvfIndex(spark, p, ivfBatches(i)); () },
      compact = p => { Similarity.compactIvfIndex(spark, p); () },
      maybeCompact = Similarity.maybeCompactIvfIndex(spark, _, maxGens = 2, maxRatio = Inf),
      serve = p => rows(Similarity.knnIvfUpserted(spark, p, ivfProbe, k = 5, nprobe = 3)
        .select("probe_id", "neighbor_id")),
      plant = dir => Seq((77L, 1, centers(1))).toDF("vec_id", "label", "embedding")
        .write.partitionBy("label").parquet(dir),
      tables = Seq(Some("centroids") -> None, Some("lists") -> None, None -> Some(""))),
    Case("graph",
      tier = Similarity.graphTier(spark, _),
      build = p => {
        Similarity.buildGraphIndex(graphBase, p, graphK = 5, graphRounds = 2, dim = dim); ()
      },
      upsert = (p, i) => Similarity.upsertGraphIndex(spark, p, graphBatches(i),
        k = 5, beam = 10, hops = 2),
      compact = p => {
        Similarity.compactGraphIndex(spark, p, graphK = 5, graphRounds = 2, dim = dim); ()
      },
      maybeCompact = Similarity.maybeCompactGraphIndex(spark, _, maxGens = 2,
        maxRatio = Inf, graphK = 5, graphRounds = 2, dim = dim),
      serve = p => Similarity.graphDeltaEdges(spark, p)
        .map(e => rows(e.select("vec_id", "neighbor_id"))).getOrElse(Set.empty),
      plant = dir => Seq((99L, 0L, 1.0)).toDF("vec_id", "neighbor_id", "cos_sim")
        .write.parquet(s"$dir/edges"),
      tables = Seq(Some("graph_edges") -> None, Some("vectors") -> Some("vectors"),
        None -> Some("edges"))),
    Case("near-dup",
      tier = Dedup.nearDupTier(spark, _),
      build = p => Dedup.buildNearDupIndex(spark, p, ndiKeys.filter(col("doc_id") <= 2L), ndiFp),
      upsert = (p, i) =>
        Dedup.upsertNearDupIndex(spark, p, ndiKeys.filter(col("doc_id") === 2L + i), ndiFp),
      compact = Dedup.compactNearDupIndex(spark, _, ndiFp),
      maybeCompact = Dedup.maybeCompactNearDupIndex(spark, _, ndiFp, maxGens = 2,
        maxRatio = Inf),
      serve = p => rows(Dedup.queryNearDupIndex(spark, p, ndiProbe)),
      plant = dir => Seq((0L, "k1")).toDF("doc_id", "key").write.parquet(s"$dir/bands"),
      tables = Seq(Some("bands") -> Some("bands"))))

  private def root(c: Case) = s"target/test_tier_${c.name}_${System.nanoTime()}"

  for (c <- cases)
    test(s"${c.name}: a crashed generation is invisible and reclaimed; a crashed base refuses upsert and compaction") {
      val path = root(c)
      val tier = c.tier(path)
      c.build(path)
      c.upsert(path, 1)
      tier.gens shouldBe Seq(1)
      val served = c.serve(path)

      // killed mid-append: generation 2's files land, its marker never does
      c.plant(tier.genPath(2))
      tier.gens shouldBe Seq(1)
      c.serve(path) shouldBe served

      // the next append reclaims the slot: the tier serves exactly what a
      // tier that never crashed serves
      c.upsert(path, 2)
      tier.gens shouldBe Seq(1, 2)
      val clean = s"${path}_clean"
      c.build(clean)
      c.upsert(clean, 1)
      c.upsert(clean, 2)
      c.serve(path) shouldBe c.serve(clean)

      // killed mid-rewrite: the base marker is retracted and never written
      tier.retract()
      an[IllegalArgumentException] should be thrownBy c.upsert(path, 2)
      an[IllegalArgumentException] should be thrownBy c.compact(path)
      tier.gens shouldBe Seq(1, 2)
    }

  test("below the gens bar at maxRatio = ∞, auto-compaction runs no Spark job on any tier") {
    for (c <- cases) withClue(s"${c.name}: ") {
      val path = root(c)
      c.build(path)
      c.upsert(path, 1)
      var fired = true
      jobsOf { fired = c.maybeCompact(path) } shouldBe 0
      fired shouldBe false
      c.tier(path).gens shouldBe Seq(1)
    }
  }

  private def tableDir(dir: String, table: String) =
    if (table.isEmpty) dir else s"$dir/$table"

  test("below the gens bar at a finite ratio, auto-compaction counts rows in the same number of Spark jobs for 1 and 3 generations") {
    // the base is one count and every generation together another; with
    // a schema-inferring read and a count per segment, every tier ran 6
    // jobs for 1 generation and 12 for 3
    for (c <- cases) withClue(s"${c.name}: ") {
      val path = root(c)
      val tier = c.tier(path)
      c.build(path)
      c.upsert(path, 1)
      var due = true
      val one = jobsOf { due = tier.compactionDue(maxGens = 10, maxRatio = 100.0) }
      due shouldBe false
      // the ratio counts rows only, so a repeated batch serves as a third
      c.upsert(path, 2)
      c.upsert(path, 1)
      tier.gens shouldBe Seq(1, 2, 3)
      jobsOf { due = tier.compactionDue(maxGens = 10, maxRatio = 100.0) } shouldBe one
      due shouldBe false
    }
  }

  test("tier reads follow the snapshot: a generation completed after it, or one without its marker, is not read") {
    for (c <- cases) withClue(s"${c.name}: ") {
      val path = root(c)
      val tier = c.tier(path)
      val gen = c.tables.collectFirst { case (_, Some(g)) => g }.get
      val fold = c.tables.collectFirst { case (Some(b), Some(g)) => (b, g) }
      c.build(path)
      c.upsert(path, 1)
      val snapshot = tier.gens
      val tagged = tier.genRows(snapshot, gen)
      val folded = fold.map { case (b, g) =>
        val n = spark.read.parquet(s"$path/$b").count() +
          spark.read.parquet(tableDir(tier.genPath(1), g)).count()
        (tier.folded(snapshot, g, b), n)
      }
      c.upsert(path, 2)
      c.plant(tier.genPath(3))
      tier.gens shouldBe Seq(1, 2)
      rows(tagged.select("gen").distinct()) shouldBe Set("1")
      folded.foreach { case (df, n) => df.count() shouldBe n }
      rows(tier.genRows(tier.gens, gen).select("gen").distinct()) shouldBe Set("1", "2")
    }
  }

  test("tier reads take spark.read.parquet's schema for every table, an empty one included, and run no Spark job") {
    val frames = scala.collection.mutable.ArrayBuffer[(DataFrame, String)]()
    for (c <- cases) {
      val path = root(c)
      val tier = c.tier(path)
      c.build(path)
      c.upsert(path, 1)
      c.upsert(path, 2)
      val gens = tier.gens
      jobsOf {
        for ((base, gen) <- c.tables) {
          base.foreach(b => frames += tier.read(b) -> s"$path/$b")
          for (g <- gen; n <- gens)
            frames += tier.genRows(Seq(n), g).drop("gen") -> tableDir(tier.genPath(n), g)
          for (b <- base; g <- gen) frames += tier.folded(gens, g, b) -> s"$path/$b"
        }
      } shouldBe 0
    }
    // an empty arrival batch lands an empty generation table
    val emptyPath = s"target/test_tier_empty_${System.nanoTime()}"
    Dedup.buildNearDupIndex(spark, emptyPath, ndiKeys, ndiFp)
    Dedup.upsertNearDupIndex(spark, emptyPath, ndiKeys.filter(lit(false)), ndiFp)
    val nd = Dedup.nearDupTier(spark, emptyPath)
    jobsOf {
      frames += nd.genRows(Seq(1), "bands").drop("gen") -> s"${nd.genPath(1)}/bands"
      frames += nd.folded(Seq(1), "bands") -> s"$emptyPath/bands"
    } shouldBe 0
    // the query layer's graph entry layer and the persisted BPE merges
    val entryPath = s"target/test_tier_entry_${System.nanoTime()}"
    val entry = new Tier(spark, entryPath, Similarity.GraphCompleteMarker)
    entry.rewrite() {
      Similarity.clusterEntryLayer(ivfBase, 2).write.parquet(s"$entryPath/layer")
    }
    val bpePath = s"target/test_tier_bpe_${System.nanoTime()}"
    Text.bpeSaveModel(lexDocs, bpePath, merges = 3)
    jobsOf {
      frames += entry.read("layer") -> s"$entryPath/layer"
      frames += Text.bpeTier(spark, bpePath).read("merges") -> s"$bpePath/merges"
    } shouldBe 0
    spark.read.parquet(s"${nd.genPath(1)}/bands").count() shouldBe 0L
    nd.folded(Seq(1), "bands").count() shouldBe ndiKeys.count()
    for ((df, dir) <- frames) withClue(s"$dir: ") {
      df.schema shouldBe spark.read.parquet(dir).schema
    }
  }

  test("IVF entry points refuse an index whose build never completed") {
    val path = s"target/test_tier_ivf_marker_${System.nanoTime()}"
    Similarity.buildIvfIndex(ivfBase, path)
    Similarity.ivfTier(spark, path).retract()
    an[IllegalArgumentException] should be thrownBy
      Similarity.upsertIvfIndex(spark, path, ivfBatches(1))
    an[IllegalArgumentException] should be thrownBy
      Similarity.compactIvfIndex(spark, path)
    an[IllegalArgumentException] should be thrownBy
      Similarity.knnIvfIndexed(spark, path, ivfProbe, k = 3)
    an[IllegalArgumentException] should be thrownBy
      Similarity.knnIvfUpserted(spark, path, ivfProbe, k = 3)
  }
}

object TierSpec {

  /** One tier under test. `upsert(path, i)` lands arrival batch i (1 or
    * 2); `plant(dir)` writes into a generation directory files a crashed
    * writer could leave there, which `serve` would show if it read
    * them; `maybeCompact` runs the policy at maxGens = 2, maxRatio = ∞.
    * `tables` lists each table as (under the root, in a generation),
    * `None` where it has no such copy and "" for the generation
    * directory itself; where both exist the two fold together (only
    * unpartitioned tables fold). */
  final case class Case(
      name: String,
      tier: String => Tier,
      build: String => Unit,
      upsert: (String, Int) => Unit,
      compact: String => Unit,
      maybeCompact: String => Boolean,
      serve: String => Set[String],
      plant: String => Unit,
      tables: Seq[(Option[String], Option[String])])
}
