package perfbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Tables
import graft.ext.{Dedup, Lex, Similarity, Text}
import graft.functions.BoundedTopK

/** corpus_tiers: writes beside reads on three persisted tiers — BM25
  * postings (`Lex`), IVF lists (`Similarity`) and near-dup bands
  * (`Dedup`). A seeded corpus shaped like the sf0.1 `documents` and
  * `embeddings` fixtures, at a fifth of their rows, is split into an 80%
  * base and two 10% arrival batches; each tier runs build → upsert × 2 → serve → compact →
  * serve. This is the only load on `Lex`, `Similarity`, `Dedup`,
  * `DeltaGens` and `Par`. */
object CorpusTiers extends Workload {
  val name = "corpus_tiers"

  /** A fifth of the sf0.1 fixtures' 5,000 documents and 2,000 vectors. */
  val NDocs = 1000
  val NVecs = 400
  val NProbes = 8
  val TopK = 10
  val MaxDfPct = 80
  /** Arrival batches upserted per tier; the tier serves after the last
    * one and again after compaction. */
  val Batches = 2
  val LexFp = s"lex:perfbench:${Text.tokenPattern}"
  val NdiFp = "ndi:perfbench:k3:h64:b16"

  /** One tier's lifecycle, written against the library's public calls. */
  trait Tier {
    def name: String
    def build(part: DataFrame): Unit
    def upsert(part: DataFrame): Unit
    def compact(): Unit
    /** One serve: the probe batch in, the top-k collected. */
    def serve(): Seq[String]
    /** What the library documents the serve before compaction must
      * equal, if anything. */
    def expectedPre(): Option[Seq[String]] = None
    def expectedPost(preCompaction: Seq[String]): Seq[String]
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  final class LexTier(spark: SparkSession, path: String, probes: DataFrame) extends Tier {
    val name = "Lex"
    private def cut(scored: DataFrame): Seq[String] = rows(scored
      .groupBy("probe_id")
      .agg(BoundedTopK.topk(col("__score"), col("cand_id"), TopK).as("nn"))
      .select(col("probe_id"), explode(col("nn")).as("n"))
      .select(col("probe_id"), col("n.id"), col("n.score")))
    def build(part: DataFrame): Unit = Lex.buildLexIndex(spark, path, part, LexFp)
    def upsert(part: DataFrame): Unit = Lex.upsertLexIndex(spark, path, part, LexFp)
    def compact(): Unit = Lex.compactLexIndex(spark, path, LexFp)
    def serve(): Seq[String] =
      cut(Lex.queryLexIndexWand(spark, path, probes, MaxDfPct, topK = TopK))
    // WAND is documented to serve exactly the exact serve's top-k
    override def expectedPre(): Option[Seq[String]] =
      Some(cut(Lex.queryLexIndex(spark, path, probes, MaxDfPct)))
    // compaction folds generations without changing any statistic
    def expectedPost(pre: Seq[String]): Seq[String] = pre
  }

  final class IvfTier(spark: SparkSession, path: String, probes: DataFrame) extends Tier {
    val name = "Ivf"
    private var compacted = false
    def build(part: DataFrame): Unit = { Similarity.buildIvfIndex(part, path); () }
    def upsert(part: DataFrame): Unit = { Similarity.upsertIvfIndex(spark, path, part); () }
    def compact(): Unit = { Similarity.compactIvfIndex(spark, path); compacted = true }
    def serve(): Seq[String] = rows(
      if (compacted) Similarity.knnIvfIndexed(spark, path, probes, TopK)
      else Similarity.knnIvfUpserted(spark, path, probes, TopK))
    // the indexed serve is documented identical to `knnIvf` over the
    // tier's own lists (centroids retrain at compaction, so the answer
    // may differ from the pre-compaction one)
    def expectedPost(pre: Seq[String]): Seq[String] = rows(Similarity.knnIvf(
      spark.read.parquet(s"$path/lists"), probes, TopK))
  }

  final class NearDupTier(spark: SparkSession, path: String, probes: DataFrame) extends Tier {
    val name = "NearDup"
    private def keys(docs: DataFrame): DataFrame = Dedup.bandTable(docs)
      .select(col("doc_id"), concat_ws(":", col("band"), col("bucket")).as("key"))
    private lazy val probeKeys = keys(probes).localCheckpoint(true)
    def build(part: DataFrame): Unit = Dedup.buildNearDupIndex(spark, path, keys(part), NdiFp)
    def upsert(part: DataFrame): Unit = Dedup.upsertNearDupIndex(spark, path, keys(part), NdiFp)
    def compact(): Unit = Dedup.compactNearDupIndex(spark, path, NdiFp)
    def serve(): Seq[String] = rows(Dedup.queryNearDupIndex(spark, path, probeKeys))
    // compaction is a rewrite of immutable band rows: same answers
    def expectedPost(pre: Seq[String]): Seq[String] = pre
  }

  /** Seeded corpus, written as parquet, with each id's part (0 = base,
    * 1..2 = arrival batch) and the probe sets. */
  final case class Inputs(docPart: DataFrame, vecPart: DataFrame, docProbes: DataFrame,
                          vecProbes: DataFrame, dupProbes: DataFrame)

  def prepare(ctx: Ctx, dir: java.nio.file.Path): Inputs = {
    val spark = ctx.spark
    val docs = Corpus.documents(ctx.seed, NDocs)
    val vecs = Corpus.embeddings(ctx.seed, NVecs)
    val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    val vecSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType)))
    val r = new SplittableRandom(ctx.seed * 613L + 11L)
    def parts(n: Int): Array[Int] = {
      val perm = (0 until n).toArray
      for (i <- n - 1 to 1 by -1) { val j = r.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t }
      val out = new Array[Int](n)
      perm.zipWithIndex.foreach { case (id, rank) =>
        val b = rank * 10 / n // 10 slices of 10%: 8 base, then batches 1..2
        out(id) = if (b < 8) 0 else b - 7
      }
      out
    }
    val dp = parts(NDocs)
    val vp = parts(NVecs)
    spark.createDataFrame(java.util.Arrays.asList(docs.map(d => Row(d.docId, d.text, dp(d.docId.toInt))): _*),
        docSchema.add("part", IntegerType))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    spark.createDataFrame(java.util.Arrays.asList(vecs.map(v =>
        Row(v.vecId, v.embedding, v.label, vp(v.vecId.toInt))): _*), vecSchema.add("part", IntegerType))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val d = Tables.documents(spark, dir.toString)
    val v = Tables.embeddings(spark, dir.toString)
    val docProbeIds = (0 until NProbes).map(_ => r.nextInt(NDocs).toLong).distinct
    // near-dup probes are the near-duplicates, so the band tier has matches to serve
    val dups = docs.filter(_.dup).map(_.docId)
    val dupProbeIds = (0 until NProbes).map(_ => dups(r.nextInt(dups.length))).distinct
    val vecProbeIds = (0 until NProbes).map(_ => r.nextInt(NVecs).toLong).distinct
    Inputs(d, v,
      d.filter(col("doc_id").isin(docProbeIds: _*)).select("doc_id", "text"),
      v.filter(col("vec_id").isin(vecProbeIds: _*)).select("vec_id", "embedding"),
      d.filter(col("doc_id").isin(dupProbeIds: _*)).select("doc_id", "text"))
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val out = new Outcome
    val layers = new Metrics
    // set-up, repeated: corpus generation + parquet write + split
    val setupReps = ArrayBuffer[Double]()
    var in: Inputs = null
    for (rep <- 0 until 3) {
      val t = System.nanoTime()
      in = prepare(ctx, ctx.dir(s"corpus$rep"))
      setupReps += (System.nanoTime() - t) / 1e9
    }
    val tierRoot = ctx.dir("tiers")
    def docPart(p: Int) = in.docPart.filter(col("part") === p).select("doc_id", "text")
    def vecPart(p: Int) = in.vecPart.filter(col("part") === p).select("vec_id", "embedding", "label")
    val tiers: Seq[(Tier, Int => DataFrame)] = Seq(
      new LexTier(spark, s"$tierRoot/lex", in.docProbes) -> docPart _,
      new IvfTier(spark, s"$tierRoot/ivf", in.vecProbes) -> vecPart _,
      new NearDupTier(spark, s"$tierRoot/ndi", in.dupProbes) -> docPart _)

    // one serve round = the same probe batches answered by every tier;
    // round 0 before compaction, round 1 after
    val roundMs = Array(0.0, 0.0)
    // heap retained after each tier's lifecycle, while every tier built
    // so far is still referenced; the peak of these is reported
    val heapMb = ArrayBuffer[Double]()
    // the timed calls' windows, per tier: listener counts are taken over
    // these, so the checks' own jobs stay out
    val callWindows = scala.collection.mutable.LinkedHashMap[String, ArrayBuffer[(Long, Long)]]()
    var cycleMs = 0.0
    tiers.foreach { case (tier, part) =>
      val trace = s"${tier.name}-lifecycle"
      val wins = callWindows.getOrElseUpdate(tier.name, ArrayBuffer())
      def call[A](what: String)(f: => A): (A, Double) = {
        out.attempted.incrementAndGet()
        val s = Clock.nowUs()
        val a = try ctx.tracer.span(s"${tier.name}.$what", trace, trace)(f)
        catch { case e: Exception =>
          out.failed.incrementAndGet()
          out.problem(s"${tier.name}.$what threw: $e")
          throw e
        }
        val e = Clock.nowUs()
        wins += ((s, e))
        val ms = (e - s) / 1000.0
        cycleMs += ms
        (a, ms)
      }
      val (_, bMs) = call("build")(tier.build(part(0)))
      val upMs = (1 to Batches).map(b => call("upsert")(tier.upsert(part(b)))._2).sum
      val (pre, sMs) = call("serve")(tier.serve())
      tier.expectedPre().foreach { exp =>
        if (exp != pre) {
          out.failed.incrementAndGet()
          out.problem(s"${tier.name} serve before compaction differs from its documented equal")
        }
      }
      val (_, cMs) = call("compact")(tier.compact())
      val (post, pMs) = call("serve")(tier.serve())
      if (post.isEmpty || tier.expectedPost(pre) != post) {
        out.failed.incrementAndGet()
        out.problem(s"${tier.name} post-compaction serve (${post.size} rows) differs from its documented equal")
      }
      roundMs(0) += sMs
      roundMs(1) += pMs
      layers.put(s"${tier.name}.build_s", bMs / 1e3)
      layers.put(s"${tier.name}.upsert_s", upMs / 1e3)
      layers.put(s"${tier.name}.compact_s", cMs / 1e3)
      layers.put(s"${tier.name}.serve_ms", (sMs + pMs) / 2)
      heapMb += Stats.heapLiveMb()
      System.err.println(f"[perfbench] ${tier.name}: build ${bMs}%.0f ms, upserts ${upMs}%.0f ms, " +
        f"compact ${cMs}%.0f ms, serves ${sMs}%.0f/${pMs}%.0f ms")
    }
    ctx.listener.foreach { l =>
      l.settle()
      callWindows.foreach { case (t, ws) => layers.put(s"$t.jobs", l.jobsIn(ws.toSeq).toDouble) }
      layers ++= l.window(callWindows.values.flatten.toSeq)
    }
    val heap = heapMb.max
    val cycle = cycleMs / 1e3
    layers.put("tiers.cycle_s", cycle)
    val sorted = roundMs.sorted
    val rowsIndexed = (NDocs * 2 + NVecs).toDouble
    val e2e = Map(
      "setup_s" -> (ctx.sessionStartS + Stats.median(setupReps)),
      "latency_ms_p50" -> Stats.pct(sorted, 0.5),
      "latency_ms_tail" -> Stats.pct(sorted, Stats.tailQ(sorted.length)),
      "throughput_per_s" -> rowsIndexed / cycle,
      "heap_live_mb" -> heap)
    System.err.println(f"[perfbench] corpus_tiers: serve rounds ${roundMs.map(m => f"$m%.0f").mkString("/")} ms, " +
      f"cycle ${cycle}%.2f s, set-up reps ${setupReps.map(v => f"$v%.2f").mkString("/")} s, " +
      f"heap ${heapMb.map(v => f"$v%.1f").mkString("/")} MB")
    Result(e2e, layers, out)
  }
}
