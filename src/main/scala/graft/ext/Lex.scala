package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PERSISTED LEXICAL (BM25) INDEX TIER — the retrieval family's LSM
  * lifecycle (round 14), the [[Dedup]] near-dup band tier's discipline
  * applied to the inverted index: at 100 TB the corpus is tokenized
  * ONCE and every query batch probes the persisted posting lists
  * instead of re-tokenizing the world. Build → marker-gated serve →
  * numbered delta generations per arrival batch → idempotent
  * compaction.
  *
  * Tier content is six append-only tables for the BASE segment (five
  * for delta generations — arrival-sized segments skip the heavy
  * layouts, see [[writeGenTablesFrom]]), all fixed-width and
  * text-free, in the TWO layouts a retrieval engine actually needs
  * (round 16 — r15 verdict #1; the Lucene split of inverted index vs
  * per-doc stored fields):
  *  - `postings` (doc_id, t, tf, dl) RANGE-SORTED BY TOKEN — the
  *    inverted index: each parquet file holds a disjoint token range
  *    with tight row-group min/max stats, so a probe batch's bounded
  *    token set pushes down as an `In(t, …)` scan filter and the
  *    reader skips every posting list the probe never mentions;
  *  - `postings_pruned` — the top-[[LexPrunedM]] impact prefix per
  *    posting list (same token sort): bounded candidate generation;
  *  - `forward` (same rows) RANGE-SORTED BY DOC ID — the scoring
  *    store: once candidates are known (a bounded set by the prefix
  *    construction), their full token rows read through an
  *    `In(doc_id, …)` pushdown, so the two-phase serve's exact-scoring
  *    scan is bounded by the CANDIDATE set, not the corpus — on any
  *    vocabulary shape, including the worst case where probe tokens
  *    cover the whole vocabulary and token pruning alone cannot bite;
  *  - `dlen` (doc_id, dl), plus the per-generation BM25 STATISTICS
  *    `df` (t, df, max_tf, min_dl) and `stats` (sdl, n). max_tf/min_dl
  *    (round 16) are the per-token score-bound inputs the WAND serve
  *    folds into sound upper bounds.
  * Like band rows, a document's postings are immutable once tokenized
  * (re-upserting an id is the caller's bug), so compaction is a
  * REWRITE, not a rebuild. Global statistics FOLD across generations
  * by exact integer ops (generations index disjoint documents: df,
  * sdl, n add; max_tf/min_dl fold by max/min) — bit-identical to a
  * fresh full build's aggregation by construction, which keeps the
  * tier upsert-correct however arrivals were batched (the streaming
  * replay's shared oracle hash-proves exactly this) while a probe
  * batch reads GENS-BOUNDED vocab-sized stat tables instead of
  * re-aggregating the full postings table — the 100 TB
  * scan-per-query killer the round-14 layout had (r14 verdict #3).
  *
  * Scoring is [[bm25Scores]] — ONE implementation shared by the
  * in-query hybrid arm and the tier serve, so the persisted and
  * in-query forms cannot drift. Determinism: idf is deterministic
  * DetMath (native expression twin of the oracle's ln chain), the
  * tf/dl/avgdl arithmetic is shared SQL text, each term quantizes to
  * 12-dp fixed-point micro-units and sums as exact BIGINT —
  * order-independent, no libm. */
object Lex {

  /** BM25 constants (Robertson's k1=1.2, b=0.75 as exact literals) and
    * the scoring expressions as SHARED SQL TEXT — evaluated verbatim
    * by both engines so every IEEE operation happens in the same order
    * on the same inputs. Columns: df/n (token doc-frequency, corpus
    * doc count), tf/dl/avgdl (term frequency, doc length, mean doc
    * length).
    *
    * Terms are quantized to 12-dp FIXED-POINT MICRO-UNITS — one
    * exact-literal multiply and one floor (half-up for the positive
    * range), summed as exact BIGINT — instead of ROUND(x, 12) +
    * DECIMAL(28,12): same order-independence and cross-engine
    * bit-identity (floor and the 1.0E12 multiply are single IEEE ops
    * on identical inputs; integer sums are exact in any order), but
    * Spark implements ROUND-on-double and beyond-long decimals via a
    * per-row BigDecimal allocation — measured 2× the whole probe cost
    * at 9M scored pairs (9.6 s → ~4.5 s, ScaleBench lex_probe 1×).
    * Overflow bound (stated, not assumed — round-15 ADVICE #2): the
    * per-pair sum is over SHARED ADMITTED tokens only, each term
    * ≤ idf·(k1+1) ≤ ~65 score units even at n = 10^12 docs
    * (idf ≤ ln 2n ≈ 29), i.e. ≤ 6.5·10^13 micro-units, so BIGINT's
    * 2^63 ≈ 9.2·10^18 holds until a single (probe, doc) pair shares
    * ~1.4·10^5 DISTINCT admitted tokens — far past any real document's
    * vocabulary, but a SMALLER headroom than DECIMAL(28,12)'s 10^16
    * units, and a different failure mode: Spark's non-ANSI sum(LONG)
    * would wrap silently where the decimal sum nulled loudly (DuckDB
    * promotes to HUGEINT either way). [[Bm25ScoreOf]] is the shared
    * descale text. */
  val Bm25AvgdlSql = "CAST(sdl AS DOUBLE) / CAST(n AS DOUBLE)"
  val Bm25IdfArgSql =
    "1.0 + (CAST(n - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)"
  /** The per-(token, doc) BM25 term in micro-units over arbitrary
    * tf/dl column names — [[Bm25TermSql]] instantiates the scoring
    * form; the WAND upper bound instantiates it at (max_tf, min_dl),
    * so bound and term are the SAME expression text on different
    * inputs (the monotonicity argument in [[bm25UpperBounds]] is about
    * inputs, not about two formulas agreeing). */
  def bm25TermSqlOver(tf: String, dl: String): String =
    s"CAST(FLOOR((__idf * (CAST($tf AS DOUBLE) * 2.2) / (CAST($tf AS DOUBLE) + " +
      s"1.2 * (0.25 + 0.75 * (CAST($dl AS DOUBLE) / avgdl)))) " +
      "* 1.0E12 + 0.5) AS BIGINT)"
  val Bm25TermSql: String = bm25TermSqlOver("tf", "dl")
  /** Descale a summed micro-unit column back to a double score. */
  def Bm25ScoreOf(sumSql: String): String =
    s"CAST($sumSql AS DOUBLE) / 1.0E12"

  /** IMPACT-ORDERED CANDIDATE GENERATION (round 15 — the
    * early-termination scale path the max-df cut comments point at):
    * posting-list length under a corpus-relative stopword cut is
    * linear in the corpus, so an exact probe pays Θ(admitted postings
    * per probe token). Real engines bound that with impact ordering
    * (Anh & Moffat 2006) / static index pruning (Carmel et al. 2001):
    * order each posting list by the QUERY-INDEPENDENT part of the BM25
    * term — everything but idf, which is constant within a list — and
    * draw CANDIDATES from a bounded prefix, then score those
    * candidates exactly. (Prefix-only PARTIAL scoring was measured
    * first and rejected: a candidate scored only on the tokens whose
    * prefix it entered ranks by an arbitrary fraction of its true
    * score — recall@10 was 0.0 on the flat-vocabulary fixture.)
    * [[Bm25ImpactSql]] is that static impact, quantized to integer
    * millionths (one exact-literal multiply + one floor — the same
    * fixed-point discipline as the term sum) so both engines rank
    * posting prefixes identically; ties break on smaller doc id. The
    * prefix bound is [[LexPrunedM]]. Pruning is PER-GENERATION (each
    * segment keeps its own top-M, like per-segment Lucene):
    * deterministic for any batching, at the honest cost that the
    * candidate set is APPROXIMATE — `search_pruned_recall` measures
    * exactly how approximate against the exact serve. */
  val LexPrunedM = 32
  val Bm25ImpactSql =
    "CAST(FLOOR(((CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) + " +
      "1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))) " +
      "* 1.0E6 + 0.5) AS BIGINT)"

  /** Tokenize a (idCol, textCol) frame into the tier's two fact
    * tables: postings (idCol, t, tf) and dlen (idCol, dl). */
  def factTables(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): (DataFrame, DataFrame) = {
    val toks = docs.select(col(idCol),
      explode(Text.tokens(col(textCol))).as("t"))
    // NOTE (round 18, measured): deriving dl from a lazily-checkpointed
    // postings frame (dl = Σ tf — exact) to tokenize once instead of
    // twice REGRESSED the lex lifecycle (+1.2 s on the autocompact
    // replay, stash A/B): the extra checkpoint materialization costs
    // more than the saved tokenizer pass here, and the generation write
    // path already truncates both frames via genTableFrames. Left as
    // two independent aggregations deliberately.
    (toks.groupBy(idCol, "t").agg(count(lit(1)).as("tf")),
      toks.groupBy(idCol).agg(count(lit(1)).as("dl")))
  }

  /** The (t, df) and 1-row (sdl, n) statistic tables of a fact-table
    * pair — what [[buildLexIndex]]/[[upsertLexIndex]] persist per
    * generation and [[bm25Scores]] consumes. */
  def statTables(postings: DataFrame, dlen: DataFrame): (DataFrame, DataFrame) =
    (postings.groupBy("t").agg(count(lit(1)).as("df")),
      dlen.agg(sum(col("dl")).as("sdl"), count(lit(1)).as("n")))

  /** BM25 scores of every probe token-set against the indexed corpus:
    * `postings`/`dlen` are the fact tables (from [[factTables]] or the
    * persisted tier), `probeTok` is (probe_id, t) DISTINCT query
    * tokens; `dfStats`, when given (the persisted-tier path), is the
    * pre-aggregated ([[statTables]]-shaped, possibly gens-folded)
    * (df, stats) pair — otherwise both aggregate from the fact tables
    * in-query.
    *
    * The stopword cut is CORPUS-RELATIVE (round-15 verdict #1): tokens
    * in more than `maxDfPct`% of documents drop — the `max_df`
    * convention, compared in exact integers (`df·100 ≤ pct·n`) so both
    * engines make the identical cut. The round-14 ABSOLUTE cap was the
    * vacuity bug: any fixed count is "everything" on a small corpus
    * and "nothing" on a big one — a fraction of the corpus is the
    * only df that means the same thing at every scale.
    *
    * Join order is the 100 TB shape (round-15 verdict #4): the
    * postings scan meets the BROADCAST PROBE TOKENS FIRST — the only
    * join that prunes corpus-sized data — then the (probe-pruned,
    * vocab-bounded, broadcast) idf table, then doc lengths, then the
    * 1-row stats. When `postings` already CARRIES a `dl` column (the
    * persisted tier denormalizes it at write time — the Lucene
    * per-doc-norm layout), the doc-length join disappears entirely and
    * the probe plan's ONLY exchange is the final (probe, cand)
    * aggregation: everything upstream is broadcast-joined map-side.
    * Candidates never include the probe itself; when `candidates`
    * (probe_id, idCol) is given, scoring restricts to those pairs —
    * the impact-prefix serving path, where the pair set is bounded by
    * M·|probe tokens| per probe. Returns (probe_id, cand_id, __score
    * DOUBLE) — the exact-decimal per-pair sum surfaced as a double. */
  /** `hintBroadcastCandidates`: the impact-prefix serves pass true —
    * their candidate set is bounded by construction (≤ M·|probe
    * tokens|·gens), so the hint is safe and skips a shuffle. The WAND
    * serve passes FALSE: its survivor set is θ-dependent and on a
    * corpus whose score bounds don't discriminate (flat vocabulary)
    * degenerates to ALL pairs — a forced broadcast there is a
    * corpus-sized driver hazard, so the planner (AQE) picks the join
    * side from actual sizes instead. */
  def bm25Scores(postings: DataFrame, dlen: DataFrame, probeTok: DataFrame,
                 maxDfPct: Int, idCol: String = "doc_id",
                 dfStats: Option[(DataFrame, DataFrame)] = None,
                 candidates: Option[DataFrame] = None,
                 hintBroadcastCandidates: Boolean = true): DataFrame = {
    val (dfT, stats0) = dfStats.getOrElse(statTables(postings, dlen))
    val stats = stats0.withColumn("avgdl", expr(Bm25AvgdlSql))
    val ptok = probeTok.select(col("probe_id"), col("t"))
    // idf only for tokens the probes actually use (bounded by the probe
    // batch's vocabulary) that survive the relative cut; the ln is the
    // native DetMath expression — the bit-identical twin of the chain
    // the oracle evaluates
    val idf = dfT.join(broadcast(ptok.select("t").distinct()), "t")
      .crossJoin(broadcast(stats.select("n")))
      .filter(expr(s"df * 100 <= $maxDfPct * n"))
      .withColumn("__x", expr(Bm25IdfArgSql))
      .withColumn("__idf", graft.functions.DetMathExpr.detLn(col("__x")))
      .select(col("t"), col("__idf"))
    val pruned0 = postings
      .join(broadcast(ptok), "t")
      .filter(col(idCol) =!= col("probe_id"))
      .join(broadcast(idf), "t")
    val pruned = candidates
      .map(c => pruned0.join(
        if (hintBroadcastCandidates) broadcast(c) else c,
        Seq("probe_id", idCol)))
      .getOrElse(pruned0)
    val withDl =
      if (postings.columns.contains("dl")) pruned
      else pruned.join(dlen, idCol)
    withDl
      .crossJoin(broadcast(stats.select("avgdl")))
      .withColumn("__term", expr(Bm25TermSql))
      .groupBy(col("probe_id"), col(idCol).as("cand_id"))
      .agg(sum(col("__term")).as("__micro"))
      .select(col("probe_id"), col("cand_id"),
        expr(Bm25ScoreOf("__micro")).as("__score"))
  }

  // ------------------------------------------------------------------ //
  //  Tier lifecycle                                                    //
  // ------------------------------------------------------------------ //

  /** The posting tier at `path`. Its marker carries the tokenizer
    * fingerprint, so a re-cut tokenizer reads as "no tier" and never
    * serves postings cut the old way; arrival batches land as
    * `lex_delta/gen=N` generations, and the compaction ratio counts
    * posting rows. */
  def tier(spark: org.apache.spark.sql.SparkSession, path: String): Tier =
    new Tier(spark, path, "_GRAFT_LEX_COMPLETE", Some(Tier.Gens(
      "lex_delta", "_GRAFT_LEX_DELTA_COMPLETE", "postings", "postings")))

  /** `table` over the base and the generations `gens`, unioned; the
    * base reads `baseTable`. */
  private def folded(spark: org.apache.spark.sql.SparkSession, path: String,
                     gens: Seq[Int], table: String,
                     baseTable: String = ""): DataFrame = {
    val t = tier(spark, path)
    gens.map(g => spark.read.parquet(s"${t.genPath(g)}/$table"))
      .foldLeft(spark.read.parquet(
        s"$path/${if (baseTable.isEmpty) table else baseTable}"))(_ unionByName _)
  }

  /** Write one generation's four tables (facts + statistics) under
    * `dir`. The facts are materialized once (localCheckpoint) so the
    * df/stats aggregations don't re-tokenize the documents. The
    * persisted postings DENORMALIZE the doc length (`dl`) into every
    * row — the Lucene per-doc-norm layout, +8 bytes/row paid once per
    * generation so probe plans never shuffle corpus-sized data to a
    * doc-length join (measured: the lex_probe ScaleBench join was the
    * dominant probe cost once the max-df cut admitted real posting
    * lists). */
  /** Materialize the TWO frames every generation write derives from:
    * `d` (doc lengths — dlen + stats + the dl join) and `joined`
    * (dl-denormalized postings — postings + pruned prefix + df, whose
    * (doc, t) row set equals the raw postings', so df aggregated there
    * is identical to statTables' form). Exposed separately from
    * [[writeGenTablesFrom]] so compaction can materialize BEFORE
    * retracting the serving marker (r15 second-pass review: a
    * transient checkpoint failure must not strand a healthy tier
    * behind a deleted marker) while still holding only one merged
    * copy at a time. */
  private def genTableFrames(postings: DataFrame,
                             dlen: DataFrame): (DataFrame, DataFrame) = {
    val d = dlen.localCheckpoint(true)
    val idc = postings.columns.head // factTables puts idCol first
    val joined = postings.drop("dl").join(d.select(col(idc), col("dl")), idc)
      .localCheckpoint(true)
    (d, joined)
  }

  private def writeGenTables(dir: String, postings: DataFrame,
                             dlen: DataFrame, base: Boolean): Unit = {
    val (d, joined) = genTableFrames(postings, dlen)
    writeGenTablesFrom(dir, d, joined, base)
    org.apache.spark.sql.GraftColumnBridge.unpersistLocalCheckpoint(d)
    org.apache.spark.sql.GraftColumnBridge.unpersistLocalCheckpoint(joined)
  }

  /** Write one generation's six tables from the [[genTableFrames]]
    * pair (does NOT unpersist — callers own the checkpoints).
    *
    * Layout (round 16 — r15 verdict #1): `postings` and its pruned
    * prefix are RANGE-SORTED BY TOKEN ([[graft.core.Layout
    * .writeRangeSorted]]'s shape: disjoint per-file key ranges + tight
    * row-group stats, LayoutSpec-proven), so a probe's bounded token
    * set pushes into the scan; `forward` holds the SAME rows
    * range-sorted by DOC ID, so candidate-bounded exact scoring pushes
    * its bounded doc set into the scan. One range shuffle each, paid
    * once per generation at write time — the cost that turns the
    * serve-side scans from corpus-shaped to probe-shaped. File count
    * follows the materialized fact frame's parallelism (capped —
    * at deployment scale files are sized by bytes, and any count
    * preserves correctness: readers re-sort).
    *
    * `base = true` (full builds and compaction) writes the heavy
    * layouts — postings range-sorted by token, the doc-major `forward`
    * table — because the base segment is CORPUS-sized and its scans
    * are what the pushdown filters must prune. `base = false` (delta
    * generations) writes plain postings and NO forward table: a
    * generation is one ARRIVAL batch — Lucene's small-segment
    * convention — whose scans are batch-sized with or without layout,
    * whose accumulated total the compaction policy bounds relative to
    * the base, and whose rows fold into the laid-out base at the next
    * compaction. This keeps the upsert/streaming write path at one
    * posting materialization + the per-token prefix window instead of
    * three shuffled writes per micro-batch (measured: the autocompact
    * replay paid +3.8 s for layouts its generation scans never used).
    * [[lexTierForwardAt]] serves delta segments from their postings
    * (same rows, same schema). */
  private def writeGenTablesFrom(dir: String, d: DataFrame,
                                 joined: DataFrame, base: Boolean): Unit = {
    val idc = joined.columns.head
    // per-token stats: df counts the list length; max_tf/min_dl bound
    // the query-independent part of any BM25 term for that token (the
    // WAND serve's input — fold by max/min across generations)
    val dfT = joined.groupBy("t").agg(count(lit(1)).as("df"),
      max(col("tf")).as("max_tf"), min(col("dl")).as("min_dl"))
    val stats = d.agg(sum(col("dl")).as("sdl"), count(lit(1)).as("n"))
    val nFiles = math.min(32, math.max(1, joined.rdd.getNumPartitions))
    // the generation's 5–6 tables are INDEPENDENT writes to disjoint
    // paths over the two checkpointed frames — overlap them (round 19,
    // guide §2.6): the small metadata tables (dlen/df/stats) back-fill
    // the scheduling and commit gaps of the corpus-shaped layout
    // writes instead of queueing behind them; the marker stays with
    // the caller, strictly after all of them
    val writePostings: () => Unit =
      if (base) () =>
        graft.core.Layout.writeRangeSorted(joined, s"$dir/postings", "t", nFiles)
      else () =>
        joined.write.mode("overwrite").parquet(s"$dir/postings")
    // impact-ordered top-[[LexPrunedM]] prefix of every posting list —
    // the one per-token sort, paid at WRITE time once per generation
    // (this generation's avgdl: pruning is per-segment, so it never
    // depends on what other generations exist)
    val writePruned: () => Unit = () => {
      val avgdlF = stats.withColumn("avgdl", expr(Bm25AvgdlSql)).select("avgdl")
      joined.crossJoin(broadcast(avgdlF))
        .withColumn("__imp", expr(Bm25ImpactSql))
        .withColumn("__rk", org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("t").orderBy(col("__imp").desc, col(idc))))
        .filter(col("__rk") <= LexPrunedM)
        .select(joined.columns.map(col): _*)
        .sortWithinPartitions("t")
        .write.mode("overwrite").parquet(s"$dir/postings_pruned")
    }
    val tail = Seq[() => Unit](
      writePruned,
      () => d.write.mode("overwrite").parquet(s"$dir/dlen"),
      () => dfT.write.mode("overwrite").parquet(s"$dir/df"),
      () => stats.write.mode("overwrite").parquet(s"$dir/stats"))
    val all =
      if (base)
        writePostings +: (() =>
          graft.core.Layout.writeRangeSorted(joined, s"$dir/forward", idc, nFiles)) +: tail
      else writePostings +: tail
    graft.core.Par.run(all: _*)
  }

  /** Persist the base tier. Drops live deltas (they tokenized against
    * a base this write replaces); fingerprint marker strictly last. */
  def buildLexIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                    docs: DataFrame, fingerprint: String,
                    idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val t = tier(spark, path)
    t.rewrite(fingerprint) {
      t.dropGens()
      val (postings, dlen) = factTables(docs, idCol, textCol)
      writeGenTables(path, postings, dlen, base = true)
    }
  }

  /** Append one arrival batch as a new numbered generation —
    * tokenization is per-document, and global stats are recomputed at
    * query time from the merged tier, so the served scores are
    * IDENTICAL however arrivals are micro-batched. */
  def upsertLexIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                     batch: DataFrame, fingerprint: String,
                     idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val t = tier(spark, path)
    t.require("upsertLexIndex", fingerprint)
    t.append { gen =>
      val (postings, dlen) = factTables(batch, idCol, textCol)
      writeGenTables(gen, postings, dlen, base = false)
    }
  }

  /** The merged fact tables: base plus every completed generation.
    * SNAPSHOT DISCIPLINE (round-15 review): a query must list the
    * completed generations ONCE and thread that list through every
    * table it reads — listing per table would let a concurrently
    * completing upsert split one probe across two tier states (stats
    * counting documents whose postings are never scanned). */
  def lexTierTables(spark: org.apache.spark.sql.SparkSession, path: String):
      (DataFrame, DataFrame) =
    lexTierTablesAt(spark, path, tier(spark, path).gens)

  private def lexTierTablesAt(spark: org.apache.spark.sql.SparkSession,
                              path: String, gens: Seq[Int]):
      (DataFrame, DataFrame) =
    (folded(spark, path, gens, "postings"), folded(spark, path, gens, "dlen"))

  /** The tier's FOLDED statistics — (t, df) and 1-row (sdl, n) —
    * summed over base + every completed generation (round 15):
    * generations index disjoint documents, so the per-generation
    * doc-frequencies and doc-count/length totals add EXACTLY (integer
    * arithmetic — bit-identical to a fresh full build's aggregation,
    * in any fold order). A probe batch reads these gens-bounded
    * vocab-sized tables instead of aggregating the full postings
    * table — at 100 TB that aggregation was a corpus scan per query. */
  def lexTierStats(spark: org.apache.spark.sql.SparkSession, path: String):
      (DataFrame, DataFrame) =
    lexTierStatsAt(spark, path, tier(spark, path).gens)

  private def lexTierStatsAt(spark: org.apache.spark.sql.SparkSession,
                             path: String, gens: Seq[Int]):
      (DataFrame, DataFrame) = {
    // df/sdl/n fold by exact integer addition (disjoint documents);
    // max_tf/min_dl fold by max/min — also exact, and identical to a
    // fresh full build's per-token aggregate by the same disjointness
    val dfT = folded(spark, path, gens, "df")
      .groupBy("t").agg(sum(col("df")).as("df"),
        max(col("max_tf")).as("max_tf"), min(col("min_dl")).as("min_dl"))
    val stats = folded(spark, path, gens, "stats")
      .agg(sum(col("sdl")).as("sdl"), sum(col("n")).as("n"))
    (dfT, stats)
  }

  /** The merged doc-major FORWARD view (base `forward` ∪ completed
    * gens' postings) — the scoring store the candidate-bounded serves
    * read with an `In(doc_id, …)` pushdown. The BASE segment has the
    * dedicated doc-sorted layout (it is corpus-sized — pruning is the
    * point); delta generations serve their postings directly: same
    * rows, same schema, arrival-batch-sized scans the pushdown
    * wouldn't meaningfully shrink (see [[writeGenTablesFrom]]). */
  private def lexTierForwardAt(spark: org.apache.spark.sql.SparkSession,
                               path: String, gens: Seq[Int]): DataFrame =
    folded(spark, path, gens, "postings", baseTable = "forward")

  /** Loud guard on the driver-side bounded collects below: a probe
    * batch's distinct vocabulary past this is not an arrival batch —
    * someone is probing with the corpus, and the `isin` pushdown would
    * become the unbounded driver state it exists to avoid. */
  val MaxProbeVocab = 1 << 20

  /** TEST/EVIDENCE-FACING route record (the `captureWalkPlans`
    * convention): which path the last [[queryLexIndexWand]] call chose
    * — "wand" (bounds discriminate), "exact" (degenerate-shape
    * dispatch fired), or "wand:forced" (`dispatch = false`). Specs pin
    * the routing on both corpus shapes; ScaleBench reports it beside
    * the pruning-power rows. Never read by the serve itself. */
  @volatile private[graft] var lastWandRoute: String = ""

  /** TEST-FACING plan capture for the WAND serve (the
    * [[Dedup.captureGramPlan]] pattern): θ and the per-token bounds are
    * lazily checkpointed (they are consumed by both the dispatch job
    * and the serve job — see [[queryLexIndexWand]]), which makes them
    * opaque RDD leaves in the served plan; the PlanSpec gates that
    * audit the prefix scan's In(t, …) pushdown read the plans recorded
    * here at construction instead. Off by default. */
  @volatile private[graft] var captureWandPlans: Boolean = false
  @volatile private[graft] var lastWandThetaPlan: String = ""
  @volatile private[graft] var lastWandUbPlan: String = ""

  /** Driver-memory cap on the collected prefix-candidate pair frame.
    * The STRUCTURAL bound is M·|probe (probe_id, token) pairs|·segments
    * — computed per call from the actual inputs, because a static cap
    * cannot distinguish "the per-list prefix write is broken" from "a
    * legal but huge probe batch" (review finding, round 16: a ~200k-
    * token batch under [[MaxProbeVocab]] legitimately exceeds any fixed
    * constant). Exceeding the structural bound means the write is
    * broken; exceeding this cap with an intact write means the batch
    * must be split before the driver-local frame is built. */
  val MaxPrunedPairs = 4 << 20

  /** Past this many distinct probe tokens the scan-pushdown `In(t, …)`
    * filter is SKIPPED: a million-literal In expression costs seconds
    * of driver-side canonicalization/serialization per batch, while the
    * broadcast probe-token join already restricts the same rows — the
    * filter exists purely to let the reader skip row groups, a win that
    * evaporates once the probe vocabulary approaches the corpus's. */
  val InFilterCap = 4096

  /** `In(t, …)` pushdown when the token set is small enough to pay for
    * itself; identity (join-only restriction) past [[InFilterCap]] —
    * same rows either way, so serves are hash-identical. */
  private def tokenScanFilter(df: DataFrame, toks: Seq[String]): DataFrame =
    if (toks.length <= InFilterCap) df.filter(col("t").isin(toks: _*)) else df

  /** The same cap discipline for the candidate-doc `In(doc_id, …)`
    * pushdown on the forward scans (r16 ADVICE #1: the structural
    * bound legalizes candidate batches up to [[MaxPrunedPairs]] — a
    * multi-million-literal In expression costs exactly the seconds of
    * driver-side canonicalization the TOKEN cap was added to avoid).
    * The bounded broadcast `candidates` join restricts the same rows
    * either way, so serves are hash-identical past the cap; the cap is
    * wider than [[InFilterCap]] because doc ids are fixed-width
    * numerics (no per-literal string canonicalization) and the forward
    * pushdown is what keeps exact scoring candidate-shaped. */
  val DocInFilterCap = 1 << 16
  private def docScanFilter(df: DataFrame, idCol: String,
                            docs: Seq[Any]): DataFrame =
    if (docs.length <= DocInFilterCap) df.filter(col(idCol).isin(docs: _*)) else df

  /** The probe frame's (probe_id, t) DISTINCT tokens — in-plan (the
    * broadcast side of every serve join) — plus the collected distinct
    * token strings for the scan-pushdown filter (bounded by the probe
    * batch's vocabulary; the `decon_bloom` no-join discipline) and the
    * (probe, token) PAIR COUNT, aggregated in the SAME collect (r16
    * ADVICE #4: the pruned/WAND serves ran a second `ptok.count()` job
    * per serve solely to compute the structural candidate bound — one
    * per-token count in the collect already in flight carries it). */
  private def probeTokens(probeDocs: DataFrame, idCol: String,
                          textCol: String): (DataFrame, Seq[String], Long) = {
    val ptok = probeDocs
      .select(col(idCol).as("probe_id"), explode(Text.tokens(col(textCol))).as("t"))
      .distinct()
    // limit BEFORE the collect: the guard exists to catch unbounded
    // driver state, so it must fire before the driver materializes it
    // (a corpus-sized batch would OOM the collect ahead of the require)
    val rows = ptok.groupBy("t").agg(count(lit(1)).as("c"))
      .limit(MaxProbeVocab + 1).collect()
    require(rows.length <= MaxProbeVocab,
      s"lex probe vocabulary exceeds $MaxProbeVocab - " +
        "probe batches must be arrival-sized, not corpus-sized")
    (ptok, rows.map(_.getString(0)).toSeq, rows.map(_.getLong(1)).sum)
  }

  /** Probe the tier: BM25 top candidates for each probe document,
    * scored against EVERYTHING indexed (base ∪ deltas), global stats
    * FOLDED from the persisted per-generation tables ([[lexTierStats]]
    * — never a full-postings aggregation). Probes are tokenized
    * in-query (tiny — an arrival batch), and their bounded distinct
    * token set pushes into the token-range-sorted postings scan as an
    * `In(t, …)` filter (round 16 — r15 verdict #1): the reader skips
    * every row group whose token range the probe never mentions, so
    * scan cost follows the PROBED posting lists, not the corpus. (On a
    * corpus whose whole vocabulary is probed nothing can be skipped —
    * exact BM25 is inherently linear in admitted postings per probe
    * token; [[queryLexIndexWand]] is the exact serve that also bounds
    * the SCORING work, and [[queryLexIndexPruned]] the approximate one
    * that bounds everything.) */
  def queryLexIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                    probeDocs: DataFrame, maxDfPct: Int,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val gens = tier(spark, path).gens // ONE snapshot for all tables
    val (postings, dlen) = lexTierTablesAt(spark, path, gens)
    val (ptok, toks, _) = probeTokens(probeDocs, idCol, textCol)
    bm25Scores(tokenScanFilter(postings, toks), dlen, ptok,
      maxDfPct, idCol, dfStats = Some(lexTierStatsAt(spark, path, gens)))
  }

  /** The impact-prefix CANDIDATE pairS of a probe batch, collected
    * driver-side (bounded by M·|probe tokens|·gens by construction):
    * (probe_id, doc) pairs from the top-[[LexPrunedM]] prefix of every
    * probe token's posting list, per generation. Shared by the pruned
    * and WAND serves; the doc ids feed the forward-table `isin`
    * pushdown and the pairs re-enter the plan as a broadcast-local
    * frame, so the serve plan never re-derives them. */
  private def prefixCandidates(spark: org.apache.spark.sql.SparkSession,
                               path: String, gens: Seq[Int], ptok: DataFrame,
                               toks: Seq[String], ptokPairs: Long,
                               idCol: String): (DataFrame, Seq[Any]) = {
    val prefix = tokenScanFilter(folded(spark, path, gens, "postings_pruned"), toks)
    val cands = prefix.join(broadcast(ptok), "t")
      .filter(col(idCol) =!= col("probe_id"))
      .select(col("probe_id"), col(idCol))
      .distinct()
    // the structural bound from the ACTUAL inputs (M · |(probe, token)
    // pairs| · segments — the pair count rides in [[probeTokens]]'
    // collect, no extra job); the collect is limit-capped so a broken
    // prefix write fails LOUDLY here instead of OOMing the driver first
    val structuralBound =
      LexPrunedM.toLong * ptokPairs * (gens.length + 1)
    val cap = math.min(structuralBound, MaxPrunedPairs.toLong)
    val rows = cands.limit(cap.toInt + 1).collect()
    require(rows.length <= cap,
      if (structuralBound <= MaxPrunedPairs)
        s"prefix candidate pairs exceed the structural bound " +
          s"$structuralBound (M x probe-token pairs x segments) - " +
          s"the per-list top-$LexPrunedM prefix write is broken"
      else
        s"prefix candidate pairs exceed $MaxPrunedPairs - the probe " +
          "batch is too large for the driver-local candidate frame; " +
          "split the batch")
    val local = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), cands.schema)
    (local, rows.map(_.get(1)).distinct.toSeq)
  }

  /** [[queryLexIndex]]'s APPROXIMATE twin — the two-phase
    * impact-prefix serve: CANDIDATES are every doc appearing in the
    * top-[[LexPrunedM]] impact prefix of any probe token's posting
    * list (per generation — ≤ M·|probe tokens|·gens pairs per probe,
    * BOUNDED regardless of corpus size), then those candidates are
    * scored EXACTLY — full per-pair BM25 over all shared admitted
    * tokens with the full tier's statistics, so a served score equals
    * the exact serve's and only the candidate set approximates.
    * `search_pruned_recall` grades that approximation.
    *
    * Round 16 (r15 verdict #1): exact scoring reads the doc-major
    * FORWARD tables with the bounded candidate-doc set pushed down as
    * `In(doc_id, …)` — the scoring scan is now candidate-shaped at ANY
    * corpus size and vocabulary shape (the token-sorted postings can
    * only skip tokens the probe lacks, which is nothing on a flat
    * vocabulary; the forward layout skips every non-candidate DOC
    * instead). Candidate generation itself reads only the prefix
    * tables — per-list top-M files, corpus-independent. */
  def queryLexIndexPruned(spark: org.apache.spark.sql.SparkSession, path: String,
                          probeDocs: DataFrame, maxDfPct: Int,
                          idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val gens = tier(spark, path).gens // ONE snapshot for all tables
    val (ptok, toks, nPairs) = probeTokens(probeDocs, idCol, textCol)
    val (cands, candDocs) =
      prefixCandidates(spark, path, gens, ptok, toks, nPairs, idCol)
    val forward = tokenScanFilter(
      docScanFilter(lexTierForwardAt(spark, path, gens), idCol, candDocs), toks)
    val dlen = lexTierTablesAt(spark, path, gens)._2
    bm25Scores(forward, dlen, ptok, maxDfPct, idCol,
      dfStats = Some(lexTierStatsAt(spark, path, gens)), candidates = Some(cands))
  }

  /** SOUND per-token upper bounds on the BM25 term (the WAND /
    * MaxScore bound — Broder et al. 2003; Turtle & Flood's MaxScore):
    * for every admitted probe token, `__ub` ≥ any document's micro-unit
    * term for that token. Evaluates [[bm25TermSqlOver]] at the tier's
    * folded (max_tf, min_dl) with the serve-time folded avgdl — the
    * SAME expression text as the scoring term on dominating inputs:
    * the term is monotone ↑ in tf and ↓ in dl under IEEE evaluation
    * (every dl-chain op is monotone per rounded-op monotonicity; the
    * tf direction has real-arithmetic slack ≥ K/(tf²+tf+tf·K) per
    * integer step, orders of magnitude above the ≤ ~4-ulp rounding
    * noise for any per-doc tf < 2^24), and `+ 2` micro-units absorbs
    * even the pathological-tf residual: term values are ≤ ~65 score
    * units (see the overflow note above), where 9 ulps is ≪ 1
    * micro-unit. The bound only ever KEEPS extra candidates — it can
    * never prune a true top-k doc. */
  private def bm25UpperBounds(dfT: DataFrame, stats: DataFrame,
                              ptok: DataFrame, maxDfPct: Int): DataFrame =
    dfT.join(broadcast(ptok.select("t").distinct()), "t")
      .crossJoin(broadcast(stats.select("n")))
      .filter(expr(s"df * 100 <= $maxDfPct * n"))
      .withColumn("__x", expr(Bm25IdfArgSql))
      .withColumn("__idf", graft.functions.DetMathExpr.detLn(col("__x")))
      .crossJoin(broadcast(stats.select("avgdl")))
      .withColumn("__ub",
        expr(bm25TermSqlOver("max_tf", "min_dl")) + lit(2L))
      .select(col("t"), col("__ub"))

  /** EXACT top-`topK` BM25 serve WITH BOUNDED SCORING WORK — the WAND
    * rendering (round 16, r15 verdict #4) of [[queryLexIndex]]: same
    * scores, same top-`topK` per probe, but only candidates whose
    * score UPPER BOUND clears the running threshold are ever
    * exact-scored. Set-at-a-time phases:
    *   1. θ seeds from PARTIAL scores over the impact-prefix rows
    *      alone (round 17 — r16 verdict #3): for every (probe, doc)
    *      pair the exact micro-unit term sum over just the admitted
    *      tokens whose top-[[LexPrunedM]] prefix the doc entered. A
    *      partial sum is an exact-integer sum of a SUBSET of the
    *      pair's non-negative terms, so it LOWER-bounds the pair's
    *      full score, and the per-probe topK-th partial score
    *      therefore lower-bounds the true topK-th score — pruning on
    *      it stays lossless. vs the round-16 phase 1 (exact-scoring
    *      the full prefix-candidate set through the forward table):
    *      one arithmetic pass over prefix rows already scanned — no
    *      forward scan, no driver-side candidate collect, no
    *      In(doc_id) pushdown, and the ~80%-of-exact-serve scoring
    *      work SCALEBENCH_r16 measured in θ-derivation is gone;
    *   2. every (probe, doc) pair sharing an admitted token gets a
    *      per-pair upper bound — Σ over shared tokens of the sound
    *      per-token bound ([[bm25UpperBounds]]) — one cheap aggregate
    *      over the token-pruned postings, no per-row idf/term math;
    *   3. only pairs with bound ≥ θ are exact-scored (the shared
    *      [[bm25Scores]] path), and their ranks 1..topK equal the
    *      exact serve's: any pruned pair has true score ≤ bound < θ ≤
    *      the true topK-th score, so it could never enter the cut, and
    *      every survivor's score is the shared [[bm25Scores]] value.
    * The result therefore hash-matches the exact serve BY ARGUMENT —
    * `search_bm25_wand` pins it against `search_bm25_indexed`'s own
    * oracle, which proves the pruning lossless on real data every
    * round (the weaker partial-sum θ admits MORE survivors than the
    * r16 exact-prefix θ, never fewer true results) — while the
    * exact-scored pair count follows θ, not the corpus (ScaleBench
    * `lex_wand_pruning` measures the ratio). */
  def queryLexIndexWand(spark: org.apache.spark.sql.SparkSession, path: String,
                        probeDocs: DataFrame, maxDfPct: Int, topK: Int,
                        idCol: String = "doc_id", textCol: String = "text",
                        dispatch: Boolean = true): DataFrame = {
    val gens = tier(spark, path).gens // ONE snapshot for all tables
    val (ptok, toks, _) = probeTokens(probeDocs, idCol, textCol)
    // LAZY-CHECKPOINT the frames the dispatch job and the serve job
    // BOTH consume (round 19 — the round-18 shared-subtree discipline
    // applied across JOBS): runtime exchange reuse deduplicates
    // identical subtrees only WITHIN one job, and the dispatch decision
    // below is its own driver action, so without truncation the
    // gens-folded stats (df/stats scans + fold aggregates), θ (the
    // whole prefix partial-sum pipeline) and the per-token bounds each
    // re-executed in every job that referenced them — θ up to three
    // times per serve. All four frames are bounded by construction
    // (vocab rows, 1 stats row, ≤ probes θ rows, ≤ probe-vocab bounds),
    // the same class the repo already checkpoints.
    val (dfT0, stats00) = lexTierStatsAt(spark, path, gens)
    val dfT = dfT0.localCheckpoint(false)
    val stats0 = stats00.localCheckpoint(false)
    val stats = stats0.withColumn("avgdl", expr(Bm25AvgdlSql))
    val (postings, dlen) = lexTierTablesAt(spark, path, gens)
    val tokPruned = tokenScanFilter(postings, toks)
    // phase 1: partial scores over the prefix rows → θ. The idf/term
    // arithmetic is the scoring form verbatim (same DetMath ln, same
    // micro-unit term SQL), summed over the subset of tokens whose
    // prefix the doc entered — bounded by M·|probe tokens|·gens rows
    // by the prefix construction.
    val prefix = tokenScanFilter(folded(spark, path, gens, "postings_pruned"), toks)
    val idf = dfT.join(broadcast(ptok.select("t").distinct()), "t")
      .crossJoin(broadcast(stats.select("n")))
      .filter(expr(s"df * 100 <= $maxDfPct * n"))
      .withColumn("__x", expr(Bm25IdfArgSql))
      .withColumn("__idf", graft.functions.DetMathExpr.detLn(col("__x")))
      .select(col("t"), col("__idf"))
    val phase1 = prefix
      .join(broadcast(ptok), "t")
      .filter(col(idCol) =!= col("probe_id"))
      .join(broadcast(idf), "t")
      .crossJoin(broadcast(stats.select("avgdl")))
      .withColumn("__term", expr(Bm25TermSql))
      .groupBy(col("probe_id"), col(idCol).as("cand_id"))
      .agg(sum(col("__term")).as("__micro"))
      .select(col("probe_id"), col("cand_id"),
        expr(Bm25ScoreOf("__micro")).as("__score"))
    val theta0 = phase1
      .groupBy("probe_id")
      .agg(graft.functions.BoundedTopK.topk(
        col("__score"), col("cand_id"), topK).as("__nn"))
      .select(col("probe_id"),
        when(size(col("__nn")) >= topK,
          element_at(col("__nn"), topK).getField("score"))
          .otherwise(lit(Double.NegativeInfinity)).as("__theta"))
    // phase 2: per-pair upper bounds over the token-pruned postings —
    // descaled through the same monotone division as the score, so
    // boundScore ≥ exactScore pairwise
    val ub0 = bm25UpperBounds(dfT, stats, ptok, maxDfPct)
    // test-facing plan capture (the [[Dedup.captureGramPlan]] pattern):
    // the checkpoints make θ and the bounds opaque RDD leaves in the
    // served plan, so the PlanSpec gates that audit the prefix scan's
    // In(t, …) pushdown (θ's input) read the plans recorded here at
    // construction. Off by default; no production caller flips it.
    if (captureWandPlans) {
      // SIMPLE mode (one line per operator, PushedFilters inline) — the
      // format the PlanSpec scan greps parse; formatted mode splits a
      // scan's path and filters across lines
      lastWandThetaPlan = theta0.queryExecution.executedPlan.toString
      lastWandUbPlan = ub0.queryExecution.executedPlan.toString
    }
    val theta = theta0.localCheckpoint(false)
    val ub = ub0.localCheckpoint(false)
    // ---- DEGENERATE-SHAPE DISPATCH (round 18 — r17 verdict #3) ----
    // WAND only WINS when per-pair bounds can fall below θ; on a flat
    // vocabulary every doc shares every probed token at near-identical
    // lengths, bounds are near-uniform, survivors ≈ all pairs, and the
    // serve pays the ub aggregation + survivor join ON TOP of the exact
    // scoring it cannot avoid (measured 1.94× the exact serve at 30×,
    // SCALEBENCH_r17). The dispatch estimates prunability BEFORE paying
    // phases 2-3, per probe, from bounded frames only (the MaxScore
    // feasibility argument — Turtle & Flood 1995): sort the probe's
    // admitted tokens by descaled upper-bound contribution; a pair
    // missing the top-j tokens is prunable only where the remaining
    // tail sum < θ, and the number of docs missing ALL top-j tokens is
    // ≥ n − Σ_{i≤j} df_i (union bound). A probe is "prunable" when at
    // least half its LARGEST posting list is provably prunable at some
    // cut; when fewer than half the probes are prunable, the whole
    // batch serves the EXACT path. Output is hash-identical BY
    // CONSTRUCTION whichever way the heuristic lands — pruning is
    // lossless (survivors ⊇ the true top-k) and both routes score
    // through the shared [[bm25Scores]] form — so the dispatch can only
    // be suboptimal, never wrong; the registry oracle keeps proving
    // that every round. Decision cost: one aggregate over phase 1's
    // bounded prefix rows plus a window over the ≤ MaxProbeVocab
    // (probe, token) impact rows — paid once per serve, corpus-free.
    val route: String =
      if (!dispatch) "wand:forced"
      else {
        import org.apache.spark.sql.expressions.Window
        val nDocs = stats.select(col("n")).head.getLong(0)
        val wOrd = Window.partitionBy("probe_id")
          .orderBy(col("__u").desc, col("t"))
        val wAll = Window.partitionBy("probe_id")
        val cut = ub
          .join(dfT.select(col("t"), col("df")), "t")
          .join(broadcast(ptok), "t")
          .withColumn("__u", expr(Bm25ScoreOf("__ub")))
          .withColumn("__cum", sum(col("__u")).over(wOrd))
          .withColumn("__tot", sum(col("__u")).over(wAll))
          .withColumn("__cumDf", sum(col("df")).over(wOrd))
          .withColumn("__maxDf", max(col("df")).over(wAll))
          .join(broadcast(theta), "probe_id")
          .filter(col("__theta") =!= lit(Double.NegativeInfinity) &&
            (col("__tot") - col("__cum")) < col("__theta"))
          .groupBy("probe_id")
          .agg(min(col("__cumDf")).as("__dfCut"),
            first(col("__maxDf")).as("__listMax"))
        val d = theta.join(cut, Seq("probe_id"), "left")
          .agg(count(lit(1)).as("np"),
            sum(when(col("__dfCut").isNotNull &&
              (lit(nDocs) - col("__dfCut")) >=
                col("__listMax") / lit(2), 1L).otherwise(0L)).as("npr"))
          .head
        val np = d.getLong(0)
        val npr = if (d.isNullAt(1)) 0L else d.getLong(1)
        if (npr * 2 < np) "exact" else "wand"
      }
    lastWandRoute = route
    if (route == "exact")
      // the exact serve verbatim ([[queryLexIndex]]'s body over the
      // snapshot already in hand): no ub pass, no survivor join
      return bm25Scores(tokPruned, dlen, ptok, maxDfPct, idCol,
        dfStats = Some((dfT, stats0)))
    val survivors = tokPruned
      .join(broadcast(ptok), "t")
      .filter(col(idCol) =!= col("probe_id"))
      .join(broadcast(ub), "t")
      .groupBy(col("probe_id"), col(idCol))
      .agg(sum(col("__ub")).as("__ubm"))
      .withColumn("__ubscore", expr(Bm25ScoreOf("__ubm")))
      .join(broadcast(theta), Seq("probe_id"), "left")
      .filter(col("__ubscore") >=
        coalesce(col("__theta"), lit(Double.NegativeInfinity)))
      .select(col("probe_id"), col(idCol))
    // phase 3: exact-score the survivors only. NO broadcast hint on the
    // survivor join: the set is θ-dependent — bounded when score bounds
    // discriminate, ALL pairs when they don't (flat vocabulary), and a
    // forced corpus-sized broadcast is exactly the hazard AQE's
    // size-based choice avoids (measured: a 3M-pair survivor broadcast
    // OOMed a 1 GB driver on the flat-vocab 10× corpus).
    bm25Scores(tokPruned, dlen, ptok, maxDfPct, idCol,
      dfStats = Some((dfT, stats0)), candidates = Some(survivors),
      hintBroadcastCandidates = false)
  }

  /** COMPACT: fold generations into the base tables and drop them.
    * Postings are immutable facts, so like the band tier this is a
    * rewrite, not a rebuild — and IDEMPOTENT against the crash window
    * between rewrite and generation drop ONLY at the table level
    * (duplicate (doc, t) posting rows would double-count tf), which is
    * why the marker is removed during the rewrite: a crash mid-compact
    * reads as "no tier" and the next build starts clean, never serving
    * doubled postings. */
  def compactLexIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                      fingerprint: String): Unit = {
    val t = tier(spark, path)
    t.require("compactLexIndex", fingerprint)
    val gens = t.gens
    if (gens.isEmpty) return
    val (postings, dlen) = lexTierTablesAt(spark, path, gens)
    // materialize the merged plans BEFORE retracting the marker: they
    // reference the very files the rewrite overwrites, AND a transient
    // checkpoint failure here must leave a still-serving tier, not a
    // healthy tier stranded behind a deleted marker; exactly ONE merged
    // copy exists at a time
    val (d, joined) = genTableFrames(postings, dlen)
    t.rewrite(fingerprint) {
      // statistics are REAGGREGATED from the merged facts (one extra
      // shuffle over data compaction rewrites anyway) — exact integers,
      // so this equals the generation fold bit-for-bit
      writeGenTablesFrom(path, d, joined, base = true)
      t.dropGens()
      org.apache.spark.sql.GraftColumnBridge.unpersistLocalCheckpoint(d)
      org.apache.spark.sql.GraftColumnBridge.unpersistLocalCheckpoint(joined)
    }
  }

  /** Auto-compaction ([[Tier.compactionDue]] over posting rows): fire at
    * `maxGens` generations or delta/base ratio ≥ `maxRatio`. Returns
    * whether it fired. */
  def maybeCompactLexIndex(spark: org.apache.spark.sql.SparkSession,
                           path: String, fingerprint: String,
                           maxGens: Int = 4, maxRatio: Double = 0.25): Boolean = {
    val fire = tier(spark, path).compactionDue(maxGens, maxRatio)
    if (fire) compactLexIndex(spark, path, fingerprint)
    fire
  }
}
