package graft.ext

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** PERSISTED LEXICAL (BM25) INDEX TIER — the retrieval family's LSM
  * lifecycle, the [[Dedup]] near-dup band tier's discipline applied to
  * the inverted index: at 100 TB the corpus is tokenized
  * ONCE and every query batch probes the persisted posting lists
  * instead of re-tokenizing the world. Build → marker-gated serve →
  * numbered delta generations per arrival batch → idempotent
  * compaction.
  *
  * Tier content is six append-only tables for the BASE segment (five
  * for delta generations — arrival-sized segments skip the heavy
  * layouts, see [[writeGenTablesFrom]]), all fixed-width and
  * text-free, in the TWO layouts a retrieval engine actually needs (the
  * Lucene split of inverted index vs per-doc stored fields):
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
  *    are the per-token score-bound inputs the WAND serve folds into
  *    sound upper bounds.
  * Like band rows, a document's postings are immutable once tokenized
  * (re-upserting an id is the caller's bug), so compaction is a
  * REWRITE, not a rebuild. Global statistics FOLD across generations
  * by exact integer ops (generations index disjoint documents: df,
  * sdl, n add; max_tf/min_dl fold by max/min) — bit-identical to a
  * fresh full build's aggregation by construction, which keeps the
  * tier upsert-correct however arrivals were batched (the streaming
  * replay's shared oracle hash-proves exactly this) while a probe
  * batch reads GENS-BOUNDED vocab-sized stat tables instead of
  * re-aggregating the full postings table, which at 100 TB would be a
  * corpus scan per query.
  *
  * Scoring is ONE implementation (`scoreRows` over rows weighted by
  * `admitted`) shared by the in-query hybrid arm, the tier serves and
  * the WAND serve, so the persisted and in-query forms cannot drift. Determinism: idf is deterministic
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
    * at 9M scored pairs (9.6 s → ~4.5 s on the 1× `lex_probe` rung;
    * PERF_NOTES, "BM25 probe cost, profiled then cut 3.4×").
    * Overflow bound (stated, not assumed): the
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

  /** IMPACT-ORDERED CANDIDATE GENERATION (the early-termination scale
    * path the max-df cut comments point at): posting-list length under a corpus-relative stopword cut is
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
    // NOTE (measured): deriving dl from a lazily-checkpointed
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
    * The stopword cut is CORPUS-RELATIVE: tokens in more than
    * `maxDfPct`% of documents drop — the `max_df` convention, compared
    * in exact integers (`df·100 ≤ pct·n`) so both engines make the
    * identical cut. An ABSOLUTE cap would be vacuous: any fixed count
    * is "everything" on a small corpus and "nothing" on a big one — a
    * fraction of the corpus is the only df that means the same thing at
    * every scale.
    *
    * Join order is the 100 TB shape: the postings scan meets the
    * BROADCAST PROBE TOKENS FIRST — the only join that prunes
    * corpus-sized data — then the (probe-pruned, vocab-bounded,
    * broadcast) idf table, which carries the 1-row avgdl, then doc
    * lengths. When `postings` already CARRIES a `dl` column (the
    * persisted tier denormalizes it at write time — the Lucene
    * per-doc-norm layout), the doc-length join disappears entirely and
    * the probe plan's ONLY exchange is the final (probe, cand)
    * aggregation: everything upstream is broadcast-joined map-side.
    * Candidates never include the probe itself; when `candidates`
    * (probe_id, idCol) is given, scoring restricts to those pairs —
    * the impact-prefix serving path, where the pair set is bounded by
    * M·|probe tokens| per probe. Returns (probe_id, cand_id, __score
    * DOUBLE) — the exact-decimal per-pair sum surfaced as a double. */
  def bm25Scores(postings: DataFrame, dlen: DataFrame, probeTok: DataFrame,
                 maxDfPct: Int, idCol: String = "doc_id",
                 dfStats: Option[(DataFrame, DataFrame)] = None,
                 candidates: Option[DataFrame] = None): DataFrame = {
    val (dfT, stats) = dfStats.getOrElse(statTables(postings, dlen))
    val ptok = probeTok.select(col("probe_id"), col("t"))
    // idf only for tokens the probes actually use (bounded by the probe
    // batch's vocabulary) that survive the relative cut; the ln is the
    // native DetMath expression — the bit-identical twin of the chain
    // the oracle evaluates
    val idf = admitted(dfT.join(broadcast(ptok.select("t")), Seq("t"), "left_semi")
        .crossJoin(broadcast(stats.select("sdl", "n"))), maxDfPct)
      .select(col("t"), col("__idf"), col("avgdl"))
    val rows = postings
      .join(broadcast(ptok), "t")
      .filter(col(idCol) =!= col("probe_id"))
      .join(broadcast(idf), "t")
    scoreRows(rows, idCol, candidates, dlen = Some(dlen))
  }

  /** The tokens of `stats` — rows carrying `df`, `n` and `sdl` — that
    * pass the relative df cut, with their `avgdl` and `__idf`. */
  private def admitted(stats: DataFrame, maxDfPct: Int): DataFrame =
    stats.filter(expr(s"df * 100 <= $maxDfPct * n"))
      .withColumn("avgdl", expr(Bm25AvgdlSql))
      .withColumn("__x", expr(Bm25IdfArgSql))
      .withColumn("__idf", graft.functions.DetMathExpr.detLn(col("__x")))

  /** Posting rows already paired with a probe (`probe_id`) and weighted
    * (`__idf`, `avgdl`), summed per (probe, doc) pair in micro-units:
    * restricted to `candidates` (probe_id, idCol) pairs when given, and
    * joined to `dlen` only when the rows carry no `dl`.
    *
    * `hintBroadcastCandidates`: the impact-prefix serves pass true —
    * their candidate set is bounded by construction (≤ M·|probe
    * tokens|·gens), so the hint is safe and skips a shuffle. The WAND
    * serve passes FALSE: its survivor set is θ-dependent and on a
    * corpus whose score bounds don't discriminate (flat vocabulary)
    * degenerates to ALL pairs — a forced broadcast there is a
    * corpus-sized driver hazard, so the planner (AQE) picks the join
    * side from actual sizes instead. */
  private def scoreRows(rows: DataFrame, idCol: String,
                        candidates: Option[DataFrame] = None,
                        hintBroadcastCandidates: Boolean = true,
                        dlen: Option[DataFrame] = None): DataFrame = {
    val pruned = candidates
      .map(c => rows.join(
        if (hintBroadcastCandidates) broadcast(c) else c,
        Seq("probe_id", idCol)))
      .getOrElse(rows)
    val withDl =
      if (pruned.columns.contains("dl")) pruned
      else pruned.join(dlen.get, idCol)
    withDl
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

  /** Write one generation's four tables (facts + statistics) under
    * `dir`. The facts are materialized once (localCheckpoint) so the
    * df/stats aggregations don't re-tokenize the documents. The
    * persisted postings DENORMALIZE the doc length (`dl`) into every
    * row — the Lucene per-doc-norm layout, +8 bytes/row paid once per
    * generation so probe plans never shuffle corpus-sized data to a
    * doc-length join, which is the dominant probe cost once the max-df
    * cut admits real posting lists (`lex_probe`; PERF_NOTES, "BM25
    * probe cost, profiled then cut 3.4×"). */
  /** Materialize the TWO frames every generation write derives from:
    * `d` (doc lengths — dlen + stats + the dl join) and `joined`
    * (dl-denormalized postings — postings + pruned prefix + df, whose
    * (doc, t) row set equals the raw postings', so df aggregated there
    * is identical to statTables' form). Exposed separately from
    * [[writeGenTablesFrom]] so compaction can materialize BEFORE
    * retracting the serving marker (a transient checkpoint failure must
    * not strand a healthy tier behind a deleted marker) while still
    * holding only one merged copy at a time. */
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
    * Layout: `postings` and its pruned prefix are RANGE-SORTED BY TOKEN ([[graft.core.Layout
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
    // paths over the two checkpointed frames — overlap them: the small metadata tables (dlen/df/stats) back-fill
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
    * SNAPSHOT DISCIPLINE: a query lists the completed generations ONCE
    * and threads that list through every table it reads — listing per
    * table would let a concurrently completing upsert split one probe
    * across two tier states (stats counting documents whose postings
    * are never scanned). */
  def lexTierTables(spark: org.apache.spark.sql.SparkSession, path: String):
      (DataFrame, DataFrame) = {
    val t = tier(spark, path)
    lexTierTablesAt(t, t.gens)
  }

  private def lexTierTablesAt(t: Tier, gens: Seq[Int]): (DataFrame, DataFrame) =
    (t.folded(gens, "postings"), t.folded(gens, "dlen"))

  /** The tier's FOLDED statistics — (t, df) and 1-row (sdl, n) —
    * summed over base + every completed generation:
    * generations index disjoint documents, so the per-generation
    * doc-frequencies and doc-count/length totals add EXACTLY (integer
    * arithmetic — bit-identical to a fresh full build's aggregation,
    * in any fold order). A probe batch reads these gens-bounded
    * vocab-sized tables instead of aggregating the full postings
    * table — at 100 TB that aggregation was a corpus scan per query. */
  def lexTierStats(spark: org.apache.spark.sql.SparkSession, path: String):
      (DataFrame, DataFrame) = {
    val t = tier(spark, path)
    lexTierStatsAt(t, t.gens)
  }

  private def lexTierStatsAt(t: Tier, gens: Seq[Int]): (DataFrame, DataFrame) = {
    // df/sdl/n fold by exact integer addition (disjoint documents);
    // max_tf/min_dl fold by max/min — also exact, and identical to a
    // fresh full build's per-token aggregate by the same disjointness
    val dfT = t.folded(gens, "df")
      .groupBy("t").agg(sum(col("df")).as("df"),
        max(col("max_tf")).as("max_tf"), min(col("min_dl")).as("min_dl"))
    val stats = t.folded(gens, "stats")
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
  private def lexTierForwardAt(t: Tier, gens: Seq[Int]): DataFrame =
    t.folded(gens, "postings", baseTable = "forward")

  /** Loud guard on the driver-side bounded collects below: a probe
    * batch's distinct vocabulary past this is not an arrival batch —
    * someone is probing with the corpus, and the `isin` pushdown would
    * become the unbounded driver state it exists to avoid. */
  val MaxProbeVocab = 1 << 20

  /** TEST/EVIDENCE-FACING route record (the `captureWalkPlans`
    * convention): which path the last [[queryLexIndexWand]] call chose
    * — "wand" (bounds discriminate), "exact" (degenerate-shape
    * dispatch fired), or "wand:forced" (`dispatch = false`). Specs pin
    * the routing on both corpus shapes; the `lex_wand_pruning` rows of
    * SCALEBENCH_r18.jsonl record it (`dispatch_route`) beside the
    * pruning power. Never read by the serve itself. */
  @volatile private[graft] var lastWandRoute: String = ""

  /** TEST-FACING plan capture for the WAND serve (the
    * [[Dedup.captureGramPlan]] pattern): θ is collected to the driver,
    * so the served plan never contains the impact-prefix scan; the
    * PlanSpec gates that audit that scan's In(t, …) pushdown read θ's
    * executed plan, recorded here after its collect. Off by default. */
  @volatile private[graft] var captureWandPlans: Boolean = false
  @volatile private[graft] var lastWandThetaPlan: String = ""

  /** Driver-memory cap on the collected prefix-candidate pair frame.
    * The STRUCTURAL bound is M·|probe (probe_id, token) pairs|·segments
    * — computed per call from the actual inputs, because a static cap
    * cannot distinguish "the per-list prefix write is broken" from "a
    * legal but huge probe batch" (a ~200k-token batch under
    * [[MaxProbeVocab]] legitimately exceeds any fixed constant).
    * Exceeding the structural bound means the write is broken;
    * exceeding this cap with an intact write means the batch must be
    * split before the driver-local frame is built. */
  val MaxPrunedPairs = 4 << 20

  /** Past this many distinct probe tokens the scan-pushdown `In(t, …)`
    * filter gives way to a broadcast semi join with the probe tokens: a
    * million-literal In expression costs seconds of driver-side
    * canonicalization/serialization per batch, while the join restricts
    * the same rows — the In filter exists to let the reader skip row
    * groups, a win that evaporates once the probe vocabulary approaches
    * the corpus's. */
  val InFilterCap = 4096

  /** The rows of `df` whose token `t` the probe batch uses: an `In(t, …)`
    * scan pushdown up to [[InFilterCap]] tokens, a broadcast semi join
    * past it — same rows either way, so serves are hash-identical. */
  private def probedRows(df: DataFrame, probe: Probe): DataFrame =
    if (probe.vocab.length <= InFilterCap) df.filter(col("t").isin(probe.vocab: _*))
    else df.join(broadcast(probe.pairs.select("t")), Seq("t"), "left_semi")

  /** The same cap discipline for the candidate-doc `In(doc_id, …)`
    * pushdown on the forward scans: the structural bound legalizes
    * candidate batches up to [[MaxPrunedPairs]], and a
    * multi-million-literal In expression costs exactly the seconds of
    * driver-side canonicalization the TOKEN cap avoids. The bounded
    * broadcast `candidates` join restricts the same rows either way, so
    * serves are hash-identical past the cap; the cap is wider than
    * [[InFilterCap]] because doc ids are fixed-width numerics (no
    * per-literal string canonicalization) and the forward pushdown is
    * what keeps exact scoring candidate-shaped. */
  val DocInFilterCap = 1 << 16
  private def docScanFilter(df: DataFrame, idCol: String,
                            docs: Seq[Any]): DataFrame =
    if (docs.length <= DocInFilterCap) df.filter(col(idCol).isin(docs: _*)) else df

  /** A probe batch's tokens on the driver: the distinct (probe_id, t)
    * `rows`, the same pairs as a driver-local frame (`pairs`, the
    * broadcast side of every serve join), and the distinct tokens
    * (`vocab`, for [[probedRows]]). */
  private final case class Probe(pairs: DataFrame, rows: Seq[Row], vocab: Seq[String])

  /** Tokenize `probeDocs` and collect its distinct (probe_id, t) pairs in
    * one action. The collect groups by token and is limit-capped at
    * [[MaxProbeVocab]] + 1 rows, so the vocabulary guard fires before
    * the driver holds more than that (a corpus-sized batch would
    * otherwise OOM the collect ahead of the guard). The pairs then enter
    * every serve plan as a driver-local frame, so no serve job derives
    * them again. */
  private def probeTokens(probeDocs: DataFrame, idCol: String,
                          textCol: String): Probe = {
    val tok = probeDocs
      .select(col(idCol).as("probe_id"), explode(Text.tokens(col(textCol))).as("t"))
    val byToken = tok.groupBy("t").agg(collect_set(col("probe_id")).as("ids"))
      .limit(MaxProbeVocab + 1).collect()
    require(byToken.length <= MaxProbeVocab,
      s"lex probe vocabulary exceeds $MaxProbeVocab - " +
        "probe batches must be arrival-sized, not corpus-sized")
    val rows = byToken.toSeq.flatMap(r => r.getSeq[Any](1).map(Row(_, r.getString(0))))
    Probe(localFrame(probeDocs.sparkSession, rows, tok.schema), rows,
      byToken.map(_.getString(0)).toSeq)
  }

  private def localFrame(spark: org.apache.spark.sql.SparkSession, rows: Seq[Row],
                         schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** Probe the tier: BM25 top candidates for each probe document,
    * scored against EVERYTHING indexed (base ∪ deltas), global stats
    * FOLDED from the persisted per-generation tables ([[lexTierStats]]
    * — never a full-postings aggregation). The probe batch's bounded
    * distinct token set pushes into the token-range-sorted postings
    * scan as an `In(t, …)` filter: the reader skips every row group
    * whose token range the probe never mentions, so scan cost follows
    * the PROBED posting lists, not the corpus. (On a corpus whose whole
    * vocabulary is probed nothing can be skipped — exact BM25 is
    * inherently linear in admitted postings per probe token;
    * [[queryLexIndexWand]] is the exact serve that also bounds the
    * SCORING work, and [[queryLexIndexPruned]] the approximate one that
    * bounds everything.) */
  def queryLexIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                    probeDocs: DataFrame, maxDfPct: Int,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val t = tier(spark, path)
    val gens = t.gens // ONE snapshot for all tables
    val (postings, dlen) = lexTierTablesAt(t, gens)
    val probe = probeTokens(probeDocs, idCol, textCol)
    bm25Scores(probedRows(postings, probe), dlen, probe.pairs,
      maxDfPct, idCol, dfStats = Some(lexTierStatsAt(t, gens)))
  }

  /** The impact-prefix CANDIDATE pairs of a probe batch, collected
    * driver-side (bounded by M·|probe tokens|·gens by construction):
    * (probe_id, doc) pairs from the top-[[LexPrunedM]] prefix of every
    * probe token's posting list, per generation. The doc ids feed the
    * forward-table `isin` pushdown and the pairs re-enter the plan as a
    * broadcast-local frame, so the serve plan never re-derives them. */
  private def prefixCandidates(spark: org.apache.spark.sql.SparkSession,
                               t: Tier, gens: Seq[Int], probe: Probe,
                               idCol: String): (DataFrame, Seq[Any]) = {
    val prefix = probedRows(t.folded(gens, "postings_pruned"), probe)
    val cands = prefix.join(broadcast(probe.pairs), "t")
      .filter(col(idCol) =!= col("probe_id"))
      .select(col("probe_id"), col(idCol))
      .distinct()
    // the structural bound from the ACTUAL inputs (M · |(probe, token)
    // pairs| · segments); the collect is limit-capped so a broken
    // prefix write fails LOUDLY here instead of OOMing the driver first
    val structuralBound =
      LexPrunedM.toLong * probe.rows.length * (gens.length + 1)
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
    (localFrame(spark, rows.toSeq, cands.schema), rows.map(_.get(1)).distinct.toSeq)
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
    * Exact scoring reads the doc-major FORWARD tables with the bounded
    * candidate-doc set pushed down as `In(doc_id, …)` — the scoring
    * scan is candidate-shaped at ANY corpus size and vocabulary shape
    * (the token-sorted postings can only skip tokens the probe lacks,
    * which is nothing on a flat vocabulary; the forward layout skips
    * every non-candidate DOC instead). Candidate generation itself
    * reads only the prefix tables — per-list top-M files,
    * corpus-independent. */
  def queryLexIndexPruned(spark: org.apache.spark.sql.SparkSession, path: String,
                          probeDocs: DataFrame, maxDfPct: Int,
                          idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val t = tier(spark, path)
    val gens = t.gens // ONE snapshot for all tables
    val probe = probeTokens(probeDocs, idCol, textCol)
    val (cands, candDocs) = prefixCandidates(spark, t, gens, probe, idCol)
    val forward = probedRows(
      docScanFilter(lexTierForwardAt(t, gens), idCol, candDocs), probe)
    bm25Scores(forward, t.folded(gens, "dlen"), probe.pairs, maxDfPct, idCol,
      dfStats = Some(lexTierStatsAt(t, gens)), candidates = Some(cands))
  }

  /** (t, df, max_tf, min_dl, sdl, n): [[probedStats]]' rows. */
  private val ProbedStatsSchema = StructType(
    Seq("t" -> StringType, "df" -> LongType, "max_tf" -> LongType,
      "min_dl" -> LongType, "sdl" -> LongType, "n" -> LongType)
      .map { case (n, t) => StructField(n, t) })

  /** The tier's folded statistics for the probed tokens, collected: one
    * (t, df, max_tf, min_dl, sdl, n) row per probed token the tier
    * indexes, each carrying the tier-wide sdl and n. One scan each over
    * the base and `gens` of the `df` and `stats` tables; the segments
    * fold on the driver by [[lexTierStatsAt]]'s exact integer rules
    * (sum, max, min; sdl is null when every segment's is). Bounded by
    * the probe batch's vocabulary. */
  private def probedStats(t: Tier, gens: Seq[Int], probe: Probe): Seq[Row] = {
    val segs = t.folded(gens, "stats").collect()
    val n = segs.map(_.getAs[Long]("n")).sum
    val sdls = segs.filterNot(r => r.isNullAt(r.fieldIndex("sdl"))).map(_.getAs[Long]("sdl"))
    val sdl = if (sdls.isEmpty) null else sdls.sum
    probedRows(t.folded(gens, "df"), probe).select("t", "df", "max_tf", "min_dl")
      .collect().toSeq.groupBy(_.getString(0)).toSeq.map { case (tok, rs) =>
        Row(tok, rs.map(_.getLong(1)).sum, rs.map(_.getLong(2)).max,
          rs.map(_.getLong(3)).min, sdl, n)
      }
  }

  /** Per ADMITTED probed token ([[admitted]]): `df`, `__idf`, `avgdl`
    * and `__ub`, evaluated by the shared scoring SQL over the
    * driver-local [[probedStats]] rows. Filters and projections over a
    * local relation are evaluated while the plan is optimized, so the
    * collect runs no Spark job.
    *
    * `__ub` is a SOUND per-token upper bound on the BM25 term (the WAND
    * / MaxScore bound — Broder et al. 2003; Turtle & Flood's MaxScore):
    * `__ub` ≥ any document's micro-unit term for that token. It
    * evaluates [[bm25TermSqlOver]] at the tier's folded (max_tf, min_dl)
    * with the folded avgdl — the SAME expression text as the scoring
    * term on dominating inputs: the term is monotone ↑ in tf and ↓ in
    * dl under IEEE evaluation (every dl-chain op is monotone per
    * rounded-op monotonicity; the tf direction has real-arithmetic
    * slack ≥ K/(tf²+tf+tf·K) per integer step, orders of magnitude above
    * the ≤ ~4-ulp rounding noise for any per-doc tf < 2^24), and `+ 2`
    * micro-units absorbs even the pathological-tf residual: term values
    * are ≤ ~65 score units (see the overflow note above), where 9 ulps
    * is ≪ 1 micro-unit. The bound only ever KEEPS extra candidates — it
    * can never prune a true top-k doc. */
  private def tokenWeights(spark: org.apache.spark.sql.SparkSession,
                           stats: Seq[Row], maxDfPct: Int): Seq[Row] =
    admitted(localFrame(spark, stats, ProbedStatsSchema), maxDfPct)
      .withColumn("__ub", expr(bm25TermSqlOver("max_tf", "min_dl")) + lit(2L))
      .select("t", "df", "__idf", "avgdl", "__ub")
      .collect().toSeq

  /** EXACT top-`topK` BM25 serve WITH BOUNDED SCORING WORK — the WAND
    * rendering of [[queryLexIndex]]: same scores, same top-`topK` per
    * probe, but only candidates whose score UPPER BOUND clears the
    * running threshold are ever exact-scored.
    *
    * Everything the serve derives from the probe batch is bounded by it
    * and is collected to the driver once: the (probe_id, t) pairs
    * ([[probeTokens]]), the probed tokens' folded statistics
    * ([[probedStats]]), their idf and upper bounds ([[tokenWeights]],
    * no job) and θ. Those rows re-enter the remaining plans as one
    * driver-local frame of (probe, admitted token) weights. Phases:
    *   1. θ seeds from PARTIAL scores over the impact-prefix rows alone:
    *      for every (probe, doc) pair the exact micro-unit term sum over
    *      just the admitted tokens whose top-[[LexPrunedM]] prefix the
    *      doc entered. A partial sum is an exact-integer sum of a SUBSET
    *      of the pair's non-negative terms, so it LOWER-bounds the
    *      pair's full score, and the per-probe topK-th partial score
    *      therefore lower-bounds the true topK-th score — pruning on it
    *      stays lossless. One arithmetic pass over prefix rows, no
    *      forward scan; θ (≤ one row per probe) is collected.
    *   2. the route decision ([[maxScoreRoute]]) runs on the driver over
    *      the collected bounds, df and θ.
    *   3. every (probe, doc) pair sharing an admitted token gets a
    *      per-pair upper bound — Σ over shared tokens of the sound
    *      per-token bound — one cheap aggregate over the token-pruned
    *      postings, no per-row idf/term math; only pairs with bound ≥ θ
    *      are exact-scored, and their ranks 1..topK equal the exact
    *      serve's: any pruned pair has true score ≤ bound < θ ≤ the true
    *      topK-th score, so it could never enter the cut, and every
    *      survivor's score is the shared scoring form's value.
    * The result therefore hash-matches the exact serve BY ARGUMENT —
    * `search_bm25_wand` pins it against `search_bm25_indexed`'s own
    * oracle, which proves the pruning lossless on real data — while the
    * exact-scored pair count follows θ, not the corpus (the
    * `lex_wand_pruning` rows of SCALEBENCH_r17.jsonl record the ratio;
    * PERF_NOTES, "WAND θ from prefix partial sums"). */
  def queryLexIndexWand(spark: org.apache.spark.sql.SparkSession, path: String,
                        probeDocs: DataFrame, maxDfPct: Int, topK: Int,
                        idCol: String = "doc_id", textCol: String = "text",
                        dispatch: Boolean = true): DataFrame = {
    val t = tier(spark, path)
    val gens = t.gens // ONE snapshot for all tables
    val probe = probeTokens(probeDocs, idCol, textCol)
    val stats = probedStats(t, gens, probe)
    val weightOf = tokenWeights(spark, stats, maxDfPct).map(w => w.getString(0) -> w).toMap
    // (probe pair, token weights) for every admitted probed token
    val weighted = probe.rows.flatMap(p => weightOf.get(p.getString(1)).map(p -> _))
    val pairSchema = probe.pairs.schema
      .add("__idf", "double").add("avgdl", "double").add("__ub", "long")
    // θ rides along per pair, -∞ for a probe without one (every pair
    // survives)
    def weightFrame(theta: Map[Any, Double]): DataFrame = localFrame(spark,
      weighted.map { case (p, w) =>
        Row(p.get(0), p.get(1), w.get(2), w.get(3), w.get(4),
          theta.getOrElse(p.get(0), Double.NegativeInfinity))
      }, pairSchema.add("__theta", "double"))
    def probedPairs(table: DataFrame, weights: DataFrame): DataFrame =
      probedRows(table, probe).join(broadcast(weights), "t")
        .filter(col(idCol) =!= col("probe_id"))

    // phase 1: partial scores over the prefix rows → θ per probe
    val thetaDf = scoreRows(probedPairs(t.folded(gens, "postings_pruned"),
        weightFrame(Map.empty)), idCol)
      .groupBy("probe_id")
      .agg(graft.functions.BoundedTopK.topk(
        col("__score"), col("cand_id"), topK).as("__nn"))
      .select(col("probe_id"),
        when(size(col("__nn")) >= topK,
          element_at(col("__nn"), topK).getField("score"))
          .otherwise(lit(Double.NegativeInfinity)).as("__theta"))
    val theta = thetaDf.collect().map(r => r.get(0) -> r.getDouble(1)).toMap
    if (captureWandPlans)
      lastWandThetaPlan = thetaDf.queryExecution.executedPlan.toString

    val route =
      if (!dispatch) "wand:forced"
      else maxScoreRoute(weighted, theta, stats.headOption.fold(0L)(_.getLong(5)))
    lastWandRoute = route
    val rows = probedPairs(t.folded(gens, "postings"), weightFrame(theta))
    // the exact serve over the snapshot already in hand: no bound pass,
    // no survivor join
    if (route == "exact") return scoreRows(rows, idCol)
    val survivors = rows
      .groupBy(col("probe_id"), col(idCol))
      .agg(sum(col("__ub")).as("__ubm"), max(col("__theta")).as("__theta"))
      .filter(expr(Bm25ScoreOf("__ubm")) >= col("__theta"))
      .select(col("probe_id"), col(idCol))
    // phase 3: exact-score the survivors only. NO broadcast hint on the
    // survivor join: the set is θ-dependent — bounded when score bounds
    // discriminate, ALL pairs when they don't (flat vocabulary), and a
    // forced corpus-sized broadcast is exactly the hazard AQE's
    // size-based choice avoids (measured: a 3M-pair survivor broadcast
    // OOMed a 1 GB driver on the flat-vocab 10× corpus).
    scoreRows(rows, idCol, candidates = Some(survivors),
      hintBroadcastCandidates = false)
  }

  /** The DEGENERATE-SHAPE DISPATCH, on the driver over bounded rows:
    * "exact" when WAND cannot pay for itself, else "wand". WAND only
    * WINS when per-pair bounds can fall below θ; on a flat vocabulary
    * every doc shares every probed token at near-identical lengths,
    * bounds are near-uniform, survivors ≈ all pairs, and the serve pays
    * the bound aggregation + survivor join ON TOP of the exact scoring
    * it cannot avoid (measured 1.94× the exact serve at 30×,
    * SCALEBENCH_r17). The test is the MaxScore feasibility argument
    * (Turtle & Flood 1995), per probe with a finite θ: sort the probe's
    * admitted tokens by descaled upper-bound contribution `u` (ties by
    * token, in Spark's UTF-8 byte order); a pair missing the top-j
    * tokens is prunable only where the remaining tail sum (the total
    * minus the running sum, both summed in that order) < θ, and the
    * number of docs missing ALL top-j tokens is ≥ n − Σ_{i≤j} df_i
    * (union bound). A probe is "prunable" when at least half its
    * LARGEST posting list is provably prunable at some cut; when fewer
    * than half the probes with a θ are prunable, the batch serves the
    * EXACT path. Output is hash-identical BY CONSTRUCTION whichever way
    * the heuristic lands — pruning is lossless and both routes score
    * through the same form — so the dispatch can only be suboptimal,
    * never wrong. */
  private def maxScoreRoute(weighted: Seq[(Row, Row)], theta: Map[Any, Double],
                            nDocs: Long): String = {
    import org.apache.spark.unsafe.types.UTF8String
    val tokensOf = weighted.groupBy(_._1.get(0))
    val prunable = theta.count { case (probeId, th) =>
      th != Double.NegativeInfinity && {
        val toks = tokensOf.getOrElse(probeId, Seq.empty)
          .map { case (p, w) =>
            (w.getLong(4).toDouble / 1.0E12, UTF8String.fromString(p.getString(1)), w.getLong(1))
          }
          .sortWith((a, b) => a._1 > b._1 || (a._1 == b._1 && a._2.compareTo(b._2) < 0))
        val cum = toks.scanLeft(0.0)(_ + _._1).tail
        val cumDf = toks.scanLeft(0L)(_ + _._3).tail
        val tot = cum.lastOption.getOrElse(0.0)
        val listMax = toks.map(_._3).maxOption.getOrElse(0L)
        cum.indices.find(i => tot - cum(i) < th)
          .exists(i => (nDocs - cumDf(i)).toDouble >= listMax / 2.0)
      }
    }
    if (prunable * 2L < theta.size) "exact" else "wand"
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
    val (postings, dlen) = lexTierTablesAt(t, gens)
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
