package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over `documents.text` — the training-data
  * pipeline extensions (north star; SURVEY.md §7.4). All built-in Catalyst
  * expressions (regexp/array higher-order functions), no UDFs: every
  * transform stays inside whole-stage codegen and scales linearly with
  * input — no shuffle is introduced before the explicit aggregations in
  * the query layer.
  */
object Text {

  /** Word tokenizer shared by every operator (and mirrored verbatim in the
    * DuckDB oracles): lowercase, runs of [a-z0-9]. Deliberately simple so
    * both engines' regex dialects (Java util.regex vs RE2) agree. */
  val tokenPattern: String = "[a-z0-9]+"

  def tokens(text: Column): Column =
    regexp_extract_all(lower(text), lit(tokenPattern), lit(0))

  /** BPE-ish token estimator: words stay whole, digits and punctuation
    * split one-per-token — a cheap stand-in for subword token counting
    * with the same regex on both engines. */
  val bpePattern: String = "[a-z]+|[0-9]|[^a-z0-9\\s]"

  def bpeTokens(text: Column): Column =
    regexp_extract_all(lower(text), lit(bpePattern), lit(0))

  /** Adjacent n-grams from a token array (n=2 default), built by zipping
    * `n` shifted slices of the array. NOT index-based on purpose: a lambda
    * body that references the (possibly unmaterialized) token expression
    * re-evaluates it per output element — the index formulation measured
    * 27× slower at sf0.1 (6.1 s vs 0.23 s for bigrams over 5k docs).
    * Slices evaluate the token expression exactly `n` times per row.
    * Short docs yield an empty array (slice length clamps to 0). */
  def ngrams(toks: Column, n: Int = 2): Column = {
    val m = greatest(size(toks) - (n - 1), lit(0))
    val slices = (0 until n).map(k => slice(toks, lit(k + 1), m))
    slices.reduceLeft((acc, s) => zip_with(acc, s, (a, b) => concat(a, lit(" "), b)))
  }

  /** Minimal stopword list present in the synthetic corpus; used by the
    * quality score. Kept tiny and explicit so the oracle SQL can inline it. */
  val stopwords: Seq[String] = Seq("the", "a", "and", "of", "to", "in")

  def stopwordCount(toks: Column): Column =
    size(filter(toks, t => t.isin(stopwords.map(x => x: Any): _*)))

  /** Per-language stopword profiles for the language-ID heuristic. A real
    * deployment would use char-n-gram profiles; function-word hits are the
    * deterministic, shuffle-free core of that idea. */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "is", "to"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "fr" -> Seq("le", "la", "et", "les", "est", "un"),
    "es" -> Seq("el", "los", "y", "que", "es", "un"),
    "it" -> Seq("il", "la", "e", "che", "di", "un"))

  /** Language-ID: argmax of profile hits. Ties resolve to the FIRST
    * profile in [[langProfiles]] order (so "en" wins an en/fr tie);
    * zero-hit docs → "und" (undetermined). Pure expression tree — no
    * shuffle, no UDF; the DuckDB oracle reproduces the same order. */
  def langId(toks: Column): Column = {
    val scores = langProfiles.map { case (lang, words) =>
      lang -> size(filter(toks, t => t.isin(words.map(x => x: Any): _*)))
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((lang, s), acc) =>
      when(s === best && s > 0, lit(lang)).otherwise(acc)
    }
  }

  /** Highest within-document frequency of any single element of `arr` —
    * the core of the Gopher-style repetition signals (top-token /
    * top-n-gram fraction). Sort + linear run-length fold: O(n log n) per
    * ROW with no shuffle and no per-distinct rescan (the naive
    * "count each distinct element" form is O(distinct·n) per row, which
    * a template-spam document — exactly the kind this signal exists to
    * catch — degrades to O(n²)). Empty array → 0. */
  def maxRunCount(arr: Column): Column = {
    val folded = aggregate(
      array_sort(arr),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      })
    folded.getField("best")
  }

  /** Document fingerprint: digest of the normalized token stream. Two docs
    * that differ only in case/punctuation/whitespace fingerprint the same;
    * a reordered document fingerprints differently. md5 on both engines →
    * identical lowercase hex, so this is fully oracle-checkable. */
  def fingerprint(toks: Column): Column =
    md5(concat_ws(" ", toks).cast("binary"))

  /** PII-redaction patterns, restricted to the RE2 ∩ java.util.regex
    * common subset (plain char classes, bounded repetition — no
    * lookaround, no shorthand classes) so Spark and the DuckDB oracle
    * rewrite byte-identical spans. Deliberately simple shapes; a real
    * deployment extends the pattern list, not the machinery. */
  val emailPattern: String = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val urlPattern: String = "https://[a-z0-9./]+"
  val phonePattern: String = "[0-9]{3}-[0-9]{4}"

  /** Scrub emails, then URLs, then phone-shaped digit runs (order fixed:
    * the earlier rewrites cannot create later matches). Pure codegen'd
    * regexp_replace chain — linear scan, no shuffle. */
  def redact(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailPattern, "<EMAIL>"),
        urlPattern, "<URL>"),
      phonePattern, "<PHONE>")

  /** Byte class of the control characters [[scrub]] removes — explicit
    * code points (not `\p{Cntrl}`) so the Java-regex engine here and the
    * RE2 engine in the DuckDB oracle agree character-for-character. */
  val controlClass: String = "[\\x00-\\x1f\\x7f]"

  /** TEXT SCRUB: the normalization pass raw corpora get before any
    * hashing/dedup — control characters to spaces, whitespace runs
    * collapsed, ends trimmed. Doing this FIRST matters: two crawls of
    * the same page differing only in \r\n vs \n or stray control bytes
    * must fingerprint identically or every downstream dedup treats them
    * as distinct documents. Pure codegen'd regexp_replace chain —
    * linear scan, no shuffle, same cost shape as [[redact]]. */
  def scrub(text: Column): Column =
    trim(regexp_replace(regexp_replace(text, controlClass, " "), "\\s+", " "))

  /** SEQUENCE PACKING: assign each document to a training bin so that
    * consecutive docs fill a token budget — the batch-construction step
    * between curation and tokenization in an LLM data pipeline.
    *
    * Greedy contiguous fill in deterministic `orderCol` order within each
    * `strataCol` stratum: bin k covers cumulative token positions
    * [k·budget, (k+1)·budget), so a doc STARTING before a boundary stays
    * in the earlier bin — bins may overrun by up to one doc (standard
    * packing slack, absorbed by truncation downstream); no bin is left
    * under-full mid-stream. Exact integer math throughout.
    *
    * Scale shape: one window (partition-sort) per stratum — strata
    * (source shards) parallelize across the cluster, and a skewed single
    * stratum is sub-sharded by hashing the id into finer strata first,
    * exactly like any windowed cumsum. Global first-fit bin packing is
    * inherently sequential; contiguous-fill is the distributed-correct
    * approximation every large corpus pipeline uses. */
  def packBins(docs: DataFrame, strataCol: String, orderCol: String,
               nCol: String, budget: Long): DataFrame = {
    val w = Window.partitionBy(strataCol).orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("__cum", sum(col(nCol)).over(w))
      .withColumn("bin_id", expr(s"(__cum - $nCol) div $budget"))
      .drop("__cum")
  }

  /** DISTRIBUTED BPE MERGE TRAINING (Sennrich et al. 2016 — the
    * tokenizer-learning op itself, not just token counting): learn the
    * first `merges` byte-pair merges from the corpus, exactly the
    * classic algorithm on the WORD-FREQUENCY table (BPE trains on word
    * types weighted by frequency, so after the one corpus-wide
    * tokenize+count shuffle every round runs on a VOCABULARY-sized
    * frame — the property that makes this tractable at 100 TB: corpus
    * size prices one aggregation, merge rounds price |vocab|).
    *
    * Per round: adjacent symbol pairs from each word's space-delimited
    * symbol string (the [[ngrams]] zip, freq-weighted), one pair-key
    * aggregation, argmax via distributed sort-limit (count desc, then
    * pair text — the deterministic tie-break), and the merge applied
    * with plain `replace(' a b ' → ' ab ')` over the space-wrapped
    * symbol strings. Both engines' `replace` scans leftmost
    * non-overlapping and resumes after the match, so a run like
    * "a b a b" merges its second occurrence next round — identical
    * trajectories, hash-provable. Words are re-checkpointed every round
    * (referenced twice per round: pair counting + merge application —
    * the CC lineage discipline).
    *
    * Returns the learned merge table: (merge_rank, left_sym, right_sym,
    * pair_count), `merges` rows in learning order. */
  def bpeTrain(docsDf: DataFrame, merges: Int = 8,
               textCol: String = "text"): DataFrame =
    bpeTrainLoop(docsDf, merges, textCol)._1

  /** The shared train loop — returns (merge table, final merged word
    * vocabulary). [[bpeSegments]] reads the second element: applying a
    * learned tokenizer IS the final state of training it, so the apply
    * path replays the identical trajectory and stays hash-provable. */
  private def bpeTrainLoop(docsDf: DataFrame, merges: Int,
                           textCol: String): (DataFrame, DataFrame) = {
    var words = docsDf
      .select(explode(tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(col("word"), col("freq"),
        concat(lit(" "), regexp_replace(col("word"), "(.)", "$1 "),
          lit("</w> ")).as("syms"))
      .localCheckpoint(true)
    var out: DataFrame = null
    for (r <- 1 to merges) {
      val pairs = words
        .select(col("freq"), explode(ngrams(split(trim(col("syms")), " "))).as("pair"))
        .groupBy("pair").agg(sum(col("freq")).as("n"))
      // argmax by TakeOrdered (distributed sort-limit), never a global
      // single-partition window
      val best = pairs.orderBy(col("n").desc, col("pair")).limit(1)
        .localCheckpoint(true)
      val ranked = best.withColumn("merge_rank", lit(r))
      out = if (out == null) ranked else out.unionByName(ranked)
      words = words
        .crossJoin(broadcast(best.select(col("pair").as("__p"))))
        .select(col("word"), col("freq"),
          expr("replace(syms, concat(' ', __p, ' '), " +
            "concat(' ', replace(__p, ' ', ''), ' '))").as("syms"))
        .localCheckpoint(true)
    }
    (out.select(col("merge_rank"),
      split(col("pair"), " ").getItem(0).as("left_sym"),
      split(col("pair"), " ").getItem(1).as("right_sym"),
      col("n").as("pair_count")), words)
  }

  /** BPE APPLY: segment the corpus with the learned merges and report
    * the resulting subword inventory — (unit, n_words it appears in
    * weighted by freq = total corpus occurrences, n_types). The apply
    * path is vocabulary-priced like training: the merged symbol strings
    * already exist as training's final state, so segmentation is one
    * explode over the vocab table — a document's subword sequence is
    * its words' sequences concatenated, so corpus-level unit counts
    * need no second pass over the documents. Top `limit` units by
    * (count desc, unit). */
  def bpeSegments(docsDf: DataFrame, merges: Int = 8, limit: Int = 20,
                  textCol: String = "text"): DataFrame =
    unitInventory(bpeTrainLoop(docsDf, merges, textCol)._2, limit)

  /** Shared inventory tail of [[bpeSegments]] / [[bpeSegmentsIndexed]]:
    * subword unit counts over a fully-merged word-vocabulary table. */
  private def unitInventory(words: DataFrame, limit: Int): DataFrame =
    words
      .select(col("freq"), explode(split(trim(col("syms")), " ")).as("unit"))
      .groupBy("unit")
      .agg(sum(col("freq")).as("n_occurrences"),
        count(lit(1)).as("n_types"))
      .orderBy(col("n_occurrences").desc, col("unit"))
      .limit(limit)

  // ------------------------------------------------------------------ //
  //  Persisted BPE tokenizer tier (round 13)                            //
  // ------------------------------------------------------------------ //

  /** A persisted BPE model at `path`; its marker carries
    * [[bpeFingerprint]] (merge count + tokenizer codec). */
  def bpeTier(spark: org.apache.spark.sql.SparkSession, path: String): Tier =
    new Tier(spark, path, "_GRAFT_BPE_COMPLETE")

  def bpeFingerprint(merges: Int): String = s"bpe:m$merges:charinit-v1"

  /** True iff a complete BPE model trained with exactly this
    * configuration is persisted at `path`. */
  def bpeModelServes(spark: org.apache.spark.sql.SparkSession, path: String,
                     merges: Int): Boolean =
    bpeTier(spark, path).serves(bpeFingerprint(merges))

  /** Train on `docsDf` and PERSIST the tokenizer — the merge table IS
    * the model (rank-ordered symbol pairs; everything else about
    * segmentation is derivable from it). Returns the persisted table. */
  def bpeSaveModel(docsDf: DataFrame, path: String, merges: Int = 8,
                   textCol: String = "text"): DataFrame = {
    val spark = docsDf.sparkSession
    bpeTier(spark, path).rewrite(bpeFingerprint(merges)) {
      bpeTrain(docsDf, merges, textCol)
        .write.mode("overwrite").parquet(s"$path/merges")
    }
    bpeTier(spark, path).read("merges")
  }

  /** Segment a corpus with a FROZEN persisted model — the production
    * tokenize step (new text through yesterday's tokenizer), and the
    * cost asymmetry that justifies persisting it: training pays
    * `merges` distributed argmax rounds with per-round checkpoints;
    * applying is ONE narrow projection, because the persisted merges
    * are driver-side literals (a tokenizer model is KB-sized by nature
    * — reading it to the driver is the model broadcast, not a corpus
    * collect) folded into `merges` nested `replace` calls over the
    * word-vocabulary table. Sequential rank-order replace replays
    * training's state evolution exactly — training derived merge r+1
    * FROM the table with merges 1..r applied — so on the training
    * corpus the output is byte-identical to [[bpeSegments]] and the two
    * share one oracle (the persisted-tier twin discipline). */
  def bpeSegmentsIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                         docsDf: DataFrame, merges: Int = 8, limit: Int = 20,
                         textCol: String = "text"): DataFrame = {
    val applied = frozenSyms(spark, path, merges)
    unitInventory(
      docsDf
        .select(explode(tokens(col(textCol))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("freq"))
        .select(col("word"), col("freq"), applied.as("syms")),
      limit)
  }

  /** Read the persisted model and return the column expression that
    * segments a `word` column with it — the frozen tokenizer as a
    * single projection (shared by [[bpeSegmentsIndexed]] and
    * [[bpeFertility]]). */
  private def frozenSyms(spark: org.apache.spark.sql.SparkSession,
                         path: String, merges: Int): org.apache.spark.sql.Column = {
    require(bpeModelServes(spark, path, merges),
      s"no complete BPE model at $path for m=$merges")
    val model = bpeTier(spark, path).read("merges")
      .orderBy("merge_rank")
      .select("left_sym", "right_sym")
      .collect()
      .map(r => (r.getString(0), r.getString(1)))
    val base = concat(lit(" "),
      regexp_replace(col("word"), "(.)", "$1 "), lit("</w> "))
    model.foldLeft(base) { case (syms, (l, r)) =>
      replace(syms, lit(s" $l $r "), lit(s" $l$r "))
    }
  }

  /** TOKENIZER FERTILITY per language — the tokenizer-quality report a
    * multilingual pipeline reads before committing to a vocabulary:
    * subword units emitted per word (incl. the `</w>` terminal) under
    * the FROZEN persisted model, aggregated per the documents table's
    * language column. A language the merges under-serve shows inflated
    * fertility = more sequence length spent per word = more compute per
    * token of meaning. One (lang, word) aggregation (vocabulary-sized
    * per language), the frozen-model projection, exact integer sums,
    * one IEEE division rounded at 6 dp. */
  def bpeFertility(spark: org.apache.spark.sql.SparkSession, path: String,
                   docsDf: DataFrame, merges: Int = 8,
                   textCol: String = "text",
                   langCol: String = "lang"): DataFrame = {
    val applied = frozenSyms(spark, path, merges)
    docsDf
      .select(col(langCol).as("lang"), explode(tokens(col(textCol))).as("word"))
      .groupBy("lang", "word").agg(count(lit(1)).as("freq"))
      .select(col("lang"), col("freq"),
        size(split(trim(applied), " ")).cast("long").as("__nu"))
      .groupBy("lang")
      .agg(sum(col("freq")).as("n_words"),
        sum(col("freq") * col("__nu")).as("n_units"))
      .select(col("lang"), col("n_words"), col("n_units"),
        round(col("n_units").cast("double") / col("n_words"), 6).as("fertility"))
      .orderBy("lang")
  }

  /** Bigram-LM fluency scoring (round-11 verdict #6): train an
    * add-one-smoothed bigram language model over the corpus and score
    * every document by its average per-bigram negative log-likelihood
    * (and perplexity = exp of it) — the classic LM quality signal a
    * training-data pipeline uses to rank fluent text above
    * keyword-mash / boilerplate (low ppl = the doc's transitions are
    * common in the corpus).
    *
    * EVERY model statistic derives from ONE explode+groupBy pass over
    * the bigram stream: `c2(w1,w2)` = bigram count; `c1(w1)` = Σ_w2 c2
    * (w1's count as a bigram head — the conditional's denominator);
    * `V` = |distinct continuations w2|. P(w2|w1) = (c2+1)/(c1+V).
    *
    * Determinism discipline (round-14 hardening, ADVICE r13 #1): the
    * old form's `Math.log`/libm-`ln` agreement was a probabilistic
    * contract — a 1-ulp cross-engine divergence near a 6-dp rounding
    * boundary could flip the hash gate. Every transcendental is now
    * [[graft.functions.DetMath]]: ln and exp built from IEEE
    * `+ − × ÷`/floor and literal constants only, emitted as the SAME
    * SQL text into both engines — bit-identical by construction, no
    * libm anywhere in the hashed path. Each bigram's nll =
    * ln((c1+V)/(c2+1)) is computed ONCE PER DISTINCT BIGRAM (the
    * model table, vocab-sized — not per occurrence), rounded to 6 dp,
    * cast DECIMAL(18,6), and the per-doc sum is exact decimal
    * arithmetic — order-independent; `ppl` is DetMath-exp of the
    * ALREADY-6dp-ROUNDED average. Docs with < 2 tokens have no
    * bigrams and drop out (no fluency evidence either way).
    *
    * Scale shape: one corpus-wide bigram-key shuffle builds `c2`
    * (map-side combined); `c1` re-aggregates the count table itself
    * (vocab-bounded, never a second corpus scan); the ln chains run on
    * the vocab-bounded model table; scoring equi-joins the exploded
    * bigram stream against the model and ends in one decimal sum per
    * doc; `V` travels as a 1-row broadcast.
    *
    * Returns (idCol, n_bigrams, avg_nll DOUBLE, ppl DOUBLE), unordered. */
  /** The add-k conditional's nll ratio (c1+V)/(c2+1) as shared SQL
    * text — both engines evaluate the identical division of identical
    * integers. */
  private[graft] val LmRatioSql: String =
    "CAST(c1 + v AS DOUBLE) / CAST(c2 + 1 AS DOUBLE)"

  def lmScore(docsDf: DataFrame, idCol: String = "doc_id",
              textCol: String = "text"): DataFrame = {
    import graft.functions.DetMathExpr
    // exchange barrier between the tokenizer and the n-gram explode
    // (round 18, the Dedup.bandTable rule): ngrams(toks, n) references
    // `toks` n+1 times (size + n slices), and CollapseProject would
    // inline the regexp tokenizer into each — the barrier materializes
    // the token array once per row
    val toksDf = docsDf.select(col(idCol), tokens(col(textCol)).as("toks"))
    val bg = toksDf
      .repartition(toksDf.sparkSession.sparkContext.defaultParallelism,
        col(idCol))
      .select(col(idCol), explode(ngrams(col("toks"))).as("bg"))
    // the bigram type table feeds THREE consumers (head totals, vocab
    // count, the model join) — lazy-checkpoint (the annRecall rule)
    val c2 = bg.groupBy("bg").agg(count(lit(1)).as("c2"))
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .localCheckpoint(false)
    val c1 = c2.groupBy("w1").agg(sum(col("c2")).as("c1"))
    val v = c2.agg(
      countDistinct(split(col("bg"), " ").getItem(1)).as("v"))
    // ONE ln on the ratio, not two on the parts: nll =
    // ln((c1+V)/(c2+1)) with c1 ≥ c2 and V ≥ 1, so a single
    // [[graft.functions.DetMathExpr.detLn]] covers it (the native twin
    // of the oracle's step chain — bit-identical, still zero libm)
    val model0 = c2.select(col("bg"), col("c2"), col("w1"))
      .join(c1, "w1")
      .crossJoin(broadcast(v))
      .withColumn("__x", expr(LmRatioSql))
    val model = model0
      .withColumn("__nll", DetMathExpr.detLn(col("__x")))
      .select(col("bg"),
        round(col("__nll"), 6).cast("decimal(18,6)").as("nll"))
    val perDoc = bg
      .join(model, "bg")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"), sum(col("nll")).as("snll"))
      .withColumn("avg_nll",
        round(col("snll").cast("double") / col("n_bigrams"), 6))
    perDoc.withColumn("__pexp", DetMathExpr.detExp(col("avg_nll")))
      .select(col(idCol), col("n_bigrams"), col("avg_nll"),
        round(col("__pexp"), 4).as("ppl"))
  }

  /** The interpolated-KN probability as SHARED SQL TEXT (the
    * [[graft.functions.DetMath]] discipline — both engines evaluate
    * this string verbatim over the same integer count columns, so every
    * IEEE operation happens in the same order on the same inputs;
    * d = 0.75 is exactly 3/4, an exact double literal):
    *
    *   P(w3|w1w2) = max(c3−d,0)/c12 + d·N1+(w1w2•)/c12 · P(w3|w2)
    *   P(w3|w2)   = max(N1+(•w2w3)−d,0)/N1+(•w2•)
    *                  + d·N1+(w2•)/N1+(•w2•) · P_cont(w3)
    *   P_cont(w3) = N1+(•w3)/N1+(••)
    *
    * Columns: c3/c12 (trigram count, its head-bigram total),
    * n1p_mid = N1+(w1w2•), n1p_l23 = N1+(•w2w3), n1p_l2d = N1+(•w2•),
    * n1p_2s = N1+(w2•), n1p_r3 = N1+(•w3), nbt = N1+(••). */
  private[graft] val KnPSql: String =
    "((CASE WHEN CAST(c3 AS DOUBLE) - 0.75 > 0.0 " +
      "THEN CAST(c3 AS DOUBLE) - 0.75 ELSE 0.0 END) / CAST(c12 AS DOUBLE) " +
      "+ (0.75 * CAST(n1p_mid AS DOUBLE) / CAST(c12 AS DOUBLE)) * " +
      "((CASE WHEN CAST(n1p_l23 AS DOUBLE) - 0.75 > 0.0 " +
      "THEN CAST(n1p_l23 AS DOUBLE) - 0.75 ELSE 0.0 END) / CAST(n1p_l2d AS DOUBLE) " +
      "+ (0.75 * CAST(n1p_2s AS DOUBLE) / CAST(n1p_l2d AS DOUBLE)) * " +
      "(CAST(n1p_r3 AS DOUBLE) / CAST(nbt AS DOUBLE))))"

  /** TRIGRAM KNESER-NEY fluency scoring (round-13 verdict #5 — the
    * CCNet-style LM filter's next honest step past [[lmScore]]'s add-k
    * bigram floor): an interpolated-KN trigram model trained on the
    * corpus, every document scored by its average per-trigram negative
    * log-likelihood and perplexity. KN's absolute-discount +
    * continuation-count backoff is what separates "common word in a
    * novel context" (high continuation count — cheap) from "context-
    * bound word in a novel context" (low continuation count —
    * expensive), the distinction add-k structurally cannot make (its
    * unseen-bigram mass depends only on the head's count).
    *
    * EVERY model statistic derives from the trigram TYPE table `c3`
    * (one corpus-wide trigram-key shuffle, map-side combined; the
    * N1+ "type" counts are row counts of `c3` re-aggregations —
    * vocab-bounded, never a second corpus scan). Probabilities are
    * rational arithmetic on exact integers with d = 3/4 ([[KnPSql]],
    * shared SQL text); nll = DetMath-ln(1/p) per DISTINCT trigram,
    * rounded to 6 dp, DECIMAL(18,6)-summed per doc (order-independent);
    * ppl = DetMath-exp of the already-rounded average. No libm
    * anywhere in the hashed path. Docs with < 3 tokens drop out.
    *
    * Returns (idCol, n_trigrams, avg_nll DOUBLE, ppl DOUBLE), unordered. */
  def lmScoreKn(docsDf: DataFrame, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    import graft.functions.DetMathExpr
    // same barrier as [[lmScore]]: trigram ngrams references `toks` 4×
    val toksDf = docsDf.select(col(idCol), tokens(col(textCol)).as("toks"))
    val tg = toksDf
      .repartition(toksDf.sparkSession.sparkContext.defaultParallelism,
        col(idCol))
      .select(col(idCol), explode(ngrams(col("toks"), 3)).as("tg"))
    // the trigram type table feeds THREE consumers (hi, midNum, the
    // model join) and midNum itself feeds FOUR (midDen, low, nbt,
    // model join) — lazy-checkpoint both vocab-bounded tables so each
    // aggregation runs once (round 18, the annRecall rule)
    val c3 = tg.groupBy("tg").agg(count(lit(1)).as("c3"))
      .withColumn("w1", split(col("tg"), " ").getItem(0))
      .withColumn("w2", split(col("tg"), " ").getItem(1))
      .withColumn("w3", split(col("tg"), " ").getItem(2))
      .localCheckpoint(false)
    val hi = c3.groupBy("w1", "w2")
      .agg(sum(col("c3")).as("c12"), count(lit(1)).as("n1p_mid"))
    val midNum = c3.groupBy("w2", "w3").agg(count(lit(1)).as("n1p_l23"))
      .localCheckpoint(false)
    val midDen = midNum.groupBy("w2")
      .agg(sum(col("n1p_l23")).as("n1p_l2d"), count(lit(1)).as("n1p_2s"))
    val low = midNum.groupBy("w3").agg(count(lit(1)).as("n1p_r3"))
    val nbt = midNum.agg(count(lit(1)).as("nbt"))
    val model0 = c3
      .join(hi, Seq("w1", "w2"))
      .join(midNum, Seq("w2", "w3"))
      .join(midDen, Seq("w2"))
      .join(low, Seq("w3"))
      .crossJoin(broadcast(nbt))
      .withColumn("__x", expr(s"1.0 / $KnPSql"))
    val model = model0
      .withColumn("__nll", DetMathExpr.detLn(col("__x")))
      .select(col("tg"),
        round(col("__nll"), 6).cast("decimal(18,6)").as("nll"))
    val perDoc = tg
      .join(model, "tg")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_trigrams"), sum(col("nll")).as("snll"))
      .withColumn("avg_nll",
        round(col("snll").cast("double") / col("n_trigrams"), 6))
    perDoc.withColumn("__pexp", DetMathExpr.detExp(col("avg_nll")))
      .select(col(idCol), col("n_trigrams"), col("avg_nll"),
        round(col("__pexp"), 4).as("ppl"))
  }

  /** TRAINED QUALITY CLASSIFIER (the fastText-style bootstrap every LLM
    * data pipeline runs: seed labels from a cheap heuristic, train a
    * linear bag-of-words model, apply it at corpus scale): multinomial
    * Naive Bayes with Laplace smoothing, self-supervised on the quality
    * heuristic's "good" bucket (n_tokens ≥ 40 ∧ stop_ratio < 0.3 → 1,
    * else 0). The model generalizes past the seed cue: a short doc
    * written in the positive class's vocabulary outscores a short doc
    * in the negative class's (the planted-vocabulary spec pins this).
    *
    * Determinism discipline — the one genuinely new hazard is the
    * per-doc sum of per-token float weights, whose value would depend
    * on Spark's partition-order summation: each token's log-likelihood
    * ratio is rounded to 6 dp and cast DECIMAL(18,6) AT THE MODEL, so
    * the scoring sum is exact decimal arithmetic — order-independent
    * and bit-identical in both engines (the ln agreement itself is the
    * `text_tfidf` idf precedent; everything else stays exact integers).
    *
    * Scale shape: one token-key shuffle builds the per-class counts
    * (map-side combined), the weight table is vocabulary-sized
    * fixed-width rows, scoring is a token equi-join + one decimal sum
    * per doc, and the two scalar frames (class totals, prior) travel
    * as 1-row broadcasts — never a collect.
    *
    * Returns (idCol, label, score DOUBLE, pred INT), unordered. */
  /** The NB weight / prior ratios as SHARED SQL TEXT (round-14 libm
    * closure: the weight is now ONE DetMath signed-ln of the cross
    * ratio (cp+1)(tn+V) / (cn+1)(tp+V) — algebraically the same
    * log-likelihood ratio as the old two-ln difference, but with no
    * libm anywhere in the hashed path; products stay ≤ ~1e12, exact in
    * doubles). Columns: cp/cn per-class token counts, tp/tn class
    * totals, v vocab size; np/nn doc-label totals. */
  private[graft] val NbWeightRatioSql: String =
    "(CAST(cp + 1 AS DOUBLE) * CAST(tn + v AS DOUBLE)) / " +
      "(CAST(cn + 1 AS DOUBLE) * CAST(tp + v AS DOUBLE))"
  private[graft] val NbPriorRatioSql: String =
    "CAST(np + 1 AS DOUBLE) / CAST(nn + 1 AS DOUBLE)"

  def nbQualityClassifier(docsDf: DataFrame, idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    val lab = docsDf
      .withColumn("toks", tokens(col(textCol)))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_stop", stopwordCount(col("toks")).cast("long"))
      .withColumn("stop_ratio",
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(col("n_stop") / col("n_tokens")))
      .withColumn("label",
        (col("n_tokens") >= 40 && col("stop_ratio") < 0.3).cast("int"))
      .select(col(idCol), col("toks"), col("label"))
      // referenced THREE times (token explode, prior, final projection)
      // — lazy-checkpoint so the regexp tokenizer + stopword filter run
      // once per doc instead of once per reference (round 18, the
      // annRecall rule)
      .localCheckpoint(false)
    val tok = lab.select(col(idCol), col("label"),
      explode(col("toks")).as("token"))
    // vocab-sized, consumed by the class totals AND the weight table
    val cc = tok.groupBy("token").agg(
      sum(when(col("label") === 1, 1L).otherwise(0L)).as("cp"),
      sum(when(col("label") === 0, 1L).otherwise(0L)).as("cn"))
      .localCheckpoint(false)
    val tot = cc.agg(sum(col("cp")).as("tp"), sum(col("cn")).as("tn"),
      count(lit(1)).as("v"))
    val w = cc.crossJoin(broadcast(tot))
      .withColumn("__r", expr(NbWeightRatioSql))
      .withColumn("__w", graft.functions.DetMathExpr.detLnSigned(col("__r")))
      .select(col("token"),
        round(col("__w"), 6).cast("decimal(18,6)").as("w"))
    val prior = lab
      .agg(sum(col("label")).as("np"), sum(lit(1) - col("label")).as("nn"))
      .withColumn("__r", expr(NbPriorRatioSql))
      .withColumn("__b", graft.functions.DetMathExpr.detLnSigned(col("__r")))
      .select(round(col("__b"), 6).cast("decimal(18,6)").as("b"))
    val s = tok.join(w, "token").groupBy(idCol)
      .agg(sum(col("w")).as("sw"))
    val zero = lit(0).cast("decimal(18,6)")
    lab.select(col(idCol), col("label"))
      .join(s, Seq(idCol), "left")
      .crossJoin(broadcast(prior))
      .withColumn("__score", coalesce(col("sw"), zero) + col("b"))
      .select(col(idCol), col("label"),
        col("__score").cast("double").as("score"),
        (col("__score") >= 0).cast("int").as("pred"))
  }
}
