package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Text-analysis operators on hand-built sentences (the lang-ID heuristic
  * has no SQL oracle — this suite is its gate). */
class TextSpec extends SparkSpec {
  import spark.implicits._

  private def toks(s: String) =
    Seq(s).toDF("text").select(Text.tokens(col("text")).as("t"))

  test("tokenizer lowercases and strips punctuation") {
    toks("Hello, World! 42").select(col("t")).as[Seq[String]].collect()(0) shouldBe
      Seq("hello", "world", "42")
  }

  test("ngrams builds adjacent pairs; short docs yield empty") {
    toks("a b c").select(Text.ngrams(col("t"))).as[Seq[String]].collect()(0) shouldBe
      Seq("a b", "b c")
    toks("solo").select(Text.ngrams(col("t"))).as[Seq[String]].collect()(0) shouldBe
      Seq.empty
  }

  test("bpe estimator splits digits and punctuation one-per-token") {
    Seq("ab12, c!").toDF("text")
      .select(Text.bpeTokens(col("text"))).as[Seq[String]].collect()(0) shouldBe
      Seq("ab", "1", "2", ",", "c", "!")
  }

  test("lang-ID picks the profile with the most function-word hits") {
    val cases = Seq(
      "the cat and the dog of a house is here" -> "en",
      "der hund und die katze das ist ein haus" -> "de",
      "le chat et les chiens est un animal" -> "fr",
      "el perro y los gatos es un animal que" -> "es",
      "il gatto e che di un cane" -> "it")
    cases.foreach { case (sentence, expect) =>
      val got = toks(sentence).select(Text.langId(col("t"))).as[String].collect()(0)
      withClue(sentence)(got shouldBe expect)
    }
  }

  test("lang-ID returns 'und' when nothing matches") {
    toks("zzz qqq xxx").select(Text.langId(col("t"))).as[String].collect()(0) shouldBe "und"
  }

  test("redact scrubs emails, URLs, and phone-shaped runs; clean text passes through") {
    def red(s: String) =
      Seq(s).toDF("text").select(Text.redact(col("text"))).as[String].collect()(0)
    red("mail bob.smith+x@corp.example.com now") shouldBe "mail <EMAIL> now"
    red("see https://docs.example/a/b?") shouldBe "see <URL>?"
    red("call 555-0142 today") shouldBe "call <PHONE> today"
    red("mail a@b.io or https://x.io/1 or 555-0000") shouldBe
      "mail <EMAIL> or <URL> or <PHONE>"
    red("nothing sensitive here 12-34") shouldBe "nothing sensitive here 12-34"
  }

  test("packBins: contiguous fill per stratum, boundary doc stays in earlier bin") {
    val df = Seq(
      ("a", 1L, 300L), ("a", 2L, 300L), ("a", 3L, 300L), ("a", 4L, 50L),
      ("b", 1L, 600L), ("b", 2L, 10L))
      .toDF("source", "doc_id", "n_tokens")
    val got = Text.packBins(df, "source", "doc_id", "n_tokens", budget = 512L)
      .select("source", "doc_id", "bin_id")
      .as[(String, Long, Long)].collect().toSet
    // a: cum-starts 0,300,600,900 → bins 0,0,1,1 (doc 2 starts at 300 < 512,
    // overruns to 600 — standard packing slack); b: starts 0,600 → 0,1
    got shouldBe Set(
      ("a", 1L, 0L), ("a", 2L, 0L), ("a", 3L, 1L), ("a", 4L, 1L),
      ("b", 1L, 0L), ("b", 2L, 1L))
  }

  test("fingerprint is case/punctuation-insensitive but order-sensitive") {
    def fp(s: String) =
      toks(s).select(Text.fingerprint(col("t"))).as[String].collect()(0)
    fp("Hello, World!") shouldBe fp("hello world")
    fp("hello world") should not be fp("world hello")
  }

  test("bpeTrain: classic merge trajectory on a planted corpus — leftmost non-overlap, lexicographic tie-breaks, deterministic") {
    val df = Seq((1L, "aaab aaab"), (2L, "aaab")).toDF("doc_id", "text")
    // word table: aaab freq=3, syms " a a a b </w> "
    // r1: (a,a)×2 + (a,b) + (b,</w>) → "a a" n=6; leftmost-non-overlap
    //     apply → " aa a b </w> " (the second a-a waits a round)
    // r2: (aa,a),(a,b),(b,</w>) all n=3 → tie → "a b" (space < 'a')
    // r3: (aa,ab),(ab,</w>) n=3 → tie → "aa ab" → " aaab </w> "
    val got = Text.bpeTrain(df, merges = 3)
      .select("merge_rank", "left_sym", "right_sym", "pair_count")
      .as[(Int, String, String, Long)].collect().sortBy(_._1)
    got shouldBe Array((1, "a", "a", 6L), (2, "a", "b", 3L),
      (3, "aa", "ab", 3L))
    // bit-deterministic re-run
    Text.bpeTrain(df, merges = 3)
      .select("merge_rank", "left_sym", "right_sym", "pair_count")
      .as[(Int, String, String, Long)].collect().sortBy(_._1) shouldBe got
  }

  test("persisted BPE model: frozen apply matches in-query on the training corpus AND tokenizes unseen text; marker + fingerprint gate") {
    val train = Seq((1L, "aaab aaab"), (2L, "aaab")).toDF("doc_id", "text")
    val path = s"target/test_bpe_${System.nanoTime()}"
    // no model: apply refuses
    an[IllegalArgumentException] should be thrownBy
      Text.bpeSegmentsIndexed(spark, path, train, merges = 3)
    Text.bpeSaveModel(train, path, merges = 3)
    Text.bpeModelServes(spark, path, 3) shouldBe true
    // fingerprint: a model trained with a different merge count must
    // read as absent, never serve (the Tier marker discipline)
    Text.bpeModelServes(spark, path, 8) shouldBe false
    def inv(df: org.apache.spark.sql.DataFrame) = df
      .select("unit", "n_occurrences", "n_types")
      .as[(String, Long, Long)].collect().toSeq
    // on the training corpus the frozen model replays training exactly
    inv(Text.bpeSegmentsIndexed(spark, path, train, merges = 3)) shouldBe
      inv(Text.bpeSegments(train, merges = 3))
    // the production case: UNSEEN text through yesterday's tokenizer —
    // the learned merges (a+a→aa, a+b→ab, aa+ab→aaab) segment a new
    // word by the same rank-order application: "aaaba" → aaab + a
    val unseen = Seq((9L, "aaaba")).toDF("doc_id", "text")
    inv(Text.bpeSegmentsIndexed(spark, path, unseen, merges = 3)).toSet shouldBe
      Set(("aaab", 1L, 1L), ("a", 1L, 1L), ("</w>", 1L, 1L))
  }

  test("nbQualityClassifier: planted vocabularies separate; model generalizes past the length cue; deterministic") {
    // positive seed class: 50 content tokens drawn from vocab A (no
    // stopwords → label 1); negative seed class: 8 tokens from vocab B
    val vocabA = Seq("galaxy", "nebula", "quasar", "pulsar", "photon")
    val vocabB = Seq("spam", "click", "cheap", "deal")
    val good = (0L until 6L).map(i =>
      (i, (0 until 50).map(j => vocabA((i + j).toInt % vocabA.size)).mkString(" ")))
    val bad = (10L until 16L).map(i =>
      (i, (0 until 8).map(j => vocabB((i + j).toInt % vocabB.size)).mkString(" ")))
    // held-out probes: SHORT docs (both label 0 by the length heuristic)
    // written in each class's vocabulary
    val probeA = (20L, (0 until 20).map(j => vocabA(j % vocabA.size)).mkString(" "))
    val probeB = (21L, (0 until 20).map(j => vocabB(j % vocabB.size)).mkString(" "))
    val df = (good ++ bad ++ Seq(probeA, probeB)).toDF("doc_id", "text")
    val out = Text.nbQualityClassifier(df)
      .select("doc_id", "label", "score", "pred")
      .as[(Long, Int, Double, Int)].collect().sortBy(_._1)
    val byId = out.map(r => r._1 -> r).toMap
    // seed classes fully separated
    good.foreach { case (i, _) => byId(i)._4 shouldBe 1 }
    bad.foreach { case (i, _) => byId(i)._4 shouldBe 0 }
    // generalization: same length, opposite vocabularies — the A-vocab
    // probe must outscore the B-vocab probe (the model learned token
    // likelihoods, not just the length cue it was seeded with)
    byId(20L)._3 should be > byId(21L)._3
    // deterministic re-run, bit for bit
    Text.nbQualityClassifier(df)
      .select("doc_id", "label", "score", "pred")
      .as[(Long, Int, Double, Int)].collect().sortBy(_._1) shouldBe out
  }

  test("lmScore: planted fluency — repeated transitions score lower ppl than novel ones; short docs drop; deterministic") {
    // fluent block: many docs repeating the SAME bigram transitions, so
    // every transition is high-count under the trained model
    val fluent = (0L until 8L).map(i =>
      (i, "the cat sat on the mat " * 5))
    // disfluent probe: same tokens EXIST in the vocab, but in transitions
    // seen nowhere else — every bigram bottoms out at the +1 smoothing
    val disfluent = (20L, "mat the on cat the sat mat cat on sat the on")
    // one-token doc: no bigrams, must drop from the result entirely
    val tiny = (30L, "the")
    val df = (fluent ++ Seq(disfluent, tiny)).toDF("doc_id", "text")
    val out = Text.lmScore(df)
      .select("doc_id", "n_bigrams", "avg_nll", "ppl")
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1)
    val byId = out.map(r => r._1 -> r).toMap
    byId.keySet should not contain 30L
    // every fluent doc beats the disfluent one on both scores
    fluent.foreach { case (i, _) =>
      byId(i)._4 should be < byId(20L)._4
      byId(i)._3 should be < byId(20L)._3
    }
    // ppl is exp(avg_nll) within the stated rounding
    out.foreach { case (_, _, avg, ppl) =>
      ppl shouldBe math.exp(avg) +- 1e-3 }
    // deterministic re-run, bit for bit
    Text.lmScore(df)
      .select("doc_id", "n_bigrams", "avg_nll", "ppl")
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1) shouldBe out
  }

  test("lmScoreKn: continuation-count backoff ranks what add-k structurally cannot") {
    // the textbook KN separation: "the" follows MANY distinct words
    // (high continuation count), "francisco" follows only "san" (low).
    // Probe docs 3/4 are identical except the final token, and both
    // final transitions are equally (un)seen — add-k's unseen mass
    // depends only on the HEAD's count, so it scores them IDENTICALLY;
    // KN's P_cont backoff knows "the" is a promiscuous continuation and
    // "francisco" a context-bound one, and ranks doc 3 more fluent.
    val df = Seq(
      (1L, "one the two the three the four the five the six the"),
      (2L, "san francisco bay san francisco fog san francisco hills"),
      (3L, "zeta gamma the"),
      (4L, "zeta gamma francisco")).toDF("doc_id", "text")
    val kn = Text.lmScoreKn(df)
      .select("doc_id", "avg_nll", "ppl")
      .as[(Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    kn(3L)._3 should be < kn(4L)._3
    kn(3L)._2 should be < kn(4L)._2
    val addk = Text.lmScore(df)
      .select("doc_id", "avg_nll", "ppl")
      .as[(Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    addk(3L)._3 shouldBe addk(4L)._3
    // the fluent training block still beats both probes under KN
    kn(1L)._3 should be < kn(4L)._3
    // deterministic re-run, bit for bit
    Text.lmScoreKn(df).select("doc_id", "avg_nll", "ppl")
      .as[(Long, Double, Double)].collect().sortBy(_._1) shouldBe
      Text.lmScoreKn(df).select("doc_id", "avg_nll", "ppl")
        .as[(Long, Double, Double)].collect().sortBy(_._1)
  }
}
