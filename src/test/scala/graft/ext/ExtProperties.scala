package graft.ext

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.TestSpark

/** ScalaCheck invariants for the similarity/dedup algebra. Each case runs
  * a real Spark job on a tiny frame; counts are capped accordingly. */
object ExtProperties extends Properties("graft.ext") {

  /** Seed pinned so pre-commit runs are reproducible — a floating seed let
    * the round-2 jaccard regression pass locally and fail on the next run. */
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8).withMaxDiscardRatio(10)
      .withInitialSeed(org.scalacheck.rng.Seed(20260812L))

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val tokensGen: Gen[List[String]] =
    Gen.listOfN(12, Gen.oneOf("a", "b", "c", "d", "e", "f")).map(_.take(12))

  private val vecGen: Gen[List[Float]] =
    Gen.listOfN(8, Gen.chooseNum(-5.0f, 5.0f))

  property("jaccard is symmetric, bounded in [0,1], and 1 on self") =
    forAll(tokensGen, tokensGen) { (a, b) =>
      val row = Seq((a, b)).toDF("a", "b")
        .select(
          Dedup.jaccard(col("a"), col("b")).as("ab"),
          Dedup.jaccard(col("b"), col("a")).as("ba"),
          Dedup.jaccard(col("a"), col("a")).as("aa"))
        .as[(Double, Double, Double)].collect()(0)
      row._1 == row._2 && row._1 >= 0.0 && row._1 <= 1.0 &&
        (a.isEmpty || row._3 == 1.0)
    }

  property("maxRunCount ≡ naive max element frequency") =
    forAll(tokensGen) { toks =>
      val got = Seq(Tuple1(toks)).toDF("arr")
        .select(Text.maxRunCount(col("arr")).as("m"))
        .as[Long].collect()(0)
      val want =
        if (toks.isEmpty) 0L
        else toks.groupBy(identity).values.map(_.size).max.toLong
      got == want
    }

  property("cosine is symmetric and within [-1-ε, 1+ε]") =
    forAll(vecGen, vecGen) { (a, b) =>
      val row = Seq((a, b)).toDF("a", "b")
        .select(
          Similarity.cosine(col("a"), col("b")).as("ab"),
          Similarity.cosine(col("b"), col("a")).as("ba"))
        .as[(Double, Double)].collect()(0)
      row._1 == row._2 && row._1 >= -1.0 - 1e-9 && row._1 <= 1.0 + 1e-9
    }

  property("hamming64 is symmetric, 0 on self, and ≤ 64") =
    forAll(Gen.long, Gen.long) { (x, y) =>
      val row = Seq((x, y)).toDF("x", "y")
        .select(
          Dedup.hamming64(col("x"), col("y")).as("xy"),
          Dedup.hamming64(col("y"), col("x")).as("yx"),
          Dedup.hamming64(col("x"), col("x")).as("xx"))
        .as[(Int, Int, Int)].collect()(0)
      row._1 == row._2 && row._3 == 0 && row._1 >= 0 && row._1 <= 64
    }

  property("DotProduct expression ≡ the HOF fold it replaced, bit for bit") =
    forAll(vecGen, vecGen) { (a, b) =>
      val hof = aggregate(
        zip_with(col("a"), col("b"), (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v)
      val row = Seq((a, b)).toDF("a", "b")
        .select(
          graft.functions.DotProduct.dot(col("a"), col("b")).as("e"),
          hof.as("h"))
        .as[(Double, Double)].collect()(0)
      // == on doubles: bit-identical is the contract (oracles depend on it)
      row._1 == row._2
    }

  private val edgesGen: Gen[List[(Long, Long)]] =
    Gen.listOfN(10, for {
      a <- Gen.chooseNum(0L, 9L)
      d <- Gen.chooseNum(1L, 9L)
    } yield (a, (a + d) % 10))

  /** Reference: textbook union-find with path compression. */
  private def unionFind(edges: List[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    nodes.groupBy(find).flatMap { case (_, ns) => ns.map(_ -> ns.min) }
  }

  property("connectedComponents (hybrid driver-finish) ≡ union-find on random graphs") =
    forAll(edgesGen) { edges =>
      val got = Dedup.connectedComponents(edges.toDF("a_id", "b_id"))
        .as[(Long, Long)].collect().toMap
      got == unionFind(edges)
    }

  property("star-contraction CC ≡ union-find on random graphs") =
    forAll(edgesGen) { edges =>
      val got = Dedup
        .connectedComponents(edges.toDF("a_id", "b_id"), driverFinishEdges = 0L)
        .as[(Long, Long)].collect().toMap
      got == unionFind(edges)
    }

  /** Multi-doc corpus with a tiny vocabulary so k=3 grams genuinely
    * collide across documents — the regime substring spans exist for. */
  private val corpusGen: Gen[List[(Long, List[String])]] =
    Gen.chooseNum(2, 4).flatMap { n =>
      Gen.listOfN(n, Gen.chooseNum(6, 14).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf("a", "b", "c"))))
        .map(_.zipWithIndex.map { case (ts, i) => (i.toLong, ts) })
    }

  property("substringSpans: every reported span is a real equal subsequence, maximal on its diagonal") =
    forAll(corpusGen) { corpus =>
      val df = corpus.toDF("doc_id", "toks")
      // dfCap effectively off: maximality must hold without cap holes
      val spans = Dedup.substringSpans(df, k = 3, minSpan = 4, dfCap = 1000000L)
        .as[(Long, Long, Long, Long, Long)].collect()
      val byId = corpus.toMap
      spans.forall { case (aId, bId, aS, bS, len) =>
        val (a, b) = (byId(aId), byId(bId))
        val equal = a.slice(aS.toInt, (aS + len).toInt) ==
          b.slice(bS.toInt, (bS + len).toInt)
        // maximal: one more token on either end must break equality or
        // run off a document boundary
        val leftMax = aS == 0 || bS == 0 ||
          a(aS.toInt - 1) != b(bS.toInt - 1)
        val rightMax = aS + len >= a.size || bS + len >= b.size ||
          a((aS + len).toInt) != b((bS + len).toInt)
        equal && len >= 4 && leftMax && rightMax
      }
    }

  property("substring accounting: 0 ≤ coverage ≤ n; trim cut+kept = n; cut ≤ coverage") =
    forAll(corpusGen) { corpus =>
      val df = corpus.toDF("doc_id", "toks")
      val cov = Dedup.substringCoverage(df, k = 3, minSpan = 4, dfCap = 1000000L)
        .select("doc_id", "n_tokens", "dup_tokens")
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      val trim = Dedup.substringTrim(df, k = 3, minSpan = 4, dfCap = 1000000L)
        .select("doc_id", "n_tokens", "cut_tokens", "kept_tokens")
        .as[(Long, Long, Long, Long)].collect()
      trim.forall { case (id, n, cut, kept) =>
        val (cn, dup) = cov(id)
        cn == n && cut + kept == n &&
          dup >= 0 && dup <= n && cut >= 0 && cut <= dup
      }
    }

  property("minhash signature: identical token arrays sign identically; length fixed") =
    forAll(tokensGen) { toks =>
      val df = Seq(toks.mkString(" "), toks.mkString(" ")).toDF("text")
        .select(Dedup.minhashSignature(
          Dedup.shingleHashes(Text.tokens(col("text")))).as("sig"))
      val sigs = df.as[Seq[Int]].collect()
      sigs(0) == sigs(1) && sigs(0).size == 64
    }

  /** Random update streams: (ts, key, attr) triples with repeats. */
  private val updatesGen: Gen[List[(Long, Long, String)]] =
    Gen.listOfN(30, for {
      k <- Gen.chooseNum(0L, 3L)
      ts <- Gen.chooseNum(0L, 9L)
      a <- Gen.oneOf("A", "B", "C")
    } yield (k, ts, a))

  property("scd2History: per-key intervals tile [first,∞) gaplessly; attrs alternate; last version ≡ CDC latest-per-key") =
    forAll(updatesGen) { ups =>
      ups.isEmpty || {
        val df = ups.zipWithIndex
          .map { case ((k, ts, a), i) =>
            (k, a, new java.sql.Timestamp(ts * 1000L), i.toLong)
          }
          .toDF("k", "attr", "ts", "id")
        val hist = Temporal.scd2History(df, Seq("k"), "ts", "attr", "id")
          .select("k", "version", "attr", "valid_from_us", "valid_to_us",
            "is_current")
          .as[(Long, Long, String, Long, Long, Int)].collect()
          .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
        // CDC latest: max by (ts, id) per key — the dedup_latest order
        val latest = ups.zipWithIndex
          .map { case ((k, ts, a), i) => (k, ts, i.toLong, a) }
          .groupBy(_._1).view
          .mapValues(_.maxBy(r => (r._2, r._3))._4).toMap
        hist.forall { case (k, vs) =>
          val versionsContiguous = vs.map(_._2).toSeq == (1L to vs.length)
          val tiled = vs.sliding(2).forall {
            case Array(a, b) => a._5 == b._4
            case _ => true
          }
          val alternates = vs.sliding(2).forall {
            case Array(a, b) => a._3 != b._3
            case _ => true
          }
          val lastOpen = vs.last._5 == Temporal.OpenIntervalUs &&
            vs.last._6 == 1 && vs.init.forall(_._6 == 0)
          // the open version's attribute IS the CDC latest value
          versionsContiguous && tiled && alternates && lastOpen &&
            vs.last._3 == latest(k)
        }
      }
    }
}
