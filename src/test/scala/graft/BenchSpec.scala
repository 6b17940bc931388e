package graft

import scala.collection.mutable.ArrayBuffer

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Bench's pass loop and failure rule, on plain thunks: a rep that
  * throws leaves its query's median and best, a query with no good rep
  * is listed in `failed` and left out of every sum, and the interleaved
  * pass orders are fixed permutations. */
class BenchSpec extends AnyFunSuite with Matchers {

  private def sleeper(ms: Long): () => Unit = () => Thread.sleep(ms)

  test("a rep that throws once leaves only that rep out of the median and best") {
    var calls = 0
    // fast failure, slow good reps: priced at its time-to-exception,
    // the failed rep would be the query's best
    val flaky: () => Unit = () => {
      calls += 1
      if (calls == 2) throw new RuntimeException("transient")
      Thread.sleep(40)
    }
    val res = Bench.run(IndexedSeq("flaky" -> flaky, "steady" -> sleeper(5)), reps = 3)
    res.failedRep(0) shouldBe IndexedSeq(false, true, false)
    res.failedRep(1) shouldBe IndexedSeq(false, false, false)
    res.good(0) shouldBe Seq(res.times(0)(0), res.times(0)(2))
    res.good(0).min should be >= 0.04
    res.failed shouldBe empty
    res.priced.map(_._1) shouldBe Seq("flaky", "steady")
    res.valueBest shouldBe (res.good(0).min + res.times(1).min)
    res.value shouldBe (Bench.median(res.good(0)) + Bench.median(res.times(1)))
  }

  test("a query that always throws is listed in failed and left out of value") {
    val res = Bench.run(IndexedSeq(
      "broken" -> (() => throw new IllegalStateException("always")),
      "ok" -> sleeper(5)), reps = 3)
    res.failedRep(0) shouldBe IndexedSeq(true, true, true)
    res.failed shouldBe Seq("broken")
    res.priced.map(_._1) shouldBe Seq("ok")
    res.value shouldBe Bench.median(res.times(1))
    res.valueBest shouldBe res.times(1).min
  }

  test("each pass runs a fixed permutation of all queries, the same across runs") {
    val log = ArrayBuffer.empty[String]
    val names = (0 until 12).map(i => s"q$i")
    def queries = names.map(n => n -> (() => { log += n; () }))
    val first = Bench.run(queries, reps = 3)
    val firstLog = log.toList
    log.clear()
    val second = Bench.run(queries, reps = 3)
    first.order.size shouldBe 3
    first.order.foreach(_.sorted shouldBe names.indices)
    first.order.distinct.size should be > 1
    second.order shouldBe first.order
    firstLog shouldBe first.order.flatten.map(names)
    log.toList shouldBe firstLog
  }
}
