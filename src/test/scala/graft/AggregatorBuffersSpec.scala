package graft

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{BottomKSketch, DigestBuckets, QuantileSketchAgg, TopKAgg}

/** The bounded-state aggregators' buffers driven by hand, no Spark
  * session: reduce, merge and finish against plain-Scala models, under
  * several splits and merge orders of the same input. The specs named
  * after each aggregator run it through Spark. */
class AggregatorBuffersSpec extends AnyFunSuite {

  /** `xs` folded with `reduce` in `parts` chunks, the chunks merged in
    * the given order. */
  private def splitFold[B, IN](zero: () => B, reduce: (B, IN) => B,
                               merge: (B, B) => B)(xs: Seq[IN], parts: Int,
                                                   order: Seq[Int] => Seq[Int]): B = {
    val chunks = xs.grouped(math.max(1, (xs.size + parts - 1) / parts)).toIndexedSeq
      .map(_.foldLeft(zero())(reduce))
    order(chunks.indices).map(chunks).foldLeft(zero())(merge)
  }

  private val orders: Seq[Seq[Int] => Seq[Int]] =
    Seq(identity, _.reverse, is => new Random(5).shuffle(is))

  test("BottomKSketch keeps the k smallest distinct hashes, sorted") {
    val k = 16
    val agg = new BottomKSketch[Long](k, identity)
    val rnd = new Random(3)
    val xs = Seq.fill(500)(rnd.nextLong() % 1000) ++ Seq(-7L, -7L)
    val got = agg.finish(xs.foldLeft(agg.zero)(agg.reduce)).toSeq
    assert(got == xs.distinct.sorted.take(k))
    val few = Seq(9L, 3L, 9L)
    assert(agg.finish(few.foldLeft(agg.zero)(agg.reduce)).toSeq == Seq(3L, 9L))
  }

  test("BottomKSketch: any split and merge order gives the one-pass sketch") {
    val k = 32
    val agg = new BottomKSketch[Long](k, identity)
    val rnd = new Random(7)
    val xs = Seq.fill(2000)(rnd.nextInt(5000).toLong)
    val onePass = agg.finish(xs.foldLeft(agg.zero)(agg.reduce)).toSeq
    for (parts <- Seq(2, 5, 13); order <- orders) {
      val b = splitFold(() => agg.zero, agg.reduce, agg.merge)(xs, parts, order)
      assert(agg.finish(b).toSeq == onePass, s"$parts parts")
    }
  }

  test("BottomKSketch estimators: exact below k; Jaccard of equal, disjoint and empty") {
    assert(BottomKSketch.estimateDistinct(Array(1L, 5L, 9L), 8) == 3.0)
    val a = Array(1L, 2L, 3L, 4L)
    assert(BottomKSketch.estimateJaccard(a, a, 4) == 1.0)
    assert(BottomKSketch.estimateJaccard(a, Array(10L, 11L), 4) == 0.0)
    assert(BottomKSketch.estimateJaccard(Array.empty, Array.empty, 4) == 0.0)
  }

  test("TopKAgg rejects a non-positive k") {
    intercept[IllegalArgumentException](TopKAgg.of(0))
    intercept[IllegalArgumentException](TopKAgg.of(-2))
  }

  test("TopKAgg with fewer than k inputs returns them all, best first") {
    val agg = TopKAgg.of(5)
    val xs = Seq((3L, "c"), (9L, "z"), (3L, "a"))
    assert(agg.finish(xs.foldLeft(agg.zero)(agg.reduce)) ==
      Seq((9L, "z"), (3L, "a"), (3L, "c")))
    assert(agg.finish(agg.zero).isEmpty)
  }

  test("TopKAgg: any split and merge order gives sort-then-take") {
    val k = 4
    val agg = TopKAgg.of(k)
    val rnd = new Random(11)
    // few scores and tags, so ties on score and on (score, tag) abound
    val xs = Seq.fill(400)((rnd.nextInt(6).toLong, s"t${rnd.nextInt(9)}"))
    val want = xs.sortBy { case (s, t) => (-s, t) }.take(k)
    for (parts <- Seq(1, 3, 17); order <- orders) {
      val b = splitFold(() => agg.zero, agg.reduce, agg.merge)(xs, parts, order)
      assert(agg.finish(b) == want, s"$parts parts")
    }
  }

  test("QuantileSketchAgg rejects quantiles outside (0, 1]") {
    intercept[IllegalArgumentException](QuantileSketchAgg.of())
    intercept[IllegalArgumentException](QuantileSketchAgg.of(0.0))
    intercept[IllegalArgumentException](QuantileSketchAgg.of(0.5, 1.5))
    assert(QuantileSketchAgg.of(1.0) != null)
  }

  test("DigestBuckets: negatives mirror; Long.MinValue shares Long.MaxValue's mirror") {
    val rnd = new Random(13)
    for (v <- Seq(1L, 42L, 99L, 100L, 12345L) ++ Seq.fill(200)(rnd.nextLong().abs))
      assert(DigestBuckets.indexOf(-v) == -DigestBuckets.indexOf(v), s"v = $v")
    assert(DigestBuckets.indexOf(Long.MinValue) == -DigestBuckets.indexOf(Long.MaxValue))
    assert(DigestBuckets.indexOf(0L) == 0)
  }

  test("DigestBuckets: a representative lies in its bucket, within 5% of every member") {
    val rnd = new Random(17)
    val vs = (100L until 1200L) ++ Seq.fill(2000)(100L + (rnd.nextLong().abs % 100000000000000000L))
    for (v <- vs) {
      val i = DigestBuckets.indexOf(v)
      val rep = DigestBuckets.representative(i)
      assert(DigestBuckets.indexOf(rep) == i, s"v = $v, rep = $rep")
      assert(math.abs(rep - v).toDouble <= 0.05 * v, s"v = $v, rep = $rep")
    }
  }

  test("QuantileSketchAgg: exact below 100 under any split; q = 1 is the max") {
    val agg = QuantileSketchAgg.of(0.001, 0.25, 0.5, 1.0)
    val xs = new Random(19).shuffle((1L to 99L) ++ (1L to 99L))
    // lower quantile of 198 values: rank ceil(q * 198)
    val want = Seq(1L, 25L, 50L, 99L)
    for (parts <- Seq(1, 4, 9); order <- orders) {
      val b = splitFold(() => agg.zero, agg.reduce, agg.merge)(xs, parts, order)
      assert(agg.finish(b) == want, s"$parts parts")
    }
  }
}
