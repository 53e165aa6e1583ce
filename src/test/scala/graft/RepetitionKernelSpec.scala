package graft

import java.nio.charset.StandardCharsets

import scala.util.Random

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.text.RepetitionKernel

/** The repetition kernel called directly, no Spark session: its
  * documented contract (empty and short documents, tie-breaks, the
  * dup-5-gram convention, character lengths, null rejection) and
  * equality with a plain-Scala model that builds every gram as a
  * string. GopherRepetitionSpec covers the same statistics through the
  * SQL expressions on real documents. */
class RepetitionKernelSpec extends AnyFunSuite {

  private def stats(text: String): Seq[Long] = {
    val r = RepetitionKernel.repetitionStats(UTF8String.fromString(text))
    (0 until 8).map(i => if (i == 6) r.getLong(i) else r.getInt(i).toLong)
  }

  private def multiset(elems: Seq[String]): InternalRow =
    RepetitionKernel.multisetStats(
      new GenericArrayData(elems.map(UTF8String.fromString).toArray[Any]))

  private def chars(s: String) = s.codePointCount(0, s.length)

  /** Binary (UTF-8 byte) order, the order the kernel sorts grams in. */
  private val byteOrder: Ordering[String] = Ordering.fromLessThan { (a, b) =>
    UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b)) < 0
  }

  /** (top count, top char length, duplicate chars) of a multiset: top
    * ties go to the smallest element in byte order. */
  private def runModel(grams: Seq[String]): (Int, Int, Long) =
    if (grams.isEmpty) (0, 0, 0L)
    else {
      val counts = grams.groupBy(identity).map { case (g, gs) => g -> gs.size }
      val top = counts.keys.toSeq.sorted(byteOrder).maxBy(counts) // first max wins
      val dup = counts.collect { case (g, c) if c >= 2 => c.toLong * chars(g) }.sum
      (counts(top), chars(top), dup)
    }

  private def model(text: String): Seq[Long] = {
    val toks = if (text.isEmpty) Seq.empty[String] else text.split(" ", -1).toSeq
    def grams(n: Int) =
      if (toks.length < n) Seq.empty[String]
      else toks.sliding(n).map(_.mkString(" ")).toSeq
    val tops = (2 to 4).flatMap { n =>
      val (c, l, _) = runModel(grams(n)); Seq(c.toLong, l.toLong)
    }
    tops ++ Seq(runModel(grams(5))._3, chars(text).toLong)
  }

  test("repetitionStats: empty text has no tokens and every statistic is zero") {
    assert(stats("") == Seq.fill(8)(0L))
  }

  test("repetitionStats: documents shorter than n contribute zeros for that n") {
    // "a b c": one 2-gram of each kind, one 3-gram, no 4- or 5-grams
    assert(stats("a b c") == Seq(1L, 3L, 1L, 5L, 0L, 0L, 0L, 5L))
    assert(stats("solo") == Seq(0L, 0L, 0L, 0L, 0L, 0L, 0L, 4L))
  }

  test("repetitionStats: top-gram ties go to the smallest gram, not the first seen") {
    // "zz y" and "aaa b" both occur twice; "aaa b" sorts first, so the
    // top length is its 5 characters, not the 4 of the earlier "zz y"
    val s = stats("zz y zz y q aaa b aaa b")
    assert(s(0) == 2L && s(1) == 5L, s"top2 = (${s(0)}, ${s(1)})")
  }

  test("repetitionStats: dup-5 chars count every occurrence of a repeated 5-gram") {
    // "a b c d e" occurs twice (9 chars each); the four straddling
    // 5-grams occur once and add nothing
    assert(stats("a b c d e a b c d e")(6) == 18L)
    assert(stats("a b c d e f g h i j")(6) == 0L)
  }

  test("repetitionStats: lengths count characters, not UTF-8 bytes") {
    val text = "é é é"
    assert(text.getBytes(StandardCharsets.UTF_8).length == 8)
    // 2-grams: "é é" twice, 3 characters; 5 characters in all
    val s = stats(text)
    assert(s(0) == 2L && s(1) == 3L && s(7) == 5L)
  }

  test("repetitionStats equals the string-building model on random texts") {
    val rnd = new Random(23)
    val vocab = Seq("a", "b", "ab", "ba", "é", "aé", "日本", "z", "zz", "😀")
    for (doc <- 0 until 300) {
      val text = Seq.fill(rnd.nextInt(14))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" ")
      assert(stats(text) == model(text), s"doc $doc: '$text'")
    }
  }

  test("multisetStats: an empty array has zero counts") {
    val r = multiset(Nil)
    assert((0 until 5).map(r.getInt) == Seq.fill(5)(0))
    assert(r.getLong(5) == 0L && r.getLong(6) == 0L)
  }

  test("multisetStats: a null element is rejected with its index") {
    val arr = new GenericArrayData(Array[Any](UTF8String.fromString("a"), null))
    val e = intercept[IllegalArgumentException](RepetitionKernel.multisetStats(arr))
    assert(e.getMessage.contains("index 1"), e.getMessage)
  }

  test("multisetStats equals the model on random multisets") {
    val rnd = new Random(29)
    val vocab = Seq("", "a", "b", "é", "ab", "日本", "😀", "zz")
    for (set <- 0 until 300) {
      val elems = Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size)))
      val r = multiset(elems)
      val (top, topLen, dupChars) = runModel(elems)
      val dupOcc = elems.groupBy(identity).values.map(_.size).filter(_ >= 2).sum
      val got = (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getLong(5), r.getLong(6))
      val want = (elems.size, elems.distinct.size, top, topLen, dupOcc,
        dupChars, elems.map(chars(_).toLong).sum)
      assert(got == want, s"set $set: $elems")
    }
  }
}
